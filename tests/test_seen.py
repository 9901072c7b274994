"""Partitioned-bloom seen set: exactness + TTL + bloom routing, the filter
blob bytes, and the probe's plan shape."""

import datetime as dt
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from fetcho_spark.operators.seen import (
    FILTER_SCHEMA, N_HASHES, SeenSet, _positions, _set_bits, _test_bits)
from test_link_stage import _executed

NOW = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
LATER = NOW + dt.timedelta(days=1)
TTL = NOW + dt.timedelta(days=28)


def test_bloom_no_false_negatives():
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    n_bits = 1 << 16
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    _set_bits(bits, _positions(keys, 7, n_bits))
    assert _test_bits(bits, _positions(keys, 7, n_bits)).all()


def test_bloom_fpp_reasonable():
    rng = np.random.default_rng(1)
    n_bits = 1 << 17  # 10 bits/key for 10k keys, k=7 → FPP ≈ 1%
    keys = rng.integers(-(2**62), 2**62, size=10_000, dtype=np.int64)
    other = rng.integers(-(2**62), 2**62, size=10_000, dtype=np.int64)
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    _set_bits(bits, _positions(keys, 7, n_bits))
    fp = _test_bits(bits, _positions(np.setdiff1d(other, keys), 7, n_bits)).mean()
    assert fp < 0.05


def _frontier(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    return df.withColumn("url_hash64", F.xxhash64("url")) \
             .withColumn("url_hash", F.unhex(F.md5("url")))


@pytest.mark.spark
def test_seen_roundtrip_and_ttl(spark, tmp_catalog):
    ss = SeenSet(tmp_catalog, n_buckets=8, bits_per_bucket=1 << 14)
    urls = [f"http://h{i}.example/p" for i in range(100)]
    # empty seen: everything passes
    f = _frontier(spark, urls)
    assert ss.filter_unseen(f, NOW).count() == 100
    # record the first 40 with a 28d TTL
    ss.record(_frontier(spark, urls[:40]), TTL)
    survived = {r["url"] for r in ss.filter_unseen(f, LATER).collect()}
    assert survived == set(urls[40:])
    # buckets whose blob meets no frontier key probe nothing
    assert ss.filter_unseen(_frontier(spark, urls[:1]), LATER).count() == 0
    # after TTL expiry everything is re-fetchable
    assert ss.filter_unseen(f, TTL + dt.timedelta(seconds=1)).count() == 100


@pytest.mark.spark
def test_seen_incremental_updates(spark, tmp_catalog):
    ss = SeenSet(tmp_catalog, n_buckets=4, bits_per_bucket=1 << 14)
    a = [f"http://a.example/{i}" for i in range(30)]
    b = [f"http://b.example/{i}" for i in range(30)]
    ss.record(_frontier(spark, a), TTL)
    ss.record(_frontier(spark, b), TTL)   # second round ORs into the blobs
    f = _frontier(spark, a + b + ["http://c.example/x"])
    out = {r["url"] for r in ss.filter_unseen(f, LATER).collect()}
    assert out == {"http://c.example/x"}


@pytest.mark.spark
def test_filter_blob_is_the_bloom_of_the_recorded_keys(spark, tmp_catalog):
    """Two records fold into per-bucket blobs equal to a bloom built directly
    from each bucket's keys (the filter update reads the committed seen
    increment, so the blob bytes must not depend on how it gets its keys)."""
    n_buckets, n_bits = 4, 1 << 14
    ss = SeenSet(tmp_catalog, n_buckets=n_buckets, bits_per_bucket=n_bits)
    a = [f"http://a.example/{i}" for i in range(30)]
    b = [f"http://b.example/{i}" for i in range(30)] + a[:5]  # 5 repeats
    ss.record(_frontier(spark, a), TTL)
    ss.record(_frontier(spark, b), TTL)
    keys = np.array([r["url_hash64"] for r in
                     _frontier(spark, a + b).collect()], dtype=np.int64)
    blobs = {r["bucket"]: r for r in tmp_catalog.read("seen_filter").collect()}
    assert set(blobs) == set(int(b) for b in np.unique(keys % n_buckets))
    for bucket, row in blobs.items():
        mine = keys[keys % n_buckets == bucket]
        bits = np.zeros(n_bits // 8, dtype=np.uint8)
        _set_bits(bits, _positions(mine, N_HASHES, n_bits))
        assert row["bits"] == bits.tobytes()
        assert row["n_bits"] == n_bits
        assert row["n_items"] == len(mine)   # one per recorded (round, key)


def _seen_scan_ancestors(plan: str) -> list[str]:
    """Plan-tree lines between the ``seen`` FileScan (the only scan reading
    ``next_fetch``) and the join that consumes it, scan excluded."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    i = next(i for i, ln in enumerate(lines)
             if "FileScan" in ln and "next_fetch" in ln)
    out, d = [], depth(lines[i])
    for ln in reversed(lines[:i]):
        if depth(ln) < d:
            if "Join" in ln:
                return out
            out.append(ln)
            d = depth(ln)
    raise AssertionError("seen scan has no join above it:\n" + plan)


_PYTHON_NODE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|\w+InPandas|\w+InArrow)\b")


def _python_nodes(plan: str) -> list[str]:
    return [ln for ln in plan.splitlines() if _PYTHON_NODE.search(ln)]


@pytest.mark.spark
def test_probe_never_runs_over_the_seen_table(spark, tmp_catalog):
    """One Python node per probe: the frontier's keys cogroup with the
    blobs once, carrying only ``url_hash64``/``bucket`` across (plus the
    filter side's blob columns), and nothing Python sits above the seen
    scan -- constraint inference must not copy the probe onto it."""
    ss = SeenSet(tmp_catalog, n_buckets=4, bits_per_bucket=1 << 14)
    urls = [f"http://h{i}.example/p" for i in range(60)]
    ss.record(_frontier(spark, urls[:30]), TTL)
    out = ss.filter_unseen(_frontier(spark, urls), LATER)
    plan = _executed(out)
    above_scan = _seen_scan_ancestors(plan)
    assert not any(_PYTHON_NODE.search(ln) or "pythonUDF" in ln
                   for ln in above_scan), plan
    nodes = _python_nodes(plan)
    assert len(nodes) == 1, plan
    args = re.search(r"probe\(([^)]*)\)", nodes[0])
    assert args, plan
    assert set(re.findall(r"(\w+)#\d+", args.group(1))) == (
        {"url_hash64", "bucket"} | set(FILTER_SCHEMA.names)), plan
    assert {r["url"] for r in out.collect()} == set(urls[30:])


@pytest.mark.spark
def test_probe_without_filter_blobs_is_exact(spark, tmp_catalog):
    """With ``seen_filter`` gone after a record, every key goes to the exact
    join: no Python node, the same survivors, and the TTL still applies."""
    ss = SeenSet(tmp_catalog, n_buckets=4, bits_per_bucket=1 << 14)
    urls = [f"http://h{i}.example/p" for i in range(60)]
    ss.record(_frontier(spark, urls[:30]), TTL)
    tmp_catalog.drop(SeenSet.filter_table)
    assert not tmp_catalog.exists(SeenSet.filter_table)
    f = _frontier(spark, urls)
    out = ss.filter_unseen(f, LATER)
    assert _python_nodes(_executed(out)) == []
    assert sorted(r["url"] for r in out.collect()) == sorted(urls[30:])
    assert ss.filter_unseen(f, TTL + dt.timedelta(seconds=1)).count() == 60
