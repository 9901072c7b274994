"""Cuckoo-filter seen-set backend: core invariants, deletion semantics,
SeenSet routing equality with the bloom, TTL expiry maintenance, and the
crawl golden (backend is a router — crawl output must be byte-identical).
"""

import datetime as dt
import shutil
import tempfile

import numpy as np
import pytest
from pyspark.sql import functions as F

from fetcho_spark.operators.cuckoo import (
    SLOTS, BloomCore, CuckooCore, get_core)
from fetcho_spark.operators.seen import SeenSet

NOW = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
LATER = NOW + dt.timedelta(days=1)
TTL = NOW + dt.timedelta(days=28)

SIZE = 1 << 20  # default SeenSet sizing knob → 16384 entries / 65536 slots


def _keys(n, seed=7):
    rng = np.random.default_rng(seed)
    return np.unique(rng.integers(-(2**62), 2**62, size=n, dtype=np.int64))


def test_sizing_power_of_two():
    assert CuckooCore.n_entries(SIZE) == 16384
    assert CuckooCore.n_entries(16 * SLOTS * 16) == 16
    core = CuckooCore()
    buf = core.empty(SIZE)
    assert len(buf) == 1 + 16384 * SLOTS * 2


def test_no_false_negatives_at_high_load():
    core = CuckooCore()
    buf = core.empty(SIZE)
    keys = _keys(55_000)  # load ≈ 0.84 of 65536 slots
    core.insert(buf, SIZE, keys)
    assert not core.is_saturated(buf)
    assert core.contains(buf, SIZE, keys).all()


def test_false_positive_rate_bounded():
    core = CuckooCore()
    buf = core.empty(SIZE)
    keys = _keys(50_000, seed=1)
    core.insert(buf, SIZE, keys)
    probe = np.setdiff1d(_keys(50_000, seed=2), keys)
    fpp = core.contains(buf, SIZE, probe).mean()
    # 16-bit fp, 4-way buckets: expected ≈ 2*SLOTS*load/2^16 ≈ 1e-4
    assert fpp < 0.005


def test_delete_empties_the_filter():
    core = CuckooCore()
    buf = core.empty(SIZE)
    keys = _keys(20_000, seed=3)
    core.insert(buf, SIZE, keys)
    removed = core.delete(buf, SIZE, keys)
    # insert dedups fp+bucket collisions, so removed == distinct copies
    assert removed <= len(keys)
    assert not core.contains(buf, SIZE, keys).any()
    assert not buf[1:].any()  # table is literally all-zero again


def test_expire_pattern_restores_no_false_negative():
    """delete(B) may collide away an A fingerprint; the survivor re-probe +
    re-insert (what SeenSet.expire does) must restore contains(A) == all."""
    core = CuckooCore()
    size = 64 * SLOTS * 16  # small: fp+bucket collisions likely
    buf = core.empty(size)
    ab = _keys(150, seed=4)
    a, b = ab[:75], ab[75:]
    core.insert(buf, size, ab)
    assert not core.is_saturated(buf)
    core.delete(buf, size, b)
    missing = a[~core.contains(buf, size, a)]
    core.insert(buf, size, missing)
    assert core.contains(buf, size, a).all()


def test_saturation_degrades_to_maybe():
    core = CuckooCore()
    size = 64 * SLOTS * 16  # 64 entries / 256 slots
    buf = core.empty(size)
    keys = _keys(2_000, seed=5)
    core.insert(buf, size, keys)
    assert core.is_saturated(buf)
    # saturated filter answers "maybe" for everything — router stays safe
    assert core.contains(buf, size, _keys(100, seed=6)).all()
    assert core.delete(buf, size, keys[:10]) == 0  # no-op, documented


def test_insert_is_deterministic():
    core = CuckooCore()
    keys = _keys(30_000, seed=8)
    b1 = core.insert(core.empty(SIZE), SIZE, keys)
    b2 = core.insert(core.empty(SIZE), SIZE, keys)
    assert np.array_equal(b1, b2)


def test_get_core():
    assert isinstance(get_core("bloom"), BloomCore)
    assert isinstance(get_core("cuckoo"), CuckooCore)
    with pytest.raises(ValueError):
        get_core("xor")


def _frontier(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    return df.withColumn("url_hash64", F.xxhash64("url")) \
             .withColumn("url_hash", F.unhex(F.md5("url")))


@pytest.mark.spark
def test_seenset_cuckoo_roundtrip_and_ttl(spark, tmp_catalog):
    ss = SeenSet(tmp_catalog, n_buckets=8, bits_per_bucket=1 << 14,
                 core=CuckooCore())
    urls = [f"http://h{i}.example/p" for i in range(100)]
    f = _frontier(spark, urls)
    assert ss.filter_unseen(f, NOW).count() == 100
    ss.record(_frontier(spark, urls[:40]), TTL)
    survived = {r["url"] for r in ss.filter_unseen(f, LATER).collect()}
    assert survived == set(urls[40:])
    assert ss.filter_unseen(f, TTL + dt.timedelta(seconds=1)).count() == 100


@pytest.mark.spark
@pytest.mark.parametrize("backend", ["bloom", "cuckoo"])
def test_seenset_expire_sheds_expired_keys(spark, tmp_catalog, backend):
    ss = SeenSet(tmp_catalog, n_buckets=4, bits_per_bucket=1 << 14,
                 core=get_core(backend))
    old = [f"http://old.example/{i}" for i in range(30)]
    new = [f"http://new.example/{i}" for i in range(20)]
    ss.record(_frontier(spark, old), NOW)             # expires at NOW
    ss.record(_frontier(spark, new), TTL)             # expires much later
    ss.expire(LATER)                                  # NOW < LATER < TTL
    # exact table: only the unexpired rows survive
    assert tmp_catalog.read("seen").count() == 20
    # blob bookkeeping follows
    n_items = (tmp_catalog.read("seen_filter")
               .agg(F.sum("n_items")).collect()[0][0])
    assert n_items == 20
    # routing: expired URLs fetchable again, unexpired still blocked
    out = {r["url"] for r in
           ss.filter_unseen(_frontier(spark, old + new), LATER).collect()}
    assert out == set(old)


@pytest.mark.spark
@pytest.mark.slow
def test_cuckoo_crawl_is_byte_identical(spark):
    """seen_backend only changes the blob format of the seen-filter router —
    crawl order and final seen set must match the bloom run exactly."""
    from fetcho_spark import fixtures as fx
    from fetcho_spark.catalog import Catalog
    from fetcho_spark.crawl import CrawlConfig, CrawlEngine
    n_pages, n_hosts, n_images, n_seeds, n_rounds = 50, 10, 15, 6, 3
    logs = {}
    for backend in ("bloom", "cuckoo"):
        cfg = CrawlConfig(max_chunk=50, n_seen_buckets=8,
                          bits_per_bucket=1 << 14, seen_backend=backend)
        d = tempfile.mkdtemp(prefix=f"golden-{backend}-")
        try:
            wg = fx.gen_webgraph(n_pages, n_hosts, n_images)
            cat = Catalog(spark, d)
            eng = CrawlEngine(spark, cat, cfg)
            eng.init(fx.gen_seeds(wg, n_seeds),
                     fx.webgraph_df(spark, n_pages, n_hosts, n_images),
                     fx.images_df(spark, n_images),
                     fx.robots_df(spark, n_hosts),
                     fx.hosts_df(spark, n_hosts))
            eng.run(n_rounds)
            logs[backend] = [
                tuple(r[c] for c in
                      ("round", "fetch_seq", "url", "status", "priority"))
                for r in cat.read("fetched")
                            .orderBy("round", "fetch_seq").collect()]
        finally:
            shutil.rmtree(d, ignore_errors=True)
    assert len(logs["bloom"]) > 0
    assert logs["cuckoo"] == logs["bloom"]
