"""Self-tests of the crawl benchmark: seeded inputs, output digests and the
event-log rollup.

    python -m pytest crawlbench/tests -q
"""

import os

import pytest
from pyspark.sql import functions as F

import check
import gen
import tracing

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _tables(spark, seed):
    return {
        "pages": gen.pages(spark, seed, 300, 20, 10),
        "frontier": gen.frontier(spark, seed, 2_000, 300, 20),
        "robots": gen.robots(spark, seed, 20),
        "images": gen.images(spark, seed, 6, 16, partitions=2)
        .select("image_id", F.md5("bytes").alias("b"), "phash",
                F.md5("ref_sample").alias("r")),
        "seen": gen.seen_keys(spark, seed, 500)
        .unionByName(gen.universe_sample(spark, seed, 300, 20, 30)),
    }


def _digests(spark, seed):
    return {name: check.key_digest(df, *df.columns)
            for name, df in _tables(spark, seed).items()}


@pytest.mark.spark
def test_same_seed_same_inputs_other_seed_other_inputs(spark):
    a, b, c = _digests(spark, 1), _digests(spark, 1), _digests(spark, 2)
    assert a == b
    for name in a:
        assert a[name] != c[name], name


@pytest.mark.spark
def test_generator_shapes(spark):
    pages = gen.pages(spark, 3, 2_000, 50, 10)
    mix = {r["status"]: r["count"] for r in
           pages.groupBy("status").count().collect()}
    assert 0.92 < mix[200] / 2_000 < 0.98
    assert set(mix) == {200, 404, 429, 500}
    assert pages.select(F.size("out_links").alias("n")).distinct() \
                .collect()[0]["n"] == 12
    fr = gen.frontier(spark, 3, 10_000, 2_000, 50)
    share = fr.filter(F.col("src_url").isNotNull()).count() / 10_000
    assert 0.25 < share < 0.35
    # u^3 skew: host 0 carries far more than a uniform 1/50 of the pages
    h0 = pages.filter(F.col("host") == "h0.example").count()
    assert h0 > 5 * 2_000 / 50


@pytest.mark.spark
def test_round_digest_stable_across_two_reads(spark, tmp_path):
    import workloads

    wl = workloads.Workload("tiny", pages=300, hosts=20, images=10,
                            image_px=16, frontier=2_000, rounds=1)
    cat, eng = workloads.setup(spark, wl, 5, str(tmp_path / "cat"))
    counters = eng.run_round(0)
    first = check.round_record(cat, 0, counters)
    again = check.round_record(cat, 0, counters)
    assert first == again
    assert check.problems(first) == []
    assert first["fetched_rows"] > 0


def test_rollup_of_recorded_log():
    """The recorded log (Spark 4.1, AQE off) holds one round "0:0": a sum
    over a pandas UDF under the round span (4 map tasks + 1 final task), a
    groupBy count under fetched_append (3 map tasks + 2 reduce tasks), and
    one untagged job outside any round."""
    events = tracing.read_event_log(DATA)
    out = tracing.rollup(events, ["0:0"])
    assert out["crawl.jobs_per_round"] == 2
    assert out["crawl.stages_per_round"] == 4
    assert out["crawl.tasks_per_round"] == 10
    assert out["round.tasks"] == 10
    assert out["fetched_append.tasks"] == 5
    assert out["round_other.tasks"] == 5
    assert out["seen_record.tasks"] == 0
    assert out["fetched_append.shuffle_write_mb"] > 0
    assert out["fetched_append.shuffle_read_mb"] == pytest.approx(
        out["fetched_append.shuffle_write_mb"])
    assert out["fetched_append.python_s"] == 0
    for f in ("cpu_s", "task_s", "shuffle_write_mb", "python_s"):
        assert out[f"round.{f}"] == pytest.approx(
            out[f"fetched_append.{f}"] + out[f"round_other.{f}"])
    assert out["round_other.python_s"] > 0   # the job ran a pandas UDF
    assert out["round.task_skew"] >= 1.0
    # two rounds asked for, one present: per-round means halve
    half = tracing.rollup(events, ["0:0", "9:9"])
    assert half["round.tasks"] == 5


def test_skew_is_time_weighted_max_over_median():
    assert tracing._skew({1: [1.0, 1.0, 4.0]}) == pytest.approx(4.0)
    assert tracing._skew({1: [2.0, 2.0], 2: [1.0, 1.0, 10.0]}) == \
        pytest.approx((4 * 1 + 12 * 10) / 16)
    assert tracing._skew({}) == 1.0
