"""Aspect-ratio bucket batching (operators/batching.py)."""

from fractions import Fraction

from pyspark.sql import functions as F

from fetcho_spark.operators.batching import (SDXL_BUCKETS,
                                             aspect_bucket_assign,
                                             aspect_bucket_batches)


def _images(spark, n=400):
    d = F.col("id")
    return spark.range(n).select(
        d.alias("image_id"),
        (64 + F.pmod(F.conv(F.substring(F.md5(F.concat(
            d.cast("string"), F.lit(":w"))), 1, 15), 16, 10)
            .cast("long"), F.lit(1920))).alias("w"),
        (64 + F.pmod(F.conv(F.substring(F.md5(F.concat(
            d.cast("string"), F.lit(":h"))), 1, 15), 16, 10)
            .cast("long"), F.lit(1080))).alias("h"))


def test_assignment_matches_exact_rational_argmin(spark):
    rows = aspect_bucket_assign(_images(spark)).collect()
    assert len(rows) == 400
    for r in rows:
        want = min(
            range(len(SDXL_BUCKETS)),
            key=lambda i: (abs(Fraction(r["w"], r["h"])
                               - Fraction(*SDXL_BUCKETS[i])), i))
        assert r["bucket_id"] == want + 1, (r["w"], r["h"], r["bucket_id"])
        assert (r["bucket_w"], r["bucket_h"]) == SDXL_BUCKETS[want]


def test_tie_breaks_to_lowest_bucket_index(spark):
    # square buckets at indexes 1 and 2: an exactly-square image ties
    df = spark.createDataFrame([(1, 500, 500)], "image_id long, w int, h int")
    got = aspect_bucket_assign(df, buckets=[(1024, 1024), (512, 512),
                                            (1536, 640)]).collect()[0]
    assert got["bucket_id"] == 1 and got["bucket_w"] == 1024


def test_batches_are_contiguous_and_full_flagged(spark):
    out = aspect_bucket_batches(_images(spark), batch_size=8,
                                seed=7).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket_id"], []).append(r)
    assert len(out) == 400
    for bid, rows in by_bucket.items():
        rows.sort(key=lambda r: (r["batch_idx"], r["slot"]))
        n_full = len(rows) // 8
        for k, r in enumerate(rows):
            assert (r["batch_idx"], r["slot"]) == (k // 8, k % 8)
            assert r["full"] == (k // 8 < n_full)


def test_drop_partial_keeps_only_full_batches(spark):
    kept = aspect_bucket_batches(_images(spark), batch_size=8, seed=7,
                                 drop_partial=True)
    sizes = (kept.groupBy("bucket_id", "batch_idx").count().collect())
    assert sizes and all(r["count"] == 8 for r in sizes)
    assert all(r["full"] for r in kept.select("full").collect())


def test_partition_invariance(spark):
    base = _images(spark)
    a = aspect_bucket_batches(base.repartition(1), batch_size=8,
                              seed=7).collect()
    b = aspect_bucket_batches(base.repartition(13), batch_size=8,
                              seed=7).collect()
    key = lambda r: (r["bucket_id"], r["batch_idx"], r["slot"])  # noqa
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # layout itself identical, not just the set of rows
    assert {key(r): r["image_id"] for r in a} \
        == {key(r): r["image_id"] for r in b}


def test_null_dimension_rows_are_dropped(spark):
    """A row with no size has no target resolution, so the operator drops
    it; the other rows keep exactly the layout they get without it. (The
    SQL twin's w/h come from md5 and are never NULL.)"""
    base = _images(spark)
    nulls = spark.createDataFrame(
        [(1000, None, 700), (1001, 900, None), (1002, None, None)],
        "image_id long, w long, h long")
    layout = lambda df: {  # noqa: E731
        r["image_id"]: (r["bucket_id"], r["batch_idx"], r["slot"], r["full"])
        for r in aspect_bucket_batches(df, batch_size=8, seed=7).collect()}
    got = layout(base.unionByName(nulls))
    assert not {1000, 1001, 1002} & got.keys()
    assert got == layout(base)


def test_assignment_stays_jvm_side(spark):
    plan = aspect_bucket_assign(_images(spark)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
