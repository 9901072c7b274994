"""Spark-native bench universe generator — builds the synthetic web at any
scale with JVM expressions only (no driver-side loops), so a 10^7-page bench
universe materializes in seconds and the same code would generate 10^10 on a
real cluster. Skew: host ids come from a cubed-uniform transform, giving a
Zipf-like tail with a few mega-hosts (the salting stress case).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fixtures import IMAGES_SCHEMA, gen_images


def _host_id(page_id, n_hosts: int):
    """Skewed host assignment: u³ biases mass toward host 0."""
    u = F.pmod(F.xxhash64(page_id, F.lit("host")), F.lit(1_000_000)) / 1e6
    return F.floor(u * u * u * n_hosts).cast("long")


def pages_df(spark: SparkSession, n_pages: int, n_hosts: int, n_images: int,
             links_per_page: int = 12) -> DataFrame:
    base = spark.range(n_pages).withColumnRenamed("id", "pid")
    hid = _host_id(F.col("pid"), n_hosts)
    url = F.format_string("http://h%d.example/p%d", hid, F.col("pid"))
    status = (F.when(F.pmod(F.xxhash64("pid", F.lit("st")), F.lit(100)) < 95,
                     200)
              .when(F.pmod(F.xxhash64("pid", F.lit("st")), F.lit(100)) < 97, 404)
              .when(F.pmod(F.xxhash64("pid", F.lit("st")), F.lit(100)) < 99, 429)
              .otherwise(500))
    tgt = lambda i: F.pmod(F.xxhash64("pid", F.lit("lk"), i), F.lit(n_pages))
    link = lambda i: F.format_string(
        "http://h%d.example/p%d", _host_id(tgt(i), n_hosts), tgt(i))
    out_links = F.transform(F.sequence(F.lit(1), F.lit(links_per_page)),
                            lambda i: link(i))
    return base.select(
        url.alias("url"),
        F.format_string("h%d.example", hid).alias("host"),
        F.format_string("img%08d",
                        F.pmod(F.xxhash64("pid", F.lit("im")),
                               F.lit(n_images))).alias("image_id"),
        out_links.alias("out_links"),
        status.alias("status"),
        F.lit("text/html").alias("content_type"),
    )


def images_df(spark: SparkSession, n_images: int, seed: int = 42) -> DataFrame:
    return spark.createDataFrame(gen_images(n_images, seed), IMAGES_SCHEMA) \
                .repartition(32)


def images_df_spark(spark: SparkSession, n_images: int, size: int = 128,
                    seed: int = 42) -> DataFrame:
    """Executor-parallel corpus generation (driver-side gen_images caps out
    around 10^4 images; this shape generates 10^6+ and is how a 100 TB
    synthetic corpus would be materialized)."""
    import pandas as pd

    from .fixtures import _BGS, _COLORS, _SHAPES

    def gen(batches):
        import numpy as np

        from .functions.codec import decode as _dec
        from .functions.codec import encode as _enc
        from .functions.codec import phash64 as _ph
        from .functions.codec import ref_sample_bytes as _rs
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng(seed + i)
                px = rng.integers(0, 256, size=(size, size, 3), dtype=np.uint8)
                fmt = "png" if i % 3 == 0 else "jpeg"
                data = _enc(px, fmt)
                dec, _ = _dec(data)
                cap = (f"a {_COLORS[i % len(_COLORS)]} "
                       f"{_SHAPES[i % len(_SHAPES)]} on "
                       f"{_BGS[i % len(_BGS)]}, sample {i}")
                rows.append((f"img{i:08d}", bytearray(data), size, size,
                             fmt, cap, _ph(dec), bytearray(_rs(px))))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              IMAGES_SCHEMA.fields])

    return spark.range(n_images).repartition(64).mapInPandas(
        gen, IMAGES_SCHEMA)


def hosts_df(spark: SparkSession, n_hosts: int,
             crawl_delay_ms: int = 3_000) -> DataFrame:
    return (spark.range(n_hosts)
            .select(F.format_string("h%d.example", F.col("id")).alias("host"),
                    F.lit(crawl_delay_ms).alias("crawl_delay_ms").cast("int"),
                    F.lit(0).cast("int").alias("network_issues")))


def robots_df(spark: SparkSession, n_hosts: int) -> DataFrame:
    """~10% of hosts disallow one path prefix."""
    return (spark.range(n_hosts)
            .filter(F.pmod(F.xxhash64("id", F.lit("rb")), F.lit(10)) == 0)
            .select(F.format_string("h%d.example", F.col("id")).alias("host"),
                    F.lit("*").alias("user_agent"),
                    F.lit("disallow").alias("directive"),
                    F.format_string("/p%d", F.pmod(F.col("id"), F.lit(50)))
                    .alias("pattern")))


def frontier_df(spark: SparkSession, n_rows: int, n_pages: int,
                n_hosts: int) -> DataFrame:
    """A big synthetic frontier (the 10^10-scale stand-in): n_rows URL
    mentions sampled with replacement from the page universe — heavy
    duplication, exactly the shape a real crawl frontier has after link
    extraction. ~30% of rows carry a referrer (some same-host, exercising
    the referrer-priority path)."""
    base = spark.range(n_rows).withColumnRenamed("id", "fid")
    tgt = F.pmod(F.xxhash64("fid", F.lit("ft")), F.lit(n_pages))
    src = F.pmod(F.xxhash64("fid", F.lit("fs")), F.lit(n_pages))
    has_src = F.pmod(F.xxhash64("fid", F.lit("fh")), F.lit(10)) < 3
    url = F.format_string("http://h%d.example/p%d", _host_id(tgt, n_hosts), tgt)
    src_url = F.when(has_src, F.format_string(
        "http://h%d.example/p%d", _host_id(src, n_hosts), src))
    return base.select(
        url.alias("url"),
        F.format_string("h%d.example", _host_id(tgt, n_hosts)).alias("host"),
        src_url.alias("src_url"),
        F.when(has_src, F.format_string(
            "h%d.example", _host_id(src, n_hosts))).alias("src_host"),
        F.lit(0).alias("round_added"))
