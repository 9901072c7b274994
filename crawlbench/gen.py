"""Seeded input generator for the crawl benchmark.

The benchmark owns its inputs: the shapes follow the historic bench universe
(u^3 host skew, 12 links per page, a 95/2/2/1 status mix, ~30% referrers,
10% robots-disallow hosts) but every hash salt is derived from the workload
seed, and nothing here imports the program's own generators, so edits to the
program's fixtures never change what the benchmark measures. The program
receives only the DataFrames built here.

Everything is a JVM expression over ``spark.range`` except the image corpus,
whose payloads are encoded on the executors (``mapInPandas``) with the
program's codec, since the stored phash must be the one its verify step
recomputes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

PAGE_URL = "http://h%d.example/p%d"

IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    T.StructField("ref_sample", T.BinaryType()),
])


def _h(seed: int, salt: str, *cols) -> Column:
    """xxhash64 of ``cols`` chained after a seed-derived salt literal."""
    return F.xxhash64(*cols, F.lit(f"{seed}:{salt}"))


def _unit(seed: int, salt: str, col) -> Column:
    return F.pmod(_h(seed, salt, col), F.lit(1_000_000)) / 1e6


def host_id(seed: int, page_id, n_hosts: int) -> Column:
    """Skewed host assignment: u^3 puts a few mega-hosts at the low ids."""
    u = _unit(seed, "host", page_id)
    return F.floor(u * u * u * n_hosts).cast("long")


def page_url(seed: int, page_id, n_hosts: int) -> Column:
    return F.format_string(PAGE_URL, host_id(seed, page_id, n_hosts), page_id)


def pages(spark: SparkSession, seed: int, n_pages: int, n_hosts: int,
          n_images: int, links_per_page: int = 12) -> DataFrame:
    """The web universe: one row per page with its out-links and image."""
    pid = F.col("pid")
    st = F.pmod(_h(seed, "status", pid), F.lit(100))
    status = (F.when(st < 95, 200).when(st < 97, 404)
              .when(st < 99, 429).otherwise(500))

    def link(i):
        tgt = F.pmod(_h(seed, "link", pid, i), F.lit(n_pages))
        return page_url(seed, tgt, n_hosts)

    return (spark.range(n_pages).withColumnRenamed("id", "pid").select(
        page_url(seed, pid, n_hosts).alias("url"),
        F.format_string("h%d.example", host_id(seed, pid, n_hosts))
        .alias("host"),
        F.format_string("img%08d", F.pmod(_h(seed, "image", pid),
                                          F.lit(n_images))).alias("image_id"),
        F.transform(F.sequence(F.lit(1), F.lit(links_per_page)), link)
        .alias("out_links"),
        status.alias("status"),
        F.lit("text/html").alias("content_type")))


def frontier(spark: SparkSession, seed: int, n_rows: int, n_pages: int,
             n_hosts: int) -> DataFrame:
    """``n_rows`` URL mentions drawn with replacement from the universe
    (heavy duplication into the dedup stage); ~30% carry a referrer."""
    fid = F.col("fid")
    tgt = F.pmod(_h(seed, "ftgt", fid), F.lit(n_pages))
    src = F.pmod(_h(seed, "fsrc", fid), F.lit(n_pages))
    has_src = F.pmod(_h(seed, "fhas", fid), F.lit(10)) < 3
    return (spark.range(n_rows).withColumnRenamed("id", "fid").select(
        page_url(seed, tgt, n_hosts).alias("url"),
        F.when(has_src, page_url(seed, src, n_hosts)).alias("src_url"),
        F.lit(0).alias("round_added")))


def hosts(spark: SparkSession, n_hosts: int,
          crawl_delay_ms: int = 3_000) -> DataFrame:
    return spark.range(n_hosts).select(
        F.format_string("h%d.example", F.col("id")).alias("host"),
        F.lit(crawl_delay_ms).cast("int").alias("crawl_delay_ms"),
        F.lit(0).cast("int").alias("network_issues"))


def robots(spark: SparkSession, seed: int, n_hosts: int) -> DataFrame:
    """~10% of hosts disallow one path prefix."""
    hid = F.col("id")
    return (spark.range(n_hosts)
            .filter(F.pmod(_h(seed, "robots", hid), F.lit(10)) == 0)
            .select(F.format_string("h%d.example", hid).alias("host"),
                    F.lit("*").alias("user_agent"),
                    F.lit("disallow").alias("directive"),
                    F.format_string("/p%d", F.pmod(_h(seed, "rpat", hid),
                                                   F.lit(50)))
                    .alias("pattern")))


def images(spark: SparkSession, seed: int, n_images: int, size: int,
           partitions: int = 8) -> DataFrame:
    """``n_images`` distinct ``size``-px payloads (PNG for i%3==0, else JPEG)
    encoded on the executors. Pixels are a per-image gradient plus noise, so
    payloads compress like photos rather than like pure noise."""
    import pandas as pd

    names = [f.name for f in IMAGES_SCHEMA.fields]

    def gen(batches):
        import numpy as np

        from fetcho_spark.functions import codec

        yy, xx = np.mgrid[0:size, 0:size]
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                rng = np.random.default_rng([seed, i])
                a = rng.integers(0, 4, size=3)
                base = (a[0] * yy + a[1] * xx + rng.integers(0, 256)) % 256
                px = (base[..., None]
                      + rng.integers(0, 24, size=(size, size, 3))
                      + a * 40).astype(np.uint8)
                fmt = "png" if i % 3 == 0 else "jpeg"
                data = codec.encode(px, fmt)
                dec, _ = codec.decode(data)
                rows.append((f"img{i:08d}", bytearray(data), size, size, fmt,
                             f"sample {i} of seed {seed}",
                             codec.phash64(dec),
                             bytearray(codec.ref_sample_bytes(px))))
            yield pd.DataFrame(rows, columns=names)

    return (spark.range(0, n_images, 1, partitions)
            .mapInPandas(gen, IMAGES_SCHEMA))


def seen_keys(spark: SparkSession, seed: int, n_keys: int) -> DataFrame:
    """``n_keys`` hashes of URLs outside the universe (``.invalid`` hosts),
    shaped like the rows ``SeenSet.record`` takes."""
    url = F.format_string("http://x%d.invalid/k%d",
                          F.pmod(_h(seed, "xhost", "id"), F.lit(50_000)),
                          F.col("id"))
    return _hash_cols(spark.range(n_keys).select(url.alias("url")))


def universe_sample(spark: SparkSession, seed: int, n_pages: int,
                    n_hosts: int, share_pct: int) -> DataFrame:
    """Seen-set rows for ~``share_pct``% of the universe's pages."""
    pid = F.col("id")
    return _hash_cols(
        spark.range(n_pages)
        .filter(F.pmod(_h(seed, "seen", pid), F.lit(100)) < share_pct)
        .select(page_url(seed, pid, n_hosts).alias("url")))


def _hash_cols(urls: DataFrame) -> DataFrame:
    return urls.select(F.unhex(F.md5("url")).alias("url_hash"),
                       F.xxhash64("url").alias("url_hash64"))
