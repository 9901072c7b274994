"""Partitioned-bloom URL-seen set (SURVEY.md §2.1 S4, §2.2 P8, §2.4 J1).

The reference keeps the seen set in Postgres ``WebResource(urihash,
next_fetch)`` probed in bulk (common/Database.cs:270-310) behind an in-memory
FIFO cache (common/FastLookupCache.cs). At 10^10-URL scale the rebuild keeps
state in tables, not executors (resumability):

- ``seen``        — exact set: ``(url_hash64 long, next_fetch
                    timestamp)``, bucketed by ``pmod(url_hash64,
                    n_buckets)`` (Iceberg ``bucket()`` transform in prod).
- ``seen_filter`` — one bloom filter **per bucket** as a binary blob row:
                    ``(bucket, bits, n_items, n_bits)``; rebuilt
                    *incrementally* (the round's new keys folded into the
                    blob) each round and snapshot-versioned with everything
                    else.

Probe = bloom pre-filter → exact join for the "maybe seen" keys only. The
bloom is ONLY a router: false positives just pay the exact join; the final
seen-set semantics stay exact (SURVEY.md §7.4). The frontier's keys (and
nothing else) cogroup with the blobs on the bucket key, once per round; each
Python call holds one bucket's keys and blob, so a blob can be arbitrarily
large. The maybe-keys semi-join the unexpired ``seen`` rows, and the
frontier anti-joins that result.

TTL: a hash is "recently visited" while ``next_fetch > logical_now``
(28-day TTL, fetcho/Fetcho.cs:278); expired rows are re-fetchable but stay in
the bloom (supersets are safe — the exact join re-checks the TTL).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import Catalog
from ..functions.hashing import splitmix64

N_HASHES = 7  # bloom probes per key

FILTER_SCHEMA = T.StructType([
    T.StructField("bucket", T.LongType()),
    T.StructField("bits", T.BinaryType()),
    T.StructField("n_items", T.LongType()),
    T.StructField("n_bits", T.LongType()),
])


def bucket_col(n_buckets: int) -> Column:
    """The url-hash bucket of a row: its seen-filter blob and its lineage
    metrics bucket."""
    return F.pmod(F.col("url_hash64"), F.lit(n_buckets))


def _positions(keys: np.ndarray, k: int, n_bits: int) -> np.ndarray:
    """(k, n) probe positions from signed-int64 keys — double hashing via two
    splitmix64 mixes; identical numpy code builds and probes, so membership of
    an inserted key is exact by construction."""
    u = keys.astype(np.int64).view(np.uint64)
    h1 = splitmix64(u)
    h2 = splitmix64(h1) | np.uint64(1)  # odd → full-period stride
    i = np.arange(k, dtype=np.uint64).reshape(-1, 1)
    with np.errstate(over="ignore"):
        return ((h1 + i * h2) % np.uint64(n_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """AND over the k rows of ``pos`` → per-key maybe-membership."""
    probed = (bits[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return probed.all(axis=0)


class SeenSet:
    """Seen-set lifecycle over a :class:`~fetcho_spark.catalog.Catalog`."""

    table = "seen"
    filter_table = "seen_filter"

    def __init__(self, catalog: Catalog, n_buckets: int = 64,
                 bits_per_bucket: int = 1 << 20):
        self.catalog = catalog
        self.n_buckets = n_buckets
        self.bits_per_bucket = bits_per_bucket

    # ------------------------------------------------------------- probing
    def filter_unseen(self, frontier: DataFrame, logical_now) -> DataFrame:
        """Drop frontier rows whose hash is seen with an unexpired TTL.

        Only the frontier's keys reach the bloom, and only the keys it may
        hold reach the exact join, so the big ``seen`` side of that join
        stays small; the definite-no keys (most of them once the crawl is
        warm) skip it entirely.
        """
        if not self.catalog.exists(self.table):
            return frontier
        keys = frontier.select("url_hash64")
        if self.catalog.exists(self.filter_table):
            keys = self._maybe_seen(keys)
        recent = (self.catalog.read(self.table)
                  .filter(F.col("next_fetch") > F.lit(logical_now))
                  .select("url_hash64"))
        seen_now = keys.join(recent, "url_hash64", "left_semi")
        return frontier.join(seen_now, "url_hash64", "left_anti")

    def _maybe_seen(self, keys: DataFrame) -> DataFrame:
        """The keys the bloom may hold: ``keys`` cogrouped with the filter
        blobs on the bucket, so each Python call holds one bucket's keys and
        that bucket's blob, whatever the filter's total size. A bucket with
        no blob has no recorded key."""
        filters = self.catalog.read(self.filter_table)

        def probe(keys_pdf: pd.DataFrame, flt_pdf: pd.DataFrame) -> pd.DataFrame:
            if keys_pdf.empty or flt_pdf.empty:
                return pd.DataFrame({"url_hash64": np.empty(0, np.int64)})
            bits = np.frombuffer(flt_pdf["bits"].iloc[0], dtype=np.uint8)
            n_bits = int(flt_pdf["n_bits"].iloc[0])
            maybe = _test_bits(bits, _positions(
                keys_pdf["url_hash64"].to_numpy(), N_HASHES, n_bits))
            return keys_pdf.loc[maybe, ["url_hash64"]]

        return (keys.withColumn("bucket", bucket_col(self.n_buckets))
                .groupBy("bucket").cogroup(filters.groupBy("bucket"))
                .applyInPandas(probe, "url_hash64 long"))

    # ------------------------------------------------------------- updates
    def record(self, fetched: DataFrame, next_fetch) -> None:
        """Record fetched hashes with the TTL and OR them into the blooms.

        APPEND-only: re-recording a hash after TTL expiry appends a fresher
        row; the probe's ``next_fetch > now`` filter makes any unexpired row
        block, so history rows are harmless. This is deliberate at 10^10
        scale — rewriting the seen table per round is not an option; a
        periodic :meth:`compact` (Iceberg MERGE in prod) folds history.
        """
        rows = (fetched.select("url_hash64").distinct()
                .withColumn("next_fetch", F.lit(next_fetch)))
        sid = self.catalog.append(self.table, rows)
        # fold the committed increment, not ``rows``: re-evaluating the lazy
        # distinct would run it twice
        self._update_filters(self.catalog.read_incremental(self.table,
                                                           sid - 1))

    def compact(self) -> None:
        """Fold append history: keep max(next_fetch) per hash (MERGE INTO)."""
        cur = self.catalog.read(self.table)
        self.catalog.overwrite(self.table, cur.groupBy("url_hash64").agg(
            F.max("next_fetch").alias("next_fetch")))

    def _existing_filters(self, spark) -> DataFrame:
        """The current filter blobs, or an empty FILTER_SCHEMA frame built
        JVM-side on a fresh catalog: ``createDataFrame([], schema)`` would
        launch one Python task per default partition just to produce no
        rows, holding executor slots the round's link stage needs."""
        if self.catalog.exists(self.filter_table):
            return self.catalog.read(self.filter_table)
        return spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in FILTER_SCHEMA.fields])

    def _update_filters(self, rows: DataFrame) -> None:
        keyed = rows.select("url_hash64").withColumn(
            "bucket", bucket_col(self.n_buckets))
        existing = self._existing_filters(rows.sparkSession)
        n_bits = self.bits_per_bucket

        def merge(new_pdf: pd.DataFrame, flt_pdf: pd.DataFrame) -> pd.DataFrame:
            if new_pdf.empty and flt_pdf.empty:
                return pd.DataFrame(columns=["bucket", "bits", "n_items", "n_bits"])
            if flt_pdf.empty:
                bits = np.zeros(n_bits // 8, dtype=np.uint8)
                n_items, nb = 0, n_bits
                bucket = int(new_pdf["bucket"].iloc[0])
            else:
                bits = np.frombuffer(flt_pdf["bits"].iloc[0], dtype=np.uint8).copy()
                n_items = int(flt_pdf["n_items"].iloc[0])
                nb = int(flt_pdf["n_bits"].iloc[0])
                bucket = int(flt_pdf["bucket"].iloc[0])
            if not new_pdf.empty:
                _set_bits(bits, _positions(new_pdf["url_hash64"].to_numpy(),
                                           N_HASHES, nb))
                n_items += len(new_pdf)
            return pd.DataFrame({"bucket": [bucket], "bits": [bits.tobytes()],
                                 "n_items": [n_items], "n_bits": [nb]})

        merged = (keyed.groupBy("bucket")
                  .cogroup(existing.groupBy("bucket"))
                  .applyInPandas(merge, FILTER_SCHEMA))
        self.catalog.overwrite(self.filter_table, merged)
