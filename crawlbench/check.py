"""Untimed output check of one crawl round.

``round_record`` reads the round's results back from the catalog: the six
round counters, an order-sensitive digest of the round's ``fetched`` rows
over (fetch_seq, url, status, psnr_ok), and key-set digests of the ``seen``
table and of the next ``frontier``. ``fetched`` is read rather than
``crawl_log`` because the counters' side table may go away.

``problems`` lists the invariants a round breaks on any seed; a record is
also compared with the other episodes of the run (the same round on the same
input must give the same record) and, on the default seed, with the values
stored in ``expected.json``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COUNTERS = ("frontier_in", "frontier_unique", "fetched", "fetched_ok",
            "new_links", "carryover")


def _digest(row) -> str:
    """count:sum:xor of 64-bit hashes. The sum is exact (decimal), so the
    digest is independent of row order and partitioning."""
    xor = int(row["x"] or 0) & (2**64 - 1)
    return f"{int(row['n'])}:{int(row['s'] or 0):x}:{xor:x}"


def _digest_aggs(h) -> list:
    return [F.count("*").alias("n"),
            F.sum(h.cast("decimal(38,0)")).alias("s"),
            F.bit_xor(h).alias("x")]


def key_digest(df: DataFrame, *cols: str) -> str:
    """Digest of the distinct key set over ``cols``."""
    return _digest(df.select(*cols).distinct()
                   .agg(*_digest_aggs(F.xxhash64(*cols))).collect()[0])


def round_record(cat, round_no: int, counters: dict) -> dict:
    fetched = cat.read("fetched").filter(F.col("round") == round_no)
    # order-sensitive: each row's hash includes its fetch_seq, so the digest
    # changes when a URL moves to another position
    f = fetched.agg(
        *_digest_aggs(F.xxhash64("fetch_seq", "url", "status", "psnr_ok")),
        F.sum((F.col("status") == 200).cast("long")).alias("ok"),
        F.min("fetch_seq").alias("seq_min"),
        F.max("fetch_seq").alias("seq_max"),
        F.countDistinct("fetch_seq").alias("seq_distinct"),
        # the per-row image invariant: every fetched payload decodes to its
        # stored dims and phash, at >= 40 dB (lossy) or exactly (lossless)
        F.sum(((F.col("status") == 200) & F.col("image_id").isNotNull()
               & ~F.coalesce(F.col("decode_ok") & F.col("dims_ok")
                             & F.col("phash_ok") & F.col("psnr_ok"),
                             F.lit(False))).cast("long")).alias("bad_payload"),
        F.sum(F.col("image_id").isNotNull().cast("long")).alias("payloads"),
    ).collect()[0]
    nxt = (cat.read("frontier").groupBy("url").agg(F.count("*").alias("m"))
           .agg(*_digest_aggs(F.xxhash64("url")), F.sum("m").alias("rows"))
           .collect()[0])
    return {
        "counters": {k: int(counters.get(k, -1)) for k in COUNTERS},
        "fetched": _digest(f),
        "seen": key_digest(cat.read("seen"), "url_hash64"),
        "frontier": _digest(nxt),
        "frontier_rows": int(nxt["rows"] or 0),
        "fetched_rows": int(f["n"]),
        "fetched_ok_rows": int(f["ok"] or 0),
        "seq": [f["seq_min"], f["seq_max"], int(f["seq_distinct"])],
        "payloads": int(f["payloads"] or 0),
        "bad_payload": int(f["bad_payload"] or 0),
    }


def problems(rec: dict) -> list[str]:
    """Invariants that hold for every seed."""
    c, out = rec["counters"], []
    n = rec["fetched_rows"]
    if c["fetched"] != n:
        out.append(f"counter fetched={c['fetched']} but {n} fetched rows")
    if c["fetched_ok"] != rec["fetched_ok_rows"]:
        out.append(f"counter fetched_ok={c['fetched_ok']} but "
                   f"{rec['fetched_ok_rows']} rows with status 200")
    if n and rec["seq"] != [0, n - 1, n]:
        out.append(f"fetch_seq is not 0..{n - 1}: {rec['seq']}")
    if c["new_links"] + c["carryover"] != rec["frontier_rows"]:
        out.append("new_links + carryover != next frontier rows "
                   f"({rec['frontier_rows']})")
    if not 0 < n <= c["frontier_unique"] <= c["frontier_in"]:
        out.append("counters not ordered fetched <= unique <= in")
    if rec["bad_payload"]:
        out.append(f"{rec['bad_payload']} payloads failed verification")
    return out


def comparable(rec: dict) -> dict:
    """The part of a record stored for the default seed."""
    return {k: rec[k] for k in ("counters", "fetched", "seen", "frontier")}
