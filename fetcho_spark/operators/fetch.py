"""Fetch = join, not network (SURVEY.md §2.4 J5, §2.8 C12, §2.2 P15).

The reference does live HTTP with per-host throttling
(/root/reference/common/ResourceFetchers/HttpResourceFetcher.cs:32-298). This
sandbox has no network, so "fetch" is an **equi-join of the scheduled frontier
against the web corpus**, then an equi-join to the image+caption table, then a
vectorized decode-verify pass (``mapInPandas`` — Arrow batches, no per-row
Python). Missing page → status 404; the corpus' own 4xx/5xx tail drives the
network-issue / 429-penalty feedback, mirroring HttpResourceFetcher's error
paths.

Per-row payload invariant (BASELINE.json input_hint): re-decode of ``bytes``
matches stored ``(w, h, fmt)``; recomputed phash equals stored ``phash``;
PSNR ≥ 40 dB for lossy formats against the stored pre-encode pixel sample.
The one decoder, ``functions.codec.decode``, picks the stand-in or the real
PNG/JPEG/GIF/WebP/BMP/TIFF path from each payload's magic bytes, so
stand-in and real-format corpora verify through the same UDF.

Link extraction (§2.8 C2/C3, §2.6 O7): explode ``out_links``, canonicalize in
an Arrow-batched UDF, then keep ≤500 links per page by a **seeded** hash order
— the reference's ``Randomise().Take(500)``
(fetcho/ExtractLinksAndBufferConsumer.cs:112) with the wall-clock random
replaced by ``xxhash64(link, seed)`` so the sample is reproducible.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from ..functions.codec import (decode, phash64, psnr, ref_sample_decode,
                               sample_grid)
from ..functions.urls import eval_barrier, with_canonical_url
from .robots import DEFAULT_UA

MAX_LINKS_PER_PAGE = 500  # FetchoConfiguration.cs:91-92
MAX_BODY_BYTES = 1 << 20  # MaxFileDownloadLengthInBytes (1 MiB cap, P15)
ADULT_RATING = "RTA-5042-1996-1400-1577-RTA"  # DefaultBlockProvider.cs:11

def simulate_fetch(selected: DataFrame, webgraph: DataFrame,
                   images: DataFrame) -> DataFrame:
    """Scheduled frontier → fetched rows with payload + verification columns.

    Join keys: url (frontier→page), image_id (page→payload). The webgraph
    join is a shuffle hash join on ``url`` (both sides big at scale); the
    images join shuffles on ``image_id``. Column pruning matters: only the
    payload columns cross into the verify stage.
    """
    page_cols = [F.col("url"), F.col("status").alias("status"),
                 F.col("image_id"), F.col("out_links"),
                 F.col("content_type")]
    payload_names = ["status", "image_id", "out_links", "content_type"]
    if "body" in webgraph.columns:  # raw-body corpus (C3 path)
        page_cols.append(F.col("body"))
        payload_names.append("body")
    if "rating" in webgraph.columns:  # P15 self-labelled Rating header
        page_cols.append(F.col("rating"))
        payload_names.append("rating")
    has_redirects = "redirect_to" in webgraph.columns
    if has_redirects:
        page_cols.append(F.col("redirect_to"))
    page = webgraph.select(*page_cols)
    joined = (selected.join(page, "url", "left")
              .withColumn("status",
                          F.coalesce(F.col("status"), F.lit(404)))
              .withColumn("out_links",
                          F.coalesce(F.col("out_links"),
                                     F.array().cast("array<string>"))))
    if has_redirects:
        # S7 redirect depth (HttpResourceFetcher.cs:229): AllowAutoRedirect
        # = !CanBeDiscarded. Seeds (no referrer) are NOT discardable, so a
        # 3xx response is followed ONE hop — the fetched row keeps its queue
        # identity (url/host/seen key) but carries the TARGET's payload, and
        # `redirected_to` records the hop for lineage. Discardable items
        # just log the 3xx (non-200 suppresses payload and links below).
        # The hop join touches only the (rare) followed subset — the
        # webgraph never re-shuffles for the common case.
        follow = (F.col("status").isin(301, 302)
                  & F.col("redirect_to").isNotNull()
                  & F.col("src_url").isNull())
        tgt = webgraph.select(
            F.col("url").alias("redirect_to"),
            *[F.col(c).alias(f"_t_{c}") for c in payload_names])
        followed = (joined.filter(follow).join(tgt, "redirect_to", "left")
                    .withColumn("_t_status",
                                F.coalesce(F.col("_t_status"), F.lit(404)))
                    .withColumn("_t_out_links",
                                F.coalesce(F.col("_t_out_links"),
                                           F.array().cast("array<string>"))))
        for c in payload_names:
            followed = followed.withColumn(c, F.col(f"_t_{c}")) \
                               .drop(f"_t_{c}")
        followed = followed.withColumn("redirected_to",
                                       F.col("redirect_to"))
        rest = joined.filter(~F.coalesce(follow, F.lit(False))) \
                     .withColumn("redirected_to",
                                 F.lit(None).cast("string"))
        joined = rest.unionByName(followed).drop("redirect_to")
    # S7 revalidation (HttpResourceFetcher.cs:250): when the engine knows a
    # URL was fetched before (`_was_seen`, attached by the crawl loop under
    # cfg.revalidation), the request carries If-Modified-Since and the
    # static corpus answers 304 Not Modified — no payload, no body, no
    # links (non-200 gates all of those below).
    if "_was_seen" in joined.columns:
        not_modified = F.col("_was_seen") & (F.col("status") == 200)
        joined = joined.withColumn(
            "status", F.when(not_modified, F.lit(304))
                       .otherwise(F.col("status")))
        if "body" in joined.columns:
            joined = joined.withColumn(
                "body", F.when(F.col("status") == 304,
                               F.lit(None).cast("string"))
                         .otherwise(F.col("body")))
        if "rating" in joined.columns:
            joined = joined.withColumn(
                "rating", F.when(F.col("status") == 304,
                                 F.lit(None).cast("string"))
                           .otherwise(F.col("rating")))
    # P15 — block-before-download (DefaultBlockProvider.cs:32-60): an
    # RTA-rated response or an over-length body is never downloaded — the
    # attempt is logged and the URL marked seen, but payload, body and
    # out-links are all suppressed. Content-length check uses the response
    # byte length (octet_length), the Rating check the self-label header.
    rating = (F.col("rating") if "rating" in joined.columns
              else F.lit(None).cast("string"))
    body_len = (F.octet_length("body") if "body" in joined.columns
                else F.lit(0))
    joined = joined.withColumn(
        "blocked_reason",
        F.when(F.coalesce(body_len, F.lit(0)) > MAX_BODY_BYTES,
               F.lit("length"))
         .when(rating == ADULT_RATING, F.lit("adult")))
    blocked = F.col("blocked_reason").isNotNull()
    joined = (joined
              .withColumn("image_id",
                          F.when((F.col("status") == 200) & ~blocked,
                                 F.col("image_id")))
              .withColumn("out_links",
                          F.when(blocked, F.array().cast("array<string>"))
                           .otherwise(F.col("out_links"))))
    if "body" in joined.columns:
        joined = joined.withColumn(
            "body", F.when(~blocked, F.col("body")))
    # F9 end-to-end: request/response header maps on every fetched row
    # (WorkspaceResult.RequestProperties/ResponseProperties,
    # common/Entities/WorkspaceResult.cs:8-69). Deterministic synthesis —
    # the simulated-fetch analog of HttpResourceFetcher's recorded headers.
    joined = (joined
              .withColumn("req_headers", F.create_map(
                  F.lit("user-agent"), F.lit(DEFAULT_UA),
                  F.lit("host"), F.col("host"),
                  F.lit("accept"), F.lit("*/*")))
              .withColumn("resp_headers", F.create_map(
                  F.lit("content-type"),
                  F.coalesce(F.col("content_type"), F.lit("")),
                  F.lit("status"), F.col("status").cast("string"),
                  F.lit("server"),
                  F.format_string("srv-%d",
                                  F.pmod(F.xxhash64("host"), F.lit(7))))))
    if "rating" in joined.columns:  # sites that self-label send it back
        joined = joined.withColumn(
            "resp_headers",
            F.when(F.col("rating").isNotNull(),
                   F.map_concat(F.col("resp_headers"),
                                F.create_map(F.lit("rating"),
                                             F.col("rating"))))
             .otherwise(F.col("resp_headers")))
    # R5 memoization (Filter.cs:30 / dedup-before-inference, SURVEY.md §4):
    # decode-verify each DISTINCT payload once, then join the verdict back —
    # image bytes never fan out across fetched rows and never ride the
    # frontier join; the Arrow crossing carries |distinct images| rows, not
    # |fetched|. P15 (1 MiB body cap) applies to the payload before decode.
    used = joined.select("image_id").filter(F.col("image_id").isNotNull()) \
                 .distinct()
    payloads = (images.join(used, "image_id", "left_semi")
                .withColumn("bytes",
                            F.when(F.length("bytes") <= MAX_BODY_BYTES,
                                   F.col("bytes"))))
    verified = verify_payload(payloads).select(
        "image_id", "w", "h", "fmt", "caption", "phash",
        "decode_ok", "dims_ok", "phash_ok", "psnr_db", "psnr_ok")
    return joined.join(verified, "image_id", "left")


_VERIFY_STRUCT = T.StructType([
    T.StructField("decode_ok", T.BooleanType()),
    T.StructField("dims_ok", T.BooleanType()),
    T.StructField("phash_calc", T.LongType()),
    T.StructField("psnr_db", T.DoubleType()),
])


@F.pandas_udf(_VERIFY_STRUCT)
def _verify_udf(data: pd.Series, w: pd.Series, h: pd.Series,
                fmt: pd.Series, ref: pd.Series) -> pd.DataFrame:
    """Per-row decode verdicts; undecodable bytes leave ``decode_ok``
    False instead of failing the batch."""
    n = len(data)
    dec_ok = [False] * n
    dims_ok = [False] * n
    ph = [None] * n
    ps = [None] * n
    for i, (d, wi, hi, fi, rs) in enumerate(zip(data, w, h, fmt, ref)):
        if d is None:
            continue
        try:
            px, got_fmt = decode(bytes(d))
        except Exception:
            continue
        dec_ok[i] = True
        dims_ok[i] = (px.shape[1] == wi and px.shape[0] == hi
                      and got_fmt == fi)
        ph[i] = phash64(px)
        if rs is not None:
            # real fidelity check: our decode, sampled on the reference
            # grid, vs the stored pre-encode pixels (≥40 dB lossy; inf
            # lossless). Shape mismatch (corrupt dims) → 0 dB.
            try:
                want = ref_sample_decode(bytes(rs))
                got = sample_grid(px)
                ps[i] = (psnr(got, want)
                         if got.shape == want.shape else 0.0)
            except Exception:
                ps[i] = 0.0
    return pd.DataFrame({"decode_ok": dec_ok, "dims_ok": dims_ok,
                         "phash_calc": pd.array(ph, dtype="Int64"),
                         "psnr_db": pd.array(ps, dtype="float64")})


def verify_payload(df: DataFrame) -> DataFrame:
    """C12: Arrow-batched decode + invariant check.

    A *scalar* pandas UDF over only (bytes, w, h, fmt, ref_sample) —
    exact-valued int64 columns (phash, hashes) never cross into pandas,
    where nullable-int64 batches upcast to float64 and silently corrupt
    values past 2^53. The recomputed phash comes back as int64 and the
    equality runs JVM-side.

    ``psnr_db`` is our decode vs the fixture's stored pre-encode pixel
    sample; ``psnr_ok`` encodes the input_hint invariant: lossless formats
    must reproduce exactly (inf), lossy formats must reach ≥ 40 dB.
    """
    ref = (F.col("ref_sample") if "ref_sample" in df.columns
           else F.lit(None).cast("binary"))
    v = _verify_udf(
        F.col("bytes"), F.col("w"), F.col("h"), F.col("fmt"), ref)
    return (df.withColumn("_v", v)
            .withColumn("decode_ok", F.col("_v.decode_ok"))
            .withColumn("dims_ok", F.col("_v.dims_ok"))
            .withColumn("phash_ok",
                        F.coalesce(F.col("_v.phash_calc") == F.col("phash"),
                                   F.lit(False)))
            .withColumn("psnr_db", F.col("_v.psnr_db"))
            .withColumn("psnr_ok",
                        F.when(F.col("fmt") == "png",
                               F.col("_v.psnr_db") == float("inf"))
                         .otherwise(F.col("_v.psnr_db") >= 40.0))
            .drop("_v"))


def extract_links(fetched: DataFrame, seed: int, round_no: int,
                  max_links: int = MAX_LINKS_PER_PAGE) -> DataFrame:
    """Fetched pages → canonical outbound link rows (src_url, url).
    Hosts are NOT computed here: the frontier table stores only
    (url, src_url, round_added) since round 4 — the crawl re-derives
    host/src_host post-dedup via urls.frontier_host_col, so computing
    them per raw link would be wasted work on rows dedup then collapses.

    Pages carrying a raw ``body`` go through the real HTML/text link
    extractor (C3, operators/htmllinks.py — a/link/script/base tags, raw
    http/href= scanning for text) which also yields the per-link resolution
    base (a mid-document ``<base href>`` changes it); pages with a
    pre-extracted ``out_links`` array resolve against their own URL. The
    per-page cap uses a seeded total order (xxhash64 of the link) —
    reproducible across parallelism levels, unlike the reference's
    wall-clock shuffle.
    """
    ok = fetched.filter(F.col("status") == 200)
    src = [F.col("url").alias("src_url")]
    # followed redirects (S7): relative links resolve against the FINAL
    # response URI, while the frontier referrer stays the queue item's url
    if "redirected_to" in fetched.columns:
        ok = ok.withColumn("_base_url", F.coalesce("redirected_to", "url"))
    else:
        ok = ok.withColumn("_base_url", F.col("url"))
    # every exploded row carries its page's RAW link count (_nraw): the
    # per-page cap can then shuffle ONLY links of pages that might exceed it
    # (raw count > max_links ⇒ canonical count might; ≤ ⇒ never, since
    # canonicalization maps 1:1-or-null). At a 10^10 frontier the cap's
    # Window otherwise shuffles the whole link stream to trim the rare
    # mega-page — measured 40-70% of the round's wall at bench scale.
    if "body" in fetched.columns:
        from .htmllinks import extract_links_udf
        pairs = extract_links_udf(F.col("body"), F.col("_base_url"),
                                  F.col("content_type"))
        # behind a barrier, or the _nraw split below is substituted into
        # the extractor and every page body is parsed twice per branch
        raw_body = (ok.filter(F.col("body").isNotNull())
                    .select(*src, eval_barrier(pairs).alias("_arr"))
                    .select("src_url", F.size("_arr").alias("_nraw"),
                            F.explode_outer("_arr").alias("_hb"))
                    .select("src_url", "_nraw",
                            F.col("_hb.href").alias("href"),
                            F.col("_hb.base").alias("base")))
        raw_arr = (ok.filter(F.col("body").isNull())
                   .select(*src, F.col("_base_url"),
                           F.size("out_links").alias("_nraw"),
                           F.explode_outer("out_links").alias("href"))
                   .withColumn("base", F.col("_base_url"))
                   .drop("_base_url"))
        raw = raw_body.unionByName(raw_arr)
    else:
        raw = (ok.select(*src, F.col("_base_url"),
                         F.size("out_links").alias("_nraw"),
                         F.explode_outer("out_links").alias("href"))
               .withColumn("base", F.col("_base_url"))
               .drop("_base_url"))
    # Split on the RAW link count before canonicalizing, so each link goes
    # through the hybrid canonicalizer (urls.with_canonical_url: JVM fast
    # path for absolute/root-relative links, Arrow UDF only for the ~5%
    # doc-relative/exotic ones) in exactly one branch, and the cold/hot
    # predicate on size(out_links) lands right above the scan; split after
    # canonicalizing, both branches would explode and canonicalize every
    # link of every page.
    cold = with_canonical_url(raw.filter(F.col("_nraw") <= max_links))
    hot = with_canonical_url(raw.filter(F.col("_nraw") > max_links))
    w = Window.partitionBy("src_url").orderBy(
        F.xxhash64(F.col("url"), F.lit(f"links:{seed}:{round_no}")))
    hot = (hot.withColumn("_lr", F.row_number().over(w))
           .filter(F.col("_lr") <= max_links)
           .drop("_lr"))
    return (cold.unionByName(hot)
            .drop("_nraw", "href", "base"))
