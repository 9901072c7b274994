"""Aspect-ratio bucket batching for image-training loaders.

Multimodal trainers batch images of the SAME target resolution (SDXL's
aspect bucketing, LAION loader convention): each image goes to the
bucket whose aspect ratio is nearest its own, then fixed-size batches
form within each bucket in a reproducible order. The reference blocks
images outright (common/ResourceFetchers/DefaultBlockProvider.cs:46-53);
our north rule inverts that — the corpus IS image+caption pairs — so
the loader-layout operator is first-class here, the image-side sibling
of ``textops.pack_sequences``.

Scale + determinism shape:

- **Assignment is a zero-shuffle projection.** The nearest bucket
  minimizes ``|w/h - bw/bh|``; with the row's height cancelled that is
  ``argmin_i |w*bh_i - h*bw_i| / bh_i`` — an EXACT int64 numerator per
  bucket and ONE correctly-rounded IEEE division by a literal, so every
  engine agrees bit-for-bit (the kmeans/NB quantized-float discipline,
  no epsilon). Ties pick the lowest bucket index via
  ``array_position(scores, array_min(scores))``.
- **Batch ranks never funnel a bucket through one task.** Buckets are
  few (tens) and corpora are billions of rows, so a plain
  ``row_number() OVER (PARTITION BY bucket)`` window is exactly the
  skew funnel :func:`~fetcho_spark.operators.priority.with_running_sum`
  exists to avoid: the rank is its running count grouped by bucket over
  the seeded md5 key. Identical output at any parallelism
  (partition-invariance unit test).
- The seeded order is ``md5(id ':' seed)`` — the cross-engine
  reproducible-ordering trick every sampler in this repo uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .priority import with_running_sum

# SDXL's published training buckets (a representative subset): width,
# height at ~1 Mpx. Callers pass their own table for other trainers.
SDXL_BUCKETS = [(1024, 1024), (1152, 896), (896, 1152), (1344, 768),
                (768, 1344), (1536, 640), (640, 1536)]


def aspect_bucket_assign(df: DataFrame,
                         buckets: list[tuple[int, int]] | None = None,
                         w_col: str = "w", h_col: str = "h") -> DataFrame:
    """Add ``bucket_id`` (1-based index into ``buckets``), ``bucket_w``,
    ``bucket_h`` — nearest-aspect assignment, pure projection.

    ``score_i = |w*bh_i - h*bw_i| / bh_i`` ranks buckets exactly like
    ``|w/h - bw_i/bh_i|`` (multiply through by ``h > 0``); the numerator
    is exact integer arithmetic and the single division by the literal
    ``bh_i`` is one correctly-rounded IEEE op, so the argmin is
    engine-independent. Ties resolve to the LOWEST bucket index.
    """
    buckets = buckets or SDXL_BUCKETS
    w, h = F.col(w_col).cast("long"), F.col(h_col).cast("long")
    scores = F.array(*[
        (F.abs(w * F.lit(bh) - h * F.lit(bw)).cast("double")
         / F.lit(float(bh)))
        for bw, bh in buckets])
    bid = F.array_position(scores, F.array_min(scores)).cast("int")
    bw_arr = F.array(*[F.lit(bw) for bw, _ in buckets])
    bh_arr = F.array(*[F.lit(bh) for _, bh in buckets])
    return (df.withColumn("bucket_id", bid)
            .withColumn("bucket_w", F.element_at(bw_arr, F.col("bucket_id")))
            .withColumn("bucket_h", F.element_at(bh_arr, F.col("bucket_id"))))


def aspect_bucket_batches(df: DataFrame,
                          buckets: list[tuple[int, int]] | None = None,
                          batch_size: int = 8, seed: int = 42,
                          id_col: str = "image_id", w_col: str = "w",
                          h_col: str = "h",
                          drop_partial: bool = False) -> DataFrame:
    """Full loader layout → ``(id, bucket_id, bucket_w, bucket_h,
    batch_idx, slot, full)``.

    Within each bucket, rows order by ``md5(id ':' seed)`` (id
    tie-break) and pack into consecutive batches of ``batch_size``;
    ``full`` marks batches at exactly ``batch_size`` rows (each
    bucket's trailing remainder is the only partial batch), and
    ``drop_partial=True`` filters to full batches — what a fixed-shape
    training step consumes.

    The rank is the grouped running count (see module doc), and the
    bucket sizes behind ``full`` are its group totals, read off the
    offsets frame it already aggregates (no second pass over the rows).
    Rows with no bucket (NULL ``w`` or ``h``) are dropped.
    """
    assert batch_size >= 1
    # filter on the inputs, not on bucket_id: a bucket_id predicate would
    # evaluate the whole score array once more per row
    has_dims = F.col(w_col).isNotNull() & F.col(h_col).isNotNull()
    assigned = aspect_bucket_assign(df.filter(has_dims), buckets, w_col,
                                    h_col)
    rk = F.md5(F.concat_ws(":", F.col(id_col).cast("string"),
                           F.lit(str(seed))))
    base = assigned.select(F.col(id_col), "bucket_id", "bucket_w",
                           "bucket_h", rk.alias("_rk"))
    rank = F.col("_rank") - 1
    out = (with_running_sum(base, ("_rk", id_col), group_cols=("bucket_id",),
                            out_col="_rank", total_col="_n")
           .withColumn("batch_idx", F.expr(f"(_rank - 1) div {batch_size}")
                       .cast("long"))
           .withColumn("slot", (rank % batch_size).cast("int"))
           .withColumn("full",
                       F.col("batch_idx")
                       < F.expr(f"_n div {batch_size}")))
    if drop_partial:
        out = out.filter(F.col("full"))
    return out.select(id_col, "bucket_id", "bucket_w", "bucket_h",
                      "batch_idx", "slot", "full")
