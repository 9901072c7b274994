"""Image column operators (images as opaque ``binary`` payloads).

Treats images as ``binary`` payload columns with typed metadata, processed
by Arrow-batched ``mapInPandas`` — the Spark-side plumbing (schemas, batch
shapes, partition behavior) is real and tested. ``functions/codec.decode``
picks the decoder from each payload's magic bytes: the deterministic
stand-in for ``FSIM`` bytes, the REAL from-scratch PNG/JPEG/GIF/WebP/BMP/
TIFF codecs for the rest. Re-encoding ops write the stand-in
(``codec.encode``).

Ops: decode+feature-extract (:func:`image_features`), nearest-neighbour
resize (:func:`image_resize`), header-only dimensions
(:func:`image_metadata`) and deterministic augmentation fan-out
(:func:`image_augment`). Undecodable payloads yield null/err rows, never a
failed job.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.codec import decode, encode, phash64

IMAGE_FEATURES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("mean_r", T.DoubleType()),
    T.StructField("mean_g", T.DoubleType()),
    T.StructField("mean_b", T.DoubleType()),
    T.StructField("brightness", T.DoubleType()),
    T.StructField("phash", T.LongType()),
])


def image_features(images: DataFrame, id_col: str = "image_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """Decode + per-image features, one Arrow batch at a time. Output is a
    fresh narrow frame (never pass wide exact-int columns through pandas).
    Undecodable payloads yield an all-null feature row."""
    src = images.select(F.col(id_col).alias("image_id"), F.col(bytes_col)
                        .alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px, fmt = decode(bytes(data))
                except Exception:
                    rows.append((iid, None, None, None, None, None, None,
                                 None, None))
                    continue
                m = px.reshape(-1, 3).mean(axis=0)
                rows.append((iid, px.shape[1], px.shape[0], fmt,
                             float(m[0]), float(m[1]), float(m[2]),
                             float(m.mean()), phash64(px)))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              IMAGE_FEATURES_SCHEMA.fields])

    return src.mapInPandas(run, IMAGE_FEATURES_SCHEMA)


RESIZE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
])


def image_resize(images: DataFrame, size: int,
                 id_col: str = "image_id",
                 bytes_col: str = "bytes") -> DataFrame:
    """Nearest-neighbour resize to (size×size), re-encoded lossless
    through the stand-in ``codec.encode`` — deterministic numpy.
    Undecodable payloads yield ``(image_id, None, None, None)``."""
    src = images.select(F.col(id_col).alias("image_id"),
                        F.col(bytes_col).alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px, _ = decode(bytes(data))
                except Exception:
                    out.append((iid, None, None, None))
                    continue
                ys = (np.arange(size) * px.shape[0]) // size
                xs = (np.arange(size) * px.shape[1]) // size
                small = px[ys][:, xs]
                out.append((iid, bytearray(encode(small, "png")), size, size))
            yield pd.DataFrame(out, columns=["image_id", "bytes", "w", "h"])

    return src.mapInPandas(run, RESIZE_SCHEMA)


IMAGE_META_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("err", T.StringType()),
])


def image_metadata(images: DataFrame, id_col: str = "image_id",
                   bytes_col: str = "bytes") -> DataFrame:
    """Dimensions + format from image HEADERS only (mediameta.probe_image:
    JPEG SOF marker, PNG IHDR, GIF, WebP VP8/VP8L/VP8X, BMP) — answers the
    resolution-distribution / thumbnail-filter questions for a 100 TB
    corpus at I/O cost, decoding nothing. Formats we cannot decode at all
    (lossy-VP8 WebP; VP8L/GIF decode via the pure codec) report dims here. Unrecognized → err row."""
    from ..functions.mediameta import probe_image
    src = images.select(F.col(id_col).alias("image_id"),
                        F.col(bytes_col).alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    m = probe_image(bytes(data))
                    rows.append((iid, m["format"], m["width"],
                                 m["height"], None))
                except Exception:
                    rows.append((iid, None, None, None, "unrecognized"))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              IMAGE_META_SCHEMA.fields])

    return src.mapInPandas(run, IMAGE_META_SCHEMA)


AUGMENT_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("op", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("err", T.StringType()),
])

# deterministic pixel transforms — pure numpy views/ops, no interpolation
# randomness; each is its own row so downstream mixing is explicit
_AUGMENT_OPS = {
    "identity": lambda px: px,
    "hflip": lambda px: px[:, ::-1],
    "vflip": lambda px: px[::-1],
    "rot90": lambda px: np.rot90(px, 1),
    "rot180": lambda px: np.rot90(px, 2),
    "rot270": lambda px: np.rot90(px, 3),
    "gray": lambda px: np.repeat(
        # integer-exact Rec.601 luma: (299R + 587G + 114B) // 1000
        ((px[..., 0].astype(np.int64) * 299
          + px[..., 1].astype(np.int64) * 587
          + px[..., 2].astype(np.int64) * 114) // 1000)
        .astype(np.uint8)[..., None], 3, axis=2),
    "center_crop": lambda px: px[px.shape[0] // 4:
                                 px.shape[0] // 4 + max(px.shape[0] // 2, 1),
                                 px.shape[1] // 4:
                                 px.shape[1] // 4 + max(px.shape[1] // 2, 1)],
}


def image_augment(images: DataFrame, ops: tuple = ("hflip", "rot90"),
                  id_col: str = "image_id",
                  bytes_col: str = "bytes") -> DataFrame:
    """Deterministic training-data augmentation fan-out: each input image
    yields one row PER op → ``(image_id, op, bytes, w, h, err)``, pixels
    re-encoded lossless (PNG) through the stand-in ``codec.encode``.

    Every transform is exact integer numpy (flips/rotations are views;
    gray is the integer Rec.601 luma; center_crop is the middle half), so
    augmented bytes are bit-reproducible across runs and machines — the
    property a deduplicated training corpus needs (a nondeterministic
    augmenter mints infinite "new" near-dups). Undecodable rows yield one
    err row per op set, never a failed job. mapInPandas, Arrow batches;
    output size is ``len(ops)`` × input — budget the fan-out explicitly.
    """
    unknown = [o for o in ops if o not in _AUGMENT_OPS]
    if unknown:
        raise ValueError(f"unknown augment ops: {unknown}")
    src = images.select(F.col(id_col).alias("image_id"),
                        F.col(bytes_col).alias("bytes"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for iid, data in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    px, _ = decode(bytes(data))
                except Exception:
                    rows.append((iid, None, None, None, None,
                                 "undecodable"))
                    continue
                for op in ops:
                    out = np.ascontiguousarray(_AUGMENT_OPS[op](px))
                    rows.append((iid, op, bytearray(encode(out, "png")),
                                 out.shape[1], out.shape[0], None))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              AUGMENT_SCHEMA.fields])

    return src.mapInPandas(run, AUGMENT_SCHEMA)
