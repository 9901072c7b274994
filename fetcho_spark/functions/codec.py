"""Deterministic image codec + perceptual hash + PSNR (numpy, vectorizable).

:func:`decode` is the one image decoder, and the payload's magic bytes pick
the format. Bytes that open with ``FSIM`` are the vectorized deterministic
STAND-IN defined here (fast, used by the bench fixtures). Any other bytes go
to the REAL from-scratch codecs (functions/pure_codec.py — spec-compliant
PNG, JPEG, GIF, WebP-lossless, BMP and TIFF with no third-party imaging
library; entropy coding is sequential Python, so it trades throughput for
format reality). A real-format corpus therefore verifies with no
configuration. :func:`encode` writes the stand-in; ``PureCodec.encode``
writes real formats. The payload contract test (tests/test_codec.py) runs
the full invariant suite over both encoders. The stand-in:

- ``png``  — lossless: zlib-compressed raw RGB8 + 16-byte header.
- ``jpeg`` — lossy: channel quantization to multiples of Q=4 then zlib.
  Max per-pixel error 2 → PSNR vs the original ≈ 46-48 dB, comfortably over
  the ≥40 dB invariant from BASELINE.json input_hint, while still exercising
  a genuine lossy round-trip (decode ≠ original bytes' source pixels).

The per-row invariant mirrors the north rule: re-decode of ``bytes`` matches
stored ``(w, h, fmt)``, recomputed phash == stored ``phash``, PSNR ≥ 40 dB for
lossy formats, caption byte-equal. The reference *blocks* image fetches
(/root/reference/common/ResourceFetchers/DefaultBlockProvider.cs:46-53); this
build inverts that predicate — the corpus IS images (SURVEY.md §2.2 P4).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MAGIC = b"FSIM"  # fetcho_spark image
_JPEG_Q = 4


def encode(pixels: np.ndarray, fmt: str) -> bytes:
    """pixels: (h, w, 3) uint8 → bytes in the stand-in container format."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    if fmt == "png":
        payload = pixels.tobytes()
        code = 0
    elif fmt == "jpeg":
        q = (pixels.astype(np.uint16) + _JPEG_Q // 2) // _JPEG_Q
        payload = np.minimum(q, 255 // _JPEG_Q).astype(np.uint8).tobytes()
        code = 1
    else:
        raise NotImplementedError(f"format {fmt!r} (the stand-in encodes png/jpeg only)")
    return MAGIC + struct.pack("<BHH", code, w, h) + zlib.compress(payload, 6)


def decode(data: bytes) -> tuple[np.ndarray, str]:
    """bytes → ((h, w, 3) uint8 pixels, fmt). Stand-in bytes decode here;
    anything else is a real format for ``PureCodec.decode``, which raises
    ``ValueError`` on bytes it does not recognize."""
    if data[:4] != MAGIC:
        from .pure_codec import PureCodec
        return PureCodec.decode(data)
    code, w, h = struct.unpack("<BHH", data[4:9])
    raw = np.frombuffer(zlib.decompress(data[9:]), dtype=np.uint8)
    px = raw.reshape(h, w, 3)
    if code == 0:
        return px.copy(), "png"
    if code == 1:
        return (px.astype(np.uint16) * _JPEG_Q).clip(0, 255).astype(np.uint8), "jpeg"
    raise ValueError(f"unknown codec id {code}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf when identical."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0.0:
        return float("inf")
    return float(20.0 * np.log10(255.0) - 10.0 * np.log10(mse))


_SAMPLE_GRID = 16


def sample_grid(pixels: np.ndarray, g: int = _SAMPLE_GRID) -> np.ndarray:
    """Deterministic g×g strided pixel sample of an (h, w, 3) image —
    the fixture stores this of the ORIGINAL (pre-encode) pixels so the
    fetch-side verify can compute a real PSNR of its decode against the
    reference without shipping full reference frames."""
    h, w = pixels.shape[:2]
    gy, gx = min(g, h), min(g, w)
    ys = (np.arange(gy) * h) // gy
    xs = (np.arange(gx) * w) // gx
    return pixels[np.ix_(ys, xs)]


def ref_sample_bytes(pixels: np.ndarray, g: int = _SAMPLE_GRID) -> bytes:
    """Serialized reference sample: 2-byte (gy, gx) header + raw uint8 RGB."""
    s = sample_grid(pixels, g)
    return struct.pack("<BB", s.shape[0], s.shape[1]) + s.tobytes()


def ref_sample_decode(data: bytes) -> np.ndarray:
    gy, gx = struct.unpack("<BB", data[:2])
    return np.frombuffer(data[2:], dtype=np.uint8).reshape(gy, gx, 3)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash: 8×8 block-mean of grayscale vs global mean.

    Deterministic average-hash (public technique); signed int64 so it round
    trips through a Spark LongType column.
    """
    g = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = g.shape
    # integral-image block means for exact determinism at any size ≥ 8
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    ii = np.zeros((h + 1, w + 1))
    ii[1:, 1:] = g.cumsum(0).cumsum(1)
    blocks = np.empty((8, 8))
    for i in range(8):
        for j in range(8):
            y0, y1, x0, x1 = ys[i], ys[i + 1], xs[j], xs[j + 1]
            blocks[i, j] = (ii[y1, x1] - ii[y0, x1] - ii[y1, x0] + ii[y0, x0]) / (
                (y1 - y0) * (x1 - x0)
            )
    bits = (blocks > blocks.mean()).flatten()
    v = 0
    for bit in bits:
        v = (v << 1) | int(bit)
    return v - (1 << 64) if v >= 1 << 63 else v


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

