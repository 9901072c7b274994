"""Hashing primitives shared by the Spark engine and the pure-Python oracle.

The engine keeps hashing JVM-side (``F.xxhash64``, ``F.md5`` — whole-stage
codegen, no Python in the hot path). The oracle crawl simulator
(:mod:`fetcho_spark.simulator`) must reproduce those values exactly, so this
module carries a pure-Python XXH64 (public algorithm, seed semantics matching
Spark's ``xxhash64`` builtin: seed 42, UTF-8 bytes for strings, little-endian
8 bytes for longs) and MD5 helpers matching ``md5()``.

Reference parity: fetcho keys its seen set by MD5 of the URL string
(/root/reference/common/Md5Hash.cs:247-253) — we keep ``md5(url)`` as the
16-byte parity key and use ``xxhash64(url)`` as the int64 companion key for
bloom filters and bucketing (SURVEY.md §2.8 C1).
"""

from __future__ import annotations

import hashlib

import numpy as np

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = 0xFFFFFFFFFFFFFFFF

SPARK_XXHASH64_SEED = 42


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh64(data: bytes, seed: int = SPARK_XXHASH64_SEED) -> int:
    """XXH64 of ``data`` (unsigned). Matches Spark's xxhash64 for one string
    column when called with the default seed on the UTF-8 bytes."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i <= n - 32:
            for j, v in enumerate((v1, v2, v3, v4)):
                k = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                v = (v + k * _P2) & _M64
                v = (_rotl(v, 31) * _P1) & _M64
                if j == 0:
                    v1 = v
                elif j == 1:
                    v2 = v
                elif j == 2:
                    v3 = v
                else:
                    v4 = v
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            k = (_rotl((v * _P2) & _M64, 31) * _P1) & _M64
            h = (((h ^ k) * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl((k * _P2) & _M64, 31) * _P1) & _M64
        h = ((_rotl(h ^ k, 27) * _P1) + _P4) & _M64
        i += 8
    if i <= n - 4:
        k = int.from_bytes(data[i : i + 4], "little")
        h = ((_rotl(h ^ ((k * _P1) & _M64), 23) * _P2) + _P3) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h


def xxh64_signed(data: bytes, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Same as :func:`xxh64` but as a signed int64 — the value Spark's
    ``xxhash64`` column carries."""
    h = xxh64(data, seed)
    return h - (1 << 64) if h >= 1 << 63 else h


def xxh64_str(s: str, seed: int = SPARK_XXHASH64_SEED) -> int:
    return xxh64_signed(s.encode("utf-8"), seed)


def xxh64_long(v: int, seed: int = SPARK_XXHASH64_SEED) -> int:
    """Spark xxhash64 of a LongType column value (8-byte little-endian)."""
    return xxh64_signed((v & _M64).to_bytes(8, "little"), seed)


def md5_hex(s: str) -> str:
    """Matches Spark ``md5(col)`` (hex string of UTF-8 bytes)."""
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 mix over a uint64 numpy array. Used to derive
    the k bloom probe positions from one xxhash64 key (engine + oracle share
    this exact code, so bloom contents are identical by construction)."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x += np.uint64(0x9E3779B97F4A7C15)
        z = x.copy()
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    return z
