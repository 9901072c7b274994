"""VP8L (lossless WebP) decoder (functions/webp.py): encoder round-trips
over every transform, plus HAND-BUILT streams for the LZ77 and color-cache
paths the minimal writer never emits — so the decoder is pinned against
the bitstream spec, not the writer."""

import numpy as np
import pytest

from fetcho_spark.functions import webp as WP
from fetcho_spark.functions.codec import decode
from fetcho_spark.functions.pure_codec import PureCodec
from fetcho_spark.functions.mediameta import probe_image


def _noise(seed, h, w):
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8)


@pytest.mark.parametrize("h,w", [(1, 1), (3, 5), (9, 13), (16, 16)])
def test_vp8l_roundtrip_literal(h, w):
    px = _noise(h * 10 + w, h, w)
    data = WP.webp_encode_lossless(px)
    assert data[:4] == b"RIFF" and data[8:12] == b"WEBP"
    assert (WP.webp_decode(data) == px).all()


def test_vp8l_roundtrip_transforms():
    px = _noise(4, 11, 7)
    for tr in ("subtract-green", "predictor-T"):
        got = WP.webp_decode(WP.webp_encode_lossless(px, transform=tr))
        assert (got == px).all(), tr
    rng = np.random.default_rng(5)
    for n_colors in (2, 3, 11, 200):       # 1/2/4-bit packing + unpacked
        pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
        pimg = pal[rng.integers(0, n_colors, (10, 9))]
        got = WP.webp_decode(WP.webp_encode_lossless(pimg,
                                                     transform="palette"))
        assert (got == pimg).all(), n_colors


# ------------------------------------------- hand-built bitstream helpers

def _emit_code(bw, lengths: dict, alphabet: int):
    """Full canonical code via the code-length code: CLC over symbols
    {0, 1, 2, 17, 18} (all length 3 — complete with 3 unused slots at
    length 3? no: 5×1/8 < 1, so pad with dummy lengths to keep Kraft —
    use lengths {0:2, 1:2, 2:2, 17:3, 18:3} = 3/4+1/4 = 1)."""
    clc_lengths = {0: 2, 1: 2, 2: 2, 17: 3, 18: 3}
    bw.write(0, 1)                          # full code
    bw.write(15, 4)                         # all 19 slots
    for sym in WP._CLC_ORDER:
        bw.write(clc_lengths.get(sym, 0), 3)
    # canonical: len2 in symbol order 0,1,2 → 00,01,10; len3: 17,18 → 110,111
    clc_codes = {0: (0b00, 2), 1: (0b01, 2), 2: (0b10, 2),
                 17: (0b110, 3), 18: (0b111, 3)}

    def emit_clc(sym, extra=None, extra_bits=0):
        c, ln = clc_codes[sym]
        bw.write(int(format(c, f"0{ln}b")[::-1], 2), ln)
        if extra is not None:
            bw.write(extra, extra_bits)

    bw.write(0, 1)                          # no max-symbol cap
    i = 0
    while i < alphabet:
        if i in lengths:
            emit_clc(lengths[i])
            i += 1
            continue
        run = 0
        while i + run < alphabet and (i + run) not in lengths:
            run += 1
        while run >= 11:
            r = min(138, run)
            emit_clc(18, r - 11, 7)
            i += r
            run -= r
        while run >= 3:
            r = min(10, run)
            emit_clc(17, r - 3, 3)
            i += r
            run -= r
        for _ in range(run):
            emit_clc(0)
            i += 1
    # canonical codes for the declared lengths
    code_of = {}
    by_len = {}
    for s, ln in sorted(lengths.items()):
        by_len.setdefault(ln, []).append(s)
    code = 0
    for ln in range(1, max(lengths.values()) + 1):
        code <<= 1
        for s in sorted(by_len.get(ln, [])):
            code_of[s] = (code, ln)
            code += 1
    return code_of


def _emit_sym(bw, code_of, s):
    c, ln = code_of[s]
    bw.write(int(format(c, f"0{ln}b")[::-1], 2), ln)


def _container(payload: bytes) -> bytes:
    import struct
    if len(payload) & 1:
        payload += b"\x00"
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _header(bw, w, h):
    bw.write(0x2F, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)
    bw.write(0, 1)                          # no transforms


def test_vp8l_lz77_backref_hand_built():
    """Literal pixel then a length-3 distance-1 backward reference: the
    decoder must copy the previous pixel three times (1x4 image)."""
    bw = WP._LsbWriter()
    _header(bw, 4, 1)
    bw.write(0, 1)                          # no color cache
    bw.write(0, 1)                          # no meta
    # green code: literal 65 + length-symbol 258 (→ copy length 3)
    g = _emit_code(bw, {65: 1, 258: 1}, 256 + 24)
    r = _emit_code(bw, {10: 1, 11: 1}, 256)     # 2-sym full (only 10 used)
    b = _emit_code(bw, {20: 1, 21: 1}, 256)
    a = _emit_code(bw, {255: 1, 254: 1}, 256)
    d = _emit_code(bw, {1: 1, 2: 1}, 40)        # distance symbol 1 → dist 1
    _emit_sym(bw, g, 65)                    # literal pixel (65,10,20,255)
    _emit_sym(bw, r, 10)
    _emit_sym(bw, b, 20)
    _emit_sym(bw, a, 255)
    _emit_sym(bw, g, 258)                   # backref: length 3
    _emit_sym(bw, d, 1)                     # plane code 2 → (1,0) → dist 1
    out = WP.webp_decode(_container(bw.bytes()))
    exp = np.tile(np.array([10, 65, 20], np.uint8), (1, 4, 1))
    assert (out == exp).all()


def test_vp8l_color_cache_hand_built():
    """[A, B, A] where the third pixel comes from the color cache."""
    cache_bits = 4
    A = (255, 30, 60, 90)                   # a, r, g, b
    argb_A = (A[0] << 24) | (A[1] << 16) | (A[2] << 8) | A[3]
    idx_A = (0x1E35A7BD * argb_A & 0xFFFFFFFF) >> (32 - cache_bits)
    bw = WP._LsbWriter()
    _header(bw, 3, 1)
    bw.write(1, 1)                          # color cache present
    bw.write(cache_bits, 4)
    bw.write(0, 1)                          # no meta
    alpha_g = 256 + 24 + (1 << cache_bits)
    g = _emit_code(bw, {60: 1, 61: 2, 256 + 24 + int(idx_A): 2}, alpha_g)
    r = _emit_code(bw, {30: 1, 31: 1}, 256)
    b = _emit_code(bw, {90: 1, 91: 1}, 256)
    a = _emit_code(bw, {255: 1, 254: 1}, 256)
    _emit_code(bw, {0: 1, 1: 1}, 40)        # distance (unused)
    for gg, rr, bb, aa in [(60, 30, 90, 255), (61, 31, 91, 254)]:
        _emit_sym(bw, g, gg)
        _emit_sym(bw, r, rr)
        _emit_sym(bw, b, bb)
        _emit_sym(bw, a, aa)
    _emit_sym(bw, g, 256 + 24 + int(idx_A))  # cache hit → pixel A again
    out = WP.webp_decode(_container(bw.bytes()))
    exp = np.array([[[30, 60, 90], [31, 61, 91], [30, 60, 90]]], np.uint8)
    assert (out == exp).all()


def test_webp_seam_probe_and_errors():
    px = _noise(7, 8, 12)
    data = PureCodec.encode(px, "webp")
    dec, fmt = decode(data)
    assert fmt == "webp" and (dec == px).all()
    m = probe_image(data)
    assert (m["format"], m["width"], m["height"]) == ("webp", 12, 8)
    with pytest.raises(NotImplementedError, match="intra"):
        WP.webp_decode(b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00xxxx")
    with pytest.raises(ValueError):
        WP.webp_decode(b"RIFF\x08\x00\x00\x00WEBPJUNK")
    with pytest.raises(ValueError):
        WP.webp_decode(b"not webp at all")


def test_webp_truncation_fails_cleanly():
    px = _noise(2, 10, 10)
    data = WP.webp_encode_lossless(px)
    for cut in range(1, len(data), 2):
        try:
            WP.webp_decode(data[:cut])
        except (ValueError, NotImplementedError):
            pass
