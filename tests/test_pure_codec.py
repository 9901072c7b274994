"""From-scratch PNG / baseline-JPEG codec (functions/pure_codec.py):
spec-level tests. The decoders are checked against HAND-BUILT byte streams
(forward PNG filters re-implemented here independently; JPEG segments
assembled from the T.81 marker grammar), not only against this module's own
encoders — so encoder and decoder can't be consistently-wrong together."""

import struct
import zlib

import numpy as np
import pytest

from fetcho_spark.functions import pure_codec as PC
from fetcho_spark.functions.codec import decode, psnr


def _noise(seed, h, w):
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8)


def _smooth(h, w):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.clip(np.stack([
        yy * 255 / max(h - 1, 1), xx * 255 / max(w - 1, 1),
        128 + 100 * np.sin(yy / 6.0) * np.cos(xx / 9.0)], axis=-1),
        0, 255).astype(np.uint8)


# ------------------------------------------------------------------- PNG

@pytest.mark.parametrize("h,w", [(1, 1), (7, 9), (8, 8), (33, 17), (64, 64)])
def test_png_roundtrip_exact(h, w):
    px = _noise(h * 100 + w, h, w)
    data = PC.png_encode(px)
    assert data[:8] == b"\x89PNG\r\n\x1a\n"
    assert (PC.png_decode(data) == px).all()


def _png_hand_build(pixels, filters, ctype=2, plte=None):
    """Independent PNG builder: applies the FORWARD filters from the spec
    (decoder implements the inverse) and assembles chunks by hand."""
    h, w, nch = pixels.shape
    if ctype == 3:
        nch = 1
    stride = w * nch
    flat = pixels.reshape(h, stride).astype(np.int32)
    raw = bytearray()
    prev = np.zeros(stride, np.int32)
    for y in range(h):
        line = flat[y]
        ft = filters[y % len(filters)]
        out = np.zeros(stride, np.int32)
        for x in range(stride):
            a = int(line[x - nch]) if x >= nch else 0        # left (recon)
            b = int(prev[x])                                  # up
            c = int(prev[x - nch]) if x >= nch else 0         # upper-left
            if ft == 0:
                out[x] = line[x]
            elif ft == 1:
                out[x] = line[x] - a
            elif ft == 2:
                out[x] = line[x] - b
            elif ft == 3:
                out[x] = line[x] - ((a + b) >> 1)
            else:                                             # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc
                                                          else c)
                out[x] = line[x] - pred
        raw.append(ft)
        raw += bytes((out & 0xFF).astype(np.uint8))
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    body = PC._PNG_SIG + PC._chunk(b"IHDR", ihdr)
    if plte is not None:
        body += PC._chunk(b"PLTE", bytes(plte.flatten()))
    # split IDAT in two to exercise multi-IDAT reassembly
    z = zlib.compress(bytes(raw), 6)
    mid = len(z) // 2
    body += PC._chunk(b"IDAT", z[:mid]) + PC._chunk(b"IDAT", z[mid:])
    return body + PC._chunk(b"IEND", b"")


def test_png_decode_all_filter_types_hand_built():
    px = _noise(42, 12, 10)
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        data = _png_hand_build(px, filters)
        assert (PC.png_decode(data) == px).all(), filters


def test_png_decode_grayscale_rgba_palette():
    g = np.random.default_rng(1).integers(0, 256, (5, 7, 1), dtype=np.uint8)
    data = _png_hand_build(g, [0, 2], ctype=0)
    assert (PC.png_decode(data) == np.repeat(g, 3, axis=2)).all()
    rgba = np.random.default_rng(2).integers(0, 256, (6, 4, 4),
                                             dtype=np.uint8)
    data = _png_hand_build(rgba, [0, 1, 4], ctype=6)
    assert (PC.png_decode(data) == rgba[:, :, :3]).all()
    plte = np.random.default_rng(3).integers(0, 256, (16, 3),
                                             dtype=np.uint8)
    idx = np.random.default_rng(4).integers(0, 16, (9, 9, 1),
                                            dtype=np.uint8)
    data = _png_hand_build(idx, [0], ctype=3, plte=plte)
    assert (PC.png_decode(data) == plte[idx[:, :, 0]]).all()


def test_png_rejects_bad_input():
    px = _noise(5, 8, 8)
    good = PC.png_encode(px)
    with pytest.raises(ValueError, match="signature"):
        PC.png_decode(b"NOTAPNG" + good)
    corrupt = bytearray(good)
    corrupt[40] ^= 0xFF                      # flip an IDAT byte → CRC fail
    with pytest.raises(ValueError, match="CRC"):
        PC.png_decode(bytes(corrupt))
    # 3-bit depth is not a legal PNG depth — loud refusal
    ihdr = struct.pack(">IIBBBBB", 8, 8, 3, 0, 0, 0, 0)
    data = PC._PNG_SIG + PC._chunk(b"IHDR", ihdr)
    with pytest.raises(NotImplementedError, match="depth"):
        PC.png_decode(data + PC._chunk(b"IEND", b""))


# ------------------------------------------------------------------ JPEG

def test_jpeg_roundtrip_psnr():
    sm = _smooth(64, 48)
    out = PC.jpeg_decode(PC.jpeg_encode(sm, quality=95))
    assert psnr(sm, out) >= 45.0
    nz = _noise(7, 64, 64)
    out = PC.jpeg_decode(PC.jpeg_encode(nz,
                                        quality=PC.PureCodec.JPEG_QUALITY))
    assert psnr(nz, out) >= 40.0             # input_hint floor on noise
    assert not (out == nz).all()             # genuinely lossy


def test_jpeg_constant_color_and_odd_sizes():
    for (h, w) in [(8, 8), (7, 9), (17, 23), (1, 1)]:
        px = np.full((h, w, 3), (200, 64, 130), dtype=np.uint8)
        out = PC.jpeg_decode(PC.jpeg_encode(px, quality=95))
        assert out.shape == (h, w, 3)
        assert np.abs(out.astype(int) - px.astype(int)).max() <= 2, (h, w)


def _jpeg_segments(sof_comps, scan_comps, qt_ids, dc_specs, ac_specs,
                   h, w, scan_bits, dri=None):
    """Assemble a JPEG from the T.81 marker grammar by hand."""
    def seg(marker, body):
        return struct.pack(">HH", marker, len(body) + 2) + body
    out = bytearray(b"\xff\xd8")
    for tq in qt_ids:
        out += seg(0xFFDB, bytes([tq]) + bytes([1] * 64))  # all-ones table
    sof = struct.pack(">BHHB", 8, h, w, len(sof_comps))
    for cid, hv, tq in sof_comps:
        sof += bytes([cid, hv, tq])
    out += seg(0xFFC0, sof)
    for th, spec in dc_specs:
        out += seg(0xFFC4, bytes([0x00 | th]) + bytes(spec[0])
                   + bytes(spec[1]))
    for th, spec in ac_specs:
        out += seg(0xFFC4, bytes([0x10 | th]) + bytes(spec[0])
                   + bytes(spec[1]))
    if dri is not None:
        out += seg(0xFFDD, struct.pack(">H", dri))
    sos = bytes([len(scan_comps)])
    for cs, td, ta in scan_comps:
        sos += bytes([cs, (td << 4) | ta])
    sos += bytes([0, 63, 0])
    out += seg(0xFFDA, sos)
    out += scan_bits
    out += b"\xff\xd9"
    return bytes(out)


def _dc_only_block(bw, dc_codes, ac_codes, diff):
    s = int(abs(diff)).bit_length()
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    code, ln = ac_codes[0x00]                # EOB immediately
    bw.write(code, ln)


def test_jpeg_grayscale_single_component_hand_built():
    """1-component DC-only stream with all-ones quant: constant gray v
    decodes to exactly v (DC = 8*(v-128) under the orthonormal DCT)."""
    v = 180
    dc = 8 * (v - 128)
    bw = PC._BitWriter()
    dc_codes = PC._build_codes(*PC._DC_LUM)
    ac_codes = PC._build_codes(*PC._AC_LUM)
    _dc_only_block(bw, dc_codes, ac_codes, dc)
    data = _jpeg_segments(
        sof_comps=[(1, 0x11, 0)], scan_comps=[(1, 0, 0)], qt_ids=[0],
        dc_specs=[(0, PC._DC_LUM)], ac_specs=[(0, PC._AC_LUM)],
        h=8, w=8, scan_bits=bw.flush())
    out = PC.jpeg_decode(data)
    assert out.shape == (8, 8, 3)
    assert np.abs(out.astype(int) - v).max() <= 1


def test_jpeg_420_subsampling_hand_built():
    """2x2-sampled Y + 1x1 chroma (4:2:0): one 16x16 MCU, DC-only constant
    YCbCr — the decoder must place 4 Y blocks and upsample chroma."""
    y, cb, cr = 120, 140, 110
    dc_codes = PC._build_codes(*PC._DC_LUM)
    ac_codes = PC._build_codes(*PC._AC_LUM)
    bw = PC._BitWriter()
    # 4 Y blocks: first carries the DC diff, rest diff=0
    _dc_only_block(bw, dc_codes, ac_codes, 8 * (y - 128))
    for _ in range(3):
        _dc_only_block(bw, dc_codes, ac_codes, 0)
    _dc_only_block(bw, dc_codes, ac_codes, 8 * (cb - 128))   # Cb
    _dc_only_block(bw, dc_codes, ac_codes, 8 * (cr - 128))   # Cr
    data = _jpeg_segments(
        sof_comps=[(1, 0x22, 0), (2, 0x11, 0), (3, 0x11, 0)],
        scan_comps=[(1, 0, 0), (2, 0, 0), (3, 0, 0)], qt_ids=[0],
        dc_specs=[(0, PC._DC_LUM)], ac_specs=[(0, PC._AC_LUM)],
        h=16, w=16, scan_bits=bw.flush())
    out = PC.jpeg_decode(data)
    assert out.shape == (16, 16, 3)
    exp = PC._ycbcr_to_rgb(np.full((16, 16), float(y)),
                           np.full((16, 16), float(cb)),
                           np.full((16, 16), float(cr)))
    assert np.abs(out.astype(int) - exp.astype(int)).max() <= 1


def test_jpeg_restart_markers_hand_built():
    """DRI=1 with an RST0 between two 8x8 MCUs: DC predictor must reset,
    so the second block's diff is its full DC again."""
    v1, v2 = 100, 200
    dc_codes = PC._build_codes(*PC._DC_LUM)
    ac_codes = PC._build_codes(*PC._AC_LUM)
    bw1 = PC._BitWriter()
    _dc_only_block(bw1, dc_codes, ac_codes, 8 * (v1 - 128))
    bw2 = PC._BitWriter()
    _dc_only_block(bw2, dc_codes, ac_codes, 8 * (v2 - 128))  # full, not diff
    scan = bw1.flush() + b"\xff\xd0" + bw2.flush()
    data = _jpeg_segments(
        sof_comps=[(1, 0x11, 0)], scan_comps=[(1, 0, 0)], qt_ids=[0],
        dc_specs=[(0, PC._DC_LUM)], ac_specs=[(0, PC._AC_LUM)],
        h=8, w=16, scan_bits=scan, dri=1)
    out = PC.jpeg_decode(data)
    assert np.abs(out[:, :8].astype(int) - v1).max() <= 1
    assert np.abs(out[:, 8:].astype(int) - v2).max() <= 1


def test_jpeg_rejects_progressive_truncated_garbage():
    with pytest.raises(ValueError, match="SOI"):
        PC.jpeg_decode(b"not a jpeg at all")
    good = PC.jpeg_encode(_smooth(16, 16), quality=90)
    lossless = bytearray(good)
    i = lossless.find(b"\xff\xc0")
    lossless[i + 1] = 0xC3                    # flip SOF0 → SOF3 lossless
    with pytest.raises(NotImplementedError, match="non-baseline"):
        PC.jpeg_decode(bytes(lossless))
    with pytest.raises(Exception):
        PC.jpeg_decode(good[: len(good) // 2])


def test_jpeg_grayscale_roundtrip_via_3comp_encoder():
    """Gray-content RGB image: encode/decode stays gray (channel deltas
    from chroma quantization stay tiny)."""
    g = _smooth(24, 24)[:, :, :1]
    px = np.repeat(g, 3, axis=2)
    out = PC.jpeg_decode(PC.jpeg_encode(px, quality=95))
    assert np.abs(out.astype(int) - px.astype(int)).max() <= 6
    assert np.abs(out[:, :, 0].astype(int) - out[:, :, 1].astype(int)).max() <= 4


# ------------------------------------------------------ magic dispatch

def test_pure_codec_registered_and_dispatches():
    """codec.decode sends real-format bytes to PureCodec by their magic."""
    px = _noise(11, 32, 32)
    png = PC.PureCodec.encode(px, "png")
    dec, fmt = decode(png)
    assert fmt == "png" and (dec == px).all()
    jp = PC.PureCodec.encode(px, "jpeg")
    dec, fmt = decode(jp)
    assert fmt == "jpeg" and jp[:2] == b"\xff\xd8"
    assert psnr(px, dec) >= 40.0
    assert (dec == PC.PureCodec.decode(jp)[0]).all()
    with pytest.raises(ValueError):
        decode(b"neither FSIM nor a real image")


# ------------------------------------------------------------ fuzz (pure)

from hypothesis import given, settings
from hypothesis import strategies as st


@given(st.integers(0, 2**32 - 1), st.integers(1, 24), st.integers(1, 24))
@settings(max_examples=60, deadline=None, derandomize=True)
def test_png_roundtrip_property(seed, h, w):
    px = _noise(seed, h, w)
    assert (PC.png_decode(PC.png_encode(px)) == px).all()


@given(st.integers(0, 2**32 - 1), st.integers(1, 3), st.integers(1, 3))
@settings(max_examples=25, deadline=None, derandomize=True)
def test_jpeg_roundtrip_property(seed, bh, bw):
    """Any content, any block-ish size: decode(encode(x)) keeps shape and
    stays within the q99 error envelope (max per-pixel error bounded by
    the all-but-DC-1 quant step through YCbCr)."""
    h, w = bh * 8 - (seed % 5), bw * 8 - (seed // 7 % 5)
    h, w = max(h, 1), max(w, 1)
    px = _noise(seed, h, w)
    out = PC.jpeg_decode(PC.jpeg_encode(px,
                                        quality=PC.PureCodec.JPEG_QUALITY))
    assert out.shape == px.shape
    assert psnr(px, out) >= 35.0     # tiny images: PSNR floor, not mean


# ------------------------------------------------------------------- GIF

def _palette_image(seed, h, w, n_colors=16):
    rng = np.random.default_rng(seed)
    pal = rng.integers(0, 256, (n_colors, 3), dtype=np.uint8)
    idx = rng.integers(0, n_colors, (h, w))
    return pal[idx]


def test_gif_roundtrip_exact():
    for seed, (h, w) in [(1, (1, 1)), (2, (7, 9)), (3, (33, 17)),
                         (4, (64, 64))]:
        px = _palette_image(seed, h, w)
        data = PC.gif_encode(px)
        assert data[:6] == b"GIF89a"
        assert (PC.gif_decode(data) == px).all(), (h, w)
    # 256 distinct colors exactly fits; 257+ raises
    px = np.arange(256, dtype=np.uint8).reshape(16, 16)
    px = np.stack([px, px, px], axis=-1)
    assert (PC.gif_decode(PC.gif_encode(px)) == px).all()
    too_many = np.zeros((20, 20, 3), np.uint8)
    too_many[:, :, 0] = np.arange(400).reshape(20, 20) % 256
    too_many[:, :, 1] = np.arange(400).reshape(20, 20) // 256
    with pytest.raises(ValueError, match="256"):
        PC.gif_encode(too_many)


def _gif_hand_build(idx_rows, pal, min_cs=2, interlace=False,
                    local_table=False, extra_frame=False):
    """Independent GIF builder: its own LSB-first variable-width LZW
    emitter (literal codes, mirroring the decoder's table growth), hand-
    assembled blocks. Exercises paths the module encoder never emits:
    small code sizes, interlace, local color tables, animation."""
    h, w = len(idx_rows), len(idx_rows[0])
    clear, end = 1 << min_cs, (1 << min_cs) + 1
    rows = list(idx_rows)
    if interlace:
        order = [y for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
                 for y in range(start, h, step)]
        rows = [idx_rows[y] for y in order]
    acc = nbits = 0
    payload = bytearray()
    code_size = min_cs + 1
    table_len = clear + 2

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += code_size
        while nbits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear)
    first = True
    for v in (v for row in rows for v in row):
        emit(v)
        if not first:
            table_len += 1                     # decoder appends per code
            if table_len == (1 << code_size) and code_size < 12:
                code_size += 1
        first = False
    emit(end)
    if nbits:
        payload.append(acc & 0xFF)
    pal_n = len(pal)
    pal_bits = max(1, (pal_n - 1).bit_length())
    pal_padded = list(pal) + [(0, 0, 0)] * ((1 << pal_bits) - pal_n)
    pal_bytes = bytes(c for rgb in pal_padded for c in rgb)
    out = bytearray(b"GIF89a") + struct.pack("<HH", w, h)
    if local_table:
        out += bytes([0x00, 0, 0])             # no global table
    else:
        out += bytes([0x80 | (pal_bits - 1), 0, 0]) + pal_bytes
    # a GCE extension block (decoder must skip it)
    out += b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    iflags = (0x40 if interlace else 0) | \
             ((0x80 | (pal_bits - 1)) if local_table else 0)
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([iflags])
    if local_table:
        out += pal_bytes
    out += bytes([min_cs])
    for off in range(0, len(payload), 255):
        chunk = payload[off:off + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    if extra_frame:                            # animated: 2nd frame, all 0
        out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        out += bytes([min_cs]) + b"\x01\x00" + b"\x00"   # degenerate
    out += b"\x3b"
    return bytes(out)


def test_gif_decode_hand_built_small_codes_interlace_lct():
    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (9, 9, 9)]
    rng = np.random.default_rng(8)
    idx = rng.integers(0, 4, (16, 5))
    exp = np.array(pal, np.uint8)[idx]
    plain = _gif_hand_build([list(r) for r in idx], pal)
    assert (PC.gif_decode(plain) == exp).all()
    inter = _gif_hand_build([list(r) for r in idx], pal, interlace=True)
    assert (PC.gif_decode(inter) == exp).all()
    lct = _gif_hand_build([list(r) for r in idx], pal, local_table=True)
    assert (PC.gif_decode(lct) == exp).all()
    anim = _gif_hand_build([list(r) for r in idx], pal, extra_frame=True)
    assert (PC.gif_decode(anim) == exp).all()   # first frame only


def test_gif_via_seam_and_probe():
    from fetcho_spark.functions.mediameta import probe_image
    px = _palette_image(9, 12, 18)
    data = PC.PureCodec.encode(px, "gif")
    dec, fmt = decode(data)
    assert fmt == "gif" and (dec == px).all()
    m = probe_image(data)
    assert (m["format"], m["width"], m["height"]) == ("gif", 18, 12)
    with pytest.raises(ValueError):
        PC.gif_decode(b"GIF89a" + b"\x00" * 4)


# --------------------------------------------- PNG Adam7 + 16-bit depth

_ADAM7 = ((0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
          (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2))


def _png_hand_build_interlaced(pixels, filters=(0, 1, 2, 3, 4)):
    """Forward Adam7: split into the seven pass sub-images, filter each
    independently (reusing the test-side forward filter via
    _png_hand_build's inner logic would couple streams, so this builds
    pass streams directly), assemble one IDAT."""
    h, w, nch = pixels.shape
    raw = bytearray()
    k = 0
    for (x0, dx, y0, dy) in _ADAM7:
        sub = pixels[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        ph, pw = sub.shape[:2]
        flat = sub.reshape(ph, pw * nch).astype(np.int32)
        prev = np.zeros(pw * nch, np.int32)
        for y in range(ph):
            ft = filters[k % len(filters)]
            k += 1
            line = flat[y]
            out = np.zeros(pw * nch, np.int32)
            for x in range(pw * nch):
                a = int(line[x - nch]) if x >= nch else 0
                b = int(prev[x])
                c = int(prev[x - nch]) if x >= nch else 0
                if ft == 0:
                    out[x] = line[x]
                elif ft == 1:
                    out[x] = line[x] - a
                elif ft == 2:
                    out[x] = line[x] - b
                elif ft == 3:
                    out[x] = line[x] - ((a + b) >> 1)
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c)
                    out[x] = line[x] - pred
            raw.append(ft)
            raw += bytes((out & 0xFF).astype(np.uint8))
            prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 1)   # interlace=1
    return (PC._PNG_SIG + PC._chunk(b"IHDR", ihdr)
            + PC._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + PC._chunk(b"IEND", b""))


@pytest.mark.parametrize("h,w", [(1, 1), (3, 5), (8, 8), (13, 21),
                                 (16, 16), (7, 2)])
def test_png_adam7_interlaced_decode(h, w):
    px = _noise(h * 31 + w, h, w)
    data = _png_hand_build_interlaced(px)
    assert (PC.png_decode(data) == px).all(), (h, w)


def test_png_16bit_decode():
    rng = np.random.default_rng(12)
    hi = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    lo = rng.integers(0, 256, (9, 7, 3), dtype=np.uint8)
    # 16-bit big-endian samples: hi byte then lo byte per sample
    h, w, _ = hi.shape
    inter = np.empty((h, w * 3 * 2), dtype=np.uint8)
    inter[:, 0::2] = hi.reshape(h, -1)
    inter[:, 1::2] = lo.reshape(h, -1)
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        raw += bytes(inter[y])
    ihdr = struct.pack(">IIBBBBB", w, h, 16, 2, 0, 0, 0)
    data = (PC._PNG_SIG + PC._chunk(b"IHDR", ihdr)
            + PC._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + PC._chunk(b"IEND", b""))
    assert (PC.png_decode(data) == hi).all()   # high byte = 16→8 scale


# ------------------------------------------------------ progressive JPEG

def test_jpeg_progressive_roundtrip_equals_baseline():
    """Spectral-selection progressive (SOF2, DC scan + per-component AC
    scans) carries the SAME coefficients as baseline at the same quality:
    decodes must be byte-identical."""
    for img in (_smooth(33, 22), _noise(3, 24, 24), _smooth(8, 8),
                _noise(4, 7, 9)):
        prog = PC.jpeg_encode_progressive(img, quality=90)
        base = PC.jpeg_encode(img, quality=90)
        assert b"\xff\xc2" in prog and prog.count(b"\xff\xda") == 4
        assert (PC.jpeg_decode(prog) == PC.jpeg_decode(base)).all()


def _prog_gray(scans, h=8, w=8, ac_spec=None, prec=8):
    """Single-component SOF2 stream from hand-built scan list:
    [(Ss, Se, Ah, Al, bits_bytes), ...], all-ones quant table. ``ac_spec``
    overrides the AC huffman table (the Annex-K baseline table lacks the
    EOBn symbols 0x10.. real progressive encoders define)."""
    out = bytearray(b"\xff\xd8")
    out += struct.pack(">HH", 0xFFDB, 67) + b"\x00" + bytes([1] * 64)
    out += struct.pack(">HH", 0xFFC2, 11) \
        + struct.pack(">BHHB", prec, h, w, 1) + bytes([1, 0x11, 0])
    bits, values = PC._DC_LUM
    out += struct.pack(">HH", 0xFFC4, 2 + 1 + 16 + len(values)) \
        + b"\x00" + bytes(bits) + bytes(values)
    bits, values = ac_spec or PC._AC_LUM
    out += struct.pack(">HH", 0xFFC4, 2 + 1 + 16 + len(values)) \
        + b"\x10" + bytes(bits) + bytes(values)
    for ss, se, ah, al, scan_bits in scans:
        out += struct.pack(">HH", 0xFFDA, 8) \
            + bytes([1, 1, 0x00, ss, se, (ah << 4) | al]) + scan_bits
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_progressive_successive_approximation_hand_built():
    """DC first at Al=1 + DC refine, AC first at Al=1 + AC refine with
    new-coefficient insertion — the full G.1.2.3 machinery on one block
    with hand-chosen coefficients (all-ones quant → exact arithmetic)."""
    dc = 42                                     # DC: 42 = (21<<1) | 0
    ac_full = {1: 6, 3: -5, 10: 1}              # zig indices (k: value)
    dcc = PC._build_codes(*PC._DC_LUM)
    acc = PC._build_codes(*PC._AC_LUM)

    def cat_bits(bw, v):
        s = int(abs(v)).bit_length()
        code, ln = dcc[s]
        bw.write(code, ln)
        if s:
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)

    # scan 1: DC first, Al=1 → send 42>>1 = 21
    b1 = PC._BitWriter(); cat_bits(b1, 21)
    # scan 2: DC refine, Al=0 → one bit (42 & 1 = 0)
    b2 = PC._BitWriter(); b2.write(0, 1)
    # scan 3: AC first 1..63, Al=1 → 6>>1=3 at k=1; -5→-2 at k=3; k=10
    #         value 1>>1=0 vanishes at this precision; EOB
    b3 = PC._BitWriter()
    def ac_sym(bw, run, v):
        s = int(abs(v)).bit_length()
        code, ln = acc[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
    ac_sym(b3, 0, 3)            # k=1
    ac_sym(b3, 1, -2)           # skip k=2, hit k=3
    code, ln = acc[0x00]; b3.write(code, ln)    # EOB
    # scan 4: AC refine 1..63, Al=0 — corrections for k=1 (6&1=0) and
    # k=3 (5&1=1), NEW coefficient +1 at k=10 (6 zero-history skips), EOB
    b4 = PC._BitWriter()
    code, ln = acc[(7 << 4) | 1]                # skip 7 zero-history, s=1
    b4.write(code, ln)
    b4.write(1, 1)                              # sign bit: positive
    # run counts ZERO-HISTORY coefficients to skip; nonzero-history ones
    # consume correction bits without decrementing the run. Zeros before
    # k=10 are k=2,4,5,6,7,8,9 → run=7 places the new ±1 at k=10.
    # Bit order after symbol+sign: corr(k1), corr(k3).
    b4.write(0, 1)                              # k=1: 6 low bit 0
    b4.write(1, 1)                              # k=3: 5 low bit 1
    code, ln = acc[0x00]; b4.write(code, ln)    # EOB (covers k=11..63)
    data = _prog_gray([(0, 0, 0, 1, b1.flush()),
                       (0, 0, 1, 0, b2.flush()),
                       (1, 63, 0, 1, b3.flush()),
                       (1, 63, 1, 0, b4.flush())])
    out = PC.jpeg_decode(data)
    # expected: IDCT of the exact coefficient block
    zz = np.zeros(64)
    zz[0] = dc
    for k, v in ac_full.items():
        zz[k] = v
    nat = np.zeros(64)
    nat[PC._ZIGZAG] = zz
    exp = np.clip((PC._DCT.T @ nat.reshape(8, 8) @ PC._DCT + 128).round(),
                  0, 255).astype(np.uint8)
    assert (out[:, :, 0] == exp).all()
    assert (out[:, :, 0] == out[:, :, 1]).all()


def test_jpeg_12bit_baseline_hand_built():
    """12-bit extended-sequential (SOF1, prec=12) with a Pq=1 16-bit quant
    table: DC-only 8x8 gray block, dc=9216 with all-ones quant gives
    constant sample 9216/8 + 2048 = 3200, scaled to 8-bit = 200 exactly
    (T.81 B.2.2 allows prec 12; output convention: full-range >>4)."""
    out = bytearray(b"\xff\xd8")
    # DQT Pq=1: 64 big-endian uint16 ones
    out += struct.pack(">HH", 0xFFDB, 2 + 1 + 128) + b"\x10" \
        + struct.pack(">64H", *([1] * 64))
    # SOF1 prec=12, 8x8, 1 component
    out += struct.pack(">HH", 0xFFC1, 11) \
        + struct.pack(">BHHB", 12, 8, 8, 1) + bytes([1, 0x11, 0])
    # DC table: single symbol, category 14 (12-bit DC range needs cats >11)
    dc_bits = [1] + [0] * 15
    out += struct.pack(">HH", 0xFFC4, 2 + 1 + 16 + 1) \
        + b"\x00" + bytes(dc_bits) + bytes([14])
    # AC table: single symbol, EOB
    out += struct.pack(">HH", 0xFFC4, 2 + 1 + 16 + 1) \
        + b"\x10" + bytes(dc_bits) + bytes([0x00])
    out += struct.pack(">HH", 0xFFDA, 8) + bytes([1, 1, 0x00, 0, 63, 0])
    bw = PC._BitWriter()
    bw.write(0, 1)                      # DC huffman code "0" → category 14
    bw.write(9216, 14)                  # positive magnitude bits
    bw.write(0, 1)                      # AC huffman code "0" → EOB
    out += bw.flush() + b"\xff\xd9"
    px = PC.jpeg_decode(bytes(out))
    assert px.shape == (8, 8, 3)
    assert (px == 200).all()


def test_jpeg_12bit_progressive_hand_built():
    """12-bit progressive (SOF2 prec=12): one DC-first scan, dc=1792
    (category 11, still within the Annex-K DC table) → constant
    (1792/8 + 2048) / 16 = 142 exactly via _prog_reconstruct scaling."""
    dcc = PC._build_codes(*PC._DC_LUM)
    b1 = PC._BitWriter()
    code, ln = dcc[11]
    b1.write(code, ln)
    b1.write(1792, 11)
    data = _prog_gray([(0, 0, 0, 0, b1.flush())], prec=12)
    px = PC.jpeg_decode(data)
    assert px.shape == (8, 8, 3)
    assert (px == 142).all()


def test_jpeg_precision_rejects_illegal():
    """prec values outside T.81 B.2.2 (8, 12) raise, not mis-decode."""
    out = bytearray(b"\xff\xd8")
    out += struct.pack(">HH", 0xFFC0, 11) \
        + struct.pack(">BHHB", 10, 8, 8, 1) + bytes([1, 0x11, 0])
    out += b"\xff\xd9"
    with pytest.raises(NotImplementedError):
        PC.jpeg_decode(bytes(out))


def test_jpeg_progressive_eobrun_spans_blocks():
    """EOBn with n>1 in an AC-first scan ends the current block AND the
    next: two-block image where block 2's AC stays empty via EOB2."""
    dcc = PC._build_codes(*PC._DC_LUM)
    acc = PC._build_codes(*PC._AC_LUM)
    b1 = PC._BitWriter()
    for dc in (16, 32):                        # two DC values, diff coded
        pass
    # DC scan: block1 dc=16, block2 diff=16
    def cat_bits(bw, v):
        s = int(abs(v)).bit_length()
        code, ln = dcc[s]
        bw.write(code, ln)
        if s:
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
    cat_bits(b1, 16)
    cat_bits(b1, 16)
    # custom AC table carrying 0x02 and the EOB2 symbol 0x10
    ac_spec = ([0, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0],
               [0x02, 0x10])
    acc2 = PC._build_codes(*ac_spec)
    b2 = PC._BitWriter()
    code, ln = acc2[(0 << 4) | 2]              # block1: k=1 value 2
    b2.write(code, ln)
    b2.write(2, 2)
    code, ln = acc2[0x10]                      # EOB2: r=1 → 2-block run
    b2.write(code, ln)
    b2.write(0, 1)                             # receive(1) = 0 → eobrun 1
    data = _prog_gray([(0, 0, 0, 0, b1.flush()),
                       (1, 63, 0, 0, b2.flush())], h=8, w=16,
                      ac_spec=ac_spec)
    out = PC.jpeg_decode(data)
    zz1 = np.zeros(64); zz1[0] = 16; zz1[1] = 2
    nat = np.zeros(64); nat[PC._ZIGZAG] = zz1
    exp1 = np.clip((PC._DCT.T @ nat.reshape(8, 8) @ PC._DCT + 128).round(),
                   0, 255).astype(np.uint8)
    exp2 = np.full((8, 8), 128 + 32 / 8, np.float64).round().astype(np.uint8)
    assert (out[:, :8, 0] == exp1).all()
    assert (out[:, 8:, 0] == exp2).all()


def _png_subbyte(idx, depth, ctype, plte=None):
    """Hand-packed sub-byte PNG (MSB-first groups, filter 0 rows)."""
    h, w = idx.shape
    raw = bytearray()
    for y in range(h):
        raw.append(0)
        bits = "".join(format(int(v), f"0{depth}b") for v in idx[y])
        bits += "0" * (-len(bits) % 8)
        raw += bytes(int(bits[i:i + 8], 2) for i in range(0, len(bits), 8))
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 0)
    out = PC._PNG_SIG + PC._chunk(b"IHDR", ihdr)
    if plte is not None:
        out += PC._chunk(b"PLTE", bytes(plte.flatten()))
    return (out + PC._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + PC._chunk(b"IEND", b""))


def test_png_subbyte_depths():
    rng = np.random.default_rng(21)
    # 1-bit gray: 0/255; width not byte-aligned (w=11)
    one = rng.integers(0, 2, (5, 11))
    assert (PC.png_decode(_png_subbyte(one, 1, 0))
            == (one * 255)[:, :, None].repeat(3, 2)).all()
    # 2-bit gray scale 85, 4-bit gray scale 17
    two = rng.integers(0, 4, (7, 9))
    assert (PC.png_decode(_png_subbyte(two, 2, 0))
            == (two * 85)[:, :, None].repeat(3, 2)).all()
    four = rng.integers(0, 16, (6, 5))
    assert (PC.png_decode(_png_subbyte(four, 4, 0))
            == (four * 17)[:, :, None].repeat(3, 2)).all()
    # 4-bit palette
    plte = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    pal_idx = rng.integers(0, 16, (4, 7))
    assert (PC.png_decode(_png_subbyte(pal_idx, 4, 3, plte))
            == plte[pal_idx]).all()


def _png_subbyte_interlaced(idx, depth, ctype, plte=None,
                            filters=(0, 1, 2, 3, 4)):
    """Forward Adam7 for sub-byte depths: pack each pass's rows MSB-first,
    then filter the PACKED bytes (filters see bpp=1) per pass."""
    h, w = idx.shape
    raw = bytearray()
    k = 0
    for (x0, dx, y0, dy) in _ADAM7:
        sub = idx[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        ph, pw = sub.shape
        packed = []
        for y in range(ph):
            bits = "".join(format(int(v), f"0{depth}b") for v in sub[y])
            bits += "0" * (-len(bits) % 8)
            packed.append(np.array([int(bits[i:i + 8], 2)
                                    for i in range(0, len(bits), 8)],
                                   dtype=np.int32))
        stride = len(packed[0])
        prev = np.zeros(stride, np.int32)
        for y in range(ph):
            ft = filters[k % len(filters)]
            k += 1
            line = packed[y]
            out = np.zeros(stride, np.int32)
            for x in range(stride):
                a = int(line[x - 1]) if x >= 1 else 0
                b = int(prev[x])
                c = int(prev[x - 1]) if x >= 1 else 0
                if ft == 0:
                    out[x] = line[x]
                elif ft == 1:
                    out[x] = line[x] - a
                elif ft == 2:
                    out[x] = line[x] - b
                elif ft == 3:
                    out[x] = line[x] - ((a + b) >> 1)
                else:
                    p = a + b - c
                    pa, pb, pc_ = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc_) else (
                        b if pb <= pc_ else c)
                    out[x] = line[x] - pred
            raw.append(ft)
            raw += bytes((out & 0xFF).astype(np.uint8))
            prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1)
    outb = PC._PNG_SIG + PC._chunk(b"IHDR", ihdr)
    if plte is not None:
        outb += PC._chunk(b"PLTE", bytes(plte.flatten()))
    return (outb + PC._chunk(b"IDAT", zlib.compress(bytes(raw), 6))
            + PC._chunk(b"IEND", b""))


@pytest.mark.parametrize("depth,scale", [(1, 255), (2, 85), (4, 17)])
def test_png_subbyte_adam7_gray(depth, scale):
    rng = np.random.default_rng(31 + depth)
    idx = rng.integers(0, 1 << depth, (13, 11))
    out = PC.png_decode(_png_subbyte_interlaced(idx, depth, 0))
    assert (out == (idx * scale)[:, :, None].repeat(3, 2)).all()


def test_png_subbyte_adam7_palette_and_edge_dims():
    rng = np.random.default_rng(77)
    plte = rng.integers(0, 256, (16, 3), dtype=np.uint8)
    for (h, w) in [(1, 1), (3, 2), (8, 8), (9, 16), (5, 21)]:
        pal_idx = rng.integers(0, 16, (h, w))
        out = PC.png_decode(_png_subbyte_interlaced(pal_idx, 4, 3, plte))
        assert (out == plte[pal_idx]).all(), (h, w)


# --------------------------------------------------- JPEG 16-bit DQT (Pq=1)

def _rewrite_dqt_16bit(data: bytes) -> bytes:
    """Rewrite every 8-bit DQT segment of a JFIF stream as Pq=1 16-bit
    (same values), leaving everything else byte-identical."""
    out = bytearray(data[:2])
    assert data[:2] == b"\xff\xd8"
    pos = 2
    while pos < len(data):
        assert data[pos] == 0xFF
        marker = data[pos + 1]
        if marker == 0xDA:                     # SOS: copy the rest verbatim
            out += data[pos:]
            break
        (seglen,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + seglen]
        if marker == 0xDB:
            pq, tq = body[0] >> 4, body[0] & 0x0F
            assert pq == 0 and len(body) == 65
            nb = (bytes([0x10 | tq])
                  + np.frombuffer(body[1:], np.uint8).astype(">u2").tobytes())
            out += struct.pack(">HH", 0xFFDB, len(nb) + 2) + nb
        else:
            out += data[pos:pos + 2 + seglen]
        pos += 2 + seglen
    return bytes(out)


def test_jpeg_16bit_dqt_decodes_identically():
    px = _noise(9, 24, 17)
    enc = PC.jpeg_encode(px, quality=80)
    enc16 = _rewrite_dqt_16bit(enc)
    assert enc16 != enc and len(enc16) == len(enc) + 128
    assert (PC.jpeg_decode(enc16) == PC.jpeg_decode(enc)).all()


def test_jpeg_16bit_dqt_values_over_255():
    """A quant table that genuinely needs 16 bits (steps of 300): coarse
    AC quantization of a smooth image must still decode close — impossible
    if the big-endian 16-bit values were parsed wrong."""
    px = _smooth(32, 24)
    h, w = px.shape[:2]
    qt = np.full((8, 8), 300, np.int32)
    qt[0, 0] = 16
    ycc = PC._rgb_to_ycbcr(px)
    ycc = np.pad(ycc, ((0, -h % 8), (0, -w % 8), (0, 0)), mode="edge")
    by, bx = ycc.shape[0] // 8, ycc.shape[1] // 8
    comps_zz = []
    for ci in range(3):
        plane = ycc[:, :, ci] - 128.0
        blocks = (plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
                  .reshape(-1, 8, 8))
        coeff = np.einsum("ux,nxy,vy->nuv", PC._DCT, blocks, PC._DCT)
        qz = np.round(coeff / qt).astype(np.int32)
        comps_zz.append(qz.reshape(-1, 64)[:, PC._ZIGZAG])
    dc_l, ac_l = PC._build_codes(*PC._DC_LUM), PC._build_codes(*PC._AC_LUM)
    dc_c, ac_c = PC._build_codes(*PC._DC_CHR), PC._build_codes(*PC._AC_CHR)
    bw = PC._BitWriter()
    preds = [0, 0, 0]
    for n in range(by * bx):
        for ci in range(3):
            preds[ci] = PC._encode_block(
                bw, comps_zz[ci][n], dc_l if ci == 0 else dc_c,
                ac_l if ci == 0 else ac_c, preds[ci])

    def dht(tc_th, spec):
        bits, values = spec
        return bytes([tc_th]) + bytes(bits) + bytes(values)

    out = bytearray(b"\xff\xd8")
    out += PC._seg(0xFFDB, b"\x10"                       # Pq=1, Tq=0
                   + qt.flatten()[PC._ZIGZAG].astype(">u2").tobytes())
    out += PC._seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 3)
                   + bytes([1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]))
    out += PC._seg(0xFFC4, dht(0x00, PC._DC_LUM))
    out += PC._seg(0xFFC4, dht(0x10, PC._AC_LUM))
    out += PC._seg(0xFFC4, dht(0x01, PC._DC_CHR))
    out += PC._seg(0xFFC4, dht(0x11, PC._AC_CHR))
    out += PC._seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw.flush()
    out += b"\xff\xd9"
    dec = PC.jpeg_decode(bytes(out))
    # exact expectation: dequantize the SAME coefficients with the SAME
    # 16-bit table and invert — byte-for-byte equality proves the stream's
    # big-endian uint16 values were parsed exactly (a byte-swapped or
    # misaligned parse cannot reproduce this)
    planes = []
    for ci in range(3):
        plane = np.zeros((by * 8, bx * 8))
        for n in range(by * bx):
            blk = np.zeros(64)
            blk[PC._ZIGZAG] = comps_zz[ci][n] * qt.flatten()[PC._ZIGZAG]
            yb, xb = divmod(n, bx)
            plane[yb * 8:yb * 8 + 8, xb * 8:xb * 8 + 8] = \
                PC._DCT.T @ blk.reshape(8, 8) @ PC._DCT + 128.0
        planes.append(plane[:h, :w])
    expected = PC._ycbcr_to_rgb(planes[0], planes[1], planes[2])
    assert (dec == expected).all()
    assert psnr(dec, px) > 15          # coarse but sane on a smooth image


def test_decoders_fail_cleanly_on_every_truncation():
    """Arbitrary web bytes: truncation at ANY offset must raise
    ValueError/NotImplementedError — never IndexError/struct/zlib leaks
    (the payload-verify path maps ValueError to a per-row failure)."""
    img = _noise(1, 16, 16)
    pal = np.random.default_rng(2).integers(0, 256, (8, 3), dtype=np.uint8)
    pal_img = pal[np.random.default_rng(3).integers(0, 8, (16, 16))]
    streams = [PC.png_encode(img), PC.jpeg_encode(img, 90),
               PC.jpeg_encode_progressive(img, 90), PC.gif_encode(pal_img)]
    for data in streams:
        for cut in range(1, len(data), 3):
            try:
                PC.PureCodec.decode(data[:cut])
            except (ValueError, NotImplementedError):
                pass


# ---------------------------------------------------- animated GIF frames

def _lzw_literal9(idx):
    """Index grid → min-code-size-8 LZW image data in sub-blocks: 9-bit
    literal codes with a CLEAR every 254 codes, so the code size never
    leaves 9 bits."""
    acc = nbits = 0
    payload = bytearray()

    def emit(code):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += 9
        while nbits >= 8:
            payload.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(256)
    for i, v in enumerate(idx.reshape(-1)):
        if i and i % 254 == 0:
            emit(256)
        emit(int(v))
    emit(257)
    if nbits:
        payload.append(acc & 0xFF)
    out = bytearray()
    for off in range(0, len(payload), 255):
        chunk = payload[off:off + 255]
        out += bytes([len(chunk)]) + chunk
    return bytes(out) + b"\x00"


def _anim_gif(frame_blocks, gct4, bg=0, w=4, h=4):
    """Hand-build an animated GIF89a from (gce_or_None, descriptor, grid)
    blocks: gce = (disposal, transparent_idx_or_None, delay_cs),
    descriptor = (left, top, iw, ih)."""
    pal = np.zeros((256, 3), np.uint8)
    pal[:len(gct4)] = np.asarray(gct4, np.uint8)
    out = bytearray(b"GIF89a") + struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, bg, 0]) + pal.tobytes()
    for gce, (left, top, iw, ih), grid in frame_blocks:
        if gce is not None:
            disp, tr, delay = gce
            packed = (disp << 2) | (0x01 if tr is not None else 0)
            out += (b"\x21\xf9\x04" + bytes([packed])
                    + struct.pack("<H", delay)
                    + bytes([tr if tr is not None else 0]) + b"\x00")
        out += b"\x2c" + struct.pack("<HHHH", left, top, iw, ih) + b"\x00"
        out += bytes([8]) + _lzw_literal9(np.asarray(grid, np.uint8))
    out += b"\x3b"
    return bytes(out)


GCT = [(10, 10, 10), (200, 0, 0), (0, 200, 0), (0, 0, 200)]


def test_gif_frames_transparency_and_disposal_background():
    full1 = np.full((4, 4), 1, np.uint8)                 # red canvas
    sub2 = np.array([[2, 0], [0, 2]], np.uint8)          # green diag, trans 0
    full3 = np.full((4, 4), 3, np.uint8)                 # blue canvas
    data = _anim_gif([
        ((1, None, 5), (0, 0, 4, 4), full1),
        ((2, 0, 7), (1, 1, 2, 2), sub2),                 # disposal 2
        ((1, None, 9), (0, 0, 4, 4), full3),
    ], GCT)
    frames = PC.gif_frames(data)
    assert [d for _, d in frames] == [5, 7, 9]
    f1, f2, f3 = [f for f, _ in frames]
    red, green, blue, bg = (np.array(GCT[i], np.uint8) for i in (1, 2, 3, 0))
    assert (f1 == red).all()
    # frame 2: green only on the diag of the 2x2 rect; transparent pixels
    # show the still-red canvas
    assert (f2[1, 1] == green).all() and (f2[2, 2] == green).all()
    assert (f2[1, 2] == red).all() and (f2[2, 1] == red).all()
    assert (f2[0, 0] == red).all()
    # frame 3 painted full-canvas AFTER the rect was restored to background
    assert (f3 == blue).all()


def test_gif_frames_disposal_previous():
    full1 = np.full((4, 4), 1, np.uint8)
    sub2 = np.full((2, 2), 2, np.uint8)
    dot3 = np.array([[3]], np.uint8)
    data = _anim_gif([
        ((1, None, 0), (0, 0, 4, 4), full1),
        ((3, None, 0), (1, 1, 2, 2), sub2),              # restore previous
        ((0, None, 0), (0, 0, 1, 1), dot3),
    ], GCT)
    f1, f2, f3 = [f for f, _ in PC.gif_frames(data)]
    red, green, blue = (np.array(GCT[i], np.uint8) for i in (1, 2, 3))
    assert (f2[1:3, 1:3] == green).all() and (f2[0, 0] == red).all()
    # frame 3: the green rect is gone (canvas restored), one blue dot
    assert (f3[0, 0] == blue).all()
    assert (f3[1:3, 1:3] == red).all()


def test_gif_frames_static_matches_gif_decode():
    img = np.zeros((5, 7, 3), np.uint8)
    img[2:, 3:] = (9, 8, 7)
    data = PC.gif_encode(img)
    frames = PC.gif_frames(data)
    assert len(frames) == 1
    assert (frames[0][0] == PC.gif_decode(data)).all()


# -------------------------------------------------------- image augment

@pytest.mark.spark
def test_image_augment_exact_transforms(spark):
    from fetcho_spark.operators.multimodal import image_augment
    rng = np.random.RandomState(3)
    px = rng.randint(0, 256, (8, 6, 3), np.uint8)
    data = PC.png_encode(px)
    df = spark.createDataFrame([("i1", bytearray(data)),
                                ("bad", bytearray(b"nope"))],
                               "image_id string, bytes binary")
    ops = ("identity", "hflip", "vflip", "rot90", "rot180", "rot270",
           "gray", "center_crop")
    got = {(r["image_id"], r["op"]): r
           for r in image_augment(df, ops=ops).collect()}
    want = {
        "identity": px, "hflip": px[:, ::-1], "vflip": px[::-1],
        "rot90": np.rot90(px, 1), "rot180": np.rot90(px, 2),
        "rot270": np.rot90(px, 3),
        "gray": np.repeat(((px[..., 0].astype(np.int64) * 299
                            + px[..., 1].astype(np.int64) * 587
                            + px[..., 2].astype(np.int64) * 114) // 1000)
                          .astype(np.uint8)[..., None], 3, axis=2),
        "center_crop": px[2:6, 1:4],
    }
    for op, exp in want.items():
        r = got[("i1", op)]
        assert (r["w"], r["h"]) == (exp.shape[1], exp.shape[0]), op
        out, fmt = decode(bytes(r["bytes"]))  # stand-in lossless re-encode
        assert fmt == "png" and (out == exp).all(), op
    # undecodable input -> one err row, job survives
    assert got[("bad", None)]["err"] == "undecodable"
    # unknown op raises up front
    with pytest.raises(ValueError):
        image_augment(df, ops=("zoom",))


def test_jpeg_quality_estimate_roundtrip():
    """The estimator inverts the writer's own public-formula scaling
    exactly at every quality, for baseline AND progressive streams."""
    import numpy as np
    from fetcho_spark.functions.pure_codec import (
        jpeg_encode, jpeg_encode_progressive, jpeg_quality_estimate)
    rng_free = (np.arange(16 * 16 * 3, dtype=np.uint8)
                .reshape(16, 16, 3))
    for q in (5, 30, 50, 75, 92, 99, 100):
        est = jpeg_quality_estimate(jpeg_encode(rng_free, quality=q))
        assert est == {"quality": q, "exact": True, "l1": 0}, (q, est)
    est = jpeg_quality_estimate(
        jpeg_encode_progressive(rng_free, quality=75))
    assert est["quality"] == 75 and est["exact"]


def test_jpeg_quality_estimate_nonstandard_table():
    """A hand-perturbed DQT is no longer exact but lands near the
    original quality."""
    import numpy as np
    from fetcho_spark.functions.pure_codec import (jpeg_encode,
                                                   jpeg_quality_estimate)
    img = (np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3))
    data = bytearray(jpeg_encode(img, quality=60))
    i = data.find(b"\xff\xdb")
    assert i > 0
    data[i + 5] = min(255, data[i + 5] + 3)  # bump one luma entry
    est = jpeg_quality_estimate(bytes(data))
    assert est["exact"] is False and est["l1"] > 0
    assert abs(est["quality"] - 60) <= 2


def test_jpeg_quality_estimate_rejects_non_jpeg():
    import pytest as _pytest
    from fetcho_spark.functions.pure_codec import jpeg_quality_estimate
    with _pytest.raises(ValueError):
        jpeg_quality_estimate(b"\x89PNG\r\n\x1a\n")


def test_jpeg_quality_estimate_handles_fill_bytes():
    """T.81 B.1.1.2: 0xFF fill bytes before a marker are legal padding —
    the estimator must skip them like jpeg_decode does."""
    import numpy as np
    from fetcho_spark.functions.pure_codec import (jpeg_encode,
                                                   jpeg_quality_estimate)
    img = (np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3))
    data = bytearray(jpeg_encode(img, quality=75))
    i = data.find(b"\xff\xdb")
    data[i:i] = b"\xff"                         # one fill byte before DQT
    est = jpeg_quality_estimate(bytes(data))
    assert est == {"quality": 75, "exact": True, "l1": 0}


def test_jpeg_decode_skips_fill_bytes():
    """T.81 B.1.1.2: 0xFF fill bytes before a marker are legal padding —
    jpeg_decode's marker walk must skip them."""
    img = (np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3))
    data = bytearray(PC.jpeg_encode(img, quality=75))
    want = PC.jpeg_decode(bytes(data))
    i = data.find(b"\xff\xdb")
    data[i:i] = b"\xff"                         # one fill byte before DQT
    assert (PC.jpeg_decode(bytes(data)) == want).all()
