"""REAL image codecs, from scratch, no PIL: spec-compliant PNG (lossless,
stdlib zlib) and baseline JFIF/JPEG (numpy DCT + the standard Annex-K
huffman/quant tables). ``codec.decode`` hands every payload without the
stand-in's ``FSIM`` magic to :meth:`PureCodec.decode`, so the C12
payload-verify path decodes actual ``\\x89PNG`` / ``\\xff\\xd8`` bytes
with no configuration.

Written from the public specifications (PNG: RFC 2083 / ISO 15948; JPEG:
ITU-T T.81 + JFIF 1.02) — not ported from any codebase. The reference
*blocks* image fetches (common/ResourceFetchers/DefaultBlockProvider.cs:
46-53); this build's north rule inverts that, making decode first-class.

Scope (honest):
- PNG: encode 8-bit RGB truecolor; decode every legal bit depth
  (1/2/4-bit gray+palette, 8/16-bit all color types), all five scanline
  filters, Adam7 interlace at EVERY depth (incl. sub-byte per-pass
  packing), multi-IDAT, CRC-checked.
- GIF: full LZW decode (87a/89a, global/local color tables, interlace,
  animated → first frame); encode via the classic fixed-9-bit
  'uncompressed LZW' strategy for ≤256-color images.
- JPEG: encode baseline sequential 4:4:4 (quality-scaled Annex K
  tables) plus a spectral-selection PROGRESSIVE writer
  (jpeg_encode_progressive); decode baseline (SOF0/1) AND progressive
  (SOF2 — spectral selection, successive approximation, EOBRUN,
  interleaved DC scans) with arbitrary sampling factors, grayscale or
  YCbCr, restart markers, 8- AND 16-bit (Pq=1) quant tables.
  Lossless/hierarchical/arithmetic and 12-bit precision raise.
- WebP: full VP8L (lossless) decode via functions/webp.py — canonical
  prefix codes incl. the code-length-code bootstrap, meta prefix images,
  color cache, LZ77 with the 2D distance mapping, and all four
  transforms; a minimal spec-valid lossless writer for round-trips.
  Lossy VP8 genuinely needs a video intra decoder and raises.
- BMP + baseline TIFF via functions/bmp_tiff.py — BMP palette/24/32-bit,
  RLE8/RLE4, bitfields, top-down/bottom-up; TIFF both byte orders,
  gray/RGB/palette, none/LZW/deflate/PackBits strips, predictor 2.
- Throughput: huffman entropy coding is sequential Python — fine for
  correctness tests and modest corpora, not for bench-scale corpora. The
  bench keeps the vectorized stand-in for exactly this reason.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# ============================================================ PNG (exact)

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _clean_decode_errors(fmt):
    """Truncated/corrupt streams must fail with ValueError — never leak
    IndexError/struct.error/zlib.error from arbitrary web bytes (the
    payload-verify path treats ValueError as a per-row decode failure)."""
    def deco(fn):
        import functools

        @functools.wraps(fn)
        def wrapped(data, *a, **k):
            try:
                return fn(data, *a, **k)
            except (ValueError, NotImplementedError):
                raise
            except (IndexError, struct.error, zlib.error) as e:
                raise ValueError(f"{fmt}: truncated/corrupt stream "
                                 f"({type(e).__name__})") from e
        return wrapped
    return deco


def png_encode(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → PNG bytes (color type 2, bit depth 8, filter 0)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.empty((h, 1 + w * 3), dtype=np.uint8)
    raw[:, 0] = 0                      # filter type None per scanline
    raw[:, 1:] = pixels.reshape(h, w * 3)
    return (_PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(raw.tobytes(), 6))
            + _chunk(b"IEND", b""))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _png_unfilter(raw: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the per-scanline filters → (h, stride) uint8 of raw samples."""
    out = np.zeros((h, stride), dtype=np.uint8)
    pos = 0
    for y in range(h):
        ft = int(raw[pos]); pos += 1
        line = raw[pos:pos + stride].astype(np.int32); pos += stride
        prev = out[y - 1].astype(np.int32) if y else np.zeros(stride, np.int32)
        if ft == 0:                               # None
            cur = line
        elif ft == 2:                             # Up
            cur = (line + prev) & 0xFF
        elif ft == 1:                             # Sub (sequential in x)
            cur = line.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ft == 3:                             # Average
            cur = line.copy()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ft == 4:                             # Paeth
            cur = line.copy()
            for x in range(stride):
                left = int(cur[x - bpp]) if x >= bpp else 0
                ul = int(prev[x - bpp]) if x >= bpp else 0
                cur[x] = (cur[x] + _paeth(left, int(prev[x]), ul)) & 0xFF
        else:
            raise ValueError(f"PNG: unknown filter type {ft}")
        out[y] = cur.astype(np.uint8)
    return out


# Adam7 pass grid: (x_start, x_step, y_start, y_step) per pass
_ADAM7 = ((0, 8, 0, 8), (4, 8, 0, 8), (0, 4, 4, 8), (2, 4, 0, 4),
          (0, 2, 2, 4), (1, 2, 0, 2), (0, 1, 1, 2))


def _png_deinterlace_subbyte(raw: np.ndarray, w: int, h: int,
                             depth: int) -> np.ndarray:
    """Adam7 for sub-byte depths (1/2/4-bit gray or palette): each pass is
    an independently-filtered sub-image of PACKED rows (filters see bpp=1),
    so unfilter per pass, unpack the MSB-first bit groups to sample values,
    and scatter VALUES (not bytes) into the (h, w) index grid."""
    out = np.zeros((h, w), dtype=np.uint8)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    pos = 0
    for (x0, dx, y0, dy) in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue
        stride = (pw * depth + 7) // 8
        need = ph * (stride + 1)
        if pos + need > len(raw):
            raise ValueError("PNG: IDAT length mismatch")
        sub = _png_unfilter(raw[pos:pos + need], ph, stride, 1)
        pos += need
        bits = np.unpackbits(sub, axis=1)[:, :pw * depth]
        vals = (bits.reshape(ph, pw, depth) * weights).sum(axis=2)
        out[y0::dy, x0::dx] = vals.astype(np.uint8)
    if pos != len(raw):
        raise ValueError("PNG: IDAT length mismatch")
    return out


def _png_deinterlace(raw: np.ndarray, w: int, h: int, nch: int,
                     bytes_per_sample: int) -> np.ndarray:
    """Adam7: seven independently-filtered sub-images concatenated in the
    stream; unfilter each with its own stride, scatter into place."""
    bpp = nch * bytes_per_sample
    out = np.zeros((h, w * bpp), dtype=np.uint8)
    pos = 0
    for (x0, dx, y0, dy) in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw == 0 or ph == 0:
            continue
        stride = pw * bpp
        sub = _png_unfilter(raw[pos:pos + ph * (stride + 1)], ph, stride,
                            bpp)
        pos += ph * (stride + 1)
        cols = np.arange(pw) * dx + x0
        byte_cols = (cols[:, None] * bpp
                     + np.arange(bpp)[None, :]).reshape(-1)
        out[y0::dy, byte_cols] = sub.reshape(ph, -1)
    return out


@_clean_decode_errors("png")
def png_decode(data: bytes) -> np.ndarray:
    """PNG bytes → (h, w, 3) uint8 RGB (gray/palette promoted, alpha
    dropped, 16-bit downscaled). CRC-verified; Adam7 interlace handled."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat, plte = 8, None, bytearray(), None
    while pos + 8 <= len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        body = data[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack(">I", data[pos + 8 + ln:pos + 12 + ln])
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"PNG: CRC mismatch in {tag!r}")
        pos += 12 + ln
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"PLTE":
            plte = np.frombuffer(body, np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG: missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth not in (1, 2, 4, 8, 16):
        raise NotImplementedError(f"PNG bit depth {depth}")
    if depth < 8 and ctype not in (0, 3):
        raise ValueError("PNG: sub-byte depth only for gray/palette")
    if depth == 16 and ctype == 3:
        raise ValueError("PNG: 16-bit palette is not legal")
    if comp or filt:
        raise ValueError("PNG: unknown compression/filter method")
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
    if nch is None:
        raise ValueError(f"PNG: unknown color type {ctype}")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    if depth < 8:
        # filters operate on the PACKED bytes (bpp rounds up to 1);
        # unfilter per packed row, then unpack MSB-first bit groups.
        if interlace == 1:
            idx = _png_deinterlace_subbyte(raw, w, h, depth)
        elif interlace:
            raise ValueError(f"PNG: unknown interlace method {interlace}")
        else:
            row_bytes = (w * depth + 7) // 8
            if len(raw) != h * (row_bytes + 1):
                raise ValueError("PNG: IDAT length mismatch")
            packed = _png_unfilter(raw, h, row_bytes, 1)
            bits = np.unpackbits(packed, axis=1)[:, :w * depth]
            vals = bits.reshape(h, w, depth)
            weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
            idx = (vals * weights).sum(axis=2).astype(np.uint8)
        if ctype == 3:
            samples = idx[:, :, None]
        else:                      # gray: scale to full 8-bit range
            scale = 255 // ((1 << depth) - 1)
            samples = (idx * scale).astype(np.uint8)[:, :, None]
    else:
        bps = depth // 8
        if interlace == 1:
            flat = _png_deinterlace(raw, w, h, nch, bps)
        elif interlace:
            raise ValueError(f"PNG: unknown interlace method {interlace}")
        else:
            stride = w * nch * bps
            if len(raw) != h * (stride + 1):
                raise ValueError("PNG: IDAT length mismatch")
            flat = _png_unfilter(raw, h, stride, nch * bps)
        if depth == 16:
            # big-endian 16-bit samples → high byte (the 16→8 scale)
            flat = flat.reshape(h, w * nch, 2)[:, :, 0]
        samples = flat.reshape(h, w, nch)
    if ctype == 3:                                 # palette
        if plte is None:
            raise ValueError("PNG: palette image without PLTE")
        return plte[samples[:, :, 0]]
    if ctype in (0, 4):                            # gray (+alpha)
        return np.repeat(samples[:, :, :1], 3, axis=2).copy()
    return samples[:, :, :3].copy()                # RGB(+alpha dropped)


# ======================================================= GIF (87a/89a)

def _gif_lzw_decode(min_code_size: int, data: bytes) -> bytes:
    """GIF-variant LZW (LSB-first bit packing, CLEAR/END codes, dict grows
    to 12 bits) — written from the GIF89a specification appendix."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table = [bytes([i]) for i in range(clear)] + [b"", b""]
    out = bytearray()
    prev = None
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= code_size:
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code == clear:
                table = [bytes([i]) for i in range(clear)] + [b"", b""]
                code_size = min_code_size + 1
                prev = None
                continue
            if code == end:
                return bytes(out)
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("gif: invalid LZW code")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
                if len(table) == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
    return bytes(out)


_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))   # Adam-style interlace


@_clean_decode_errors("gif")
def gif_decode(data: bytes) -> np.ndarray:
    """GIF87a/89a → (h, w, 3) uint8 RGB of the FIRST image (animated GIFs
    decode their first frame; transparency flattens to the palette
    color). Handles global/local color tables and interlacing."""
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(data) < 13:
        raise ValueError("gif: truncated header")
    w, h = struct.unpack("<HH", data[6:10])
    flags, bg, _aspect = data[10], data[11], data[12]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n],
                            np.uint8).reshape(-1, 3)
        pos += 3 * n
    while pos < len(data):
        block = data[pos]
        if block == 0x21:                       # extension: skip sub-blocks
            pos += 2
            while data[pos]:
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:                     # image descriptor
            left, top, iw, ih, pal, grid, _ = _gif_read_image(data, pos)
            if pal is None:
                pal = gct
            if pal is None:
                raise ValueError("gif: no color table")
            canvas = np.zeros((h, w), np.uint8)
            canvas[:, :] = bg if (gct is not None and bg < len(gct)) else 0
            canvas[top:top + ih, left:left + iw] = grid
            return pal[np.minimum(canvas, len(pal) - 1)]
        elif block == 0x3B:                     # trailer
            break
        else:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
    raise ValueError("gif: no image data")


def _gif_read_image(data: bytes, pos: int):
    """Parse one image descriptor block at ``pos`` (data[pos] == 0x2C) →
    (left, top, iw, ih, local_palette_or_None, index_grid, newpos).
    Interlace is un-permuted here."""
    left, top, iw, ih = struct.unpack("<HHHH", data[pos + 1:pos + 9])
    iflags = data[pos + 9]
    pos += 10
    pal = None
    if iflags & 0x80:                           # local color table
        n = 2 << (iflags & 0x07)
        pal = np.frombuffer(data[pos:pos + 3 * n], np.uint8).reshape(-1, 3)
        pos += 3 * n
    min_cs = data[pos]
    pos += 1
    lzw = bytearray()
    while data[pos]:
        ln = data[pos]
        lzw += data[pos + 1:pos + 1 + ln]
        pos += 1 + ln
    pos += 1
    idx = np.frombuffer(_gif_lzw_decode(min_cs, bytes(lzw)),
                        np.uint8)[: iw * ih]
    if len(idx) < iw * ih:
        raise ValueError("gif: truncated image data")
    grid = idx.reshape(ih, iw)
    if iflags & 0x40:                           # interlaced: un-permute
        order = [y for start, step in _GIF_PASSES
                 for y in range(start, ih, step)]
        out_rows = np.empty_like(grid)
        out_rows[order] = grid
        grid = out_rows
    return left, top, iw, ih, pal, grid, pos


@_clean_decode_errors("gif")
def gif_frames(data: bytes) -> list[tuple[np.ndarray, int]]:
    """Animated GIF89a → list of (composed (h, w, 3) uint8 RGB frame,
    delay in centiseconds), applying the full GIF89a rendering model —
    written from the specification, not ported:

    - the canvas starts as the background color (global-color-table
      ``bg`` entry; black without a GCT entry);
    - each frame's Graphic Control Extension supplies delay, transparent
      index (transparent pixels leave the canvas unchanged) and disposal:
      0/1 leave the rendered result, 2 restores the frame RECT to the
      background, 3 restores the canvas to its pre-render state;
    - local color tables override the global one per frame.

    Static GIFs come back as one frame, equal to :func:`gif_decode`.
    """
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    if len(data) < 13:
        raise ValueError("gif: truncated header")
    w, h = struct.unpack("<HH", data[6:10])
    flags, bg = data[10], data[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[pos:pos + 3 * n],
                            np.uint8).reshape(-1, 3)
        pos += 3 * n
    bg_rgb = (gct[bg] if gct is not None and bg < len(gct)
              else np.zeros(3, np.uint8))
    canvas = np.broadcast_to(bg_rgb, (h, w, 3)).astype(np.uint8)
    frames: list[tuple[np.ndarray, int]] = []
    delay_cs, trans_idx, disposal = 0, None, 0
    while pos < len(data):
        block = data[pos]
        if block == 0x21:                       # extension
            label = data[pos + 1]
            pos += 2
            if label == 0xF9 and data[pos] >= 4:    # graphic control
                packed = data[pos + 1]
                delay_cs = struct.unpack("<H", data[pos + 2:pos + 4])[0]
                disposal = (packed >> 2) & 0x07
                trans_idx = data[pos + 4] if packed & 0x01 else None
            while data[pos]:                    # skip (or finish) sub-blocks
                pos += 1 + data[pos]
            pos += 1
        elif block == 0x2C:
            left, top, iw, ih, pal, grid, pos = _gif_read_image(data, pos)
            pal = pal if pal is not None else gct
            if pal is None:
                raise ValueError("gif: no color table")
            prev = canvas.copy() if disposal == 3 else None
            rect = canvas[top:top + ih, left:left + iw]
            rgb = pal[np.minimum(grid, len(pal) - 1)]
            if trans_idx is not None:
                mask = grid != trans_idx
                rect[mask] = rgb[mask]
            else:
                rect[:, :] = rgb
            frames.append((canvas.copy(), delay_cs))
            if disposal == 2:
                canvas[top:top + ih, left:left + iw] = bg_rgb
            elif disposal == 3 and prev is not None:
                canvas = prev
            delay_cs, trans_idx, disposal = 0, None, 0
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"gif: unknown block 0x{block:02x}")
    if not frames:
        raise ValueError("gif: no image data")
    return frames


def gif_encode(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 with ≤256 unique colors → GIF89a. Uses the classic
    'uncompressed' LZW strategy (fixed 9-bit literal codes with a CLEAR
    every 254 codes, min code size 8) — valid output any decoder accepts,
    no compression dictionary needed."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    flat = pixels.reshape(-1, 3)
    pal, idx = np.unique(flat, axis=0, return_inverse=True)
    if len(pal) > 256:
        raise ValueError("gif: more than 256 unique colors")
    pal_full = np.zeros((256, 3), np.uint8)
    pal_full[:len(pal)] = pal
    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out += bytes([0x80 | 0x07, 0, 0])           # GCT, 256 entries
    out += pal_full.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out += bytes([8])                           # LZW min code size
    # 9-bit codes, LSB-first; CLEAR(256) resets the dict before it grows
    # past 511 so the code size never leaves 9 bits; END(257) terminates
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
    for i, v in enumerate(idx):
        if i and i % 254 == 0:
            emit(256)
        emit(int(v))
    emit(257)
    if nbits:
        payload.append(acc & 0xFF)
    for off in range(0, len(payload), 255):
        chunk = payload[off:off + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


# ================================================= baseline JPEG (T.81)

# Annex K.1/K.2 quantization tables (natural, row-major order)
_QT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32).reshape(8, 8)
_QT_CHR = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32).reshape(8, 8)

# Annex K.3-K.6 huffman specs: (BITS counts per code length 1-16, HUFFVAL)
_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
           list(range(12)))
_AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHR = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63])

# orthonormal 8-point DCT-II basis (T.81 A.3.3 up to the 1/2 C(u) scale)
_C = np.array([1.0 / np.sqrt(2)] + [1.0] * 7)
_DCT = np.array([[0.5 * _C[u] * np.cos((2 * x + 1) * u * np.pi / 16)
                  for x in range(8)] for u in range(8)])


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG-style quality scaling of the Annex K tables (public formula)."""
    q = max(1, min(100, quality))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_QT_LUM, _QT_CHR):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


def _build_codes(bits, values):
    """(BITS, HUFFVAL) → {symbol: (code, length)} per T.81 C.2."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_decode_table(bits, values):
    """(BITS, HUFFVAL) → {(length, code): symbol} for the bit reader."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _rgb_to_ycbcr(px: np.ndarray) -> np.ndarray:
    f = px.astype(np.float64)
    r, g, b = f[..., 0], f[..., 1], f[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y, cb, cr) -> np.ndarray:
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255) \
             .astype(np.uint8)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.nbits -= 8
            self.buf.append(byte)
            if byte == 0xFF:           # byte stuffing (B.1.1.5)
                self.buf.append(0x00)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)   # pad with 1-bits
        return bytes(self.buf)


def _category(v: int) -> int:
    return int(abs(v)).bit_length()


def _encode_block_dc(bw, zz, dc_codes, pred):
    """DC diff of one zigzagged quantized block → bitstream; new pred."""
    dc, diff = int(zz[0]), int(zz[0]) - pred
    s = _category(diff)
    code, ln = dc_codes[s]
    bw.write(code, ln)
    if s:
        bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    return dc


def _encode_block_ac(bw, zz, ac_codes):
    """AC run-length coefficients 1..63 of one block → bitstream."""
    run = 0
    last_nz = 0
    for i in range(63, 0, -1):
        if zz[i]:
            last_nz = i
            break
    for i in range(1, last_nz + 1):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = ac_codes[0xF0]          # ZRL
            bw.write(code, ln)
            run -= 16
        s = _category(v)
        code, ln = ac_codes[(run << 4) | s]
        bw.write(code, ln)
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz != 63:
        code, ln = ac_codes[0x00]              # EOB (EOBRUN of 1 in
        bw.write(code, ln)                     # progressive AC scans)


def _encode_block(bw, zz, dc_codes, ac_codes, pred):
    """One zigzagged quantized block → bitstream; returns new DC pred."""
    dc = _encode_block_dc(bw, zz, dc_codes, pred)
    _encode_block_ac(bw, zz, ac_codes)
    return dc


def _jpeg_front(pixels: np.ndarray, quality: int):
    """Shared encode front-end: RGB → per-component zigzagged quantized
    blocks + tables (used by both the baseline and progressive writers)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected (h, w, 3) uint8")
    h, w = pixels.shape[:2]
    qt_l, qt_c = _quality_tables(quality)
    ycc = _rgb_to_ycbcr(pixels)
    ph, pw = -h % 8, -w % 8                    # pad to 8 via edge replicate
    ycc = np.pad(ycc, ((0, ph), (0, pw), (0, 0)), mode="edge")
    H, W = ycc.shape[:2]
    by, bx = H // 8, W // 8
    comps_zz = []
    for ci in range(3):
        plane = ycc[:, :, ci] - 128.0
        blocks = (plane.reshape(by, 8, bx, 8).transpose(0, 2, 1, 3)
                  .reshape(-1, 8, 8))
        coeff = np.einsum("ux,nxy,vy->nuv", _DCT, blocks, _DCT)
        qt = qt_l if ci == 0 else qt_c
        qz = np.round(coeff / qt).astype(np.int32)
        comps_zz.append(qz.reshape(-1, 64)[:, _ZIGZAG])
    return h, w, by, bx, qt_l, qt_c, comps_zz


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _jpeg_headers(h, w, qt_l, qt_c, sof_marker: int) -> bytearray:
    def dht(tc_th: int, spec) -> bytes:
        bits, values = spec
        return bytes([tc_th]) + bytes(bits) + bytes(values)

    out = bytearray(b"\xff\xd8")                                     # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + bytes(qt_l.flatten()[_ZIGZAG]
                                        .astype(np.uint8)))          # DQT 0
    out += _seg(0xFFDB, b"\x01" + bytes(qt_c.flatten()[_ZIGZAG]
                                        .astype(np.uint8)))          # DQT 1
    out += _seg(sof_marker, struct.pack(">BHHB", 8, h, w, 3)
                + bytes([1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1]))
    out += _seg(0xFFC4, dht(0x00, _DC_LUM))                          # DHT
    out += _seg(0xFFC4, dht(0x10, _AC_LUM))
    out += _seg(0xFFC4, dht(0x01, _DC_CHR))
    out += _seg(0xFFC4, dht(0x11, _AC_CHR))
    return out


def jpeg_encode(pixels: np.ndarray, quality: int = 92) -> bytes:
    """(h, w, 3) uint8 → baseline JFIF 4:4:4 bytes."""
    h, w, by, bx, qt_l, qt_c, comps_zz = _jpeg_front(pixels, quality)
    dc_l, ac_l = _build_codes(*_DC_LUM), _build_codes(*_AC_LUM)
    dc_c, ac_c = _build_codes(*_DC_CHR), _build_codes(*_AC_CHR)
    bw = _BitWriter()
    preds = [0, 0, 0]
    for n in range(by * bx):                   # interleaved MCUs (1x1x3)
        for ci in range(3):
            dc_codes = dc_l if ci == 0 else dc_c
            ac_codes = ac_l if ci == 0 else ac_c
            preds[ci] = _encode_block(bw, comps_zz[ci][n],
                                      dc_codes, ac_codes, preds[ci])
    out = _jpeg_headers(h, w, qt_l, qt_c, 0xFFC0)
    out += _seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    out += bw.flush()
    out += b"\xff\xd9"                                               # EOI
    return bytes(out)


def jpeg_encode_progressive(pixels: np.ndarray, quality: int = 92) -> bytes:
    """(h, w, 3) uint8 → PROGRESSIVE JFIF bytes (SOF2, spectral selection:
    one interleaved DC scan + one AC 1-63 scan per component, Ah=Al=0 —
    the simplest legal progressive mode; coefficients are identical to the
    baseline encoding at the same quality, so decode output matches
    byte-for-byte)."""
    h, w, by, bx, qt_l, qt_c, comps_zz = _jpeg_front(pixels, quality)
    dc_l, ac_l = _build_codes(*_DC_LUM), _build_codes(*_AC_LUM)
    dc_c, ac_c = _build_codes(*_DC_CHR), _build_codes(*_AC_CHR)
    out = _jpeg_headers(h, w, qt_l, qt_c, 0xFFC2)
    # scan 1: interleaved DC (Ss=0 Se=0 Ah=0 Al=0)
    bw = _BitWriter()
    preds = [0, 0, 0]
    for n in range(by * bx):
        for ci in range(3):
            preds[ci] = _encode_block_dc(
                bw, comps_zz[ci][n], dc_l if ci == 0 else dc_c, preds[ci])
    out += _seg(0xFFDA, bytes([3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0]))
    out += bw.flush()
    # scans 2-4: per-component AC 1..63 (per-block EOB = EOBRUN of 1)
    for ci, cid in enumerate((1, 2, 3)):
        bw = _BitWriter()
        ac_codes = ac_l if ci == 0 else ac_c
        for n in range(by * bx):
            _encode_block_ac(bw, comps_zz[ci][n], ac_codes)
        out += _seg(0xFFDA, bytes([1, cid, 0x00 if ci == 0 else 0x01,
                                   1, 63, 0]))
        out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _next_marker(data: bytes, pos: int) -> tuple[int | None, int]:
    """THE shared JPEG marker-framing walk (T.81 B.1.1.2), used by both
    ``jpeg_decode`` and ``jpeg_quality_estimate`` so the fill-byte and
    garbage-skip rules can never drift apart: skip non-0xFF bytes,
    collapse 0xFF fill-byte runs (a 0xFF followed by another 0xFF is
    padding before the real marker). Returns ``(marker, pos)`` with
    ``pos`` just past the two marker bytes, or ``(None, len(data))`` at
    end of stream."""
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        if pos + 1 >= n:
            return None, n
        if data[pos + 1] == 0xFF:              # fill byte (B.1.1.2)
            pos += 1
            continue
        return data[pos + 1], pos + 2
    return None, n


def _iter_dqt(body: bytes):
    """Parse one DQT segment body → yields ``(tq, zz)`` per table, where
    ``zz`` is the 64-entry zigzag-order vector (uint8 for Pq=0, big-endian
    uint16 for Pq=1); shared by the decoder and the quality estimator.
    Raises on an illegal precision nibble; a TRUNCATED final table yields
    with ``zz.size < 64`` for the caller to judge."""
    i = 0
    while i < len(body):
        pq, tq = body[i] >> 4, body[i] & 0x0F
        if pq not in (0, 1):
            raise ValueError(f"JPEG: bad DQT precision {pq}")
        if pq:                                 # Pq=1: 64 big-endian uint16
            zz = np.frombuffer(body[i + 1:i + 129], ">u2")
            i += 129
        else:
            zz = np.frombuffer(body[i + 1:i + 65], np.uint8)
            i += 65
        yield tq, zz


class _BitReader:
    """Entropy-coded-segment bit reader: un-stuffs 0xFF00, stops at
    markers (leaves position ON the 0xFF)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        d = self.data
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2                  # stuffed 0xFF data byte
            else:
                raise _MarkerHit(self.pos)     # real marker
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self.nbits = 0
        self.acc = 0


class _MarkerHit(Exception):
    def __init__(self, pos):
        self.pos = pos


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_huff(br: _BitReader, table) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("JPEG: invalid huffman code")


@_clean_decode_errors("jpeg")
def jpeg_decode(data: bytes) -> np.ndarray:
    """JFIF/JPEG bytes → (h, w, 3) uint8 RGB. Supports baseline (SOF0/1)
    AND progressive (SOF2: spectral selection + successive approximation,
    EOBRUN, interleaved DC scans, DRI/RSTn) with arbitrary sampling
    factors, 1 or 3 components. Lossless/hierarchical/arithmetic SOFs
    raise honestly."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (missing SOI)")
    pos = 2
    qts: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    sof = None
    progressive = False
    coeffs: dict | None = None
    restart_interval = 0
    while pos < len(data):
        marker, pos = _next_marker(data, pos)
        if marker is None:
            break
        if marker == 0xD9 and progressive and coeffs is not None:
            break                              # EOI after progressive scans
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            continue                           # standalone markers
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        if marker == 0xDB:                     # DQT (possibly several)
            for tq, zz in _iter_dqt(body):
                if zz.size != 64:
                    raise ValueError("JPEG: truncated DQT")
                t = np.zeros(64, np.int32)
                t[_ZIGZAG] = zz.astype(np.int32)
                qts[tq] = t.reshape(8, 8)
        elif marker == 0xC4:                   # DHT (possibly several)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1:i + 17])
                nv = sum(bits)
                values = list(body[i + 17:i + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = \
                    _build_decode_table(bits, values)
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):     # SOF0/1 baseline, SOF2 prog
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec not in (8, 12):               # T.81 B.2.2 legal values
                raise NotImplementedError(f"JPEG: precision {prec}")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i:9 + 3 * i]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                              "tq": tq})
            sof = (h, w, comps, prec)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"JPEG: SOF{marker - 0xC0} (non-baseline) not supported")
        elif marker == 0xDD:                   # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:                   # SOS → entropy data follows
            if sof is None:
                raise ValueError("JPEG: SOS before SOF")
            ns = body[0]
            scan_comps = []
            for i in range(ns):
                cs, tdta = body[1 + 2 * i], body[2 + 2 * i]
                scan_comps.append((cs, tdta >> 4, tdta & 0x0F))
            if not progressive:
                pos += seglen
                return _decode_scan(data, pos, sof, scan_comps, qts,
                                    huff_dc, huff_ac, restart_interval)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            if coeffs is None:
                coeffs = _prog_init(sof)
            pos = _decode_prog_scan(
                data, pos + seglen, sof, scan_comps, ss, se,
                ahal >> 4, ahal & 0x0F, huff_dc, huff_ac,
                restart_interval, coeffs)
            continue
        pos += seglen
    if progressive and coeffs is not None:
        return _prog_reconstruct(sof, coeffs, qts)
    raise ValueError("JPEG: no SOS marker found")


def _prog_geometry(sof):
    h, w, comps = sof[:3]
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    return h, w, comps, hmax, vmax, mcux, mcuy


def _prog_init(sof):
    """Per-component coefficient arrays (blocks_y, blocks_x, 64) in
    ZIGZAG index order, sized to the full interleaved grid."""
    _h, _w, comps, _hm, _vm, mcux, mcuy = _prog_geometry(sof)
    return {c["id"]: np.zeros((mcuy * c["v"], mcux * c["h"], 64), np.int32)
            for c in comps}


def jpeg_quality_estimate(data: bytes) -> dict:
    """Estimate the IJG quality factor of a JPEG from its luma DQT —
    the no-decode curation signal for spotting recompressed junk in a
    web corpus (a 640×480 that has been through quality 30 keeps its
    dimensions but not its information).

    Inverts the PUBLIC libjpeg scaling (the same formula
    :func:`_quality_tables` encodes with): for each candidate q in
    1..100 build the expected Annex-K-scaled table and compare —
    ``exact=True`` on a byte-exact match (any IJG-derived encoder:
    libjpeg, PIL, our own writer), else the nearest table by L1
    distance (custom-table encoders). Returns ``{"quality", "exact",
    "l1"}``; raises on non-JPEG or missing DQT."""
    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    # framing is jpeg_decode's OWN _next_marker/_iter_dqt helpers — one
    # shared walk, so the fill-byte and garbage-skip rules cannot drift
    pos, luma_zz = 2, None
    while pos < len(data):
        marker, pos = _next_marker(data, pos)
        if marker is None:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            continue
        if pos + 2 > len(data):
            break
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        pos += seglen
        if marker == 0xDB:
            for tq, zz in _iter_dqt(body):
                if tq == 0 and zz.size == 64:
                    luma_zz = zz.astype(np.int32)
        elif marker == 0xDA:
            break                              # tables precede the scan
    if luma_zz is None:
        raise ValueError("JPEG: no luma DQT before scan")
    t = np.zeros(64, np.int32)
    t[_ZIGZAG] = luma_zz
    best_q, best_l1 = None, None
    for q in range(100, 0, -1):
        scale = 5000 // q if q < 50 else 200 - 2 * q
        exp = np.clip((_QT_LUM.flatten() * scale + 50) // 100, 1, 255)
        l1 = int(np.abs(exp - t).sum())
        if l1 == 0:
            return {"quality": q, "exact": True, "l1": 0}
        if best_l1 is None or l1 < best_l1:
            best_q, best_l1 = q, l1
    return {"quality": best_q, "exact": False, "l1": best_l1}


def _ni_blocks(sof, c):
    """Non-interleaved block grid for one component (T.81 A.2.2)."""
    h, w, _comps, hmax, vmax, _mx, _my = _prog_geometry(sof)
    cw = -(-w * c["h"] // hmax)
    ch = -(-h * c["v"] // vmax)
    return -(-cw // 8), -(-ch // 8)


def _decode_prog_scan(data, pos, sof, scan_comps, ss, se, ah, al,
                      huff_dc, huff_ac, dri, coeffs):
    """One progressive SOS (T.81 G.2): mutates ``coeffs``; returns the
    stream position of the next marker."""
    _h, _w, comps, hmax, vmax, mcux, mcuy = _prog_geometry(sof)
    by_id = {c["id"]: c for c in comps}
    br = _BitReader(data, pos)
    preds = {cs: 0 for cs, _td, _ta in scan_comps}
    eobrun = 0

    def restart(unit):
        nonlocal eobrun
        if dri and unit and unit % dri == 0:
            br.align()
            p = br.pos
            if data[p] == 0xFF and 0xD0 <= data[p + 1] <= 0xD7:
                br.pos = p + 2
            for k in preds:
                preds[k] = 0
            eobrun = 0

    def finish():
        # bit reader stops before the next marker; scan data may end with
        # padding bits — advance to the 0xFF
        p = br.pos
        while p < len(data) and data[p] != 0xFF:
            p += 1
        while p + 1 < len(data) and data[p] == 0xFF \
                and data[p + 1] == 0x00:
            p += 2
            while p < len(data) and data[p] != 0xFF:
                p += 1
        return p

    try:
        if ss == 0:                                   # ---- DC scan
            if len(scan_comps) > 1:                   # interleaved
                for mcu in range(mcux * mcuy):
                    restart(mcu)
                    my, mx = divmod(mcu, mcux)
                    for cs, td, _ta in scan_comps:
                        c = by_id[cs]
                        for v in range(c["v"]):
                            for hh in range(c["h"]):
                                blk = coeffs[cs][my * c["v"] + v,
                                                 mx * c["h"] + hh]
                                _prog_dc(br, blk, huff_dc.get(td),
                                         preds, cs, ah, al)
            else:
                cs, td, _ta = scan_comps[0]
                bw_, bh_ = _ni_blocks(sof, by_id[cs])
                for idx in range(bw_ * bh_):
                    restart(idx)
                    by, bx = divmod(idx, bw_)
                    _prog_dc(br, coeffs[cs][by, bx], huff_dc.get(td),
                             preds, cs, ah, al)
        else:                                         # ---- AC scan
            cs, _td, ta = scan_comps[0]
            act = huff_ac[ta]
            bw_, bh_ = _ni_blocks(sof, by_id[cs])
            for idx in range(bw_ * bh_):
                restart(idx)
                by, bx = divmod(idx, bw_)
                blk = coeffs[cs][by, bx]
                if ah == 0:
                    eobrun = _prog_ac_first(br, blk, act, ss, se, al,
                                            eobrun)
                else:
                    eobrun = _prog_ac_refine(br, blk, act, ss, se, al,
                                             eobrun)
    except _MarkerHit:
        pass
    return finish()


def _prog_dc(br, blk, dct, preds, cs, ah, al):
    if ah == 0:                                # first DC scan
        s = _decode_huff(br, dct)
        diff = _extend(br.receive(s), s) if s else 0
        preds[cs] += diff
        blk[0] = preds[cs] << al
    elif br.read_bit():                        # DC refinement bit
        blk[0] |= 1 << al


def _prog_ac_first(br, blk, act, ss, se, al, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _decode_huff(br, act)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:
                k += 16                        # ZRL
                continue
            eobrun = (1 << r) - 1              # EOBn: this block ends now
            if r:
                eobrun += br.receive(r)
            break
        k += r
        if k > se:
            raise ValueError("JPEG: AC index overflow")
        blk[k] = _extend(br.receive(s), s) << al
        k += 1
    return eobrun


def _prog_ac_refine(br, blk, act, ss, se, al, eobrun):
    """T.81 G.1.2.3 successive-approximation AC refinement."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _decode_huff(br, act)
            r, s = rs >> 4, rs & 0x0F
            if s == 0:
                if r < 15:
                    eobrun = 1 << r            # includes the current block
                    if r:
                        eobrun += br.receive(r)
                    break
                val = 0                        # ZRL: skip 16 zero-history
            else:
                val = p1 if br.read_bit() else m1
            while k <= se:
                if blk[k] != 0:
                    if br.read_bit() and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] > 0 else m1
                else:
                    if r == 0:
                        if val:
                            blk[k] = val
                        k += 1
                        break
                    r -= 1
                k += 1
    if eobrun > 0:
        while k <= se:                         # correction bits to the end
            if blk[k] != 0 and br.read_bit() and (blk[k] & p1) == 0:
                blk[k] += p1 if blk[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _prog_reconstruct(sof, coeffs, qts):
    """Accumulated zig-order coefficients → dequant → IDCT → RGB."""
    h, w, comps, hmax, vmax, _mx, _my = _prog_geometry(sof)
    full = {}
    for c in comps:
        arr = coeffs[c["id"]]
        bh, bw_ = arr.shape[:2]
        qt = qts[c["tq"]].flatten()
        nat = np.zeros((bh * bw_, 64))
        nat[:, _ZIGZAG] = arr.reshape(-1, 64) * qt[_ZIGZAG]
        blocks = nat.reshape(-1, 8, 8)
        prec = sof[3]
        px = (np.einsum("xu,nuv,vy->nxy", _DCT.T, blocks, _DCT)
              + float(1 << (prec - 1))) / float(1 << (prec - 8))
        plane = (px.reshape(bh, bw_, 8, 8).transpose(0, 2, 1, 3)
                 .reshape(bh * 8, bw_ * 8))
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            plane = np.repeat(np.repeat(plane, ry, axis=0), rx, axis=1)
        full[c["id"]] = plane[:h, :w]
    if len(comps) == 1:
        g = np.clip(full[comps[0]["id"]].round(), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    ids = [c["id"] for c in comps]
    return _ycbcr_to_rgb(full[ids[0]], full[ids[1]], full[ids[2]])


def _decode_scan(data, pos, sof, scan_comps, qts, huff_dc, huff_ac,
                 restart_interval):
    h, w, comps, prec = sof
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    by_id = {c["id"]: c for c in comps}
    order = []
    for cs, td, ta in scan_comps:
        c = by_id[cs]
        order.append((c, huff_dc[td], huff_ac[ta], qts[c["tq"]]))
    planes = {c["id"]: np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8))
              for c in comps}
    br = _BitReader(data, pos)
    preds = {c["id"]: 0 for c in comps}
    idct = _DCT.T                                # orthonormal inverse
    n_mcu = mcux * mcuy
    mcu = 0
    try:
        while mcu < n_mcu:
            if restart_interval and mcu and mcu % restart_interval == 0:
                br.align()                       # RSTn sits at byte edge
                p = br.pos
                if data[p] == 0xFF and 0xD0 <= data[p + 1] <= 0xD7:
                    br.pos = p + 2
                    preds = {c["id"]: 0 for c in comps}
            my, mx = divmod(mcu, mcux)
            for c, dct_t, act_t, qt in order:
                for v in range(c["v"]):
                    for hh in range(c["h"]):
                        zz = np.zeros(64, np.int32)
                        s = _decode_huff(br, dct_t)
                        diff = _extend(br.receive(s), s) if s else 0
                        preds[c["id"]] += diff
                        zz[0] = preds[c["id"]]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(br, act_t)
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16      # ZRL
                                    continue
                                break            # EOB
                            k += r
                            if k > 63:
                                raise ValueError("JPEG: AC index overflow")
                            zz[k] = _extend(br.receive(s), s)
                            k += 1
                        blk = np.zeros(64, np.float64)
                        blk[_ZIGZAG] = zz * qt.flatten()[_ZIGZAG]
                        px = ((idct @ blk.reshape(8, 8) @ _DCT
                               + float(1 << (prec - 1)))
                              / float(1 << (prec - 8)))
                        y0 = (my * c["v"] + v) * 8
                        x0 = (mx * c["h"] + hh) * 8
                        planes[c["id"]][y0:y0 + 8, x0:x0 + 8] = px
            mcu += 1
    except _MarkerHit:
        if mcu < n_mcu:
            raise ValueError("JPEG: truncated entropy data") from None
    full = {}
    for c in comps:
        p = planes[c["id"]]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:                     # nearest upsample
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full[c["id"]] = p[:h, :w]
    if len(comps) == 1:
        g = np.clip(full[comps[0]["id"]].round(), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    ids = [c["id"] for c in comps]
    return _ycbcr_to_rgb(full[ids[0]], full[ids[1]], full[ids[2]])


# ------------------------------------------------------ format dispatch

class PureCodec:
    """Real PNG + baseline JPEG, from scratch (this module), plus GIF,
    WebP-lossless, BMP and TIFF; :meth:`decode` dispatches on the magic
    bytes and is where ``codec.decode`` sends every non-stand-in payload."""

    # Default quality: the payload contract (input_hint) demands PSNR ≥ 40 dB
    # even on the uniform-NOISE fixture images — the worst case for any
    # DCT codec. q=99 measures ~49 dB there (still genuinely lossy via
    # YCbCr+DCT rounding); callers wanting web-typical q use jpeg_encode
    # directly.
    JPEG_QUALITY = 99

    @staticmethod
    def encode(pixels: np.ndarray, fmt: str) -> bytes:
        if fmt == "png":
            return png_encode(pixels)
        if fmt == "jpeg":
            return jpeg_encode(pixels, quality=PureCodec.JPEG_QUALITY)
        if fmt == "gif":
            return gif_encode(pixels)
        if fmt == "webp":
            from .webp import webp_encode_lossless
            return webp_encode_lossless(pixels)
        if fmt == "bmp":
            from .bmp_tiff import bmp_encode
            return bmp_encode(pixels)
        if fmt == "tiff":
            from .bmp_tiff import tiff_encode
            return tiff_encode(pixels)
        raise NotImplementedError(f"format {fmt!r}")

    @staticmethod
    def decode(data: bytes):
        if data[:8] == _PNG_SIG:
            return png_decode(data), "png"
        if data[:2] == b"\xff\xd8":
            return jpeg_decode(data), "jpeg"
        if data[:6] in (b"GIF87a", b"GIF89a"):
            return gif_decode(data), "gif"
        if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
            from .webp import webp_decode
            return webp_decode(data), "webp"
        if data[:2] == b"BM":
            from .bmp_tiff import bmp_decode
            return bmp_decode(data), "bmp"
        if data[:4] in (b"II*\x00", b"MM\x00*"):
            from .bmp_tiff import tiff_decode
            return tiff_decode(data), "tiff"
        raise ValueError("not a PNG/JPEG/GIF/WebP/BMP/TIFF payload")
