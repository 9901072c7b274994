"""Image-header metadata, pure stdlib: dimensions and format from the
container headers (JPEG SOFn, PNG IHDR, GIF logical screen, WebP
VP8/VP8L/VP8X, BMP, TIFF first IFD) and EXIF from a JPEG's APP1 segment.
No pixel decode happens here: at corpus scale you want the resolution and
orientation of EVERY payload at I/O cost, long before you spend decode
CPU on the few you keep (the real decoders live in pure_codec.py, webp.py
and bmp_tiff.py).

:func:`probe_image` raises ValueError on unrecognized bytes;
:func:`probe_exif` returns an empty dict when a JPEG carries no EXIF.
"""

from __future__ import annotations

import struct

# -------------------------------------------------- image headers (dims)

def probe_image(data: bytes) -> dict:
    """Width/height/format from image HEADERS only — no pixel decode.
    JPEG (walk markers to the first SOFn), PNG (IHDR), GIF (logical
    screen), WebP (VP8 / VP8L / VP8X per the public container spec),
    BMP (BITMAPINFOHEADER). At corpus scale this answers the
    resolution-distribution / thumbnail-filter questions for every
    payload at I/O cost, decode for none."""
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = struct.unpack(">II", data[16:24])
        return {"format": "png", "width": w, "height": h}
    if data[:2] == b"\xff\xd8":
        pos = 2
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                pos += 1
                continue
            marker = data[pos + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD9:
                pos += 2
                continue
            (ln,) = struct.unpack(">H", data[pos + 2:pos + 4])
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack(">HH", data[pos + 5:pos + 9])
                return {"format": "jpeg", "width": w, "height": h}
            pos += 2 + ln
        raise ValueError("jpeg: no SOF marker")
    if data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", data[6:10])
        return {"format": "gif", "width": w, "height": h}
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        fourcc = data[12:16]
        if fourcc == b"VP8 ":                  # lossy: frame tag + dims
            w, h = struct.unpack("<HH", data[26:30])
            return {"format": "webp", "width": w & 0x3FFF,
                    "height": h & 0x3FFF}
        if fourcc == b"VP8L":                  # lossless: 14-bit packed
            bits = int.from_bytes(data[21:25], "little")
            return {"format": "webp",
                    "width": (bits & 0x3FFF) + 1,
                    "height": ((bits >> 14) & 0x3FFF) + 1}
        if fourcc == b"VP8X":                  # extended: 24-bit minus-one
            w = int.from_bytes(data[24:27], "little") + 1
            h = int.from_bytes(data[27:30], "little") + 1
            return {"format": "webp", "width": w, "height": h}
        raise ValueError("webp: unknown chunk")
    if data[:2] == b"BM":
        w, h = struct.unpack("<ii", data[18:26])
        return {"format": "bmp", "width": w, "height": abs(h)}
    if data[:4] in (b"II*\x00", b"MM\x00*"):   # TIFF: first-IFD dims walk
        e = "<" if data[:2] == b"II" else ">"
        (ifd,) = struct.unpack_from(e + "I", data, 4)
        if ifd + 2 > len(data):
            raise ValueError("tiff: truncated IFD")
        (n,) = struct.unpack_from(e + "H", data, ifd)
        dims = {}
        for i in range(n):
            p = ifd + 2 + 12 * i
            if p + 12 > len(data):
                break
            tag, typ = struct.unpack_from(e + "HH", data, p)
            if tag in (256, 257):
                dims[tag] = struct.unpack_from(
                    e + ("H" if typ == 3 else "I"), data, p + 8)[0]
        if 256 in dims and 257 in dims:
            return {"format": "tiff", "width": dims[256],
                    "height": dims[257]}
        raise ValueError("tiff: no dimension tags")
    raise ValueError("unrecognized image container")


# ----------------------------------------------------- EXIF (JPEG APP1)

_EXIF_TAGS = {0x0112: "orientation", 0x0132: "datetime", 0x010F: "make",
              0x0110: "model", 0x9003: "datetime_original",
              0xA002: "pixel_x", 0xA003: "pixel_y"}


def _exif_ifd(data: bytes, tiff: int, off: int, e: str, out: dict) -> None:
    if tiff + off + 2 > len(data):
        return
    (n,) = struct.unpack(e + "H", data[tiff + off:tiff + off + 2])
    pos = tiff + off + 2
    for _ in range(n):
        if pos + 12 > len(data):
            return
        tag, typ, cnt = struct.unpack(e + "HHI", data[pos:pos + 8])
        valfield = data[pos + 8:pos + 12]
        pos += 12
        size = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}.get(typ, 1)
        total = size * cnt
        if total <= 4:
            voff = pos - 4
        else:
            (rel,) = struct.unpack(e + "I", valfield)
            voff = tiff + rel
        if tag == 0x8769:                      # Exif sub-IFD pointer
            (rel,) = struct.unpack(e + "I", valfield)
            _exif_ifd(data, tiff, rel, e, out)
            continue
        name = _EXIF_TAGS.get(tag)
        if name is None or voff + total > len(data):
            continue
        if typ == 2:                           # ASCII
            out[name] = data[voff:voff + total].split(b"\x00")[0] \
                .decode("ascii", "replace")
        elif typ == 3:
            out[name] = struct.unpack(e + "H", data[voff:voff + 2])[0]
        elif typ == 4:
            out[name] = struct.unpack(e + "I", data[voff:voff + 4])[0]


def probe_exif(data: bytes) -> dict:
    """EXIF metadata from a JPEG's APP1 segment (TIFF IFD walk, both
    endians): orientation, timestamps, make/model, Exif pixel dims.
    Empty dict when no EXIF is present; never raises on malformed IFDs
    beyond the outer JPEG check. Orientation is the field a training
    pipeline MUST read before treating decoded pixels as upright."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            break
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD9:
            pos += 2
            continue
        (ln,) = struct.unpack(">H", data[pos + 2:pos + 4])
        if marker == 0xE1 and data[pos + 4:pos + 10] == b"Exif\x00\x00":
            tiff = pos + 10
            bom = data[tiff:tiff + 2]
            e = "<" if bom == b"II" else ">" if bom == b"MM" else None
            if e is None:
                return {}
            (magic,) = struct.unpack(e + "H", data[tiff + 2:tiff + 4])
            if magic != 42:
                return {}
            (ifd0,) = struct.unpack(e + "I", data[tiff + 4:tiff + 8])
            out: dict = {}
            _exif_ifd(data, tiff, ifd0, e, out)
            return out
        if marker == 0xDA:                     # entropy data: stop
            break
        pos += 2 + ln
    return {}
