"""Image-header probes (functions/mediameta.py) against real encoder output
and HAND-BUILT byte streams from the public specs — PNG/JPEG/GIF/WebP/BMP
dimensions and JPEG EXIF — plus the Spark operator that rides them
(multimodal.image_metadata)."""

import struct

import numpy as np
import pytest

from fetcho_spark.functions import mediameta as MM
from fetcho_spark.operators import multimodal as MO


# ------------------------------------------------------- image headers

def test_probe_image_real_and_handbuilt():
    from fetcho_spark.functions import pure_codec as PC
    px = np.random.default_rng(3).integers(0, 256, (24, 31, 3),
                                           dtype=np.uint8)
    p = MM.probe_image(PC.png_encode(px))            # real PNG bytes
    assert (p["format"], p["width"], p["height"]) == ("png", 31, 24)
    j = MM.probe_image(PC.jpeg_encode(px, 90))       # real JPEG bytes
    assert (j["format"], j["width"], j["height"]) == ("jpeg", 31, 24)
    g = MM.probe_image(b"GIF89a" + struct.pack("<HH", 500, 300) + b"\x00" * 6)
    assert (g["format"], g["width"], g["height"]) == ("gif", 500, 300)
    # WebP lossy: RIFF/WEBP/'VP8 ' with dims at the frame header
    # real VP8 layout: 3-byte frame tag + 0x9D012A start code, then dims
    vp8 = (b"RIFF" + struct.pack("<I", 30) + b"WEBPVP8 "
           + struct.pack("<I", 20) + b"\x00" * 3 + b"\x9d\x01\x2a"
           + struct.pack("<HH", 640, 480))
    w = MM.probe_image(vp8)
    assert (w["format"], w["width"], w["height"]) == ("webp", 640, 480)
    # WebP lossless: VP8L 14-bit packed minus-one dims
    bits = (320 - 1) | ((200 - 1) << 14)
    vp8l = (b"RIFF" + struct.pack("<I", 20) + b"WEBPVP8L"
            + struct.pack("<I", 10) + b"\x2f" + struct.pack("<I", bits))
    wl = MM.probe_image(vp8l)
    assert (wl["width"], wl["height"]) == (320, 200)
    # WebP extended: VP8X 24-bit minus-one dims
    vp8x = (b"RIFF" + struct.pack("<I", 22) + b"WEBPVP8X"
            + struct.pack("<I", 10) + b"\x00" * 4
            + (127).to_bytes(3, "little") + (63).to_bytes(3, "little"))
    wx = MM.probe_image(vp8x)
    assert (wx["width"], wx["height"]) == (128, 64)
    b = MM.probe_image(b"BM" + b"\x00" * 16 + struct.pack("<ii", 99, -44)
                       + b"\x00" * 10)
    assert (b["format"], b["width"], b["height"]) == ("bmp", 99, 44)
    with pytest.raises(ValueError):
        MM.probe_image(b"\x00\x01nonsense")


@pytest.mark.spark
def test_image_metadata(spark):
    from fetcho_spark.functions import pure_codec as PC
    px = np.random.default_rng(5).integers(0, 256, (16, 20, 3),
                                           dtype=np.uint8)
    idf = spark.createDataFrame(
        [("png", bytearray(PC.png_encode(px))),
         ("jpg", bytearray(PC.jpeg_encode(px, 90))),
         ("gif", bytearray(b"GIF87a" + struct.pack("<HH", 5, 6)
                           + b"\x00" * 6)),
         ("bad", bytearray(b"zzzz"))],
        "image_id string, bytes binary")
    meta = {r["image_id"]: r for r in MO.image_metadata(idf).collect()}
    assert (meta["png"]["fmt"], meta["png"]["width"]) == ("png", 20)
    assert (meta["jpg"]["fmt"], meta["jpg"]["height"]) == ("jpeg", 16)
    assert meta["gif"]["width"] == 5 and meta["bad"]["err"] == "unrecognized"


# ------------------------------------------------------------------ EXIF

def _exif_app1(endian="<"):
    """Hand-built APP1/TIFF blob: IFD0 with orientation/make/datetime +
    an Exif sub-IFD with pixel dims (both endians)."""
    e = endian
    def entry(tag, typ, cnt, val4):
        return struct.pack(e + "HHI", tag, typ, cnt) + val4
    make = b"CamCo\x00"
    dt = b"2026:08:17 10:00:00\x00"
    # layout (offsets relative to TIFF header):
    # 0: header(8)  8: IFD0 count(2) + 4 entries(48) + next(4) = 62
    # 70: make bytes(6)  76: datetime(20)  96: ExifIFD count+2entries+next=30
    ifd0_off, make_off, dt_off, exif_off = 8, 70, 76, 96
    header = (b"II" if e == "<" else b"MM") + struct.pack(e + "H", 42) \
        + struct.pack(e + "I", ifd0_off)
    ifd0 = struct.pack(e + "H", 4)
    ifd0 += entry(0x0112, 3, 1, struct.pack(e + "H", 6) + b"\x00\x00")
    ifd0 += entry(0x010F, 2, len(make), struct.pack(e + "I", make_off))
    ifd0 += entry(0x0132, 2, len(dt), struct.pack(e + "I", dt_off))
    ifd0 += entry(0x8769, 4, 1, struct.pack(e + "I", exif_off))
    ifd0 += struct.pack(e + "I", 0)
    body = header + ifd0
    body += b"\x00" * (make_off - len(body)) + make
    body += b"\x00" * (dt_off - len(body)) + dt
    exif = struct.pack(e + "H", 2)
    exif += entry(0xA002, 4, 1, struct.pack(e + "I", 800))
    exif += entry(0xA003, 3, 1, struct.pack(e + "H", 600) + b"\x00\x00")
    exif += struct.pack(e + "I", 0)
    body += b"\x00" * (exif_off - len(body)) + exif
    app1 = b"Exif\x00\x00" + body
    return struct.pack(">HH", 0xFFE1, len(app1) + 2) + app1


def test_probe_exif_both_endians_and_embedded():
    from fetcho_spark.functions import pure_codec as PC
    for endian in ("<", ">"):
        jpeg = PC.jpeg_encode(np.full((8, 8, 3), 128, np.uint8), 90)
        tagged = jpeg[:2] + _exif_app1(endian) + jpeg[2:]
        m = MM.probe_exif(tagged)
        assert m["orientation"] == 6, endian
        assert m["make"] == "CamCo"
        assert m["datetime"] == "2026:08:17 10:00:00"
        assert (m["pixel_x"], m["pixel_y"]) == (800, 600), endian
        # the tagged JPEG still decodes and still dimension-probes
        assert PC.jpeg_decode(tagged).shape == (8, 8, 3)
        assert MM.probe_image(tagged)["width"] == 8
    assert MM.probe_exif(PC.jpeg_encode(
        np.zeros((8, 8, 3), np.uint8), 90)) == {}
    with pytest.raises(ValueError):
        MM.probe_exif(b"not-a-jpeg")
