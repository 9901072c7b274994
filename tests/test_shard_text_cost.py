"""HashRange sharding math (commonTest/HashRangeTest.cs parity), page-meta
extraction (C4), content-type sniffing (C5), query cost scheduling (A3/R4)."""

import pytest
from pyspark.sql import functions as F

from fetcho_spark.operators.shard import (MAX_HASH, MIN_HASH, hash_in_range,
                                          segment_range, split_by_range)
from fetcho_spark.functions.text import extract_page_meta_py, guess_content_type
from fetcho_spark.plans.query import (parse_query, query_cost_stats,
                                      schedule_queries)


def test_segment_range_5050():
    (a_lo, a_hi), (b_lo, b_hi) = segment_range([0.5, 0.5])
    assert a_lo == MIN_HASH and b_hi == MAX_HASH
    assert b_lo == a_hi + 1                      # gap-free
    assert abs(a_hi - MAX_HASH // 2) <= 1        # boundary at the midpoint


def test_segment_range_weights_cover():
    segs = segment_range([0.1, 0.2, 0.7])
    assert segs[0][0] == MIN_HASH and segs[-1][1] == MAX_HASH
    for (lo1, hi1), (lo2, _) in zip(segs, segs[1:]):
        assert lo2 == hi1 + 1


def test_segment_range_validates():
    with pytest.raises(ValueError):
        segment_range([0.5, 0.4])


@pytest.mark.spark
def test_split_by_range_partitions_everything(spark):
    df = spark.createDataFrame(
        [(f"http://h{i}.example/p",) for i in range(200)], ["url"])
    (lo1, hi1), (lo2, hi2) = segment_range([0.5, 0.5])
    a, out_a = split_by_range(df, lo1, hi1)
    b, _ = split_by_range(df, lo2, hi2)
    na, nb = a.count(), b.count()
    assert na + nb == 200
    assert out_a.count() == nb                   # outbox = the other shard
    assert 40 < na < 160                          # roughly balanced


def test_extract_page_meta():
    html = """<html><head><title> My &amp; Title </title>
    <meta name="description" content="a desc">
    <meta property="og:image" content="http://x/i.png"></head>
    <body><h1>Header</h1><script>junk()</script><p>Body text here</p></body>"""
    title, desc, props, text = extract_page_meta_py(html)
    assert title == "My & Title"
    assert desc == "a desc"
    assert props["og:image"] == "http://x/i.png"
    assert "Body text here" in text and "junk" not in text


def test_extract_page_meta_title_fallback():
    t1, _, _, _ = extract_page_meta_py("<h1>Only H1</h1>")
    t2, _, _, _ = extract_page_meta_py("<h2>Only H2</h2>")
    t3, _, _, _ = extract_page_meta_py("<p>nothing</p>")
    assert (t1, t2, t3) == ("Only H1", "Only H2", None)


@pytest.mark.spark
def test_guess_content_type(spark):
    from fetcho_spark.functions.codec import encode
    from fetcho_spark.functions.bmp_tiff import tiff_encode
    from fetcho_spark.functions.pure_codec import PureCodec
    import numpy as np
    pixels = np.zeros((8, 8, 3), dtype=np.uint8)
    img = encode(pixels, "png")
    rows = [("fsim", bytearray(img)),
            ("png", bytearray(b"\x89PNG\r\n\x1a\n....")),
            ("jpeg", bytearray(b"\xff\xd8\xff\xe0....")),
            ("html", bytearray(b"<!DOCTYPE html><html>")),
            ("other", bytearray(b"\x00\x01\x02\x03")),
            # a RIFF container that is not WebP (a WAVE file) stays audio
            ("wave", bytearray(b"RIFF\x24\x00\x00\x00WAVEfmt "))]
    rows += [(fmt, bytearray(PureCodec.encode(pixels, fmt)))
             for fmt in ("webp", "bmp", "tiff")]
    rows.append(("tiff_be", bytearray(tiff_encode(pixels, byte_order=">"))))
    df = spark.createDataFrame(rows, "k string, payload binary")
    got = {r["k"]: r["ct"] for r in
           df.select("k", guess_content_type(F.col("payload")).alias("ct")).collect()}
    assert got == {"fsim": "image/x-fsim", "png": "image/png",
                   "jpeg": "image/jpeg", "html": "text/html",
                   "other": "application/octet-stream",
                   "wave": "audio/x-riff", "webp": "image/webp",
                   "bmp": "image/bmp", "tiff": "image/tiff",
                   "tiff_be": "image/tiff"}


def test_query_cost_stats_and_scheduling():
    cheap = "site:a uri:b"
    heavy = "xpath://div regex:x"  # 1000 + 50
    stats = query_cost_stats(parse_query(cheap))
    assert stats["n_filters"] == 2 and stats["avg_cost"] == 1
    # exclude-mode ×1000 (Filter.cs:61)
    ex = query_cost_stats(parse_query("-site:a"))
    assert ex["max_cost"] == 1000
    order = schedule_queries({"h": heavy, "c": cheap}, budget=600)
    assert order == ["c", "h"]
    assert schedule_queries({"h": heavy}, budget=100) == []
