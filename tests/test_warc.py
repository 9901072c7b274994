"""WARC reader/writer (sources/warc.py): round-trip, gzip member layout,
Spark ingest, and the bridge into the real link extractor."""

import gzip

import pytest

from fetcho_spark.sources import warc as W


def _records():
    html = (b"<html><body><a href='http://t1.example/a'>x</a>"
            b"<a href='/rel'>y</a></body></html>")
    return [
        ("http://site.example/page1", "2026-08-17T00:00:00Z", 200,
         {"Content-Type": "text/html; charset=utf-8", "Server": "t"}, html),
        ("http://site.example/missing", "2026-08-17T00:00:01Z", 404,
         {"Content-Type": "text/html"}, b"<html>not found</html>"),
        ("http://site.example/img", "2026-08-17T00:00:02Z", 200,
         {"Content-Type": "image/png"}, b"\x89PNG-fake-bytes"),
    ]


@pytest.mark.parametrize("compress", [True, False])
def test_warc_roundtrip(tmp_path, compress):
    p = str(tmp_path / ("a.warc.gz" if compress else "a.warc"))
    W.write_warc(_records(), p, compress=compress)
    raw = open(p, "rb").read()
    if compress:
        assert raw[:2] == b"\x1f\x8b"
        # per-record gzip members: re-gzipping starts at 3 distinct points
        assert raw.count(b"\x1f\x8b\x08") >= 3
    got = list(W.parse_warc(raw))
    assert len(got) == 3
    for rec, (url, date, status, headers, body) in zip(got, _records()):
        assert rec["warc_type"] == "response"
        assert rec["url"] == url and rec["date"] == date
        assert rec["http_status"] == status
        assert rec["body"] == body
        assert rec["content_type"] == headers["Content-Type"]
        assert rec["resp_headers"]["Content-Type"] == headers["Content-Type"]


def test_warc_non_http_records_and_errors():
    info = (b"WARC/1.0\r\nWARC-Type: warcinfo\r\n"
            b"Content-Type: application/warc-fields\r\n"
            b"Content-Length: 9\r\n\r\nrobots: x\r\n\r\n")
    rec = W.build_warc_record("http://a.example/", "2026-01-01T00:00:00Z",
                              200, {"Content-Type": "text/html"}, b"hi")
    got = list(W.parse_warc(info + rec))
    assert got[0]["warc_type"] == "warcinfo"
    assert got[0]["http_status"] is None and got[0]["body"] == b"robots: x"
    assert got[1]["http_status"] == 200 and got[1]["body"] == b"hi"
    with pytest.raises(ValueError, match="version"):
        list(W.parse_warc(b"NOT-A-WARC\r\n"))
    # single-member gzip over the WHOLE archive also parses
    assert len(list(W.parse_warc(gzip.compress(info + rec)))) == 2


@pytest.mark.spark
def test_read_warc_spark_and_link_bridge(spark, tmp_path):
    d = tmp_path / "warcs"
    d.mkdir()
    W.write_warc(_records(), str(d / "f1.warc.gz"), compress=True)
    W.write_warc([("http://other.example/p", "2026-08-17T01:00:00Z", 200,
                   {"Content-Type": "text/html"},
                   b"<a href=\"http://t2.example/b\">z</a>")],
                 str(d / "f2.warc"), compress=False)
    df = W.read_warc(spark, str(d))
    rows = {r["url"]: r for r in df.collect()}
    assert len(rows) == 4
    assert rows["http://site.example/page1"]["http_status"] == 200
    assert rows["http://site.example/img"]["content_type"] == "image/png"
    assert bytes(rows["http://site.example/img"]["body"]) \
        == b"\x89PNG-fake-bytes"
    # bridge: WARC responses feed the REAL link extractor
    from fetcho_spark.operators.fetch import extract_links
    pages = W.warc_response_pages(df)
    links = {(r["src_url"], r["url"])
             for r in extract_links(pages, seed=42, round_no=0,
                                    max_links=10).collect()}
    assert ("http://site.example/page1", "http://t1.example/a") in links
    assert ("http://site.example/page1",
            "http://site.example/rel") in links      # root-relative resolve
    assert ("http://other.example/p", "http://t2.example/b") in links
    # 404s extract too (status filter is the caller's policy), but the
    # image's binary body yields no links
    assert not any(src == "http://site.example/img" for src, _ in links)


@pytest.mark.spark
@pytest.mark.slow
def test_crawl_engine_over_warc_archive(spark, tmp_path):
    """End-to-end: a WARC archive becomes the webgraph and the crawl loop
    runs over it — seeds fetch, the HTML extractor follows archive links
    across hosts in later rounds, unarchived URLs 404."""
    from fetcho_spark import fixtures as fx
    from fetcho_spark.catalog import Catalog
    from fetcho_spark.crawl import CrawlConfig, CrawlEngine

    def page(url, links):
        body = "<html>" + "".join(f"<a href='{u}'>l</a>" for u in links) \
            + "</html>"
        return (url, "2026-08-17T00:00:00Z", 200,
                {"Content-Type": "text/html"}, body.encode())

    d = tmp_path / "web"
    d.mkdir()
    W.write_warc([
        page("http://h1.example/", ["http://h2.example/a", "/self"]),
        page("http://h1.example/self", []),
        page("http://h2.example/a", ["http://h3.example/deep"]),
        page("http://h3.example/deep", []),
    ], str(d / "web.warc.gz"))
    web = W.warc_webgraph(W.read_warc(spark, str(d)))
    assert web.count() == 4

    hosts = spark.createDataFrame(
        [(h, 1000, 0) for h in ("h1.example", "h2.example", "h3.example")],
        fx.HOSTS_SCHEMA)
    robots = spark.createDataFrame([], fx.ROBOTS_SCHEMA)
    images = spark.createDataFrame([], fx.IMAGES_SCHEMA)
    cat = Catalog(spark, str(tmp_path / "cat"))
    eng = CrawlEngine(spark, cat, CrawlConfig(
        max_chunk=10, n_seen_buckets=4, bits_per_bucket=1 << 12))
    eng.init(["http://h1.example/"], web, images, robots, hosts)
    eng.run(3)
    log = {(r["round"], r["url"]): r["status"]
           for r in cat.read("fetched").collect()}
    assert log[(0, "http://h1.example/")] == 200
    assert log[(1, "http://h2.example/a")] == 200
    assert log[(1, "http://h1.example/self")] == 200
    assert log[(2, "http://h3.example/deep")] == 200
    assert len(log) == 4
