"""HN/Reddit seed-source parsers (sources/seeds.py) vs the reference
semantics (HackerNewsFrontPageFetcher.cs, RedditSubmissionFetcher.cs)."""

import json

from pyspark.sql import functions as F

from fetcho_spark.sources.seeds import (hn_item_refs, hn_parse_items,
                                        hn_story_links,
                                        reddit_submission_links,
                                        seeds_to_frontier)

FRONT = """
<html><body><table>
<a href="vote?id=101&how=up">vote</a>
<a href="item?id=101">12 comments</a>
<a class="storylink" href="item?id=102">Title Two</a>
<a href="item?id=101">discuss</a>
<A HREF="item?id=x9">bad id</A>
<a href="from=me&item?id=7">prefixed =</a>
<a href="item?id=99999999999">too big for int32</a>
<a href='item?id=103'>single-quoted (not matched)</a>
<a href="user?id=someone">user link has id= but not item?id=</a>
</table></body></html>
"""

ITEMS = [
    {"id": 101, "type": "story", "title": "One",
     "url": "https://one.example/post", "score": 42,
     "time": 1, "by": "a"},
    {"id": 102, "type": "comment", "title": "Two",
     "url": "https://two.example/", "score": 5, "time": 2, "by": "b"},
    {"id": 103, "type": "story", "title": "Three",
     "url": "https://three.example/x", "score": 7, "time": 3, "by": "c"},
]


def _pages(spark):
    return spark.createDataFrame([("https://news.ycombinator.com/front",
                                   FRONT)], "page_url string, body string")


def _items(spark):
    rows = [(json.dumps(it),) for it in ITEMS] + [("not json{",)]
    return hn_parse_items(spark.createDataFrame(rows, "body string"))


def test_hn_item_refs_matches_gethrefid_semantics(spark):
    got = [(r["seq"], r["item_id"])
           for r in hn_item_refs(_pages(spark))
           .orderBy("seq").collect()]
    # matching anchors in document order: item?id=101, item?id=102,
    # item?id=101 (dup kept), item?id=x9 (dropped: not an int),
    # from=me&item?id=7 (dropped: suffix after FIRST '=' not an int),
    # item?id=99999999999 (dropped: past int32).
    # vote?id / user?id anchors never match; single-quoted href is the
    # documented double-quote-only subset.
    assert got == [(0, 101), (1, 102), (2, 101)]


def test_hn_story_links_filters_type_and_url(spark):
    got = [(r["seq"], r["item_id"], r["url"], r["title"], r["score"])
           for r in hn_story_links(_pages(spark), _items(spark))
           .orderBy("seq").collect()]
    # 102 is a comment → dropped; the duplicate 101 anchor yields two
    # rows (reference appends once per anchor)
    assert got == [(0, 101, "https://one.example/post", "One", 42),
                   (2, 101, "https://one.example/post", "One", 42)]


def test_hn_story_url_wellformedness(spark):
    items = hn_parse_items(spark.createDataFrame(
        [(json.dumps({"id": i, "type": "story", "title": "t",
                      "url": u, "score": 1, "time": 1, "by": "x"}),)
         for i, u in [(1, "https://ok.example/"),
                      (2, "notaurl"),
                      (3, "https://bad.example/with space"),
                      (4, ""),
                      (5, None)]], "body string"))
    pages = spark.createDataFrame(
        [("p", "".join(f'<a href="item?id={i}">x</a>'
                       for i in range(1, 6)))],
        "page_url string, body string")
    got = sorted(r["item_id"]
                 for r in hn_story_links(pages, items).collect())
    assert got == [1]


def test_reddit_submission_links(spark):
    body = json.dumps({"data": [
        {"url": "https://a.example/1", "link_flair_text": "Physics"},
        {"url": None, "link_flair_text": "Bio"},
        {"url": "https://a.example/3", "link_flair_text": None},
        {"url": "https://a.example/4", "link_flair_text": "Chem"},
    ]})
    df = spark.createDataFrame([("r/science-2019-01", body),
                                ("bad", "not json{")],
                               "src string, body string")
    got = [(r["src"], r["seq"], r["url"], r["link_flair_text"])
           for r in reddit_submission_links(df)
           .orderBy("src", "seq").collect()]
    # seq is the ORIGINAL array index (1 and 2 are the skipped children)
    assert got == [("r/science-2019-01", 0, "https://a.example/1",
                    "Physics"),
                   ("r/science-2019-01", 3, "https://a.example/4",
                    "Chem")]


def test_seeds_to_frontier_shape(spark):
    links = hn_story_links(_pages(spark), _items(spark))
    fr = seeds_to_frontier(links, round_added=2)
    assert fr.columns == ["url", "src_url", "round_added"]
    rows = fr.collect()
    assert {r["url"] for r in rows} == {"https://one.example/post"}
    assert all(r["src_url"] is None and r["round_added"] == 2
               for r in rows)


def test_hn_scan_stays_jvm_side(spark):
    # the anchor scan + id parse + story filter must stay whole-stage /
    # JVM expressions: no BatchEvalPython / ArrowEvalPython anywhere
    plan = hn_story_links(_pages(spark), _items(spark)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_hn_seed_urls_drive_the_crawl_engine(spark, tmp_catalog):
    """e2e glue: seed URLs extracted by hn_story_links feed CrawlEngine
    and produce the same crawl as the simulator given that seed list —
    the FetchControloCommand 'fetch hackernews <workspace>' path."""
    import json as _json

    from fetcho_spark import fixtures as fx
    from fetcho_spark import simulator
    from fetcho_spark.crawl import CrawlConfig, CrawlEngine

    wg = fx.gen_webgraph(40, 10, 10)
    targets = sorted({r[0] for r in wg})[:6]      # real corpus URLs
    pages = spark.createDataFrame(
        [("https://news.ycombinator.com/front",
          "".join(f'<a href="item?id={i}">x</a>'
                  for i in range(len(targets))))],
        "page_url string, body string")
    items = hn_parse_items(spark.createDataFrame(
        [(_json.dumps({"id": i, "type": "story", "title": f"t{i}",
                       "url": u, "score": 1, "time": 1, "by": "z"}),)
         for i, u in enumerate(targets)], "body string"))
    links = hn_story_links(pages, items)
    seeds = [r["url"] for r in links.orderBy("seq").collect()]
    assert seeds == targets

    cfg = CrawlConfig(max_chunk=50, n_seen_buckets=8,
                      bits_per_bucket=1 << 14)
    eng = CrawlEngine(spark, tmp_catalog, cfg)
    eng.init(seeds, fx.webgraph_df(spark, 40, 10, 10),
             fx.images_df(spark, 10), fx.robots_df(spark, 10),
             fx.hosts_df(spark, 10))
    eng.run(2)
    log = [(r["round"], r["fetch_seq"], r["url"]) for r in
           tmp_catalog.read("fetched")
           .orderBy("round", "fetch_seq").collect()]
    sim = simulator.simulate(seeds, wg, fx.gen_robots(10),
                             fx.gen_hosts(10), 2, cfg)
    assert log == [(r["round"], r["fetch_seq"], r["url"])
                   for r in sim.log]
    assert log, "seed-driven crawl fetched nothing"
