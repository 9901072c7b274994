"""The link stage does its work once: every canonicalizer call site runs
the Python slow path at most once per union branch and never inside a
Filter, and the round counters read off the writes that already run equal
explicit counts of the written snapshots."""

import re

import pytest
from pyspark.sql import functions as F

from fetcho_spark import fixtures as fx
from fetcho_spark.catalog import Catalog
from fetcho_spark.crawl import CrawlConfig, CrawlEngine, sitemap_seed_rows
from fetcho_spark.operators.fetch import extract_links
from fetcho_spark.operators.htmllinks import anchor_stats

N_PAGES, N_HOSTS, N_IMAGES, N_SEEDS, N_ROUNDS = 60, 8, 15, 6, 3


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _udf_evals(plan: str, name: str) -> int:
    return sum(1 for line in plan.splitlines()
               if "ArrowEvalPython" in line and f"{name}(" in line)


def _udf_filters(plan: str) -> list[str]:
    return [line for line in plan.splitlines()
            if re.search(r"\bFilter\b", line) and "pythonUDF" in line]


@pytest.fixture(scope="module")
def pages(spark, tmp_path_factory):
    """A parquet-backed fetched frame: cold pages (≤ 5 raw links) and hot
    ones, absolute, root-relative and doc-relative hrefs, plus bodies."""
    rows = [(f"http://a.example/p{i}", 200,
             [f"/x{j}" for j in range(i % 9)]
             + [f"rel{i}", "http://B.example/y", "mailto:z@a.example"],
             "text/html",
             f'<a href="/q{i}">q</a><a href="sib{i}">s</a>'
             f'<a href="http://c.example/">c</a>')
            for i in range(40)]
    d = str(tmp_path_factory.mktemp("linkplan") / "f")
    (spark.createDataFrame(
        rows, "url string, status int, out_links array<string>, "
              "content_type string, body string")
     .write.parquet(d))
    return spark.read.parquet(d)


@pytest.mark.spark
@pytest.mark.parametrize("with_body", [False, True])
def test_extract_links_canonicalizes_once_per_branch(spark, pages,
                                                     with_body):
    src = pages if with_body else pages.drop("body")
    links = extract_links(src, seed=1, round_no=0, max_links=5)
    plan = _executed(links)
    # one cold and one hot branch, each with exactly one slow-path batch
    assert _udf_evals(plan, "canonicalize_udf") == 2, plan
    assert not _udf_filters(plan), _udf_filters(plan)
    if with_body:  # the page parser runs once per branch too
        assert _udf_evals(plan, "extract_links_udf") == 2, plan
    else:
        # the hot/cold split reaches the scan, below the explode
        assert re.search(r"Filter .*size\(out_links#\d+, (true|false)\) > 5",
                         plan), plan
    assert links.count() > 0


@pytest.mark.spark
def test_anchor_stats_canonicalizes_once(spark, pages):
    plan = _executed(anchor_stats(pages))
    assert _udf_evals(plan, "canonicalize_udf") == 1, plan
    assert not _udf_filters(plan), _udf_filters(plan)


@pytest.mark.spark
def test_sitemap_seed_rows_canonicalize_once(spark):
    web = spark.createDataFrame(fx.gen_sitemap_pages(N_HOSTS),
                                fx.WEBGRAPH_SCHEMA)
    sm_urls = [r["url"] for r in web.select("url").collect()]
    seeds = sitemap_seed_rows(web, sm_urls, round_no=0)
    plan = _executed(seeds)
    assert _udf_evals(plan, "canonicalize_udf") == 1, plan
    assert not _udf_filters(plan), _udf_filters(plan)
    assert seeds.count() > 0
    assert seeds.filter(F.col("round_added") != 1).count() == 0


def _sitemap_crawl(spark, d):
    cfg = CrawlConfig(max_chunk=50, n_seen_buckets=8,
                      bits_per_bucket=1 << 14, fetch_robots=True,
                      fetch_sitemaps=True, max_link_quota=60)
    wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES)
    web = wg + fx.gen_robots_pages(N_HOSTS) + fx.gen_sitemap_pages(N_HOSTS)
    cat = Catalog(spark, d)
    eng = CrawlEngine(spark, cat, cfg)
    eng.init(fx.gen_seeds(wg, N_SEEDS),
             spark.createDataFrame(web, fx.WEBGRAPH_SCHEMA),
             fx.images_df(spark, N_IMAGES),
             spark.createDataFrame([], fx.ROBOTS_SCHEMA),
             fx.hosts_df(spark, N_HOSTS))
    return cat, eng.run(N_ROUNDS)


@pytest.mark.spark
@pytest.mark.slow
def test_round_counters_equal_snapshot_counts(spark, tmp_path):
    """fetched/fetched_ok come from the lineage rows, new_links/carryover
    from the frontier overwrite's observed metrics; each must equal an
    explicit count() of the snapshot that round wrote, with the P14 quota
    cut and sitemap injection both in the frontier."""
    cat, counters = _sitemap_crawl(spark, str(tmp_path / "cc"))
    frontier_snaps = {s.meta["round"]: s.id
                      for s in cat.snapshots("frontier")
                      if "round" in s.meta}
    fetched = cat.read("fetched")
    for r, cnt in enumerate(counters):
        fr_r = fetched.filter(F.col("round") == r)
        assert cnt["fetched"] == fr_r.count()
        assert cnt["fetched_ok"] == \
            fr_r.filter(F.col("status") == 200).count()
        nxt = cat.read("frontier", frontier_snaps[r])
        assert cnt["carryover"] == \
            nxt.filter(F.col("round_added") <= r).count()
        assert cnt["new_links"] + cnt.get("sitemap_seeds", 0) == \
            nxt.filter(F.col("round_added") == r + 1).count()
    # the crawl exercised what the counters have to survive
    assert any(c.get("sitemap_seeds", 0) > 0 for c in counters)
    assert counters[-1]["links_accepted_total"] == 60
    assert any(c["new_links"] == 0 and c["carryover"] > 0
               for c in counters)
