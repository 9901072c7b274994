"""S5 live robots acquisition (CrawlConfig.fetch_robots): the engine
discovers robots.txt DURING the crawl — hosts newly seen in the deduped
frontier get their /robots.txt looked up in the corpus, parsed with the
JVM fold, and gated the SAME round — byte-identical to the simulator
mirror, and attempted exactly once per host."""

import tempfile

import pytest

from fetcho_spark import fixtures as fx
from fetcho_spark.catalog import Catalog
from fetcho_spark.crawl import CrawlConfig, CrawlEngine
from fetcho_spark.simulator import simulate

N_PAGES, N_HOSTS, N_IMAGES, N_SEEDS, N_ROUNDS = 60, 8, 15, 6, 3

CFG = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14,
                  fetch_robots=True)
LOG_COLS = ("round", "fetch_seq", "url", "status", "priority")


def _universe():
    wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES)
    web = wg + fx.gen_robots_pages(N_HOSTS)
    return wg, web, fx.gen_seeds(wg, N_SEEDS)


def _run_engine(spark, d, cfg, web, seeds, n_rounds=N_ROUNDS):
    cat = Catalog(spark, d)
    eng = CrawlEngine(spark, cat, cfg)
    eng.init(seeds, spark.createDataFrame(web, fx.WEBGRAPH_SCHEMA),
             fx.images_df(spark, N_IMAGES),
             spark.createDataFrame([], fx.ROBOTS_SCHEMA),  # NO static rules
             fx.hosts_df(spark, N_HOSTS))
    counters = eng.run(n_rounds)
    return cat, eng, counters


def _log_rows(cat):
    return [tuple(r[c] for c in LOG_COLS)
            for r in cat.read("fetched")
            .orderBy("round", "fetch_seq").collect()]


@pytest.mark.slow
@pytest.mark.spark
def test_live_robots_crawl_matches_simulator(spark, tmp_path):
    wg, web, seeds = _universe()
    cat, eng, counters = _run_engine(spark, str(tmp_path), CFG, web, seeds)
    sim = simulate(seeds, web, [], fx.gen_hosts(N_HOSTS), N_ROUNDS, CFG)
    got = _log_rows(cat)
    want = [tuple(e[c] for c in LOG_COLS) for e in sim.log]
    assert got == want
    assert len(got) > 0
    # the acquired rules actually gated something: the same universe with
    # acquisition OFF fetches a different (super)set
    sim_off = simulate(seeds, web, [], fx.gen_hosts(N_HOSTS), N_ROUNDS,
                       CrawlConfig(max_chunk=50, n_seen_buckets=8,
                                   bits_per_bucket=1 << 14))
    assert [e["url"] for e in sim.log] != [e["url"] for e in sim_off.log]
    blocked = {e["url"] for e in sim_off.log} - {e["url"] for e in sim.log}
    assert blocked, "robots acquisition blocked nothing - fixture vacuous"
    # robots.txt pages themselves are never crawled (not linked, not seeded)
    assert not any(u.endswith("/robots.txt") for u in
                   (e["url"] for e in sim.log))


@pytest.mark.slow
@pytest.mark.spark
def test_robots_attempted_once_per_host_and_rules_persist(spark, tmp_path):
    wg, web, seeds = _universe()
    cat, eng, counters = _run_engine(spark, str(tmp_path), CFG, web, seeds)
    fetched = cat.read("robots_fetched").collect()
    hosts = [r["host"] for r in fetched]
    assert len(hosts) == len(set(hosts))          # exactly once per host
    # acquired rules landed in the robots table with the reference shape
    rules = cat.read("robots")
    rows = {(r["host"], r["user_agent"], r["directive"], r["pattern"])
            for r in rules.collect()}
    assert any(d == "disallow" for _, _, d, _ in rows)
    assert all(ua in ("*", "fetcho") for _, ua, _, _ in rows)
    # per-round counter reports new hosts monotonically decreasing work
    news = [c.get("robots_hosts_new", 0) for c in counters]
    assert news[0] > 0 and sum(news) == len(hosts)


@pytest.mark.slow
@pytest.mark.spark
def test_live_robots_resume_equivalence(spark, tmp_path):
    """robots + robots_fetched ride checkpoints: a fresh engine resuming
    after round 0 must produce the same rounds 1..N as the straight run."""
    wg, web, seeds = _universe()
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    cat1, _, _ = _run_engine(spark, d1, CFG, web, seeds)
    cat2, eng2, _ = _run_engine(spark, d2, CFG, web, seeds, n_rounds=1)
    eng2b = CrawlEngine(spark, Catalog(spark, d2), CFG)
    eng2b.rollback_to_last_checkpoint()
    for r in range(1, N_ROUNDS):
        eng2b.run_round(r)
    assert _log_rows(cat1) == _log_rows(Catalog(spark, d2))


SM_CFG = CrawlConfig(max_chunk=50, n_seen_buckets=8,
                     bits_per_bucket=1 << 14,
                     fetch_robots=True, fetch_sitemaps=True)


@pytest.mark.slow
@pytest.mark.spark
def test_sitemap_seed_discovery_matches_simulator(spark, tmp_path):
    wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES)
    web = wg + fx.gen_robots_pages(N_HOSTS) + fx.gen_sitemap_pages(N_HOSTS)
    seeds = fx.gen_seeds(wg, N_SEEDS)
    cat, eng, counters = _run_engine(spark, str(tmp_path), SM_CFG, web,
                                     seeds)
    sim = simulate(seeds, web, [], fx.gen_hosts(N_HOSTS), N_ROUNDS, SM_CFG)
    got = _log_rows(cat)
    want = [tuple(e[c] for c in LOG_COLS) for e in sim.log]
    assert got == want
    # the orphan page is linked from NOWHERE - only sitemap discovery can
    # reach it; it must have been crawled
    crawled = {e["url"] for e in sim.log}
    assert any("/orphan" in u for u in crawled), \
        "sitemap injection vacuous - no orphan page crawled"
    # sitemapindex children are NOT followed; malformed sitemaps are inert
    assert not any(u.endswith("child.xml") for u in crawled)
    assert not any(u.endswith("sitemap.xml") for u in crawled)
