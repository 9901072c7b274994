"""P9 IP-seen-recently window: engine ≡ simulator with the window enabled."""

import shutil
import tempfile

import pytest

from fetcho_spark import fixtures as fx
from fetcho_spark.catalog import Catalog
from fetcho_spark.crawl import CrawlConfig, CrawlEngine
from fetcho_spark.simulator import simulate

CFG = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14,
                  ip_window_rounds=1)
N_PAGES, N_HOSTS, N_IMAGES, N_ROUNDS = 50, 10, 15, 3


@pytest.mark.spark
@pytest.mark.slow
def test_ip_window_golden(spark):
    wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES)
    seeds = fx.gen_seeds(wg, 6)
    d = tempfile.mkdtemp(prefix="ipw-")
    try:
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, CFG)
        eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        eng.run(N_ROUNDS)
        sim = simulate(seeds, wg, fx.gen_robots(N_HOSTS),
                       fx.gen_hosts(N_HOSTS), N_ROUNDS, CFG)
        eng_log = [(r["round"], r["fetch_seq"], r["url"], r["status"])
                   for r in cat.read("fetched")
                   .orderBy("round", "fetch_seq").collect()]
        sim_log = [(e["round"], e["fetch_seq"], e["url"], e["status"])
                   for e in sim.log]
        assert len(eng_log) > 0
        assert eng_log == sim_log
        # and the window actually bit: fewer fetches than with it disabled
        base = simulate(seeds, wg, fx.gen_robots(N_HOSTS),
                        fx.gen_hosts(N_HOSTS), N_ROUNDS,
                        CrawlConfig(max_chunk=50, ip_window_rounds=0))
        assert len(sim.log) < len(base.log)
    finally:
        shutil.rmtree(d, ignore_errors=True)
