"""The benchmark's workloads: input shapes, crawl config and per-episode
set-up.

An episode is one fresh catalog set up from the seed followed by a fixed
sequence of rounds; every episode of a run repeats the same work, so the
rounds of each episode must produce the same output.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import gen


@dataclass(frozen=True)
class Workload:
    name: str
    pages: int
    hosts: int
    images: int
    image_px: int
    frontier: int
    rounds: int
    seen_keys: int = 0             # preloaded seen keys outside the universe
    seen_universe_pct: int = 0     # share of the universe preloaded as seen
    snapshot_keep_last: int | None = None
    compact_every: int | None = None

    def config(self):
        from fetcho_spark.crawl import CrawlConfig
        # sizes only: every on/off flag stays at its default, as users run it
        return CrawlConfig(max_chunk=200, n_seen_buckets=64,
                           bits_per_bucket=1 << 20,
                           snapshot_keep_last=self.snapshot_keep_last,
                           compact_every=self.compact_every)


WORKLOADS = {w.name: w for w in (
    # A fresh catalog's round 0 over a heavily duplicated frontier: the
    # frontier scan + dedup shuffle, the fetch join, payload verify and the
    # link stage do the work; the seen set is empty.
    Workload("crawl_round", pages=10_000, hosts=1_000, images=800,
             image_px=64, frontier=200_000, rounds=1),
    # A long-lived catalog: the seen set is preloaded with keys outside the
    # universe plus ~30% of the universe, so the round pays the bloom probe
    # and the exact anti-join against a seen table 30x the frontier, the
    # full seen_filter rewrite, compaction and snapshot expiry. One round,
    # compacting, keeps a run near one minute on 4 cores.
    Workload("recrawl", pages=6_000, hosts=600, images=300, image_px=64,
             frontier=60_000, rounds=1, seen_keys=180_000,
             seen_universe_pct=30, snapshot_keep_last=2, compact_every=1),
)}


def setup(spark, wl: Workload, seed: int, root: str):
    """Fresh catalog at ``root`` with the workload's inputs installed (and
    the seen set preloaded); returns (catalog, engine)."""
    from fetcho_spark.catalog import Catalog
    from fetcho_spark.crawl import CrawlEngine

    cat = Catalog(spark, root)
    eng = CrawlEngine(spark, cat, wl.config())
    eng.init(gen.frontier(spark, seed, wl.frontier, wl.pages, wl.hosts),
             gen.pages(spark, seed, wl.pages, wl.hosts, wl.images),
             gen.images(spark, seed, wl.images, wl.image_px),
             gen.robots(spark, seed, wl.hosts),
             gen.hosts(spark, wl.hosts))
    if wl.seen_keys:
        # one record call, every key unexpired for the whole episode
        eng.seen.record(
            gen.seen_keys(spark, seed, wl.seen_keys).unionByName(
                gen.universe_sample(spark, seed, wl.pages, wl.hosts,
                                    wl.seen_universe_pct)),
            eng.logical_now(0) + dt.timedelta(milliseconds=eng.cfg.ttl_ms))
    return cat, eng
