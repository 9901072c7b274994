"""The persistent crawl loop as iterative DataFrame rounds (SURVEY.md §3.1).

One round = one DataFrame DAG::

    frontier → dedup → cheap predicates → seen anti-join (bloom-routed)
             → hosts join → priority → salted per-host ranking
             → robots gate → politeness budget split
             → fetch join → payload verify → link extraction
             → next frontier  (carryover ∪ new links)

with every state table (frontier, seen, seen_filter, hosts, fetched,
metrics, checkpoints; recent_ips, robots, robots_fetched when their
features are on) committed as a snapshot between rounds —
fetcho's packet-granularity loop (fetcho/ReadLinko.cs:91-111 wraps packet
files; fetcho/Program.cs:21-91 wires the stages) with Iceberg-style snapshot
commits replacing packet rotation and shuffles replacing the four
BufferBlock thread boundaries.

Determinism: all ordering is a pure function of data — seeded priority
(operators/priority.py), total (priority, url_hash64, url) sort keys,
deterministic batch-dedup survivor choice — so the same seed list + politeness
budget reproduce the same crawl order and seen set at any parallelism level
(north rule; golden-tested against the pure-Python oracle in simulator.py).

Skew: one mega-host can dominate a per-host window. The ranking is two-phase —
a salted pre-rank on (host_hash, salt) keeps a bounded superset per salt, the
final per-host window ranks only survivors — explicit salting per the north
rule, on top of AQE's runtime skew-join splitting.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window

from .catalog import Catalog
from .operators import frontier as fr
from .operators import politeness as po
from .operators import priority as pr
from .operators.fetch import extract_links, simulate_fetch
from .operators.robots import (apply_robots_gate, parse_robots_df,
                               robots_rules)
from .operators.seen import SeenSet, bucket_col
from .functions.urls import (frontier_host_col, with_canonical_url,
                             with_url_keys)

EPOCH0 = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# host/src_host are NOT stored: they are pure functions of url/src_url
# (urls.frontier_host — one shared definition with the simulator) and are
# re-derived post-dedup each round. Dropping them cut 16% of the frontier
# table's bytes at the bench shape — the table every mention of a
# 10^10-URL frontier is scanned from (dedup) and written to (link stage).
FRONTIER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("src_url", T.StringType()),
    T.StructField("round_added", T.IntegerType()),
])

# arrow schemas for the driver-local bookkeeping appends
# (catalog.append_rows) — types mirror what Spark itself writes for these
# tables (pmod/count/sum → int64; F.lit(round_no) → int32) so appended
# files mix cleanly inside one snapshot-versioned table
import pyarrow as _pa  # noqa: E402  (baked-in dependency)

_METRICS_ARROW = _pa.schema([("bucket", _pa.int64()),
                             ("n_fetched", _pa.int64()),
                             ("n_ok", _pa.int64()),
                             ("round", _pa.int32())])
_CKPT_ARROW = _pa.schema([("round", _pa.int32()),
                          ("snapshots", _pa.string()),
                          ("counters", _pa.string())])


# state tables whose snapshot ids every round checkpoint records
# (rollback truncates torn writes newer than these ids on resume)
_CKPT_TABLES = ("frontier", "seen", "seen_filter", "hosts",
                "fetched", "metrics", "recent_ips",
                "robots", "robots_fetched")

# the fetched table's columns in write order; the corpus's body and S7
# redirected_to follow when it carries them. It is the packet-file analog
# and the crawl's one record per fetch: crawl order is read back from it
# ordered by (round, fetch_seq).
FETCHED_COLS = ("round", "fetch_seq", "url", "url_hash64", "host",
                "image_id", "status", "priority",
                "caption", "phash", "w", "h", "fmt",
                "decode_ok", "dims_ok", "phash_ok", "psnr_db", "psnr_ok",
                "out_links", "content_type", "req_headers", "resp_headers",
                "blocked_reason")

# O2 salted pre-rank: (host_hash, url_hash64 % N_SALTS) cells each keep
# their max_chunk best rows before the per-host window ranks the survivors
N_SALTS = 32

# Spark local property naming the CrawlEngine phase that started a job; it
# rides every SparkListenerJobStart, so an event log rolls up by phase
PHASE_PROP = "fetcho.phase"


def _in_background(*fns: Callable[[], object]) -> Callable[[], list]:
    """Start each function on its own ``InheritableThread`` and return a
    join that waits for all of them, re-raises the first error and returns
    their results in order. A thread copies the caller's Spark local
    properties when it starts, so a function names its phase itself."""
    from pyspark import InheritableThread
    results: list = [None] * len(fns)
    errors: list[BaseException] = []

    def run(i: int) -> None:
        try:
            results[i] = fns[i]()
        except BaseException as e:  # re-raised by the join
            errors.append(e)

    threads = [InheritableThread(run, args=(i,), daemon=True)
               for i in range(len(fns))]
    for t in threads:
        t.start()

    def join() -> list:
        for t in threads:
            t.join()
        if errors:
            raise errors[0]
        return results
    return join


def _with_hosts(frontier: DataFrame) -> DataFrame:
    """host/src_host, derived post-dedup on ~unique rows from the shared
    frontier_host definition (urls.py) — not stored in the frontier table,
    so the 10^10-mention dedup scan never carries them."""
    return (frontier
            .withColumn("host", frontier_host_col(F.col("url")))
            .withColumn("src_host",
                        F.when(F.col("src_url").isNotNull(),
                               frontier_host_col(F.col("src_url")))))


def sitemap_seed_rows(webgraph: DataFrame, sm_urls: list[str],
                      round_no: int) -> DataFrame:
    """Next-round frontier rows from the corpus pages of ``sm_urls``: the
    urlset locs, canonicalized against their sitemap URL (src_url), with
    round_added = round + 1. The IN filter reaches the corpus scan."""
    from .sources.sitemaps import sitemap_entries
    sm_pages = (webgraph.filter(F.col("url").isin(sm_urls)
                                & (F.col("status") == 200)
                                & F.col("body").isNotNull())
                .select(F.col("url").alias("sitemap_url"),
                        F.col("body").alias("body")))
    locs = (sitemap_entries(sm_pages)
            .filter((F.col("kind") == "urlset") & F.col("loc").isNotNull())
            .select(F.col("loc").alias("href"),
                    F.col("sitemap_key").alias("base")))
    return with_canonical_url(locs).select(
        "url", F.col("base").alias("src_url"),
        F.lit(round_no + 1).cast("int").alias("round_added"))


@dataclass
class CrawlConfig:
    """The options a caller sets; the engine and the simulator read every
    field. The reference's fixed policy values are defined once, beside
    the operator that applies them: the P12 priority cap
    (``priority.MAX_PRIORITY``), the P10 network-issue cap
    (``frontier.MAX_NETWORK_ISSUES``) and the user agent the robots gate
    honours and the requests announce (``robots.DEFAULT_UA``)."""
    seed: int = 42
    round_ms: int = 60_000
    ttl_ms: int = 28 * 24 * 3_600_000   # PageCacheExpiry 28d (Fetcho.cs:278)
    max_chunk: int = 200                 # MaxQueueBufferQueueLength analog
    max_links_per_page: int = 500
    n_seen_buckets: int = 64
    bits_per_bucket: int = 1 << 20
    ip_window_rounds: int = 0            # P9: >0 drops discardable items
                                         # whose IP group was fetched within
                                         # the last N rounds (Queueo.cs:
                                         # 504-528 FIFO IP window, as rounds)
    blocked_extensions: tuple | None = None  # P4: IsProbablyBlocked media
                                         # extensions; None = off (this
                                         # engine's corpus IS media — see
                                         # frontier.BLOCKED_EXTENSIONS)
    max_link_quota: int | None = None    # P14: stop accepting new links once
                                         # this many were queued (Queueo.cs:
                                         # 383,477 QuotaEnabled/MaxLinkQuota;
                                         # None = disabled, as in reference)
    webgraph_buckets: int | None = None  # bucket the (static, 100 TB-side)
                                         # corpus by url at init: the fetch
                                         # join then reads it with NO
                                         # Exchange — only the per-round
                                         # frontier shuffles. None = plain
                                         # parquet snapshots.
    revalidation: bool = False           # S7 If-Modified-Since: refetches of
                                         # a previously-seen URL (expired
                                         # TTL) carry IMS and the static
                                         # corpus answers 304 Not Modified —
                                         # no payload/body/links
                                         # (HttpResourceFetcher.cs:250)
    fetch_robots: bool = False           # S5 live robots acquisition: at
                                         # round start, hosts newly seen in
                                         # the deduped frontier get their
                                         # http://host/robots.txt looked up
                                         # in the corpus, parsed
                                         # (robots.parse_robots_df) and
                                         # appended to the robots table —
                                         # the same round's gate already
                                         # honors them (the reference
                                         # fetches robots before first
                                         # contact with a host; our default
                                         # keeps robots as static init
                                         # input). Attempts are recorded
                                         # once per host in robots_fetched;
                                         # both tables ride checkpoints.
    fetch_sitemaps: bool = False         # S8+ sitemap seed discovery
                                         # (requires fetch_robots; ignored
                                         # otherwise): Sitemap: URLs
                                         # collected during robots
                                         # acquisition are fetched from the
                                         # corpus the same round, their
                                         # urlset locs canonicalized and
                                         # injected into the NEXT round's
                                         # frontier (src_url = the sitemap
                                         # URL). One level: sitemapindex
                                         # children are not followed. The
                                         # reference only COLLECTS sitemap
                                         # lines (RobotsFile.cs:191-194);
                                         # this closes the loop.
    snapshot_keep_last: int | None = None  # table maintenance: after each
                                         # round's checkpoint, expire all but
                                         # the newest K snapshots of every
                                         # state table (Iceberg
                                         # expireSnapshots). None = keep full
                                         # history (tests/time travel); a
                                         # perpetual 10^10-URL crawl MUST set
                                         # this or snapshot metadata + dead
                                         # frontier overwrites grow without
                                         # bound. Resume safety: expiry runs
                                         # only after the checkpoint commit,
                                         # so the ids the latest checkpoint
                                         # references are always the newest —
                                         # always retained.
    compact_every: int | None = None     # table maintenance: every N rounds,
                                         # fold the append-only seen table
                                         # (max next_fetch per hash — the
                                         # MERGE the reference's upsert does
                                         # continuously). Runs last on the
                                         # state commit thread, after the
                                         # round's seen/hosts writes and
                                         # still before the checkpoint, so
                                         # the checkpoint references the
                                         # compacted snapshot and resume
                                         # never undoes the work. None = off.
    assign_global_seq: bool = True       # off for throughput benches


def _accepted_links(ckpt: Row | None) -> int:
    """P14 resume: the cumulative accepted-link count rides the round
    checkpoint counters, so quota state survives engine restarts."""
    if ckpt is None:
        return 0
    return int(json.loads(ckpt["counters"]).get("links_accepted_total", 0))


class CrawlEngine:
    """Drives rounds over a Catalog; all state in snapshot-versioned tables."""

    def __init__(self, spark: SparkSession, catalog: Catalog,
                 config: CrawlConfig | None = None):
        self.spark = spark
        self.catalog = catalog
        self.cfg = config or CrawlConfig()
        self.seen = SeenSet(catalog, self.cfg.n_seen_buckets,
                            self.cfg.bits_per_bucket)
        # compiled robots rules, memoized per robots-table snapshot id:
        # one distributed compile job per snapshot, not one per round
        self._robots_rules: tuple[int | None, DataFrame] | None = None
        # P14 cumulative accepted-link count; lazily restored from the last
        # checkpoint so quota survives resume
        self._links_accepted: int | None = None
        # wall-clock per pipeline phase of the LAST run_round (observability
        # only — bench.py publishes these so the scaling artifact can NAME
        # which phase stops scaling instead of inferring it; phases are
        # delimited by the round's materialization points, since Spark's
        # laziness bills all upstream work to the action that runs it).
        # state_commits and part of metrics_checkpoint run on background
        # threads beside link_stage, so the walls do not add up to the
        # round; maintenance is snapshot expiry only.
        self.phase_times: dict[str, float] = {}

    # ------------------------------------------------------------ lifecycle
    def logical_now(self, round_no: int) -> dt.datetime:
        return EPOCH0 + dt.timedelta(milliseconds=round_no * self.cfg.round_ms)

    def init(self, seeds: "list[str] | DataFrame", webgraph: DataFrame,
             images: DataFrame, robots: DataFrame, hosts: DataFrame) -> None:
        """Install the universe + seed frontier as snapshot 0 of each table.

        ``seeds`` is a URL list (small seed lists) or a DataFrame with a
        ``url`` column (bench-scale frontiers stay distributed end-to-end).
        """
        c = self.catalog
        if self.cfg.webgraph_buckets:
            c.overwrite_bucketed("webgraph", webgraph, "url",
                                 self.cfg.webgraph_buckets)
        else:
            c.overwrite("webgraph", webgraph)
        c.overwrite("images", images)
        c.overwrite("robots", robots)
        c.overwrite("hosts", hosts)
        if isinstance(seeds, DataFrame):
            if "src_url" in seeds.columns:      # pre-built frontier
                seed_df = seeds
            else:
                seed_df = seeds.select(
                    F.col("url"),
                    F.lit(None).cast("string").alias("src_url"),
                    F.lit(0).alias("round_added"))
        else:
            seed_rows = [(u, None, 0) for u in seeds]
            seed_df = self.spark.createDataFrame(seed_rows, FRONTIER_SCHEMA)
        c.overwrite("frontier", seed_df)
        # round -1 "init" checkpoint: without it a crash DURING round 0
        # (torn seen/frontier writes, no checkpoint row yet) would be
        # indistinguishable from a clean fresh start, and resume would build
        # on the torn state. Tables the first round creates are recorded as
        # None — rollback drops them if a torn round materialized them.
        self._write_checkpoint(-1, self._snapshot_ids(), {})

    def last_completed_round(self) -> int | None:
        ckpt = self._latest_checkpoint()
        return None if ckpt is None else int(ckpt["round"])

    def _latest_checkpoint(self) -> Row | None:
        """The newest checkpoint row (round, snapshots, counters), or None
        on a catalog without one — the one read every resume path uses."""
        if not self.catalog.exists("checkpoints"):
            return None
        rows = (self.catalog.read("checkpoints")
                .orderBy(F.col("round").desc()).limit(1).collect())
        return rows[0] if rows else None

    def _snapshot_ids(self) -> dict[str, int | None]:
        """{state table: current snapshot id}, None for a table not created
        yet — what a checkpoint records and rollback restores."""
        c = self.catalog
        return {t: c.current_snapshot_id(t) if c.exists(t) else None
                for t in _CKPT_TABLES}

    def _write_checkpoint(self, round_no: int, snap_ids: dict,
                          counters: dict) -> None:
        self.catalog.append_rows(
            "checkpoints",
            [(round_no, json.dumps(snap_ids), json.dumps(counters))],
            _CKPT_ARROW, meta={"round": round_no})

    def _compiled_robots(self) -> DataFrame:
        """Distributed per-host LIKE-rule compile (robots.rules_like_df),
        cached per robots snapshot — rebuilt only when the robots table
        advances, materialized once, broadcast-joined every round."""
        from .operators.robots import rules_like_df
        sid = self.catalog.current_snapshot_id("robots")
        if self._robots_rules is None or self._robots_rules[0] != sid:
            if self._robots_rules is not None:
                self._robots_rules[1].unpersist()
            # phase-named so the bench artifact shows this as the one-time
            # per-snapshot cost it is (a single measured round charges the
            # whole compile; steady-state rounds reuse the memo)
            with self._phase("robots_compile"):
                rules = rules_like_df(self.catalog.read("robots")).persist()
                rules.count()  # materialize the compile once per snapshot
            self._robots_rules = (sid, rules)
        return self._robots_rules[1]

    @contextlib.contextmanager
    def _phase(self, name: str):
        """Time ``name`` into ``phase_times`` and tag the Spark jobs this
        thread starts meanwhile with the PHASE_PROP local property (the
        previous value comes back on exit)."""
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(PHASE_PROP)
        sc.setLocalProperty(PHASE_PROP, name)
        t0 = time.time()
        try:
            yield
        finally:
            sc.setLocalProperty(PHASE_PROP, prev)
            self.phase_times[name] = round(
                self.phase_times.get(name, 0.0) + time.time() - t0, 3)

    def _discover_sitemap_seeds(self, parsed: DataFrame,
                                round_no: int) -> DataFrame | None:
        """cfg.fetch_sitemaps: fetch the Sitemap: URLs collected during
        this round's robots acquisition from the corpus, parse urlset locs
        (sources/sitemaps.py; ONE level — sitemapindex children are not
        followed, the same bounded-depth stance as S7's one redirect hop),
        canonicalize against the sitemap URL via the hybrid fast/slow
        combine (the link stage's machinery), and return next-round
        frontier rows (url, src_url = the sitemap URL, round_added =
        round + 1). The corpus scan is pushed down through an IN filter
        over the collected sitemap URL list — bounded by this round's new
        hosts (the IVF-centroid class of driver collect), never
        corpus-sized."""
        from .operators.robots import robots_sitemaps
        sm_urls = [r["sitemap"] for r in
                   robots_sitemaps(parsed).select("sitemap")
                   .distinct().collect()]
        if not sm_urls:
            return None
        inject = sitemap_seed_rows(self.catalog.read("webgraph"), sm_urls,
                                   round_no).persist()
        return inject if inject.count() else None

    # ----------------------------------------------------------- one round
    def run_round(self, round_no: int) -> dict:
        """One round as its stages, in commit order. The state commits run
        on background threads overlapped with the link stage and are
        joined before metrics and the checkpoint, which is written LAST."""
        self.phase_times = {}
        counters: dict[str, int] = {}
        now = self.logical_now(round_no)
        deduped = self._dedup(counters)
        frontier = _with_hosts(deduped.drop("_mentions"))
        sitemap_inject = (self._acquire_robots(frontier, round_no, counters)
                          if self.cfg.fetch_robots else None)
        planned = self._plan_fetch(frontier, round_no, now)
        fetched = self._fetch_verify(planned, round_no)
        join_commits = self._start_state_commits(fetched, round_no, now)
        quota_df, link_counters = self._link_stage(
            planned, fetched, round_no, sitemap_inject)
        # rejoin the overlapped commits before anything downstream reads
        # their snapshot ids — the checkpoint must describe a finished round
        lin_rows = join_commits()
        counters["fetched"] = sum(r["n_fetched"] for r in lin_rows)
        counters["fetched_ok"] = sum(r["n_ok"] for r in lin_rows)
        counters.update(link_counters)
        self._append_metrics(lin_rows, round_no)
        for df in (planned, deduped, quota_df, sitemap_inject):
            if df is not None:
                df.unpersist()
        self._checkpoint(round_no, counters)
        return counters

    def _dedup(self, counters: dict) -> DataFrame:
        """P1 — batch dedup with a deterministic survivor (min src_url; None
        first) so the same referrer feeds the priority model at any
        parallelism level. groupBy + min_by (NOT a window): partial
        aggregation collapses duplicates map-side, so the shuffle carries
        ~unique URLs, not the raw frontier — the decisive difference at a
        10^10-mention frontier. Keyed on the 64-bit hash (the reference's
        seen set is likewise hash-keyed, Md5Hash semantics). The agg also
        carries the mention count, so frontier_in needs no separate
        full-frontier count() job: one action materializes the (small)
        deduped set, which every downstream stage then reuses. Returns the
        persisted (url, src_url, round_added, _mentions) frame."""
        frontier = self.catalog.read("frontier").withColumn(
            "_h", F.xxhash64("url"))
        dedup_key = F.struct(
            F.when(F.col("src_url").isNull(), 0).otherwise(1).alias("k0"),
            F.coalesce(F.col("src_url"), F.lit("")).alias("k1"),
            F.col("round_added").alias("k2"))
        row = F.struct(*[F.col(c) for c in
                         ("url", "src_url", "round_added")])
        deduped = (frontier.groupBy("_h")
                   .agg(F.min_by(row, dedup_key).alias("_r"),
                        F.count("*").alias("_mentions"))
                   .select("_r.*", "_mentions")
                   .persist())
        with self._phase("dedup_agg"):
            agg = deduped.agg(F.sum("_mentions").alias("m"),
                              F.count("*").alias("u")).collect()[0]
        counters["frontier_in"] = int(agg["m"] or 0)
        counters["frontier_unique"] = int(agg["u"] or 0)
        return deduped

    def _acquire_robots(self, frontier: DataFrame, round_no: int,
                        counters: dict) -> DataFrame | None:
        """S5 live robots acquisition (cfg.fetch_robots; mirrored in
        simulator.py): hosts newly seen in the deduped frontier get their
        http://host/robots.txt looked up in the corpus and parsed (the
        zero-shuffle JVM fold) — the same round's gate sees the new rules
        because _compiled_robots() re-keys on the robots snapshot id.
        Attempts are recorded ONCE per host (robots_fetched, append-only
        like seen); both tables ride the round checkpoint so a torn
        acquisition rolls back with the round. Returns the persisted
        sitemap seed rows for the next frontier (cfg.fetch_sitemaps), or
        None."""
        c = self.catalog
        sitemap_inject = None
        with self._phase("robots_fetch"):
            hosts_now = frontier.select("host").distinct()
            if c.exists("robots_fetched"):
                hosts_new = hosts_now.join(
                    c.read("robots_fetched").select("host").distinct(),
                    "host", "left_anti")
            else:
                hosts_new = hosts_now
            hosts_new = hosts_new.persist()
            n_new = hosts_new.count()
            if n_new:
                # pre-filter the corpus scan to robots.txt rows: the
                # predicate reaches the parquet scan, so the join reads a
                # sliver of the 100 TB side, not the whole table
                web = c.read("webgraph").filter(
                    F.col("url").endswith("/robots.txt"))
                pages = (hosts_new
                         .withColumn("_rurl",
                                     F.concat(F.lit("http://"),
                                              F.col("host"),
                                              F.lit("/robots.txt")))
                         .join(web.select(
                             F.col("url").alias("_rurl"),
                             F.col("status").alias("_rst"),
                             F.col("body").alias("_rbody")),
                             "_rurl", "left")
                         .filter((F.col("_rst") == 200)
                                 & F.col("_rbody").isNotNull()))
                parsed = parse_robots_df(
                    pages.select("host", F.col("_rbody").alias("body"))
                ).persist()
                new_rules = robots_rules(parsed)
                if new_rules.count():
                    c.append("robots", new_rules, meta={"round": round_no})
                if self.cfg.fetch_sitemaps:
                    sitemap_inject = self._discover_sitemap_seeds(
                        parsed, round_no)
                    if sitemap_inject is not None:
                        counters["sitemap_seeds"] = sitemap_inject.count()
                parsed.unpersist()
                c.append("robots_fetched",
                         hosts_new.withColumn(
                             "round", F.lit(round_no).cast("int")),
                         meta={"round": round_no})
            hosts_new.unpersist()
            counters["robots_hosts_new"] = int(n_new)
        return sitemap_inject

    def _plan_fetch(self, frontier: DataFrame, round_no: int,
                    now: dt.datetime) -> DataFrame:
        """Gate, rank and budget the deduped frontier: the cheap predicates,
        the seen anti-join, the hosts join, priority, the salted per-host
        ranking, the robots gate and the politeness budget. Returns the
        persisted frame; rows with ``chunk_seq < fetch_budget`` are fetched
        this round, the rest carry over."""
        cfg, c = self.cfg, self.catalog
        # cheap cascade (P2/P3/P5/P4), keys, synthetic IP (J3/P6)
        frontier = with_url_keys(fr.cheap_cascade(frontier))
        if cfg.blocked_extensions:
            frontier = frontier.filter(
                fr.extension_allowed(blocked=cfg.blocked_extensions))
        frontier = fr.with_ip_group(frontier)

        # P8/J1 — seen set (bloom-routed exact anti-join)
        frontier = self.seen.filter_unseen(frontier, now)

        # S7 If-Modified-Since: mark survivors whose hash IS in the seen
        # table (TTL expired → refetch → conditional request). One extra
        # equi-join on the seen table, only when revalidation is on.
        if cfg.revalidation:
            if c.exists("seen"):
                # distinct: the seen table is APPEND-only (one row per
                # attempt) — joining raw rows would fan out refetched URLs
                seen_keys = (c.read("seen").select("url_hash64").distinct()
                             .withColumn("_ws", F.lit(True)))
                frontier = (frontier.join(seen_keys, "url_hash64", "left")
                            .withColumn("_was_seen",
                                        F.coalesce(F.col("_ws"),
                                                   F.lit(False)))
                            .drop("_ws"))
            else:
                frontier = frontier.withColumn("_was_seen", F.lit(False))

        # J2 — hosts join + P10. No hint: Spark broadcasts the hosts table
        # while it fits spark.sql.autoBroadcastJoinThreshold and shuffles
        # on host past it, so executor memory stays safe at any host count.
        frontier = (frontier.join(c.read("hosts"), "host", "left")
                    .filter(fr.network_ok()))

        # P9 — IP-seen-recently: discardable items (those with a referrer;
        # seeds are never discardable, QueueItem.CanBeDiscarded) whose IP
        # group was fetched within the window are dropped
        if cfg.ip_window_rounds > 0 and c.exists("recent_ips"):
            recent = (c.read("recent_ips")
                      .filter(F.col("round") >= round_no - cfg.ip_window_rounds)
                      .select("ip_group").distinct())
            disc = frontier.filter(F.col("src_url").isNotNull()) \
                           .join(recent, "ip_group", "left_anti")
            frontier = frontier.filter(F.col("src_url").isNull()) \
                               .unionByName(disc)

        # O1 — priority; P12 cap
        frontier = frontier.withColumn(
            "priority",
            pr.priority_col(
                cfg.seed, round_no,
                same_host_as_referrer=F.col("src_host") == F.col("host"),
                is_blocked=F.lit(False),
                has_ip=F.col("has_ip")),
        ).filter(fr.priority_acceptable())

        # O2 — per-host ranking, salted pre-pass for skewed hosts
        w_salt = Window.partitionBy("host_hash", "_salt") \
                       .orderBy("priority", "url_hash64")
        frontier = (frontier
                    .withColumn("_salt", F.pmod(F.col("url_hash64"),
                                                F.lit(N_SALTS)))
                    .withColumn("_sr", F.row_number().over(w_salt))
                    .filter(F.col("_sr") <= cfg.max_chunk)
                    .drop("_salt", "_sr"))
        frontier = pr.with_chunk_seq(frontier).filter(fr.chunk_cap(cfg.max_chunk))

        # P11 — robots gate, most expensive predicate last (R3)
        frontier = frontier.withColumn(
            "path", F.regexp_replace("url", r"^https?://[^/]*", ""))
        frontier = frontier.withColumn(
            "path", F.when(F.col("path") == "", "/").otherwise(F.col("path")))
        frontier = apply_robots_gate(frontier, self._compiled_robots())

        # O5 — politeness budget split (chunk_seq already ranks per host).
        # Persist: selected and carryover both consume the full pipeline; a
        # cache here halves the round (one evaluation instead of two).
        return po.with_budget(frontier, cfg.round_ms).persist()

    def _fetch_verify(self, planned: DataFrame, round_no: int) -> DataFrame:
        """J5 + C12 — fetch join + payload verify of the in-budget rows,
        appended to ``fetched`` (the packet-file analog: payload
        verification verdicts, header maps (F9), content type, and — for
        raw-body corpora — the response body itself; WebDataPacketWriter
        stores request+response+data and link extraction re-reads it like
        ReadLinko). Returns this round's committed ``fetched`` rows."""
        c = self.catalog
        selected = planned.filter(F.col("chunk_seq") < F.col("fetch_budget"))
        # deterministic global fetch order for lineage/golden tests —
        # two-phase range rank, never a single-task global Window (the
        # selected set is millions of rows per round at 10^10 scale)
        if self.cfg.assign_global_seq:
            selected = pr.with_global_seq(selected)
        else:
            selected = selected.withColumn("fetch_seq", F.lit(None).cast("int"))
        fetched = simulate_fetch(selected, c.read("webgraph"), c.read("images"))
        fetched = fetched.withColumn("round", F.lit(round_no))
        cols = list(FETCHED_COLS)
        if "body" in fetched.columns:
            cols.append("body")
        if "redirected_to" in fetched.columns:  # S7 hop lineage
            cols.append("redirected_to")
        with self._phase("schedule_fetch_verify"):
            c.append("fetched", fetched.select(*cols),
                     meta={"round": round_no})
        return c.read_incremental("fetched",
                                  c.current_snapshot_id("fetched") - 1)

    def _start_state_commits(self, fetched: DataFrame, round_no: int,
                             now: dt.datetime) -> Callable[[], list]:
        """Start the state commits that consume ONLY this round's committed
        ``fetched`` rows on two driver threads, CONCURRENTLY with the link
        stage:

        - state_commits: the seen-set upsert (every *attempted* URL is
          recorded visited before the fetch outcome matters, Fetcho.cs:170,
          274-281), host feedback, P9 state, then ``seen.compact()`` when
          cfg.compact_every is due;
        - the lineage rollup's collect.

        This is overlap, not reordering: each table sees the same commits
        in the same order, and the returned join function must run before
        the round checkpoint (checkpoint-last invariant intact), so the
        per-round fixed commit latency — the Amdahl floor the 2→8 phase
        profile names as the non-scaling component — hides under the link
        stage's compute. The join re-raises a thread's error and returns
        the lineage rows."""
        cfg, c = self.cfg, self.catalog

        def state_commits() -> None:
            with self._phase("state_commits"):
                next_fetch = now + dt.timedelta(milliseconds=cfg.ttl_ms)
                self.seen.record(fetched, next_fetch)

                # host feedback (429 penalty / network issues)
                c.overwrite("hosts",
                            po.apply_429_penalty(c.read("hosts"), fetched),
                            meta={"round": round_no})

                # P9 state: record the IP groups fetched this round
                if cfg.ip_window_rounds > 0:
                    ips = fetched.select(fr.ip_group_col().alias("ip_group"))
                    c.append("recent_ips",
                             ips.distinct()
                             .withColumn("round", F.lit(round_no)),
                             meta={"round": round_no})

                # the fold commits before the checkpoint: a checkpoint
                # naming the pre-fold snapshot would make the next resume
                # roll the compaction back as a torn write
                every = cfg.compact_every
                if every and (round_no + 1) % every == 0:
                    self.seen.compact()

        # per-partition lineage metrics (north rule): counts per host bucket.
        # ≤ n_seen_buckets rows: collect ONCE (one fetched scan) — the
        # metrics append and the fetched/fetched_ok totals both come from
        # the local rows
        lineage = (fetched.groupBy(
            bucket_col(cfg.n_seen_buckets).alias("bucket"))
            .agg(F.count("*").alias("n_fetched"),
                 F.sum(F.when(F.col("status") == 200, 1).otherwise(0))
                  .alias("n_ok"))
            .withColumn("round", F.lit(round_no)))

        def lineage_collect() -> list:
            with self._phase("metrics_checkpoint"):
                return lineage.collect()

        join = _in_background(state_commits, lineage_collect)
        return lambda: join()[1]

    def _link_stage(self, planned: DataFrame, fetched: DataFrame,
                    round_no: int, sitemap_inject: DataFrame | None
                    ) -> tuple[DataFrame | None, dict]:
        """C2/C3/O7 — link extraction → next frontier (carryover ∪ new
        links, after the P14 quota cut, ∪ sitemap seeds). Returns the
        persisted quota-cut frame (or None) and the link counters, which
        ride the frontier overwrite as observed metrics — no extra job
        re-runs the link stage to count them."""
        cfg = self.cfg
        carryover = (planned
                     .filter(F.col("chunk_seq") >= F.col("fetch_budget"))
                     .select("url", "src_url", "round_added"))
        links = extract_links(fetched, cfg.seed, round_no,
                              cfg.max_links_per_page)
        new_frontier = links.select(
            "url", "src_url", F.lit(round_no + 1).alias("round_added"))
        counters: dict[str, int] = {}
        quota_df = None
        if cfg.max_link_quota is not None:
            quota_df = self._quota_cut(new_frontier, round_no).persist()
            self._links_accepted += quota_df.count()
            counters["links_accepted_total"] = self._links_accepted
            new_frontier = quota_df
        obs_new, obs_carry = Observation(), Observation()
        n_rows = F.count(F.lit(1)).alias("n")
        nxt = carryover.observe(obs_carry, n_rows).unionByName(
            new_frontier.observe(obs_new, n_rows))
        if sitemap_inject is not None:
            # sitemap seeds are seed-class: they join the NEXT frontier
            # after the P14 quota cut (quota bounds page LINKS, Queueo.cs
            # semantics) and dedup/seen handle re-discoveries next round
            nxt = nxt.unionByName(
                sitemap_inject.select(*[f.name for f in FRONTIER_SCHEMA]))
        with self._phase("link_stage"):
            self.catalog.overwrite("frontier", nxt, meta={"round": round_no})
        counters["new_links"] = obs_new.get["n"]
        counters["carryover"] = obs_carry.get["n"]
        return quota_df, counters

    def _quota_cut(self, new_frontier: DataFrame,
                   round_no: int) -> DataFrame:
        """P14 — global link quota. Acceptance order is a pure function of
        data (seeded hash, then url/src_url) so the cut is identical at any
        parallelism. The cut is the two-phase range-partitioned rank
        with_global_seq uses, so even a near-10^10 remaining quota never
        funnels a top-K through the driver."""
        if self._links_accepted is None:
            self._links_accepted = _accepted_links(self._latest_checkpoint())
        remaining = self.cfg.max_link_quota - self._links_accepted
        if remaining <= 0:
            return new_frontier.limit(0)
        qkey = F.xxhash64("url", F.lit(f"quota:{self.cfg.seed}:{round_no}"))
        ranked = pr.with_global_seq(
            new_frontier.withColumn("_qkey", qkey),
            sort_cols=("_qkey", "url", "src_url"),
            out_col="_qrank", out_type="long")
        return (ranked.filter(F.col("_qrank") < remaining)
                .drop("_qkey", "_qrank"))

    def _append_metrics(self, lin_rows: list, round_no: int) -> None:
        with self._phase("metrics_checkpoint"):
            # ≤ n_seen_buckets local rows → driver-local parquet append: a
            # full Spark write job for this was pure fixed per-round latency
            # (phase_efficiency 0.285 in the BENCH_r04 2→8 profile)
            self.catalog.append_rows(
                "metrics",
                [(r["bucket"], r["n_fetched"], r["n_ok"], r["round"])
                 for r in lin_rows],
                _METRICS_ARROW, meta={"round": round_no})

    def _checkpoint(self, round_no: int, counters: dict) -> None:
        """Checkpoint LAST → a round is complete iff its checkpoint row
        exists; then cfg.snapshot_keep_last expiry, which only ever drops
        snapshots older than the ones the checkpoint references."""
        c = self.catalog
        snap_ids = self._snapshot_ids()
        with self._phase("metrics_checkpoint"):
            self._write_checkpoint(round_no, snap_ids, counters)
        if self.cfg.snapshot_keep_last is not None:
            with self._phase("maintenance"):
                for t in (*_CKPT_TABLES, "checkpoints"):
                    if c.exists(t):
                        c.expire_snapshots(
                            t, keep_last=self.cfg.snapshot_keep_last)

    # -------------------------------------------------------------- resume
    def rollback_to_last_checkpoint(self) -> dict[str, int]:
        """Crash recovery: a round is complete iff its checkpoint row exists
        (the checkpoint is committed LAST), so any table snapshot NEWER than
        the ids the latest checkpoint records is a torn write from a round
        that never finished. Roll those tables back (Catalog.rollback —
        metadata-only manifest truncation, O(1) in table size) so resume
        re-runs the torn round from clean state instead of building on it
        (e.g. double-appended seen rows would mis-drop that round's URLs).
        Returns {table: snapshot_id rolled back to}; empty when clean."""
        return self._rollback_to(self._latest_checkpoint())

    def _rollback_to(self, ckpt: Row | None) -> dict[str, int]:
        if ckpt is None:
            return {}
        rolled: dict[str, int] = {}
        # the ids the checkpoint stored, not _CKPT_TABLES: a catalog
        # written by an older engine may list tables this one never writes
        for t, sid in json.loads(ckpt["snapshots"]).items():
            if not self.catalog.exists(t):
                continue
            if sid is None:              # table created by the torn round
                self.catalog.drop(t)
                rolled[t] = -1
                continue
            cur = self.catalog.current_snapshot_id(t)
            if cur is not None and cur > sid:
                self.catalog.rollback(t, sid)
                rolled[t] = sid
        if rolled:
            # torn-round quota state must not leak into the re-run
            self._links_accepted = None
        return rolled

    def run(self, n_rounds: int) -> list[dict]:
        ckpt = self._latest_checkpoint()
        self._rollback_to(ckpt)
        # the checkpoint's own count: a round that died after its quota
        # cut but before any commit must not leave its links counted
        self._links_accepted = _accepted_links(ckpt)
        start = 0 if ckpt is None else int(ckpt["round"]) + 1
        return [self.run_round(r) for r in range(start, start + n_rounds)]
