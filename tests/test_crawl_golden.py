"""Golden end-to-end: the distributed engine must reproduce the oracle
simulator's crawl order and final seen set exactly (north rule), stay
identical across parallelism levels, and resume from checkpoint losslessly.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from fetcho_spark import fixtures as fx
from fetcho_spark.catalog import Catalog
from fetcho_spark.crawl import CrawlConfig, CrawlEngine
from fetcho_spark.simulator import simulate

N_PAGES, N_HOSTS, N_IMAGES, N_SEEDS, N_ROUNDS = 50, 10, 15, 6, 3

CFG = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14)

LOG_COLS = ("round", "fetch_seq", "url", "status", "priority")


def _universe():
    wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES)
    return (wg, fx.gen_robots(N_HOSTS), fx.gen_hosts(N_HOSTS),
            fx.gen_seeds(wg, N_SEEDS))


def _engine(spark, tmpdir, n_rounds=N_ROUNDS):
    wg, rb, hs, seeds = _universe()
    cat = Catalog(spark, tmpdir)
    eng = CrawlEngine(spark, cat, CFG)
    eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
             fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
             fx.hosts_df(spark, N_HOSTS))
    eng.run(n_rounds)
    return cat, eng


def _log_rows(cat):
    return [tuple(r[c] for c in LOG_COLS)
            for r in cat.read("fetched").orderBy("round", "fetch_seq").collect()]


@pytest.fixture(scope="module")
def crawl_run(spark):
    d = tempfile.mkdtemp(prefix="golden-")
    cat, eng = _engine(spark, d)
    wg, rb, hs, seeds = _universe()
    sim = simulate(seeds, wg, rb, hs, N_ROUNDS, CFG)
    yield cat, sim
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_crawl_order_matches_oracle(crawl_run):
    cat, sim = crawl_run
    eng_log = _log_rows(cat)
    sim_log = [tuple(d[c] for c in LOG_COLS) for d in sim.log]
    assert len(eng_log) > 0
    assert eng_log == sim_log


@pytest.mark.spark
@pytest.mark.slow
def test_fetched_is_the_only_fetch_record(crawl_run):
    """A round writes each fetch once, to ``fetched``: a finished crawl has
    no crawl_log table and none of its checkpoints lists one."""
    import json
    cat, _ = crawl_run
    assert not cat.exists("crawl_log")
    ckpts = cat.read("checkpoints").collect()
    assert len(ckpts) == N_ROUNDS + 1          # init + one per round
    for r in ckpts:
        assert "crawl_log" not in json.loads(r["snapshots"])


@pytest.mark.spark
@pytest.mark.slow
def test_final_seen_set_matches_oracle(crawl_run):
    cat, sim = crawl_run
    eng_seen = {r["url_hash64"] for r in
                cat.read("seen").select("url_hash64").collect()}
    assert eng_seen == set(sim.seen.keys())


@pytest.mark.spark
@pytest.mark.slow
def test_payload_invariants(crawl_run):
    """input_hint per-row invariant: decode ok, dims ok, phash reproduced,
    PSNR ≥ 40 dB (lossy) on every successfully fetched image."""
    cat, _ = crawl_run
    ok = cat.read("fetched").filter(F.col("status") == 200)
    n = ok.count()
    assert n > 0
    assert ok.filter(~F.col("decode_ok")).count() == 0
    assert ok.filter(~F.col("dims_ok")).count() == 0
    assert ok.filter(~F.col("phash_ok")).count() == 0
    # PSNR is a real comparison vs the fixture's stored pre-encode pixels:
    # must be present on every fetched image, ≥40 dB lossy, exact lossless
    assert ok.filter(F.col("psnr_db").isNull()).count() == 0
    assert ok.filter(~F.col("psnr_ok")).count() == 0
    lossy = ok.filter(F.col("fmt") == "jpeg")
    assert lossy.filter(F.col("psnr_db") < 40.0).count() == 0
    # lossy really is lossy: a finite PSNR, not decode-vs-itself inf
    assert lossy.filter(F.col("psnr_db") == float("inf")).count() == 0
    # caption equality: fetched caption equals the corpus caption by join
    img = cat.read("images").select("image_id",
                                    F.col("caption").alias("expected"))
    assert (ok.join(img, "image_id")
              .filter(F.col("caption") != F.col("expected")).count()) == 0


@pytest.mark.spark
@pytest.mark.slow
def test_crawl_order_matches_oracle_html_bodies(spark):
    """C3 golden: a corpus of raw HTML/text bodies (a/link/script tags,
    mid-document <base> switches, plain-text http/href= pages) crawled via
    the real link extractor must reproduce the oracle's order and seen set
    exactly — both sides share extract_html_links/extract_text_links."""
    d = tempfile.mkdtemp(prefix="golden-html-")
    try:
        wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES, html_bodies=True)
        seeds = fx.gen_seeds(wg, N_SEEDS)
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, CFG)
        eng.init(seeds,
                 fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES,
                                html_bodies=True),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        eng.run(2)
        sim = simulate(seeds, wg, fx.gen_robots(N_HOSTS),
                       fx.gen_hosts(N_HOSTS), 2, CFG)
        eng_log = _log_rows(cat)
        sim_log = [tuple(r[c] for c in LOG_COLS) for r in sim.log]
        assert len(eng_log) > 0
        assert eng_log == sim_log
        eng_seen = {r["url_hash64"] for r in
                    cat.read("seen").select("url_hash64").collect()}
        assert eng_seen == set(sim.seen.keys())
        # the body-extraction path really ran: fetched rows carry bodies
        assert cat.read("fetched").filter(
            F.col("body").isNotNull()).count() > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
def test_link_cap_hot_page_only(spark):
    """O7 cap: a page over the per-page link budget keeps exactly the
    max_links smallest by the seeded hash (the simulator's truncation);
    pages under budget keep everything (and skip the cap's shuffle)."""
    from fetcho_spark.operators.fetch import extract_links
    from fetcho_spark.simulator import spark_xxhash64_2
    hot_links = [f"http://h1.example/l{i}" for i in range(10)]
    cold_links = [f"http://h2.example/c{i}" for i in range(3)]
    fetched = spark.createDataFrame(
        [("http://h1.example/", "h1.example", 200, hot_links),
         ("http://h2.example/", "h2.example", 200, cold_links)],
        "url string, host string, status int, out_links array<string>")
    got: dict = {}
    for r in extract_links(fetched, seed=42, round_no=0, max_links=4).collect():
        got.setdefault(r["src_url"], set()).add(r["url"])
    want_hot = sorted(hot_links,
                      key=lambda u: spark_xxhash64_2(u, "links:42:0"))[:4]
    assert got["http://h1.example/"] == set(want_hot)
    assert got["http://h2.example/"] == set(cold_links)


@pytest.mark.spark
@pytest.mark.slow
def test_crawl_order_matches_oracle_small_link_cap(spark):
    """Golden with max_links_per_page small enough that the cap's hot path
    actually fires on fixture pages (5-21 links each)."""
    cfg = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14,
                      max_links_per_page=4)
    d = tempfile.mkdtemp(prefix="golden-cap-")
    try:
        wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES)
        seeds = fx.gen_seeds(wg, N_SEEDS)
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, cfg)
        eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        eng.run(2)
        sim = simulate(seeds, wg, fx.gen_robots(N_HOSTS),
                       fx.gen_hosts(N_HOSTS), 2, cfg)
        eng_log = _log_rows(cat)
        sim_log = [tuple(r[c] for c in LOG_COLS) for r in sim.log]
        assert len(eng_log) > 0
        assert eng_log == sim_log
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
def test_extension_allowed_predicate(spark):
    """P4 — IsProbablyBlocked parity: path-only (query excluded),
    case-sensitive EndsWith."""
    from fetcho_spark.operators.frontier import extension_allowed
    rows = [("http://h/x.jpg",), ("http://h/x.jpg?v=1",),
            ("http://h/x?f=.jpg",), ("http://h/x.JPG",),
            ("http://h/x.html",), ("http://h/",), ("http://h/a.mp3",)]
    df = spark.createDataFrame(rows, "url string")
    got = {r["url"] for r in df.filter(extension_allowed()).collect()}
    assert got == {"http://h/x?f=.jpg", "http://h/x.JPG",
                   "http://h/x.html", "http://h/"}


@pytest.mark.spark
@pytest.mark.slow
def test_crawl_order_matches_oracle_blocks_and_quota(spark):
    """P4 + P14 + P15 golden: with media-extension links, a global link
    quota, and RTA-rated pages in the universe, the engine must still match
    the oracle byte-for-byte — and the blocks must actually bite."""
    from fetcho_spark.operators.frontier import BLOCKED_EXTENSIONS
    cfg = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14,
                      blocked_extensions=BLOCKED_EXTENSIONS,
                      max_link_quota=120)
    d = tempfile.mkdtemp(prefix="golden-blocks-")
    try:
        wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES,
                             media_links=True, adult_ratings=True)
        seeds = fx.gen_seeds(wg, N_SEEDS)
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, cfg)
        eng.init(seeds,
                 fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES,
                                media_links=True, adult_ratings=True),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        counters = eng.run(N_ROUNDS)
        sim = simulate(seeds, wg, fx.gen_robots(N_HOSTS),
                       fx.gen_hosts(N_HOSTS), N_ROUNDS, cfg)
        eng_log = _log_rows(cat)
        sim_log = [tuple(r[c] for c in LOG_COLS) for r in sim.log]
        assert len(eng_log) > 0
        assert eng_log == sim_log
        eng_seen = {r["url_hash64"] for r in
                    cat.read("seen").select("url_hash64").collect()}
        assert eng_seen == set(sim.seen.keys())
        # the features actually fired, not just passed through:
        fetched = cat.read("fetched")
        # P15 — rated pages were attempted but carried no payload/links
        blocked = fetched.filter(F.col("blocked_reason") == "adult")
        assert blocked.count() > 0
        assert blocked.filter(F.col("image_id").isNotNull()).count() == 0
        assert blocked.filter(F.size("out_links") > 0).count() == 0
        # P4 — no media-extension URL was ever fetched
        assert fetched.filter(
            F.col("url").rlike(r"\.(jpg|jpeg|gif|png|ico|svg|avi|mp4|mp3|wav)$")
        ).count() == 0
        # but the universe did contain such links (the block did something)
        assert any(any(ln.split("?")[0].endswith(BLOCKED_EXTENSIONS)
                       for ln in r[3]) for r in wg)
        # P14 — quota reached and never exceeded; engine counter == oracle
        assert counters[-1]["links_accepted_total"] == cfg.max_link_quota
        eng_new = [c["new_links"] for c in counters]
        sim_new = [c["new_links"] for c in sim.counters]
        assert eng_new == sim_new
        assert sum(eng_new) == cfg.max_link_quota
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_bucketed_webgraph_crawl_is_byte_identical(spark, crawl_run):
    """cfg.webgraph_buckets only changes the PHYSICAL layout of the fetch
    join (bucketed scan, no corpus-side Exchange) — crawl order and seen set
    must match the plain-parquet run exactly."""
    cat_plain, _ = crawl_run
    cfg = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14,
                      webgraph_buckets=4)
    d = tempfile.mkdtemp(prefix="golden-bucketed-")
    try:
        wg, rb, hs, seeds = _universe()
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, cfg)
        eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        eng.run(N_ROUNDS)
        assert _log_rows(cat) == _log_rows(cat_plain)
        # the webgraph really is bucketed (scan carries bucket metadata)
        plan = (cat.read("webgraph")
                ._jdf.queryExecution().executedPlan().toString())
        assert "Bucketed: true" in plan or "bucket" in plan.lower()
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_crawl_order_matches_oracle_redirects(spark):
    """S7 redirect golden: with 301/302 pages in the universe, seeds follow
    one hop (AllowAutoRedirect = !CanBeDiscarded) while discardable items
    log the 3xx — engine must match the oracle byte-for-byte, and both
    redirect behaviors must actually occur."""
    d = tempfile.mkdtemp(prefix="golden-redirects-")
    try:
        wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES, redirects=True)
        seeds = fx.gen_seeds(wg, N_SEEDS)
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, CFG)
        eng.init(seeds,
                 fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES,
                                redirects=True),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        eng.run(N_ROUNDS)
        sim = simulate(seeds, wg, fx.gen_robots(N_HOSTS),
                       fx.gen_hosts(N_HOSTS), N_ROUNDS, CFG)
        eng_log = _log_rows(cat)
        assert len(eng_log) > 0
        assert eng_log == [tuple(r[c] for c in LOG_COLS) for r in sim.log]
        assert {r["url_hash64"] for r in
                cat.read("seen").select("url_hash64").collect()} \
            == set(sim.seen.keys())
        fetched = cat.read("fetched")
        # the universe contains redirect pages and the crawl touched both
        # policies: some row followed a hop (redirected_to set), and some
        # discardable mention of a 3xx page was logged unfollowed
        redirect_urls = {r[0] for r in wg if r[8] is not None}
        assert redirect_urls
        followed = fetched.filter(F.col("redirected_to").isNotNull())
        assert followed.count() > 0
        # followed rows carry the TARGET's payload semantics
        assert followed.filter((F.col("status") == 200)
                               & F.col("image_id").isNull()).count() == 0
        unfollowed = fetched.filter(F.col("status").isin(301, 302))
        assert unfollowed.count() > 0
        assert unfollowed.filter(F.col("image_id").isNotNull()).count() == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_crawl_order_matches_oracle_revalidation(spark):
    """S7 If-Modified-Since golden: with a TTL shorter than a round, every
    refetch of a known URL answers 304 Not Modified (no payload, no links)
    — engine ≡ oracle, and 304s actually occur."""
    cfg = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14,
                      ttl_ms=1, revalidation=True)
    d = tempfile.mkdtemp(prefix="golden-reval-")
    try:
        wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES)
        seeds = fx.gen_seeds(wg, N_SEEDS)
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, cfg)
        eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        eng.run(N_ROUNDS)
        sim = simulate(seeds, wg, fx.gen_robots(N_HOSTS),
                       fx.gen_hosts(N_HOSTS), N_ROUNDS, cfg)
        eng_log = _log_rows(cat)
        assert len(eng_log) > 0
        assert eng_log == [tuple(r[c] for c in LOG_COLS) for r in sim.log]
        fetched = cat.read("fetched")
        nm = fetched.filter(F.col("status") == 304)
        assert nm.count() > 0                       # revalidation fired
        assert nm.filter(F.col("image_id").isNotNull()).count() == 0
        # a 304 still refreshes the seen-set TTL (attempt recorded)
        assert {r["url_hash64"] for r in
                cat.read("seen").select("url_hash64").collect()} \
            == set(sim.seen.keys())
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
def test_quota_ranked_cut_plan_has_no_takeordered(spark, tmp_catalog):
    """The engine's executed quota cut must contain the pinned range-ranked
    frame and NO TakeOrderedAndProject (the driver-funnel shape), at any
    remaining quota."""
    rows = [(f"http://h{i % 7}.example/p{i}", f"h{i % 7}.example",
             None, None, 0) for i in range(500)]
    df = spark.createDataFrame(
        rows, "url string, host string, src_url string, src_host string, "
              "round_added int")
    eng = CrawlEngine(spark, tmp_catalog, CrawlConfig(max_link_quota=100))
    eng._links_accepted = 0
    cut = eng._quota_cut(df, 0)
    plan = cut._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" not in plan
    # the range-partitioned frame is pinned (LogicalRDD) and ranked by a
    # window per range partition; the unpinned rangepartitioning shape is
    # pinned by test_global_seq
    assert "ExistingRDD" in plan
    assert "Window [row_number()" in plan
    # the ranked cut picks exactly the global top-100 by the total key
    qkey = F.xxhash64("url", F.lit("quota:42:0"))
    expect = [r["url"] for r in df.orderBy(qkey.asc(), F.col("url").asc())
              .limit(100).collect()]
    assert sorted(r["url"] for r in cut.collect()) == sorted(expect)


@pytest.mark.spark
@pytest.mark.slow
def test_shuffle_route_dimension_joins_byte_identical(spark, crawl_run):
    """The hosts/robots dimension joins carry no broadcast hint: past
    spark.sql.autoBroadcastJoinThreshold they take the shuffle route (a
    100-TB crawl can have millions of hosts with robots blobs). Disabling
    the threshold here makes EVERY round take the shuffle route — crawl
    order must stay byte-identical to the broadcast run."""
    cat_bc, _ = crawl_run
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    d = tempfile.mkdtemp(prefix="golden-shuffle-dims-")
    try:
        spark.conf.set(key, "-1")
        cat, _eng = _engine(spark, d)
        assert _log_rows(cat) == _log_rows(cat_bc)
    finally:
        spark.conf.set(key, old)
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_quota_state_survives_resume(spark):
    """P14 resume: K rounds in one engine == K rounds split across two
    engines (the cumulative accepted count rides the checkpoint)."""
    cfg = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14,
                      max_link_quota=80)
    wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES)
    seeds = fx.gen_seeds(wg, N_SEEDS)

    def _run(d, split):
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, cfg)
        eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        if split:
            eng.run(1)
            eng2 = CrawlEngine(spark, Catalog(spark, d), cfg)
            eng2.run(2)
        else:
            eng.run(3)
        return _log_rows(cat)

    d1 = tempfile.mkdtemp(prefix="quota-one-")
    d2 = tempfile.mkdtemp(prefix="quota-two-")
    try:
        assert _run(d1, split=False) == _run(d2, split=True)
    finally:
        shutil.rmtree(d1, ignore_errors=True)
        shutil.rmtree(d2, ignore_errors=True)


@pytest.mark.spark
def test_verify_payload_catches_corruption(spark):
    """Injected corruption must fail the payload invariants: a 1-byte flip
    in the compressed stream kills decode_ok; swapped image bytes (valid
    decode, wrong pixels) kill phash_ok and psnr_ok."""
    from fetcho_spark.operators.fetch import verify_payload
    rows = [list(r) for r in fx.gen_images(6)]
    flipped = bytearray(rows[0][1])
    flipped[len(flipped) // 2] ^= 0xFF
    rows[0][1] = flipped                      # img0: corrupt stream
    rows[1][1], rows[4][1] = rows[4][1], rows[1][1]  # img1/img4: same dims+
    # fmt (both 64px jpeg), wrong content for their stored phash/ref_sample
    df = spark.createDataFrame([tuple(r) for r in rows], fx.IMAGES_SCHEMA)
    got = {r["image_id"]: r for r in verify_payload(df).collect()}
    assert not got["img00000000"]["decode_ok"]
    for bad in ("img00000001", "img00000004"):
        assert got[bad]["decode_ok"] and got[bad]["dims_ok"]
        assert not got[bad]["phash_ok"]
        assert not got[bad]["psnr_ok"]
        assert got[bad]["psnr_db"] < 40.0
    for good in ("img00000002", "img00000003", "img00000005"):
        assert got[good]["decode_ok"] and got[good]["phash_ok"] \
            and got[good]["psnr_ok"]


@pytest.mark.spark
@pytest.mark.slow
def test_resume_from_checkpoint_equivalence(spark, crawl_run):
    """Run K rounds, vs run K-1 + resume 1: identical log + seen (§5d)."""
    cat_full, _ = crawl_run
    d = tempfile.mkdtemp(prefix="resume-")
    try:
        cat, eng = _engine(spark, d, n_rounds=N_ROUNDS - 1)
        eng2 = CrawlEngine(spark, Catalog(spark, d), CFG)
        assert eng2.last_completed_round() == N_ROUNDS - 2
        eng2.run(1)  # picks up at round N_ROUNDS-1
        assert _log_rows(Catalog(spark, d)) == _log_rows(cat_full)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_order_invariant_to_parallelism(spark, crawl_run):
    """Same crawl at a different shuffle-partition count → identical order
    (north rule: ordering is a pure function of data, not partition layout)."""
    cat_full, _ = crawl_run
    old = spark.conf.get("spark.sql.shuffle.partitions")
    d = tempfile.mkdtemp(prefix="par-")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        cat, _ = _engine(spark, d)
        assert _log_rows(cat) == _log_rows(cat_full)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_crash_recovery_rollback_matches_clean_run(spark, crawl_run):
    """Torn round: after K-1 clean rounds, a crash mid-round leaves partial
    commits (seen double-append, frontier overwrite, fetched append) and NO
    checkpoint row. run() must roll the torn writes back so the resumed
    crawl is byte-identical to the uninterrupted K-round run — without
    rollback the double-appended seen rows would mis-drop URLs."""
    cat_full, _ = crawl_run
    d = tempfile.mkdtemp(prefix="crash-")
    try:
        cat, eng = _engine(spark, d, n_rounds=N_ROUNDS - 1)
        # simulate the torn round: schema-conformant partial writes
        cat.append("seen", cat.read("seen").limit(2))
        cat.append("fetched", cat.read("fetched").limit(1))
        cat.overwrite("frontier", cat.read("frontier").limit(1))
        eng2 = CrawlEngine(spark, Catalog(spark, d), CFG)
        assert eng2.last_completed_round() == N_ROUNDS - 2
        eng2.run(1)
        cat2 = Catalog(spark, d)
        assert _log_rows(cat2) == _log_rows(cat_full)
        full_seen = {r["url_hash64"] for r in
                     cat_full.read("seen").select("url_hash64").collect()}
        got_seen = {r["url_hash64"] for r in
                    cat2.read("seen").select("url_hash64").collect()}
        assert got_seen == full_seen
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_crash_recovery_torn_first_round(spark, crawl_run):
    """A crash DURING round 0 (no round-0 checkpoint yet) must also recover:
    the init checkpoint (round -1) records the seeded state, tables the torn
    round created are dropped, the frontier rolls back to the seed list."""
    cat_full, _ = crawl_run
    d = tempfile.mkdtemp(prefix="crash0-")
    try:
        wg, rb, hs, seeds = _universe()
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, CFG)
        eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        # torn round 0: frontier already overwritten, fetched created
        cat.overwrite("frontier", cat.read("frontier").limit(1))
        cat.append("fetched", cat.read("frontier"))
        eng2 = CrawlEngine(spark, Catalog(spark, d), CFG)
        rolled = eng2.rollback_to_last_checkpoint()
        assert rolled.get("frontier") == 0      # back to the seed snapshot
        assert rolled.get("fetched") == -1      # created table dropped
        assert not Catalog(spark, d).exists("fetched")
        eng2.run(N_ROUNDS)
        assert _log_rows(Catalog(spark, d)) == _log_rows(cat_full)
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_crash_recovery_torn_compacting_round(spark, crawl_run):
    """compact_every=1: the state commit thread writes the seen record,
    the hosts overwrite and then the compaction overwrite, all before the
    checkpoint. A crash after all of them but before the checkpoint row
    must roll every one back: left in place, the torn seen rows would drop
    the re-run round's URLs and the torn hosts would drop their hosts."""
    import dataclasses
    import datetime as dt
    cat_full, _ = crawl_run
    cfg = dataclasses.replace(CFG, compact_every=1)
    d = tempfile.mkdtemp(prefix="crash-compact-")
    try:
        wg, rb, hs, seeds = _universe()
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, cfg)
        eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        eng.run(N_ROUNDS - 1)
        # the torn last round: its fetched URLs recorded seen, every host
        # marked unreachable, the seen table compacted; no checkpoint
        last = (cat_full.read("fetched")
                .filter(F.col("round") == N_ROUNDS - 1).select("url_hash64"))
        assert last.count() > 0
        eng.seen.record(last, eng.logical_now(N_ROUNDS)
                        + dt.timedelta(days=365))
        cat.overwrite("hosts", cat.read("hosts")
                      .withColumn("network_issues", F.lit(99)))
        eng.seen.compact()
        eng2 = CrawlEngine(spark, Catalog(spark, d), cfg)
        assert eng2.last_completed_round() == N_ROUNDS - 2
        eng2.run(1)
        cat2 = Catalog(spark, d)
        assert _log_rows(cat2) == _log_rows(cat_full)
        full_seen = {r["url_hash64"] for r in
                     cat_full.read("seen").select("url_hash64").collect()}
        got_seen = {r["url_hash64"] for r in
                    cat2.read("seen").select("url_hash64").collect()}
        assert got_seen == full_seen
        assert cat2.read("seen").count() == len(full_seen)    # compacted
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
def test_phase_spans_on_threads(spark, tmp_catalog):
    """Background functions open their phase on their own thread: each
    thread sees its own PHASE_PROP while its siblings run, gets its previous
    value back, bills its own span, and the join re-raises a failure after
    every thread has finished."""
    import threading
    import time
    from fetcho_spark.crawl import PHASE_PROP, _in_background

    eng = CrawlEngine(spark, tmp_catalog, CFG)
    sc = spark.sparkContext
    n = 12                                  # more threads than cores
    barrier = threading.Barrier(n, timeout=60)
    seen: dict = {}

    def span(i):
        def fn():
            barrier.wait()
            with eng._phase(f"p{i}"):
                time.sleep(0.2)
                seen[i] = sc.getLocalProperty(PHASE_PROP)
            assert sc.getLocalProperty(PHASE_PROP) is None
            if i == 0:
                raise RuntimeError("boom")
            return i
        return fn

    t0 = time.time()
    join = _in_background(*[span(i) for i in range(n)])
    with pytest.raises(RuntimeError, match="boom"):
        join()
    wall = time.time() - t0
    assert seen == {i: f"p{i}" for i in range(n)}
    assert all(0.2 <= eng.phase_times[f"p{i}"] <= wall for i in range(n))
    assert sc.getLocalProperty(PHASE_PROP) is None


@pytest.mark.spark
@pytest.mark.slow
def test_snapshot_expiry_preserves_crawl_and_bounds_history(spark, crawl_run):
    """snapshot_keep_last=1 (the perpetual-crawl maintenance mode): crawl
    output byte-identical, snapshot history actually bounded, old frontier
    dirs physically gone, and the table still resumes a further round."""
    import dataclasses
    import os
    cat_full, _ = crawl_run
    d = tempfile.mkdtemp(prefix="expire-")
    try:
        cfg = dataclasses.replace(CFG, snapshot_keep_last=1)
        wg, rb, hs, seeds = _universe()
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, cfg)
        eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        eng.run(N_ROUNDS)
        assert _log_rows(cat) == _log_rows(cat_full)
        assert len(cat.snapshots("frontier")) == 1     # history bounded
        assert len(cat.snapshots("seen")) == 1
        # dead frontier rounds physically reclaimed: exactly one data dir
        tdir = os.path.join(cat.root, "frontier")
        dirs = [x for x in os.listdir(tdir) if x.startswith("data-")]
        assert len(dirs) == 1
        # still resumable after expiry
        eng2 = CrawlEngine(spark, Catalog(spark, d), cfg)
        assert eng2.last_completed_round() == N_ROUNDS - 1
        n_before = len(_log_rows(cat))
        eng2.run(1)
        assert len(_log_rows(Catalog(spark, d))) >= n_before
    finally:
        shutil.rmtree(d, ignore_errors=True)


@pytest.mark.spark
@pytest.mark.slow
def test_compaction_preserves_crawl(spark, crawl_run):
    """compact_every=1 + snapshot_keep_last=1 (full maintenance mode): the
    seen fold must not change one byte of crawl order or the seen-hash
    set, and the checkpoint must reference the compacted snapshots
    (resume does NOT undo compaction)."""
    import dataclasses
    cat_full, _ = crawl_run
    d = tempfile.mkdtemp(prefix="compact-")
    try:
        cfg = dataclasses.replace(CFG, compact_every=1, snapshot_keep_last=1)
        wg, rb, hs, seeds = _universe()
        cat = Catalog(spark, d)
        eng = CrawlEngine(spark, cat, cfg)
        eng.init(seeds, fx.webgraph_df(spark, N_PAGES, N_HOSTS, N_IMAGES),
                 fx.images_df(spark, N_IMAGES), fx.robots_df(spark, N_HOSTS),
                 fx.hosts_df(spark, N_HOSTS))
        eng.run(N_ROUNDS)
        assert _log_rows(cat) == _log_rows(cat_full)
        full_seen = {r["url_hash64"] for r in
                     cat_full.read("seen").select("url_hash64").collect()}
        got_seen = {r["url_hash64"] for r in
                    cat.read("seen").select("url_hash64").collect()}
        assert got_seen == full_seen
        # folded: one row per hash
        assert cat.read("seen").count() == len(full_seen)
        # resume on a fresh engine must not roll the compaction back
        seen_sid = cat.current_snapshot_id("seen")
        eng2 = CrawlEngine(spark, Catalog(spark, d), cfg)
        assert eng2.rollback_to_last_checkpoint() == {}
        assert Catalog(spark, d).current_snapshot_id("seen") == seen_sid
        eng2.run(1)
    finally:
        shutil.rmtree(d, ignore_errors=True)
