#!/usr/bin/env python
"""fetcho_spark benchmark — headline queries + crawl throughput + scaling.

Prints ONE JSON line:
  {"metric": "...", "value": <total headline sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, "crawl": {...}}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     FETCHO_BENCH_SKIP_SCALING=1 to skip the two-parallelism crawl runs.

Scaling evidence (north rule: ≥0.8 throughput efficiency N→4N executors):
the same crawl job runs at local[N] and local[4N] in separate JVMs on the
same input (throughput at both + efficiency), plus the payload-verify stage
(the CPU-bound per-row image work) at local[2] vs local[8]. local[c] threads
share ONE memory domain, so shuffle-heavy scaling is capped by this box's
measured DRAM-bandwidth ceiling (scripts/hw_calibrate.py); on a real cluster
each added executor brings its own DRAM/disk/NIC. Full analysis in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HEADLINE = [
    "group_agg", "anti_join_seen", "window_chunk_seq", "keyword_counts",
    "dedup_exact", "minhash_sig", "ngram_jaccard", "simhash", "ann_topk",
    "embedding_norms", "sessionize", "token_count", "quality_score",
    "lang_id", "fingerprint", "politeness_budget", "distinct_window",
    "seeded_sample", "order_page", "priority_semantics", "query_language",
    "ml_classify", "gopher_quality", "decontaminate", "token_budget",
    "simhash_pairs", "doc_chunks", "pii_scrub",
]

# crawl bench universe: 400k-page web, 20k hosts (zipf-skewed), 16M-mention
# frontier (the 10^10-scale shape: heavy duplication into the dedup stage)
CRAWL_PAGES = 400_000
CRAWL_HOSTS = 20_000
CRAWL_IMAGES = 1_500
CRAWL_FRONTIER = 16_000_000


def _spark(master: str, cpus: int):
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from fetcho_spark.session import get_spark
    return get_spark("fetcho-bench", master=master,
                     shuffle_partitions=max(8, 2 * cpus))


def run_headline(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    out: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


# round-4 additions, kept OUT of the headline list so the headline metric
# stays comparable across rounds; timed once each (warm JVM) and reported
# under "extras"
EXTRAS = [
    "line_dedup", "c4_filter", "pagerank", "bigram_quality",
    "pack_sequences", "split_assign", "inverted_index",
    "exact_quantiles", "histogram", "bpe_train_fixture",
    "bpe_encode_fixture", "dedup_against", "hits", "rank_docs", "hll_sketch",
    "seen_route_cuckoo", "semdedup", "datacomp_filter", "clip_filter",
    "robots_parse", "cms_sketch", "cms_heavy", "dsir_sample",
    "sitemap_parse", "trap_suspect", "strip_tracking", "anchor_stats", "script_profile", "kmv_sketch",
    "recrawl_schedule", "hn_seeds", "reddit_seeds", "aspect_buckets",
    "mixture_weights", "ann_pq", "boilerplate", "dq_profile", "dq_check",
    "asof_join", "range_join", "nfc_normalize", "hashed_tfidf",
    "hll_by_group", "dedup_best", "cms_by_group", "stratified_split",
    "kmv_by_group",
]


def run_extras(spark, sf_dir: str) -> dict[str, float]:
    import __spark_entry__ as entrymod
    qs = entrymod.queries()
    out: dict[str, float] = {}
    for name in EXTRAS:
        t0 = time.time()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.time() - t0, 3)
    return out


def run_crawl(spark, n_pages: int = CRAWL_PAGES, n_hosts: int = CRAWL_HOSTS,
              n_images: int = CRAWL_IMAGES,
              n_frontier: int = CRAWL_FRONTIER, reps: int = 2) -> dict:
    """One crawl round over a 16M-mention frontier (configurable): dedup →
    schedule → robots → politeness → fetch join → payload verify → link
    extraction. Metric = frontier URLs processed (fetched+deduped)/second.

    Best-of-``reps`` inside one warm JVM (±25% box noise); every sample's
    throughput AND per-phase wall times ride the result, so the scaling
    artifact can name which phase moves."""
    from fetcho_spark import benchgen as bg
    from fetcho_spark.catalog import Catalog
    from fetcho_spark.crawl import CrawlConfig, CrawlEngine

    best = None
    samples: list[float] = []
    phase_samples: list[dict] = []
    for _rep in range(reps):
        root = "/dev/shm" if os.path.isdir("/dev/shm") else None
        d = tempfile.mkdtemp(prefix="bench-crawl-", dir=root)
        try:
            cfg = CrawlConfig(max_chunk=200, n_seen_buckets=64,
                              bits_per_bucket=1 << 22, round_ms=60_000,
                              assign_global_seq=False)
            cat = Catalog(spark, d)
            eng = CrawlEngine(spark, cat, cfg)
            pages = bg.pages_df(spark, n_pages, n_hosts, n_images)
            eng.init(bg.frontier_df(spark, n_frontier, n_pages, n_hosts),
                     pages, bg.images_df(spark, n_images),
                     bg.robots_df(spark, n_hosts),
                     bg.hosts_df(spark, n_hosts, crawl_delay_ms=3_000))
            t0 = time.time()
            counters = eng.run_round(0)
            wall = time.time() - t0
            urls_in = counters["frontier_in"]
            res = {"urls_in": urls_in,
                   "fetched": counters.get("fetched", 0),
                   "wall_sec": round(wall, 2),
                   "urls_per_sec": round(urls_in / wall, 1),
                   "pages": n_pages, "hosts": n_hosts,
                   "frontier": n_frontier}
            samples.append(res["urls_per_sec"])
            phase_samples.append(dict(eng.phase_times))
            if best is None or res["urls_per_sec"] > best["urls_per_sec"]:
                best = res
        finally:
            shutil.rmtree(d, ignore_errors=True)
    # all samples ride the artifact — headline numbers are best-of-N and the
    # JSON shows exactly which N (claims == artifact, VERDICT r2 #3/#5)
    best["samples_urls_per_sec"] = samples
    best["phase_samples"] = phase_samples
    # per-phase best (min wall over reps): the clean-bus estimate per phase
    phases = sorted({k for p in phase_samples for k in p})
    best["phase_best_sec"] = {k: min(p[k] for p in phase_samples if k in p)
                              for k in phases}
    return best


def run_payload(spark, data_dir: str) -> dict:
    """Timed decode-verify pass over a pre-generated distinct-image corpus —
    the per-row payload work of the north star (C12) in isolation. Pure
    python-worker compute: the component that scales with cores. A warmup
    pass first (python workers import numpy/pandas once per core — charging
    startup to the timed pass would mismeasure steady-state throughput)."""
    from fetcho_spark.operators.fetch import verify_payload
    df = spark.read.parquet(data_dir)
    verify_payload(df.limit(4000)).filter("decode_ok").count()  # warmup
    n = df.count()
    best = None
    samples: list[float] = []
    for _rep in range(5):  # best-of-5, warm workers (the box shows co-tenant
                           # noise: hw_calibrate bandwidth efficiency swung
                           # 0.79 → 0.096 across two identical runs; more
                           # trials give the clean-bus sample a chance)
        t0 = time.time()
        n_ok = verify_payload(df).filter(
            "decode_ok AND dims_ok AND phash_ok AND psnr_ok").count()
        wall = time.time() - t0
        samples.append(round(n / wall, 1))
        if best is None or wall < best["wall_sec"]:
            best = {"images": n, "verified_ok": n_ok,
                    "wall_sec": round(wall, 2),
                    "images_per_sec": round(n / wall, 1)}
    best["samples_images_per_sec"] = samples
    return best


def _subprocess(mode: str, cpus: int, extra: list[str] | None = None) -> dict:
    out = tempfile.mktemp(suffix=".json")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), mode,
         "--cpus", str(cpus), "--out", out] + (extra or []),
        check=True, cwd=os.path.dirname(os.path.abspath(__file__)),
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    with open(out) as f:
        return json.load(f)


PAYLOAD_IMAGES = 60_000
PAYLOAD_SIZE = 128


def _frontier_series() -> list[dict]:
    """Summary rows of the committed frontier-size scaling artifacts
    (BENCH/scaling_*.json) — each a 2-vs-8 interleaved fresh-JVM probe at
    one frontier size. Read-only convenience so the per-round bench JSON
    carries the series; the full per-phase evidence stays in each file."""
    import glob
    rows = []
    for path in sorted(glob.glob(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "BENCH", "scaling_*.json"))):
        try:
            with open(path) as f:
                d = json.load(f)
            rows.append({
                "artifact": os.path.basename(path),
                "frontier": d["frontier"],
                "efficiency_2_to_8": d["efficiency"],
                "local2_urls_per_sec": d["local2"]["best_urls_per_sec"],
                "local8_urls_per_sec": d["local8"]["best_urls_per_sec"],
                "hw_ceiling_same_session": d.get(
                    "hw_ceiling_same_session", {}),
            })
        except (KeyError, ValueError, OSError):
            continue
    rows.sort(key=lambda r: r["frontier"])
    return rows


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--crawl-only", action="store_true")
    ap.add_argument("--payload-only", action="store_true")
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--out", default=None)
    ap.add_argument("--data", default=None)
    ap.add_argument("--frontier", type=int, default=CRAWL_FRONTIER)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = 0.1

    if args.crawl_only:
        spark = _spark(f"local[{args.cpus}]", args.cpus)
        res = run_crawl(spark, n_frontier=args.frontier, reps=args.reps)
        spark.stop()
        with open(args.out, "w") as f:
            json.dump(res, f)
        return
    if args.payload_only:
        # image rows are ~50 KB: small scan partitions + small Arrow batches
        # keep all cores fed and bound the per-batch memory
        from fetcho_spark.session import get_spark
        spark = get_spark(
            "fetcho-bench-payload", master=f"local[{args.cpus}]",
            shuffle_partitions=2 * args.cpus,
            extra_conf={
                "spark.sql.files.maxPartitionBytes": str(32 * 1024 * 1024),
                "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
            })
        res = run_payload(spark, args.data)
        spark.stop()
        with open(args.out, "w") as f:
            json.dump(res, f)
        return

    spark = _spark(f"local[{args.cpus}]", args.cpus)
    queries = run_headline(spark, sf_dir)
    extras = run_extras(spark, sf_dir)

    crawl: dict = {}
    if os.environ.get("FETCHO_BENCH_SKIP_SCALING") != "1":
        # pre-generate the distinct-image corpus for the payload probe
        # (generation excluded from the timed pass)
        root = "/dev/shm" if os.path.isdir("/dev/shm") else None
        pdir = tempfile.mkdtemp(prefix="bench-payload-", dir=root)
        from fetcho_spark import benchgen as bg
        bg.images_df_spark(spark, PAYLOAD_IMAGES, PAYLOAD_SIZE) \
          .write.mode("overwrite").parquet(pdir + "/imgs")
        spark.stop()

        # headline throughput at local[16]; the N→4N scaling pair is 2→8 —
        # the pair where hw_calibrate shows the box's own DRAM/CPU ceilings
        # are least binding (16 threads saturate the single memory domain;
        # executors on a real cluster each bring their own).
        # INTERLEAVED best-of-5 per level (VERDICT r3 #3): alternating
        # lo/hi JVM blocks so the co-tenant's bus-stealing episodes hit
        # both levels with equal probability — a level measured only while
        # the bus was stolen would fake (or mask) a scaling cliff. Each
        # block is a fresh JVM (never two masters in one JVM); samples and
        # per-phase walls from every block ride the artifact.
        hi_c, lo_c = 8, 2
        head = _subprocess("--crawl-only", 16)

        def _merge(blocks: list[dict]) -> dict:
            out = max(blocks, key=lambda b: b["urls_per_sec"]).copy()
            out["samples_urls_per_sec"] = [
                s for b in blocks for s in b["samples_urls_per_sec"]]
            ph = [p for b in blocks for p in b.get("phase_samples", [])]
            out["phase_samples"] = ph
            keys = sorted({k for p in ph for k in p})
            out["phase_best_sec"] = {
                k: min(p[k] for p in ph if k in p) for k in keys}
            return out

        lo_blocks, hi_blocks = [], []
        for block_reps in (2, 2, 1):           # 3 interleaved blocks → 5+5
            lo_blocks.append(_subprocess(
                "--crawl-only", lo_c, ["--reps", str(block_reps)]))
            hi_blocks.append(_subprocess(
                "--crawl-only", hi_c, ["--reps", str(block_reps)]))
        lo, hi = _merge(lo_blocks), _merge(hi_blocks)
        ratio = hi["urls_per_sec"] / lo["urls_per_sec"]
        # per-phase N→4N efficiency from clean-bus (min-wall) phase times:
        # same work at both levels ⇒ efficiency = (wall_lo / wall_hi) / 4
        phase_eff = {
            k: round(lo["phase_best_sec"][k] / hi["phase_best_sec"][k] / 4.0,
                     3)
            for k in lo["phase_best_sec"]
            if k in hi["phase_best_sec"] and hi["phase_best_sec"][k] > 0}

        # the box's OWN N→4N ceiling, measured in THIS session, so the
        # artifact is self-contained evidence (VERDICT r2 #5): a local[N]
        # thread pair shares one DRAM domain — scaling efficiency is
        # bounded by these numbers, not by 1.0
        from scripts.hw_calibrate import hw_ceilings
        ceiling = hw_ceilings(lo_c, hi_c)

        # payload-verify (CPU-bound per-row image work) at 2 vs 8 — the
        # parallelism pair where this box's own ceiling allows ~1.0
        pv_hi = _subprocess("--payload-only", 8, ["--data", pdir + "/imgs"])
        pv_lo = _subprocess("--payload-only", 2, ["--data", pdir + "/imgs"])
        pv_ratio = pv_hi["images_per_sec"] / pv_lo["images_per_sec"]
        shutil.rmtree(pdir, ignore_errors=True)

        # fixed-cores, 2×-data probe: if per-core work is flat (throughput
        # in URLs/s unchanged when the frontier doubles), there is no hidden
        # driver-side or single-partition stage that grows with the data —
        # the property that lets N→4N *executors* scale on a real cluster
        # even though N→4N *threads* here share one DRAM domain
        d2 = _subprocess("--crawl-only", 16,
                         ["--frontier", str(2 * CRAWL_FRONTIER)])
        data_flatness = d2["urls_per_sec"] / head["urls_per_sec"]

        crawl = {
            "urls_per_sec": head["urls_per_sec"],
            "fetched": head["fetched"],
            "wall_sec": head["wall_sec"],
            "universe": {"pages": head["pages"], "hosts": head["hosts"],
                         "frontier": head["frontier"]},
            "samples_urls_per_sec": head.get("samples_urls_per_sec", []),
            "scaling": {
                f"local{lo_c}_urls_per_sec": lo["urls_per_sec"],
                f"local{hi_c}_urls_per_sec": hi["urls_per_sec"],
                "local16_urls_per_sec": head["urls_per_sec"],
                f"local{lo_c}_samples": lo.get("samples_urls_per_sec", []),
                f"local{hi_c}_samples": hi.get("samples_urls_per_sec", []),
                "interleaving": "3 alternating lo/hi JVM blocks (2+2+1 reps)",
                "speedup": round(ratio, 3),
                "efficiency": round(ratio / (hi_c / lo_c), 3),
                # which phase scales and which is bus-bound, by name:
                # min-wall per phase per level (clean-bus estimate) and the
                # implied N→4N efficiency per phase
                f"local{lo_c}_phase_best_sec": lo.get("phase_best_sec", {}),
                f"local{hi_c}_phase_best_sec": hi.get("phase_best_sec", {}),
                "phase_efficiency": phase_eff,
                f"local{lo_c}_phase_samples": lo.get("phase_samples", []),
                f"local{hi_c}_phase_samples": hi.get("phase_samples", []),
                "hw_ceiling_same_session": ceiling,
            },
            "payload_verify_scaling": {
                "local2_images_per_sec": pv_lo["images_per_sec"],
                "local8_images_per_sec": pv_hi["images_per_sec"],
                "local2_samples": pv_lo.get("samples_images_per_sec", []),
                "local8_samples": pv_hi.get("samples_images_per_sec", []),
                "speedup": round(pv_ratio, 3),
                "efficiency": round(pv_ratio / 4.0, 3),
                "images": pv_hi["images"],
                "hw_ceiling_same_session": ceiling,
            },
            "data_scaling": {
                "cores": 16,
                "frontier_1x": head["frontier"],
                "frontier_2x": d2["frontier"],
                "urls_per_sec_1x": head["urls_per_sec"],
                "urls_per_sec_2x": d2["urls_per_sec"],
                # ≈1.0 ⇒ per-core work flat in data size (no hidden
                # driver/single-partition stage); >1 = amortized fixed cost
                "flatness": round(data_flatness, 3),
            },
            # The 16M shape above is the per-round REGRESSION probe; the
            # north rule's efficiency criterion is a function of frontier
            # size (fixed per-round latency amortizes into the
            # data-proportional dedup scan). The committed frontier-size
            # series (scripts/scaling_probe.py, BENCH/scaling_*.json —
            # same interleaved fresh-JVM method, per-phase walls + hw
            # ceilings inside each artifact) is summarized here so this
            # one JSON carries the whole story:
            "frontier_series_from_artifacts": _frontier_series(),
        }
    else:
        spark.stop()

    print(json.dumps({
        "metric": "headline_suite_sec_plus_crawl_throughput",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "extras": extras,
        "sf": sf,
        "crawl": crawl,
    }))


if __name__ == "__main__":
    main()
