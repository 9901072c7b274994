"""Crawl-loop benchmark runner.

    python3 crawlbench/run.py --workload crawl_round --seed 1 \
        --seconds 30 --trace 0

Runs one workload (see workloads.py) in this process on ``local[4]`` as a
closed loop: one ``run_round`` at a time, the next only after it returns.
Every round's output is checked, untimed, after it returns (check.py). The
last line of stdout is one JSON object::

    {"correct": bool, "attempted": rounds, "failed": rounds, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (setup_s, round_s, urls_per_s,
state_mb); ``--trace 1`` enables a Spark event log and benchmark-owned spans
(tracing.py) and reports the per-layer metrics instead. ``failed`` counts the
rounds that raised or failed the output check.

Everything the run writes (catalog, event log, Spark local dir, temp files)
lives in one per-run directory under ``crawlbench/.runs`` that is removed at
exit; directories left by killed runs are swept at start.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import pandas as pd  # noqa: E402  (the warmup UDF's type hints)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(HERE, ".runs")
EXPECTED = os.path.join(HERE, "expected.json")
DEFAULT_SEED = 1
CPUS = 4
MB = 1 << 20
# main-thread crawl phases; state_commits runs on a background thread and
# metrics_checkpoint partly does, so neither is subtracted from round wall
MAIN_PHASES = ("dedup_agg", "robots_compile", "schedule_fetch_verify",
               "link_stage", "maintenance")
PHASES = MAIN_PHASES + ("state_commits", "metrics_checkpoint")


# ---------------------------------------------------------------- hygiene

def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def sweep_stale_runs() -> list[str]:
    """Remove run directories whose owning process is gone."""
    swept = []
    for d in sorted(os.listdir(RUNS)) if os.path.isdir(RUNS) else []:
        parts = d.split("-")
        if len(parts) >= 2 and parts[0] == "run" and parts[1].isdigit() \
                and not _alive(int(parts[1])):
            shutil.rmtree(os.path.join(RUNS, d), ignore_errors=True)
            swept.append(d)
    return swept


def _spark_jvms() -> list[int]:
    pids = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"org.apache.spark.deploy.SparkSubmit" in f.read():
                    pids.append(int(p))
        except OSError:
            pass
    return pids


def box_state(run_dir: str) -> dict:
    """Load and free memory at the start of a run, and any Spark JVM that
    was already running beside it (its work would share the 4 cores)."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    state = {"loadavg": load,
             "mem_available_gb": round(mem.get("MemAvailable", 0) / 2**30, 2),
             "run_dir_free_gb": round(shutil.disk_usage(run_dir).free
                                      / 2**30, 2)}
    if os.path.isdir("/dev/shm"):
        state["shm_free_gb"] = round(shutil.disk_usage("/dev/shm").free
                                     / 2**30, 2)
    state["other_spark_jvms"] = _spark_jvms()
    state["beside_other_spark"] = bool(state["other_spark_jvms"])
    return state


def dir_bytes(d: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------- session

def start_session(run_dir: str, trace: bool):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # executors' Python workers import fetcho_spark and the generator
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the launcher JVM spark-submit runs first would otherwise use /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # get_spark's own warmup writes to /dev/shm; warmup() below does the
    # same priming inside the run directory
    os.environ["SPARK_GRAFT_NO_WARMUP"] = "1"
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + log_dir})
    from fetcho_spark.session import get_spark
    return get_spark("crawlbench", master=f"local[{CPUS}]",
                     shuffle_partitions=max(8, 2 * CPUS), extra_conf=conf)


def warmup(spark, run_dir: str) -> None:
    """Prime the session like get_spark's warmup: shuffle + codegen, the
    parquet writer and reader, and the Python worker pool."""
    from pyspark.sql import functions as F

    n = 2 * spark.sparkContext.defaultParallelism
    df = spark.range(0, 64 * n, 1, n)
    (df.groupBy((F.col("id") % 7).alias("k")).count()
     .write.format("noop").mode("overwrite").save())
    path = os.path.join(run_dir, "warmup")
    df.limit(64).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).count()
    shutil.rmtree(path)

    @F.pandas_udf("long")
    def _w(s: pd.Series) -> pd.Series:
        import numpy as np
        import pyarrow  # noqa: F401
        return s * np.int64(1)

    df.select(F.sum(_w("id"))).write.format("noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (it exits when its stdin closes)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------------- measure

def load_expected(workload: str, seed: int) -> list | None:
    if seed != DEFAULT_SEED or not os.path.exists(EXPECTED):
        return None
    with open(EXPECTED) as f:
        return json.load(f).get(workload)


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(rounds: list[dict], tracer, events) -> dict[str, float]:
    """Per-layer metrics (means per measured round) from the phase timers,
    the benchmark's spans and the event-log rollup."""
    import tracing

    out: dict[str, float] = {}
    for p in PHASES:
        out[f"crawl.{p}_s"] = mean(r["phases"].get(p, 0.0) for r in rounds)
    unphased, commits, write_s, mb, files, filt, amp = ([] for _ in range(7))
    record_s, compact_s, overhead = [], [], []
    for r in rounds:
        recs = tracer.round_records(r["key"])
        cat = [x for x in recs if x["layer"] == "catalog"]
        main_ckpt = sum(x["t1"] - x["t0"] for x in cat
                        if x["op"] == "append_rows" and x["main"])
        unphased.append(r["wall"] - main_ckpt
                        - sum(r["phases"].get(p, 0.0) for p in MAIN_PHASES))
        commits.append(sum(1 for x in cat if x["commit"]))
        write_s.append(sum(x["t1"] - x["t0"] for x in cat))
        written = sum(x["bytes"] for x in cat)
        mb.append(written / MB)
        files.append(sum(x["files"] for x in cat))
        filt.append(sum(x["bytes"] for x in cat
                        if x["table"] == "seen_filter") / MB)
        fetched = sum(x["bytes"] for x in cat
                      if x["table"] == "fetched" and x["op"] == "append")
        amp.append(written / fetched if fetched else 0.0)
        record_s.append(sum(x["t1"] - x["t0"] for x in recs
                            if x["layer"] == "seen" and x["op"] == "record"))
        overhead.append(sum(x.get("overhead", 0.0) for x in cat))
        compact_s.append(sum(x["t1"] - x["t0"] for x in recs
                             if x["layer"] == "seen"
                             and x["op"] == "compact"))
    out.update({
        "crawl.unphased_s": mean(unphased),
        "catalog.commits_per_round": mean(commits),
        "catalog.write_s": mean(write_s),
        "catalog.bytes_written_mb_per_round": mean(mb),
        "catalog.files_written_per_round": mean(files),
        "catalog.seen_filter_mb_per_round": mean(filt),
        "catalog.write_amp": mean(amp),
        "seen.record_s": mean(record_s),
        "seen.compact_s": mean(compact_s),
        "seen.keys": mean(r["seen_keys"] for r in rounds),
        "trace.round_s": mean(r["wall"] for r in rounds),
        "trace.span_overhead_s": mean(overhead),
    })
    out.update(tracing.rollup(events, [r["key"] for r in rounds]))
    return out


def measure(args, run_dir: str) -> dict:
    import check
    import tracing
    import workloads

    wl = workloads.WORKLOADS[args.workload]
    expected = load_expected(wl.name, args.seed)
    spark = start_session(run_dir, args.trace)
    try:
        session_s = time.time() - T_START
        warmup(spark, run_dir)
        ready_s = time.time() - T_START
        print(f"# session {session_s:.3f}s, warm {ready_s:.3f}s", flush=True)
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        setups: list[float] = []
        rounds: list[dict] = []
        first: dict[int, dict] = {}
        attempted = failed = 0
        measured = 0.0
        episode_walls: list[float] = []
        state_mb = 0.0
        while not episode_walls or (measured + mean(episode_walls)
                                    <= args.seconds):
            ep = len(episode_walls)
            root = os.path.join(run_dir, f"catalog-{ep}")
            t0 = time.time()
            cat, eng = workloads.setup(spark, wl, args.seed, root)
            setups.append(time.time() - t0)
            print(f"# setup {ep} {setups[-1]:.3f}s", flush=True)
            if tracer:
                tracer.wrap_catalog(cat)
                tracer.wrap_seen(eng.seen)
            ep_wall = 0.0
            for r in range(wl.rounds):
                attempted += 1
                key = f"{ep}:{r}"
                t0 = time.time()
                try:
                    if tracer:
                        counters = tracer.run_round(key, eng.run_round, r)
                    else:
                        counters = eng.run_round(r)
                except Exception as e:  # counted, with the episode's rest
                    failed += wl.rounds - r
                    attempted += wl.rounds - 1 - r
                    print(f"# round {key} raised {e!r}", flush=True)
                    break
                wall = time.time() - t0
                ep_wall += wall
                t_check = time.time()
                rec = check.round_record(cat, r, counters)
                errs = check.problems(rec)
                want = first.setdefault(r, check.comparable(rec))
                if check.comparable(rec) != want:
                    errs.append("output differs from episode 0")
                if expected is not None and (
                        r >= len(expected)
                        or check.comparable(rec) != expected[r]):
                    errs.append("output differs from expected.json")
                if errs:
                    failed += 1
                print(f"# round {key} wall={wall:.3f}s "
                      f"check={time.time() - t_check:.3f}s "
                      f"phases={json.dumps(eng.phase_times)} "
                      + json.dumps(check.comparable(rec))
                      + (f" FAILED {errs}" if errs else ""), flush=True)
                rounds.append({"key": key, "wall": wall,
                               "frontier_in": counters["frontier_in"],
                               "phases": dict(eng.phase_times),
                               "seen_keys": int(rec["seen"].split(":")[0]),
                               "record": check.comparable(rec)})
            episode_walls.append(ep_wall)
            measured += ep_wall
            state_mb = dir_bytes(root) / MB
            if args.write_expected and ep == 0 and not failed:
                write_expected(wl.name, [r["record"] for r in rounds])
            if ep:
                shutil.rmtree(os.path.join(run_dir, f"catalog-{ep - 1}"))
            if len(rounds) < attempted:
                break
    finally:
        stop_session(spark)
    if not rounds:
        raise RuntimeError("no round completed")
    walls = [r["wall"] for r in rounds]
    if args.trace:
        metrics = layer_metrics(
            rounds, tracer,
            tracing.read_event_log(os.path.join(run_dir, "eventlog")))
        units = per_layer_units()
    else:
        metrics = {
            "setup_s": ready_s + statistics.median(setups),
            "round_s": mean(walls),
            "urls_per_s": sum(r["frontier_in"] for r in rounds) / sum(walls),
            "state_mb": state_mb,
        }
        units = {"setup_s": "s", "round_s": "s", "urls_per_s": "1/s",
                 "state_mb": "MB"}
    print(f"# rounds_failed={failed} of {attempted}", flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def write_expected(workload: str, records: list[dict]) -> None:
    data = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            data = json.load(f)
    data[workload] = records
    with open(EXPECTED, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


def per_layer_units() -> dict[str, str]:
    from tracing import ROLLUP_FIELDS, ROLLUP_SPANS
    units = {f"crawl.{p}_s": "s" for p in PHASES + ("unphased",)}
    units.update({
        "crawl.jobs_per_round": "count", "crawl.stages_per_round": "count",
        "crawl.tasks_per_round": "count",
        "catalog.commits_per_round": "count", "catalog.write_s": "s",
        "catalog.bytes_written_mb_per_round": "MB",
        "catalog.files_written_per_round": "count",
        "catalog.seen_filter_mb_per_round": "MB", "catalog.write_amp": "ratio",
        "seen.record_s": "s", "seen.compact_s": "s", "seen.keys": "count",
        "trace.round_s": "s", "trace.span_overhead_s": "s"})
    field_units = {"cpu_s": "s", "task_s": "s", "shuffle_read_mb": "MB",
                   "shuffle_write_mb": "MB", "spill_mb": "MB",
                   "tasks": "count", "task_skew": "ratio", "python_s": "s"}
    for s in ROLLUP_SPANS:
        for f in ROLLUP_FIELDS:
            units[f"{s}.{f}"] = field_units[f]
    return units


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=30,
                    help="measure whole episodes for about this long "
                         "(at least one)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-expected", action="store_true",
                    help="store the first episode's outputs as the expected "
                         "values for this workload (default seed only)")
    args = ap.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    import workloads
    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"one of {sorted(workloads.WORKLOADS)}")
    if args.write_expected and args.seed != DEFAULT_SEED:
        ap.error(f"--write-expected needs --seed {DEFAULT_SEED}")
    import fetcho_spark  # noqa: F401  (fail fast, before any set-up)

    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    os.makedirs(RUNS, exist_ok=True)
    swept = sweep_stale_runs()
    run_dir = tempfile.mkdtemp(prefix=f"run-{os.getpid()}-", dir=RUNS)
    try:
        state = box_state(run_dir)
        state["swept_stale_runs"] = swept
        print("# box " + json.dumps(state), flush=True)
        result = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(f"# total {time.time() - T_START:.3f}s", flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
