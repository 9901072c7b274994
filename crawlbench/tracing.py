"""Tracing for the crawl benchmark: benchmark-owned spans around the calls
into ``catalog`` and ``operators.seen``, and a rollup of the Spark event log
by span.

Spans are opened only in the traced run. Each span tags its calling thread
with the ``crawlbench.span`` local property, so every Spark job it runs
carries the tag into ``SparkListenerJobStart.Properties``; the engine's
background commit threads are ``InheritableThread`` s and start with the
round's tags. The innermost tagged span wins, so a job is counted under
exactly one of the rollup spans, and ``round`` covers every job of a round.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

SPAN_PROP = "crawlbench.span"
ROUND_PROP = "crawlbench.round"

# spans the event-log rollup reports; round_other is the round's jobs that
# ran outside the four inner spans
ROLLUP_SPANS = ("round", "fetched_append", "frontier_overwrite",
                "seen_record", "seen_filter_overwrite", "round_other")
# (catalog method, table) -> the rollup span its jobs are tagged with
_CATALOG_SPANS = {("append", "fetched"): "fetched_append",
                  ("overwrite", "frontier"): "frontier_overwrite",
                  ("overwrite", "seen_filter"): "seen_filter_overwrite"}
_CATALOG_METHODS = ("append", "overwrite", "append_rows",
                    "expire_snapshots", "rewrite_data_files")
ROLLUP_FIELDS = ("cpu_s", "task_s", "shuffle_read_mb", "shuffle_write_mb",
                 "spill_mb", "tasks", "task_skew", "python_s")
PYTHON_TIME_ACCUM = "time to run Python workers"   # ms, per task update
MB = 1 << 20


def _dir_stats(d: str) -> tuple[int, int]:
    """(bytes, data files) under one snapshot data dir."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(d):
        for f in files:
            if not f.startswith(("_", ".")):
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
    return n_bytes, n_files


class Tracer:
    """Wraps one Catalog and one SeenSet instance with timing spans.

    Records are plain dicts appended to ``self.records``; the round key in
    effect when a span opened is stored with it."""

    def __init__(self, sc):
        self.sc = sc
        self.records: list[dict] = []
        self.round_key: str | None = None
        self.main_thread = threading.main_thread()
        self._lock = threading.Lock()

    def _tagged(self, span: str | None, fn, *args, **kwargs):
        if span is None:
            return fn(*args, **kwargs)
        prev = self.sc.getLocalProperty(SPAN_PROP)
        self.sc.setLocalProperty(SPAN_PROP, span)
        try:
            return fn(*args, **kwargs)
        finally:
            self.sc.setLocalProperty(SPAN_PROP, prev)

    def _record(self, **rec) -> None:
        rec["round"] = self.round_key
        rec["main"] = threading.current_thread() is self.main_thread
        with self._lock:
            self.records.append(rec)

    def wrap_catalog(self, cat) -> None:
        for method in _CATALOG_METHODS:
            setattr(cat, method, self._catalog_span(cat, method,
                                                    getattr(cat, method)))

    def _catalog_span(self, cat, method: str, fn):
        def span(name, *args, **kwargs):
            s0 = time.time()
            before = cat.snapshots(name)
            old_dirs = set(before[-1].dirs) if before else set()
            t0 = time.time()
            out = self._tagged(_CATALOG_SPANS.get((method, name)), fn,
                               name, *args, **kwargs)
            t1 = time.time()
            after = cat.snapshots(name)
            new_dirs = [d for d in (after[-1].dirs if after else [])
                        if d not in old_dirs]
            stats = [_dir_stats(d) for d in new_dirs]
            self._record(layer="catalog", op=method, table=name,
                         t0=t0, t1=t1,
                         bytes=sum(b for b, _ in stats),
                         files=sum(f for _, f in stats),
                         commit=([x.id for x in after]
                                 != [x.id for x in before]),
                         overhead=(t0 - s0) + (time.time() - t1))
            return out
        return span

    def wrap_seen(self, seen) -> None:
        for method, span_name in (("record", "seen_record"),
                                  ("compact", None)):
            setattr(seen, method, self._seen_span(method, span_name,
                                                  getattr(seen, method)))

    def _seen_span(self, method: str, span_name: str | None, fn):
        def span(*args, **kwargs):
            t0 = time.time()
            out = self._tagged(span_name, fn, *args, **kwargs)
            self._record(layer="seen", op=method, t0=t0, t1=time.time())
            return out
        return span

    def run_round(self, key: str, fn, *args):
        """Run one round with every job it starts tagged by round and span."""
        self.round_key = key
        self.sc.setLocalProperty(ROUND_PROP, key)
        self.sc.setLocalProperty(SPAN_PROP, "round")
        try:
            return fn(*args)
        finally:
            self.sc.setLocalProperty(SPAN_PROP, None)
            self.sc.setLocalProperty(ROUND_PROP, None)
            self.round_key = None

    def round_records(self, key: str) -> list[dict]:
        return [r for r in self.records if r["round"] == key]


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> list[dict]:
    """Events of the one application logged under ``log_dir``, in order.
    Spark 4.1 writes a rolling ``eventlog_v2_*/events_<n>_*`` directory;
    a single plain file is read as well."""
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*",
                                          "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if os.path.isfile(p)]
    events = []
    for p in files:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _task_sample(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    py_ms = 0.0
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        if a.get("Name") == PYTHON_TIME_ACCUM:
            py_ms += float(a.get("Update") or 0)
    return {"run_ms": float(m.get("Executor Run Time", 0)),
            "cpu_ns": float(m.get("Executor CPU Time", 0)),
            "read": float(sr.get("Remote Bytes Read", 0))
            + float(sr.get("Local Bytes Read", 0)),
            "write": float(sw.get("Shuffle Bytes Written", 0)),
            "spill": float(m.get("Disk Bytes Spilled", 0)),
            "py_ms": py_ms}


def _skew(stage_times: dict[int, list[float]]) -> float:
    """Task-time-weighted mean over stages of max / median task time."""
    num = den = 0.0
    for times in stage_times.values():
        total = sum(times)
        med = statistics.median(times)
        if total <= 0 or med <= 0:
            continue
        num += total * (max(times) / med)
        den += total
    return num / den if den else 1.0


def rollup(events: list[dict], round_keys: list[str]) -> dict[str, float]:
    """Per-round means of Spark work for the rounds in ``round_keys``.

    Returns ``crawl.jobs_per_round``, ``crawl.stages_per_round``,
    ``crawl.tasks_per_round`` and ``<span>.<field>`` for every rollup span
    and field. A stage belongs to the first job that lists it."""
    keys = set(round_keys)
    n = max(1, len(round_keys))
    stage_span: dict[int, str] = {}
    jobs = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        props = ev.get("Properties") or {}
        rk = props.get(ROUND_PROP)
        if rk not in keys:
            continue
        jobs += 1
        span = props.get(SPAN_PROP) or "round"
        for sid in ev.get("Stage IDs", []):
            stage_span.setdefault(sid, span)

    sums = {s: defaultdict(float) for s in ROLLUP_SPANS}
    stage_times = {s: defaultdict(list) for s in ROLLUP_SPANS}
    stages_run: set[tuple[int, int]] = set()
    for ev in events:
        if ev.get("Event") != "SparkListenerTaskEnd":
            continue
        sid = ev.get("Stage ID")
        if sid not in stage_span:
            continue
        span = stage_span[sid]
        stages_run.add((sid, ev.get("Stage Attempt ID", 0)))
        t = _task_sample(ev)
        spans = ["round", span if span != "round" else "round_other"]
        for s in spans:
            acc = sums[s]
            acc["cpu_s"] += t["cpu_ns"] / 1e9
            acc["task_s"] += t["run_ms"] / 1e3
            acc["shuffle_read_mb"] += t["read"] / MB
            acc["shuffle_write_mb"] += t["write"] / MB
            acc["spill_mb"] += t["spill"] / MB
            acc["tasks"] += 1
            acc["python_s"] += t["py_ms"] / 1e3
            stage_times[s][sid].append(t["run_ms"])

    out = {"crawl.jobs_per_round": jobs / n,
           "crawl.stages_per_round": len(stages_run) / n,
           "crawl.tasks_per_round": sums["round"]["tasks"] / n}
    for s in ROLLUP_SPANS:
        for f in ROLLUP_FIELDS:
            if f == "task_skew":
                out[f"{s}.{f}"] = _skew(stage_times[s])
            else:
                out[f"{s}.{f}"] = sums[s][f] / n
    return out
