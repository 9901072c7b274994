"""Snapshot-versioned table catalog (Iceberg semantics, Parquet-dir shim).

Production deployment targets Iceberg tables; this sandbox has no Iceberg
runtime jar, so the catalog shim provides the same *semantics* behind one
small API — a config flip, not a refactor (SURVEY.md §7.4):

- every write is a new immutable **snapshot** (append = previous data files +
  new ones; overwrite = new files only), recorded in a JSON manifest with
  per-snapshot lineage metadata;
- reads are **snapshot-isolated**: ``read(name, snapshot_id=k)`` reproduces
  the table as of snapshot k — this is what makes crawl rounds resumable
  (north rule: "Iceberg-snapshot checkpointing", "resumable from checkpoint
  with per-partition lineage + metrics");
- the maintenance actions (``expire_snapshots``, ``rollback``,
  ``rewrite_data_files``) bound history and file counts. The seen set's TTL
  upsert (reference: Database.SaveWebResource, common/Database.cs:227-253)
  is an append plus a periodic ``SeenSet.compact()`` overwrite, not a MERGE.

This replaces fetcho's packet-file rotation (WebDataPacketWriter.cs:172-179):
"read packet k" == "read snapshot k".
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Snapshot:
    id: int
    op: str
    dirs: list[str]
    meta: dict[str, Any] = field(default_factory=dict)


class Catalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ manifest
    def _tdir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self._tdir(name), "_manifest.json")

    def _load(self, name: str) -> list[Snapshot]:
        p = self._manifest_path(name)
        if not os.path.exists(p):
            return []
        with open(p) as f:
            raw = json.load(f)
        return [Snapshot(**s) for s in raw["snapshots"]]

    def _store(self, name: str, snaps: list[Snapshot]) -> None:
        p = self._manifest_path(name)
        body = {"snapshots": [s.__dict__ for s in snaps]}
        fd, tmp = tempfile.mkstemp(dir=self._tdir(name), suffix=".json")
        with os.fdopen(fd, "w") as f:
            json.dump(body, f, indent=1)
        os.replace(tmp, p)  # atomic manifest swap = Iceberg commit

    # -------------------------------------------------------------- writes
    def _write_files(self, name: str, df: DataFrame) -> str:
        snap_dir = os.path.join(self._tdir(name), f"data-{uuid.uuid4().hex[:12]}")
        df.write.mode("overwrite").parquet(snap_dir)
        return snap_dir

    def append(self, name: str, df: DataFrame, meta: dict | None = None) -> int:
        os.makedirs(self._tdir(name), exist_ok=True)
        snaps = self._load(name)
        d = self._write_files(name, df)
        prev = snaps[-1].dirs if snaps else []
        sid = (snaps[-1].id + 1) if snaps else 0
        snaps.append(Snapshot(sid, "append", prev + [d], meta or {}))
        self._store(name, snaps)
        return sid

    def overwrite(self, name: str, df: DataFrame, meta: dict | None = None) -> int:
        os.makedirs(self._tdir(name), exist_ok=True)
        snaps = self._load(name)
        d = self._write_files(name, df)
        sid = (snaps[-1].id + 1) if snaps else 0
        snaps.append(Snapshot(sid, "overwrite", [d], meta or {}))
        self._store(name, snaps)
        return sid

    def overwrite_bucketed(self, name: str, df: DataFrame, bucket_col: str,
                           n_buckets: int, sort_col: str | None = None,
                           meta: dict | None = None) -> int:
        """Bucketed snapshot — the Iceberg ``bucket(N, col)`` partition
        transform's shim: written via ``bucketBy().sortBy().saveAsTable`` so
        every later equi-join on ``bucket_col`` reads this side WITHOUT an
        Exchange. The decisive case is the fetch join: the webgraph is the
        100 TB side and static between rounds — bucketed by url it never
        re-shuffles; only the (much smaller) per-round frontier moves.

        The bucket spec + schema ride the manifest, and ``read()``
        re-registers the table in a fresh session's metastore, so bucketed
        snapshots stay resumable like plain ones.
        """
        os.makedirs(self._tdir(name), exist_ok=True)
        snaps = self._load(name)
        sid = (snaps[-1].id + 1) if snaps else 0
        tbl = f"fetcho_{name}_{uuid.uuid4().hex[:10]}"
        snap_dir = os.path.join(self._tdir(name), f"bucketed-{tbl}")
        (df.write.mode("overwrite")
           .bucketBy(n_buckets, bucket_col)
           .sortBy(sort_col or bucket_col)
           .option("path", snap_dir)
           .saveAsTable(tbl))
        m = dict(meta or {})
        m["bucket"] = {"table": tbl, "col": bucket_col, "n": n_buckets,
                       "schema": df.schema.json()}
        snaps.append(Snapshot(sid, "overwrite", [snap_dir], m))
        self._store(name, snaps)
        return sid

    def _read_bucketed(self, snap: Snapshot) -> DataFrame:
        from pyspark.sql import types as T
        spec = snap.meta["bucket"]
        tbl, col, n = spec["table"], spec["col"], spec["n"]
        if not self.spark.catalog.tableExists(tbl):
            schema = T.StructType.fromJson(json.loads(spec["schema"]))
            ddl = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                            for f in schema.fields)
            self.spark.sql(
                f"CREATE TABLE `{tbl}` ({ddl}) USING parquet "
                f"CLUSTERED BY (`{col}`) SORTED BY (`{col}`) "
                f"INTO {n} BUCKETS LOCATION '{snap.dirs[0]}'")
        return self.spark.table(tbl)

    def append_rows(self, name: str, rows: list[tuple], arrow_schema,
                    meta: dict | None = None) -> int:
        """Driver-local append of a TINY row set — pyarrow write, no Spark job.

        The per-round bookkeeping tables (checkpoints: 1 row; metrics:
        ≤ n_seen_buckets rows, already collect()ed for the counter totals)
        were each paying a full Spark write job — createDataFrame →
        task launch → commit protocol — per round: pure fixed latency that
        never shrinks with executors (the 2→8 profile's worst phases).
        Writing them with pyarrow on the driver keeps the identical snapshot
        semantics (same manifest, same parquet dirs, Spark reads them back
        bit-for-bit) and removes two jobs from every round's Amdahl floor.

        ``arrow_schema`` must match the types Spark would have written
        (int32 for IntegerType, int64 for LongType, string for StringType…)
        — appends mix files inside one table, and Spark reads the union with
        the first file's schema (tests/test_catalog.py pins the mix).
        """
        import pyarrow as pa
        import pyarrow.parquet as pq
        os.makedirs(self._tdir(name), exist_ok=True)
        snaps = self._load(name)
        snap_dir = os.path.join(self._tdir(name),
                                f"data-{uuid.uuid4().hex[:12]}")
        os.makedirs(snap_dir)
        cols = [[r[i] for r in rows] for i in range(len(arrow_schema))]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
            schema=arrow_schema)
        pq.write_table(table, os.path.join(snap_dir, "part-00000.parquet"),
                       compression="snappy")
        prev = snaps[-1].dirs if snaps else []
        sid = (snaps[-1].id + 1) if snaps else 0
        snaps.append(Snapshot(sid, "append", prev + [snap_dir], meta or {}))
        self._store(name, snaps)
        return sid

    # --------------------------------------------------------------- reads
    def exists(self, name: str) -> bool:
        return bool(self._load(name))

    def snapshots(self, name: str) -> list[Snapshot]:
        return self._load(name)

    def current_snapshot_id(self, name: str) -> int | None:
        snaps = self._load(name)
        return snaps[-1].id if snaps else None

    def _snapshot(self, name: str, snaps: list[Snapshot],
                  snapshot_id: int | None) -> Snapshot:
        """The current snapshot, or snapshot ``snapshot_id`` (KeyError if
        the manifest has no such id)."""
        if snapshot_id is None:
            return snaps[-1]
        for s in snaps:
            if s.id == snapshot_id:
                return s
        raise KeyError(f"{name}: no snapshot {snapshot_id}")

    def read(self, name: str, snapshot_id: int | None = None) -> DataFrame:
        snaps = self._load(name)
        if not snaps:
            raise FileNotFoundError(f"no such table: {name}")
        snap = self._snapshot(name, snaps, snapshot_id)
        if snap.meta.get("bucket"):
            return self._read_bucketed(snap)
        return self.spark.read.parquet(*snap.dirs)

    def table_bytes(self, name: str, snapshot_id: int | None = None) -> int:
        """Total on-disk bytes of a snapshot's data files — driver-side
        metadata only (the Iceberg analog is a manifest-file stat, no scan).
        Used to size-guard broadcast decisions: force-broadcast a dimension
        only while its files fit comfortably in executor memory, else let
        the join shuffle."""
        snaps = self._load(name)
        if not snaps:
            return 0
        snap = self._snapshot(name, snaps, snapshot_id)
        total = 0
        for d in snap.dirs:
            for root, _dirs, files in os.walk(d):
                for f in files:
                    if not f.startswith("_") and not f.startswith("."):
                        total += os.path.getsize(os.path.join(root, f))
        return total

    def read_incremental(self, name: str, after_snapshot_id: int) -> DataFrame | None:
        """Files added strictly after a snapshot — Iceberg incremental read."""
        snaps = self._load(name)
        seen: set[str] = set()
        for s in snaps:
            if s.id <= after_snapshot_id:
                seen.update(s.dirs)
        new = [d for s in snaps if s.id > after_snapshot_id for d in s.dirs if d not in seen]
        new = list(dict.fromkeys(new))
        if not new:
            return None
        return self.spark.read.parquet(*new)

    def snapshot_diff(self, name: str, from_id: int, to_id: int,
                      key: str) -> DataFrame:
        """Row-level diff between two snapshots →
        ``(change ∈ {added, removed, changed}, …to-side row columns)``
        (for ``removed``, the from-side row). The Iceberg
        changelog-read analog over the time-travel shim.

        Scale shape: two ``exceptAll``s (hash-aggregate anti-joins on
        full rows) shrink both sides to actually-differing rows FIRST;
        classification then joins only those differences by key — no
        full-table key join, so an almost-unchanged 10^10-row table
        diffs at the cost of its churn, not its size.
        """
        a = self.read(name, from_id)
        b = self.read(name, to_id)
        a = a.select(b.columns)
        gone = a.exceptAll(b)          # removed or pre-change version
        new = b.exceptAll(a)           # added or post-change version
        gk = gone.select(key).distinct()
        nk = new.select(key).distinct()
        added = (new.join(gk, key, "left_anti")
                 .withColumn("change", F.lit("added")))
        removed = (gone.join(nk, key, "left_anti")
                   .withColumn("change", F.lit("removed")))
        changed = (new.join(gk, key, "left_semi")
                   .withColumn("change", F.lit("changed")))
        return added.unionByName(removed).unionByName(changed)

    # -------------------------------------------------------- maintenance
    # Iceberg's table-maintenance actions — without these a perpetual crawl
    # leaks: every round appends to `seen`/`fetched` and overwrites
    # `frontier`, so snapshot history and small data files grow without
    # bound at 10^10-URL scale. expireSnapshots / rollback_to_snapshot /
    # rewriteDataFiles are the three actions Iceberg itself ships for this.

    def file_count(self, name: str, snapshot_id: int | None = None) -> int:
        """Data files in a snapshot — the rewriteDataFiles trigger metric
        (manifest-stat analog; no scan)."""
        snaps = self._load(name)
        if not snaps:
            return 0
        snap = self._snapshot(name, snaps, snapshot_id)
        n = 0
        for d in snap.dirs:
            for root, _dirs, files in os.walk(d):
                n += sum(1 for f in files
                         if not f.startswith(("_", ".")))
        return n

    def _gc_orphans(self, name: str, before: list[Snapshot],
                    after: list[Snapshot]) -> tuple[int, int]:
        """Delete data dirs referenced by ``before`` but by no retained
        snapshot in ``after`` (append snapshots share dirs with their
        ancestors, so shared history survives). Bucketed snapshots whose
        dir dies also drop their metastore registration."""
        live = {d for s in after for d in s.dirs}
        deleted, freed = 0, 0
        dead: dict[str, None] = {}          # ordered de-dup
        for s in before:
            for d in s.dirs:
                if d not in live:
                    dead[d] = None
        for d in dead:
            for root, _dirs, files in os.walk(d):
                for f in files:
                    freed += os.path.getsize(os.path.join(root, f))
            shutil.rmtree(d, ignore_errors=True)
            deleted += 1
        for s in before:
            tbl = s.meta.get("bucket", {}).get("table")
            if tbl and all(d in dead for d in s.dirs):
                self.spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
        return deleted, freed

    def expire_snapshots(self, name: str, *, keep_last: int = 1,
                         protect_ids: "tuple | set | frozenset" = ()) -> dict:
        """Iceberg ``expireSnapshots``: forget all but the newest
        ``keep_last`` snapshots (plus any in ``protect_ids`` — e.g. ids a
        resume checkpoint still references) and delete data dirs no retained
        snapshot uses. Time travel to expired ids stops working — that is
        the point: bounded metadata + storage for an unbounded crawl."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self._load(name)
        if len(snaps) <= keep_last:
            return {"expired": 0, "deleted_dirs": 0, "freed_bytes": 0}
        protect = set(protect_ids)
        cut = len(snaps) - keep_last
        retained = [s for i, s in enumerate(snaps)
                    if i >= cut or s.id in protect]
        expired = [s for s in snaps if s.id not in {r.id for r in retained}]
        deleted, freed = self._gc_orphans(name, expired, retained)
        self._store(name, retained)
        return {"expired": len(expired), "deleted_dirs": deleted,
                "freed_bytes": freed}

    def rollback(self, name: str, snapshot_id: int) -> None:
        """Iceberg ``rollback_to_snapshot``: make ``snapshot_id`` current by
        truncating the manifest — metadata-only, so crash recovery is O(1)
        in table size. Data dirs only the dropped snapshots referenced are
        deleted (they are the torn writes being rolled back)."""
        snaps = self._load(name)
        if not any(s.id == snapshot_id for s in snaps):
            raise KeyError(f"{name}: no snapshot {snapshot_id}")
        retained = [s for s in snaps if s.id <= snapshot_id]
        dropped = [s for s in snaps if s.id > snapshot_id]
        self._gc_orphans(name, dropped, retained)
        self._store(name, retained)

    def rewrite_data_files(self, name: str, *,
                           target_file_bytes: int = 128 << 20,
                           cluster_by: list[str] | None = None,
                           meta: dict | None = None) -> int:
        """Iceberg ``rewriteDataFiles``: commit a new snapshot with the
        same rows laid out better, toward ``target_file_bytes`` files.

        Two strategies, exactly Iceberg's:

        - **binpack** (default): append-heavy tables (seen, fetched,
          metrics) accrete one small file set per round; their scans
          then pay per-file open cost and lose row-group pruning.
          ``coalesce`` merges scan partitions without a shuffle — a pure
          IO rewrite.
        - **sort** (``cluster_by=[cols]``): range-repartition on the
          cluster columns + sort within each file, so every parquet
          footer carries a TIGHT min/max for them and an equality or
          range predicate prunes to ~one file's row groups instead of
          scanning all. At 100 TB this is what makes host-scoped reads
          (the robots/sitemap IN-probe, per-host debugging, the fetch
          join's corpus side filtered to a host subset) touch megabytes
          rather than the whole corpus. One shuffle, maintenance-time
          only (after the round checkpoint, like all maintenance).

        History stays time-travelable until ``expire_snapshots``."""
        import math
        snaps = self._load(name)
        if not snaps:
            raise FileNotFoundError(f"no such table: {name}")
        if snaps[-1].meta.get("bucket"):
            raise ValueError(
                "bucketed snapshots already fix their file layout; "
                "rewrite via overwrite_bucketed instead")
        before = self.file_count(name)
        n_files = max(1, math.ceil(self.table_bytes(name) / target_file_bytes))
        if cluster_by:
            cols = [F.col(c) for c in cluster_by]
            df = (self.read(name)
                  .repartitionByRange(n_files, *cols)
                  .sortWithinPartitions(*cols))
        else:
            df = self.read(name).coalesce(n_files)
        d = self._write_files(name, df)
        m = dict(meta or {})
        m["rewrite"] = {"files_before": before, "target_files": n_files,
                        "cluster_by": list(cluster_by or [])}
        sid = snaps[-1].id + 1
        snaps.append(Snapshot(sid, "rewrite", [d], m))
        self._store(name, snaps)
        return sid

    def drop(self, name: str) -> None:
        if os.path.isdir(self._tdir(name)):
            shutil.rmtree(self._tdir(name))
