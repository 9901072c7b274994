"""Snapshot-versioned table catalog (Iceberg semantics, Parquet-dir shim).

Production deployment targets Iceberg tables; this sandbox has no Iceberg
runtime jar, so the catalog shim provides the same *semantics* behind one
small API — a config flip, not a refactor (SURVEY.md §7.4):

- every write is a new immutable **snapshot** (append = previous data files +
  new ones; overwrite = new files only), recorded in a JSON manifest with
  per-snapshot lineage metadata and the Spark schema the snapshot reads
  with, so a read plans from the manifest alone (no Parquet footer
  inference job per read);
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
from pyspark.sql import types as T


@dataclass
class Snapshot:
    id: int
    op: str
    dirs: list[str]
    schema: str          # Spark schema JSON the snapshot reads with
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
        for s in raw["snapshots"]:
            if not s.get("schema"):
                raise ValueError(
                    f"{name}: snapshot {s['id']} stores no schema; the "
                    "catalog reads only manifests that record one")
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

    def _commit(self, name: str, snaps: list[Snapshot], op: str,
                dirs: list[str], meta: dict | None, schema: str) -> int:
        """Append the next snapshot to ``snaps`` and swap the manifest."""
        sid = (snaps[-1].id + 1) if snaps else 0
        snaps.append(Snapshot(sid, op, dirs, schema, meta or {}))
        self._store(name, snaps)
        return sid

    def _append_commit(self, name: str, snaps: list[Snapshot], d: str,
                       schema: T.StructType, meta: dict | None) -> int:
        """Commit ``d`` on top of the current files. The table keeps its
        schema: without mergeSchema Spark reads the union of files with
        one file's schema (the first in path order, an arbitrary one of
        the uuid-named dirs), so a table's files must agree, and its first
        files set the schema."""
        if snaps:
            return self._commit(name, snaps, "append", snaps[-1].dirs + [d],
                                meta, snaps[-1].schema)
        return self._commit(name, snaps, "append", [d], meta,
                            schema.json())

    def append(self, name: str, df: DataFrame, meta: dict | None = None) -> int:
        os.makedirs(self._tdir(name), exist_ok=True)
        snaps = self._load(name)
        d = self._write_files(name, df)
        return self._append_commit(name, snaps, d, df.schema, meta)

    def overwrite(self, name: str, df: DataFrame, meta: dict | None = None) -> int:
        os.makedirs(self._tdir(name), exist_ok=True)
        snaps = self._load(name)
        d = self._write_files(name, df)
        return self._commit(name, snaps, "overwrite", [d], meta,
                            df.schema.json())

    def overwrite_bucketed(self, name: str, df: DataFrame, bucket_col: str,
                           n_buckets: int, meta: dict | None = None) -> int:
        """Bucketed snapshot — the Iceberg ``bucket(N, col)`` partition
        transform's shim: written via ``bucketBy().sortBy().saveAsTable`` so
        every later equi-join on ``bucket_col`` reads this side WITHOUT an
        Exchange. The decisive case is the fetch join: the webgraph is the
        100 TB side and static between rounds — bucketed by url it never
        re-shuffles; only the (much smaller) per-round frontier moves.

        The bucket spec rides the manifest beside the snapshot's schema,
        and ``read()`` re-registers the table in a fresh session's
        metastore, so bucketed snapshots stay resumable like plain ones.
        """
        os.makedirs(self._tdir(name), exist_ok=True)
        snaps = self._load(name)
        tbl = f"fetcho_{name}_{uuid.uuid4().hex[:10]}"
        snap_dir = os.path.join(self._tdir(name), f"bucketed-{tbl}")
        (df.write.mode("overwrite")
           .bucketBy(n_buckets, bucket_col)
           .sortBy(bucket_col)
           .option("path", snap_dir)
           .saveAsTable(tbl))
        m = dict(meta or {})
        m["bucket"] = {"table": tbl, "col": bucket_col, "n": n_buckets}
        return self._commit(name, snaps, "overwrite", [snap_dir], m,
                            df.schema.json())

    def _read_bucketed(self, snap: Snapshot) -> DataFrame:
        spec = snap.meta["bucket"]
        tbl, col, n = spec["table"], spec["col"], spec["n"]
        if not self.spark.catalog.tableExists(tbl):
            schema = T.StructType.fromJson(json.loads(snap.schema))
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
        the one schema the manifest keeps (tests/test_catalog.py pins the
        mix).
        """
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema
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
        return self._append_commit(name, snaps, snap_dir,
                                   from_arrow_schema(arrow_schema), meta)

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
        return self._read_files(snap.dirs, snap.schema)

    def _read_files(self, dirs: list[str], schema: str) -> DataFrame:
        """Parquet scan of ``dirs`` with the manifest's schema: inferring
        one from the files costs a Spark job per read."""
        return (self.spark.read
                .schema(T.StructType.fromJson(json.loads(schema)))
                .parquet(*dirs))

    def table_bytes(self, name: str, snapshot_id: int | None = None) -> int:
        """Total on-disk bytes of a snapshot's data files — driver-side
        metadata only (the Iceberg analog is a manifest-file stat, no scan).
        ``rewrite_data_files`` sizes its output file count from it."""
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
        """Files added strictly after a snapshot — Iceberg incremental read.
        The rows are read with the schema of the first later snapshot, the
        one that added the first new files."""
        snaps = self._load(name)
        seen: set[str] = set()
        for s in snaps:
            if s.id <= after_snapshot_id:
                seen.update(s.dirs)
        later = [s for s in snaps if s.id > after_snapshot_id]
        new = [d for s in later for d in s.dirs if d not in seen]
        new = list(dict.fromkeys(new))
        if not new:
            return None
        return self._read_files(new, later[0].schema)

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

    def expire_snapshots(self, name: str, *, keep_last: int = 1) -> dict:
        """Iceberg ``expireSnapshots``: forget all but the newest
        ``keep_last`` snapshots and delete data dirs no retained snapshot
        uses. Time travel to expired ids stops working — that is the point:
        bounded metadata + storage for an unbounded crawl. The engine
        expires after the round checkpoint, so the ids that checkpoint
        references are the newest and always retained."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self._load(name)
        if len(snaps) <= keep_last:
            return {"expired": 0, "deleted_dirs": 0, "freed_bytes": 0}
        cut = len(snaps) - keep_last
        retained, expired = snaps[cut:], snaps[:cut]
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
        return self._commit(name, snaps, "rewrite", [d], m,
                            snaps[-1].schema)

    def drop(self, name: str) -> None:
        if os.path.isdir(self._tdir(name)):
            shutil.rmtree(self._tdir(name))
