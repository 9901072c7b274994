"""SparkSession factory with scale-appropriate defaults.

Tuned for the crawl workload: AQE on (runtime skew-join splitting backs up our
explicit host-hash salting), Arrow on (every Python crossing is a pandas UDF),
shuffle partitions sized to the parallelism level so the local[8] vs local[32]
scaling evidence isn't bottlenecked by a fixed partition count.
"""

from __future__ import annotations

import logging
import os

# module-level: pandas_udf resolves the warmup UDF's string annotations
# (``from __future__ import annotations``) against this module's globals
import pandas as pd
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fetcho_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        cores = os.cpu_count() or 8 if inner in ("", "*") else int(inner)
        shuffle_partitions = max(8, 2 * cores)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalescePartitions.parallelismFirst stays at the Spark default
        # (true). The size-based alternative (=false + a 64m advisory)
        # measured ~10% faster across a 12-query set at sf0.1 but
        # UNDER-PARALLELIZES CPU-dense shuffle stages as data grows —
        # simhash_pairs' band self-join regressed 9.4 s -> 16.0 s at a
        # locally generated sf1 because ~100 MB of candidate pairs
        # coalesced to a handful of tasks on 32 cores. A knob that only
        # wins on 600k-row tables is exactly the local-only tuning this
        # repo avoids (r6 optimization round, negative result).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill dir: tmpfs in this sandbox (one local disk can't serve 32
    # concurrent shuffle writers; a real cluster has per-node NVMe shuffle
    # dirs — tmpfs is the local-mode equivalent)
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR",
                               "/dev/shm/spark-local"
                               if os.path.isdir("/dev/shm") else "")
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_NO_WARMUP") != "1":
        _warmup(spark)
    return spark


def _warmup(spark: SparkSession) -> None:
    """Eagerly initialize the session's lazy machinery so the FIRST real
    query doesn't pay for it (the run_payload warmup-pass discipline,
    bench.py): whole-stage codegen + janino, the shuffle/AQE path, the
    noop sink, the parquet writer+reader classes, and the Python worker
    pool (daemon fork + numpy/pandas import per worker — multiple seconds
    on first use otherwise, charged to whichever query first crosses the
    JVM-Python boundary). Touches only synthetic in-memory data — never
    user inputs — so no query result can be precomputed here."""
    import tempfile

    from pyspark.sql import functions as F

    sc = spark.sparkContext
    sc.setJobDescription("session warmup (untimed)")
    try:
        n_workers = 2 * sc.defaultParallelism
        df = spark.range(0, 64 * n_workers, 1, n_workers)
        # shuffle + agg + codegen + noop sink
        (df.groupBy((F.col("id") % 7).alias("k")).count()
         .write.format("noop").mode("overwrite").save())
        # parquet writer + reader init (tmpfs when available)
        root = "/dev/shm" if os.path.isdir("/dev/shm") else None
        d = tempfile.mkdtemp(prefix="spark-warmup-", dir=root)
        try:
            df.limit(64).write.mode("overwrite").parquet(d + "/t")
            spark.read.parquet(d + "/t").count()
        finally:
            import shutil
            shutil.rmtree(d, ignore_errors=True)
        # prefork the Python worker pool and import its heavy modules once
        # per worker (spark.python.worker.reuse keeps them alive)
        @F.pandas_udf("long")
        def _w(s: pd.Series) -> pd.Series:
            import numpy as np
            import pyarrow  # noqa: F401
            return s * np.int64(1)

        df.select(F.sum(_w("id"))).write.format("noop") \
          .mode("overwrite").save()
    except Exception:
        # best-effort: never block session creation, but say why the first
        # query may pay the lazy-init cost after all
        logging.getLogger(__name__).warning(
            "session warmup failed; continuing cold", exc_info=True)
    finally:
        sc.setJobDescription(None)
