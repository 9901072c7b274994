"""Snapshot-versioned catalog semantics (Iceberg shim, SURVEY.md §7.0)."""

import pytest


@pytest.mark.spark
def test_append_overwrite_snapshots(spark, tmp_catalog):
    c = tmp_catalog
    df1 = spark.range(5).withColumnRenamed("id", "k")
    df2 = spark.range(5, 8).withColumnRenamed("id", "k")
    s0 = c.append("t", df1)
    s1 = c.append("t", df2)
    assert (s0, s1) == (0, 1)
    assert c.read("t").count() == 8
    assert c.read("t", snapshot_id=0).count() == 5      # snapshot isolation
    s2 = c.overwrite("t", df2)
    assert c.read("t").count() == 3
    assert c.read("t", snapshot_id=s1).count() == 8     # history preserved
    assert c.current_snapshot_id("t") == s2


@pytest.mark.spark
def test_incremental_read(spark, tmp_catalog):
    c = tmp_catalog
    c.append("t", spark.range(3))
    c.append("t", spark.range(10, 14))
    inc = c.read_incremental("t", after_snapshot_id=0)
    assert sorted(r["id"] for r in inc.collect()) == [10, 11, 12, 13]
    assert c.read_incremental("t", after_snapshot_id=1) is None


@pytest.mark.spark
def test_missing_snapshot_id_raises_key_error(spark, tmp_catalog):
    """Every snapshot-by-id lookup fails the same way on an unknown id."""
    c = tmp_catalog
    c.append("t", spark.range(3))
    assert c.file_count("t", 0) >= 1
    for lookup in (c.read, c.table_bytes, c.file_count):
        with pytest.raises(KeyError, match="no snapshot 7"):
            lookup("t", 7)


@pytest.mark.spark
def test_bucketed_snapshot_roundtrip_and_no_exchange(spark, tmp_catalog):
    """Bucketed snapshot: values round-trip; an equi-join on the bucket
    column reads the bucketed side WITHOUT an Exchange (the fetch-join
    scale property); re-registration works after the metastore forgets."""
    from pyspark.sql import functions as F
    c = tmp_catalog
    df = spark.range(1000).select(
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
        (F.col("id") % 7).alias("v"))
    c.overwrite_bucketed("wg", df, "url", n_buckets=4)
    got = c.read("wg")
    assert got.count() == 1000
    assert {r["v"] for r in got.filter("url = 'http://h/3'").collect()} == {3 % 7}
    # join on url: bucketed side must not exchange (broadcast disabled so
    # the join is SMJ/SHJ and the property is visible in the plan)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        probe = spark.range(50).select(
            F.concat(F.lit("http://h/"), F.col("id")).alias("url"))
        plan = (probe.join(c.read("wg"), "url")
                ._jdf.queryExecution().executedPlan().toString())
        # exactly one Exchange: the probe side; the bucketed scan has none
        assert plan.count("Exchange hashpartitioning") == 1
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # metastore amnesia (fresh session analog): drop the temp table entry,
    # read() must re-register from the manifest
    tbl = c.snapshots("wg")[-1].meta["bucket"]["table"]
    spark.sql(f"DROP TABLE `{tbl}`")
    again = c.read("wg")
    assert again.count() == 1000


@pytest.mark.spark
def test_append_rows_mixes_with_spark_written_files(spark, tmp_catalog):
    """Driver-local pyarrow appends (catalog.append_rows) must read back
    bit-compatibly alongside Spark-written files of the SAME table — the
    crawl engine appends metrics/checkpoints locally while resume-era
    snapshots may hold Spark-written files (no mergeSchema: types must
    match exactly)."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    c = tmp_catalog
    # Spark-written snapshot with the engine's metric types
    # (int64 agg columns + int32 round)
    df = (spark.range(3).groupBy((F.col("id") % 2).alias("bucket"))
          .agg(F.count("*").alias("n_fetched"),
               F.sum(F.lit(1)).alias("n_ok"))
          .withColumn("round", F.lit(0)))
    c.append("m", df)
    arrow_schema = pa.schema([("bucket", pa.int64()),
                              ("n_fetched", pa.int64()),
                              ("n_ok", pa.int64()),
                              ("round", pa.int32())])
    sid = c.append_rows("m", [(7, 10, 9, 1), (8, 4, 4, 1)], arrow_schema,
                        meta={"round": 1})
    back = c.read("m")
    assert [f.dataType.simpleString() for f in back.schema.fields] == \
        ["bigint", "bigint", "bigint", "int"]
    assert back.count() == 4
    got = {r["bucket"]: (r["n_fetched"], r["n_ok"], r["round"])
           for r in back.filter(F.col("round") == 1).collect()}
    assert got == {7: (10, 9, 1), 8: (4, 4, 1)}
    # snapshot semantics intact: isolation + incremental read + meta
    assert c.read("m", snapshot_id=0).count() == 2
    inc = c.read_incremental("m", after_snapshot_id=0)
    assert inc.count() == 2
    assert c.snapshots("m")[-1].meta == {"round": 1}
    assert sid == 1


@pytest.mark.spark
def test_manifest_entry_without_schema_raises(spark, tmp_catalog):
    """Every snapshot stores the schema it reads with. A manifest entry
    without one is refused with the table's name, never read with the
    type of whichever data file Spark lists first."""
    import json
    c = tmp_catalog
    c.append("t", spark.range(3))
    path = c._manifest_path("t")
    with open(path) as f:
        body = json.load(f)
    del body["snapshots"][0]["schema"]
    with open(path, "w") as f:
        json.dump(body, f)
    with pytest.raises(ValueError, match="^t: snapshot 0 stores no schema"):
        c.read("t")


@pytest.mark.spark
def test_reads_launch_no_job_and_match_inferred_schema(spark, tmp_catalog):
    """Reads plan from the schema the manifest stores: no Spark job (Parquet
    schema inference costs one per read), and the same schema inference
    gives, for a plain overwrite, a table mixing Spark-written and pyarrow
    appends, a bucketed snapshot and a table read after expiry."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    c = tmp_catalog
    sc = spark.sparkContext
    c.overwrite("plain", spark.range(5).select(
        F.col("id").alias("k"), F.array(F.col("id")).alias("a"),
        F.create_map(F.lit("x"), F.col("id").cast("int")).alias("m"),
        F.struct(F.col("id").cast("timestamp").alias("t")).alias("s")))
    c.append("mixed", spark.range(3).select(
        F.col("id").alias("bucket"), F.lit(1).alias("round")))
    c.append_rows("mixed", [(7, 1), (8, 1)],
                  pa.schema([("bucket", pa.int64()), ("round", pa.int32())]))
    c.overwrite_bucketed("bucketed", spark.range(20).select(
        F.col("id").cast("string").alias("url"), F.col("id").alias("v")),
        "url", n_buckets=4)
    for i in range(3):
        c.append("expired", spark.range(i * 10, i * 10 + 3))
    c.expire_snapshots("expired", keep_last=1)
    k = c.current_snapshot_id("expired")
    c.append("expired", spark.range(100, 102))

    def new_dirs(name, after):
        old = {d for s in c.snapshots(name) if s.id <= after for d in s.dirs}
        return [d for d in c.snapshots(name)[-1].dirs if d not in old]

    cases = [(t, lambda t=t: c.read(t), c.snapshots(t)[-1].dirs)
             for t in ("plain", "mixed", "bucketed", "expired")]
    cases += [("mixed@0", lambda: c.read("mixed", snapshot_id=0),
               c.snapshots("mixed")[0].dirs),
              ("mixed+", lambda: c.read_incremental("mixed", 0),
               new_dirs("mixed", 0)),
              ("expired+", lambda: c.read_incremental("expired", k),
               new_dirs("expired", k))]
    try:
        for label, read, dirs in cases:
            group = f"catalog-read-{label}"
            sc.setJobGroup(group, label)
            df = read()
            sc.setLocalProperty("spark.jobGroup.id", None)
            assert list(sc.statusTracker().getJobIdsForGroup(group)) == [], \
                label
            assert df.schema == spark.read.parquet(*dirs).schema, label
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert c.read_incremental("expired", k).count() == 2
    assert c.read("mixed").count() == 5


# ------------------------------------------------- maintenance (Iceberg
# expireSnapshots / rollback_to_snapshot / rewriteDataFiles analogs — the
# actions that bound metadata + storage for a perpetual crawl)

@pytest.mark.spark
def test_expire_snapshots_overwrite_table(spark, tmp_catalog):
    """Overwrite history is the real space leak (dead frontier rounds):
    expiry must free the old dirs and keep the current read identical."""
    import os
    c = tmp_catalog
    for i in range(4):
        c.overwrite("t", spark.range(i * 10, i * 10 + 5))
    old_dirs = [d for s in c.snapshots("t")[:-1] for d in s.dirs]
    before = sorted(r["id"] for r in c.read("t").collect())
    stats = c.expire_snapshots("t", keep_last=1)
    assert stats["expired"] == 3 and stats["deleted_dirs"] == 3
    assert stats["freed_bytes"] > 0
    assert all(not os.path.isdir(d) for d in old_dirs)
    assert sorted(r["id"] for r in c.read("t").collect()) == before
    assert [s.id for s in c.snapshots("t")] == [3]
    with pytest.raises(KeyError):
        c.read("t", snapshot_id=0)          # time travel ends at expiry
    with pytest.raises(ValueError):
        c.expire_snapshots("t", keep_last=0)


@pytest.mark.spark
def test_expire_snapshots_append_history_shares_dirs(spark, tmp_catalog):
    """Append snapshots reference their ancestors' dirs: expiring old
    append entries shrinks METADATA only — no live data dir may die."""
    c = tmp_catalog
    for i in range(3):
        c.append("t", spark.range(i * 10, i * 10 + 4))
    stats = c.expire_snapshots("t", keep_last=1)
    assert stats["expired"] == 2 and stats["deleted_dirs"] == 0
    assert c.read("t").count() == 12        # all rows still there


@pytest.mark.spark
def test_incremental_read_survives_expiry(spark, tmp_catalog):
    """The engine's per-round pattern: append at id k, expire keeping k,
    append k+1, incremental-read after k → exactly the new rows."""
    c = tmp_catalog
    k = c.append("t", spark.range(3))
    c.expire_snapshots("t", keep_last=1)
    c.append("t", spark.range(10, 12))
    inc = c.read_incremental("t", after_snapshot_id=k)
    assert sorted(r["id"] for r in inc.collect()) == [10, 11]


@pytest.mark.spark
def test_rollback_truncates_and_gcs(spark, tmp_catalog):
    import os
    c = tmp_catalog
    c.overwrite("t", spark.range(5))            # id 0
    c.append("t", spark.range(100, 103))        # id 1
    torn = c.overwrite("t", spark.range(9))     # id 2 (the "torn" write)
    torn_dir = c.snapshots("t")[-1].dirs[0]
    c.rollback("t", 1)
    assert c.current_snapshot_id("t") == 1
    assert c.read("t").count() == 8             # state as of id 1
    assert not os.path.isdir(torn_dir)          # torn files deleted
    assert torn == 2
    with pytest.raises(KeyError):
        c.rollback("t", 99)


@pytest.mark.spark
def test_rewrite_data_files_compacts(spark, tmp_catalog):
    """Bin-pack: same rows, fewer files, history intact until expiry."""
    c = tmp_catalog
    for i in range(6):                          # 6 appends → ≥6 files
        c.append("t", spark.range(i * 10, i * 10 + 5).repartition(2))
    before_files = c.file_count("t")
    before_rows = sorted(r["id"] for r in c.read("t").collect())
    pre_rewrite_id = c.current_snapshot_id("t")
    sid = c.rewrite_data_files("t", target_file_bytes=1 << 30)
    assert c.file_count("t") == 1               # one fat file
    assert c.file_count("t") < before_files
    assert sorted(r["id"] for r in c.read("t").collect()) == before_rows
    assert c.snapshots("t")[-1].op == "rewrite"
    # time travel to the pre-rewrite layout still works…
    assert c.read("t", snapshot_id=pre_rewrite_id).count() == 30
    # …until expiry reclaims the small files
    stats = c.expire_snapshots("t", keep_last=1)
    assert stats["deleted_dirs"] > 0 and stats["freed_bytes"] > 0
    assert sorted(r["id"] for r in c.read("t").collect()) == before_rows
    assert sid == pre_rewrite_id + 1


@pytest.mark.spark
@pytest.mark.slow
def test_catalog_maintenance_model_based(spark):
    """Model-based sweep: random append/overwrite/rewrite/expire/rollback
    sequences vs a pure-Python reference model of the manifest. Pins the
    interactions the single-path units can't reach (rollback after expiry,
    rewrite of shared append dirs, sid monotonicity across truncations).
    derandomize=True per repo convention: the verdict never depends on RNG.
    """
    import shutil as _sh
    import tempfile as _tf
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from fetcho_spark.catalog import Catalog

    vals = st.lists(st.integers(0, 99), min_size=1, max_size=3)
    op = st.one_of(
        st.tuples(st.just("append"), vals),
        st.tuples(st.just("overwrite"), vals),
        st.tuples(st.just("rewrite"), st.just(None)),
        st.tuples(st.just("expire"), st.integers(1, 3)),
        st.tuples(st.just("rollback"), st.integers(0, 7)),
    )

    def df_of(v):
        return spark.createDataFrame([(int(x),) for x in v], "v: bigint")

    @settings(max_examples=10, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(ops=st.lists(op, min_size=1, max_size=6))
    def run(ops):
        d = _tf.mkdtemp(prefix="fscat-model-")
        c = Catalog(spark, d)
        model = []                      # [(sid, sorted current rows)]
        try:
            for kind, arg in ops:
                if kind == "append":
                    prev = model[-1][1] if model else []
                    sid = c.append("t", df_of(arg))
                    model.append((sid, sorted(prev + list(arg))))
                elif kind == "overwrite":
                    sid = c.overwrite("t", df_of(arg))
                    model.append((sid, sorted(arg)))
                elif kind == "rewrite":
                    if not model:
                        continue
                    sid = c.rewrite_data_files("t", target_file_bytes=1 << 30)
                    model.append((sid, model[-1][1]))
                elif kind == "expire":
                    if not model:
                        continue
                    c.expire_snapshots("t", keep_last=arg)
                    model = model[-arg:]
                else:                   # rollback
                    if not model:
                        continue
                    sid = model[arg % len(model)][0]
                    c.rollback("t", sid)
                    model = [m for m in model if m[0] <= sid]
                # invariants after every op
                if model:
                    assert c.current_snapshot_id("t") == model[-1][0]
                    assert [s.id for s in c.snapshots("t")] == \
                        [m[0] for m in model]
                    for sid_m, rows_m in model:   # historical reads
                        got = sorted(r["v"] for r in
                                     c.read("t", snapshot_id=sid_m).collect())
                        assert got == rows_m, (sid_m, got, rows_m)
        finally:
            _sh.rmtree(d, ignore_errors=True)

    run()


@pytest.mark.spark
def test_snapshot_diff_changelog(spark, tmp_catalog):
    c = tmp_catalog
    v1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    v2 = spark.createDataFrame(
        [(1, "a"), (3, "C"), (4, "d"), (4, "d")], ["k", "v"])  # dup row
    s1 = c.overwrite("t", v1)
    s2 = c.overwrite("t", v2)
    rows = {(r["change"], r["k"], r["v"])
            for r in c.snapshot_diff("t", s1, s2, key="k").collect()}
    assert rows == {("removed", 2, "b"), ("changed", 3, "C"),
                    ("added", 4, "d")}
    # identical snapshots diff to nothing
    s3 = c.overwrite("t", v2)
    assert c.snapshot_diff("t", s2, s3, key="k").count() == 0


def test_rewrite_cluster_by_sorts_for_footer_pruning(spark, tmp_catalog):
    """Sort strategy: after cluster_by=['host'] the per-file parquet
    footer min/max host ranges are (near-)disjoint, so a host-equality
    predicate can only touch ~1 file's row groups — the Iceberg sort
    rewrite. Before the rewrite every appended file spans the whole
    host range (interleaved appends) and nothing prunes."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    c = tmp_catalog
    for k in range(3):                  # interleaved hosts per append
        df = spark.range(2000).select(
            F.concat(F.lit("h"), F.lpad((F.col("id") % 50).cast("string"),
                                        3, "0")).alias("host"),
            (F.col("id") + k * 2000).alias("v"))
        c.append("t", df.repartition(4))

    def hit_files(target):
        hits, total = 0, 0
        for uri in c.read("t").inputFiles():
            md = pq.ParquetFile(uri.removeprefix("file:")).metadata
            idx = md.schema.names.index("host")
            lo = min(md.row_group(i).column(idx).statistics.min
                     for i in range(md.num_row_groups))
            hi = max(md.row_group(i).column(idx).statistics.max
                     for i in range(md.num_row_groups))
            total += 1
            hits += int(lo <= target <= hi)
        return hits, total

    before_rows = sorted(map(tuple, c.read("t").collect()))
    pre_hits, pre_total = hit_files("h025")
    assert pre_total >= 8 and pre_hits == pre_total  # no pruning possible

    sid = c.rewrite_data_files(
        "t", target_file_bytes=max(1, c.table_bytes("t") // 6),
        cluster_by=["host"])
    post_hits, post_total = hit_files("h025")
    assert post_total >= 4                  # still several files…
    assert post_hits <= 2                   # …but ~one holds the host
    assert sorted(map(tuple, c.read("t").collect())) == before_rows
    last = c.snapshots("t")[-1]
    assert last.op == "rewrite" and last.id == sid
    assert last.meta["rewrite"]["cluster_by"] == ["host"]
