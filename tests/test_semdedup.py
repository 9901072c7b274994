"""SemDeDup operator: distributed quantized k-means ≡ the pure-Python
reference, partition invariance, and the dedup survivor contract."""

import numpy as np
from pyspark.sql import functions as F

from fetcho_spark.operators.semdedup import (
    _q, kmeans_assign, kmeans_fit, kmeans_fit_local, semdedup)


def _vec(i: int, dim: int = 16) -> list[float]:
    # deterministic, RNG-free synthesis (same discipline as the fixtures):
    # md5-derived components so distinct ids are DECORRELATED (a linear
    # ramp in j makes every pair near-parallel and trips the dedup);
    # round through float32 first so the local twin quantizes the SAME
    # values Spark reads back from the ARRAY<FLOAT> column
    import hashlib
    return [float(np.float32(
        int(hashlib.md5(f"{i}:{j}".encode()).hexdigest()[:6], 16)
        / float(0xFFFFFF) - 0.5))
        for j in range(dim)]


def _emb_df(spark, n: int = 60, dim: int = 16, parts: int = 4):
    rows = [(i, _vec(i, dim)) for i in range(n)]
    df = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>").repartition(parts)
    return rows, df


def test_kmeans_distributed_matches_local(spark):
    rows, df = _emb_df(spark)
    got = kmeans_fit(df, k=5, iters=3, seed=7)
    want = kmeans_fit_local(rows, k=5, iters=3, seed=7)
    assert got == want


def test_kmeans_partition_invariance(spark):
    rows, df2 = _emb_df(spark, parts=2)
    _, df7 = _emb_df(spark, parts=7)
    assert kmeans_fit(df2, k=4, iters=2) == kmeans_fit(df7, k=4, iters=2)


def test_kmeans_empty_cluster_keeps_previous_centroid(spark):
    # 3 distinct points, k=4 → at least one cluster is empty every
    # iteration; both fits must backfill identically from the previous
    # centroids instead of crashing or dropping the cid
    rows = [(i, _vec(i % 3)) for i in range(12)]
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    got = kmeans_fit(df, k=4, iters=2)
    want = kmeans_fit_local(rows, k=4, iters=2)
    assert got == want and len(got) == 4


def test_kmeans_return_frame_matches_collected(spark):
    rows, df = _emb_df(spark)
    cents = kmeans_fit(df, k=5, iters=2, seed=7)
    cells = kmeans_fit(df, k=5, iters=2, seed=7, return_frame=True).collect()
    rebuilt = {}
    for r in cells:
        rebuilt.setdefault(r["cid"], {})[r["pos"]] = r["val"]
    assert [[rebuilt[c][p] for p in range(len(cents[c]))]
            for c in range(5)] == cents


def _local_cos_q(a, b):
    qa, qb = [_q(x) for x in a], [_q(x) for x in b]
    dot = sum(x * y for x, y in zip(qa, qb))
    n1, n2 = sum(x * x for x in qa), sum(x * x for x in qb)
    if n1 == 0 or n2 == 0:
        return None
    import math
    return float(dot) / (math.sqrt(float(n1)) * math.sqrt(float(n2)))


def test_semdedup_survivor_contract(spark):
    # clone groups: ids 100+i duplicate vector i exactly; 200+i adds a tiny
    # perturbation (still >= tau); id 300 is a zero vector (never dropped
    # nor a dropper — cosine undefined)
    base = [(i, _vec(i)) for i in range(10)]
    rows = (base
            + [(100 + i, list(v)) for i, v in base]
            + [(200 + i, [x * 1.0001 for x in v]) for i, v in base]
            + [(300, [0.0] * 16)])
    df = spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<FLOAT>")
    cents = kmeans_fit(df, k=3, iters=2)
    out = semdedup(df, cents, tau=0.999).orderBy("vec_id").collect()
    survivors = {r["vec_id"] for r in out}
    assert 300 in survivors
    # every base id survives (lowest id of its clone group), every exact
    # clone is dropped; scaled clones share the cosine=1 direction so they
    # drop too (same cluster as their base by construction of k-means on
    # direction-identical vectors)
    clusters = dict(kmeans_assign(df, cents).collect())
    by_vec = dict(rows)
    for i, _ in base:
        assert i in survivors
        for cid in (100 + i, 200 + i):
            if clusters[cid] == clusters[i]:
                assert cid not in survivors
    # contract: every dropped id has a lower-id row in the SAME cluster
    # with quantized cosine >= tau
    dropped = {r[0] for r in rows} - survivors
    for d in dropped:
        ok = any(clusters[j] == clusters[d]
                 and (_local_cos_q(by_vec[j], by_vec[d]) or 0) >= 0.999
                 for j, _ in rows if j < d)
        assert ok, f"{d} dropped without a qualifying lower-id near-dup"


def test_semdedup_plan_blocks_on_cluster(spark):
    # the pair join must shuffle on the cluster id, never cross-join
    _, df = _emb_df(spark, n=30)
    cents = kmeans_fit(df, k=3, iters=1)
    plan = semdedup(df, cents)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def _hot_fixture(spark, n=200):
    # one direction swallows 90% of rows (a boilerplate mega-cluster);
    # the remaining 10% are decorrelated
    hot = [(i, [1.0 + i * 1e-9, 0.5, 0.25, 0.125]) for i in range(180)]
    cold = [(1000 + i, _vec(i, 4)) for i in range(n - 180)]
    return hot + cold, spark.createDataFrame(
        hot + cold, "vec_id LONG, embedding ARRAY<FLOAT>").repartition(5)


def test_semdedup_hot_cluster_guard_bounds_pairs(spark):
    """VERDICT r4 #2: a 90%-of-corpus cluster must re-split so no single
    pair-join key is quadratic, with a countable engagement signal."""
    from pyspark.sql import Observation
    from fetcho_spark.operators.semdedup import (_dot_q, _nearest, _staged,
                                                 _with_subcluster)
    rows, df = _hot_fixture(spark)
    cents = kmeans_fit(df, k=4, iters=2)
    obs = Observation()
    out = semdedup(df, cents, tau=0.999, max_cluster_rows=20,
                   observation=obs).collect()
    assert obs.get["hot_clusters_split"] >= 1
    assert obs.get["hot_cluster_rows"] >= 180
    # the guard's sub-key bound: no (cluster, _sub) cell above ~cap
    staged = (_staged(df, "embedding", "vec_id")
              .withColumn("cluster", _nearest(F.col("_qv"), cents)))
    cells = (_with_subcluster(staged, "vec_id", 20)
             .groupBy("cluster", "_sub").count().collect())
    assert max(c["count"] for c in cells) <= 2 * 20  # salted-hash slack
    # pair budget: sum cell^2 << hot-cluster^2
    assert sum(c["count"] ** 2 for c in cells) < 180 ** 2 / 4
    # survivors remain a superset of the uncapped run's (splitting can
    # only MISS near-dups, never invent one)
    uncapped = {r["vec_id"] for r in
                semdedup(df, cents, tau=0.999,
                         max_cluster_rows=None).collect()}
    assert uncapped <= {r["vec_id"] for r in out}


def test_semdedup_guard_inert_below_cap(spark):
    """Below the cap the guard is a no-op: identical survivors, zero
    engagement signal — the gate-twin-parity claim."""
    from pyspark.sql import Observation
    rows, df = _emb_df(spark, n=40)
    cents = kmeans_fit(df, k=3, iters=2)
    obs = Observation()
    capped = sorted(tuple(r) for r in semdedup(
        df, cents, tau=0.99, max_cluster_rows=20_000,
        observation=obs).collect())
    uncapped = sorted(tuple(r) for r in semdedup(
        df, cents, tau=0.99, max_cluster_rows=None).collect())
    assert capped == uncapped
    assert obs.get["hot_clusters_split"] == 0
    assert obs.get["hot_cluster_rows"] == 0


def test_semdedup_arrow_pairs_match_oracle(spark):
    """The Arrow Gram-matrix pair scoring must drop exactly the ids a
    brute-force oracle drops: an id goes iff a lower id in its
    ``kmeans_assign`` cluster has quantized cosine >= tau with it —
    including zero-norm rows (never dropped, never droppers)."""
    rows = [(i, _vec(i)) for i in range(80)]
    # inject near-dup clones and a zero vector so both edge paths fire;
    # clones round through float32 so the oracle sees Spark's values
    clones = [(5000 + i, [float(np.float32(v * 1.0001)) for v in vec])
              for i, (_, vec) in enumerate(rows[:10])]
    zero = [(9000, [0.0] * 16)]
    full_rows = rows + clones + zero
    full = spark.createDataFrame(
        full_rows, "vec_id LONG, embedding ARRAY<FLOAT>").repartition(5)
    cents = kmeans_fit(full, k=4, iters=2)
    got = sorted(tuple(r) for r in semdedup(full, cents, tau=0.999)
                 .collect())
    clusters = dict(kmeans_assign(full, cents).collect())
    want = sorted(
        (i, clusters[i]) for i, vec in full_rows
        if not any(j < i and clusters[j] == clusters[i]
                   and (_local_cos_q(other, vec) or 0) >= 0.999
                   for j, other in full_rows))
    assert got == want
    assert len(got) < 80 + 10 + 1          # some clone was dropped
    assert any(r[0] == 9000 for r in got)  # zero vector survives
