"""HITS hubs/authorities: distributed == in-memory integer reference."""

import pytest

from fetcho_spark.operators.graph import hits, hits_local

# node 0 links to everything (pure hub); 9 is linked by everything
# (pure authority); plus a small cycle and a duplicate edge
EDGES = [(0, 9), (0, 2), (0, 3), (1, 9), (2, 9), (3, 9), (2, 3), (3, 2),
         (1, 9)]


def _spark_hits(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src: long, dst: long")
    return {r["node_id"]: (r["hub_q"], r["auth_q"])
            for r in hits(df, **kw).collect()}


@pytest.mark.spark
def test_hits_matches_reference(spark):
    got = _spark_hits(spark, EDGES)
    ref = hits_local(EDGES)
    assert got == ref
    # node 0 is the max hub, node 9 the max authority (normalized peaks)
    assert got[0][0] == max(h for h, _ in got.values())
    assert got[9][1] == max(a for _, a in got.values())
    # a pure authority is no hub at all
    assert got[9][0] == 0


@pytest.mark.spark
def test_hits_partition_invariant(spark):
    df = spark.createDataFrame(EDGES, "src: long, dst: long")
    base = sorted(map(tuple, hits(df, n_iter=3).collect()))
    rep = sorted(map(tuple, hits(df.repartition(5), n_iter=3).collect()))
    assert base == rep


@pytest.mark.spark
def test_hits_zero_iterations_matches_reference(spark):
    """n_iter=0 returns the initial scores (every hub at scale, every
    authority 0) instead of failing on the never-computed authority
    table."""
    assert _spark_hits(spark, EDGES, n_iter=0) == hits_local(EDGES, n_iter=0)
