"""Link-graph analytics: integer-quantized PageRank power iteration.

Reference context: fetcho's priority model scores frontier URLs by a
seeded hash + host-balance heuristic (common/QueueoWorkflow logic,
re-expressed in operators/priority.py). The web-scale upgrade every
real crawler grows into is link-graph centrality; this module adds it
as a first-class distributed operator over the same (src, dst) edges
the link stage already produces.

Scale shape (100 TB / 10^10-edge graph):
- edges are deduped and pre-joined with out-degree ONCE
  (``localCheckpoint``), so each iteration is exactly two shuffles:
  the rank join keyed on src and the contribution groupBy keyed on
  dst — the classic Spark PageRank shape, nothing driver-side;
- per-iteration ``localCheckpoint`` truncates lineage (same
  fault-tolerance trade as operators/priority.py:95 — documented
  there: flaky clusters swap in reliable ``checkpoint()``).

Determinism / cross-engine parity: ranks are int64 quantized
(``scale`` units = rank 1.0) and every update is integer arithmetic
(``div``), so the result is a pure function of the edge set — bit-
identical across partitionings, parallelism levels, and engines (the
gate's DuckDB twin unrolls the same iterations in SQL). Dangling-node
mass is NOT redistributed (the "vanishing mass" PageRank variant) —
totals shrink when sinks exist, rankings are unaffected for typical
graphs, and the semantics stay one-shuffle-simple.

Overflow bound: per-node rank never exceeds total mass =
``n_nodes * scale``, and updates compute ``damping_pct * q``, so the
caller must keep ``n_nodes * scale * 100 < 2^63`` (default scale 1e9
→ safe to ~9e7 nodes even in the degenerate all-mass-on-one-node
case; at 10^10 nodes pass scale=1e5 — realistic graphs concentrate
far less and can keep more precision).
"""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SCALE = 10**9


def pagerank(edges: DataFrame, n_iter: int = 10, damping_pct: int = 85,
             scale: int = DEFAULT_SCALE,
             checkpoint_every: int = 3) -> DataFrame:
    """Power-iterate PageRank over ``(src, dst)`` long-id edges.

    Returns ``(node_id, rank_q)`` where ``rank_q`` is the quantized
    rank (``scale`` = 1.0); initial rank is 1.0 per node and the
    teleport term is ``(100 - damping_pct)%``.

    ``checkpoint_every`` sets the lineage-truncation cadence (r6
    optimization): a localCheckpoint per ITERATION forced an AQE
    stage-materialization pass per step — ~50 jobs for 10 iterations;
    every 3rd iteration keeps the logical plan bounded at 3 iterations
    deep (same lineage/fault-tolerance trade as before, amortized) and
    measured 28 s → 3.7 s cold / 4.4 → 3.9 s warm on the bench graph.
    Pure integer arithmetic — the cadence cannot change any rank.
    """
    teleport = (100 - damping_pct) * scale // 100
    e = (edges.select("src", "dst").distinct()
         .localCheckpoint(eager=False))
    nodes = (e.select(F.col("src").alias("v"))
             .union(e.select(F.col("dst").alias("v")))
             .distinct().localCheckpoint(eager=False))
    od = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    eo = e.join(od, "src").localCheckpoint(eager=False)
    # nodes with NO in-edge receive no contribution ever: their rank is
    # exactly `teleport` from iteration 1 on — a FIXED set, so the
    # per-iteration `nodes` left-join existed only to backfill that
    # constant. Union the precomputed constant rows instead: one shuffle
    # per iteration (the contribution groupBy) instead of two (guide §2
    # — remove shuffles outright). Same values by construction: every
    # dst with an in-edge appears in `contrib` (all srcs carry a rank
    # row), so coalesce(s, 0) never fired for them anyway.
    cold = (nodes.join(e.select(F.col("dst").alias("v")).distinct(),
                       "v", "left_anti")
            .select("v", F.lit(teleport).cast("long").alias("q"))
            .localCheckpoint(eager=False))

    r = nodes.select("v", F.lit(scale).cast("long").alias("q"))
    for it in range(n_iter):
        contrib = (eo.join(r, eo["src"] == r["v"])
                   .select(eo["dst"].alias("v"),
                           F.expr(f"({damping_pct} * q) div "
                                  f"(100 * outdeg)").alias("c"))
                   .groupBy("v").agg(F.sum("c").alias("s")))
        r = (contrib.select("v",
                            (F.lit(teleport) + F.col("s"))
                            .cast("long").alias("q"))
             .unionByName(cold))
        if (it + 1) % checkpoint_every == 0 and it != n_iter - 1:
            r = r.localCheckpoint(eager=False)
    return r.select(F.col("v").alias("node_id"),
                    F.col("q").alias("rank_q"))


def hits(edges: DataFrame, n_iter: int = 6,
         scale: int = DEFAULT_SCALE) -> DataFrame:
    """HITS hubs/authorities (Kleinberg) → ``(node_id, hub_q, auth_q)``.

    Each iteration: authority = sum of in-neighbor hub scores, hub = sum
    of out-neighbor NEW authority scores, each max-normalized back to
    ``scale`` — floor(scale * x / max(x)) is all-integer, so the scores
    are engine- and partition-exact like :func:`pagerank`. The
    normalizer is a single-row max aggregate broadcast back per
    half-step (the scalar-per-iteration pattern PageRank's teleport
    constant avoids needing).

    Mid-loop the score tables cover only the pushed endpoint set (hub:
    src set, auth: dst set) — no per-half-step zero-backfill join (r6):
    excluded nodes score exactly 0, which changes no sum and no max
    (after every normalization the argmax row holds exactly ``scale`` —
    ``(scale*max) div max`` — and a src-set node with ``scale`` always
    pushes ≥ scale onto some dst, so the max stays > 0 and is attained
    inside the covered set); zeros are backfilled once on the result.

    Overflow bound: pre-normalization sums are < max_degree * scale;
    keep ``max_in_degree * scale < 2^63`` (default scale 1e9 → safe to
    ~9e9-degree hubs).
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=False)
    nodes = (e.select(F.col("src").alias("v"))
             .union(e.select(F.col("dst").alias("v")))
             .distinct().localCheckpoint(eager=False))

    def _norm(df, col):
        m = df.agg(F.max(col).alias("_m"))
        return (df.crossJoin(F.broadcast(m))
                .select("v", F.when(F.col("_m") > 0,
                                    F.expr(f"({scale} * {col}) div _m"))
                        .otherwise(F.lit(0)).cast("long").alias(col)))

    def _push(scores, score_col, key, out, out_col):
        # sum scores of `key`-side endpoints onto the `out` endpoint.
        # No zero-backfill join mid-loop (guide §2/§3 — it was one
        # `nodes` left-join per half-step, 12 per run): the pushed
        # table covers exactly the `out`-endpoint set, and the NEXT
        # push joins e on that same endpoint, so every join key is
        # covered by construction; nodes outside the set score 0 and a
        # 0 can neither change the max-normalizer (some src-set node
        # always holds `scale` > 0, see _norm note below) nor any sum.
        # The zeros are backfilled ONCE on the final result instead.
        return (e.join(scores.withColumnRenamed("v", key), key)
                .groupBy(F.col(out).alias("v"))
                .agg(F.sum(score_col).cast("long").alias(out_col)))

    # lineage truncation every other iteration, not every half-step:
    # the per-half-step localCheckpoint forced an AQE materialization
    # pass per push/norm (~83 jobs for 6 iterations); pure integer
    # arithmetic, so the cadence cannot change any score (r6 — the
    # pagerank checkpoint_every rationale)
    hub = nodes.select("v", F.lit(scale).cast("long").alias("hub_q"))
    auth = None
    for it in range(n_iter):
        auth = _norm(_push(hub, "hub_q", "src", "dst", "auth_q"),
                     "auth_q")
        if it % 2 == 1:
            auth = auth.localCheckpoint(eager=False)
        hub = _norm(_push(auth, "auth_q", "dst", "src", "hub_q"),
                    "hub_q")
        if it % 2 == 1 and it != n_iter - 1:
            hub = hub.localCheckpoint(eager=False)
    if auth is None:  # n_iter=0: the initial scores (hits_local parity)
        auth = nodes.select("v", F.lit(0).cast("long").alias("auth_q"))
    # single zero-backfill at the end: hub covers the src set, auth the
    # dst set; every other node's score is identically 0 (never pushed
    # onto), exactly what the old per-half-step backfill carried around
    return (nodes.join(hub, "v", "left").join(auth, "v", "left")
            .select(F.col("v").alias("node_id"),
                    F.coalesce("hub_q", F.lit(0)).cast("long")
                     .alias("hub_q"),
                    F.coalesce("auth_q", F.lit(0)).cast("long")
                     .alias("auth_q")))


def hits_local(edge_list: list[tuple], n_iter: int = 6,
               scale: int = DEFAULT_SCALE) -> dict:
    """In-memory HITS with the identical integer arithmetic."""
    e = sorted(set(edge_list))
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    hub = {v: scale for v in nodes}
    auth = {v: 0 for v in nodes}

    def norm(d):
        m = max(d.values())
        return {v: (scale * x) // m if m > 0 else 0 for v, x in d.items()}

    for _ in range(n_iter):
        auth = {v: 0 for v in nodes}
        for s, d in e:
            auth[d] += hub[s]
        auth = norm(auth)
        hub = {v: 0 for v in nodes}
        for s, d in e:
            hub[s] += auth[d]
        hub = norm(hub)
    return {v: (hub[v], auth[v]) for v in nodes}


def pagerank_local(edge_list: list[tuple], n_iter: int = 10,
                   damping_pct: int = 85,
                   scale: int = DEFAULT_SCALE) -> dict:
    """In-memory reference with the identical integer arithmetic — the
    oracle side of distributed-vs-local parity tests."""
    e = sorted(set(edge_list))
    nodes = sorted({s for s, _ in e} | {d for _, d in e})
    outdeg: dict = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    teleport = (100 - damping_pct) * scale // 100
    q = {v: scale for v in nodes}
    for _ in range(n_iter):
        nxt = {v: teleport for v in nodes}
        for s, d in e:
            nxt[d] += (damping_pct * q[s]) // (100 * outdeg[s])
        q = nxt
    return q
