"""Seeded QueueItem priority model (SURVEY.md §2.6 O1/O2).

Re-expresses ``NaiveQueueOrderingModel.CalculatePriority``
(/root/reference/common/NaiveQueueOrderingModel.cs:33-61) — **lower priority
fetches sooner** (QueueItem.cs:61) — with every wall-clock random draw
replaced by a pure function of (seed, round, url), so crawl order is
reproducible and independent of partition layout / task timing (north rule;
SURVEY.md §7.1):

- per-round base draw  rand[0, 5e6)      → xxh64(f"{seed}:base:{round}") % 5e6
- same-host-as-referrer rand[10e6, 2e8)  → 10e6 + pmod(xxhash64(url, round), 190e6)
- blocked domain / probably-blocked      → 1_000_000_000
- visited-recently                       → 750_000_000
- no resolvable IP                       → 4_294_967_295 (uint.MaxValue, QueueItem.cs:14)
- otherwise                              → base

The reference's ``basePriority++`` arrival-order tiebreak is replaced by a
total, data-pure tiebreak on ``url_hash64`` at sort time: arrival order is not
well-defined under distributed execution, and the north rule requires the
ordering to survive a change of parallelism. Everything here is a JVM-side
Column expression — whole-stage codegen, no Python.

:func:`with_running_sum` is the repo's one scale-safe running sum over a
total order (range-partitioned, two phases, never one task for a whole
group). ``fetch_seq`` is its zero-based running count
(:func:`with_global_seq`), and the text/image samplers, packers and
batchers build their cumulative sums and in-group ranks on it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.hashing import xxh64

BASE_RANGE = 5_000_000
SAME_HOST_LO = 10_000_000
SAME_HOST_RANGE = 190_000_000
VISITED_RECENTLY = 750_000_000
BLOCKED = 1_000_000_000
NO_IP = 4_294_967_295
MAX_PRIORITY = 740_000_000  # Queueo.cs:492 / FetchoConfiguration.cs:75-76


def base_priority(seed: int, round_no: int) -> int:
    """The per-batch base draw, shared with the oracle simulator."""
    return xxh64(f"{seed}:base:{round_no}".encode()) % BASE_RANGE


def priority_col(seed: int, round_no: int,
                 same_host_as_referrer: Column,
                 is_blocked: Column,
                 has_ip: Column) -> Column:
    """Priority as one deterministic Column expression (rule order matches
    the reference: no-IP dominates, then blocked, then same-host)."""
    base = F.lit(base_priority(seed, round_no))
    same_host_draw = (
        F.lit(SAME_HOST_LO)
        + F.pmod(F.xxhash64(F.col("url"), F.lit(f"r{round_no}s{seed}")),
                 F.lit(SAME_HOST_RANGE))
    )
    return (
        F.when(~has_ip, F.lit(NO_IP))
        .when(is_blocked, F.lit(BLOCKED))
        .when(same_host_as_referrer, same_host_draw)
        .otherwise(base)
        .cast("long")
    )


def with_running_sum(df: DataFrame, sort_cols: tuple[str, ...],
                     value_col: str | None = None,
                     group_cols: tuple[str, ...] = (),
                     out_col: str = "running_sum",
                     total_col: str | None = None,
                     pin_partitioning: bool = True) -> DataFrame:
    """Inclusive running sum of ``value_col`` (1 per row when ``None``: a
    running count) over the total order ``group_cols + sort_cols``,
    restarting at each group; a NULL group is one group, as in SQL
    ``PARTITION BY``. Scale-safe: never funnels a group through one task.
    ``total_col``, when given, also carries the group's whole sum (its
    size for a running count) on every row.

    Two phases: range-partition on the full key, run the sum within each
    (group, range partition), then add the sums of the group's earlier
    partitions. The offsets frame has one row per (group, partition), is
    bounded by config rather than data, and is broadcast back. Because the
    key is total, the result is independent of where the range boundaries
    land, hence identical at any parallelism level.
    """
    keys = [*group_cols, "_pid"]
    ranged = (df.repartitionByRange(*[F.col(c) for c in
                                      (*group_cols, *sort_cols)])
                .withColumn("_pid", F.spark_partition_id()))
    # Pin ONE physical partitioning for every downstream reference (the
    # local window, the totals branch and the join's left side): without
    # this they only agree via ReuseExchange, which AQE coalescing or a
    # plan change could silently defeat, desyncing _pid between branches.
    # The checkpoint replaces the plan with a LogicalRDD scan, so tests
    # that assert the rangepartitioning shape pass pin_partitioning=False
    # to see the un-truncated plan.
    # Fault-tolerance trade (ADVICE r3): localCheckpoint blocks are NOT
    # recomputable — on a multi-executor cluster, losing an executor
    # mid-round fails the ACTION instead of recomputing lineage, and the
    # MEMORY_AND_DISK persist costs per-round memory. That is acceptable
    # here because the crawl loop is round-idempotent: every round starts
    # from the Iceberg/parquet checkpoint tables (crawl.py commits state
    # per round), so a failed action re-runs from durable storage, not
    # from scratch. Jobs needing intra-action executor-loss recovery on
    # flaky clusters should use reliable checkpoint() with a durable
    # spark.local.dir / checkpoint dir instead (same call site, one-line
    # swap) and size spark.local.dir for one round of frontier data.
    if pin_partitioning:
        ranged = ranged.localCheckpoint(eager=False)
    w_local = Window.partitionBy(*keys).orderBy(*sort_cols)
    if value_col is None:
        local, total = F.row_number().over(w_local), F.count("*")
    else:
        local = F.sum(value_col).over(w_local.rowsBetween(
            Window.unboundedPreceding, Window.currentRow))
        total = F.sum(value_col)
    w_off = (Window.partitionBy(*group_cols).orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    # the offsets' key columns are renamed so the join condition can name
    # both sides; group keys match null-safe (a NULL group is one group)
    renamed = [f"_o{i}" for i in range(len(keys))]
    group_total = ([F.sum("_t").over(Window.partitionBy(*group_cols))
                    .alias(total_col)] if total_col else [])
    offsets = ranged.groupBy(*keys).agg(total.alias("_t")).select(
        *[F.col(k).alias(r) for k, r in zip(keys, renamed)],
        F.coalesce(F.sum("_t").over(w_off), F.lit(0)).alias("_off"),
        *group_total)
    on = [F.col("_pid") == F.col(renamed[-1])] + [
        F.col(g).eqNullSafe(F.col(r)) for g, r in zip(group_cols, renamed)]
    return (ranged.withColumn("_loc", local)
            .join(F.broadcast(offsets), on)
            .withColumn(out_col, F.col("_off") + F.col("_loc"))
            .drop("_pid", "_loc", "_off", *renamed))


def with_global_seq(df: DataFrame,
                    sort_cols: tuple[str, ...] = ("priority", "url_hash64",
                                                  "url"),
                    out_col: str = "fetch_seq",
                    out_type: str = "int",
                    pin_partitioning: bool = True) -> DataFrame:
    """Deterministic 0-based global rank over a total sort key, scale-safe:
    ``row_number()`` over an unpartitioned Window, computed as the
    :func:`with_running_sum` running count minus one, so it never funnels
    the dataset through one task. Identical at any parallelism level
    (golden-tested at shuffle.partitions in {3, default})."""
    return (with_running_sum(df, sort_cols, out_col=out_col,
                             pin_partitioning=pin_partitioning)
            .withColumn(out_col, (F.col(out_col) - 1).cast(out_type)))


def with_chunk_seq(df: DataFrame, partition_col: str = "host_hash") -> DataFrame:
    """O2: per-host chunk sequence — rank within host by (priority, url_hash64).

    Partitioned window (per-host), so it scales: no global sort, one shuffle
    on the partition key that the politeness stage reuses.
    """
    w = Window.partitionBy(partition_col).orderBy("priority", "url_hash64")
    return df.withColumn("chunk_seq", F.row_number().over(w) - F.lit(1))
