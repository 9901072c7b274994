"""Dump formatted physical plans for the key operators — the plan-review
loop the build demands: check PushedFilters reach the parquet scan, small
sides broadcast, WholeStageCodegen spans are wide, and no stray shuffles.

    python scripts/explain_plans.py [query ...]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

CHECKS = {
    "anti_join_seen": ["PushedFilters", "BroadcastHashJoin"],
    "group_agg": ["HashAggregate", "ReadSchema"],
    "order_page": ["TakeOrderedAndProject"],
    "token_count": ["codegen id"],
    "ann_topk": ["TakeOrderedAndProject"],
    "ann_ivf": ["TakeOrderedAndProject"],
    # offset+limit paging compiles to GlobalLimit (offset needs the global
    # order), bounded by the ≤50-row page size
    "social_format": ["GlobalLimit"],
    # vocab / eval-gram set must broadcast (corpus side never shuffles
    # for the join)
    "ml_classify": ["BroadcastHashJoin", "HashAggregate"],
    "decontaminate": ["BroadcastHashJoin"],
    "gopher_quality": ["HashAggregate"],
    "token_budget": ["Window"],
    "simhash_pairs": ["HashAggregate"],
    # round-4 additions
    "rank_docs": ["TakeOrderedAndProject"],   # top-k never global-sorts
    "histogram": ["HashAggregate"],           # <= nbins+2 groups
    "hll_sketch": ["HashAggregate"],          # <= 2^p groups
    # pack_sequences' RangePartitioning is hidden behind the pinning
    # localCheckpoint (LogicalRDD leaf) of priority.with_running_sum —
    # asserted structurally by test_global_seq's unpinned plan and by its
    # partition-invariance unit test instead
    # round-4 session-3 additions
    "hll_by_group": ["HashAggregate"],        # |groups| x <=2^p cells
    "dq_profile": ["SortAggregate"],          # ONE pass (string min/max
                                              # forces the sort-based agg)
    "dq_check": ["BroadcastHashJoin"],        # literal rules broadcast
    "asof_join": ["Window"],                  # one per-group window pass
    "range_join": ["BroadcastHashJoin"],      # bucket equi-join (small
                                              # side broadcasts at test SF;
                                              # SMJ at scale) — never NL
    "hashed_tfidf": ["BroadcastHashJoin"],    # <=dim-row idf dim join
}


def main() -> None:
    import __spark_entry__ as entrymod
    from fetcho_spark.session import get_spark
    only = set(sys.argv[1:])
    spark = get_spark("explain", master="local[4]", shuffle_partitions=8)
    sf = "/root/testdata/sf0.01"
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        buf = io.StringIO()
        with redirect_stdout(buf):
            fn(spark, sf).explain("formatted")
        plan = buf.getvalue()
        flags = []
        for marker in CHECKS.get(name, []):
            flags.append(f"{marker}={'Y' if marker in plan else 'n'}")
        print(f"=== {name} {' '.join(flags)}")
        if only:
            print(plan)
    spark.stop()


if __name__ == "__main__":
    main()
