"""Politeness as data, not time (SURVEY.md §2.6 O5, §2.9).

The reference spins per-host tasks that sleep ≥ ``MaxFetchSpeedInMilliseconds``
between fetches (common/HostCacheManager.cs:77-118; 20 s/host default,
FetchoConfiguration.cs:30-31) and sheds load via a pressure-relief valve
(common/PressureReliefValve.cs). A distributed engine can't sleep per host —
politeness becomes a **schedule computation**:

    budget(host, round) = max(1, floor(round_duration_ms / crawl_delay_ms))

Each round, the top-``budget`` frontier items per host (by priority, url_hash64)
are *selected*; the remainder **carries over** to the next round's frontier —
requeue, not drop (the valve's requeue path, Fetcho.cs:229-250). Equivalence
argument (tested in tests/test_crawl_golden.py): same budget ⇒ same per-round
per-host fetch count ⇒ same fetch set ⇒ same ordering under the total
(priority, url_hash64) sort — with no dependence on wall clock or task timing.

HTTP 429 feedback: the reference adds +5 s to a host's delay on 429
(HttpResourceFetcher.cs:292-297,320-325); the engine applies the same penalty
to ``crawl_delay_ms`` in the hosts state table between rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_ROUND_MS = 60_000
DEFAULT_DELAY_MS = 20_000  # FetchoConfiguration.cs:30-31
PENALTY_429_MS = 5_000     # HttpResourceFetcher.cs:292-297


def with_budget(df: DataFrame, round_ms: int = DEFAULT_ROUND_MS) -> DataFrame:
    """Per-host fetch budget for one round (requires ``crawl_delay_ms``)."""
    delay = F.coalesce(F.col("crawl_delay_ms"), F.lit(DEFAULT_DELAY_MS))
    return df.withColumn(
        "fetch_budget",
        F.greatest(F.lit(1), F.floor(F.lit(round_ms) / delay)).cast("int"),
    )


def apply_429_penalty(hosts: DataFrame, fetched: DataFrame) -> DataFrame:
    """Post-round host-state update: +5 s delay per 429 seen this round and
    network_issues increment for 4xx/5xx (HostCacheManagerRecord.NetworkIssues,
    common/HostCacheManagerRecord.cs:10-106)."""
    per_host = fetched.groupBy("host").agg(
        F.sum(F.when(F.col("status") == 429, 1).otherwise(0)).alias("n_429"),
        F.sum(F.when(F.col("status") >= 400, 1).otherwise(0)).alias("n_err"),
    )
    return (
        hosts.join(per_host, "host", "left")
        .withColumn(
            # coalesce the host-state side too: a null crawl_delay_ms row
            # must accumulate from the 20 s default (as the simulator does),
            # not null-propagate and forget the penalty
            "crawl_delay_ms",
            (F.coalesce(F.col("crawl_delay_ms"), F.lit(DEFAULT_DELAY_MS))
             + F.coalesce(F.col("n_429"), F.lit(0)) * F.lit(PENALTY_429_MS)
             ).cast("int"),
        )
        .withColumn(
            "network_issues",
            (F.coalesce(F.col("network_issues"), F.lit(0))
             + F.coalesce(F.col("n_err"), F.lit(0))
             ).cast("int"),
        )
        .drop("n_429", "n_err")
    )
