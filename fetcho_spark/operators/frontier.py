"""Frontier predicate cascade (SURVEY.md §2.2 P1-P13).

Re-expresses Queueo's cheap→expensive rejection cascade
(/root/reference/fetcho/Queueo.cs:146-207,358-457 — "cut the cost of this by
99%") as ordered DataFrame filters. Catalyst collapses them into one
whole-stage-codegen stage; the UDF-backed robots gate stays last by
construction (R3). All predicates below are JVM-side Column expressions.

Synthetic IP resolution (J3): the reference resolves DNS and groups fetches
by IP (many hosts → one IP). No network in this sandbox, so IP is a
deterministic function of host preserving that grouping: ``ip_group =
pmod(xxhash64(host), n_ip_groups)`` with a small collision space, plus a
"no IP" tail for hosts whose hash lands in a reserved bucket — mirroring
DNS failures (Utility.cs:29-74 semantics, not implementation).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .priority import MAX_PRIORITY

# ~27 country TLDs the reference drops (Queueo.cs:291-318)
BLOCKED_TLDS = [
    "cn", "jp", "de", "fr", "ru", "kr", "br", "pl", "it", "es", "nl", "se",
    "no", "fi", "dk", "cz", "tr", "gr", "hu", "ro", "th", "vn", "ir", "sa",
    "id", "tw", "ua",
]

N_IP_GROUPS = 1 << 16
NO_IP_BUCKETS = 7  # hash buckets treated as DNS failures (deterministic tail)
MAX_NETWORK_ISSUES = 3  # P10 cap (FetchoConfiguration.cs:125-126)

# P4 — media extensions the reference refuses to queue
# (DefaultBlockProvider.cs:68-78 IsProbablyBlocked). NOTE: this engine's
# north star is an image+caption corpus, so the block is OFF by default
# (CrawlConfig.blocked_extensions=None) — the reference crawls text and
# drops media; we crawl media. The predicate itself is identical.
BLOCKED_EXTENSIONS = (".jpg", ".jpeg", ".gif", ".png", ".ico", ".svg",
                      ".avi", ".mp4", ".mp3", ".wav")


def scheme_ok(url_col: str = "url") -> Column:
    """P2 — only http/https (ResourceFetcher.cs:80)."""
    return F.col(url_col).rlike("^https?://")


def tld_allowed(host_col: str = "host") -> Column:
    """P3 — drop blocked country TLDs."""
    return ~F.substring_index(F.col(host_col), ".", -1).isin(BLOCKED_TLDS)


def host_wellformed(host_col: str = "host") -> Column:
    """P5 — blank host or host starting '0.' is malformed (Queueo.cs:257-258)."""
    c = F.col(host_col)
    return c.isNotNull() & (c != "") & ~c.startswith("0.")


def ip_group_col() -> Column:
    """J3 — the synthetic IP group of the ``host`` column."""
    return F.pmod(F.xxhash64(F.col("host")), F.lit(N_IP_GROUPS))


def with_ip_group(df: DataFrame) -> DataFrame:
    """J3/P6 — deterministic synthetic IP group + has_ip flag."""
    grp = ip_group_col()
    return (df.withColumn("ip_group", grp)
              .withColumn("has_ip", grp >= F.lit(NO_IP_BUCKETS)))


def extension_allowed(url_col: str = "url",
                      blocked: tuple[str, ...] = BLOCKED_EXTENSIONS) -> Column:
    """P4 — IsProbablyBlocked: the URI *path* (query/fragment excluded, like
    Uri.AbsolutePath) must not end with a blocked extension. Case-sensitive,
    matching the reference's EndsWith."""
    path = F.regexp_extract(F.col(url_col), r"^https?://[^/?#]*([^?#]*)", 1)
    cond = F.lit(True)
    for ext in blocked:
        cond = cond & ~path.endswith(F.lit(ext))
    return cond


def priority_acceptable() -> Column:
    """P12 — drop if priority exceeds the cap (Queueo.cs:492)."""
    return F.col("priority") <= F.lit(MAX_PRIORITY)


def chunk_cap(max_chunk: int) -> Column:
    """P13 — keep the first ``max_chunk`` items per host chunk (needs
    ``chunk_seq`` from priority.with_chunk_seq)."""
    return F.col("chunk_seq") < F.lit(max_chunk)


def network_ok() -> Column:
    """P10 — drop hosts with too many network issues (Queueo.cs:419-424)."""
    return (F.coalesce(F.col("network_issues"), F.lit(0))
            <= F.lit(MAX_NETWORK_ISSUES))


def cheap_cascade(df: DataFrame) -> DataFrame:
    """P2+P3+P5 in one stage; order here mirrors the reference but Catalyst
    fuses it — correctness is the conjunction, cost is one codegen pass."""
    return df.filter(scheme_ok() & tld_allowed() & host_wellformed())


# ----------------------------------------------------- spider-trap marking

TRAP_MAX_DEPTH = 16        # path segments; honest sites rarely exceed ~10
TRAP_MAX_SEG_REPEAT = 3    # same segment 3+ times = loop-shaped URL
TRAP_MAX_PARAMS = 12       # query-parameter explosion (session/filter traps)


def trap_suspect(df: DataFrame, path_col: str = "path",
                 query_col: str = "query",
                 max_depth: int = TRAP_MAX_DEPTH,
                 max_seg_repeat: int = TRAP_MAX_SEG_REPEAT,
                 max_params: int = TRAP_MAX_PARAMS) -> DataFrame:
    """Mark loop-shaped URLs (spider traps) → adds ``depth``,
    ``max_seg_repeat``, ``n_params``, per-rule booleans and ``trap``.

    The three classic trap shapes a 10^10-URL frontier must shed before
    they eat the politeness budget (the reference has no analog — its
    1 MiB/priority caps bound damage per PAGE, not per URL family):

    - ``deep``: more than ``max_depth`` path segments;
    - ``loop``: one segment repeated ≥ ``max_seg_repeat`` times
      (``/a/b/a/b/a/…`` — relative-href cycles);
    - ``params``: more than ``max_params`` query parameters
      (calendar/filter/session-id explosions).

    Rows are MARKED, never removed (curation-funnel discipline) — the
    engine can route ``trap`` rows to a low-priority quarantine rather
    than dropping them blind. Zero shuffle: the repeat count is a JVM
    ``aggregate`` fold over the SORTED segment array (longest equal run),
    everything else is size/filter arithmetic — whole-stage codegen, no
    Python.
    """
    segs = F.filter(F.split(F.col(path_col), "/"),
                    lambda x: x != F.lit(""))
    depth = F.size(segs)
    run_t = ("struct<prev:string,run:int,best:int>")
    init = F.struct(F.lit(None).cast("string").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))

    def step(acc, seg):
        run = F.when(acc["prev"].isNotNull() & (seg == acc["prev"]),
                     acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(seg.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    max_rep = F.aggregate(F.array_sort(segs), init.cast(run_t), step)["best"]
    params = F.filter(F.split(F.coalesce(F.col(query_col), F.lit("")), "&"),
                      lambda x: x != F.lit(""))
    n_params = F.size(params)
    deep = depth > max_depth
    loop = max_rep >= max_seg_repeat
    prm = n_params > max_params
    return (df.withColumn("depth", depth.cast("int"))
            .withColumn("max_seg_repeat", max_rep.cast("int"))
            .withColumn("n_params", n_params.cast("int"))
            .withColumn("trap_deep", deep)
            .withColumn("trap_loop", loop)
            .withColumn("trap_params", prm)
            .withColumn("trap", deep | loop | prm))
