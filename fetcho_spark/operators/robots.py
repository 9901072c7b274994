"""robots.txt gating (SURVEY.md §2.2 P11, §2.8 C6).

Semantics pinned by the reference's tests
(/root/reference/commonTest/RobotsTest.cs:24-38,113-128 and
common/RobotsFile.cs:81-250, re-expressed — not copied):

- a pattern is a **prefix** match on the URL path;
- ``*`` matches any character run mid-pattern;
- ``$`` anchors the pattern to the path end;
- rules for our specific user-agent take precedence over the ``*`` group
  (per-UA sections, e.g. the github fixture);
- ``Disallow: /news/0`` must NOT block ``/news/world-…`` (prefix regression);
- most-specific (longest) matching rule wins; allow beats disallow on ties.

The reference compiles rules to a char-level FSM and walks it per URL
(RobotsFile.cs / FiniteStateMachine.cs). Spark-first shape: parse once to
rule rows, translate each pattern to a SQL LIKE pattern and collect them per
host into an array (:func:`rules_like_df`, JVM-side), then gate the frontier
with a host join plus a higher-order-function match
(:func:`apply_robots_gate`) — no Python crossing. :class:`HostRules` /
:func:`compile_rules` are the pure-Python matcher the simulator uses as the
oracle. Robots state persists in a ``robots`` table with a 28-day TTL
(Site.cs:18-20) under the engine's logical clock.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_UA = "fetcho"

# ASCII whitespace only, in all three implementations (Python reference, JVM
# fold, DuckDB oracle twin): C# ``Trim()`` / Python ``str.strip()`` / Spark
# ``F.trim`` each trim a DIFFERENT whitespace set, so a shared explicit class
# is the only way the three parsers agree byte-for-byte.
_WS = " \t\r\n\f\x0b"
_TRIM_RE = re.compile(r"^[ \t\r\n\f\x0b]+|[ \t\r\n\f\x0b]+$")


def parse_robots_text(body: str) -> tuple[list[tuple[str, str, str]],
                                          list[str]]:
    """Raw robots.txt text → ((user_agent, directive, pattern) rules,
    sitemap list). Pure-Python reference twin of :func:`parse_robots_df`.

    Semantics re-expressed from the reference's parse loop
    (common/RobotsFile.cs:120-197):

    - lines are trimmed; ``#``-prefixed lines are comments (inline ``#`` is
      NOT stripped — reference keeps it);
    - ``user-agent:`` (case-insensitive) sets the current group; following
      allow/disallow lines attach to it; blank lines do NOT close a group;
    - ONE trailing ``*`` is chopped from every non-UA directive line before
      classification (RobotsFile.cs:166 — redundant under prefix matching);
      this also applies to ``sitemap:`` lines, a reference quirk we keep;
    - empty patterns are ignored (``Disallow:`` alone == allow all);
    - ``sitemap:`` URLs are collected file-wide, not per-UA
      (RobotsFile.cs:191-194); the reference only COLLECTS them — it never
      fetches sitemaps — and so do we;
    - rules before any ``user-agent:`` line: the reference throws
      (GetState("") finds no matcher). We stay total — they are emitted
      under user_agent ``""``, which no UA-group selection ever chooses
      (:func:`compile_rules` matches exact UA or ``*``), so they are inert;
      callers can filter ``user_agent == ''`` to detect malformed files
      instead of aborting a distributed parse over one bad host.
    """
    rows = parse_robots_rows(body)
    rules = [(ua, d, p) for ua, d, p in rows if d != "sitemap"]
    sitemaps = [p for _, d, p in rows if d == "sitemap"]
    return rules, sitemaps


def parse_robots_rows(body: str) -> list[tuple[str | None, str, str]]:
    """Raw robots.txt → interleaved (user_agent, directive, pattern) rows in
    file emission order (sitemap rows carry user_agent ``None``). The exact
    row stream :func:`parse_robots_df` emits per host — parity is tested
    row-for-row including order."""
    ua = ""
    rows: list[tuple[str | None, str, str]] = []
    for raw in re.split("\r\n|\r|\n", body):
        line = _TRIM_RE.sub("", raw)
        low = line.lower()
        if low.startswith("#"):
            continue
        if low.startswith("user-agent:"):
            ua = line[11:].strip(_WS)
            continue
        if line.endswith("*"):
            line, low = line[:-1], low[:-1]
        if low.startswith("disallow:"):
            pat = line[9:].strip(_WS)
            if pat:
                rows.append((ua, "disallow", pat))
        elif low.startswith("allow:"):
            pat = line[6:].strip(_WS)
            if pat:
                rows.append((ua, "allow", pat))
        elif low.startswith("sitemap:"):
            sm = line[8:].strip(_WS)
            if sm:
                rows.append((None, "sitemap", sm))
    return rows


_PARSED_ROW = ("struct<user_agent:string,directive:string,pattern:string,"
               "seq:int>")


def parse_robots_df(raw: DataFrame, host_col: str = "host",
                    body_col: str = "body") -> DataFrame:
    """Distributed robots.txt text parse: (host, body) rows → one row per
    directive ``(host, user_agent, directive, pattern, seq)``.

    ``directive`` is ``allow``/``disallow`` (user_agent = current UA group)
    or ``sitemap`` (user_agent NULL — file-wide per RobotsFile.cs:191-194).
    ``seq`` is the 0-based emission order within the file, so downstream
    consumers can reconstruct file order after the explode.

    Spark-first shape: the stateful current-user-agent accumulation is ONE
    zero-shuffle JVM ``aggregate`` fold over the split lines (state =
    (current ua, emitted rows)) + an explode — whole-stage codegen, no
    Python crossing, no window/shuffle. Parity with
    :func:`parse_robots_text` is pinned by tests over every quirk class
    (CRLF, tabs, trailing-``*`` chop, pre-UA rules, case, empty patterns).
    """
    jvm_trim = lambda c: F.regexp_replace(  # noqa: E731
        c, r"^[ \t\r\n\f\x0b]+|[ \t\r\n\f\x0b]+$", "")
    lines = F.split(F.col(body_col), "\r\n|\r|\n")
    init = F.struct(
        F.lit("").alias("ua"),
        F.array().cast(f"array<{_PARSED_ROW}>").alias("rows"))

    def step(acc, raw_line):
        t = jvm_trim(raw_line)
        low = F.lower(t)
        is_comment = low.startswith("#")
        is_ua = low.startswith("user-agent:")
        new_ua = jvm_trim(t.substr(F.lit(12), F.length(t)))
        # ONE trailing '*' chopped before classification (RobotsFile.cs:166)
        chop = low.endswith("*")
        c = F.when(chop, t.substr(F.lit(1), F.length(t) - 1)).otherwise(t)
        lc = F.when(chop, low.substr(F.lit(1), F.length(low) - 1)) \
              .otherwise(low)
        pat_dis = jvm_trim(c.substr(F.lit(10), F.length(c)))
        pat_alw = jvm_trim(c.substr(F.lit(7), F.length(c)))
        pat_smp = jvm_trim(c.substr(F.lit(9), F.length(c)))
        seq = F.size(acc["rows"])
        rule = (
            F.when(is_comment | is_ua,
                   F.lit(None).cast(_PARSED_ROW))
             .when(lc.startswith("disallow:") & (pat_dis != ""),
                   F.struct(acc["ua"].alias("user_agent"),
                            F.lit("disallow").alias("directive"),
                            pat_dis.alias("pattern"), seq.alias("seq")))
             .when(lc.startswith("disallow:"),
                   F.lit(None).cast(_PARSED_ROW))
             .when(lc.startswith("allow:") & (pat_alw != ""),
                   F.struct(acc["ua"].alias("user_agent"),
                            F.lit("allow").alias("directive"),
                            pat_alw.alias("pattern"), seq.alias("seq")))
             .when(lc.startswith("allow:"),
                   F.lit(None).cast(_PARSED_ROW))
             .when(lc.startswith("sitemap:") & (pat_smp != ""),
                   F.struct(F.lit(None).cast("string").alias("user_agent"),
                            F.lit("sitemap").alias("directive"),
                            pat_smp.alias("pattern"), seq.alias("seq"))))
        return F.struct(
            F.when(is_ua, new_ua).otherwise(acc["ua"]).alias("ua"),
            F.when(rule.isNotNull(), F.array_append(acc["rows"], rule))
             .otherwise(acc["rows"]).alias("rows"))

    parsed = F.aggregate(lines, init, step)["rows"]
    return (raw.select(F.col(host_col).alias("host"),
                       F.explode(parsed).alias("_r"))
            .select("host", F.col("_r.user_agent").alias("user_agent"),
                    F.col("_r.directive").alias("directive"),
                    F.col("_r.pattern").alias("pattern"),
                    F.col("_r.seq").alias("seq")))


def robots_rules(parsed: DataFrame) -> DataFrame:
    """Rule rows (allow/disallow) from :func:`parse_robots_df` output, in
    the (host, user_agent, directive, pattern) shape :func:`rules_like_df`
    and :func:`compile_rules` consume."""
    return (parsed.filter(F.col("directive") != "sitemap")
            .select("host", "user_agent", "directive", "pattern"))


def robots_sitemaps(parsed: DataFrame) -> DataFrame:
    """File-wide sitemap URL rows (host, sitemap) — the reference collects
    these (RobotsFile.cs:41,191-194) but never fetches them; same here."""
    return (parsed.filter(F.col("directive") == "sitemap")
            .select("host", F.col("pattern").alias("sitemap")))


def pattern_to_regex(pattern: str) -> re.Pattern:
    """robots pattern → compiled anchored-prefix regex (*, $ supported)."""
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    rx = "".join(".*" if ch == "*" else re.escape(ch) for ch in body)
    return re.compile("^" + rx + ("$" if anchored else ""))


class HostRules:
    """Compiled rules for one host. ``disallowed(path)`` = longest-match-wins."""

    __slots__ = ("rules",)

    def __init__(self, rules: list[tuple[bool, str]]):
        # longest-pattern-first; allow before disallow on equal length so the
        # first match at the winning length already encodes tie-break-to-allow
        self.rules = [
            (is_allow, len(p), pattern_to_regex(p))
            for is_allow, p in sorted(rules, key=lambda r: (-len(r[1]), not r[0]))
        ]

    def disallowed(self, path: str) -> bool:
        best_len, best_allow = -1, True
        for is_allow, plen, rx in self.rules:
            if plen <= best_len:
                break  # sorted: no longer match possible
            if rx.match(path):
                best_len, best_allow = plen, is_allow
        return not best_allow


def compile_rules(rows: list[tuple[str, str, str, str]],
                  user_agent: str = DEFAULT_UA) -> dict[str, HostRules]:
    """(host, user_agent, directive, pattern) rows → host → HostRules.

    Per-UA precedence: if a host has any rules for ``user_agent``, the ``*``
    group is ignored for that host (RobotsTest github-fixture semantics).
    """
    ua = user_agent.lower()
    by_host: dict[str, dict[str, list[tuple[bool, str]]]] = {}
    for host, agent, directive, pattern in rows:
        if pattern is None or pattern == "":
            continue  # empty Disallow == allow all
        g = by_host.setdefault(host, {})
        g.setdefault(agent.lower(), []).append(
            (directive.lower() == "allow", pattern))
    out: dict[str, HostRules] = {}
    for host, groups in by_host.items():
        chosen = groups.get(ua) if ua in groups else groups.get("*")
        if chosen:
            out[host] = HostRules(chosen)
    return out


def apply_robots_gate(frontier: DataFrame, rules: DataFrame,
                      path_col: str = "path") -> DataFrame:
    """P11: drop frontier rows the host's robots rules disallow. Runs LAST in
    the cascade — most expensive predicate (Queueo.cs:426 ordering, R3).

    JVM route: robots patterns translate losslessly to SQL LIKE (prefix →
    ``pat%``, ``*`` → ``%``, ``$`` anchor → exact), so the gate is a join on
    host + higher-order-function match — whole-stage codegen, no
    Python crossing, longest-match/allow-ties preserved via array_max over
    (plen, allow) structs, pinned to the :class:`HostRules` oracle (the
    simulator's matcher).

    ``rules`` is the per-host LIKE-rule frame :func:`rules_like_df`
    compiles (the crawl engine caches it per robots snapshot, so unchanged
    robots state is never recompiled). The join carries no hint: Spark
    broadcasts the rules while their size fits
    ``spark.sql.autoBroadcastJoinThreshold`` (a persisted, materialized
    frame has its real size) and shuffles on host past it.
    """
    joined = frontier.join(rules, "host", "left")
    matched = F.filter(
        F.col("_rules"),
        lambda r: F.like(F.col(path_col), r["pat"], F.lit("\\")))
    best = F.array_max(F.transform(
        matched, lambda r: F.struct(r["plen"].alias("plen"),
                                    r["allow"].alias("allow"))))
    disallowed = F.col("_rules").isNotNull() & best.isNotNull() \
        & (best["allow"] == 0)
    return joined.filter(~F.coalesce(disallowed, F.lit(False))).drop("_rules")


def rules_like_df(robots_df: DataFrame,
                  user_agent: str = DEFAULT_UA) -> DataFrame:
    """Per-host LIKE-rule arrays (host, _rules array<struct<pat,plen,allow>>)
    after per-UA group selection — one small broadcastable row per host.

    Fully distributive (groupBy(host) + collect_list + higher-order filter;
    no driver ``collect()``), so compiling millions of hosts' robots state
    is one shuffle on host, not a driver OOM. The per-host rule list is
    bounded by robots-file size, so collect_list stays small. Each
    pattern becomes a SQL LIKE pattern in JVM expressions (escape
    ``\\ % _``, ``*`` → ``%``, a trailing ``$`` anchors, else append ``%``
    for the prefix match); ``plen`` is the FULL original pattern length
    (incl. ``$``), matching HostRules' longest-match tie-break, and
    :class:`HostRules` is the oracle the translation is pinned to.
    """
    ua = user_agent.lower()
    pat = F.col("pattern")
    anchored = pat.endswith("$")
    body = F.when(anchored, F.substring(pat, 1, F.length(pat) - 1)) \
            .otherwise(pat)
    esc = F.replace(body, F.lit("\\"), F.lit("\\\\"))
    esc = F.replace(esc, F.lit("%"), F.lit("\\%"))
    esc = F.replace(esc, F.lit("_"), F.lit("\\_"))
    esc = F.replace(esc, F.lit("*"), F.lit("%"))
    like_pat = F.when(anchored, esc).otherwise(F.concat(esc, F.lit("%")))
    rules = (robots_df
             .filter(pat.isNotNull() & (pat != ""))
             .withColumn("_agent", F.lower("user_agent"))
             .filter(F.col("_agent").isin(ua, "*"))
             .select("host",
                     (F.col("_agent") == ua).cast("int").alias("_is_ua"),
                     F.struct(
                         like_pat.alias("pat"),
                         F.length(pat).cast("int").alias("plen"),
                         F.when(F.lower("directive") == "allow", 1)
                          .otherwise(0).cast("int").alias("allow"),
                         (F.col("_agent") == ua).cast("int").alias("is_ua"),
                     ).alias("_rule")))
    grouped = rules.groupBy("host").agg(
        F.max("_is_ua").alias("_has_ua"),
        F.collect_list("_rule").alias("_all"))
    # per-UA precedence: a host with any UA-specific rules ignores its '*'
    # group (RobotsTest github-fixture semantics)
    chosen = F.filter(F.col("_all"),
                      lambda r: r["is_ua"] == F.col("_has_ua"))
    return grouped.select(
        "host",
        F.transform(chosen, lambda r: F.struct(
            r["pat"].alias("pat"), r["plen"].alias("plen"),
            r["allow"].alias("allow"))).alias("_rules"))
