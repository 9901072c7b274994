"""URL canonicalization + link normalization (vectorized).

Re-expresses the cleanup pipeline of fetcho's ``Utility.GetLinks``
(/root/reference/common/Utility.cs:202-322): html-decode, strip ``#fragment``,
``//`` scheme-relative fix, ``http:///`` triple-slash fix, relative→absolute
resolution against the source page, scheme whitelist (http/https only), and a
2043-char cap — plus lowercasing of scheme/host and default-port stripping so
the seen-set key is stable.

One pure function :func:`canonicalize` is the single source of truth; the
Spark side wraps it in an Arrow-batched pandas UDF (:func:`canonicalize_udf`)
— never a row-at-a-time Python UDF — and the oracle simulator calls it
directly, so engine and oracle agree byte-for-byte by construction.
"""

from __future__ import annotations

import html
from html.entities import html5 as _HTML5_ENTITIES
from urllib.parse import urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAX_URL_LEN = 2043  # Utility.cs: MaxFileNameLength-ish cap on link length
_ALLOWED_SCHEMES = ("http", "https")  # ResourceFetcher.cs:80 scheme dispatch
_DEFAULT_PORTS = {"http": 80, "https": 443}


def canonicalize(href: str | None, base: str | None = None) -> str | None:
    """Canonical absolute URL, or None if the link is unusable.

    Deterministic, pure; shared by the engine (inside pandas UDF batches)
    and the oracle simulator.
    """
    if href is None:
        return None
    s = html.unescape(href).strip()
    if not s:
        return None
    # strip fragment first (reference strips '#anchor' before anything else);
    # re-strip after — '0 #' exposes a trailing space that would otherwise
    # survive into the path and break idempotence (fuzz-found:
    # canonicalize(canonicalize(x)) must equal canonicalize(x))
    hash_at = s.find("#")
    if hash_at >= 0:
        s = s[:hash_at].strip()
        if not s:
            return None
    base_scheme = "http"
    if base:
        b = base.split(":", 1)[0].lower()
        if b in _ALLOWED_SCHEMES:
            base_scheme = b
    if s.startswith("//"):  # scheme-relative → inherit source scheme
        s = f"{base_scheme}:{s}"
    # triple-slash authority fix: 'http:///path' → treat as host-less junk the
    # reference repairs to 'http://' + rest (Utility.cs fix-ups)
    for sch in _ALLOWED_SCHEMES:
        pre = f"{sch}:///"
        if s.lower().startswith(pre):
            s = f"{sch}://" + s[len(pre):]
            break
    lower = s.lower()
    if not (lower.startswith("http://") or lower.startswith("https://")):
        if ":" in s.split("/", 1)[0]:
            return None  # mailto:, javascript:, ftp:, data: … — unsupported scheme
        if base is None:
            return None
        s = urljoin(base, s)
        lower = s.lower()
        if not (lower.startswith("http://") or lower.startswith("https://")):
            return None
    try:
        parts = urlsplit(s)
    except ValueError:
        return None
    host = (parts.hostname or "").lower().rstrip(".")
    if not host:
        return None
    scheme = parts.scheme.lower()
    try:
        port = parts.port
    except ValueError:
        return None
    netloc = host if (port is None or port == _DEFAULT_PORTS.get(scheme)) else f"{host}:{port}"
    path = parts.path or "/"
    if "/." in path:
        # RFC 3986 dot-segment removal for ABSOLUTE/scheme-relative hrefs
        # too (reference parity: C# `new Uri` normalizes dot segments for
        # every URL shape, while urljoin only runs for relatives — ADVICE
        # round 3). Reuse urljoin against the URL's own root so ONE engine
        # defines the semantics for every href shape; the probe ('/.'
        # prefixes every dot segment) keeps the common case allocation-free.
        path = urlsplit(urljoin(f"{scheme}://{netloc}", path)).path or "/"
    # Idempotence re-strips (fuzz-found round 3/4): the canonical output must
    # be a fixed point — re-canonicalizing it changes nothing. Two trailing-
    # whitespace leaks can survive the pre-parse edge strip:
    #   1. query ending in Unicode whitespace — reachable only through
    #      urljoin inheriting the base's query (CPython: a bare '?' ref with
    #      empty path+query inherits base query), since a '?…ws' suffix on
    #      the href itself is edge-stripped before parsing;
    #   2. whitespace hidden behind a bare trailing '?' ('https://h/\x85?'):
    #      urlunsplit drops the EMPTY query, exposing it as new edge ws.
    # rstrip()'s no-arg set is exactly what re-entry's str.strip() removes;
    # trailing C0 controls stay (urlsplit strips only LEADING C0). The JVM
    # fast path needs only the 0x20-before-'?' drop — every other whitespace
    # codepoint routes slow, and query-only hrefs never fast-match.
    query = parts.query.rstrip()
    if not query:
        path = path.rstrip() or "/"
    out = urlunsplit((scheme, netloc, path, query, ""))
    if len(out) > MAX_URL_LEN:
        return None
    return out


# The FRONTIER host definition, shared verbatim by the engine (JVM regex)
# and the simulator (Python twin): the authority between the scheme and the
# first '/', ':', '?' or '#', lowercased. One regex everywhere — round 4
# dropped host/src_host from the frontier table (16% of its bytes at the
# bench shape) and re-derives them post-dedup, so the derivation must be a
# single shared definition or seen keys and goldens drift.
FRONTIER_HOST_RE = r"^(?i)https?://([^/:?#]+)"
_FRONTIER_HOST_PY = __import__("re").compile(r"^https?://([^/:?#]+)",
                                             __import__("re").I)


def frontier_host_col(url_col: F.Column) -> F.Column:
    return F.lower(F.regexp_extract(url_col, FRONTIER_HOST_RE, 1))


def frontier_host(url: str | None) -> str:
    if not url:
        return ""
    m = _FRONTIER_HOST_PY.match(url)
    return m.group(1).lower() if m else ""


def host_of(url: str | None) -> str | None:
    if not url:
        return None
    try:
        return (urlsplit(url).hostname or "").lower() or None
    except ValueError:
        return None


def path_of(url: str | None) -> str:
    if not url:
        return "/"
    try:
        p = urlsplit(url)
        path = p.path or "/"
        return f"{path}?{p.query}" if p.query else path
    except ValueError:
        return "/"


# ---------------------------------------------------------------- Spark side

@F.pandas_udf(T.StringType())
def canonicalize_udf(href: pd.Series, base: pd.Series) -> pd.Series:
    """Arrow-batched canonicalizer: (href, base_url) → canonical url/null."""
    return pd.Series(
        [canonicalize(h, b) for h, b in zip(href, base)], dtype=object
    )


# The JVM fast path decodes exactly 5 named entities (_pre_clean) while the
# Python reference path uses full html.unescape. Any href whose decode could
# differ between the two is routed to the UDF slow path by this regex:
#   1. numeric refs (&#38; / &#x26; / semicolon-less &#39) except the exact
#      '&#39;' the fast path handles identically;
#   2. named entities with ';' other than the handled amp/lt/gt/quot
#      (covers case variants like &AMP; which unescape decodes);
#   3. '&amp;' cascades: sequential JVM replaces double-decode
#      '&amp;lt;' → '<' while single-pass unescape yields '&lt;';
#   4. HTML5 legacy semicolon-less entities (&not=, &amp at end, …) which
#      unescape decodes mid-string (derived from html.entities.html5);
# plus any control whitespace (Python str.strip() removes \t\n\r, F.trim
# strips spaces only). Over-flagging is safe — slow path is always correct.
_LEGACY_ENTITY_NAMES = sorted(
    {k for k in _HTML5_ENTITIES if not k.endswith(";")},
    key=len, reverse=True)
ENTITY_RISK_RE = (
    "&#(?!39;)"
    "|&(?!(?:amp|lt|gt|quot);)[A-Za-z][A-Za-z0-9]*;"
    "|&amp;(?:amp;|lt;|gt;|quot;|#39;)"
    "|&(?:" + "|".join(_LEGACY_ENTITY_NAMES) + ")(?!;)"
)


# Structural fast-path shape, tested on the RAW href in ONE regex:
#   - absolute `https?://host[:port][/?rest]` or scheme-relative `//host...`
#     with a plain `[A-Za-z0-9.-]` host (no userinfo, no IPv6 brackets, no
#     controls / non-ASCII in the rest),
#   - or root-relative `/path` (not `//`),
#   - with optional leading/trailing SPACES and an optional `#fragment`.
# STRIP-RISK characters route slow: F.trim strips only 0x20, while Python
# str.strip removes the full Unicode whitespace set (tab/newlines, 0b/0c,
# 1c-1f, 85, NBSP a0, 1680, 2000-200a, 2028, 2029, 202f, 205f, 3000) and
# urlsplit removes tab/CR/LF ANYWHERE plus edge C0 controls. The
# path/query class (_PQ below) therefore excludes '#', all C0 controls,
# DEL, and every Unicode whitespace codepoint - but ACCEPTS other
# non-ASCII chars (accented letters, CJK, emoji): both canonicalizers
# pass those through byte-identically, and at web scale international
# URLs are far too common to pay the Arrow crossing for.
# The port group rejects leading zeros: Python's urlsplit parses the port
# numerically ('080' == 80 → default-port drop) while the JVM value path
# compares strings ('080' != '80' → kept) — leading-zero ports route slow.
# The predicate only needs to IMPLY fast==python — over-routing to the UDF
# slow path is always correct — so it can be strictly narrower than the old
# derived-tree form. Keeping it to one regex + two gated regexes matters:
# the old formulation re-derived _pre_clean/authority trees that Catalyst
# inlined into the Filter and the whole-stage code grew past janino's hard
# 64 KB method limit — the entire link stage silently fell back to
# interpreted mode (measured: 1.77 MB of generated Java).
# Spaces (0x20 only) are allowed inside path/query — F.trim and Python
# str.strip treat edge spaces identically and inner spaces pass through both
# canonicalizers untouched. Everything after the first '#' is discarded
# identically by both paths, so fragment content is free-form ([\s\S]: Java
# '.' excludes \n) — a '#' materializing from an entity decode is impossible
# here because ENTITY_RISK_RE already routed it slow.
# the pattern string carries LITERAL codepoints, so the Java regex
# engine sees the same characters Python does - no engine-specific
# escape syntax in play
_STRIP_RISK = ("\x00-\x1f\x7f\x85\xa0  - "
               "    　")
_PQ = f"[^#{_STRIP_RISK}]"          # path/query char
_PQ0 = f"[^/#{_STRIP_RISK}]"        # first root-relative path char (not /)
FAST_STRUCT_RE = (
    f"^ *(?:(?i:https?:)?//[A-Za-z0-9.\\-]+(?::(?:0|[1-9][0-9]*)?)?"
    f"(?:[/?]{_PQ}*)?"
    f"|/(?:{_PQ0}{_PQ}*)?|/)(?:#[\\s\\S]*| *)\\z"  # \z = end-of-INPUT:
    # Java's $ also matches before a FINAL line terminator (\n, \x85,
    # \u2028, \u2029), which would fast-claim hrefs with a trailing
    # line terminator that Python str.strip removes

)

# Dot segments resolve in the Python canonicalizer for EVERY href shape
# (relatives via urljoin; absolutes/scheme-relatives via the '/.'-probed
# re-resolve in canonicalize — round-4 reference-fidelity fix: C# `new Uri`
# normalizes dot segments on absolute URLs too). The JVM fast path just
# concatenates strings, so ANY href containing a '.' or '..' PATH SEGMENT
# (terminated by '/', '?', '#', whitespace-that-trims, or end) routes to the
# UDF slow path. Over-matching (dots inside a query, '$' matching before a
# final line terminator) is safe — slow path is always correct.
# Reference: Utility.cs:202-322 resolves via `new Uri`, which removes dot
# segments — Python's urljoin machinery is the faithful analog.
DOTSEG_RISK_RE = r"/\.{1,2}(?:[/?#\s]|$)"

# urljoin resolves root-relative hrefs through urlparse, which splits
# PARAMS off the last path segment at its first ';' — a segment whose ';'
# has nothing after it loses the ';' entirely ('/;' → '/', '/x;' → '/x',
# '/a/;' → '/a/') while the JVM fast path keeps it. ';' in URLs is rare,
# so ANY root-relative href containing one routes to the slow path
# (over-routing is safe; scheme-relative/absolute hrefs skip urljoin and
# keep ';' in both engines). Deep-sweep-found (round 3).
ROOTREL_RE = r"^ */(?!/)"


def canonicalize_fast_applicable(href: F.Column, base: F.Column) -> F.Column:
    """True where the JVM expression fast-path produces the same result as
    :func:`canonicalize`: absolute http(s) links, scheme-relative ``//``
    links, and root-relative ``/path`` links (base is already canonical in
    the crawl — pages come from our own frontier). Doc-relative links
    (``sibling``, ``../up``), userinfo URLs, entity-decode-divergent hrefs
    (see ``ENTITY_RISK_RE``), whitespace-bearing and exotic hrefs go to the
    pandas-UDF slow path. In practice ≥95% of extracted links are absolute
    or root-relative with at most plain ``&amp;``, so the hot path stays in
    codegen. The entity-risk alternation (100+ legacy entity names) is gated
    behind a substring probe on the bare column ('&' appears in every
    ENTITY_RISK_RE branch), so the common ampersand-free href skips it;
    likewise the dot-segment probe is gated behind a ``'/.'`` substring test
    ('/.' appears in every dot segment), so the common dotless path skips
    the DOTSEG_RISK_RE regex entirely."""
    entity_risk = F.when(href.contains("&"),
                         href.rlike(ENTITY_RISK_RE)).otherwise(F.lit(False))
    dotseg_risk = F.when(href.contains("/."),
                         href.rlike(DOTSEG_RISK_RE)).otherwise(F.lit(False))
    semi_risk = F.when(href.contains(";"),
                       href.rlike(ROOTREL_RE)).otherwise(F.lit(False))
    return ~entity_risk & ~dotseg_risk & ~semi_risk \
        & href.rlike(FAST_STRUCT_RE)


def _pre_clean(href: F.Column) -> F.Column:
    """Fast-path steps 1-4: entity decode (common entities), trim, fragment
    strip, ``//``→scheme-relative marker kept, ``http:///`` fix."""
    h = F.trim(href)
    for ent, ch in (("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'")):
        h = F.replace(h, F.lit(ent), F.lit(ch))
    # re-trim after the fragment strip (mirrors canonicalize: '…/x #frag'
    # exposes trailing spaces; only 0x20 can survive here on the fast subset
    # since FAST_STRUCT_RE rejects \t\n\r outside fragments)
    h = F.trim(F.substring_index(h, "#", 1))
    h = F.regexp_replace(h, r"^(?i)(https?):///", r"$1://")
    return h


def eval_barrier(col: F.Column) -> F.Column:
    """Identity on values that the optimizer cannot see through: shuffle()
    is nondeterministic, so Catalyst neither pushes a downstream filter
    below the projection that computes ``col`` nor substitutes ``col``'s
    expression tree into that filter (on a 1-element array
    shuffle∘element_at is the identity)."""
    return F.element_at(F.shuffle(F.array(col)), F.lit(1))


def with_fast_canonical(df, href_col: str = "href", base_col: str = "base"):
    """The JVM-expression fast canonicalizer (whole-stage codegen, no
    Python): adds ``_appl`` (:func:`canonicalize_fast_applicable`) and
    ``_fast_url``, byte-identical to :func:`canonicalize` where ``_appl``
    holds (tests/test_canonicalize_parity.py); elsewhere route the row to
    :func:`canonicalize_udf`, as :func:`with_canonical_url` does.

    Every shared piece is a named intermediate column computed once per
    row: inlining ``_pre_clean``'s replace/regex tree at every reference
    grows the expression tree multiplicatively, and the generated code
    falls out of whole-stage codegen (at worst analysis hangs). Catalyst's
    CollapseProject keeps multiply-referenced non-cheap expressions staged.
    """
    H, B = F.col(href_col), F.col(base_col)
    df = df.withColumn("_pc", _pre_clean(H))
    pc = F.col("_pc")
    # ---- applicability: two regexes on the raw href (FAST_STRUCT_RE) ----
    df = df.withColumn("_appl", canonicalize_fast_applicable(H, B))
    # ---- fast-path value -------------------------------------------------
    # coalesce: a NULL base (no source page) must behave like the Python
    # reference's base=None — default scheme 'http', no host. Without it
    # the extracts return NULL and every downstream concat nulls out
    # (deep-sweep-found: '//host' with NULL base)
    B0 = F.coalesce(B, F.lit(""))
    df = df.withColumn(
        "_bsch0", F.lower(F.regexp_extract(B0, r"^(?i)(https?)://", 1)))
    df = df.withColumn(
        "_bsch", F.when(F.col("_bsch0") == "", F.lit("http"))
                  .otherwise(F.col("_bsch0")))
    df = df.withColumn(
        "_bhost", F.lower(F.regexp_extract(B0, r"^(?i)https?://([^/?#]+)", 1)))
    df = df.withColumn(
        "_res",
        F.when(pc.startswith("//"),
               F.concat(F.col("_bsch"), F.lit(":"), pc))
         .when(pc.startswith("/") & ~pc.startswith("//")
               & (F.col("_bhost") != ""),
               F.concat(F.col("_bsch"), F.lit("://"), F.col("_bhost"), pc))
         .otherwise(pc))
    r = F.col("_res")
    df = df.withColumn(
        "_scheme", F.lower(F.regexp_extract(r, r"^(?i)(https?)://", 1)))
    df = df.withColumn(
        "_auth", F.regexp_extract(r, r"^(?i)https?://([^/?#]+)", 1))
    a = F.col("_auth")
    df = df.withColumn(
        "_host", F.regexp_replace(
            F.lower(F.regexp_extract(a, r"^([^:]+)", 1)), r"\.+$", ""))
    df = df.withColumn("_port", F.regexp_extract(a, r":(\d+)$", 1))
    s, hh, p = F.col("_scheme"), F.col("_host"), F.col("_port")
    default_port = F.when(s == "http", F.lit("80")).otherwise(F.lit("443"))
    df = df.withColumn(
        "_netloc", F.when((p == "") | (p == default_port), hh)
                    .otherwise(F.concat(hh, F.lit(":"), p)))
    df = df.withColumn(
        "_rest0", F.regexp_replace(
            F.regexp_extract(r, r"^(?i)https?://[^/?#]+([/?].*)?$", 1),
            # only a bare EMPTY query drops: a trailing '?' inside a
            # non-empty query is content urlsplit keeps ('/a?b?'), so strip
            # the final '?' only when it is also the first. Spaces before
            # it go too ('/x ?' → '/x'; the Python reference re-strips the
            # new edge) — only 0x20 gets here, other whitespace routes slow
            r"^([^?]*?) *\?$", "$1"))
    # '?query' with an empty path → '/?query' (urlunsplit semantics)
    df = df.withColumn(
        "_rest", F.when(F.col("_rest0") == "", F.lit("/"))
                  .when(F.col("_rest0").startswith("?"),
                        F.concat(F.lit("/"), F.col("_rest0")))
                  .otherwise(F.col("_rest0")))
    out = F.concat(s, F.lit("://"), F.col("_netloc"), F.col("_rest"))
    port_ok = (p == "") | (p.cast("int") <= 65535)
    ok = (s != "") & (hh != "") & port_ok & (F.length(out) <= MAX_URL_LEN)
    # Pushdown barrier (eval_barrier): without it a downstream filter
    # (e.g. url IS NOT NULL) re-derives the whole canonicalizer tree inside
    # the Filter condition — measured 1.77 MB of generated Java, past
    # janino's hard 64 KB method limit, knocking the entire link stage out
    # of whole-stage codegen into interpreted mode.
    df = df.withColumn("_fast_url", eval_barrier(F.when(ok, out)))
    return df.drop("_pc", "_bsch0", "_bsch",
                   "_bhost", "_res", "_scheme", "_auth", "_host", "_port",
                   "_netloc", "_rest0", "_rest")


def with_canonical_url(df, href_col: str = "href", base_col: str = "base"):
    """The hybrid canonicalizer as one combine: adds ``url`` (the JVM fast
    path where :func:`canonicalize_fast_applicable` holds, the Arrow UDF
    slow path elsewhere; byte-identical to :func:`canonicalize` on both
    routes) and drops the rows whose link is unusable (null ``url``).

    Both UDF arguments are nulled on fast rows, so the Arrow batch carries
    validity bits plus only the slow hrefs and their bases, and each row
    takes exactly one route. The combine sits behind an evaluation barrier:
    without it Catalyst substitutes ``url`` into the null filter and the
    slow route runs through Python twice (once in the Filter, once in the
    Project)."""
    slow = ~F.col("_appl")
    url = F.when(F.col("_appl"), F.col("_fast_url")).otherwise(
        canonicalize_udf(F.when(slow, F.col(href_col)),
                         F.when(slow, F.col(base_col))))
    return (with_fast_canonical(df, href_col, base_col)
            .withColumn("url", eval_barrier(url))
            .drop("_appl", "_fast_url")
            .filter(F.col("url").isNotNull()))


def with_url_keys(df, url_col: str = "url"):
    """Attach the crawl's key columns — JVM-side builtins, no Python:

    - ``url_hash64`` int64 = xxhash64(url)   (bloom / bucketing / sort key)
    - ``host_hash`` int64  = xxhash64(host)  (partitioning key)

    ``url_hash64`` is also the seen table's only key.
    """
    return (df.withColumn("url_hash64", F.xxhash64(F.col(url_col)))
              .withColumn("host_hash", F.xxhash64(F.col("host"))))


# ------------------------------------------------ tracking-param stripping

# click/campaign identifiers that fragment otherwise-identical URLs; the
# utm_* family is matched by prefix, the rest exactly (lowercased key)
TRACKING_KEYS = frozenset({
    "fbclid", "gclid", "dclid", "msclkid", "mc_eid", "igshid", "yclid",
    "twclid", "_hsenc", "_hsmi", "vero_id", "wickedid",
})


def strip_tracking_params(url: F.Column) -> F.Column:
    """Remove tracking query parameters (``utm_*`` prefix family +
    :data:`TRACKING_KEYS`) from a canonical URL — pure JVM expression,
    zero shuffle.

    OPT-IN and deliberately NOT part of :func:`canonicalize`: the
    canonicalizer's semantics are pinned to the reference (engine ≡
    simulator goldens diff crawl order byte-for-byte), while this is a
    dedup-rate booster a crawl operator enables per policy. Parameter
    order is preserved; a query left empty drops its ``?`` entirely so
    the output re-canonicalizes to itself (the C2 fixed-point contract).
    Fragment-free input assumed (canonical URLs carry no ``#``).
    """
    qpos = F.instr(url, "?")
    base = F.substring(url, F.lit(1), qpos - 1)
    q = F.substr(url, qpos + 1)
    key = lambda p: F.lower(F.substring_index(p, "=", 1))  # noqa: E731
    kept = F.filter(
        F.split(q, "&"),
        lambda p: (p != F.lit("")) & ~key(p).startswith("utm_")
        & ~key(p).isin(*sorted(TRACKING_KEYS)))
    cleaned = F.when(F.size(kept) > 0,
                     F.concat(base, F.lit("?"), F.array_join(kept, "&"))
                     ).otherwise(base)
    return F.when(qpos == 0, url).otherwise(cleaned)
