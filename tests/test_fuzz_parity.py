"""Hypothesis fuzz: the cross-implementation parity invariants that the
golden tests pin on fixtures, pushed through randomized inputs.

Each Spark-side property batches one generated list into ONE job (per-example
jobs would be pathologically slow), with a small example budget — the pure
Python properties run at full hypothesis depth.

DETERMINISM (round-3 verdict #2): every ``@settings`` here sets
``derandomize=True`` so the example stream is a pure function of the
property's code — two runs of the same tree are bit-identically green/red;
correctness verdicts never depend on RNG. Every counterexample a past
randomized run found is ALSO pinned as an explicit parametrized case below
(round-2 dot segments, round-3 ``\\x85?``, round-4 query-inheritance),
so the found bugs stay found even if a property is later rewritten.
"""

import html

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fetcho_spark.functions.hashing import xxh64_signed
from fetcho_spark.functions.urls import MAX_URL_LEN, canonicalize
from fetcho_spark.operators.robots import HostRules, compile_rules

# printable-ish URL characters incl. the ones our fast/slow routing cares
# about: entities, control whitespace, fragments, ports, userinfo
# alphabet covers the routing-sensitive territory: entities, control
# whitespace, fragments, ports, userinfo, dot segments, AND the
# strip-risk / line-terminator Unicode the round-3 fast path must refuse
# (NBSP, thin space, LINE/PARA SEPARATOR, NEL, ideographic space) plus a
# fast-eligible non-ASCII letter
_URLISH = st.text(
    alphabet="abcdefghijXYZ0123456789:/?#&;.%=_-~@ \t\n*$'\"<>\\"
             + chr(0x00a0) + chr(0x2009) + chr(0x2028) + chr(0x2029)
             + chr(0x0085) + chr(0x3000) + chr(0x00e9),
    max_size=60)
_HREF = st.one_of(
    _URLISH,
    _URLISH.map(lambda s: "http://" + s),
    _URLISH.map(lambda s: "https://h.example/" + s),
    _URLISH.map(lambda s: "//" + s),
    _URLISH.map(lambda s: "/" + s),
    _URLISH.map(lambda s: s + "&amp;x=1"),
    _URLISH.map(lambda s: s + "&#38;"),
)
_BASE = st.one_of(
    st.none(),
    st.just("http://base.example/dir/page"),
    st.just("https://s.example/"),
    _URLISH.map(lambda s: "http://b.example/" + s),
)


def _check_canonical_invariants(href, base):
    out = canonicalize(href, base)
    if out is None:
        return
    assert out.startswith(("http://", "https://"))
    assert len(out) <= MAX_URL_LEN
    assert "#" not in out
    scheme, rest = out.split("://", 1)
    authority = rest.split("/", 1)[0].split("?", 1)[0]
    host = authority.split(":", 1)[0]
    assert host == host.lower() and host and not host.endswith(".")
    # Canonical output is a fixed point: re-canonicalizing changes nothing.
    # Scope: HTML-entity decode is SINGLE-pass by design (Utility.cs applies
    # HtmlDecode once), so a double-encoded legacy entity ('&#38;deg' →
    # '&deg') yields an output that a second decode would alter — that is
    # reference-faithful HTML semantics at the href→URL boundary, not a
    # normalization bug, and is pinned as a documented divergence in
    # test_entity_cascade_documented_divergence below. Every decode-stable
    # output (everything else, incl. all whitespace/query/path handling)
    # must be an exact fixed point.
    if html.unescape(out) == out:
        assert canonicalize(out, base) == out, (href, base, out)


@given(_HREF, _BASE)
@settings(max_examples=2000, deadline=None, derandomize=True)
def test_canonicalize_output_invariants(href, base):
    _check_canonical_invariants(href, base)


# Historical fuzz counterexamples, pinned forever as explicit cases —
# round 2: dot-segment resolution divergence between the JVM fast path and
# urljoin; round 3: empty-query drop exposing edge Unicode whitespace;
# round 4: urljoin inheriting a whitespace-tailed query from the base.
_PINNED_COUNTEREXAMPLES = [
    # round-3 class: bare trailing '?' hides strip-risk whitespace at the
    # path edge — empty-query drop must re-strip (urls.py idempotence fix)
    ("https://h.example/\x85?", None),
    ("/x\u3000?", "http://base.example/dir/page"),
    ("/a ?#f", "http://base.example/dir/page"),
    ("/x ?", "http://base.example/dir/page"),
    ("http://a.example/x\xa0?", None),
    ("http://a.example/x ?", None),
    ("http://a.example/x  ?#frag", None),
    # round-4 class: a bare '?' (or '#frag'-stripped equivalent) ref makes
    # urljoin inherit the BASE's query — which can end in Unicode
    # whitespace the edge strip never saw; query must be re-stripped
    ("?", "http://b.example/?\x85"),
    ("? #frag", "http://b.example/? trail "),
    ("?\xa0", "http://b.example/dir?q=1 "),
    # round-2 class: dot segments must resolve via urljoin for relatives
    ("/a/../b", "http://base.example/dir/page"),
    ("/./x", "http://base.example/dir/page"),
    ("/..", "http://base.example/dir/page"),
    # controls that must NOT be stripped (urlsplit keeps trailing C0)
    ("https://h.example/\x01?", None),
    # non-empty query keeps inner whitespace — no over-stripping
    ("http://a.example/x ?q", None),
    ("http://a.example/x?a?", None),
]


@pytest.mark.parametrize("href,base", _PINNED_COUNTEREXAMPLES)
def test_canonicalize_pinned_counterexamples(href, base):
    _check_canonical_invariants(href, base)


def test_canonicalize_pinned_values():
    """Exact expected outputs for the idempotence-fix cases (not just the
    property): the whitespace re-strips must produce THESE canonicals."""
    assert canonicalize("https://h.example/\x85?", None) == "https://h.example/"
    assert canonicalize("/x\u3000?", "http://b.example/d/p") == "http://b.example/x"
    assert canonicalize("http://a.example/x ?", None) == "http://a.example/x"
    assert canonicalize("?", "http://b.example/?\x85") == "http://b.example/"
    assert canonicalize("? #f", "http://b.example/?q ") \
        == "http://b.example/?q"
    # non-empty query: inner whitespace is content, kept verbatim
    assert canonicalize("http://a.example/x ?q", None) == "http://a.example/x ?q"
    # trailing C0 is not whitespace: kept (urlsplit strips only leading C0)
    assert canonicalize("https://h.example/\x01?", None) == "https://h.example/\x01"


def test_entity_cascade_documented_divergence():
    """Single-pass HTML decode (reference: Utility.cs HtmlDecode, applied
    once) means a DOUBLE-encoded legacy entity survives one decode and
    would decode again on re-entry — the one deliberate exception to the
    fixed-point contract. Pin the exact behavior so any change is loud."""
    out = canonicalize("http://h.example/?a=1&#38;deg", None)
    assert out == "http://h.example/?a=1&deg"      # single decode
    again = canonicalize(out, None)
    assert again == "http://h.example/?a=1\xb0"    # '&deg' → '°' on re-entry
    # and the re-decoded form IS a fixed point (decode-stable)
    assert canonicalize(again, None) == again


@given(st.lists(st.tuples(_HREF, st.just("http://base.example/dir/page")),
                min_size=1, max_size=80))
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.spark
@pytest.mark.slow
def test_hybrid_routing_matches_python_fuzz(spark, pairs):
    """The staged fast/slow hybrid must equal pure-Python canonicalize on
    arbitrary hrefs — the invariant the crawl's seen-set keys depend on."""
    from pyspark.sql import functions as F
    from fetcho_spark.functions.urls import canonicalize_udf, with_fast_canonical
    df = spark.createDataFrame(pairs, "href string, base string")
    c = with_fast_canonical(df)
    got = (c.withColumn(
        "url", F.when(F.col("_appl"), F.col("_fast_url"))
                .otherwise(canonicalize_udf(F.col("href"), F.col("base"))))
        .select("href", "base", "url").collect())
    for r in got:
        assert r["url"] == canonicalize(r["href"], r["base"]), \
            (r["href"], r["base"])


_PATTERN = st.text(alphabet="/abcxyz019*$._-%", min_size=1, max_size=20)
_PATH = st.text(alphabet="/abcxyz019._-%?=", min_size=1, max_size=30) \
    .map(lambda s: "/" + s.lstrip("/"))


@given(st.lists(st.tuples(st.sampled_from(["allow", "disallow"]), _PATTERN),
                min_size=1, max_size=10),
       st.lists(_PATH, min_size=1, max_size=40))
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.spark
@pytest.mark.slow
def test_robots_like_compile_matches_hostrules_fuzz(spark, rules, paths):
    """The distributed JVM LIKE-array gate must agree with the pure-Python
    longest-match HostRules on random patterns (incl. LIKE metachars %_)."""
    from pyspark.sql import functions as F
    from fetcho_spark.operators.robots import apply_robots_gate, rules_like_df
    rows = [("h.example", "*", d, p) for d, p in rules]
    robots_df = spark.createDataFrame(
        rows, "host string, user_agent string, directive string, pattern string")
    compiled = rules_like_df(robots_df, "fetcho")
    frontier = spark.createDataFrame(
        [("h.example", p, f"http://h.example{p}") for p in paths],
        "host string, path string, url string")
    survivors = {r["path"] for r in
                 apply_robots_gate(frontier, compiled).collect()}
    oracle = compile_rules(rows, "fetcho")
    hr = oracle.get("h.example")
    for p in paths:
        expect_kept = not (hr and hr.disallowed(p))
        assert (p in survivors) == expect_kept, (rules, p)


@given(st.lists(st.text(max_size=40), min_size=1, max_size=200))
@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@pytest.mark.spark
@pytest.mark.slow
def test_xxhash64_parity_fuzz(spark, values):
    """Pure-Python XXH64 == Spark's builtin xxhash64 on arbitrary strings
    (the simulator's crawl-order keys depend on exact parity)."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = {r["s"]: r["h"] for r in
           df.select("s", F.xxhash64("s").alias("h")).collect()}
    for v in set(values):
        assert got[v] == xxh64_signed(v.encode("utf-8")), repr(v)
