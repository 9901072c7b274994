"""JVM-expression canonicalizer ≡ Python reference, on the fast-path subset
and through the hybrid route — the invariant that keeps the hot path in
whole-stage codegen without semantic drift (functions/urls.py)."""

import html
import itertools
import random

import pytest
from pyspark.sql import functions as F

from fetcho_spark.functions.urls import (canonicalize, canonicalize_udf,
                                         with_fast_canonical)

BASES = ["http://h1.example/dir/page", "https://s.example/",
         "http://a.example/x?q=1", None]

EDGE_HREFS = [
    "http://a.example/x", "http://a.example/x#frag", "//b.example/y",
    "/root", "sibling", "../up", "HTTP://A.EXAMPLE:80/Path",
    "https://a.example:443/x", "http://a.example:8080/x", "http://a.example",
    "mailto:x@a", "javascript:void(0)", "ftp://a/b",
    "http://a.example/x?a=1&amp;b=2", "http:///fix.example/x", "",
    "#only-frag", "http://", "http://a.example/" + "x" * 2100,
    "http://a.example./x", "http://a.example/x?", "http://a.example?q=2",
    "http://user@a.example/x", "http://a.example:/x",
    "http://a.example:99999/x", "  http://a.example/sp  ", "?q=3",
    "//c.example", "http://B.Example/UPPER?Q=1", "data:text/plain,x",
    "http://h9.example/p1#a#b", "/a/b?c=d#e", "HTTPS://x.example/y",
    # dot-segment resolution: root-relative hrefs go through urljoin in the
    # Python reference (RFC 3986 dot-segment removal) — the JVM fast path
    # must NOT claim them (fuzz-found round 2, VERDICT #1)
    "/.", "/..", "/a/../b", "/./x", "/a/b/../../c", "/a/.", "/a/..",
    "/.. ", "/..#frag", "/..?q=1", "/.hidden", "/a/.well-known/x",
    "/page.html", "//b.example/../x", "http://a.example/a/../b",
    # non-ASCII / exotic whitespace at the edges: Python str.strip removes
    # these, F.trim does not — must route slow (ADVICE round 2)
    "http://h.example/p\xa0", "\xa0http://h.example/p",
    "http://h.example/p\x0b", "http://h.example/p\x0c",
    "http://h.example/p\x85", "http://h.example/p ",
    "http://h.example/p\x1f", "/r\xa0", "http://h.example/caf\xe9",
    # line terminators at the end: Java's $ matches BEFORE a final line
    # terminator, so the anchor must be \\z — pinned here
    "http://h.example/p\n", "http://h.example/p" + chr(0x2028),
    "http://h.example/p" + chr(0x2029), "http://h.example/p\x85",
    # international (non-whitespace non-ASCII) hrefs — fast-eligible
    "http://h.example/caf\xe9/page", "http://h.example/" + chr(0x6f22)
    + chr(0x5b57) + "?q=" + chr(0xfc),
    # more Unicode whitespace at edges (must route slow)
    "http://h.example/p" + chr(0x2009), "http://h.example/"
    + chr(0x3000) + "x",
    # leading-zero ports: urlsplit parses numerically, fast path compared
    # strings — must route slow (ADVICE round 2)
    "http://h.example:080/x", "http://h.example:0080/",
    "http://h.example:0/x", "http://h.example:8080/x#f",
    # deep-sweep-found (round 3): urljoin drops a bare trailing ';' of the
    # last path segment (urlparse params) for root-relative hrefs; a
    # trailing '?' only drops when the query is EMPTY; NULL base must
    # default scheme http for scheme-relative hrefs
    "/;", "/x;", "/a/;", "/;x", "/a;b", "/a;b;", "/x?",
    "/??", "/x??", "http://a.example/x?a?", "http://a.example/??",
    "http://a.example/x;y", "https://h.example/a?b?c?",
    # entity-decode divergence candidates (must route to the slow path:
    # full html.unescape semantics — numeric refs, case variants, legacy
    # semicolon-less entities, &amp; cascades)
    "http://a.example/x?a=1&#38;b=2", "http://a.example/x?a=1&#x26;b=2",
    "http://a.example/x?q=&not=1", "http://a.example/x?q=&notarized",
    "http://a.example/x?a=1&amp;lt;", "http://a.example/x?a=1&AMP;b=2",
    "http://a.example/x?a=&copy;", "http://a.example/x?a=1&amp",
    "http://a.example/x?a=1&nbsp", "http://a.example/x?a=1&amp;#39;",
    "http://a.example/x?frac=&frac12", "http://a.example/x\t",
    "http://a.example/\nx", "http://a.example/x?a=1&b=2&c=3",
    # round-4 idempotence fix: whitespace hidden behind a bare trailing '?'
    # must be re-stripped when the empty query drops — 0x20 stays FAST
    # (both engines swallow ' ?'), other whitespace routes slow; a space
    # before a NON-empty query is content and survives on both paths
    "http://a.example/x ?", "/x ?", "/x ?#f", "http://a.example/x  ?",
    "https://h.example/\x85?", "/x\u3000?", "http://a.example/x ?q",
    "http://a.example/ ?", "/ ?", "http://a.example/x ? #f",
    # round-4 reference-fidelity fix (ADVICE r3): dot segments now resolve
    # for ABSOLUTE and scheme-relative hrefs too (C# `new Uri` semantics) \u2014
    # all of these must route slow and normalize
    "http://a.example/./x", "http://a.example/a/.", "http://a.example/..",
    "https://a.example/a/b/../../c?q=1", "//b.example/a/../x",
    "http://a.example/...", "http://a.example/..x", "http://a.example/.../y",
    "http://a.example/a/../b#frag", "HTTP://A.EXAMPLE/a/../B",
]


def _random_hrefs(n=250, seed=42):
    rng = random.Random(seed)
    out = []
    for _ in range(n):
        out.append(
            rng.choice(["http://", "https://", "//", "/", "", "ftp://"])
            + rng.choice([f"h{rng.randint(0, 99)}.example",
                          f"H{rng.randint(0, 9)}.EXAMPLE:8080", ""])
            + rng.choice([f"/p{rng.randint(0, 999)}", "", "/x y",
                          "/q?a=1&amp;b=2", "/z#f", "/exact$x"]))
    return out


@pytest.mark.spark
@pytest.mark.slow
def test_hybrid_canonicalize_matches_python(spark):
    """The production staged form (with_fast_canonical's ``_appl`` /
    ``_fast_url``, canonicalize_udf on slow rows) agrees with the Python
    reference, and it routes the common link shapes fast and strip-risk
    ones slow."""
    pairs = [(h, b) for h, b in
             itertools.product(EDGE_HREFS + _random_hrefs(), BASES)]
    df = spark.createDataFrame(pairs, "href string, base string")
    hybrid = F.when(F.col("_appl"), F.col("_fast_url")).otherwise(
        canonicalize_udf(F.col("href"), F.col("base")))
    got = (with_fast_canonical(df)
           .select("href", "base", F.col("_appl").alias("fast"),
                   hybrid.alias("got")).collect())
    n_fast = 0
    for r in got:
        exp = canonicalize(r["href"], r["base"])
        assert r["got"] == exp, (r["href"], r["base"], r["fast"],
                                 r["got"], exp)
        n_fast += bool(r["fast"])
        # fixed point: fast-path outputs too, not only Python-equal
        # (decode-stable scope — see test_fuzz_parity for the rationale)
        if exp is not None and html.unescape(exp) == exp:
            assert canonicalize(exp, r["base"]) == exp, (r["href"], exp)
    # the fast path must actually carry the bulk of realistic links
    assert n_fast > len(got) * 0.4
    # the common query-string shapes stay on the JVM fast path: plain '&'
    # separators and the ubiquitous '&amp;' must NOT be routed to Python
    fast_by_href = {(r["href"], r["base"]): r["fast"] for r in got}
    for href in ("http://a.example/x?a=1&b=2&c=3",
                 "http://a.example/x?a=1&amp;b=2",
                 # international URLs must stay on the JVM fast path — both
                 # canonicalizers pass non-ASCII non-whitespace through
                 # untouched, and they're too common at web scale to pay
                 # the Arrow crossing
                 "http://h.example/caf\xe9",
                 "http://h.example/" + chr(0x6f22) + chr(0x5b57)
                 + "?q=" + chr(0xfc)):
        assert fast_by_href[(href, BASES[0])], href
    # strip-risk chars (Unicode whitespace / controls / line terminators)
    # still route slow
    for href in ("http://h.example/p\xa0",
                 "http://h.example/p" + chr(0x2009),
                 "http://h.example/p" + chr(0x2028),
                 "http://h.example/p\n", "http://h.example/p\x0b"):
        assert not fast_by_href[(href, BASES[0])], href


@pytest.mark.spark
@pytest.mark.slow
def test_deep_sweep_hybrid_matches_python(spark):
    """Seeded adversarial sweep (the bounded form of the 80k round-3 sweep
    that found the NULL-base, trailing-';' and non-empty-query-'?' fast
    path bugs): random hrefs over a routing-hostile alphabet — entities,
    control whitespace, strip-risk Unicode, CJK, ports, userinfo — must
    canonicalize identically through the staged hybrid and pure Python."""
    alpha = ("abcdefghijXYZ0123456789:/?#&;.%=_-~@ \t\n*$'\"<>\\"
             + chr(0x00A0) + chr(0x2009) + chr(0x2028) + chr(0x2029)
             + chr(0x0085) + chr(0x3000) + chr(0x00E9) + chr(0x6F22))
    rng = random.Random(20260817)

    def href():
        s = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 50)))
        p = rng.random()
        if p < 0.2:
            return "http://" + s
        if p < 0.35:
            return "https://h.example/" + s
        if p < 0.5:
            return "//" + s
        if p < 0.7:
            return "/" + s
        if p < 0.8:
            return s + "&amp;x=1"
        return s

    bases = BASES + ["http://b.example/x?q=1"]
    pairs = [(href(), rng.choice(bases)) for _ in range(6000)]
    df = spark.createDataFrame(pairs, "href string, base string")
    c = with_fast_canonical(df)
    got = (c.withColumn(
        "url", F.when(F.col("_appl"), F.col("_fast_url"))
                .otherwise(canonicalize_udf(F.col("href"), F.col("base"))))
        .select("href", "base", "url").collect())
    for r in got:
        assert r["url"] == canonicalize(r["href"], r["base"]), \
            (repr(r["href"]), repr(r["base"]))
        # every canonical output must be a fixed point (decode-stable
        # scope — see test_fuzz_parity for the single-pass-decode boundary)
        if r["url"] is not None and html.unescape(r["url"]) == r["url"]:
            assert canonicalize(r["url"], r["base"]) == r["url"], \
                (repr(r["href"]), repr(r["url"]))
