"""robots.txt gating — semantics pinned by commonTest/RobotsTest.cs
(/root/reference/commonTest/RobotsTest.cs:24-38,76-86,113-128), re-expressed."""

import pytest

from fetcho_spark.operators.robots import HostRules, compile_rules


def _rules(*pairs):
    return HostRules([(d == "allow", p) for d, p in pairs])


def test_prefix_disallow():
    r = _rules(("disallow", "/private"))
    assert r.disallowed("/private")
    assert r.disallowed("/private/sub/page")
    assert r.disallowed("/privateer")      # pure prefix semantics
    assert not r.disallowed("/public")
    assert not r.disallowed("/")


def test_mid_wildcard():
    r = _rules(("disallow", "/tmp/*.bak"))
    assert r.disallowed("/tmp/x.bak")
    assert r.disallowed("/tmp/a/b/c.bak")
    assert r.disallowed("/tmp/x.bak.old")  # prefix after wildcard
    assert not r.disallowed("/tmp/x.txt")


def test_dollar_anchor():
    r = _rules(("disallow", "/exact$"))
    assert r.disallowed("/exact")
    assert not r.disallowed("/exact/sub")
    assert not r.disallowed("/exactly")


def test_news_zero_regression():
    # RobotsTest.cs:113-128 — '/news/0' must not block '/news/world-…'
    r = _rules(("disallow", "/news/0"))
    assert r.disallowed("/news/0")
    assert r.disallowed("/news/0123")
    assert not r.disallowed("/news/world-asia-12345")
    assert not r.disallowed("/news/")


def test_allow_overrides_disallow_when_longer():
    r = _rules(("disallow", "/a"), ("allow", "/a/ok"))
    assert r.disallowed("/a/x")
    assert not r.disallowed("/a/ok/page")


def test_allow_wins_ties():
    r = _rules(("disallow", "/a/b"), ("allow", "/a/b"))
    assert not r.disallowed("/a/b")


def test_per_user_agent_sections():
    rows = [
        ("h.example", "*", "disallow", "/common"),
        ("h.example", "fetcho", "disallow", "/only-fetcho"),
    ]
    ours = compile_rules(rows, "fetcho")
    assert ours["h.example"].disallowed("/only-fetcho")
    # specific-UA group replaces the * group entirely (github fixture shape)
    assert not ours["h.example"].disallowed("/common")
    generic = compile_rules(rows, "otherbot")
    assert generic["h.example"].disallowed("/common")
    assert not generic["h.example"].disallowed("/only-fetcho")


def test_full_block_and_empty_pattern():
    rows = [("h.example", "*", "disallow", "/"),
            ("e.example", "*", "disallow", "")]
    c = compile_rules(rows)
    assert c["h.example"].disallowed("/anything")
    assert "e.example" not in c            # empty Disallow == allow all


@pytest.mark.spark
def test_distributed_compile_matches_hostrules(spark):
    """The distributed JVM compile (groupBy + collect_list + LIKE arrays,
    no driver collect) must gate exactly like the HostRules oracle across
    prefix / mid-* / $-anchor / per-UA / allow-tie / LIKE-metachar rules."""
    from fetcho_spark.operators.robots import (apply_robots_gate,
                                               rules_like_df)
    rows = [
        ("a.ex", "*", "disallow", "/private"),
        ("a.ex", "*", "disallow", "/tmp/*.bak"),
        ("a.ex", "*", "disallow", "/exact$"),
        ("a.ex", "*", "disallow", "/news/0"),
        ("a.ex", "*", "allow", "/private/ok"),
        ("b.ex", "fetcho", "disallow", "/only-fetcho"),
        ("b.ex", "*", "disallow", "/common"),
        ("c.ex", "*", "disallow", "/"),
        ("d.ex", "*", "disallow", ""),              # empty == allow all
        ("e.ex", "*", "disallow", "/100%_x"),       # LIKE metachars escaped
    ]
    paths = ["/", "/private", "/private/ok/x", "/privateer", "/tmp/a.bak",
             "/tmp/x.txt", "/exact", "/exact/sub", "/news/0123",
             "/news/world-asia", "/only-fetcho", "/common", "/anything",
             "/100%_x/y", "/100yz"]
    robots = spark.createDataFrame(
        rows, "host string, user_agent string, directive string, "
              "pattern string")
    frontier = spark.createDataFrame(
        [(h, p) for h in ("a.ex", "b.ex", "c.ex", "d.ex", "e.ex", "f.ex")
         for p in paths], "host string, path string")
    kept = {(r["host"], r["path"]) for r in
            apply_robots_gate(frontier,
                              rules_like_df(robots)).collect()}
    oracle = compile_rules(rows)
    for h in ("a.ex", "b.ex", "c.ex", "d.ex", "e.ex", "f.ex"):
        for p in paths:
            want = not (h in oracle and oracle[h].disallowed(p))
            assert ((h, p) in kept) == want, (h, p, want)


def test_robots_match_throughput():
    # BASELINE.md: reference does 5M checks < 14 s single-thread. Scaled-down
    # smoke (100k checks < 3 s) to keep CI fast; bench.py measures at scale.
    import time
    r = _rules(("disallow", "/private"), ("disallow", "/tmp/*.bak"),
               ("disallow", "/news/0"), ("allow", "/private/ok"))
    paths = [f"/p{i}" for i in range(50)] + ["/private/x", "/tmp/a.bak"]
    t0 = time.time()
    n = 0
    for _ in range(2000):
        for p in paths:
            r.disallowed(p)
            n += 1
    dt = time.time() - t0
    assert n == 104_000
    assert dt < 3.0
