"""Pure-Python oracle crawl simulator (SURVEY.md §5b, §7.1).

The reference is nondeterministic by construction (wall-clock-seeded Randoms,
DNS timing, task interleaving — NaiveQueueOrderingModel.cs:15,
TypeExtensions.cs:21). "Reproduce the reference's crawl ordering" is therefore
defined against this **seeded executable spec** of fetcho's semantics: the
same canonicalization, the same seeded priority model, the same politeness
budget, the same robots gating — implemented twice, once as distributed
DataFrame ops (crawl.py) and once here as a few hundred lines of plain Python
over in-memory dicts. The golden test asserts **identical crawl order and
identical final seen set** between the two, at two parallelism levels.

Shares the exact leaf functions with the engine (canonicalize, xxh64,
compile_rules, priority constants) so any divergence is a real semantic bug,
never a reimplementation drift.
"""

from __future__ import annotations

import datetime as dt
import re
from dataclasses import dataclass, field

from .crawl import EPOCH0, CrawlConfig
from .functions.hashing import xxh64, xxh64_signed
from .operators.fetch import ADULT_RATING, MAX_BODY_BYTES
from .functions.urls import canonicalize, frontier_host
from .operators import priority as pr
from .operators.frontier import (BLOCKED_TLDS, MAX_NETWORK_ISSUES,
                                 N_IP_GROUPS, NO_IP_BUCKETS)
from .operators.robots import compile_rules, parse_robots_text
from .sources.sitemaps import parse_sitemap

_SCHEME_RE = re.compile(r"^https?://")
_PATH_RE = re.compile(r"^https?://[^/]*")
_EXTPATH_RE = re.compile(r"^https?://[^/?#]*([^?#]*)")  # P4: path sans query


def spark_xxhash64_2(s1: str, s2: str) -> int:
    """Spark ``xxhash64(col1, col2)``: columns hashed left→right, previous
    hash feeding the next seed (starting 42)."""
    h1 = xxh64(s1.encode("utf-8"), 42)
    return xxh64_signed(s2.encode("utf-8"), h1)


@dataclass
class FrontierItem:
    url: str
    host: str
    src_url: str | None
    src_host: str | None
    round_added: int
    # derived per round
    url_hash64: int = 0
    priority: int = 0
    chunk_seq: int = 0


@dataclass
class SimResult:
    log: list[dict] = field(default_factory=list)     # round, fetch_seq, url, …
    seen: dict[int, dt.datetime] = field(default_factory=dict)
    counters: list[dict] = field(default_factory=list)


def simulate(seeds: list[str], webgraph_rows: list[tuple],
             robots_rows: list[tuple], hosts_rows: list[tuple],
             n_rounds: int, cfg: CrawlConfig | None = None) -> SimResult:
    cfg = cfg or CrawlConfig()
    web = {r[0]: {"host": r[1], "image_id": r[2], "out_links": r[3],
                  "status": r[4],
                  "content_type": r[5] if len(r) > 5 else "text/html",
                  "body": r[6] if len(r) > 6 else None,
                  "rating": r[7] if len(r) > 7 else None,
                  "redirect_to": r[8] if len(r) > 8 else None}
           for r in webgraph_rows}
    links_accepted = 0  # P14 cumulative quota state
    hosts = {r[0]: {"crawl_delay_ms": r[1], "network_issues": r[2]}
             for r in hosts_rows}
    robots_all = [tuple(r) for r in robots_rows]
    robots = compile_rules(robots_all)
    robots_attempted: set[str] = set()
    res = SimResult()
    recent_ips: dict[int, set[int]] = {}
    frontier = [FrontierItem(u, frontier_host(u), None, None, 0)
                for u in seeds]

    for round_no in range(n_rounds):
        now = EPOCH0 + dt.timedelta(milliseconds=round_no * cfg.round_ms)
        base = pr.base_priority(cfg.seed, round_no)

        # P1 dedup — deterministic survivor: min (src_url nulls-first, round)
        def _dedup_key(x: FrontierItem):
            return (x.src_url is not None, x.src_url or "", x.round_added)
        by_url: dict[str, FrontierItem] = {}
        for it in frontier:
            prev = by_url.get(it.url)
            if prev is None or _dedup_key(it) < _dedup_key(prev):
                by_url[it.url] = it
        items = list(by_url.values())

        # S5 live robots acquisition — mirror of the engine block
        # (crawl.py run_round): hosts newly seen in the deduped frontier,
        # once each; rules take effect in the SAME round's gate
        sitemap_seeds: list[FrontierItem] = []
        if cfg.fetch_robots:
            changed = False
            for h in sorted({it.host for it in items} - robots_attempted):
                robots_attempted.add(h)
                page = web.get(f"http://{h}/robots.txt")
                if page and page["status"] == 200 and page["body"]:
                    rules, sitemaps = parse_robots_text(page["body"])
                    robots_all += [(h, ua, d, p) for ua, d, p in rules]
                    changed = True
                    # S8+ sitemap seed discovery (mirror of the engine's
                    # _discover_sitemap_seeds): urlset locs only, one level,
                    # canonicalized against the sitemap URL, queued for the
                    # NEXT round with the sitemap as referrer
                    if cfg.fetch_sitemaps:
                        for sm in sitemaps:
                            sp = web.get(sm)
                            if not (sp and sp["status"] == 200
                                    and sp["body"]):
                                continue
                            try:
                                kind, entries = parse_sitemap(sp["body"])
                            except ValueError:
                                continue
                            if kind != "urlset":
                                continue
                            for en in entries:
                                cu = canonicalize(en["loc"], sm)
                                if cu is not None:
                                    sitemap_seeds.append(FrontierItem(
                                        cu, frontier_host(cu), sm,
                                        frontier_host(sm), round_no + 1))
            if changed:
                robots = compile_rules(robots_all)

        # cheap cascade P2/P3/P5/P4 + keys + synthetic IP J3/P6
        survivors = []
        for it in items:
            if not _SCHEME_RE.match(it.url):
                continue
            if not it.host or it.host.startswith("0."):
                continue
            if it.host.rsplit(".", 1)[-1] in BLOCKED_TLDS:
                continue
            if cfg.blocked_extensions:
                m = _EXTPATH_RE.match(it.url)
                path = m.group(1) if m else ""
                if any(path.endswith(e) for e in cfg.blocked_extensions):
                    continue
            it.url_hash64 = xxh64_signed(it.url.encode("utf-8"))
            survivors.append(it)
        items = survivors

        # P8 seen (exact, TTL-aware)
        items = [it for it in items
                 if not (it.url_hash64 in res.seen
                         and res.seen[it.url_hash64] > now)]

        # P10 flaky-network
        items = [it for it in items
                 if hosts.get(it.host, {}).get("network_issues", 0)
                 <= MAX_NETWORK_ISSUES]

        # P9 IP-seen-recently (only when enabled; seeds not discardable)
        if cfg.ip_window_rounds > 0:
            window_ips: set[int] = set()
            for r in range(max(0, round_no - cfg.ip_window_rounds), round_no):
                window_ips |= recent_ips.get(r, set())
            items = [it for it in items
                     if it.src_url is None
                     or (xxh64_signed(it.host.encode("utf-8")) % N_IP_GROUPS)
                     not in window_ips]

        # O1 priority + P12
        kept = []
        for it in items:
            ip_group = xxh64_signed(it.host.encode("utf-8")) % N_IP_GROUPS
            has_ip = ip_group >= NO_IP_BUCKETS
            if not has_ip:
                it.priority = pr.NO_IP
            elif it.src_host is not None and it.src_host == it.host:
                it.priority = pr.SAME_HOST_LO + (
                    spark_xxhash64_2(it.url, f"r{round_no}s{cfg.seed}")
                    % pr.SAME_HOST_RANGE)
            else:
                it.priority = base
            if it.priority <= pr.MAX_PRIORITY:
                kept.append(it)
        items = kept

        # O2 chunk_seq per host + P13
        per_host: dict[str, list[FrontierItem]] = {}
        for it in items:
            per_host.setdefault(it.host, []).append(it)
        items = []
        for h, lst in per_host.items():
            lst.sort(key=lambda x: (x.priority, x.url_hash64))
            for i, it in enumerate(lst):
                it.chunk_seq = i
                if i < cfg.max_chunk:
                    items.append(it)

        # P11 robots (path includes query, matching the engine's regex)
        def path_of_url(u: str) -> str:
            p = _PATH_RE.sub("", u)
            return p if p else "/"
        items = [it for it in items
                 if not (it.host in robots
                         and robots[it.host].disallowed(path_of_url(it.url)))]

        # O5 politeness budget split
        selected, carryover = [], []
        for it in items:
            delay = hosts.get(it.host, {}).get("crawl_delay_ms") or 20_000
            budget = max(1, cfg.round_ms // delay)
            (selected if it.chunk_seq < budget else carryover).append(it)

        # deterministic global fetch order
        selected.sort(key=lambda x: (x.priority, x.url_hash64, x.url))

        next_fetch = now + dt.timedelta(milliseconds=cfg.ttl_ms)
        new_links: list[FrontierItem] = []
        err_by_host: dict[str, list[int]] = {}
        n_ok = 0
        for seq, it in enumerate(selected):
            page = web.get(it.url)
            status = page["status"] if page else 404
            # S7 redirect (AllowAutoRedirect = !CanBeDiscarded): seeds (no
            # referrer) follow ONE hop to the target page; discardable items
            # record the 3xx and get no payload/links (fetch.py mirror)
            base_url = it.url
            if (page and status in (301, 302)
                    and page.get("redirect_to") is not None
                    and it.src_url is None):
                base_url = page["redirect_to"]
                page = web.get(base_url)
                status = page["status"] if page else 404
            # S7 If-Modified-Since: refetch of an expired-TTL seen URL →
            # 304 Not Modified, no payload/body/links (fetch.py mirror)
            if (cfg.revalidation and status == 200
                    and it.url_hash64 in res.seen):
                status = 304
            # P15 block-before-download: RTA rating or over-length body —
            # attempt logged + seen, payload/links suppressed (fetch.py);
            # a 304 carries no body/Rating header, so it never blocks
            blocked = False
            if page and status != 304:
                if page.get("rating") == ADULT_RATING:
                    blocked = True
                elif (page.get("body") is not None
                      and len(page["body"].encode("utf-8")) > MAX_BODY_BYTES):
                    blocked = True
            image_id = (page["image_id"]
                        if page and status == 200 and not blocked else None)
            res.log.append({"round": round_no, "fetch_seq": seq,
                            "url": it.url, "url_hash64": it.url_hash64,
                            "host": it.host, "image_id": image_id,
                            "status": status, "priority": it.priority})
            res.seen[it.url_hash64] = next_fetch
            if status >= 400:
                err_by_host.setdefault(it.host, []).append(status)
            if page and status == 200:
                n_ok += 1
                if blocked:
                    continue  # nothing downloaded → no links
                # raw-body pages share the engine's exact extractor (C3)
                # links resolve against the FINAL response URI (base_url ==
                # it.url unless a redirect was followed); the frontier
                # referrer stays the queue item's url/host
                if page.get("body") is not None:
                    from .operators.htmllinks import (extract_html_links,
                                                      extract_text_links)
                    ct = page.get("content_type") or ""
                    fn = (extract_html_links if "html" in ct
                          else extract_text_links)
                    pairs = fn(page["body"], base_url)
                else:
                    pairs = [(href, base_url) for href in page["out_links"]]
                links = []
                for href, base in pairs:
                    cu = canonicalize(href, base)
                    if cu is None:
                        continue
                    links.append(cu)
                links.sort(key=lambda u: spark_xxhash64_2(
                    u, f"links:{cfg.seed}:{round_no}"))
                for cu in links[: cfg.max_links_per_page]:
                    new_links.append(FrontierItem(
                        cu, frontier_host(cu), it.url, it.host,
                        round_no + 1))

        # host feedback — only hosts present in the hosts state table get
        # updated (the engine's apply_429_penalty left-joins the hosts table;
        # unknown hosts fall back to defaults at join time)
        for h, statuses in err_by_host.items():
            rec = hosts.get(h)
            if rec is None:
                continue
            rec["network_issues"] = rec.get("network_issues", 0) + len(statuses)
            rec["crawl_delay_ms"] = (rec.get("crawl_delay_ms") or 20_000) + \
                5_000 * sum(1 for s in statuses if s == 429)
        if cfg.ip_window_rounds > 0:
            recent_ips[round_no] = {
                xxh64_signed(it.host.encode("utf-8")) % N_IP_GROUPS
                for it in selected}

        # P14 — global link quota: accept links in seeded-hash order up to
        # the remaining budget (mirrors the engine's TakeOrdered cut)
        if cfg.max_link_quota is not None:
            remaining = cfg.max_link_quota - links_accepted
            if remaining <= 0:
                new_links = []
            else:
                new_links.sort(key=lambda x: (
                    spark_xxhash64_2(x.url, f"quota:{cfg.seed}:{round_no}"),
                    x.url, x.src_url or ""))
                new_links = new_links[:remaining]
            links_accepted += len(new_links)

        res.counters.append({"round": round_no, "fetched": len(selected),
                             "fetched_ok": n_ok, "new_links": len(new_links),
                             "carryover": len(carryover)})
        frontier = [FrontierItem(it.url, it.host, it.src_url, it.src_host,
                                 it.round_added) for it in carryover] \
            + new_links + sitemap_seeds
    return res
