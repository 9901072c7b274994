"""Deterministic synthetic fixtures (seed=42) per FIXTURES.md.

Generates the crawl universe in-repo — no external data: the image+caption
corpus (BASELINE.json input_hint shape), a synthetic web graph with a Zipf
host distribution and one mega-host (~20% of pages) to exercise skew salting,
a seed list, robots rules (re-expressing the semantics pinned by
/root/reference/commonTest/RobotsTest.cs — prefix rules, mid-``*`` wildcards,
``$`` anchors, per-user-agent sections, the ``Disallow: /news/0`` regression),
and initial host politeness state.

Generators are pure functions of (size, seed); the same code parameterizes the
unit tests (~10^3 rows) and the bench (~10^5 rows).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .functions import codec

SEED = 42

IMAGES_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("bytes", T.BinaryType()),
    T.StructField("w", T.IntegerType()),
    T.StructField("h", T.IntegerType()),
    T.StructField("fmt", T.StringType()),
    T.StructField("caption", T.StringType()),
    T.StructField("phash", T.LongType()),
    # strided pixel sample of the ORIGINAL (pre-encode) image: the ground
    # truth the fetch-side verify computes PSNR against (so the ≥40 dB
    # lossy invariant is a real comparison, not decode-vs-itself)
    T.StructField("ref_sample", T.BinaryType()),
])

WEBGRAPH_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("host", T.StringType()),
    T.StructField("image_id", T.StringType()),
    T.StructField("out_links", T.ArrayType(T.StringType())),
    T.StructField("status", T.IntegerType()),
    T.StructField("content_type", T.StringType()),
    # raw response body (null = pre-extracted out_links corpus); when set,
    # the engine extracts links from it (C3) instead of out_links
    T.StructField("body", T.StringType()),
    # P15: sites self-label adult content via a 'Rating' response header
    # (DefaultBlockProvider.cs:9-11); null = unrated
    T.StructField("rating", T.StringType()),
    # S7 redirect depth: non-null on 3xx pages — the engine follows ONE hop
    # for non-discardable items (seeds), mirroring AllowAutoRedirect =
    # !CanBeDiscarded (HttpResourceFetcher.cs:229); discardable items record
    # the 3xx and are dropped
    T.StructField("redirect_to", T.StringType()),
])

# the RTA label string sites send in their Rating header (P15 owner:
# operators/fetch.py — re-exported here for fixture generation)
from .operators.fetch import ADULT_RATING  # noqa: E402
from .operators.robots import DEFAULT_UA  # noqa: E402

_COLORS = ["red", "blue", "green", "amber", "violet", "teal", "coral", "slate"]
_SHAPES = ["circle", "square", "triangle", "hexagon", "star", "spiral"]
_BGS = ["white", "black", "paper", "noise", "gradient"]


def gen_images(n: int, seed: int = SEED,
               encode=codec.encode) -> list[tuple]:
    """Image+caption corpus rows (input_hint schema). PNG for i%3==0 else
    JPEG, written by ``encode`` — the stand-in by default, or e.g.
    ``PureCodec.encode`` for real-format bytes. The stored phash comes from
    ``codec.decode``, the same decoder the fetch-side verify runs."""
    rows = []
    sizes = [32, 64, 128]
    for i in range(n):
        rng = np.random.default_rng(seed + i)
        s = sizes[i % len(sizes)]
        px = rng.integers(0, 256, size=(s, s, 3), dtype=np.uint8)
        fmt = "png" if i % 3 == 0 else "jpeg"
        data = encode(px, fmt)
        # the stored phash is of the *decoded* pixels a fetcher will see
        dec, _ = codec.decode(data)
        cap = (f"a {_COLORS[i % len(_COLORS)]} {_SHAPES[i % len(_SHAPES)]} "
               f"on {_BGS[i % len(_BGS)]}, sample {i}")
        rows.append((f"img{i:08d}", bytearray(data), s, s, fmt, cap,
                     codec.phash64(dec),
                     bytearray(codec.ref_sample_bytes(px))))
    return rows


def host_name(host_id: int) -> str:
    return f"h{host_id}.example"


def _host_ids(n_pages: int, n_hosts: int, rng: np.random.Generator) -> np.ndarray:
    """Zipf(a=1.3)-ish over hosts with host 0 forced to ~20% of pages."""
    ranks = np.arange(1, n_hosts + 1, dtype=np.float64)
    w = ranks ** -1.3
    w[0] = w.sum() * 0.25  # mega-host ≈ 20% after renorm
    w /= w.sum()
    return rng.choice(n_hosts, size=n_pages, p=w)


def gen_webgraph(n_pages: int, n_hosts: int, n_images: int,
                 seed: int = SEED, html_bodies: bool = False,
                 media_links: bool = False,
                 adult_ratings: bool = False,
                 redirects: bool = False) -> list[tuple]:
    """Synthetic web: one row per servable page; out_links include dirty
    variants (fragments, //scheme-relative, relative, http:///, blocked
    schemes, &amp;-encoded) to exercise canonicalization (Utility.cs parity).

    ``html_bodies=True`` renders each page as a raw HTML (or occasionally
    plain-text) body embedding the same links as a/link/script tags — plus
    mid-document <base href> switches on some pages — so the raw-body link
    extractor (C3) drives the crawl instead of the out_links array.

    ``media_links=True`` sprinkles links to .jpg/.mp4/… URLs (P4 extension
    block targets); ``adult_ratings=True`` marks ~10% of pages with the RTA
    Rating header value (P15); ``redirects=True`` turns ~12% of pages into
    301/302 redirects pointing at another page (S7 redirect depth). All
    draw from independent rng streams so the base universe stays
    byte-identical when they're off.
    """
    rng = np.random.default_rng(seed)
    rng2 = np.random.default_rng(seed + 101)  # feature stream (P4/P15)
    rng3 = np.random.default_rng(seed + 202)  # redirect stream (S7)
    hids = _host_ids(n_pages, n_hosts, rng)
    per_host_seq: dict[int, int] = {}
    urls, hosts = [], []
    for hid in hids:
        k = per_host_seq.get(int(hid), 0)
        per_host_seq[int(hid)] = k + 1
        hosts.append(host_name(int(hid)))
        urls.append(f"http://{host_name(int(hid))}/p{k}")
    status = rng.choice([200, 404, 429, 500], size=n_pages,
                        p=[0.95, 0.02, 0.02, 0.01])
    img_idx = rng.integers(0, n_images, size=n_pages)
    rows = []
    for i in range(n_pages):
        n_links = int(rng.integers(5, 21))
        tgt = rng.integers(0, n_pages, size=n_links)
        links = []
        for j, t in enumerate(tgt):
            u = urls[int(t)]
            style = int(rng.integers(0, 8))
            if style == 0:
                links.append(u)
            elif style == 1:
                links.append(u + "#frag" + str(j))
            elif style == 2:
                links.append(u[len("http:"):])            # //host/path
            elif style == 3 and hosts[int(t)] == hosts[i]:
                links.append(u.split(".example", 1)[1])    # site-relative /pK
            elif style == 4:
                links.append(u + "?a=1&amp;b=2")           # html-encoded query
            elif style == 5:
                links.append("HTTP://" + u[len("http://"):].upper()
                             .replace("/P", "/p"))         # case noise in host
            elif style == 6:
                links.append("mailto:x@" + hosts[int(t)])  # unsupported scheme
            else:
                links.append(u)
        if media_links and rng2.random() < 0.5:
            exts = [".jpg", ".png", ".mp4", ".mp3", ".svg"]
            e = exts[int(rng2.integers(0, len(exts)))]
            links.append(f"http://{hosts[i]}/media/m{i}{e}")
            # extension check is on the PATH only — a query string after a
            # blocked extension must not hide it, and a blocked-looking
            # query value on a clean path must not trigger it
            if rng2.random() < 0.3:
                links.append(f"http://{hosts[i]}/asset{i}{e}?v=2")
                links.append(f"http://{hosts[i]}/ok{i}?file=x{e}")
        body, ctype = None, "text/html"
        if html_bodies:
            style = int(rng.integers(0, 10))
            if style == 0:  # plain-text body: raw-URL + href= scanning path
                ctype = "text/plain"
                parts = [f"notes for {urls[i]} :"]
                for j, ln in enumerate(links[:6]):
                    parts.append(f'see "{ln}"' if j % 2 == 0
                                 else f'ref href="{ln}" end')
                body = " ".join(parts)
            else:
                head = [f"<title>Page {i}</title>"]
                tail = []
                k = 0
                if style == 1 and links:  # mid-doc <base> switch
                    head.append(f'<link href="{links[0]}">')
                    k = 1
                    tail.append(
                        f'<base href="http://{host_name((i + 1) % n_hosts)}'
                        f'/based/">')
                for j, ln in enumerate(links[k:]):
                    if j % 5 == 4:
                        tail.append(f'<script src="{ln}"></script>')
                    elif j % 5 == 3:
                        tail.append(f'<link href="{ln}">')
                    else:
                        tail.append(f'<a href="{ln}">link {j}</a>')
                body = ("<html><head>" + "".join(head) + "</head><body>"
                        + "".join(tail) + "</body></html>")
        rating = (ADULT_RATING
                  if adult_ratings and rng2.random() < 0.1 else None)
        redirect_to = None
        st = int(status[i])
        if redirects and rng3.random() < 0.12:
            # a redirect response: 3xx status, Location header, no payload,
            # no body, no links (HttpWebResponse of a bare 301/302)
            st = 301 if rng3.random() < 0.7 else 302
            redirect_to = urls[int(rng3.integers(0, n_pages))]
            links, body, rating = [], None, None
        rows.append((urls[i], hosts[i], f"img{int(img_idx[i]):08d}",
                     links, st, ctype, body, rating, redirect_to))
    return rows


def gen_seeds(webgraph_rows: list[tuple], k: int = 20, seed: int = SEED) -> list[str]:
    """Seed list: k URLs across ≥10 distinct hosts (north rule: same seed list)."""
    rng = np.random.default_rng(seed)
    by_host: dict[str, list[str]] = {}
    for r in webgraph_rows:
        by_host.setdefault(r[1], []).append(r[0])
    hosts = sorted(by_host)[: max(10, k // 2)]
    out: list[str] = []
    i = 0
    while len(out) < k and hosts:
        h = hosts[i % len(hosts)]
        cand = by_host[h]
        out.append(cand[int(rng.integers(0, len(cand)))])
        i += 1
    return sorted(set(out))[:k]


# robots: (host, user_agent, directive, pattern) + golden expectations
ROBOTS_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("user_agent", T.StringType()),
    T.StructField("directive", T.StringType()),
    T.StructField("pattern", T.StringType()),
])


def gen_robots(n_hosts: int, seed: int = SEED) -> list[tuple]:
    """~30% of hosts get rules. Host 1 carries the RobotsTest parity cases
    (re-expressed from commonTest/RobotsTest.cs:24-38,113-128 — not copied):
    prefix, mid-*, $ anchor, and the /news/0 prefix regression."""
    rng = np.random.default_rng(seed + 7)
    rows = [
        (host_name(1), "*", "disallow", "/private"),
        (host_name(1), "*", "disallow", "/tmp/*.bak"),
        (host_name(1), "*", "disallow", "/exact$"),
        (host_name(1), "*", "disallow", "/news/0"),
        (host_name(2), DEFAULT_UA, "disallow", "/"),     # UA-specific full block
        (host_name(2), "*", "disallow", "/nobots"),
        (host_name(3), "*", "disallow", "/"),            # fully blocked host
    ]
    for hid in range(4, n_hosts):
        if rng.random() < 0.3:
            p = int(rng.integers(0, 40))
            rows.append((host_name(hid), "*", "disallow", f"/p{p}"))
    return rows


HOSTS_SCHEMA = T.StructType([
    T.StructField("host", T.StringType()),
    T.StructField("crawl_delay_ms", T.IntegerType()),
    T.StructField("network_issues", T.IntegerType()),
])


def gen_hosts(n_hosts: int, seed: int = SEED,
              default_delay_ms: int = 20_000) -> list[tuple]:
    """Initial politeness state; default 20 s/host
    (FetchoConfiguration.cs:30-31), a few faster/slower hosts."""
    rng = np.random.default_rng(seed + 13)
    rows = []
    for hid in range(n_hosts):
        r = rng.random()
        delay = 5_000 if r < 0.1 else (60_000 if r > 0.95 else default_delay_ms)
        rows.append((host_name(hid), delay, 0))
    return rows


# ------------------------------------------------------------------ to Spark

def images_df(spark: SparkSession, n: int, seed: int = SEED) -> DataFrame:
    return spark.createDataFrame(gen_images(n, seed), IMAGES_SCHEMA)


def webgraph_df(spark: SparkSession, n_pages: int, n_hosts: int, n_images: int,
                seed: int = SEED, html_bodies: bool = False,
                media_links: bool = False,
                adult_ratings: bool = False,
                redirects: bool = False) -> DataFrame:
    return spark.createDataFrame(
        gen_webgraph(n_pages, n_hosts, n_images, seed, html_bodies,
                     media_links, adult_ratings, redirects),
        WEBGRAPH_SCHEMA)


def robots_df(spark: SparkSession, n_hosts: int, seed: int = SEED) -> DataFrame:
    return spark.createDataFrame(gen_robots(n_hosts, seed), ROBOTS_SCHEMA)


def hosts_df(spark: SparkSession, n_hosts: int, seed: int = SEED,
             default_delay_ms: int = 20_000) -> DataFrame:
    return spark.createDataFrame(
        gen_hosts(n_hosts, seed, default_delay_ms), HOSTS_SCHEMA)


def gen_robots_pages(n_hosts: int, every: int = 2) -> list[tuple]:
    """Webgraph rows for ``/robots.txt`` pages on every ``every``-th host
    (the rest miss — the acquisition's 404 path): prefix + anchored rules,
    an Allow override, comments, a Sitemap line, and (every 4th host) a
    UA-specific ``fetcho`` group that SUPPRESSES the ``*`` group per the
    reference's per-UA precedence — the live-acquisition fixture (S5,
    CrawlConfig.fetch_robots). Concatenate with gen_webgraph() rows."""
    rows = []
    for h in range(0, n_hosts, every):
        host = host_name(h)
        body = ("# synthetic robots\n"
                "User-agent: *\n"
                f"Disallow: /p{h}\n"
                "Disallow: /private/\n"
                f"Allow: /p{h}0\n"
                f"Sitemap: http://{host}/sitemap.xml\n")
        if h % 4 == 0:
            body += ("User-agent: fetcho\n"
                     f"Disallow: /q{h}$\n"
                     f"Disallow: /p{h + 1}\n")
        rows.append((f"http://{host}/robots.txt", host, None, [], 200,
                     "text/plain", body, None, None))
    return rows


def gen_sitemap_pages(n_hosts: int) -> list[tuple]:
    """Webgraph rows exercising sitemap seed discovery (S8+,
    CrawlConfig.fetch_sitemaps) for the hosts gen_robots_pages gives a
    ``Sitemap:`` line (every 2nd): by host id mod 8 — 0: a real urlset
    (an ORPHAN page linked from nowhere else + an existing page + an
    &amp;-entity loc); 2: malformed XML (err path, job survives); 4: a
    sitemapindex (children must NOT be followed); 6: no sitemap page at
    all (404 miss). Orphan pages ride along so injection is provable."""
    rows = []
    for h in range(0, n_hosts, 2):
        host = host_name(h)
        sm_url = f"http://{host}/sitemap.xml"
        if h % 8 == 0:
            body = ('<?xml version="1.0"?>'
                    '<urlset xmlns="http://www.sitemaps.org/schemas/'
                    'sitemap/0.9">'
                    # CROSS-host orphan loc: a same-host loc inherits the
                    # SAME_HOST priority demotion and starves behind the
                    # 3-fetch/host politeness budget for many rounds
                    # (measured) — a cross-host referrer rides the base band
                    f"<url><loc>http://{host_name(h + 1)}/orphan{h}</loc>"
                    "<changefreq>daily</changefreq></url>"
                    f"<url><loc>http://{host}/p0</loc></url>"
                    f"<url><loc>http://{host}/p1?a=1&amp;b=2</loc></url>"
                    "</urlset>")
            rows.append((f"http://{host_name(h + 1)}/orphan{h}",
                         host_name(h + 1), None, [], 200,
                         "text/html", None, None, None))
        elif h % 8 == 2:
            body = "<urlset><url><loc>broken"
        elif h % 8 == 4:
            body = ('<sitemapindex><sitemap>'
                    f"<loc>http://{host}/child.xml</loc>"
                    "</sitemap></sitemapindex>")
        else:
            continue
        rows.append((sm_url, host, None, [], 200, "application/xml",
                     body, None, None))
    return rows
