"""Raw-HTML / raw-text link extraction (SURVEY.md §2.8 C3).

Re-expresses the reference's two ILinkExtractors — not a translation of
their streaming readers, but the same observable link set:

- HTML (common/ContentReader/HtmlFileLinkExtractor.cs:26-80): hrefs of
  ``<a>``/``<link>``, ``src`` of ``<script>``, and ``<base href>`` which
  RESETS the resolution base for every subsequent link (document order
  matters — links before the base tag resolve against the page URL).
- plain text (common/ContentReader/TextFileLinkExtractor.cs:29-166): scan
  for ``http``-prefixed runs (terminated by whitespace/quote/``<``/closing
  bracket of the opening delimiter) and ``href=`` attribute values
  (quoted), html-decoding candidates — ported test cases in
  tests/test_htmllinks.py.

Each extractor is a pure function (shared byte-for-byte with the oracle
simulator, like the canonicalizer) wrapped in one Arrow-batched pandas UDF
returning ``array<struct<href,base>>`` — the hybrid JVM/UDF canonicalizer
then runs on the exploded pairs, so the hot path after extraction stays in
whole-stage codegen.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.urls import canonicalize

_TAG_RE = re.compile(r"<(a|script|link|base)\b([^>]*)>", re.I)
_ATTR_RE = re.compile(
    r"""([a-zA-Z-]+)\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+))""")

_OPEN_TO_CLOSE = {'"': '"', "'": "'", "(": ")", "[": "]", "{": "}", "<": ">"}
_HTTP_STOP = set(" '\t\n\r<")
_HREF_ATTR_RE = re.compile(r"""href=\s*("([^"]*)"|'([^']*)')""", re.I)
_HTTP_RUN_RE = re.compile(r"http")


def _attrs(attr_text: str) -> dict[str, str]:
    out = {}
    for m in _ATTR_RE.finditer(attr_text):
        out[m.group(1).lower()] = next(
            g for g in m.groups()[1:] if g is not None)
    return out


def extract_html_links(html_src: str | None,
                       page_url: str | None) -> list[tuple[str, str]]:
    """→ [(raw href, effective base url), …] in document order.
    a[href], link[href], script[src]; base[href] switches the base for all
    following links (HtmlFileLinkExtractor.cs:64-76 semantics)."""
    if not html_src:
        return []
    base = page_url
    out: list[tuple[str, str]] = []
    for m in _TAG_RE.finditer(html_src):
        tag = m.group(1).lower()
        attrs = _attrs(m.group(2))
        if tag == "base":
            href = attrs.get("href")
            if href and href.strip():
                b = canonicalize(href, None)
                if b is not None:
                    base = b
            continue
        href = attrs.get("src" if tag == "script" else "href")
        if href and href.strip():
            out.append((href, base))
    return out


def extract_text_links(text: str | None,
                       page_url: str | None) -> list[tuple[str, str]]:
    """→ [(raw candidate, base), …]: 'http…' runs (stopping at whitespace,
    quotes, '<', or the closing bracket of the delimiter that preceded the
    run) and quoted href= values, html-decoded — TextFileLinkExtractor's
    observable behavior, without the char-at-a-time stream machinery."""
    if not text:
        return []
    out: list[tuple[str, str]] = []
    taken: list[tuple[int, int]] = []
    for m in _HREF_ATTR_RE.finditer(text):
        cand = m.group(2) if m.group(2) is not None else m.group(3)
        cand = _html.unescape(cand).strip()
        if cand:
            out.append((cand, page_url))
            taken.append(m.span())
    for m in _HTTP_RUN_RE.finditer(text):
        s = m.start()
        if any(a <= s < b for a, b in taken):
            continue  # already captured via href=
        stop = set(_HTTP_STOP)
        if s > 0 and text[s - 1] in _OPEN_TO_CLOSE:
            stop.add(_OPEN_TO_CLOSE[text[s - 1]])
        e = s
        while e < len(text) and text[e] not in stop:
            e += 1
        cand = _html.unescape(text[s:e])
        if len(cand) > len("http"):
            out.append((cand, page_url))
    return out


_LINKS_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("href", T.StringType()),
    T.StructField("base", T.StringType()),
]))


@F.pandas_udf(_LINKS_SCHEMA)
def extract_links_udf(body: pd.Series, url: pd.Series,
                      content_type: pd.Series) -> pd.Series:
    """One Arrow crossing: raw body → (href, base) pairs, HTML or text mode
    by content type (ContentReader dispatch)."""
    out = []
    for b, u, ct in zip(body, url, content_type):
        if b is None:
            out.append([])
        elif ct is not None and "html" in ct:
            out.append(extract_html_links(b, u))
        else:
            out.append(extract_text_links(b, u))
    return pd.Series(out, dtype=object)


# ------------------------------------------------------ anchor-text index

_A_RE = re.compile(r"<a\b([^>]*)>(.*?)</a\s*>", re.I | re.S)
_INNER_TAG_RE = re.compile(r"<[^>]*>")
_WS_RE = re.compile(r"\s+")


def extract_anchors(html_src: str | None, page_url: str | None
                    ) -> list[tuple[str, str, str]]:
    """→ [(raw href, effective base, anchor text), …] in document order.

    The search-signal companion to :func:`extract_html_links` (the
    reference extracts hrefs only — anchor text is the classic ranking
    feature its reado search lacks). Anchor text is the ``<a>…</a>``
    inner content with nested tags stripped, entities decoded, and
    whitespace collapsed; ``<base href>`` switches the base exactly as in
    link extraction. Anchors without an href, or with empty text after
    normalization, are dropped. NOT in the crawl path — the crawl's link
    set stays byte-identical to the simulator.
    """
    if not html_src:
        return []
    base = page_url
    out: list[tuple[str, str, str]] = []
    # walk base switches and <a> bodies in one document-order pass
    events: list[tuple[int, str, object]] = []
    for m in _TAG_RE.finditer(html_src):
        if m.group(1).lower() == "base":
            events.append((m.start(), "base", _attrs(m.group(2))))
    for m in _A_RE.finditer(html_src):
        events.append((m.start(), "a", m))
    for _pos, kind, payload in sorted(events, key=lambda e: e[0]):
        if kind == "base":
            href = payload.get("href")
            if href and href.strip():
                b = canonicalize(href, None)
                if b is not None:
                    base = b
            continue
        m = payload
        href = _attrs(m.group(1)).get("href")
        if not href or not href.strip():
            continue
        text = _WS_RE.sub(" ", _html.unescape(
            _INNER_TAG_RE.sub(" ", m.group(2)))).strip()
        if text:
            out.append((href, base, text))
    return out


_ANCHORS_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("href", T.StringType()),
    T.StructField("base", T.StringType()),
    T.StructField("anchor", T.StringType()),
]))


@F.pandas_udf(_ANCHORS_SCHEMA)
def extract_anchors_udf(body: pd.Series, url: pd.Series) -> pd.Series:
    out = []
    for b, u in zip(body, url):
        out.append(extract_anchors(b, u) if b is not None else [])
    return pd.Series(out, dtype=object)


# --- keyword fragments (reference HTMLKeywordParser semantics) ----------
#
# common/ContentReader/HTMLKeywordParser.cs (via Grammars/html/HTMLLexer.g4):
# walk the document emitting every htmlChardata run and (optionally) every
# htmlComment token, each .Trim()med, length-checked INCLUSIVELY against
# [min, max] on the trimmed raw text, then HTML-decoded. Comment tokens are
# emitted WITH their delimiters (the listener calls context.GetText() on
# the whole HTML_COMMENT token) — mirrored verbatim. Script/style bodies,
# DTDs, scriptlets and XML declarations are separate lexer tokens, never
# chardata. The grammar ties '<![CDATA[x]]>' to HTML_CONDITIONAL_COMMENT
# (same length, earlier rule), so CDATA surfaces as a comment — mirrored
# by the conditional-comment alternative below.
_HTML_TOKEN_RE = re.compile(
    r"<!--.*?-->"                       # HTML_COMMENT (delims included)
    r"|<!\[.*?\]>"                      # HTML_CONDITIONAL_COMMENT / CDATA
    r"|<\?.*?\?>|<%.*?%>"               # SCRIPTLET / XML_DECLARATION
    r"|<script\b.*?(?:</script[^>]*>|$)"   # SCRIPT_OPEN + SCRIPT_BODY
    r"|<style\b.*?(?:</style[^>]*>|$)"     # STYLE_OPEN + STYLE_BODY
    r"|<!.*?>"                          # DTD
    r"|<[^>]*>",                        # TAG mode
    re.I | re.S)


def extract_keywords(html_src: str | None, min_len: int = 1,
                     max_len: int | None = None,
                     include_chardata: bool = True,
                     include_comments: bool = True) -> list[str]:
    """HTMLKeywordParser.cs analog → document-order keyword fragments.

    Each chardata run between tags and each comment token is trimmed,
    kept iff ``min_len <= len(trimmed) <= max_len`` (inclusive, like the
    reference's ``IsBetween``; ``max_len=None`` = unbounded), then
    HTML-decoded (``HttpUtility.HtmlDecode`` ≈ ``html.unescape``). The
    reference's defaults (int.MinValue..int.MaxValue) admit empty
    fragments from whitespace-only SEA_WS runs; ``min_len`` defaults to
    1 to skip those — pass 0 for byte-faithful emptiness."""
    if not html_src:
        return []
    out: list[str] = []

    def _emit(frag: str) -> None:
        frag = frag.strip()
        if len(frag) < min_len:
            return
        if max_len is not None and len(frag) > max_len:
            return
        out.append(_html.unescape(frag))

    pos = 0
    for m in _HTML_TOKEN_RE.finditer(html_src):
        if include_chardata and m.start() > pos:
            _emit(html_src[pos:m.start()])
        tok = m.group(0)
        if include_comments and (tok.startswith("<!--")
                                 or tok.startswith("<![")):
            _emit(tok)
        pos = m.end()
    if include_chardata and pos < len(html_src):
        _emit(html_src[pos:])
    return out


def keyword_fragments(pages, body_col: str = "body", min_len: int = 1,
                      max_len: int | None = None,
                      include_chardata: bool = True,
                      include_comments: bool = True):
    """DataFrame form: one row per emitted fragment, document order not
    preserved across rows (per-page order rides ``frag_idx``). One Arrow
    crossing; downstream tokenization/counting stays JVM-side."""
    import functools

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _udf(body: pd.Series) -> pd.Series:
        fn = functools.partial(
            extract_keywords, min_len=min_len, max_len=max_len,
            include_chardata=include_chardata,
            include_comments=include_comments)
        return pd.Series([fn(b) if b is not None else [] for b in body],
                         dtype=object)

    return (pages.select("*", F.posexplode(_udf(F.col(body_col)))
                         .alias("frag_idx", "fragment"))
            .drop(body_col))


def anchor_stats(pages, url_col: str = "url", body_col: str = "body"):
    """Inbound anchor-text aggregation → ``(url, anchor, n_refs)``.

    One Arrow crossing for extraction, then the hybrid canonicalizer on
    the exploded (href, base) pairs (JVM fast path — same machinery as
    the crawl's link stage) and ONE partial-aggregated shuffle on
    (target url, anchor). At corpus scale this is the web-search anchor
    signal build: output is bounded by distinct (target, text) pairs,
    and hot targets partial-aggregate map-side before the shuffle.
    """
    from ..functions.urls import with_canonical_url
    exploded = (pages.select(
        F.explode(extract_anchors_udf(F.col(body_col), F.col(url_col)))
        .alias("_a"))
        .select(F.col("_a.href").alias("href"),
                F.col("_a.base").alias("base"),
                F.col("_a.anchor").alias("anchor")))
    return (with_canonical_url(exploded)
            .groupBy("url", "anchor")
            .agg(F.count("*").alias("n_refs")))
