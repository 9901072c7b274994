"""Page-content extraction (SURVEY.md §2.8 C4, C5).

Re-expresses ``WorkspaceResultBuilder`` (/root/reference/common/ContentReader/
WorkspaceResultBuilder.cs:18-222): title priority title > h1 > h2,
description/og: meta tags into a property map, plus visible-text extraction —
regex-based (the container has no lxml; the reference streams through
BracketPipe). Arrow-batched pandas UDF; one struct output per page.

Content-type guessing (C5, common/ContentType.cs:129-168): magic-byte sniff
over the first bytes of a binary payload — JVM-expression implementation.
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_TITLE_RE = re.compile(r"<title[^>]*>(.*?)</title>", re.I | re.S)
_H1_RE = re.compile(r"<h1[^>]*>(.*?)</h1>", re.I | re.S)
_H2_RE = re.compile(r"<h2[^>]*>(.*?)</h2>", re.I | re.S)
_META_RE = re.compile(
    r"<meta\s+[^>]*?(?:name|property)\s*=\s*[\"']([^\"']+)[\"'][^>]*?"
    r"content\s*=\s*[\"']([^\"']*)[\"']", re.I)
_TAG_RE = re.compile(r"<(script|style)[^>]*>.*?</\1>|<[^>]+>", re.I | re.S)
_WS_RE = re.compile(r"\s+")

META_SCHEMA = T.StructType([
    T.StructField("title", T.StringType()),
    T.StructField("description", T.StringType()),
    T.StructField("props", T.MapType(T.StringType(), T.StringType())),
    T.StructField("text", T.StringType()),
])


def extract_page_meta_py(html_src: str | None) -> tuple:
    """(title, description, props, text) from raw HTML — pure function shared
    with tests. Title priority: <title> > <h1> > <h2> (reference :53-171)."""
    if not html_src:
        return (None, None, {}, "")
    def _clean(s: str) -> str:
        return _WS_RE.sub(" ", _html.unescape(_TAG_RE.sub(" ", s))).strip()
    title = None
    for rx in (_TITLE_RE, _H1_RE, _H2_RE):
        m = rx.search(html_src)
        if m and _clean(m.group(1)):
            title = _clean(m.group(1))
            break
    props = {k.lower(): _html.unescape(v)
             for k, v in _META_RE.findall(html_src)}
    desc = props.get("description") or props.get("og:description")
    text = _clean(html_src)
    return (title, desc, props, text)


@F.pandas_udf(META_SCHEMA)
def extract_page_meta(html_col: pd.Series) -> pd.DataFrame:
    rows = [extract_page_meta_py(h) for h in html_col]
    return pd.DataFrame(rows, columns=["title", "description", "props", "text"])


# regexes over the hex of the leading bytes → content type (real formats +
# the stand-in codec); a later entry wins over an earlier one. The image
# signatures are the ones PureCodec.decode dispatches on.
_MAGIC_HEX = [
    (b"FSIM".hex().upper(), "image/x-fsim"),   # stand-in image container
    ("89504E47", "image/png"),
    ("FFD8FF", "image/jpeg"),
    ("47494638", "image/gif"),
    ("52494646", "audio/x-riff"),
    ("52494646.{8}57454250", "image/webp"),    # RIFF....WEBP
    ("424D", "image/bmp"),
    ("49492A00|4D4D002A", "image/tiff"),       # II*\0 / MM\0*
    ("1F8B", "application/gzip"),
    (b"<!DOCTYPE".hex().upper(), "text/html"),
    (b"<html".hex().upper(), "text/html"),
]


def guess_content_type(binary_col: Column) -> Column:
    """C5: MimeGuesser analog — sniff the payload's leading bytes. JVM-side
    (regex matches on the hex of the first 16 bytes), no Python."""
    head = F.upper(F.hex(F.substring(binary_col, 1, 16)))
    expr = F.lit("application/octet-stream")
    for key, ctype in _MAGIC_HEX:
        expr = F.when(head.rlike(f"^({key})"), F.lit(ctype)).otherwise(expr)
    return expr


# --------------------------------------------------- Unicode normalization

def nfc_normalize(col: Column, form: str = "NFC") -> Column:
    """Unicode normalization of a string column (default NFC — the form
    web text should be deduped and fingerprinted in: composed vs
    decomposed accents are byte-different but canonically equal, so an
    unnormalized corpus under-dedupes and over-counts vocabulary).

    This is an Arrow-batched Python crossing (the canonicalizer-slow-
    path trade): Spark SQL exposes no normalizer builtin and
    java.text.Normalizer needs a JVM UDF PySpark can't register.
    Per-batch cost is one C-level ``unicodedata.normalize`` per row;
    ASCII-only batches short-circuit inside CPython. The correctness
    gate checks this implementation against DuckDB's utf8proc
    ``nfc_normalize`` — two INDEPENDENT Unicode implementations
    agreeing byte-for-byte (incl. composition exclusions, Hangul
    composition, multi-combining-mark reordering)."""
    assert form in ("NFC", "NFD", "NFKC", "NFKD")

    @F.pandas_udf(T.StringType())
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata
        return s.map(lambda v: None if v is None
                     else unicodedata.normalize(form, v))

    return _norm(col)
