"""Text analysis for large-scale training-data pipelines.

Beyond the reference's operator set (it has a WordTokenizer + keyword counts,
/root/reference/common/ContentReader/WordTokenizer.cs:10-205 and
reado/ExtractKeywordsConsumer.cs): language-ID, quality scoring, token
counting, document fingerprinting — the ops a 100 TB text corpus pipeline
needs. Everything is built from JVM-side ``pyspark.sql.functions`` only
(whole-stage codegen; no Python in the hot path), and each op has an exact
ANSI-SQL twin in ``__spark_entry__.py`` so DuckDB oracle-checks the semantics.
The cumulative sums and ranks behind ``token_budget_sample``,
``pack_sequences`` and ``stratified_split`` all come from the one
scale-safe running sum, ``priority.with_running_sum``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .priority import with_running_sum

# language-ID heuristic: stopword-hit scoring (n-gram-ish; deterministic and
# SQL-expressible — a real model would ride the same column contract)
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " is ", " of "],
    "fr": [" le ", " la ", " et ", " est "],
    "de": [" der ", " und ", " ist ", " das "],
    "es": [" el ", " los ", " y ", " es "],
}

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]


def _padded(col: Column) -> Column:
    return F.concat(F.lit(" "), F.lower(col), F.lit(" "))


def _hits(col: Column, kw: str) -> Column:
    """Occurrence count of ``kw`` via length difference — portable to ANSI SQL."""
    return ((F.length(col) - F.length(F.replace(col, F.lit(kw), F.lit(""))))
            / F.lit(len(kw))).cast("int")


def token_count(col: Column) -> Column:
    """Whitespace tokenization count (WordTokenizer analog). BPE-ish subword
    estimate: see ``bpe_token_estimate``."""
    t = F.trim(col)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))).cast("int")


def bpe_token_estimate(col: Column) -> Column:
    """Deterministic BPE-ish token estimate: words + extra tokens for long
    words (≈1 per 4 chars beyond 4) + punctuation marks — a common
    chars/4-style heuristic, exactly reproducible in SQL."""
    words = token_count(col)
    chars = F.length(F.trim(col))
    punct = _hits(col, ".") + _hits(col, ",")
    return (words + F.floor(chars / F.lit(16)) + punct).cast("int")


def quality_score(col: Column) -> Column:
    """[0,1] quality: length band + stopword presence − punctuation excess.

    Mirrors classic crawl-corpus quality filters (length, punct ratio,
    stopword ratio); weights are fixed so the SQL oracle is exact.
    """
    chars = F.length(col).cast("double")
    words = token_count(col).cast("double")
    padded = _padded(col)
    stop_hits = None
    for w in STOPWORDS:
        h = _hits(padded, f" {w} ")
        stop_hits = h if stop_hits is None else stop_hits + h
    punct = (_hits(col, ".") + _hits(col, ",") + _hits(col, "!")
             + _hits(col, "?")).cast("double")
    len_score = F.least(chars / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stop_hits.cast("double")
                         / F.greatest(words, F.lit(1.0)) * F.lit(4.0),
                         F.lit(1.0))
    punct_pen = F.least(punct / F.greatest(words, F.lit(1.0)), F.lit(1.0))
    return F.round(F.lit(0.5) * len_score + F.lit(0.4) * stop_score
                   + F.lit(0.1) * (F.lit(1.0) - punct_pen), 6)


def lang_scores(col: Column) -> dict[str, Column]:
    padded = _padded(col)
    out = {}
    for lang, kws in LANG_MARKERS.items():
        s = None
        for kw in kws:
            h = _hits(padded, kw)
            s = h if s is None else s + h
        out[lang] = s
    return out


def lang_id(col: Column) -> Column:
    """argmax over marker scores; 'und' when all zero. Ties break by fixed
    priority order en > fr > de > es — built as the same nested ``>=`` chain
    the SQL oracle uses, so tied scores agree by construction (the round-1
    loop formulation inverted the tie-break: es kept ties)."""
    s = lang_scores(col)
    en, fr, de, es = s["en"], s["fr"], s["de"], s["es"]
    return (
        F.when((en >= fr) & (en >= de) & (en >= es) & (en > 0), F.lit("en"))
         .when((fr >= de) & (fr >= es) & (fr > 0), F.lit("fr"))
         .when((de >= es) & (de > 0), F.lit("de"))
         .when(es > 0, F.lit("es"))
         .otherwise(F.lit("und")))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of whitespace-collapsed lowercase text —
    the exact-dedup key (DataHash analog, common/Md5Hash.cs over body)."""
    return F.md5(F.trim(F.regexp_replace(F.lower(col), r"\s+", " ")))


# ------------------------------------------------- repetition / contamination
# Gopher/MassiveText repetition rules (Rae et al. 2021, arXiv:2112.11446,
# appendix A1.1 — public) and n-gram train/eval decontamination (GPT-3 paper
# appendix C practice). Everything below is JVM built-ins only; fractions are
# floor-quantized to 6dp (floor of an identical double is identical in every
# engine, unlike ROUND whose HALF_UP/HALF_EVEN boundary differs).

GOPHER_MIN_WORDS = 20
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 3.0, 10.0
GOPHER_MAX_DUP_BIGRAM_FRAC = 0.15
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.10


def words_arr(col: Column) -> Column:
    """Lowercased ``[a-z0-9]+`` word array — the tokenizer shared by the
    repetition metrics, the contamination scan, and the NB classifier."""
    return F.filter(F.split(F.lower(col), r"[^a-z0-9]+"),
                    lambda x: x != F.lit(""))


def word_ngrams_arr(a: Column, n: int) -> Column:
    """Space-joined word n-grams of an ALREADY-MATERIALIZED word-array
    column (empty array when the doc has < n words).

    Callers must pass a bound column (``df.withColumn("_wa", words_arr(...))``
    first), not the ``words_arr(...)`` expression itself: expressions
    referenced inside a higher-order-function lambda are evaluated PER
    ELEMENT, so an inlined regex split would re-run once per gram —
    measured ~5× slower on the gopher/decontamination queries."""
    idx = F.sequence(F.lit(1),
                     F.greatest(F.size(a) - F.lit(n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(a, i, n), " "))
    return F.when(F.size(a) >= n, grams).otherwise(
        F.array().cast("array<string>"))


def _floor6(col: Column) -> Column:
    return (F.floor(col * F.lit(1000000.0)).cast("double")
            / F.lit(1000000.0))


def gopher_repetition(df: DataFrame, key_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-document repetition + word-shape quality metrics →
    ``(key, n_words, mean_word_len, dup_bigram_char_frac,
    top_bigram_char_frac, gopher_ok)``.

    ``dup_bigram_char_frac`` = characters covered by word-2-grams occurring
    ≥ 2× in the doc / characters covered by all 2-gram occurrences;
    ``top_bigram_char_frac`` = the single most-covering 2-gram's share (our
    deterministic reading of Gopher's "fraction of characters in the most
    common 2-gram"). Word count / mean word length are computed array-side
    per row (zero shuffle); only the per-(doc,gram) counting aggregates —
    one partial-combined shuffle keyed by the document, plus the join back.
    (The gram stats could go fully shuffle-free with a sort+fold over the
    bigram array; kept as groupBy for clarity since it map-side combines.)
    """
    key = F.col(key_col)
    staged = df.select(key, words_arr(F.col(text_col)).alias("_wa"))
    wa = F.col("_wa")
    base = staged.select(
        key, F.size(wa).alias("_nw"),
        F.aggregate(wa, F.lit(0), lambda acc, x: acc + F.length(x))
         .alias("_sum_len"))
    covered = (F.col("_c") * F.length("_g")).cast("long")
    bs = (staged.select(key, F.explode(word_ngrams_arr(wa, 2)).alias("_g"))
          .groupBy(key_col, "_g").agg(F.count("*").alias("_c"))
          .groupBy(key_col)
          .agg(F.sum(covered).alias("_total"),
               F.sum(F.when(F.col("_c") >= 2, covered).otherwise(F.lit(0)))
                .alias("_dup"),
               F.max(covered).alias("_top")))
    # try_divide: n_words can be 0 (empty doc) and ANSI mode makes /0 throw;
    # null here mirrors the SQL twin's missing-LEFT-JOIN row
    mwl = _floor6(F.try_divide(F.col("_sum_len").cast("double"),
                               F.col("_nw")))
    dupf = _floor6(F.try_divide(F.col("_dup").cast("double"),
                                F.col("_total")))
    topf = _floor6(F.try_divide(F.col("_top").cast("double"),
                                F.col("_total")))
    ok = ((F.col("_nw") >= F.lit(GOPHER_MIN_WORDS))
          & (mwl >= F.lit(GOPHER_MWL_MIN)) & (mwl <= F.lit(GOPHER_MWL_MAX))
          & (dupf <= F.lit(GOPHER_MAX_DUP_BIGRAM_FRAC))
          & (topf <= F.lit(GOPHER_MAX_TOP_BIGRAM_FRAC)))
    return (base.join(bs, key_col, "left")
            .select(key,
                    F.col("_nw").cast("long").alias("n_words"),
                    mwl.alias("mean_word_len"),
                    dupf.alias("dup_bigram_char_frac"),
                    topf.alias("top_bigram_char_frac"),
                    F.coalesce(ok, F.lit(False)).alias("gopher_ok")))


def ngram_contamination(corpus: DataFrame, eval_df: DataFrame,
                        key_col: str = "doc_id", text_col: str = "text",
                        n: int = 4) -> DataFrame:
    """Train/eval decontamination: flag corpus docs sharing any word
    ``n``-gram with the eval set → ``(key, n_hit_grams, contaminated)``.

    The eval-side distinct gram set is broadcast (it is the benchmark suite —
    tiny next to a 100 TB corpus), so the corpus side never shuffles its
    grams for the join; only the per-doc hit count aggregates (map-side
    combine on the doc key). Production decontamination uses n of 8–13; the
    default 4 matches the synthetic fixtures' gram length.
    """
    def _grams(src: DataFrame, *cols: str) -> DataFrame:
        staged = src.select(*[F.col(c) for c in cols],
                            words_arr(F.col(text_col)).alias("_wa"))
        return staged.select(*cols, F.explode(
            word_ngrams_arr(F.col("_wa"), n)).alias("_g"))

    eval_grams = _grams(eval_df).distinct()
    hits = (_grams(corpus, key_col)
            .join(F.broadcast(eval_grams), "_g")
            .groupBy(key_col)
            .agg(F.count_distinct("_g").alias("_nh")))
    return (corpus.select(key_col)
            .join(hits, key_col, "left")
            .select(F.col(key_col),
                    F.coalesce(F.col("_nh"), F.lit(0)).cast("long")
                     .alias("n_hit_grams"),
                    (F.coalesce(F.col("_nh"), F.lit(0)) > 0)
                     .alias("contaminated")))


def chunk_documents(df: DataFrame, key_col: str = "doc_id",
                    text_col: str = "text", chunk_tokens: int = 64,
                    overlap: int = 8) -> DataFrame:
    """Split documents into fixed-token training chunks with overlap →
    ``(key, chunk_id, n_tokens, chunk_text)`` — the context-window
    preparation step of every LLM data pipeline.

    Chunk ``i`` covers words ``[i·stride, i·stride + chunk_tokens)`` with
    ``stride = chunk_tokens − overlap``; the number of chunks is
    ``ceil(max(n_words − overlap, 1) / stride)`` so the final partial chunk
    is emitted once and never as a fully-contained duplicate. Entirely
    per-row array work (zero shuffle): the word array is staged as a column
    (see :func:`word_ngrams_arr`'s lambda warning), the chunk structs are
    built with ``transform`` and exploded.
    """
    stride = chunk_tokens - overlap
    staged = df.select(F.col(key_col),
                       words_arr(F.col(text_col)).alias("_wa"))
    wa, nw = F.col("_wa"), F.size(F.col("_wa"))
    n_chunks = F.floor((F.greatest(nw - F.lit(overlap), F.lit(1))
                        + F.lit(stride - 1)) / F.lit(float(stride))) \
                .cast("int")
    chunks = F.when(nw > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("ci"),
            F.array_join(F.slice(wa, i * stride + 1, chunk_tokens), " ")
             .alias("txt")))).otherwise(
        F.expr("array()").cast("array<struct<ci:int,txt:string>>"))
    return (staged.select(F.col(key_col), nw.alias("_nw"),
                          F.explode(chunks).alias("_c"))
            .select(F.col(key_col),
                    F.col("_c.ci").alias("chunk_id"),
                    F.least(F.lit(chunk_tokens),
                            F.col("_nw") - F.col("_c.ci") * F.lit(stride))
                     .cast("int").alias("n_tokens"),
                    F.col("_c.txt").alias("chunk_text")))


# PII scrubbing (C4/RefinedWeb-style masking) — conservative regexes using
# only constructs Java regex and RE2 share (char classes + bounded repeats;
# no lookaround), so any SQL engine reproduces the scrub exactly.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}", "<PHONE>"),
)


def duplicate_spans(df: DataFrame, key_col: str = "doc_id",
                    text_col: str = "text", span_tokens: int = 20,
                    stride: int = 5, min_df: int = 2,
                    max_df: int = 1000) -> DataFrame:
    """Exact duplicated-SPAN detection — span-granular exact dedup (the
    suffix-array substring-dedup result of Lee et al., "Deduplicating
    Training Data Makes Language Models Better"), re-expressed for Spark:
    doc-level exact/near dedup misses boilerplate and quotation spans
    repeated across otherwise-distinct documents; this finds them at
    ``span_tokens`` granularity.

    Shape (scale-first): every document emits strided ``span_tokens``-word
    shingle hashes as pure per-row array work (zero shuffle — the word
    array is staged once, spans built with ``transform`` over ``sequence``,
    exactly :func:`chunk_documents`' pattern); one ``groupBy(h, key)`` with
    map-side combine collapses same-doc repeats before the wire; the
    corpus-frequency rollup then shuffles only unique (hash, doc) rows, and
    the frequency join back is co-partitioned on ``h`` (no third exchange).
    Never all-pairs. ``max_df`` drops boilerplate mega-spans (every page's
    header) exactly like ``jaccard_pairs``' hot-shingle cap — a span in
    more than ``max_df`` docs is a global-template signal, not a dedup
    pair candidate.

    Returns ``(key, n_spans, n_dup_spans, dup_fraction)`` per document with
    at least one span (docs shorter than ``span_tokens`` words emit none);
    ``dup_fraction`` is floor-quantized to 6dp for cross-engine parity.
    """
    staged = df.select(F.col(key_col),
                       words_arr(F.col(text_col)).alias("_wa"))
    wa, nw = F.col("_wa"), F.size(F.col("_wa"))
    n_spans = (F.floor((nw - span_tokens) / F.lit(float(stride)))
               .cast("int") + 1)
    spans = F.when(nw >= span_tokens, F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.md5(F.array_join(
            F.slice(wa, i * stride + 1, span_tokens), " ")))) \
        .otherwise(F.expr("array()").cast("array<string>"))
    exploded = staged.select(F.col(key_col), F.explode(spans).alias("_h"))
    per_doc = exploded.groupBy("_h", key_col).agg(
        F.count("*").alias("_c"))
    # corpus frequency as a window over the span hash, not a self-join: a
    # join formulation re-computes the (expensive) span-explosion subtree
    # on both sides — the window keeps ONE scan lineage, and its exchange
    # carries only the already-collapsed unique (hash, doc) rows
    dfreq = F.sum("_c").over(Window.partitionBy("_h"))
    dup_flag = F.when((F.col("_df") >= min_df) & (F.col("_df") <= max_df),
                      F.col("_c")).otherwise(F.lit(0))
    return (per_doc.withColumn("_df", dfreq)
            .groupBy(key_col)
            .agg(F.sum("_c").alias("n_spans"),
                 F.sum(dup_flag).alias("n_dup_spans"))
            .select(F.col(key_col),
                    F.col("n_spans").cast("long"),
                    F.col("n_dup_spans").cast("long"),
                    (F.floor(F.lit(1e6) * F.col("n_dup_spans")
                             / F.col("n_spans")) / F.lit(1e6))
                    .alias("dup_fraction")))


def scrub_pii(df: DataFrame, key_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Mask emails / IPv4s / phone numbers →
    ``(key, scrubbed, n_email, n_ip, n_phone)``. Counts come from
    ``regexp_count`` BEFORE masking; masking applies the patterns in the
    declared order (email first, so its trailing-digit hosts don't get
    half-eaten by the IP rule). JVM-side built-ins only — one projection,
    zero shuffle."""
    counts = [F.regexp_count(F.col(text_col), F.lit(pat)).cast("long")
              .alias(f"n_{name}") for name, pat, _ in PII_PATTERNS]
    scrubbed = F.col(text_col)
    for _, pat, token in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, token)
    return df.select(F.col(key_col), scrubbed.alias("scrubbed"), *counts)


def token_budget_sample(df: DataFrame, key_col: str = "doc_id",
                        group_col: str = "source", text_col: str = "text",
                        budget: int = 800, seed: int = 42) -> DataFrame:
    """Deterministic per-group token-budget sampling (training-data mixing):
    rank docs within each group by a seeded hash, keep docs while the
    group's cumulative token count stays within ``budget`` →
    ``(key, group, n_tokens, cum_tokens, selected)``.

    The rank key is ``md5(key ':' seed)`` — portable string ordering any
    engine reproduces exactly (the same cross-engine trick as the minhash
    signatures), unlike a seeded RNG.

    Scale shape: a plain per-group window funnels each group through ONE
    task — fatal when one domain is half the corpus — so the cumulative
    sum is :func:`~fetcho_spark.operators.priority.with_running_sum`
    grouped by ``group_col``: identical at any parallelism level
    (partition-invariance unit test). A NULL group is one group, as in
    the SQL twin's ``PARTITION BY``.
    """
    rk = F.md5(F.concat_ws(":", F.col(key_col).cast("string"),
                           F.lit(str(seed))))
    base = df.select(F.col(key_col), F.col(group_col),
                     token_count(F.col(text_col)).alias("n_tokens"),
                     rk.alias("_rk"))
    cum = F.col("cum_tokens").cast("long")
    return (with_running_sum(base, ("_rk", key_col), value_col="n_tokens",
                             group_cols=(group_col,), out_col="cum_tokens")
            .select(key_col, group_col, "n_tokens", cum.alias("cum_tokens"),
                    (cum <= F.lit(budget)).alias("selected")))


def pack_sequences(df: DataFrame, key_col: str = "doc_id",
                   text_col: str = "text", window: int = 1024,
                   seed: int = 42) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: documents are laid
    out in a deterministic seeded order and the token stream is cut
    every ``window`` tokens (documents may straddle pack boundaries —
    the standard pretraining loader layout, not no-split bin packing,
    whose greedy state is inherently sequential).

    Returns ``(key, n_tokens, tok_offset, pack_id, pack_offset,
    n_packs)``: the document's global token offset, the pack its first
    token lands in, the offset within that pack, and how many packs it
    spans (0 for empty documents).

    Scale shape: the layout order is ``md5(key ':' seed)`` (the
    cross-engine seeded-ordering trick of ``token_budget_sample``), and
    the global running token sum is
    :func:`~fetcho_spark.operators.priority.with_running_sum` — no
    single-task global window, identical result at any parallelism. A
    document's placement depends only on the hash order, so the layout
    is reproducible end-to-end.
    """
    rk = F.md5(F.concat_ws(":", F.col(key_col).cast("string"),
                           F.lit(str(seed))))
    base = df.select(F.col(key_col),
                     token_count(F.col(text_col)).cast("long")
                     .alias("n_tokens"),
                     rk.alias("_rk"))
    staged = (with_running_sum(base, ("_rk", key_col), value_col="n_tokens",
                               out_col="_cum")
              .withColumn("tok_offset", F.col("_cum") - F.col("n_tokens")))
    return staged.select(
        key_col, "n_tokens", "tok_offset",
        F.expr(f"tok_offset div {window}").alias("pack_id"),
        (F.col("tok_offset") % window).alias("pack_offset"),
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("long"))
        .otherwise(F.expr(f"((_cum - 1) div {window}) - "
                          f"(tok_offset div {window}) + 1"))
        .alias("n_packs"))


def mixture_weights(df: DataFrame, group_col: str = "source",
                    text_col: str = "text",
                    alpha_sqrts: int = 1) -> DataFrame:
    """Temperature-based data-mixing weights (the mT5/UniMax sampling
    scheme): ``weight_i = n_i^alpha / SUM_j n_j^alpha`` over per-source
    token counts, with ``alpha = 2^-alpha_sqrts`` (1 → the classic
    sqrt/T=2 temperature, 2 → 0.25, 0 → proportional). Flattens the
    head sources so low-resource ones aren't starved; pair with
    ``token_budget_sample`` to realize the mix.

    ``alpha`` is restricted to sqrt chains ON PURPOSE: ``pow(x, 0.3)``
    goes through each engine's libm and drifts in the last ulps, while
    ``sqrt`` is IEEE-exact everywhere — every float here is a
    correctly-rounded op over exact integers (the kmeans/NB quantized
    discipline), then floor-quantized to 1e-6 BEFORE the normalizing
    sum so the total is EXACT integer arithmetic (float sums would
    depend on add order, which no distributed engine guarantees).

    Scale shape: one partial-agg shuffle on ``group_col`` (map-side
    combined) + a broadcast single-row total. Returns
    ``(group, n_tokens, weight)``.
    """
    assert alpha_sqrts >= 0
    counts = df.groupBy(group_col).agg(
        F.sum(token_count(F.col(text_col))).cast("long").alias("n_tokens"))
    s = F.col("n_tokens").cast("double")
    for _ in range(alpha_sqrts):
        s = F.sqrt(s)
    counts = counts.withColumn("_q", F.floor(s * F.lit(1e6)).cast("long"))
    tot = counts.agg(F.sum("_q").alias("_tot"))
    return (counts.crossJoin(F.broadcast(tot))
            .select(group_col, "n_tokens",
                    (F.col("_q").cast("double")
                     / F.col("_tot").cast("double")).alias("weight")))


def split_assign(df: DataFrame, key_col: str = "doc_id",
                 fractions: tuple = (("train", 90), ("val", 5),
                                     ("test", 5)),
                 seed: int = 42) -> DataFrame:
    """Deterministic hash-based train/val/test split →
    ``(key, split)``. Percentages map to slots of the 16-bit integer
    value of the first 4 hex chars of ``md5(key ':' seed)``.

    The assignment is a pure function of (key, seed): a document keeps
    its split when the corpus grows or is re-partitioned — the property
    that prevents train/test leakage across dataset versions. Fractions
    hold in expectation (hash-uniform), not exactly per group; one
    zero-shuffle projection.
    """
    pcts = [p for _, p in fractions]
    if sum(pcts) != 100:
        raise ValueError(f"fractions must total 100, got {sum(pcts)}")
    slot = F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col(key_col).cast("string"),
                          F.lit(str(seed)))), 1, 4), 16, 10).cast("long")
    expr, cum = None, 0
    for name, pct in fractions[:-1]:
        cum += pct
        bound = (65536 * cum) // 100
        cond = slot < F.lit(bound)
        expr = (F.when(cond, F.lit(name)) if expr is None
                else expr.when(cond, F.lit(name)))
    expr = (expr.otherwise(F.lit(fractions[-1][0])) if expr is not None
            else F.lit(fractions[-1][0]))
    return df.select(F.col(key_col), expr.alias("split"))


def stratified_split(df: DataFrame, group_col: str = "source",
                     key_col: str = "doc_id",
                     fractions: tuple = (("train", 90), ("val", 5),
                                         ("test", 5)),
                     seed: int = 42) -> DataFrame:
    """EXACT per-group split → ``(key, group, split)``: within every
    group, rank rows by the seeded md5 order and cut at the exact
    fraction boundaries, so each group contributes floor-exact counts
    to every split (what per-domain held-out sets need —
    :func:`split_assign`'s hash slots are only uniform in expectation,
    so a small domain can land entirely in train).

    Membership: row with in-group rank ``r`` of ``n`` is in split ``s``
    iff ``cum_before(s)*n <= 100*r < cum_through(s)*n`` — pure integer
    comparisons. Unlike split_assign, assignments are NOT stable under
    corpus growth (exactness and growth-stability are mutually
    exclusive); version datasets by snapshot instead.

    Scale shape: the in-group rank and the group size both come from
    :func:`~fetcho_spark.operators.priority.with_running_sum` grouped by
    the group column (a running count and its group total — never a
    per-group single-task window); a NULL group (missing provenance)
    keeps its rows and forms its own stratum, matching the SQL twin's
    window. Fraction checks are pure integer comparisons.
    """
    pcts = [p for _, p in fractions]
    if sum(pcts) != 100:
        raise ValueError(f"fractions must total 100, got {sum(pcts)}")
    staged = df.select(
        F.col(group_col).alias("_g"),
        F.col(key_col).alias("_k"),
        F.md5(F.concat_ws(":", F.col(key_col).cast("string"),
                          F.lit(str(seed)))).alias("_rk"))
    ranked = with_running_sum(staged, ("_rk", "_k"), group_cols=("_g",),
                              out_col="_r", total_col="_n")
    r = F.lit(100) * (F.col("_r") - 1)
    expr, cum = None, 0
    for name, pct in fractions[:-1]:
        cum += pct
        cond = r < F.lit(cum) * F.col("_n")
        expr = (F.when(cond, F.lit(name)) if expr is None
                else expr.when(cond, F.lit(name)))
    expr = (expr.otherwise(F.lit(fractions[-1][0])) if expr is not None
            else F.lit(fractions[-1][0]))
    return ranked.select(F.col("_k").alias(key_col),
                         F.col("_g").alias(group_col), expr.alias("split"))


def keyword_counts(df: DataFrame, text_col: str = "text",
                   min_len: int = 3,
                   max_len: int | None = None) -> DataFrame:
    """A5: term frequencies across the corpus (ExtractKeywordsConsumer).
    ``min_len``/``max_len`` bound the kept word lengths INCLUSIVELY — the
    reference extractor's MinimumLength/MaximumLength knobs
    (common/ContentReader/HTMLKeywordParser.cs; ``max_len=None`` =
    unbounded, the reference's int.MaxValue default). For the upstream
    HTML fragment emission itself (chardata + comment tokens) see
    ``htmllinks.extract_keywords``/``keyword_fragments``."""
    words = (df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                         r"[^a-z0-9]+")).alias("word"))
             .filter(F.length("word") >= min_len))
    if max_len is not None:
        words = words.filter(F.length("word") <= max_len)
    return words.groupBy("word").agg(F.count("*").alias("n"))


# ------------------------------------------------------- script profiling

# explicit codepoint ranges, NOT named \p{...} classes: Java regex and
# RE2/DuckDB ship different Unicode property tables, while a literal range
# means the same thing in every engine (the lang_id/quality discipline)
SCRIPT_RANGES = (
    ("latin", "A-Za-z"),
    ("cyrillic", "\\u0400-\\u04FF"),
    ("greek", "\\u0370-\\u03FF"),
    ("arabic", "\\u0600-\\u06FF"),
    ("hebrew", "\\u0590-\\u05FF"),
    ("devanagari", "\\u0900-\\u097F"),
    ("han", "\\u4E00-\\u9FFF"),
    ("hiragana", "\\u3040-\\u309F"),
    ("katakana", "\\u30A0-\\u30FF"),
    ("hangul", "\\uAC00-\\uD7AF"),
)


def script_profile(df: DataFrame, key_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Per-document writing-system profile → per-script char counts +
    the dominant ``script`` — the multilingual-corpus routing signal
    (which tokenizer/lang-ID/quality model applies) a 100 TB mixed
    crawl needs before any per-language stage.

    Zero-shuffle JVM projection: one ``regexp_count`` per script block
    over literal codepoint ranges, dominant = first maximum in
    :data:`SCRIPT_RANGES` order (deterministic tie-break; a doc with no
    script characters at all reports ``'none'``). ``n_chars`` counts
    non-whitespace characters so callers can compute coverage
    fractions with their own quantization.
    """
    t = F.col(text_col)
    # stage counts as named columns FIRST: the argmax walk references each
    # count twice, and inlining the regexp_count trees multiplicatively
    # blows the generated method past javac's limit (the
    # with_fast_canonical staging lesson — codegen falls back silently)
    staged = df.select(
        key_col,
        F.length(F.regexp_replace(t, r"\s", "")).cast("long")
         .alias("n_chars"),
        *[F.regexp_count(t, F.lit(f"[{rng}]")).cast("long")
          .alias(f"n_{name}") for name, rng in SCRIPT_RANGES])
    # first-argmax as greatest + first-equal chain: a running-max walk
    # nests each level's expression inside the next (2^n tree — janino
    # refuses to compile it); staging the max keeps the chain linear
    staged = staged.withColumn(
        "_gm", F.greatest(*[F.col(f"n_{n}") for n, _ in SCRIPT_RANGES]))
    script = F.when(F.col("_gm") == 0, F.lit("none"))
    for name, _ in SCRIPT_RANGES:   # priority order = tie-break order
        script = script.when(F.col(f"n_{name}") == F.col("_gm"),
                             F.lit(name))
    return staged.withColumn("script", script).drop("_gm")
