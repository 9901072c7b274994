"""Training-data operators: dedup family, similarity search, text analysis."""

import hashlib

import pytest
from pyspark.sql import functions as F

from fetcho_spark.operators import dedup as D
from fetcho_spark.operators import similarity as S
from fetcho_spark.operators import textops as TX


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),
        (3, "the  QUICK brown fox jumps over the lazy dog near the river bank"),
        (4, "a completely different document about spark query engines and joins"),
        (5, "the quick brown fox jumps over the lazy cat near the river bank"),
        (6, ""),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.spark
def test_exact_dedup(spark):
    g = {r["keep_id"]: r["n_docs"]
         for r in D.exact_dedup_groups(_docs(spark)).collect()}
    # 1≡2≡3 (case/whitespace-normalized), others unique
    assert g[1] == 3
    assert g[4] == 1 and g[5] == 1 and g[6] == 1


@pytest.mark.spark
def test_minhash_lsh_finds_near_dups(spark):
    docs = _docs(spark).filter("doc_id < 6")
    sigs = D.minhash_signatures(docs, n_hashes=12)
    assert sigs.groupBy("doc_id").count().filter("count != 12").count() == 0
    pairs = {(r["id_a"], r["id_b"]) for r in
             D.lsh_candidate_pairs(sigs, n_bands=4, n_hashes=12).collect()}
    assert (1, 2) in pairs and (1, 3) in pairs    # exact dups always collide
    assert (1, 5) in pairs                         # near dup (1 word differs)
    assert (1, 4) not in pairs                     # unrelated


@pytest.mark.spark
def test_jaccard_pairs_threshold(spark):
    docs = _docs(spark).filter("doc_id in (1, 4, 5)")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in D.jaccard_pairs(docs, threshold=0.5).collect()}
    assert (1, 5) in got and got[(1, 5)] >= 0.5
    assert (1, 4) not in got


@pytest.mark.spark
def test_simhash_near_dup_close_hamming(spark):
    from fetcho_spark.functions.codec import hamming64
    docs = _docs(spark).filter("doc_id in (1, 4, 5)")
    h = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert hamming64(h[1], h[5]) < hamming64(h[1], h[4])


@pytest.mark.spark
def test_dedup_clusters_connected_components(spark):
    """Chain (transitivity over diameter 4), triangle, isolated pair — every
    node labelled with its component's min id, invariant to partitioning."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),      # chain 1-5
         (10, 11), (11, 12), (10, 12),        # triangle
         (20, 21)],                           # pair
        "id_a long, id_b long")
    got = {r["doc_id"]: r["cluster_id"]
           for r in D.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
    # partitioning must not leak into the labels
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = {r["doc_id"]: r["cluster_id"]
                 for r in D.dedup_clusters(pairs.repartition(5)).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert again == got


@pytest.mark.spark
def test_brute_force_topk_and_lsh_recall(spark):
    import numpy as np
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(200, 16)).astype("float32")
    vecs[7] = vecs[0] * 0.9 + 0.01  # a close neighbour of vec 0
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<float>")
    q = [float(x) for x in vecs[0]]
    exact = S.brute_force_topk(df.filter("vec_id != 0"), q, k=5).collect()
    assert exact[0]["vec_id"] == 7
    assert exact[0]["cos"] > 0.95
    approx = S.ann_topk_lsh(df.filter("vec_id != 0"), q, dim=16, k=5,
                            n_planes=4).collect()
    # the strong neighbour must survive LSH bucketing
    assert any(r["vec_id"] == 7 for r in approx)


def test_probe_buckets_shape():
    """Multi-probe sequence: query bucket first, then Hamming-1 flips of the
    lowest-margin planes, then Hamming-2 — all distinct."""
    planes = S._hyperplanes(8, 6)
    q = [0.3, -0.1, 0.7, 0.2, -0.5, 0.1, 0.0, 0.4]
    probes = S.probe_buckets(q, planes, n_probes=10)
    assert len(probes) == 10 and len(set(probes)) == 10
    qb = probes[0]
    for p in probes[1:7]:
        assert bin(p ^ qb).count("1") == 1
    for p in probes[7:]:
        assert bin(p ^ qb).count("1") == 2


@pytest.mark.spark
def test_lsh_multiprobe_recall_dominates_single(spark):
    """Multi-probe recall (vs brute force top-10) must be >= single-probe
    recall over a batch of queries, and full-probe (all buckets) must equal
    brute force exactly."""
    import numpy as np
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(300, 16)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        "vec_id long, embedding array<float>").cache()
    single_hits = multi_hits = total = 0
    for qi in (0, 1, 2):
        q = [float(x) for x in vecs[qi]]
        corpus = df.filter(f"vec_id != {qi}")
        exact = {r["vec_id"] for r in
                 S.brute_force_topk(corpus, q, k=10).collect()}
        one = {r["vec_id"] for r in S.ann_topk_lsh(
            corpus, q, dim=16, k=10, n_planes=5, n_probes=1).collect()}
        multi = {r["vec_id"] for r in S.ann_topk_lsh(
            corpus, q, dim=16, k=10, n_planes=5, n_probes=8).collect()}
        single_hits += len(exact & one)
        multi_hits += len(exact & multi)
        total += len(exact)
    assert multi_hits >= single_hits
    assert multi_hits / total >= 0.5  # multi-probe recovers the recall cliff
    q0 = [float(x) for x in vecs[0]]
    allp = {r["vec_id"]: r["cos"] for r in S.ann_topk_lsh(
        df.filter("vec_id != 0"), q0, dim=16, k=10,
        n_planes=5, n_probes=32).collect()}
    exact0 = {r["vec_id"]: r["cos"] for r in
              S.brute_force_topk(df.filter("vec_id != 0"), q0, k=10).collect()}
    assert allp == exact0
    df.unpersist()


@pytest.mark.spark
def test_ivf_topk(spark):
    """IVF with n_probes == n_list scores everything → equals brute force;
    with a strong neighbour present, a 2-probe search still finds it."""
    import numpy as np
    rng = np.random.default_rng(42)
    vecs = rng.normal(size=(200, 16)).astype("float32")
    vecs[7] = vecs[0] * 0.9 + 0.01
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<float>")
    corpus = df.filter("vec_id != 0")
    q = [float(x) for x in vecs[0]]
    cents = S.ivf_centroids(corpus, n_list=8)
    assert len(cents) == 8
    assert cents == S.ivf_centroids(corpus, n_list=8)  # deterministic
    full = S.ann_topk_ivf(corpus, q, k=5, n_list=8, n_probes=8,
                          cents=cents).collect()
    exact = S.brute_force_topk(corpus, q, k=5).collect()
    assert [(r["vec_id"], r["cos"]) for r in full] == \
        [(r["vec_id"], r["cos"]) for r in exact]
    probe2 = S.ann_topk_ivf(corpus, q, k=5, n_list=8, n_probes=2,
                            cents=cents).collect()
    assert any(r["vec_id"] == 7 for r in probe2)
    # inverted-list assignment covers every vector with a valid list id
    lists = S.with_ivf_list(corpus, cents)
    assert lists.filter("ivf_list IS NULL OR ivf_list < 0 OR ivf_list >= 8") \
        .count() == 0


@pytest.mark.spark
def test_lsh_bucket_deterministic(spark):
    df = spark.createDataFrame([(1, [0.5] * 8), (2, [-0.5] * 8)],
                               "vec_id long, embedding array<float>")
    a = S.with_lsh_bucket(df, dim=8, n_planes=6).collect()
    b = S.with_lsh_bucket(df, dim=8, n_planes=6).collect()
    assert {r["vec_id"]: r["lsh_bucket"] for r in a} == \
        {r["vec_id"]: r["lsh_bucket"] for r in b}


@pytest.mark.spark
def test_textops(spark):
    df = spark.createDataFrame(
        [(1, "The cat and the dog, in the house. It is big!"),
         (2, "le chat et la maison est grande"),
         (3, "xyzzy qwerty")],
        "doc_id long, text string")
    out = df.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n"),
        TX.lang_id(F.col("text")).alias("lang"),
        TX.quality_score(F.col("text")).alias("q"),
        TX.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    by = {r["doc_id"]: r for r in out}
    assert by[1]["n"] == 11
    assert by[1]["lang"] == "en"
    assert by[2]["lang"] == "fr"
    assert by[3]["lang"] == "und"
    assert 0.0 <= by[3]["q"] < by[1]["q"] <= 1.0
    assert len(by[1]["fp"]) == 32


@pytest.mark.spark
def test_jaccard_hot_shingle_cap(spark):
    """A boilerplate shingle shared by every doc must not drive O(n²) pairs:
    with the document-frequency cap it is excluded from intersections AND
    set sizes, so unrelated docs that share only boilerplate produce no
    pair at all."""
    from fetcho_spark.operators.dedup import jaccard_pairs
    boiler = "all rights reserved worldwide"
    rows = [(i, f"unique text number {i} w{i}x w{i}y w{i}z " + boiler)
            for i in range(30)]
    rows += [(100, "a near duplicate pair of documents here one"),
             (101, "a near duplicate pair of documents here two")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = jaccard_pairs(df, threshold=0.2, max_shingle_df=10).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in got}
    assert pairs == {(100, 101)}
    # uncapped: the shared boilerplate makes every doc pair a candidate
    uncapped = jaccard_pairs(df, threshold=0.0, max_shingle_df=None)
    assert uncapped.count() >= 30 * 29 / 2
    # ADVICE r4: the cap is observable — dropped-shingle metrics ride the
    # same action, and read 0/0 when nothing exceeded the cap
    from pyspark.sql import Observation
    obs = Observation("jcap")
    jaccard_pairs(df, threshold=0.2, max_shingle_df=10,
                  observation=obs).collect()
    m = obs.get
    assert m["hot_shingles_dropped"] >= 1
    assert m["hot_shingle_rows"] >= 30
    obs0 = Observation("jnocap")
    jaccard_pairs(df.filter(F.col("doc_id") >= 100), threshold=0.2,
                  max_shingle_df=10, observation=obs0).collect()
    assert obs0.get == {"hot_shingles_dropped": 0, "hot_shingle_rows": 0}


@pytest.mark.spark
def test_lang_id_tiebreak(spark):
    """Tied nonzero marker scores resolve by fixed priority en > fr > de > es
    — the same >= chain as the DuckDB oracle (ADVICE r1: the loop
    formulation let es win ties)."""
    df = spark.createDataFrame(
        [(1, "it is so el nino"),       # en==es==1 → en
         (2, "le chat ist hier"),       # fr==de==1 → fr
         (3, "der hombre el perro"),    # de==es==1 → de
         (4, "los gatos aqui")],        # es only → es
        "doc_id long, text string")
    got = {r["doc_id"]: r["lang"] for r in df.select(
        "doc_id", TX.lang_id(F.col("text")).alias("lang")).collect()}
    assert got == {1: "en", 2: "fr", 3: "de", 4: "es"}


@pytest.mark.spark
def test_gopher_repetition_metrics(spark):
    """Known repetition shapes: 'foo bar' ×3 gives dup frac 1.0 (every
    bigram occurrence is a duplicate), top frac 21/35; empty docs get
    n_words 0 / null fractions / ok false."""
    df = spark.createDataFrame(
        [(1, "foo bar foo bar foo bar"),
         (2, "each word here occurs exactly once only"),
         (3, "")],
        "doc_id long, text string")
    by = {r["doc_id"]: r.asDict() for r in TX.gopher_repetition(df).collect()}
    # doc 1: bigrams [foo bar ×3, bar foo ×2] → all 5 occurrences duplicated
    assert by[1]["n_words"] == 6
    assert by[1]["dup_bigram_char_frac"] == 1.0
    assert abs(by[1]["top_bigram_char_frac"] - 21 / 35) < 1e-9
    assert not by[1]["gopher_ok"]          # repetition over threshold
    # doc 2: no repeated bigram
    assert by[2]["dup_bigram_char_frac"] == 0.0
    assert not by[2]["gopher_ok"]          # too short (< 20 words)
    # doc 3: degenerate
    assert by[3]["n_words"] == 0
    assert by[3]["mean_word_len"] is None
    assert by[3]["gopher_ok"] is False


@pytest.mark.spark
def test_ngram_contamination(spark):
    """Corpus docs sharing any word 4-gram with the eval set are flagged;
    3-gram-only overlap is not (n=4)."""
    eval_df = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "prefix text the secret benchmark answer embedded here"),
         (2, "the secret benchmark only shares a trigram"),
         (3, "completely unrelated words in this document")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict()
           for r in TX.ngram_contamination(corpus, eval_df, n=4).collect()}
    assert got[1]["contaminated"] and got[1]["n_hit_grams"] == 1
    assert not got[2]["contaminated"] and got[2]["n_hit_grams"] == 0
    assert not got[3]["contaminated"]
    assert set(got) == {1, 2, 3}           # every corpus doc reported


@pytest.mark.spark
def test_nb_classify_quantized_matches_udf(spark):
    """The quantized JVM classifier (ml_classify oracle path) agrees with
    the pandas-UDF float path (F14 filter path) on argmax labels — the two
    can only diverge on sub-1e-6 log-score ties."""
    from fetcho_spark.functions.mlmodel import get_model, nb_classify
    model = get_model("topics")
    rows = [(i, t) for i, t in enumerate([
        "quantum experiment data research in the laboratory today",
        "the doctor gave the patient medicine at the clinic",
        "the team won the match and the league this season",
        "stock market price moved and the investor took profit",
        "report about new things today",     # filler-only → weak signal
        "",                                   # zero tokens → (NULL, 0)
    ])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["label"], r["score_q"])
           for r in nb_classify(df, "doc_id", "text", "topics").collect()}
    for i, t in rows:
        exp_label, _ = model.predict_one(t)
        assert got[i][0] == exp_label, (i, t, got[i], exp_label)
    assert got[5] == (None, 0)
    # integer scores are exact: a re-run returns identical values
    again = {r["doc_id"]: (r["label"], r["score_q"])
             for r in nb_classify(df, "doc_id", "text", "topics").collect()}
    assert again == got


@pytest.mark.spark
def test_token_budget_sample(spark):
    """Per-group budget: cumulative tokens in seeded-hash order; selection
    stops once the running sum crosses the budget; groups independent; a
    NULL source is kept and forms its own group, as in the SQL twin."""
    rows = [(i, "g1", "one two three four five") for i in range(4)]   # 5 tok
    rows += [(10, "g2", "a b"), (11, "g2", "c d e f g h i j k l")]   # 2, 10
    rows += [(20, None, "x y z")]                                    # 3
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["doc_id"]: r.asDict()
           for r in TX.token_budget_sample(df, budget=12).collect()}
    # brute force: per-group cumsum in md5(doc_id ':42') order
    want = {}
    for g in {s for _, s, _ in rows}:
        docs = sorted((hashlib.md5(f"{d}:42".encode()).hexdigest(), d,
                       len(t.split())) for d, s, t in rows if s == g)
        cum = 0
        for _, d, n in docs:
            cum += n
            want[d] = cum
    assert {d: r["cum_tokens"] for d, r in got.items()} == want
    assert got[20]["source"] is None and got[20]["cum_tokens"] == 3
    # g1: 4 docs × 5 tokens in hash order → cum 5,10,15,20 → first two kept
    g1 = sorted(got[i]["cum_tokens"] for i in range(4))
    assert g1 == [5, 10, 15, 20]
    assert sum(got[i]["selected"] for i in range(4)) == 2
    # g2 cum depends on hash order of (10, 11) but both fit or stop exactly
    assert {got[10]["n_tokens"], got[11]["n_tokens"]} == {2, 10}
    assert max(got[10]["cum_tokens"], got[11]["cum_tokens"]) == 12
    assert got[10]["selected"] and got[11]["selected"]
    # deterministic across runs
    again = {r["doc_id"]: r.asDict()
             for r in TX.token_budget_sample(df, budget=12).collect()}
    assert again == got


@pytest.mark.spark
def test_simhash_near_pairs_banding_complete(spark):
    """Banding recall is exact: pairs within max_hamming match brute-force
    bit_count(xor) over all signature pairs; unrelated docs don't pair."""
    rows = [(1, "the quick brown fox jumps over the lazy dog near the bank"),
            (2, "the quick brown fox jumps over the lazy dog near the bank"),
            (3, "the quick brown fox jumps over the lazy cat near the bank"),
            (4, "a completely different document about spark query engines"),
            (5, "unrelated text with mumble zzz qqq words entirely other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in D.simhash_near_pairs(df, max_hamming=6).collect()}
    # brute force over the same signatures
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    ids = sorted(sigs)
    expect = {(a, b): bin(sigs[a] ^ sigs[b]).count("1")
              for i, a in enumerate(ids) for b in ids[i + 1:]
              if bin(sigs[a] ^ sigs[b]).count("1") <= 6}
    assert got == expect
    assert got[(1, 2)] == 0          # exact dup → hamming 0
    assert (1, 4) not in got         # unrelated stays apart


@pytest.mark.spark
def test_phash_near_pairs_images(spark):
    """Image near-dup mining over 64-bit phash: an exact byte copy pairs at
    hamming 0, a lightly-noised re-render pairs within the threshold, and
    negative (sign-bit-set) phashes band correctly."""
    import numpy as np
    from fetcho_spark.functions.codec import decode, encode, phash64
    rng = np.random.default_rng(7)
    px = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    noisy = px.copy()
    noisy[::16, ::16] ^= 1                      # tiny perturbation
    other = rng.integers(0, 256, size=(64, 64, 3), dtype=np.uint8)
    rows = []
    for iid, pixels in (("a", px), ("a_copy", px), ("a_noisy", noisy),
                        ("other", other)):
        dec, _ = decode(encode(pixels, "png"))
        rows.append((iid, phash64(dec)))
    df = spark.createDataFrame(rows, "image_id string, phash long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in D.phash_near_pairs(df, max_hamming=8).collect()}
    sigs = dict(rows)
    expect = {}
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
            if h <= 8:
                expect[(a, b)] = h
    assert got == expect                        # banding ≡ brute force
    assert got[("a", "a_copy")] == 0            # exact copy
    assert ("a", "other") not in got            # unrelated image


@pytest.mark.spark
def test_chunk_documents(spark):
    """Fixed-token chunking with overlap: boundaries, final partial chunk,
    no fully-contained duplicate chunk, empty doc yields nothing."""
    words130 = " ".join(f"w{i}" for i in range(130))
    words30 = " ".join(f"v{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, words130), (2, words30), (3, "")],
        "doc_id long, text string")
    got = {}
    for r in TX.chunk_documents(df, chunk_tokens=64, overlap=8).collect():
        got.setdefault(r["doc_id"], []).append(r.asDict())
    # doc 1: 130 words -> ceil(122/56) = 3 chunks at starts 0, 56, 112
    c1 = sorted(got[1], key=lambda d: d["chunk_id"])
    assert [c["chunk_id"] for c in c1] == [0, 1, 2]
    assert [c["n_tokens"] for c in c1] == [64, 64, 18]
    assert c1[0]["chunk_text"].startswith("w0 w1 ")
    assert c1[1]["chunk_text"].split()[0] == "w56"     # overlap of 8
    assert c1[2]["chunk_text"].split() == [f"w{i}" for i in range(112, 130)]
    # doc 2: single chunk, all 30 words
    assert len(got[2]) == 1 and got[2][0]["n_tokens"] == 30
    # doc 3: no chunks
    assert 3 not in got


@pytest.mark.spark
def test_scrub_pii(spark):
    """Email / IPv4 / phone masking with pre-mask counts; clean text is
    untouched."""
    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@sub.example.org or call 555-123-4567 "
             "from 192.168.1.17 thanks"),
         (2, "no personal data in this row at all")],
        "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in TX.scrub_pii(df).collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_ip"] == 1 \
        and got[1]["n_phone"] == 1
    s = got[1]["scrubbed"]
    assert "<EMAIL>" in s and "<IP>" in s and "<PHONE>" in s
    assert "jo.doe" not in s and "192.168" not in s and "555-123" not in s
    assert got[2]["scrubbed"].startswith("no personal data")
    assert got[2]["n_email"] == got[2]["n_ip"] == got[2]["n_phone"] == 0


@pytest.mark.spark
def test_hamming_band_hot_bucket_cap(spark):
    """max_band_df bounds the band self-join: a cluster of identical
    signatures above the cap produces NO pairs (every band bucket is hot),
    while pairs outside the cluster survive untouched."""
    rows = [(i, 0x0F0F0F0F) for i in range(20)]       # hot identical cluster
    rows += [(100, 0b1010101), (101, 0b1010100)]      # cold near pair (h=1)
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    capped = {(r["id_a"], r["id_b"])
              for r in D.hamming_band_pairs(df, "sig", "doc_id", 60, 3,
                                            max_band_df=10).collect()}
    assert capped == {(100, 101)}                     # cluster suppressed
    uncapped = D.hamming_band_pairs(df, "sig", "doc_id", 60, 3,
                                    max_band_df=None)
    assert uncapped.count() == 20 * 19 // 2 + 1       # quadratic without cap


@pytest.mark.spark
def test_hamming_band_default_cap_bounds_skew(spark):
    """The DEFAULT hamming_band_pairs call must be bounded on a skewed
    corpus: a 1200-identical-signatures cluster (above the 1000 default
    cap) contributes ZERO candidate pairs — not 1200²/2 — while a cold
    near pair outside the cluster still surfaces."""
    rows = [(i, 0x5A5A5A5A) for i in range(1200)]      # hot cluster > cap
    rows += [(9000, 0b1100), (9001, 0b1101)]           # cold pair (h=1)
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in D.hamming_band_pairs(df, "sig", "doc_id", 60, 3)
           .collect()}
    assert got == {(9000, 9001): 1}


@pytest.mark.spark
def test_token_budget_partition_invariance(spark):
    """The two-phase cumulative sum must be identical at any parallelism
    (range boundaries don't affect sums over a total order)."""
    rows = [(i, f"g{i % 3}", " ".join(["w"] * (1 + i % 7)))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    ref = {r["doc_id"]: (r["cum_tokens"], r["selected"])
           for r in TX.token_budget_sample(df, budget=50).collect()}
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        alt = {r["doc_id"]: (r["cum_tokens"], r["selected"])
               for r in TX.token_budget_sample(df.repartition(7),
                                               budget=50).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert alt == ref and len(ref) == 200


def _model_fingerprint(model):
    """Quantized serialization of an NBModel — the exact integers the
    distributed scorer and SQL oracle twin consume (mlmodel.SCORE_QUANT):
    column order is normalized by sorting the vocab, so two fits are equal
    iff their scoring behavior is bit-identical."""
    from fetcho_spark.functions.mlmodel import SCORE_QUANT
    Q = SCORE_QUANT
    return (
        list(model.labels),
        [int(round(model.log_prior[i] * Q)) for i in range(len(model.labels))],
        [int(round(model.log_unk[i] * Q)) for i in range(len(model.labels))],
        [(tok, *[int(round(model.log_lik[i, j] * Q))
                 for i in range(len(model.labels))])
         for tok, j in sorted(model.vocab.items())],
    )


@pytest.mark.spark
def test_train_nb_df_matches_inmemory(spark):
    """learno analog (MultiClassifierModelTrainer.cs): the distributed
    groupBy(label, token) fit must produce EXACTLY the quantized params of
    the in-memory train_nb on the same rows — integer counts are exact in
    float64 regardless of aggregation order, so the log-space fit is
    bit-identical, not merely close."""
    from fetcho_spark.functions.mlmodel import (topics_fixture_corpus,
                                                train_nb, train_nb_df)
    texts, labels = topics_fixture_corpus()
    mem = train_nb(texts, labels)
    df = spark.createDataFrame(list(zip(texts, labels)),
                               "text string, label string")
    dist = train_nb_df(df, "text", "label")
    assert _model_fingerprint(dist) == _model_fingerprint(mem)
    # and prediction behavior is identical end-to-end
    for t in ("quantum experiment research data", "team match league",
              "stock market price investor", "report about today", ""):
        assert dist.predict_one(t) == mem.predict_one(t), t


@pytest.mark.spark
def test_train_nb_df_10x_scale_no_driver_corpus(spark):
    """Train at 10× fixture scale where the corpus exists only as a Spark
    plan (cross-join expansion — never a driver list): the distributed fit
    must equal train_nb on the equivalent materialized rows, and the only
    collected datasets are the O(labels×vocab) aggregates."""
    from fetcho_spark.functions.mlmodel import (topics_fixture_corpus,
                                                train_nb, train_nb_df)
    texts, labels = topics_fixture_corpus()
    base = spark.createDataFrame(list(zip(texts, labels)),
                                 "text string, label string")
    # 10× expansion with per-copy variation so the fit differs from 1×:
    # copy k appends a distinct 'copyk' token to every doc
    big = (base.crossJoin(spark.range(10).select(F.col("id").alias("_k")))
           .select(F.concat_ws(" ", "text",
                               F.concat(F.lit("copy"), F.col("_k")))
                   .alias("text"), "label"))
    dist = train_nb_df(big, "text", "label")
    exp_rows = [(f"{t} copy{k}", l)
                for t, l in zip(texts, labels) for k in range(10)]
    mem = train_nb([t for t, _ in exp_rows], [l for _, l in exp_rows])
    assert _model_fingerprint(dist) == _model_fingerprint(mem)
    assert len(dist.vocab) == len(mem.vocab) > 0
    # 10× replication with variation really changed the model vs 1×
    assert _model_fingerprint(dist) != _model_fingerprint(
        train_nb(texts, labels))


@pytest.mark.spark
def test_train_nb_df_vocab_bound(spark):
    """VERDICT r4 #3: with an injected hapax tail the trainer must
    collect a BOUNDED vocabulary — min_df cuts the tail, max_vocab caps
    top-V deterministically — while defaults stay bit-par with train_nb."""
    from fetcho_spark.functions.mlmodel import (topics_fixture_corpus,
                                                train_nb, train_nb_df)
    texts, labels = topics_fixture_corpus()
    base = spark.createDataFrame(list(zip(texts, labels)),
                                 "text string, label string")
    # hapax tail: 5000 one-off tokens, one per synthetic doc
    tail = spark.range(5000).select(
        F.concat(F.lit("hapaxword"), F.col("id")).alias("text"),
        F.lit(labels[0]).alias("label"))
    df = base.unionByName(tail)
    core_vocab = len(train_nb(texts, labels).vocab)
    # min_df=2 drops every hapax: vocab collapses to repeated tokens only
    m = train_nb_df(df, "text", "label", min_df=2)
    assert len(m.vocab) <= core_vocab
    assert not any(t.startswith("hapaxword") for t in m.vocab)
    # top-V cap: exactly V tokens survive, the most frequent ones
    m50 = train_nb_df(df, "text", "label", max_vocab=50)
    assert len(m50.vocab) == 50
    # deterministic across partitionings
    m50b = train_nb_df(df.repartition(13), "text", "label", max_vocab=50)
    assert sorted(m50.vocab) == sorted(m50b.vocab)
    # bounded model still classifies the fixture topics
    pred, _ = m50.predict_one("quantum experiment research data")
    assert pred in m50.labels


@pytest.mark.spark
def test_hamming_band_cap_observation_metric(spark):
    """Bounded-recall mode must be observable (ADVICE r3): when the cap
    drops hot buckets, an attached Observation reports how many buckets and
    rows were cut — on the SAME action, no extra job; when nothing exceeds
    the cap it reports 0/0 (recall was 100%)."""
    from pyspark.sql import Observation
    rows = [(i, 0x0F0F0F0F) for i in range(20)]       # hot identical cluster
    rows += [(100, 0b1010101), (101, 0b1010100)]      # cold near pair
    df = spark.createDataFrame(rows, "doc_id long, sig long")
    obs = Observation("cap")
    got = {(r["id_a"], r["id_b"])
           for r in D.hamming_band_pairs(df, "sig", "doc_id", 60, 3,
                                         max_band_df=10,
                                         observation=obs).collect()}
    assert got == {(100, 101)}
    m = obs.get
    # 20 identical sigs → 4 hot buckets: bands 0-1 hold the 20 cluster
    # rows; the cluster's zero-valued high bands 2-3 also absorb the two
    # cold docs' zero bands (22 rows each) → 20+20+22+22
    assert m["hot_buckets_dropped"] == 4 and m["hot_bucket_rows"] == 84
    obs2 = Observation("nocap")
    D.hamming_band_pairs(df.filter(F.col("doc_id") >= 100), "sig",
                         "doc_id", 60, 3, max_band_df=10,
                         observation=obs2).collect()
    assert obs2.get == {"hot_buckets_dropped": 0, "hot_bucket_rows": 0}


@pytest.mark.spark
def test_duplicate_spans(spark):
    """Span-granular exact dedup: a 20-word span shared by two docs is
    flagged in both; unique text is not; a boilerplate span present in
    more than max_df docs is dropped by the cap; same-doc repetition
    counts every occurrence; short docs emit no spans."""
    shared = " ".join(f"w{i}" for i in range(20))          # exactly one span
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"b{i}" for i in range(20))
    selfrep = " ".join(f"s{i}" for i in range(20))
    boiler = " ".join(f"c{i}" for i in range(20))
    rows = [(0, shared + " " + uniq_a),
            (1, shared + " " + uniq_b),
            (2, "too short to span"),
            (3, selfrep + " " + selfrep)]                  # self-repetition
    rows += [(10 + k, boiler) for k in range(4)]           # df=4 > max_df=3
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"], r["dup_fraction"])
           for r in TX.duplicate_spans(
               df, span_tokens=20, stride=20, max_df=3).collect()}
    assert 2 not in got                       # no span emitted
    # docs 0/1: spans [shared, uniq_*] — only the shared one duplicated
    assert got[0] == (2, 1, 0.5)
    assert got[1] == (2, 1, 0.5)
    # doc 3: same-doc repetition counts every occurrence (df=2 within it)
    assert got[3] == (2, 2, 1.0)
    # boilerplate docs: df=4 > max_df → not counted as dup
    for k in range(4):
        assert got[10 + k] == (1, 0, 0.0)
    # with the cap lifted, the boilerplate spans count too
    got2 = {r["doc_id"]: r["n_dup_spans"]
            for r in TX.duplicate_spans(
                df, span_tokens=20, stride=20, max_df=10**6).collect()}
    assert got2[0] == 1 and got2[3] == 2 and got2[10] == 1


def test_mixture_weights_temperature(spark):
    from fetcho_spark.operators.textops import mixture_weights
    df = spark.createDataFrame(
        [(i, "s" + str(i % 3), "w " * (10 * (4 ** (i % 3))))
         for i in range(30)], "doc_id long, source string, text string")
    rows = {r["source"]: r for r in mixture_weights(df).collect()}
    assert abs(sum(r["weight"] for r in rows.values()) - 1.0) < 1e-9
    # alpha=0.5 flattens: a 16x token ratio becomes a 4x weight ratio
    r = rows["s2"]["weight"] / rows["s0"]["weight"]
    assert abs(r - 4.0) < 1e-3, r
    # alpha=1 (0 sqrts) is proportional
    rows1 = {r["source"]: r for r in
             mixture_weights(df, alpha_sqrts=0).collect()}
    r1 = rows1["s2"]["weight"] / rows1["s0"]["weight"]
    assert abs(r1 - 16.0) < 1e-3, r1
    # n_tokens exact
    assert rows["s0"]["n_tokens"] == 10 * 10


@pytest.mark.spark
def test_exact_dedup_best_survivor(spark):
    """Quality-aware survivor: highest score wins within a fingerprint
    group, ties break to the lowest id — and the choice diverges from
    exact_dedup_groups' min-id rule when a later dup scores higher."""
    scored = _docs(spark).withColumn(
        "score", F.element_at(
            F.array(*[F.lit(v) for v in [10, 50, 50, 7, 9, 1]]),
            F.col("doc_id").cast("int")))
    out = {r["keep_id"]: (r["best_score"], r["n_docs"])
           for r in D.exact_dedup_best(scored, "score").collect()}
    # group {1,2,3}: scores 10/50/50 -> 2 and 3 tie at 50, lowest id 2
    assert out[2] == (50, 3)
    assert 1 not in out and 3 not in out
    assert out[4] == (7, 1) and out[5] == (9, 1) and out[6] == (1, 1)


@pytest.mark.spark
def test_exact_dedup_best_null_scores_and_string_ids(spark):
    """ADVICE r5 regression: NULL scores lose to any non-NULL score
    (never win, never poison the ordering struct), an all-NULL group
    falls back to lowest id, and non-numeric ids work (no negation)."""
    rows = [("a", "dup one", 5.0), ("b", "dup one", None),
            ("c", "dup one", 9.0),
            ("x", "dup two", None), ("y", "dup two", None),
            ("z", "only", None)]
    df = spark.createDataFrame(rows, "doc_id string, text string, "
                                     "score double")
    out = {r["keep_id"]: (r["best_score"], r["n_docs"])
           for r in D.exact_dedup_best(df, "score",
                                       id_col="doc_id").collect()}
    assert out["c"] == (9.0, 3)          # NULL (b) loses to 5.0 and 9.0
    assert out["x"] == (None, 2)         # all-NULL group: lowest id
    assert out["z"] == (None, 1)
    assert set(out) == {"c", "x", "z"}
