"""URL-seen dedup parity (middlewares.py:50-68 semantics) and corpus
near-dup operators."""

from pyspark.sql import functions as F

from crawler_spark.functions.urlnorm import canonicalize_col
from crawler_spark.operators.cuckoo import build_cuckoo_sharded
from crawler_spark.operators.dedup import (
    embedding_near_dup_lsh,
    embedding_near_dup_pairs,
    exact_dedup,
    intra_batch_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    url_seen_filter,
)

CAND_SCHEMA = "url string, url_hash long, dont_filter boolean, seq string"


def _cands(spark, rows):
    df = spark.createDataFrame(rows, "url string, dont_filter boolean, seq string")
    return df.withColumn("url_hash", F.xxhash64(canonicalize_col(F.col("url"))))


def _seen(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return df.select(
        "url",
        F.xxhash64(canonicalize_col(F.col("url"))).alias("url_hash"),
        F.lit(0).alias("first_seen_batch"),
    )


def test_intra_batch_keeps_min_seq(spark):
    df = _cands(
        spark,
        [("http://a/x", False, "0001.002"), ("http://a/x", False, "0001.001"),
         ("http://a/y", False, "0002")],
    )
    out = intra_batch_dedup(df).select("url", "seq").collect()
    got = {(r.url, r.seq) for r in out}
    assert got == {("http://a/x", "0001.001"), ("http://a/y", "0002")}


def test_url_seen_exact_with_and_without_bloom(spark):
    """The exact survivor set is the same with no prefilter and with the
    URL-seen prefilter (the sharded cuckoo tier) in front of the anti-join,
    including a dont_filter row whose URL is already seen."""
    seen = _seen(spark, [f"http://s/{i}" for i in range(200)])
    cands = _cands(
        spark,
        [(f"http://s/{i}", False, f"{i:04d}") for i in range(150, 250)]
        + [("http://s/42", True, "9999")],  # dont_filter bypass
    )
    expect = {f"http://s/{i}" for i in range(200, 250)} | {"http://s/42"}

    plain = url_seen_filter(spark, cands, seen)
    assert {r.url for r in plain.select("url").collect()} == expect

    shards = build_cuckoo_sharded(seen, "url_hash", num_shards=4)
    prefiltered = url_seen_filter(spark, cands, seen, shards)
    assert {r.url for r in prefiltered.select("url").collect()} == expect


def test_exact_dedup(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id long, text string",
    )
    out = {(r.keep_id, r.dup_count) for r in exact_dedup(docs).collect()}
    assert out == {(1, 2), (3, 1)}


def test_ngram_jaccard_pairs(spark):
    base = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " k"), (4, "totally different words here now")],
        "doc_id long, text string",
    )
    out = ngram_jaccard_pairs(docs, n=3, threshold=0.7)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert got[(1, 2)] == 1.0
    assert (1, 3) in got and got[(1, 3)] >= 0.7
    assert all(4 not in pair for pair in got)


def test_minhash_lsh_finds_exact_pairs(spark):
    """LSH candidates, exact-verified, must agree with brute-force Jaccard
    on clear duplicates and reject clear non-duplicates."""
    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(29)) + " zzz"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, near),
         (4, " ".join(f"u{i}" for i in range(30)))],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b) for r in
           minhash_lsh_pairs(docs, n=3, num_hashes=32, bands=8, threshold=0.5).collect()}
    assert (1, 2) in got
    assert (1, 3) in got and (2, 3) in got
    assert all(4 not in p for p in got)


def test_minhash_verify_plans_agree(spark):
    """The explode+count and array_intersect verify plans are two physical
    strategies for the same exact-Jaccard math — identical (pair, jaccard)
    output on a corpus with full, partial, and zero overlap."""
    rows = [
        (1, " ".join(f"w{i}" for i in range(40))),
        (2, " ".join(f"w{i}" for i in range(40))),
        (3, " ".join(f"w{i}" for i in range(20))
            + " " + " ".join(f"x{i}" for i in range(20))),
        (4, " ".join(f"u{i}" for i in range(40))),
        (5, " ".join(f"w{i}" for i in range(35))
            + " " + " ".join(f"y{i}" for i in range(5))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n=3, num_hashes=32, bands=16, threshold=0.2)
    a = {(r.doc_a, r.doc_b): r.jaccard for r in
         minhash_lsh_pairs(docs, verify="array", **kw).collect()}
    e = {(r.doc_a, r.doc_b): r.jaccard for r in
         minhash_lsh_pairs(docs, verify="explode", **kw).collect()}
    assert a == e and (1, 2) in e


def test_near_dup_components_transitive_and_representative(spark):
    """{a~b, b~c} collapses into ONE cluster even though a~c was never a
    pair (transitive closure); singletons stay their own cluster; the
    representative is the highest-quality doc with id as tiebreak."""
    from crawler_spark.operators.dedup import (
        dedup_cluster_representatives,
        near_dup_components,
    )

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (10, "z"), (11, "z")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {r.doc: r.cluster for r in
            near_dup_components(docs, pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 4, 10: 10, 11: 10}

    # quality: doc 2 best in its cluster; tie in cluster 10 → lower id
    qual = F.when(F.col("doc_id") == 2, F.lit(0.9)).otherwise(F.lit(0.5))
    reps = {r.doc_id: (r.cluster, r.keep) for r in
            dedup_cluster_representatives(docs, pairs, qual).collect()}
    assert reps[2] == (1, True) and reps[1] == (1, False)
    assert reps[4] == (4, True)
    assert reps[10] == (10, True) and reps[11] == (10, False)


def test_near_dup_components_path_graph_logn_rounds(spark):
    """Adversarial-depth property: a PATH graph of 1,000 docs (diameter
    999 — the shape templated-boilerplate series produce) converges via
    the large-star/small-star contraction within max_iters=25 total star
    pair-rounds (~2·log₂(n)), where pure min-label propagation would need
    999 rounds. Every doc must land in the single component labeled with
    the minimum id."""
    from crawler_spark.operators.dedup import near_dup_components

    n = 1000
    docs = spark.range(n).select(
        F.format_string("d%04d", F.col("id")).alias("doc_id")
    )
    pairs = spark.range(n - 1).select(
        F.format_string("d%04d", F.col("id")).alias("doc_a"),
        F.format_string("d%04d", F.col("id") + 1).alias("doc_b"),
    )
    stats = {}
    comp = near_dup_components(docs, pairs, max_iters=25, stats=stats)
    agg = comp.agg(
        F.countDistinct("cluster").alias("k"),
        F.min("cluster").alias("mn"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert (agg["k"], agg["mn"], agg["n"]) == (1, "d0000", n)
    assert stats["used_star"] is True


def test_near_dup_components_shallow_skips_star(spark):
    """Dense shallow clusters (the real near-dup shape) converge inside
    the min-label fast path without ever invoking star contraction."""
    from crawler_spark.operators.dedup import near_dup_components

    docs = spark.createDataFrame(
        [(i, "x") for i in range(8)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "doc_a long, doc_b long"
    )
    stats = {}
    comp = {r.doc: r.cluster
            for r in near_dup_components(docs, pairs, stats=stats).collect()}
    assert comp == {i: 0 for i in range(8)}
    # hops are fused in PAIRS per driver cycle: convergence observed on
    # the second cycle = 4 hops, exactly 2 checkpoint+agg round-trips
    assert stats["used_star"] is False and stats["label_rounds"] <= 4


def test_ngram_jaccard_doc_freq_cap_kills_stopword_fanout(spark):
    """A shingle present in EVERY doc (boilerplate) would create |docs|²
    join fanout; the document-frequency cap drops it from the shingle
    universe, and jaccard over the capped universe still finds the real
    near-dups."""
    boiler = "all rights reserved"
    uniq = [f"alpha{i} beta{i} gamma{i} delta{i}" for i in range(40)]
    rows = [(i, f"{uniq[i]} {boiler}") for i in range(40)]
    rows.append((100, rows[0][1]))  # exact dup of doc 0
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = ngram_jaccard_pairs(docs, n=3, threshold=0.8, max_doc_freq=5)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    # the only surviving pair is the true duplicate; the shared boilerplate
    # shingles (doc-freq 41 > 5) create no pairs at all
    assert got == {(0, 100): 1.0}


def test_embedding_near_dup_lsh_recall_vs_brute_force(spark):
    """At a near-dup threshold (0.9+) the bucketed path must find every
    pair the exact all-pairs baseline finds: perturbed copies land in the
    same or Hamming-1 LSH bucket with overwhelming probability."""
    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal((12, 16))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a near-duplicate: tiny perturbation → cosine ≈ 0.999
        rows.append((100 + i, [float(x) for x in v + rng.standard_normal(16) * 0.02]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    brute = {(r.id_a, r.id_b) for r in embedding_near_dup_pairs(
        emb, threshold=0.9, id_col="vec_id", vec_col="embedding").collect()}
    lsh = {(r.id_a, r.id_b) for r in embedding_near_dup_lsh(
        emb, threshold=0.9, n_planes=8, dim=16,
        id_col="vec_id", vec_col="embedding").collect()}
    assert brute, "fixture must contain near-dup pairs"
    assert lsh <= brute  # exact verify: no false positives
    assert lsh == brute  # full recall on true near-dups


def test_simhash_near_dup(spark):
    base = " ".join(f"tok{i}" for i in range(64))
    docs = spark.createDataFrame(
        [(1, base), (2, base),
         (3, " ".join(f"other{i}" for i in range(64)))],
        "doc_id long, text string",
    )
    got = {(r.doc_a, r.doc_b): r.hamming for r in
           simhash_near_dup_pairs(docs, max_hamming=3).collect()}
    assert got.get((1, 2)) == 0
    assert (1, 3) not in got and (2, 3) not in got


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003)
# ---------------------------------------------------------------------------

def _winnow_py(text: str, k: int, w: int) -> set[int]:
    """Single-threaded reference winnowing: md5-derived 60-bit gram hashes,
    min per full window (all-gram min when fewer than w grams), distinct."""
    import hashlib

    t = "".join(ch for ch in text.lower() if ch.isalnum())
    if len(t) < k:
        return set()
    hs = [
        int(hashlib.md5(t[i : i + k].encode()).hexdigest()[:15], 16)
        for i in range(len(t) - k + 1)
    ]
    n = len(hs)
    out = set()
    for start in range(max(n - w + 1, 1)):
        out.add(min(hs[start : start + w]))
    return out


def test_winnow_fingerprints_match_python_reference(spark):
    import random

    from crawler_spark.operators.dedup import winnow_fingerprints

    rng = random.Random(7)
    docs = [
        (i, " ".join(
            "".join(rng.choice("abcdefg ,.") for _ in range(rng.randrange(0, 40)))
            for _ in range(rng.randrange(1, 6))
        ))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc, r.fp)
        for r in winnow_fingerprints(df, k=8, w=4).collect()
    }
    want = {
        (i, fp) for i, text in docs for fp in _winnow_py(text, 8, 4)
    }
    assert got == want


def test_winnow_guarantee_shared_substring_shares_fingerprint(spark):
    """The winnowing guarantee: a shared normalized substring of length
    ≥ k + w - 1 forces at least one shared selected fingerprint."""
    from crawler_spark.operators.dedup import winnow_near_dup_pairs

    k, w = 8, 4
    shared = "thequickbrownfoxjumps"  # 21 ≥ k+w-1 = 11
    docs = [
        (1, "prefix one " + shared + " tail alpha"),
        (2, "completely different lead " + shared + " other ending"),
        (3, "no overlap with anything here at all zzz qqq"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b)
        for r in winnow_near_dup_pairs(df, k=k, w=w, min_shared=1).collect()
    }
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_duplicated_substring_spans(spark):
    """ExactSubstr (Lee et al. 2021) span detection: cross-doc duplicated
    k-token runs are found with exact 1-based boundaries, overlapping hit
    windows merge into one maximal span, contiguous spans merge, and a
    within-doc repeat counts as duplicated. Hand-computed fixture."""
    from crawler_spark.operators.dedup import duplicated_substring_spans

    k = 4
    run = "w1 w2 w3 w4 w5"          # 5 tokens -> windows at pos 1,2 duplicated
    rep = "r1 r2 r3 r4"             # 4 tokens, repeated inside doc 3
    docs = [
        (1, "a1 a2 " + run + " a3 a4"),          # run at tokens 3..7
        (2, run + " b1 b2 b3"),                  # run at tokens 1..5
        (3, rep + " x1 " + rep),                 # within-doc repeat: 1..4, 6..9
        (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9"),       # unique
        (5, "s1 s2"),                            # shorter than k: dropped
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = duplicated_substring_spans(df, k=k).collect()
    spans = {(r.doc, r.span_start, r.span_end, r.n_windows) for r in out}
    assert spans == {
        (1, 3, 7, 2),   # windows at pos 3 and 4 merge (overlap)
        (2, 1, 5, 2),
        (3, 1, 4, 1),
        (3, 6, 9, 1),   # gap of one token -> NOT merged (pos 6 > 1 + k)
    }


def test_duplicated_substring_contiguous_merge(spark):
    """Two duplicated windows whose spans touch back-to-back (window
    starts exactly k apart) merge into one span."""
    from crawler_spark.operators.dedup import duplicated_substring_spans

    k = 3
    a = "p1 p2 p3"
    b = "q1 q2 q3"
    docs = [
        (1, a + " " + b),    # windows pos 1 (a) and pos 4 (b): contiguous
        (2, a + " z1 " + b), # donors making both runs duplicated
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {(r.doc, r.span_start, r.span_end)
            for r in duplicated_substring_spans(df, k=k).collect()
            if r.doc == 1}
    assert rows == {(1, 1, 6)}
