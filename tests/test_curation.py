"""Curation operators (operators/curation.py): Gopher-style repetition
filters, deterministic stratified sampling, benchmark decontamination —
exact values vs hand-computed / pure-Python references, plus the plan
disciplines that make them hold at 100 TB (no Python eval nodes; the
decontamination join broadcasts the benchmark side)."""

from __future__ import annotations

import hashlib
from collections import Counter

from crawler_spark.operators.curation import (
    SAMPLE_BUCKETS,
    decontaminate,
    repetition_stats,
    sample_bucket,
    sequence_pack,
    stratified_sample,
)

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_repetition_stats_hand_computed(spark):
    docs = _docs(spark, [
        # 6 words, 4 distinct -> dup 1-4/6=0.3333; bigrams: "a b" x2 of 5
        # -> 0.4; trigrams: all 4 distinct -> 0.25
        (1, "a b a b c d", "en"),
        # no repetition at all: dup 0.0, every 2-/3-gram unique
        (2, "one two three four", "en"),
        # one word repeated: dup 1-1/4=0.75, top bigram "x x" 3/3=1.0
        (3, "x x x x", "en"),
    ])
    out = {r["doc_id"]: r.asDict()
           for r in repetition_stats(docs).collect()}
    assert out[1] == {
        "doc_id": 1, "n_words": 6, "dup_word_frac": 0.3333,
        "top_bigram_frac": 0.4, "top_trigram_frac": 0.25, "keep": False,
    }
    assert out[2] == {
        "doc_id": 2, "n_words": 4, "dup_word_frac": 0.0,
        "top_bigram_frac": 0.3333, "top_trigram_frac": 0.5, "keep": False,
    }
    assert out[3]["dup_word_frac"] == 0.75
    assert out[3]["top_bigram_frac"] == 1.0
    assert out[3]["keep"] is False


def test_repetition_keep_flag_thresholds(spark):
    # 20 distinct words: dup 0, top bigram 1/19=0.0526, trigram 1/18 ->
    # passes every Gopher threshold
    good = " ".join(f"w{i}" for i in range(20))
    docs = _docs(spark, [(1, good, "en")])
    row = repetition_stats(docs).collect()[0]
    assert row["keep"] is True


def test_repetition_short_doc_no_ngrams(spark):
    # 1 word: no bigrams/trigrams -> fractions coalesce to 0.0
    docs = _docs(spark, [(1, "solo", "en")])
    row = repetition_stats(docs).collect()[0]
    assert row["top_bigram_frac"] == 0.0
    assert row["top_trigram_frac"] == 0.0
    assert row["dup_word_frac"] == 0.0
    assert row["keep"] is True


def _py_bucket(doc_id: int) -> int:
    h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
    return h % SAMPLE_BUCKETS


def test_stratified_sample_deterministic_and_exact(spark):
    rows = [(i, f"text {i}", ["en", "es", "zz"][i % 3]) for i in range(300)]
    docs = _docs(spark, rows)
    rates = {"en": 0.5, "es": 0.1}  # zz absent -> dropped entirely
    got = {(r["doc_id"], r["lang"], r["bucket"])
           for r in stratified_sample(docs, rates).collect()}
    want = set()
    for i, _t, lang in rows:
        b = _py_bucket(i)
        rate = {"en": 5000, "es": 1000}.get(lang, 0)
        if b < rate:
            want.add((i, lang, b))
    assert got == want
    assert any(lang == "en" for _, lang, _b in got)
    assert all(lang != "zz" for _, lang, _b in got)
    # re-run selects the identical subset (hash, not RNG)
    again = {(r["doc_id"], r["lang"], r["bucket"])
             for r in stratified_sample(docs, rates).collect()}
    assert again == got


def test_stratified_sample_empty_rates_drops_all(spark):
    docs = _docs(spark, [(1, "a b", "en"), (2, "c d", "es")])
    assert stratified_sample(docs, {}).count() == 0


def test_sample_bucket_matches_python_md5(spark):
    df = spark.range(50).select(
        F.col("id").alias("doc_id"),
        sample_bucket(F.col("id")).alias("b"),
    )
    for r in df.collect():
        assert r["b"] == _py_bucket(r["doc_id"])


def _py_decontaminate(rows, bench_mod=37, n=8):
    shingles = {}
    for doc_id, text, _lang in rows:
        w = text.split(" ")
        shingles[doc_id] = {
            " ".join(w[i:i + n]) for i in range(len(w) - n + 1)
        }
    bench = set()
    for doc_id, sh in shingles.items():
        if doc_id % bench_mod == 0:
            bench |= sh
    out = {}
    for doc_id, sh in shingles.items():
        if doc_id % bench_mod == 0:
            continue
        hits = len(sh & bench)
        if hits:
            out[doc_id] = hits
    return out


def test_decontaminate_matches_python_reference(spark):
    # doc 0 is benchmark; doc 5 shares its tail 8-gram; doc 6 shares
    # nothing; doc 74 (2*37) is also benchmark and matches doc 0 — but
    # benchmark docs are never reported
    phrase = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, "lead in words " + phrase, "en"),
        (5, phrase + " trailing words here", "en"),
        (6, " ".join(f"u{i}" for i in range(12)), "en"),
        (74, phrase + " more words", "en"),
    ]
    docs = _docs(spark, rows)
    got = {r["doc_id"]: r["n_hits"]
           for r in decontaminate(docs, bench_mod=37, n=8).collect()}
    assert got == _py_decontaminate(rows)
    assert got == {5: 1}


def test_decontaminate_counts_distinct_shingles_once(spark):
    # a doc repeating a contaminated 8-gram twice still counts it once
    phrase = "p1 p2 p3 p4 p5 p6 p7 p8"
    rows = [
        (0, phrase, "en"),
        (1, phrase + " mid " + phrase, "en"),
    ]
    docs = _docs(spark, rows)
    got = {r["doc_id"]: r["n_hits"]
           for r in decontaminate(docs, bench_mod=37, n=8).collect()}
    assert got[1] == 1


def test_curation_plans_stay_jvm_side(spark):
    """No Python eval nodes anywhere; the decontamination benchmark side
    is broadcast (no shuffle of the corpus-side rows for the join)."""
    docs = _docs(spark, [(i, f"a b c d e f g h i{i}", "en")
                         for i in range(40)])
    for df in (
        repetition_stats(docs),
        stratified_sample(docs, {"en": 0.5}),
        decontaminate(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan
    plan = decontaminate(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sequence_pack_hand_computed(spark):
    # Stream "en", seq_len 10, docs in doc_id order with 4/8/3 tokens:
    #   d1: start 0  -> pack 0 offset 0, end (0+4-1)//10  = 0
    #   d2: start 4  -> pack 0 offset 4, end (4+8-1)//10  = 1 (straddles)
    #   d3: start 12 -> pack 1 offset 2, end (12+3-1)//10 = 1
    docs = _docs(spark, [
        (1, "a b c d", "en"),
        (2, "a b c d e f g h", "en"),
        (3, "x y z", "en"),
        (4, "p q", "hi"),  # independent stream restarts at offset 0
    ])
    out = {r.doc_id: r for r in sequence_pack(docs, seq_len=10).collect()}
    assert (out[1].start_pack, out[1].pack_offset, out[1].end_pack) == (0, 0, 0)
    assert (out[2].start_pack, out[2].pack_offset, out[2].end_pack) == (0, 4, 1)
    assert (out[3].start_pack, out[3].pack_offset, out[3].end_pack) == (1, 2, 1)
    assert (out[4].start_pack, out[4].pack_offset, out[4].end_pack) == (0, 0, 0)


def test_sequence_pack_contiguous_no_gaps(spark):
    rows = [(i, " ".join(["w"] * (3 + i % 7)), "en") for i in range(50)]
    docs = _docs(spark, rows)
    got = sorted(
        sequence_pack(docs, seq_len=16).collect(), key=lambda r: r.doc_id
    )
    pos = 0
    for r in got:
        assert r.start_pack * 16 + r.pack_offset == pos
        pos += r.n_tokens
        assert r.end_pack == (pos - 1) // 16


def test_sequence_pack_deterministic_under_partitioning(spark):
    rows = [(i, " ".join(["w"] * (1 + i % 5)), "l" + str(i % 3))
            for i in range(60)]
    a = sequence_pack(_docs(spark, rows), seq_len=8).collect()
    b = sequence_pack(_docs(spark, rows).repartition(13), seq_len=8).collect()
    key = lambda r: r.doc_id
    assert sorted(a, key=key) == sorted(b, key=key)


def test_dsir_weights_prefers_target_like_docs(spark):
    """DSIR (Xie et al. 2023) semantics on a constructed corpus: raw docs
    written in the target slice's vocabulary must outrank raw docs written
    in a disjoint vocabulary, singleton grams cancel via smoothing, and
    the weight is re-run stable."""
    from crawler_spark.operators.curation import dsir_weights

    # target slice = doc_id % 23 == 0 → ids 0, 23 are TARGET
    target_text = "alpha beta gamma delta alpha beta gamma delta"
    offdomain = "zeta eta theta iota kappa lam mu nu"
    rows = [
        (0, target_text, "en"), (23, target_text, "en"),
        (1, target_text, "en"),          # raw, target-like
        (2, offdomain, "en"),            # raw, off-domain
        (3, "alpha beta zeta eta theta iota kappa lam", "en"),  # mixed
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = dsir_weights(docs, k=10).collect()
    by_id = {r.doc_id: r for r in out}
    assert set(by_id) == {1, 2, 3}                 # target docs excluded
    assert by_id[1].weight_micro > by_id[3].weight_micro > by_id[2].weight_micro
    assert by_id[1].weight_micro > 0 > by_id[2].weight_micro
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rank)] == [1, 3, 2]
    # deterministic across re-runs (the selection manifest property)
    again = {r.doc_id: r.weight_micro
             for r in dsir_weights(docs, k=10).collect()}
    assert again == {i: r.weight_micro for i, r in by_id.items()}


def test_dsir_plan_shape(spark):
    """The 8192-row log-ratio table must broadcast (no corpus-side
    SortMergeJoin) and the whole plan stays JVM-side."""
    from crawler_spark.operators.curation import dsir_weights

    docs = _docs(spark, [(i, f"w{i} w{i+1} w{i+2} common token", "en")
                         for i in range(60)])
    plan = dsir_weights(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ccnet_perplexity_semantics(spark):
    """CCNet bucketing (Wenzek et al. 2020) on a constructed corpus:
    docs written in the target slice's vocabulary get LOWER cross-entropy
    than off-domain docs, every raw doc gets a bucket, head precedes tail
    in ce order, and re-runs are identical."""
    from crawler_spark.operators.curation import ccnet_perplexity

    target_text = "alpha beta gamma delta " * 4
    rows = [(0, target_text.strip(), "en"), (23, target_text.strip(), "en")]
    # 30 raw docs with a vocabulary gradient: i target-vocab words out
    # of 10 (never multiples of 23 → all raw)
    for i in range(1, 31):
        n_t = i % 11
        words = (["alpha", "beta", "gamma", "delta"] * 3)[:n_t] + [
            f"rare{i}_{j}" for j in range(10 - n_t)
        ]
        rows.append((i if i % 23 else i + 100, " ".join(words), "en"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = ccnet_perplexity(docs).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(out) == 30 and 0 not in by_id and 23 not in by_id
    assert set(r.bucket for r in out) == {"head", "middle", "tail"}
    # all-target-vocab docs (n_t == 10 → i in {10, 21}) must be head;
    # all-rare docs (n_t == 0 → i = 11, 22) must be tail
    assert by_id[10].bucket == "head" and by_id[21].bucket == "head"
    assert by_id[11].bucket == "tail" and by_id[22].bucket == "tail"
    # bucket order is consistent with ce order
    max_head = max(r.ce_micro for r in out if r.bucket == "head")
    min_tail = min(r.ce_micro for r in out if r.bucket == "tail")
    assert max_head < min_tail
    again = {(r.doc_id, r.ce_micro, r.bucket)
             for r in ccnet_perplexity(docs).collect()}
    assert again == {(r.doc_id, r.ce_micro, r.bucket) for r in out}


def test_ccnet_plan_shape(spark):
    """LM table and cutoff scalars broadcast; corpus never sort-merge
    joined; whole plan JVM-side; the ntile window sees only the sample
    (its input is the filtered ce frame, not the corpus explode)."""
    from crawler_spark.operators.curation import ccnet_perplexity

    docs = _docs(spark, [(i, f"w{i} w{i+1} shared tok", "en")
                         for i in range(60)])
    plan = ccnet_perplexity(docs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# CCNet paragraph-hash dedup
# ---------------------------------------------------------------------------

def _para_out(spark, rows, width=2):
    from crawler_spark.operators.curation import paragraph_dedup

    docs = _docs(spark, rows).withColumn("w_arr", F.split("text", " "))
    segs = F.expr(
        f"transform(sequence(0, cast(ceil(size(w_arr)/{width}.0) as int)"
        f" - 1), i -> array_join(slice(w_arr, i*{width}+1, {width}), ' '))"
    )
    return {r.doc_id: r for r in paragraph_dedup(docs, segs).collect()}


def test_paragraph_dedup_keeps_first_occurrence(spark):
    out = _para_out(spark, [
        (1, "a b c d", "en"),        # segs: "a b", "c d"
        (2, "a b x y", "en"),        # "a b" dup of doc1 pos0 -> dropped
        (3, "c d a b", "en"),        # both segs dup -> emptied
    ])
    assert out[1].text_dedup == "a b c d"
    assert (out[1].n_segments, out[1].n_kept) == (2, 2)
    assert out[2].text_dedup == "x y"
    assert (out[2].n_segments, out[2].n_kept) == (2, 1)
    assert out[3].text_dedup == ""
    assert (out[3].n_segments, out[3].n_kept) == (2, 0)


def test_paragraph_dedup_intra_doc_and_order(spark):
    # duplicate INSIDE one doc: first occurrence survives, order preserved
    out = _para_out(spark, [(1, "p q a b p q z z", "en")])
    assert out[1].text_dedup == "p q a b z z"
    assert (out[1].n_segments, out[1].n_kept) == (4, 3)


def test_paragraph_dedup_deterministic_and_plan(spark):
    from crawler_spark.operators.curation import paragraph_dedup

    rows = [(i, " ".join(f"w{(i * 7 + j) % 9}" for j in range(10)), "en")
            for i in range(40)]
    docs = _docs(spark, rows).withColumn("w_arr", F.split("text", " "))
    segs = F.expr(
        "transform(sequence(0, cast(ceil(size(w_arr)/2.0) as int) - 1),"
        " i -> array_join(slice(w_arr, i*2+1, 2), ' '))"
    )
    a = paragraph_dedup(docs.repartition(1), segs).orderBy("doc_id").collect()
    b = paragraph_dedup(docs.repartition(7, "doc_id"), segs) \
        .orderBy("doc_id").collect()
    assert a == b
    plan = paragraph_dedup(docs, segs)._jdf.queryExecution() \
        .executedPlan().toString()
    # canonical pick is a partial-agg min, NOT a per-hash window
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan


# ---------------------------------------------------------------------------
# RefinedWeb URL-level filtering
# ---------------------------------------------------------------------------

def test_url_quality_filter_actions(spark):
    from crawler_spark.operators.curation import url_quality_filter

    rows = [
        ("http://ok.example.com/news/1", "ok.example.com"),
        ("http://ok.example.com/CASINO/slots", "ok.example.com"),
        ("http://ok.example.com/gamble?id=3", "ok.example.com"),
        ("http://bad.example.com/news/1", "bad.example.com"),
        ("http://ok.example.com/a/b/c/d/e/f/g/h/i", "ok.example.com"),
    ]
    urls = spark.createDataFrame(rows, "url string, host string")
    out = {r.url: r for r in url_quality_filter(
        urls,
        blocklist_hosts=["bad.example.com"],
        scored_words=[("casino", 500), ("?id=", 150)],
        flag_bp=100, drop_bp=300,
    ).collect()}
    assert out["http://ok.example.com/news/1"].action == "keep"
    assert out["http://ok.example.com/news/1"].score_bp == 0
    # scoring is case-insensitive and drop_bp wins
    assert out["http://ok.example.com/CASINO/slots"].action == "drop"
    assert out["http://ok.example.com/gamble?id=3"].action == "flag"
    # blocklist drops regardless of a zero score
    assert out["http://bad.example.com/news/1"].action == "drop"
    assert out["http://bad.example.com/news/1"].score_bp == 0
    # depth penalty: 9 path segments, 3 beyond 6 -> 30 bp, still keep
    deep = out["http://ok.example.com/a/b/c/d/e/f/g/h/i"]
    assert deep.score_bp == 30 and deep.action == "keep"


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

def test_pii_redact_counts_and_cascade(spark):
    from crawler_spark.operators.curation import pii_redact

    rows = [
        (1, "mail bob.smith+x@news.example.org now", "en"),
        (2, "dial +44 20-7946 0958 or +1 555-0142 today", "en"),
        (3, "host 192.168.0.1 and 10.0.255.7 up", "en"),
        (4, "clean text only", "en"),
        (5, "a@b.io at 127.0.0.1 call +1 555-0100", "en"),
    ]
    out = {r.doc_id: r for r in pii_redact(_docs(spark, rows)).collect()}
    assert (out[1].n_emails, out[1].n_phones, out[1].n_ips) == (1, 0, 0)
    assert out[1].text_redacted == "mail <EMAIL> now"
    assert out[2].n_phones == 2
    assert out[2].text_redacted == "dial <PHONE> or <PHONE> today"
    assert out[3].n_ips == 2
    assert out[3].text_redacted == "host <IP> and <IP> up"
    assert (out[4].n_emails, out[4].n_phones, out[4].n_ips) == (0, 0, 0)
    assert out[4].text_redacted == "clean text only"
    # mixed doc: every type redacted, counts from the ORIGINAL text
    assert (out[5].n_emails, out[5].n_phones, out[5].n_ips) == (1, 1, 1)
    assert out[5].text_redacted == "<EMAIL> at <IP> call <PHONE>"


# ---------------------------------------------------------------------------
# fastText-style hashed linear classifier
# ---------------------------------------------------------------------------

def _ft_py_score(text):
    """Independent hashlib reference for the derived weight table."""
    import math

    ws = text.split(" ")
    grams = [f"{a} {b}" for a, b in zip(ws, ws[1:])]
    if not grams:
        return 0, 0
    tot = 0
    for g in grams:
        b = int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % 4096
        tot += int(hashlib.md5(f"ft:{b}".encode()).hexdigest()[:15],
                   16) % 2001 - 1000
    return len(grams), math.floor(tot / len(grams))


def test_fasttext_score_matches_hashlib_reference(spark):
    from crawler_spark.operators.curation import fasttext_score

    rows = [(i, " ".join(f"tok{(i * 3 + j) % 13}" for j in range(i % 9 + 1)),
             "en") for i in range(30)]
    out = {r.doc_id: r for r in
           fasttext_score(_docs(spark, rows)).collect()}
    for i, text, _ in rows:
        n, score = _ft_py_score(text)
        assert (out[i].n_feats, out[i].score_micro) == (n, score), i
        assert out[i].keep == (score >= 0)
        # fast-sigmoid: monotone, bounded, exact arithmetic
        expect = round(0.5 + score / (2 * (1000 + abs(score))), 6)
        assert out[i].quality_prob == expect


def test_fasttext_single_word_doc_is_neutral(spark):
    from crawler_spark.operators.curation import fasttext_score

    out = fasttext_score(_docs(spark, [(1, "lonely", "en")])).collect()[0]
    assert (out.n_feats, out.score_micro, out.quality_prob, out.keep) == \
        (0, 0, 0.5, True)


def test_fasttext_real_model_file_same_plan(spark):
    """The 'swap in a real model, identical plan' claim, proven with an
    actual fastText TEXT-format (.vec) model file: load_fasttext_vec
    computes each feature's scalar weight as input·output (the supervised
    fastText score), re-buckets with the engine hash, and fasttext_score
    consumes it as a map literal — same map-side plan, no joins, same
    shuffle count as the derived-table path. Some fixture rows end with a
    space, as rows of real fastText .vec dumps do."""
    import os

    from crawler_spark.operators.curation import (
        fasttext_score,
        load_fasttext_vec,
    )

    path = os.path.join(os.path.dirname(__file__), "fixtures",
                        "tiny_quality.vec")
    weights = load_fasttext_vec(path)
    # hand-computed input·output micros for two features
    b_good = int(hashlib.md5(b"good article").hexdigest()[:15], 16) % 4096
    b_click = int(hashlib.md5(b"click here").hexdigest()[:15], 16) % 4096
    assert weights[b_good] == 725000       # 0.8 - 0.1 + 0.025
    assert weights[b_click] == -1100000    # -0.9 - 0.3 + 0.1

    rows = [(1, "good article useful info", "en"),
            (2, "click here buy now", "en"),
            (3, "good article unseen grams here", "en")]
    real = fasttext_score(_docs(spark, rows), weights=weights)
    out = {r.doc_id: r for r in real.collect()}
    # doc 1: (725000 + 0 + 700000) // 3 (unseen 'article useful' -> 0)
    assert (out[1].n_feats, out[1].score_micro, out[1].keep) == \
        (3, 475000, True)
    # doc 2: (-1100000 + 0 + -750000) floor-div 3
    assert (out[2].n_feats, out[2].score_micro, out[2].keep) == \
        (3, -616667, False)
    assert (out[3].n_feats, out[3].score_micro) == (4, 725000 // 4)

    # identical plan shape vs the derived-table path: map-side only —
    # no join anywhere, same number of exchanges (the one partial-agg
    # groupBy), no extra stage for the real model
    # (fresh, un-executed frames: a collected frame's AQE-final plan
    # prints exchanges differently than a pre-execution plan)
    derived = fasttext_score(_docs(spark, rows))
    real2 = fasttext_score(_docs(spark, rows), weights=weights)
    p_real = real2._jdf.queryExecution().executedPlan().toString()
    p_drv = derived._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in p_real
    assert p_real.count("Exchange") == p_drv.count("Exchange")
    assert "BatchEvalPython" not in p_real


def test_url_quality_mirror_matches_spark_column(spark):
    """url_quality_action_py (the simulator's mirror in the filter-guarded
    crawl mode) equals the Spark column on every action path."""
    from crawler_spark.operators.curation import (
        url_quality_action_col,
        url_quality_action_py,
    )

    cfg = dict(
        blocklist_hosts=["bad.example.com"],
        scored_words=[("casino", 500), ("?id=", 150), ("_1_0_", 300)],
        flag_bp=100,
        drop_bp=300,
    )
    urls = (
        [f"http://h{i}.example.com/a/{i}_1_0_2" for i in range(5)]
        + [f"http://h{i}.example.com/gamble?id={i}" for i in range(5)]
        + ["http://bad.example.com/clean/path"]
        + [f"http://ok.example.com/{'d/' * i}leaf" for i in range(12)]
        + ["http://ok.example.com/CASINO", "http://ok.example.com/news"]
    )
    from crawler_spark.simulator import _host

    df = spark.createDataFrame(
        [(u, _host(u)) for u in urls], "url string, host string"
    )
    got = {
        r.url: r.a
        for r in df.select(
            "url",
            url_quality_action_col("url", "host", **cfg).alias("a"),
        ).collect()
    }
    for u in urls:
        assert got[u] == url_quality_action_py(u, _host(u), **cfg), u
