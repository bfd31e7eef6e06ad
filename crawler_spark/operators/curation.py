"""Corpus-curation operators for LLM training-data pipelines: repetition
quality filters, deterministic stratified sampling, and benchmark
decontamination.

These are the set-oriented jobs a 100 TB curation run executes between
crawling and training. All three are pure built-in DataFrame plans (no
Python in the hot path) with exact DuckDB oracles in
``__spark_entry__.oracle_sql``:

* ``repetition_stats`` — the n-gram repetition filters from the Gopher /
  MassiveText data pipeline (Rae et al. 2021, "Scaling Language Models:
  Methods, Analysis & Insights from Training Gopher", table A1):
  documents dominated by one repeated n-gram or by duplicate tokens are
  boilerplate/spam and get dropped before training.
* ``stratified_sample`` — per-language hash sampling with integer-exact
  keep buckets: ``md5(doc_id)``-derived 60-bit uniform mod 10 000 against
  a per-stratum rate. Deterministic (re-runs pick the same rows; no RNG
  state), map-side only (no shuffle), and cross-engine exact — the shape
  used to rebalance language/source mixes at corpus scale.
* ``decontaminate`` — n-gram overlap against an evaluation set (the
  GPT-3 appendix-C / PaLM procedure: a training document sharing any
  long n-gram with a benchmark is contaminated and must be excluded).
  The benchmark side is tiny relative to the corpus, so the join
  broadcasts it; the corpus side stays a single scan → explode →
  broadcast-hash-join → partial-agg count, which is the 100 TB shape.

The reference crawler has no curation layer (its only analytics are the
per-site row counts in baogao.py:56); these operators are first-class
scale additions per the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from crawler_spark.functions.text import (
    md5_long60,
    md5_long60_py,
    shingles_of,
)

# Gopher-style keep thresholds (Rae et al. 2021 use character-fraction
# cutoffs of 0.20/0.18 for top 2-/3-grams; we apply the same cutoffs to
# token fractions since the synthetic corpus has no line structure).
TOP_BIGRAM_MAX = 0.20
TOP_TRIGRAM_MAX = 0.18
DUP_WORD_MAX = 0.80

# Stratified-sample rates are expressed as integer buckets out of 10 000
# so the keep predicate is integer-exact in both engines (no float rate).
SAMPLE_BUCKETS = 10_000


def _tagged(words: Column, n: int) -> Column:
    """(n, gram) structs for every n-gram of a materialized token array."""
    grams = words if n == 1 else shingles_of(words, n)
    return F.transform(
        grams,
        lambda g: F.struct(F.lit(n).alias("n"), g.alias("g")),
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition metrics + keep flag per document.

    Output: ``id, n_words, dup_word_frac, top_bigram_frac,
    top_trigram_frac, keep``. ``dup_word_frac`` = 1 − distinct/total
    whitespace tokens; the top-n-gram fractions measure how much of the
    document one repeated n-gram occupies. ``keep`` applies the module
    thresholds. Docs too short for an n-gram get fraction 0.0 (nothing
    repeats).

    Plan shape: ONE scan + ONE explode of (n, gram)-tagged 1-/2-/3-grams
    feeding two partial-agg shuffles ((doc, n, gram) counts, then per
    (doc) conditional aggregates) — no self-join of the corpus, which a
    per-n tree would cost three scans and two joins at 100 TB. All
    per-gram metrics fall out of the same count rows: distinct unigrams =
    row count at n=1, totals = sum of counts, top fraction = max/sum."""
    toks = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("w")
    )
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.flatten(
                F.array(
                    _tagged(F.col("w"), 1),
                    _tagged(F.col("w"), 2),
                    _tagged(F.col("w"), 3),
                )
            )
        ).alias("t"),
    ).select(id_col, F.col("t.n").alias("n"), F.col("t.g").alias("g"))
    per_gram = grams.groupBy(id_col, "n", "g").agg(
        F.count(F.lit(1)).alias("c")
    )
    stats = per_gram.groupBy(id_col).agg(
        F.sum(F.when(F.col("n") == 1, F.col("c"))).alias("t1"),
        F.count(F.when(F.col("n") == 1, F.lit(1))).alias("d1"),
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("m2"),
        F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("t2"),
        F.max(F.when(F.col("n") == 3, F.col("c"))).alias("m3"),
        F.sum(F.when(F.col("n") == 3, F.col("c"))).alias("t3"),
    )
    joined = stats.select(
        id_col,
        F.col("t1").cast("long").alias("n_words"),
        F.round(
            F.lit(1.0) - F.col("d1").cast("double") / F.col("t1"), 4
        ).alias("dup_word_frac"),
        F.coalesce(
            F.round(F.col("m2").cast("double") / F.col("t2"), 4), F.lit(0.0)
        ).alias("top_bigram_frac"),
        F.coalesce(
            F.round(F.col("m3").cast("double") / F.col("t3"), 4), F.lit(0.0)
        ).alias("top_trigram_frac"),
    )
    keep = (
        (F.col("dup_word_frac") <= DUP_WORD_MAX)
        & (F.col("top_bigram_frac") <= TOP_BIGRAM_MAX)
        & (F.col("top_trigram_frac") <= TOP_TRIGRAM_MAX)
    )
    return joined.withColumn("keep", keep)


def sample_bucket(id_col: Column) -> Column:
    """Deterministic uniform bucket in [0, SAMPLE_BUCKETS): md5-derived
    60-bit long mod 10 000 — identical in DuckDB as
    ``('0x' || substr(md5(cast(id as varchar)), 1, 15))::bigint % 10000``."""
    return md5_long60(id_col.cast("string")) % SAMPLE_BUCKETS


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    id_col: str = "doc_id",
    stratum_col: str = "lang",
) -> DataFrame:
    """Keep each row iff its hash bucket falls below the stratum's rate.

    ``rates`` maps stratum value → keep fraction; strata absent from the
    map are dropped entirely. Purely map-side (scan → project → filter):
    at 100 TB this is one pass with the predicate pushed to the scan, no
    shuffle, and re-running selects the identical subset."""
    rate_buckets = F.when(F.lit(False), F.lit(0))  # empty rates drop all
    for k, v in sorted(rates.items()):
        rate_buckets = rate_buckets.when(
            F.col(stratum_col) == k, F.lit(int(round(v * SAMPLE_BUCKETS)))
        )
    rate_buckets = rate_buckets.otherwise(F.lit(0))
    return (
        docs.withColumn("bucket", sample_bucket(F.col(id_col)))
        .filter(F.col("bucket") < rate_buckets)
        .select(id_col, stratum_col, "bucket")
    )


def decontaminate(
    docs: DataFrame,
    bench_mod: int = 37,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark n-gram contamination counts per training document.

    The "benchmark" here is the deterministic pseudo-eval slice
    ``id % bench_mod == 0`` (the brief forbids external data); a real
    deployment swaps in the actual eval-set DataFrame — the plan shape is
    unchanged. A training doc is contaminated if it shares ANY distinct
    word n-gram with the benchmark; output is ``id, n_hits`` for
    contaminated docs only (the exclusion list a pipeline anti-joins on).

    Scale: distinct benchmark grams are broadcast (eval sets are MBs, the
    corpus is TBs); the corpus side is scan → explode distinct grams →
    broadcast hash join → partial-agg count. No shuffle touches the full
    corpus rows."""
    toks = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("w")
    )
    grams = toks.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_of(F.col("w"), n))).alias("g"),
    )
    bench = (
        grams.filter(F.col(id_col) % bench_mod == 0).select("g").distinct()
    )
    cand = grams.filter(F.col(id_col) % bench_mod != 0)
    return (
        cand.join(F.broadcast(bench), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


def sequence_pack(
    docs: DataFrame,
    seq_len: int = 2048,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "lang",
) -> DataFrame:
    """Concat-and-chunk training-sequence packing manifest.

    The final stage of an LLM data pipeline concatenates the curated
    corpus per stream (here per language) and slices it into fixed
    ``seq_len``-token training sequences (the GPT-2/3 "packing" recipe —
    Brown et al. 2020 §2.2 describe documents packed into 2048-token
    contexts separated by end-of-text). This operator emits the per-doc
    manifest of that layout WITHOUT materializing the token stream: doc
    order within a stream is (doc_id) — deterministic, re-run-stable —
    and a running token total places each document at byte-exact
    positions:

        start_offset = Σ tokens of preceding docs in the stream
        start_pack   = start_offset div seq_len
        end_pack     = (start_offset + n_tokens - 1) div seq_len

    Output: ``id, stream, n_tokens, start_pack, pack_offset (position
    within start_pack), end_pack``. Docs spanning a boundary straddle
    packs exactly as the trainer's chunker would split them.

    Scale: one window running-sum over (stream) ordered by id — a single
    shuffle on the stream key with partial aggregation; no token
    materialization, no Python. A per-language total order is inherent
    to deterministic packing (any engine must sequence the stream); skew
    across languages is bounded by stratified_sample upstream."""
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.col(stream_col).alias("stream"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("stream")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return toks.select(
        F.col(id_col),
        "stream",
        "n_tokens",
        (cum - F.col("n_tokens")).alias("_start"),
    ).select(
        id_col,
        "stream",
        "n_tokens",
        F.expr(f"_start div {seq_len}").alias("start_pack"),
        (F.col("_start") % seq_len).alias("pack_offset"),
        F.expr(f"(_start + n_tokens - 1) div {seq_len}").alias("end_pack"),
    )


# DSIR hashed-feature space: the paper (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling") hashes word n-grams into
# a fixed bucket space and fits one multinomial per corpus over it. Bucket
# count and the deterministic target-slice modulus are inlined as literals
# into both engines' plans.
DSIR_BUCKETS = 8192
DSIR_TARGET_MOD = 23


def dsir_weights(
    docs: DataFrame,
    buckets: int = DSIR_BUCKETS,
    target_mod: int = DSIR_TARGET_MOD,
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights + deterministic top-k selection.

    Data Selection via Importance Resampling (Xie et al. 2023): hash each
    document's word unigrams+bigrams into ``buckets`` features, fit two
    add-one-smoothed multinomials over the feature space — one on the
    TARGET corpus (the domain you want more of; here the deterministic
    pseudo-slice ``id % target_mod == 0``, the decontaminate convention —
    a real deployment swaps in the actual target DataFrame, plan shape
    unchanged), one on the RAW pool — and weight every raw document by
    its log importance ratio

        log w(x) = Σ_b  c_b(x) · [ log p_target(b) − log p_raw(b) ]

    then keep the top-k (the paper resamples with Gumbel noise; the
    noiseless variant here IS its zero-temperature limit and re-run
    stable, which the selection manifest of a training pipeline needs).

    Cross-engine exactness: the per-bucket log-ratio is ONE libm ln of a
    product/quotient of IEEE-exact integer-valued doubles, scaled to
    integer micros (round half-up) — per-doc weights are then SUMS OF
    BIGINTS, order-free and bit-identical in any engine; ranking ties
    break on doc id.

    Scale shape (100 TB): gram explode → two partial-agg groupBys (per
    bucket: B rows out; per (doc,bucket): the only corpus-sized shuffle)
    → broadcast join of the B-row log-ratio table (B=8192 ≈ 64 KB) → one
    more partial-agg groupBy per doc → global top-k via
    TakeOrderedAndProject (no full sort). Corpus totals are one-row
    broadcast scalars, never a driver collect.
    """
    toks = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("w")
    )
    grams = toks.select(
        F.col(id_col),
        F.explode(
            F.concat(F.col("w"), shingles_of(F.col("w"), 2))
        ).alias("g"),
    )
    feats = grams.select(
        F.col(id_col), (md5_long60(F.col("g")) % buckets).alias("b")
    )
    is_target = (F.col(id_col) % target_mod) == 0
    bucket_counts = feats.groupBy("b").agg(
        F.sum(F.when(is_target, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(is_target, 0).otherwise(1)).alias("cr"),
    )
    totals = bucket_counts.agg(
        F.sum("ct").alias("tt"), F.sum("cr").alias("tr")
    )
    # ln( (ct+1)/(cr+1) · (tr+B)/(tt+B) ) in integer micros. The two
    # quotients and their product are correctly-rounded IEEE basic ops
    # (identical in Spark and DuckDB); only the single ln is libm, and it
    # feeds a round-to-integer, not a comparison.
    lr = bucket_counts.crossJoin(F.broadcast(totals)).select(
        "b",
        F.round(
            F.log(
                ((F.col("ct") + F.lit(1.0)) / (F.col("cr") + F.lit(1.0)))
                * (
                    (F.col("tr") + F.lit(float(buckets)))
                    / (F.col("tt") + F.lit(float(buckets)))
                )
            )
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("lrm"),
    )
    doc_counts = (
        feats.filter(~is_target)
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    weights = (
        doc_counts.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("lrm")).alias("weight_micro"))
    )
    from crawler_spark.functions.ranking import bounded_global_rank

    topk = weights.orderBy(
        F.col("weight_micro").desc(), F.col(id_col).asc()
    ).limit(k)
    # Final rank over the k-bounded head — bounded aggregate, not an
    # unpartitioned window (functions/ranking.py).
    return bounded_global_rank(
        topk, [(-F.col("weight_micro")).alias("_nw"), F.col(id_col)],
        max_rows=k,
    ).select(id_col, "weight_micro", "rank")


# CCNet cutoff-sample rate: head/middle/tail cutoffs are computed over the
# deterministic md5-bucket sample (bucket < CCNET_SAMPLE of 10 000 = 10%),
# the scale-honest stand-in for the paper's "sort a sample" percentiles.
CCNET_SAMPLE = 1_000


def ccnet_perplexity(
    docs: DataFrame,
    buckets: int = DSIR_BUCKETS,
    target_mod: int = DSIR_TARGET_MOD,
    sample_buckets: int = CCNET_SAMPLE,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality bucketing (Wenzek et al. 2020).

    CCNet scores every document by the perplexity of a small LM trained on
    a high-quality target corpus and splits the crawl into head / middle /
    tail at the 1/3 and 2/3 perplexity percentiles — head goes to
    training, tail to the bin. Here the LM is the add-one-smoothed
    hashed-unigram multinomial fit on the deterministic target pseudo-
    slice ``id % target_mod == 0`` (the decontaminate/DSIR convention; a
    real deployment swaps in its curated corpus), and the score is the
    per-token cross-entropy in nats, kept in integer micros:

        ce(x) = Σ_b c_b(x) · ⌈−ln p_target(b)·10⁶⌋  /  Σ_b c_b(x)

    Numerator and denominator are bigint sums (order-free, engine-exact);
    the one division is a correctly-rounded IEEE op rounded back to
    micros. Cutoffs are the ntile(3) boundaries of the deterministic
    md5-bucket sample (``sample_bucket(id) < sample_buckets`` — the same
    sample every run, every engine), exactly the paper's sorted-sample
    percentile recipe made re-run stable; the ntile window sorts ONLY the
    sample, never the corpus.

    Output: ``id, ce_micro, bucket`` (head = lowest cross-entropy) for
    every raw (non-target) document.

    Scale shape (100 TB): explode → per-bucket agg (B rows, broadcast) →
    per-(doc,bucket) partial-agg shuffle → per-doc agg; the sample is
    filtered map-side BEFORE its tiny global window, and the two cutoff
    scalars come back as a one-row broadcast, never a driver collect.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("w")
    )
    feats = toks.select(
        F.col(id_col),
        F.explode(F.col("w")).alias("g"),
    ).select(F.col(id_col), (md5_long60(F.col("g")) % buckets).alias("b"))
    is_target = (F.col(id_col) % target_mod) == 0
    # LM fit: target-slice bucket counts + total, negative log-prob micros
    tc = (
        feats.filter(is_target)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    ttot = tc.agg(F.sum("ct").alias("tt"))
    # every bucket needs a prob (unseen buckets get the smoothing floor);
    # build the full B-row table from the distinct buckets the corpus uses
    nlp = (
        feats.select("b").distinct()
        .join(F.broadcast(tc), "b", "left")
        .crossJoin(F.broadcast(ttot))
        .select(
            "b",
            F.round(
                -F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tt") + F.lit(float(buckets)))
                )
                * F.lit(1e6),
                0,
            )
            .cast("long")
            .alias("nlpm"),
        )
    )
    doc_counts = (
        feats.filter(~is_target)
        .groupBy(id_col, "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ce = (
        doc_counts.join(F.broadcast(nlp), "b")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("c") * F.col("nlpm"))
                / F.sum(F.col("c")),
                0,
            )
            .cast("long")
            .alias("ce_micro")
        )
    )
    # cutoffs from the deterministic sample: ntile(3) over (ce, id), then
    # the max ce inside tiles 1 and 2 — the paper's sorted-sample
    # percentile boundaries, re-run stable in both engines
    sample = ce.filter(
        sample_bucket(F.col(id_col)) < sample_buckets
    )
    # The sample is percent-scale by construction, so a single-group
    # aggregate is the right plan: collect the sorted sample once and read
    # the ntile(3) boundary elements directly (tile sizes: base = n div 3,
    # the first n%3 tiles get one extra — Spark's NTile sizing exactly).
    # A bounded aggregate instead of a window: PySpark 4 folds away
    # constant partition keys, so the partitionBy(lit(0)) idiom plans as
    # an unpartitioned window and warns (functions/ranking.py).
    cuts = (
        sample.select("ce_micro", F.col(id_col).alias("_id"))
        .agg(
            F.sort_array(
                F.collect_list(F.struct("ce_micro", "_id"))
            ).alias("_a")
        )
        .select(
            F.expr(
                "CASE WHEN size(_a) >= 1 THEN _a["
                "(size(_a) div 3) + least(size(_a) % 3, 1) - 1"
                "].ce_micro END"
            ).alias("cut1"),
            F.expr(
                "CASE WHEN size(_a) >= 1 THEN _a["
                "2 * (size(_a) div 3) + least(size(_a) % 3, 2) - 1"
                "].ce_micro END"
            ).alias("cut2"),
        )
    )
    return ce.crossJoin(F.broadcast(cuts)).select(
        id_col,
        "ce_micro",
        F.when(F.col("ce_micro") <= F.col("cut1"), F.lit("head"))
        .when(F.col("ce_micro") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


# ---------------------------------------------------------------------------
# CCNet paragraph-hash dedup (Wenzek et al. 2020 §3.1)
# ---------------------------------------------------------------------------

def paragraph_dedup(
    docs: DataFrame,
    segments: Column,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document paragraph-hash dedup (CCNet, Wenzek et al. 2020
    §3.1: paragraphs are hashed and every duplicated occurrence removed;
    C4, Raffel et al. 2020 §2.2 applies the same rule to three-sentence
    spans). ``segments`` is the document split into an ordered
    ``array<string>`` of paragraphs — the caller owns the segmentation
    (real corpora split on newlines; the synthetic fixture chunks fixed
    word windows).

    Keep rule: the canonical occurrence of a paragraph hash is the one
    with the smallest ``(doc_id, pos)``; all other occurrences are
    dropped, and the document is reassembled from its surviving segments
    in original order.

    Scale shape: the canonical pick is ``min(struct(doc_id, pos))``
    grouped by hash — a partial-agg (map-side combine) aggregation, NOT a
    window, so a boilerplate paragraph repeated 10^9 times costs one
    combiner cell per task instead of one hot window partition; the join
    back is an equi-join on the uniform md5 key (AQE splits any residual
    skew). Reassembly is one groupBy(doc_id) with sort_array — the same
    order-preserving collect the span assembler uses."""
    seg = docs.select(
        F.col(id_col).alias("_id"),
        F.posexplode(segments).alias("pos", "seg"),
    ).withColumn("h", F.md5("seg"))
    canon = seg.groupBy("h").agg(
        F.min(F.struct("_id", "pos")).alias("first_occ")
    )
    kept = (
        seg.join(canon, on="h")
        .filter(
            (F.col("_id") == F.col("first_occ._id"))
            & (F.col("pos") == F.col("first_occ.pos"))
        )
        .groupBy("_id")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(pos, seg)))"
                       ", x -> x.seg)"),
                " ",
            ).alias("text_dedup"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    base = docs.select(
        F.col(id_col).alias("_id"),
        F.size(segments).cast("bigint").alias("n_segments"),
    )
    return (
        base.join(kept, on="_id", how="left")
        .select(
            F.col("_id").alias(id_col),
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


# ---------------------------------------------------------------------------
# URL-level quality filtering (RefinedWeb §3.1.2)
# ---------------------------------------------------------------------------

def url_quality_filter(
    urls: DataFrame,
    blocklist_hosts: list[str],
    scored_words: list[tuple[str, int]],
    flag_bp: int = 100,
    drop_bp: int = 300,
    url_col: str = "url",
    host_col: str = "host",
) -> DataFrame:
    """RefinedWeb-style URL filtering (Penedo et al. 2023 §3.1.2): a hard
    domain blocklist plus a soft word-score over the URL string, before
    any fetch — the cheapest filter in the pipeline, so it runs first.

    Score (integer basis points, engine-exact): sum of weights of scored
    words contained in the lowercased URL, plus a depth penalty of 10 bp
    per path segment beyond 6 (trap-adjacent; mirrors the IRLbot depth
    signal in operators/traps.py). Action: ``drop`` for blocklisted hosts
    or score ≥ ``drop_bp``, ``flag`` for score ≥ ``flag_bp``, else
    ``keep``. Pure JVM whens/contains — map-side only, no shuffle, no
    Python; the blocklist is a literal isin (a production list of ~1e6
    domains becomes a broadcast left-anti join, same plan shape)."""
    score = url_quality_score_col(url_col, scored_words)
    return urls.select(
        url_col,
        host_col,
        score.alias("score_bp"),
        url_quality_action_col(
            url_col, host_col, blocklist_hosts, scored_words,
            flag_bp=flag_bp, drop_bp=drop_bp,
        ).alias("action"),
    )


def url_quality_score_col(url_col: str, scored_words) -> Column:
    """Integer-bp URL score as a pure JVM column (see url_quality_filter)."""
    low = F.lower(F.col(url_col))
    word_score = F.lit(0)
    for w, bp in scored_words:
        word_score = word_score + F.when(
            low.contains(w.lower()), F.lit(bp)
        ).otherwise(F.lit(0))
    depth = F.greatest(
        F.size(F.split(F.regexp_replace(low, r"^[a-z]+://[^/]+", ""), "/"))
        - F.lit(7),
        F.lit(0),
    )
    return (word_score + depth * F.lit(10)).cast("bigint")


def url_quality_action_col(
    url_col: str,
    host_col: str,
    blocklist_hosts: list[str],
    scored_words,
    flag_bp: int = 100,
    drop_bp: int = 300,
) -> Column:
    """keep/flag/drop action column — the form the crawl loop's opt-in
    pre-admission filter consumes (a .filter on this column, no join)."""
    score = url_quality_score_col(url_col, scored_words)
    return (
        F.when(F.col(host_col).isin(blocklist_hosts), F.lit("drop"))
        .when(score >= F.lit(drop_bp), F.lit("drop"))
        .when(score >= F.lit(flag_bp), F.lit("flag"))
        .otherwise(F.lit("keep"))
    )


def url_quality_action_py(
    url: str,
    host: str,
    blocklist_hosts: list[str],
    scored_words,
    flag_bp: int = 100,
    drop_bp: int = 300,
) -> str:
    """Pure-Python mirror of url_quality_action_col (drives the
    reference-semantics simulator in the filter-guarded crawl mode;
    equality with the Spark column is pytest-asserted)."""
    import re

    low = url.lower()
    score = sum(bp for w, bp in scored_words if w.lower() in low)
    path = re.sub(r"^[a-z]+://[^/]+", "", low)
    score += max(len(path.split("/")) - 7, 0) * 10
    if host in blocklist_hosts or score >= drop_bp:
        return "drop"
    if score >= flag_bp:
        return "flag"
    return "keep"


# ---------------------------------------------------------------------------
# PII redaction (BigCode/The Stack; BigScience ROOTS)
# ---------------------------------------------------------------------------

# Patterns stay inside the Java-regex ∩ RE2 common subset (no lookaround,
# no backreferences) so the DuckDB oracle runs them verbatim.
PII_EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
# Phone: '+' then 8+ digits with AT MOST ONE separator between any two
# digits — '(?:[ \-]?[0-9])' cannot cross a double space, so a phone
# followed by other space-separated numeric tokens (e.g. an IP) no longer
# gets swallowed into <PHONE> (round-4 advisory).  Non-capturing groups
# and bounded repetition are in the Java-regex ∩ RE2 subset.
PII_PHONE_RE = r"\+[0-9](?:[ \-]?[0-9]){7,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def pii_redact(docs: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """PII scrubbing as shipped by the open training-data pipelines (The
    Stack / StarCoder redact emails+IPs, Kocetkov et al. 2022 §5; ROOTS
    applies regex PII filters corpus-wide): count and redact emails,
    international phone numbers, and IPv4 addresses with typed
    placeholder tokens.

    Pure JVM regexp_count + a regexp_replace cascade — map-side only, no
    shuffle, whole-stage-codegen friendly; exactly the shape that runs as
    the cheap first pass over 100 TB of text. Redaction order is fixed
    (email → phone → ip) so counts are taken on the ORIGINAL text and the
    cascade cannot double-redact placeholder contents."""
    t = F.col(text_col)
    return docs.select(
        id_col,
        F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("bigint")
        .alias("n_emails"),
        F.regexp_count(t, F.lit(PII_PHONE_RE)).cast("bigint")
        .alias("n_phones"),
        F.regexp_count(t, F.lit(PII_IPV4_RE)).cast("bigint").alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>"),
                PII_PHONE_RE, "<PHONE>",
            ),
            PII_IPV4_RE, "<IP>",
        ).alias("text_redacted"),
    )


# ---------------------------------------------------------------------------
# fastText-style hashed linear quality classifier (inference)
# ---------------------------------------------------------------------------

FASTTEXT_BUCKETS = 4096
FASTTEXT_W_SPAN = 2001  # weights in [-1000, 1000] micros-per-feature


def load_fasttext_vec(path: str, keep_label: str = "__label__keep",
                      buckets: int = FASTTEXT_BUCKETS) -> dict[int, int]:
    """Load a fastText TEXT-format dump (.vec: header ``n dim`` then one
    ``token v1 .. vdim`` row per line) into the engine's bucket→weight
    table, proving the ``fasttext_score`` "swap in a real model,
    identical plan" seam with a real model FILE rather than the derived
    demo table.

    Scoring math follows the supervised fastText model (Joulin et al.
    2016): a document's label score is ``mean_g(input[g]) · output[L]``,
    so each feature's scalar contribution is ``input[g] · output[L]`` —
    computed here once at load time against the ``keep_label`` output row
    and quantized to integer micros (half-up rounding) so the engine's
    exact-integer plan is unchanged.  Feature tokens are re-bucketed with
    the ENGINE's hash (md5_long60 % buckets): fastText stores word
    n-grams only as hashed buckets (never as vocabulary strings), so any
    textual dump of n-gram features must pick a serialization — this
    loader takes bigrams joined with ``_`` (``new_york``) and restores
    the engine's space joiner.  Colliding vocabulary rows sum, exactly
    like fastText's shared hash buckets.
    """
    import numpy as _np

    vecs: dict[str, list[float]] = {}
    with open(path, "r", encoding="utf-8") as fh:
        header = fh.readline().split()
        n, dim = int(header[0]), int(header[1])
        for line in fh:
            parts = line.split()  # real .vec rows end with a space
            tok, vals = parts[0], [float(x) for x in parts[1:]]
            if len(vals) != dim:
                raise ValueError(f"bad row for {tok!r}: {len(vals)} dims")
            vecs[tok] = vals
    if len(vecs) != n:
        raise ValueError(f"header says {n} rows, file has {len(vecs)}")
    if keep_label not in vecs:
        raise ValueError(f"output row {keep_label!r} missing")
    out_vec = _np.array(vecs.pop(keep_label), dtype=_np.float64)
    weights: dict[int, int] = {}
    for tok, v in vecs.items():
        gram = tok.replace("_", " ")
        bucket = int(md5_long60_py(gram) % buckets)
        micros = int(_np.floor(float(_np.dot(v, out_vec)) * 1e6 + 0.5))
        weights[bucket] = weights.get(bucket, 0) + micros
    return weights


def fasttext_score(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   weights: dict[int, int] | None = None) -> DataFrame:
    """Inference pass of a fastText-style linear text classifier (Joulin
    et al. 2016 — hashed bigram bag averaged into a linear score), the
    model family the DCLM and FineWeb-Edu pipelines use for model-based
    quality filtering. Training happens offline; this operator evaluates
    a hashed-feature linear model over the corpus.

    The demo weight table is DERIVED (md5 of the bucket id → integer in
    [-1000, 1000] micros), so no 4096-literal table rides the plan and
    the DuckDB oracle reproduces it bit-for-bit; passing ``weights`` (a
    bucket→micros dict, e.g. from :func:`load_fasttext_vec` over a real
    fastText .vec dump) swaps in the real model as a map literal with
    the IDENTICAL plan shape — still map-side, zero joins, one
    partial-agg groupBy (tests/test_curation.py asserts plan-shape
    equality between the two). Score =
    mean feature weight in integer micros (exact under any partitioning:
    bigint sum ÷ count in one partial-agg groupBy); the keep label is an
    integer comparison, and the probability is a fast-sigmoid of the
    exact integer score (see the inline note — no libm exp in the
    plan)."""
    w = docs.select(
        F.col(id_col).alias("_id"),
        F.split(F.col(text_col), " ").alias("w"),
    )
    grams = w.select(
        "_id",
        F.expr(
            "transform(slice(w, 1, greatest(size(w) - 1, 0)),"
            " (x, i) -> concat(x, ' ', w[i + 1]))"
        ).alias("gs"),
    ).select("_id", F.explode_outer("gs").alias("g"))
    bucket = F.pmod(md5_long60(F.col("g")), F.lit(FASTTEXT_BUCKETS))
    if weights is None:
        wt_of_bucket = F.pmod(
            md5_long60(F.concat(F.lit("ft:"), bucket.cast("string"))),
            F.lit(FASTTEXT_W_SPAN),
        ) - F.lit(1000)
    else:
        # Real-model path: the loaded bucket→micros table as a map
        # literal (absent buckets score 0, like fastText's untrained
        # hash cells). Same plan shape: map-side lookup, no join.
        pairs = [
            x
            for b, wv in sorted(weights.items())
            for x in (F.lit(int(b)), F.lit(int(wv)))
        ]
        wt_of_bucket = F.coalesce(
            F.element_at(F.create_map(*pairs), bucket), F.lit(0)
        )
    feat = grams.withColumn(
        "wt",
        F.when(F.col("g").isNull(), F.lit(0))
        .otherwise(wt_of_bucket)
        .cast("long"),
    )
    agg = feat.groupBy("_id").agg(
        F.sum("wt").alias("wsum"),
        F.sum(F.when(F.col("g").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_feats"),
    )
    score = F.when(F.col("n_feats") > 0,
                   F.floor(F.col("wsum") / F.col("n_feats"))) \
        .otherwise(F.lit(0)).cast("bigint")
    # Probability via the fast-sigmoid x/(1+|x|) instead of exp(): every
    # op (abs, integer add/mul, one division, +0.5) is correctly rounded
    # IEEE, so the value is bit-identical across engines — libm exp() is
    # not. Monotone in the score, which is all a keep-threshold needs.
    prob = F.lit(0.5) + score.cast("double") / (
        F.lit(2) * (F.lit(1000) + F.abs(score))
    ).cast("double")
    return agg.select(
        F.col("_id").alias(id_col),
        "n_feats",
        score.alias("score_micro"),
        F.round(prob, 6).alias("quality_prob"),
        (score >= 0).alias("keep"),
    )
