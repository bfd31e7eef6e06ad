"""Dedup operators.

1. URL-seen dedup (the crawl engine's defining stage) — replaces the
   reference's per-request MySQL probe (demo/middlewares.py:50-68) with:
   intra-batch dropDuplicates → sharded cuckoo prefilter (once the seen
   set is large) → exact left-anti join.
   The ``dont_filter`` bypass column mirrors meta['dont_filter']
   (middlewares.py:55; used by demo/已部署/maharashtratimes.py:44-45).

2. Corpus near-duplicate families for training-data pipelines: exact
   (hash-groupBy), n-gram Jaccard (shingle self-join), MinHash+LSH
   (signature → banded bucket join → exact verify), SimHash (bit-majority
   fingerprint + pigeonhole banding). All signature math is pure JVM
   higher-order expressions — no Python in any hot path.

Scale notes: the anti-join shuffles only filter-positive candidates (the
rare case); LSH band joins shuffle (band_idx, band_hash) keys which are
uniform by construction, so no skew salting is needed there. Exact-verify
joins carry shingle arrays only for the candidate pairs, never all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crawler_spark.functions.text import (
    MINHASH_P,
    md5_long60,
    minhash_params,
    shingles_of,
)
from crawler_spark.operators.cuckoo import cuckoo_probe_sharded


# ---------------------------------------------------------------------------
# URL-seen (crawl frontier) dedup
# ---------------------------------------------------------------------------

def intra_batch_dedup(candidates: DataFrame,
                      key_cols: tuple[str, ...] = ("url",)) -> DataFrame:
    """Keep exactly one row per request fingerprint within a batch — the
    lineage-smallest ``seq`` so the survivor is deterministic under any
    partitioning (Scrapy's engine-level dupefilter, SURVEY §2.2 D3).
    ``key_cols``: Scrapy fingerprints (url, method, body); the crawl loop
    passes all three so POST form pages sharing a URL stay distinct.

    row_number window, not min_by hash-agg: with mostly-unique URLs the
    min_by struct buffer forces ObjectHashAggregate with a huge in-memory
    map (measured 4× slower on the 6M-URL microbench); the window's
    sort-based path pipelines with the shuffle and wins decisively."""
    w = Window.partitionBy(*key_cols).orderBy("seq")
    return (
        candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def url_seen_filter(
    spark: SparkSession,
    candidates: DataFrame,
    url_seen: DataFrame,
    shards: DataFrame | None = None,
    num_shards: int | None = None,
) -> DataFrame:
    """Drop candidates whose exact ``url`` is in the seen set, honoring the
    ``dont_filter`` bypass (middlewares.py:55).

    Without ``shards`` this is the exact left-anti join alone (the crawl
    loop's path below its activation threshold). With ``shards`` (the
    sharded cuckoo filter over the seen set, operators/cuckoo.py) it is
    two-tier: filter-negative rows are *guaranteed* new (no false
    negatives) and skip the shuffle entirely; only filter-positive rows
    reach the exact anti-join, which resolves false positives. Never
    drops on filter evidence alone — parity with the reference's exact
    string match (middlewares.py:51) is preserved byte-for-byte.
    ``num_shards=None`` derives the modulus from the stored shard rows.
    """
    bypass = candidates.filter(F.col("dont_filter"))
    subject = candidates.filter(~F.col("dont_filter"))

    if shards is not None:
        maybe = cuckoo_probe_sharded(subject, shards, "url_hash", num_shards)
        definitely_new = maybe.filter(~F.col("_maybe")).drop("_maybe")
        suspects = maybe.filter(F.col("_maybe")).drop("_maybe")
    else:
        definitely_new = None
        suspects = subject

    survivors = suspects.join(
        url_seen.select("url").distinct(), on="url", how="left_anti"
    )
    if definitely_new is not None:
        survivors = survivors.unionByName(definitely_new)
    return survivors.unionByName(bypass)


# ---------------------------------------------------------------------------
# Corpus near-duplicate operators (documents table: doc_id, text, ...)
# ---------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact-content dedup: md5 groupBy keeping the smallest id as the
    canonical representative. Map-side partial agg makes this one cheap
    shuffle of (hash → min_id, count)."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def duplicated_substring_spans(
    docs: DataFrame,
    k: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring detection (the ExactSubstr dedup of Lee
    et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): find every maximal token span whose every length-``k``
    token window occurs more than once in the corpus (within- or
    cross-document). The paper removes those spans before training; this
    operator emits them as (doc, span_start, span_end, n_windows) rows —
    the removal itself is a trivial downstream slice.

    Spark-first shape (the paper's suffix array is a single-node
    construction; the distributed equivalent is window hashing):

    1. per doc: split once, emit every k-token window as
       (pos, md5(window text)) via a JVM ``transform(sequence(...))`` +
       explode — no Python, one narrow pass;
    2. duplicate windows: ``count(*) over (partition by hash)`` — ONE
       shuffle keyed on the hash (uniform by construction, no skew);
    3. merge hit windows into maximal spans with the classic
       gaps-and-islands windows (running-max of span end per doc) —
       ONE shuffle keyed on doc id;
    4. per-span rollup (partial-agg groupBy on the same doc-id
       partitioning).

    Spans that overlap OR are contiguous merge (window starts p1 < p2
    join iff p2 ≤ p1 + k: token p1+k immediately follows window p1's
    last token). Positions are 1-based token indexes, span_end
    inclusive. Cross-engine exact: md5 over the space-joined window
    renders identically in DuckDB.
    """
    toks = docs.select(
        F.col(id_col).alias("doc"), F.split(F.col(text_col), " ").alias("ts")
    ).filter(F.size("ts") >= k)
    wins = toks.select(
        "doc",
        F.expr(
            f"explode(transform(sequence(1, size(ts) - {k} + 1), "
            f"i -> struct(i as pos, md5(array_join(slice(ts, i, {k}), ' ')) as h)))"
        ).alias("w"),
    ).select("doc", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    hits = wins.withColumn(
        "n_occ", F.count(F.lit(1)).over(Window.partitionBy("h"))
    ).filter(F.col("n_occ") > 1)
    w_prev = (
        Window.partitionBy("doc").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc").orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grouped = hits.withColumn(
        "new_grp",
        F.when(
            F.col("pos")
            > F.coalesce(F.max("pos").over(w_prev), F.lit(-1000000)) + k,
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn("g", F.sum("new_grp").over(w_run))
    return (
        grouped.groupBy("doc", "g")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + k - 1).cast("int").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select("doc", "span_start", "span_end", "n_windows")
    )


def _doc_shingles(docs: DataFrame, n: int, id_col: str, text_col: str) -> DataFrame:
    """(doc, _sh:array<string>) with the token split materialized ONCE per
    document before shingling (see functions.text.shingles_of)."""
    return (
        docs.select(F.col(id_col).alias("doc"),
                    F.split(F.col(text_col), " ").alias("_w"))
        .select("doc", shingles_of(F.col("_w"), n).alias("_sh"))
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All document pairs with word-n-gram Jaccard ≥ threshold.

    Plan: distinct (doc, shingle) → self-join on shingle (only co-shingled
    pairs materialize) → per-pair intersection count → |A|+|B|-∩ union.

    ``max_doc_freq`` caps per-shingle fanout: shingles appearing in more
    than that many documents (stopword/boilerplate shingles) are dropped
    from the shingle universe BEFORE the self-join — without the cap one
    shingle present in every document creates |docs|² join fanout. Jaccard
    is then computed over the capped universe (both intersection and set
    sizes), a standard and self-consistent near-dup semantics at scale.
    MinHash+LSH below is the true 100-TB path.
    """
    sh = (
        _doc_shingles(docs, n, id_col, text_col)
        .select("doc", F.explode("_sh").alias("shingle"))
        .distinct()
    )
    if max_doc_freq is not None:
        keep = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("shingle")
        )
        sh = sh.join(keep, on="shingle", how="left_semi")
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, on="shingle")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), on="doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), on="doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signature(docs: DataFrame, n: int = 3, num_hashes: int = 32,
                      id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """MinHash signature per document — array<long> of length ``num_hashes``.

    Base hash: one md5-derived 60-bit long per shingle (functions.text.
    md5_long60 — bit-identical in DuckDB, so the LSH pipeline carries an
    exact SQL oracle). Family: h_i = (a_i·h + b_i) mod P (P = 2^31-1),
    signature[i] = min over shingles — k multiply-add-mods per shingle
    instead of k full hashes. All map-side JVM expressions, no shuffle.

    The base-hash array is materialized as its own column and referenced
    once per family member (the ``F.array`` below holds ``num_hashes``
    separate references), so Catalyst can neither inline the md5 transform
    into a lambda (re-hashing per i) nor collapse it away.
    """
    a_co, b_co = minhash_params(num_hashes)
    hashed = (
        _doc_shingles(docs, n, id_col, text_col)
        .filter(F.size("_sh") > 0)
        .select(
            "doc",
            F.transform(F.col("_sh"),
                        lambda s: md5_long60(s) % MINHASH_P).alias("_hs"),
        )
    )
    mins = [
        F.array_min(
            F.transform(
                F.col("_hs"),
                lambda h: (F.lit(a_co[i]) * h + F.lit(b_co[i])) % MINHASH_P,
            )
        )
        for i in range(num_hashes)
    ]
    return hashed.select("doc", F.array(*mins).alias("signature"))


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    est_margin: float | None = None,
    verify: str = "explode",
) -> DataFrame:
    """Near-dup candidate pairs via banded MinHash LSH, exact-verified.

    bands × rows_per_band = num_hashes; a pair collides if any band of the
    signature matches exactly (band key = md5-derived hash of the band's
    signature slice — a fixed-width join key regardless of r). Survivors
    are verified against exact shingle Jaccard, so the output has no LSH
    false positives (false negatives bounded by the band S-curve
    1-(1-s^r)^b). Every step is deterministic md5-based math, so the whole
    pipeline has an exact DuckDB oracle.

    ``est_margin`` (opt-in; None disables): prune band collisions by the
    signature-estimated Jaccard (matching components / num_hashes ≥
    threshold − est_margin) before the expensive verify join — useful on
    low-entropy corpora where band buckets are dense. It adds false
    negatives beyond the band S-curve (a pair at true Jaccard ≈ threshold
    can estimate below the margin), hence opt-in.

    Scale note: the signature is carried through the band explode so it is
    computed once per doc; band keys are uniform by construction (no skew
    salting needed); verification touches only candidate pairs, never all
    pairs.

    ``verify`` picks the exact-Jaccard verification plan; both produce
    bit-identical output (intersection/union over exact int counts):

    - ``"explode"`` (default): intersections via narrow (pair, shingle)
      rows — candidate pairs fan out over doc_a's distinct shingles, then
      an equi-join on (doc_b, shingle) and a count. Every shuffled row is
      a few fixed-width columns, so the plan survives arbitrarily large
      documents and lets the (doc_b, shingle) shuffle spread a hub
      document across partitions — the 100-TB shape.
    - ``"array"``: ship both docs' distinct-shingle arrays per pair and
      ``array_intersect`` in-place. Fewer shuffled rows, but row width
      grows with document size and a hub doc's array is re-shipped per
      pair — fine at moderate doc sizes, kept for comparison.
    """
    assert num_hashes % bands == 0
    r = num_hashes // bands
    sig = minhash_signature(docs, n, num_hashes, id_col, text_col)
    band_structs = [
        F.struct(
            F.lit(i).alias("band_idx"),
            md5_long60(
                F.concat_ws(",", F.slice(F.col("signature"), i * r + 1, r))
            ).alias("band_hash"),
        )
        for i in range(bands)
    ]
    banded = sig.select(
        "doc",
        "signature",
        F.explode(F.array(*band_structs)).alias("band"),
    ).select("doc", "signature", "band.band_idx", "band.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, on=["band_idx", "band_hash"])
        .filter(F.col("a.doc") < F.col("b.doc"))
    )
    if est_margin is not None:
        est = F.expr(
            f"size(filter(zip_with(a.signature, b.signature, (x, y) -> x = y),"
            f" v -> v)) / {num_hashes}"
        )
        cand = cand.filter(est >= threshold - est_margin)
    cand = (
        cand.select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .distinct()
    )
    # Exact verify: jaccard over shingle sets, only for plausible pairs.
    if verify == "array":
        sh = _doc_shingles(docs, n, id_col, text_col).select(
            "doc", F.array_distinct("_sh").alias("sh")
        )
        return (
            cand.join(sh.withColumnRenamed("doc", "doc_a")
                      .withColumnRenamed("sh", "sh_a"), on="doc_a")
            .join(sh.withColumnRenamed("doc", "doc_b")
                  .withColumnRenamed("sh", "sh_b"), on="doc_b")
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard",
                F.round(
                    F.col("inter")
                    / (F.size("sh_a") + F.size("sh_b") - F.col("inter")),
                    4,
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    assert verify == "explode", f"unknown verify plan {verify!r}"
    ex = _doc_shingles(docs, n, id_col, text_col).select(
        "doc", F.explode(F.array_distinct("_sh")).alias("shingle")
    )
    sizes = ex.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    inter = (
        cand.join(ex.withColumnRenamed("doc", "doc_a"), on="doc_a")
        .join(
            ex.select(F.col("doc").alias("doc_b"), "shingle"),
            on=["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        # Left join: a band-hash collision can (in principle) pair docs
        # with zero shared shingles; they must score 0, not vanish early.
        cand.join(inter, on=["doc_a", "doc_b"], how="left")
        .withColumn("inter", F.coalesce("inter", F.lit(0)))
        .join(sizes.select(F.col("doc").alias("doc_a"),
                           F.col("sz").alias("sz_a")), on="doc_a")
        .join(sizes.select(F.col("doc").alias("doc_b"),
                           F.col("sz").alias("sz_b")), on="doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


SIMHASH_BITS = 60  # 15 md5 hex chars per word hash → 60 usable bits


def simhash_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         num_bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc, sh): ``num_bits``-bit SimHash — per-token md5-derived hash,
    bit-majority vote across tokens (repeats count, matching the classic
    definition), reassembled into one bigint.

    Each word is hashed exactly ONCE into a materialized array column; the
    per-bit majority sums then only shift/mask longs (the round-1 version
    re-split and re-hashed every word once per bit — 64× the work,
    VERDICT.md 'What's wrong #3'). The bit expressions are unrolled in
    Python so the hash array is a multiply-referenced attribute Catalyst
    cannot inline into a lambda. md5-based, so DuckDB renders it exactly.
    """
    base = (
        docs.select(F.col(id_col).alias("doc"),
                    F.split(F.col(text_col), " ").alias("_w"))
        .select(
            "doc",
            F.transform(F.col("_w"), lambda w: md5_long60(w)).alias("_wh"),
            F.size(F.col("_w")).alias("_nw"),
        )
    )
    zero = F.lit(0).cast("long")
    bit_terms = []
    for b in range(num_bits):
        ones = F.aggregate(
            F.col("_wh"), zero,
            lambda acc, h: acc + F.shiftright(h, b).bitwiseAND(F.lit(1)),
        )
        bit_terms.append(
            F.when(ones * 2 >= F.col("_nw"), F.lit(1 << b).cast("long"))
            .otherwise(zero)
        )
    fingerprint = bit_terms[0]
    for t in bit_terms[1:]:
        fingerprint = fingerprint + t  # bits are disjoint: sum == OR
    return base.select("doc", fingerprint.alias("sh"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Pairs within Hamming distance ``max_hamming`` of 60-bit SimHash.

    Pigeonhole banding: split 60 bits into max_hamming+1 chunks; any pair
    within distance d must agree exactly on ≥1 chunk, so an equi-join on
    (chunk_idx, chunk_value) finds all such pairs — a uniform-key shuffle,
    then exact bit_count verification."""
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    sh = simhash_fingerprints(docs, id_col, text_col)
    chunk_structs = [
        F.struct(
            F.lit(c).alias("chunk_idx"),
            F.shiftright(F.col("sh"), c * width)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("chunk_val"),
        )
        for c in range(chunks)
    ]
    banded = sh.select(
        "doc", "sh",
        F.explode(F.array(*chunk_structs)).alias("ck"),
    ).select("doc", "sh", "ck.chunk_idx", "ck.chunk_val")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["chunk_idx", "chunk_val"])
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup, exact all-pairs baseline (cosine ≥
    threshold). O(n²) by definition — kept ONLY as the pytest recall
    oracle for the bucketed scale path below; never ship this plan at
    corpus scale (it plans as a BroadcastNestedLoopJoin)."""
    norm = F.expr(
        f"sqrt(aggregate(zip_with({vec_col}, {vec_col}, (x, y) -> cast(x as double) * y),"
        " 0D, (acc, v) -> acc + v))"
    )
    v = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        norm.alias("nrm"),
    )
    a = v.alias("a")
    b = v.alias("b")
    dot = F.expr(
        "aggregate(zip_with(a.vec, b.vec, (x, y) -> cast(x as double) * y),"
        " 0D, (acc, v) -> acc + v)"
    )
    return (
        a.join(b, F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup via sign-LSH bucketing — the scale path
    (replaces the round-1 BroadcastNestedLoopJoin, VERDICT.md 'What's
    wrong #4').

    Every vector maps to a random-hyperplane bucket; each side probes its
    own bucket plus all Hamming-1 neighbors, so any pair whose buckets are
    within Hamming distance 2 becomes a candidate via a pure EQUI-join on
    the probe bucket. The probe explode carries only (id, bucket) — tiny
    rows; vectors are re-joined (shuffle on id) for the exact in-bucket
    cosine verify, so the (n_planes+1)× fanout never ships the vectors.
    Deterministic literal hyperplanes (rounded-dot signs) → exact DuckDB
    oracle. Approximate overall: recall vs the brute-force baseline is
    asserted in pytest; the S-curve knobs are n_planes (fewer planes =
    bigger buckets = higher recall, more verify work).
    """
    from crawler_spark.operators.similarity import (
        _norm,
        bucket_col,
        hyperplanes,
        probe_buckets,
    )

    planes = hyperplanes(dim, n_planes, seed)
    v = emb.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        _norm(vec_col).alias("nrm"),
        bucket_col(vec_col, planes).alias("bucket"),
    )
    probes = v.select(
        "vid", F.explode(probe_buckets(n_planes)).alias("pb")
    )
    a = probes.alias("a")
    b = probes.alias("b")
    cand = (
        a.join(b, on="pb")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )
    va = v.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"),
                  F.col("nrm").alias("nrm_a"))
    vb = v.select(F.col("vid").alias("id_b"), F.col("vec").alias("vec_b"),
                  F.col("nrm").alias("nrm_b"))
    dot = F.expr(
        "aggregate(zip_with(vec_a, vec_b, (x, y) -> cast(x as double) * y),"
        " 0D, (acc, v) -> acc + v)"
    )
    return (
        cand.join(va, on="id_a")
        .join(vb, on="id_b")
        .select(
            "id_a", "id_b",
            F.round(dot / (F.col("nrm_a") * F.col("nrm_b")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------

def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprint set per document: the distinct window-minimum
    k-gram hashes — (doc, fp) rows. The classic rolling-hash document
    fingerprint for copy/clone detection, with the winnowing GUARANTEE:
    any shared normalized substring of length ≥ k + w - 1 between two
    documents yields at least one shared fingerprint.

    All JVM-side: normalize (lowercase, strip non-alnum) → character
    k-grams hashed once into a materialized array (md5-derived 60-bit
    longs, so DuckDB renders them exactly; the array is an attribute so
    Catalyst can't re-inline the hash per window — functions.text
    shingles_of lesson) → posexplode → per-doc sliding ROWS window min →
    distinct. (A streaming rolling hash saves the per-gram re-hash on one
    core; in a columnar plan the transform IS the single pass, and md5 is
    the one hash both engines share bit-for-bit.)

    Scale shape: the explode is ~n_chars rows per doc; the only shuffle is
    the per-doc window partition (bounded by max doc length, no cross-doc
    skew); the distinct folds into a partial-agg before exchange. Documents
    shorter than k normalized chars have no k-gram and are absent; documents
    with fewer than w grams contribute their single all-gram minimum (the
    first window is the only full-coverage one)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "")
    base = docs.select(
        F.col(id_col).alias("doc"), norm.alias("t")
    ).filter(F.length("t") >= k)
    gram_hashes = F.expr(
        f"transform(sequence(1, length(t) - {k - 1}),"
        f" i -> cast(conv(substring(md5(substring(t, i, {k})), 1, 15), 16, 10)"
        f" as bigint))"
    )
    grams = base.select(
        "doc",
        (F.length("t") - F.lit(k - 1)).alias("n"),
        F.posexplode(gram_hashes).alias("pos", "h"),
    )
    win = Window.partitionBy("doc").orderBy("pos").rowsBetween(0, w - 1)
    return (
        grams.withColumn("fp", F.min("h").over(win))
        # pos is 0-based: full windows start at pos ∈ [0, n-w]; short docs
        # (n < w) keep only pos=0, the min over all their grams.
        .filter(F.col("pos") < F.greatest(F.col("n") - F.lit(w - 1), F.lit(1)))
        .select("doc", "fp")
        .distinct()
    )


def winnow_near_dup_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-dup/clone candidates by winnowing-fingerprint overlap: pairs of
    documents sharing ≥ ``min_shared`` selected fingerprints (the MOSS
    shape). ``max_doc_freq`` drops fingerprints present in more than that
    many documents before the self-join — boilerplate k-grams otherwise
    create |docs|² fanout, same cap discipline as ngram_jaccard_pairs."""
    fp = winnow_fingerprints(docs, k=k, w=w, id_col=id_col, text_col=text_col)
    if max_doc_freq is not None:
        keep = (
            fp.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_doc_freq)
            .select("fp")
        )
        fp = fp.join(keep, on="fp", how="left_semi")
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(b, on="fp")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .groupBy(
            F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Cluster collapse: near-dup pairs → connected components → representative
# ---------------------------------------------------------------------------

def _star_large(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, 'Connected Components in
    MapReduce and Beyond'): every node connects its strictly-larger
    neighbors to the minimum of its neighborhood (including itself).
    One groupBy-min + one equi-join, both on uniform node keys."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (
        sym.groupBy("u").agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_small(e: DataFrame) -> DataFrame:
    """One small-star round: orient every edge child>parent, then connect
    each node and all its smaller neighbors to the neighborhood minimum."""
    d = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    m = d.groupBy("u").agg(F.min("v").alias("mn"))
    neigh = d.join(m, "u").select(
        F.col("v").alias("u"), F.col("mn").alias("v")
    )
    self_edge = m.select("u", F.col("mn").alias("v"))
    return (
        neigh.union(self_edge)
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_components(edges: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Alternating large-star/small-star to a star forest: O(log n) rounds
    on ANY graph shape, including the long chains that templated-boilerplate
    series produce at 100-TB corpus scale (where diameter-bounded label
    propagation degenerates). Input: undirected edges (u, v); output:
    (node, root) for every non-root node, root = component minimum.

    Convergence check is ONE cheap agg over the freshly checkpointed edge
    set per pair-round (count + order-independent hash), not a join."""
    e = edges.localCheckpoint(eager=True)
    prev = (-1, 0)
    for _ in range(max_rounds):
        e = _star_small(_star_large(e)).localCheckpoint(eager=True)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).first()
        cur = (row["n"], row["h"])
        if cur == prev:
            return e.select(F.col("u").alias("node"), F.col("v").alias("root"))
        prev = cur
    raise RuntimeError(f"star contraction did not converge in {max_rounds}")


def near_dup_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    star_after: int = 4,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over a near-dup pair graph: the step a dedup
    pipeline runs AFTER pair generation — transitive closure collapses
    {a~b, b~c} into one cluster so exactly one representative survives.

    Two phases. (1) Min-label propagation: every doc starts labeled with
    its own id; each hop a doc takes the min of its own label and its
    neighbors' labels (one equi-join + one partial-aggregated groupBy).
    TWO hops are fused into every materialization, and the convergence
    count is FOLDED into that same pass (a `chg` flag summed over the
    freshly checkpointed result) — so each driver cycle costs exactly one
    shuffle job plus one cheap cached-scan agg and advances two rounds.
    Dup clusters are dense and shallow, so this converges in 1-2 cycles
    on real corpora. (2) If still changing after `star_after` hops the
    graph has real depth: contract the remaining label graph with
    alternating large-star/small-star (O(log n) rounds on adversarial
    chains) and compose the star roots back onto the labels.

    Deterministic: labels are pure min() over ids, no partitioning
    dependence. Lineage is cut with localCheckpoint each round so the
    driver loop cannot build an O(iters)-deep plan.

    Returns (doc, cluster) — every document appears; singletons are their
    own cluster.
    """
    e = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = e.union(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().localCheckpoint(eager=True)
    # the initial labels are one narrow select off the source — no
    # checkpoint needed (the driver loop below re-roots lineage anyway)
    labels = docs.select(
        F.col(id_col).alias("doc"), F.col(id_col).alias("label")
    )

    def _hop(lab: DataFrame) -> DataFrame:
        neigh = (
            edges.join(lab.select("doc", "label"),
                       edges["b"] == F.col("doc"))
            .groupBy("a").agg(F.min("label").alias("nl"))
        )
        keep = [F.col("_prev")] if "_prev" in lab.columns else []
        return (
            lab.join(neigh, lab["doc"] == neigh["a"], "left")
            .select(
                lab["doc"].alias("doc"),
                F.least(lab["label"], F.coalesce("nl", lab["label"]))
                .alias("label"),
                *keep,
            )
        )

    rounds = 0
    converged = False
    # TWO label hops are fused into each materialization: one
    # localCheckpoint job + one cached-scan agg per PAIR of rounds —
    # driver round-trips halve vs checkpoint-per-round, and dup cliques
    # (which converge in 1-3 hops) finish in one or two driver cycles.
    for _ in range((min(star_after, max_iters) + 1) // 2):
        stamped = labels.select(
            "doc", "label", F.col("label").alias("_prev")
        )
        new_labels = (
            _hop(_hop(stamped))
            .select(
                "doc", "label",
                (F.col("label") != F.col("_prev")).cast("int").alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        rounds += 2
        changed = new_labels.agg(F.sum("chg")).first()[0] or 0
        labels = new_labels.select("doc", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Contract the residual label graph with star rounds: map every
        # original edge through the current labels, drop intra-cluster
        # edges, find each label's component root, compose back.
        lab_graph = (
            edges
            .join(labels.select(F.col("doc").alias("a"),
                                F.col("label").alias("la")), "a")
            .join(labels.select(F.col("doc").alias("b"),
                                F.col("label").alias("lb")), "b")
            .select(F.col("la").alias("u"), F.col("lb").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        roots = _star_components(lab_graph, max_rounds=max_iters)
        labels = (
            labels.join(
                roots, labels["label"] == roots["node"], "left"
            )
            .select(
                "doc",
                F.coalesce("root", "label").alias("label"),
            )
        )
    if stats is not None:
        stats["label_rounds"] = rounds
        stats["used_star"] = not converged
    return labels.select("doc", F.col("label").alias("cluster"))


def dedup_cluster_representatives(
    docs: DataFrame,
    pairs: DataFrame,
    quality_col,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document cluster assignment + representative flag: within each
    near-dup component keep the highest-quality document (ROUNDED quality
    so the ordering is cross-engine exact, id ascending as the tiebreak) —
    the reference pipeline's 'store one row per story' intent applied to
    near-dups. Output: (doc_id, cluster, quality, keep)."""
    comp = near_dup_components(docs, pairs, id_col)
    scored = docs.select(
        F.col(id_col).alias("doc"), quality_col.alias("quality")
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("quality").desc(), F.col("doc")
    )
    return (
        comp.join(scored, "doc")
        .withColumn("keep", F.row_number().over(w) == F.lit(1))
        .select(
            F.col("doc").alias("doc_id"), "cluster", "quality", "keep"
        )
    )
