"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship report query (the reference's daily
analytics job, /root/reference/baogao.py:56, re-expressed as one DataFrame
plan) on sf0.001. ``queries()`` exposes one entry per implemented operator
from SURVEY.md §2 plus the training-data-pipeline operators; EVERY entry
has an exact DuckDB oracle in ``oracle_sql()`` — including the
MinHash/SimHash/sign-LSH sketches, whose hashes are md5-derived 60-bit
longs with literal universal-hash/hyperplane coefficients, rendered
identically in both engines.

Column names are aliased identically on both sides; doubles are either
exact integer ratios (bit-identical across engines) or rounded; money sums
use exact integer cents via floor(x*100) (cast truncation differs between
engines, floor does not).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crawler_spark.functions.dates import format_time2_udf
from crawler_spark.functions.text import (
    LANG_MARKERS,
    avg_word_len,
    char_count,
    lang_score_expr,
    quality_score,
    token_count_regex,
    token_count_ws,
)
from crawler_spark.functions.urlnorm import canonicalize_col, host_of
from crawler_spark.functions.text import MINHASH_P, minhash_params
from crawler_spark.operators.dedup import (
    SIMHASH_BITS,
    duplicated_substring_spans,
    embedding_near_dup_lsh,
    exact_dedup,
    intra_batch_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    url_seen_filter,
    winnow_fingerprints,
    winnow_near_dup_pairs,
)
from crawler_spark.operators.semdedup import semdedup, semdedup_sql
from crawler_spark.operators.curation import (
    PII_EMAIL_RE,
    PII_IPV4_RE,
    PII_PHONE_RE,
    ccnet_perplexity,
    decontaminate,
    dsir_weights,
    fasttext_score,
    paragraph_dedup,
    pii_redact,
    repetition_stats,
    sequence_pack,
    stratified_sample,
    url_quality_filter,
)
from crawler_spark.operators.sketches import hll_distinct, hll_distinct_sql
from crawler_spark.operators.multimodal import (
    attach_fake_media,
    extract_media_features,
    sample_frames_and_resize,
)
from crawler_spark.operators.linkgraph import (
    allocate_budget,
    budget_sql,
    host_pagerank,
    pagerank_sql,
)
from crawler_spark.operators.revisit import revisit_schedule, revisit_sql
from crawler_spark.operators.traps import detect_traps
from crawler_spark.operators.politeness import (
    admit_per_host,
    apply_robots,
    autothrottle_fold_col,
    fetch_schedule,
    priority_score_col,
)
from crawler_spark.operators.similarity import (
    brute_force_topk,
    hyperplanes,
    ivf_centroids,
    ivf_topk,
    lsh_topk,
)
from crawler_spark.schema import ROBOTS_SCHEMA

AS_OF = "2021-06-01 00:00:00"  # deterministic 'now' anchor for F2 parsing

# Where the crawl-lifecycle oracle parquet lives (oracle_crawl writes it).
from crawler_spark.oracle_crawl import SIM_ORACLE_DIR as _SIM_ORACLE_DIR  # noqa: E402


def _prep(spark: SparkSession) -> None:
    # The driver owns the session; make value comparison deterministic.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read a testdata table, fanned out to the session's parallelism.

    The driver-generated parquet files are single-row-group (unsplittable):
    without an explicit repartition every scan is ONE task and all
    downstream per-row compute serializes. A production table has
    thousands of row groups and does not need this — it's a property of
    the fixture files, not of the plan shape."""
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    return df.repartition(spark.sparkContext.defaultParallelism)


def _cents(col: str):
    """Exact integer cents: floor (not cast) — cast truncates toward zero in
    Spark but rounds in DuckDB; floor agrees everywhere."""
    return F.floor(F.col(col) * 100).cast("long")


# ---------------------------------------------------------------------------
# Flagship (driver smoke check)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """The baogao.py:56 report shape: scan → broadcast joins → filter →
    groupBy → count, on sf0.001."""
    _prep(spark)
    return q_report_daily(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# Relational / report operators (SURVEY §2.3-§2.6, baogao.py)
# ---------------------------------------------------------------------------

def q_report_daily(spark, sf_dir):
    """J1+A1: 3-way left broadcast join + time filter + groupBy count
    (baogao.py:56)."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("num"),
            F.sum(_cents("o_totalprice")).alias("total_cents"),
        )
        .orderBy("nation", "region")
    )


def q_report_cumulative(spark, sf_dir):
    """A2: same joins without the time filter (baogao.py:73)."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left")
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey, "left")
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("num"),
            F.sum(_cents("o_totalprice")).alias("total_cents"),
        )
        .orderBy("nation", "region")
    )


def q_report_totals(spark, sf_dir):
    """A3: grand totals (baogao.py:70,87)."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.sum(_cents("o_totalprice")).alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# URL kernels + frontier operators (SURVEY §2.2, §2.6-§2.8)
# ---------------------------------------------------------------------------

def _raw_urls(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    h = F.pmod(F.col("o_custkey"), F.lit(50)).cast("string")
    k = F.col("o_orderkey").cast("string")
    m = F.pmod(F.col("o_orderkey"), F.lit(4))
    raw = (
        F.when(m == 0, F.concat(F.lit("HTTP://Site"), h, F.lit(".Example.COM:80/order/"), k, F.lit("?q=1#frag")))
        .when(m == 1, F.concat(F.lit("https://SITE"), h, F.lit(".example.com:443/ORDER/"), k))
        .when(m == 2, F.concat(F.lit("http://site"), h, F.lit(".EXAMPLE.com")))
        .otherwise(F.concat(F.lit("HTTPS://site"), h, F.lit(".example.com/o?id="), k, F.lit("#x")))
    )
    return o.select("o_orderkey", raw.alias("raw_url"))


def q_trap_detection(spark, sf_dir):
    """Spider-trap host detection (IRLbot/Heritrix heuristics): per-host
    deep-path, looping-path, and template-dominance signals over a
    synthesized frontier with one calendar mill, one self-link loop, and
    one single-template mill among normal multi-template hosts."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    k = F.col("o_orderkey")
    hg = F.pmod(F.col("o_custkey"), F.lit(20))
    cats = F.array(*[F.lit(c) for c in
                     ("news", "sports", "life", "tech", "world", "biz")])
    path = (
        F.when(hg == 7, F.concat(
            F.lit("/archive/2021/"), (F.lit(1) + F.pmod(k, F.lit(12))).cast("string"),
            F.lit("/"), (F.lit(1) + F.pmod(k, F.lit(28))).cast("string"),
            F.lit("/"), k.cast("string"), F.lit("/view/print/mobile")))
        .when(hg == 13, F.concat(F.lit("/f/o/f/o/f/o/"), k.cast("string")))
        .when(hg == 3, F.concat(F.lit("/p/"), k.cast("string")))
        .otherwise(F.concat(
            F.lit("/"), F.element_at(cats, (F.pmod(k, F.lit(6)) + 1).cast("int")),
            F.lit("/story-"), k.cast("string")))
    )
    urls = o.select(F.concat(
        F.lit("http://site"), hg.cast("string"), F.lit(".example.com"), path
    ).alias("url"))
    return detect_traps(urls).orderBy("host")


def q_url_canonicalize(spark, sf_dir):
    """F10+D4: byte-stable canonicalization (scheme/host lowercase, default
    port strip, fragment strip, empty path → '/') + md5 doc id
    (pipelines.py:50-52)."""
    _prep(spark)
    u = _raw_urls(spark, sf_dir)
    canon = canonicalize_col(F.col("raw_url"))
    return u.select(
        "o_orderkey",
        canon.alias("canon_url"),
        host_of(F.col("raw_url")).alias("host"),
        F.md5(canon).alias("url_md5"),
    ).orderBy("o_orderkey")


def q_url_seen_antijoin(spark, sf_dir):
    """D1+D2+J2: two-tier URL-seen dedup (exact left-anti join) with the
    dont_filter bypass (middlewares.py:50-68)."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    cand = (
        li.select(
            F.col("l_orderkey").cast("string").alias("url"),
            (F.col("l_orderkey") % 10 == 0).alias("dont_filter"),
        )
        .distinct()
    )
    seen = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select(F.col("o_orderkey").cast("string").alias("url"))
    )
    return (
        url_seen_filter(spark, cand, seen)
        .select("url", "dont_filter")
        .orderBy("url")
    )


def q_url_seen_cuckoo(spark, sf_dir):
    """D1 via the CUCKOO tier (operators/cuckoo.py): build the sharded
    filter over the seen set, DELETE an expired third of it (recrawl
    eviction — the operation the bloom tier cannot do), then run the
    two-tier filter against the remaining active set. The exact anti-join
    resolves filter false positives, so the output equals a plain
    anti-join vs (seen ∖ expired) regardless of filter state."""
    from crawler_spark.operators.cuckoo import (
        build_cuckoo_sharded,
        delete_cuckoo_shards,
    )

    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    cand = (
        li.select(
            F.col("l_orderkey").cast("string").alias("url"),
            (F.col("l_orderkey") % 10 == 0).alias("dont_filter"),
        )
        .distinct()
        .withColumn("url_hash", F.xxhash64("url"))
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    seen_all = orders.select(
        F.col("o_orderkey").cast("string").alias("url")
    ).withColumn("url_hash", F.xxhash64("url"))
    expired = seen_all.filter(F.col("url").cast("long") % 9 == 0)
    active = seen_all.filter(F.col("url").cast("long") % 9 != 0)
    shards = build_cuckoo_sharded(seen_all, "url_hash", num_shards=8)
    nb = int(shards.select(F.max("num_buckets")).collect()[0][0])
    after = delete_cuckoo_shards(
        shards, expired, "url_hash", num_shards=8, num_buckets=nb
    )
    return (
        url_seen_filter(spark, cand, active, after)
        .select("url", "dont_filter")
        .orderBy("url")
    )


def q_frontier_dedup(spark, sf_dir):
    """D3: intra-batch dedup keeping the lineage-smallest seq (Scrapy's
    engine dupefilter)."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("url"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("seq"),
        "event_type",
    )
    return intra_batch_dedup(ev).orderBy("url")


def q_politeness_admission(spark, sf_dir):
    """T2+W1: per-host politeness budget as a salted two-phase window —
    floor(batch_seconds/crawl_delay)=5 fetches/host/batch (settings.py:28)."""
    _prep(spark)
    fr = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("url"),
        F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(13)).cast("string")).alias("host"),
        F.lit(0.0).alias("priority"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("seq"),
        F.xxhash64(F.col("event_id").cast("string")).alias("url_hash"),
        F.lit(0.2).alias("crawl_delay"),
    )
    admitted, _deferred = admit_per_host(fr, batch_seconds=1.0)
    return admitted.select("host", "url", "host_rank").orderBy("host", "host_rank")


def q_robots_filter(spark, sf_dir):
    """W2: robots.txt allow/deny prefix rules with longest-prefix-match
    precedence + per-host Crawl-delay (the reference disables robots,
    settings.py:20; the north rule requires them)."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    k = F.pmod(F.col("user_id"), F.lit(13))
    frontier = ev.select(
        F.concat(F.lit("http://h"), k.cast("string"), F.lit(".test/p"),
                 F.pmod(F.col("event_id"), F.lit(20)).cast("string"),
                 F.lit("/x")).alias("url"),
        F.concat(F.lit("h"), k.cast("string"), F.lit(".test")).alias("host"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("seq"),
    )
    rules = [
        (
            f"h{i}.test",
            ["/p1"] if i == 2 else [],
            ["/p1"] if i % 2 == 0 else [],
            [0.1, 0.2, 0.3][i % 3],
        )
        for i in range(13)
    ]
    robots = spark.createDataFrame(rules, ROBOTS_SCHEMA)
    return (
        apply_robots(frontier, robots)
        .select("url", "host", "seq", "crawl_delay")
        .orderBy("seq")
    )


def q_fetch_schedule(spark, sf_dir):
    """W1: politeness-respecting wall-clock fetch slots —
    batch_start + (host_rank-1) × crawl_delay (settings.py:28 semantics)."""
    _prep(spark)
    fr = _t(spark, sf_dir, "events").select(
        F.col("event_id").cast("string").alias("url"),
        F.concat(F.lit("h"), F.pmod(F.col("user_id"), F.lit(13)).cast("string")).alias("host"),
        F.lit(0.0).alias("priority"),
        F.lpad(F.col("event_id").cast("string"), 12, "0").alias("seq"),
        F.xxhash64(F.col("event_id").cast("string")).alias("url_hash"),
        F.lit(0.2).alias("crawl_delay"),
    )
    admitted, _deferred = admit_per_host(fr, batch_seconds=1.0)
    return (
        fetch_schedule(admitted, batch_start_epoch=1000.0)
        .select("host", "url", "host_rank", "scheduled_at")
        .orderBy("host", "host_rank")
    )


def q_autothrottle_delay(spark, sf_dir):
    """W4: Scrapy's AutoThrottle delay-adjustment policy (shipped
    commented-out in the reference with its default knobs,
    demo/settings.py:72-82) as a pure-JVM per-host fold: each delivered
    response's latency moves the host's delay through
    clamp(0.2, max(t, (d+t)/2), 60) in politeness-slot order, from the
    5 s START_DELAY. Latencies are synthesized deterministically from
    lineitem; the DuckDB oracle folds the identical IEEE-double sequence
    via list_reduce (all ops are +, /2, min, max — bit-exact across
    engines)."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    obs = li.select(
        F.concat(
            F.lit("site"), F.pmod(F.col("l_suppkey"), F.lit(40)).cast("string")
        ).alias("host"),
        F.col("l_orderkey").cast("long").alias("o"),
        F.col("l_linenumber").cast("int").alias("l"),
        ((F.pmod(F.col("l_partkey"), F.lit(2900)) + F.lit(100)).cast("double")
         / F.lit(512.0)).alias("lat"),
    )
    return (
        obs.groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            autothrottle_fold_col(
                F.collect_list(F.struct("o", "l", "lat")), F.lit(5.0)
            ).alias("at_delay"),
        )
        .orderBy("host")
    )


def q_priority_score(spark, sf_dir):
    """T1: frontier priority scoring f(depth, pub_time recency) as a pure
    JVM column expression (the hot-path scorer the crawl loop applies to
    every parsed request; Scrapy's spiders never set priority — this is
    the engine's scheduling upgrade, SURVEY §2.6)."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    depth = F.pmod(F.col("event_id"), F.lit(6)).cast("int")
    pub_epoch = (
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("ts").cast("timestamp").cast("double"))
    )
    as_of_epoch = 1706745600.0  # 2024-02-01 UTC, just after the corpus
    pr = priority_score_col(depth, pub_epoch, as_of_epoch)
    return ev.select(
        "event_id",
        depth.alias("depth"),
        F.round(pr, 6).alias("priority"),
    ).orderBy("event_id")


def q_event_sessionize(spark, sf_dir):
    """Sessionization (streaming session-window shape): per-user sessions
    split on >30-minute gaps, via lag + running sum windows."""
    _prep(spark)
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # NTZ → timestamp (session TZ is UTC) → epoch-seconds double.
    epoch = F.col("ts").cast("timestamp").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800.0), 1).otherwise(0)
    sess = ev.withColumn(
        "session_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("sess_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("sess_end"),
        )
        .orderBy("user_id", "session_id")
    )


def q_time_cutoff(spark, sf_dir):
    """P3+W5: the incremental-crawl cutoff predicate (zeenews.py:96-101) as
    a watermark-style filter + per-type aggregation."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") >= F.lit("2024-01-15 00:00:00"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("min_ts"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("max_ts"),
        )
        .orderBy("event_type")
    )


def q_url_dispatch(spark, sf_dir):
    """P5: URL-shape routing to parser kinds by regex (zeenews.py:57,72)."""
    _prep(spark)
    p = _t(spark, sf_dir, "part")
    m = F.pmod(F.col("p_partkey"), F.lit(3))
    url = (
        F.when(m == 0, F.concat(F.lit("/photo-gallery/"), F.col("p_partkey").cast("string")))
        .when(m == 1, F.concat(F.lit("/video/"), F.col("p_partkey").cast("string")))
        .otherwise(F.concat(F.lit("/news/story-"), F.col("p_partkey").cast("string")))
    )
    kind = (
        F.when(url.rlike("photo-gallery"), F.lit("photo"))
        .when(url.rlike("/video/"), F.lit("video"))
        .otherwise(F.lit("story"))
    )
    return (
        p.select(kind.alias("parse_kind"))
        .groupBy("parse_kind")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("parse_kind")
    )


def q_fuzzy_date_parse(spark, sf_dir):
    """F2: the fuzzy pub_time parser (util.py:43-85) round-tripping the
    'Month D, Y, H:M' absolute branch, Arrow-batched."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events").select(
        "event_id", F.date_format("ts", "MMM d, yyyy, HH:mm").alias("raw")
    )
    as_of = F.to_timestamp(F.lit(AS_OF))
    return ev.select(
        "event_id",
        "raw",
        F.date_format(
            format_time2_udf(F.col("raw"), as_of), "yyyy-MM-dd HH:mm:ss"
        ).alias("parsed"),
    ).orderBy("event_id")


def q_format_time3(spark, sf_dir):
    """F3+F1: formatted string ↔ epoch round trip (util.py:36-40,88-91)."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    s = F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    epoch = F.unix_timestamp(s, "yyyy-MM-dd HH:mm:ss")
    return ev.select(
        "event_id",
        epoch.alias("epoch"),
        F.date_format(F.from_unixtime(epoch), "yyyy-MM-dd HH:mm:ss").alias("roundtrip"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Training-data pipeline: dedup family (documents table)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    """Exact-content dedup: md5 groupBy, min-id representative."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, text_col="text", id_col="doc_id").orderBy("content_md5")


def q_substring_dedup(spark, sf_dir):
    """Exact duplicated-substring spans (ExactSubstr, Lee et al. 2021):
    maximal token spans whose every 16-token window occurs >1 time in the
    corpus — the spans a training pipeline cuts before tokenization. One
    uniform-key shuffle to count window hashes, one doc-key shuffle to
    merge islands."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return (
        duplicated_substring_spans(docs, k=16, id_col="doc_id",
                                   text_col="text")
        .withColumnRenamed("doc", "doc_id")
        .orderBy("doc_id", "span_start")
    )


def q_bm25_index(spark, sf_dir):
    """BM25 search-index build (Okapi BM25, Robertson et al. TREC-3):
    per-document top-5 terms by BM25 weight. tf via partial-agg groupBy,
    df via a window count on the term key, corpus stats (N, avgdl) as a
    broadcast one-row cross join, rounded-score ordering for
    cross-engine-exact ranks."""
    from crawler_spark.operators.index import bm25_top_terms

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return bm25_top_terms(docs, top_n=5).orderBy("doc_id", "rank")


BM25_QUERY_TERMS = ("window", "join", "hash")


def q_bm25_search(spark, sf_dir):
    """Retrieval over the BM25 index: top-20 documents for a fixed
    bag-of-words query by summed per-term weight — conditional-agg sum in
    FIXED term order (floating + is not associative), global top-k via
    orderBy+limit (TakeOrderedAndProject, no global sort)."""
    from crawler_spark.operators.index import bm25_search

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return bm25_search(docs, BM25_QUERY_TERMS, top_n=20)


def q_ngram_jaccard(spark, sf_dir):
    """n-gram Jaccard near-dup pairs (3-word shingles, ≥ 0.3) with the
    document-frequency cap on shingle fanout (≤ 50 docs per shingle)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, n=3, threshold=0.3, id_col="doc_id", text_col="text",
        max_doc_freq=50,
    ).orderBy("doc_a", "doc_b")


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup collapse: connected components over the n-gram
    Jaccard pair graph (min-label propagation to fixpoint), then ONE
    representative per cluster by (rounded quality desc, doc_id) — the
    dedup-pipeline step after pair generation. Oracle: recursive CTE
    reachability in DuckDB over the same pair SQL."""
    from crawler_spark.operators.dedup import dedup_cluster_representatives

    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.3, id_col="doc_id", text_col="text",
        max_doc_freq=50,
    )
    return dedup_cluster_representatives(
        docs, pairs, quality_score(F.col("text")), id_col="doc_id"
    ).orderBy("doc_id")


def q_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidates, exact-verified. md5-derived
    universal-hash signatures → bit-identical in DuckDB → exact oracle."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, n=3, num_hashes=32, bands=16, threshold=0.3,
        id_col="doc_id", text_col="text",
    ).orderBy("doc_a", "doc_b")


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via pigeonhole banding (md5-derived 60-bit
    fingerprints → exact DuckDB oracle)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(
        docs, max_hamming=3, id_col="doc_id", text_col="text"
    ).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis (documents table)
# ---------------------------------------------------------------------------

def q_token_stats(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex tokens, chars, mean word
    length."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    return docs.select(
        "doc_id",
        token_count_ws(t).alias("n_ws_tokens"),
        token_count_regex(t).alias("n_re_tokens"),
        char_count(t).alias("n_chars_calc"),
        avg_word_len(t).alias("avg_wlen"),
    ).orderBy("doc_id")


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: per-language marker-token scores + argmax."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    en = lang_score_expr("text", LANG_MARKERS["en"])
    es = lang_score_expr("text", LANG_MARKERS["es"])
    de = lang_score_expr("text", LANG_MARKERS["de"])
    fr = lang_score_expr("text", LANG_MARKERS["fr"])
    scored = docs.select(
        "doc_id",
        en.alias("en_score"), es.alias("es_score"),
        de.alias("de_score"), fr.alias("fr_score"),
    )
    e, s, d, f_ = (F.col(c) for c in ("en_score", "es_score", "de_score", "fr_score"))
    predicted = (
        F.when((e >= s) & (e >= d) & (e >= f_), F.lit("en"))
        .when((s >= d) & (s >= f_), F.lit("es"))
        .when(d >= f_, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return scored.withColumn("predicted_lang", predicted).orderBy("doc_id")


def q_quality_score(spark, sf_dir):
    """Heuristic quality scoring (length/diversity/noise)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", quality_score(F.col("text")).alias("quality")
    ).orderBy("doc_id")


def q_fingerprint(spark, sf_dir):
    """Document fingerprinting: exact md5 content id per doc."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.col("text")).alias("fp")
    ).orderBy("doc_id")


def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (rolling-hash k-gram windows,
    Schleimer et al. 2003): per-doc count and xor-fold of the selected
    fingerprint set (k=16 chars, w=8). The set itself is the dedup
    artifact; count+xor is its order-independent exact summary for the
    oracle gate."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    fp = winnow_fingerprints(docs, k=16, w=8, id_col="doc_id", text_col="text")
    return (
        fp.groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_fp"),
            F.expr("bit_xor(fp)").alias("fp_xor"),
        )
        .orderBy("doc_id")
    )


def q_winnow_pairs(spark, sf_dir):
    """Near-dup candidates by winnowing-fingerprint overlap (the MOSS
    shape): pairs sharing ≥ 8 selected fingerprints, with the doc-frequency
    cap (≤ 50 docs per fingerprint) killing boilerplate fanout before the
    self-join."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return winnow_near_dup_pairs(
        docs, k=16, w=8, min_shared=8, id_col="doc_id", text_col="text",
        max_doc_freq=50,
    ).orderBy("doc_a", "doc_b")


def q_training_pipeline(spark, sf_dir):
    """The COMPOSED curation pipeline a training-data run actually
    executes, as one declarative plan: quality-score every document, keep
    quality ≥ 0.5, collapse exact duplicates to the min-doc_id
    representative, language-ID the survivors, roll up per predicted
    language (docs kept, whitespace tokens, mean quality). Scale shape:
    the filter runs before both shuffles (Catalyst pushes it into the
    scan side), the dedup groupBy and the rollup are partial-agg hash
    aggregations, and the representative join is a semi-join on doc_id —
    nothing materializes an intermediate or leaves the JVM."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "text", "lang", quality_score(F.col("text")).alias("quality")
    ).filter(F.col("quality") >= 0.5)
    reps = (
        scored.groupBy(F.md5("text").alias("content_md5"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = scored.join(reps, on="doc_id", how="left_semi")
    e = lang_score_expr("text", LANG_MARKERS["en"])
    s = lang_score_expr("text", LANG_MARKERS["es"])
    d = lang_score_expr("text", LANG_MARKERS["de"])
    f_ = lang_score_expr("text", LANG_MARKERS["fr"])
    predicted = (
        F.when((e >= s) & (e >= d) & (e >= f_), F.lit("en"))
        .when((s >= d) & (s >= f_), F.lit("es"))
        .when(d >= f_, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return (
        kept.withColumn("predicted_lang", predicted)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("predicted_lang") == F.col("lang")).cast("long"))
            .alias("n_pred_match"),
            F.sum(token_count_ws(F.col("text"))).alias("total_ws_tokens"),
            F.round(F.avg("quality"), 4).alias("mean_quality"),
        )
        .orderBy("lang")
    )


# Per-language keep rates for the stratified-sample query (integer-exact
# buckets out of 10 000; see operators/curation.py).
SAMPLE_RATES = {"en": 0.5, "es": 0.25, "de": 0.2, "fr": 0.1, "zh": 0.05}


def q_gopher_repetition(spark, sf_dir):
    """Gopher/MassiveText repetition quality filters: duplicate-token
    fraction + top 2-/3-gram occupancy + keep flag (Rae et al. 2021)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return (
        repetition_stats(docs)
        .withColumn("keep_flag", F.col("keep").cast("int"))
        .drop("keep")
        .orderBy("doc_id")
    )


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language hash sampling: md5-derived bucket vs a
    per-stratum integer rate — map-side only, re-run-stable."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, SAMPLE_RATES).orderBy("doc_id")


def q_decontaminate(spark, sf_dir):
    """Benchmark n-gram decontamination (GPT-3 appendix C / PaLM shape):
    docs sharing any distinct 8-gram with the deterministic pseudo-eval
    slice (doc_id % 37 == 0), with the benchmark side broadcast."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return decontaminate(docs, bench_mod=37, n=8).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Training-data pipeline: similarity search (embeddings table)
# ---------------------------------------------------------------------------

def q_ccnet_perplexity(spark, sf_dir):
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020):
    hashed-unigram LM fit on the target pseudo-slice, per-doc cross-entropy
    in integer micros, cutoffs from the deterministic 10% sample's ntile
    boundaries."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return ccnet_perplexity(docs).orderBy("doc_id")


def q_dsir_weights(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    multinomials target-vs-raw, per-doc integer-micro log-ratio weights,
    deterministic top-50 selection. Target = doc_id % 23 == 0 pseudo-slice
    (the decontaminate convention)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs).orderBy("rank")


def q_sequence_pack(spark, sf_dir):
    """Concat-and-chunk sequence-packing manifest (GPT-3 §2.2 packing):
    per-language running token total → 2048-token pack id + offset per
    document, one window shuffle, no token materialization."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return sequence_pack(docs, seq_len=2048).orderBy("stream", "doc_id")


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k (exact ANN baseline); queries = vec_id < 8
    broadcast against the corpus."""
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    return brute_force_topk(emb, qs, k=5, id_col="vec_id", vec_col="embedding") \
        .orderBy("query_id", "rank")


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (≥ 0.4) via sign-LSH bucketing +
    Hamming-1 multiprobe + in-bucket exact cosine — equi-join plan, no
    BroadcastNestedLoopJoin. The oracle replicates the bucketing exactly
    (literal hyperplanes, rounded-dot signs)."""
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_lsh(
        emb, threshold=0.4, n_planes=8, dim=64,
        id_col="vec_id", vec_col="embedding",
    ).orderBy("id_a", "id_b")


def q_similarity_lsh(spark, sf_dir):
    """Sign-LSH bucketed ANN top-k (the sub-quadratic scale path). The
    bucketing is deterministic literal-hyperplane math, so the DuckDB
    oracle replicates it exactly; recall vs brute force is additionally
    asserted in pytest."""
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    return lsh_topk(
        emb, qs, k=5, n_planes=8, dim=64, id_col="vec_id", vec_col="embedding"
    ).orderBy("query_id", "rank")


def q_paragraph_dedup(spark, sf_dir):
    """CCNet §3.1 cross-document paragraph-hash dedup (C4 §2.2's span
    rule): canonical occurrence = min(doc_id, pos) per md5, realized as a
    partial-agg min-struct (no hot-key window), reassembly order-exact.
    The synthetic corpus has no newlines, so segments are fixed 12-word
    chunks (the operator takes any ordered segment array)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents").withColumn(
        "w_arr", F.split("text", " ")
    )
    segs = F.expr(
        "transform(sequence(0, cast(ceil(size(w_arr)/12.0) as int) - 1),"
        " i -> array_join(slice(w_arr, i*12+1, 12), ' '))"
    )
    return paragraph_dedup(docs, segs).orderBy("doc_id")


def q_url_quality(spark, sf_dir):
    """RefinedWeb §3.1.2 URL-level filtering: hard domain blocklist +
    soft word-score over the URL string + depth penalty, all integer
    basis points — the pre-fetch filter, map-side only."""
    _prep(spark)
    u = _raw_urls(spark, sf_dir)
    urls = u.select(
        F.col("raw_url").alias("url"),
        host_of(F.col("raw_url")).alias("host"),
    )
    return url_quality_filter(
        urls,
        blocklist_hosts=["site7.example.com", "site23.example.com"],
        scored_words=[("?id=", 150), ("/order/", 60), ("#frag", 80),
                      ("casino", 500)],
    ).orderBy("url")


def q_pii_redact(spark, sf_dir):
    """PII scrubbing (The Stack / ROOTS): regex count + typed-placeholder
    redaction of emails, phones, IPv4 — map-side only. The synthetic
    corpus carries no PII, so deterministic fake PII is appended to a
    doc_id-keyed subset in BOTH engines before the operator runs."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    pii = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(d % 3 == 0,
                   F.concat(F.lit(" contact user"), d.cast("string"),
                            F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(d % 5 == 0,
                   F.concat(F.lit(" call +1 555-01"),
                            F.lpad((d % 100).cast("string"), 2, "0")))
            .otherwise(F.lit("")),
            F.when(d % 7 == 0,
                   F.concat(F.lit(" from 10.0."), (d % 256).cast("string"),
                            F.lit("."), (d % 100).cast("string")))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_redact(pii).orderBy("doc_id")


def q_fasttext_quality(spark, sf_dir):
    """fastText-style hashed-bigram linear quality classifier inference
    (Joulin et al. 2016; the DCLM / FineWeb-Edu filter family): derived
    integer weight table, exact integer mean score, fast-sigmoid
    probability — one explode + one partial-agg groupBy."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    return fasttext_score(docs).orderBy("doc_id")


def q_hll_count(spark, sf_dir):
    """HyperLogLog per-host distinct-URL estimate (Flajolet et al. 2007)
    with plain-column registers: md5 bucket + leading-zero rank via the
    exact bitlen = length(bin(v)) identity, no float log, one single
    float division per host at the very end — cross-engine exact."""
    _prep(spark)
    li = _t(spark, sf_dir, "lineitem")
    host = F.concat(F.lit("site"),
                    F.pmod(F.col("l_suppkey"), F.lit(8)).cast("string"),
                    F.lit(".example.com"))
    urls = li.select(
        host.alias("host"),
        F.concat(host, F.lit("/item/"),
                 F.pmod(F.col("l_orderkey"), F.lit(40000)).cast("string"))
        .alias("url"),
    )
    return hll_distinct(urls).orderBy("host")


def q_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): fixed-point Lloyd
    k-means over the embeddings table (integer-micro arithmetic — every
    round bit-identical across engines and parallelism) + within-cluster
    peripheral-first cosine pruning. The pair stage is an equi-self-join
    on the cluster id (cluster-bounded quadratic — the paper's own cost
    model); the oracle unrolls the identical Lloyd rounds as CTEs."""
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(
        emb, dim=64, k=8, iters=2, tau=0.40,
        id_col="vec_id", vec_col="embedding",
    ).orderBy("vec_id")


def q_similarity_ivf(spark, sf_dir):
    """IVF-style ANN top-k (inverted coarse cells, nprobe=2) — the
    alternative sub-quadratic scale path to sign-LSH. Deterministic
    literal centroids → exact DuckDB oracle."""
    _prep(spark)
    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 8)
    return ivf_topk(
        emb, qs, k=5, n_cells=8, nprobe=2, dim=64,
        id_col="vec_id", vec_col="embedding",
    ).orderBy("query_id", "rank")


# ---------------------------------------------------------------------------
# Streaming-shaped + interleaved-span + multimodal operators
# ---------------------------------------------------------------------------

def q_event_hourly_agg(spark, sf_dir):
    """A4/metrics shape: tumbling 1-hour windowed aggregation over the
    events stream table (watermark-windowed agg in Structured Streaming)."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_cents("value")).alias("value_cents"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type", "n", "value_cents",
        )
        .orderBy("win_start", "event_type")
    )


def q_interleaved_spans(spark, sf_dir):
    """The input_hint span pipeline: build interleaved text+image spans
    (image first — yehey.py:127-134 ordering), explode, and reassemble in
    exact offset order (span-sequence invariant)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents")
    spans = F.concat(
        F.array(
            F.struct(
                F.lit("image").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string"),
                         F.lit(".jpg")).alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ),
        F.expr(
            "transform(slice(split(text, ' '), 1, 6),"
            " (w, i) -> struct('text' as kind, w as text,"
            " cast(null as string) as media_ref, i + 1 as offset))"
        ),
    )
    ex = (
        docs.select("doc_id", F.explode(spans).alias("s"))
        .select("doc_id", "s.kind", "s.text", "s.offset")
    )
    sorted_spans = F.array_sort(
        F.collect_list(F.struct("offset", "kind", "text"))
    )
    body = F.array_join(
        F.transform(
            F.filter(sorted_spans, lambda s: s.kind == "text"),
            lambda s: s.text,
        ),
        " ",
    )
    return (
        ex.groupBy("doc_id")
        .agg(
            body.alias("body"),
            F.count(F.lit(1)).alias("n_spans"),
            F.count(F.when(F.col("kind") == "image", 1)).alias("n_images"),
        )
        .orderBy("doc_id")
    )


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: opaque binary media column → Arrow-batched
    feature extraction (deterministic fake decode; real decoder swaps in
    behind the same mapInPandas contract)."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string"),
                 F.lit(".jpg")).alias("media_ref"),
    )
    media = attach_fake_media(docs)
    return extract_media_features(media).orderBy("doc_id")


def q_multimodal_frames(spark, sf_dir):
    """Frame sampling (stride over n_frames) + aspect-preserving resize
    planning, one row per sampled frame — the video/image preprocessing
    stage of a multimodal training pipeline, exercised end-to-end through
    the same Arrow-batched plumbing as the fake decoder."""
    _prep(spark)
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.col("source"), F.lit("/"), F.col("doc_id").cast("string"),
                 F.lit(".jpg")).alias("media_ref"),
    )
    feats = extract_media_features(attach_fake_media(docs))
    return sample_frames_and_resize(feats, k=2, target=224).orderBy(
        "doc_id", "frame_idx"
    )


# Host link graph for PageRank: directed host→host edges derived
# deterministically from orders. Hosts 47-49 never emit links (dangling —
# a freshly discovered host is always dangling until first parsed).
_PAGERANK_EDGES_SQL = (
    "SELECT DISTINCT"
    " 'site' || CAST(o_custkey % 50 AS VARCHAR) AS src,"
    " 'site' || CAST(o_orderkey % 50 AS VARCHAR) AS dst"
    " FROM orders"
    " WHERE (o_custkey % 50) <> (o_orderkey % 50)"
    " AND (o_custkey % 50) < 47"
)


def q_host_pagerank(spark, sf_dir):
    """Link-graph host authority (fixed-point integer PageRank, 4
    iterations, d=0.85): the third crawl-priority signal next to depth +
    recency (Cho, Garcia-Molina & Page 1998). Integer fixed-point makes
    the result bit-identical under any partitioning — float PageRank is
    not associative-safe — and exactly DuckDB-verifiable."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    src_h = F.col("o_custkey") % 50
    dst_h = F.col("o_orderkey") % 50
    edges = (
        o.filter((src_h != dst_h) & (src_h < 47))
        .select(
            F.concat(F.lit("site"), src_h.cast("string")).alias("src"),
            F.concat(F.lit("site"), dst_h.cast("string")).alias("dst"),
        )
        .distinct()
    )
    return host_pagerank(edges, n_iter=4, damping_pct=85).orderBy("host")


def q_budget_allocation(spark, sf_dir):
    """Global fetch-budget apportionment across hosts by PageRank mass
    (largest-remainder / Hamilton method): integer-exact, sums to exactly
    the budget, deterministic tie-break — the scheduler knob that turns
    link authority into per-host batch quotas."""
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    src_h = F.col("o_custkey") % 50
    dst_h = F.col("o_orderkey") % 50
    edges = (
        o.filter((src_h != dst_h) & (src_h < 47))
        .select(
            F.concat(F.lit("site"), src_h.cast("string")).alias("src"),
            F.concat(F.lit("site"), dst_h.cast("string")).alias("dst"),
        )
        .distinct()
    )
    ranks = host_pagerank(edges, n_iter=4, damping_pct=85)
    return allocate_budget(ranks, total_budget=10_000, min_per_host=2).orderBy(
        "host"
    )


def q_revisit_schedule(spark, sf_dir):
    """Adaptive recrawl scheduling (Cho & Garcia-Molina 2003): per-URL
    change-rate λ̂ from the visit log's fingerprint history → clamped
    revisit interval + next-due time. Window lag + groupBy built-ins,
    one shuffle on the URL key."""
    _prep(spark)
    ev = _t(spark, sf_dir, "events")
    visits = ev.select(
        F.concat(F.lit("u"), (F.col("user_id") % 300).cast("string")).alias(
            "url"
        ),
        F.col("ts").cast("timestamp").cast("double").alias("ts"),
        F.col("event_id").alias("seq"),
        (F.floor(F.col("value")).cast("bigint") % 5).alias("sig"),
    )
    return revisit_schedule(
        visits, min_interval=3600.0, max_interval=7 * 86400.0
    ).orderBy("url")


# ---------------------------------------------------------------------------
# Crawl-lifecycle queries (engine vs reference-semantics simulator — the
# e2e parity invariant surfaced through the driver's oracle gate; VERDICT
# r2 'Next round #3'). The Spark side runs the micro-batch CrawlEngine on
# a fixed deterministic mock-web fixture; the oracle side is the
# single-threaded simulator's output written as parquet (pure Python, no
# Spark) that DuckDB reads with read_parquet(). sf_dir is unused: the
# fixture is self-contained and identical on both sides by construction
# ONLY if engine == reference semantics, batch for batch.
# ---------------------------------------------------------------------------

def q_crawl_docs(spark, sf_dir):
    """S1-S6/U1-U4/P1-P4/K1-K2/D4/F2: every stored document's scalar
    columns (title/abstract/categories/normalized pub_time/urls/raw html)
    must equal the simulator's, doc for doc."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_docs(spark)


def q_crawl_spans(spark, sf_dir):
    """The input_hint invariant through the oracle gate: per-document
    interleaved span sequences (kind, text, media_ref, offset) exploded to
    rows — exact equality with the simulator's spans."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_spans(spark)


def q_crawl_log(spark, sf_dir):
    """Crawl ORDERING as data (D1-D3/T1-T3/W1/W3/J3): the canonical rank
    (batch_id, priority desc, lineage seq) of every admitted request, plus
    its fetch identity (method/body/attempt/ua) — byte-for-byte vs the
    simulator's log."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_log(spark)


def q_crawl_categories(spark, sf_dir):
    """U1/menu2 lineage + breadcrumb categories as a rollup: per-
    (category1, category2) doc counts — non-null category2 flows from the
    real two-level-menu sites (aajtak, maharashtratimes) in the fixture."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_categories(spark)


def q_crawl_prioritized_log(spark, sf_dir):
    """Crawl PRIORITIZATION end-to-end (Cho/Garcia-Molina/Page 1998): the
    engine re-runs the fixture with host_pagerank authority mass added to
    every T1 priority and allocate_budget apportionment capping per-host
    admission — the ordered log must match the simulator fed the pure-
    Python mirrors of the same two operators byte-for-byte."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_prioritized_log(spark)


def q_crawl_url_filter_log(spark, sf_dir):
    """URL-filter-guarded crawl end-to-end (RefinedWeb §3.1.2 as engine
    step 0): a blocklisted host's seed dies in batch 0, a scored word
    hard-drops one article shard, another only flags — ordered log
    byte-identical to the simulator fed the pure-Python mirror."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_url_filter_log(spark)


def q_crawl_trap_guard_log(spark, sf_dir):
    """Trap-GUARDED crawl end-to-end (IRLbot-style quarantine): engine
    pass 1 crawls a fixture with a calendar-mill host, detect_traps flags
    it from the admitted log (deep-path signal), pass 2 clamps the flagged
    host's admission via the host_budgets seam — ordered log byte-identical
    to the simulator fed detect_traps_py."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_trap_guard_log(spark)


def q_crawl_recrawl_log(spark, sf_dir):
    """W5+ multi-run recrawl: pass 2 from the seeds on the same checkpoint
    after evicting a deterministic subset — the per-run dupefilter resets
    (menus/lists refetch), the cross-run seen set holds (stored articles
    dedup), and the evicted articles are re-admitted. Oracle = the
    simulator seeded with pass 1's surviving seen set."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_recrawl_log(spark)


def q_crawl_recrawl_docs(spark, sf_dir):
    """Eviction contract through the driver's gate: pass 2 stores EXACTLY
    the evicted articles (doc-for-doc, spans included upstream)."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_recrawl_docs(spark)


def q_crawl_metrics(spark, sf_dir):
    """A4/W6: per-(batch, host) measured fetch metrics (scheduled, deduped,
    fetched, bytes, max_depth) from the checkpointed metrics table."""
    from crawler_spark import oracle_crawl

    _prep(spark)
    oracle_crawl.ensure_sim_outputs()
    return oracle_crawl.engine_metrics(spark)


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

def _queries_base() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every individual capability, one callable each (66 entries).

    The driver-facing :func:`queries` below repackages these into <=50
    rows (the driver's correctness gate truncates at 50 entries) without
    losing any oracle: related same-grain queries are unioned with a
    discriminator column or joined into one wide row. bench.py and the
    local test/check harnesses keep running the INDIVIDUAL entries via
    :func:`queries_all` so BENCH/BASELINE.md row names stay stable.
    """
    return {
        "report_daily": q_report_daily,
        "report_cumulative": q_report_cumulative,
        "report_totals": q_report_totals,
        "url_canonicalize": q_url_canonicalize,
        "trap_detection": q_trap_detection,
        "url_seen_antijoin": q_url_seen_antijoin,
        "url_seen_cuckoo": q_url_seen_cuckoo,
        "frontier_dedup": q_frontier_dedup,
        "politeness_admission": q_politeness_admission,
        "robots_filter": q_robots_filter,
        "fetch_schedule": q_fetch_schedule,
        "autothrottle_delay": q_autothrottle_delay,
        "priority_score": q_priority_score,
        "event_sessionize": q_event_sessionize,
        "time_cutoff": q_time_cutoff,
        "url_dispatch": q_url_dispatch,
        "fuzzy_date_parse": q_fuzzy_date_parse,
        "format_time3": q_format_time3,
        "exact_dedup": q_exact_dedup,
        "substring_dedup": q_substring_dedup,
        "bm25_index": q_bm25_index,
        "bm25_search": q_bm25_search,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "minhash_lsh": q_minhash_lsh,
        "simhash_pairs": q_simhash_pairs,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "fingerprint": q_fingerprint,
        "winnow_fingerprint": q_winnow_fingerprint,
        "winnow_pairs": q_winnow_pairs,
        "training_pipeline": q_training_pipeline,
        "gopher_repetition": q_gopher_repetition,
        "stratified_sample": q_stratified_sample,
        "decontaminate": q_decontaminate,
        "sequence_pack": q_sequence_pack,
        "dsir_weights": q_dsir_weights,
        "ccnet_perplexity": q_ccnet_perplexity,
        "embedding_topk": q_embedding_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "similarity_lsh": q_similarity_lsh,
        "similarity_ivf": q_similarity_ivf,
        "semdedup": q_semdedup,
        "paragraph_dedup": q_paragraph_dedup,
        "url_quality": q_url_quality,
        "pii_redact": q_pii_redact,
        "fasttext_quality": q_fasttext_quality,
        "hll_count": q_hll_count,
        "event_hourly_agg": q_event_hourly_agg,
        "interleaved_spans": q_interleaved_spans,
        "multimodal_features": q_multimodal_features,
        "multimodal_frames": q_multimodal_frames,
        "host_pagerank": q_host_pagerank,
        "budget_allocation": q_budget_allocation,
        "revisit_schedule": q_revisit_schedule,
        "crawl_docs": q_crawl_docs,
        "crawl_spans": q_crawl_spans,
        "crawl_log": q_crawl_log,
        "crawl_metrics": q_crawl_metrics,
        "crawl_categories": q_crawl_categories,
        "crawl_prioritized_log": q_crawl_prioritized_log,
        "crawl_trap_guard_log": q_crawl_trap_guard_log,
        "crawl_url_filter_log": q_crawl_url_filter_log,
        "crawl_recrawl_log": q_crawl_recrawl_log,
        "crawl_recrawl_docs": q_crawl_recrawl_docs,
    }


TOKEN_REGEX_SQL = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


# -- DuckDB renderings of the md5-based sketch math (exact mirrors of the
#    Spark expressions in operators/dedup.py and operators/similarity.py) --

def _sql_md5_long60(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::bigint"


def _sql_plane(p: list[float]) -> str:
    return "[" + ", ".join(f"{x:.6f}" for x in p) + "]::double[]"


def _sql_bucket(planes: list[list[float]], vec: str) -> str:
    """Sign-LSH bucket id over a double[] column — bit i from the ROUNDED
    dot sign, matching operators/similarity.bucket_col bit-for-bit."""
    return " + ".join(
        f"(CASE WHEN round(list_inner_product({vec}, {_sql_plane(p)}), 6) >= 0"
        f" THEN (1::bigint << {i}) ELSE 0::bigint END)"
        for i, p in enumerate(planes)
    )


def _sql_probes(n_planes: int, bucket: str) -> str:
    """The multiprobe set: bucket plus its Hamming-1 neighbors."""
    return (
        f"unnest(list_distinct(list_prepend({bucket},"
        f" list_transform(range(0, {n_planes}),"
        f" i -> xor({bucket}, 1::bigint << i)))))"
    )


def _minhash_lsh_sql(n: int = 3, num_hashes: int = 32, bands: int = 16,
                     threshold: float = 0.3) -> str:
    a_co, b_co = minhash_params(num_hashes)
    r = num_hashes // bands
    values = ", ".join(
        f"({i}, {a_co[i]}, {b_co[i]})" for i in range(num_hashes)
    )
    jac = "round(i.i::double / (na.n_sh + nb.n_sh - i.i), 4)"
    return f"""
        WITH wsp AS (
          SELECT doc_id AS doc, string_split(text, ' ') AS ws FROM documents),
        shl AS (
          SELECT doc, list_transform(
                   range(1, greatest(len(ws) - {n - 1}, 0) + 1),
                   i -> array_to_string(list_slice(ws, i, i + {n - 1}), ' ')) AS shs
          FROM wsp),
        shx AS (SELECT doc, unnest(shs) AS s FROM shl WHERE len(shs) > 0),
        hs AS (SELECT doc,
                      {_sql_md5_long60('s')} % {MINHASH_P} AS h
               FROM shx),
        params(i, a, b) AS (VALUES {values}),
        sig AS (
          SELECT doc, p.i, min((p.a * h + p.b) % {MINHASH_P}) AS m
          FROM hs CROSS JOIN params p GROUP BY doc, p.i),
        sigarr AS (SELECT doc, list(m ORDER BY i) AS signature FROM sig GROUP BY doc),
        bandix AS (SELECT unnest(range(0, {bands})) AS band_idx),
        banded AS (
          SELECT doc, band_idx,
                 array_to_string(list_slice(signature, band_idx * {r} + 1,
                                            band_idx * {r} + {r}), ',') AS band_key
          FROM sigarr CROSS JOIN bandix),
        cand AS (
          SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
          FROM banded a JOIN banded b USING (band_idx, band_key)
          WHERE a.doc < b.doc),
        shd AS (SELECT DISTINCT doc, s FROM shx),
        sz AS (SELECT doc, count(*) AS n_sh FROM shd GROUP BY doc),
        inter AS (
          SELECT c.doc_a, c.doc_b, count(*) AS i
          FROM cand c
          JOIN shd sa ON sa.doc = c.doc_a
          JOIN shd sb ON sb.doc = c.doc_b AND sb.s = sa.s
          GROUP BY c.doc_a, c.doc_b)
        SELECT i.doc_a, i.doc_b, {jac} AS jaccard
        FROM inter i
        JOIN sz na ON i.doc_a = na.doc
        JOIN sz nb ON i.doc_b = nb.doc
        WHERE {jac} >= {threshold}
        ORDER BY doc_a, doc_b
    """


def _simhash_sql(max_hamming: int = 3) -> str:
    chunks = max_hamming + 1
    width = SIMHASH_BITS // chunks
    return f"""
        WITH toks AS (
          SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS w
          FROM documents),
        th AS (SELECT doc, {_sql_md5_long60('w')} AS wh FROM toks),
        bitix AS (SELECT unnest(range(0, {SIMHASH_BITS})) AS b),
        bits AS (
          SELECT doc, b,
                 CASE WHEN sum((wh >> b) & 1) * 2 >= count(*)
                      THEN (1::bigint << b) ELSE 0::bigint END AS bitval
          FROM th CROSS JOIN bitix GROUP BY doc, b),
        fp AS (SELECT doc, cast(sum(bitval) AS bigint) AS sh FROM bits GROUP BY doc),
        ckix AS (SELECT unnest(range(0, {chunks})) AS chunk_idx),
        ck AS (
          SELECT doc, sh, chunk_idx,
                 (sh >> (chunk_idx * {width})) & {(1 << width) - 1} AS chunk_val
          FROM fp CROSS JOIN ckix)
        SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
               cast(bit_count(xor(a.sh, b.sh)) AS int) AS hamming
        FROM ck a JOIN ck b USING (chunk_idx, chunk_val)
        WHERE a.doc < b.doc AND bit_count(xor(a.sh, b.sh)) <= {max_hamming}
        ORDER BY doc_a, doc_b
    """


def _similarity_lsh_sql(k: int = 5, n_planes: int = 8, dim: int = 64,
                        seed: int = 42) -> str:
    planes = hyperplanes(dim, n_planes, seed)
    return f"""
        WITH n AS (
          SELECT vec_id, embedding::double[] AS e,
                 sqrt(list_inner_product(embedding::double[],
                                         embedding::double[])) AS nrm
          FROM embeddings),
        bk AS (SELECT vec_id, e, nrm, ({_sql_bucket(planes, 'e')}) AS bucket
               FROM n),
        q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn, bucket AS qb
              FROM bk WHERE vec_id < 8),
        probes AS (
          SELECT query_id, qe, qn, {_sql_probes(n_planes, 'qb')} AS bucket
          FROM q),
        sc AS (
          SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
                 round(list_inner_product(p.qe, c.e) / (p.qn * c.nrm), 6)
                   AS cosine
          FROM probes p JOIN bk c
            ON c.bucket = p.bucket AND c.vec_id <> p.query_id)
        SELECT query_id, neighbor_id,
               cast(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS int)
                 AS rank,
               cosine
        FROM sc QUALIFY rank <= {k}
        ORDER BY query_id, rank
    """


def _similarity_ivf_sql(k: int = 5, n_cells: int = 8, nprobe: int = 2,
                        dim: int = 64, seed: int = 99) -> str:
    cents = ivf_centroids(dim, n_cells, seed)
    values = ", ".join(
        f"({i}, {_sql_plane(c)})" for i, c in enumerate(cents)
    )
    return f"""
        WITH n AS (
          SELECT vec_id, embedding::double[] AS e,
                 sqrt(list_inner_product(embedding::double[],
                                         embedding::double[])) AS nrm
          FROM embeddings),
        cents(cell, c) AS (VALUES {values}),
        dots AS (
          SELECT n.vec_id, n.e, n.nrm, cents.cell,
                 round(list_inner_product(n.e, cents.c), 6) AS cdot
          FROM n CROSS JOIN cents),
        corpus AS (
          SELECT vec_id AS neighbor_id, e AS ce, nrm AS cnrm, cell
          FROM dots
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cdot DESC, cell) = 1),
        qs AS (
          SELECT vec_id AS query_id, e AS qe, nrm AS qn, cell
          FROM dots WHERE vec_id < 8
          QUALIFY row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cdot DESC, cell) <= {nprobe}),
        sc AS (
          SELECT DISTINCT q.query_id, c.neighbor_id,
                 round(list_inner_product(q.qe, c.ce) / (q.qn * c.cnrm), 6)
                   AS cosine
          FROM qs q JOIN corpus c
            ON c.cell = q.cell AND c.neighbor_id <> q.query_id)
        SELECT query_id, neighbor_id,
               cast(row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS int)
                 AS rank,
               cosine
        FROM sc QUALIFY rank <= {k}
        ORDER BY query_id, rank
    """


def _embedding_near_dup_sql(threshold: float = 0.4, n_planes: int = 8,
                            dim: int = 64, seed: int = 42) -> str:
    planes = hyperplanes(dim, n_planes, seed)
    cos = "round(list_inner_product(na.e, nb.e) / (na.nrm * nb.nrm), 4)"
    return f"""
        WITH n AS (
          SELECT vec_id, embedding::double[] AS e,
                 sqrt(list_inner_product(embedding::double[],
                                         embedding::double[])) AS nrm
          FROM embeddings),
        bk AS (SELECT vec_id, ({_sql_bucket(planes, 'e')}) AS bucket FROM n),
        pr AS (SELECT vec_id, {_sql_probes(n_planes, 'bucket')} AS pb FROM bk),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM pr a JOIN pr b ON a.pb = b.pb AND a.vec_id < b.vec_id)
        SELECT c.id_a, c.id_b, {cos} AS cosine
        FROM cand c
        JOIN n na ON na.vec_id = c.id_a
        JOIN n nb ON nb.vec_id = c.id_b
        WHERE {cos} >= {threshold}
        ORDER BY id_a, id_b
    """


def _oracle_sql_base() -> dict[str, str]:
    report_joins = (
        "FROM orders o "
        "LEFT JOIN customer c ON o.o_custkey = c.c_custkey "
        "LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "LEFT JOIN region r ON n.n_regionkey = r.r_regionkey "
    )
    marker = {
        k: ", ".join(f"''{m}''" for m in v).replace("''", "'")
        for k, v in LANG_MARKERS.items()
    }
    lang_score = lambda key: (
        "cast(len(list_filter(string_split(text, ' '),"
        f" w -> w in ({marker[key]}))) as bigint)"
    )
    return {
        "report_daily": f"""
            SELECT n.n_name AS nation, r.r_name AS region,
                   count(*) AS num,
                   cast(sum(cast(floor(o.o_totalprice * 100) AS bigint)) AS bigint) AS total_cents
            {report_joins}
            WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "report_cumulative": f"""
            SELECT n.n_name AS nation, r.r_name AS region,
                   count(*) AS num,
                   cast(sum(cast(floor(o.o_totalprice * 100) AS bigint)) AS bigint) AS total_cents
            {report_joins}
            GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "report_totals": """
            SELECT count(*) AS total_orders,
                   count(DISTINCT o_custkey) AS distinct_customers,
                   cast(sum(cast(floor(o_totalprice * 100) AS bigint)) AS bigint) AS total_cents
            FROM orders
        """,
        "trap_detection": """
            WITH u AS (
              SELECT o_orderkey AS k, o_custkey % 20 AS hg FROM orders),
            p AS (
              SELECT k, hg,
                     CASE
                       WHEN hg = 7 THEN '/archive/2021/' || (1 + k % 12)
                         || '/' || (1 + k % 28) || '/' || k
                         || '/view/print/mobile'
                       WHEN hg = 13 THEN '/f/o/f/o/f/o/' || k
                       WHEN hg = 3 THEN '/p/' || k
                       ELSE '/' || (['news','sports','life','tech','world',
                                     'biz'])[(k % 6) + 1] || '/story-' || k
                     END AS path
              FROM u),
            per_url AS (
              SELECT 'site' || hg || '.example.com' AS host,
                     len(list_filter(string_split(path, '/'),
                                     s -> s <> '')) AS depth,
                     len(list_filter(string_split(path, '/'),
                                     s -> s <> ''))
                       - len(list_distinct(list_filter(
                           string_split(path, '/'), s -> s <> ''))) AS rep,
                     regexp_replace(path, '[0-9]+', 'N', 'g') AS template
              FROM p),
            by_tmpl AS (
              SELECT host, template, count(*) AS cnt,
                     sum(CASE WHEN depth >= 8 THEN 1 ELSE 0 END) AS deep,
                     sum(CASE WHEN rep >= 3 THEN 1 ELSE 0 END) AS loop
              FROM per_url GROUP BY 1, 2),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY host ORDER BY cnt DESC, template) AS rn
              FROM by_tmpl),
            hosts AS (
              SELECT host,
                     cast(sum(cnt) AS bigint) AS n_urls,
                     count(*) AS n_templates,
                     cast(sum(deep) AS bigint) AS n_deep,
                     cast(sum(loop) AS bigint) AS n_loop,
                     max(CASE WHEN rn = 1 THEN template END) AS top_template,
                     cast(max(CASE WHEN rn = 1 THEN cnt END) AS bigint)
                       AS top_count
              FROM ranked GROUP BY 1),
            shared AS (
              SELECT *, cast(floor(10000 * top_count / n_urls) AS bigint)
                          AS top_share_bp
              FROM hosts)
            SELECT host, n_urls, n_templates, n_deep, n_loop, top_template,
                   top_count, top_share_bp,
                   CASE WHEN n_deep * 2 >= n_urls THEN 'deep'
                        WHEN n_loop * 2 >= n_urls THEN 'loop'
                        ELSE 'dominance' END AS reason
            FROM shared
            WHERE n_urls >= 50
              AND (n_deep * 2 >= n_urls OR n_loop * 2 >= n_urls
                   OR top_share_bp >= 6000)
            ORDER BY host
        """,
        "url_canonicalize": """
            WITH u AS (
              SELECT o_orderkey,
                     cast(o_custkey % 50 AS varchar) AS h,
                     cast(o_orderkey AS varchar) AS k,
                     o_orderkey % 4 AS m
              FROM orders)
            SELECT o_orderkey,
                   CASE m
                     WHEN 0 THEN 'http://site' || h || '.example.com/order/' || k || '?q=1'
                     WHEN 1 THEN 'https://site' || h || '.example.com/ORDER/' || k
                     WHEN 2 THEN 'http://site' || h || '.example.com/'
                     ELSE 'https://site' || h || '.example.com/o?id=' || k
                   END AS canon_url,
                   'site' || h || '.example.com' AS host,
                   md5(CASE m
                     WHEN 0 THEN 'http://site' || h || '.example.com/order/' || k || '?q=1'
                     WHEN 1 THEN 'https://site' || h || '.example.com/ORDER/' || k
                     WHEN 2 THEN 'http://site' || h || '.example.com/'
                     ELSE 'https://site' || h || '.example.com/o?id=' || k
                   END) AS url_md5
            FROM u ORDER BY o_orderkey
        """,
        "url_seen_antijoin": """
            WITH cand AS (
              SELECT DISTINCT cast(l_orderkey AS varchar) AS url,
                     l_orderkey % 10 = 0 AS dont_filter
              FROM lineitem),
            seen AS (
              SELECT cast(o_orderkey AS varchar) AS url
              FROM orders WHERE o_orderkey % 3 = 0)
            SELECT url, dont_filter FROM cand
            WHERE dont_filter
               OR NOT EXISTS (SELECT 1 FROM seen WHERE seen.url = cand.url)
            ORDER BY url
        """,
        "url_seen_cuckoo": """
            WITH cand AS (
              SELECT DISTINCT cast(l_orderkey AS varchar) AS url,
                     l_orderkey % 10 = 0 AS dont_filter
              FROM lineitem),
            active AS (
              SELECT cast(o_orderkey AS varchar) AS url
              FROM orders
              WHERE o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0)
            SELECT url, dont_filter FROM cand
            WHERE dont_filter
               OR NOT EXISTS (SELECT 1 FROM active WHERE active.url = cand.url)
            ORDER BY url
        """,
        "frontier_dedup": """
            SELECT cast(user_id AS varchar) AS url,
                   lpad(cast(event_id AS varchar), 12, '0') AS seq,
                   event_type
            FROM events
            QUALIFY row_number() OVER (
              PARTITION BY user_id
              ORDER BY lpad(cast(event_id AS varchar), 12, '0')) = 1
            ORDER BY url
        """,
        "politeness_admission": """
            SELECT 'h' || cast(user_id % 13 AS varchar) AS host,
                   cast(event_id AS varchar) AS url,
                   cast(row_number() OVER (
                     PARTITION BY user_id % 13
                     ORDER BY lpad(cast(event_id AS varchar), 12, '0')) AS int)
                     AS host_rank
            FROM events
            QUALIFY host_rank <= 5
            ORDER BY host, host_rank
        """,
        "robots_filter": """
            WITH f AS (
              SELECT 'http://h' || cast(user_id % 13 AS varchar) || '.test/p'
                       || cast(event_id % 20 AS varchar) || '/x' AS url,
                     'h' || cast(user_id % 13 AS varchar) || '.test' AS host,
                     lpad(cast(event_id AS varchar), 12, '0') AS seq,
                     user_id % 13 AS k,
                     '/p' || cast(event_id % 20 AS varchar) || '/x' AS path
              FROM events)
            SELECT url, host, seq,
                   (CASE k % 3 WHEN 0 THEN 0.1 WHEN 1 THEN 0.2 ELSE 0.3 END)::double
                     AS crawl_delay
            FROM f
            WHERE (k = 2 AND path LIKE '/p1%')
               OR NOT (k % 2 = 0 AND path LIKE '/p1%')
            ORDER BY seq
        """,
        "fetch_schedule": """
            WITH adm AS (
              SELECT 'h' || cast(user_id % 13 AS varchar) AS host,
                     cast(event_id AS varchar) AS url,
                     cast(row_number() OVER (
                       PARTITION BY user_id % 13
                       ORDER BY lpad(cast(event_id AS varchar), 12, '0')) AS int)
                       AS host_rank
              FROM events QUALIFY host_rank <= 5)
            SELECT host, url, host_rank,
                   1000.0::double + (host_rank - 1) * (0.2::double) AS scheduled_at
            FROM adm ORDER BY host, host_rank
        """,
        # W4 AutoThrottle: the same IEEE-double fold the JVM aggregate
        # runs (clamp(0.2, max(t, (d+t)/2), 60) from the 5 s start),
        # rendered as list_reduce over the slot-ordered latency list.
        "autothrottle_delay": """
            SELECT host, COUNT(*) AS n_obs,
                   list_reduce(
                     list_prepend(5.0, list(lat ORDER BY o, l, lat)),
                     (acc, t) -> least(60.0, greatest(0.2,
                                       greatest(t, (acc + t) / 2)))
                   ) AS at_delay
            FROM (
              SELECT 'site' || (l_suppkey % 40) AS host,
                     l_orderkey AS o, l_linenumber AS l,
                     ((l_partkey % 2900) + 100) / 512.0 AS lat
              FROM lineitem
            ) GROUP BY host ORDER BY host
        """,
        "priority_score": """
            SELECT event_id,
                   cast(event_id % 6 AS int) AS depth,
                   round(1.0::double / (1.0::double + (event_id % 6))
                         + CASE WHEN event_id % 7 = 0 THEN 0.0::double
                                ELSE greatest(0.0::double,
                                              1.0::double
                                              - (1706745600.0::double - epoch(ts))
                                                / 604800.0::double) END,
                         6) AS priority
            FROM events ORDER BY event_id
        """,
        "event_sessionize": """
            WITH s AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(epoch(ts)) OVER w IS NULL
                            OR epoch(ts) - lag(epoch(ts)) OVER w > 1800.0
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s2 AS (
              SELECT user_id, ts,
                     sum(new_sess) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM s)
            SELECT user_id, cast(session_id AS bigint) AS session_id,
                   count(*) AS n_events,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS sess_end
            FROM s2 GROUP BY user_id, session_id
            ORDER BY user_id, session_id
        """,
        "time_cutoff": """
            SELECT event_type, count(*) AS n,
                   strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS min_ts,
                   strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
            GROUP BY event_type ORDER BY event_type
        """,
        "url_dispatch": """
            WITH u AS (
              SELECT CASE p_partkey % 3
                       WHEN 0 THEN '/photo-gallery/' || cast(p_partkey AS varchar)
                       WHEN 1 THEN '/video/' || cast(p_partkey AS varchar)
                       ELSE '/news/story-' || cast(p_partkey AS varchar)
                     END AS url
              FROM part)
            SELECT CASE
                     WHEN regexp_matches(url, 'photo-gallery') THEN 'photo'
                     WHEN regexp_matches(url, '/video/') THEN 'video'
                     ELSE 'story'
                   END AS parse_kind,
                   count(*) AS n
            FROM u GROUP BY 1 ORDER BY 1
        """,
        "fuzzy_date_parse": """
            SELECT event_id,
                   strftime(ts, '%b %-d, %Y, %H:%M') AS raw,
                   strftime(strptime(strftime(ts, '%b %-d, %Y, %H:%M'),
                                     '%b %d, %Y, %H:%M'),
                            '%Y-%m-%d %H:%M:%S') AS parsed
            FROM events ORDER BY event_id
        """,
        "format_time3": """
            SELECT event_id,
                   cast(epoch(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
                                       '%Y-%m-%d %H:%M:%S')) AS bigint) AS epoch,
                   strftime(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
                                     '%Y-%m-%d %H:%M:%S'),
                            '%Y-%m-%d %H:%M:%S') AS roundtrip
            FROM events ORDER BY event_id
        """,
        "exact_dedup": """
            SELECT md5(text) AS content_md5,
                   min(doc_id) AS keep_id,
                   count(*) AS dup_count
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        # ExactSubstr (k=16): window hash = md5 of the space-joined
        # 16-token slice — identical text in both engines; islands merge
        # when window starts are ≤ k apart (overlap or contiguous).
        "substring_dedup": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS ts FROM documents
              WHERE len(string_split(text, ' ')) >= 16),
            wins AS (
              SELECT doc_id, i AS pos,
                     md5(array_to_string(ts[i : i + 15], ' ')) AS h
              FROM toks,
                   LATERAL (SELECT unnest(generate_series(1, len(ts) - 15)) AS i)),
            hits AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY h) AS n_occ
              FROM wins QUALIFY n_occ > 1),
            flag AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > coalesce(max(pos) OVER (
                            PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          -1000000) + 16 THEN 1 ELSE 0 END AS new_grp
              FROM hits),
            grp AS (
              SELECT doc_id, pos,
                     sum(new_grp) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
              FROM flag)
            SELECT doc_id,
                   CAST(min(pos) AS INT) AS span_start,
                   CAST(max(pos) + 15 AS INT) AS span_end,
                   count(*) AS n_windows
            FROM grp GROUP BY doc_id, g
            ORDER BY doc_id, span_start
        """,
        # BM25 (k1=1.2, b=0.75): every arithmetic step in the same IEEE
        # order as operators/index.bm25_top_terms; constants written as
        # (1.2 + 1.0) / (1.0 - 0.75) so both engines derive them with the
        # identical add from identically-parsed literals; score rounded
        # BEFORE ranking so rank ties break identically.
        "bm25_index": """
            WITH base AS (
              SELECT doc_id, len(string_split(text, ' ')) AS dl,
                     unnest(string_split(text, ' ')) AS term
              FROM documents),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM base GROUP BY 1, 2, 3),
            wdf AS (
              SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
            dls AS (SELECT DISTINCT doc_id, dl FROM tf),
            stats AS (
              SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dls),
            scored AS (
              SELECT doc_id, term, tf, df,
                     round(ln(((n_docs - df + 0.5) / (df + 0.5)) + 1.0)
                           * (tf * (1.2 + 1.0))
                           / (tf + 1.2 * ((1.0 - 0.75)
                                          + 0.75 * (dl / avgdl))),
                           4) AS score
              FROM wdf, stats),
            ranked AS (
              SELECT *, row_number() OVER (
                       PARTITION BY doc_id
                       ORDER BY score DESC, term ASC) AS rank
              FROM scored)
            SELECT doc_id, term, tf, df, score, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5 ORDER BY doc_id, rank
        """,
        # Retrieval over the same scored index: per-term weights summed in
        # the FIXED query-term order via coalesce(+) (floating addition is
        # not associative; a free-order SUM could flip the last ulp).
        "bm25_search": """
            WITH base AS (
              SELECT doc_id, len(string_split(text, ' ')) AS dl,
                     unnest(string_split(text, ' ')) AS term
              FROM documents),
            tf AS (
              SELECT doc_id, dl, term, count(*) AS tf
              FROM base GROUP BY 1, 2, 3),
            wdf AS (
              SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
            dls AS (SELECT DISTINCT doc_id, dl FROM tf),
            stats AS (
              SELECT count(*) AS n_docs,
                     CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
              FROM dls),
            scored AS (
              SELECT doc_id, term,
                     round(ln(((n_docs - df + 0.5) / (df + 0.5)) + 1.0)
                           * (tf * (1.2 + 1.0))
                           / (tf + 1.2 * ((1.0 - 0.75)
                                          + 0.75 * (dl / avgdl))),
                           4) AS score
              FROM wdf, stats
              WHERE term IN ('window', 'join', 'hash')),
            agg AS (
              SELECT doc_id,
                     round(coalesce(max(CASE WHEN term = 'window'
                                        THEN score END), 0.0)
                           + coalesce(max(CASE WHEN term = 'join'
                                          THEN score END), 0.0)
                           + coalesce(max(CASE WHEN term = 'hash'
                                          THEN score END), 0.0), 4) AS score
              FROM scored GROUP BY doc_id),
            top AS (
              SELECT doc_id, score FROM agg
              ORDER BY score DESC, doc_id LIMIT 20)
            SELECT doc_id, score,
                   CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                        AS INT) AS rank
            FROM top ORDER BY rank
        """,
        "ngram_jaccard": """
            WITH sh0 AS (
              SELECT doc_id AS doc,
                     unnest(list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                       i -> array_to_string(
                         list_slice(string_split(text, ' '), i, i + 2), ' '))))
                       AS shingle
              FROM documents),
            keep AS (SELECT shingle FROM sh0 GROUP BY shingle
                     HAVING count(*) <= 50),
            sh AS (SELECT sh0.* FROM sh0 JOIN keep USING (shingle)),
            sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
            inter AS (
              SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc < b.doc GROUP BY 1, 2)
            SELECT doc_a, doc_b,
                   round(i::double / (sa.n_sh + sb.n_sh - i), 4) AS jaccard
            FROM inter
            JOIN sz sa ON doc_a = sa.doc
            JOIN sz sb ON doc_b = sb.doc
            WHERE round(i::double / (sa.n_sh + sb.n_sh - i), 4) >= 0.3
            ORDER BY doc_a, doc_b
        """,
        "dedup_clusters": """
            WITH RECURSIVE
            sh0 AS (
              SELECT doc_id AS doc,
                     unnest(list_distinct(list_transform(
                       range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
                       i -> array_to_string(
                         list_slice(string_split(text, ' '), i, i + 2), ' '))))
                       AS shingle
              FROM documents),
            keep_sh AS (SELECT shingle FROM sh0 GROUP BY shingle
                        HAVING count(*) <= 50),
            sh AS (SELECT sh0.* FROM sh0 JOIN keep_sh USING (shingle)),
            sz AS (SELECT doc, count(*) AS n_sh FROM sh GROUP BY doc),
            inter AS (
              SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS i
              FROM sh a JOIN sh b USING (shingle)
              WHERE a.doc < b.doc GROUP BY 1, 2),
            pairs AS (
              SELECT doc_a, doc_b FROM inter
              JOIN sz sa ON doc_a = sa.doc
              JOIN sz sb ON doc_b = sb.doc
              WHERE round(i::double / (sa.n_sh + sb.n_sh - i), 4) >= 0.3),
            edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
                      UNION SELECT doc_b, doc_a FROM pairs),
            reach(doc, label) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT e.a, r.label FROM edges e JOIN reach r ON r.doc = e.b),
            comp AS (SELECT doc, min(label) AS cluster
                     FROM reach GROUP BY doc),
            q AS (
              SELECT doc_id,
                     round(0.4 * least(length(text)::double / 400.0, 1.0)
                         + 0.4 * (len(list_distinct(string_split(text, ' ')))::double
                                  / len(string_split(text, ' ')))
                         + 0.2 * (1 - length(regexp_replace(text, '[a-zA-Z ]', '', 'g'))::double
                                  / greatest(length(text), 1)), 4) AS quality
              FROM documents)
            SELECT q.doc_id, comp.cluster, q.quality,
                   row_number() OVER (PARTITION BY comp.cluster
                                      ORDER BY q.quality DESC, q.doc_id) = 1
                     AS keep
            FROM comp JOIN q ON comp.doc = q.doc_id
            ORDER BY q.doc_id
        """,
        "minhash_lsh": _minhash_lsh_sql(n=3, num_hashes=32, bands=16,
                                        threshold=0.3),
        "simhash_pairs": _simhash_sql(max_hamming=3),
        "similarity_lsh": _similarity_lsh_sql(k=5, n_planes=8, dim=64),
        "similarity_ivf": _similarity_ivf_sql(k=5, n_cells=8, nprobe=2,
                                              dim=64),
        "semdedup": semdedup_sql(dim=64, k=8, iters=2, tau=0.40),
        "pii_redact": """
            WITH p AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 3 = 0
                          THEN ' contact user' || cast(doc_id AS varchar)
                               || '@example.com' ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                          THEN ' call +1 555-01'
                               || lpad(cast(doc_id % 100 AS varchar), 2, '0')
                          ELSE '' END
                     || CASE WHEN doc_id % 7 = 0
                          THEN ' from 10.0.' || cast(doc_id % 256 AS varchar)
                               || '.' || cast(doc_id % 100 AS varchar)
                          ELSE '' END
                       AS text
              FROM documents)
            SELECT doc_id,
                   cast(len(regexp_extract_all(text, '"""
        + PII_EMAIL_RE + """')) AS bigint) AS n_emails,
                   cast(len(regexp_extract_all(text, '"""
        + PII_PHONE_RE + """')) AS bigint) AS n_phones,
                   cast(len(regexp_extract_all(text, '"""
        + PII_IPV4_RE + """')) AS bigint) AS n_ips,
                   regexp_replace(regexp_replace(regexp_replace(text,
                     '""" + PII_EMAIL_RE + """', '<EMAIL>', 'g'),
                     '""" + PII_PHONE_RE + """', '<PHONE>', 'g'),
                     '""" + PII_IPV4_RE + """', '<IP>', 'g')
                     AS text_redacted
            FROM p ORDER BY doc_id
        """,
        "fasttext_quality": """
            WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            g AS (
              SELECT doc_id,
                     unnest(list_transform(generate_series(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i + 1])) AS g
              FROM w),
            b AS (
              SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 15))::bigint % 4096
                       AS bucket
              FROM g),
            wt AS (
              SELECT doc_id,
                     (('0x' || substr(md5('ft:' || cast(bucket AS varchar)),
                       1, 15))::bigint % 2001) - 1000 AS wt
              FROM b),
            agg AS (
              SELECT doc_id, sum(wt) AS wsum, count(*) AS n
              FROM wt GROUP BY doc_id),
            sc AS (
              SELECT d.doc_id,
                     cast(coalesce(a.n, 0) AS bigint) AS n_feats,
                     coalesce(cast(floor(a.wsum::double / a.n) AS bigint), 0)
                       AS score_micro
              FROM documents d LEFT JOIN agg a USING (doc_id))
            SELECT doc_id, n_feats, score_micro,
                   round(0.5 + score_micro::double
                         / (2 * (1000 + abs(score_micro))), 6)
                     AS quality_prob,
                   score_micro >= 0 AS keep
            FROM sc ORDER BY doc_id
        """,
        "hll_count": hll_distinct_sql(
            "FROM (SELECT 'site' || cast(l_suppkey % 8 AS varchar)"
            " || '.example.com' AS host,"
            " 'site' || cast(l_suppkey % 8 AS varchar)"
            " || '.example.com/item/' || cast(l_orderkey % 40000 AS varchar)"
            " AS url FROM lineitem)"
        ),
        "paragraph_dedup": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            ch AS (
              SELECT doc_id, w,
                     unnest(range(0, cast(ceil(len(w)/12.0) AS bigint)))
                       AS pos
              FROM toks),
            segs AS (
              SELECT doc_id, cast(pos AS int) AS pos,
                     array_to_string(w[(pos*12+1):(pos*12+12)], ' ') AS seg
              FROM ch),
            hs AS (SELECT doc_id, pos, seg, md5(seg) AS h FROM segs),
            canon AS (
              SELECT h, doc_id, pos FROM hs
              QUALIFY row_number() OVER (PARTITION BY h
                                         ORDER BY doc_id, pos) = 1),
            kept AS (
              SELECT hs.doc_id, hs.pos, hs.seg
              FROM hs JOIN canon c
                ON hs.h = c.h AND hs.doc_id = c.doc_id AND hs.pos = c.pos),
            agg AS (
              SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS text_dedup,
                     count(*) AS n_kept
              FROM kept GROUP BY doc_id)
            SELECT t.doc_id,
                   cast(ceil(len(t.w)/12.0) AS bigint) AS n_segments,
                   coalesce(a.n_kept, 0) AS n_kept,
                   coalesce(a.text_dedup, '') AS text_dedup
            FROM toks t LEFT JOIN agg a USING (doc_id)
            ORDER BY t.doc_id
        """,
        "url_quality": """
            WITH u AS (
              SELECT cast(o_custkey % 50 AS varchar) AS h,
                     cast(o_orderkey AS varchar) AS k,
                     o_orderkey % 4 AS m
              FROM orders),
            r AS (
              SELECT CASE m
                       WHEN 0 THEN 'HTTP://Site' || h || '.Example.COM:80/order/' || k || '?q=1#frag'
                       WHEN 1 THEN 'https://SITE' || h || '.example.com:443/ORDER/' || k
                       WHEN 2 THEN 'http://site' || h || '.EXAMPLE.com'
                       ELSE 'HTTPS://site' || h || '.example.com/o?id=' || k || '#x'
                     END AS url,
                     'site' || h || '.example.com' AS host
              FROM u),
            s AS (
              SELECT url, host,
                     cast((CASE WHEN contains(lower(url), '?id=') THEN 150 ELSE 0 END
                         + CASE WHEN contains(lower(url), '/order/') THEN 60 ELSE 0 END
                         + CASE WHEN contains(lower(url), '#frag') THEN 80 ELSE 0 END
                         + CASE WHEN contains(lower(url), 'casino') THEN 500 ELSE 0 END
                         + greatest(len(string_split(regexp_replace(lower(url),
                               '^[a-z]+://[^/]+', ''), '/')) - 7, 0) * 10)
                       AS bigint) AS score_bp
              FROM r)
            SELECT url, host, score_bp,
                   CASE WHEN host IN ('site7.example.com', 'site23.example.com')
                          THEN 'drop'
                        WHEN score_bp >= 300 THEN 'drop'
                        WHEN score_bp >= 100 THEN 'flag'
                        ELSE 'keep' END AS action
            FROM s ORDER BY url
        """,
        "token_stats": f"""
            SELECT doc_id,
                   cast(len(string_split(text, ' ')) AS bigint) AS n_ws_tokens,
                   cast(len(regexp_extract_all(text, '{TOKEN_REGEX_SQL}', 0)) AS bigint)
                     AS n_re_tokens,
                   cast(length(text) AS bigint) AS n_chars_calc,
                   round((length(text) - (len(string_split(text, ' ')) - 1))::double
                         / len(string_split(text, ' ')), 4) AS avg_wlen
            FROM documents ORDER BY doc_id
        """,
        "lang_id": f"""
            WITH s AS (
              SELECT doc_id,
                     {lang_score('en')} AS en_score,
                     {lang_score('es')} AS es_score,
                     {lang_score('de')} AS de_score,
                     {lang_score('fr')} AS fr_score
              FROM documents)
            SELECT doc_id, en_score, es_score, de_score, fr_score,
                   CASE
                     WHEN en_score >= es_score AND en_score >= de_score
                          AND en_score >= fr_score THEN 'en'
                     WHEN es_score >= de_score AND es_score >= fr_score THEN 'es'
                     WHEN de_score >= fr_score THEN 'de'
                     ELSE 'fr'
                   END AS predicted_lang
            FROM s ORDER BY doc_id
        """,
        "quality_score": """
            SELECT doc_id,
                   round(0.4 * least(length(text)::double / 400.0, 1.0)
                       + 0.4 * (len(list_distinct(string_split(text, ' ')))::double
                                / len(string_split(text, ' ')))
                       + 0.2 * (1 - length(regexp_replace(text, '[a-zA-Z ]', '', 'g'))::double
                                / greatest(length(text), 1)), 4) AS quality
            FROM documents ORDER BY doc_id
        """,
        "fingerprint": """
            SELECT doc_id, md5(text) AS fp FROM documents ORDER BY doc_id
        """,
        # Winnowing (k=16, w=8): gram hash = md5-derived 60-bit long, window
        # min over full windows only (short docs keep the pos=0 window) —
        # renders operators/dedup.winnow_fingerprints exactly.
        "winnow_fingerprint": """
            WITH ok AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
              FROM documents
              WHERE length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) >= 16),
            pg AS (
              SELECT doc_id, t, length(t) - 15 AS n,
                     unnest(range(0, length(t) - 15)) AS pos
              FROM ok),
            grams AS (
              SELECT doc_id, n, pos,
                     ('0x' || substr(md5(substr(t, pos + 1, 16)), 1, 15))::BIGINT AS h
              FROM pg),
            wins AS (
              SELECT doc_id, n, pos,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
              FROM grams),
            sel AS (
              SELECT DISTINCT doc_id, fp FROM wins
              WHERE pos < greatest(n - 7, 1))
            SELECT doc_id, count(*) AS n_fp, bit_xor(fp) AS fp_xor
            FROM sel GROUP BY doc_id ORDER BY doc_id
        """,
        "winnow_pairs": """
            WITH ok AS (
              SELECT doc_id,
                     regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS t
              FROM documents
              WHERE length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) >= 16),
            pg AS (
              SELECT doc_id, t, length(t) - 15 AS n,
                     unnest(range(0, length(t) - 15)) AS pos
              FROM ok),
            grams AS (
              SELECT doc_id, n, pos,
                     ('0x' || substr(md5(substr(t, pos + 1, 16)), 1, 15))::BIGINT AS h
              FROM pg),
            wins AS (
              SELECT doc_id, n, pos,
                     min(h) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp
              FROM grams),
            sel AS (
              SELECT DISTINCT doc_id AS doc, fp FROM wins
              WHERE pos < greatest(n - 7, 1)),
            keep AS (SELECT fp FROM sel GROUP BY fp HAVING count(*) <= 50),
            kept AS (SELECT sel.* FROM sel JOIN keep USING (fp))
            SELECT a.doc AS doc_a, b.doc AS doc_b, count(*) AS n_shared
            FROM kept a JOIN kept b USING (fp)
            WHERE a.doc < b.doc
            GROUP BY 1, 2
            HAVING count(*) >= 8
            ORDER BY doc_a, doc_b
        """,
        "training_pipeline": f"""
            WITH scored AS (
              SELECT doc_id, text, lang,
                     round(0.4 * least(length(text)::double / 400.0, 1.0)
                         + 0.4 * (len(list_distinct(string_split(text, ' ')))::double
                                  / len(string_split(text, ' ')))
                         + 0.2 * (1 - length(regexp_replace(text, '[a-zA-Z ]', '', 'g'))::double
                                  / greatest(length(text), 1)), 4) AS quality
              FROM documents),
            filt AS (SELECT * FROM scored WHERE quality >= 0.5),
            reps AS (SELECT min(doc_id) AS doc_id FROM filt GROUP BY md5(text)),
            kept AS (SELECT f.* FROM filt f JOIN reps r ON f.doc_id = r.doc_id),
            pred AS (
              SELECT doc_id, text, lang, quality,
                     CASE
                       WHEN {lang_score('en')} >= {lang_score('es')}
                            AND {lang_score('en')} >= {lang_score('de')}
                            AND {lang_score('en')} >= {lang_score('fr')} THEN 'en'
                       WHEN {lang_score('es')} >= {lang_score('de')}
                            AND {lang_score('es')} >= {lang_score('fr')} THEN 'es'
                       WHEN {lang_score('de')} >= {lang_score('fr')} THEN 'de'
                       ELSE 'fr'
                     END AS predicted_lang
              FROM kept)
            SELECT lang,
                   count(*) AS n_docs,
                   cast(sum(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END)
                     AS bigint) AS n_pred_match,
                   cast(sum(len(string_split(text, ' '))) AS bigint)
                     AS total_ws_tokens,
                   round(avg(quality), 4) AS mean_quality
            FROM pred GROUP BY 1 ORDER BY 1
        """,
        "gopher_repetition": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents),
            base AS (
              SELECT doc_id, cast(len(w) AS bigint) AS n_words,
                     round(1.0 - len(list_distinct(w))::double / len(w), 4)
                       AS dup_word_frac
              FROM w),
            bg0 AS (SELECT doc_id, unnest(list_transform(
                      range(1, greatest(len(w) - 1, 0) + 1),
                      i -> array_to_string(list_slice(w, i, i + 1), ' ')))
                      AS g FROM w),
            bgc AS (SELECT doc_id, g, count(*) AS c FROM bg0 GROUP BY 1, 2),
            bg AS (SELECT doc_id,
                          round(max(c)::double / sum(c), 4)
                            AS top_bigram_frac
                   FROM bgc GROUP BY 1),
            tg0 AS (SELECT doc_id, unnest(list_transform(
                      range(1, greatest(len(w) - 2, 0) + 1),
                      i -> array_to_string(list_slice(w, i, i + 2), ' ')))
                      AS g FROM w),
            tgc AS (SELECT doc_id, g, count(*) AS c FROM tg0 GROUP BY 1, 2),
            tg AS (SELECT doc_id,
                          round(max(c)::double / sum(c), 4)
                            AS top_trigram_frac
                   FROM tgc GROUP BY 1)
            SELECT b.doc_id, n_words, dup_word_frac,
                   coalesce(top_bigram_frac, 0.0) AS top_bigram_frac,
                   coalesce(top_trigram_frac, 0.0) AS top_trigram_frac,
                   CASE WHEN dup_word_frac <= 0.80
                         AND coalesce(top_bigram_frac, 0.0) <= 0.20
                         AND coalesce(top_trigram_frac, 0.0) <= 0.18
                        THEN 1 ELSE 0 END AS keep_flag
            FROM base b
            LEFT JOIN bg USING (doc_id)
            LEFT JOIN tg USING (doc_id)
            ORDER BY doc_id
        """,
        "stratified_sample": """
            WITH b AS (
              SELECT doc_id, lang,
                     ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 15))
                       ::bigint % 10000 AS bucket
              FROM documents)
            SELECT doc_id, lang, bucket FROM b
            WHERE bucket < CASE lang
              WHEN 'de' THEN 2000 WHEN 'en' THEN 5000 WHEN 'es' THEN 2500
              WHEN 'fr' THEN 1000 WHEN 'zh' THEN 500 ELSE 0 END
            ORDER BY doc_id
        """,
        "decontaminate": """
            WITH sh AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                range(1, greatest(len(string_split(text, ' ')) - 7, 0) + 1),
                i -> array_to_string(
                  list_slice(string_split(text, ' '), i, i + 7), ' '))))
                AS g
              FROM documents),
            bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 37 = 0)
            SELECT doc_id, count(*) AS n_hits
            FROM sh JOIN bench USING (g)
            WHERE doc_id % 37 <> 0
            GROUP BY 1 ORDER BY 1
        """,
        "embedding_topk": """
            WITH n AS (
              SELECT vec_id, embedding::double[] AS e,
                     sqrt(list_inner_product(embedding::double[],
                                             embedding::double[])) AS nrm
              FROM embeddings),
            q AS (SELECT vec_id AS query_id, e AS qe, nrm AS qn
                  FROM n WHERE vec_id < 8),
            s AS (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                     round(list_inner_product(q.qe, c.e) / (q.qn * c.nrm), 6)
                       AS cosine
              FROM q JOIN n c ON c.vec_id != q.query_id)
            SELECT query_id, neighbor_id,
                   cast(row_number() OVER (
                     PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS int) AS rank,
                   cosine
            FROM s QUALIFY rank <= 5
            ORDER BY query_id, rank
        """,
        "embedding_near_dup": _embedding_near_dup_sql(threshold=0.4,
                                                      n_planes=8, dim=64),
        "event_hourly_agg": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
                   event_type, count(*) AS n,
                   cast(sum(cast(floor(value * 100) AS bigint)) AS bigint)
                     AS value_cents
            FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """,
        "interleaved_spans": """
            SELECT doc_id,
                   array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ')
                     AS body,
                   cast(least(len(string_split(text, ' ')), 6) + 1 AS bigint)
                     AS n_spans,
                   cast(1 AS bigint) AS n_images
            FROM documents ORDER BY doc_id
        """,
        "multimodal_features": """
            WITH m AS (
              SELECT cast(doc_id AS varchar) AS doc_id,
                     source || '/' || cast(doc_id AS varchar) || '.jpg' AS media_ref
              FROM documents),
            d AS (SELECT doc_id, media_ref,
                         sha256(sha256(media_ref)) AS content_sha256
                  FROM m)
            SELECT doc_id, media_ref,
                   'image' AS media_type,
                   cast(64 AS bigint) AS n_bytes,
                   content_sha256,
                   cast(64 + ('0x' || substr(content_sha256, 1, 2))::int % 192 AS int)
                     AS width,
                   cast(64 + ('0x' || substr(content_sha256, 3, 2))::int % 192 AS int)
                     AS height,
                   cast(1 + ('0x' || substr(content_sha256, 5, 2))::int % 4 AS int)
                     AS n_frames
            FROM d ORDER BY doc_id
        """,
        "multimodal_frames": """
            WITH m AS (
              SELECT cast(doc_id AS varchar) AS doc_id,
                     source || '/' || cast(doc_id AS varchar) || '.jpg' AS media_ref
              FROM documents),
            d AS (SELECT doc_id, media_ref,
                         sha256(sha256(media_ref)) AS content_sha256
                  FROM m),
            f AS (SELECT doc_id, media_ref, content_sha256,
                         64 + ('0x' || substr(content_sha256, 1, 2))::int % 192
                           AS width,
                         64 + ('0x' || substr(content_sha256, 3, 2))::int % 192
                           AS height,
                         1 + ('0x' || substr(content_sha256, 5, 2))::int % 4
                           AS n_frames
                  FROM d),
            fr AS (
              SELECT DISTINCT doc_id, media_ref, content_sha256,
                     width, height,
                     cast((j * n_frames) // 2 AS int) AS frame_idx
              FROM f CROSS JOIN range(0, 2) t(j))
            SELECT doc_id, media_ref, frame_idx,
                   sha256(content_sha256 || ':' || cast(frame_idx AS varchar))
                     AS frame_sha256,
                   cast((width * 224) // greatest(width, height) AS int)
                     AS out_width,
                   cast((height * 224) // greatest(width, height) AS int)
                     AS out_height
            FROM fr ORDER BY doc_id, frame_idx
        """,
        "ccnet_perplexity": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            feats AS (
              SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 15))::bigint % 8192 AS b
              FROM (SELECT doc_id, unnest(w) AS g FROM toks)),
            tc AS (
              SELECT b, count(*) AS ct FROM feats
              WHERE doc_id % 23 = 0 GROUP BY b),
            ttot AS (SELECT sum(ct) AS tt FROM tc),
            nlp AS (
              SELECT f.b,
                     round(-ln((coalesce(tc.ct, 0) + 1.0)
                               / (ttot.tt + 8192.0)) * 1e6, 0)::bigint
                       AS nlpm
              FROM (SELECT DISTINCT b FROM feats) f
              LEFT JOIN tc USING (b), ttot),
            dc AS (
              SELECT doc_id, b, count(*) AS c FROM feats
              WHERE doc_id % 23 <> 0 GROUP BY 1, 2),
            ce AS (
              SELECT doc_id,
                     round(cast(sum(c * nlpm) AS double)
                           / cast(sum(c) AS double), 0)::bigint AS ce_micro
              FROM dc JOIN nlp USING (b) GROUP BY 1),
            sample AS (
              SELECT ce_micro,
                     ntile(3) OVER (ORDER BY ce_micro, doc_id) AS tile
              FROM ce
              WHERE ('0x' || substr(md5(cast(doc_id AS varchar)), 1, 15))
                      ::bigint % 10000 < 1000),
            cuts AS (
              SELECT max(CASE WHEN tile = 1 THEN ce_micro END) AS cut1,
                     max(CASE WHEN tile <= 2 THEN ce_micro END) AS cut2
              FROM sample)
            SELECT doc_id, ce_micro,
                   CASE WHEN ce_micro <= cut1 THEN 'head'
                        WHEN ce_micro <= cut2 THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM ce, cuts
            ORDER BY doc_id
        """,
        "dsir_weights": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents),
            grams AS (
              SELECT doc_id, unnest(
                w || list_transform(
                  range(1, greatest(len(w) - 1, 0) + 1),
                  i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS g
              FROM toks),
            feats AS (
              SELECT doc_id,
                     ('0x' || substr(md5(g), 1, 15))::bigint % 8192 AS b
              FROM grams),
            bc AS (
              SELECT b,
                     sum(CASE WHEN doc_id % 23 = 0 THEN 1 ELSE 0 END) AS ct,
                     sum(CASE WHEN doc_id % 23 <> 0 THEN 1 ELSE 0 END) AS cr
              FROM feats GROUP BY b),
            tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM bc),
            lr AS (
              SELECT b,
                     round(ln(((ct + 1.0) / (cr + 1.0))
                              * ((tr + 8192.0) / (tt + 8192.0))) * 1e6,
                           0)::bigint AS lrm
              FROM bc, tot),
            dc AS (
              SELECT doc_id, b, count(*) AS c FROM feats
              WHERE doc_id % 23 <> 0 GROUP BY 1, 2),
            wt AS (
              SELECT doc_id, cast(sum(c * lrm) AS bigint) AS weight_micro
              FROM dc JOIN lr USING (b) GROUP BY 1)
            SELECT doc_id, weight_micro,
                   cast(row_number() OVER (
                     ORDER BY weight_micro DESC, doc_id) AS int) AS rank
            FROM wt QUALIFY rank <= 50
            ORDER BY rank
        """,
        "sequence_pack": """
            WITH toks AS (
              SELECT doc_id, lang AS stream,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
              FROM documents
            ),
            c AS (
              SELECT doc_id, stream, n_tokens,
                     SUM(n_tokens) OVER (PARTITION BY stream ORDER BY doc_id
                                         ROWS UNBOUNDED PRECEDING)
                       - n_tokens AS s
              FROM toks
            )
            SELECT doc_id, stream, n_tokens,
                   CAST(s // 2048 AS BIGINT) AS start_pack,
                   CAST(s % 2048 AS BIGINT) AS pack_offset,
                   CAST((s + n_tokens - 1) // 2048 AS BIGINT) AS end_pack
            FROM c ORDER BY stream, doc_id
        """,
        "host_pagerank": pagerank_sql(
            _PAGERANK_EDGES_SQL, n_iter=4, damping_pct=85
        ),
        "budget_allocation": budget_sql(
            _PAGERANK_EDGES_SQL, total_budget=10_000, min_per_host=2
        ),
        "revisit_schedule": revisit_sql(
            "SELECT 'u' || CAST(user_id % 300 AS VARCHAR) AS url,"
            " epoch(ts) AS ts, event_id AS seq,"
            " CAST(FLOOR(value) AS BIGINT) % 5 AS sig FROM events",
            min_interval=3600.0,
            max_interval=7 * 86400.0,
        ),
        # Crawl-lifecycle oracles: the reference-semantics simulator's
        # outputs (written by crawler_spark.oracle_crawl.ensure_sim_outputs
        # — the Spark-side query callables write them before returning, so
        # the files exist whenever these run).
        "crawl_docs": f"""
            SELECT doc_id, title, abstract, category1, category2, pub_time,
                   request_url, response_url, website_id, language_id, html
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_docs.parquet')
            ORDER BY doc_id
        """,
        "crawl_spans": f"""
            SELECT doc_id, "offset", kind, text, media_ref
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_spans.parquet')
            ORDER BY doc_id, "offset"
        """,
        "crawl_log": f"""
            SELECT rank, batch_id, url, host, method, body, attempt, ua
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_log.parquet')
            ORDER BY rank
        """,
        "crawl_metrics": f"""
            SELECT batch_id, host, scheduled, deduped, fetched, bytes,
                   max_depth
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_metrics.parquet')
            ORDER BY batch_id, host
        """,
        "crawl_categories": f"""
            SELECT category1, category2, count(*) AS n_docs
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_docs.parquet')
            GROUP BY category1, category2
            ORDER BY category1, category2
        """,
        "crawl_prioritized_log": f"""
            SELECT rank, batch_id, url, host, method, body, attempt, ua
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_prioritized_log.parquet')
            ORDER BY rank
        """,
        "crawl_trap_guard_log": f"""
            SELECT rank, batch_id, url, host, method, body, attempt, ua
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_trap_guard_log.parquet')
            ORDER BY rank
        """,
        "crawl_recrawl_log": f"""
            SELECT rank, batch_id, url, host, method, body, attempt, ua
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_recrawl_log.parquet')
            ORDER BY rank
        """,
        "crawl_url_filter_log": f"""
            SELECT rank, batch_id, url, host, method, body, attempt, ua
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_url_filter_log.parquet')
            ORDER BY rank
        """,
        "crawl_recrawl_docs": f"""
            SELECT doc_id, title, abstract, category1, category2, pub_time,
                   request_url, response_url, website_id, language_id, html
            FROM read_parquet('{_SIM_ORACLE_DIR}/sim_recrawl_docs.parquet')
            ORDER BY doc_id
        """,
    }


# ---------------------------------------------------------------------------
# Driver-facing composites (round 5)
#
# The driver's correctness gate runs only the FIRST 50 ``queries()``
# entries; rounds 1-4 grew the dict to 66 and the 16 most architecturally
# important rows (every crawl_* lifecycle gate, interleaved_spans,
# multimodal_*, host_pagerank, budget_allocation, revisit_schedule) slid
# past the cap and never appeared in any CORRECTNESS_r*.json.  Fix
# (VERDICT r4 "Next round" #1): repackage the 66 capabilities into 49
# rows, lifecycle first.  Same-grain queries are unioned with a
# discriminator column (no NULLs — sentinel values keep the value-hash
# deterministic across the Spark/DuckDB pandas paths) or joined into one
# wide row per key.  Every composite's oracle is the identical
# union/join of the individual oracles, so no capability loses its
# value-level check.  The individual entries stay runnable via
# ``queries_all()`` (bench.py keys BENCH/BASELINE.md rows off the
# original names; tests/tools verify both layers).
# ---------------------------------------------------------------------------

def _wrap(sql: str) -> str:
    return f"(\n{sql}\n)"


def q_report_all(spark, sf_dir):
    """J1+A1+A2+A3 in one row set: the daily and cumulative baogao.py
    report sections plus the grand-totals line, discriminated by
    ``section``.  Sentinels (''/-1) instead of NULLs keep hashing exact."""
    d = q_report_daily(spark, sf_dir).select(
        F.lit("daily").alias("section"), "nation", "region", "num",
        F.lit(-1).cast("long").alias("distinct_customers"), "total_cents")
    c = q_report_cumulative(spark, sf_dir).select(
        F.lit("cumulative").alias("section"), "nation", "region", "num",
        F.lit(-1).cast("long").alias("distinct_customers"), "total_cents")
    t = q_report_totals(spark, sf_dir).select(
        F.lit("totals").alias("section"),
        F.lit("").alias("nation"), F.lit("").alias("region"),
        F.col("total_orders").alias("num"),
        "distinct_customers", "total_cents")
    return d.unionByName(c).unionByName(t)


def q_date_functions(spark, sf_dir):
    """F1-F4: fuzzy date parse and format_time3 round-trip, one row set."""
    fz = q_fuzzy_date_parse(spark, sf_dir).select(
        F.lit("fuzzy").alias("kind"), "event_id",
        F.col("raw").alias("input"), F.col("parsed").alias("output"))
    f3 = q_format_time3(spark, sf_dir).select(
        F.lit("format_time3").alias("kind"), "event_id",
        F.col("epoch").cast("string").alias("input"),
        F.col("roundtrip").alias("output"))
    return fz.unionByName(f3)


def q_similarity_methods(spark, sf_dir):
    """ANN top-k by all three methods (brute-force cosine, sign-LSH
    multiprobe, IVF nprobe) in one row set, discriminated by ``method``."""
    parts = [
        q_embedding_topk(spark, sf_dir).select(
            F.lit("brute").alias("method"), "query_id", "neighbor_id",
            "rank", "cosine"),
        q_similarity_lsh(spark, sf_dir).select(
            F.lit("lsh").alias("method"), "query_id", "neighbor_id",
            "rank", "cosine"),
        q_similarity_ivf(spark, sf_dir).select(
            F.lit("ivf").alias("method"), "query_id", "neighbor_id",
            "rank", "cosine"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_text_metrics(spark, sf_dir):
    """Token stats + n-gram lang-id + quality score joined into one wide
    row per document (all three are per-doc over ``documents``)."""
    ts = q_token_stats(spark, sf_dir)
    li = q_lang_id(spark, sf_dir)
    qs = q_quality_score(spark, sf_dir)
    return ts.join(li, "doc_id").join(qs, "doc_id").orderBy("doc_id")


def q_dedup_pairs(spark, sf_dir):
    """All five pair-generating near-dup detectors in one row set:
    n-gram Jaccard, MinHash+LSH, SimHash, winnowing, embedding sign-LSH.
    ``score`` carries each method's native statistic cast to double."""
    parts = [
        q_ngram_jaccard(spark, sf_dir).select(
            F.lit("ngram_jaccard").alias("method"), "doc_a", "doc_b",
            F.col("jaccard").cast("double").alias("score")),
        q_minhash_lsh(spark, sf_dir).select(
            F.lit("minhash_lsh").alias("method"), "doc_a", "doc_b",
            F.col("jaccard").cast("double").alias("score")),
        q_simhash_pairs(spark, sf_dir).select(
            F.lit("simhash").alias("method"), "doc_a", "doc_b",
            F.col("hamming").cast("double").alias("score")),
        q_winnow_pairs(spark, sf_dir).select(
            F.lit("winnow").alias("method"), "doc_a", "doc_b",
            F.col("n_shared").cast("double").alias("score")),
        q_embedding_near_dup(spark, sf_dir).select(
            F.lit("embedding").alias("method"),
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
            F.col("cosine").cast("double").alias("score")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def q_bm25_all(spark, sf_dir):
    """BM25 index rows + query-time search ranking in one row set."""
    ix = q_bm25_index(spark, sf_dir).select(
        F.lit("index").alias("stage"), "doc_id", "term", "tf", "df",
        "score", "rank")
    se = q_bm25_search(spark, sf_dir).select(
        F.lit("search").alias("stage"), "doc_id",
        F.lit("").alias("term"), F.lit(-1).cast("long").alias("tf"),
        F.lit(-1).cast("long").alias("df"), "score", "rank")
    return ix.unionByName(se)


def q_url_seen(spark, sf_dir):
    """D1 both tiers: sharded-bloom+exact anti-join AND the cuckoo tier,
    one row set discriminated by ``method`` (results must be identical
    sets — the union doubles as a cross-check)."""
    aj = q_url_seen_antijoin(spark, sf_dir).select(
        F.lit("antijoin").alias("method"), "url", "dont_filter")
    ck = q_url_seen_cuckoo(spark, sf_dir).select(
        F.lit("cuckoo").alias("method"), "url", "dont_filter")
    return aj.unionByName(ck)


def q_multimodal_all(spark, sf_dir):
    """Media feature extraction + frame sampling in one row set
    (sentinels ''/-1 in the slots the other branch owns)."""
    fe = q_multimodal_features(spark, sf_dir).select(
        F.lit("features").alias("kind"), "doc_id", "media_ref",
        "media_type", "n_bytes", "content_sha256", "width", "height",
        "n_frames",
        F.lit(-1).cast("int").alias("frame_idx"),
        F.lit("").alias("frame_sha256"),
        F.lit(-1).cast("int").alias("out_width"),
        F.lit(-1).cast("int").alias("out_height"))
    fr = q_multimodal_frames(spark, sf_dir).select(
        F.lit("frames").alias("kind"), "doc_id", "media_ref",
        F.lit("").alias("media_type"),
        F.lit(-1).cast("long").alias("n_bytes"),
        F.lit("").alias("content_sha256"),
        F.lit(-1).cast("int").alias("width"),
        F.lit(-1).cast("int").alias("height"),
        F.lit(-1).cast("int").alias("n_frames"),
        "frame_idx", "frame_sha256", "out_width", "out_height")
    return fe.unionByName(fr)


def q_doc_quality(spark, sf_dir):
    """Gopher repetition signals + PII redaction + fastText-style quality
    classifier joined into one wide curation row per document."""
    go = q_gopher_repetition(spark, sf_dir)
    pi = q_pii_redact(spark, sf_dir)
    ft = q_fasttext_quality(spark, sf_dir)
    return go.join(pi, "doc_id").join(ft, "doc_id").orderBy("doc_id")


def q_authority_budget(spark, sf_dir):
    """Host PageRank authority joined with the apportioned crawl budget
    it drives (one row per host)."""
    pr = q_host_pagerank(spark, sf_dir)
    bu = q_budget_allocation(spark, sf_dir)
    return pr.join(bu, "host").orderBy("host")


_COMPOSITES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "report_all": q_report_all,
    "date_functions": q_date_functions,
    "similarity_methods": q_similarity_methods,
    "text_metrics": q_text_metrics,
    "dedup_pairs": q_dedup_pairs,
    "bm25_all": q_bm25_all,
    "url_seen": q_url_seen,
    "multimodal_all": q_multimodal_all,
    "doc_quality": q_doc_quality,
    "authority_budget": q_authority_budget,
}

# Which individual capabilities each composite row carries (coverage
# accounting for tests + SURVEY; every base entry must be reachable from
# the driver-facing dict through exactly one of these or directly).
COMPOSITE_COVERS: dict[str, tuple[str, ...]] = {
    "report_all": ("report_daily", "report_cumulative", "report_totals"),
    "date_functions": ("fuzzy_date_parse", "format_time3"),
    "similarity_methods": ("embedding_topk", "similarity_lsh",
                           "similarity_ivf"),
    "text_metrics": ("token_stats", "lang_id", "quality_score"),
    "dedup_pairs": ("ngram_jaccard", "minhash_lsh", "simhash_pairs",
                    "winnow_pairs", "embedding_near_dup"),
    "bm25_all": ("bm25_index", "bm25_search"),
    "url_seen": ("url_seen_antijoin", "url_seen_cuckoo"),
    "multimodal_all": ("multimodal_features", "multimodal_frames"),
    "doc_quality": ("gopher_repetition", "pii_redact", "fasttext_quality"),
    "authority_budget": ("host_pagerank", "budget_allocation"),
}

# Driver-facing order: the ten crawl_* lifecycle gates FIRST (the
# engine-vs-simulator parity rows that prove the crawler), then the
# remaining engine rows, then operators.  49 entries — inside the
# driver's 50-row cap with one slot of headroom.
DRIVER_ORDER: tuple[str, ...] = (
    "crawl_log",
    "crawl_docs",
    "crawl_spans",
    "crawl_metrics",
    "crawl_categories",
    "crawl_prioritized_log",
    "crawl_trap_guard_log",
    "crawl_url_filter_log",
    "crawl_recrawl_log",
    "crawl_recrawl_docs",
    "interleaved_spans",
    "multimodal_all",
    "authority_budget",
    "revisit_schedule",
    "report_all",
    "url_canonicalize",
    "trap_detection",
    "url_seen",
    "frontier_dedup",
    "politeness_admission",
    "robots_filter",
    "fetch_schedule",
    "autothrottle_delay",
    "priority_score",
    "event_sessionize",
    "time_cutoff",
    "url_dispatch",
    "date_functions",
    "exact_dedup",
    "substring_dedup",
    "bm25_all",
    "dedup_pairs",
    "dedup_clusters",
    "text_metrics",
    "fingerprint",
    "winnow_fingerprint",
    "training_pipeline",
    "doc_quality",
    "stratified_sample",
    "decontaminate",
    "sequence_pack",
    "dsir_weights",
    "ccnet_perplexity",
    "similarity_methods",
    "semdedup",
    "paragraph_dedup",
    "url_quality",
    "hll_count",
    "event_hourly_agg",
)


def queries_all() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every runnable entry: the 66 individual capabilities plus the 10
    driver-facing composites.  bench.py and the local oracle harnesses
    iterate this so BENCH/BASELINE.md row names stay stable and both
    layers stay verified."""
    d = _queries_base()
    d.update(_COMPOSITES)
    return d


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-facing dict: 49 rows covering all 66 capabilities,
    crawl-lifecycle rows first (the driver's gate runs the first 50)."""
    allq = queries_all()
    return {k: allq[k] for k in DRIVER_ORDER}


def _oracle_sql_composites(base: dict[str, str]) -> dict[str, str]:
    """DuckDB oracles for the composites: the identical unions/joins of
    the individual oracles, sentinel-for-sentinel."""
    w = {k: _wrap(v) for k, v in base.items()}
    return {
        "report_all": f"""
            SELECT 'daily' AS section, nation, region, num,
                   CAST(-1 AS BIGINT) AS distinct_customers, total_cents
            FROM {w['report_daily']} _d
            UNION ALL
            SELECT 'cumulative' AS section, nation, region, num,
                   CAST(-1 AS BIGINT) AS distinct_customers, total_cents
            FROM {w['report_cumulative']} _c
            UNION ALL
            SELECT 'totals' AS section, '' AS nation, '' AS region,
                   total_orders AS num, distinct_customers, total_cents
            FROM {w['report_totals']} _t
        """,
        "date_functions": f"""
            SELECT 'fuzzy' AS kind, event_id, raw AS input,
                   parsed AS output
            FROM {w['fuzzy_date_parse']} _f
            UNION ALL
            SELECT 'format_time3' AS kind, event_id,
                   CAST(epoch AS VARCHAR) AS input, roundtrip AS output
            FROM {w['format_time3']} _g
        """,
        "similarity_methods": f"""
            SELECT 'brute' AS method, query_id, neighbor_id, rank, cosine
            FROM {w['embedding_topk']} _b
            UNION ALL
            SELECT 'lsh' AS method, query_id, neighbor_id, rank, cosine
            FROM {w['similarity_lsh']} _l
            UNION ALL
            SELECT 'ivf' AS method, query_id, neighbor_id, rank, cosine
            FROM {w['similarity_ivf']} _i
        """,
        "text_metrics": f"""
            SELECT t.doc_id, t.n_ws_tokens, t.n_re_tokens, t.n_chars_calc,
                   t.avg_wlen, l.en_score, l.es_score, l.de_score,
                   l.fr_score, l.predicted_lang, q.quality
            FROM {w['token_stats']} t
            JOIN {w['lang_id']} l ON t.doc_id = l.doc_id
            JOIN {w['quality_score']} q ON t.doc_id = q.doc_id
            ORDER BY t.doc_id
        """,
        "dedup_pairs": f"""
            SELECT 'ngram_jaccard' AS method, doc_a, doc_b,
                   CAST(jaccard AS DOUBLE) AS score
            FROM {w['ngram_jaccard']} _n
            UNION ALL
            SELECT 'minhash_lsh' AS method, doc_a, doc_b,
                   CAST(jaccard AS DOUBLE) AS score
            FROM {w['minhash_lsh']} _m
            UNION ALL
            SELECT 'simhash' AS method, doc_a, doc_b,
                   CAST(hamming AS DOUBLE) AS score
            FROM {w['simhash_pairs']} _s
            UNION ALL
            SELECT 'winnow' AS method, doc_a, doc_b,
                   CAST(n_shared AS DOUBLE) AS score
            FROM {w['winnow_pairs']} _w
            UNION ALL
            SELECT 'embedding' AS method, id_a AS doc_a, id_b AS doc_b,
                   CAST(cosine AS DOUBLE) AS score
            FROM {w['embedding_near_dup']} _e
        """,
        "bm25_all": f"""
            SELECT 'index' AS stage, doc_id, term, tf, df, score, rank
            FROM {w['bm25_index']} _i
            UNION ALL
            SELECT 'search' AS stage, doc_id, '' AS term,
                   CAST(-1 AS BIGINT) AS tf, CAST(-1 AS BIGINT) AS df,
                   score, rank
            FROM {w['bm25_search']} _s
        """,
        "url_seen": f"""
            SELECT 'antijoin' AS method, url, dont_filter
            FROM {w['url_seen_antijoin']} _a
            UNION ALL
            SELECT 'cuckoo' AS method, url, dont_filter
            FROM {w['url_seen_cuckoo']} _c
        """,
        "multimodal_all": f"""
            SELECT 'features' AS kind, doc_id, media_ref, media_type,
                   n_bytes, content_sha256, width, height, n_frames,
                   CAST(-1 AS INTEGER) AS frame_idx, '' AS frame_sha256,
                   CAST(-1 AS INTEGER) AS out_width,
                   CAST(-1 AS INTEGER) AS out_height
            FROM {w['multimodal_features']} _f
            UNION ALL
            SELECT 'frames' AS kind, doc_id, media_ref, '' AS media_type,
                   CAST(-1 AS BIGINT) AS n_bytes, '' AS content_sha256,
                   CAST(-1 AS INTEGER) AS width,
                   CAST(-1 AS INTEGER) AS height,
                   CAST(-1 AS INTEGER) AS n_frames,
                   frame_idx, frame_sha256, out_width, out_height
            FROM {w['multimodal_frames']} _r
        """,
        "doc_quality": f"""
            SELECT g.doc_id, g.n_words, g.dup_word_frac, g.top_bigram_frac,
                   g.top_trigram_frac, g.keep_flag, p.n_emails, p.n_phones,
                   p.n_ips, p.text_redacted, f.n_feats, f.score_micro,
                   f.quality_prob, f.keep
            FROM {w['gopher_repetition']} g
            JOIN {w['pii_redact']} p ON g.doc_id = p.doc_id
            JOIN {w['fasttext_quality']} f ON g.doc_id = f.doc_id
            ORDER BY g.doc_id
        """,
        "authority_budget": f"""
            SELECT pr.host, pr.rank_micro, pr.rank, bu.budget
            FROM {w['host_pagerank']} pr
            JOIN {w['budget_allocation']} bu ON pr.host = bu.host
            ORDER BY pr.host
        """,
    }


def oracle_sql_all() -> dict[str, str]:
    """Oracles for every entry in :func:`queries_all` (individual +
    composite).  Entries absent here (the crawl_* rows ride on the
    simulator-parquet oracles in the base dict) keep their base oracle."""
    base = _oracle_sql_base()
    out = dict(base)
    out.update(_oracle_sql_composites(base))
    return out


def oracle_sql() -> dict[str, str]:
    """Driver-facing oracles, keyed to match :func:`queries`."""
    allo = oracle_sql_all()
    return {k: allo[k] for k in DRIVER_ORDER if k in allo}
