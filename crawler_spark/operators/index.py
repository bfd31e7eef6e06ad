"""Search-index construction over the crawled corpus: BM25 term
weighting (Robertson/Spärck Jones; the Okapi BM25 of Robertson et al.
TREC-3) — the indexing step a retrieval or data-curation pipeline runs
over crawl output (e.g. building the dedup/retrieval index the reference's
warehouse feeds downstream).

Spark-first shape, three shuffles, all JVM expressions:

1. tokenize once per doc (split), carry doc length, explode to terms,
   partial-agg groupBy (doc, term) -> tf                [shuffle on (doc,term)]
2. document frequency as a window count over the term key (no join —
   the tf relation already holds one row per (doc, term))  [shuffle on term]
   Hot stopword terms make a few partitions heavy at corpus scale; AQE
   skew handling splits them (the per-row work is a constant arithmetic
   expression, so a split partition has no cross-row dependency).
3. corpus stats (N, avgdl) as a one-row aggregate cross-joined in-plan
   (BroadcastNestedLoopJoin over a single row — the same pattern as the
   PageRank dangling-mass term), then the BM25 formula and a per-doc
   top-k window                                          [shuffle on doc]

Cross-engine exactness: every arithmetic step is IEEE +,-,*,/ in the
same order in the Spark expression and the DuckDB oracle; the one libm
call (ln) feeds a round(., 4) taken BEFORE the ordering so rank and
score are both stable across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scored(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The full term-weight relation (doc_id, term, tf, df, score) —
    the index itself; bm25_top_terms and bm25_search are views over it."""
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("ts"),
    ).select("doc_id", F.size("ts").alias("dl"), F.explode("ts").alias("term"))
    tf = base.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    with_df = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    # avgdl needs one dl per doc — aggregate the per-doc lengths, not the
    # exploded rows (a doc's dl repeats once per distinct term).
    doc_lens = tf.select("doc_id", "dl").distinct()
    stats = doc_lens.groupBy().agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
    ).select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    scored = with_df.crossJoin(F.broadcast(stats)).withColumn(
        "score",
        F.round(
            F.log(
                (
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                + F.lit(1.0)
            )
            * (F.col("tf") * F.lit(BM25_K1 + 1.0))
            / (
                F.col("tf")
                + F.lit(BM25_K1)
                * (
                    F.lit(1.0 - BM25_B)
                    + F.lit(BM25_B) * (F.col("dl") / F.col("avgdl"))
                )
            ),
            4,
        ),
    )
    return scored.select("doc_id", "term", "tf", "df", "score")


def bm25_top_terms(
    docs: DataFrame,
    top_n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``top_n`` terms by BM25 weight.

    Returns (doc_id, term, tf, df, score, rank); rank is 1-based by
    rounded score descending, term ascending (deterministic ties).
    """
    scored = bm25_scored(docs, id_col=id_col, text_col=text_col)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def bm25_search(
    docs: DataFrame,
    terms: tuple[str, ...],
    top_n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``top_n`` documents for a bag-of-words query by summed BM25
    weight — the retrieval step over the index bm25_scored builds.

    Scale shape: the term filter is pushed below the index's shuffles
    (Catalyst moves it into the tf aggregation's input), the per-doc
    conditional aggregation is one partial-agg groupBy, and the global
    top-k is TakeOrderedAndProject (per-partition heaps + driver merge of
    k rows, never a global sort). The query side is literal here; a query
    TABLE would broadcast-join instead.

    Cross-engine exactness: per-term weights are rounded upstream; the
    query total sums them via coalesce(+) in the FIXED order of ``terms``
    (floating addition is not associative — a free-order SUM() could
    differ between engines in the last ulp), then rounds once more.
    Ranks tie-break by doc_id ascending.
    """
    scored = bm25_scored(docs, id_col=id_col, text_col=text_col).filter(
        F.col("term").isin(*terms)
    )
    per_term = scored.groupBy("doc_id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("score"))).alias(f"_w{i}")
            for i, t in enumerate(terms)
        ]
    )
    total = F.coalesce(F.col("_w0"), F.lit(0.0))
    for i in range(1, len(terms)):
        total = total + F.coalesce(F.col(f"_w{i}"), F.lit(0.0))
    ranked = (
        per_term.select("doc_id", F.round(total, 4).alias("score"))
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(top_n)
    )
    # Global rank over the top_n-bounded result set — bounded aggregate,
    # not an unpartitioned window (functions/ranking.py).
    from crawler_spark.functions.ranking import bounded_global_rank

    return bounded_global_rank(
        ranked, [(-F.col("score")).alias("_ns"), F.col("doc_id")],
        max_rows=top_n,
    ).select("doc_id", "score", "rank")
