"""Benchmark harness.

Runs (a) the frontier-throughput microbenchmark — the BASELINE.json metric:
URLs canonicalized + hashed + deduped (intra-batch window, exact anti-join
vs a seen set) + politeness-admitted per second — and (b) the headline
queries from ``__spark_entry__`` at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``.

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "frontier": {...}, "crawl": {...}}

Every query is forced through the noop sink (full computation, no result
transfer) so Catalyst cannot prune the measured work away.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from crawler_spark.functions.urlnorm import canonicalize_col, host_of
from crawler_spark.operators.dedup import intra_batch_dedup
from crawler_spark.operators.politeness import admit_per_host
from crawler_spark.session import get_spark

BENCH_QUERIES = [
    "report_daily",
    "report_cumulative",
    "report_totals",
    "url_canonicalize",
    "url_seen_antijoin",
    "url_seen_cuckoo",
    "frontier_dedup",
    "politeness_admission",
    "robots_filter",
    "fetch_schedule",
    "autothrottle_delay",
    "priority_score",
    "event_sessionize",
    "time_cutoff",
    "url_dispatch",
    "fuzzy_date_parse",
    "format_time3",
    "exact_dedup",
    "substring_dedup",
    "bm25_index",
    "bm25_search",
    "ngram_jaccard",
    "dedup_clusters",
    "minhash_lsh",
    "simhash_pairs",
    "token_stats",
    "lang_id",
    "quality_score",
    "fingerprint",
    "winnow_fingerprint",
    "winnow_pairs",
    "training_pipeline",
    "gopher_repetition",
    "stratified_sample",
    "decontaminate",
    "embedding_topk",
    "embedding_near_dup",
    "similarity_lsh",
    "similarity_ivf",
    "event_hourly_agg",
    "interleaved_spans",
    "multimodal_features",
    "multimodal_frames",
    "host_pagerank",
    "budget_allocation",
    "revisit_schedule",
    "sequence_pack",
    "dsir_weights",
    "ccnet_perplexity",
    "trap_detection",
    "semdedup",
    "paragraph_dedup",
    "url_quality",
    "pii_redact",
    "fasttext_quality",
    "hll_count",
]
# The five crawl_* queries are deliberately absent: each is a projection of
# the same fixture crawl the `crawl` section below times end-to-end.


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def frontier_throughput(spark, sf_dir: str, mult: int = 1) -> dict:
    """The defining pipeline at scale: candidate URLs from lineitem
    (~6M/sf × mult), seen set from orders — canonicalize → hash →
    intra-batch dedup → exact anti-join → per-host politeness admission.

    ``mult`` replicates the candidate set with distinct URLs so the
    scaling harness can measure a compute-bound workload (at mult=1 and
    sf0.1 the pipeline finishes in seconds and fixed job overhead
    dominates, which under-reports scaling efficiency)."""
    # The fixture files are single-row-group (unsplittable) — fan out
    # BEFORE the expensive canonicalize/hash map or it runs in one task.
    par = spark.sparkContext.defaultParallelism * 4
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).repartition(par)
    if mult > 1:
        li = li.withColumn("rep", F.explode(F.expr(f"sequence(0, {mult - 1})")))
    else:
        li = li.withColumn("rep", F.lit(0))

    raw = F.concat(
        F.lit("HTTP://Site"), F.pmod(F.col("l_suppkey"), F.lit(400)).cast("string"),
        F.lit(".Example.COM/item/"), F.col("l_orderkey").cast("string"),
        F.lit("_"), F.col("l_linenumber").cast("string"),
        F.lit("_"), F.col("rep").cast("string"), F.lit("#ref"),
    )
    cand = li.select(
        raw.alias("raw_url"),
        F.lpad(
            F.concat(F.col("l_orderkey").cast("string"), F.lit("."),
                     F.col("l_linenumber").cast("string"), F.lit("."),
                     F.col("rep").cast("string")),
            20, "0",
        ).alias("seq"),
        F.lit(0.0).alias("priority"),
        F.lit(False).alias("dont_filter"),
    )
    n_urls = cand.count()

    # Seen set uses the SAME url template as the candidates (rep=0 slice,
    # 80% of orderkeys): the anti-join really drops ~80% of the rep-0
    # candidates instead of never matching (ADVICE r1: a seen set with a
    # different template measured a dedup stage that filtered nothing).
    li0 = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).repartition(
        spark.sparkContext.defaultParallelism
    )
    seen = li0.filter(F.col("l_orderkey") % 5 != 0).select(
        F.concat(
            F.lit("http://site"),
            F.pmod(F.col("l_suppkey"), F.lit(400)).cast("string"),
            F.lit(".example.com/item/"), F.col("l_orderkey").cast("string"),
            F.lit("_"), F.col("l_linenumber").cast("string"), F.lit("_0"),
        ).alias("url")
    )

    def build():
        """Fresh plan per run: AQE memoizes an executed plan, so re-collecting
        the same DataFrame measures nothing."""
        canon = cand.select(
            canonicalize_col(F.col("raw_url")).alias("url"),
            host_of(F.col("raw_url")).alias("host"),
            "seq", "priority", "dont_filter",
        ).withColumn("url_hash", F.xxhash64(F.col("url"))).withColumn(
            "crawl_delay", F.lit(0.2)
        )
        deduped = intra_batch_dedup(canon)
        survivors = deduped.join(seen, on="url", how="left_anti")
        admitted, _deferred = admit_per_host(survivors, batch_seconds=120.0)
        # One action forces the whole pipeline AND yields an order-independent
        # checksum — identical at any parallelism (the determinism evidence).
        return admitted.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "bit_xor(xxhash64(concat_ws('|', url, cast(host_rank as string))))"
            ).alias("checksum"),
        )

    n_runs = int(os.environ.get("SPARK_GRAFT_FRONTIER_RUNS", "3"))
    build().collect()  # warmup: JIT + codegen, discarded
    times, row = [], None
    for _ in range(n_runs):
        agg = build()
        t0 = time.monotonic()
        row = agg.collect()[0]
        times.append(time.monotonic() - t0)
    sec = sorted(times)[len(times) // 2] if n_runs > 1 else times[0]
    return {
        "urls": n_urls,
        "admitted": row.n,
        "checksum": int(row.checksum),
        "sec": round(sec, 3),
        "runs_sec": [round(t, 3) for t in times],
        "urls_per_sec": round(n_urls / sec, 1),
    }


def crawl_bench(spark) -> dict:
    """End-to-end micro-batch crawl over a seeded mock web (fetch mocked,
    everything else real: dedup, politeness, parse, checkpoint)."""
    from crawler_spark.sources.mock_web import (
        AS_OF,
        build_site_graph,
        seeds_df,
        site_graph_df,
    )
    from crawler_spark.streaming.crawl_loop import CrawlEngine

    graph = build_site_graph(n_sites=6, cats_per_site=2, pages_per_cat=3,
                             entries_per_page=6, skew_pages=6, seed=11)
    ckpt = tempfile.mkdtemp(prefix="crawl_bench_")
    try:
        eng = CrawlEngine(
            spark,
            site_graph=site_graph_df(spark, graph),
            registry=graph["registry"],
            seeds=seeds_df(spark, graph),
            cutoff_epoch=graph["cutoff_epoch"],
            as_of=AS_OF,
            checkpoint_dir=ckpt,
            batch_seconds=3.0,
        )
        t0 = time.monotonic()
        res = eng.run()
        n_fetched = res["crawl_log"].count()
        n_docs = res["docs"].count()
        sec = time.monotonic() - t0
        return {
            "fetched": n_fetched,
            "docs": n_docs,
            "batches": res["last_batch"] + 1,
            "sec": round(sec, 3),
            "fetch_per_sec": round(n_fetched / sec, 1),
        }
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def _calibration_stamp() -> dict:
    """(cpu, mem) probe seconds + best-known capacity — the congestion
    regime this bench ran in, stamped into the JSON so the recorded
    artifact carries its own noise evidence (the sandbox VM's neighbor
    interference inflates timings 2-25×; see BENCH/PROTOCOL.md). ~10 s
    overhead; only taken for full-suite runs (the scaling harness gates
    its frontier-only runs itself)."""
    try:
        from tools.bench_scaling import calibrate, load_cal_best

        cpu, mem = calibrate()
        cpu_best, mem_best = load_cal_best()
        return {
            "cpu_s": round(cpu, 2), "mem_s": round(mem, 2),
            "cpu_best_s": round(min(cpu, cpu_best), 2),
            "mem_best_s": round(min(mem, mem_best), 2),
        }
    except Exception as e:  # pragma: no cover - defensive
        # Never silently drop the congestion-evidence stamp the recorded
        # artifact relies on (BENCH/PROTOCOL.md): surface the failure in
        # the JSON and on stderr so a broken probe is visible.
        print(f"calibration stamp failed: {e!r}", file=sys.stderr)
        return {"error": repr(e)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)
    spark = get_spark(
        "crawler_spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    frontier_only = os.environ.get("SPARK_GRAFT_FRONTIER_ONLY") == "1"
    # Default ×10 (6M URLs at sf0.1): at mult=1 the pipeline finishes in
    # ~2 s and per-job fixed overhead (~1-2 s) dominates, under-reporting
    # the frontier's compute-bound throughput by 3-4×. The scaling harness
    # runs ×20; checksums are mult-specific (different candidate
    # sets), so compare like against like.
    mult = int(os.environ.get("SPARK_GRAFT_FRONTIER_MULT", "10"))

    # queries_all(): BENCH_QUERIES names the INDIVIDUAL capabilities so
    # BENCH/BASELINE.md row names stay stable across the round-5
    # repackaging of the driver-facing queries() into composites.
    qs = entrymod.queries_all()
    cal_pre = {} if frontier_only else _calibration_stamp()
    timings: dict[str, float] = {}
    total = 0.0
    if not frontier_only:
        for name in BENCH_QUERIES:
            # Construction is inside the timed window: iterative operators
            # (host_pagerank) materialize supersteps eagerly at build time,
            # and excluding that work would under-report them.
            t0 = time.monotonic()
            force(qs[name](spark, sf_dir))
            dt = time.monotonic() - t0
            timings[name] = round(dt, 3)
            total += dt

    frontier = frontier_throughput(spark, sf_dir, mult=mult)
    total += frontier["sec"]
    crawl = {} if frontier_only else crawl_bench(spark)
    total += crawl.get("sec", 0.0)

    cal_post = {} if frontier_only else _calibration_stamp()
    out = {
        "metric": "headline_suite_plus_frontier_wall_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": int(cpus),
        "frontier": frontier,
        "crawl": crawl,
    }
    if cal_pre or cal_post:
        out["calibration"] = {"pre": cal_pre, "post": cal_post}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
