"""Checkpoint commit/compaction invariants beyond the e2e run() coverage:
re-entrant and repeated compact() calls (the ADVICE r1 failure: a second
compact to the same upto_batch selected its own output as the lazy read
base, deleted it, then tried to read it)."""

from crawler_spark.streaming.checkpoint import CrawlCheckpoint


def _commit_batches(spark, ckpt, n):
    for b in range(n):
        df = spark.range(b * 10, b * 10 + 5).toDF("v")
        ckpt.commit(b, {"docs": df}, stats={"docs": 5})


def _values(df):
    return sorted(r.v for r in df.collect())


def test_compact_same_batch_twice(spark, tmp_path):
    ckpt = CrawlCheckpoint(spark, str(tmp_path))
    _commit_batches(spark, ckpt, 3)
    expect = _values(ckpt.read_deltas("docs", 2))

    ckpt.compact(2, names=("docs",))
    # re-entrant call with the SAME upto_batch: must be a no-op, not a
    # read-after-delete crash
    ckpt.compact(2, names=("docs",))
    assert _values(ckpt.read_deltas("docs", 2)) == expect


def test_compact_builds_on_previous_compaction(spark, tmp_path):
    ckpt = CrawlCheckpoint(spark, str(tmp_path))
    _commit_batches(spark, ckpt, 5)
    expect = _values(ckpt.read_deltas("docs", 4))

    ckpt.compact(2, names=("docs",))
    # second compaction lazily READS the first as its base while REPLACING
    # the newest-compaction marker set — the temp-dir swap keeps the old
    # snapshot intact until the new one is fully written
    ckpt.compact(4, names=("docs",))
    assert _values(ckpt.read_deltas("docs", 4)) == expect
    # tail reads after the snapshot still work
    assert _values(ckpt.read_deltas("docs", 3)) is not None


# -- schema from parquet footers ---------------------------------------------
# Every CrawlCheckpoint read passes the schema stored in the part's own
# footer, so it plans without Spark's schema-inference job; the result must
# be exactly what plain inference gives.

def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _same_as_inferred(spark, got, *paths):
    want = spark.read.parquet(*paths)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def _nested_df(spark, lo, hi):
    from pyspark.sql import functions as F

    return spark.range(lo, hi).select(
        F.col("id").alias("v"),
        F.col("id").cast("string").alias("s"),
        F.array(F.struct(F.col("id").cast("int").alias("offset"))).alias("spans"),
        F.lit(True).alias("flag"),
    )


def test_reads_match_inferred_schema(spark, tmp_path):
    import os

    ckpt = CrawlCheckpoint(spark, str(tmp_path))
    for b in range(3):
        ckpt.commit(b, {"docs": _nested_df(spark, b * 10, b * 10 + 5),
                        "frontier": _nested_df(spark, 0, b)}, stats={})
    bdir = ckpt._batch_dir
    _same_as_inferred(spark, ckpt.read_part(2, "frontier"),
                      os.path.join(bdir(2), "frontier"))
    _same_as_inferred(spark, ckpt.read_deltas("docs", 2),
                      *ckpt.delta_paths("docs", 2))
    ckpt.compact(1, names=("docs",))
    paths = ckpt.delta_paths("docs", 2)
    assert paths[0].endswith("compact_docs_00001") and len(paths) == 2
    _same_as_inferred(spark, ckpt.read_deltas("docs", 2), *paths)

    ckpt.append_evictions(spark.createDataFrame(
        [("u1", 1, 0)], "url string, url_hash long, evicted_at_batch long"))
    ckpt.append_evictions(spark.createDataFrame(
        [("u2", 2, 1)], "url string, url_hash long, evicted_at_batch long"))
    root = os.path.join(str(tmp_path), "evictions")
    _same_as_inferred(spark, ckpt.read_evictions(),
                      *sorted(os.path.join(root, d) for d in os.listdir(root)))


def test_empty_part_keeps_its_schema(spark, tmp_path):
    import os

    from crawler_spark.streaming.checkpoint import footer_schema

    ckpt = CrawlCheckpoint(spark, str(tmp_path))
    ckpt.commit(0, {"frontier": _nested_df(spark, 0, 0)}, stats={})
    path = os.path.join(ckpt._batch_dir(0), "frontier")
    assert footer_schema(path) is not None  # an empty write leaves a footer
    assert ckpt.part_rows(0, "frontier") == 0
    _same_as_inferred(spark, ckpt.read_part(0, "frontier"), path)


def test_part_without_spark_footer_reads_by_inference(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawler_spark.streaming.checkpoint import footer_schema

    ckpt = CrawlCheckpoint(spark, str(tmp_path))
    path = os.path.join(ckpt._batch_dir(0), "frontier")
    os.makedirs(path)
    pq.write_table(pa.table({"url": ["a", "b"], "depth": [1, 2]}),
                   os.path.join(path, "part-0.parquet"))
    assert footer_schema(path) is None
    got = ckpt.read_part(0, "frontier")
    _same_as_inferred(spark, got, path)
    assert _rows(got) == [("a", 1), ("b", 2)]
