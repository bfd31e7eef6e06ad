"""Structured Streaming surfaces over the crawl's event stream.

The crawl engine itself is an iterative micro-batch loop (the reference is
bounded incremental batch, SURVEY §2.11) — but the engine's OUTPUT streams
(crawl_log / fetch events) are naturally unbounded, and a deployment tails
them with real Structured Streaming jobs. Two such jobs live here:

1. ``hourly_host_metrics_stream`` — watermarked tumbling-window per-host
   fetch metrics (the streaming rendering of A4 / q_event_hourly_agg):
   ``readStream`` → ``withWatermark`` → windowed groupBy → append-mode
   parquet sink. Late events beyond the watermark are dropped exactly like
   the crawl drops articles older than the cutoff (P3).

2. ``streaming_url_seen`` — the URL-seen set as a CUSTOM STATEFUL
   streaming operator (``applyInPandasWithState``): per-host state holds
   the set of url hashes seen so far; each micro-batch emits
   (host, batch_new, total_seen). State survives restarts through the
   checkpoint — the streaming twin of the engine's checkpointed seen set.
   Past a per-host ceiling the state becomes a fixed-size bloom bitset
   (operators/bloom.py), not the engine's deletable cuckoo tier: this
   state is never deleted from, and a cuckoo table (16-bit slots at 0.7
   load, power-of-two bucket counts) would take 2.4–4.8× the bits of a
   1%-FP bloom.

Both run with ``Trigger.AvailableNow`` in tests: process everything
available, commit the checkpoint, stop — so tests are deterministic and a
second invocation proves watermark/state recovery from checkpoint.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The fetch-event stream schema (a projection of crawl_log + metrics).
FETCH_EVENT_SCHEMA = StructType(
    [
        StructField("ts", TimestampType()),
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("url_hash", LongType()),
        StructField("bytes", LongType()),
    ]
)

SEEN_OUTPUT_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("batch_new", LongType()),
        StructField("total_seen", LongType()),
    ]
)

# State: exact hash set while small, bloom bitset beyond EXACT_STATE_MAX.
# The exact form keeps the test oracle trivial at fixture scale; the bloom
# form bounds per-host state at O(filter bits) no matter how many URLs the
# host accumulates. There is no exact anti-join behind it: a streaming
# dashboard count tolerates the bloom's FP undercount, while the batch
# engine's URL-seen path (cuckoo prefilter + exact anti-join) never drops
# on filter evidence alone.
SEEN_STATE_SCHEMA = StructType(
    [
        StructField("hashes", ArrayType(LongType())),  # exact tier (small)
        StructField("bits", StringType()),  # hex bloom bitset (large tier)
        StructField("count", LongType()),  # total distinct-ish seen
    ]
)

# Exact-set ceiling per host; beyond it the state converts to a
# fixed-size bloom bitset (sized for ~100× the ceiling at 1% FP).
EXACT_STATE_MAX = 4096


def hourly_host_metrics_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    watermark: str = "2 hours",
):
    """Tumbling 1-hour per-host fetch metrics with late-data handling.

    Append output mode: a window row is emitted exactly once, when the
    watermark passes its end — the streaming contract the batch query
    q_event_hourly_agg approximates. Returns the finished query (blocks
    until the available data is processed)."""
    events = (
        spark.readStream.schema(FETCH_EVENT_SCHEMA).parquet(input_dir)
        .withWatermark("ts", watermark)
    )
    agg = (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "host")
        .agg(
            F.count(F.lit(1)).alias("n_fetches"),
            F.sum("bytes").alias("bytes"),
        )
        .select(
            F.col("w.start").alias("win_start"),
            "host", "n_fetches", "bytes",
        )
    )
    q = (
        agg.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _make_seen_update(exact_max: int):
    """Build the per-host stateful update function (a closure so the tier
    threshold ships to the Python workers with the function itself).

    Two state tiers: an exact hash set up to ``exact_max``, then a
    FIXED-SIZE bloom bitset (sized for 100× the ceiling at 1% FP) —
    per-host state stops growing with crawl history (ADVICE r2 #2);
    counts become lower-bound estimates once bloomed (a false positive
    makes a genuinely-new URL look seen). Arrow-batched — the per-group
    Python touches numpy/pandas arrays, never Python-per-row."""
    from crawler_spark.operators.bloom import BloomFilter

    num_bits, k = BloomFilter.sized_for(max(exact_max, 1) * 100, fpp=0.01)
    words = num_bits // 64

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        from crawler_spark.operators.bloom import BloomFilter

        (host,) = key
        hashes_st, bits_hex, count = (
            state.get if state.exists else (None, None, 0)
        )
        seen: set[int] = set(hashes_st) if hashes_st is not None else set()
        bits = (
            np.frombuffer(bytes.fromhex(bits_hex), dtype=np.uint64).copy()
            if bits_hex else None
        )
        new_count = 0
        for pdf in pdfs:
            hashes = set(int(h) for h in pdf["url_hash"].tolist())
            if bits is None:
                fresh = hashes - seen
                new_count += len(fresh)
                seen |= fresh
            else:
                flt = BloomFilter(bits, k)
                arr = np.fromiter(hashes, dtype=np.int64)
                fresh_arr = arr[~flt.might_contain_np(arr)]
                new_count += int(fresh_arr.shape[0])
                if fresh_arr.shape[0]:
                    flt.add_np(fresh_arr)
        if bits is None and len(seen) > exact_max:
            # Convert once: fold the exact set into the fixed-size bitset.
            bits = np.zeros(words, dtype=np.uint64)
            BloomFilter(bits, k).add_np(np.fromiter(seen, dtype=np.int64))
            seen = set()
        total = count + new_count
        if bits is None:
            state.update((sorted(seen), None, total))
        else:
            state.update((None, bits.tobytes().hex(), total))
        yield pd.DataFrame(
            {"host": [host], "batch_new": [new_count],
             "total_seen": [total]}
        )

    return update


def streaming_url_seen(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    exact_max: int = EXACT_STATE_MAX,
):
    """The URL-seen set as a stateful streaming operator: per-host state
    accumulates url hashes across micro-batches AND restarts (state lives
    in the checkpoint); each trigger appends (host, batch_new, total_seen)
    rows. State is exact up to ``exact_max`` hashes per host, then a
    fixed-size bloom bitset — bounded regardless of crawl history.
    Returns the finished query."""
    events = spark.readStream.schema(FETCH_EVENT_SCHEMA).parquet(input_dir)
    out = events.groupBy("host").applyInPandasWithState(
        _make_seen_update(exact_max),
        outputStructType=SEEN_OUTPUT_SCHEMA,
        stateStructType=SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
