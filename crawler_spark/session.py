"""SparkSession factory with the engine's standard configuration.

Scale posture: the settings below are chosen so the same plan shapes survive
a 1000-executor / 100 TB deployment — AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow on (every pandas UDF is an Arrow
batch, never per-row pickling), and a shuffle-partition count that callers
override per environment (32 locally; thousands on a real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

# Minimum free tmpfs space before we trust /dev/shm with shuffle files.
SHM_MIN_FREE_BYTES = 16 << 30


def _pick_local_dir() -> str:
    """SPARK_GRAFT_LOCAL_DIR if set; else '/dev/shm/spark-local,/tmp' when
    tmpfs has ≥16 GiB free (shuffle on tmpfs is a big win on this sandbox's
    slow virtual disk — and the /tmp fallback entry lets Spark overflow
    shuffle files to disk if tmpfs fills mid-job instead of dying on
    ENOSPC); else /tmp alone."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env:
        return env
    if os.path.isdir("/dev/shm"):
        import shutil

        if shutil.disk_usage("/dev/shm").free >= SHM_MIN_FREE_BYTES:
            return "/dev/shm/spark-local,/tmp"
    return "/tmp"


def get_spark(
    app_name: str = "crawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``local[*]``)
    so the bench harness can pin parallelism for the N-vs-4N scaling runs.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # PySpark's 1g default heap cannot hold local[32]'s concurrent task
        # buffers; size for the machine (overridable per environment — on a
        # real cluster this is executor memory via spark-submit).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
        )
        # Shuffle/spill files on tmpfs when available: this sandbox's /tmp
        # is a virtual disk whose bandwidth caps shuffle-heavy scaling (on
        # a real cluster this is local NVMe per executor). tmpfs competes
        # with the JVM heap for RAM, so fall back to /tmp unless /dev/shm
        # has comfortable headroom (ENOSPC on tmpfs kills the job where a
        # disk spill would have succeeded).
        .config("spark.local.dir", _pick_local_dir())
        # AQE: runtime coalescing + skew-join splitting; essential at 100 TB,
        # harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere: pandas UDFs and toPandas go through Arrow batches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Quiet the local UI; tests spin sessions up and down.
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # No Python call-site capture per DataFrame API call: with it on,
        # every column function and transformation adds ~5 driver→JVM
        # round trips (session lookup, conf read, origin set/clear) — more
        # than half of the crawl loop's per-batch planning round trips.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
