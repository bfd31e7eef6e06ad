"""frontier_bulk: the BASELINE.json headline, URLs scheduled and deduped per
second, on one large synthetic candidate batch.

Pipeline (one Spark action per pass): canonicalize → xxhash64 →
intra-batch dedup → exact anti-join against a seen set → per-host
politeness admission, closed by an order-independent checksum.

The input is built here from ``--seed`` with the library's public column
functions only, so rewrites of ``bench.py`` cannot change it:

* row ``i`` gets URL key ``k = i``, except every fifth row, which repeats
  its predecessor's key in a different spelling (upper-case authority,
  explicit ``:80``, a fragment) that only canonicalization folds together;
* the host is ``(k·7919 + seed·104729) mod hosts``, the path carries the
  seed as a salt, so each seed hashes and partitions differently;
* the seen set holds every key with ``k mod 7 = 3`` plus ``n/4`` keys that
  never occur among the candidates;
* priority is ``(k·31 mod 4) / 4`` and ``seq`` is ``i`` zero-padded, so
  admission order is (priority desc, i asc).

``reference`` recomputes the admitted set with NumPy from the same
formulas, independently of the engine's operators.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np

CRAWL_DELAY = 0.2
BATCH_SECONDS = 120.0
SIZES = {
    # rows, hosts: 150k candidates on 100 hosts, ~1000 survivors per host
    # against an admission budget of 600
    "full": (150_000, 100),
    # ~sf0.001 lineitem; 4 hosts so admission still defers rows
    "smoke": (6_000, 4),
}
WARMUP_PASSES = 3
PROBE_REPEATS = 3
STAGES = ("canon", "intra_batch", "antijoin", "admit")


def canonical_url(host: np.ndarray, seed: int, key: np.ndarray) -> list[str]:
    return [f"http://site{h}.example.com/item/{seed}/{k}"
            for h, k in zip(host.tolist(), key.tolist())]


class FrontierBulk:
    name = "frontier_bulk"

    def __init__(self, spark, seed: int, scale: str, work: str):
        self.spark = spark
        self.seed = seed
        self.n, self.hosts = SIZES[scale]
        self.dir = os.path.join(work, "frontier")

    # -- inputs ---------------------------------------------------------------

    def make_inputs(self) -> None:
        """Candidates and seen set, written as parquet."""
        from pyspark.sql import functions as F

        def host(k):
            return F.pmod(k * 7919 + self.seed * 104729,
                          F.lit(self.hosts)).cast("string")

        def path(k):
            return F.concat(F.lit(f"/item/{self.seed}/"), k.cast("string"))

        spark = self.spark
        par = spark.sparkContext.defaultParallelism * 4
        i = F.col("id")
        dup = (i % 5) == 4
        k = F.when(dup, i - 1).otherwise(i)
        raw = F.when(
            dup,
            F.concat(F.lit("HTTP://SITE"), host(k), F.lit(".Example.COM:80"),
                     path(k), F.lit("#dup")),
        ).otherwise(
            F.concat(F.lit("http://site"), host(k), F.lit(".example.com"),
                     path(k)))
        spark.range(self.n, numPartitions=par).select(
            raw.alias("raw_url"),
            F.lpad(i.cast("string"), 12, "0").alias("seq"),
            (F.pmod(k * 31, F.lit(4)) / 4.0).alias("priority"),
            F.lit(False).alias("dont_filter"),
        ).write.parquet(os.path.join(self.dir, "candidates"))

        spark.range(self.n + self.n // 4, numPartitions=par).filter(
            ((i < self.n) & ~dup & ((i % 7) == 3)) | (i >= self.n)
        ).select(
            F.concat(F.lit("http://site"), host(i), F.lit(".example.com"),
                     path(i)).alias("url")
        ).write.parquet(os.path.join(self.dir, "seen"))

    def reference(self) -> dict:
        """Expected rows out of every stage and the admitted set's checksum,
        from NumPy over the generating formulas."""
        i = np.arange(self.n, dtype=np.int64)
        dup = (i % 5) == 4
        keep = ~dup  # a repeat's survivor is its predecessor (smaller seq)
        k = i[keep]
        surv = k[(k % 7) != 3]
        host = (surv * 7919 + self.seed * 104729) % self.hosts
        prio = ((surv * 31) % 4) / 4.0
        budget = max(1, math.floor(BATCH_SECONDS / CRAWL_DELAY))
        order = np.lexsort((surv, -prio, host))  # host, priority desc, seq
        host_s, key_s = host[order], surv[order]
        starts = np.r_[0, np.flatnonzero(np.diff(host_s)) + 1]
        rank = np.arange(len(host_s)) - np.repeat(
            starts, np.diff(np.r_[starts, len(host_s)]))
        sel = rank < budget
        adm_host, adm_key, adm_rank = host_s[sel], key_s[sel], rank[sel] + 1
        rows = {"canon": self.n, "intra_batch": int(keep.sum()),
                "antijoin": int(len(surv)), "admit": int(sel.sum())}
        return {"rows": rows,
                "checksum": self._checksum_of(
                    canonical_url(adm_host, self.seed, adm_key),
                    adm_rank.tolist())}

    def _checksum_of(self, urls: list[str], ranks: list[int]) -> int:
        import pandas as pd

        df = self.spark.createDataFrame(
            pd.DataFrame({"url": urls, "host_rank": ranks}))
        return int(self._admit_agg(df).collect()[0]["checksum"])

    # -- pipeline -------------------------------------------------------------

    @staticmethod
    def _admit_agg(admitted):
        from pyspark.sql import functions as F

        return admitted.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(concat_ws('|', url,"
                   " cast(host_rank as string))))").alias("checksum"),
        )

    def _stages(self):
        """Fresh plans for every stage prefix (AQE memoizes an executed
        plan, so a plan is never collected twice)."""
        from pyspark.sql import functions as F

        from crawler_spark.functions.urlnorm import canonicalize_col, host_of
        from crawler_spark.operators.dedup import intra_batch_dedup
        from crawler_spark.operators.politeness import admit_per_host

        cand = self.spark.read.parquet(os.path.join(self.dir, "candidates"))
        seen = self.spark.read.parquet(os.path.join(self.dir, "seen"))
        canon = cand.select(
            canonicalize_col(F.col("raw_url")).alias("url"),
            host_of(F.col("raw_url")).alias("host"),
            "seq", "priority", "dont_filter",
        ).withColumn("url_hash", F.xxhash64(F.col("url"))).withColumn(
            "crawl_delay", F.lit(CRAWL_DELAY))
        deduped = intra_batch_dedup(canon)
        survivors = deduped.join(seen, on="url", how="left_anti")
        admitted, _deferred = admit_per_host(survivors, BATCH_SECONDS)
        return {"canon": canon, "intra_batch": deduped,
                "antijoin": survivors, "admit": admitted}

    @staticmethod
    def _force(df):
        """Row count plus a checksum over every output column: a bare
        count() lets Catalyst prune the projected work away."""
        from pyspark.sql import functions as F

        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64({}))".format(
                ", ".join(f"`{c}`" for c in df.columns))).alias("checksum"),
        ).collect()[0]

    # -- workload protocol ----------------------------------------------------

    def setup(self) -> bool:
        self.make_inputs()
        self.expected = self.reference()
        return True

    def warmup(self) -> bool:
        # Several passes: the JIT is still compiling the pipeline's hot
        # loops during the first ones.
        return all([self.run_pass()["ok"] for _ in range(WARMUP_PASSES)])

    def run_pass(self, tracer=None) -> dict:
        """One timed pipeline action; correctness is checked after it."""
        agg = self._admit_agg(self._stages()["admit"])
        if tracer is not None:
            with tracer.span("frontier.pass") as sp:
                row = agg.collect()[0]
            sec = sp["end"] - sp["start"]
        else:
            t0 = time.monotonic()
            row = agg.collect()[0]
            sec = time.monotonic() - t0
        ok = (row["n"] == self.expected["rows"]["admit"]
              and int(row["checksum"]) == self.expected["checksum"])
        return {"seconds": sec, "batches": [sec], "ok": ok, "urls": self.n}

    def layer_probe(self, tracer) -> tuple[dict, bool]:
        """Self time and rows out of each forced pipeline prefix: a stage's
        time is its prefix's median time minus the previous prefix's."""
        secs, rows, ok = {}, {}, True
        prev = 0.0
        for stage in STAGES:
            times = []
            for _ in range(PROBE_REPEATS):
                df = self._stages()[stage]
                with tracer.span(f"frontier.{stage}") as sp:
                    r = self._force(df)
                times.append(sp["end"] - sp["start"])
                ok = ok and r["n"] == self.expected["rows"][stage]
            dt = statistics.median(times)
            secs[stage], prev = dt - prev, dt
            rows[stage] = r["n"]
        return {"secs": secs, "rows": rows}, ok
