"""crawler_spark — a PySpark-native web-crawl frontier + analytics engine.

A from-scratch re-expression of the capabilities of the reference crawler
(modifyGB/crawler, a Scrapy 2.x news-crawling project) on idiomatic Spark:

- ``functions``  : vectorized scalar kernels (URL canonicalization, hashing,
  fuzzy date parsing, text quality/lang-id) — Arrow-batched, zero per-row
  Python.
- ``operators``  : set-oriented dataflow stages (URL-seen dedup via cuckoo
  prefilter + exact anti-join, per-host politeness windows, near-dup
  families, similarity search, reporting joins/aggregations).
- ``sources``    : table IO (parquet w/ atomic-manifest snapshots standing in
  for Iceberg) and the deterministic mock web used for crawl tests.
- ``streaming``  : the iterative micro-batch crawl loop with per-batch
  checkpoint/resume and per-partition fetch metrics.
- ``plans``      : frontier row model — lineage-stable ordering (seq),
  priority scoring.

The reference's semantics are documented per-operator with file:line
citations into /root/reference (e.g. the URL-seen probe at
demo/middlewares.py:50-68, the time-cutoff pagination stop at
demo/已部署/zeenews.py:96-101). No reference code is reused; the
architecture is Spark-first (DataFrame/Catalyst + pandas UDFs).
"""

__version__ = "0.1.0"
