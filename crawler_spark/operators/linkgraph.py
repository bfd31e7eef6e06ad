"""Host-graph link analysis: fixed-point PageRank for crawl prioritization.

A production frontier schedules fetches by more than depth + recency
(operators/politeness.py priority_score_col): host authority derived from
the link graph the crawl itself discovers is the classic third signal
(Page et al. 1999; Cho, Garcia-Molina & Page 1998 use PageRank order to
steer crawling). The reference crawler has no link analysis — its 116
spiders crawl fixed menu trees (e.g. /root/reference/demo/已部署/
zeenews.py:46-52) — so this is a first-class scale addition per the build
brief, shaped for the 10^10-edge graph a real crawl accumulates.

Design notes (the 100-TB shape):

* **Iterative DataFrame plan, no driver state.** Each iteration is
  ``ranks ⋈ edges → groupBy(dst).sum``: one shuffle on the join key and
  one partial-aggregated shuffle on dst, exactly the BSP PageRank shape
  that scales with executors. Scalars the update rule needs (node count,
  per-iteration dangling mass) are one-row aggregate DataFrames folded in
  via broadcast cross join — the loop never calls ``.collect()``.
* **Fixed-point integer arithmetic.** Ranks are int64 micro-units
  (``PR_SCALE`` total mass) and every update is integer multiply/divide,
  so the result is BIT-IDENTICAL regardless of partitioning, shuffle
  order, or engine — float PageRank is famously non-deterministic under
  re-partitioning because IEEE addition is not associative. Determinism
  under varying parallelism is this repo's core invariant (SURVEY §4),
  and it also makes the operator exactly verifiable by the DuckDB oracle.
* **Dangling mass** (hosts with no out-links — every freshly discovered
  host starts dangling) is redistributed uniformly each iteration, per
  the standard formulation, keeping total mass conserved up to integer
  truncation (strictly bounded by n per division, asserted in tests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Total rank mass in fixed-point units (1.0 of probability == PR_SCALE).
PR_SCALE = 10**12


def host_pagerank(
    edges: DataFrame,
    n_iter: int = 4,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank over a host link graph, fixed-point integer semantics.

    ``edges``: DataFrame(src string, dst string) — distinct directed host
    links. Returns DataFrame(host string, rank_micro long, rank double)
    where ``rank_micro`` sums to ≤ PR_SCALE (exact up to integer-division
    truncation) and ``rank = rank_micro / PR_SCALE`` as an exact IEEE
    quotient of the fixed-point value.

    Update rule (all integer ops, ``div`` = floor division on
    non-negative int64):

        share(e)   = rank(src) div outdeg(src)          per edge
        recv(v)    = Σ share(e) over e: dst(e) = v
        dangling   = Σ rank(v) over v with outdeg(v) = 0
        rank'(v)   = ((100-d)·PR_SCALE) div (100·n)
                     + (d · (recv(v) + dangling div n)) div 100

    Execution model: each superstep is materialized EAGERLY with
    ``localCheckpoint(eager=True)`` before the next is built — the
    BSP/GraphX pattern. Each iteration references the rank table three
    times (edge join, dangling aggregate, node carry) and two of those
    are broadcast-subquery jobs Spark schedules independently, so a lazy
    loop (even a ``cache()``-ed one — lazy caches race) re-executes every
    prior iteration per reference: measured ~6× wall blowup at 4
    iterations, unbounded at the 20-100 iterations PageRank needs to
    converge. Eager materialization also truncates the join-on-join
    lineage that would otherwise outgrow Catalyst analysis. Calling this
    function therefore runs n_iter small jobs up front; the returned
    DataFrame is a narrow select over the final materialized superstep.
    Fixed-point values make the result identical either way.
    """
    src_nodes = edges.select(F.col("src").alias("host"))
    dst_nodes = edges.select(F.col("dst").alias("host"))
    nodes = src_nodes.unionByName(dst_nodes).distinct()
    outdeg = edges.groupBy(F.col("src").alias("host")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # One-row node count, folded in via broadcast cross join (no collect).
    n_df = nodes.agg(F.count(F.lit(1)).alias("n"))

    ranks = (
        nodes.crossJoin(F.broadcast(n_df))
        .select(
            "host",
            F.expr(f"CAST({PR_SCALE} AS BIGINT) div n").alias("rank_micro"),
            "n",
        )
    )

    deg = ranks.join(outdeg, "host", "left").withColumn(
        "outdeg", F.coalesce(F.col("outdeg"), F.lit(0))
    )
    deg = deg.localCheckpoint(eager=True)
    for _ in range(n_iter):
        recv = (
            deg.filter(F.col("outdeg") > 0)
            .join(edges, deg["host"] == edges["src"])
            .select(
                F.col("dst").alias("host"),
                F.expr("rank_micro div outdeg").alias("share"),
            )
            .groupBy("host")
            .agg(F.sum("share").alias("recv"))
        )
        dang_df = (
            deg.filter(F.col("outdeg") == 0)
            .agg(F.coalesce(F.sum("rank_micro"), F.lit(0)).alias("dangling"))
        )
        deg = (
            deg.select("host", "outdeg", "n")
            .join(recv, "host", "left")
            .withColumn("recv", F.coalesce(F.col("recv"), F.lit(0)))
            .crossJoin(F.broadcast(dang_df))
            .select(
                "host",
                "outdeg",
                "n",
                (
                    F.expr(
                        f"CAST({100 - damping_pct} AS BIGINT) * {PR_SCALE}"
                        " div (100 * n)"
                    )
                    + F.expr(
                        f"CAST({damping_pct} AS BIGINT)"
                        " * (recv + dangling div n) div 100"
                    )
                ).alias("rank_micro"),
            )
        )
        deg = deg.localCheckpoint(eager=True)
    # Plain IEEE division of identical int64 operands is correctly rounded
    # and therefore bit-identical across engines — no ROUND() tie-break
    # hazards (half-even vs half-up on inexact binary doubles).
    return deg.select(
        "host",
        "rank_micro",
        (F.col("rank_micro") / F.lit(float(PR_SCALE))).alias("rank"),
    )


def host_pagerank_py(
    edges: list[tuple[str, str]],
    n_iter: int = 4,
    damping_pct: int = 85,
) -> dict[str, int]:
    """Pure-Python mirror of :func:`host_pagerank` — the same integer
    fixed-point update rule (all values non-negative, so Spark's BIGINT
    ``div`` == Python ``//``), used by the reference-semantics simulator
    to weight crawl priorities without Spark. Integer-exact equality with
    the DataFrame version is asserted in tests/test_linkgraph.py."""
    edges = sorted(set(edges))
    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    if n == 0:
        return {}
    outdeg: dict[str, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    rank = {h: PR_SCALE // n for h in nodes}
    for _ in range(n_iter):
        recv = dict.fromkeys(nodes, 0)
        for s, d in edges:
            recv[d] += rank[s] // outdeg[s]
        dangling = sum(rank[h] for h in nodes if outdeg.get(h, 0) == 0)
        base = (100 - damping_pct) * PR_SCALE // (100 * n)
        rank = {
            h: base + damping_pct * (recv[h] + dangling // n) // 100
            for h in nodes
        }
    return rank


def allocate_budget_py(
    rank_micro: dict[str, int],
    total_budget: int,
    min_per_host: int = 0,
) -> dict[str, int]:
    """Pure-Python mirror of :func:`allocate_budget` (largest-remainder
    apportionment; ties on the remainder break by host name ascending,
    exactly like the DataFrame version's window order)."""
    n = len(rank_micro)
    if n == 0:
        return {}
    total_mass = sum(rank_micro.values())
    spend = total_budget - min_per_host * n
    base = {h: spend * m // total_mass for h, m in rank_micro.items()}
    rem = {h: (spend * m) % total_mass for h, m in rank_micro.items()}
    leftover = total_budget - sum(base.values()) - min_per_host * n
    order = sorted(rank_micro, key=lambda h: (-rem[h], h))
    return {
        h: min_per_host + base[h] + (1 if i < leftover else 0)
        for i, h in enumerate(order)
    }


def allocate_budget(
    ranks: DataFrame,
    total_budget: int,
    min_per_host: int = 0,
) -> DataFrame:
    """Apportion a global per-batch fetch budget across hosts by authority.

    Where the per-host politeness window (operators/politeness.py) caps
    how fast ONE host may be fetched, this decides how much of a bounded
    GLOBAL budget (driver slots, egress, proxy quota) each host deserves —
    proportional to its PageRank mass, via the largest-remainder method
    (Hamilton apportionment): integer-exact, sums to exactly
    ``total_budget``, and deterministic under any partitioning (ties on
    the fractional remainder break by host name).

    ``ranks``: output of :func:`host_pagerank` (host, rank_micro, ...).
    Returns (host, budget long) with ``min_per_host`` guaranteed to every
    host first (the remainder is apportioned over rank mass).

    Scale: two one-row aggregates folded in via broadcast cross join, and
    the top-``leftover``-by-remainder selection runs as the same salted
    TWO-PHASE window as operators/politeness.py admit_per_host — phase 1
    ranks within (salt) partitions and keeps each salt's top ``leftover``
    candidates, phase 2 ranks only the survivors — so no single task ever
    sorts the full host set (a bare global row_number window would be a
    one-partition sort at 10^8 hosts). Any row in the true global top-L
    is in its salt's top-L, so the two phases are exactly equal to the
    global window (asserted in tests).
    """
    from pyspark.sql import Window

    n_and_total = ranks.agg(
        F.count(F.lit(1)).alias("n_hosts"),
        F.sum("rank_micro").alias("total_mass"),
    )
    r = ranks.select("host", "rank_micro").crossJoin(F.broadcast(n_and_total))
    spend = F.lit(int(total_budget)) - F.lit(int(min_per_host)) * F.col(
        "n_hosts"
    )
    r = r.select(
        "host",
        (spend * F.col("rank_micro")).alias("_exact"),
        "total_mass",
    ).select(
        "host",
        F.expr("_exact div total_mass").alias("_base"),
        (F.col("_exact") % F.col("total_mass")).alias("_rem"),
    )
    # `r` is referenced three times below (leftover aggregate, survivors,
    # rest) — materialize it once or the upstream (including the whole
    # PageRank) re-executes per reference.
    r = r.cache()
    leftover = r.agg(
        (F.lit(int(total_budget))
         - F.sum("_base")
         - F.lit(int(min_per_host)) * F.count(F.lit(1))).alias("_left")
    )
    r = r.crossJoin(F.broadcast(leftover))
    # Phase 1 — salted pre-top-k (salt is a pure function of the row).
    salt_k = 16
    r = r.withColumn(
        "_salt", F.pmod(F.xxhash64("host"), F.lit(salt_k)).cast("int")
    )
    w1 = Window.partitionBy("_salt").orderBy(F.desc("_rem"), F.asc("host"))
    r = r.withColumn("_rn1", F.row_number().over(w1))
    survivors = r.filter(F.col("_rn1") <= F.col("_left"))
    rest = r.filter(F.col("_rn1") > F.col("_left"))
    # Phase 2 — exact global rank over ≤ salt_k × leftover survivors: a
    # bounded aggregate (functions/ranking.py), not a window — PySpark 4
    # folds constant partition keys out of window specs, so the old
    # partitionBy(lit(0)) idiom planned as an unpartitioned window.
    from crawler_spark.functions.ranking import bounded_global_rank

    # Each salt keeps at most ``leftover`` survivors, and leftover never
    # exceeds the budget it is the unassigned remainder of.
    bumped = bounded_global_rank(
        survivors,
        [(-F.col("_rem")).alias("_nr"), F.col("host")],
        rank_name="_pos",
        max_rows=salt_k * max(int(total_budget), 0),
    )

    def _final(df, bump):
        return df.select(
            "host",
            (
                F.lit(int(min_per_host))
                + F.col("_base")
                + bump
            ).cast("long").alias("budget"),
        )

    return _final(
        bumped, F.when(F.col("_pos") <= F.col("_left"), 1).otherwise(0)
    ).unionByName(_final(rest, F.lit(0)))


def budget_sql(
    edges_sql: str,
    total_budget: int,
    min_per_host: int = 0,
    n_iter: int = 4,
    damping_pct: int = 85,
) -> str:
    """Exact ANSI-SQL mirror of host_pagerank → allocate_budget for the
    DuckDB oracle (largest-remainder apportionment over rank mass)."""
    pr = pagerank_sql(edges_sql, n_iter=n_iter, damping_pct=damping_pct)
    B, m = int(total_budget), int(min_per_host)
    return f"""
WITH pr AS ({pr}),
agg AS (SELECT COUNT(*) AS n_hosts, SUM(rank_micro) AS total_mass FROM pr),
r AS (SELECT pr.host,
             ({B} - {m} * agg.n_hosts) * pr.rank_micro AS ex,
             agg.total_mass AS total_mass
      FROM pr CROSS JOIN agg),
b AS (SELECT host,
             CAST(ex // total_mass AS BIGINT) AS base,
             ex % total_mass AS rem
      FROM r),
l AS (SELECT {B} - SUM(base) - {m} * COUNT(*) AS lft FROM b),
p AS (SELECT host, base,
             ROW_NUMBER() OVER (ORDER BY rem DESC, host ASC) AS pos
      FROM b)
SELECT p.host,
       CAST({m} + p.base + CASE WHEN p.pos <= l.lft THEN 1 ELSE 0 END
            AS BIGINT) AS budget
FROM p CROSS JOIN l ORDER BY p.host
"""


def pagerank_sql(
    edges_sql: str, n_iter: int = 4, damping_pct: int = 85
) -> str:
    """The exact ANSI-SQL mirror of :func:`host_pagerank` for the DuckDB
    oracle — same fixed-point integer semantics, iterations unrolled as
    chained CTEs. ``edges_sql`` must select columns (src, dst)."""
    d, s = damping_pct, PR_SCALE
    parts = [
        f"WITH edges AS ({edges_sql})",
        "nodes AS (SELECT src AS host FROM edges"
        " UNION SELECT dst AS host FROM edges)",
        "outdeg AS (SELECT src AS host, COUNT(*) AS outdeg"
        " FROM edges GROUP BY src)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "r0 AS (SELECT nodes.host,"
        f" COALESCE(outdeg.outdeg, 0) AS outdeg, nn.n AS n,"
        f" CAST({s} AS BIGINT) // nn.n AS rank_micro"
        " FROM nodes CROSS JOIN nn"
        " LEFT JOIN outdeg ON nodes.host = outdeg.host)",
    ]
    prev = "r0"
    for i in range(1, n_iter + 1):
        parts.append(
            f"recv{i} AS (SELECT e.dst AS host,"
            f" SUM(r.rank_micro // r.outdeg) AS recv"
            f" FROM {prev} r JOIN edges e ON r.host = e.src"
            f" WHERE r.outdeg > 0 GROUP BY e.dst)"
        )
        parts.append(
            f"dang{i} AS (SELECT COALESCE(SUM(rank_micro), 0) AS dangling"
            f" FROM {prev} WHERE outdeg = 0)"
        )
        parts.append(
            f"r{i} AS (SELECT p.host, p.outdeg, p.n,"
            f" CAST({100 - d} AS BIGINT) * {s} // (100 * p.n)"
            f" + CAST({d} AS BIGINT)"
            f" * (COALESCE(v.recv, 0) + g.dangling // p.n) // 100"
            f" AS rank_micro"
            f" FROM {prev} p CROSS JOIN dang{i} g"
            f" LEFT JOIN recv{i} v ON p.host = v.host)"
        )
        prev = f"r{i}"
    parts_sql = ",\n".join(parts)
    # SUM() promotes to HUGEINT in DuckDB; values stay < 2^53 so the cast
    # back to BIGINT is exact (and matches Spark's long).
    return (
        f"{parts_sql}\n"
        f"SELECT host, CAST(rank_micro AS BIGINT) AS rank_micro,"
        f" CAST(rank_micro AS BIGINT) / {float(s)} AS rank"
        f" FROM {prev} ORDER BY host"
    )
