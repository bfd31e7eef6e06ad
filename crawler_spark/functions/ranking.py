"""Warning-free global ranking over BOUNDED row sets.

PySpark 4.x's ``EliminateWindowPartitions`` optimizer rule folds away
foldable partition expressions, so the classic ``Window.partitionBy(
F.lit(0))`` "documented single partition" idiom now plans exactly like an
unpartitioned window and triggers WindowExec's move-all-data-to-one-
partition warning on every execution.  For the handful of places that
genuinely need a total order over a set that is BOUNDED by construction
(a top-k after ``limit``, a per-batch run summary, salted-top-k
survivors), this module provides the intended plan shape explicitly:

    partial-agg collect_list  ->  sort_array  ->  posexplode

The whole set still flows through one combiner cell — the same data
movement as a one-partition window, which is the honest cost of a global
rank — but it is a plain aggregate the planner cannot mistake for an
accidental unpartitioned window, it benefits from map-side partial
aggregation, and the plan carries no WindowExec at all.  Callers MUST
only use this on sets with a documented small bound.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bounded_global_rank(
    df: DataFrame,
    order_exprs: list[Column],
    rank_name: str = "rank",
    rank_type: str = "int",
    *,
    max_rows: int,
) -> DataFrame:
    """Append a 1-based dense row number over ``df`` ordered by
    ``order_exprs`` (ascending lexicographic — negate numeric columns for
    descending order).  Equivalent to ``row_number().over(Window.orderBy(
    *order_exprs))`` but expressed as a bounded aggregate (see module
    docstring).  The order key should be a total order; any ties are
    broken by the remaining payload columns deterministically.

    ``max_rows`` is the caller's documented bound on ``df``: a set larger
    than it fails the query (``assert_true``) instead of silently growing
    the one combiner cell.  Payload columns of MapType are rejected at
    analysis time: the whole row is part of the sort key, and Spark cannot
    order a map.
    """
    cols = df.columns
    kv = F.struct(
        F.struct(*order_exprs).alias("k"),
        F.struct(*[F.col(c) for c in cols]).alias("p"),
    )
    arr = df.agg(F.sort_array(F.collect_list(kv)).alias("_a"))
    within = F.assert_true(
        F.size("_a") <= F.lit(int(max_rows)),
        f"bounded_global_rank: input exceeds max_rows={int(max_rows)}",
    )
    return arr.select(
        F.posexplode(F.when(within.isNull(), F.col("_a"))).alias("_pos", "_kv")
    ).select(
        (F.col("_pos") + 1).cast(rank_type).alias(rank_name),
        "_kv.p.*",
    )
