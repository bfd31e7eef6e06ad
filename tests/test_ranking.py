"""functions/ranking.bounded_global_rank enforces its caller's bound."""

import pytest
from pyspark.sql import functions as F

from crawler_spark.functions.ranking import bounded_global_rank


def _df(spark, n):
    return spark.range(n).select(F.col("id"), (-F.col("id")).alias("k"))


def test_rank_within_bound(spark):
    got = bounded_global_rank(_df(spark, 4), [F.col("k")], max_rows=4)
    assert [(r.rank, r.id) for r in got.collect()] == [
        (1, 3), (2, 2), (3, 1), (4, 0)]


def test_rank_over_bound_fails(spark):
    with pytest.raises(Exception, match="exceeds max_rows=3"):
        bounded_global_rank(_df(spark, 4), [F.col("k")], max_rows=3).collect()


def test_rank_rejects_map_payload(spark):
    df = _df(spark, 2).withColumn("m", F.create_map(F.lit("a"), F.col("id")))
    with pytest.raises(Exception, match="INVALID_ORDERING_TYPE"):
        bounded_global_rank(df, [F.col("k")], max_rows=2)
