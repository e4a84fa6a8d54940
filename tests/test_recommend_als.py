"""MLlib ALS sizing and serving (operators/recommend.py,
queries/recommend.py): training is blocked at the session's
parallelism, and the 20-user serving subset comes from the trained
user factors."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators.recommend import train_als
from bigdatafinalproject_spark.queries.recommend import _ratings, als_recommendations
from tests.conftest import SF_DIR


def test_train_als_blocks_follow_default_parallelism(spark):
    model = train_als(_ratings(spark, SF_DIR), rank=2, max_iter=1)
    dp = spark.sparkContext.defaultParallelism
    assert model.userFactors.rdd.getNumPartitions() == dp
    assert model.itemFactors.rdd.getNumPartitions() == dp


def test_als_recommendations_serves_20_smallest_users(spark):
    out = als_recommendations(spark, SF_DIR)
    assert out.columns == ["userId", "itemId", "score"]
    per_user = {r["userId"]: r["n"] for r in out.groupBy("userId").agg(F.count("*").alias("n")).collect()}
    smallest = [
        r["userId"]
        for r in _ratings(spark, SF_DIR).select("userId").distinct().orderBy("userId").limit(20).collect()
    ]
    assert sorted(per_user) == smallest
    assert set(per_user.values()) == {5}
