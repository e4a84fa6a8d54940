"""Recommendation pipeline operators (SURVEY §7.5).

Covers the reference's MLlib surface (M1-M7: ALS fit/transform,
top-k recs, RMSE/AUC evaluators — reference ALS_model3.py:150-155,
230-244, recommendations3.py:60, Model_evaluation.py:75-92) plus a
Spark-native re-expression of its driver-side serving assembly
(recommendations3.py:100-173: per-user truncate, popularity backfill,
pad, pivot wide — there a pandas loop over users, here four DataFrame
ops that scale with the cluster).

Guarantees of ``assemble_topn`` (tested): exactly n items per user
(pool permitting), no per-user duplicates, original recs ranked first
in score order, backfill in pool order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def als_estimator(spark, **params):
    """MLlib ALS with the reference's parameterization style
    (nonnegative, coldStartStrategy='drop' — ALS_model3.py:230-239),
    blocked at the session's parallelism.

    MLlib's DataFrame API defaults to a fixed 10 user × 10 item
    blocks, which makes 10-task training stages and a 100-task
    serving cross-join whatever the cluster size. Here both block
    counts are ``defaultParallelism``: the rule ``layout.pin`` uses,
    and the floor of MLlib's own RDD-API auto setting (``blocks=-1``
    → max(defaultParallelism, partitions / 2)). Factor initialisation
    is seeded per block, so models trained at different parallelism
    are not bit-identical (same fit, different floats)."""
    from pyspark.ml.recommendation import ALS

    blocks = spark.sparkContext.defaultParallelism
    return ALS(
        numUserBlocks=blocks,
        numItemBlocks=blocks,
        nonnegative=True,
        coldStartStrategy="drop",
        **params,
    )


def train_als(
    ratings: DataFrame,
    user_col: str = "userId",
    item_col: str = "itemId",
    rating_col: str = "rating",
    rank: int = 8,
    reg_param: float = 0.1,
    max_iter: int = 5,
    seed: int = 42,
):
    """Fit :func:`als_estimator` on ``ratings``."""
    als = als_estimator(
        ratings.sparkSession,
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        rank=rank,
        regParam=reg_param,
        maxIter=max_iter,
        seed=seed,
    )
    return als.fit(ratings)


def _flatten_recs(recs: DataFrame) -> DataFrame:
    """explode the array<struct<itemId,rating>> recommendation column
    (the reference's flatten at recommendations3.py:65-70)."""
    rec = F.explode("recommendations").alias("rec")
    return recs.select(recs.columns[0], rec).select(
        recs.columns[0],
        F.col("rec.*"),
    ).toDF(recs.columns[0], "itemId", "score")


def als_topk_flat(model, users: DataFrame, k: int) -> DataFrame:
    """recommendForUserSubset + flatten (M4, reference
    recommendations3.py:60-70). Returns (userId, itemId, score)."""
    return _flatten_recs(model.recommendForUserSubset(users, k))


def als_topk_all_flat(model, k: int) -> DataFrame:
    """recommendForAllUsers + flatten (M3, reference ALS_model3.py:260,
    open_session.py:77). Returns (userId, itemId, score) for EVERY user
    the model knows — the factor-matrix block cross-product runs
    distributed in MLlib; nothing is collected."""
    return _flatten_recs(model.recommendForAllUsers(k))


def save_model(
    model,
    path: str,
    user_mapping: DataFrame | None = None,
    item_mapping: DataFrame | None = None,
) -> None:
    """Persist the trained ALS model + its id mappings (S4 — the
    reference contract at ALS_model3.py:251-253: mapping parquets
    written next to ``model.write().overwrite().save()``; re-read by
    recommendations3.py:46-49 / Model_evaluation.py:47-48,69).

    Layout: ``<path>/als_model`` (MLlib native: userFactors/
    itemFactors/metadata parquet), ``<path>/user_mapping`` and
    ``<path>/item_mapping`` (parquet, overwrite mode).
    """
    import os

    model.write().overwrite().save(os.path.join(path, "als_model"))
    if user_mapping is not None:
        user_mapping.write.mode("overwrite").parquet(
            os.path.join(path, "user_mapping")
        )
    if item_mapping is not None:
        item_mapping.write.mode("overwrite").parquet(
            os.path.join(path, "item_mapping")
        )


def load_model(spark, path: str):
    """Load a persisted recommender (S4 — ALSModel.load at
    recommendations3.py:49 + the mapping re-reads at 46-47).

    Returns (model, user_mapping | None, item_mapping | None) — the
    mappings are None when the directory was saved without them.
    """
    import os

    from pyspark.ml.recommendation import ALSModel

    model = ALSModel.load(os.path.join(path, "als_model"))

    def _maybe(sub: str) -> DataFrame | None:
        p = os.path.join(path, sub)
        return spark.read.parquet(p) if os.path.exists(p) else None

    return model, _maybe("user_mapping"), _maybe("item_mapping")


def rmse(predictions: DataFrame, label_col: str = "rating", pred_col: str = "prediction") -> float:
    from pyspark.ml.evaluation import RegressionEvaluator

    return RegressionEvaluator(
        metricName="rmse", labelCol=label_col, predictionCol=pred_col
    ).evaluate(predictions)


def auc(predictions: DataFrame, label_col: str = "label", score_col: str = "score") -> float:
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    return BinaryClassificationEvaluator(
        labelCol=label_col, rawPredictionCol=score_col, metricName="areaUnderROC"
    ).evaluate(predictions)


def top_pool(
    counts: DataFrame,
    item_col: str,
    cnt_col: str,
    k: int,
) -> DataFrame:
    """Globally-ranked top-k popularity pool: (item, pool_rank 1..k).

    The reference ranked its popular pool with a row_number over ALL
    items (recommendations3.py:85-86 via orderBy+limit; our first cut
    used a global window — the SURVEY §4.3-1 single-task anti-pattern).
    Here ``orderBy().limit(k)`` compiles to TakeOrderedAndProject
    (per-partition top-k, driver-side merge of k×partitions rows — no
    global sort exchange); the ranking window then runs over the k-row
    result only, so no stage ever sees more than k rows in one task.
    """
    order = [F.col(cnt_col).desc(), F.col(item_col).asc()]
    topk = counts.select(item_col, cnt_col).orderBy(*order).limit(k)
    return (
        topk.withColumn("pool_rank", F.row_number().over(W.orderBy(*order)))
        .select(item_col, "pool_rank")
    )


def assemble_topn(
    recs: DataFrame,
    pool: DataFrame,
    user_col: str,
    item_col: str,
    score_col: str,
    n: int,
    keep: int | None = None,
) -> DataFrame:
    """Exactly-n per-user recommendation lists with popularity backfill,
    pivoted wide (rec_1..rec_n).

    recs: (user, item, score) — model or heuristic output; the top
          ``keep`` (default n) per user survive (the reference kept 10
          of 20 raw recs, recommendations3.py:14-17,119).
    pool: (item, pool_rank) — small, globally-ranked backfill list
          (broadcast; must hold >= n items for the exactly-n guarantee).

    Plan: rank recs per user (keep top n) -> anti-join the pool against
    each user's kept items -> rank backfill by pool order -> union with
    source precedence (recs before backfill) -> final per-user rank ->
    pivot with an explicit value list. Two window passes + one
    broadcast anti-join; no driver-side loop (the reference iterated
    users in Python, recommendations3.py:120-151).
    """
    keep = n if keep is None else keep
    w_score = W.partitionBy(user_col).orderBy(F.col(score_col).desc(), F.col(item_col).asc())
    kept = (
        recs.withColumn("_rn", F.row_number().over(w_score))
        .filter(F.col("_rn") <= keep)
        .select(user_col, item_col, F.lit(0).alias("_src"), F.col("_rn").alias("_ord"))
    )
    users = kept.select(user_col).distinct()
    backfill = (
        users.join(F.broadcast(pool.select(item_col, "pool_rank")), how="cross")
        .join(kept.select(user_col, item_col), on=[user_col, item_col], how="left_anti")
        .select(user_col, item_col, F.lit(1).alias("_src"), F.col("pool_rank").alias("_ord"))
    )
    w_final = W.partitionBy(user_col).orderBy("_src", "_ord")
    final = (
        kept.unionByName(backfill)
        .withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= n)
    )
    return (
        final.groupBy(user_col)
        .pivot("rank", list(range(1, n + 1)))
        .agg(F.first(item_col))
        .toDF(user_col, *[f"rec_{i}" for i in range(1, n + 1)])
    )
