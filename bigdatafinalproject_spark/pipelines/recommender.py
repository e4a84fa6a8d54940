"""The reference's full pipeline as one composable API (SURVEY §3).

Mirrors, stage for stage, what the reference runs as six hand-ordered
scripts (clean -> id-map -> CV -> final split -> ALS -> evaluate ->
serve -> report; reference ALS_model3.py:194-266,
Model_evaluation.py:30-108, recommendations3.py:35-196,
model_report.py:56-79) — but as functions over DataFrames with the
engine's scalable operators underneath:

- cleaning uses the same semantics as ALS_model3.py:197-201;
- id mapping is operators/ids.dense_ids (one shuffle, not the global
  window);
- splits are operators/splits (portable-hash order, reproducible);
- serving is operators/recommend.assemble_topn (no pandas loop);
- the report is generated from MEASURED metrics (the reference
  hard-coded its published RMSE values, model_report.py:48-54 — a
  documented divergence, SURVEY §7.8-5).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from bigdatafinalproject_spark.operators.ids import dense_ids, with_surrogate_key
from bigdatafinalproject_spark.operators.recommend import (
    als_estimator,
    als_topk_flat,
    assemble_topn,
    auc,
    load_model,
    rmse,
    save_model,
    top_pool,
    train_als,
)
from bigdatafinalproject_spark.operators.splits import (
    add_kfold,
    cold_start_filter,
    leave_n_out,
)


def clean_ratings(
    raw: DataFrame,
    user_col: str,
    item_col: str,
    rating_col: str,
    lo: float = 0.0,
    hi: float = 10.0,
) -> DataFrame:
    """Reference cleaning (ALS_model3.py:197-201): project + cast +
    range filter + null drop. Returns (user_id, item_id, rating int)."""
    r = F.col(rating_col).cast("int")
    return (
        raw.select(
            F.col(user_col).cast("string").alias("user_id"),
            F.col(item_col).cast("string").alias("item_id"),
            r.alias("rating"),
        )
        .filter((F.col("rating") > lo) & (F.col("rating") <= hi))
        .na.drop(subset=["user_id", "item_id", "rating"])
    )


def build_id_mappings(ratings: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Dense surrogate mappings (ALS_model3.py:75-87 semantics):
    (user_id, userId int) and (item_id, itemId int)."""
    users = dense_ids(ratings, "user_id", id_col="userId")
    items = dense_ids(ratings, "item_id", id_col="itemId")
    return users, items


def to_surrogate(ratings: DataFrame, users: DataFrame, items: DataFrame) -> DataFrame:
    """ALS is the int-id consumer: MLlib requires 32-bit user/item ids,
    so the cast (and its cardinality bound) lives HERE, not in the
    generic long-id mapping."""
    keyed = with_surrogate_key(ratings, users, "user_id")
    keyed = with_surrogate_key(keyed, items, "item_id")
    return keyed.select(
        F.col("userId").cast("int").alias("userId"),
        F.col("itemId").cast("int").alias("itemId"),
        F.col("rating").cast("float").alias("rating"),
    )


@dataclass
class CVResult:
    fold_rmse: list[float] = field(default_factory=list)

    @property
    def avg_rmse(self) -> float:
        return sum(self.fold_rmse) / len(self.fold_rmse) if self.fold_rmse else float("nan")


def cross_validate(
    ratings: DataFrame,
    k: int = 3,
    min_ratings: int = 7,
    seed: int = 42,
    rank: int = 8,
    reg_param: float = 0.1,
    max_iter: int = 5,
) -> CVResult:
    """Per-user k-fold CV (ALS_model3.py:109-180): fold f tests on
    fold==f, trains on the rest (fold -1 always trains); each fold's
    test set is cold-start filtered against its train set.

    Unlike the reference, the params given here are the params actually
    fitted (the reference's inner ALS ignored its own grid —
    ALS_model3.py:116-118 vs 150-154 — which we deliberately fix)."""
    folds = add_kfold(ratings, "userId", "itemId", k=k, min_ratings=min_ratings, seed=seed)
    folds = folds.cache()
    try:
        result = CVResult()
        for f in range(k):
            train = folds.filter(F.col("fold") != f).drop("fold")
            test = folds.filter(F.col("fold") == f).drop("fold")
            test = cold_start_filter(test, train, "userId", "itemId")
            if test.isEmpty():
                continue
            model = train_als(
                train, rank=rank, reg_param=reg_param, max_iter=max_iter, seed=seed
            )
            preds = model.transform(test).na.drop(subset=["prediction"])
            result.fold_rmse.append(rmse(preds))
        return result
    finally:
        folds.unpersist()


def grid_search(
    ratings: DataFrame,
    ranks: list[int] = (4, 8),
    reg_params: list[float] = (0.1, 0.5),
    num_folds: int = 2,
    max_iter: int = 5,
    seed: int = 42,
    parallelism: int = 2,
):
    """MLlib grid-search CV (M7 parity with the reference's superseded
    open_session.py:36-67: ALS + ParamGridBuilder + CrossValidator).

    Returns (best_model, best_rank, best_reg, avg_metrics). Unlike the
    reference (whose chosen params were unconditionally overwritten
    downstream, ALS_model3.py:218 — a documented bug we do not copy),
    callers are expected to USE the winner."""
    from pyspark.ml.evaluation import RegressionEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    als = als_estimator(
        ratings.sparkSession,
        userCol="userId",
        itemCol="itemId",
        ratingCol="rating",
        maxIter=max_iter,
        seed=seed,
    )
    grid = (
        ParamGridBuilder()
        .addGrid(als.rank, list(ranks))
        .addGrid(als.regParam, list(reg_params))
        .build()
    )
    cv = CrossValidator(
        estimator=als,
        estimatorParamMaps=grid,
        evaluator=RegressionEvaluator(
            metricName="rmse", labelCol="rating", predictionCol="prediction"
        ),
        numFolds=num_folds,
        parallelism=parallelism,
        seed=seed,
    )
    model = cv.fit(ratings)
    best = model.bestModel
    return best, best.rank, best._java_obj.parent().getRegParam(), list(model.avgMetrics)


@dataclass
class TrainedRecommender:
    model: object
    users: DataFrame
    items: DataFrame
    train_rmse: float
    test_rmse: float
    test_auc: float


def train_final(
    ratings: DataFrame,
    users: DataFrame,
    items: DataFrame,
    seed: int = 42,
    rank: int = 8,
    reg_param: float = 0.1,
    max_iter: int = 5,
    like_threshold: float = 5.0,
) -> TrainedRecommender:
    """Final leave-one-out train/eval (ALS_model3.py:222-244 +
    Model_evaluation.py:57-92): RMSE on train and held-out test, binary
    AUC with label rating > threshold."""
    split = leave_n_out(ratings, "userId", "itemId", n=1, seed=seed)
    train = split.filter(F.col("split") == "train").drop("split")
    test = split.filter(F.col("split") == "test").drop("split")
    test = cold_start_filter(test, train, "userId", "itemId")

    model = train_als(train, rank=rank, reg_param=reg_param, max_iter=max_iter, seed=seed)
    train_preds = model.transform(train).na.drop(subset=["prediction"])
    test_preds = model.transform(test).na.drop(subset=["prediction"])

    binary = test_preds.select(
        F.when(F.col("rating") > like_threshold, 1.0).otherwise(0.0).alias("label"),
        F.col("prediction").cast("double").alias("score"),
    ).na.drop()
    return TrainedRecommender(
        model=model,
        users=users,
        items=items,
        train_rmse=rmse(train_preds),
        test_rmse=rmse(test_preds),
        test_auc=auc(binary),
    )


def save_recommender(trained: TrainedRecommender, path: str) -> None:
    """Persist the full serving state (S4): ALS factors + both id
    mappings, the exact cross-script contract the reference relies on
    (ALS_model3.py:251-253 writes; recommendations3.py:46-49 and
    Model_evaluation.py:47-48,69 re-read in separate runs)."""
    save_model(
        trained.model, path, user_mapping=trained.users, item_mapping=trained.items
    )


def load_recommender(spark, path: str) -> TrainedRecommender:
    """Re-open a persisted recommender for serving (the
    recommendations3.py session shape: load model + mappings, no
    retraining). Metrics are not persisted — they belong to the
    training run's report — so they come back as NaN."""
    model, users, items = load_model(spark, path)
    nan = float("nan")
    return TrainedRecommender(
        model=model, users=users, items=items,
        train_rmse=nan, test_rmse=nan, test_auc=nan,
    )


def serve_wide(
    trained: TrainedRecommender,
    ratings: DataFrame,
    n_users: int = 50,
    raw_k: int = 20,
    final_n: int = 10,
    pool_size: int = 30,
) -> DataFrame:
    """Batch serving (recommendations3.py:52-196 Spark-native): top-k
    recs for a user subset, popularity pool backfill to exactly
    ``final_n``, wide rec_1..rec_n layout keyed by the ORIGINAL user id
    (the reference emitted original_userId + userId columns)."""
    subset = trained.users.orderBy("userId").limit(n_users).select("userId")
    recs = als_topk_flat(trained.model, subset, raw_k)
    pool = top_pool(
        ratings.groupBy("itemId").agg(F.count(F.lit(1)).alias("cnt")),
        item_col="itemId", cnt_col="cnt", k=pool_size,
    )
    wide = assemble_topn(
        recs, pool, user_col="userId", item_col="itemId", score_col="score",
        n=final_n, keep=final_n,
    )
    return trained.users.join(wide, on="userId").select(
        F.col("user_id").alias("original_user_id"), "userId",
        *[f"rec_{i}" for i in range(1, final_n + 1)],
    )


def reference_model_txt(
    trained: TrainedRecommender,
    test_preds: DataFrame,
    wide: DataFrame,
    team: str = "spark-graft",
    db_name: str = "ratings",
    report_date: str = "",
    n_books: int = 10,
) -> str:
    """Render the reference's exact ``model.txt`` section layout
    (model_report.py:56-79: header comments, 6.a RMSE line, 6.b
    0.25-wide RMSE histogram, 6.c wide top-N table with titles
    truncated to 12 chars) — but from MEASURED values.

    Documented divergence (SURVEY §7.8-5): the reference hard-codes
    both the 6.a RMSE values and the 6.b histogram counts
    (model_report.py:48-54, "RMSE values are predefined here for
    demonstration"). Here 6.a prints the measured test RMSE and 6.b is
    the measured per-prediction |rating − prediction| histogram — one
    bounded Spark aggregation (≤ 11 bins), not a driver-side pass.

    ``test_preds``: (rating, prediction) rows from the eval split.
    ``wide``: serve_wide() output (original_user_id, userId, rec_*).
    """
    bins = [i * 0.25 for i in range(10)]
    hist_rows = (
        test_preds.select(
            F.least(
                F.floor(
                    F.abs(
                        F.col("rating").cast("double")
                        - F.col("prediction").cast("double")
                    )
                    / 0.25
                ),
                F.lit(len(bins) - 1),
            )
            .cast("int")
            .alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    hist = {r["bin"]: r["n"] for r in hist_rows}
    rec_cols = [c for c in wide.columns if c.startswith("rec_")][:n_books]
    wide_rows = wide.orderBy("userId").collect()

    out = [
        f"# Team: {team}",
        f"# Date: {report_date}",
        f"# Database name: {db_name}",
        f"6.a) RMSE of the full model {trained.test_rmse:.4f} (measured; "
        "the reference hard-coded UB 0.77 / IB 0.82 — model_report.py:48-54)",
        "6.b) histogram of RMSE (measured |rating - prediction| counts)",
        "RMSE",
        "      N",
        *[f"{b:.2f}   {hist.get(i, 0)}" for i, b in enumerate(bins)],
        "",
        f"6.c) Top-{n_books} recommendations",
        "user",
        "       " + "  ".join(f"book{i}" for i in range(1, n_books + 1)),
    ]
    for r in wide_rows:
        books = "  ".join(
            str(r[c])[:12] if r[c] is not None else "" for c in rec_cols
        )
        out.append(f"{str(r['original_user_id']):<12} {books}")
    out.append("")
    out.append(
        "note: all values measured (the reference's report metrics were "
        "fabricated; see SURVEY §7.8-5)"
    )
    return "\n".join(out)


def model_report(
    cv: CVResult, trained: TrainedRecommender, dataset_counts: dict[str, int]
) -> str:
    """The reference's model.txt layout (model_report.py:56-79) from
    MEASURED metrics."""
    lines = [
        "MODEL REPORT",
        "=" * 40,
        f"ratings: {dataset_counts.get('ratings', 0)}",
        f"users:   {dataset_counts.get('users', 0)}",
        f"items:   {dataset_counts.get('items', 0)}",
        "-" * 40,
        "Cross-validation (per-user folds):",
        *[f"  fold {i}: RMSE {v:.4f}" for i, v in enumerate(cv.fold_rmse)],
        f"  average RMSE: {cv.avg_rmse:.4f}",
        "-" * 40,
        f"final train RMSE: {trained.train_rmse:.4f}",
        f"final test RMSE:  {trained.test_rmse:.4f}",
        f"binary AUC (rating>threshold): {trained.test_auc:.4f}",
        "=" * 40,
        "note: all values measured (the reference hard-coded its "
        "report metrics; see SURVEY §7.8-5)",
    ]
    return "\n".join(lines)
