"""Train/eval operators (reference M6-M12, ipynb:1463-1784).

DataFrame-native throughout: the reference computes RMSE/MSE/MAE/R² and
AUC-PR/ROC by dropping to the RDD mllib API (ipynb:1543-1552, 1773-1784 —
a per-row JVM→Python lambda); here every metric comes from
``pyspark.ml.evaluation`` evaluators on the prediction DataFrame.

XGBoost (reference M7/M8) is an optional dependency — absent from this
container — so the capability is carried by MLlib ``GBTRegressor`` /
``GBTClassifier`` with an import-gated ``SparkXGB*`` path, exactly the
fallback SURVEY.md §7 (risk 8) prescribes. All estimators are seeded.
"""

from __future__ import annotations

from pyspark.ml.classification import GBTClassifier
from pyspark.ml.evaluation import (
    BinaryClassificationEvaluator,
    MulticlassClassificationEvaluator,
)
from pyspark.ml.regression import GBTRegressor, LinearRegression
from pyspark.sql import DataFrame


def seeded_split(
    df: DataFrame, weights: list[float] | None = None, seed: int = 42
) -> list[DataFrame]:
    """R1 randomSplit, always seeded (the reference's unseeded split,
    ipynb:1376, makes its published metrics unreproducible).

    Membership depends on the seed *and* on the input's partition layout:
    each partition is sampled with its own seeded stream over its row
    order. Under AQE the layout is picked at runtime from shuffle sizes, so
    split metrics reproduce only for the same data size and confs, and
    repartitioning the input moves the split. The GSOD pipeline therefore
    splits on an md5 bucket of its ``(stn, date)`` key instead
    (``operators.sampling.hash_bucket``), whose membership is a pure
    function of the row."""
    return df.randomSplit(weights or [0.8, 0.2], seed=seed)


def train_linear_regression(
    train: DataFrame, label_col: str, features_col: str = "features", **params
) -> object:
    """M6 baseline regressor (default params, like ipynb:1463-1467)."""
    return LinearRegression(
        featuresCol=features_col, labelCol=label_col, **params
    ).fit(train)


def train_gbt_regressor(
    train: DataFrame,
    label_col: str,
    features_col: str = "features",
    max_iter: int = 20,
    seed: int = 42,
) -> object:
    """M7 capability via MLlib GBT; ``train_xgb_regressor`` when the
    optional dep exists."""
    return GBTRegressor(
        featuresCol=features_col, labelCol=label_col, maxIter=max_iter, seed=seed
    ).fit(train)


def train_gbt_classifier(
    train: DataFrame,
    label_col: str,
    features_col: str = "features",
    max_iter: int = 20,
    seed: int = 42,
) -> object:
    """M8 capability via MLlib GBT (the reference's RandomForest variant is
    commented out there, ipynb:1666-1672)."""
    return GBTClassifier(
        featuresCol=features_col, labelCol=label_col, maxIter=max_iter, seed=seed
    ).fit(train)


def train_xgb_regressor(train: DataFrame, label_col: str, **params) -> object:
    """M7 exact-parity path (``reg:squarederror``): optional dependency,
    import-gated as in SURVEY.md §7."""
    try:
        from xgboost.spark import SparkXGBRegressor  # type: ignore
    except ImportError as e:  # pragma: no cover — xgboost absent here
        raise NotImplementedError(
            "xgboost.spark not installed; use train_gbt_regressor"
        ) from e
    return SparkXGBRegressor(label_col=label_col, **params).fit(train)


def evaluate_regression(
    predictions: DataFrame,
    label_col: str,
    prediction_col: str = "prediction",
    with_count: bool = False,
) -> dict[str, float]:
    """M9 + M11, DataFrame-native: rmse/mse/mae/r2 without any RDD hop.

    ONE aggregate pass (r11, guide §1.2): the four ``RegressionEvaluator``
    calls this replaces each launched a separate job over the predictions
    (plus a persist to keep the model lineage from replaying four times —
    the reference's recompute pattern, SURVEY.md §4). The definitions are
    ``pyspark.ml``'s own (``RegressionMetrics``): mse = Σe²/n,
    rmse = √mse, mae = Σ|e|/n, r2 = 1 − SSerr/SStot with
    SStot = Σ(y−ȳ)² — computed here as Σy² − (Σy)²/n, the same
    one-pass identity the MLlib summarizer uses. Values agree with the
    evaluators to float accumulation order (pytest metric-band gated).

    ``with_count=True`` adds ``n`` (row count) to the dict — callers that
    needed a separate ``count()`` action (k-fold) get it from the same
    pass.

    r12 (r11 ADVICE #1): rows with a NULL label or prediction are
    FILTERED before the aggregate — previously they were counted in n
    but skipped by the sums, silently deflating every mean on frames
    with NULL labels (the last-row-per-group lead-label shape). And
    SStot comes from ``var_pop`` (Spark's numerically stable
    central-moment accumulator) instead of the cancellation-prone
    Σy² − (Σy)²/n identity — still ONE aggregate pass."""
    from ..operators.sql_text import quote_ident

    y, p = quote_ident(label_col), quote_ident(prediction_col)
    row = predictions.filter(f"{y} IS NOT NULL AND {p} IS NOT NULL").selectExpr(
        "count(1) AS n",
        f"sum(({p} - {y}) * ({p} - {y})) AS sse",
        f"sum(abs({p} - {y})) AS sae",
        f"var_pop({y}) AS vy",
    ).collect()[0]
    n = row["n"] or 0
    if n == 0:
        out = {"rmse": float("nan"), "mse": float("nan"),
               "mae": float("nan"), "r2": float("nan")}
    else:
        mse = row["sse"] / n
        ss_tot = (row["vy"] or 0.0) * n
        out = {
            "rmse": mse ** 0.5,
            "mse": mse,
            "mae": row["sae"] / n,
            "r2": 1.0 - row["sse"] / ss_tot if ss_tot != 0 else float("nan"),
        }
    if with_count:
        out["n"] = n
    return out


def evaluate_classification(
    predictions: DataFrame,
    label_col: str,
    prediction_col: str = "prediction",
    raw_prediction_col: str = "rawPrediction",
) -> dict[str, float]:
    """M10 + M12, DataFrame-native: accuracy + AUC-ROC/PR (cached across
    the three evaluator actions, as in ``evaluate_regression``)."""
    predictions = predictions.persist()
    try:
        acc = MulticlassClassificationEvaluator(
            labelCol=label_col, predictionCol=prediction_col, metricName="accuracy"
        ).evaluate(predictions)
        roc = BinaryClassificationEvaluator(
            labelCol=label_col, rawPredictionCol=raw_prediction_col, metricName="areaUnderROC"
        ).evaluate(predictions)
        pr = BinaryClassificationEvaluator(
            labelCol=label_col, rawPredictionCol=raw_prediction_col, metricName="areaUnderPR"
        ).evaluate(predictions)
        return {"accuracy": acc, "areaUnderROC": roc, "areaUnderPR": pr}
    finally:
        predictions.unpersist()


def kfold_cv_regression(
    feat: DataFrame,
    label_col: str,
    key_col: str,
    k: int = 5,
    features_col: str = "features",
) -> list[dict]:
    """Deterministic k-fold cross-validation for the regression path — the
    eval rigor the reference lacks entirely (its single unseeded
    ``randomSplit``, ipynb:1376, can neither reproduce a metric nor bound
    its variance). Folds come from the row key's md5 bucket
    (``operators/sampling.hash_bucket``), NOT Spark RNG, so fold
    membership is a pure function of the data: reproducible across runs,
    engines, and partitionings, and stable under data growth.

    The featurized frame is cached once; each fold is one filter + fit +
    evaluate over it (k passes over cached partitions — at 100 TB you run
    this on the sampled dev slice, not the full corpus, like every CV).
    Returns one dict of metrics per fold plus fold sizes.

    NULL keys fold on a sentinel, landing together in one deterministic
    fold (r06 review: a NULL bucket failed BOTH fold filters, silently
    dropping those rows from train AND test of every fold). Honesty note
    on leakage: folds split the PRE-FEATURIZED frame, so any fit
    statistics the upstream featurizer computed (scaler stddevs, indexer
    vocabularies) saw the test rows; for strictly leak-free estimates fit
    the feature pipeline inside each fold on its train split."""
    from ..operators.sampling import hash_bucket
    from pyspark.sql import functions as F

    fold = hash_bucket(
        F.coalesce(F.col(key_col).cast("string"), F.lit("__null_key__")),
        k,
        hex_chars=4,
    )
    # cache exactly the fit columns (r12, the gsod item-4 pattern): every
    # fold's fit/eval reads only (features, label, fold), and the LR fit
    # is multi-pass — k x passes over a full-width cached frame paid for
    # columns nothing reads. Projection preserves rows, so fold
    # membership and every metric are unchanged.
    tagged = (
        feat.withColumn("__fold", fold)
        .select(features_col, label_col, "__fold")
        .persist()
    )
    out = []
    try:
        for i in range(k):
            train = tagged.filter(F.col("__fold") != i)
            test = tagged.filter(F.col("__fold") == i)
            model = train_linear_regression(
                train, label_col, features_col=features_col
            )
            # one pass: metrics AND the fold size come from the same
            # aggregate (the separate count() action is gone — r11)
            m = evaluate_regression(
                model.transform(test), label_col, with_count=True
            )
            m["fold"] = i
            m["n_test"] = m.pop("n")
            out.append(m)
    finally:
        tagged.unpersist()
    return out


def kfold_cv_classification(
    feat: DataFrame,
    label_col: str,
    key_col: str,
    k: int = 5,
    features_col: str = "features",
    max_iter: int = 5,
) -> list[dict]:
    """Classification twin of ``kfold_cv_regression``: same deterministic
    md5-bucket folds, GBT classifier per fold (the M8 capability), one
    metrics dict per fold. Fold membership is a pure function of the row
    key — reproducible across runs and partitionings. Same NULL-key
    sentinel and pre-featurized-frame leakage caveat as the regression
    twin."""
    from ..operators.sampling import hash_bucket
    from pyspark.sql import functions as F

    fold = hash_bucket(
        F.coalesce(F.col(key_col).cast("string"), F.lit("__null_key__")),
        k,
        hex_chars=4,
    )
    # fit-column projection before the cache — see kfold_cv_regression
    tagged = (
        feat.withColumn("__fold", fold)
        .select(features_col, label_col, "__fold")
        .persist()
    )
    out = []
    try:
        for i in range(k):
            train = tagged.filter(F.col("__fold") != i)
            test = tagged.filter(F.col("__fold") == i)
            model = train_gbt_classifier(
                train, label_col, features_col=features_col, max_iter=max_iter
            )
            m = evaluate_classification(model.transform(test), label_col)
            m["fold"] = i
            m["n_test"] = test.count()
            out.append(m)
    finally:
        tagged.unpersist()
    return out
