"""Leakage-safe forecasting (SURVEY.md SS2.10 M1-M6, M8-M9).

Re-expresses `forecasting_model.py:158-606`: time-aware split (never
k-fold - the reference imports CrossValidator but deliberately avoids
it, `forecasting_model.py:12`), per-entity window features computed
AFTER the split, manual grid search validated on an inner time split,
best model refit on the full train range, metrics on the held-out tail.

Trailing frames exclude the current row (`forecasting_model.py:88-90`)
so no feature leaks the label.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import StandardScaler, VectorAssembler
from pyspark.ml.regression import LinearRegression, RandomForestRegressor
from pyspark.sql import DataFrame, functions as F

from smart_energy_consumption_analytics_using_big_data_spark.operators import windows as W
from smart_energy_consumption_analytics_using_big_data_spark.session import thread_map

SEED = 42  # forecasting_model.py:366 pins 42 everywhere


def daily_series(events: DataFrame, entity: str = "user_id", ts: str = "ts", value: str = "value") -> DataFrame:
    """Daily measure per entity - the forecasting base table."""
    return events.groupBy(entity, F.to_date(ts).alias("date")).agg(
        F.sum(value).alias("label_value")
    )


def add_forecast_features(daily: DataFrame, entity: str = "user_id") -> DataFrame:
    """Lag grid + trailing rolling stats + calendar features, then drop
    warm-up rows (`forecasting_model.py:77-98`, `feature_engineering.py:196`)."""
    w = W.entity_window(entity, "date")
    df = W.with_lags(daily, "label_value", w, [1, 2, 3, 7], prefix="lag_")
    df = W.with_trailing_stats(df, "label_value", w, 7, stats=("avg", "stddev"))
    df = (
        df.withColumn("day_of_week", F.dayofweek("date"))
        .withColumn("is_weekend", F.dayofweek("date").isin(1, 7).cast("int"))
        .withColumn("day_of_month", F.dayofmonth("date"))
    )
    return df.na.drop()


FEATURE_COLS = [
    "lag_1",
    "lag_2",
    "lag_3",
    "lag_7",
    "rolling_avg_7r",
    "rolling_stddev_7r",
    "day_of_week",
    "is_weekend",
    "day_of_month",
]


@dataclass
class ForecastResult:
    predictions: DataFrame
    metrics: dict[str, float]
    best_params: dict[str, float]
    model: PipelineModel = field(repr=False, default=None)


def _prep(rows: DataFrame) -> PipelineModel:
    """assembler -> scaler (M1/M2/M8; `forecasting_model.py:231-232`),
    fitted on one training split. Every model fitted on that split
    shares it: one scaler pass per split, not one per grid point."""
    assembler = VectorAssembler(
        inputCols=FEATURE_COLS, outputCol="features_raw", handleInvalid="skip"
    )
    scaler = StandardScaler(inputCol="features_raw", outputCol="features")
    return Pipeline(stages=[assembler, scaler]).fit(rows)


def _metrics(preds: DataFrame) -> dict[str, float]:
    """MAE, RMSE and R² of ``prediction`` against ``label_value`` in ONE
    aggregate pass, with `RegressionEvaluator`'s definitions (R² against
    the label mean; NaN on an empty frame) - the evaluator costs one
    full pass over the predictions per metric."""
    err = F.col("label_value") - F.col("prediction")
    n = F.count(F.lit(1))
    row = preds.agg(
        n.alias("n"),
        F.sum(F.abs(err)).alias("sae"),
        F.sum(err * err).alias("sse"),
        (F.var_samp("label_value") * (n - 1)).alias("sst"),
    ).first()
    if not row["n"]:
        return {"mae": math.nan, "rmse": math.nan, "r2": math.nan}
    return {
        "mae": row["sae"] / row["n"],
        "rmse": math.sqrt(row["sse"] / row["n"]),
        "r2": 1 - row["sse"] / row["sst"] if row["sst"] else math.nan,
    }


def _grid_search(train: DataFrame, val_cutoff, estimator, grid: list[tuple]) -> tuple:
    """Inner time-split validation (`forecasting_model.py:286-306`):
    fit ``estimator(*point)`` on the train rows before ``val_cutoff``,
    score RMSE on the rest, return the first point with the lowest
    score. NaN (empty/degenerate validation rows) counts as worst, so
    the pick does not depend on grid position.

    Grid points fit CONCURRENTLY: Spark's scheduler interleaves jobs
    submitted from multiple driver threads over the same cached
    vectors. The reference ran its 9+4 grid strictly sequentially
    (`forecasting_model.py:286-306` - SURVEY.md SS3 "no parallel
    tuning"); on a cluster this is the difference between grid time
    = slowest point vs = sum of points."""
    inner_train = train.filter(F.col("date") < F.lit(val_cutoff))
    prep = _prep(inner_train)
    fit_rows = prep.transform(inner_train).cache()
    val_rows = prep.transform(train.filter(F.col("date") >= F.lit(val_cutoff))).cache()

    def score(point):
        rmse = _metrics(estimator(*point).fit(fit_rows).transform(val_rows))["rmse"]
        return rmse if rmse == rmse else math.inf

    try:
        scores = thread_map(train.sparkSession, score, grid)
    finally:
        fit_rows.unpersist()
        val_rows.unpersist()
    return grid[scores.index(min(scores))]


def _refit(train: DataFrame, test: DataFrame, estimator, params: dict) -> ForecastResult:
    """Fit assembler -> scaler -> ``estimator`` on ``train`` (persisted
    as one PipelineModel) and score it on the held-out ``test`` rows."""
    prep = _prep(train)
    model = PipelineModel(stages=[*prep.stages, estimator.fit(prep.transform(train))])
    preds = model.transform(test)
    return ForecastResult(
        predictions=preds, metrics=_metrics(preds), best_params=params, model=model
    )


def _split(features: DataFrame, test_cutoff) -> tuple[DataFrame, DataFrame]:
    """Train and test rows, every feature as double. VectorAssembler
    casts other inputs (the int calendar features) under aliases that
    embed its random uid, so each `_prep` would generate and compile new
    code; with double inputs its plans repeat and hit the codegen cache.
    (Not cast before `train_best_forecast`'s cache: `energy.run_anomaly`
    rebuilds that plan and reuses the cached rows.)"""
    features = features.withColumns({c: F.col(c).cast("double") for c in FEATURE_COLS})
    return (
        features.filter(F.col("date") < F.lit(test_cutoff)),
        features.filter(F.col("date") >= F.lit(test_cutoff)),
    )


def train_linear_forecast(
    features: DataFrame,
    test_cutoff,
    val_cutoff,
    reg_params: tuple[float, ...] = (0.01, 0.1),
    elastic_net_params: tuple[float, ...] = (0.0, 0.5),
) -> ForecastResult:
    """Grid-searched LinearRegression with inner time-split validation
    (`forecasting_model.py:272-320`)."""
    train, test = _split(features, test_cutoff)
    train.cache()

    def linear(reg, en):
        return LinearRegression(
            featuresCol="features", labelCol="label_value",
            maxIter=100, regParam=reg, elasticNetParam=en,
        )

    grid = [(reg, en) for reg in reg_params for en in elastic_net_params]
    reg, en = _grid_search(train, val_cutoff, linear, grid)
    result = _refit(train, test, linear(reg, en), {"regParam": reg, "elasticNetParam": en})
    train.unpersist()
    return result


def train_gbt_forecast(
    features: DataFrame,
    test_cutoff,
    max_iter: int = 20,
    max_depth: int = 5,
    sample_fraction: float | None = None,
) -> ForecastResult:
    """GBTRegressor path (M5; present-but-disabled in the reference for
    memory, `forecasting_model.py:428-476` - its 20% sample workaround
    is exposed here as an explicit option)."""
    from pyspark.ml.regression import GBTRegressor

    train, test = _split(features, test_cutoff)
    if sample_fraction is not None:
        train = train.sample(fraction=sample_fraction, seed=SEED)
    gbt = GBTRegressor(
        featuresCol="features", labelCol="label_value",
        maxIter=max_iter, maxDepth=max_depth, seed=SEED,
    )
    return _refit(train, test, gbt, {"maxIter": max_iter, "maxDepth": max_depth})


def train_rf_forecast(
    features: DataFrame,
    test_cutoff,
    num_trees: int = 20,
    max_depth: int = 5,
    grid: tuple[tuple[int, int], ...] | None = None,
    val_cutoff=None,
) -> ForecastResult:
    """RandomForestRegressor path (M4; `forecasting_model.py:350-393`).

    ``grid``: optional ((numTrees, maxDepth), ...) searched with the
    same inner time-split validation as the LR path (the reference's RF
    grid is {50,100}x{5,10}, `forecasting_model.py:350-355`); requires
    ``val_cutoff``. ``grid=None`` keeps the single-point fit."""
    train, test = _split(features, test_cutoff)

    def forest(n_t, depth):
        return RandomForestRegressor(
            featuresCol="features", labelCol="label_value",
            numTrees=n_t, maxDepth=depth, seed=SEED,
        )

    if grid:
        if val_cutoff is None:
            raise ValueError("grid search needs val_cutoff for the inner split")
        num_trees, max_depth = _grid_search(train, val_cutoff, forest, list(grid))
    return _refit(
        train, test, forest(num_trees, max_depth),
        {"numTrees": num_trees, "maxDepth": max_depth},
    )


@dataclass
class BestForecast:
    name: str  # "lr" or "rf"
    result: ForecastResult
    train_records: int
    test_records: int


def train_best_forecast(
    features: DataFrame,
    test_cutoff,
    val_cutoff,
    lr_grid: tuple[tuple[float, ...], tuple[float, ...]] | None = None,
    rf_grid: tuple[tuple[int, int], ...] | None = None,
) -> BestForecast:
    """Stage 4 (`forecasting_model.py:158-606`): the LR grid against RF,
    best by held-out RMSE (LR on a tie).

    ``features`` is cached and materialized once - the same pass counts
    the train/test split for the model metadata - and the two searches
    then run on two driver threads: they are independent until the
    pick, so Spark schedules the RF fits into executor slots the LR
    tail leaves free. Each fit sees the same cached rows with pinned
    seeds, so models, metrics and the pick equal the sequential order.
    ``lr_grid`` is ``(reg_params, elastic_net_params)`` for
    `train_linear_forecast`, ``rf_grid`` the ``grid`` of
    `train_rf_forecast`; ``None`` keeps each one's default."""
    features = features.cache()
    counts = features.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum((F.col("date") >= F.lit(test_cutoff)).cast("long")).alias("test"),
    ).first()
    lr, rf = thread_map(
        features.sparkSession,
        lambda fit: fit(),
        [
            lambda: train_linear_forecast(features, test_cutoff, val_cutoff, *(lr_grid or ())),
            lambda: train_rf_forecast(features, test_cutoff, grid=rf_grid, val_cutoff=val_cutoff),
        ],
    )
    name, best = ("lr", lr) if lr.metrics["rmse"] <= rf.metrics["rmse"] else ("rf", rf)
    return BestForecast(
        name=name,
        result=best,
        train_records=int(counts["total"] - counts["test"]),
        test_records=int(counts["test"]),
    )
