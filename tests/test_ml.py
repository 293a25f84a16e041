"""ML sanity assertions (SURVEY.md SS5 strategy 4): seeds pinned,
metrics above floors on synthetic autoregressive data, anomaly rate in
band - not exact-value checks (cross-engine ML has no oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smart_energy_consumption_analytics_using_big_data_spark.ml import anomaly as AN
from smart_energy_consumption_analytics_using_big_data_spark.ml import forecast as FC


@pytest.fixture(scope="module")
def features(spark, daily_ar_fixture):
    daily = spark.createDataFrame(daily_ar_fixture)
    return FC.add_forecast_features(daily).cache()


def test_forecast_r2_floor_on_ar_data(features):
    result = FC.train_linear_forecast(
        features, test_cutoff="2013-03-25", val_cutoff="2013-03-10"
    )
    # AR(1) with phi=0.8 and lag features: linear model must capture
    # most variance (the reference reports R2 0.9987 on real data).
    assert result.metrics["r2"] > 0.5, result.metrics
    assert result.metrics["rmse"] < 1.5, result.metrics
    assert set(result.best_params) == {"regParam", "elasticNetParam"}


def test_rf_forecast_runs_and_beats_naive(features):
    result = FC.train_rf_forecast(features, test_cutoff="2013-03-25", num_trees=10, max_depth=4)
    assert result.metrics["r2"] > 0.0, result.metrics


def test_anomaly_rate_band_and_threshold(features):
    cols = ["label_value", "lag_1", "rolling_avg_7r", "day_of_week"]
    scored = AN.detect_anomalies(features, feature_cols=cols).cache()
    # each feature column keeps its input dtype (an int day_of_week stays int)
    assert dict(features.dtypes)["day_of_week"] == "int"
    assert [dict(scored.dtypes)[c] for c in cols] == [dict(features.dtypes)[c] for c in cols]
    n = scored.count()
    flagged = scored.filter(F.col("is_anomaly") == 1)
    rate = flagged.count() / n
    # FIXTURES.md SS6.6: z>3 band - on clean AR data expect a small tail
    assert rate < 0.05, rate
    assert flagged.filter(F.col("z_score") <= 3).count() == 0
    # clusters assigned across k=5 (at least 2 non-empty)
    assert scored.select("cluster").distinct().count() >= 2


def test_rf_importance_is_a_distribution(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.plans import QUERIES

    rows = QUERIES["q_ml_rf_importance"](spark, "/root/testdata/sf0.01").collect()
    total = sum(r["importance"] for r in rows)
    assert abs(total - 1.0) < 1e-3
    assert all(r["importance"] >= 0 for r in rows)
    assert len(rows) == len({r["feature"] for r in rows})


def test_ols_exact_matches_mllib_normal_solver(spark):
    """The closed-form Cramer solve (ml/ols_exact.py) IS the
    forecaster's regParam=0 regime: MLlib LinearRegression with
    regParam=0 / solver='normal' on the identical feature rows must
    produce the same coefficients up to solver float noise. This is
    what licenses the q_ml_ols_exact claim that the oracle checks the
    forecast family's math, not a lookalike."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression
    from pyspark.sql import Window, functions as F

    from smart_energy_consumption_analytics_using_big_data_spark.ml.ols_exact import ols_fit_exact
    from smart_energy_consumption_analytics_using_big_data_spark.operators.aggregates import (
        sum_exact,
    )
    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table
    from tests.conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events")
    daily = ev.groupBy("user_id", F.to_date("ts").alias("date")).agg(
        sum_exact("value").alias("label")
    )
    w = Window.partitionBy("user_id").orderBy("date")
    feat = daily.select(
        F.col("label").alias("y"),
        F.lag("label").over(w).alias("lag_1"),
        ((F.datediff("date", F.lit("1970-01-01")) + F.lit(4)) % 7)
        .cast("int").alias("dow"),
        F.dayofmonth("date").cast("int").alias("dom"),
    ).filter(F.col("lag_1").isNotNull())

    exact = ols_fit_exact(feat, ["1", "lag_1", "dow", "dom"], "y").first()

    asm = VectorAssembler(
        inputCols=["lag_1", "dow", "dom"], outputCol="features"
    )
    lr = LinearRegression(
        featuresCol="features", labelCol="y", regParam=0.0, solver="normal"
    )
    model = lr.fit(asm.transform(feat.withColumn("dow", F.col("dow").cast("double"))
                                 .withColumn("dom", F.col("dom").cast("double"))))
    import math

    # exact output is rounded to 6dp (the suite-wide double-output
    # convention), so compare at abs 1e-6 + solver float noise
    assert math.isclose(model.intercept, exact["beta0"], rel_tol=1e-6, abs_tol=1e-6)
    for got, want in zip(model.coefficients, (exact["beta1"], exact["beta2"], exact["beta3"])):
        assert math.isclose(got, want, rel_tol=1e-5, abs_tol=1e-6)
