"""Energy-domain pipeline: reference parity as composable functions.

Re-expresses the reference's 5 OS-process stages (`run_pipeline.ps1:
18-40`) as library functions over one SparkSession - Parquet
materialization between stages becomes optional instead of structural
(SURVEY.md SS3). Each function cites the stage logic it mirrors.
`run_ingest` ... `run_anomaly` run the five stages over one output dir
(the artifact names below); both `cli` and the bench anchor
(`energy_bench.run_pipeline_bench`) call them.

Documented deviations from the reference (SURVEY.md SS7 "worth not
copying"):

* `date` is DateType, not a "yyyy-MM-dd" string
  (`data_preprocessing.py:152` kept strings; predicates were
  lexicographic);
* group-carried tariff uses deterministic `min` instead of `first()`
  (`data_preprocessing.py:255-258` is order-dependent);
* the hourly rollup groups by clean keys only - the reference also
  grouped by raw tariff columns incl. TariffDateTime, splitting hours
  at ToU boundaries (`data_preprocessing.py:226-234`);
* no 500-household micro-batching (`feature_engineering.py:289-335`):
  window functions already stream per partition; the batching was an
  8 GB-laptop workaround with no semantic effect.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F

from smart_energy_consumption_analytics_using_big_data_spark.functions import timefns as TF
from smart_energy_consumption_analytics_using_big_data_spark.operators import (
    joins as J,
    windows as W,
)
from smart_energy_consumption_analytics_using_big_data_spark.operators.aggregates import sum_exact
from smart_energy_consumption_analytics_using_big_data_spark.sources.schemas import (
    RAW_READING_KWH_COL,
    READINGS_CSV_SCHEMA,
    TARIFFS_SCHEMA,
)

LAG_DAYS = (1, 2, 3, 7, 14, 30)  # feature_engineering.py:86-89

# Stage artifacts under a pipeline output dir: the parquet handoff
# between stages, in the reference's per-process layout.
RAW = "raw_energy_data"
HOURLY = "hourly"
DAILY = "daily"
FEATURES = "energy_features"
PREDICTIONS = "forecasting_results"
MODEL = "models/best"
ANOMALIES = "anomalies"


def _row_count() -> dict:
    """Row count observed IN a stage's write (`writers.write_observed`):
    every stage reports its count without a read-back pass."""
    return {"rows": F.count(F.lit(1))}


def clean_readings(raw: DataFrame) -> DataFrame:
    """Stage-2 cleaning (`data_preprocessing.py:88-152`).

    Drop unusable rows, rename the quirky source columns, derive
    calendar parts. The "Null" sentinel is already handled by the
    reader's nullValue option (sources/readers.py), so no per-row
    rewrite pass is needed here.
    """
    df = raw.na.drop(subset=["LCLid", "DateTime", RAW_READING_KWH_COL])
    df = df.withColumnRenamed(RAW_READING_KWH_COL, "energy_kwh").withColumnRenamed(
        "stdorToU", "tariff_type"
    )
    df = df.filter(F.col("energy_kwh").isNotNull())
    return TF.with_calendar(df, "DateTime")


def join_tariffs(readings: DataFrame, tariffs: DataFrame) -> DataFrame:
    """Half-hourly ToU tariff attach (`data_preprocessing.py:182`).

    Exact-equality time join: both sides share the half-hourly grid, so
    the as-of semantic collapses to a broadcast equi-join (J1). The
    same tariff applies to every household at a given instant - the
    reference's log text claims LCLid is a key but the code joins on
    timestamp only (SURVEY.md J1 note).
    """
    return J.join_dim(
        readings, tariffs, readings["DateTime"] == tariffs["TariffDateTime"], "left"
    ).drop("TariffDateTime")


def _with_date_parts(df: DataFrame) -> DataFrame:
    """Re-derive the calendar part columns from ``date`` (same
    derivations as functions/timefns.with_calendar, which computed them
    from the timestamp — identical results because they depend only on
    the date)."""
    return (
        df.withColumn("year", F.year("date"))
        .withColumn("month", F.month("date"))
        .withColumn("day", F.dayofmonth("date"))
        .withColumn("weekday", F.date_format("date", "E"))
    )


def hourly_rollup(readings: DataFrame) -> DataFrame:
    """Hourly aggregate per household (`data_preprocessing.py:231-234`).

    Groups on the MINIMAL key (LCLid, date, hour) and re-derives
    year/month/day/weekday from ``date`` after the aggregation: the
    calendar parts are functions of the group key, so carrying them as
    extra group columns only widened every shuffle row (r11, measured
    at 167.9M raw rows / 86M groups: 12.5 -> 8.8 s warm agg, ~30%).
    Results are bit-identical (xxhash64-verified at full scale)."""
    agg = readings.groupBy("LCLid", "date", "hour").agg(
        sum_exact("energy_kwh").alias("hourly_energy_kwh"),
        F.avg("energy_kwh").alias("avg_half_hour_energy"),
        F.count(F.lit(1)).alias("num_readings"),
        F.min("Tariff").alias("Tariff"),  # deterministic; ref used first()
    )
    return _with_date_parts(agg).select(
        "LCLid", "date", "hour", "year", "month", "day", "weekday",
        "hourly_energy_kwh", "avg_half_hour_energy", "num_readings", "Tariff",
    )


def daily_rollup(hourly: DataFrame) -> DataFrame:
    """Daily re-aggregate over hourly (`data_preprocessing.py:246-261`).
    Same minimal-group-key shape as `hourly_rollup` (calendar parts
    re-derived post-agg). All columns verified value-identical to the
    wide-key form at full scale except ``avg_hourly_energy``, which
    keeps the reference's float avg and is therefore accumulation-order
    sensitive in the last ulp under ANY plan change (the deterministic
    columns use sum_exact's decimal accumulation)."""
    agg = hourly.groupBy("LCLid", "date").agg(
        sum_exact("hourly_energy_kwh").alias("daily_energy_kwh"),
        F.avg("hourly_energy_kwh").alias("avg_hourly_energy"),
        F.sum("num_readings").alias("total_readings"),
        F.min("Tariff").alias("Tariff"),
    )
    return _with_date_parts(agg).select(
        "LCLid", "date", "year", "month", "day", "weekday",
        "daily_energy_kwh", "avg_hourly_energy", "total_readings", "Tariff",
    )


def engineer_features(daily: DataFrame) -> DataFrame:
    """Stage-3 feature table (`feature_engineering.py:41-249`): lag
    grid, trailing 7/30-row rolling stats (current row excluded),
    calendar flags, cyclical encodings, tariff one-hots, change /
    deviation / z-score columns; warm-up rows dropped at the end."""
    w = W.entity_window("LCLid", "date")
    df = W.with_lags(daily, "daily_energy_kwh", w, list(LAG_DAYS), prefix="lag_")
    df = W.with_trailing_stats(df, "daily_energy_kwh", w, 7)
    df = W.with_trailing_stats(df, "daily_energy_kwh", w, 30, stats=("avg", "stddev"))

    df = df.withColumn("day_of_week", F.dayofweek("date"))
    df = df.withColumn("is_weekend", TF.is_weekend(F.col("day_of_week")))
    df = df.withColumn("season", TF.season(F.col("month")))
    m_sin, m_cos = TF.cyclical(F.col("month"), 12)
    d_sin, d_cos = TF.cyclical(F.col("day"), 31)
    df = (
        df.withColumn("month_sin", m_sin)
        .withColumn("month_cos", m_cos)
        .withColumn("day_sin", d_sin)
        .withColumn("day_cos", d_cos)
    )
    # Tariff one-hots (feature_engineering.py:160-171)
    for tariff in ("Normal", "Low", "High"):
        df = df.withColumn(
            f"tariff_{tariff.lower()}", (F.col("Tariff") == tariff).cast("int")
        )
    df = df.withColumn("energy_change", F.col("daily_energy_kwh") - F.col("lag_1"))
    df = df.withColumn(
        "energy_change_pct", TF.pct_change(F.col("daily_energy_kwh"), F.col("lag_1"))
    )
    df = df.withColumn(
        "deviation_from_weekly", F.col("daily_energy_kwh") - F.col("rolling_avg_7r")
    )
    df = df.withColumn(
        "zscore_7r",
        F.try_divide(F.col("deviation_from_weekly"), F.col("rolling_stddev_7r")),
    )
    # Warm-up drop restricted to feature columns: the reference's full-row
    # dropna() also nuked rows whose *tariff* was NULL after the left
    # join, silently deleting everything outside tariff coverage
    # (feature_engineering.py:196 + :182) - documented deviation.
    required = [f"lag_{k}" for k in LAG_DAYS] + [
        "rolling_avg_7r",
        "rolling_stddev_7r",
        "rolling_avg_30r",
        "rolling_stddev_30r",
    ]
    return df.na.drop(subset=required)


def preprocess(raw: DataFrame, tariffs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Stage 2 end-to-end: clean -> tariff join -> hourly + daily."""
    cleaned = clean_readings(raw)
    with_tariff = join_tariffs(cleaned, tariffs)
    hourly = hourly_rollup(with_tariff)
    daily = daily_rollup(hourly)
    return hourly, daily


def preprocess_to_parquet(
    spark,
    raw: DataFrame,
    tariffs: DataFrame,
    hourly_path: str,
    daily_path: str,
    daily_files: int = 4,
) -> int:
    """Stage 2 with parquet handoff: write hourly, then derive daily
    FROM THE JUST-WRITTEN HOURLY PARQUET rather than from the lazy
    hourly DataFrame.

    Writing both outputs from the one lazy chain executes the whole
    clean -> tariff-join -> hourly-agg DAG TWICE (once per write
    action) — measured 5.7x-superlinear stage time at 34M raw rows,
    where the re-executed scan+agg dominates. Re-reading the hourly
    parquet makes the daily write a 24x-smaller scan, mirrors the
    reference's per-process disk handoff (`data_preprocessing.py`
    derives daily after persisting hourly), and keeps results
    bit-identical (daily_rollup is a pure re-aggregate of hourly).

    Returns the daily row count, observed in the daily write.
    """
    from smart_energy_consumption_analytics_using_big_data_spark.sources import writers

    cleaned = clean_readings(raw)
    hourly = hourly_rollup(join_tariffs(cleaned, tariffs))
    writers.write_parquet(hourly, hourly_path)
    daily = daily_rollup(spark.read.parquet(hourly_path))
    # shuffle_for_files: coalesce(4) would run the hourly->daily re-agg
    # itself in 4 tasks (86M input rows at full scale, measured ~36 s);
    # repartition keeps the agg wide and shuffles only the daily rows.
    return writers.write_parquet_observed(
        daily, daily_path, _row_count(), num_files=daily_files, shuffle_for_files=True
    )["rows"]


def run_ingest(spark, out: str, readings: str) -> dict:
    """Stage 1, CSV -> typed Parquet (`data_ingestion.py:40-209`): one
    multi-path scan, explicit schema, sentinel-aware - no inferSchema
    pass."""
    from smart_energy_consumption_analytics_using_big_data_spark.sources import readers, writers

    raw = readers.read_csv(spark, readings, READINGS_CSV_SCHEMA)
    rows = writers.write_parquet_observed(raw, f"{out}/{RAW}", _row_count())["rows"]
    return {"stage": "ingest", "rows": rows}


def _load_tariffs(spark, path: str) -> DataFrame:
    from smart_energy_consumption_analytics_using_big_data_spark.sources import readers

    if path.endswith((".xlsx", ".xls")):
        return readers.read_excel_dim(spark, path, expected_columns=["TariffDateTime", "Tariff"])
    return readers.read_csv(spark, path, TARIFFS_SCHEMA, null_value=None)


def run_preprocess(spark, out: str, tariffs: str) -> dict:
    """Stage 2, clean + tariff join + hourly/daily rollups
    (`data_preprocessing.py:88-305`); ``tariffs`` is a CSV or Excel file."""
    daily_rows = preprocess_to_parquet(
        spark,
        spark.read.parquet(f"{out}/{RAW}"),
        _load_tariffs(spark, tariffs),
        f"{out}/{HOURLY}",
        f"{out}/{DAILY}",
    )
    return {"stage": "preprocess", "daily_rows": daily_rows}


def run_features(spark, out: str) -> dict:
    """Stage 3, the 36+-column feature table (`feature_engineering.py:41-249`)."""
    from smart_energy_consumption_analytics_using_big_data_spark.sources import writers

    features = engineer_features(spark.read.parquet(f"{out}/{DAILY}"))
    rows = writers.write_parquet_observed(features, f"{out}/{FEATURES}", _row_count())["rows"]
    return {"stage": "features", "rows": rows}


def _ml_features(spark, out: str) -> DataFrame:
    """The forecast feature frame over the daily artifact. Stages 4 and
    5 each build it with the same plan, so in one session stage 5 reads
    the rows that stage 4's `train_best_forecast` cached."""
    from smart_energy_consumption_analytics_using_big_data_spark.ml import forecast as FC

    daily = spark.read.parquet(f"{out}/{DAILY}").select(
        F.col("LCLid").alias("user_id"),
        "date",
        F.col("daily_energy_kwh").alias("label_value"),
    )
    return FC.add_forecast_features(daily, entity="user_id")


def run_forecast(spark, out: str, test_cutoff, val_cutoff, lr_grid=None, rf_grid=None) -> dict:
    """Stage 4, grid-searched LR vs RF, best-by-RMSE persisted with its
    metadata and test-range predictions (`forecasting_model.py:158-606`).
    ``lr_grid`` and ``rf_grid`` go to `ml.forecast.train_best_forecast`;
    ``None`` keeps its defaults."""
    from smart_energy_consumption_analytics_using_big_data_spark.ml import forecast as FC
    from smart_energy_consumption_analytics_using_big_data_spark.sources import writers

    fc = FC.train_best_forecast(
        _ml_features(spark, out), test_cutoff, val_cutoff, lr_grid=lr_grid, rf_grid=rf_grid
    )
    best = fc.result
    preds = best.predictions.select("user_id", "date", "label_value", "prediction")
    writers.write_parquet(preds, f"{out}/{PREDICTIONS}", num_files=8)
    best.model.write().overwrite().save(f"{out}/{MODEL}")
    _write_model_metadata(f"{out}/{MODEL}", fc)
    return {"stage": "forecast", "best": fc.name,
            "metrics": {k: round(v, 4) for k, v in best.metrics.items()}}


def _write_model_metadata(model_dir: str, fc) -> None:
    """Persist best-model metadata (an `ml.forecast.BestForecast`) next
    to the saved model (`forecasting_model.py:561-571` parity: json for
    machines, txt with the reference's field names for humans)."""
    import datetime
    import pathlib

    from smart_energy_consumption_analytics_using_big_data_spark.ml.forecast import FEATURE_COLS

    best_name, best = fc.name, fc.result
    meta = {
        "best_model": best_name,
        "metrics": {k: round(v, 6) for k, v in best.metrics.items()},
        "best_params": best.best_params,
        "n_features": len(FEATURE_COLS),
        "train_records": fc.train_records,
        "test_records": fc.test_records,
        "trained_on": datetime.datetime.now().strftime("%Y-%m-%d %H:%M:%S"),
    }
    root = pathlib.Path(model_dir)
    root.mkdir(parents=True, exist_ok=True)
    (root / "model_metadata.json").write_text(json.dumps(meta, indent=2))
    (root / "model_metadata.txt").write_text(
        f"Best Model: {best_name}\n"
        f"MAE: {best.metrics.get('mae', float('nan')):.4f}\n"
        f"RMSE: {best.metrics.get('rmse', float('nan')):.4f}\n"
        f"R2: {best.metrics.get('r2', float('nan')):.4f}\n"
        f"Features Used: {len(FEATURE_COLS)}\n"
        f"Training Records: {meta['train_records']}\n"
        f"Test Records: {meta['test_records']}\n"
        f"Trained On: {meta['trained_on']}\n"
    )


def run_anomaly(spark, out: str) -> dict:
    """Stage 5, K-Means + residual + per-cluster z-score
    (`anomaly_detection.py:55-196`) over the forecast features joined
    to stage 4's predictions."""
    from smart_energy_consumption_analytics_using_big_data_spark.ml import anomaly as AN
    from smart_energy_consumption_analytics_using_big_data_spark.sources import writers

    feats = _ml_features(spark, out)
    preds = spark.read.parquet(f"{out}/{PREDICTIONS}").select("user_id", "date", "prediction")
    joined = feats.join(preds, ["user_id", "date"], "left").withColumn(
        "residual", F.abs(F.col("label_value") - F.coalesce("prediction", "label_value"))
    )
    scored = AN.detect_anomalies(
        joined,
        feature_cols=["label_value", "lag_1", "rolling_avg_7r", "day_of_week", "residual"],
    )
    # Rows and flags are observed in the write: any action on the lazy
    # `scored` would run the K-Means transform + join DAG once more
    # (ADVICE r9). The file count is sized from the daily row count
    # instead (a column-free scan of the small daily parquet), which
    # bounds the scored rows from above.
    daily_rows = spark.read.parquet(f"{out}/{DAILY}").count()
    counts = writers.write_parquet_observed(
        scored,
        f"{out}/{ANOMALIES}",
        {**_row_count(), "flagged": F.count(F.when(F.col("is_anomaly") == 1, 1))},
        num_files=writers.target_partitions(daily_rows),
    )
    # stage 4 cached these rows for this stage; nothing reads them after it
    feats.unpersist()
    return {"stage": "anomaly", "rows": counts["rows"], "flagged": counts["flagged"]}


def merge_for_export(
    anomalies: DataFrame,
    predictions: DataFrame,
    daily: DataFrame,
    keys: tuple[str, str] = ("LCLid", "date"),
) -> DataFrame:
    """Document-oriented export merge (S12; `merge_csv_for_mongodb.py:
    18-158` re-expressed as Spark joins instead of driver pandas).

    Left-joins forecast and daily context onto the anomaly table on the
    composite key and fills measure NULLs - the record-per-entity-day
    document an external store ingests. Writing stays in
    sources/writers.py (csv/parquet); a connector sink would slot in
    behind the same DataFrame.
    """
    pred_cols = predictions.select(
        *keys, F.col("prediction").alias("forecast_prediction")
    )
    daily_cols = daily.select(*keys, "daily_energy_kwh", "avg_hourly_energy", "total_readings")
    merged = anomalies.join(pred_cols, list(keys), "left").join(
        daily_cols, list(keys), "left"
    )
    return merged.na.fill(0.0, ["forecast_prediction"])
