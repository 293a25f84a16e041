"""End-to-end energy-pipeline benchmark: the apples-to-apples anchor
against BASELINE.md's stage table.

The reference publishes per-STAGE wall times for its 5-process batch
pipeline (`HADOOP_MAPREDUCE_ANALYSIS.md:274-280`: ingest 9.55 min,
preprocess 41.72, features 26.62, training 35.98, anomaly ~0.88;
total 114.05 min for 167.9M raw rows). The headline bench suite is a
query-shaped proxy; this module times the SAME five stages as one
chain — CSV ingest -> typed parquet -> clean/tariff-join/rollups ->
feature table -> LR-grid + RF forecast -> K-Means anomaly scoring —
with parquet materialized between stages exactly like the reference's
per-process handoff, so `energy_pipeline_total` in BENCH_r*.json is a
pipeline-vs-pipeline number, not a proxy.

Fixture: deterministic synthetic LCL-shaped readings (FIXTURES.md SS1
— trailing-space kWh column, "Null" sentinels, multi-shard CSV) on the
full-year 2013 half-hourly grid, household count scaled by SF
(sf0.1 -> 100 households -> ~1.75M raw rows). Generation happens
OUTSIDE the timed window; only engine work is measured.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

SEED = 42
# households per unit SF: sf0.1 -> 100, sf0.01 -> 10 (floor)
HOUSEHOLDS_PER_SF = 1000
# mirror the reference's 2013 LCL window and its time-split cutoffs
# (`forecasting_model.py:366`: test 2013-10-01, inner val 2013-08-01)
RANGE_START = "2013-01-01"
RANGE_END = "2013-12-31 23:30:00"
TEST_CUTOFF = "2013-10-01"
VAL_CUTOFF = "2013-08-01"


def make_readings_csv(
    out_dir: str, households: int, shards: int = 12, range_start: str = RANGE_START
) -> int:
    """Write the deterministic multi-shard readings fixture; returns
    the raw row count. Column quirks are load-bearing (FIXTURES.md SS1):
    the kWh column name ends in a space, ~0.5% literal "Null" sentinels,
    ~0.2% empties, ~3% of grid rows missing."""
    rng = np.random.default_rng(SEED)
    times = pd.date_range(range_start, RANGE_END, freq="30min")
    tstr = times.strftime("%Y-%m-%d %H:%M:%S")
    intraday = 0.5 + 0.5 * np.sin(
        2 * np.pi * (times.hour * 2 + times.minute // 30) / 48
    )
    frames = []
    for i in range(households):
        level = rng.lognormal(mean=-1.0, sigma=0.3)
        kwh = level * intraday * rng.lognormal(mean=0, sigma=0.2, size=len(times))
        frames.append(
            pd.DataFrame(
                {
                    "LCLid": f"MAC{i + 1:06d}",
                    "stdorToU": "Std" if i % 10 < 7 else "ToU",
                    "DateTime": tstr,
                    "KWH/hh (per half hour) ": np.round(kwh, 4).astype(str),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    keep = rng.random(len(pdf)) > 0.03
    pdf = pdf[keep].reset_index(drop=True)
    pdf.loc[rng.random(len(pdf)) < 0.005, "KWH/hh (per half hour) "] = "Null"
    pdf.loc[rng.random(len(pdf)) < 0.002, "KWH/hh (per half hour) "] = ""
    os.makedirs(out_dir, exist_ok=True)
    for i, shard in enumerate(np.array_split(pdf, shards)):
        shard.to_csv(os.path.join(out_dir, f"block_{i}.csv"), index=False)
    return len(pdf)


def _gen_readings_shard(args: tuple) -> int:
    """One shard of the full-scale fixture (module-level for process
    pool pickling): generate its contiguous household block with an rng
    seeded [SEED, shard index], apply the SS1 quirk masks shard-locally,
    write one CSV. Same distributions and quirk rates as
    `make_readings_csv`; the random stream differs (per-shard seeding is
    what makes generation parallel and memory-bounded), which is fine
    for a NEW scale point — recorded curve points keep the sequential
    generator so their flag counts stay reproducible."""
    out_dir, shard_i, house_lo, house_hi, range_start = args
    rng = np.random.default_rng([SEED, shard_i])
    times = pd.date_range(range_start, RANGE_END, freq="30min")
    tstr = times.strftime("%Y-%m-%d %H:%M:%S")
    intraday = 0.5 + 0.5 * np.sin(
        2 * np.pi * (times.hour * 2 + times.minute // 30) / 48
    )
    frames = []
    for i in range(house_lo, house_hi):
        level = rng.lognormal(mean=-1.0, sigma=0.3)
        kwh = level * intraday * rng.lognormal(mean=0, sigma=0.2, size=len(times))
        frames.append(
            pd.DataFrame(
                {
                    "LCLid": f"MAC{i + 1:06d}",
                    "stdorToU": "Std" if i % 10 < 7 else "ToU",
                    "DateTime": tstr,
                    "KWH/hh (per half hour) ": np.round(kwh, 4).astype(str),
                }
            )
        )
    pdf = pd.concat(frames, ignore_index=True)
    keep = rng.random(len(pdf)) > 0.03
    pdf = pdf[keep].reset_index(drop=True)
    pdf.loc[rng.random(len(pdf)) < 0.005, "KWH/hh (per half hour) "] = "Null"
    pdf.loc[rng.random(len(pdf)) < 0.002, "KWH/hh (per half hour) "] = ""
    pdf.to_csv(os.path.join(out_dir, f"block_{shard_i}.csv"), index=False)
    return len(pdf)


def make_readings_csv_sharded(
    out_dir: str,
    households: int,
    shards: int = 112,
    range_start: str = RANGE_START,
    workers: int | None = None,
) -> int:
    """Full-scale variant of `make_readings_csv`: shards generate in
    parallel OS processes with per-shard rngs, so driver memory is
    bounded by one shard's frame instead of the whole corpus (the
    sequential generator concatenates every household — fine to ~34M
    rows, hopeless at the reference's 167.9M). 112 shards mirrors the
    LCL dataset's own block-CSV layout. Generation is an UNTIMED
    fixture step either way."""
    os.makedirs(out_dir, exist_ok=True)
    from concurrent.futures import ProcessPoolExecutor

    bounds = np.linspace(0, households, shards + 1).astype(int)
    jobs = [
        (out_dir, i, int(bounds[i]), int(bounds[i + 1]), range_start)
        for i in range(shards)
        if bounds[i + 1] > bounds[i]
    ]
    with ProcessPoolExecutor(max_workers=workers or min(16, len(jobs))) as ex:
        return sum(ex.map(_gen_readings_shard, jobs))


def make_tariffs_pdf(range_start: str = RANGE_START) -> pd.DataFrame:
    """Half-hourly ToU tariff dimension over the full fixture window
    (FIXTURES.md SS2): daily blocks, Normal-dominant."""
    rng = np.random.default_rng(SEED)
    times = pd.date_range(range_start, RANGE_END, freq="30min")
    blocks = rng.choice(
        ["Normal", "Low", "High"], size=(len(times) // 48) + 1, p=[0.85, 0.1, 0.05]
    )
    return pd.DataFrame(
        {"TariffDateTime": times, "Tariff": np.repeat(blocks, 48)[: len(times)]}
    )


def run_pipeline_bench(
    spark,
    work_dir: str,
    households: int,
    shards: int = 12,
    test_cutoff: str = TEST_CUTOFF,
    val_cutoff: str = VAL_CUTOFF,
    grid: str = "default",
    range_start: str = RANGE_START,
    generator: str = "driver",
) -> dict:
    """Generate the fixture (untimed), then time the reference's five
    stages with parquet handoff between them. Returns
    {"stages": {name: sec}, "total": sec, "raw_rows": n, ...}.

    ``grid``: "default" fits the library's 4-point LR grid + single
    20-tree RF; "reference" reproduces the reference's exact stage-4
    search — 9-point LR grid (regParam {0.01,0.1,1.0} x elasticNet
    {0.0,0.5,1.0}, `forecasting_model.py:272-282`) and RF grid
    {50,100} trees x {5,10} depth with inner time-split validation
    (`forecasting_model.py:350-355`) — so the stage-4 time is
    apples-to-apples with BASELINE.md's 35.98-min training stage."""
    if grid not in ("default", "reference"):
        raise ValueError(f"unknown grid {grid!r}: expected 'default' or 'reference'")
    from smart_energy_consumption_analytics_using_big_data_spark.ml import anomaly as AN
    from smart_energy_consumption_analytics_using_big_data_spark.ml import forecast as FC
    from smart_energy_consumption_analytics_using_big_data_spark.pipeline import energy
    from smart_energy_consumption_analytics_using_big_data_spark.sources import readers, writers
    from smart_energy_consumption_analytics_using_big_data_spark.sources.schemas import (
        READINGS_CSV_SCHEMA,
        TARIFFS_SCHEMA,
    )

    if generator not in ("driver", "sharded"):
        raise ValueError(f"unknown generator {generator!r}")
    csv_dir = os.path.join(work_dir, "readings_csv")
    out = os.path.join(work_dir, "out")
    gen = make_readings_csv_sharded if generator == "sharded" else make_readings_csv
    raw_rows = gen(csv_dir, households, shards, range_start=range_start)
    # Drain the fixture's dirty pages before the timed window opens:
    # at the 11 GB full-scale fixture, background writeback otherwise
    # competes with stage 1-2 I/O for minutes and lands generation cost
    # inside the measured stages (r11: a warm preprocess measured 107 s
    # solo but 329 s when stage 2 started right behind generation).
    os.sync()
    tariffs = readers.dim_from_pandas(
        spark,
        make_tariffs_pdf(range_start),
        schema=TARIFFS_SCHEMA,
        expected_columns=["TariffDateTime", "Tariff"],
    )
    stages: dict[str, float] = {}

    # Stage 1 — ingest: multi-shard CSV -> typed parquet
    # (data_ingestion.py:40-209; baseline 9.55 min)
    t0 = time.time()
    raw = readers.read_csv(spark, csv_dir, READINGS_CSV_SCHEMA)
    writers.write_parquet(raw, f"{out}/raw_energy_data")
    stages["ingest"] = time.time() - t0

    # Stage 2 — preprocess: clean + tariff join + hourly/daily rollups
    # (data_preprocessing.py:88-305; baseline 41.72 min)
    t0 = time.time()
    energy.preprocess_to_parquet(
        spark,
        spark.read.parquet(f"{out}/raw_energy_data"),
        tariffs,
        f"{out}/hourly",
        f"{out}/daily",
    )
    stages["preprocess"] = time.time() - t0

    # Stage 3 — feature engineering: the 36+-column feature table
    # (feature_engineering.py:41-249; baseline 26.62 min)
    t0 = time.time()
    writers.write_parquet(
        energy.engineer_features(spark.read.parquet(f"{out}/daily")),
        f"{out}/energy_features",
    )
    stages["features"] = time.time() - t0

    # Stage 4 — forecast training: LR grid (inner time split) vs RF,
    # best persisted (forecasting_model.py:158-606; baseline 35.98 min)
    t0 = time.time()
    daily_ml = spark.read.parquet(f"{out}/daily").select(
        F.col("LCLid").alias("user_id"),
        "date",
        F.col("daily_energy_kwh").alias("label_value"),
    )
    feats = FC.add_forecast_features(daily_ml, entity="user_id")
    # The LR and RF searches overlap on two driver threads over `feats`
    # materialized once (FC.train_best_forecast). Models, metrics and
    # the selection equal the sequential order (verified: rmse/params
    # signature equality across interleaved reps, and flags/RMSE on the
    # full-scale anchor; OPTIMIZATION_r16.md, "Pipeline stage 4: LR and
    # RF searches overlapped").
    if grid == "reference":
        fc = FC.train_best_forecast(
            feats,
            test_cutoff,
            val_cutoff,
            lr_grid=((0.01, 0.1, 1.0), (0.0, 0.5, 1.0)),
            rf_grid=((50, 5), (50, 10), (100, 5), (100, 10)),
        )
    else:
        fc = FC.train_best_forecast(feats, test_cutoff, val_cutoff)
    writers.write_parquet(
        fc.result.predictions.select("user_id", "date", "label_value", "prediction"),
        f"{out}/forecasting_results",
        num_files=8,
    )
    stages["forecast"] = time.time() - t0

    # Stage 5 — anomaly: K-Means + residual + per-cluster z-score
    # (anomaly_detection.py:55-196; baseline 0.88)
    t0 = time.time()
    preds = spark.read.parquet(f"{out}/forecasting_results").select(
        "user_id", "date", "prediction"
    )
    joined = feats.join(preds, ["user_id", "date"], "left").withColumn(
        "residual",
        F.abs(F.col("label_value") - F.coalesce("prediction", "label_value")),
    )
    scored = AN.detect_anomalies(
        joined,
        feature_cols=["label_value", "lag_1", "rolling_avg_7r", "day_of_week", "residual"],
    )
    # flags observed IN the write: counting the lazy `scored` would
    # re-execute the whole K-Means transform + join DAG a second time
    # inside the timed window, inflating the stage vs the reference's
    # single-pass 0.88-min baseline (ADVICE r9).
    flagged = writers.write_parquet_observed(
        scored,
        f"{out}/anomalies",
        {"flagged": F.count(F.when(F.col("is_anomaly") == 1, 1))},
    )["flagged"]
    stages["anomaly"] = time.time() - t0
    feats.unpersist()

    return {
        "stages": {k: round(v, 3) for k, v in stages.items()},
        "total": round(sum(stages.values()), 3),
        "raw_rows": raw_rows,
        "households": households,
        "grid": grid,
        "range_start": range_start,
        "generator": generator,
        "flagged": flagged,
        "best_model": fc.name,
        "rmse": round(fc.result.metrics["rmse"], 4),
    }
