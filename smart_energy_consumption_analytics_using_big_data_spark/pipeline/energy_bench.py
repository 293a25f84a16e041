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
pipeline-vs-pipeline number, not a proxy. The stages are the CLI's own
stage functions (`pipeline.energy.run_ingest` ... `run_anomaly`), so
the anchor times what `cli all` runs, model save included.

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

from smart_energy_consumption_analytics_using_big_data_spark.pipeline import energy

SEED = 42
# households per unit SF: sf0.1 -> 100, sf0.01 -> 10 (floor)
HOUSEHOLDS_PER_SF = 1000
# mirror the reference's 2013 LCL window and its time-split cutoffs
# (`forecasting_model.py:366`: test 2013-10-01, inner val 2013-08-01)
RANGE_START = "2013-01-01"
RANGE_END = "2013-12-31 23:30:00"
TEST_CUTOFF = "2013-10-01"
VAL_CUTOFF = "2013-08-01"
# The reference's stage-4 search: 9-point LR grid (regParam {0.01,0.1,1.0}
# x elasticNet {0.0,0.5,1.0}, `forecasting_model.py:272-282`) and RF
# {50,100} trees x {5,10} depth (`forecasting_model.py:350-355`).
REFERENCE_GRID = {
    "lr_grid": ((0.01, 0.1, 1.0), (0.0, 0.5, 1.0)),
    "rf_grid": ((50, 5), (50, 10), (100, 5), (100, 10)),
}


def _readings_frame(rng, houses: range, range_start: str) -> pd.DataFrame:
    """Readings of households ``houses`` drawn from ``rng``, with the SS1
    quirks applied: ~3% of grid rows missing, ~0.5% literal "Null"
    kWh sentinels, ~0.2% empties."""
    times = pd.date_range(range_start, RANGE_END, freq="30min")
    tstr = times.strftime("%Y-%m-%d %H:%M:%S")
    intraday = 0.5 + 0.5 * np.sin(
        2 * np.pi * (times.hour * 2 + times.minute // 30) / 48
    )
    frames = []
    for i in houses:
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
    return pdf


def make_readings_csv(
    out_dir: str, households: int, shards: int = 12, range_start: str = RANGE_START
) -> int:
    """Write the deterministic multi-shard readings fixture; returns
    the raw row count. Column quirks are load-bearing (FIXTURES.md SS1):
    the kWh column name ends in a space, plus the `_readings_frame`
    sentinels and gaps."""
    pdf = _readings_frame(np.random.default_rng(SEED), range(households), range_start)
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
    pdf = _readings_frame(rng, range(house_lo, house_hi), range_start)
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
    20-tree RF; "reference" runs `REFERENCE_GRID`, the reference's exact
    stage-4 search with inner time-split validation, so the stage-4 time is
    apples-to-apples with BASELINE.md's 35.98-min training stage."""
    if grid not in ("default", "reference"):
        raise ValueError(f"unknown grid {grid!r}: expected 'default' or 'reference'")
    if generator not in ("driver", "sharded"):
        raise ValueError(f"unknown generator {generator!r}")
    csv_dir = os.path.join(work_dir, "readings_csv")
    tariffs_csv = os.path.join(work_dir, "tariffs.csv")
    out = os.path.join(work_dir, "out")
    gen = make_readings_csv_sharded if generator == "sharded" else make_readings_csv
    raw_rows = gen(csv_dir, households, shards, range_start=range_start)
    make_tariffs_pdf(range_start).to_csv(tariffs_csv, index=False)
    # Drain the fixture's dirty pages before the timed window opens:
    # at the 11 GB full-scale fixture, background writeback otherwise
    # competes with stage 1-2 I/O for minutes and lands generation cost
    # inside the measured stages (r11: a warm preprocess measured 107 s
    # solo but 329 s when stage 2 started right behind generation).
    os.sync()
    grids = REFERENCE_GRID if grid == "reference" else {}
    # The forecast stage overlaps its LR and RF searches, with the same
    # pick as fitting them in turn (OPTIMIZATION_r16.md, "Pipeline stage
    # 4: LR and RF searches overlapped"), and includes saving the model.
    runs = {
        "ingest": lambda: energy.run_ingest(spark, out, csv_dir),
        "preprocess": lambda: energy.run_preprocess(spark, out, tariffs_csv),
        "features": lambda: energy.run_features(spark, out),
        "forecast": lambda: energy.run_forecast(spark, out, test_cutoff, val_cutoff, **grids),
        "anomaly": lambda: energy.run_anomaly(spark, out),
    }
    stages: dict[str, float] = {}
    records: dict[str, dict] = {}
    for name, run in runs.items():
        t0 = time.time()
        records[name] = run()
        stages[name] = time.time() - t0

    return {
        "stages": {k: round(v, 3) for k, v in stages.items()},
        "total": round(sum(stages.values()), 3),
        "raw_rows": raw_rows,
        "households": households,
        "grid": grid,
        "range_start": range_start,
        "generator": generator,
        "flagged": records["anomaly"]["flagged"],
        "best_model": records["forecast"]["best"],
        "rmse": records["forecast"]["metrics"]["rmse"],
    }
