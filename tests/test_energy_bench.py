"""End-to-end pipeline bench (`pipeline/energy_bench.py`) contract:
the five reference stages run as one chain on the deterministic
fixture, every stage is timed, and the result record carries the
fields BENCH_r*.json publishes against BASELINE.md's stage table."""

from __future__ import annotations

import json
import os

import pytest

from smart_energy_consumption_analytics_using_big_data_spark.pipeline.energy_bench import (
    make_readings_csv,
    run_pipeline_bench,
)

STAGES = ("ingest", "preprocess", "features", "forecast", "anomaly")


def test_fixture_is_deterministic_and_sharded(tmp_path):
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    n1 = make_readings_csv(d1, households=2, shards=3)
    n2 = make_readings_csv(d2, households=2, shards=3)
    assert n1 == n2 > 0
    assert sorted(os.listdir(d1)) == ["block_0.csv", "block_1.csv", "block_2.csv"]
    with open(os.path.join(d1, "block_0.csv")) as a, open(
        os.path.join(d2, "block_0.csv")
    ) as b:
        assert a.read() == b.read()


def test_pipeline_bench_rejects_unknown_grid(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown grid"):
        run_pipeline_bench(spark, str(tmp_path), households=2, grid="huge")


def test_pipeline_bench_reference_grid(spark, tmp_path):
    """--grid reference reproduces the reference's stage-4 search shape
    (9-point LR grid + RF {50,100}x{5,10} with inner validation) and
    still completes the five-stage chain with valid artifacts."""
    res = run_pipeline_bench(
        spark, str(tmp_path), households=2, shards=3, grid="reference"
    )
    assert tuple(res["stages"]) == STAGES
    assert res["grid"] == "reference"
    assert res["best_model"] in ("lr", "rf")
    assert res["rmse"] > 0


def test_pipeline_bench_runs_all_stages(spark, tmp_path):
    res = run_pipeline_bench(spark, str(tmp_path), households=2, shards=3)
    assert tuple(res["stages"]) == STAGES
    assert res["grid"] == "default"
    assert all(v > 0 for v in res["stages"].values())
    assert res["total"] >= max(res["stages"].values())
    assert res["raw_rows"] > 30_000  # 2 households x full-year half-hourly
    assert res["flagged"] >= 0
    assert res["best_model"] in ("lr", "rf")
    # stage handoff artifacts exist on disk, like the reference's
    # per-process parquet handoff
    out = tmp_path / "out"
    for artifact in (
        "raw_energy_data",
        "hourly",
        "daily",
        "energy_features",
        "forecasting_results",
        "models/best",
        "anomalies",
    ):
        assert (out / artifact).is_dir()
    # the anchor runs the shipped forecast stage, model save included
    meta = json.loads((out / "models/best/model_metadata.json").read_text())
    assert meta["best_model"] == res["best_model"]
    assert meta["metrics"]["rmse"] == pytest.approx(res["rmse"], abs=1e-4)


def test_sharded_fixture_generator(tmp_path):
    """The full-scale generator (process-pool, per-shard rng): same
    row-count determinism contract, shard layout, and SS1 column quirks
    as the sequential generator; household blocks are contiguous and
    complete (every MAC id appears in exactly one shard)."""
    import csv

    from smart_energy_consumption_analytics_using_big_data_spark.pipeline.energy_bench import (
        make_readings_csv_sharded,
    )

    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    n1 = make_readings_csv_sharded(d1, households=5, shards=3, workers=2)
    n2 = make_readings_csv_sharded(d2, households=5, shards=3, workers=2)
    assert n1 == n2 > 0
    assert sorted(os.listdir(d1)) == ["block_0.csv", "block_1.csv", "block_2.csv"]
    with open(os.path.join(d1, "block_1.csv")) as a, open(
        os.path.join(d2, "block_1.csv")
    ) as b:
        assert a.read() == b.read()
    seen = set()
    for i in range(3):
        with open(os.path.join(d1, f"block_{i}.csv")) as fh:
            rows = list(csv.DictReader(fh))
        assert rows and "KWH/hh (per half hour) " in rows[0]  # trailing space
        seen.update(r["LCLid"] for r in rows)
    assert seen == {f"MAC{i + 1:06d}" for i in range(5)}


def test_pipeline_bench_rejects_unknown_generator(spark, tmp_path):
    with pytest.raises(ValueError, match="unknown generator"):
        run_pipeline_bench(spark, str(tmp_path), households=2, generator="gpu")


def test_pipeline_bench_sharded_generator_extended_range(spark, tmp_path):
    """generator='sharded' + an earlier range_start: the chain must run
    on the longer grid and report the fixture provenance fields the
    full-scale anchor (scripts/pipeline_fullscale.py) records."""
    res = run_pipeline_bench(
        spark,
        str(tmp_path),
        households=2,
        shards=2,
        range_start="2012-03-24",
        generator="sharded",
    )
    assert res["generator"] == "sharded"
    assert res["range_start"] == "2012-03-24"
    # 2 households x 31,104 slots x ~0.97 keep-rate
    assert res["raw_rows"] > 55_000
    assert tuple(res["stages"]) == STAGES
