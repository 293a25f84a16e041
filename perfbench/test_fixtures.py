"""The benchmark's energy fixture is the engine's own bench fixture.

With seed 42, ``fixtures.write_energy`` must write the same readings
shards, byte for byte, as ``pipeline.energy_bench.make_readings_csv``,
and the same tariff frame as ``make_tariffs_pdf``.

    python3 -m pytest perfbench/test_fixtures.py -q
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import fixtures  # noqa: E402
from smart_energy_consumption_analytics_using_big_data_spark.pipeline import (  # noqa: E402
    energy_bench,
)


def test_energy_fixture_matches_engine_bench_at_seed_42(tmp_path):
    ours, theirs = tmp_path / "ours", tmp_path / "theirs"
    counts = fixtures.write_energy(str(ours), seed=42, households=3)
    rows = energy_bench.make_readings_csv(str(theirs), households=3)
    assert counts["raw_rows"] == rows
    names = sorted(os.listdir(theirs))
    assert names == sorted(os.listdir(ours / fixtures.READINGS_DIR))
    assert len(names) == fixtures.ENERGY_SHARDS
    for name in names:
        assert (ours / fixtures.READINGS_DIR / name).read_bytes() == (theirs / name).read_bytes()
    pd.testing.assert_frame_equal(fixtures.tariffs_frame(42), energy_bench.make_tariffs_pdf())
    engine_tariffs = tmp_path / "engine_tariffs.csv"
    energy_bench.make_tariffs_pdf().to_csv(engine_tariffs, index=False)
    assert (ours / fixtures.TARIFFS_FILE).read_bytes() == engine_tariffs.read_bytes()


def test_fixtures_follow_the_seed(tmp_path):
    a = fixtures.readings_frame(7, 2)
    assert a.equals(fixtures.readings_frame(7, 2))
    assert not a.equals(fixtures.readings_frame(8, 2))
    t1, t2 = fixtures.table_frames(7, 0.001), fixtures.table_frames(7, 0.001)
    assert all(t1[name].equals(t2[name]) for name in t1)
    assert not t1["lineitem"].equals(fixtures.table_frames(8, 0.001)["lineitem"])


def test_daily_row_count_counts_valid_household_days(tmp_path):
    counts = fixtures.write_energy(str(tmp_path), seed=42, households=2)
    pdf = fixtures.readings_frame(42, 2)
    valid = pdf[~pdf[fixtures.KWH_COL].isin(["Null", ""])]
    expected = len(valid.assign(day=valid["DateTime"].str[:10])[["LCLid", "day"]].drop_duplicates())
    assert counts["daily_rows"] == expected
    assert counts["raw_rows"] == len(pdf)
