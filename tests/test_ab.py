"""scripts/ab.py: a passing run reports every field and leaves the
environment as it found it; a pair whose rows differ stops at the
equality gate, before any warm-up or timed rep."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))

import ab

from smart_energy_consumption_analytics_using_big_data_spark.plans import QUERIES
from tests.conftest import SF_SMOKE

FIELDS = {
    "samples_s",
    "median_s",
    "iqr_s",
    "wins",
    "pairs",
    "except_all",
    "cpu_s",
    "run_s",
    "shuffle_write_mib",
    "spill_mib",
    "gc_s",
    "jobs",
}
builds: list[str | None] = []


def drop_rows(spark, sf_dir):
    """q_flagship without its first-sorted row; records the override it saw."""
    builds.append(os.environ.get("AB_TEST_MARK"))
    full = QUERIES["q_flagship"](spark, sf_dir)
    first = full.orderBy(*full.columns).limit(1)
    return full.exceptAll(first)


def tiny(spark, sf_dir):
    return spark.range(10)


def test_ab_records_every_field_and_restores_env(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MCS_PREFILTER_BYTES", raising=False)
    env_before = dict(os.environ)
    a = ab.parse_variant("A", "q_sql_min_cost_supplier SPARK_GRAFT_MCS_PREFILTER_BYTES=0")
    b = ab.parse_variant("B", "q_sql_min_cost_supplier")
    records = ab.run(spark, SF_SMOKE, a, b, reps=2)
    assert dict(os.environ) == env_before
    assert [r["variant"] for r in records] == ["A", "B"]
    for record in records:
        assert FIELDS <= record.keys(), FIELDS - record.keys()
        assert record["except_all"] == [0, 0]
        assert len(record["samples_s"]) == record["pairs"] == 2
        assert record["jobs"] > 0 and record["cpu_s"] > 0
    assert records[0]["wins"] + records[1]["wins"] <= 2
    # a second run reuses the job group names; it must not count the
    # first run's jobs under them as its own
    tiny_a, tiny_b = (ab.parse_variant(label, f"{__name__}:tiny") for label in "AB")
    assert [r["jobs"] for r in ab.run(spark, SF_SMOKE, tiny_a, tiny_b, reps=1)] == [1, 1]


def test_ab_equality_gate_raises_before_any_timing(spark, monkeypatch):
    def no_timing(*args, **kwargs):
        raise AssertionError("a rep was timed after the equality gate failed")

    monkeypatch.setattr(ab, "Tracer", no_timing)
    monkeypatch.delenv("AB_TEST_MARK", raising=False)
    builds.clear()
    a = ab.parse_variant("A", "q_flagship")
    b = ab.parse_variant("B", f"{__name__}:drop_rows AB_TEST_MARK=1")
    with pytest.raises(ab.EqualityError, match=r"= 1 rows, reverse = 0"):
        ab.run(spark, SF_SMOKE, a, b, reps=2)
    # built once, for the gate: no warm-up and no rep followed it
    assert builds == ["1"]
    assert "AB_TEST_MARK" not in os.environ


def test_parse_variant_rejects_bare_override():
    with pytest.raises(ValueError, match="KEY=VALUE"):
        ab.parse_variant("A", "q_flagship SPARK_GRAFT_MCS_PREFILTER_BYTES")
    assert ab.parse_variant("A", "q_flagship X=1 Y=a=b").env == {"X": "1", "Y": "a=b"}
