"""Every size gate (sources/catalog.SIZE_GATES) tested both ways.

Each gated query runs at sf0.001 with its gate forced on (threshold 0)
and forced off (threshold 2**62). Both branches must match the DuckDB
oracle (rows-only queries: give the same rows), log the branch they
took, and reach the physical plan. A tooling test keeps
`sources/catalog.size_gate` the only place a gate is decided.
"""

from __future__ import annotations

import ast
import logging
from pathlib import Path

import duckdb
import pytest

from smart_energy_consumption_analytics_using_big_data_spark.plans import ORACLE, QUERIES
from smart_energy_consumption_analytics_using_big_data_spark.sources import catalog
from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import (
    SIZE_GATES,
    TESTDATA_TABLES,
    size_gate,
    size_gate_env,
    table_size_bytes,
)

from tests._parity import assert_df_matches_oracle
from tests.conftest import SF_SMOKE

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "smart_energy_consumption_analytics_using_big_data_spark"

# query -> the gate it reads
GATED = {
    "q_sql_min_cost_supplier": "mcs_prefilter",
    "q_dedup_winnow": "winnow_guard",
    "q_dedup_winnow_fast": "winnow_guard",
    "q_dedup_winnow_arrow": "winnow_guard",
    "q_graph_bfs": "bfs_adj",
}
# a plan node the gate's "on" branch adds: the pre-filter and the
# winnow guard plan a semi join, the BFS fold a collect_set per node
ON_MARKER = {"mcs_prefilter": "LeftSemi", "winnow_guard": "LeftSemi", "bfs_adj": "collect_set"}
FORCE = {"on": "0", "off": str(2**62)}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{SF_SMOKE}/{name}.parquet'")
    return con


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_gated_queries_cover_every_gate():
    assert set(GATED.values()) == set(SIZE_GATES)
    assert set(ON_MARKER) == set(SIZE_GATES)


@pytest.mark.parametrize("name", sorted(GATED))
def test_gated_query_both_branches(spark, duck, monkeypatch, caplog, name):
    gate = GATED[name]
    caplog.set_level(logging.INFO, logger=catalog.__name__)
    built = {}
    for branch, threshold in FORCE.items():
        monkeypatch.setenv(size_gate_env(gate), threshold)
        caplog.clear()
        built[branch] = QUERIES[name](spark, SF_SMOKE)
        # one decision (one FS stat) per build, and it took the forced branch
        decisions = [
            r.getMessage() for r in caplog.records if r.getMessage().startswith("size gate ")
        ]
        assert len(decisions) == 1, decisions
        assert decisions[0].startswith(f"size gate {gate}: {SIZE_GATES[gate]} bytes=")
        assert decisions[0].endswith(f"threshold={threshold} -> {branch}"), decisions
    try:
        marker = {b: _formatted_plan(df).count(ON_MARKER[gate]) for b, df in built.items()}
        assert marker["on"] > marker["off"], marker
        if name == "q_sql_min_cost_supplier":
            assert marker["off"] == 0  # the pre-filter is the plan's only semi join
        if name in ORACLE:
            for df in built.values():
                assert_df_matches_oracle(df, duck, ORACLE[name])
        else:
            on, off = (sorted(map(tuple, built[b].collect())) for b in FORCE)
            assert on == off and len(on) > 0
    finally:
        spark.catalog.clearCache()  # caller-owned BFS caches


def test_size_gate_override_and_missing_table(spark, monkeypatch, tmp_path):
    size = table_size_bytes(spark, SF_SMOKE, "lineitem")
    assert isinstance(size, int) and size > 0
    assert table_size_bytes(spark, SF_SMOKE, "no_such_table") is None
    for gate in SIZE_GATES:
        var = size_gate_env(gate)
        monkeypatch.delenv(var, raising=False)
        assert size_gate(spark, SF_SMOKE, gate) is False  # sf0.001 is far below 64 MiB
        monkeypatch.setenv(var, "0")
        assert size_gate(spark, SF_SMOKE, gate) is True
        assert size_gate(spark, str(tmp_path), gate) is False  # missing table: small
        monkeypatch.setenv(var, "64MiB")
        with pytest.raises(ValueError, match=var):
            size_gate(spark, SF_SMOKE, gate)


def gate_readers(package: Path) -> list[str]:
    """`file:line` of every env read of a `SPARK_GRAFT_*_BYTES` name
    (`os.environ.get`, `os.environ[...]`, `os.getenv`) and every call
    of `table_size_bytes` in `package`, outside sources/catalog.py.
    Docstrings and comments are not code and do not count."""

    def gate_name(node) -> bool:
        return (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.startswith("SPARK_GRAFT_")
            and node.value.endswith("_BYTES")
        )

    def attr(node) -> str | None:
        if isinstance(node, ast.Attribute):
            return node.attr
        if isinstance(node, ast.Name):
            return node.id
        return None

    found = []
    for path in sorted(package.rglob("*.py")):
        if path == package / "sources" / "catalog.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                fn = node.func
                env_get = attr(fn) == "getenv" or (
                    attr(fn) == "get" and attr(getattr(fn, "value", None)) == "environ"
                )
                reads = env_get and node.args and gate_name(node.args[0])
                hit = reads or attr(fn) == "table_size_bytes"
            else:
                hit = (
                    isinstance(node, ast.Subscript)
                    and attr(node.value) == "environ"
                    and gate_name(node.slice)
                )
            if hit:
                found.append(f"{path.relative_to(package)}:{node.lineno}")
    return found


def test_size_gates_decided_only_in_catalog():
    assert gate_readers(PACKAGE) == []
