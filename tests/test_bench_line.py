"""bench.py stdout contract: ONE JSON line that fits the driver's
~2 KB tail-capture window.

BENCH_r14.json recorded `parsed: null` because the printed line
embedded the full PIPELINE_FULLSCALE.json record (multi-KB
notes/description prose) and overflowed the capture window, truncating
the JSON mid-line and blinding the round-over-round grading (VERDICT
r15 item 1). The compaction lives in bench.compact_fullscale /
bench.emit_line; these tests pin it against the repo's REAL artifacts
so suite growth that would re-overflow the window fails here first.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402


def _representative_line() -> dict:
    """The stdout record bench.main() would print today: every
    mandatory key, the real query list, and the real fullscale summary."""
    out = {
        "metric": "headline_suite_total",
        "value": 99.999,
        "unit": "sec",
        "queries": {name: 99.999 for name in bench.BENCH_QUERIES},
        "sf": 0.1,
        "energy_pipeline_total": 99.999,
        "energy_pipeline_refgrid_forecast": 99.999,
        "energy_pipeline_refgrid_total": 99.999,
        "diagnostics": {name: 99.999 for name in bench.DIAGNOSTIC_QUERIES},
        "value_diagnostics": 99.999,
        "suite_reps": bench.SUITE_REPS,
        "calibration": {
            k: 9.999
            for k in ("jvm", "arrow", "pyworker", "jvm_end", "arrow_end", "pyworker_end")
        },
        "value_small": 99.999,
    }
    fullscale_path = os.path.join(REPO, "PIPELINE_FULLSCALE.json")
    with open(fullscale_path) as fh:
        out["energy_pipeline_fullscale"] = bench.compact_fullscale(json.load(fh))
    return out


def test_compact_fullscale_drops_prose():
    with open(os.path.join(REPO, "PIPELINE_FULLSCALE.json")) as fh:
        full = json.load(fh)
    compact = bench.compact_fullscale(full)
    assert "notes" not in compact and "description" not in compact
    assert compact["total_sec"] == full["total_sec"]
    assert compact["flagged"] == full["flagged"]
    assert compact["rmse"] == full["rmse"]
    # the summary itself must be small
    assert len(json.dumps(compact)) < 300


def test_emitted_line_fits_capture_window():
    line = bench.emit_line(_representative_line())
    assert len(line) <= 2000, f"bench stdout line is {len(line)} bytes"
    parsed = json.loads(line)
    # the driver's mandatory keys survive compaction
    assert parsed["metric"] == "headline_suite_total"
    assert set(parsed["queries"]) == set(bench.BENCH_QUERIES)


def test_emit_line_guard_drops_only_fullscale(capsys):
    out = _representative_line()
    # force the guard with a limit that dropping the fullscale summary
    # alone meets: the fullscale summary goes, every other key stays
    rest = {k: v for k, v in out.items() if k != "energy_pipeline_fullscale"}
    limit = len(json.dumps({**rest, "energy_pipeline_fullscale_dropped": True}))
    slim = json.loads(bench.emit_line(out, limit=limit))
    assert "energy_pipeline_fullscale" not in slim
    assert slim["energy_pipeline_fullscale_dropped"] is True
    assert set(slim) == set(out) - {"energy_pipeline_fullscale"} | {
        "energy_pipeline_fullscale_dropped"
    }
    assert "energy_pipeline_fullscale" in capsys.readouterr().err


def test_emit_line_sheds_second_key_for_oversized_payload(capsys):
    """A payload still over the limit without the fullscale summary
    also sheds the diagnostics map, marks both drops and warns."""
    out = _representative_line()
    out["diagnostics"] = {f"q_padding_{i:04d}": 99.999 for i in range(200)}
    rest = {k: v for k, v in out.items() if k not in bench.SHED_ORDER}
    markers = {f"{k}_dropped": True for k in bench.SHED_ORDER}
    limit = len(json.dumps({**rest, **markers}))
    line = bench.emit_line(out, limit=limit)
    assert len(line) <= limit
    slim = json.loads(line)
    assert set(slim) == set(rest) | set(markers)
    assert slim["value_diagnostics"] == out["value_diagnostics"]
    err = capsys.readouterr().err
    assert "energy_pipeline_fullscale" in err and "diagnostics" in err
    # an impossible limit keeps the mandatory keys and says so
    assert json.loads(bench.emit_line(out, limit=10))["metric"] == "headline_suite_total"
    assert "over the 10-byte limit" in capsys.readouterr().err
