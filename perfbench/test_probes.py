"""Attribution and hashing rules the benchmark's metrics and checks rest on.

    python3 -m pytest perfbench/test_probes.py -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import probes  # noqa: E402
import run  # noqa: E402


def span(group: str, layer: str, first_ms: int, last_ms: int) -> dict:
    return {"group": group, "layer": layer, "window_ms": [first_ms, last_ms]}


def test_shared_stage_counts_once_for_the_earliest_job():
    jobs = [
        {"jobId": 2, "jobGroup": "g2", "stageIds": [2, 3]},
        {"jobId": 1, "jobGroup": "g1", "stageIds": [1, 2]},
    ]
    stages = {
        (1, 0): {"executorRunTime": 10, "inputBytes": 5},
        (2, 0): {"executorRunTime": 20},
        (2, 1): {"executorRunTime": 1},
        (3, 0): {"executorRunTime": 30, "jvmGcTime": None},
        (9, 0): {"executorRunTime": 99},
    }
    out = probes.span_counters([span("g1", "a", 0, 1), span("g2", "b", 2, 3)], jobs, stages)
    assert out["a"]["executorRunTime"] == 31 and out["a"]["inputBytes"] == 5
    assert out["b"]["executorRunTime"] == 30 and out["b"]["jvmGcTime"] == 0
    assert out["a"]["jobs"] == out["b"]["jobs"] == 1


def test_job_without_a_span_group_goes_to_the_span_it_was_submitted_in():
    # 2026-01-02T03:04:05.678 UTC
    t = int(dt.datetime(2026, 1, 2, 3, 4, 5, 678000, tzinfo=dt.timezone.utc).timestamp() * 1000)
    spans = [span("g1", "a", t - 100, t - 1), span("g2", "b", t, t + 100)]
    pool_job = {"jobId": 7, "submissionTime": "2026-01-02T03:04:05.678GMT", "stageIds": [4]}
    outside = {"jobId": 8, "submissionTime": "2026-01-02T03:04:06.000GMT", "stageIds": [5]}
    # Spark's streaming thread runs its jobs under a group of its own.
    stream_job = {"jobId": 9, "jobGroup": "run-1", "submissionTime": "2026-01-02T03:04:05.600GMT", "stageIds": [6]}
    assert probes.submitted_ms(pool_job) == t
    assert probes.job_span(pool_job, spans) is spans[1]
    assert probes.job_span(outside, spans) is None
    assert probes.job_span(stream_job, spans) is spans[0]
    stages = {(4, 0): {"executorRunTime": 40}, (5, 0): {"executorRunTime": 50}, (6, 0): {"executorRunTime": 60}}
    out = probes.span_counters(spans, [pool_job, outside, stream_job], stages)
    assert out["b"]["jobs"] == 1 and out["b"]["executorRunTime"] == 40
    assert out["a"]["jobs"] == 1 and out["a"]["executorRunTime"] == 60


def test_row_hash_ignores_row_and_column_order():
    rows = [(1, "x", 0.5, None), (2, "y", float("nan"), dt.date(2024, 1, 2))]
    h = run.row_hash(["k", "s", "v", "d"], rows)
    swapped = [(r[3], r[2], r[1], r[0]) for r in reversed(rows)]
    assert run.row_hash(["d", "v", "s", "k"], swapped) == h
    assert run.row_hash(["k", "s", "v", "d"], rows[:1]) != h


def test_process_tree_cpu_includes_this_process():
    sum(i * i for i in range(200_000))
    assert probes.tree_cpu_s(os.getpid()) > 0
    assert os.getpid() in probes.descendants(os.getpid())
    assert probes.peak_rss_mb([os.getpid()]) > 0
