"""Capture `.explain("formatted")` for bench queries into
plans/<round>/<name>_<tag>.txt (tag = before/after), plus a one-line shape
summary (Exchange count, join strategies, Python-eval nodes) to stdout.

Usage: python scripts/capture_plans.py <round> [before|after] [sf_dir] [names...]
  e.g. python scripts/capture_plans.py r17 after
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_energy_consumption_analytics_using_big_data_spark import get_spark
from smart_energy_consumption_analytics_using_big_data_spark.plans import QUERIES


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shape_summary(text: str) -> str:
    n_exch = len(re.findall(r"\bExchange\b", text))
    joins = re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)\b",
        text,
    )
    pyeval = re.findall(r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas)\b", text)
    from collections import Counter

    def fmt(c):
        return ",".join(f"{k}x{v}" for k, v in sorted(Counter(c).items())) or "-"

    return f"exchanges={n_exch} joins=[{fmt(joins)}] python=[{fmt(pyeval)}]"


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    round_name = sys.argv.pop(1)
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    import bench

    names = sys.argv[3:] or (bench.BENCH_QUERIES + bench.DIAGNOSTIC_QUERIES)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", round_name
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"capture-plans-{round_name}")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        try:
            df = QUERIES[name](spark, sf_dir)
            text = plan_text(df)
        except Exception as exc:  # noqa: BLE001 - record, keep sweeping
            text = f"ERROR building plan: {exc}\n"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(f"== {name} ({tag}, sf_dir={sf_dir}) ==\n{text}")
        print(f"{name}: {shape_summary(text)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
