"""Same-session A/B of two ways to build one result.

    python scripts/ab.py SF_DIR "A-SPEC" "B-SPEC" [--reps N]

A spec is a ``plans.QUERIES`` name or a ``module:function`` callable
taking ``(spark, sf_dir)`` and returning a DataFrame, followed by optional
``KEY=VALUE`` environment overrides, e.g.

    python scripts/ab.py SF_DIR "q_graph_bfs SPARK_GRAFT_BFS_ADJ_BYTES=0" q_graph_bfs --reps 6

The overrides are set only while the DataFrame is built and restored
afterwards: ``sources/catalog.size_gate`` reads each ``SIZE_GATES``
threshold (``SPARK_GRAFT_{NAME}_BYTES``) at build time, and nothing else
should see them.

The protocol runs once, in one session:

1. equality gate: ``exceptAll`` both ways; a non-empty side raises
   before anything is timed;
2. one untimed warm-up per variant;
3. N reps in ABBA-rotated order (A B, B A, A B, ...), each building the
   DataFrame and writing it to the noop sink under its own Spark job
   group. The rep's per-stage metrics are read from the UI REST API
   right after it, so Spark's retained-stage limit cannot evict them.

It prints one JSON line per variant: wall samples, median, IQR, wins
out of N pairs, and per-rep medians of executor CPU and run seconds,
shuffle-write MiB, spill MiB, GC seconds and job count.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
from typing import NamedTuple
from unittest import mock

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.probes import SparkRest, Tracer, span_counters  # noqa: E402

MIB = 1024 * 1024


class Variant(NamedTuple):
    label: str
    spec: str
    build: object
    env: dict


class EqualityError(RuntimeError):
    """The two variants do not produce the same rows."""


def parse_variant(label: str, spec: str) -> Variant:
    target, *pairs = spec.split()
    env = {}
    for pair in pairs:
        key, sep, value = pair.partition("=")
        if not sep:
            raise ValueError(f"override {pair!r} in {spec!r} is not KEY=VALUE")
        env[key] = value
    if ":" in target:
        module, func = target.split(":", 1)
        build = getattr(importlib.import_module(module), func)
    else:
        from smart_energy_consumption_analytics_using_big_data_spark.plans import QUERIES

        build = QUERIES[target]
    return Variant(label, spec, build, env)


def build(spark, sf_dir: str, variant: Variant):
    with mock.patch.dict(os.environ, variant.env):
        return variant.build(spark, sf_dir)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run(spark, sf_dir: str, a: Variant, b: Variant, reps: int) -> list[dict]:
    df_a, df_b = build(spark, sf_dir, a), build(spark, sf_dir, b)
    except_all = [df_a.exceptAll(df_b).count(), df_b.exceptAll(df_a).count()]
    spark.catalog.clearCache()
    if any(except_all):
        raise EqualityError(f"{a.spec} \\ {b.spec} = {except_all[0]} rows, reverse = {except_all[1]}")

    for variant in (a, b):
        noop(build(spark, sf_dir, variant))
        spark.catalog.clearCache()

    sc = spark.sparkContext
    tracer, rest = Tracer(sc, enabled=True), SparkRest(sc)
    # Tracer names its job groups perfbench-0, -1, ... afresh in every run,
    # so an earlier run in this application left jobs under the same names;
    # only jobs newer than this one belong to this run
    floor = max((job["jobId"] for job in rest.get("jobs")), default=-1)
    reps_of = {a.label: [], b.label: []}
    for i in range(reps):
        for variant in (a, b) if i % 2 == 0 else (b, a):
            with tracer.span(f"rep{i}", f"ab.{variant.label}", None):
                noop(build(spark, sf_dir, variant))
            span = tracer.spans[-1]
            jobs, stages = rest.settled([span])
            jobs = [job for job in jobs if job["jobId"] > floor]
            counters = span_counters([span], jobs, stages)[span["layer"]]
            reps_of[variant.label].append({"wall": span["end"] - span["start"], **counters})
            # the graph builders persist what they return; each rep starts cold
            spark.catalog.clearCache()

    records = []
    for variant, other in ((a, b), (b, a)):
        mine, theirs = reps_of[variant.label], reps_of[other.label]
        walls = [r["wall"] for r in mine]
        q1, median, q3 = statistics.quantiles(walls, n=4, method="inclusive") if reps > 1 else walls * 3

        def med(field, scale):
            return round(statistics.median(r[field] for r in mine) / scale, 3)

        records.append(
            {
                "variant": variant.label,
                "spec": variant.spec,
                "sf_dir": sf_dir,
                "except_all": except_all,
                "samples_s": [round(w, 3) for w in walls],
                "median_s": round(median, 3),
                "iqr_s": round(q3 - q1, 3),
                "wins": sum(m["wall"] < t["wall"] for m, t in zip(mine, theirs)),
                "pairs": reps,
                "cpu_s": med("executorCpuTime", 1e9),
                "run_s": med("executorRunTime", 1e3),
                "shuffle_write_mib": med("shuffleWriteBytes", MIB),
                "spill_mib": med("diskBytesSpilled", MIB),
                "gc_s": med("jvmGcTime", 1e3),
                "jobs": statistics.median(r["jobs"] for r in mine),
            }
        )
    return records


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("sf_dir")
    parser.add_argument("a", help="QUERIES name or module:function, then KEY=VALUE overrides")
    parser.add_argument("b", help="as A")
    parser.add_argument("--reps", type=int, default=5)
    args = parser.parse_args()

    from smart_energy_consumption_analytics_using_big_data_spark import get_spark

    a, b = parse_variant("A", args.a), parse_variant("B", args.b)
    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for record in run(spark, args.sf_dir, a, b, args.reps):
            print(json.dumps(record), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
