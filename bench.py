"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: median_sec, ...}, "sf": ...}. Each query runs
SUITE_REPS warmed passes and reports the per-query median; `value`
sums the shipped-path headline group only, with the deliberately
retained slow baselines timed under `diagnostics`. The five-stage
energy-pipeline anchor runs twice (library default grid + the
reference's stage-4 grid) for the BASELINE.md comparison.

The suite mirrors the reference pipeline's workload shape (BASELINE.md:
scan-heavy ingest, aggregation-heavy rollups, window-heavy features,
ML tail) plus the extension operators, so the per-query seconds track
exactly the stages the reference times.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from smart_energy_consumption_analytics_using_big_data_spark import get_spark
from smart_energy_consumption_analytics_using_big_data_spark.plans import QUERIES

# Headline suite: name -> registry query. Chosen to cover scan, multi-key
# rollup + re-agg, broadcast + shuffled joins, the full window family,
# top-k, dedup (shuffle-heavy), similarity (array math), and the ML tail.
BENCH_QUERIES = [
    "q_sql_pricing_summary",
    "q_sql_revenue_topn",
    "q_sql_market_share",
    "q_flagship",
    "q_agg_multikey",
    "q_agg_reagg",
    "q_join_left_dim",
    "q_join_inner",
    "q_join_asof",
    "q_approx_distinct_merge",
    "q_window_lag",
    "q_window_rollavg",
    "q_window_zscore",
    "q_topk_count",
    "q_rollup",
    "q_dedup_minhash_lsh",
    "q_dedup_minhash_arrow",
    "q_dedup_winnow_arrow",
    "q_dedup_semantic",
    "q_dedup_simhash",
    "q_dedup_simhash_arrow",
    "q_sim_cosine_topk",
    "q_sim_knn_join",
    "q_sample_dsir",
    "q_text_quality",
    "q_docs_quality_filter",
    "q_pack_sequences",
    "q_stream_rollup",
    "q_ml_anomaly_kmeans",
    # round-4 additions: the heaviest new TPC-H decorrelation shape and
    # the Arrow-batched second-moment pass.
    "q_sql_min_cost_supplier",
    "q_emb_covariance",
    # round-4 continuation: exact-threshold similarity join + the
    # hold-duration time-weighted rollup.
    "q_dedup_ppjoin",
    "q_ts_time_weighted_avg",
    # round-5: iterative graph traversal, text-graph ranking, and the
    # global-sort + position-join quantile transform.
    "q_graph_bfs",
    "q_text_textrank",
    "q_feature_quantile_norm",
    # round-7: the tokenizer loop's encode half (iterative vocab-table
    # merge application — the declarative-recurrence shape's cost).
    "q_text_bpe_encode",
]

# Superseded-baseline diagnostics (VERDICT r9 item 3): deliberately
# retained SLOW variants whose shipped path is q_dedup_winnow_arrow
# (measured ~5x faster). They stay registered, oracled, and timed every
# round so the speedup claim remains a measurement — but OUT of the
# headline total, which should track the engine's shipped plans.
# (r16: an xxhash64 fast twin of q_dedup_minhash_lsh was registered,
# measured, and REVERTED — the signature stage is shingle-build-bound,
# not digest-bound, so the twin was a wash-to-slower;
# OPTIMIZATION_r16.md "Negative results" item 1 is the record.)
DIAGNOSTIC_QUERIES = [
    "q_dedup_winnow",
    "q_dedup_winnow_fast",
]

# Median-of-N measured suite passes (VERDICT r9 item 2): single-run
# timings showed ±8% total / 1.5x per-query swings indistinguishable
# from load noise; three warmed passes with a per-query median make
# round-over-round deltas attributable to code again.
SUITE_REPS = 3


def run_calibration(spark, reps: int = 3) -> dict:
    """Ambient-throughput probe, independent of the repo's code and data.

    The r11 drift probe showed same-build suite totals swinging 36.5 ->
    66.3 s across sessions on an otherwise idle guest (PSI flat, zero
    steal, 17.5 MB of data fully page-cached) — hour-scale host-level
    throughput regimes, concentrated multiplicatively on Python-worker
    (Arrow) and many-small-job queries. Two fixed probes measured with
    the suite make every bench record self-normalizing:

    * ``jvm``: a synthetic range -> hash-mod groupBy aggregation (one
      shuffle, whole-stage codegen, zero I/O) — tracks JVM-side
      throughput;
    * ``arrow``: an identity mapInPandas over a 32-partition range —
      tracks the Python-worker fork + Arrow IPC path, the part that
      swung 5x between regimes;
    * ``pyworker``: a mapInPandas doing real numpy arithmetic (8-round
      integer mix over 4M rows) — added r15 (VERDICT r14 task 4)
      because the identity arrow probe under-captured the r14 regime:
      the biggest in-suite movers (simhash_arrow, winnow, bfs) spend
      their time in Python-side numpy CPU, a dimension the IPC-only
      probe misses. Worker-heavy movers divide by THIS probe.

    Compare `value / calibration` across rounds, not raw `value`.
    """
    from pyspark.sql import functions as F

    def jvm_probe() -> None:
        (
            spark.range(0, 20_000_000, 1, 32)
            .select(
                (F.col("id") % 9973).alias("k"),
                (F.col("id") * 2654435761 % 1000003).alias("v"),
            )
            .groupBy("k")
            .agg(F.sum("v"), F.avg("v"), F.max("v"))
            .count()
        )

    def arrow_probe() -> None:
        df = spark.range(0, 2_000_000, 1, 32)
        df.mapInPandas(lambda it: it, "id long").count()

    def pyworker_probe() -> None:
        def work(it):
            import numpy as np
            import pandas as pd

            for pdf in it:
                h = pdf["id"].to_numpy().astype(np.uint64)
                for _ in range(8):
                    h = (h * np.uint64(0x9E3779B97F4A7C15)) ^ (h >> np.uint64(7))
                yield pd.DataFrame({"id": h.astype(np.int64)})

        spark.range(0, 4_000_000, 1, 32).mapInPandas(work, "id long").count()

    out = {}
    for name, fn in (
        ("jvm", jvm_probe),
        ("arrow", arrow_probe),
        ("pyworker", pyworker_probe),
    ):
        fn()  # plan/codegen warm-up, not measured
        ts = []
        for _ in range(reps):
            t0 = time.time()
            fn()
            ts.append(time.time() - t0)
        out[name] = round(sorted(ts)[len(ts) // 2], 3)
    return out


def compact_fullscale(fullscale: dict) -> dict:
    """Scalar-only summary of PIPELINE_FULLSCALE.json for the stdout
    line (the full record's multi-KB notes/description prose overflowed
    the driver's ~2 KB tail-capture window and truncated the JSON —
    VERDICT r15 item 1)."""
    keys = (
        "total_sec",
        "speedup_total",
        "flagged",
        "rmse",
        "raw_rows",
        "households",
        "grid",
    )
    out = {k: fullscale[k] for k in keys if k in fullscale}
    out["detail"] = "PIPELINE_FULLSCALE.json"
    return out


# Optional stdout keys, shed in this order when the line would overflow
# the capture window. Both live in full elsewhere: the fullscale record
# in PIPELINE_FULLSCALE.json, the diagnostics in the BENCH_local.json
# sidecar (value_diagnostics keeps their total on the line).
SHED_ORDER = ("energy_pipeline_fullscale", "diagnostics")


def emit_line(out: dict, limit: int = 2000) -> str:
    """One-line JSON for stdout, under `limit` bytes as long as the
    mandatory keys fit: the SHED_ORDER keys are dropped one at a time
    until the line fits. Each drop leaves a `<key>_dropped: true`
    marker and a stderr warning, so a shed (or a line still over the
    limit) shows at run time rather than as a truncated record."""
    line = json.dumps(out)
    for key in SHED_ORDER:
        if len(line) <= limit:
            break
        if key in out:
            out = {**{k: v for k, v in out.items() if k != key}, f"{key}_dropped": True}
            line = json.dumps(out)
            print(f"bench: dropped {key!r} from the stdout line to fit {limit} bytes",
                  file=sys.stderr)
    if len(line) > limit:
        print(f"bench: stdout line is {len(line)} bytes, over the {limit}-byte limit",
              file=sys.stderr)
    return line


def run_one(spark, sf_dir: str, name: str) -> float:
    t0 = time.time()
    df = QUERIES[name](spark, sf_dir)
    # Force execution via count(). Caveat (measured in scale_probe.py):
    # count() lets Catalyst eliminate Window/projection work no
    # surviving column references, so projection-shaped queries are
    # under-measured relative to a sum(xxhash64(*)) forcing. The suite
    # keeps count() for round-over-round comparability (r1-r4 history);
    # scale analysis uses the hash forcing instead.
    df.count()
    elapsed = time.time() - t0
    # release caller-owned caches (graph results, checkpointed ladders)
    # so the suite's memory footprint is flat across queries and
    # repeated invocations — outside the timed window; each query's own
    # cache build still happens (and is measured) inside it.
    spark.catalog.clearCache()
    return elapsed


# Shuffle-heavy subset timed by `bench.py --scale` on the derived
# 10x/100x fixtures (scripts/scale_probe.build_derived). Rationale
# (VERDICT r15 item 3 / task 7): at sf0.1 an 8-core run matches or
# beats 32 cores on every suite query — per-stage scheduling overhead
# exceeds the compute the extra cores absorb — so the graded bench
# cannot demonstrate parallel speedup. This opt-in mode measures the
# same queries on data large enough that the c8/c32 ratio
# discriminates; it NEVER runs by default and shares the driver's
# env-var contract (local[$SPARK_GRAFT_CPUS], one JSON line).
SCALE_QUERIES = [
    "q_flagship",          # events 100x: agg + two windows
    "q_agg_multikey",      # events 100x: multi-key rollup
    "q_graph_bfs",         # lineitem 10x: edge build + 4 relax rounds
    "q_text_textrank",     # customer 10x: iterative rank joins
    "q_dedup_minhash_lsh", # documents 10x: md5 sig + banded self-join
    "q_dedup_minhash_arrow",
    "q_dedup_winnow_arrow",
    "q_dedup_simhash_arrow",
    "q_dedup_ppjoin",
    "q_feature_quantile_norm",
    "q_sim_knn_join",      # embeddings 100x: broadcast-scored top-k
]
SCALE_REPS = 3


def run_scale() -> None:
    """Time SCALE_QUERIES on the derived large fixtures; print ONE JSON
    line {"metric": "scale_suite_total", ...}. Forcing uses the
    sum-of-row-hashes action (not count()) for the same reason
    scripts/scale_probe.py does: count() lets Catalyst prune whole
    Window/projection subtrees. Fixtures are built once into
    $SPARK_GRAFT_SCALE_DIR (default /tmp/spark_graft_scale_probe) and
    reused, so a c8 run and a c32 run measure identical bytes."""
    from pyspark.sql import functions as F

    out_dir = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/spark_graft_scale_probe")
    spark = get_spark("bench-scale")
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
    )
    from scale_probe import build_derived

    if not os.path.isdir(os.path.join(out_dir, "events.parquet")):
        build_derived(spark, out_dir)

    def force(df) -> None:
        h = F.pmod(F.xxhash64(*df.columns), F.lit(1_000_003))
        df.agg(F.sum(h)).collect()

    # rep-count override for interleaved cross-core-count measurement:
    # alternating single-rep c32/c8 SESSIONS cancels the hour-scale
    # ambient regime drift that a back-to-back pair of multi-rep
    # sessions bakes into the ratio (measured: textrank read 0.45x
    # c8/c32 across two adjacent sessions — a regime artifact, not
    # scaling).
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", SCALE_REPS))
    samples: dict[str, list[float]] = {name: [] for name in SCALE_QUERIES}
    for name in SCALE_QUERIES:  # plan-shape warm-up at the small SF
        force(QUERIES[name](spark, "/root/testdata/sf0.001"))
        spark.catalog.clearCache()
    for _rep in range(reps):
        for name in SCALE_QUERIES:
            spark.sparkContext.setJobDescription(f"scale {name}")
            t0 = time.time()
            force(QUERIES[name](spark, out_dir))
            samples[name].append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {name: median(samples[name]) for name in SCALE_QUERIES}
    print(
        json.dumps(
            {
                "metric": "scale_suite_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "samples": samples,
                "scale_dir": out_dir,
                "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
                "suite_reps": reps,
            }
        )
    )
    spark.stop()


def main() -> None:
    if "--scale" in sys.argv:
        run_scale()
        return
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM/codegen warm-up so q1 doesn't pay session startup: one full
    # pass of the suite at the smallest scale factor. This is what the
    # r6 layout provided implicitly (all small runs preceded the
    # measured loop, so every measured query ran in a deep-warm JVM);
    # the r7 interleaving lost that for the EARLY suite positions
    # (measured +0.3 s of C2-compilation cost on the first three SQL
    # shapes, converging to r6 values after ~4 isolated reps). A tiny
    # full-suite pass restores steady-state measurement for every
    # position while keeping the per-query interleaved warm-up.
    warm_dir = "/root/testdata/sf0.001"
    for warm in BENCH_QUERIES + DIAGNOSTIC_QUERIES:
        QUERIES[warm](spark, warm_dir).count()
        spark.catalog.clearCache()
    # Load MLlib (class loading + codegen is ~3s once per JVM) so the ML
    # entry in the suite measures the operator, not first-use JIT.
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    tiny = spark.range(50).selectExpr("CAST(id AS DOUBLE) AS x", "CAST(id % 7 AS DOUBLE) AS y")
    vec = VectorAssembler(inputCols=["x", "y"], outputCol="features").transform(tiny)
    KMeans(k=2, seed=1, initMode="random").fit(vec)

    # Ambient-throughput calibration, measured twice (post-warm-up and
    # suite end) so a record carries both the regime level AND whether
    # it shifted mid-session. See run_calibration.
    calibration = run_calibration(spark)

    # Two-point scale curve: the same suite at a 10x-smaller SF, so
    # round-over-round regressions can separate fixed overhead from
    # scaling behavior. The per-query scale_ratio is
    # time(sf)/time(sf_small); with a 10x data ratio a value well above
    # 10 means worse-than-linear scaling.
    #
    # INTERLEAVED since r7: each query's small-SF run executes
    # immediately before its measured sf run, so the measured run is
    # always preceded by its own plan shape's warm-up (codegen, file
    # listing, broadcast machinery). The r6 driver-vs-local deltas on
    # the heavy tail (q_graph_bfs +7%, q_dedup_simhash_arrow +13%) were
    # first-run effects: an n=5 probe showed the first execution of a
    # heavy query costing 1.5-2.4x its steady state, and the old
    # two-separate-loops layout let that warmth decay before the
    # measured pass reached the same query.
    small_dir = os.environ.get("SPARK_GRAFT_SMALL_SF_DIR", "/root/testdata/sf0.01")
    run_small = small_dir != sf_dir and os.path.isdir(small_dir)
    all_queries = BENCH_QUERIES + DIAGNOSTIC_QUERIES
    small_timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {name: [] for name in all_queries}
    # SUITE_REPS full measured passes; pass 1 keeps the interleaved
    # small-SF run before each query (plan-shape warm-up — the r7
    # lesson), passes 2+ are pure repeats. The reported figure is the
    # per-query MEDIAN across passes, so a single cold/loaded execution
    # can no longer masquerade as a regression (VERDICT r9: the r8->r9
    # q_agg_multikey/q_flagship "regressions" were single-run noise).
    for rep in range(SUITE_REPS):
        for name in all_queries:
            if rep == 0 and run_small:
                small_timings[name] = round(run_one(spark, small_dir, name), 3)
            samples[name].append(round(run_one(spark, sf_dir, name), 3))

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        mid = len(s) // 2
        return s[mid] if len(s) % 2 else round((s[mid - 1] + s[mid]) / 2, 3)

    timings = {name: median(samples[name]) for name in BENCH_QUERIES}
    diagnostics = {name: median(samples[name]) for name in DIAGNOSTIC_QUERIES}
    total = round(sum(timings.values()), 3)
    end_cal = run_calibration(spark)
    calibration["jvm_end"] = end_cal["jvm"]
    calibration["arrow_end"] = end_cal["arrow"]
    calibration["pyworker_end"] = end_cal["pyworker"]

    # Suite-only mode for measurement harnesses (scripts/drift_probe.py):
    # skip the three pipeline passes so a session costs ~1/3 the wall
    # time — drift attribution needs many same-build sessions, and the
    # suite total is the drifting statistic being probed.
    if os.environ.get("SPARK_GRAFT_SUITE_ONLY"):
        out = {
            "metric": "headline_suite_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "diagnostics": diagnostics,
            "suite_reps": SUITE_REPS,
            "suite_only": True,
            "calibration": calibration,
            "samples": samples,
        }
        print(json.dumps(out))
        spark.stop()
        return

    # End-to-end 5-stage pipeline anchor (ingest -> preprocess ->
    # features -> forecast -> anomaly with parquet handoff between
    # stages), apples-to-apples with BASELINE.md's stage table — the
    # headline suite above is a query-shaped proxy, this is the
    # pipeline the reference actually timed (114.05 min, 167.9M rows).
    # Fixture generation is outside the timed stages.
    import tempfile

    from smart_energy_consumption_analytics_using_big_data_spark.pipeline.energy_bench import (
        HOUSEHOLDS_PER_SF,
        run_pipeline_bench,
    )

    sf_num = float(sf) if sf.replace(".", "").isdigit() else 0.1
    # tiny warm pass first (2 households): the pipeline's plan shapes
    # (CSV scan, window-heavy features, MLlib fits) are not covered by
    # the query-suite warm-up, and their first execution costs 1.3-1.5x
    # steady state — same rationale as the suite's sf0.001 warm pass.
    with tempfile.TemporaryDirectory() as workdir:
        run_pipeline_bench(spark, workdir, households=2, shards=2)
    spark.catalog.clearCache()
    with tempfile.TemporaryDirectory() as workdir:
        pipeline = run_pipeline_bench(
            spark, workdir, households=max(10, int(HOUSEHOLDS_PER_SF * sf_num))
        )
    spark.catalog.clearCache()
    # Second pass with the REFERENCE's stage-4 search shape (9-point LR
    # grid + RF {50,100}x{5,10} with inner validation) so the recorded
    # anchor carries a training stage directly comparable to
    # BASELINE.md's 35.98-min grid, not just the library default
    # (VERDICT r9 item 4).
    with tempfile.TemporaryDirectory() as workdir:
        pipeline_ref = run_pipeline_bench(
            spark,
            workdir,
            households=max(10, int(HOUSEHOLDS_PER_SF * sf_num)),
            grid="reference",
        )
    spark.catalog.clearCache()

    out = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "energy_pipeline_total": pipeline["total"],
        "energy_pipeline_refgrid_forecast": pipeline_ref["stages"]["forecast"],
        "energy_pipeline_refgrid_total": pipeline_ref["total"],
        # headline/diagnostics split (VERDICT r9 item 3): `value` is the
        # shipped-path total ONLY; the superseded winnow baselines are
        # timed separately here. The ~10 s headline drop vs BENCH_r09 is
        # this reclassification, not an optimization (PERFORMANCE.md).
        "diagnostics": diagnostics,
        "value_diagnostics": round(sum(diagnostics.values()), 3),
        "suite_reps": SUITE_REPS,
        "calibration": calibration,
    }
    # Full-scale pipeline anchor (5,566 households / ~167.9M raw rows,
    # reference grid — scripts/pipeline_fullscale.py): measured once
    # per build that touches the pipeline (a ~20-min run, too slow for
    # every bench invocation) and recorded in PIPELINE_FULLSCALE.json.
    # The stdout line carries only a COMPACT summary of it: the full
    # record embeds multi-KB description/notes prose that pushed the
    # one-line JSON past the driver's ~2 KB tail-capture window and
    # truncated it mid-JSON (BENCH_r14.json parsed: null — VERDICT r15
    # item 1); the complete record still lands in the BENCH_local.json
    # sidecar below and in PIPELINE_FULLSCALE.json itself.
    fullscale_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "PIPELINE_FULLSCALE.json"
    )
    fullscale = None
    if os.path.exists(fullscale_path):
        with open(fullscale_path) as fh:
            fullscale = json.load(fh)
        out["energy_pipeline_fullscale"] = compact_fullscale(fullscale)
    full = dict(out)
    if fullscale is not None:
        full["energy_pipeline_fullscale"] = fullscale
    full["energy_pipeline"] = pipeline
    full["energy_pipeline_reference_grid"] = pipeline_ref
    full["samples"] = samples
    if small_timings:
        small_sf = small_dir.rstrip("/").rsplit("sf", 1)[-1]
        full["sf_small"] = float(small_sf) if small_sf.replace(".", "").isdigit() else small_sf
        full["value_small"] = round(
            sum(small_timings[n] for n in BENCH_QUERIES if n in small_timings), 3
        )
        # Same headline/diagnostics split as the sf-target record, so
        # sum(queries_small) == value_small holds for downstream
        # consumers comparing totals (ADVICE r10).
        full["queries_small"] = {
            n: v for n, v in small_timings.items() if n in BENCH_QUERIES
        }
        full["diagnostics_small"] = {
            n: v for n, v in small_timings.items() if n in DIAGNOSTIC_QUERIES
        }
        full["scale_ratio"] = {
            name: round(median(samples[name]) / small_timings[name], 2)
            for name in all_queries
            if small_timings.get(name)
        }
        # stdout carries only the compact headline record: the driver
        # tail-captures a bounded byte window, and r2's full line
        # (queries + queries_small + scale_ratio) overflowed it and
        # truncated the head of the JSON. The complete record (scale
        # curve included) goes to a sidecar file instead.
        out["value_small"] = full["value_small"]
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_local.json"), "w") as fh:
        json.dump(full, fh, indent=1)
    print(emit_line(out))
    spark.stop()


if __name__ == "__main__":
    main()
