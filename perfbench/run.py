"""Benchmark of the engine through its public entry points.

    python3 perfbench/run.py --workload energy_cli --seed 42 --seconds 20 --trace 0

Workloads (BENCHMARK.json gives the why of each):

* ``energy_cli``: one op is the seven subcommands ``cli all`` chains
  (ingest, preprocess, features, forecast, anomaly, export, report), each
  called through ``cli.main`` into a fresh output directory.
* ``query_mix``: one op is one pass over ``QUERY_MIX``, in a seed-given
  order, through the ``plans.QUERIES`` registry; each query is forced with
  ``collect()`` and followed by ``clearCache()``.

A run starts the engine's own session on ``local[<cores>]`` with the
program's defaults (only ``SPARK_GRAFT_CPUS`` and ``SPARK_LOCAL_DIRS`` are
set), writes the seeded fixture, runs an untimed warm-up op, then times
whole ops for about ``--seconds``: at least a workload's ``min_ops``, and
no further op that would end past the window. Every op's output is checked
after its clock stops; a failed call or a wrong output is a failed op.
With ``--trace 1`` the run then adds one op with a span and a Spark job
group around every call into a layer, and reports per-layer metrics from
Spark's per-stage metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Progress goes to stderr. Spans go to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT), str(ROOT / "scripts")]

import fixtures  # noqa: E402
import probes  # noqa: E402

PINS = json.loads((HERE / "pins.json").read_text())

TEST_CUTOFF, VAL_CUTOFF = "2013-10-01", "2013-08-01"
# Rows the ML stages drop per household: lags up to 30 days in the
# feature table, lags up to 7 days in the forecast/anomaly features.
FEATURE_WARMUP_ROWS, ML_WARMUP_ROWS = 30, 7

CLI_STAGES = (
    ("ingest", "sources.ingest"),
    ("preprocess", "pipeline.energy.preprocess"),
    ("features", "pipeline.energy.features"),
    ("forecast", "ml.forecast"),
    ("anomaly", "ml.anomaly"),
    ("export", "sources.export"),
    ("report", "pipeline.report"),
)
# Stage -> the inputs it reads, as (fixture or op output dir, relative path).
CLI_INPUTS = {
    "ingest": [("fixture", fixtures.READINGS_DIR)],
    "preprocess": [("out", "raw_energy_data"), ("fixture", fixtures.TARIFFS_FILE)],
    "features": [("out", "daily")],
    "forecast": [("out", "daily")],
    "anomaly": [("out", "daily"), ("out", "forecasting_results")],
}

# query -> layer: one query of each family of the engine's headline
# suite, so that a pass stays within about ten seconds at local[4].
QUERY_MIX = {
    "q_sql_pricing_summary": "plans.sqltext",
    "q_window_zscore": "plans.core",
    "q_dedup_minhash_lsh": "ext.dedup",
    "q_graph_bfs": "ext.graph",
    "q_docs_quality_filter": "functions.textfns",
    "q_sim_knn_join": "ext.similarity",
    "q_stream_rollup": "streaming",
    "q_ml_anomaly_kmeans": "plans.mlq",
}
QUERY_LAYERS = sorted(set(QUERY_MIX.values()))

SPAN_COUNTERS = ("s", "cpu_s", "busy_ratio", "jobs", "shuffle_mb", "spill_mb", "gc_s")
MIB = 1024.0 * 1024.0


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr, flush=True)


def per_layer_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order."""
    names = []
    for layer in [layer for _, layer in CLI_STAGES] + QUERY_LAYERS:
        names += [f"{layer}.{c}" for c in SPAN_COUNTERS]
    names += [f"{dict(CLI_STAGES)[s]}.read_ratio" for s in CLI_INPUTS]
    names += [f"{layer}.build_s" for layer in QUERY_LAYERS]
    names += ["setup.session_s", "setup.fixture_s", "setup.warmup_s", "spark.failed_tasks"]
    names += ["op_samples", "trace.op_s", "trace.self_s", "process.peak_rss_mb"]
    return names


def du_bytes(path: Path) -> int:
    if path.is_file():
        return path.stat().st_size
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


class OutputMismatch(Exception):
    pass


def expect(what: str, got, want) -> None:
    if got != want:
        raise OutputMismatch(f"{what}: got {got!r}, expected {want!r}")


class EnergyCli:
    """The CLI pipeline, stage by stage through ``cli.main``."""

    name = "energy_cli"
    # The first op in a JVM pays ~15 s of class loading and JIT (31-39 s
    # cold against 13-21 s warm at local[4]). It runs untimed on the same
    # fixture as the timed op, so its model outputs are what every timed op
    # must match. A run times one op: a chain takes 13-21 s, and a second
    # warm-up or timed op per run would push the 48 runs of a two-workload
    # check past the hour they must fit in.
    warmup_ops = 1
    min_ops = 1

    def __init__(self, spark, work: Path, seed: int, cores: int):
        from smart_energy_consumption_analytics_using_big_data_spark import cli

        self.cli, self.work, self.seed, self.cores = cli, work, seed, cores
        self.reference: dict | None = None
        self.layer_inputs: dict[str, int] = {}

    def setup(self) -> None:
        self.fixture = self.work / "fixture"
        self.sizes = fixtures.write_energy(str(self.fixture), self.seed)
        log(f"energy fixture {self.sizes}")

    def op(self, tracer: probes.Tracer, index: int) -> tuple:
        """Run the seven stages; return what each printed."""
        fixture, out = self.fixture, self.work / f"op{index}"
        argv = {
            "ingest": ["--readings", str(fixture / fixtures.READINGS_DIR)],
            "preprocess": ["--tariffs", str(fixture / fixtures.TARIFFS_FILE)],
            "forecast": ["--test-cutoff", TEST_CUTOFF, "--val-cutoff", VAL_CUTOFF],
        }
        printed = {}
        for stage, layer in CLI_STAGES:
            sink = io.StringIO()
            with tracer.span(stage, layer, f"{self.name}.op{index}"), contextlib.redirect_stdout(sink):
                self.cli.main([stage, "--out", str(out), *argv.get(stage, [])])
            printed[stage] = json.loads(sink.getvalue().strip().splitlines()[-1])
        return out, printed

    warmup = op

    def check(self, result: tuple, tracer: probes.Tracer) -> None:
        out, printed = result
        if tracer.enabled:
            roots = {"fixture": self.fixture, "out": out}
            self.layer_inputs = {
                dict(CLI_STAGES)[stage]: sum(du_bytes(roots[root] / rel) for root, rel in inputs)
                for stage, inputs in CLI_INPUTS.items()
            }
        shutil.rmtree(out, ignore_errors=True)
        self.check_rows(printed, self.sizes)
        self.check_models(printed)

    @staticmethod
    def check_rows(printed: dict, sizes: dict) -> None:
        """Rows are conserved from the fixture through every stage."""
        hh, daily = sizes["households"], sizes["daily_rows"]
        scored = printed["anomaly"]["rows"]
        expect("ingest rows", printed["ingest"]["rows"], sizes["raw_rows"])
        expect("daily rows", printed["preprocess"]["daily_rows"], daily)
        expect("feature rows", printed["features"]["rows"], daily - FEATURE_WARMUP_ROWS * hh)
        expect("scored rows", scored, daily - ML_WARMUP_ROWS * hh)
        expect("exported rows", printed["export"]["rows"], scored)
        expect("report sections", bool(printed["report"].get("consumption_profiles")), True)
        expect("flags within scored rows", 0 <= printed["anomaly"]["flagged"] <= scored, True)
        expect("finite positive rmse", 0 < printed["forecast"]["metrics"]["rmse"] < math.inf, True)

    def check_models(self, printed: dict) -> None:
        """Model outputs: the seed-42 pins, and the same in every op as in
        the warm-up op."""
        outputs = {
            "best": printed["forecast"]["best"],
            "rmse": printed["forecast"]["metrics"]["rmse"],
            "flagged": printed["anomaly"]["flagged"],
        }
        pins = PINS[self.name].get(str(self.seed))
        if pins:
            expect("best model", outputs["best"], pins["best"])
            expect("rmse", outputs["rmse"], pins["rmse"])
            expect("scored rows", printed["anomaly"]["rows"], pins["scored_rows"])
            flags = pins["flagged_by_cores"].get(str(self.cores))
            if flags is not None:
                expect(f"flags at local[{self.cores}]", outputs["flagged"], flags)
        if self.reference is None:
            log(f"outputs {outputs} scored_rows={printed['anomaly']['rows']}")
            self.reference = outputs
        expect("same outputs as the warm-up op", outputs, self.reference)

    def layer_extras(self, counters: dict) -> dict:
        return {
            f"{layer}.read_ratio": counters[layer]["inputBytes"] / size
            for layer, size in self.layer_inputs.items()
        }


def row_hash(columns: list[str], rows) -> str:
    """Order-insensitive hash of a result: SHA-256 of the canonical form
    (columns by name, cells as text, rows sorted) that the oracle sweep
    ``scripts/check_oracle.py`` compares."""
    from check_oracle import canon_rows

    return hashlib.sha256(repr(canon_rows(list(columns), rows)).encode()).hexdigest()


class QueryMix:
    """A pass over the query mix through the ``plans.QUERIES`` registry."""

    name = "query_mix"
    # The first pass runs cold (20-32 s at local[4]) and is the check pass.
    # Later passes take 8-15 s, and each one is still a little faster than
    # the one before, so a run times at least two and reports their median.
    # A third pass per run cost ten seconds and steadied nothing over ten
    # seeds: the spread was 0.18 against 0.11 for two.
    warmup_ops = 1
    min_ops = 2

    def __init__(self, spark, work: Path, seed: int, cores: int):
        from smart_energy_consumption_analytics_using_big_data_spark.plans import ORACLE, QUERIES

        self.spark, self.queries, self.oracle = spark, QUERIES, ORACLE
        self.tables = work / "tables"
        self.seed = seed
        self.order = sorted(QUERY_MIX)
        random.Random(seed).shuffle(self.order)
        self.reference: dict[str, tuple[int, str | None]] = {}

    def setup(self) -> None:
        log(f"tables {fixtures.write_tables(str(self.tables), self.seed)}")

    def op(self, tracer: probes.Tracer, index: int) -> dict:
        """One pass; return each query's columns and collected rows."""
        results = {}
        for name in self.order:
            with tracer.span(name, QUERY_MIX[name], f"{self.name}.op{index}") as attrs:
                t0 = time.perf_counter()
                df = self.queries[name](self.spark, str(self.tables))
                attrs["build_s"] = time.perf_counter() - t0
                results[name] = (df.columns, df.collect())
            self.spark.catalog.clearCache()
        return results

    warmup = op

    def check(self, results: dict, tracer: probes.Tracer) -> None:
        """Rows and row hash of every query: the first pass against the
        seed-42 pins and the DuckDB oracle, every later pass against the
        first. Queries without an oracle get a rows-only check."""
        summary = {
            name: (len(rows), row_hash(cols, rows) if name in self.oracle else None)
            for name, (cols, rows) in results.items()
        }
        if self.reference:
            for name, got in summary.items():
                expect(f"{name} rows and hash", got, self.reference[name])
            return
        pins = PINS[self.name].get(str(self.seed), {})
        for name, (rows, digest) in summary.items():
            log(f"{name} rows={rows} sha256={digest}")
            if name in pins:
                expect(f"{name} rows and hash", [rows, digest], [pins[name]["rows"], pins[name]["sha256"]])
        self.check_oracle(summary)
        self.reference = summary

    def check_oracle(self, summary: dict) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for path in sorted(self.tables.glob("*.parquet")):
                con.execute(f"CREATE VIEW {path.stem} AS SELECT * FROM '{path}'")
            for name, (_, digest) in summary.items():
                if name in self.oracle:
                    res = con.execute(self.oracle[name])
                    want = row_hash([d[0] for d in res.description], res.fetchall())
                    expect(f"{name} vs oracle", digest, want)
        finally:
            con.close()

    def layer_extras(self, counters: dict) -> dict:
        return {}


WORKLOADS = {cls.name: cls for cls in (EnergyCli, QueryMix)}


def configure_env(work: Path, cores: int) -> None:
    """The program's defaults: drop every engine override from the
    environment, then pin only the core count and Spark's scratch dirs.
    Temporary files of Python and the JVM stay inside the checkout."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def run_op(workload, op, tracer, index: int) -> tuple[bool, float, float]:
    """One op: (ok, wall seconds, CPU seconds of the whole process tree).
    Only the call is timed; its outputs are checked afterwards."""
    pid = os.getpid()
    cpu0, t0 = probes.tree_cpu_s(pid), time.perf_counter()
    try:
        result = op(tracer, index)
    except Exception:  # a failed call is a failed op
        result = None
        log(f"op {index} failed:\n{traceback.format_exc()}")
    t1 = time.perf_counter()
    wall, cpu = t1 - t0, probes.tree_cpu_s(pid) - cpu0
    tracer.record(f"op{index}", "op", None, t0, t1)
    ok = result is not None
    if ok:
        try:
            workload.check(result, tracer)
        except OutputMismatch as exc:  # a wrong output is a failed op
            log(f"op {index} output check failed: {exc}")
            ok = False
    log(f"op {index}: ok={ok} wall={wall:.3f}s cpu={cpu:.3f}s")
    return ok, wall, cpu


def per_layer(workload, tracer, rest, cores: int, setup: dict, traced_s: float) -> dict:
    metrics = dict.fromkeys(per_layer_names(), 0.0)
    spans = [sp for sp in tracer.spans if "group" in sp]
    jobs, stages = rest.settled(spans)
    counters = probes.span_counters(spans, jobs, stages)
    for layer, c in counters.items():
        layer_spans = [sp for sp in spans if sp["layer"] == layer]
        wall = sum(sp["end"] - sp["start"] for sp in layer_spans)
        metrics[f"{layer}.s"] = wall
        metrics[f"{layer}.cpu_s"] = c["executorCpuTime"] / 1e9
        metrics[f"{layer}.busy_ratio"] = c["executorRunTime"] / 1e3 / (wall * cores) if wall else 0.0
        metrics[f"{layer}.jobs"] = c["jobs"]
        metrics[f"{layer}.shuffle_mb"] = c["shuffleWriteBytes"] / MIB
        metrics[f"{layer}.spill_mb"] = c["diskBytesSpilled"] / MIB
        metrics[f"{layer}.gc_s"] = c["jvmGcTime"] / 1e3
        if f"{layer}.build_s" in metrics:
            metrics[f"{layer}.build_s"] = sum(sp.get("build_s", 0.0) for sp in layer_spans)
    metrics.update(workload.layer_extras(counters))
    metrics.update(setup)
    metrics["spark.failed_tasks"] = rest.failed_tasks()
    metrics["trace.op_s"] = traced_s
    metrics["trace.self_s"] = tracer.self_s
    return metrics


def write_spans(tracer, workload: str, seed: int) -> None:
    out = ROOT / ".perfbench_out"
    out.mkdir(exist_ok=True)
    with open(out / f"spans-{workload}-seed{seed}.jsonl", "w") as fh:
        for sp in tracer.spans:
            fh.write(json.dumps(sp) + "\n")


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have ended."""
    from pyspark import SparkContext

    pids = probes.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            with contextlib.suppress(subprocess.TimeoutExpired):
                proc.wait(timeout=60)
    probes.wait_gone(pids, 30.0)


def measure(args, work: Path, cores: int, t_start: float) -> tuple[list[bool], dict]:
    """Set up, warm up, time ops; return each op's ok flag and the metrics."""
    from smart_energy_consumption_analytics_using_big_data_spark import get_spark

    t0 = time.monotonic()
    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        setup = {"setup.session_s": time.monotonic() - t0}
        workload = WORKLOADS[args.workload](spark, work, args.seed, cores)
        t0 = time.monotonic()
        workload.setup()
        setup["setup.fixture_s"] = time.monotonic() - t0
        off = probes.Tracer(spark.sparkContext, enabled=False)
        t0 = time.monotonic()
        oks = [run_op(workload, workload.warmup, off, i)[0] for i in range(workload.warmup_ops)]
        setup["setup.warmup_s"] = time.monotonic() - t0
        setup_s = time.monotonic() - t_start
        log(f"setup {setup_s:.3f}s {setup}")

        # Time whole ops for about --seconds: at least min_ops of them, and
        # then none that the last op's length says would end past the window.
        walls, cpus = [], []
        measure_start = time.monotonic()
        while len(walls) < workload.min_ops or (
            time.monotonic() - measure_start + walls[-1] <= args.seconds
        ):
            ok, wall, cpu = run_op(workload, workload.op, off, len(oks))
            oks.append(ok)
            walls.append(wall)
            cpus.append(cpu)
        log(f"timed ops: {len(walls)}, walls {[round(w, 3) for w in walls]}")
        if not args.trace:
            return oks, {
                "setup_s": setup_s,
                "op_s": statistics.median(walls),
                "cpu_s": statistics.median(cpus),
                "op_ok_ratio": sum(oks) / len(oks),
            }
        tracer = probes.Tracer(spark.sparkContext, enabled=True)
        rest = probes.SparkRest(spark.sparkContext)
        ok, wall, _ = run_op(workload, workload.op, tracer, len(oks))
        oks.append(ok)
        metrics = per_layer(workload, tracer, rest, cores, setup, wall)
        metrics["op_samples"] = len(walls)
        jvm = probes.jvm_pid(os.getpid())
        metrics["process.peak_rss_mb"] = probes.peak_rss_mb([os.getpid()] + ([jvm] if jvm else []))
        write_spans(tracer, args.workload, args.seed)
        return oks, metrics
    finally:
        shutdown(spark)


def main() -> int:
    t_start = time.monotonic() - probes.process_age_s()
    ap = argparse.ArgumentParser(description="Benchmark the engine end to end and per layer.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    try:
        configure_env(work, cores)
        oks, metrics = measure(args, work, cores, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()

    failed = sum(not ok for ok in oks)
    result = {
        "correct": failed == 0,
        "attempted": len(oks),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def unit_of(name: str) -> str:
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith((".jobs", ".failed_tasks", "_samples")):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
