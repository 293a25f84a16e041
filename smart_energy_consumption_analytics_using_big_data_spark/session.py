"""SparkSession factory.

One session for the whole engine (the reference builds 5 separate
sessions, one per OS-process stage - `run_pipeline.ps1:18-40`; we keep a
single driver-resident DAG instead, SURVEY.md SS3).

Scale defaults: AQE on everywhere (the reference enabled it only in its
ML stages, `forecasting_model.py:44-45`), shuffle partitions sized from
the local core count but overridable for cluster deployments, UTC
session timezone so timestamp semantics are deterministic across
engines, Arrow enabled for any pandas interchange, and a generated-class
cache big enough for a whole pipeline pass (`CODEGEN_CACHE_ENTRIES`), so
a warm pass in a long-lived session compiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`)
# holds 100 classes by default. One cold pass at local[4], seed 42,
# compiles 291-310 classes for the `cli all` chain and 204-217 for the
# perfbench query mix; each pass walks that working set in the same
# order, so a 100-entry LRU never hits and every warm pass recompiles
# all of it (~10 ms a class on the planning threads, then C2 JITs each
# fresh class again). 1000 holds either working set with room to spare.
# A static conf: like `spark.driver.memory` it only takes effect when
# this session launches the JVM.
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "smart-energy-analytics",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[N]`` with N = $SPARK_GRAFT_CPUS or all cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 4
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
            or os.environ.get("SPARK_GRAFT_CPUS")
            or os.cpu_count()
            or 32
        )
    # In local mode the "cluster" is one JVM: executors, shuffle state
    # and the driver share a single heap, and Spark's 1g default OOMs
    # long before the machine does (measured: a 10M-row window probe on
    # local[32] died at 1g on a 128 GiB box). Only effective when this
    # session launches the JVM - a foreign session's heap is its own.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # testdata parquet carries INT64 TIMESTAMP(NANOS); Spark reads it
        # as long under this flag and sources/catalog.py converts to
        # TimestampType via integer division (never float - precision).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.showConsoleProgress", "false")
    )
    # Session-drift lever (PERFORMANCE.md r11): extra driver-JVM flags
    # (GC choice, -Xms pinning, pre-touch) injected by measurement
    # harnesses without a code change. Local mode = one JVM, so driver
    # flags are the whole story; only effective at JVM launch.
    java_opts = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def thread_map(spark: SparkSession, fn, items) -> list:
    """``[fn(x) for x in items]`` on up to 4 driver threads, results
    in input order. Spark interleaves jobs submitted from several driver
    threads, so independent actions overlap on the executors. Each
    thread inherits the caller's local properties (job group,
    description, scheduler pool) through `inheritable_thread_target`,
    so the overlapped jobs stay attributed to the stage that started
    them."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    items = list(items)
    wrap = inheritable_thread_target(spark)
    # outside pinned-thread mode the wrapper hands the session back
    target = fn if wrap is spark else wrap(fn)
    with ThreadPoolExecutor(max_workers=max(1, min(4, len(items)))) as ex:
        return list(ex.map(target, items))
