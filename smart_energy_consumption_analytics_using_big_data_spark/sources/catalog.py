"""Table catalog over the synthetic testdata and engine outputs.

The reference's "catalog" is a directory-name convention under
``data/processed/`` (SURVEY.md SS1.1, `data_preprocessing.py:97`); here
tables are named Parquet datasets loadable by name and registrable as
SQL views, so DataFrame and ``spark.sql`` programs share one surface.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

log = logging.getLogger(__name__)

TESTDATA_TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Time columns whose PHYSICAL parquet representation has drifted across
# testdata generator versions: round 1 wrote INT64 TIMESTAMP(NANOS)
# (admitted as long under spark.sql.legacy.parquet.nanosAsLong; DuckDB
# truncates the same values to micros, so `div 1000` floor-matches),
# round 3 writes TIMESTAMP_NTZ micros (read natively). load_table
# branches on the observed dtype, so EITHER flavor yields a usable
# column; epoch arithmetic downstream goes through
# functions/timefns.epoch_us|epoch_s (tests/test_dtype_drift.py).
_NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def configure_runtime(spark: SparkSession) -> None:
    """Idempotent runtime conf applied before reading testdata.

    Safe on foreign sessions (e.g. the correctness driver's): all three
    are runtime-settable SQL confs.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def normalize_ts(df: DataFrame, col: str) -> DataFrame:
    """Normalize one physical time column to TimestampType.

    The dtype branch shared by every reader of driver-generated time
    columns (batch catalog, streaming reader, model trainers): a
    ``bigint`` column is the legacy INT64 TIMESTAMP(NANOS) flavor
    admitted under ``nanosAsLong`` (divide to micros), anything else
    (timestamp, timestamp_ntz under the pinned-UTC session) casts
    exactly. Hard-coding either branch is the round-2 bug class
    (tests/test_dtype_drift.py).
    """
    if dict(df.dtypes).get(col) == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df.withColumn(col, F.col(col).cast("timestamp"))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing nano-timestamps to TimestampType."""
    configure_runtime(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for col in _NANO_TS_COLS.get(name, ()):
        if dtypes.get(col) == "bigint":
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    return df


def table_size_bytes(spark: SparkSession, sf_dir: str, name: str) -> int | None:
    """On-storage byte size of one testdata table, or None if the
    filesystem cannot answer (treat as "unknown, assume small").

    Goes through the Hadoop FileSystem API so it works for any scheme
    Spark can read (local, HDFS, s3a), not just the local filesystem.
    The input of every `SIZE_GATES` decision (`size_gate`): the same
    role table statistics play for Catalyst's own join planning,
    exposed where a query builder needs the decision before the
    optimizer sees the plan."""
    try:
        sc = spark.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/{name}.parquet")
        fs = path.getFileSystem(sc._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(path).getLength())
    except Exception:  # noqa: BLE001 - size is advisory, never fatal
        return None


# Manual cost-based plan choices: gate name -> the table whose
# on-storage size decides it. Each gate turns its branch on when that
# table holds at least SIZE_GATE_DEFAULT_BYTES, overridden per gate by
# the env variable `size_gate_env(name)` (SPARK_GRAFT_{NAME}_BYTES);
# both branches of every gate return identical rows.
# - mcs_prefilter: q_sql_min_cost_supplier's offers pre-filter
#   (OPTIMIZATION_r15.md shipped item 6).
# - winnow_guard: winnow_pairs' count-gated collect in q_dedup_winnow,
#   q_dedup_winnow_fast and q_dedup_winnow_arrow (r16).
# - bfs_adj: q_graph_bfs's adjacency fold (OPTIMIZATION_r16.md shipped
#   item 2). It guards the derived edge table but reads lineitem: the
#   crossover was measured in lineitem bytes (sf0.1 at 11 MB slower,
#   the 10x graph at 103 MB faster), and the edge table's size is not
#   known before the query runs.
SIZE_GATES: dict[str, str] = {
    "mcs_prefilter": "lineitem",
    "winnow_guard": "documents",
    "bfs_adj": "lineitem",
}
SIZE_GATE_DEFAULT_BYTES = 64 * 1024 * 1024


def size_gate_env(name: str) -> str:
    """The env variable that overrides gate `name`'s byte threshold."""
    return f"SPARK_GRAFT_{name.upper()}_BYTES"


def size_gate(spark: SparkSession, sf_dir: str, name: str) -> bool:
    """Decide the `SIZE_GATES` entry `name` for the tables in `sf_dir`:
    True when its table's on-storage size reaches the threshold. A
    table the filesystem cannot size counts as small. Stats the table
    once and logs the gate, byte count, threshold and decision at
    INFO. A non-integer override raises ValueError naming its
    variable."""
    var = size_gate_env(name)
    raw = os.environ.get(var)
    try:
        threshold = SIZE_GATE_DEFAULT_BYTES if raw is None else int(raw)
    except ValueError:
        raise ValueError(f"{var} must be an integer byte count, got {raw!r}") from None
    n = table_size_bytes(spark, sf_dir, SIZE_GATES[name])
    on = n is not None and n >= threshold
    log.info(
        "size gate %s: %s bytes=%s threshold=%d -> %s",
        name, SIZE_GATES[name], n, threshold, "on" if on else "off",
    )
    return on


def load_time_range(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_col: str,
    lower: str | None = None,
    upper: str | None = None,
) -> DataFrame:
    """Table scan with a time-range predicate pushed into Parquet.

    The nanos->timestamp conversion in load_table blocks predicate
    pushdown (Catalyst cannot push through timestamp_micros(expr)), so
    a post-conversion filter would scan every row group. Because the
    conversion is monotonic, the equivalent bound on the RAW nanos long
    pushes down (`PushedFilters: [GreaterThanOrEqual(ts, ...)]`) and
    prunes row groups via min/max statistics - the difference between
    reading 100 TB and reading a day.
    """
    import datetime as dt

    configure_runtime(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if dict(df.dtypes).get(ts_col) != "bigint":
        # already a real timestamp column: typed predicates push natively
        if lower is not None:
            df = df.filter(F.col(ts_col) >= F.lit(lower).cast("timestamp"))
        if upper is not None:
            df = df.filter(F.col(ts_col) < F.lit(upper).cast("timestamp"))
        return df

    def to_nanos(s: str) -> int:
        parsed = dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc)
        return int(parsed.timestamp() * 1_000_000) * 1_000

    if lower is not None:
        df = df.filter(F.col(ts_col) >= F.lit(to_nanos(lower)))
    if upper is not None:
        df = df.filter(F.col(ts_col) < F.lit(to_nanos(upper)))
    return df.withColumn(ts_col, F.timestamp_micros(F.expr(f"`{ts_col}` div 1000")))


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for name in TESTDATA_TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
