"""Sinks.

Covers the reference's sink surface (SURVEY.md SS2.1 S6-S10): Parquet
overwrite with snappy, optional repartition/coalesce for output-file
sizing, and CSV export as an explicit option (the reference used CSV
only as an exception fallback, `forecasting_model.py:552-555`).

Scale note: `target_partitions` mirrors the reference's
``max(20, n // 50_000)`` heuristic (`anomaly_detection.py:159-163`) but
callers should normally leave partitioning to AQE; explicit coalesce is
for file-count control on final outputs only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation


def target_partitions(row_count: int, rows_per_partition: int = 50_000, floor: int = 20) -> int:
    """Output partition heuristic (anomaly_detection.py:159-163)."""
    return max(floor, row_count // rows_per_partition)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = "snappy",
    num_files: int | None = None,
    partition_by: list[str] | None = None,
    shuffle_for_files: bool = False,
) -> None:
    """Parquet sink (S6/S7). `partition_by` adds hive-style partition
    pruning for downstream scans - the scale-path replacement for the
    reference's flat directories.

    `num_files` controls the output file count. Default is coalesce
    (no extra shuffle) — right when the upstream stage is cheap or
    already narrow. `shuffle_for_files=True` uses repartition instead:
    one extra exchange of the FINAL rows, but the upstream stage keeps
    its full parallelism — right when a wide aggregation feeds a small
    output (coalesce propagates the small task count INTO the agg:
    the full-scale daily rollup ran its 86M-row re-agg in 4 tasks,
    ~36 s; repartitioned, the agg runs wide and only the 3.6M result
    rows pay the extra exchange)."""
    if num_files is not None:
        df = df.repartition(num_files) if shuffle_for_files else df.coalesce(num_files)
    writer = df.write.mode(mode).option("compression", compression)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_observed(write, df: DataFrame, path: str, metrics: dict[str, Column], **kwargs) -> dict:
    """``write(df, path, **kwargs)`` with QC metrics observed IN the
    write job.

    ``metrics`` maps name -> aggregate Column (count/sum/null-rate...);
    `DataFrame.observe` attaches them as accumulator-style aggregates
    evaluated on the rows as they stream through the writer, so the
    metrics cost ZERO extra passes — on a 100 TB export that replaces
    the common anti-pattern of re-running count()/agg() over the just-
    written data (one full extra scan per KPI batch). Returns the
    observed values after the write commits.
    """
    obs = Observation("export_metrics")
    write(df.observe(obs, *[c.alias(n) for n, c in metrics.items()]), path, **kwargs)
    return dict(obs.get)


def write_parquet_observed(df: DataFrame, path: str, metrics: dict[str, Column], **kwargs) -> dict:
    """`write_parquet` (same keyword options) with ``metrics`` observed
    in the write job; see `write_observed`."""
    return write_observed(write_parquet, df, path, metrics, **kwargs)


def write_csv(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    header: bool = True,
    num_files: int | None = None,
) -> None:
    """CSV sink (S8), as a first-class option rather than a fallback."""
    if num_files is not None:
        df = df.coalesce(num_files)
    df.write.mode(mode).option("header", header).csv(path)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str,
    mode: str = "overwrite",
) -> None:
    """Deterministic shuffled-shard export for training pipelines.

    Rows are hash-assigned to exactly ``n_shards`` files (repartition on
    md5 of the id, so the same input always lands in the same shard
    regardless of upstream partitioning) and pseudo-randomly ordered
    within each shard (sort on the hash = a reproducible corpus
    shuffle). A downstream trainer reading shard i gets the same bytes
    on every run - the property RNG-based repartition(n) cannot give.
    The shard column is hive-partitioned so a trainer can read one
    shard with partition pruning instead of listing all files.
    """
    from pyspark.sql import functions as F

    hashed = df.withColumn("__h", F.md5(F.col(id_col).cast("string"))).withColumn(
        "shard",
        (F.conv(F.substring("__h", 1, 4), 16, 10).cast("int") % n_shards),
    )
    (
        hashed.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__h", id_col)
        .drop("__h")
        .write.mode(mode)
        .partitionBy("shard")
        .parquet(path)
    )


def write_parquet_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    num_files: int,
    mode: str = "overwrite",
    bits: int = 8,
) -> None:
    """Z-order clustered parquet sink: multi-dimensional data layout.

    A plain sort clusters one column perfectly and leaves every other
    column's per-file min/max spanning the whole domain; interleaving
    the bit-planes of all `cols` (Morton order) keeps EVERY clustering
    column's per-file range narrow at once, so parquet row-group
    statistics prune scans filtered on ANY of the columns - the
    standard layout for a 100 TB table queried along several axes.

    Mechanics: each column is scaled to a 2^bits equal-width bucket id
    (global min/max from one aggregate - a scalar driver collect),
    bucket bits are interleaved into a single z-value with native
    shift/mask expressions (codegen'd, no UDF), and the data is
    range-partitioned + locally sorted on it. Costs one stats pass and
    the range-partitioner's sample pass on top of the write itself;
    both are scan-bound, the accepted price of a layout-optimizing
    writer. NULLs cluster with the lowest bucket.
    """
    from pyspark.sql import functions as F

    n_buckets = 1 << bits
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"min_{j}") for j, c in enumerate(cols)],
        *[F.max(F.col(c).cast("double")).alias(f"max_{j}") for j, c in enumerate(cols)],
    ).first()
    ncols = len(cols)
    buckets = []
    for j, c in enumerate(cols):
        lo, hi = stats[f"min_{j}"], stats[f"max_{j}"]
        span = (hi - lo) if (hi is not None and lo is not None and hi > lo) else 1.0
        raw = F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * n_buckets)
        buckets.append(
            F.coalesce(F.least(F.lit(n_buckets - 1), raw), F.lit(0)).cast("long")
        )
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, b in enumerate(buckets):
            bit = F.shiftright(b, i).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, i * ncols + j))
    (
        df.withColumn("__z", z)
        .repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_orc(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    num_files: int | None = None,
) -> None:
    """ORC sink (columnar alternative to parquet, zlib default) - kept
    for interop with ORC-based warehouses; same pushdown/pruning story
    as parquet on read-back."""
    if num_files is not None:
        df = df.coalesce(num_files)
    df.write.mode(mode).orc(path)


def write_json(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    num_files: int | None = None,
) -> None:
    """JSON-lines sink (interchange format; schema travels with data).
    Row-oriented - an exchange format, not an analytics format: no
    column pruning on read-back, so never a stage boundary."""
    if num_files is not None:
        df = df.coalesce(num_files)
    df.write.mode(mode).json(path)


def backfill_partitions(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    compression: str = "snappy",
) -> None:
    """Backfill: overwrite ONLY the hive partitions present in ``df``,
    leaving every other partition of the table untouched — the
    recompute-one-day production pattern. Spark's default (static)
    overwrite would TRUNCATE the whole table first; dynamic mode diffs
    the incoming partition values and swaps just those directories.
    The conf is runtime-scoped and restored, so a shared session's
    other writes keep static semantics.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (
            df.write.mode("overwrite")
            .option("compression", compression)
            .partitionBy(*partition_by)
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


# Characters Hive/Spark escape in partition directory names
# (ExternalCatalogUtils.escapePathName): control chars plus this set.
_HIVE_UNSAFE = set('"#%\'*/:=?\\\x7f{[]^')


def _hive_part_value(v) -> str:
    """Render a partition value exactly as Spark names its directory:
    NULL -> __HIVE_DEFAULT_PARTITION__, unsafe chars %XX-escaped."""
    if v is None:
        return "__HIVE_DEFAULT_PARTITION__"
    s = str(v)
    return "".join(
        f"%{ord(ch):02X}" if ch in _HIVE_UNSAFE or ord(ch) < 32 else ch
        for ch in s
    )


def forget_subject(
    spark,
    path: str,
    subject_col: str,
    subject_values: list,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """Targeted erasure (GDPR/CCPA "right to be forgotten") on a
    hive-partitioned parquet table: rewrite ONLY the partitions that
    actually contain the subject, leave every other partition's files
    byte-untouched.

    Two passes, both partition-pruned: (1) a subject-filtered scan
    finds the affected partition values (pushdown means untouched
    partitions are never read past their footers); (2) those
    partitions are re-read WITHOUT the subject and swapped in via
    dynamic partition overwrite (`backfill_partitions`). A full-table
    rewrite would be correct too — but at 100 TB the difference
    between rewriting 3 partitions and 3,000 is the whole point.

    Returns a report DataFrame (partition values, rows_before,
    rows_after) — the audit artifact an erasure request needs.

    Edge case that dynamic overwrite CANNOT handle: a partition whose
    every row belongs to the subject.  ``cleaned`` then has zero rows
    for that partition value, dynamic ``partitionOverwriteMode`` only
    swaps partitions *present* in the written DataFrame, and the
    original files (pure subject PII) would survive byte-untouched
    while the report looked successful.  Such partitions are deleted
    explicitly through the Hadoop FileSystem API (scheme-agnostic, so
    it works on HDFS/S3A exactly as on local disk), and the deletion is
    verified — a partition that cannot be cleared raises instead of
    silently violating the erasure contract.
    """
    from pyspark.sql import functions as F

    if partition_by is None:
        partition_by = ["date"]
    table = spark.read.parquet(path)
    hit = table.filter(F.col(subject_col).isin(subject_values))
    affected = [
        tuple(r) for r in hit.select(*partition_by).distinct().collect()
    ]
    if not affected:
        return spark.createDataFrame(
            [],
            ", ".join(f"{c} string" for c in partition_by)
            + ", rows_before long, rows_after long",
        )
    cond = None
    for vals in affected:
        one = None
        for c, v in zip(partition_by, vals):
            clause = F.col(c) == F.lit(v)
            one = clause if one is None else (one & clause)
        cond = one if cond is None else (cond | one)
    before = (
        spark.read.parquet(path)
        .filter(cond)
        .groupBy(*partition_by)
        .agg(F.count(F.lit(1)).alias("rows_before"))
    )
    cleaned = (
        spark.read.parquet(path)
        .filter(cond)
        .filter(~F.col(subject_col).isin(subject_values))
    )
    # materialize BEFORE the overwrite: the rewrite reads the same
    # files it replaces, so the cleaned rows must be pinned first
    cleaned = cleaned.localCheckpoint(eager=True)
    before = before.localCheckpoint(eager=True)
    # partitions with zero survivors never appear in `cleaned`, so the
    # dynamic overwrite below would leave them untouched — find them
    # now (bounded: one tuple per affected partition) for explicit
    # directory deletion after the swap.
    surviving = {
        tuple(r) for r in cleaned.select(*partition_by).distinct().collect()
    }
    emptied = [vals for vals in affected if tuple(vals) not in surviving]
    backfill_partitions(cleaned, path, partition_by)
    if emptied:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for vals in emptied:
            part_dir = "/".join(
                [path.rstrip("/")]
                + [
                    f"{c}={_hive_part_value(v)}"
                    for c, v in zip(partition_by, vals)
                ]
            )
            jpath = jvm.org.apache.hadoop.fs.Path(part_dir)
            fs = jpath.getFileSystem(hconf)
            fs.delete(jpath, True)
            if fs.exists(jpath):
                raise RuntimeError(
                    f"erasure failed: partition {part_dir} contains only "
                    "subject rows and could not be deleted"
                )
    # Verify the OUTCOME, not the paths we computed: if
    # _hive_part_value ever diverges from Spark's actual directory
    # rendering (boolean 'True' vs 'true', timestamp formatting, ...)
    # the fs.delete above is a silent no-op on a nonexistent path and
    # the pure-PII partition survives — the exact contract violation
    # this function exists to close. A subject-filtered re-scan of the
    # rewritten table is the ground truth the directory check cannot
    # give. The re-scan restricts itself to the AFFECTED partition
    # values (`cond`, a partition-column predicate, so it prunes at
    # the scan like pass 1): complete, because subject rows can only
    # exist where pass 1 found them — untouched partitions were proven
    # subject-free and their files were not rewritten, and a surviving
    # pure-PII directory keeps its original (affected) partition value.
    try:
        remaining = spark.read.parquet(path)
        remaining.first()  # force schema/file resolution inside the try
    except Exception:
        # every partition was emptied and deleted: nothing left to read
        remaining = None
    if remaining is None:
        after = (
            before.select(*partition_by)
            .limit(0)
            .withColumn("rows_after", F.lit(0).cast("long"))
        )
    else:
        residual = (
            remaining.filter(cond)
            .filter(F.col(subject_col).isin(subject_values))
            .count()
        )
        if residual:
            raise RuntimeError(
                f"erasure failed: {residual} subject row(s) survive the "
                "rewrite (partition directory rendering diverged from "
                "the computed path?)"
            )
        after = (
            remaining.filter(cond)
            .groupBy(*partition_by)
            .agg(F.count(F.lit(1)).alias("rows_after"))
        )
        after = after.localCheckpoint(eager=True)
    return before.join(after, partition_by, "left").select(
        *[F.col(c).cast("string").alias(c) for c in partition_by],
        "rows_before",
        F.coalesce("rows_after", F.lit(0)).alias("rows_after"),
    )
