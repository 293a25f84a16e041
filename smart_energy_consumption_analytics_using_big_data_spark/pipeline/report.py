"""KPI / report tables behind the reference dashboard.

The reference serves these from Streamlit (`visualization/
streamlit_app.py:200-255` KPI cards, `:481-555` anomaly overview,
`:556-635` feature importance + consumption profiles); the analytics
are re-expressed here as DataFrame programs over the pipeline's
parquet outputs so `cli.py report` can emit them as JSON/CSV without
any UI dependency.

Everything collected to the driver is KPI-sized by construction
(scalars, top-15 lists, per-weekday/per-month rows); the heavy lifting
stays in Spark aggregations - one scan per source table, correlations
for all feature columns in a single agg pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TOP_N = 15


def kpi_cards(daily: DataFrame, features: DataFrame, anomalies: DataFrame | None) -> dict:
    """Headline cards (`streamlit_app.py:200-255`): households, records,
    anomaly rate, consumption totals, feature count, data period."""
    entity = "LCLid" if "LCLid" in daily.columns else "user_id"
    kwh = "daily_energy_kwh" if "daily_energy_kwh" in daily.columns else "label_value"
    base = daily.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.countDistinct(entity).alias("households"),
        F.round(F.avg(kwh), 6).alias("avg_daily_kwh"),
        F.round(F.sum(kwh), 6).alias("total_kwh"),
        F.min("date").alias("period_start"),
        F.max("date").alias("period_end"),
    ).collect()[0]
    out = {
        "total_records": base["total_records"],
        "households": base["households"],
        "avg_daily_kwh": base["avg_daily_kwh"],
        "total_kwh": base["total_kwh"],
        "period_start": str(base["period_start"]),
        "period_end": str(base["period_end"]),
        "n_features": len(
            [c for c in features.columns if c not in (entity, "date", kwh)]
        ),
    }
    if anomalies is not None:
        an = anomalies.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("is_anomaly").cast("long")).alias("flagged"),
        ).collect()[0]
        out["anomalies_detected"] = an["flagged"]
        out["anomaly_rate_pct"] = (
            round(100.0 * an["flagged"] / an["n"], 4) if an["n"] else None
        )
    return out


def monthly_anomaly_rate(anomalies: DataFrame) -> DataFrame:
    """Anomaly-rate-%-by-month line (`streamlit_app.py:500-512`)."""
    return (
        anomalies.groupBy(F.date_format("date", "yyyy-MM").alias("month"))
        .agg(F.round(F.avg(F.col("is_anomaly").cast("double")) * 100, 4).alias("anomaly_rate_pct"))
        .orderBy("month")
    )


def top_anomalous_entities(anomalies: DataFrame, n: int = TOP_N) -> DataFrame:
    """Top-N entities by anomaly count (`streamlit_app.py:481-487`)."""
    entity = "LCLid" if "LCLid" in anomalies.columns else "user_id"
    return (
        anomalies.filter(F.col("is_anomaly") == 1)
        .groupBy(F.col(entity).alias("entity"))
        .agg(F.count(F.lit(1)).alias("n_anomalies"))
        .orderBy(F.desc("n_anomalies"), "entity")
        .limit(n)
    )


def anomalies_by_weekday(anomalies: DataFrame) -> DataFrame:
    """Anomaly count per weekday (`streamlit_app.py:489-497`)."""
    return (
        anomalies.filter(F.col("is_anomaly") == 1)
        .groupBy(F.dayofweek("date").alias("weekday"))
        .agg(F.count(F.lit(1)).alias("n_anomalies"))
        .orderBy("weekday")
    )


def consumption_profiles(daily: DataFrame) -> DataFrame:
    """Avg consumption by weekday + by month in ONE scan
    (`streamlit_app.py:605-635`): group on the (dimension, bucket) pair
    via a 2-row explode instead of two passes over the fact table."""
    kwh = "daily_energy_kwh" if "daily_energy_kwh" in daily.columns else "label_value"
    buckets = daily.select(
        F.col(kwh).alias("kwh"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("weekday").alias("dim"),
                    F.dayofweek("date").cast("string").alias("bucket"),
                ),
                F.struct(
                    F.lit("month").alias("dim"),
                    F.date_format("date", "yyyy-MM").alias("bucket"),
                ),
            )
        ).alias("b"),
    )
    return (
        buckets.groupBy(F.col("b.dim").alias("dim"), F.col("b.bucket").alias("bucket"))
        .agg(F.round(F.avg("kwh"), 6).alias("avg_daily_kwh"))
        .orderBy("dim", "bucket")
    )


def top_feature_correlations(features: DataFrame, n: int = TOP_N) -> list[dict]:
    """Top-N |corr(feature, daily_energy_kwh)| (`streamlit_app.py:540-555`).

    All correlations are computed in one agg pass (one scan regardless
    of feature count). Near-perfect correlations (>= 0.999) are dropped
    as leakage, mirroring the reference.
    """
    target = "daily_energy_kwh" if "daily_energy_kwh" in features.columns else "label_value"
    entity = "LCLid" if "LCLid" in features.columns else "user_id"
    numeric = {
        c
        for c, dt in features.dtypes
        if dt in ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal")
        or dt.startswith("decimal")
    }
    cols = [c for c in sorted(numeric) if c not in (target, entity, "date")]
    if not cols:
        return []
    # ANSI-safe Pearson r: F.corr throws DIVIDE_BY_ZERO on a constant
    # column; try_divide yields NULL there (then filtered out).
    def safe_corr(c: str):
        return F.round(
            F.try_divide(
                F.covar_samp(c, target),
                F.stddev_samp(c) * F.stddev_samp(target),
            ),
            6,
        ).alias(c)

    row = features.agg(*[safe_corr(c) for c in cols]).collect()[0]
    corrs = [
        {"feature": c, "abs_corr": abs(row[c])}
        for c in cols
        if row[c] is not None and abs(row[c]) < 0.999
    ]
    corrs.sort(key=lambda d: (-d["abs_corr"], d["feature"]))
    return corrs[:n]


def cluster_profile(anomalies: DataFrame) -> DataFrame:
    """Per-cluster segmentation profile (`streamlit_app.py:649-694`):
    size, mean/std consumption, anomaly count and rate. The reference
    re-clusters a 50k-row pandas sample inside the dashboard; here the
    pipeline's own K-Means labels (ml/anomaly.detect_anomalies) are
    profiled with one full-data agg — no sampling, no second fit."""
    kwh = "daily_energy_kwh" if "daily_energy_kwh" in anomalies.columns else "label_value"
    return (
        anomalies.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg(kwh), 6).alias("avg_daily_kwh"),
            F.round(F.stddev_samp(kwh), 6).alias("std_daily_kwh"),
            F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
            F.round(F.avg(F.col("is_anomaly").cast("double")) * 100, 4).alias(
                "anomaly_rate_pct"
            ),
        )
        .orderBy("cluster")
    )


def qq_residuals(
    anomalies: DataFrame, n_points: int = 99, errs: DataFrame | None = None
) -> dict | None:
    """Normal Q-Q panel data for the forecast residuals
    (`streamlit_app.py:406`, `stats.probplot(errors, dist="norm")`).

    The dashboard variant of the oracled exact-order-statistics query
    (`q_eval_qq_normal`): instead of ranking every residual (a global
    sort), sample quantiles come from ONE `percentile_approx` sketch
    pass — mergeable, bounded-memory, the 100 TB shape — at a fixed
    centile grid. Theoretical quantiles are stdlib
    `statistics.NormalDist.inv_cdf` on the same grid (driver-side,
    n_points scalars); the reference line is the least-squares fit over
    the grid pairs, probplot's fit evaluated on quantile points.
    """
    import statistics

    if errs is None:
        errs, _ = _errors(anomalies)
    if errs is None:
        return None
    probs = [(j + 1) / (n_points + 1) for j in range(n_points)]
    row = errs.agg(
        F.percentile_approx("err", probs, 10_000).alias("q"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if not row["n"] or row["n"] < 10:
        return None
    nd = statistics.NormalDist()
    theo = [nd.inv_cdf(p) for p in probs]
    samp = [float(v) for v in row["q"]]
    n = float(n_points)
    sx, sy = sum(theo), sum(samp)
    sxx = sum(x * x for x in theo)
    sxy = sum(x * y for x, y in zip(theo, samp))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    return {
        "n_residuals": int(row["n"]),
        "slope": round(slope, 6),
        "intercept": round(intercept, 6),
        "points": [
            {"theo_q": round(x, 6), "sample_q": round(y, 6)}
            for x, y in zip(theo, samp)
        ],
    }


def _errors(anomalies: DataFrame):
    """Residual frame shared by every error panel: err = prediction -
    actual, filtered to NON-NULL err (a NULL actual — e.g. scored
    future dates with no ground truth — must not reach a panel: a NULL
    err would crash the all-NULL percentile unpack and be clamped into
    bin 0 by greatest(NULL, 0) otherwise). Single source of truth for
    the error definition."""
    if "prediction" not in anomalies.columns:
        return None, None
    kwh = "daily_energy_kwh" if "daily_energy_kwh" in anomalies.columns else "label_value"
    errs = anomalies.withColumn("err", F.col("prediction") - F.col(kwh)).filter(
        F.col("err").isNotNull()
    )
    return errs, kwh


def _fixed_bin_rows(errs: DataFrame, col: str, lo: float, hi: float, n_bins: int, *aggs):
    """Clamped fixed-width binning shared by the histogram and the
    error-vs-actual panel: values outside [lo, hi] land in the end
    bins. Returns (lo, width, {bin_index: Row(aggs...)})."""
    if hi <= lo:
        hi = lo + 1e-9
    width = (hi - lo) / n_bins
    bin_expr = F.least(
        F.greatest(F.floor((F.col(col) - lo) / width), F.lit(0)).cast("int"),
        F.lit(n_bins - 1),
    )
    rows = errs.groupBy(bin_expr.alias("bin")).agg(*aggs).collect()
    return lo, width, {r["bin"]: r for r in rows}


def error_histogram(
    anomalies: DataFrame, n_bins: int = 30, errs: DataFrame | None = None
) -> dict | None:
    """Error-distribution panel (`streamlit_app.py:380-393`): fixed-
    width bins between p0.5/p99.5 (tails clipped into the end bins so
    one outlier can't flatten the plot), plus the mean-error vline.
    Two agg passes total (sketch for the range, one groupBy for the
    bins) — no driver-side raw errors, unlike the dashboard's
    `errors.dropna()` pandas pull."""
    if errs is None:
        errs, _ = _errors(anomalies)
    if errs is None:
        return None
    row = errs.agg(
        F.percentile_approx("err", [0.005, 0.995], 10_000).alias("p"),
        F.round(F.avg("err"), 6).alias("mean_err"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    if not row["n"]:
        return None
    lo, width, by_bin = _fixed_bin_rows(
        errs, "err", float(row["p"][0]), float(row["p"][1]), n_bins,
        F.count(F.lit(1)).alias("n"),
    )
    return {
        "mean_err": row["mean_err"],
        "n_errors": int(row["n"]),
        "bins": [
            {
                "lo": round(lo + i * width, 6),
                "hi": round(lo + (i + 1) * width, 6),
                "n": int(by_bin[i]["n"]) if i in by_bin else 0,
            }
            for i in range(n_bins)
        ],
    }


def error_by_day(
    anomalies: DataFrame, errs: DataFrame | None = None
) -> DataFrame | None:
    """Error-time-series panel (`streamlit_app.py:419-430`): the
    dashboard line-plots a 5k random sample of raw errors; the scalable
    equivalent is the daily mean with a p10/p90 band — one agg, output
    rows = days."""
    if errs is None:
        errs, _ = _errors(anomalies)
    if errs is None:
        return None
    return (
        errs.groupBy("date")
        .agg(
            F.round(F.avg("err"), 6).alias("mean_err"),
            F.round(F.percentile_approx("err", 0.1, 10_000), 6).alias("p10_err"),
            F.round(F.percentile_approx("err", 0.9, 10_000), 6).alias("p90_err"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("date")
    )


def error_vs_actual(
    anomalies: DataFrame, n_bins: int = 20, errs: DataFrame | None = None
) -> list[dict] | None:
    """Error-vs-actual panel (`streamlit_app.py:395-401`): the
    dashboard scatter-samples 10k raw points; engine-side the actual
    consumption axis is cut into fixed-width bins and each bin reports
    its mean error + count — the binned-residual plot that actually
    shows heteroscedasticity at any scale."""
    kwh = "daily_energy_kwh" if "daily_energy_kwh" in anomalies.columns else "label_value"
    if errs is None:
        errs, _ = _errors(anomalies)
    if errs is None:
        return None
    row = errs.agg(
        F.min(kwh).alias("lo"), F.max(kwh).alias("hi"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    if not row["n"]:
        return None
    lo, width, by_bin = _fixed_bin_rows(
        errs, kwh, float(row["lo"]), float(row["hi"]), n_bins,
        F.round(F.avg("err"), 6).alias("mean_err"),
        F.count(F.lit(1)).alias("n"),
    )
    return [
        {
            "actual_lo": round(lo + i * width, 6),
            "actual_hi": round(lo + (i + 1) * width, 6),
            "mean_err": by_bin[i]["mean_err"] if i in by_bin else None,
            "n": int(by_bin[i]["n"]) if i in by_bin else 0,
        }
        for i in range(n_bins)
    ]


def build_report(
    daily: DataFrame,
    features: DataFrame,
    anomalies: DataFrame | None = None,
    model_metadata: dict | None = None,
) -> dict:
    """Full dashboard-parity report as one JSON-serializable dict.

    The anomalies table and its residual frame feed ~10 independent
    panel actions. Both are persisted and materialized once, so each
    panel re-reads cached blocks instead of re-scanning the parquet
    (the same discipline as detect_anomalies/energy.run_anomaly, ADVICE r9).
    The panels then run concurrently from a small driver thread pool
    (`session.thread_map`): each is a handful of tiny jobs, and
    alone they leave most executor slots idle. The dict keeps a fixed
    key order whatever order the panels finish in."""
    from smart_energy_consumption_analytics_using_big_data_spark.session import thread_map

    def rows(df: DataFrame) -> list[dict]:
        return [r.asDict() for r in df.collect()]

    panels = {"kpi": lambda: kpi_cards(daily, features, anomalies)}
    if model_metadata:
        panels["model"] = lambda: model_metadata
    panels["consumption_profiles"] = lambda: rows(consumption_profiles(daily))
    panels["top_feature_correlations"] = lambda: top_feature_correlations(features)
    if anomalies is not None:
        anomalies = anomalies.persist()
        panels["monthly_anomaly_rate"] = lambda: rows(monthly_anomaly_rate(anomalies))
        panels["top_anomalous_entities"] = lambda: rows(top_anomalous_entities(anomalies))
        panels["anomalies_by_weekday"] = lambda: rows(anomalies_by_weekday(anomalies))
        if "cluster" in anomalies.columns:
            panels["cluster_profile"] = lambda: rows(cluster_profile(anomalies))
    errs = None if anomalies is None else _errors(anomalies)[0]
    if errs is not None:
        errs = errs.persist()
        panels["qq_residuals"] = lambda: qq_residuals(anomalies, errs=errs)
        panels["error_histogram"] = lambda: error_histogram(anomalies, errs=errs)
        panels["error_by_day"] = lambda: [
            {**r, "date": str(r["date"])} for r in rows(error_by_day(anomalies, errs=errs))
        ]
        panels["error_vs_actual"] = lambda: error_vs_actual(anomalies, errs=errs)
    try:
        if anomalies is not None:
            # one job fills both caches: errs is built from the anomalies cache
            (anomalies if errs is None else errs).count()
        built = thread_map(daily.sparkSession, lambda panel: panel(), panels.values())
        return {k: v for k, v in zip(panels, built) if v is not None}
    finally:
        if anomalies is not None:
            anomalies.unpersist()
        if errs is not None:
            errs.unpersist()
