"""End-to-end CLI run (ingest -> ... -> anomaly -> report) on the
deterministic readings fixture, asserting the report JSON against
values recomputed from the pipeline's own parquet outputs and the
persisted model metadata (`forecasting_model.py:561-571`,
`streamlit_app.py:200-255,481-555,605-635` parity)."""

from __future__ import annotations

import json

import pytest
from pyspark import StorageLevel

from smart_energy_consumption_analytics_using_big_data_spark import cli
from smart_energy_consumption_analytics_using_big_data_spark.pipeline import energy


@pytest.fixture(scope="module")
def pipeline_out(spark, readings_fixture, tariffs_fixture, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("cli_pipeline"))
    tariffs_csv = str(tmp_path_factory.mktemp("tariffs") / "tariffs.csv")
    tariffs_fixture.to_csv(tariffs_csv, index=False)
    cli.main(["ingest", "--readings", readings_fixture, "--out", out])
    cli.main(["preprocess", "--tariffs", tariffs_csv, "--out", out])
    cli.main(["features", "--out", out])
    cli.main(
        ["forecast", "--out", out, "--test-cutoff", "2013-02-20", "--val-cutoff", "2013-02-10"]
    )
    cli.main(["anomaly", "--out", out])
    return out


def _report(pipeline_out, capsys, csv_dir=None) -> dict:
    argv = ["report", "--out", pipeline_out]
    if csv_dir:
        argv += ["--csv-dir", csv_dir]
    capsys.readouterr()
    cli.main(argv)
    lines = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1])


def test_model_metadata_persisted(pipeline_out):
    from smart_energy_consumption_analytics_using_big_data_spark.ml.forecast import FEATURE_COLS

    meta = json.loads(open(f"{pipeline_out}/models/best/model_metadata.json").read())
    assert meta["best_model"] in ("lr", "rf")
    assert set(meta["metrics"]) >= {"rmse", "mae", "r2"}
    assert meta["best_params"]
    assert meta["n_features"] == len(FEATURE_COLS)
    assert meta["train_records"] > 0 and meta["test_records"] > 0
    # human-readable reference-parity record next to it
    txt = open(f"{pipeline_out}/models/best/model_metadata.txt").read()
    assert "Best Model:" in txt and "RMSE:" in txt and "Training Records:" in txt


def test_forecast_grid_jobs_carry_caller_job_group(spark, pipeline_out):
    """Grid points fit on driver threads; every job they run must carry
    the job group (and so the description) set by the caller."""
    from smart_energy_consumption_analytics_using_big_data_spark.ml import forecast as FC

    sc = spark.sparkContext
    feats = energy._ml_features(spark, pipeline_out).cache()
    feats.count()
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("forecast-grid-test", "linear grid under a caller's group")
    try:
        FC.train_linear_forecast(feats, "2013-02-20", "2013-02-10")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        feats.unpersist()
    # 4 grid points, each at least a fit and a scoring job
    assert len(tracker.getJobIdsForGroup("forecast-grid-test")) >= 8
    # no new ungrouped job (old ones may be evicted from the status store)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped


def test_best_forecast_matches_sequential_fits(spark, pipeline_out):
    """The overlapped LR/RF helper picks the same model, parameters and
    metrics as fitting LR and then RF one after the other."""
    from smart_energy_consumption_analytics_using_big_data_spark.ml import forecast as FC

    feats = energy._ml_features(spark, pipeline_out).cache()
    try:
        lr = FC.train_linear_forecast(feats, "2013-02-20", "2013-02-10")
        rf = FC.train_rf_forecast(feats, "2013-02-20")
        fc = FC.train_best_forecast(feats, "2013-02-20", "2013-02-10")
        n_test = feats.filter("date >= '2013-02-20'").count()
        n_total = feats.count()
    finally:
        feats.unpersist()
    name, seq = ("lr", lr) if lr.metrics["rmse"] <= rf.metrics["rmse"] else ("rf", rf)
    assert fc.name == name
    assert fc.result.best_params == seq.best_params
    assert fc.result.metrics == seq.metrics
    assert (fc.train_records, fc.test_records) == (n_total - n_test, n_test)
    meta = json.loads(open(f"{pipeline_out}/models/best/model_metadata.json").read())
    assert meta["best_model"] == name
    assert meta["metrics"] == {k: round(v, 6) for k, v in seq.metrics.items()}


def test_build_report_is_deterministic(spark, pipeline_out):
    """Concurrent panels: two builds on the same inputs give the same
    JSON, key order included."""
    from smart_energy_consumption_analytics_using_big_data_spark.pipeline import report as RPT

    def build() -> str:
        return json.dumps(
            RPT.build_report(
                spark.read.parquet(f"{pipeline_out}/daily"),
                spark.read.parquet(f"{pipeline_out}/energy_features"),
                spark.read.parquet(f"{pipeline_out}/anomalies"),
                {"best_model": "lr"},
            )
        )

    first = build()
    assert first == build()
    assert list(json.loads(first)) == [
        "kpi", "model", "consumption_profiles", "top_feature_correlations",
        "monthly_anomaly_rate", "top_anomalous_entities", "anomalies_by_weekday",
        "cluster_profile", "qq_residuals", "error_histogram", "error_by_day",
        "error_vs_actual",
    ]


def test_report_kpis_match_parquet(spark, pipeline_out, capsys):
    from pyspark.sql import functions as F

    rpt = _report(pipeline_out, capsys)
    daily = spark.read.parquet(f"{pipeline_out}/daily")
    anomalies = spark.read.parquet(f"{pipeline_out}/anomalies")
    expected = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("LCLid").alias("hh"),
        F.round(F.avg("daily_energy_kwh"), 6).alias("avg"),
    ).collect()[0]
    kpi = rpt["kpi"]
    assert kpi["total_records"] == expected["n"]
    assert kpi["households"] == expected["hh"] == 10
    assert kpi["avg_daily_kwh"] == expected["avg"]
    assert kpi["period_start"].startswith("2013-01-01")
    flagged = anomalies.filter("is_anomaly = 1").count()
    assert kpi["anomalies_detected"] == flagged
    assert kpi["anomaly_rate_pct"] == round(100.0 * flagged / anomalies.count(), 4)
    # model section mirrors the persisted metadata
    assert rpt["model"]["best_model"] in ("lr", "rf")


def test_report_tables_shapes(pipeline_out, capsys, tmp_path):
    csv_dir = str(tmp_path / "report_csv")
    rpt = _report(pipeline_out, capsys, csv_dir=csv_dir)
    months = {r["month"] for r in rpt["monthly_anomaly_rate"]}
    assert months == {"2013-01", "2013-02"}
    assert 1 <= len(rpt["top_anomalous_entities"]) <= 15
    assert all(r["n_anomalies"] > 0 for r in rpt["top_anomalous_entities"])
    weekdays = {r["weekday"] for r in rpt["anomalies_by_weekday"]}
    assert weekdays <= set(range(1, 8))
    profile_dims = {r["dim"] for r in rpt["consumption_profiles"]}
    assert profile_dims == {"weekday", "month"}
    n_weekday = sum(1 for r in rpt["consumption_profiles"] if r["dim"] == "weekday")
    assert n_weekday == 7
    corr = rpt["top_feature_correlations"]
    assert 1 <= len(corr) <= 15
    assert all(0 <= c["abs_corr"] < 0.999 for c in corr)
    assert corr == sorted(corr, key=lambda d: (-d["abs_corr"], d["feature"]))
    # CSV emission: one file per non-empty table, header + rows
    import os

    written = set(os.listdir(csv_dir))
    assert "monthly_anomaly_rate.csv" in written
    with open(f"{csv_dir}/monthly_anomaly_rate.csv") as fh:
        header = fh.readline().strip().split(",")
    assert header == ["month", "anomaly_rate_pct"]


def test_report_cluster_profile_and_qq(spark, pipeline_out, capsys):
    """The r12 panels: per-cluster profile matches a recomputation from
    the anomalies parquet; the Q-Q residual grid is monotone with a
    plausible least-squares fit (`streamlit_app.py:649-694,406`)."""
    from pyspark.sql import functions as F

    rpt = _report(pipeline_out, capsys)
    anomalies = spark.read.parquet(f"{pipeline_out}/anomalies")

    prof = {r["cluster"]: r for r in rpt["cluster_profile"]}
    expected = {
        r["cluster"]: r
        for r in anomalies.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg("label_value"), 6).alias("avg_daily_kwh"),
            F.sum(F.col("is_anomaly").cast("long")).alias("n_anomalies"),
        )
        .collect()
    }
    assert set(prof) == set(expected) and len(prof) >= 2
    for c, e in expected.items():
        assert prof[c]["n_rows"] == e["n_rows"]
        assert prof[c]["avg_daily_kwh"] == e["avg_daily_kwh"]
        assert prof[c]["n_anomalies"] == e["n_anomalies"]
    assert sum(r["n_rows"] for r in prof.values()) == anomalies.count()

    qq = rpt["qq_residuals"]
    assert qq["n_residuals"] == anomalies.filter("prediction IS NOT NULL").count()
    samp = [p["sample_q"] for p in qq["points"]]
    theo = [p["theo_q"] for p in qq["points"]]
    assert len(samp) == 99
    assert samp == sorted(samp) and theo == sorted(theo)
    # quantiles of a distribution with positive spread -> positive slope
    assert qq["slope"] > 0
    # the median residual sits near the fit's value at z=0
    mid = samp[49]
    assert abs(mid - qq["intercept"]) <= (samp[-1] - samp[0]) / 2


def test_report_error_panels(spark, pipeline_out, capsys):
    """The remaining model-eval panels (`streamlit_app.py:380-430`):
    histogram bins partition all residuals, daily means match a
    recomputation, actual-consumption bins account for every row."""
    from pyspark.sql import functions as F

    rpt = _report(pipeline_out, capsys)
    anomalies = spark.read.parquet(f"{pipeline_out}/anomalies")
    errs = anomalies.filter("prediction IS NOT NULL").withColumn(
        "err", F.col("prediction") - F.col("label_value")
    )
    n = errs.count()

    hist = rpt["error_histogram"]
    assert hist["n_errors"] == n
    assert sum(b["n"] for b in hist["bins"]) == n
    assert hist["mean_err"] == errs.agg(F.round(F.avg("err"), 6)).collect()[0][0]
    # bins are contiguous fixed-width
    for a, b in zip(hist["bins"], hist["bins"][1:]):
        assert abs(a["hi"] - b["lo"]) < 1e-6

    ebd = rpt["error_by_day"]
    assert len(ebd) == errs.select("date").distinct().count()
    want = {
        str(r["date"]): r["m"]
        for r in errs.groupBy("date").agg(F.round(F.avg("err"), 6).alias("m")).collect()
    }
    got = {r["date"]: r["mean_err"] for r in ebd}
    assert got == want
    assert all(r["p10_err"] <= r["mean_err"] <= r["p90_err"] or r["n"] <= 2 for r in ebd)

    eva = rpt["error_vs_actual"]
    assert sum(r["n"] for r in eva) == n
    assert all(r["mean_err"] is None for r in eva if r["n"] == 0)


def test_report_html_renders_self_contained(pipeline_out, capsys, tmp_path):
    """--html writes one dependency-free file covering every panel the
    reference dashboard serves (KPI tiles, profiles, anomaly overview,
    cluster profile, Q-Q) with an inline-SVG chart and a data-table
    fallback per panel."""
    html_path = str(tmp_path / "report.html")
    capsys.readouterr()
    cli.main(["report", "--out", pipeline_out, "--html", html_path])
    rpt = json.loads(
        [ln for ln in capsys.readouterr().out.strip().splitlines() if ln.startswith("{")][-1]
    )
    doc = open(html_path).read()
    # self-contained: no external fetches of any kind
    assert "http://" not in doc and "https://" not in doc and "<script" not in doc
    # KPI tiles carry the report's own numbers
    assert f"{rpt['kpi']['households']:,}" in doc
    # every dashboard panel is present
    for heading in (
        "Avg daily kWh by weekday",
        "Avg daily kWh by month",
        "Anomaly rate % by month",
        "Anomalies by weekday",
        "Top anomalous households",
        "Top |correlation| with daily kWh",
        "Cluster sizes",
        "Cluster avg daily kWh",
        "Forecast residual normal Q-Q",
        "Forecast error distribution",
        "Mean forecast error by day",
        "Mean error vs actual consumption",
        "Best forecast model",
    ):
        assert heading in doc, heading
    # charts are inline SVG with hover titles + table views
    assert doc.count("<svg") >= 8
    assert doc.count("<title>") > 20
    assert doc.count("<details>") >= 5
    # dark mode is a selected palette, not an inversion
    assert "prefers-color-scheme: dark" in doc and "#3987e5" in doc
    # an entity from the top-anomalies table is rendered
    assert rpt["top_anomalous_entities"][0]["entity"] in doc


def test_report_serve_http_chain(pipeline_out, capsys, tmp_path):
    """`report --serve` closes the dashboard-interactivity residual
    without a Streamlit dependency: render the HTML, bind the stdlib
    server on an ephemeral port, fetch the page over real HTTP and
    find the KPI table; off-path requests 404; a re-render shows up on
    refresh (the handler re-reads the file per request)."""
    import threading
    import urllib.error
    import urllib.request

    from smart_energy_consumption_analytics_using_big_data_spark.pipeline.htmlreport import (
        serve_report,
    )

    html_path = str(tmp_path / "report.html")
    capsys.readouterr()
    cli.main(["report", "--out", pipeline_out, "--html", html_path])
    rpt = json.loads(
        [ln for ln in capsys.readouterr().out.strip().splitlines() if ln.startswith("{")][-1]
    )
    srv = serve_report(html_path, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/"
        doc = urllib.request.urlopen(url).read().decode("utf-8")
        assert "Households" in doc and f"{rpt['kpi']['households']:,}" in doc
        assert "Best forecast model" in doc
        assert urllib.request.urlopen(url + "index.html").status == 200
        # HEAD (curl -I, proxies, health checks): same headers, no body
        head_req = urllib.request.Request(url, method="HEAD")
        head = urllib.request.urlopen(head_req)
        assert head.status == 200
        assert int(head.headers["Content-Length"]) == len(doc.encode("utf-8"))
        assert head.read() == b""
        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(url + "models/best/model_metadata.json")
        assert exc.value.code == 404
        # refresh picks up a re-rendered file
        open(html_path, "a").write("<!-- rerendered -->")
        assert "rerendered" in urllib.request.urlopen(url).read().decode("utf-8")
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=5)
    # --serve without --html is a usage error, not a silent no-op
    with pytest.raises(SystemExit, match="requires --html"):
        cli.main(["report", "--out", pipeline_out, "--serve", "--port", "0"])
    capsys.readouterr()
    # a missing file errors at bind time, not first request
    with pytest.raises(ValueError, match="no rendered report"):
        serve_report(str(tmp_path / "nope.html"), port=0)


def test_cli_corpus_builds_shards_and_summary(spark, tmp_path):
    import json

    from smart_energy_consumption_analytics_using_big_data_spark.pipeline.corpus import (
        build_corpus,
    )

    from tests.conftest import SF_SMOKE

    out = tmp_path / "corpus"
    summary = build_corpus(spark, SF_SMOKE, str(out), n_shards=4)
    assert summary["raw_docs"] == 500
    assert 0 < summary["after_dedup"] <= summary["after_quality_filter"] < 500
    assert summary["packs"] > 0
    disk = json.loads((out / "corpus_summary.json").read_text())
    assert disk == summary
    # shard export is hive-partitioned and complete
    back = spark.read.parquet(str(out / "shards"))
    assert back.count() == summary["after_dedup"]
    assert back.select("shard").distinct().count() == 4
    # determinism: rebuilding yields the identical summary
    again = build_corpus(spark, SF_SMOKE, str(tmp_path / "corpus2"), n_shards=4)
    assert again == summary


def test_emb_audit_summary_and_artifacts(spark, tmp_path, capsys):
    """emb-audit: JSON summary internally consistent and the optional
    parquet artifacts written and readable."""
    out = str(tmp_path / "emb_audit")
    capsys.readouterr()
    cli.main(
        [
            "emb-audit",
            "--embeddings",
            "/root/testdata/sf0.001",
            "--out",
            out,
        ]
    )
    lines = [
        ln for ln in capsys.readouterr().out.strip().splitlines() if ln.startswith("{")
    ]
    summary = json.loads(lines[-1])
    assert summary["n_vectors"] == 500
    assert summary["explained_variance"][0] >= summary["explained_variance"][1] > 0
    assert 0 < summary["explained_ratio"][0] < 1
    assert summary["mean_maha2"] > 0
    proj = spark.read.parquet(f"{out}/pca_projection.parquet")
    scores = spark.read.parquet(f"{out}/mahalanobis.parquet")
    assert proj.count() == 500 and scores.count() == 500
    assert set(proj.columns) == {"vec_id", "pc1", "pc2"}
    assert set(scores.columns) == {"vec_id", "label", "maha2"}


def test_cli_tokenize_exports_merges_vocab_and_summary(spark, tmp_path, capsys):
    """tokenize: merge table ordered and sized, vocab reconstructs its
    words, summary consistent with the artifacts, rebuild deterministic."""
    import json

    from tests.conftest import SF_SMOKE

    out = tmp_path / "tok"
    capsys.readouterr()
    cli.main(["tokenize", "--docs", SF_SMOKE, "--out", str(out), "--merges", "3"])
    lines = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln.startswith("{")]
    summary = json.loads(lines[-1])
    disk = json.loads((out / "tokenizer_summary.json").read_text())
    assert disk == summary
    merges = spark.read.parquet(str(out / "merges.parquet")).orderBy("merge_round").collect()
    assert [m["merge_round"] for m in merges] == [1, 2, 3]
    assert summary["n_merges"] == 3
    vocab = spark.read.parquet(str(out / "vocab.parquet"))
    rows = vocab.collect()
    assert 0 < len(rows) == summary["vocab_rows"] <= 1000
    for r in rows:
        assert r["encoded"].replace(" ", "") == r["w"]
    # the merges bought real compression on the encoded slice
    assert summary["chars_per_token"] > 1.0
    # rebuild is bit-identical
    again = tmp_path / "tok2"
    capsys.readouterr()
    cli.main(["tokenize", "--docs", SF_SMOKE, "--out", str(again), "--merges", "3"])
    summary2 = json.loads(
        [ln for ln in capsys.readouterr().out.strip().splitlines() if ln.startswith("{")][-1]
    )
    assert summary2 == summary


def test_cli_all_runs_whole_chain_in_one_invocation(
    spark, readings_fixture, tariffs_fixture, tmp_path_factory, capsys
):
    """The `all` subcommand — the reference's run_pipeline.ps1 analogue
    (one process, all seven stages, shared SparkSession) — must emit
    every stage's JSON line and leave every stage artifact on disk.
    Each printed row count is observed in the stage's write, so it must
    equal a count read back from that stage's artifact. Rerunning stages
    afterwards in the same session must compile no new generated class."""
    out = str(tmp_path_factory.mktemp("cli_all"))
    tariffs_csv = str(tmp_path_factory.mktemp("tariffs_all") / "tariffs.csv")
    tariffs_fixture.to_csv(tariffs_csv, index=False)
    capsys.readouterr()
    rc = cli.main(
        [
            "all",
            "--readings", readings_fixture,
            "--tariffs", tariffs_csv,
            "--out", out,
            "--test-cutoff", "2013-02-20",
            "--val-cutoff", "2013-02-10",
        ]
    )
    assert rc == 0
    # the anomaly stage releases the forecast features stage 4 cached for it
    assert energy._ml_features(spark, out).storageLevel == StorageLevel.NONE
    lines = [
        json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    stages = [rec["stage"] for rec in lines if "stage" in rec]
    assert stages == ["ingest", "preprocess", "features", "forecast", "anomaly", "export"]
    printed = {rec["stage"]: rec for rec in lines if "stage" in rec}
    anomalies = spark.read.parquet(f"{out}/anomalies")
    # multiLine matches the writer's quoting: a quoted field with an
    # embedded newline is one record
    exported = spark.read.option("header", True).option("multiLine", True).csv(f"{out}/export_csv")
    assert printed["ingest"]["rows"] == spark.read.parquet(f"{out}/raw_energy_data").count()
    assert printed["preprocess"]["daily_rows"] == spark.read.parquet(f"{out}/daily").count()
    assert printed["features"]["rows"] == spark.read.parquet(f"{out}/energy_features").count()
    assert printed["anomaly"]["rows"] == anomalies.count() > 0
    assert printed["anomaly"]["flagged"] == anomalies.filter("is_anomaly = 1").count()
    assert printed["export"]["rows"] == exported.count()
    assert any("kpi" in rec for rec in lines)  # report tail
    import os

    for artifact in (
        "raw_energy_data", "hourly", "daily", "energy_features",
        "forecasting_results", "anomalies", "models/best",
    ):
        assert os.path.isdir(f"{out}/{artifact}"), artifact
    # the mongoimport hand-off instructions point at the CSV Spark
    # actually wrote (`merge_csv_for_mongodb.py:162-186` parity), and
    # live OUTSIDE the CSV sink dir so directory-level CSV readers
    # (incl. the read-back count above) never parse them as data
    instructions = open(f"{out}/mongodb_import_instructions.txt").read()
    assert "mongoimport --db smart_energy --collection energy_data" in instructions
    import glob

    csv_part = glob.glob(f"{out}/export_csv/*.csv")[0]
    assert csv_part in instructions
    assert not glob.glob(f"{out}/export_csv/*.txt")
    # A warm rerun in the same session compiles no new generated class:
    # the codegen cache holds the chain's working set, and the ML stages'
    # plans do not change from one run to the next.
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = compiles.getCount()
    cli.main(["ingest", "--readings", readings_fixture, "--out", out])
    cli.main(["forecast", "--out", out, "--test-cutoff", "2013-02-20", "--val-cutoff", "2013-02-10"])
    assert compiles.getCount() == before
