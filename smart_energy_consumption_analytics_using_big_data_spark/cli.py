"""Command-line pipeline runner.

Replaces the reference's five per-stage OS processes
(`run_pipeline.ps1:18-40`: ingest -> preprocess -> features -> forecast
-> anomaly) with subcommands of one entrypoint sharing a single
SparkSession when chained via `all`:

    python -m smart_energy_consumption_analytics_using_big_data_spark \
        all --readings <csv_dir> --tariffs <csv> --out <dir>

Individual stages read/write Parquet at the given paths, so users can
still materialize between stages exactly like the reference - it is
just no longer mandatory. The five stage subcommands print the record
of `pipeline.energy.run_ingest` ... `run_anomaly`, the same functions
the bench anchor (`pipeline/energy_bench.py`) times; `export` and
`report` read the stage artifacts that module lays out.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from smart_energy_consumption_analytics_using_big_data_spark.pipeline import energy


def _spark(args):
    from smart_energy_consumption_analytics_using_big_data_spark import get_spark

    return get_spark("energy-cli", master=args.master)


def cmd_ingest(args) -> None:
    print(json.dumps(energy.run_ingest(_spark(args), args.out, args.readings)))


def cmd_preprocess(args) -> None:
    print(json.dumps(energy.run_preprocess(_spark(args), args.out, args.tariffs)))


def cmd_features(args) -> None:
    print(json.dumps(energy.run_features(_spark(args), args.out)))


def cmd_forecast(args) -> None:
    print(json.dumps(energy.run_forecast(_spark(args), args.out, args.test_cutoff, args.val_cutoff)))


def cmd_anomaly(args) -> None:
    print(json.dumps(energy.run_anomaly(_spark(args), args.out)))


def cmd_export(args) -> None:
    """Document-merge export (S12; `merge_csv_for_mongodb.py`)."""
    from smart_energy_consumption_analytics_using_big_data_spark.sources import writers

    spark = _spark(args)
    anomalies = spark.read.parquet(f"{args.out}/{energy.ANOMALIES}").select(
        "user_id", "date", "cluster", "z_score", "is_anomaly"
    )
    preds = spark.read.parquet(f"{args.out}/{energy.PREDICTIONS}")
    daily = spark.read.parquet(f"{args.out}/{energy.DAILY}").select(
        F.col("LCLid").alias("user_id"), "date", "daily_energy_kwh",
        "avg_hourly_energy", "total_readings",
    )
    merged = energy.merge_for_export(anomalies, preds.select("user_id", "date", "prediction"),
                                     daily, keys=("user_id", "date"))
    # row count observed in the write, not a second run of the 3-way join
    exported = writers.write_observed(
        writers.write_csv, merged, f"{args.out}/export_csv", {"rows": F.count(F.lit(1))},
        num_files=1,
    )["rows"]
    # MongoDB hand-off instructions, mirroring the reference's
    # create_mongodb_import_instructions (`merge_csv_for_mongodb.py:
    # 162-186`): the import itself is an external mongoimport
    # invocation (no Mongo driver in-process), but the user gets the
    # exact commands against the file Spark wrote. Written ONE LEVEL
    # ABOVE the CSV sink dir: a .txt inside it would be parsed as data
    # by any directory-level CSV reader (Spark only skips _/. files).
    import glob as _glob
    import pathlib as _pathlib

    parts = sorted(_glob.glob(f"{args.out}/export_csv/*.csv"))
    if not parts:
        raise SystemExit("export: no CSV part file was produced")
    csv_file = parts[0]
    _pathlib.Path(f"{args.out}/mongodb_import_instructions.txt").write_text(
        "# MongoDB import instructions (reference parity:\n"
        "# merge_csv_for_mongodb.py:162-186)\n\n"
        "## Local MongoDB\n"
        f'mongoimport --db smart_energy --collection energy_data --file "{csv_file}" --type csv --headerline\n\n'
        "## MongoDB Atlas\n"
        'mongoimport --uri "mongodb+srv://<username>:<password>@<cluster-url>/smart_energy'
        '?retryWrites=true&w=majority" --collection energy_data '
        f'--file "{csv_file}" --type csv --headerline\n',
        encoding="utf-8",
    )
    print(json.dumps({"stage": "export", "rows": exported}))


def cmd_report(args) -> None:
    """Dashboard-parity KPI/report tables as one JSON document
    (`streamlit_app.py:200-255,481-555,605-635`); optionally also as
    CSV files per table with --csv-dir."""
    import json as _json
    import pathlib

    from smart_energy_consumption_analytics_using_big_data_spark.pipeline import report as RPT

    # usage errors fire BEFORE any Spark work (getattr: the `all`
    # chain reuses cmd_report with a namespace that has no --serve)
    if getattr(args, "serve", False) and not args.html:
        raise SystemExit("report: --serve requires --html (the file to serve)")
    spark = _spark(args)
    daily = spark.read.parquet(f"{args.out}/{energy.DAILY}")
    features = spark.read.parquet(f"{args.out}/{energy.FEATURES}")
    try:
        anomalies = spark.read.parquet(f"{args.out}/{energy.ANOMALIES}")
    except Exception:
        anomalies = None
    meta_path = pathlib.Path(f"{args.out}/{energy.MODEL}/model_metadata.json")
    metadata = _json.loads(meta_path.read_text()) if meta_path.exists() else None
    rpt = RPT.build_report(daily, features, anomalies, metadata)
    if args.csv_dir:
        out = pathlib.Path(args.csv_dir)
        out.mkdir(parents=True, exist_ok=True)
        for name in (
            "consumption_profiles",
            "top_feature_correlations",
            "monthly_anomaly_rate",
            "top_anomalous_entities",
            "anomalies_by_weekday",
            "cluster_profile",
            "error_by_day",
            "error_vs_actual",
        ):
            rows = rpt.get(name)
            if rows:
                import csv

                with open(out / f"{name}.csv", "w", newline="") as fh:
                    wr = csv.DictWriter(fh, fieldnames=list(rows[0]))
                    wr.writeheader()
                    wr.writerows(rows)
    if args.html:
        from smart_energy_consumption_analytics_using_big_data_spark.pipeline.htmlreport import render_html

        import os as _os

        # explicit utf-8: the document declares charset=utf-8 and always
        # contains non-ASCII glyphs; locale-default codecs mojibake or
        # crash on non-UTF-8 hosts. Temp-write + rename: the --serve
        # handler re-reads this file per request, and a truncate-then-
        # write would let a concurrent GET serve a partial page.
        tmp = pathlib.Path(f"{args.html}.tmp")
        tmp.write_text(render_html(rpt), encoding="utf-8")
        _os.replace(tmp, args.html)
    print(json.dumps(rpt))
    if getattr(args, "serve", False):
        from smart_energy_consumption_analytics_using_big_data_spark.pipeline.htmlreport import serve_report

        srv = serve_report(args.html, port=args.port)
        host, port = srv.server_address[:2]
        print(f"serving {args.html} at http://{host}:{port}/ (Ctrl-C to stop)")
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            pass
        finally:
            srv.server_close()


def cmd_corpus(args) -> None:
    """Training-corpus build: quality filter -> keep-best dedup ->
    sequence packing -> deterministic shard export + summary JSON."""
    from smart_energy_consumption_analytics_using_big_data_spark.pipeline.corpus import build_corpus

    spark = _spark(args)
    summary = build_corpus(
        spark, args.docs, args.out, n_shards=args.shards, context=args.context
    )
    print(json.dumps(summary))


def cmd_tokenize(args) -> None:
    """BPE tokenizer build: learn merges on the corpus, export the
    ordered merge table + encoded vocabulary + summary JSON."""
    from smart_energy_consumption_analytics_using_big_data_spark.pipeline.corpus import build_tokenizer

    spark = _spark(args)
    summary = build_tokenizer(
        spark, args.docs, args.out, n_merges=args.merges, vocab_top_n=args.vocab
    )
    print(json.dumps(summary))


def cmd_vector_index(args) -> None:
    """Persisted IVF index build: train the coarse quantizer and pack
    the corpus as cell-partitioned parquet (ext/vector_index.py); one
    JSON summary line. With --append the batch is assigned to the
    FROZEN centroids of an existing index and appended to its lists
    (no retrain, no rewrite)."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.vector_index import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        delete_from_ivf_index,
    )
    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table

    modes = [
        flag
        for flag in ("compact", "delete", "append")
        if getattr(args, flag, None)
    ]
    if len(modes) > 1:
        # silent precedence would drop an operation the user asked for
        # (e.g. --delete --compact skipping the delete)
        raise SystemExit(
            f"vector-index: --{' and --'.join(modes)} are mutually "
            "exclusive; run them as separate invocations"
        )
    spark = _spark(args)
    if getattr(args, "compact", False):
        meta = compact_ivf_index(spark, args.out)
        print(json.dumps({"stage": "vector-index-compact", **meta}))
        return
    if getattr(args, "delete", None):
        try:
            ids = [int(v) for v in args.delete.split(",") if v.strip()]
        except ValueError as exc:
            raise SystemExit(f"vector-index: bad --delete id list: {exc}")
        if not ids:
            raise SystemExit("vector-index: --delete needs a comma-separated id list")
        meta = delete_from_ivf_index(spark, args.out, ids)
        print(json.dumps({"stage": "vector-index-delete", **meta}))
        return
    if not args.embeddings:
        raise SystemExit(
            "vector-index: --embeddings is required unless --compact/--delete"
        )
    emb = load_table(spark, args.embeddings, "embeddings")
    if getattr(args, "min_id", None) is not None:
        emb = emb.filter(F.col("vec_id") >= args.min_id)
    if getattr(args, "max_id", None) is not None:
        emb = emb.filter(F.col("vec_id") < args.max_id)
    if args.append:
        meta = append_ivf_index(emb, args.out)
        print(json.dumps({"stage": "vector-index-append", **meta}))
    else:
        meta = build_ivf_index(emb, args.out)
        print(json.dumps({"stage": "vector-index", **meta}))


def cmd_vector_search(args) -> None:
    """Probe a persisted IVF index: top-k cosine neighbors of the given
    vector id, scanning only the nprobe probed cell partitions."""
    from pyspark.sql import functions as F

    from smart_energy_consumption_analytics_using_big_data_spark.ext.vector_index import search_ivf_index
    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table

    spark = _spark(args)
    query = load_table(spark, args.embeddings, "embeddings").filter(
        F.col("vec_id") == args.query_id
    )
    try:
        hits = search_ivf_index(spark, args.index, query, k=args.k, nprobe=args.nprobe)
    except ValueError as exc:
        # a typo'd --query-id (or wrong-dim vector) must exit non-zero,
        # not print an empty hit list indistinguishable from "no
        # neighbors"
        raise SystemExit(f"vector-search: {exc}")
    rows = [
        {"vec_id": r["vec_id"], "cell": str(r["cell"]), "cosine": r["cosine"]}
        for r in hits.collect()
    ]
    print(json.dumps({"query_id": args.query_id, "k": args.k, "nprobe": args.nprobe, "hits": rows}))


def cmd_embaudit(args) -> None:
    """Embedding-space audit: distributed covariance -> PCA scree ->
    per-class Mahalanobis outliers, one JSON summary + optional
    projection/score parquet. The covariance ladder as a user-facing
    stage (all heavy passes Arrow-batched; eig on the driver)."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext import embeddings as E
    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table
    from smart_energy_consumption_analytics_using_big_data_spark.sources.writers import write_parquet

    spark = _spark(args)
    emb = load_table(spark, args.embeddings, "embeddings")
    cov_rows = E.covariance_matrix(emb, round_output=False).collect()
    comps, evs = E.pca_components(emb, k=args.k, cov_rows=cov_rows)
    total_var = sum(r["cov"] for r in cov_rows if r["i"] == r["j"])
    scores = E.mahalanobis_scores(emb)
    from pyspark.sql import functions as F

    stats = scores.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("maha2"), 3).alias("mean_maha2"),
        F.round(F.percentile("maha2", 0.99), 3).alias("p99_maha2"),
        F.sum((F.col("maha2") > args.outlier_threshold).cast("bigint")).alias(
            "n_outliers"
        ),
    ).collect()[0]
    if args.out:
        write_parquet(E.pca_project(emb, comps), f"{args.out}/pca_projection.parquet")
        write_parquet(scores, f"{args.out}/mahalanobis.parquet")
    print(
        json.dumps(
            {
                "n_vectors": stats["n"],
                "explained_variance": [round(v, 6) for v in evs],
                "explained_ratio": [round(v / total_var, 6) for v in evs],
                "mean_maha2": stats["mean_maha2"],
                "p99_maha2": stats["p99_maha2"],
                "n_outliers": stats["n_outliers"],
            }
        )
    )


def cmd_curate(args) -> None:
    """Embedding-corpus curation: integrity filter -> semantic dedup ->
    k-center coreset -> deterministic shard/order export + summary."""
    from smart_energy_consumption_analytics_using_big_data_spark.pipeline.curate import curate_embeddings

    spark = _spark(args)
    summary = curate_embeddings(
        spark,
        args.embeddings,
        args.out,
        dedup_threshold=args.threshold,
        coreset_k=args.k,
        shards=args.shards,
        seed=args.seed,
    )
    print(json.dumps(summary))


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="smart-energy-engine")
    parser.add_argument("--master", default=None, help="Spark master (default: local[*])")
    sub = parser.add_subparsers(dest="cmd", required=True)

    common = dict(out="pipeline output root directory")
    p = sub.add_parser("ingest"); p.add_argument("--readings", required=True); p.add_argument("--out", required=True, help=common["out"]); p.set_defaults(fn=cmd_ingest)
    p = sub.add_parser("preprocess"); p.add_argument("--tariffs", required=True); p.add_argument("--out", required=True); p.set_defaults(fn=cmd_preprocess)
    p = sub.add_parser("features"); p.add_argument("--out", required=True); p.set_defaults(fn=cmd_features)
    p = sub.add_parser("forecast"); p.add_argument("--out", required=True); p.add_argument("--test-cutoff", required=True); p.add_argument("--val-cutoff", required=True); p.set_defaults(fn=cmd_forecast)
    p = sub.add_parser("anomaly"); p.add_argument("--out", required=True); p.set_defaults(fn=cmd_anomaly)
    p = sub.add_parser("export"); p.add_argument("--out", required=True); p.set_defaults(fn=cmd_export)
    p = sub.add_parser("report"); p.add_argument("--out", required=True); p.add_argument("--csv-dir", default=None); p.add_argument("--html", default=None); p.add_argument("--serve", action="store_true", help="serve the --html report over stdlib http (blocks)"); p.add_argument("--port", type=int, default=8000, help="port for --serve (0 = ephemeral)"); p.set_defaults(fn=cmd_report)
    p = sub.add_parser("corpus"); p.add_argument("--docs", required=True, help="dir containing documents.parquet"); p.add_argument("--out", required=True); p.add_argument("--shards", type=int, default=8); p.add_argument("--context", type=int, default=512); p.set_defaults(fn=cmd_corpus)
    p = sub.add_parser("tokenize"); p.add_argument("--docs", required=True, help="dir containing documents.parquet"); p.add_argument("--out", required=True); p.add_argument("--merges", type=int, default=3); p.add_argument("--vocab", type=int, default=1000); p.set_defaults(fn=cmd_tokenize)
    p = sub.add_parser("emb-audit"); p.add_argument("--embeddings", required=True, help="dir containing embeddings.parquet"); p.add_argument("--out", default=None); p.add_argument("--k", type=int, default=2); p.add_argument("--outlier-threshold", type=float, default=120.0); p.set_defaults(fn=cmd_embaudit)
    p = sub.add_parser("vector-index"); p.add_argument("--embeddings", default=None, help="dir containing embeddings.parquet (required unless --compact)"); p.add_argument("--out", required=True); p.add_argument("--append", action="store_true", help="assign to the existing index's frozen centroids and append (no retrain)"); p.add_argument("--compact", action="store_true", help="rewrite the lists into few full-sized files per cell (post-append maintenance; also reclaims --delete tombstones)"); p.add_argument("--delete", default=None, metavar="IDS", help="comma-separated vec ids to tombstone (logical delete; the next --compact reclaims them)"); p.add_argument("--min-id", type=int, default=None, help="only vec_id >= this (batch slicing for --append)"); p.add_argument("--max-id", type=int, default=None, help="only vec_id < this"); p.set_defaults(fn=cmd_vector_index)
    p = sub.add_parser("vector-search"); p.add_argument("--embeddings", required=True); p.add_argument("--index", required=True); p.add_argument("--query-id", type=int, required=True); p.add_argument("--k", type=int, default=10); p.add_argument("--nprobe", type=int, default=2); p.set_defaults(fn=cmd_vector_search)
    p = sub.add_parser("curate"); p.add_argument("--embeddings", required=True, help="dir containing embeddings.parquet"); p.add_argument("--out", required=True); p.add_argument("--threshold", type=float, default=0.4); p.add_argument("--k", type=int, default=6); p.add_argument("--shards", type=int, default=8); p.add_argument("--seed", type=int, default=42); p.set_defaults(fn=cmd_curate)
    p = sub.add_parser("all")
    p.add_argument("--readings", required=True); p.add_argument("--tariffs", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--test-cutoff", required=True); p.add_argument("--val-cutoff", required=True)
    p.add_argument("--csv-dir", default=None); p.add_argument("--html", default=None)

    args = parser.parse_args(argv)
    if args.cmd == "all":
        for fn in (cmd_ingest, cmd_preprocess, cmd_features, cmd_forecast,
                   cmd_anomaly, cmd_export, cmd_report):
            fn(args)
        return 0
    args.fn(args)
    return 0


if __name__ == "__main__":  # pragma: no cover
    sys.exit(main())
