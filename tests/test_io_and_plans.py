"""Sink roundtrips, model persistence, and physical-plan assertions
(the scale checklist: pushdown reaches the scan, dims broadcast,
aggregates are partial+final)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from smart_energy_consumption_analytics_using_big_data_spark.plans import QUERIES
from smart_energy_consumption_analytics_using_big_data_spark.sources import writers
from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table

from tests.conftest import SF_SMOKE


def _formatted_plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_parquet_sink_roundtrip_with_partitioning(spark, tmp_path):
    ev = load_table(spark, SF_SMOKE, "events").withColumn("day", F.dayofmonth("ts"))
    out = str(tmp_path / "events_parq")
    writers.write_parquet(ev.drop("ts"), out, num_files=2, partition_by=["day"])
    back = spark.read.parquet(out)
    assert back.count() == ev.count()
    # partition pruning: day filter must prune partitions at the source
    plan = _formatted_plan(back.filter(F.col("day") == 3))
    assert "PartitionFilters" in plan and "day" in plan


def test_csv_sink_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}))
    out = str(tmp_path / "csv_out")
    writers.write_csv(df, out, num_files=1)
    back = spark.read.option("header", True).schema("a bigint, b string").csv(out)
    assert sorted((r["a"], r["b"]) for r in back.collect()) == [(1, "x"), (2, "y")]


def test_target_partitions_heuristic():
    assert writers.target_partitions(100) == 20
    assert writers.target_partitions(5_000_000) == 100


def test_model_save_load_roundtrip(spark, tmp_path, daily_ar_fixture):
    from pyspark.ml import PipelineModel

    from smart_energy_consumption_analytics_using_big_data_spark.ml import forecast as FC

    feats = FC.add_forecast_features(spark.createDataFrame(daily_ar_fixture))
    result = FC.train_linear_forecast(
        feats, test_cutoff="2013-03-25", val_cutoff="2013-03-10",
        reg_params=(0.1,), elastic_net_params=(0.0,),
    )
    path = str(tmp_path / "model")
    result.model.write().overwrite().save(path)  # S13 (forecasting_model.py:424)
    reloaded = PipelineModel.load(path)
    test = feats.filter(F.col("date") >= "2013-03-25")
    orig = result.model.transform(test).agg(F.sum("prediction")).collect()[0][0]
    again = reloaded.transform(test).agg(F.sum("prediction")).collect()[0][0]
    assert abs(orig - again) < 1e-9


def test_time_range_filter_pushes_to_scan(spark):
    plan = _formatted_plan(QUERIES["q_filter_range"](spark, SF_SMOKE))
    assert "GreaterThanOrEqual(ts" in plan and "LessThan(ts" in plan, plan


def test_dim_join_broadcasts(spark):
    plan = _formatted_plan(QUERIES["q_join_left_dim"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_aggregates_partially(spark):
    # partial (map-side) + final hash aggregation around one exchange
    plan = _formatted_plan(QUERIES["q_agg_multikey"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_avoids_global_sort(spark):
    plan = _formatted_plan(QUERIES["q_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_exists_subquery_decorrelates_to_joins(spark):
    plan = _formatted_plan(QUERIES["q_sql_exists"](spark, SF_SMOKE))
    # Catalyst must rewrite EXISTS / NOT EXISTS into semi/anti joins,
    # never a per-row nested-loop re-execution of the subquery
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unpivot_expands_in_one_pass(spark):
    plan = _formatted_plan(QUERIES["q_unpivot"](spark, SF_SMOKE))
    assert "Expand" in plan
    assert plan.count("Location: InMemoryFileIndex") == 1  # no UNION-ALL triple scan


def test_minhash_lsh_scans_corpus_at_most_twice(spark):
    plan = _formatted_plan(QUERIES["q_dedup_minhash_lsh"](spark, SF_SMOKE))
    # explode-based banding: the per-band union formulation scanned the
    # corpus once per band per join side (6 scans for 3 bands)
    assert plan.count("Location: InMemoryFileIndex") <= 2


def test_grouping_sets_single_shuffle_of_base(spark):
    plan = _formatted_plan(QUERIES["q_sql_grouping_sets"](spark, SF_SMOKE))
    assert "Expand" in plan
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_range_join_is_not_nested_loop(spark):
    plan = _formatted_plan(QUERIES["q_join_range"](spark, SF_SMOKE))
    # the bucketed rewrite must give Catalyst an equi-key
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gap_islands_shares_one_exchange(spark):
    import re

    plan = _formatted_plan(QUERIES["q_gap_islands"](spark, SF_SMOKE))
    # both window specs and the aggregate ride the user_id partitioning
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 2
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_cohort_retention_single_scan(spark):
    plan = _formatted_plan(QUERIES["q_cohort_retention"](spark, SF_SMOKE))
    # collect_set formulation: one scan (the naive distinct + min-agg +
    # self-join formulation read events twice)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_xlsx_roundtrip_types(tmp_path):
    import pandas as pd

    from smart_energy_consumption_analytics_using_big_data_spark.sources.xlsx import (
        read_xlsx,
        write_xlsx,
    )

    pdf = pd.DataFrame(
        {
            "name": ["a&b", "<tag>", "plain"],
            "n": [1, 2, 3],
            "x": [1.5, 2.25, 3.0],
            "flag": [True, False, True],
        }
    )
    path = str(tmp_path / "dim.xlsx")
    write_xlsx(path, pdf)
    back = read_xlsx(path)
    assert list(back.columns) == ["name", "n", "x", "flag"]
    assert back["name"].tolist() == ["a&b", "<tag>", "plain"]
    assert back["n"].tolist() == [1, 2, 3]
    assert back["x"].tolist() == [1.5, 2.25, 3.0]
    assert back["flag"].tolist() == [True, False, True]


def test_xlsx_tariff_fixture_joins_to_fact(spark):
    # S5 end-to-end: literal .xlsx -> Spark dim -> broadcast left join on
    # the DateTime key, mirroring data_preprocessing.py:182.
    import pandas as pd

    from smart_energy_consumption_analytics_using_big_data_spark.operators import joins as J
    from smart_energy_consumption_analytics_using_big_data_spark.sources.readers import (
        read_excel_dim,
    )

    dim = read_excel_dim(
        spark,
        "fixtures/tariffs.xlsx",
        expected_columns=["TariffDateTime", "Tariff"],
    )
    fact = spark.createDataFrame(
        pd.DataFrame(
            {
                "DateTime": ["2013-01-01 00:30:00", "2013-01-01 17:00:00", "2099-01-01 00:00:00"],
                "kwh": [0.2, 0.9, 0.1],
            }
        )
    )
    out = {
        r["DateTime"]: r["Tariff"]
        for r in J.join_dim(
            fact, dim, fact["DateTime"] == dim["TariffDateTime"], "left"
        ).collect()
    }
    assert out == {
        "2013-01-01 00:30:00": "Low",
        "2013-01-01 17:00:00": "High",
        "2099-01-01 00:00:00": None,
    }


def test_training_shards_deterministic_and_complete(spark, tmp_path):
    from smart_energy_consumption_analytics_using_big_data_spark.sources.writers import (
        write_training_shards,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    out1, out2 = str(tmp_path / "shards1"), str(tmp_path / "shards2")
    write_training_shards(docs, out1, n_shards=4, id_col="doc_id")
    # different upstream partitioning must not change shard assignment
    write_training_shards(docs.repartition(13), out2, n_shards=4, id_col="doc_id")

    back1, back2 = spark.read.parquet(out1), spark.read.parquet(out2)
    assert back1.count() == docs.count()  # no row lost or duplicated
    assert back1.select("doc_id").distinct().count() == docs.count()
    assert back1.select("shard").distinct().count() == 4
    a = {(r["shard"], r["doc_id"]) for r in back1.collect()}
    b = {(r["shard"], r["doc_id"]) for r in back2.collect()}
    assert a == b
    # shard read is partition-pruned
    plan = _formatted_plan(back1.filter(F.col("shard") == 2))
    assert "PartitionFilters" in plan and "shard" in plan


def test_orc_and_json_sink_roundtrip(spark, tmp_path):
    src = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "event_type", "value")
        .limit(200)
    )
    orc_out, json_out = str(tmp_path / "orc"), str(tmp_path / "json")
    writers.write_orc(src, orc_out, num_files=2)
    writers.write_json(src, json_out, num_files=1)
    orc_back = spark.read.orc(orc_out)
    json_back = spark.read.schema("event_id long, event_type string, value double").json(json_out)
    want = sorted(map(tuple, src.collect()))
    assert sorted(map(tuple, orc_back.collect())) == want
    assert sorted(map(tuple, json_back.collect())) == want
    # ORC read-back keeps the columnar contract: predicate reaches scan
    plan = _formatted_plan(orc_back.filter(F.col("event_type") == "click"))
    assert "PushedFilters" in plan and "event_type" in plan


def test_pack_sequences_windows_per_shard(spark):
    # The running-sum window must partition by shard - a global-order
    # window (empty PartitionBy) would serialize the whole corpus
    # through one task.
    plan = _formatted_plan(QUERIES["q_pack_sequences"](spark, SF_SMOKE))
    assert "Window" in plan
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("shard" in s for s in specs)


def test_contamination_broadcasts_benchmark_side(spark):
    plan = _formatted_plan(QUERIES["q_text_contamination"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_xlsx_unknown_sheet_raises(tmp_path):
    import pandas as pd
    import pytest

    from smart_energy_consumption_analytics_using_big_data_spark.sources.xlsx import (
        read_xlsx,
        write_xlsx,
    )

    path = str(tmp_path / "one.xlsx")
    write_xlsx(path, pd.DataFrame({"a": [1]}), sheet_name="Data")
    assert read_xlsx(path, sheet="Data")["a"].tolist() == [1]
    with pytest.raises(ValueError, match="not found"):
        read_xlsx(path, sheet="Missing")


def _files_matching(path, col, value):
    """Count parquet part-files whose footer min/max admit col == value."""
    import glob

    import pyarrow.parquet as pq

    hit = 0
    for f in sorted(glob.glob(f"{path}/part-*.parquet")):
        md = pq.ParquetFile(f).metadata
        admit = False
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for ci in range(rgm.num_columns):
                c = rgm.column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    st = c.statistics
                    if st.min <= value <= st.max:
                        admit = True
        hit += int(admit)
    return hit


def test_zorder_sink_skips_on_every_clustering_column(spark, tmp_path):
    """Z-order layout keeps per-file min/max narrow on BOTH columns, so
    footer stats prune point filters on either axis; a linear sort on x
    clusters x but leaves y files spanning the full domain."""
    import pandas as pd

    n, files = 4096, 16
    pdf = pd.DataFrame(
        {"x": [i % 64 for i in range(n)], "y": [(i * 17) % 64 for i in range(n)]}
    )
    df = spark.createDataFrame(pdf)

    zpath = str(tmp_path / "zorder")
    writers.write_parquet_zorder(df, zpath, cols=["x", "y"], num_files=files, bits=6)
    back = spark.read.parquet(zpath)
    assert back.count() == n
    assert sorted(r["x"] for r in back.collect()) == sorted(pdf["x"])

    lpath = str(tmp_path / "linear")
    df.repartitionByRange(files, "x").sortWithinPartitions("x").write.parquet(lpath)

    zx, zy = _files_matching(zpath, "x", 13), _files_matching(zpath, "y", 13)
    lx, ly = _files_matching(lpath, "x", 13), _files_matching(lpath, "y", 13)
    # Linear sort: x prunes hard but y filters read nearly every file.
    assert lx <= 2 and ly >= files - 2
    # Z-order: BOTH axes prune to at most half the files.
    assert zx <= files // 2 and zy <= files // 2
    assert zx + zy < lx + ly


def test_shipping_priority_pushes_filters_to_scans(spark):
    plan = _formatted_plan(QUERIES["q_sql_shipping_priority"](spark, SF_SMOKE))
    # each selective predicate reaches its own parquet scan
    assert "PushedFilters" in plan
    assert plan.count("TakeOrderedAndProject") >= 1
    for col in ("l_shipdate", "o_orderdate", "c_mktsegment"):
        assert col in plan.split("== Physical Plan ==")[-1]


def test_market_share_broadcasts_all_dims(spark):
    plan = _formatted_plan(QUERIES["q_sql_market_share"](spark, SF_SMOKE))
    # 7 joins total; every dimension side must be broadcast, never a
    # nested loop; nation appears twice under different aliases
    assert plan.count("BroadcastHashJoin") >= 5
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_pairs_confined_to_cells(spark):
    import re

    plan = _formatted_plan(QUERIES["q_dedup_semantic"](spark, SF_SMOKE))
    # the quadratic pair stage must be an equi-join on the cell key - an
    # unpartitioned all-pairs join would be the 100 TB killer
    assert "CartesianProduct" not in plan
    # tree lines only (detail lines start with "(n) ")
    tree = [
        ln for ln in plan.splitlines() if "Join" in ln and not ln.strip().startswith("(")
    ]
    # the only nested-loop joins are the bounded broadcast-centroid
    # cross joins from ivf_assign (k centroids x N rows, by design)
    assert all(
        "Cross BuildRight" in ln for ln in tree if "BroadcastNestedLoopJoin" in ln
    )
    # the id_a < id_b similarity condition rides an Inner equi join on
    # cell (SMJ or, when the cached assignment is broadcast-small, BHJ)
    assert any(
        re.search(r"(SortMergeJoin|BroadcastHashJoin) Inner", ln) for ln in tree
    )


def test_stl_decompose_reconstructs_and_scans_once(spark):
    df = QUERIES["q_ts_stl_decompose"](spark, SF_SMOKE)
    # additive identity: bucket_mean == trend + seasonal + residual
    # (to rounding - each component rounded at 1e-6)
    bad = df.filter(
        F.abs(
            F.col("bucket_mean")
            - (F.col("trend") + F.col("seasonal") + F.col("residual"))
        )
        > 3e-6
    ).count()
    assert bad == 0
    # the whole decomposition - agg + two windows - reads events ONCE
    plan = _formatted_plan(df)
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_dynamic_partition_pruning_on_partitioned_sink(spark, tmp_path):
    # Write a day-partitioned fact, join it to a filtered dim on the
    # partition key: Spark must inject a dynamic-pruning subquery so
    # only the dim's surviving days are scanned - THE mechanism that
    # makes dim-filtered scans of a 100 TB date-partitioned table read
    # days, not the table.
    ev = load_table(spark, SF_SMOKE, "events").withColumn("day", F.dayofmonth("ts"))
    out = str(tmp_path / "ev_by_day")
    writers.write_parquet(ev.drop("ts"), out, num_files=1, partition_by=["day"])
    fact = spark.read.parquet(out)
    # the dim must be file-backed: a LocalRelation's filter constant-folds
    # away before planning, and DPP's benefit heuristic requires a live
    # selective predicate on the pruning side
    dim_path = str(tmp_path / "day_dim")
    spark.createDataFrame(
        pd.DataFrame({"day": list(range(1, 29)), "tag": ["a", "b"] * 14})
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "a")
    plan = _formatted_plan(fact.join(dim, "day"))
    assert "dynamicpruningexpression" in plan.lower(), plan


def test_dq_report_single_scan_and_flags_violations(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.operators.aggregates import (
        dq_report,
    )

    df = QUERIES["q_dq_checks"](spark, SF_SMOKE)
    plan = _formatted_plan(df)
    # K checks, ONE pass: single scan, no union-of-aggregates
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert all(r["passed"] for r in df.collect())
    # violations actually flag
    bad = spark.createDataFrame(pd.DataFrame({"v": [1.0, None, 50.0]}))
    rows = {
        r["check"]: (r["value"], r["passed"])
        for r in dq_report(
            bad,
            [
                ("completeness_v", F.count("v") / F.count(F.lit(1)), 1.0, None),
                ("max_v", F.max("v"), None, 10.0),
            ],
        ).collect()
    }
    assert rows["completeness_v"][1] is False
    assert rows["max_v"] == (50.0, False)


def test_xlsx_datasource_glob_parallel_partitions(spark, tmp_path):
    # Spark 4 Python DataSource: .xlsx as a registered format, one
    # input partition per matched file
    from smart_energy_consumption_analytics_using_big_data_spark.sources.xlsx import write_xlsx
    from smart_energy_consumption_analytics_using_big_data_spark.sources.xlsx_datasource import (
        XlsxDataSource,
    )

    for i in (1, 2):
        write_xlsx(
            str(tmp_path / f"m{i}.xlsx"),
            pd.DataFrame({"site": [f"s{i}a", f"s{i}b"], "kw": [1.5 * i, 2.25 * i]}),
        )
    spark.dataSource.register(XlsxDataSource)
    df = spark.read.format("xlsx").option("path", str(tmp_path / "m*.xlsx")).load()
    assert df.schema.simpleString() == "struct<site:string,kw:double>"
    assert df.rdd.getNumPartitions() == 2
    got = sorted((r["site"], r["kw"]) for r in df.collect())
    assert got == [("s1a", 1.5), ("s1b", 2.25), ("s2a", 3.0), ("s2b", 4.5)]
    # aggregations work through the source like any other format
    assert df.agg(F.sum("kw")).collect()[0][0] == 11.25


def test_disjunctive_predicate_reaches_scans(spark):
    # Q19 shape: conjuncts common to one table must be factored out of
    # the OR and pushed to that table's scan
    plan = _formatted_plan(QUERIES["q_sql_disjunctive_pushdown"](spark, SF_SMOKE))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("p_brand" in ln or "In(p_brand" in ln for ln in pushed), pushed
    assert any("l_quantity" in ln for ln in pushed), pushed


def test_observed_write_metrics_match_separate_aggregates(spark, tmp_path):
    """write_parquet_observed returns QC metrics computed inside the
    write job itself; they must equal separately-aggregated truth and
    the written data must be intact."""
    from pyspark.sql import functions as F

    from smart_energy_consumption_analytics_using_big_data_spark.sources.writers import (
        write_parquet_observed,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = str(tmp_path / "observed_export")
    got = write_parquet_observed(
        ev,
        out,
        metrics={
            "n_rows": F.count(F.lit(1)),
            "n_null_value": F.sum(F.col("value").isNull().cast("bigint")),
            "sum_value": F.round(F.sum("value"), 3),
        },
    )
    truth = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("bigint")).alias("n_null_value"),
        F.round(F.sum("value"), 3).alias("sum_value"),
    ).collect()[0]
    assert got["n_rows"] == truth["n_rows"]
    assert got["n_null_value"] == truth["n_null_value"]
    assert abs(got["sum_value"] - truth["sum_value"]) < 1e-6
    assert spark.read.parquet(out).count() == truth["n_rows"]


def test_backfill_overwrites_only_present_partitions(spark, tmp_path):
    """Dynamic partition overwrite: recomputing one day must replace
    exactly that day's partition and leave the rest byte-identical."""
    from pyspark.sql import functions as F

    from smart_energy_consumption_analytics_using_big_data_spark.sources.writers import (
        backfill_partitions,
        write_parquet,
    )

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .withColumn("day", F.to_date(F.col("ts").cast("timestamp")))
    )
    path = str(tmp_path / "events_by_day")
    write_parquet(ev, path, partition_by=["day"])
    days = [r.day for r in ev.select("day").distinct().orderBy("day").collect()]
    target = days[1]

    before = {
        r.day: r.n
        for r in spark.read.parquet(path).groupBy("day").count().withColumnRenamed("count", "n").collect()
    }
    # recompute one day: halve its values, drop half its rows
    one_day = (
        ev.filter(F.col("day") == F.lit(target))
        .filter(F.col("event_id") % 2 == 0)
        .withColumn("value", F.col("value") / 2)
    )
    n_target_new = one_day.count()
    backfill_partitions(one_day, path, ["day"])

    after_df = spark.read.parquet(path)
    after = {
        r.day: r.n
        for r in after_df.groupBy("day").count().withColumnRenamed("count", "n").collect()
    }
    assert after[target] == n_target_new != before[target]
    for d in days:
        if d != target:
            assert after[d] == before[d], d
    # static overwrite of the same frame would have truncated the table
    assert set(after) == set(days)


def test_audited_csv_captures_corrupt_rows_and_schema_merge(spark, tmp_path):
    """Ingest robustness: (a) malformed CSV rows surface in
    _corrupt_record with their raw text while clean rows parse; (b)
    parquet mergeSchema unions evolved file schemas."""
    from pyspark.sql import types as T

    from smart_energy_consumption_analytics_using_big_data_spark.sources.readers import (
        read_csv_audited,
    )

    csv = tmp_path / "rows.csv"
    csv.write_text("id,val\n1,10.5\n2,notanumber\n3,30.0\nbroken,\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("val", T.DoubleType()),
        ]
    )
    df = read_csv_audited(spark, str(csv), schema).cache()
    clean = df.filter("_corrupt_record IS NULL")
    dead = df.filter("_corrupt_record IS NOT NULL")
    assert {r.id for r in clean.collect()} == {1, 3}
    dead_rows = {r._corrupt_record for r in dead.collect()}
    assert "2,notanumber" in dead_rows and "broken," in dead_rows

    # schema evolution: second file adds a column; mergeSchema unions
    spark.range(3).selectExpr("id", "id * 1.0 AS a").write.parquet(
        str(tmp_path / "evo"), mode="overwrite"
    )
    spark.range(3, 6).selectExpr("id", "id * 1.0 AS a", "'x' AS b").write.parquet(
        str(tmp_path / "evo"), mode="append"
    )
    evo = spark.read.option("mergeSchema", "true").parquet(str(tmp_path / "evo"))
    assert set(evo.columns) == {"id", "a", "b"}
    assert evo.count() == 6
    assert evo.filter("b IS NULL").count() == 3


def test_write_parquet_shuffle_for_files(spark, tmp_path):
    """shuffle_for_files=True produces exactly num_files output files
    (repartition is exact, unlike coalesce's upper bound) and identical
    rows; the plan difference (extra exchange, upstream stays wide) is
    the documented contract in sources/writers.py."""
    import os as _os

    from smart_energy_consumption_analytics_using_big_data_spark.sources.writers import write_parquet

    df = spark.range(1000).selectExpr("id", "id % 7 AS k")
    agg = df.groupBy("k").count()
    p1, p2 = str(tmp_path / "coal"), str(tmp_path / "repart")
    write_parquet(agg, p1, num_files=2)
    write_parquet(agg, p2, num_files=2, shuffle_for_files=True)
    files = [f for f in _os.listdir(p2) if f.endswith(".parquet")]
    assert len(files) == 2
    a = {(r["k"], r["count"]) for r in spark.read.parquet(p1).collect()}
    b = {(r["k"], r["count"]) for r in spark.read.parquet(p2).collect()}
    assert a == b and len(a) == 7

