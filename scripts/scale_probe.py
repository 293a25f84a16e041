"""Three-point scale probe: extend bench.py's sf0.01 -> sf0.1 curve
with a derived ~sf10 point (sf0.1 events replicated {REPLICAS}x = 100x
with shifted ids, documents {REPLICAS_DOCS}x = 10x, written once to a
local temp dataset) and report per-query scale ratios. A ratio near
the data ratio is linear scaling; well above it means a super-linear
stage that would sink a 100x scale-up.

Execution is forced with sum(xxhash64(every column)) rather than
count(): count() lets Catalyst prune window/projection work entirely
(a Window that no surviving column references is eliminated), which
under-measures projection-shaped queries.

Derived data is an ANALYSIS artifact (scale measurement), not a
substitute for the driver's testdata: correctness queries always run
against /root/testdata.

Usage: python scripts/scale_probe.py [out_dir]
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F

from smart_energy_consumption_analytics_using_big_data_spark import get_spark
from smart_energy_consumption_analytics_using_big_data_spark.plans import QUERIES
from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import load_table

SF01 = "/root/testdata/sf0.1"
REPLICAS = 100          # events (scan/agg/window/join probes)
REPLICAS_DOCS = 10      # documents: replicas are near-dups of each other by
                        # construction, so LSH pair output grows ~quadratically
                        # in the replica count — 10x keeps the OUTPUT size an
                        # artifact-free measure of the candidate-join stage
REPLICAS_EMB = 100      # embeddings: covariance output is d^2 regardless of N,
                        # so the probe measures the partial-pass scaling alone
# scan/agg/window/join/dedup representatives whose inputs we can blow up
PROBE = [
    "q_flagship",
    "q_agg_multikey",
    "q_sessionize",
    "q_dedup_minhash_lsh",
    "q_dedup_minhash_arrow",
    "q_dedup_winnow_arrow",
    "q_join_asof_nearest",
    "q_emb_covariance",
    # round-4 continuation additions
    "q_ts_time_weighted_avg",
    "q_rfm_segment",
    "q_dedup_ppjoin",
    # round-5 additions: attribution (user-keyed join + windows),
    # closed-form smoothing windows, text-graph pagerank, the global
    # quantile transform, and BFS (since r7: over the 10x lineitem co-purchase graph)
    "q_attribution",
    "q_ts_holt",
    "q_ts_croston",
    "q_text_textrank",
    "q_feature_quantile_norm",
    "q_graph_bfs",
    "q_graph_jaccard",
    "q_ts_hampel",
    "q_dedup_chunks",
    "q_ts_downsample",
    "q_dedup_threshold_curve",
    # round-6: the r5-close queries that never saw a probe pass
    # (VERDICT r5 item 8) plus the reworked two-pass ABC/Pareto prefix
    # sum (item 4). q_sql_pivot is exercised via q_agg_abc_pareto's
    # rollup: PIVOT lowers to the same conditional-agg-over-lineitem
    # shape, and the probe dataset lacks the other registered views.
    "q_agg_abc_pareto",
    "q_ts_peaks",
    "q_emb_drift",
    "q_dq_volume_anomaly",
    "q_ts_gap_distribution",
    "q_window_firstlast",
    # round-6 ranking-family migrations: one representative per shape —
    # sweep-line prefix sum, exclusive prefix max, tie-aware rank
    # (all events-backed, 100x)
    "q_sessions_concurrency",
    "q_skyline_2d",
    "q_eval_auc",
    # round-6 D3 closure: global ranking + probit over persistence
    # residuals (events-backed, 100x)
    "q_eval_qq_normal",
    # round-7 basket-pair migration representative: in-row pair
    # enumeration + support counts over the 10x lineitem replicas
    # (q_rec_assoc_rules shares the shape; q_graph_bfs above covers the
    # graph consumers' edge build)
    "q_rec_item_sim",
    # round-11: the two join shapes that had never seen a probe pass —
    # full-outer MERGE on the key and the bucketed range-join rewrite
    # (both events-backed, 100x; measured 3.87x / 3.78x in r11)
    "q_merge_upsert",
    "q_join_range",
    # round-12: the remaining untested clever shapes (VERDICT r11
    # item 4) — degree-oriented triangle counting (lineitem 10x; the
    # arboricity-bound wedge join) and the salted two-stage kNN join
    # (embeddings 100x; PERFORMANCE.md "Round 12" records the salt-
    # width A/B and hub-skew companions)
    "q_graph_triangles",
    "q_sim_knn_join",
    # round-14: the transformWithState surface (events 100x churn-mode:
    # keys x100, per-key state constant). The orthogonal state-DEPTH
    # axis (same keys, open-session ListState x100 deep) is recorded in
    # PERFORMANCE.md "Round 14" — both measured sublinear r14
    # (sessions 39x/17x, wm-TTL 19x/3x at 100x data).
    "q_stream_sessions_timer",
    "q_stream_ttl_expiry",
]

# data_ratio overrides where the prefix rule below misclassifies the
# backing table: ABC/Pareto and the market-basket pair queries are
# lineitem-backed (10x replication), not events-backed.
RATIO_OVERRIDES = {
    "q_agg_abc_pareto": REPLICAS_DOCS,
    "q_rec_item_sim": REPLICAS_DOCS,
    "q_rec_assoc_rules": REPLICAS_DOCS,
    "q_sim_knn_join": REPLICAS_EMB,
}


def force(df) -> None:
    """Execute every column of `df`: one row hash over all of them,
    modded before the sum so the ANSI long sum cannot overflow."""
    h = F.pmod(F.xxhash64(*df.columns), F.lit(1_000_003))
    df.agg(F.sum(h)).collect()


def _shift(col: str, i: int, step: int):
    return (F.col(col) + F.lit(i * step)).alias(col)


def _suffix(col: str, suffix: str):
    return F.concat(F.col(col), F.lit(suffix)).alias(col)


def _replicate(spark, out_dir: str, name: str, replicas: int, project) -> None:
    """Write `replicas` copies of the sf0.1 table `name`, unioned, to
    out_dir; `project(i)` is replica i's select list."""
    df = load_table(spark, SF01, name)
    parts = [df.select(*project(i)) for i in range(replicas)]
    big = functools.reduce(DataFrame.unionByName, parts)
    big.write.mode("overwrite").parquet(f"{out_dir}/{name}.parquet")


def build_derived(spark, out_dir: str) -> None:
    """events x{REPLICAS} (ids and users shifted per replica so
    cardinalities scale too), documents x{REPLICAS_DOCS} (doc_id
    shifted; text perturbed with a replica token so dedup does not
    degenerate to exact copies), embeddings x{REPLICAS_EMB}."""
    _replicate(spark, out_dir, "events", REPLICAS, lambda i: [
        _shift("event_id", i, 10_000_000), "ts", _shift("user_id", i, 1_000_000),
        "event_type", "value", "props",
    ])
    _replicate(spark, out_dir, "documents", REPLICAS_DOCS, lambda i: [
        _shift("doc_id", i, 1_000_000), _suffix("text", f" replica{i}"),
        "lang", "source", "n_chars",
    ])
    _replicate(spark, out_dir, "embeddings", REPLICAS_EMB, lambda i: [
        _shift("vec_id", i, 1_000_000), "embedding", "label",
    ])
    # customer x{REPLICAS_DOCS} with a replica suffix on the name: the
    # within-replica ED1 structure is preserved and replicas of the
    # SAME customer differ only in the suffix digit (also ED1), so the
    # fuzzy graph grows in both nodes and cross-replica edges — a
    # deliberately harsher BFS/pagerank scale point than pure
    # disjoint-union replication
    _replicate(spark, out_dir, "customer", REPLICAS_DOCS, lambda i: [
        _shift("c_custkey", i, 1_000_000), _suffix("c_name", f" r{i}"),
        "c_nationkey", "c_acctbal", "c_mktsegment",
    ])
    # lineitem x{REPLICAS_DOCS} with shifted order AND part keys: the
    # co-purchase graph (BFS / neighbor-Jaccard probes) scales in
    # orders, parts, and edges while replicas stay disjoint components
    _replicate(spark, out_dir, "lineitem", REPLICAS_DOCS, lambda i: [
        _shift("l_orderkey", i, 100_000_000), _shift("l_partkey", i, 10_000_000),
        "l_suppkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ])


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/spark_graft_scale_probe"
    names = sys.argv[2:] or PROBE  # optional: probe only the named queries
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_derived(spark, out_dir)

    report = {}
    for name in names:
        force(QUERIES[name](spark, "/root/testdata/sf0.001"))  # warm
        t0 = time.time()
        force(QUERIES[name](spark, SF01))
        base = time.time() - t0
        t0 = time.time()
        force(QUERIES[name](spark, out_dir))
        big = time.time() - t0
        spark.catalog.clearCache()  # caller-owned graph/ladder caches
        if name in RATIO_OVERRIDES:
            ratio = RATIO_OVERRIDES[name]
        elif name.startswith(("q_dedup", "q_text", "q_feature", "q_graph")):
            # documents- or customer-backed probes (10x replication)
            ratio = REPLICAS_DOCS
        elif name.startswith("q_emb"):
            ratio = REPLICAS_EMB
        else:
            ratio = REPLICAS
        report[name] = {
            "sf0.1_s": round(base, 2),
            "big_s": round(big, 2),
            "data_ratio": ratio,
            "scale_ratio": round(big / base, 2),
        }
        print(json.dumps({name: report[name]}), file=sys.stderr)
    print(json.dumps({"queries": report}))
    spark.stop()


if __name__ == "__main__":
    main()
