"""Graph operators must not accumulate session-lifetime caches
(VERDICT r5 item 3 / round-5 advice).

Contract: a call to bfs_hops / pagerank / personalized_pagerank leaves
exactly ONE cached table — the returned, caller-owned result. The
per-round and edge/node caches the iteration needed internally are
released before return, so repeated invocations in a long-lived session
(the bench loop, the driver's 50-query sweep) show no net growth in the
block manager.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _persistent_ids(spark) -> set[int]:
    """Ids of currently-persistent RDDs.

    Id SETS, not counts: localCheckpoint blocks from OTHER tests (the
    BPE ladder, incremental dedup) also appear in getPersistentRDDs and
    are released asynchronously by the ContextCleaner — a count-based
    baseline races that cleanup (flaked once in the r10 full run when a
    stale checkpoint block vanished mid-test). Pre-existing ids can
    only disappear; the contract here is about ids the graph call
    CREATES, which diffing against the baseline isolates exactly."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet().toArray()}


def _edges(spark):
    # small dense-ish directed graph: 200 nodes, deterministic edges
    return (
        spark.range(600)
        .select(
            (F.col("id") % 200).alias("src"),
            ((F.col("id") * 7 + 3) % 200).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )


def test_bfs_leaves_only_result_cached(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import bfs_hops

    spark.catalog.clearCache()
    base = _persistent_ids(spark)
    for _ in range(3):
        out = bfs_hops(_edges(spark), seed_mod=10, max_hops=4)
        assert out.count() > 0
        # internal caches released: only the returned result remains
        assert len(_persistent_ids(spark) - base) <= 1
        out.unpersist()
        assert _persistent_ids(spark) - base == set()


def test_pagerank_leaves_only_result_cached(spark):
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import (
        pagerank,
        personalized_pagerank,
    )

    spark.catalog.clearCache()
    base = _persistent_ids(spark)
    for fn in (pagerank, personalized_pagerank):
        for _ in range(2):
            out = fn(_edges(spark))
            assert out.count() > 0
            assert len(_persistent_ids(spark) - base) <= 1
            out.unpersist()
            assert _persistent_ids(spark) - base == set()


def test_bfs_result_unchanged_by_lifecycle(spark):
    # the release ladder must not alter results: two calls in one
    # session agree row-for-row (hand-computed values are pinned
    # separately in test_round5_ops.test_bfs_hops_matches_hand_rounds)
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import bfs_hops

    a = bfs_hops(_edges(spark), seed_mod=10, max_hops=4)
    b = bfs_hops(_edges(spark), seed_mod=10, max_hops=4)
    ra = sorted((r.id, r.dist) for r in a.collect())
    rb = sorted((r.id, r.dist) for r in b.collect())
    a.unpersist()
    b.unpersist()
    assert ra == rb and len(ra) > 0


def test_bfs_dedupe_matches_distinct_edges_with_no_extra_exchange(spark):
    """r9: `dedupe=True` drops duplicate edges INSIDE bfs_hops' own
    id-repartition (HashPartitioning(id) satisfies the (id,dst) dedup's
    clustering requirement — no extra exchange), and BFS min-relaxation
    is duplicate-insensitive, so results equal the pre-deduped run."""
    import re

    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import bfs_hops

    dup_edges = _edges(spark).unionAll(_edges(spark).limit(100))  # real dupes
    a = bfs_hops(dup_edges, seed_mod=10, max_hops=3, dedupe=True)
    b = bfs_hops(_edges(spark).distinct(), seed_mod=10, max_hops=3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    a.unpersist()
    b.unpersist()
    # plan property: the fused dedup adds no exchange beyond the
    # repartition (count hashpartitioning exchanges in the edge prep)
    prep = (
        dup_edges.select(F.col("src").alias("id"), F.col("dst").alias("__dst"))
        .repartition("id")
        .dropDuplicates(["id", "__dst"])
    )
    plan = prep._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_bfs_adjacency_matches_edge_rows(spark):
    """r16: `adjacency=True` folds the deduped edges into per-node
    neighbor arrays (|V| persisted rows instead of |E|) and each round
    explodes matched arrays AFTER the frontier join. The hop-row
    multiset per round is identical to the edge-row path, so results
    must match row-for-row on every seed/hop combination; the cache
    lifecycle contract (exactly one table left, the caller-owned
    result) holds unchanged."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import bfs_hops

    spark.catalog.clearCache()
    base = _persistent_ids(spark)
    for kw in (
        dict(seed_mod=10, max_hops=4),
        dict(seed_mod=7, max_hops=2),
        dict(seed_mod=10, max_hops=3, dedupe=True),
    ):
        a = bfs_hops(_edges(spark), **kw)
        b = bfs_hops(_edges(spark), adjacency=True, **kw)
        ra = sorted(map(tuple, a.collect()))
        rb = sorted(map(tuple, b.collect()))
        a.unpersist()
        b.unpersist()
        assert ra == rb and len(ra) > 0, kw
    assert _persistent_ids(spark) - base == set()


def test_bfs_adjacency_symmetric_seed_path(spark):
    """adjacency + symmetric_edges: seeds come from the adjacency KEYS
    (distinct by construction, no distinct aggregation) — results must
    still match the edge-row symmetric path on a symmetrized graph."""
    from smart_energy_consumption_analytics_using_big_data_spark.ext.graph import bfs_hops

    sym = _edges(spark)
    sym = sym.unionByName(
        sym.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    a = bfs_hops(sym, seed_mod=10, max_hops=3, dedupe=True, symmetric_edges=True)
    b = bfs_hops(
        sym, seed_mod=10, max_hops=3, dedupe=True, symmetric_edges=True, adjacency=True
    )
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    a.unpersist()
    b.unpersist()
    assert ra == rb and len(ra) > 0

