"""Graph analytics over similarity/relationship edges (extension
surface; complements ext/dedup.connected_components).

PageRank here is the FIXED-ITERATION variant: a known iteration count
unrolls to a deterministic dataflow (each round = one join + one
aggregation), which keeps the result oracle-checkable and the lineage
bounded without checkpointing. Contribution sums accumulate in DECIMAL
after rounding each contribution at 1e-12, so the result is identical
across engines and partitionings - float-order-independent, the same
trick as operators/aggregates.sum_exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def bfs_hops(
    edges: DataFrame,
    seed_mod: int = 10,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    dedupe: bool = False,
    symmetric_edges: bool = False,
    adjacency: bool = False,
) -> DataFrame:
    """Bounded multi-source BFS: hop distance from a seed set.

    Seeds are the graph nodes with ``id % seed_mod == 0`` (a
    deterministic sample of entry points); each round relaxes
    ``dist(v) = min(dist(v), min_{(u,v) in E} dist(u) + 1)`` as one
    equi-join on src plus one min-aggregation on node id — the
    Bellman-Ford step specialised to unit weights. ``max_hops`` rounds
    unroll to a fixed dataflow (no driver-side convergence loop), so
    the result is the exact <=max_hops-hop neighborhood, all-integer
    and oracle-checkable against the same unrolled recurrence.

    At scale each round shuffles at most |frontier-adjacent E| + |V|
    rows on the node key; lineage stays bounded by the fixed round
    count (the same design as `pagerank` above).

    Cache lifecycle: each round's result is persisted and eagerly
    materialized, then the SUPERSEDED round (and finally the edge
    cache) is unpersisted — a call leaves exactly one cached table in
    the session, the returned result, which the caller owns (the
    GraphFrames contract). Without the release, every call parked
    ``max_hops + 2`` node/edge tables in the block manager for the
    session's lifetime.

    Shuffle discipline: the edge list is hash-repartitioned on the
    join key ONCE and cached with that partitioning, so every round's
    equi-join reuses it without a fresh |E| exchange — only the (much
    smaller) distance table shuffles per round. Seeds derive from the
    cached, partitioned table, so the upstream edge pipeline (often an
    expensive similarity/blocking join) executes exactly once.

    ``dedupe=True`` drops duplicate (src, dst) edges INSIDE the
    repartition: HashPartitioning(id) satisfies the (id, __dst)
    dedup's clustering requirement, so the dropDuplicates plans with
    NO extra exchange. Min-relaxation is insensitive to duplicate
    edges, so callers whose edge build would otherwise pay a dedicated
    distinct shuffle (a full |pairs| exchange) should pass raw pairs
    and let this fused dedup bound the per-round join fan-out instead
    — measured 5.05 -> 4.70 s on the sf0.1 co-purchase graph, and at
    data scale it removes a whole |E|-sized stage.

    ``adjacency=True`` (r16) folds the deduped, id-partitioned edge
    rows into per-node neighbor arrays before persisting — a groupBy
    on the SAME HashPartitioning(id), so the fold adds NO exchange —
    and each round joins the frontier against |V| array rows instead
    of |E| edge rows, exploding the matched neighbor arrays AFTER the
    join. The hop-row multiset per round is identical (each frontier
    node contributes exactly its distinct neighbor set either way), so
    results are byte-identical; `adjacency` implies the dedup. The
    trade is scale-conditional, the q_sql_min_cost_supplier pattern:
    the fold's ObjectHashAggregate and the extra array materialization
    are fixed overhead that loses at sf0.1 (rotated interleaved A/B
    1/6, +10%) but wins on the 10x derived co-purchase graph (4-6/6,
    median 6.69 -> 5.98 s; persisting ~24M edge rows vs ~200k array
    rows — OPTIMIZATION_r16.md, shipped item 2), so callers gate it on
    input size. Scale caveat: a hub node's full neighbor set sits in
    one aggregation buffer (the standard adjacency-list trade); the
    edge-row path has no such buffer, which is one more reason the
    small/default branch keeps it.
    """
    ed = edges.select(F.col(src).alias("id"), F.col(dst).alias("__dst")).repartition(
        "id"
    )
    if dedupe or adjacency:
        ed = ed.dropDuplicates(["id", "__dst"])
    if adjacency:
        ed = ed.groupBy("id").agg(
            F.array_sort(F.collect_set("__dst")).alias("__nbrs")
        )
    ed = ed.persist()
    ed.count()
    # Seeds are GRAPH nodes (either endpoint) with id % seed_mod == 0.
    # The src side alone misses sink-only seeds on directed inputs: a
    # seed with no outgoing edges must still report dist 0 (and must
    # beat any relaxed distance other seeds reach it at — the min-agg
    # handles that once the 0-row exists). Found by the randomized
    # differential (tests/test_graph_differential.py); invisible on the
    # symmetric co-purchase graph, where every node appears as src.
    # Cost discipline (the first formulation — a union of two distincts
    # re-distincted — measured +~1.5 s at sf0.1 because the initial
    # table is consumed TWICE, as round 1's carry and its frontier):
    # one explode pass over the cached edges, filter BEFORE the
    # distinct so its exchange carries only the ~2|E|/seed_mod seed
    # candidates, then persist the seed table into the round lifecycle
    # (prev), so round 1 materializes it once and releases it like any
    # superseded round.
    #
    # ``symmetric_edges=True`` is a caller assertion that every edge
    # appears in both directions (e.g. the co-purchase consumer, which
    # explodes both orientations itself): then every node appears as a
    # src and the exchange-FREE src-side distinct over the partitioned
    # cache is provably complete — the explode pass (~0.5 s at sf0.1)
    # is skipped. Correct-by-default stays "both endpoints".
    if symmetric_edges:
        seed_rows = ed.select("id")
    elif adjacency:
        seed_rows = ed.select(
            F.explode(F.concat(F.array(F.col("id")), F.col("__nbrs"))).alias("id")
        )
    else:
        seed_rows = ed.select(
            F.explode(F.array(F.col("id"), F.col("__dst"))).alias("id")
        )
    # adjacency keys are already distinct (groupBy output), so the
    # symmetric seed scan skips the distinct's aggregation entirely
    seed_rows = seed_rows.filter(F.col("id") % seed_mod == 0)
    if not (adjacency and symmetric_edges):
        seed_rows = seed_rows.distinct()
    dist = seed_rows.select("id", F.lit(0).alias("dist")).persist()
    n_settled = dist.count()
    # Frontier-delta relaxation (r11): with unit weights a settled
    # node's distance never improves, so round k only needs the nodes
    # FIRST settled at k-1 on the join's probe side — every edge out
    # of an older node was already relaxed in an earlier round and can
    # only rediscover dist values the min-aggregation would discard.
    # The probe shrinks from |dist| (≈ all reached nodes by the last
    # rounds, so hop ≈ |E| rows) to |frontier|; results are identical
    # to the full-table relax (BFS = unit-weight Bellman-Ford), and
    # the physical shape keeps one exchange per round: ed is cached
    # hash-partitioned on id, frontier is a filter over the previous
    # round's cached groupBy output (same HashPartitioning(id)), so
    # the join is exchange-free and the union+min-agg is the round's
    # single shuffle. Measured 6.3 -> ~4 s on the sf0.1 co-purchase
    # graph (PERFORMANCE.md r11).
    frontier = dist
    prev = dist  # the seed table is released by round 1 like any superseded round
    for k in range(1, max_hops + 1):
        if adjacency:
            hop = ed.join(frontier, "id").select(
                F.explode("__nbrs").alias("id"), F.lit(k).cast("int").alias("dist")
            )
        else:
            hop = ed.join(frontier, "id").select(
                F.col("__dst").alias("id"), F.lit(k).cast("int").alias("dist")
            )
        # each round references dist TWICE (carry + next frontier);
        # persisting the round result keeps the lineage linear —
        # without it the duplicated subplan re-executes ~2^round times
        # (measured 8.5 s -> 3.9 s for 4 rounds on the 525k-edge sf0.1
        # graph)
        dist = (
            dist.unionByName(hop)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .persist()
        )
        # pin this round's blocks BEFORE releasing its predecessor, so
        # the unpersist can never trigger the exponential recompute it
        # exists to prevent
        cnt = dist.count()
        if prev is not None:
            prev.unpersist()
        prev = dist
        # exhausted frontier: the remaining rounds are identity
        # min-aggs (no hop rows) — skipping them changes nothing but
        # the wasted jobs. A settled node's distance never changes
        # (frontier-delta invariant: hop rows carry dist == k >= any
        # settled value, and min keeps the older one), so the node
        # count grows IFF this round settled new nodes — the persist
        # pin's count doubles as the emptiness test, replacing the
        # extra take(1) job per round (r15; not a convergence test:
        # the round count stays fixed).
        if cnt == n_settled:
            break
        n_settled = cnt
        # nodes first settled this round; final dist == k can only be
        # assigned at round k, so the filter IS the frontier delta
        frontier = dist.filter(F.col("dist") == k)
    ed.unpersist()
    return dist


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank on a directed edge list.

    Per round: contribution = rank/out-degree routed along edges (one
    equi-join on src), summed per destination (one shuffle on dst),
    then the damping update. Nodes = every endpoint; dangling mass is
    dropped (standard simplification for similarity graphs, where
    symmetric edges mean no dangling nodes anyway). The node count is
    the only driver scalar - same class as a convergence check.

    At scale each round shuffles |E| contribution rows; with a bounded
    `iters` the whole computation is `iters` joins, no iterative
    driver loop over collected data.
    """
    # Spark does not CSE identical subplans: without materializing the
    # edge list, every iteration (and the nodes/degree derivations)
    # would re-execute the upstream edge pipeline - for a similarity
    # graph that is the whole LSH/blocking join, per use. Materialize
    # it ONCE, hash-partitioned on the contribution join key, so every
    # round's equi-join (and the degree rollup) reuses the cached
    # partitioning instead of re-exchanging |E| rows per iteration.
    ed = (
        edges.select(F.col(src).alias("id"), F.col(dst).alias("__dst"))
        .repartition("id")
        .persist()
    )
    ed.count()
    edges = ed  # released by _finish_ranks
    nodes = (
        ed.select("id")
        .union(ed.select(F.col("__dst").alias("id")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    # empty graph -> empty ranks (matches bfs_hops/connected_components
    # composition behavior), not a DIVIDE_BY_ZERO from the 1/n literals
    if n == 0:
        return _finish_ranks(nodes.select("id", F.lit(0.0).alias("rank")), ed, nodes)
    # Degrees persist ONCE (|V| rows): the r15 shape joins deg into the
    # |V|-sized rank table BEFORE the edge join, so each iteration pays
    # ONE |E|-sized join instead of two ((ed JOIN ranks) JOIN deg made
    # the deg lookup process |E| rows, and the unpersisted deg subplan
    # re-aggregated the cached edge list inside every iteration's
    # plan). Contributions are bit-identical — same round(rank/deg, 12)
    # on the same inputs — verified exact (exceptAll = 0 both ways) on
    # the textrank and 10x co-purchase graphs (OPTIMIZATION_r15.md).
    deg = ed.groupBy("id").agg(F.count(F.lit(1)).alias("deg")).persist()
    base = 1.0 - damping
    ranks = nodes.select("id", F.round(F.lit(1.0) / n, 12).alias("rank"))
    for _ in range(iters):
        contrib = ed.join(ranks.join(deg, "id"), "id").select(
            F.col("__dst").alias("id"),
            F.round(F.col("rank") / F.col("deg"), 12)
            .cast("decimal(28,12)")
            .alias("c"),
        )
        summed = contrib.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, "id", "left").select(
            "id",
            F.round(
                F.lit(base) / n
                + F.lit(damping) * F.coalesce(F.col("s").cast("double"), F.lit(0.0)),
                12,
            ).alias("rank"),
        )
    return _finish_ranks(ranks, edges, nodes, deg)


def _finish_ranks(
    ranks: DataFrame,
    edges: DataFrame,
    nodes: DataFrame,
    deg: DataFrame | None = None,
) -> DataFrame:
    """Materialize the final rank table, then release the edge/node
    (and, for the r15 pagerank shape, degree) caches the iteration
    needed — the caller owns only the returned (persisted) result.
    Without the release each call parked the edge pipeline and node
    table in the block manager for the session's lifetime (round-5
    advice)."""
    out = ranks.select("id", F.round("rank", 6).alias("rank")).persist()
    out.count()
    nodes.unpersist()
    edges.unpersist()
    if deg is not None:
        deg.unpersist()
    return out


def order_baskets(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Group a (group, item) fact into per-group sorted item-set arrays.

    One aggregation shuffle replaces both the ``distinct()`` pre-pass
    (``collect_set`` dedups within the group) and the self-join input
    exchanges of the classic co-occurrence build — on a fact table the
    size of lineitem that is the dominant cost of every pair query.
    Output: one row per group with ``__items`` = array_sort(set(items)).
    """
    return df.groupBy(group_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("__items")
    )


def basket_pairs(baskets: DataFrame, directed: bool = False) -> DataFrame:
    """Enumerate item pairs inside each basket row (in-row, no join).

    Replaces the ``fact JOIN fact ON group AND a < b`` self-join: the
    pair set is generated per row with array HOFs (upper triangle of
    the sorted item array), so the fact table is shuffled ONCE (by the
    upstream `order_baskets` aggregation) instead of twice, and no join
    materialization happens at all. Measured at sf0.1 on the lineitem
    co-purchase graph: 1.96 s (self-join + distinct) -> 1.45 s, output
    verified identical (exceptAll both ways = 0).

    ``directed=True`` emits both (a,b) and (b,a) — the ``a <> b`` rule
    shape. Otherwise pairs are ordered ``id_a < id_b``.

    Scale note: one output row per basket pair either way — identical
    quadratic-in-basket-size output to the self-join — but this form
    materializes C(n,2) structs per GROUP ROW, so heavy-tailed basket
    sizes need an upstream cap (slice/filter on size) exactly like
    shingle-df pruning in the dedup family; TPC-H baskets are <= 7.
    """
    tri = (
        "flatten(transform(__items, (x, i) -> "
        "transform(slice(__items, i + 2, size(__items) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    pairs = baskets.select(F.explode(F.expr(tri)).alias("__p")).select(
        "__p.id_a", "__p.id_b"
    )
    if directed:
        pairs = pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a"), F.col("id_b")),
                    F.struct(
                        F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
                    ),
                )
            ).alias("__p")
        ).select("__p.id_a", "__p.id_b")
    return pairs


def copurchase_pairs(
    df: DataFrame, group_col: str, item_col: str, directed: bool = False
) -> DataFrame:
    """(group, item) fact -> item co-occurrence pairs, one row per
    (group, pair): `order_baskets` + `basket_pairs` composed. Distinct
    ACROSS groups is the caller's choice (graph edge lists want it,
    support counting must not)."""
    return basket_pairs(order_baskets(df, group_col, item_col), directed=directed)


def oriented_triangles(edges: DataFrame, canonicalize: bool = False) -> DataFrame:
    """Triangle instances of an undirected simple graph via DEGREE
    ORIENTATION: each edge (u,v) points from its lower-(degree, id)
    endpoint to the higher one, then triangles are wedges (lo->a,
    lo->b) closed by an oriented edge (a->b). Counting on the oriented
    DAG counts every triangle exactly once AND bounds the wedge join's
    fan-out: a node's OUT-degree in the orientation is at most
    O(sqrt(m)) / graph arboricity regardless of its raw degree, so hub
    nodes (celebrity products, power-law tails) cannot explode the
    join — the standard distributed formulation.

    Input contract (ADVICE r12): one row per undirected edge in
    CANONICAL form — u < v, no duplicates, no self-loops. A merely
    "deduped" list where both (u,v) and (v,u) survive doubles every
    degree and reports each triangle multiple times, SILENTLY. Callers
    with unknown edge orientation pass ``canonicalize=True`` to pay
    one least/greatest + distinct pass (a shuffle the canonical-input
    hot path — copurchase_pairs emits id_a < id_b — must not pay).
    Returns one row per triangle with its three vertices as UNIQUE
    columns (a, b, c) = (e1.lo, e1.hi, e2.hi) so callers can count,
    sample, or join back without hitting the ambiguous lo/hi names the
    raw three-way self-join carries.
    """
    if canonicalize:
        edges = (
            edges.filter(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
            )
            .distinct()
        )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e = (
        edges.join(deg.withColumnRenamed("node", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("node", "v").withColumnRenamed("d", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = e.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )
    # Materialize the oriented list ONCE before the three-way self-join:
    # each alias would otherwise re-execute the whole edge build (fact
    # agg + distinct + two degree joins) — the join keys differ per
    # alias so exchange reuse does not cover it. Same-session A/B at
    # 10x lineitem: 107.5 s -> 38.9-87.6 s warm, identical counts.
    # LAZY localCheckpoint: the first action materializes it and the
    # other aliases read the persisted blocks, but plan-only callers
    # (.explain(), schema checks, discarded branches) pay nothing at
    # construction time; not persist(), so the ContextCleaner reclaims
    # the blocks when the returned plan is dropped — the dsir_select
    # lifecycle pattern (ADVICE r3), no session cache-entry leak.
    # No storage level beat the default (PERFORMANCE.md, Round 13).
    oriented = oriented.localCheckpoint(eager=False)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    return (
        e1.join(e2, F.col("e2.lo") == F.col("e1.hi"))
        .join(
            e3,
            (F.col("e3.lo") == F.col("e1.lo")) & (F.col("e3.hi") == F.col("e2.hi")),
        )
        .select(
            F.col("e1.lo").alias("a"),
            F.col("e1.hi").alias("b"),
            F.col("e2.hi").alias("c"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seed_mod: int = 10,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: restart mass concentrates on the seed set
    (nodes with ``id % seed_mod == 0``) instead of spreading uniformly,
    so rank measures relatedness TO THE SEEDS — the recommendation /
    relatedness variant (Haveliwala 2002) of the centrality walk above.
    Same fixed-iteration dataflow, decimal-rounded contribution sums,
    and once-materialized key-partitioned edge cache as `pagerank`;
    the only change is the restart vector."""
    ed = (
        edges.select(F.col(src).alias("id"), F.col(dst).alias("__dst"))
        .repartition("id")
        .persist()
    )
    ed.count()
    edges = ed  # released by _finish_ranks
    nodes = (
        ed.select("id")
        .union(ed.select(F.col("__dst").alias("id")))
        .distinct()
        .persist()
    )
    is_seed = F.col("id") % seed_mod == 0
    ns = nodes.filter(is_seed).count()
    if ns == 0:
        # an EMPTY graph composes like pagerank/bfs: empty ranks out.
        # A non-empty graph with no seeds is a caller error — without
        # this guard it surfaces as an ANSI DIVIDE_BY_ZERO from the
        # restart terms' constant folding instead of a diagnosable one.
        if nodes.count() == 0:
            return _finish_ranks(
                nodes.select("id", F.lit(0.0).alias("rank")), ed, nodes
            )
        nodes.unpersist()
        ed.unpersist()
        raise ValueError(
            f"personalized_pagerank: no seed nodes (id % {seed_mod} == 0) in the graph"
        )
    # same r15 iteration shape as `pagerank`: persisted |V|-sized deg
    # joined into ranks BEFORE the |E|-sized edge join (one big join
    # per iteration instead of two; values bit-identical).
    deg = ed.groupBy("id").agg(F.count(F.lit(1)).alias("deg")).persist()
    base = 1.0 - damping
    ranks = nodes.select(
        "id",
        F.when(is_seed, F.round(F.lit(1.0) / ns, 12)).otherwise(F.lit(0.0)).alias(
            "rank"
        ),
    )
    for _ in range(iters):
        contrib = ed.join(ranks.join(deg, "id"), "id").select(
            F.col("__dst").alias("id"),
            F.round(F.col("rank") / F.col("deg"), 12)
            .cast("decimal(28,12)")
            .alias("c"),
        )
        summed = contrib.groupBy("id").agg(F.sum("c").alias("s"))
        ranks = nodes.join(summed, "id", "left").select(
            "id",
            F.round(
                F.when(is_seed, F.lit(base) / ns).otherwise(F.lit(0.0))
                + F.lit(damping) * F.coalesce(F.col("s").cast("double"), F.lit(0.0)),
                12,
            ).alias("rank"),
        )
    return _finish_ranks(ranks, edges, nodes, deg)
