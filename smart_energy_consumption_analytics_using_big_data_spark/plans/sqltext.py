"""SQL-text entry point: the same engine through ``spark.sql`` over
catalog-registered views (SURVEY.md SS1.5 - named tables instead of the
reference's directory-name convention).

These prove DataFrame and SQL programs share one surface: the oracle
strings below are (nearly) the Spark SQL itself, modulo the documented
DuckDB type-normalization casts.
"""

from __future__ import annotations

from smart_energy_consumption_analytics_using_big_data_spark.plans._registry import DSUM, q
from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import register_views


@q(
    "q_sql_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           {q} AS sum_qty, {p} AS sum_base_price,
           {d} AS sum_disc_price,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """.format(
        q=DSUM("l_quantity"),
        p=DSUM("l_extendedprice"),
        d=DSUM("l_extendedprice * (1 - l_discount)"),
    ),
)
def q_sql_pricing_summary(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary, submitted as SQL TEXT via
    spark.sql over registered views - scan-heavy, 8 aggregates, the
    classic whole-stage-codegen showcase."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_base_price,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
                 AS sum_disc_price,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


@q(
    "q_sql_revenue_topn",
    """
    SELECT n_name, {rev} AS revenue, count(DISTINCT o_orderkey) AS n_orders
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC, n_name LIMIT 10
    """.format(rev=DSUM("l_extendedprice * (1 - l_discount)")),
)
def q_sql_revenue_topn(spark, sf_dir):
    """Multi-join revenue rollup as SQL text (Q5-shaped): fact x fact
    shuffle join + two broadcast dims + top-n. Catalyst picks broadcast
    for customer/nation automatically; AQE re-plans the big join."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
                 AS revenue,
               count(DISTINCT o_orderkey) AS n_orders
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY revenue DESC, n_name LIMIT 10
        """
    )


@q(
    "q_sql_grouping_sets",
    """
    SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
           CAST(GROUPING(event_type) AS INTEGER) AS g_type,
           CAST(GROUPING(CAST(hour(ts) AS INTEGER)) AS INTEGER) AS g_hr,
           {v} AS total_value, count(*) AS n
    FROM events
    GROUP BY GROUPING SETS ((event_type, CAST(hour(ts) AS INTEGER)),
                            (event_type), ())
    """.format(v=DSUM("value")),
)
def q_sql_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (generalizes q_rollup/q_cube): per
    (type, hour), per type, and grand total in ONE shuffle - Spark
    expands the sets map-side instead of three scans + union."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
               CAST(GROUPING(event_type) AS INTEGER) AS g_type,
               CAST(GROUPING(CAST(hour(ts) AS INTEGER)) AS INTEGER) AS g_hr,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value,
               count(*) AS n
        FROM events
        GROUP BY GROUPING SETS ((event_type, CAST(hour(ts) AS INTEGER)),
                                (event_type), ())
        """
    )


@q(
    "q_sql_exists",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 100000)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def q_sql_exists(spark, sf_dir):
    """Correlated EXISTS / NOT EXISTS subqueries as SQL text - Catalyst
    decorrelates both into semi/anti joins (same physical shape as
    q_join_semi/q_join_anti), no per-row re-execution."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_totalprice > 100000)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        """
    )


@q(
    "q_sql_scalar_subquery",
    """
    SELECT event_type, count(*) AS n_above
    FROM events
    WHERE value > (SELECT avg(value) FROM events)
    GROUP BY event_type
    """,
)
def q_sql_scalar_subquery(spark, sf_dir):
    """Scalar subquery in a predicate: Catalyst evaluates the single-row
    aggregate once and folds it in as a literal join - not per row."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, count(*) AS n_above
        FROM events
        WHERE value > (SELECT avg(value) FROM events)
        GROUP BY event_type
        """
    )


@q(
    "q_sql_shipping_priority",
    """
    SELECT l_orderkey, {rev} AS revenue, o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
    """.format(rev=DSUM("l_extendedprice * (1 - l_discount)")),
)
def q_sql_shipping_priority(spark, sf_dir):
    """TPC-H Q3-shaped shipping priority as SQL text: both date
    predicates and the segment filter push to their scans BEFORE the
    joins (unshipped-as-of-date semantics), customer broadcasts, and
    the top-10 is TakeOrdered on the aggregated revenue - the selective
    fact-fact join pattern where filter pushdown decides whether 100 TB
    is readable (ref analytics join shapes, data_preprocessing.py:182)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
                 AS revenue,
               o_orderdate, o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10
        """
    )


@q(
    "q_sql_market_share",
    """
    WITH all_sales AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region ON cn.n_regionkey = r_regionkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
           CAST(sum(volume) AS DOUBLE) AS total_volume
    FROM all_sales
    GROUP BY o_year
    """,
)
def q_sql_market_share(spark, sf_dir):
    """TPC-H Q8-shaped market share as SQL text: an 8-table join tree
    (1 fact + 2 mid + 4 dims, nation joined TWICE under different
    aliases) feeding a conditional-aggregate ratio per year. Every dim
    broadcasts; the only shuffles are the two fact-side joins and the
    final small groupBy. Decimal sums keep numerator/denominator exact
    before one rounded double division."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH all_sales AS (
          SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)) AS volume,
                 sn.n_name AS supp_nation
          FROM lineitem
          JOIN part ON l_partkey = p_partkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          JOIN region ON cn.n_regionkey = r_regionkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          WHERE r_name = 'EUROPE' AND p_type = 'PROMO'
        )
        SELECT o_year,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                   ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
                     / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share,
               CAST(sum(volume) AS DOUBLE) AS total_volume
        FROM all_sales
        GROUP BY o_year
        """
    )


@q(
    "q_sql_correlated_agg",
    """
    SELECT p_brand,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0, 6)
             AS avg_yearly,
           count(*) AS n_small_orders
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_quantity < (
      SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(25,6))) AS DOUBLE) / count(*))
      FROM lineitem l2 WHERE l2.l_partkey = p_partkey
    )
    GROUP BY p_brand
    """,
)
def q_sql_correlated_agg(spark, sf_dir):
    """TPC-H Q17-shaped correlated aggregate subquery: per-part 20%%-of-
    average quantity threshold. Catalyst decorrelates the subquery into
    ONE per-part aggregate joined back to the fact - the whole filter
    costs two scans and one join, never a per-row re-aggregation. The
    threshold divides a decimal-exact sum so the comparison boundary is
    identical across engines and partitionings."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_brand,
               round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS DOUBLE) / 7.0, 6)
                 AS avg_yearly,
               count(*) AS n_small_orders
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE l_quantity < (
          SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(25,6))) AS DOUBLE) / count(*))
          FROM lineitem l2 WHERE l2.l_partkey = p_partkey
        )
        GROUP BY p_brand
        """
    )


@q(
    "q_sql_disjunctive_pushdown",
    """
    SELECT count(*) AS n, {rev} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#4' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
    """.format(rev=DSUM("l_extendedprice * (1 - l_discount)")),
)
def q_sql_disjunctive_pushdown(spark, sf_dir):
    """TPC-H Q19-shaped OR-of-ANDs predicate: Catalyst must factor the
    per-table conjuncts out of the disjunction so each scan still gets
    a pushed filter (p_brand IN (...) / p_size / l_quantity bounds)
    instead of evaluating the whole OR only after the join - the
    difference between scanning 3 brands' row groups and scanning 100
    TB. Pushdown asserted in test_disjunctive_predicate_reaches_scans."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT count(*) AS n,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
                 AS revenue
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
           OR (p_brand = 'Brand#4' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)
        """
    )


@q(
    "q_sql_promo_share",
    """
    SELECT round(100.0 *
             CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                           THEN l_extendedprice * (1 - l_discount) END
                           AS DECIMAL(25,6))) AS DOUBLE) /
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(25,6))) AS DOUBLE), 6) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q_sql_promo_share(spark, sf_dir):
    """TPC-H Q14-shaped promo revenue share: conditional aggregate over
    a fact-dim join, expressed as SQL text. The part side broadcasts
    under AQE; the time predicate pushes into the lineitem scan."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT round(100.0 *
                 CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                               THEN l_extendedprice * (1 - l_discount) END
                               AS DECIMAL(25,6))) AS DOUBLE) /
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(25,6))) AS DOUBLE), 6) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        """
    )


@q(
    "q_sql_inactive_rich",
    """
    SELECT c_nationkey, count(*) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_bal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q_sql_inactive_rich(spark, sf_dir):
    """TPC-H Q22-shaped: customers with above-average positive balance
    and no URGENT orders, rolled up by nation — an uncorrelated scalar
    subquery plus an anti join (NOT EXISTS) in one SQL statement."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_nationkey, count(*) AS n_custs,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) AS total_bal
        FROM customer
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_nationkey
        """
    )


@q(
    "q_sql_count_distribution",
    """
    SELECT c_count, count(*) AS n_custs
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o
        ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q_sql_count_distribution(spark, sf_dir):
    """TPC-H Q13-shaped order-count distribution: LEFT join with an
    ON-clause filter (customers with zero qualifying orders must
    survive into the c_count=0 bucket — a WHERE would drop them), then
    a second aggregation over the first's results. Two shuffles by
    construction; the second is over the tiny count-histogram."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_count, count(*) AS n_custs
        FROM (
          SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o
            ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey
        )
        GROUP BY c_count
        """
    )


@q(
    "q_sql_top_per_group",
    """
    SELECT c_mktsegment, c_custkey, total, rnk FROM (
      SELECT c_mktsegment, c_custkey, total,
             CAST(row_number() OVER (
               PARTITION BY c_mktsegment ORDER BY total DESC, c_custkey
             ) AS INTEGER) AS rnk
      FROM (
        SELECT c_mktsegment, c_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
        FROM customer JOIN orders ON c_custkey = o_custkey
        GROUP BY 1, 2
      )
    ) WHERE rnk <= 5
    """,
)
def q_sql_top_per_group(spark, sf_dir):
    """Windowed top-k per group as SQL TEXT (the window-function syntax
    family through spark.sql): top-5 customers by order total per
    market segment. Aggregation and ranking share the segment+customer
    shuffle; the rank filter prunes before any further stage."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment, c_custkey, total, rnk FROM (
          SELECT c_mktsegment, c_custkey, total,
                 CAST(row_number() OVER (
                   PARTITION BY c_mktsegment ORDER BY total DESC, c_custkey
                 ) AS INTEGER) AS rnk
          FROM (
            SELECT c_mktsegment, c_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total
            FROM customer JOIN orders ON c_custkey = o_custkey
            GROUP BY 1, 2
          )
        ) WHERE rnk <= 5
        """
    )


@q(
    "q_sql_lateral_tokens",
    """
    SELECT doc_id, CAST(p['i'] - 1 AS INTEGER) AS pos, p['tok'] AS token
    FROM (SELECT doc_id,
                 unnest(list_transform(string_split(text, ' '),
                                       (x, i) -> {'i': i, 'tok': x})) AS p
          FROM documents WHERE doc_id < 20)
    """,
)
def q_sql_lateral_tokens(spark, sf_dir):
    """LATERAL VIEW posexplode as SQL TEXT: token-position table per
    document (the row-generating SQL syntax family; the DataFrame
    explode path is exercised everywhere else). Generator runs inside
    the scan projection — no join, no shuffle."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT doc_id, pos, token
        FROM documents
        LATERAL VIEW posexplode(split(text, ' ')) t AS pos, token
        WHERE doc_id < 20
        """
    )


@q(
    "q_sql_filter_agg",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE)
             AS potential_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_sql_filter_agg(spark, sf_dir):
    """TPC-H Q6-shaped: pure multi-predicate scan + single aggregate —
    the whole-stage-codegen/pushdown microbenchmark shape (every
    predicate lands in PushedFilters; no join, no grouping)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS DOUBLE)
                 AS potential_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@q(
    "q_sql_double_exists",
    """
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
      AND NOT EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey
              AND l_shipdate <= o_orderdate + INTERVAL 7 DAY)
    GROUP BY 1
    """,
)
def q_sql_double_exists(spark, sf_dir):
    """Q4/Q21-shaped DOUBLE correlated existence test against the same
    fact (a late line exists AND no prompt line exists): Catalyst must
    decorrelate BOTH subqueries — one semi join plus one anti join on
    the same key, with the correlated date predicate evaluated inside
    each join condition (non-equi correlation)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
          AND NOT EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate <= o_orderdate + INTERVAL 7 DAY)
        GROUP BY 1
        """
    )


@q(
    "q_sql_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
                  AS DOUBLE) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, round(total_rev, 6) AS total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT max(total_rev) FROM rev)
    """,
)
def q_sql_top_supplier(spark, sf_dir):
    """Q15-shaped: aggregate 'view' consumed twice — once as the join
    input and once inside a scalar-subquery max over ITSELF. Catalyst
    folds the scalar max once (no per-row re-aggregation); the ties-
    included max-filter is the shape rank() can't express without a
    window over the whole aggregate."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH rev AS (
          SELECT l_suppkey,
                 CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
                      AS DOUBLE) AS total_rev
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
          GROUP BY 1
        )
        SELECT s_suppkey, s_name, round(total_rev, 6) AS total_rev
        FROM supplier JOIN rev ON s_suppkey = l_suppkey
        WHERE total_rev = (SELECT max(total_rev) FROM rev)
        """
    )


@q(
    "q_sql_big_orders",
    """
    SELECT c_name, o_orderkey, round(o_totalprice, 6) AS o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total_qty
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    GROUP BY 1, 2, 3
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
)
def q_sql_big_orders(spark, sf_dir):
    """Q18-shaped: IN over a grouped-HAVING subquery on the SAME fact
    (large-volume orders), re-joined through customer for the final
    rollup — the aggregate-then-semi-join shape; TakeOrdered caps the
    output without a global sort."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_name, o_orderkey, round(o_totalprice, 6) AS o_totalprice,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS total_qty
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
          HAVING sum(l_quantity) > 150
        )
        GROUP BY 1, 2, 3
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
        """
    )


@q(
    "q_sql_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year, {rev} AS revenue
    FROM (
      SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
          OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """.format(rev=DSUM("volume")),
)
def q_sql_volume_shipping(spark, sf_dir):
    """TPC-H Q7-shaped volume shipping as SQL text: nation joined TWICE
    (supplier side and customer side) with a symmetric disjunctive
    nation-pair predicate, revenue by (supp_nation, cust_nation, year).
    The disjunction can't push below either nation join alone, but both
    nation dims broadcast and the residual filter runs before the
    year rollup — only the two fact-side joins shuffle."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT supp_nation, cust_nation, l_year,
               CAST(SUM(CAST(volume AS DECIMAL(25,6))) AS DOUBLE) AS revenue
        FROM (
          SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                 CAST(year(l_shipdate) AS INTEGER) AS l_year,
                 l_extendedprice * (1 - l_discount) AS volume
          FROM supplier
          JOIN lineitem ON s_suppkey = l_suppkey
          JOIN orders ON o_orderkey = l_orderkey
          JOIN customer ON c_custkey = o_custkey
          JOIN nation sn ON s_nationkey = sn.n_nationkey
          JOIN nation cn ON c_nationkey = cn.n_nationkey
          WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
              OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        """
    )


@q(
    "q_sql_supplier_part_counts",
    """
    SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 20
    """,
)
def q_sql_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16-shaped supplier-part counts as SQL text: COUNT
    DISTINCT per (brand, size) with a NOT IN scalar-set subquery
    (negative-balance suppliers stand in for Q16's complaints filter).
    NOT IN compiles to a null-aware anti join against a dim-sized
    broadcast set; the distinct count is the only wide shuffle (two-
    phase partial_count(distinct ...) after the broadcast part join)."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM part JOIN lineitem ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_size LIMIT 20
        """
    )


@q(
    "q_sql_recursive_sessions",
    """
    WITH RECURSIVE ordered AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
             lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_id
      FROM events
    ),
    edges AS (
      SELECT prev_id AS src, event_id AS dst FROM ordered
      WHERE prev_ts IS NOT NULL
        AND epoch_us(ts) - epoch_us(prev_ts) <= 1800000000
    ),
    heads AS (
      SELECT user_id, event_id FROM ordered
      WHERE prev_ts IS NULL
         OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
    ),
    walk AS (
      SELECT user_id, event_id AS head_id, event_id AS cur, 1 AS n
      FROM heads
      UNION ALL
      SELECT w.user_id, w.head_id, e.dst, w.n + 1
      FROM walk w JOIN edges e ON e.src = w.cur
    )
    SELECT user_id, head_id, max(n) AS session_len
    FROM walk GROUP BY user_id, head_id
    """,
)
def q_sql_recursive_sessions(spark, sf_dir):
    """WITH RECURSIVE (Spark 4's recursive CTE surface): session sizes
    computed as an iterative graph walk — consecutive same-user events
    within 30 minutes form edges, session heads seed the recursion,
    each step follows one edge. Semantically identical to the
    lag/cumsum sessionization (q_sessionize) but exercises the
    fixpoint-iteration path of the engine (bounded here by the longest
    session, depth 3 at sf0.01 — far under the 100-level default
    recursion limit). Heads/edges derive from ONE window pass; the
    recursion shuffles only the frontier. The CAST(ts AS TIMESTAMP)
    inside unix_micros is the dtype-drift rule for SQL text: views from
    register_views present timestamp or timestamp_ntz (load_table
    already converts the bigint-nanos flavor at the scan), and the cast
    is exact for both under the pinned-UTC session."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE ordered AS (
          SELECT user_id, event_id, ts,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts,
                 lag(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_id
          FROM events
        ),
        edges AS (
          SELECT prev_id AS src, event_id AS dst FROM ordered
          WHERE prev_ts IS NOT NULL
            AND unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(prev_ts AS TIMESTAMP)) <= 1800000000
        ),
        heads AS (
          SELECT user_id, event_id FROM ordered
          WHERE prev_ts IS NULL
             OR unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(prev_ts AS TIMESTAMP)) > 1800000000
        ),
        walk AS (
          SELECT user_id, event_id AS head_id, event_id AS cur, 1 AS n
          FROM heads
          UNION ALL
          SELECT w.user_id, w.head_id, e.dst, w.n + 1
          FROM walk w JOIN edges e ON e.src = w.cur
        )
        SELECT user_id, head_id, max(n) AS session_len
        FROM walk GROUP BY user_id, head_id
        """
    )


@q(
    "q_sql_min_cost_supplier",
    """
    WITH offers AS (
      SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem WHERE l_quantity > 0 GROUP BY 1, 2
    )
    SELECT round(s_acctbal, 6) AS s_acctbal, s_name, n_name, p_partkey, p_name
    FROM part
    JOIN offers ON p_partkey = offers.l_partkey
    JOIN supplier ON s_suppkey = offers.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE p_size < 10 AND p_type = 'SMALL' AND r_name = 'EUROPE'
      AND unit_cost = (
        SELECT min(unit_cost)
        FROM offers o2
        JOIN supplier s2 ON s2.s_suppkey = o2.l_suppkey
        JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
        JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
        WHERE o2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20
    """,
)
def q_sql_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2-shaped minimum-cost supplier. The dataset has no
    partsupp table, so the observed per-(part, supplier) minimum unit
    price from lineitem IS the supply-offer relation (built once in a
    CTE, consumed twice). The correlated scalar-min subquery references
    the outer p_partkey through its own region-restricted join chain —
    Catalyst decorrelates it into a per-part min aggregate joined back
    on partkey, so the per-row re-aggregation Q2 naively implies never
    executes. Region/size/type filters prune the dim scans before any
    fact-side shuffle; min over identical IEEE doubles is order-
    independent, so the cost-equality join is exact on both engines.

    Size-gated pre-filter (r15, OPTIMIZATION_r15.md): both inlined CTE
    consumers aggregate ALL lineitem rows and join the selective part
    filter (537/20,000 keys at sf0.1) only afterwards. Restricting the
    CTE with `l_partkey IN (qualifying parts)` is result-identical
    (every consumer inner-joins or is correlated on a filtered
    p_partkey) and plans as a broadcast LeftSemi BELOW both
    aggregation shuffles (-97% fact rows into them) — but the two
    extra part scans/broadcast builds are fixed overhead that measured
    5/5 SLOWER at sf0.1 (0.90 -> 1.20 s) and 4/4 FASTER at 10x
    (2.77 -> 1.93 s, OPTIMIZATION_r15.md shipped item 6). So the Spark
    text applies the pre-filter only when the fact table's on-storage
    size clears a threshold between those two measured points (64 MB;
    sf0.1 is 11 MB, the 10x probe 108 MB) — a manual cost-based plan
    choice, identical output on both branches, each branch
    oracle-verified. `SPARK_GRAFT_MCS_PREFILTER_BYTES` overrides the
    threshold for cluster deployments."""
    import os as _os

    from smart_energy_consumption_analytics_using_big_data_spark.sources.catalog import (
        table_size_bytes,
    )

    register_views(spark, sf_dir)
    threshold = int(
        _os.environ.get("SPARK_GRAFT_MCS_PREFILTER_BYTES", 64 * 1024 * 1024)
    )
    li_bytes = table_size_bytes(spark, sf_dir, "lineitem")
    prefilter = (
        """
            AND l_partkey IN (
              SELECT p_partkey FROM part WHERE p_size < 10 AND p_type = 'SMALL')
        """
        if li_bytes is not None and li_bytes >= threshold
        else ""
    )
    return spark.sql(
        f"""
        WITH offers AS (
          SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
          FROM lineitem WHERE l_quantity > 0 {prefilter} GROUP BY 1, 2
        )
        SELECT round(s_acctbal, 6) AS s_acctbal, s_name, n_name, p_partkey, p_name
        FROM part
        JOIN offers ON p_partkey = offers.l_partkey
        JOIN supplier ON s_suppkey = offers.l_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE p_size < 10 AND p_type = 'SMALL' AND r_name = 'EUROPE'
          AND unit_cost = (
            SELECT min(unit_cost)
            FROM offers o2
            JOIN supplier s2 ON s2.s_suppkey = o2.l_suppkey
            JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
            JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE o2.l_partkey = p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 20
        """
    )


@q(
    "q_sql_product_profit",
    """
    SELECT nation, o_year, {profit} AS profit
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity
               AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN orders ON o_orderkey = l_orderkey
      WHERE p_name LIKE '%gear%'
    ) profit_lines
    GROUP BY nation, o_year
    """.format(profit=DSUM("amount")),
)
def q_sql_product_profit(spark, sf_dir):
    """TPC-H Q9-shaped product-type profit by (nation, year). The
    supply-cost term is 10% of the part's retail price (no partsupp
    table in this dataset), preserving Q9's physical challenge: a
    five-way join where the LIKE filter on part must prune BEFORE the
    fact joins (part and supplier broadcast; only lineitem-orders
    shuffles), then a two-key rollup whose signed amounts accumulate in
    DECIMAL so the profit sum is order-independent."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT nation, o_year,
               CAST(SUM(CAST(amount AS DECIMAL(25,6))) AS DOUBLE) AS profit
        FROM (
          SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
                 l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity
                   AS amount
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN orders ON o_orderkey = l_orderkey
          WHERE p_name LIKE '%gear%'
        ) profit_lines
        GROUP BY nation, o_year
        """
    )


@q(
    "q_sql_returned_items",
    """
    SELECT c_custkey, c_name, {rev} AS revenue,
           round(c_acctbal, 6) AS c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """.format(rev=DSUM("l_extendedprice * (1 - l_discount)")),
)
def q_sql_returned_items(spark, sf_dir):
    """TPC-H Q10-shaped returned-item report: top-20 customers by lost
    revenue on returned lines in one quarter. The quarter predicate
    prunes the orders scan and the returnflag predicate prunes lineitem
    BEFORE their join; customer and nation broadcast onto the
    aggregated fact side; TakeOrdered caps at 20 without a global
    sort."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
                    AS DOUBLE) AS revenue,
               round(c_acctbal, 6) AS c_acctbal, n_name
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20
        """
    )


@q(
    "q_sql_important_parts",
    """
    WITH nation_lines AS (
      SELECT l_partkey, l_extendedprice * l_quantity AS line_value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
    )
    SELECT l_partkey, {val} AS part_value
    FROM nation_lines
    GROUP BY l_partkey
    HAVING {val} > 0.001 * (SELECT {val} FROM nation_lines)
    ORDER BY part_value DESC, l_partkey LIMIT 25
    """.format(val=DSUM("line_value")),
)
def q_sql_important_parts(spark, sf_dir):
    """TPC-H Q11-shaped important stock: parts whose shipped value
    through NATION_3 suppliers exceeds a FRACTION OF THE GLOBAL TOTAL —
    the scalar-subquery-in-HAVING shape (lineitem value stands in for
    ps_supplycost * ps_availqty; no partsupp table). The same filtered
    CTE aggregates twice: once per part, once globally; Catalyst
    evaluates the global scalar ONCE and broadcasts it into the HAVING
    filter. Both sides accumulate in DECIMAL then cast to DOUBLE, so
    the threshold comparison applies identical IEEE ops on identical
    inputs in both engines."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH nation_lines AS (
          SELECT l_partkey, l_extendedprice * l_quantity AS line_value
          FROM lineitem
          JOIN supplier ON s_suppkey = l_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          WHERE n_name = 'NATION_3'
        )
        SELECT l_partkey,
               CAST(SUM(CAST(line_value AS DECIMAL(25,6))) AS DOUBLE) AS part_value
        FROM nation_lines
        GROUP BY l_partkey
        HAVING CAST(SUM(CAST(line_value AS DECIMAL(25,6))) AS DOUBLE) > 0.001 * (
          SELECT CAST(SUM(CAST(line_value AS DECIMAL(25,6))) AS DOUBLE)
          FROM nation_lines)
        ORDER BY part_value DESC, l_partkey LIMIT 25
        """
    )


@q(
    "q_sql_priority_class",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
    GROUP BY l_returnflag
    """,
)
def q_sql_priority_class(spark, sf_dir):
    """TPC-H Q12-shaped shipping-priority classification: late lines
    (shipped >30 days after order, standing in for the commit/receipt
    date pair this schema lacks) bucketed by return flag, with the
    two-way CASE-sum pivot over order priority. The year window prunes
    the lineitem scan; the late-shipment predicate is a non-equi
    condition evaluated inside the single fact-fact join; the CASE
    sums are pure map-side partial aggregates."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS high_line_count,
               SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate > o_orderdate + INTERVAL 30 DAY
        GROUP BY l_returnflag
        """
    )


@q(
    "q_sql_excess_suppliers",
    """
    SELECT s_name, round(s_acctbal, 6) AS s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_suppkey, l_partkey
        HAVING sum(l_quantity) > 0.3 * (
          SELECT sum(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = lineitem.l_partkey
            AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
            AND l2.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'))
    ORDER BY s_name
    """,
)
def q_sql_excess_suppliers(spark, sf_dir):
    """TPC-H Q20-shaped excess-stock suppliers: NATION_5 suppliers who
    shipped more than 30% of a small-part's 1997 volume (observed
    shipments stand in for ps_availqty). Three nested levels: an IN
    over a grouped fact, whose HAVING compares against a CORRELATED
    scalar sum over the same fact keyed by the group's partkey.
    Catalyst decorrelates the inner sum to a per-part aggregate joined
    on partkey, and the outer IN to a semi join — no per-group
    re-scan survives in the physical plan. Quantities are integral
    doubles, so sum order cannot perturb the threshold comparison."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT s_name, round(s_acctbal, 6) AS s_acctbal
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_5'
          AND s_suppkey IN (
            SELECT l_suppkey FROM lineitem
            WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
              AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY l_suppkey, l_partkey
            HAVING sum(l_quantity) > 0.3 * (
              SELECT sum(l2.l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = lineitem.l_partkey
                AND l2.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND l2.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'))
        ORDER BY s_name
        """
    )


@q(
    "q_sql_parameterized",
    """
    SELECT event_type, count(*) AS n, {v} AS total_value
    FROM events
    WHERE value >= 250.0 AND event_type <> 'view'
    GROUP BY event_type
    """.format(v=DSUM("value")),
)
def q_sql_parameterized(spark, sf_dir):
    """Parameterized SQL (spark.sql named-parameter binding): the
    template carries :min_value / :skip_type placeholders and the
    VALUES bind server-side — no string interpolation, so a hostile
    value cannot alter the query shape (the SQL-injection-safe form of
    the reference's f-string filters) and the parse/plan cache can be
    reused across bindings. The oracle inlines the same literals."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        FROM events
        WHERE value >= :min_value AND event_type <> :skip_type
        GROUP BY event_type
        """,
        args={"min_value": 250.0, "skip_type": "view"},
    )


@q(
    "q_sql_group_by_all",
    """
    SELECT event_type, CAST(year(ts) AS INTEGER) AS yr,
           count(*) AS n, {v} AS total_value
    FROM events GROUP BY ALL
    """.format(v=DSUM("value")),
)
def q_sql_group_by_all(spark, sf_dir):
    """GROUP BY ALL (Spark 4 syntax sugar, same in DuckDB): every
    non-aggregate select item becomes a grouping key — the analyst
    shorthand; resolves to the identical hash aggregate as the
    explicit list."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT event_type, CAST(year(ts) AS INTEGER) AS yr,
               count(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(25,6))) AS DOUBLE) AS total_value
        FROM events GROUP BY ALL
        """
    )


@q(
    "q_sql_udf",
    """
    SELECT event_type,
           round(avg(CASE WHEN value <= 0 THEN 0.0
                          WHEN value >= 100 THEN 100.0 ELSE value END), 6)
             AS avg_clamped,
           round(avg(ln(1.0 + greatest(value, 0.0))), 6) AS avg_log1p
    FROM events GROUP BY event_type
    """,
)
def q_sql_udf(spark, sf_dir):
    """Declarative SQL UDFs (Spark 4 CREATE TEMPORARY FUNCTION ...
    RETURN expr): `clamp100` and `log1p_pos` are defined IN SQL, so
    Catalyst inlines their bodies into the calling plan - whole-stage
    codegen, predicate pushdown and constant folding all still apply,
    unlike Python UDFs which are execution black boxes. The oracle
    inlines the same expressions (DuckDB macros can't ride along in a
    single-statement oracle); semantically identical by construction."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION clamp100(x DOUBLE) RETURNS DOUBLE "
        "RETURN CASE WHEN x <= 0 THEN 0.0 WHEN x >= 100 THEN 100.0 ELSE x END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION log1p_pos(x DOUBLE) RETURNS DOUBLE "
        "RETURN ln(1.0 + greatest(x, 0.0))"
    )
    return spark.sql(
        """
        SELECT event_type,
               round(avg(clamp100(value)), 6) AS avg_clamped,
               round(avg(log1p_pos(value)), 6) AS avg_log1p
        FROM events GROUP BY event_type
        """
    )


@q(
    "q_sql_identifier",
    """
    SELECT event_type, count(*) AS n FROM events GROUP BY event_type
    """,
)
def q_sql_identifier(spark, sf_dir):
    """IDENTIFIER clause (Spark 4): the table and column names bind as
    PARAMETERS (`IDENTIFIER(:tbl)`), closing the SQL-injection hole
    that string-interpolated object names open in templated pipelines
    - names stay names, they can never smuggle expressions. The plan
    is identical to the literal form once bound."""
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT IDENTIFIER(:col), count(*) AS n FROM IDENTIFIER(:tbl) "
        "GROUP BY IDENTIFIER(:col)",
        args={"tbl": "events", "col": "event_type"},
    )


@q(
    "q_sql_pivot",
    """
    SELECT l_returnflag,
           round(CAST(SUM(CAST(CASE WHEN l_linestatus = 'O' THEN l_quantity END
                               AS DECIMAL(25,6))) AS DOUBLE), 6) AS qty_open,
           round(CAST(SUM(CAST(CASE WHEN l_linestatus = 'F' THEN l_quantity END
                               AS DECIMAL(25,6))) AS DOUBLE), 6) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_sql_pivot(spark, sf_dir):
    """SQL-text PIVOT clause: Spark's native `PIVOT (agg FOR col IN
    (...))` syntax over registered views (q_pivot is the DataFrame
    twin). The oracle is the equivalent conditional aggregation —
    which is also exactly the physical plan Spark lowers PIVOT to, so
    the check pins the lowering, not just the numbers."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               round(CAST(o AS DOUBLE), 6) AS qty_open,
               round(CAST(f AS DOUBLE), 6) AS qty_filled
        FROM (
          SELECT l_returnflag, l_linestatus,
                 CAST(l_quantity AS DECIMAL(25,6)) AS qd
          FROM lineitem
        )
        PIVOT (SUM(qd) FOR l_linestatus IN ('O' AS o, 'F' AS f))
        """
    )
