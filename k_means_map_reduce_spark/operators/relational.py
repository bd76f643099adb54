"""Relational operator suite over the TPC-H-ish test tables (SURVEY.md §2b).

The reference engine has exactly one relational shape — a broadcast cross-join
argmin plus a grouped mean (/root/reference/mapper.py:57-68,
/root/reference/reducer.py:58-67). This module provides the full standard
surface that subsumes it: scans, project/filter, every join type, hash
aggregation with grouping sets, sort/limit/top-k.

Scale notes per query are inline; the common rules:
- dimension tables (region/nation/supplier/part at these ratios) are
  broadcast — no shuffle on the big fact side for those joins;
- fact-fact joins (orders⋈lineitem) shuffle on the join key once and
  aggregate with map-side partials;
- filters are expressed on scan columns so Catalyst pushes them into the
  parquet reader (PushedFilters) and prunes columns (ReadSchema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query, sql_query
from ..sources import load_table, register_views
from ._util import davg, dsum, sql_davg, sql_dsum

# --------------------------------------------------------------------------
# q1: pricing summary (scan → filter → hash agg). Classic TPC-H Q1 shape.
# Filter pushed to parquet; single shuffle of 4-ish groups of partials.
# --------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      {sql_dsum('l_quantity')} AS sum_qty,
      {sql_dsum('l_extendedprice')} AS sum_base_price,
      {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
      {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
      {sql_davg('l_quantity')} AS avg_qty,
      {sql_davg('l_extendedprice')} AS avg_price,
      {sql_davg('l_discount')} AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# q3: shipping priority (3-way join → agg → top-k). customer is the small
# side after its segment filter → broadcast; orders⋈lineitem shuffles on
# orderkey once. Deterministic top-10 via (revenue DESC, o_orderkey).
# --------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle=f"""
    SELECT
      l_orderkey,
      {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
      strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d')
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    l = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q5: local supplier volume (6-way join → agg). region/nation/supplier are
# tiny → broadcast chain onto the lineitem side; the only real shuffle is
# orders⋈lineitem + customer⋈orders.
# --------------------------------------------------------------------------


@query(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT
      n_name,
      {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# Join types: left outer, left semi, left anti. The semi/anti pair is the
# EXISTS / NOT EXISTS surface; Spark plans them as (broadcast) hash joins
# without materializing the probe side twice.
# --------------------------------------------------------------------------


join_left_outer_customer_orders = sql_query(
    "join_left_outer_customer_orders",
    f"""
    SELECT
      c_custkey,
      c_name,
      COUNT(o_orderkey) AS n_orders,
      COALESCE({sql_dsum('o_totalprice')}, 0.0) AS total_spent
    FROM customer
    LEFT JOIN orders ON c_custkey = o_custkey
    WHERE c_mktsegment = 'MACHINERY'
    GROUP BY c_custkey, c_name
    """,
)


join_semi_customers_with_big_orders = sql_query(
    "join_semi_customers_with_big_orders",
    """
    SELECT c_custkey, c_name, c_acctbal
    FROM customer
    WHERE EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_totalprice > 300000.0
    )
    """,
)


@query(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
    )
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_theta_price_above_retail",
    oracle="""
    SELECT p_brand, COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND l_extendedprice > 10 * p_retailprice
    GROUP BY p_brand
    """,
)
def join_theta_price_above_retail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join + inequality residual (theta). part is broadcast — the probe
    side streams, no shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    return (
        l.join(
            p,
            (l.l_partkey == p.p_partkey)
            & (l.l_extendedprice > 10 * p.p_retailprice),
        )
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_lines"))
    )


# --------------------------------------------------------------------------
# Aggregation depth: global aggs + count distinct; rollup & cube.
# --------------------------------------------------------------------------


agg_global_stats = sql_query(
    "agg_global_stats",
    f"""
    SELECT
      COUNT(*) AS n_rows,
      COUNT(DISTINCT l_orderkey) AS n_orders,
      COUNT(DISTINCT l_partkey) AS n_parts,
      {sql_dsum('l_quantity')} AS sum_qty,
      MIN(l_extendedprice) AS min_price,
      MAX(l_extendedprice) AS max_price,
      {sql_davg('l_discount')} AS avg_discount
    FROM lineitem
    """,
)


@query(
    "agg_rollup_nation_segment",
    oracle=f"""
    SELECT
      COALESCE(n_name, 'ALL') AS nation,
      COALESCE(c_mktsegment, 'ALL') AS segment,
      COUNT(*) AS n_customers,
      {sql_dsum('c_acctbal')} AS sum_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (n_name, c_mktsegment)
    """,
)
def agg_rollup_nation_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .rollup("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("sum_acctbal"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            "n_customers",
            "sum_acctbal",
        )
    )


agg_cube_status_priority = sql_query(
    "agg_cube_status_priority",
    f"""
    SELECT
      COALESCE(o_orderstatus, 'ALL') AS status,
      COALESCE(o_orderpriority, 'ALL') AS priority,
      COUNT(*) AS n_orders,
      {sql_dsum('o_totalprice')} AS sum_total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)


# --------------------------------------------------------------------------
# Sort / limit / distinct.
# --------------------------------------------------------------------------


topk_expensive_orders = sql_query(
    "topk_expensive_orders",
    """
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)


distinct_flag_status = sql_query(
    "distinct_flag_status",
    """
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
    """,
)


# --------------------------------------------------------------------------
# q4/q10 shapes: EXISTS-driven count; top-k revenue with a selective filter.
# --------------------------------------------------------------------------


q4_order_priority_late = sql_query(
    "q4_order_priority_late",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)


@query(
    "q10_returned_item_customers",
    oracle=f"""
    SELECT
      c_custkey,
      c_name,
      {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue,
      n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: selective filters push to both fact scans; nation
    broadcasts; deterministic top-20 (revenue DESC, c_custkey)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    l = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


join_full_outer_segment_totals = sql_query(
    "join_full_outer_segment_totals",
    f"""
    WITH seg AS (
      SELECT c_mktsegment AS segment, COUNT(*) AS n_customers
      FROM customer GROUP BY c_mktsegment
    ),
    big AS (
      SELECT c_mktsegment AS segment, COUNT(*) AS n_rich
      FROM customer WHERE c_acctbal > 9990.0 GROUP BY c_mktsegment
    )
    SELECT
      COALESCE(seg.segment, big.segment) AS segment,
      COALESCE(n_customers, 0) AS n_customers,
      COALESCE(n_rich, 0) AS n_rich
    FROM seg FULL OUTER JOIN big ON seg.segment = big.segment
    """,
)


join_right_outer_supplier_nation = sql_query(
    "join_right_outer_supplier_nation",
    """
    SELECT n_name, CAST(COUNT(s_suppkey) AS BIGINT) AS n_suppliers
    FROM supplier
    RIGHT JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)


join_cross_region_segment = sql_query(
    "join_cross_region_segment",
    """
    SELECT r_name, c_mktsegment AS segment, n_customers
    FROM region
    CROSS JOIN (
      SELECT c_mktsegment, COUNT(*) AS n_customers FROM customer GROUP BY c_mktsegment
    )
    """,
)


@query(
    "agg_collect_sorted_sizes",
    oracle="""
    SELECT
      p_brand,
      array_to_string(list_sort(list(p_size)), ',') AS sizes,
      array_to_string(list_sort(list_distinct(list(p_size))), ',') AS distinct_sizes
    FROM part
    GROUP BY p_brand
    """,
)
def agg_collect_sorted_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list/collect_set surface, made order-deterministic by sorting
    and emitting a joined string (list aggregation order is engine-defined,
    so raw lists can't be hash-compared)."""
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.array_join(F.array_sort(F.collect_list("p_size")), ",").alias("sizes"),
        F.array_join(F.array_sort(F.collect_set("p_size")), ",").alias(
            "distinct_sizes"
        ),
    )


@query(
    "sql_scripting_param_revenue",
    oracle="""
    SELECT CASE WHEN (SELECT COUNT(*) FROM lineitem) > 10000
                THEN 'wide' ELSE 'narrow' END AS band_mode,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * l_discount, 6)
                               AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue
    FROM lineitem
    WHERE l_discount BETWEEN
            CASE WHEN (SELECT COUNT(*) FROM lineitem) > 10000
                 THEN 0.03 ELSE 0.05 END
          AND
            CASE WHEN (SELECT COUNT(*) FROM lineitem) > 10000
                 THEN 0.09 ELSE 0.07 END
    """,
)
def sql_scripting_param_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN...END compound statements,
    SPARK-48338): DECLARE session variables, SET them from a scalar
    query, branch with IF/ELSE, and return the last statement's result —
    the stored-procedure-style front-end. The script widens the discount
    band when the table is large (a data-dependent parameter choice a
    plain query cannot express inline); the oracle replays the same
    branch with CASE logic.

    The declarative body inside the script still goes through Catalyst
    unchanged — scripting controls WHICH plan runs, not how it runs.
    """
    return register_views(
        spark,
        sf_dir,
        """
        BEGIN
          DECLARE n_l BIGINT;
          DECLARE lo DOUBLE;
          DECLARE hi DOUBLE;
          DECLARE band_mode STRING;
          SET n_l = (SELECT COUNT(*) FROM lineitem);
          IF n_l > 10000 THEN
            SET lo = 0.03; SET hi = 0.09; SET band_mode = 'wide';
          ELSE
            SET lo = 0.05; SET hi = 0.07; SET band_mode = 'narrow';
          END IF;
          SELECT band_mode,
                 CAST(COUNT(*) AS BIGINT) AS n_lines,
                 ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * l_discount, 6)
                                     AS DECIMAL(18,6))) AS DOUBLE), 6)
                   AS revenue
          FROM lineitem
          WHERE l_discount BETWEEN lo AND hi;
        END
        """
    )


@query(
    "sql_pipe_syntax_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
                         AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def sql_pipe_syntax_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL PIPE syntax (SPARK-49555, the |> operator-chain form
    adopted from GoogleSQL) combined with a NAMED PARAMETER marker
    (:ship_cut via spark.sql(args=...)): the q1 pricing-summary shape
    written as a linear dataflow instead of nested SELECT. Same Catalyst
    plan underneath — the pipe form is parse-time sugar, which is exactly
    what the oracle (classic SQL) verifies.
    """
    return register_views(
        spark,
        sf_dir,
        """
        FROM lineitem
        |> WHERE l_shipdate <= :ship_cut
        |> AGGREGATE
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS sum_qty,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
                           AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n_lines, sum_qty, sum_disc_price
        """,
        args={"ship_cut": "1998-09-01 00:00:00"},
    )


@query(
    "sql_lateral_topn_orders",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment,
           t.o_orderkey, t.o_totalprice, t.rk
    FROM customer c,
    LATERAL (
      SELECT o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (
               ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
      FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 3
    ) t
    WHERE c.c_acctbal > 9000
    """,
)
def sql_lateral_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (Spark 4 LATERAL, SPARK-34382):
    each qualifying customer joined to ITS OWN top-3 orders by value —
    the 'top-N per entity as a join' form analysts write, as opposed to
    the global-window formulation (window_topk_parts_per_brand). Catalyst
    decorrelates the LATERAL into a ranked join, so the plan is the same
    WindowGroupLimit shape — which is exactly what makes the form safe at
    scale: no per-customer re-execution, one shuffle on the correlation
    key. Ties break on orderkey; DuckDB runs the identical SQL text
    modulo nothing (both dialects accept this form).
    """
    return register_views(
        spark,
        sf_dir,
        """
        SELECT c.c_custkey, c.c_mktsegment,
               t.o_orderkey, t.o_totalprice, t.rk
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_totalprice,
                 CAST(ROW_NUMBER() OVER (
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
          FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 3
        ) t
        WHERE c.c_acctbal > 9000
        """
    )


agg_group_by_all = sql_query(
    "agg_group_by_all",
    """
    SELECT o_orderstatus, o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))) AS DOUBLE)
        AS revenue
    FROM orders
    GROUP BY ALL
    """,
)


agg_exact_mode_by_segment = sql_query(
    "agg_exact_mode_by_segment",
    """
    WITH counts AS (
      SELECT c_mktsegment AS segment, o_orderpriority AS priority,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT segment, priority, n,
        ROW_NUMBER() OVER (PARTITION BY segment
                           ORDER BY n DESC, priority) AS rk
      FROM counts
    )
    SELECT segment, priority AS mode_priority, n AS mode_count
    FROM ranked WHERE rk = 1
    """,
)


agg_max_by_min_by_injective = sql_query(
    "agg_max_by_min_by_injective",
    """
    SELECT n_nationkey,
      max_by(c_custkey,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * 10000000 + c_custkey)
        AS richest_custkey,
      min_by(c_custkey,
             CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) * 10000000 + c_custkey)
        AS poorest_custkey,
      CAST(MAX(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
        AS max_bal_cents,
      CAST(MIN(CAST(ROUND(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT)
        AS min_bal_cents
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_nationkey
    """,
)
