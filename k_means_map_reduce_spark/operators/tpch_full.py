"""Remaining TPC-H query shapes — completes all-22 coverage (SURVEY.md §2b M2).

The driver schema has no partsupp table and lineitem lacks
l_shipmode/l_commitdate/l_receiptdate, so Q2/Q9/Q11/Q16/Q20 and Q12/Q21 are
adapted, preserving each query's *plan shape* (the thing that matters for the
engine): the part↔supplier link is derived as `SELECT DISTINCT l_partkey,
l_suppkey FROM lineitem` (filtered FIRST so the distinct shuffles a pruned
input), supplycost is substituted with other numeric columns, and
commit/receipt lateness becomes `l_shipdate > o_orderdate + 90 days`.

Plan shapes exercised here that the rest of the suite doesn't:

- q2:  per-group min as window-equality (QUALIFY pattern) over a derived link
- q9:  5-way join with LIKE-filtered dimension + two-column group
- q11: nested aggregation with a global-scalar threshold via broadcast
       cross-join (no driver collect)
- q12: conditional two-way counts by derived bucket
- q13: outer join with join-time predicate + aggregation of an aggregation
- q15: agg → global max → equality join (decimal-exact tie semantics)
- q16: anti-join exclusion + countDistinct over a derived link
- q17: per-group avg threshold joined back against the same fact
- q20: nested per-(supp,part) vs per-part aggregate ratio → semi-join
- q21: EXISTS + NOT EXISTS double self-join on a fact

Scale notes: every dimension join is broadcast; the only big shuffles are on
l_orderkey / l_partkey / l_suppkey and each query reuses one exchange where
possible (AQE coalesces). The derived `supplies` link is computed per query
here; a production deployment would maintain it as a bucketed table
(sources/sinks.py bucketed writer) so these queries shuffle zero fact bytes.

Cross-engine determinism follows _util.dsum/davg: exact DECIMAL(18,6) sums,
thresholds compared in identical derived doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table
from ._util import dsum, sql_dsum

_SUPPLIES_SQL = "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"


@query(
    "q2_min_acctbal_supplier",
    oracle=f"""
    WITH supplies AS ({_SUPPLIES_SQL}),
    eligible AS (
      SELECT p_partkey, p_name, s_name, n_name, s_acctbal
      FROM part
      JOIN supplies ON l_partkey = p_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE' AND p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
    )
    SELECT p_partkey, p_name, s_name, n_name, s_acctbal AS min_acctbal
    FROM eligible
    QUALIFY s_acctbal = MIN(s_acctbal) OVER (PARTITION BY p_partkey)
    """,
)
def q2_min_acctbal_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s) with
    the minimum account balance (supplycost substitute) among those that
    actually supplied it. The correlated-min subquery is a windowed min +
    equality filter — one shuffle on p_partkey, everything else broadcast.
    Part filter is applied BEFORE the distinct link derivation, so the
    distinct shuffles only the matching ~2% of lineitem."""
    p = load_table(spark, sf_dir, "part").where(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    link = (
        load_table(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_partkey", "p_name", "l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    eligible = (
        link.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("p_partkey", "p_name", "s_name", "n_name", "s_acctbal")
    )
    w = Window.partitionBy("p_partkey")
    return (
        eligible.withColumn("_min", F.min("s_acctbal").over(w))
        .where(F.col("s_acctbal") == F.col("_min"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.col("s_acctbal").alias("min_acctbal"),
        )
    )


@query(
    "q9_product_profit",
    oracle=f"""
    SELECT nation, o_year, {sql_dsum('amount')} AS sum_profit
    FROM (
      SELECT
        n_name AS nation,
        CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        l_extendedprice * (1 - l_discount) - 0.1 * p_retailprice * l_quantity AS amount
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation × order year for parts whose
    name matches a LIKE pattern. Supplycost is substituted with
    0.1·p_retailprice·l_quantity (no partsupp table). part/supplier/nation
    broadcast; the one big shuffle is lineitem⋈orders on orderkey."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("%gear%"))
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(dsum("amount").alias("sum_profit"))
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
        SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(18,6))) AS value_dec
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM per_part
    WHERE CAST(value_dec AS DOUBLE) >
          2.0 * (SELECT CAST(SUM(value_dec) AS DOUBLE) / COUNT(*) FROM per_part)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue through NATION_7 suppliers
    exceeds 2× the mean per-part value (supplycost·availqty substituted with
    discounted revenue; the original's fixed fraction is scale-dependent by
    design — a mean-relative threshold keeps the result non-degenerate at
    every SF). The global scalar subquery is a broadcast cross-join of a
    1-row aggregate — no driver collect, so the plan stays fully lazy and
    cluster-side at any scale. All sums are exact decimals; the threshold
    compare happens on identically-derived doubles."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).cast(
        "decimal(18,6)"
    )
    per_part = (
        l.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("l_partkey")
        .agg(F.sum(rev).alias("value_dec"))
    )
    total = per_part.agg(
        (F.sum("value_dec").cast("double") / F.count(F.lit(1))).alias("_mean")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("value_dec").cast("double") > 2.0 * F.col("_mean"))
        .select(
            "l_partkey", F.col("value_dec").cast("double").alias("part_value")
        )
    )


@query(
    "q12_shipping_lateness",
    oracle="""
    SELECT
      CASE WHEN date_diff('day', o_orderdate, l_shipdate) > 60
           THEN 'SLOW' ELSE 'FAST' END AS ship_bucket,
      CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY ship_bucket
    """,
)
def q12_shipping_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority mix by shipping-speed bucket (l_shipmode
    substituted with a derived order→ship latency bucket). Year filter pushes
    to the lineitem scan; one shuffle on orderkey; counts are conditional
    sums in a single aggregation pass."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    o = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.when(
                F.datediff(F.col("l_shipdate"), F.col("o_orderdate")) > 60, "SLOW"
            )
            .otherwise("FAST")
            .alias("ship_bucket"),
            F.when(high, 1).otherwise(0).alias("_h"),
            F.when(~high, 1).otherwise(0).alias("_l"),
        )
        .groupBy("ship_bucket")
        .agg(
            F.sum("_h").alias("high_line_count"),
            F.sum("_l").alias("low_line_count"),
        )
    )


@query(
    "q13_customer_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer
      LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of per-customer order counts, with a
    join-time predicate on the outer join (the comment-NOT-LIKE filter,
    substituted with an orderpriority exclusion) so customers whose orders
    are all excluded still count as 0. Aggregation-of-aggregation: first
    shuffle on custkey, second on the (tiny) count domain."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
        SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(18,6))) AS total_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_dec AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_dec = (SELECT MAX(total_dec) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum revenue in 1996Q1. The
    max-revenue scalar subquery stays in exact decimals end-to-end, so the
    equality join has identical tie semantics in both engines; the global
    max is a broadcast cross-join (no collect). Date filter pushes to the
    scan; one shuffle on suppkey."""
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6).cast(
        "decimal(18,6)"
    )
    revenue = l.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(rev).alias("total_dec")
    )
    mx = revenue.agg(F.max("total_dec").alias("_max"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(mx))
        .where(F.col("total_dec") == F.col("_max"))
        .join(s, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey", "s_name",
            F.col("total_dec").cast("double").alias("total_revenue"),
        )
    )


@query(
    "q16_supplier_part_counts",
    oracle=f"""
    WITH supplies AS ({_SUPPLIES_SQL})
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM supplies
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    over the derived link, excluding "complaint" suppliers (negative account
    balance substitutes the s_comment LIKE). The exclusion is a broadcast
    anti-join; the distinct count shuffles once on the group keys. Part
    filters are applied before the link distinct."""
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").isin("PROMO", "ECONOMY")
        & F.col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29)
    )
    link = (
        load_table(spark, sf_dir, "lineitem")
        .join(p, F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "p_type", "p_size", "l_suppkey")
        .distinct()
    )
    bad = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        link.join(
            bad, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(18,6))) AS DOUBLE)
           / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_type = 'SMALL'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(l_quantity))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey
      )
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from small-quantity orders of one brand's SMALL
    parts (container substituted with p_type). The correlated per-part avg
    is a grouped aggregation joined back against the fact — both sides
    hash-partition on partkey so the agg output feeds the join exchange-free.
    Threshold math (exact decimal sum / count, × 0.2) is replayed identically
    in DuckDB so the strict < can't flip on a ulp."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "SMALL")
    )
    lp = l.join(p, F.col("p_partkey") == F.col("l_partkey"))
    thresholds = l.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (
            0.2
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,6)")).cast("double")
                / F.count("l_quantity")
            )
        ).alias("_avg_fifth")
    )
    return (
        lp.join(thresholds, F.col("l_partkey") == F.col("_pk"))
        .where(F.col("l_quantity") < F.col("_avg_fifth"))
        .agg(
            (
                F.sum(F.round("l_extendedprice", 6).cast("decimal(18,6)")).cast(
                    "double"
                )
                / 7.0
            ).alias("avg_yearly")
        )
    )


@query(
    "q20_dominant_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, l_partkey,
        SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sp_qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red%'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey, l_partkey
    ),
    part_totals AS (
      SELECT l_partkey, SUM(sp_qty) AS p_qty FROM shipped GROUP BY l_partkey
    )
    SELECT DISTINCT s_suppkey, s_name
    FROM shipped
    JOIN part_totals USING (l_partkey)
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND CAST(sp_qty AS DOUBLE) > 0.3 * CAST(p_qty AS DOUBLE)
    """,
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: NATION_3 suppliers that dominated (>30% of shipped
    quantity) some red part in 1996 — availqty-vs-half-shipped substituted
    with a share-of-part threshold. Nested aggregation: per-(supp,part)
    quantities roll up to per-part totals, rejoined on partkey (exchange
    reused), then a broadcast dimension join and distinct projection."""
    p = load_table(spark, sf_dir, "part").where(F.col("p_name").like("red%"))
    l = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    shipped = (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,6)")).alias("sp_qty"))
    )
    part_totals = shipped.groupBy(F.col("l_partkey").alias("_pk")).agg(
        F.sum("sp_qty").alias("p_qty")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    return (
        shipped.join(part_totals, F.col("l_partkey") == F.col("_pk"))
        .where(
            F.col("sp_qty").cast("double") > 0.3 * F.col("p_qty").cast("double")
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
        .distinct()
    )


@query(
    "q21_waiting_suppliers",
    oracle="""
    SELECT s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY
      )
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on a
    multi-supplier finalized order ("late" = shipped >90 days after the
    order date; receipt/commit dates don't exist in this schema).

    The EXISTS is a semi-join against per-order supplier sets and the NOT
    EXISTS an anti-join against per-order LATE supplier sets. Both reduce to
    ONE per-(order, supplier) aggregation: an order qualifies a row iff
    n_suppliers > 1 AND n_late_suppliers == 1 (the row's own supplier being
    late and unique makes it the sole late one). Deriving both counts from
    the (l_orderkey, l_suppkey) rollup — count_if over its rows, not two
    COUNT(DISTINCT)s over the raw fact — avoids Catalyst's multi-distinct
    Expand (which doubles every fact row and shuffles on a 4-column key),
    and the rollup's shuffle is reused for the late-rows branch
    (ReusedExchange), so lineitem is scanned and shuffled exactly once.
    numwait sums the per-pair late-row counts, preserving the oracle's
    COUNT(*) over late l1 rows."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    late = F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)
    lo = l.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_orderkey", "l_suppkey", late.alias("_late")
    )
    from pyspark.sql import Window

    per_supp = lo.groupBy("l_orderkey", "l_suppkey").agg(
        F.count_if(F.col("_late")).alias("_n_late_rows")
    )
    # Per-order counts as an unordered window over the rollup — keeps ONE
    # lineage (a second groupBy branch would defeat exchange reuse: filter
    # pushdown differentiates the two subtrees and Spark re-scans the fact).
    # The window's input is one row per (order, supplier), orders of
    # magnitude smaller than the fact.
    w = Window.partitionBy("l_orderkey")
    s = load_table(spark, sf_dir, "supplier")
    return (
        per_supp.withColumn("_n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "_n_late", F.count_if(F.col("_n_late_rows") > 0).over(w)
        )
        .where(
            (F.col("_n_supp") > 1)
            & (F.col("_n_late") == 1)
            & (F.col("_n_late_rows") > 0)
        )
        .join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("_n_late_rows").alias("numwait"))
    )
