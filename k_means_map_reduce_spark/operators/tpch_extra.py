"""Extended TPC-H query shapes (SURVEY.md §2b relational surface, M2).

Adapted to the driver test schema: no partsupp table (so Q2/Q9/Q11/Q16/Q20
are not expressible faithfully), no l_shipmode/l_commitdate (Q12), no c_phone
(Q22's cntrycode — we group by c_mktsegment instead). The shapes covered here
exercise plan features the base suite doesn't:

- q7: two-sided symmetric nation filter over a 5-way join (join reordering +
  disjunctive dimension predicate).
- q8: market-share — conditional numerator over a full-population denominator
  in one aggregation pass (no self-join).
- q14: promo share — single-row conditional ratio over a month scan.
- q18: having-filtered semi-join of a fact against its own aggregation.
- q19: disjunction of conjunctive predicate groups spanning both join sides.
- q22: scalar-subquery threshold + anti-join (NOT EXISTS) + grouped agg.

Scale notes: nation/region/part are broadcast; lineitem⋈orders shuffles once
on orderkey. q18's self-aggregation reuses lineitem's shuffle partitioning
(groupBy l_orderkey then join on l_orderkey — AQE coalesces, no extra
exchange of the big side beyond the one agg shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query, sql_query
from ..sources import load_table
from ._util import dsum, sql_davg, sql_dsum

_N1, _N2 = "NATION_1", "NATION_2"


q7_volume_shipping = sql_query(
    "q7_volume_shipping",
    f"""
    SELECT
      supp_nation,
      cust_nation,
      l_year,
      {sql_dsum('volume')} AS revenue
    FROM (
      SELECT
        n1.n_name AS supp_nation,
        n2.n_name AS cust_nation,
        CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
        l_extendedprice * (1 - l_discount) AS volume
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = '{_N1}' AND n2.n_name = '{_N2}')
          OR (n1.n_name = '{_N2}' AND n2.n_name = '{_N1}'))
        AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)


q8_market_share = sql_query(
    "q8_market_share",
    f"""
    SELECT
      o_year,
      ROUND({sql_dsum(f"CASE WHEN nation = '{_N1}' THEN volume ELSE 0 END")}
            / {sql_dsum('volume')}, 6) AS mkt_share
    FROM (
      SELECT
        CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        l_extendedprice * (1 - l_discount) AS volume,
        n1.n_name AS nation
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      JOIN region ON r_regionkey = n2.n_regionkey
      WHERE r_name = 'ASIA'
        AND p_type = 'PROMO'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
    ) all_nations
    GROUP BY o_year
    """,
)


q14_promo_revenue = sql_query(
    "q14_promo_revenue",
    f"""
    SELECT
      ROUND(100.00 * {sql_dsum("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
            / {sql_dsum('l_extendedprice * (1 - l_discount)')}, 6) AS promo_revenue
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
)


@query(
    "q18_large_volume_customers",
    oracle=f"""
    SELECT
      c_name,
      c_custkey,
      o_orderkey,
      strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      o_totalprice,
      {sql_dsum('l_quantity')} AS sum_qty
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 260
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 260 (~p99 here).

    The oracle's HAVING subquery + regrouping collapses to ONE per-order
    aggregation: the outer GROUP BY keys are functionally determined by
    o_orderkey (one customer per order), so its SUM(l_quantity) is the same
    value the HAVING already computed. Aggregating lineitem once, filtering,
    then joining orders + customer onto the ~p99 survivors avoids the naive
    plan's second fact scan, the semi-join, and the 5-key regroup. The qty
    threshold compares an exact DOUBLE sum of 2-dp values (≤ a few hundred
    lines/order — exactly representable, engine-order-independent). AQE
    turns the orders join into a broadcast at runtime: the post-filter agg
    side is tiny at any scale."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 260)
    )
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


q19_discounted_revenue = sql_query(
    "q19_discounted_revenue",
    f"""
    SELECT
      {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE
      (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 1 AND l_quantity <= 11)
      OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10 AND l_quantity >= 10 AND l_quantity <= 20)
      OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 5 AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)


q22_dormant_rich_customers = sql_query(
    "q22_dormant_rich_customers",
    f"""
    SELECT
      c_mktsegment,
      COUNT(*) AS numcust,
      {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer
    WHERE c_acctbal > (
        SELECT {sql_davg('c_acctbal')} FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c_mktsegment
    """,
)
