"""Window-function surface (SURVEY.md §2b): ranking, offsets, running aggs.

The reference's only "window" is the per-point argmin over centroids
(/root/reference/mapper.py:57-68), which our kmeans module expresses without
a shuffle. These queries exercise real partitioned windows: one shuffle on
the partition key, then a per-partition sort — exactly what Spark's Window
exec does, with AQE handling skewed partition keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query, sql_query
from ..sources import load_table
from ._util import sql_dsum


@query(
    "window_topk_parts_per_brand",
    oracle="""
    SELECT p_brand, p_partkey, p_retailprice, rn
    FROM (
      SELECT
        p_brand, p_partkey, p_retailprice,
        ROW_NUMBER() OVER (
          PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
        ) AS rn
      FROM part
    )
    WHERE rn <= 3
    """,
)
def window_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 per group via row_number; deterministic tie-break on p_partkey."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), "p_partkey")
    return (
        p.select(
            "p_brand",
            "p_partkey",
            "p_retailprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
        )
        .where(F.col("rn") <= 3)
    )


@query(
    "window_rank_customers_by_balance",
    oracle="""
    SELECT
      c_custkey,
      n_name,
      c_acctbal,
      RANK() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC) AS bal_rank,
      DENSE_RANK() OVER (PARTITION BY n_name ORDER BY c_acctbal DESC) AS bal_dense_rank
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    """,
)
def window_rank_customers_by_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank are value-based → deterministic under ties without a
    tie-break column."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc())
    return c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        "c_custkey",
        "n_name",
        "c_acctbal",
        F.rank().over(w).cast("bigint").alias("bal_rank"),
        F.dense_rank().over(w).cast("bigint").alias("bal_dense_rank"),
    )


@query(
    "window_running_spend_per_customer",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        PARTITION BY o_custkey ORDER BY o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS running_spend,
      CAST(COUNT(*) OVER (
        PARTITION BY o_custkey ORDER BY o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      ) AS BIGINT) AS running_orders
    FROM orders
    """,
)
def window_running_spend_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running totals; decimal accumulation keeps the prefix sums exact so
    the oracle compare is bit-stable at any prefix length."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("running_spend"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("running_orders"),
    )


window_lag_lead_user_events = sql_query(
    "window_lag_lead_user_events",
    """
    SELECT
      user_id,
      event_id,
      value,
      LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
      LEAD(value) OVER (PARTITION BY user_id ORDER BY event_id) AS next_value,
      value - LAG(value) OVER (PARTITION BY user_id ORDER BY event_id) AS delta
    FROM events
    """,
)


@query(
    "window_range_frame_90d_spend",
    oracle="""
    SELECT
      o_custkey,
      o_orderkey,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
        PARTITION BY o_custkey ORDER BY datediff('day', TIMESTAMP '1995-01-01', o_orderdate)
        RANGE BETWEEN 90 PRECEDING AND CURRENT ROW
      ) AS DOUBLE) AS spend_90d,
      CAST(COUNT(*) OVER (
        PARTITION BY o_custkey ORDER BY datediff('day', TIMESTAMP '1995-01-01', o_orderdate)
        RANGE BETWEEN 90 PRECEDING AND CURRENT ROW
      ) AS BIGINT) AS orders_90d
    FROM orders
    """,
)
def window_range_frame_90d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): trailing-90-day spend per
    customer. Ordering on day-number keeps the frame semantics identical in
    both engines; decimal accumulation keeps sums exact at every frame."""
    o = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp_ntz"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-90, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("spend_90d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("orders_90d"),
    )


window_distribution_functions = sql_query(
    "window_distribution_functions",
    """
    SELECT
      o_orderkey,
      o_orderpriority,
      CAST(NTILE(4) OVER w AS INT) AS quartile,
      ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
      ROUND(CUME_DIST() OVER w, 6) AS cume,
      FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
      LAST_VALUE(o_orderkey) OVER (
        PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
      ) AS priciest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)


window_yoy_revenue_growth = sql_query(
    "window_yoy_revenue_growth",
    f"""
    WITH yearly AS (
      SELECT c_mktsegment,
        CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        {sql_dsum('o_totalprice')} AS revenue
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY c_mktsegment, o_year
    )
    SELECT c_mktsegment, o_year, revenue,
      ROUND(revenue / lag(revenue) OVER (PARTITION BY c_mktsegment ORDER BY o_year) - 1.0, 6) AS yoy_growth
    FROM yearly
    """,
)


window_ratio_to_report_nation = sql_query(
    "window_ratio_to_report_nation",
    f"""
    WITH per_nation AS (
      SELECT r_name, n_name, {sql_dsum('o_totalprice')} AS revenue
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n_regionkey
      GROUP BY r_name, n_name
    )
    SELECT r_name, n_name, revenue,
      ROUND(revenue / SUM(revenue) OVER (PARTITION BY r_name), 6) AS region_share
    FROM per_nation
    """,
)


@query(
    "window_reorder_intervals",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
        date_diff('day',
          lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          o_orderdate) AS gap_days
      FROM orders
    )
    SELECT o_custkey,
      CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
      CAST(MIN(gap_days) AS INT) AS min_gap_days,
      CAST(MAX(gap_days) AS INT) AS max_gap_days
    FROM gaps
    WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    """,
)
def window_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days between consecutive orders per customer: lag window ON THE FACT
    (unlike the other windows here, which run over aggregates) — the
    reorder-cadence metric. Deterministic ordering via the (orderdate,
    orderkey) tie-break; day diffs are exact integers. One shuffle on
    custkey shared by the window and the following aggregation."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count("gap_days").alias("n_gaps"),
        F.min("gap_days").cast("int").alias("min_gap_days"),
        F.max("gap_days").cast("int").alias("max_gap_days"),
    )


@query(
    "window_nth_order_per_customer",
    oracle="""
    WITH seq AS (
      SELECT
        o_custkey,
        strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m-%d') AS d,
        ROUND(o_totalprice, 6) AS p,
        ROW_NUMBER() OVER (
          PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ) AS rn
      FROM orders
    )
    SELECT
      o_custkey,
      d AS third_order_date,
      p AS third_totalprice
    FROM seq WHERE rn = 3
    """,
)
def window_nth_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each customer's third order (nth-element selection per group) —
    row_number with the (date, orderkey) tie-break, the form that pushes
    down as WindowGroupLimit (per-group 3-row heap before the shuffle)
    where nth_value over a full frame would not.
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("third_order_date"),
            F.round("o_totalprice", 6).alias("third_totalprice"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") == 3)
        .drop("rn")
    )


@query(
    "window_moving_corr_30d",
    oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(ROUND(l_discount * 100) AS BIGINT)) AS BIGINT)
               AS disc_cents,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1
    ),
    win AS (
      SELECT day, disc_cents, qty,
        COUNT(*) OVER w AS n,
        SUM(disc_cents) OVER w AS sx,
        SUM(qty) OVER w AS sy,
        SUM(disc_cents * qty) OVER w AS sxy,
        SUM(disc_cents * disc_cents) OVER w AS sx2,
        SUM(qty * qty) OVER w AS sy2
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(n AS BIGINT) AS n_days,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sx2 - sx * sx AS DOUBLE)
                        * CAST(n * sy2 - sy * sy AS DOUBLE)), 6)
             AS rolling_corr
    FROM win
    WHERE n = 30
      AND (n * sx2 - sx * sx) > 0 AND (n * sy2 - sy * sy) > 0
    """,
)
def window_moving_corr_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day correlation between daily total discount (integer
    cents) and daily total quantity — the co-movement monitor behind
    "are discounts still driving volume". Every windowed power sum is
    exact bigint over a bounded 30-row frame; the Pearson closed form
    touches doubles only at the final ratio/sqrt, and degenerate windows
    drop via exact integer guards. Full windows only (n = 30), so the
    series starts after a 30-day warmup rather than reporting noisy
    partial frames.

    Scale shape: the fact collapses to one row per DAY first (map-side
    partials); all six windowed sums share ONE sort of the tiny
    calendar-bounded daily table.
    """
    l = load_table(spark, sf_dir, "lineitem")
    daily = l.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum(F.round(F.col("l_discount") * 100).cast("long")).alias("disc_cents"),
        F.sum(F.col("l_quantity").cast("long")).alias("qty"),
    )
    w = Window.orderBy("day").rowsBetween(-29, 0)
    win = daily.select(
        "day",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("disc_cents").over(w).alias("sx"),
        F.sum("qty").over(w).alias("sy"),
        F.sum(F.col("disc_cents") * F.col("qty")).over(w).alias("sxy"),
        F.sum(F.col("disc_cents") * F.col("disc_cents")).over(w).alias("sx2"),
        F.sum(F.col("qty") * F.col("qty")).over(w).alias("sy2"),
    )
    varx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return (
        win.where((F.col("n") == 30) & (varx > 0) & (vary > 0))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("n").alias("n_days"),
            F.round(
                num / F.sqrt(varx.cast("double") * vary.cast("double")), 6
            ).alias("rolling_corr"),
        )
    )


window_percent_rank_cume_dist = sql_query(
    "window_percent_rank_cume_dist",
    """
    WITH ranked AS (
      SELECT c_custkey, c_mktsegment AS segment,
        ROW_NUMBER() OVER (
          PARTITION BY c_mktsegment
          ORDER BY CAST(ROUND(c_acctbal * 100, 0) AS BIGINT), c_custkey) AS rk,
        COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      FROM customer
    )
    SELECT c_custkey, segment,
      ROUND(CAST(rk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE), 6) AS pct_rank,
      ROUND(CAST(rk AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cume_dist
    FROM ranked WHERE n >= 2
    """,
)
