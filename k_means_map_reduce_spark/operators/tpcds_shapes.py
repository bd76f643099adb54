"""TPC-DS-signature query shapes over the TPC-H-ish test tables.

TPC-H covers join/agg breadth; TPC-DS adds the window-over-aggregate and
cross-channel patterns that dominate real warehouse workloads. Four
representative shapes, all fully oracled:

- ds_monthly_deviation (q47's core): per-group monthly series with a
  centered moving average and deviation from the group's yearly mean —
  aggregation feeding two differently-framed windows.
- ds_channel_full_outer (q78's core): two independently aggregated
  "channels" full-outer-joined on the entity key with NULL-tolerant
  ratios — the canonical cross-channel reconciliation.
- ds_yoy_customer_growth (q74's core): per-entity yearly series
  self-compared across consecutive years via lag + adjacency guard.
- ds_time_band_counts (q88's core): N band-filtered counts as ONE
  conditional-aggregation scan instead of q88's N self-joins.

Reference parity note: the reference engine (K-Means gRPC MapReduce,
master.py) has no relational surface; these extend SURVEY.md §2b breadth.

At 100 TB: both shapes aggregate the fact FIRST (map-side partials into a
per-(group, month)/per-customer rollup orders of magnitude smaller than the
fact), then run windows/joins on the rollup — never a window over raw fact
rows. The full-outer join keys on the same column both rollups are already
partitioned by, so AQE plans it shuffle-free after the aggs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._memo import SessionMemo, memo_persist
from ..registry import query, sql_query
from ..sources import load_table
from ._util import davg, dsum, sql_davg, sql_dsum

# integer cents for 2dp money columns (the stats battery's recipe)
_CENTS_SQL = "CAST(ROUND({c} * 100, 0) AS BIGINT)"


@query(
    "ds_monthly_deviation",
    oracle="""
    WITH monthly AS (
      SELECT
        n_name,
        strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY 1, 2
    ),
    yearly AS (
      SELECT *,
        CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (
          PARTITION BY n_name, substr(month, 1, 4)
        ) AS DOUBLE)
        / COUNT(*) OVER (PARTITION BY n_name, substr(month, 1, 4)) AS year_avg,
        CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (
          PARTITION BY n_name ORDER BY month
          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
        ) AS DOUBLE)
        / COUNT(*) OVER (
          PARTITION BY n_name ORDER BY month
          ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
        ) AS centered_avg
      FROM monthly
    )
    SELECT
      n_name, month, revenue,
      ROUND(centered_avg, 4) AS centered_avg,
      ROUND(revenue / year_avg, 6) AS dev_ratio
    FROM yearly
    """,
)
def ds_monthly_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue per nation with a centered 3-month moving average and
    the ratio to the nation-year mean (TPC-DS q47's seasonality-deviation
    core). The fact aggregates once; both windows run over the tiny
    (nation, month) rollup. Decimal-exact sums; averages as decimal-sum /
    count per the cross-engine float recipe."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monthly = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            "n_name",
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    w_year = Window.partitionBy("n_name", F.substring("month", 1, 4))
    w_center = (
        Window.partitionBy("n_name").orderBy("month").rowsBetween(-1, 1)
    )
    dec = F.col("revenue").cast("decimal(18,6)")
    return monthly.select(
        "n_name",
        "month",
        "revenue",
        F.round(
            F.sum(dec).over(w_center).cast("double")
            / F.count(F.lit(1)).over(w_center),
            4,
        ).alias("centered_avg"),
        F.round(
            F.col("revenue")
            / (
                F.sum(dec).over(w_year).cast("double")
                / F.count(F.lit(1)).over(w_year)
            ),
            6,
        ).alias("dev_ratio"),
    )


@query(
    "ds_channel_full_outer",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey AS custkey,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))) AS DOUBLE) AS order_value
      FROM orders GROUP BY 1
    ),
    returned AS (
      SELECT o_custkey AS custkey,
        COUNT(*) AS n_returned_items,
        CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(18,6))) AS DOUBLE) AS returned_value
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      WHERE l_returnflag = 'R'
      GROUP BY 1
    )
    SELECT
      COALESCE(o.custkey, r.custkey) AS custkey,
      COALESCE(n_orders, 0) AS n_orders,
      COALESCE(n_returned_items, 0) AS n_returned_items,
      ROUND(COALESCE(returned_value, 0.0) / order_value, 6) AS return_ratio
    FROM ordered o
    FULL OUTER JOIN returned r ON o.custkey = r.custkey
    """,
)
def ds_channel_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-channel reconciliation (TPC-DS q78's core): every customer's
    order channel vs returned-items channel, FULL OUTER joined so customers
    present in only one channel survive with NULL-tolerant defaults.
    return_ratio keeps NULL when a customer has returns but no orders row
    (impossible here, but the oracle agrees on the semantics). Both channels
    aggregate to per-customer rollups before the join; the join keys on the
    aggregation key, so no extra exchange."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    ordered = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("order_value"),
    )
    returned = (
        l.where(F.col("l_returnflag") == "R")
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_returned_items"),
            dsum("l_extendedprice").alias("returned_value"),
        )
    )
    r = returned.select(
        F.col("custkey").alias("r_custkey"),
        "n_returned_items",
        "returned_value",
    )
    return (
        ordered.join(r, F.col("custkey") == F.col("r_custkey"), "full_outer")
        .select(
            F.coalesce(F.col("custkey"), F.col("r_custkey")).alias("custkey"),
            F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
            F.coalesce(F.col("n_returned_items"), F.lit(0)).alias(
                "n_returned_items"
            ),
            F.round(
                F.coalesce(F.col("returned_value"), F.lit(0.0))
                / F.col("order_value"),
                6,
            ).alias("return_ratio"),
        )
    )


@query(
    "ds_yoy_customer_growth",
    oracle="""
    WITH yearly AS (
      SELECT
        o_custkey,
        CAST(substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS INT) AS yr,
        CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))) AS DOUBLE) AS spend
      FROM orders
      GROUP BY 1, 2
    ),
    chained AS (
      SELECT
        o_custkey, yr, spend,
        lag(spend) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_spend,
        lag(yr) OVER (PARTITION BY o_custkey ORDER BY yr) AS prev_yr
      FROM yearly
    )
    SELECT
      o_custkey, yr, ROUND(spend, 4) AS spend,
      ROUND(prev_spend, 4) AS prev_spend,
      ROUND(spend / prev_spend, 6) AS growth
    FROM chained
    WHERE prev_yr = yr - 1 AND prev_spend > 0 AND spend / prev_spend > 1.5
    """,
)
def ds_yoy_customer_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q74's signature: per-entity yearly series, self-compared
    across CONSECUTIVE years (lag + year-adjacency guard — a customer who
    skipped 1995 must not have 1996 compared against 1994), keeping
    customers whose spend grew >1.5x.

    Scale shape: the fact collapses to a (customer, year) rollup via
    map-side partials first — the window (and everything after) runs on
    ~|customers|x7 rows, not the fact. One shuffle for the agg; the lag
    window reuses the same customer partitioning.
    """
    o = load_table(spark, sf_dir, "orders")
    yearly = (
        o.groupBy(
            "o_custkey",
            F.year("o_orderdate").alias("yr"),
        )
        .agg(dsum("o_totalprice").alias("spend"))
    )
    w = Window.partitionBy("o_custkey").orderBy("yr")
    chained = yearly.select(
        "o_custkey",
        "yr",
        "spend",
        F.lag("spend").over(w).alias("prev_spend"),
        F.lag("yr").over(w).alias("prev_yr"),
    )
    return (
        chained.where(
            (F.col("prev_yr") == F.col("yr") - 1)
            & (F.col("prev_spend") > 0)
            & (F.col("spend") / F.col("prev_spend") > 1.5)
        )
        .select(
            "o_custkey",
            "yr",
            F.round("spend", 4).alias("spend"),
            F.round("prev_spend", 4).alias("prev_spend"),
            F.round(F.col("spend") / F.col("prev_spend"), 6).alias("growth"),
        )
    )


ds_time_band_counts = sql_query(
    "ds_time_band_counts",
    """
    SELECT
      COUNT(*) FILTER (WHERE EXTRACT(hour FROM ts) BETWEEN 0 AND 5)  AS night,
      COUNT(*) FILTER (WHERE EXTRACT(hour FROM ts) BETWEEN 6 AND 11) AS morning,
      COUNT(*) FILTER (WHERE EXTRACT(hour FROM ts) BETWEEN 12 AND 17) AS afternoon,
      COUNT(*) FILTER (WHERE EXTRACT(hour FROM ts) BETWEEN 18 AND 23) AS evening,
      COUNT(*) FILTER (WHERE event_type = 'purchase'
                         AND EXTRACT(hour FROM ts) BETWEEN 18 AND 23)
        AS evening_purchases,
      COUNT(DISTINCT CASE WHEN EXTRACT(hour FROM ts) BETWEEN 18 AND 23
                          THEN user_id END) AS evening_users
    FROM events
    """,
)


@query(
    "ds_cumulative_channel_crossover",
    oracle="""
    WITH monthly AS (
      SELECT
        c_mktsegment AS segment,
        strftime(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)), '%Y-%m') AS month,
        SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS urgent_rev,
        SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
            THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS routine_rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ), cumulative AS (
      SELECT
        segment, month,
        SUM(COALESCE(urgent_rev, 0)) OVER w AS urgent_cum,
        SUM(COALESCE(routine_rev, 0)) OVER w AS routine_cum
      FROM monthly
      WINDOW w AS (
        PARTITION BY segment ORDER BY month
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      )
    )
    SELECT
      segment, month,
      CAST(urgent_cum AS DOUBLE) AS urgent_cum,
      CAST(routine_cum AS DOUBLE) AS routine_cum
    FROM cumulative
    WHERE urgent_cum > routine_cum
    """,
)
def ds_cumulative_channel_crossover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q51's core shape: two per-channel revenue series (urgent vs
    routine order priorities standing in for web vs store channels),
    cumulated per segment over months, reporting the (segment, month)
    points where the urgent channel's running total exceeds the routine
    one — cumulative-series crossover detection.

    Scale shape: the channel split is a conditional aggregation inside ONE
    fact pass (q51's two separate channel scans fused), so the fact is
    read once and shuffled once to the (segment, month) grain; both
    cumulative windows then share a single sort of the tiny rollup.
    Decimal cumulation keeps every running total exact, so the crossover
    predicate cannot flip on float association.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    dec = F.round(F.col("o_totalprice"), 6).cast("decimal(18,6)")
    monthly = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.when(urgent, dec)).alias("urgent_rev"),
            F.sum(F.when(~urgent, dec)).alias("routine_rev"),
        )
    )
    w = (
        Window.partitionBy("segment")
        .orderBy("month")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = monthly.select(
        "segment",
        "month",
        F.sum(F.coalesce(F.col("urgent_rev"), F.lit(0).cast("decimal(18,6)"))).over(w).alias("urgent_cum"),
        F.sum(F.coalesce(F.col("routine_rev"), F.lit(0).cast("decimal(18,6)"))).over(w).alias("routine_cum"),
    )
    return cum.where(F.col("urgent_cum") > F.col("routine_cum")).select(
        "segment",
        "month",
        F.col("urgent_cum").cast("double").alias("urgent_cum"),
        F.col("routine_cum").cast("double").alias("routine_cum"),
    )


@query(
    "ds_rollup_topn_by_level",
    oracle="""
    WITH rolled AS (
      SELECT
        COALESCE(n_name, 'ALL') AS nation,
        COALESCE(c_mktsegment, 'ALL') AS segment,
        CASE WHEN n_name IS NULL THEN 2 WHEN c_mktsegment IS NULL THEN 1 ELSE 0 END
          AS lvl,
        CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY ROLLUP (n_name, c_mktsegment)
    ), ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (
          PARTITION BY lvl ORDER BY revenue DESC, nation, segment
        ) AS rk
      FROM rolled
    )
    SELECT CAST(lvl AS BIGINT) AS lvl, nation, segment, revenue, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def ds_rollup_topn_by_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q67's core shape: a ROLLUP over the reporting hierarchy
    (nation -> segment) ranked WITHIN each aggregation level, keeping the
    top 3 rows per level — the 'best performers at every grain' report.

    Scale shape: ONE fact pass feeds the rollup (Spark's Expand produces
    the grouping sets before a single exchange); the rank window runs over
    the rollup OUTPUT (≤ nations x segments rows) partitioned by grouping
    level, and the rank<=3 filter pushes down as a WindowGroupLimit top-k.
    Grouping level comes from the NULL pattern, made explicit so both
    engines label rows identically; ties break on names for cross-engine
    determinism.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == n.n_nationkey
    )
    dec = F.round(F.col("o_totalprice"), 6).cast("decimal(18,6)")
    rolled = (
        joined.rollup("n_name", "c_mktsegment")
        .agg(F.sum(dec).cast("double").alias("revenue"))
        .select(
            F.coalesce(F.col("n_name"), F.lit("ALL")).alias("nation"),
            F.coalesce(F.col("c_mktsegment"), F.lit("ALL")).alias("segment"),
            F.when(F.col("n_name").isNull(), 2)
            .when(F.col("c_mktsegment").isNull(), 1)
            .otherwise(0)
            .alias("lvl"),
            "revenue",
        )
    )
    w = Window.partitionBy("lvl").orderBy(
        F.col("revenue").desc(), "nation", "segment"
    )
    return (
        rolled.select(
            F.col("lvl").cast("long").alias("lvl"),
            "nation",
            "segment",
            "revenue",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= 3)
    )


# (applicationId, sf_dir) -> persisted (part, customer, year) sales rollup:
# it feeds BOTH sides of q64's year-over-year self-join (lesson 15 — the
# differing projections defeat ReusedExchange, so unpersisted it costs two
# full fact scans). SessionMemo bounds entries and unpersists on eviction.
_Q64_CACHE = SessionMemo("tpcds.q64_sales")

# (applicationId, sf_dir) -> persisted 5-column (cust, brand, date, flag,
# qty) fact projection — ds_q25's three stage rollups AND ds_q29's
# quantity chain consume it; warm bench reps must reuse one bounded entry,
# not pin a new block per call (round-9 verdict advisory / lesson 30).
_Q25_CACHE = SessionMemo("tpcds.q25_base")

# (applicationId, sf_dir) -> persisted per-customer-year two-channel rollup
# (ds_q11) and per-customer-month cents rollup (ds_q54) — each feeds both
# sides of its self-join.
_Q11_YEARLY_CACHE = SessionMemo("tpcds.q11_yearly")
_Q54_MONTHLY_CACHE = SessionMemo("tpcds.q54_monthly")


def _q25_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared sold/returned/re-sold chain fact: one persisted 5-column
    projection of lineitem x orders x part at (customer, brand) grain."""
    hit = _Q25_CACHE.get(spark, sf_dir)
    if hit is not None:
        return hit[0]
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    base = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("o_custkey").alias("c"),
            F.col("p_brand").alias("p"),
            F.col("l_shipdate").alias("d"),
            F.col("l_returnflag").alias("f"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        # r14 optimization (guide §2.4): EVERY downstream consumer keys on
        # (c, p) — ds_q25/ds_q29 run four join+groupBy stages each over this
        # fact, and without a keyed layout each stage re-exchanges the full
        # base (plans/r14/ds_q29_..._before.txt: 4 base-side Exchanges + 4
        # aggregate Exchanges). Persisting the cache hash-partitioned by
        # (c, p) makes each stage's ClusteredDistribution requirement already
        # satisfied — groupBy("c","p",...) and join(["c","p"]) reuse the
        # cached partitioning (hash partitioning on a SUBSET of the grouping
        # keys satisfies the distribution), so the one build-time shuffle
        # (spark.sql.shuffle.partitions-wide, conf-driven) replaces ~8
        # per-run exchanges. Values unchanged: partitioning is layout only.
        .repartition("c", "p")
        .persist()
    )
    _Q25_CACHE.put(spark, sf_dir, (base,))
    return base


@query(
    "ds_q64_repeat_channel_chain",
    oracle="""
    WITH sales AS (
      SELECT
        l_partkey,
        o_custkey,
        CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
        CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 6)
                      AS DECIMAL(18,6))) AS DOUBLE) AS net,
        COUNT(*) AS n_lines
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2, 3
    )
    SELECT
      s1.l_partkey AS partkey,
      p_brand,
      s1.o_custkey AS custkey,
      n_name,
      s1.yr AS yr1,
      ROUND(s1.net, 4) AS net1,
      ROUND(s2.net, 4) AS net2,
      s1.n_lines AS n1,
      s2.n_lines AS n2
    FROM sales s1
    JOIN sales s2
      ON s1.l_partkey = s2.l_partkey
     AND s1.o_custkey = s2.o_custkey
     AND s2.yr = s1.yr + 1
    JOIN part ON p_partkey = s1.l_partkey
    JOIN customer ON c_custkey = s1.o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE s2.net > s1.net
    """,
)
def ds_q64_repeat_channel_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q64's signature: the same (item, customer) pair observed in
    the sales chain in two CONSECUTIVE years, with both years' aggregates
    side-by-side through the full dimension chain (part, customer, nation),
    keeping pairs whose net revenue grew. q64 does this across two channels
    and two years; with one fact the two-year self-comparison is the core.

    Scale shape: the fact collapses FIRST to a (part, customer, year)
    rollup (map-side partials) that is PERSISTED — it feeds both sides of
    the year-over-year self-join, and without the persist Catalyst plans
    two full fact scans (measured: 2 lineitem FileScans, zero
    ReusedExchange — the differing output projections defeat exchange
    reuse; lesson 15). Dimensions join AFTER the self-join has shrunk the
    row set; nation is a bounded broadcast, part/customer scale with SF
    and stay shuffled (AQE may still broadcast them at small SF).
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    net = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6)
    cached = _Q64_CACHE.get(spark, sf_dir)
    if cached is not None:
        sales = cached[0]
    else:
        sales = (
            l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy(
                "l_partkey", "o_custkey", F.year("o_orderdate").alias("yr")
            )
            .agg(
                F.sum(net.cast("decimal(18,6)")).cast("double").alias("net"),
                F.count(F.lit(1)).alias("n_lines"),
            )
            .persist()
        )
        _Q64_CACHE.put(spark, sf_dir, (sales,))
    s1 = sales.alias("s1")
    s2 = sales.select(
        F.col("l_partkey").alias("pk2"),
        F.col("o_custkey").alias("ck2"),
        F.col("yr").alias("yr2"),
        F.col("net").alias("net_2"),
        F.col("n_lines").alias("n_lines2"),
    )
    chained = s1.join(
        s2,
        (F.col("s1.l_partkey") == F.col("pk2"))
        & (F.col("s1.o_custkey") == F.col("ck2"))
        & (F.col("yr2") == F.col("s1.yr") + 1),
    ).where(F.col("net_2") > F.col("s1.net"))
    return (
        chained.join(p, F.col("p_partkey") == F.col("s1.l_partkey"))
        .join(c, F.col("c_custkey") == F.col("s1.o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            F.col("s1.l_partkey").alias("partkey"),
            "p_brand",
            F.col("s1.o_custkey").alias("custkey"),
            "n_name",
            F.col("s1.yr").alias("yr1"),
            F.round(F.col("s1.net"), 4).alias("net1"),
            F.round(F.col("net_2"), 4).alias("net2"),
            F.col("s1.n_lines").alias("n1"),
            F.col("n_lines2").alias("n2"),
        )
    )


@query(
    "ds_q72_inventory_window",
    oracle="""
    WITH inv AS (
      SELECT
        l_partkey AS pk,
        CAST(date_diff('day', DATE '1990-01-01', CAST(l_shipdate AS DATE)) // 7
             AS BIGINT) AS wk,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS inv_qty
      FROM lineitem
      GROUP BY 1, 2
    ),
    shortage AS (
      SELECT
        s.l_partkey,
        CAST(date_diff('day', DATE '1990-01-01', CAST(s.l_shipdate AS DATE)) // 7
             AS BIGINT) AS sale_wk,
        s.l_quantity
      FROM lineitem s
      JOIN inv i
        ON i.pk = s.l_partkey
       AND (i.wk = CAST(date_diff('day', DATE '1990-01-01',
                                  CAST(s.l_shipdate AS DATE)) // 7 AS BIGINT) + 1)
       AND i.inv_qty < 5 * CAST(s.l_quantity AS BIGINT)
    )
    SELECT
      p_brand,
      sale_wk,
      COUNT(*) AS shortage_events,
      COUNT(DISTINCT l_partkey) AS parts_affected
    FROM shortage
    JOIN part ON p_partkey = l_partkey
    GROUP BY 1, 2
    """,
)
def ds_q72_inventory_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q72's signature: a sales row joined to the item's INVENTORY
    state in a bounded FOLLOWING time window, keeping rows where on-hand
    quantity can't cover demand (inv_qty < 5x the line quantity), rolled
    up to (brand, week) shortage counts. Inventory is derived per
    (part, week) from shipped quantities — testdata ships no inventory
    table; the window-join shape is q72's.

    Scale shape: q72's range join (inv_date within days after sale) is
    restated as an EQUI-join — the sale probes exactly the next week's
    bucket (wk+1), so there is no range-join explosion and no
    inequality-only join: Spark plans a plain hash join on (part, week).
    The inventory rollup aggregates map-side first; weeks are integer
    epoch-week indices computed identically in both engines (epoch
    1990-01-01, strictly pre-data, because F.floor vs DuckDB // diverge
    on negative quotients — round-9 ADVICE; a loud invariant test pins
    min(l_shipdate) >= epoch).
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    wk = lambda col: F.floor(  # noqa: E731
        F.datediff(F.col(col), F.lit("1990-01-01").cast("date")) / 7
    )
    # r14 (guide §2.4 — one exchange serves both consumers): inv and sales
    # both derive from the IDENTICAL 3-column projection, repartitioned by
    # l_partkey. The two subtrees canonicalize equal, so the plan carries
    # ONE shuffle (ReusedExchange on the second consumer); hash(l_partkey)
    # is a subset of both the aggregation key (pk, wk) and the join key
    # (pk, wk = sale_wk + 1), so neither the inventory rollup nor the
    # window-equi-join re-exchanges — and the single-row-group scan's
    # downstream work fans out across the repartition instead of running
    # one-task (§2.5). Values unchanged: layout only.
    base = l.select(
        "l_partkey",
        wk("l_shipdate").alias("sale_wk"),
        F.col("l_quantity").cast("long").alias("qty"),
    ).repartition("l_partkey")
    inv = base.groupBy(
        F.col("l_partkey").alias("pk"), F.col("sale_wk").alias("wk")
    ).agg(F.sum("qty").alias("inv_qty"))
    sales = base
    shortage = sales.join(
        inv,
        (F.col("pk") == F.col("l_partkey"))
        & (F.col("wk") == F.col("sale_wk") + 1)
        & (F.col("inv_qty") < 5 * F.col("qty")),
    )
    return (
        shortage.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "sale_wk")
        .agg(
            F.count(F.lit(1)).alias("shortage_events"),
            F.countDistinct("l_partkey").alias("parts_affected"),
        )
    )


@query(
    "ds_q93_returns_adjusted_sales",
    oracle="""
    WITH lines AS (
      SELECT
        p_brand,
        strftime(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)), '%Y-%m')
          AS month,
        CAST(ROUND(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(18,6))
          AS net,
        l_returnflag,
        l_linestatus
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN part ON p_partkey = l_partkey
    ),
    agg AS (
      SELECT
        p_brand,
        month,
        CAST(SUM(net) AS DOUBLE) AS gross,
        CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus = 'F'
                               THEN net END), 0) AS DOUBLE) AS full_refund,
        CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R' AND l_linestatus <> 'F'
                               THEN net END), 0) AS DOUBLE) AS half_refund
      FROM lines
      GROUP BY 1, 2
    )
    SELECT
      p_brand, month, gross, full_refund, half_refund,
      gross - full_refund - 0.5 * half_refund AS act_sales
    FROM agg
    """,
)
def ds_q93_returns_adjusted_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS q93's signature: actual sales net of returns, where the
    refund amount depends on the return disposition (q93's CASE over the
    return reason): finalized returned lines ('R'/'F') refund fully, open
    returned lines refund half. Rolled up per (brand, month).

    Scale shape: ONE fact pass — the disposition split is conditional
    aggregation, never a second scan or a returns self-join (q93 is
    written as store_sales LEFT JOIN store_returns; with the flag on the
    line the join is free). Decimal sums keep gross/refund exact; the
    half refund halves an exact double (exact in binary) and the final
    subtraction of exact doubles is deterministic cross-engine.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    net = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 6
    ).cast("decimal(18,6)")
    returned = F.col("l_returnflag") == "R"
    final = F.col("l_linestatus") == "F"
    zero = F.lit(0).cast("decimal(18,6)")
    agg = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            "p_brand",
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "month"
            ),
        )
        .agg(
            F.sum(net).cast("double").alias("gross"),
            F.coalesce(F.sum(F.when(returned & final, net)), zero)
            .cast("double")
            .alias("full_refund"),
            F.coalesce(F.sum(F.when(returned & ~final, net)), zero)
            .cast("double")
            .alias("half_refund"),
        )
    )
    return agg.select(
        "p_brand",
        "month",
        "gross",
        "full_refund",
        "half_refund",
        (
            F.col("gross") - F.col("full_refund") - 0.5 * F.col("half_refund")
        ).alias("act_sales"),
    )


ds_q34_trip_size_bands = sql_query(
    "ds_q34_trip_size_bands",
    """
    WITH trip AS (
      SELECT l_orderkey, COUNT(*) AS n_lines
      FROM lineitem GROUP BY 1
    ),
    big AS (
      SELECT o_custkey, COUNT(*) AS n_big_trips,
             CAST(SUM(n_lines) AS BIGINT) AS big_trip_lines
      FROM trip JOIN orders ON o_orderkey = l_orderkey
      WHERE n_lines BETWEEN 5 AND 7
      GROUP BY 1
    )
    SELECT c_custkey, c_name, c_mktsegment,
           n_big_trips, big_trip_lines
    FROM big JOIN customer ON c_custkey = o_custkey
    WHERE n_big_trips >= 2
    """,
)


# ---------------------------------------------------------------------------
# Round-8 shapes: q17 / q39 / q49 / q57 / q23 signatures.
# ---------------------------------------------------------------------------

_Q17_STATS = """
      COUNT(CASE WHEN l_returnflag <> 'R' THEN 1 END) AS n_sold,
      CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS s_sold,
      CAST(SUM(CASE WHEN l_returnflag <> 'R' THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) END) AS BIGINT) AS ss_sold,
      COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
      CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) END) AS BIGINT) AS s_ret,
      CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT) END) AS BIGINT) AS ss_ret
"""


def _sql_cov(n: str, s: str, ss: str) -> str:
    """DuckDB mirror of the coefficient-of-variation expression tree used in
    ds_q17_quantity_cov (identical operand order => identical doubles)."""
    nd = f"CAST({n} AS DOUBLE)"
    sd = f"CAST({s} AS DOUBLE)"
    ssd = f"CAST({ss} AS DOUBLE)"
    var = f"(({ssd} - {sd} * {sd} / {nd}) / ({n} - 1))"
    return (
        f"CASE WHEN {n} >= 2 THEN "
        f"ROUND(SQRT(GREATEST({var}, CAST(0 AS DOUBLE))) / ({sd} / {nd}), 6) END"
    )


ds_q17_quantity_cov = sql_query(
    "ds_q17_quantity_cov",
    f"""
    WITH g AS (
      SELECT p_brand,
      {_Q17_STATS}
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1
    )
    SELECT p_brand, n_sold,
      CASE WHEN n_sold >= 1
           THEN ROUND(CAST(s_sold AS DOUBLE) / CAST(n_sold AS DOUBLE), 6) END
        AS mean_qty_sold,
      {_sql_cov('n_sold', 's_sold', 'ss_sold')} AS cov_sold,
      n_returned,
      CASE WHEN n_returned >= 1
           THEN ROUND(CAST(s_ret AS DOUBLE) / CAST(n_returned AS DOUBLE), 6) END
        AS mean_qty_returned,
      {_sql_cov('n_returned', 's_ret', 'ss_ret')} AS cov_returned
    FROM g
    """,
)


@query(
    "ds_q39_inventory_cov_bands",
    oracle="""
    WITH daily AS (
      SELECT s_nationkey,
        CAST(strftime(l_shipdate, '%Y') AS INT) * 12
          + CAST(strftime(l_shipdate, '%m') AS INT) AS midx,
        strftime(l_shipdate, '%Y-%m-%d') AS day,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS dq
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2, 3
    ),
    monthly AS (
      SELECT s_nationkey, midx,
        COUNT(*) AS n_days,
        CAST(SUM(dq) AS BIGINT) AS s,
        CAST(SUM(dq * dq) AS BIGINT) AS ss
      FROM daily GROUP BY 1, 2
    ),
    cov AS (
      SELECT s_nationkey, midx,
        ROUND(
          SQRT(GREATEST(
            (CAST(ss AS DOUBLE)
             - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
            / (n_days - 1),
            CAST(0 AS DOUBLE)))
          / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)), 6) AS cov
      FROM monthly WHERE n_days >= 2
    ),
    banded AS (
      SELECT s_nationkey, midx, cov,
        CASE WHEN cov < 0.5 THEN 'stable'
             WHEN cov < 1.0 THEN 'moderate'
             ELSE 'volatile' END AS band,
        LEAD(midx) OVER (PARTITION BY s_nationkey ORDER BY midx) AS nxt_midx,
        LEAD(CASE WHEN cov < 0.5 THEN 'stable'
                  WHEN cov < 1.0 THEN 'moderate'
                  ELSE 'volatile' END)
          OVER (PARTITION BY s_nationkey ORDER BY midx) AS next_band
      FROM cov
    )
    SELECT band, next_band,
      COUNT(*) AS n_pairs,
      ROUND(CAST(SUM(CAST(ROUND(cov, 6) AS DECIMAL(18,6))) AS DOUBLE)
            / COUNT(cov), 6) AS avg_cov
    FROM banded
    WHERE nxt_midx = midx + 1
    GROUP BY 1, 2
    """,
)
def ds_q39_inventory_cov_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inventory-volatility classification with consecutive-month pairing
    (TPC-DS q39's signature: per warehouse-item-month stdev/mean of daily
    inventory, classify by coefficient of variation, then self-match month
    m with month m+1). Warehouse ~ supplier nation; inventory ~ daily
    shipped quantity.

    Determinism: daily quantities are exact BIGINT sums; cov is the same
    guarded power-sum expression as ds_q17_quantity_cov, rounded to 6dp
    BEFORE banding so the 0.5/1.0 band edges compare identical decimals in
    both engines; month adjacency is integer month-index arithmetic
    (year*12 + month), never date intervals.

    At 100 TB: fact aggregates to (nation, month, day) first (map-side
    partials), the cov window runs over the tiny monthly rollup, and the
    LEAD self-match replaces q39's self-join — one shuffle on the rollup
    key instead of a second fact pass.
    """
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    daily = (
        l.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy(
            "s_nationkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("midx"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("day"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("dq"))
    )
    monthly = daily.groupBy("s_nationkey", "midx").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("dq").alias("s"),
        F.sum(F.col("dq") * F.col("dq")).alias("ss"),
    )
    nd = F.col("n_days").cast("double")
    sd = F.col("s").cast("double")
    ssd = F.col("ss").cast("double")
    var = (ssd - sd * sd / nd) / (F.col("n_days") - 1)
    cov = monthly.where(F.col("n_days") >= 2).select(
        "s_nationkey",
        "midx",
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))) / (sd / nd), 6).alias("cov"),
    )
    band = (
        F.when(F.col("cov") < 0.5, "stable")
        .when(F.col("cov") < 1.0, "moderate")
        .otherwise("volatile")
    )
    w = Window.partitionBy("s_nationkey").orderBy("midx")
    banded = cov.select(
        "midx",
        "cov",
        band.alias("band"),
        F.lead("midx").over(w).alias("nxt_midx"),
        F.lead(band).over(w).alias("next_band"),
    )
    return (
        banded.where(F.col("nxt_midx") == F.col("midx") + 1)
        .groupBy("band", "next_band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(dsum("cov") / F.count("cov"), 6).alias("avg_cov"),
        )
    )


@query(
    "ds_q49_worst_return_ratios",
    oracle="""
    WITH per_part AS (
      SELECT l_linestatus AS channel, l_partkey AS partkey,
        CAST(SUM(CASE WHEN l_returnflag = 'R'
                      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
          AS ret_qty,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS tot_qty,
        CAST(SUM(CAST(ROUND(CASE WHEN l_returnflag = 'R'
                                 THEN l_extendedprice ELSE 0.0 END, 6)
                 AS DECIMAL(18,6))) AS DOUBLE) AS ret_amt,
        CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(18,6))) AS DOUBLE)
          AS tot_amt
      FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
      SELECT channel, partkey,
        ROUND(CAST(ret_qty AS DOUBLE) / CAST(tot_qty AS DOUBLE), 6) AS qty_ratio,
        ROUND(ret_amt / tot_amt, 6) AS amt_ratio,
        ROW_NUMBER() OVER (PARTITION BY channel
          ORDER BY ROUND(CAST(ret_qty AS DOUBLE) / CAST(tot_qty AS DOUBLE), 6) DESC,
                   partkey) AS qty_rank,
        ROW_NUMBER() OVER (PARTITION BY channel
          ORDER BY ROUND(ret_amt / tot_amt, 6) DESC, partkey) AS amt_rank
      FROM per_part
    )
    SELECT channel, partkey, qty_ratio, amt_ratio, qty_rank, amt_rank
    FROM ranked WHERE qty_rank <= 10 OR amt_rank <= 10
    """,
)
def ds_q49_worst_return_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst return ratios ranked per channel (TPC-DS q49's signature: per
    item, returned/sold ratio in both quantity and currency, ranked within
    each channel, keep anything in either top-10). Channel ~ l_linestatus.

    Determinism: ratios are exact BIGINT / decimal-sum divisions rounded to
    6dp BEFORE ranking, and both ROW_NUMBER orders carry the partkey
    tie-break — a total order, so the top-10 cut cannot flip on a ulp
    (the reco_item_item_cosine rank-comparator discipline).

    At 100 TB: one fact scan into a (channel, part) rollup with map-side
    combine; both rank windows run over the rollup partitioned by channel.
    The top-10 filter keeps the output bounded at ~20 rows per ratio kind.
    """
    l = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    is_r = F.col("l_returnflag") == "R"
    per_part = l.groupBy(
        F.col("l_linestatus").alias("channel"), F.col("l_partkey").alias("partkey")
    ).agg(
        F.sum(F.when(is_r, q).otherwise(F.lit(0))).alias("ret_qty"),
        F.sum(q).alias("tot_qty"),
        dsum(F.when(is_r, F.col("l_extendedprice")).otherwise(F.lit(0.0))).alias(
            "ret_amt"
        ),
        dsum("l_extendedprice").alias("tot_amt"),
    )
    qty_ratio = F.round(
        F.col("ret_qty").cast("double") / F.col("tot_qty").cast("double"), 6
    )
    amt_ratio = F.round(F.col("ret_amt") / F.col("tot_amt"), 6)
    wq = Window.partitionBy("channel").orderBy(
        qty_ratio.desc(), F.col("partkey").asc()
    )
    wa = Window.partitionBy("channel").orderBy(
        amt_ratio.desc(), F.col("partkey").asc()
    )
    ranked = per_part.select(
        "channel",
        "partkey",
        qty_ratio.alias("qty_ratio"),
        amt_ratio.alias("amt_ratio"),
        F.row_number().over(wq).cast("bigint").alias("qty_rank"),
        F.row_number().over(wa).cast("bigint").alias("amt_rank"),
    )
    return ranked.where((F.col("qty_rank") <= 10) | (F.col("amt_rank") <= 10))


@query(
    "ds_q57_deviation_extremes",
    oracle="""
    WITH monthly AS (
      SELECT o_orderpriority AS priority,
        strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
        CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))) AS DOUBLE)
          AS revenue
      FROM orders GROUP BY 1, 2
    ),
    win AS (
      SELECT priority, month, revenue,
        CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (
          PARTITION BY priority, substr(month, 1, 4)) AS DOUBLE)
        / COUNT(*) OVER (PARTITION BY priority, substr(month, 1, 4))
          AS year_avg,
        COALESCE(LAG(revenue) OVER (PARTITION BY priority ORDER BY month),
                 CAST(0 AS DOUBLE)) AS prev_revenue,
        COALESCE(LEAD(revenue) OVER (PARTITION BY priority ORDER BY month),
                 CAST(0 AS DOUBLE)) AS next_revenue
      FROM monthly
    )
    SELECT priority, month, revenue,
      ROUND(year_avg, 4) AS year_avg,
      ROUND(ABS(revenue - year_avg) / year_avg, 6) AS pct_dev,
      prev_revenue, next_revenue
    FROM win
    WHERE ROUND(ABS(revenue - year_avg) / year_avg, 6) > 0.1
    """,
)
def ds_q57_deviation_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Months whose revenue deviates more than 10% from their series-year
    mean, with the neighboring months attached (TPC-DS q57's signature —
    q47's deviation window plus the extreme-month filter and lag/lead
    context columns). Series dimension ~ order priority.

    Determinism: revenue is a decimal-exact sum; year_avg is decimal-sum /
    count; the 10% cut compares the ROUNDED 6dp deviation in both engines;
    edge months coalesce their missing neighbor to 0.0 so no NULL doubles
    reach the hash compare.

    At 100 TB: one fact aggregation to the (priority, month) rollup; all
    three windows run over that tiny rollup, partitioned by the rollup key.
    """
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    ).agg(dsum("o_totalprice").alias("revenue"))
    w_year = Window.partitionBy("priority", F.substring("month", 1, 4))
    w_series = Window.partitionBy("priority").orderBy("month")
    dec = F.col("revenue").cast("decimal(18,6)")
    year_avg = F.sum(dec).over(w_year).cast("double") / F.count(F.lit(1)).over(
        w_year
    )
    win = monthly.select(
        "priority",
        "month",
        "revenue",
        year_avg.alias("year_avg"),
        F.coalesce(F.lag("revenue").over(w_series), F.lit(0.0)).alias(
            "prev_revenue"
        ),
        F.coalesce(F.lead("revenue").over(w_series), F.lit(0.0)).alias(
            "next_revenue"
        ),
    )
    pct_dev = F.round(
        F.abs(F.col("revenue") - F.col("year_avg")) / F.col("year_avg"), 6
    )
    return win.where(pct_dev > 0.1).select(
        "priority",
        "month",
        "revenue",
        F.round("year_avg", 4).alias("year_avg"),
        pct_dev.alias("pct_dev"),
        "prev_revenue",
        "next_revenue",
    )


@query(
    "ds_q23_frequent_buyer_sales",
    oracle="""
    WITH li AS (
      SELECT l_partkey, l_orderkey, l_extendedprice,
             o_custkey, o_orderdate,
             strftime(o_orderdate, '%Y') AS yr,
             strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    freq AS (
      SELECT yr, l_partkey FROM (
        SELECT yr, l_partkey,
          ROW_NUMBER() OVER (PARTITION BY yr
            ORDER BY COUNT(DISTINCT l_orderkey) DESC, l_partkey) AS rn
        FROM li GROUP BY yr, l_partkey
      ) WHERE rn <= 50
    ),
    best AS (
      SELECT o_custkey FROM (
        SELECT o_custkey,
          ROW_NUMBER() OVER (
            ORDER BY SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(18,6))) DESC,
                     o_custkey) AS rn
        FROM li GROUP BY o_custkey
      ) WHERE rn <= 100
    )
    SELECT li.month,
      CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(18,6))) AS DOUBLE)
        AS revenue,
      COUNT(*) AS n_items
    FROM li
    JOIN freq ON freq.yr = li.yr AND freq.l_partkey = li.l_partkey
    JOIN best ON best.o_custkey = li.o_custkey
    GROUP BY 1
    """,
)
def ds_q23_frequent_buyer_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue from FREQUENT items sold to BEST customers (TPC-DS
    q23's signature: two independent aggregate-derived filters — items
    frequently bought within a year, customers in the global top spend
    tier — semi-joined back against the fact).

    Frequent = per year, top-50 parts by distinct order count; best = global
    top-100 customers by decimal-exact spend. Both are rank cuts with id
    tie-breaks (not fixed thresholds), so the sets are scale-stable
    (lesson 9) and deterministic.

    At 100 TB: both filter sets derive from rollups far smaller than the
    fact, and the final pass is fact JOIN two tiny key sets — AQE
    broadcasts them; never a fixed percentile over raw fact rows. The
    global best-customer window sorts the per-customer rollup (one
    machine-sized top-k; a two-phase per-partition top-100 merge at
    extreme customer counts).
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    li = l.join(o, F.col("o_orderkey") == F.col("l_orderkey")).select(
        "l_partkey",
        "l_orderkey",
        "l_extendedprice",
        "o_custkey",
        F.date_format("o_orderdate", "yyyy").alias("yr"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    freq = (
        li.groupBy("yr", "l_partkey")
        .agg(F.countDistinct("l_orderkey").alias("n_ord"))
        .select(
            "yr",
            "l_partkey",
            F.row_number()
            .over(
                Window.partitionBy("yr").orderBy(
                    F.col("n_ord").desc(), F.col("l_partkey").asc()
                )
            )
            .alias("rn"),
        )
        .where(F.col("rn") <= 50)
        .select(F.col("yr").alias("f_yr"), F.col("l_partkey").alias("f_partkey"))
    )
    best = (
        li.groupBy("o_custkey")
        .agg(
            F.sum(F.round("l_extendedprice", 6).cast("decimal(18,6)")).alias(
                "spend"
            )
        )
        .select(
            "o_custkey",
            F.row_number()
            .over(
                Window.orderBy(F.col("spend").desc(), F.col("o_custkey").asc())
            )
            .alias("rn"),
        )
        .where(F.col("rn") <= 100)
        .select(F.col("o_custkey").alias("b_custkey"))
    )
    return (
        li.join(
            freq,
            (F.col("yr") == F.col("f_yr"))
            & (F.col("l_partkey") == F.col("f_partkey")),
        )
        .join(best, F.col("o_custkey") == F.col("b_custkey"))
        .groupBy("month")
        .agg(
            dsum("l_extendedprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "ds_q99_ship_delay_bands",
    oracle="""
    SELECT o_orderpriority AS priority,
      COUNT(CASE WHEN d <= 30 THEN 1 END) AS d30,
      COUNT(CASE WHEN d > 30 AND d <= 60 THEN 1 END) AS d60,
      COUNT(CASE WHEN d > 60 AND d <= 90 THEN 1 END) AS d90,
      COUNT(CASE WHEN d > 90 AND d <= 120 THEN 1 END) AS d120,
      COUNT(CASE WHEN d > 120 THEN 1 END) AS d_over
    FROM (
      SELECT o_orderpriority,
        date_diff('day', CAST(o_orderdate AS TIMESTAMP),
                  CAST(l_shipdate AS TIMESTAMP)) AS d
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    )
    GROUP BY 1
    """,
)
def ds_q99_ship_delay_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-delay band counts per priority (TPC-DS q99's signature:
    N delay buckets as conditional counts in ONE pass — q99's five
    CASE-summed bands verbatim, where naive SQL writes five self-joins).

    Day differences are exact integer date arithmetic; all outputs are
    counts. At 100 TB: one fact scan, map-side combine into a 5-row
    rollup.
    """
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    d = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(F.col("o_orderpriority").alias("priority"), d.alias("d"))
        .groupBy("priority")
        .agg(
            F.count(F.when(F.col("d") <= 30, 1)).alias("d30"),
            F.count(F.when((F.col("d") > 30) & (F.col("d") <= 60), 1)).alias("d60"),
            F.count(F.when((F.col("d") > 60) & (F.col("d") <= 90), 1)).alias("d90"),
            F.count(F.when((F.col("d") > 90) & (F.col("d") <= 120), 1)).alias(
                "d120"
            ),
            F.count(F.when(F.col("d") > 120, 1)).alias("d_over"),
        )
    )


@query(
    "ds_q31_channel_growth_compare",
    oracle="""
    WITH q AS (
      SELECT n_name,
        CAST(strftime(o_orderdate, '%Y') AS INT) * 4
          + CAST(quarter(CAST(o_orderdate AS TIMESTAMP)) AS INT) AS qidx,
        CAST(SUM(CAST(ROUND(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN o_totalprice ELSE 0.0 END, 6)
                 AS DECIMAL(18,6))) AS DOUBLE) AS rev_hi,
        CAST(SUM(CAST(ROUND(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                                 THEN o_totalprice ELSE 0.0 END, 6)
                 AS DECIMAL(18,6))) AS DOUBLE) AS rev_lo
      FROM orders
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
      GROUP BY 1, 2
    ),
    lagged AS (
      SELECT *,
        LAG(qidx) OVER (PARTITION BY n_name ORDER BY qidx) AS prev_q,
        LAG(rev_hi) OVER (PARTITION BY n_name ORDER BY qidx) AS prev_hi,
        LAG(rev_lo) OVER (PARTITION BY n_name ORDER BY qidx) AS prev_lo
      FROM q
    )
    SELECT n_name, qidx,
      ROUND(rev_hi / prev_hi, 6) AS growth_hi,
      ROUND(rev_lo / prev_lo, 6) AS growth_lo
    FROM lagged
    WHERE prev_q = qidx - 1 AND prev_hi > 0 AND prev_lo > 0
      AND ROUND(rev_hi / prev_hi, 6) > ROUND(rev_lo / prev_lo, 6)
    """,
)
def ds_q31_channel_growth_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-channel quarter-over-quarter growth comparison (TPC-DS q31's
    signature: per county, quarters where web sales grew FASTER than
    store sales). Channels ~ urgent-vs-normal priority tiers, county ~
    customer nation; both channels aggregate in ONE conditional pass
    (never two fact scans), growth is a LAG ratio with the integer
    quarter-index adjacency guard (the q74 idiom), and the comparison
    runs on 6dp-rounded ratios of decimal-exact revenues.

    At 100 TB: one fact aggregation to (nation, quarter); windows and the
    compare run over that tiny rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    q = (
        o.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy(
            "n_name",
            (F.year("o_orderdate") * 4 + F.quarter("o_orderdate")).alias("qidx"),
        )
        .agg(
            dsum(F.when(hi, F.col("o_totalprice")).otherwise(F.lit(0.0))).alias(
                "rev_hi"
            ),
            dsum(F.when(~hi, F.col("o_totalprice")).otherwise(F.lit(0.0))).alias(
                "rev_lo"
            ),
        )
    )
    w = Window.partitionBy("n_name").orderBy("qidx")
    lagged = q.select(
        "n_name",
        "qidx",
        "rev_hi",
        "rev_lo",
        F.lag("qidx").over(w).alias("prev_q"),
        F.lag("rev_hi").over(w).alias("prev_hi"),
        F.lag("rev_lo").over(w).alias("prev_lo"),
    )
    # when-guard the divisions, never rely on the prev>0 conjuncts: ANSI
    # vectorized eval computes EVERY conjunct of one predicate for every
    # row (lesson 19), so a nation-quarter with zero prior-channel revenue
    # would throw DIVIDE_BY_ZERO even though its own conjunct excludes it
    g_hi = F.when(
        F.col("prev_hi") > 0, F.round(F.col("rev_hi") / F.col("prev_hi"), 6)
    )
    g_lo = F.when(
        F.col("prev_lo") > 0, F.round(F.col("rev_lo") / F.col("prev_lo"), 6)
    )
    return lagged.where(
        (F.col("prev_q") == F.col("qidx") - 1)
        & (F.col("prev_hi") > 0)
        & (F.col("prev_lo") > 0)
        & (g_hi > g_lo)
    ).select("n_name", "qidx", g_hi.alias("growth_hi"), g_lo.alias("growth_lo"))


ds_q92_excess_discount = sql_query(
    "ds_q92_excess_discount",
    """
    WITH pavg AS (
      SELECT l_partkey AS pk,
        CAST(SUM(CAST(ROUND(l_discount, 6) AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*) AS avg_disc
      FROM lineitem GROUP BY 1
    )
    SELECT p_brand,
      COUNT(*) AS n_excess,
      CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(18,6))) AS DOUBLE)
        AS excess_revenue
    FROM lineitem
    JOIN pavg ON pk = l_partkey
    JOIN part ON p_partkey = l_partkey
    WHERE l_discount > 1.3 * avg_disc
    GROUP BY 1
    """,
)


@query(
    "ds_q90_am_pm_ratio",
    oracle="""
    SELECT event_type,
      COUNT(CASE WHEN h BETWEEN 7 AND 11 THEN 1 END) AS am_count,
      COUNT(CASE WHEN h BETWEEN 19 AND 23 THEN 1 END) AS pm_count,
      CASE WHEN COUNT(CASE WHEN h BETWEEN 19 AND 23 THEN 1 END) > 0 THEN
        ROUND(CAST(COUNT(CASE WHEN h BETWEEN 7 AND 11 THEN 1 END) AS DOUBLE)
              / CAST(COUNT(CASE WHEN h BETWEEN 19 AND 23 THEN 1 END) AS DOUBLE),
              6)
      END AS am_pm_ratio
    FROM (
      SELECT event_type,
        CAST(strftime(CAST(ts AS TIMESTAMP), '%H') AS INT) AS h
      FROM events
    )
    GROUP BY 1
    """,
)
def ds_q90_am_pm_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morning-vs-evening traffic ratio per event type (TPC-DS q90's
    signature: AM window count / PM window count from ONE conditional
    scan instead of q90's two subqueries).

    Hours come from the NTZ event timestamp (session-timezone-proof);
    the ratio divides exact counts, NULL-guarded when a type has no PM
    traffic. At 100 TB: one scan, 5-row rollup.
    """
    e = load_table(spark, sf_dir, "events")
    h = F.hour(F.col("ts"))
    am = F.count(F.when(h.between(7, 11), 1))
    pm = F.count(F.when(h.between(19, 23), 1))
    return e.groupBy("event_type").agg(
        am.alias("am_count"),
        pm.alias("pm_count"),
        F.when(pm > 0, F.round(am.cast("double") / pm.cast("double"), 6)).alias(
            "am_pm_ratio"
        ),
    )


ds_q36_margin_hierarchy = sql_query(
    "ds_q36_margin_hierarchy",
    """
    WITH fact AS (
      SELECT n_name, c_mktsegment AS segment,
        CAST(ROUND(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(18,6))
          AS net,
        CAST(ROUND(l_extendedprice, 6) AS DECIMAL(18,6)) AS gross
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation ON n_nationkey = c_nationkey
    ), rolled AS (
      SELECT
        COALESCE(n_name, 'ALL') AS nation,
        COALESCE(segment, 'ALL') AS segment,
        GROUPING(n_name) + GROUPING(segment) AS lochierarchy,
        CASE WHEN GROUPING(segment) = 1 AND GROUPING(n_name) = 0
             THEN n_name ELSE '' END AS parent,
        ROUND(CAST(SUM(net) AS DOUBLE) / CAST(SUM(gross) AS DOUBLE), 6)
          AS margin_ratio
      FROM fact
      GROUP BY ROLLUP (n_name, segment)
    )
    SELECT nation, segment, CAST(lochierarchy AS INT) AS lochierarchy,
      margin_ratio,
      CAST(ROW_NUMBER() OVER (
        PARTITION BY lochierarchy,
          CASE WHEN lochierarchy = 0 THEN nation ELSE parent END
        ORDER BY margin_ratio, nation, segment) AS BIGINT)
        AS rank_within_parent
    FROM rolled
    """,
)


ds_q38_triple_channel_customers = sql_query(
    "ds_q38_triple_channel_customers",
    """
    WITH tiers AS (
      SELECT o_custkey,
        CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'hi'
             WHEN o_orderpriority = '3-MEDIUM' THEN 'mid'
             ELSE 'lo' END AS tier
      FROM orders
    ), triple AS (
      SELECT o_custkey FROM tiers
      GROUP BY o_custkey HAVING COUNT(DISTINCT tier) = 3
    )
    SELECT n_name, COUNT(*) AS n_triple_customers
    FROM triple
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
)


ds_q28_quantity_band_stats = sql_query(
    "ds_q28_quantity_band_stats",
    f"""
    SELECT
      CASE WHEN l_quantity <= 8 THEN 'b1_q1_8'
           WHEN l_quantity <= 16 THEN 'b2_q9_16'
           WHEN l_quantity <= 24 THEN 'b3_q17_24'
           WHEN l_quantity <= 32 THEN 'b4_q25_32'
           WHEN l_quantity <= 40 THEN 'b5_q33_40'
           ELSE 'b6_q41_up' END AS band,
      COUNT(*) AS n_lines,
      {sql_dsum('l_extendedprice')} / COUNT(*) AS avg_price,
      COUNT(DISTINCT CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT))
        AS n_distinct_prices
    FROM lineitem
    GROUP BY 1
    """,
)


ds_q97_channel_overlap = sql_query(
    "ds_q97_channel_overlap",
    """
    WITH flags AS (
      SELECT o_custkey AS ck, l_partkey AS pk,
        MAX(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS in_hi,
        MAX(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS in_lo
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    )
    SELECT
      COUNT(CASE WHEN in_hi = 1 AND in_lo = 0 THEN 1 END) AS hi_only,
      COUNT(CASE WHEN in_hi = 0 AND in_lo = 1 THEN 1 END) AS lo_only,
      COUNT(CASE WHEN in_hi = 1 AND in_lo = 1 THEN 1 END) AS both_channels
    FROM flags
    """,
)


@query(
    "ds_q89_rolling_brand_deviation",
    oracle="""
    WITH monthly AS (
      SELECT p_brand AS brand,
        strftime(date_trunc('month', l_shipdate), '%Y-%m') AS month,
        CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)), 6)
                      AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    ),
    win AS (
      SELECT brand, month, revenue,
        CAST(SUM(CAST(revenue AS DECIMAL(18,6))) OVER (
          PARTITION BY brand ORDER BY month
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
        / COUNT(*) OVER (
          PARTITION BY brand ORDER BY month
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_avg,
        ROW_NUMBER() OVER (PARTITION BY brand ORDER BY month) AS rn
      FROM monthly
    )
    SELECT brand, month, revenue,
      ROUND(roll_avg, 4) AS roll_avg,
      ROUND(ABS(revenue - roll_avg) / roll_avg, 6) AS pct_dev
    FROM win
    WHERE rn >= 3 AND ROUND(ABS(revenue - roll_avg) / roll_avg, 6) > 0.3
    """,
)
def ds_q89_rolling_brand_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-months whose revenue deviates >30% from the brand's TRAILING
    3-month rolling average (TPC-DS q89's signature: a rolling-window
    deviation over the category-month rollup, extreme months surfaced).
    Rows before the window is full (rn < 3) are excluded — a partial
    2-month "average" isn't the 3-month signal q89 reads.

    Determinism: monthly revenue is a decimal-exact sum; the rolling mean
    is a DECIMAL window sum divided by the frame COUNT (identical operands
    both engines); the 30% cut compares the ROUNDED 6dp deviation
    (round-before-filter — a ulp on the raw ratio could flip membership).

    At 100 TB: one fact pass (AQE broadcasts the part dim while it fits)
    into a ~brands x months rollup; every window runs over that tiny rollup partitioned by brand.
    Reference parity: the same monthly-rollup + window shape as
    ds_q57_deviation_extremes, with ROWS-frame rolling semantics instead
    of the year mean.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    # r14 (guide §2.5): the single-row-group scan ran the whole
    # join + month-format + decimal partial-aggregation stage in ONE task;
    # repartitioning the projected fact first spreads it across the cores
    # (scale-adaptive: defaultParallelism) for the price of one narrow
    # 4-column shuffle.
    monthly = (
        l.select("l_partkey", "l_shipdate", "l_extendedprice", "l_discount")
        .repartition(spark.sparkContext.defaultParallelism)
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_format("l_shipdate", "yyyy-MM").alias("month"),
        )
        .agg(
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    frame = (
        Window.partitionBy("brand").orderBy("month").rowsBetween(-2, 0)
    )
    w_rn = Window.partitionBy("brand").orderBy("month")
    roll_avg = (
        F.sum(F.col("revenue").cast("decimal(18,6)")).over(frame).cast("double")
        / F.count(F.lit(1)).over(frame)
    )
    win = monthly.select(
        "brand",
        "month",
        "revenue",
        roll_avg.alias("roll_avg"),
        F.row_number().over(w_rn).alias("rn"),
    )
    pct_dev = F.round(
        F.abs(F.col("revenue") - F.col("roll_avg")) / F.col("roll_avg"), 6
    )
    return (
        win.where((F.col("rn") >= 3) & (pct_dev > 0.3))
        .select(
            "brand",
            "month",
            "revenue",
            F.round("roll_avg", 4).alias("roll_avg"),
            pct_dev.alias("pct_dev"),
        )
    )


@query(
    "ds_q66_monthly_nation_pivot",
    oracle="""
    SELECT n_name AS nation,
      CAST(EXTRACT(year FROM o_orderdate) AS INT) AS year,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 1
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m1,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 2
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m2,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 3
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m3,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 4
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m4,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 5
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m5,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 6
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m6,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 7
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m7,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 8
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m8,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 9
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m9,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 10
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m10,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 11
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m11,
      COALESCE(CAST(SUM(CASE WHEN EXTRACT(month FROM o_orderdate) = 12
        THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) END) AS DOUBLE), CAST(0 AS DOUBLE)) AS m12
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY 1, 2
    """,
)
def ds_q66_monthly_nation_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-month revenue pivot per (nation, year) — TPC-DS q66's signature
    (the warehouse-by-month wide report) as twelve conditional decimal
    sums in ONE GROUP BY, never engine PIVOT syntax (DuckDB's PIVOT
    invents its own output column names; explicit CASE aliases keep the
    schema identical in both engines). Empty (nation, year, month) cells
    coalesce to 0.0 so no NULL doubles reach the hash compare.

    At 100 TB: one fact pass with map-side combine into nations x years
    rows; nation rides a forced broadcast (fixed 25-row dim) and AQE
    broadcasts customer while it fits. The wide CASE battery is
    whole-stage-codegen'd — no Expand, no multi-distinct.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = o.join(c, F.col("c_custkey") == F.col("o_custkey")).join(
        F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey")
    )
    month = F.month("o_orderdate")
    aggs = [
        F.coalesce(
            dsum(F.when(month == m, F.col("o_totalprice"))), F.lit(0.0)
        ).alias(f"m{m}")
        for m in range(1, 13)
    ]
    return joined.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("int").alias("year"),
    ).agg(*aggs)


@query(
    "ds_q75_yoy_brand_decline",
    oracle="""
    WITH yearly AS (
      SELECT p_brand AS brand,
        CAST(EXTRACT(year FROM l_shipdate) AS INT) AS year,
        CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)), 6)
                      AS DECIMAL(18,6))) AS DOUBLE) AS revenue
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    )
    SELECT cur.brand, cur.year,
      prev.qty AS prev_qty, cur.qty AS cur_qty,
      CASE WHEN prev.qty > 0
        THEN ROUND(CAST(cur.qty AS DOUBLE) / CAST(prev.qty AS DOUBLE), 6)
      END AS qty_ratio,
      CASE WHEN prev.revenue > 0
        THEN ROUND(cur.revenue / prev.revenue, 6) END AS rev_ratio
    FROM yearly cur JOIN yearly prev
      ON cur.brand = prev.brand AND cur.year = prev.year + 1
    WHERE prev.qty > 0
      AND ROUND(CAST(cur.qty AS DOUBLE) / CAST(prev.qty AS DOUBLE), 6) < 0.95
    """,
)
def ds_q75_yoy_brand_decline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-years whose sold quantity fell more than 5% year-over-year,
    with the revenue ratio attached — TPC-DS q75's signature (the
    cross-year decline report that drives assortment reviews).

    Determinism: quantities are exact BIGINT sums, revenue decimal-exact;
    ratios are divisions of identical operands, ROUNDED 6dp BEFORE the
    decline filter; the prev > 0 guard is its own predicate (and the
    ratio is when-guarded too — ANSI evaluates every conjunct,
    lesson 19).

    At 100 TB: one fact pass (AQE broadcasts part while it fits) into a
    brands x years
    rollup; the yoy self-join runs over that tiny rollup. The persisted
    frame is unnecessary at this size — both join sides read the same
    ~200-row aggregate, which AQE plans as a broadcast join.
    """
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    yearly = (
        l.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.year("l_shipdate").cast("int").alias("year"),
        )
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("qty"),
            dsum(F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
        .persist()
    )
    cur = yearly.select(
        "brand",
        "year",
        F.col("qty").alias("cur_qty"),
        F.col("revenue").alias("cur_rev"),
    )
    prev = yearly.select(
        F.col("brand").alias("brand_p"),
        F.col("year").alias("year_p"),
        F.col("qty").alias("prev_qty"),
        F.col("revenue").alias("prev_rev"),
    )
    qty_ratio = F.round(
        F.col("cur_qty").cast("double") / F.col("prev_qty").cast("double"), 6
    )
    rev_ratio = F.when(
        F.col("prev_rev") > 0, F.round(F.col("cur_rev") / F.col("prev_rev"), 6)
    )
    return (
        cur.join(
            prev,
            (F.col("brand") == F.col("brand_p"))
            & (F.col("year") == F.col("year_p") + 1),
        )
        .where(F.col("prev_qty") > 0)
        .where(qty_ratio < 0.95)
        .select(
            "brand",
            "year",
            "prev_qty",
            "cur_qty",
            qty_ratio.alias("qty_ratio"),
            rev_ratio.alias("rev_ratio"),
        )
    )


@query(
    "ds_q59_weekly_yoy_compare",
    oracle="""
    WITH weekly AS (
      SELECT o_orderpriority AS priority,
        CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) // 7
             AS BIGINT) AS wk,
        CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))) AS DOUBLE)
          AS revenue
      FROM orders GROUP BY 1, 2
    )
    SELECT cur.priority, cur.wk,
      prev.revenue AS prev_year_revenue,
      cur.revenue AS revenue,
      CASE WHEN prev.revenue > 0
        THEN ROUND(cur.revenue / prev.revenue, 6) END AS yoy_ratio
    FROM weekly cur JOIN weekly prev
      ON cur.priority = prev.priority AND cur.wk = prev.wk + 52
    """,
)
def ds_q59_weekly_yoy_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly revenue per order priority compared to the SAME week one
    year earlier (wk - 52) — TPC-DS q59's signature (the store-week
    sales-over-sales report). Weeks are integer epoch-week indices from
    the q72 recipe (date_diff // 7 — never engine week-of-year, whose
    ISO conventions differ across engines and at year boundaries). The
    epoch is 1990-01-01, strictly before any possible data date, because
    Spark F.floor rounds negative quotients toward -inf while DuckDB //
    truncates toward zero — a pre-epoch date would shift week keys by 1
    between engines (round-9 ADVICE); tests/test_catalog.py asserts
    min(o_orderdate) >= epoch so a widened data window fails loudly.

    Determinism: decimal-exact weekly sums; the yoy ratio divides
    identical doubles, when-guarded on prev > 0, rounded 6dp.

    At 100 TB: one fact pass into a priorities x weeks rollup with
    map-side combine; the 52-week-shift self-join runs over that rollup
    (an equi-join — no range join).
    """
    o = load_table(spark, sf_dir, "orders")
    wk = F.floor(
        F.datediff(F.col("o_orderdate"), F.lit("1990-01-01").cast("date")) / 7
    ).cast("bigint")
    weekly = (
        o.groupBy(F.col("o_orderpriority").alias("priority"), wk.alias("wk"))
        .agg(dsum("o_totalprice").alias("revenue"))
        .persist()
    )
    cur = weekly
    prev = weekly.select(
        F.col("priority").alias("priority_p"),
        F.col("wk").alias("wk_p"),
        F.col("revenue").alias("prev_year_revenue"),
    )
    return (
        cur.join(
            prev,
            (F.col("priority") == F.col("priority_p"))
            & (F.col("wk") == F.col("wk_p") + 52),
        )
        .select(
            "priority",
            "wk",
            "prev_year_revenue",
            "revenue",
            F.when(
                F.col("prev_year_revenue") > 0,
                F.round(F.col("revenue") / F.col("prev_year_revenue"), 6),
            ).alias("yoy_ratio"),
        )
    )


ds_q98_type_revenue_share = sql_query(
    "ds_q98_type_revenue_share",
    """
    WITH rolled AS (
      SELECT p_brand AS brand, p_type AS type,
        CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)), 6)
                      AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
        SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)), 6)
                 AS DECIMAL(18,6))) AS revenue_dec
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1, 2
    )
    SELECT brand, type, revenue,
      ROUND(revenue / CAST(SUM(revenue_dec) OVER (PARTITION BY brand)
                           AS DOUBLE), 6) AS brand_share
    FROM rolled
    """,
)


ds_q27_segment_priority_avg_rollup = sql_query(
    "ds_q27_segment_priority_avg_rollup",
    """
    SELECT
      COALESCE(c_mktsegment, 'ALL') AS segment,
      CASE WHEN c_mktsegment IS NULL THEN 'ALL'
           ELSE COALESCE(o_orderpriority, 'ALL') END AS priority,
      COUNT(*) AS n_lines,
      CAST(SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(18,6))) AS DOUBLE)
        / COUNT(*) AS avg_qty,
      CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(18,6))) AS DOUBLE)
        / COUNT(*) AS avg_price,
      CAST(SUM(CAST(ROUND(l_discount, 6) AS DECIMAL(18,6))) AS DOUBLE)
        / COUNT(*) AS avg_discount
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    GROUP BY ROLLUP (c_mktsegment, o_orderpriority)
    """,
)


@query(
    "ds_q25_return_repurchase_chain",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS c, p_brand AS p,
        CAST(l_shipdate AS TIMESTAMP) AS d, l_returnflag AS f
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN part ON p_partkey = l_partkey
    ),
    s1 AS (
      SELECT c, p, MIN(CASE WHEN f = 'N' THEN d END) AS t1
      FROM base GROUP BY c, p
      HAVING MIN(CASE WHEN f = 'N' THEN d END) IS NOT NULL
    ),
    s2 AS (
      SELECT b.c, b.p, s1.t1, MIN(b.d) AS t2
      FROM base b JOIN s1 ON s1.c = b.c AND s1.p = b.p
      WHERE b.f = 'R' AND b.d > s1.t1
      GROUP BY b.c, b.p, s1.t1
    ),
    s3 AS (
      SELECT b.c, b.p
      FROM base b JOIN s2 ON s2.c = b.c AND s2.p = b.p
      WHERE b.f = 'N' AND b.d > s2.t2
      GROUP BY b.c, b.p
    )
    SELECT p AS brand,
      COUNT(*) AS n_chains,
      COUNT(DISTINCT c) AS n_customers
    FROM s3
    GROUP BY p
    """,
)
def ds_q25_return_repurchase_chain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sold -> returned -> re-purchased chains per brand (TPC-DS q25/q29's
    signature: the same customer-item pair moving through a sale, a
    return, and a later repurchase) — the win-back / exchange report, at
    (customer, BRAND) grain: the exact part-key grain fires on ~0 pairs
    at these SFs (a pair needs 3+ fact lines — lesson 9), and brand is
    q25's own item-attribute rollup level. Stage semantics: first sale
    t1 = earliest non-returned line; return t2 = earliest 'R' line
    strictly after t1; chain completes on any non-returned line strictly
    after t2.

    Determinism: pure timestamp comparisons and exact counts — three
    (customer, part)-grain rollups chained by equi-joins.

    At 100 TB: the fact projects to 5 columns once (persisted and
    SessionMemo'd, shared with ds_q29 — the stage passes and every warm
    re-invocation consume one bounded entry; AQE broadcasts the part dim
    while it fits);
    every stage is a rollup + equi-join on the (customer, brand) key, so
    the chain never widens beyond pair grain.
    """
    base = _q25_base(spark, sf_dir)
    s1 = (
        base.groupBy("c", "p")
        .agg(F.min(F.when(F.col("f") == "N", F.col("d"))).alias("t1"))
        .where(F.col("t1").isNotNull())
    )
    s2 = (
        base.join(s1, ["c", "p"])
        .where((F.col("f") == "R") & (F.col("d") > F.col("t1")))
        .groupBy("c", "p", "t1")
        .agg(F.min("d").alias("t2"))
    )
    s3 = (
        base.join(s2.select("c", "p", "t2"), ["c", "p"])
        .where((F.col("f") == "N") & (F.col("d") > F.col("t2")))
        .groupBy("c", "p")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("c", "p")
    )
    return s3.groupBy(F.col("p").alias("brand")).agg(
        F.count(F.lit(1)).alias("n_chains"),
        F.countDistinct("c").alias("n_customers"),
    )


@query(
    "ds_q11_two_channel_yoy_winners",
    oracle="""
    WITH yearly AS (
      SELECT o_custkey AS c,
        CAST(substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS INT) AS yr,
        CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))
            ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000
          AS DECIMAL(38,0)) AS hi_us,
        CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
            THEN CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))
            ELSE CAST(0 AS DECIMAL(18,6)) END) * 1000000
          AS DECIMAL(38,0)) AS lo_us
      FROM orders GROUP BY 1, 2
    ),
    paired AS (
      SELECT cur.yr,
        CAST(cur.hi_us AS HUGEINT) * CAST(prev.lo_us AS HUGEINT)
          AS hi_cross,
        CAST(cur.lo_us AS HUGEINT) * CAST(prev.hi_us AS HUGEINT)
          AS lo_cross
      FROM yearly cur JOIN yearly prev
        ON cur.c = prev.c AND cur.yr = prev.yr + 1
      WHERE cur.hi_us > 0 AND cur.lo_us > 0
        AND prev.hi_us > 0 AND prev.lo_us > 0
    )
    SELECT yr, COUNT(*) AS n_eligible,
      COUNT(CASE WHEN hi_cross > lo_cross THEN 1 END) AS n_hi_outgrew
    FROM paired GROUP BY yr
    """,
)
def ds_q11_two_channel_yoy_winners(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Customers whose year-over-year growth in one channel outpaced the
    other (TPC-DS q11's signature: the web yoy ratio > store yoy ratio
    predicate over per-customer-year rollups of two channels). Channels ~
    urgent vs routine order priority; output is the per-year census of
    eligible customers (positive revenue in both channels both years)
    and how many grew faster in the urgent channel.

    Determinism: q11's ratio comparison hi_cur/hi_prev > lo_cur/lo_prev
    is restated as the CROSS-MULTIPLICATION hi_cur*lo_prev >
    lo_cur*hi_prev over exact integer micro-dollar revenues (decimal
    sums x 1e6), so no division ever happens — Spark compares
    DECIMAL(38,0) products, DuckDB HUGEINT products, both exact
    (products <= ~1e30 fit both; lesson 13's int64 overflow is bypassed
    by widening BEFORE the multiply).

    At 100 TB: one fact pass into the (customer, year) two-channel
    rollup with map-side combine; the year-shift self-join runs on the
    rollup keyed by customer — same-shuffle equi-join, no skew (each
    customer has <= 7 year rows).
    """
    o = load_table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    dec = F.round(F.col("o_totalprice"), 6).cast("decimal(18,6)")
    zero = F.lit(0).cast("decimal(18,6)")
    us = lambda c: (F.sum(c) * 1000000).cast("decimal(38,0)")  # noqa: E731
    # both self-join sides consume the rollup — persisted + memoized
    # (lesson 27/30, scan_audit-found)
    yearly = memo_persist(
        _Q11_YEARLY_CACHE,
        spark,
        sf_dir,
        lambda: o.groupBy(
            F.col("o_custkey").alias("c"),
            F.year("o_orderdate").alias("yr"),
        ).agg(
            us(F.when(hi, dec).otherwise(zero)).alias("hi_us"),
            us(F.when(~hi, dec).otherwise(zero)).alias("lo_us"),
        ),
    )
    prev = yearly.select(
        F.col("c").alias("c_p"),
        F.col("yr").alias("yr_p"),
        F.col("hi_us").alias("hi_p"),
        F.col("lo_us").alias("lo_p"),
    )
    paired = yearly.join(
        prev,
        (F.col("c") == F.col("c_p")) & (F.col("yr") == F.col("yr_p") + 1),
    ).where(
        (F.col("hi_us") > 0)
        & (F.col("lo_us") > 0)
        & (F.col("hi_p") > 0)
        & (F.col("lo_p") > 0)
    )
    hi_cross = F.col("hi_us") * F.col("lo_p")
    lo_cross = F.col("lo_us") * F.col("hi_p")
    return paired.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_eligible"),
        F.count(F.when(hi_cross > lo_cross, 1)).alias("n_hi_outgrew"),
    )


@query(
    "ds_q35_demographic_channel_census",
    oracle=f"""
    WITH flags AS (
      SELECT o_custkey AS ck,
        MAX(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                 THEN 1 ELSE 0 END) AS in_a,
        MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS in_b,
        MAX(CASE WHEN o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
                 THEN 1 ELSE 0 END) AS in_c
      FROM orders GROUP BY 1
    )
    SELECT n_name, c_mktsegment AS segment,
      COUNT(*) AS n_customers,
      MIN({_CENTS_SQL.format(c='c_acctbal')}) AS min_bal_cents,
      MAX({_CENTS_SQL.format(c='c_acctbal')}) AS max_bal_cents,
      {sql_davg('c_acctbal')} AS avg_bal
    FROM flags
    JOIN customer ON c_custkey = ck
    JOIN nation ON n_nationkey = c_nationkey
    WHERE in_a = 1 AND (in_b = 1 OR in_c = 1)
    GROUP BY 1, 2
    """,
)
def ds_q35_demographic_channel_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Demographic report of customers active in channel A AND (B OR C)
    (TPC-DS q35's signature: an EXISTS per channel with an OR across the
    secondary channels, then count/min/max/avg rollups over the customer
    demographic grain). Channels ~ priority tiers; demographics ~
    (nation, market segment).

    The three EXISTS subqueries are restated as presence FLAGS from ONE
    grouped scan (the q38/q97 recipe) — no semi-join per channel, no
    triple fact scan. min/max report integer cents; avg is the exact
    decimal sum over the count.

    At 100 TB: one fact pass to per-customer flags (map-side combine),
    one hash join to the customer dim, nation broadcast; the rollup has
    nations x segments cells.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    pri = F.col("o_orderpriority")
    flags = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max(
            F.when(pri.isin("1-URGENT", "2-HIGH"), 1).otherwise(0)
        ).alias("in_a"),
        F.max(F.when(pri == "3-MEDIUM", 1).otherwise(0)).alias("in_b"),
        F.max(
            F.when(pri.isin("4-NOT SPECIFIED", "5-LOW"), 1).otherwise(0)
        ).alias("in_c"),
    )
    cents = F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
    return (
        flags.where(
            (F.col("in_a") == 1) & ((F.col("in_b") == 1) | (F.col("in_c") == 1))
        )
        .join(c, F.col("c_custkey") == F.col("ck"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("n_name", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min(cents).alias("min_bal_cents"),
            F.max(cents).alias("max_bal_cents"),
            davg("c_acctbal").alias("avg_bal"),
        )
    )


@query(
    "ds_q54_post_anchor_revenue_bands",
    oracle=f"""
    WITH monthly AS (
      SELECT o_custkey AS ck,
        CAST(substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS INT) * 12
          + CAST(substr(CAST(o_orderdate AS VARCHAR), 6, 2) AS INT) AS mi,
        CAST(SUM({_CENTS_SQL.format(c='o_totalprice')}) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    anchors AS (
      SELECT ck, MIN(mi) AS m0 FROM monthly GROUP BY ck
    ),
    window_rev AS (
      SELECT a.ck,
        COALESCE(CAST(SUM(m.cents) AS BIGINT), 0) AS rev_cents
      FROM anchors a
      LEFT JOIN monthly m
        ON m.ck = a.ck AND m.mi BETWEEN a.m0 + 1 AND a.m0 + 3
      GROUP BY a.ck
    )
    SELECT CAST(rev_cents // 5000 AS BIGINT) AS band,
      COUNT(*) AS n_customers
    FROM window_rev GROUP BY 1
    """,
)
def ds_q54_post_anchor_revenue_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Revenue census in the three months FOLLOWING each customer's anchor
    purchase, bucketed into $50 bands (TPC-DS q54's signature: find
    customers who bought the anchor item, total their revenue in the
    consecutive month window after it, and count customers per 50-dollar
    segment). Anchor ~ the customer's first order month; months are
    integer year*12+month indices so the window is pure integer
    arithmetic in both engines.

    Customers with no orders in the window land in band 0 via the LEFT
    join + COALESCE — q54 counts zero-revenue segments too. Bands divide
    exact integer cents by 5000 (both quotients nonnegative, so DuckDB
    // and Spark floor-div agree).

    At 100 TB: one fact pass to the (customer, month) rollup; the anchor
    is a per-customer MIN over it; the window join re-uses the rollup's
    own customer partitioning (<= 84 month rows per customer, no fan-out
    hazard); the final band rollup is tiny.
    """
    o = load_table(spark, sf_dir, "orders")
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mi")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    # anchors and the window join both consume the rollup — persisted +
    # memoized (lesson 27/30, scan_audit-found)
    monthly = memo_persist(
        _Q54_MONTHLY_CACHE,
        spark,
        sf_dir,
        lambda: o.groupBy(F.col("o_custkey").alias("ck"), mi).agg(
            F.sum(cents).cast("bigint").alias("cents")
        ),
    )
    anchors = monthly.groupBy("ck").agg(F.min("mi").alias("m0"))
    m = monthly.select(
        F.col("ck").alias("ck_m"), "mi", F.col("cents").alias("cents_m")
    )
    window_rev = (
        anchors.join(
            m,
            (F.col("ck_m") == F.col("ck"))
            & (F.col("mi") >= F.col("m0") + 1)
            & (F.col("mi") <= F.col("m0") + 3),
            "left",
        )
        .groupBy("ck")
        .agg(F.coalesce(F.sum("cents_m"), F.lit(0)).cast("bigint").alias("rev_cents"))
    )
    return window_rev.groupBy(
        F.floor(F.col("rev_cents") / 5000).cast("bigint").alias("band")
    ).agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "ds_q29_quantity_chain_by_brand",
    oracle="""
    WITH base AS (
      SELECT o_custkey AS c, p_brand AS p, l_shipdate AS d,
             l_returnflag AS f, CAST(l_quantity AS BIGINT) AS q
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN part ON p_partkey = l_partkey
    ),
    s1 AS (
      SELECT c, p, MIN(CASE WHEN f = 'N' THEN d END) AS t1
      FROM base GROUP BY c, p
      HAVING MIN(CASE WHEN f = 'N' THEN d END) IS NOT NULL
    ),
    sold AS (
      SELECT b.c, b.p, s1.t1, CAST(SUM(b.q) AS BIGINT) AS qty_sold
      FROM base b JOIN s1 ON s1.c = b.c AND s1.p = b.p
      WHERE b.f = 'N' AND b.d = s1.t1
      GROUP BY b.c, b.p, s1.t1
    ),
    s2 AS (
      SELECT b.c, b.p, sold.qty_sold, MIN(b.d) AS t2
      FROM base b JOIN sold ON sold.c = b.c AND sold.p = b.p
      WHERE b.f = 'R' AND b.d > sold.t1
      GROUP BY b.c, b.p, sold.qty_sold
    ),
    ret AS (
      SELECT b.c, b.p, s2.qty_sold, s2.t2,
        CAST(SUM(b.q) AS BIGINT) AS qty_returned
      FROM base b JOIN s2 ON s2.c = b.c AND s2.p = b.p
      WHERE b.f = 'R' AND b.d = s2.t2
      GROUP BY b.c, b.p, s2.qty_sold, s2.t2
    ),
    chains AS (
      SELECT b.c, b.p, ret.qty_sold, ret.qty_returned,
        CAST(SUM(b.q) AS BIGINT) AS qty_repurchased
      FROM base b JOIN ret ON ret.c = b.c AND ret.p = b.p
      WHERE b.f = 'N' AND b.d > ret.t2
      GROUP BY b.c, b.p, ret.qty_sold, ret.qty_returned
    )
    SELECT p AS brand,
      COUNT(*) AS n_chains,
      CAST(SUM(qty_sold) AS BIGINT) AS qty_sold,
      CAST(SUM(qty_returned) AS BIGINT) AS qty_returned,
      CAST(SUM(qty_repurchased) AS BIGINT) AS qty_repurchased
    FROM chains GROUP BY p
    """,
)
def ds_q29_quantity_chain_by_brand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantity flow through sold -> returned -> re-purchased chains per
    brand (TPC-DS q29's signature: q25's chain with QUANTITY aggregates
    at each stage instead of profit). Stage semantics match ds_q25:
    first-sale day t1, earliest return day t2 strictly after t1, chain
    completes on any later non-returned line; the stage quantities are
    the units sold on t1, returned on t2, and re-purchased after t2.

    Shares ds_q25's persisted 5-column fact projection (_q25_base — one
    scan serves both chains). Pure integer date comparisons and BIGINT
    quantity sums end to end.

    At 100 TB: every stage is a (customer, brand)-grain rollup chained
    by equi-joins over the shared persisted projection — the fact is
    read once, and no stage widens beyond pair grain.
    """
    base = _q25_base(spark, sf_dir)
    s1 = (
        base.groupBy("c", "p")
        .agg(F.min(F.when(F.col("f") == "N", F.col("d"))).alias("t1"))
        .where(F.col("t1").isNotNull())
    )
    sold = (
        base.join(s1, ["c", "p"])
        .where((F.col("f") == "N") & (F.col("d") == F.col("t1")))
        .groupBy("c", "p", "t1")
        .agg(F.sum("q").cast("bigint").alias("qty_sold"))
    )
    s2 = (
        base.join(sold, ["c", "p"])
        .where((F.col("f") == "R") & (F.col("d") > F.col("t1")))
        .groupBy("c", "p", "qty_sold")
        .agg(F.min("d").alias("t2"))
    )
    ret = (
        base.join(s2, ["c", "p"])
        .where((F.col("f") == "R") & (F.col("d") == F.col("t2")))
        .groupBy("c", "p", "qty_sold", "t2")
        .agg(F.sum("q").cast("bigint").alias("qty_returned"))
    )
    chains = (
        base.join(ret, ["c", "p"])
        .where((F.col("f") == "N") & (F.col("d") > F.col("t2")))
        .groupBy("c", "p", "qty_sold", "qty_returned")
        .agg(F.sum("q").cast("bigint").alias("qty_repurchased"))
    )
    return chains.groupBy(F.col("p").alias("brand")).agg(
        F.count(F.lit(1)).alias("n_chains"),
        F.sum("qty_sold").cast("bigint").alias("qty_sold"),
        F.sum("qty_returned").cast("bigint").alias("qty_returned"),
        F.sum("qty_repurchased").cast("bigint").alias("qty_repurchased"),
    )


@query(
    "ds_q88_halfhour_band_census",
    oracle="""
    SELECT
      COUNT(CASE WHEN hh = 17 THEN 1 END) AS h0830,
      COUNT(CASE WHEN hh = 18 THEN 1 END) AS h0900,
      COUNT(CASE WHEN hh = 19 THEN 1 END) AS h0930,
      COUNT(CASE WHEN hh = 20 THEN 1 END) AS h1000,
      COUNT(CASE WHEN hh = 21 THEN 1 END) AS h1030,
      COUNT(CASE WHEN hh = 22 THEN 1 END) AS h1100,
      COUNT(CASE WHEN hh = 23 THEN 1 END) AS h1130,
      COUNT(CASE WHEN hh = 24 THEN 1 END) AS h1200
    FROM (
      SELECT CAST(EXTRACT(hour FROM ts) * 2
                  + EXTRACT(minute FROM ts) // 30 AS INT) AS hh
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase') AND value >= 1.0
    )
    """,
)
def ds_q88_halfhour_band_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Half-hour traffic census from 8:30 to 12:30 (TPC-DS q88's literal
    shape: EIGHT half-hour-band counts under a demographic filter,
    written in the spec as eight self-joined subqueries — restated as
    ONE conditional-aggregation scan; the day-part variant lives in
    ds_time_band_counts, this is the finer-band q88 itself). Filter ~
    engaged browse/buy events with value >= 1.

    Half-hour index = hour*2 + minute//30 over NTZ fields (tz-proof,
    nonnegative so // and floor agree). Pure exact counts.

    At 100 TB: one scan, eight map-side conditional partials, 1 row out.
    """
    e = load_table(spark, sf_dir, "events")
    hh = F.hour("ts") * 2 + F.floor(F.minute("ts") / 30)
    engaged = (
        F.col("event_type").isin("view", "click", "purchase")
        & (F.col("value") >= 1.0)
    )
    labels = [
        (17, "h0830"), (18, "h0900"), (19, "h0930"), (20, "h1000"),
        (21, "h1030"), (22, "h1100"), (23, "h1130"), (24, "h1200"),
    ]
    return e.where(engaged).agg(
        *[
            F.count(F.when(hh == F.lit(v), 1)).alias(name)
            for v, name in labels
        ]
    )
