"""Advanced relational surface: pivot, percentiles/statistics, subqueries,
explode/lateral, conditional aggregation, sampling, and the SQL-string entry
point (spark.sql over registered views — proving the same engine speaks SQL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query, sql_query
from ..sources import load_table, register_views
from ._util import dsum, sql_dsum

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@query(
    "pivot_segment_by_nation",
    oracle=f"""
    SELECT
      n_name,
      {', '.join(f'''COUNT(CASE WHEN c_mktsegment = '{s}' THEN 1 END) AS {s.lower()}''' for s in SEGMENTS)}
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def pivot_segment_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (single shuffle; pivot values enumerated so Catalyst plans a
    fixed-width aggregation, no second pass to discover values). Absent
    (nation, segment) combos pivot to NULL in Spark but COUNT(CASE) gives 0
    in SQL — coalesce to 0 so small scale factors (where combos go missing)
    stay dtype- and value-identical."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    out = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .pivot("c_mktsegment", SEGMENTS)
        .agg(F.count(F.lit(1)))
    )
    renames = [F.col("n_name")] + [
        F.coalesce(F.col(s), F.lit(0)).cast("long").alias(s.lower())
        for s in SEGMENTS
    ]
    return out.select(*renames)


@query(
    "stats_percentiles_by_flag",
    oracle="""
    SELECT
      l_returnflag,
      ROUND(median(l_extendedprice), 4) AS median_price,
      ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
      ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation — same definition in both
    engines). At 100 TB you'd switch to approx_percentile (t-digest sketch,
    mergeable, single pass); exact is the correctness baseline."""
    l = load_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.25)), 4).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_price"),
    )


stats_variance_corr = sql_query(
    "stats_variance_corr",
    """
    SELECT
      COUNT(*) AS n,
      ROUND(stddev_samp(o_totalprice), 2) AS sd_total,
      ROUND(var_samp(o_totalprice), 0) AS var_total,
      ROUND(corr(o_totalprice, o_custkey), 6) AS corr_price_cust
    FROM orders
    """,
)


subquery_scalar_above_avg = sql_query(
    "subquery_scalar_above_avg",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT AVG(o_totalprice) FROM orders)
    """,
)


subquery_correlated_max_order = sql_query(
    "subquery_correlated_max_order",
    """
    SELECT c_custkey, o_orderkey, o_totalprice
    FROM customer, orders
    WHERE o_custkey = c_custkey
      AND o_totalprice = (
        SELECT MAX(o2.o_totalprice) FROM orders o2 WHERE o2.o_custkey = c_custkey
      )
      AND c_mktsegment = 'BUILDING'
    """,
)


subquery_in_high_value_customers = sql_query(
    "subquery_in_high_value_customers",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0)
    """,
)


@query(
    "explode_tokens_top_words",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (
      SELECT UNNEST(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '')) AS tok
      FROM documents
    )
    GROUP BY tok
    HAVING COUNT(*) >= 50
    """,
)
def explode_tokens_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (lateral flatten) → hash agg. The generator runs inside
    codegen; map-side partial agg collapses the token fan-out before the
    shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    return (
        d.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 50)
    )


@query(
    "conditional_agg_order_priority",
    oracle=f"""
    SELECT
      o_orderpriority,
      COUNT(*) AS n_orders,
      COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_finished,
      {sql_dsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END")} AS open_value,
      ROUND(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) * 1.0 / COUNT(*), 6) AS finished_ratio
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def conditional_agg_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    finished = F.count(F.when(F.col("o_orderstatus") == "F", 1))
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        finished.alias("n_finished"),
        dsum(
            F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(0.0)
        ).alias("open_value"),
        F.round(finished * 1.0 / F.count(F.lit(1)), 6).alias("finished_ratio"),
    )


@query(
    "sql_q6_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue_delta
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.07
      AND l_quantity < 25
    """,
)
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape through the SQL front-end: all four predicates push to
    the parquet scan; the aggregation is a single scan, no shuffle."""
    return register_views(
        spark,
        sf_dir,
        f"""
        SELECT {_spark_dsum_sql('l_extendedprice * l_discount')} AS revenue_delta
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01'
          AND l_shipdate < TIMESTAMP_NTZ '1997-01-01'
          AND l_discount BETWEEN 0.04 AND 0.07
          AND l_quantity < 25
        """
    )


def _spark_dsum_sql(expr: str) -> str:
    return f"CAST(SUM(CAST(ROUND(({expr}), 6) AS DECIMAL(18,6))) AS DOUBLE)"


# A flag whose quantities are all equal has a zero denominator: the CASE
# gives NULL in both engines where ANSI Spark would throw DIVIDE_BY_ZERO.
stats_regression_by_flag = sql_query(
    "stats_regression_by_flag",
    f"""
    WITH sums AS (
      SELECT l_returnflag,
        COUNT(*) AS n,
        {sql_dsum('l_quantity')} AS sx,
        {sql_dsum('l_extendedprice')} AS sy,
        {sql_dsum('l_quantity * l_extendedprice')} AS sxy,
        {sql_dsum('l_quantity * l_quantity')} AS sxx
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
      CASE WHEN n * sxx - sx * sx <> 0
           THEN ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
      CASE WHEN n * sxx - sx * sx <> 0
           THEN ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
      END AS intercept
    FROM sums
    """,
)


@query("sample_stratified_orders")
def sample_stratified_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded stratified sample: 20%/10%/5% of orders by status via
    `sampleBy` (per-stratum Bernoulli, one scan, no shuffle before the
    aggregation). Rows-only: sampling RNGs are engine-specific, so there is
    no cross-engine oracle; determinism (same seed ⇒ identical sample) and
    binomial-bound properties are tested in tests/test_properties.py."""
    o = load_table(spark, sf_dir, "orders")
    sampled = o.sampleBy(
        "o_orderstatus", fractions={"F": 0.2, "O": 0.1, "P": 0.05}, seed=42
    )
    return sampled.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        dsum("o_totalprice").alias("sampled_value"),
    )


histogram_order_totalprice = sql_query(
    "histogram_order_totalprice",
    """
    WITH bounds AS (
      SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM orders
    ),
    b AS (
      SELECT mn, mx,
        CASE WHEN mx = mn THEN 0
             ELSE CAST(LEAST(FLOOR((o_totalprice - mn) / ((mx - mn) / 20.0)), 19) AS INT)
        END AS bucket
      FROM orders, bounds
    )
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      ROUND(mn + bucket * ((mx - mn) / 20.0), 6) AS bucket_lo
    FROM b
    GROUP BY bucket, mn, mx
    """,
)


@query(
    "histogram_equidepth_totalprice",
    oracle="""
    WITH t AS (
      SELECT o_totalprice,
             ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket, COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS lo,
           ROUND(MAX(o_totalprice), 2) AS hi
    FROM t GROUP BY bucket
    """,
)
def histogram_equidepth_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (deciles by population, not by range): ntile
    over a total order — the tie-break on o_orderkey makes bucket
    boundaries deterministic, so both engines cut identically. Complements
    histogram_order_totalprice's equi-width buckets; equi-depth is what
    optimizers and drift monitors actually want (every bucket carries the
    same weight).

    Scale note: a global ntile needs a total sort — at 100 TB swap the
    exact sort for approx_percentile cut points and keep the aggregation;
    here exactness is the point (the oracle hash-checks the cuts).
    """
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    t = o.select("o_totalprice", F.ntile(10).over(w).cast("long").alias("bucket"))
    return t.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@query(
    "nested_order_lines_top_item",
    oracle="""
    SELECT l_orderkey, l_partkey AS top_partkey,
           ROUND(l_extendedprice, 2) AS top_price,
           n_lines
    FROM (
      SELECT l_orderkey, l_partkey, l_extendedprice,
             ROW_NUMBER() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_extendedprice DESC, l_partkey
             ) AS rn,
             COUNT(*) OVER (PARTITION BY l_orderkey) AS n_lines
      FROM lineitem
    )
    WHERE rn = 1
    """,
)
def nested_order_lines_top_item(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-data processing: collapse each order's lines into an ARRAY OF
    STRUCTS, sort it inside the row with array_sort, and take the head —
    per-order top line item without a window function.

    The oracle states the flat window formulation; the Spark side is the
    nested one on purpose: build-sort-extract inside the aggregate is the
    document-model idiom (one shuffle on the group key, then pure array
    expressions), and at scale it beats a global window when downstream
    wants the whole nested order anyway (here only the head survives,
    pruning the rest before anything else moves).
    """
    l = load_table(spark, sf_dir, "lineitem")
    lines = F.array_sort(
        F.collect_list(
            F.struct(
                (-F.col("l_extendedprice")).alias("neg_price"),
                F.col("l_partkey").alias("partkey"),
            )
        )
    )
    return (
        l.groupBy("l_orderkey")
        .agg(lines.alias("ls"), F.count(F.lit(1)).alias("n_lines"))
        .select(
            "l_orderkey",
            F.col("ls")[0]["partkey"].alias("top_partkey"),
            F.round(-F.col("ls")[0]["neg_price"], 2).alias("top_price"),
            "n_lines",
        )
    )


_HIERARCHY_LEVELS_SQL = """
WITH RECURSIVE tree(custkey, level) AS (
  SELECT c_custkey, 0 FROM customer WHERE c_custkey <= 9
  UNION ALL
  SELECT c.c_custkey, t.level + 1
  FROM customer c JOIN tree t ON c.c_custkey {div} 10 = t.custkey
  WHERE c.c_custkey > 9
)
SELECT
  CAST(t.level AS BIGINT) AS level,
  CAST(COUNT(*) AS BIGINT) AS n_customers,
  CAST(SUM(CAST(ROUND(c.c_acctbal, 6) AS DECIMAL(18,6))) AS DOUBLE) AS total_acctbal
FROM tree t JOIN customer c ON c.c_custkey = t.custkey
GROUP BY t.level
"""


@query(
    "sql_recursive_hierarchy_levels",
    oracle=_HIERARCHY_LEVELS_SQL.format(div="//"),
)
def sql_recursive_hierarchy_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE hierarchy traversal (Spark 4's WITH RECURSIVE): a
    customer reporting tree synthesized as parent = custkey div 10 (roots
    are single-digit keys), walked root-down with per-level rollups — the
    org-chart/BOM query shape SQL engines express recursively.

    Spark's recursion supports UNION ALL only (no dedup between steps), so
    the traversal is over a TREE — exactly one derivation path per node,
    meaning UNION ALL semantics equal UNION semantics and the row count is
    bounded by the table, not by path multiplicity. Depth is log10(keys)
    (~6 at full scale), so the recursion runs a handful of self-join
    rounds, each a broadcast-able join of the frontier against the
    customer dim. The same SQL text runs on DuckDB (dialect delta: DIV vs
    //), making this a front-end parity check, not just an operator check.
    """
    return register_views(spark, sf_dir, _HIERARCHY_LEVELS_SQL.format(div="DIV"))


_SUBTREE_TOTALS_SQL = """
WITH RECURSIVE walk(root, node) AS (
  SELECT c_custkey, c_custkey FROM customer
  UNION ALL
  SELECT w.root, c.c_custkey
  FROM customer c JOIN walk w ON c.c_custkey {div} 10 = w.node
  WHERE c.c_custkey > 9
)
SELECT
  w.root AS custkey,
  CAST(COUNT(*) - 1 AS BIGINT) AS n_descendants,
  CAST(SUM(CAST(ROUND(c.c_acctbal, 6) AS DECIMAL(18,6))) AS DOUBLE)
    AS subtree_acctbal
FROM walk w JOIN customer c ON c.c_custkey = w.node
GROUP BY w.root
HAVING COUNT(*) - 1 >= 10
"""


@query(
    "sql_recursive_subtree_totals",
    oracle=_SUBTREE_TOTALS_SQL.format(div="//"),
)
def sql_recursive_subtree_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other direction of hierarchy traversal: every node's SUBTREE
    rollup (descendant count + total balance, roots with >= 10
    descendants) via a recursive (root, node) closure walk — the
    manager-rollup / BOM-cost query. Complements
    sql_recursive_hierarchy_levels (top-down levels) with bottom-up
    aggregation; total walk size is nodes x depth (~6 here), bounded
    because the hierarchy is a tree.

    Same SQL text on both engines modulo the integer-division token.
    """
    return register_views(spark, sf_dir, _SUBTREE_TOTALS_SQL.format(div="DIV"))


stats_weighted_median_price = sql_query(
    "stats_weighted_median_price",
    """
    WITH w AS (
      SELECT l_returnflag,
             l_extendedprice AS price,
             CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem
    ), cum AS (
      SELECT l_returnflag, price, qty,
             SUM(qty) OVER (PARTITION BY l_returnflag
                            ORDER BY price, qty
                            ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(qty) OVER (PARTITION BY l_returnflag) AS total
      FROM w
    )
    SELECT l_returnflag,
           CAST(MAX(total) AS BIGINT) AS total_qty,
           ROUND(MIN(CASE WHEN 2 * cw >= total THEN price END), 6)
             AS weighted_median_price
    FROM cum GROUP BY l_returnflag
    """,
)


parts_abc_classification = sql_query(
    "parts_abc_classification",
    """
    WITH rev AS (
      SELECT l_partkey,
             SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount), 6)
                      AS DECIMAL(18,6))) AS r
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(r) OVER () AS total
      FROM rev
    ), classed AS (
      SELECT l_partkey,
             CASE WHEN CAST(cum AS DOUBLE) <= 0.8 * CAST(total AS DOUBLE)
                    THEN 'A'
                  WHEN CAST(cum AS DOUBLE) <= 0.95 * CAST(total AS DOUBLE)
                    THEN 'B'
                  ELSE 'C' END AS abc_class,
             r
      FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(r) AS DOUBLE) AS class_revenue
    FROM classed GROUP BY abc_class
    """,
)


suppliers_herfindahl_by_nation = sql_query(
    "suppliers_herfindahl_by_nation",
    """
    WITH srev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             SUM(CAST(ROUND(l.l_extendedprice * (1.0 - l.l_discount), 6)
                      AS DECIMAL(18,6))) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    ), tot AS (
      SELECT s_nationkey, SUM(r) AS t, COUNT(*) AS n_suppliers FROM srev
      GROUP BY s_nationkey
    )
    SELECT n.n_name AS nation,
           CAST(MAX(t.n_suppliers) AS BIGINT) AS n_suppliers,
           ROUND(CAST(SUM(CAST(ROUND(
             POW(CAST(s.r AS DOUBLE) / CAST(t.t AS DOUBLE), 2) * 10000.0, 6)
             AS DECIMAL(18,6))) AS DOUBLE), 4) AS hhi
    FROM srev s
    JOIN tot t ON s.s_nationkey = t.s_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
)


@query(
    "orders_halfsample_ci_mean",
    oracle="""
    WITH reps AS (SELECT UNNEST(range(0, 32)) AS b),
    marked AS (
      SELECT r.b, o.o_totalprice
      FROM orders o CROSS JOIN reps r
      WHERE CAST(CONCAT('0x', substr(md5('boot' || CAST(r.b AS VARCHAR)
                  || ':' || CAST(o.o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
            % 2 = 0
    ), means AS (
      SELECT b,
             CAST(SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)))
                  AS DOUBLE) / COUNT(*) AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM marked GROUP BY b
    ), ranked AS (
      SELECT m, ROW_NUMBER() OVER (ORDER BY m, b) AS rk FROM means
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
           ROUND(MIN(CASE WHEN rk = 2 THEN m END), 6) AS ci_lo,
           ROUND(MIN(CASE WHEN rk = 31 THEN m END), 6) AS ci_hi,
           ROUND(CAST(SUM(CAST(ROUND(m, 6) AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS replica_mean
    FROM ranked
    """,
)
def orders_halfsample_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resampling confidence interval for mean(o_totalprice) via 32
    deterministic HALF-SAMPLE replicas (each row joins replica b iff
    md5('boot'||b||':'||key) is even — subsample bootstrap, the
    replicable cousin of classic bootstrap whose Poisson draws no second
    engine can replay): the CI is the 2nd..31st order statistics of the
    replica means (~94% nominal). Every replica mean is a decimal-exact
    sum over an exactly reproducible subset — the whole inference is
    hash-verified cross-engine, something RNG-based resampling can never
    be.

    Scale shape: the 32 replicas ride ONE fact scan (cross join against a
    32-row literal range, filtered scan-side before any shuffle); the
    aggregation is 32 groups of decimal partials — resampling inference
    at a 100 TB price of one extra pass, not 32.
    """
    o = load_table(spark, sf_dir, "orders")
    reps = spark.range(0, 32).select(F.col("id").alias("b"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("boot"),
                    F.col("b").cast("string"),
                    F.lit(":"),
                    F.col("o_orderkey").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    marked = o.crossJoin(F.broadcast(reps)).where(h % 2 == 0)
    means = marked.groupBy("b").agg(
        (
            F.sum(F.round("o_totalprice", 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    w = Window.orderBy("m", "b")
    ranked = means.select("m", F.row_number().over(w).alias("rk"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_replicas"),
        F.round(F.min(F.when(F.col("rk") == 2, F.col("m"))), 6).alias("ci_lo"),
        F.round(F.min(F.when(F.col("rk") == 31, F.col("m"))), 6).alias("ci_hi"),
        F.round(
            F.sum(F.round("m", 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("replica_mean"),
    )


orders_chi2_priority_status = sql_query(
    "orders_chi2_priority_status",
    """
    WITH obs AS (
      SELECT o_orderpriority AS pri, o_orderstatus AS st,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY 1, 2
    ), rows_ AS (
      SELECT pri, SUM(n) AS nr FROM obs GROUP BY pri
    ), cols_ AS (
      SELECT st, SUM(n) AS nc FROM obs GROUP BY st
    ), tot AS (
      SELECT SUM(n) AS nn FROM obs
    ), cells AS (
      SELECT r.pri, c.st,
             COALESCE(o.n, 0) AS n,
             CAST(r.nr AS DOUBLE) * CAST(c.nc AS DOUBLE) / CAST(t.nn AS DOUBLE)
               AS e
      FROM rows_ r CROSS JOIN cols_ c CROSS JOIN tot t
      LEFT JOIN obs o ON o.pri = r.pri AND o.st = c.st
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((SELECT COUNT(*) FROM rows_) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM cols_) - 1 AS BIGINT) AS dof,
           ROUND(CAST(SUM(CAST(ROUND(
             (CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e, 6)
             AS DECIMAL(18,6))) AS DOUBLE), 4) AS chi2
    FROM cells
    """,
)


# Constant or collinear features make the determinant 0. ANSI Spark throws
# DIVIDE_BY_ZERO on double / 0 where DuckDB yields NULL, so the CASE gives
# NULL betas (and a NULL intercept) in both engines.
stats_multiple_regression = sql_query(
    "stats_multiple_regression",
    """
    WITH m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(l_quantity, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(ROUND(l_discount, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(ROUND(l_extendedprice, 6) AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(l_quantity * l_quantity, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(ROUND(l_quantity * l_discount, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s12,
             CAST(SUM(CAST(ROUND(l_discount * l_discount, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s22,
             CAST(SUM(CAST(ROUND(l_quantity * l_extendedprice, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s1y,
             CAST(SUM(CAST(ROUND(l_discount * l_extendedprice, 6) AS DECIMAL(18,6))) AS DOUBLE) AS s2y
      FROM lineitem
    ), c AS (
      SELECT n,
             s11 - s1 * s1 / CAST(n AS DOUBLE) AS v11,
             s12 - s1 * s2 / CAST(n AS DOUBLE) AS v12,
             s22 - s2 * s2 / CAST(n AS DOUBLE) AS v22,
             s1y - s1 * sy / CAST(n AS DOUBLE) AS v1y,
             s2y - s2 * sy / CAST(n AS DOUBLE) AS v2y,
             s1 / CAST(n AS DOUBLE) AS m1,
             s2 / CAST(n AS DOUBLE) AS m2,
             sy / CAST(n AS DOUBLE) AS my
      FROM m
    ), b AS (
      SELECT n, m1, m2, my,
             CASE WHEN v11 * v22 - v12 * v12 <> 0
                  THEN (v1y * v22 - v2y * v12) / (v11 * v22 - v12 * v12) END AS b1,
             CASE WHEN v11 * v22 - v12 * v12 <> 0
                  THEN (v2y * v11 - v1y * v12) / (v11 * v22 - v12 * v12) END AS b2
      FROM c
    )
    SELECT n,
           ROUND(b1, 6) AS beta_quantity,
           ROUND(b2, 6) AS beta_discount,
           ROUND(my - b1 * m1 - b2 * m2, 4) AS intercept
    FROM b
    """,
)
