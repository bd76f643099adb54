"""Data-quality and snapshot-diff primitives (pipeline operations, M3).

Two operators every 100 TB ingest pipeline runs constantly:

- dq_checks_orders: declarative constraint validation (null rate,
  key uniqueness, referential integrity, domain ranges) emitted as one
  small (check, violations) result — the dbt-test / Deequ shape. Each
  check is a plain aggregate or anti-join, so the whole battery is a few
  scans with map-side partials and one broadcast anti-join; nothing
  materializes violating rows unless a check fires.

- snapshot_diff_orders: CDC extraction between two table snapshots — the
  inserted / deleted / changed triage via a full-outer join on the key
  comparing row fingerprints (xxhash64 over the value columns). At scale
  both snapshots hash-partition on the key once; the fingerprint means
  the value columns never need to be compared field-by-field (or even
  shuffled — only key + 8-byte hash move).

Both are fully oracled: the two "snapshots" are carved deterministically
from `orders` so DuckDB reproduces the exact same diff.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._memo import SessionMemo, memo_persist
from ..registry import query, sql_query
from ..sources import load_table


dq_checks_orders = sql_query(
    "dq_checks_orders",
    """
    SELECT 'null_custkey' AS check_name,
           COUNT(*) FILTER (WHERE o_custkey IS NULL) AS violations,
           COUNT(*) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'duplicate_orderkey',
           CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'dangling_custkey_fk',
           COUNT(*),
           (SELECT COUNT(*) FROM orders)
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'orderdate_out_of_range',
           COUNT(*) FILTER (WHERE o_orderdate < DATE '1990-01-01'
                              OR o_orderdate > DATE '2030-12-31'),
           COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'nonpositive_totalprice',
           COUNT(*) FILTER (WHERE o_totalprice <= 0),
           COUNT(*)
    FROM orders
    """,
)


_DIFF_V1 = "o_orderkey % 10 != 0"  # v1 lacks keys ending in 0
_DIFF_V2 = "o_orderkey % 7 != 0"   # v2 drops %7 keys and reprices %3 keys


@query(
    "snapshot_diff_orders",
    oracle=f"""
    WITH v1 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
      FROM orders WHERE {_DIFF_V1}
    ),
    v2 AS (
      SELECT o_orderkey, o_custkey, o_orderstatus,
             CASE WHEN o_orderkey % 3 = 0
                  THEN ROUND(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE {_DIFF_V2}
    )
    SELECT
      COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
      CASE
        WHEN v1.o_orderkey IS NULL THEN 'insert'
        WHEN v2.o_orderkey IS NULL THEN 'delete'
        ELSE 'update'
      END AS change
    FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    WHERE v1.o_orderkey IS NULL OR v2.o_orderkey IS NULL
       OR v1.o_custkey != v2.o_custkey
       OR v1.o_orderstatus != v2.o_orderstatus
       OR v1.o_totalprice != v2.o_totalprice
    """,
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two deterministic snapshots of orders: keys only in v2
    are inserts, only in v1 deletes, present-in-both-with-different-values
    updates.

    The Spark side compares an xxhash64 FINGERPRINT of the value columns
    instead of the columns themselves — at scale the full-outer join
    shuffles (key, hash) pairs, never the payload (the oracle compares
    fields directly, which must produce the identical triage: the
    fingerprint may never miss a change the field compare sees, and
    xxhash64 collisions producing a missed update would hash-mismatch the
    driver compare).
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.where(_DIFF_V1)
    v2 = o.where(_DIFF_V2).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        ).otherwise(F.col("o_totalprice")),
    )

    def fp(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col("o_orderkey").alias(f"{side}_key"),
            F.xxhash64("o_custkey", "o_orderstatus", "o_totalprice").alias(
                f"{side}_fp"
            ),
        )

    joined = fp(v1, "v1").join(
        fp(v2, "v2"), F.col("v1_key") == F.col("v2_key"), "full_outer"
    )
    return (
        joined.where(
            F.col("v1_key").isNull()
            | F.col("v2_key").isNull()
            | (F.col("v1_fp") != F.col("v2_fp"))
        )
        .select(
            F.coalesce(F.col("v1_key"), F.col("v2_key")).alias("o_orderkey"),
            F.when(F.col("v1_key").isNull(), "insert")
            .when(F.col("v2_key").isNull(), "delete")
            .otherwise("update")
            .alias("change"),
        )
    )


privacy_k_anonymity_check = sql_query(
    "privacy_k_anonymity_check",
    """
    WITH cells AS (
      SELECT
        c_nationkey,
        c_mktsegment,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
        COUNT(*) AS n
      FROM customer
      GROUP BY 1, 2, 3
    )
    SELECT
      c_nationkey, c_mktsegment, bal_band, CAST(n AS BIGINT) AS n
    FROM cells
    WHERE n < 5
    """,
)


@query(
    "privacy_pseudonymize_customers",
    oracle="""
    SELECT
      sha256('cust:' || CAST(c_custkey AS VARCHAR)) AS pseudo_id,
      c_mktsegment,
      c_nationkey
    FROM customer
    """,
)
def privacy_pseudonymize_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudonymization: the stable join key is replaced by a
    salted SHA-256 digest (joinable across pseudonymized tables, not
    reversible without the salt), while analytic attributes pass through —
    the tokenization step data-sharing agreements demand.

    Scale shape: a stateless projection (no shuffle at all); both engines
    emit identical lowercase hex, so the digest doubles as a cross-engine
    integrity check.
    """
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.sha2(F.concat(F.lit("cust:"), F.col("c_custkey").cast("string")), 256).alias(
            "pseudo_id"
        ),
        "c_mktsegment",
        "c_nationkey",
    )


@query(
    "dq_profile_orders_columns",
    oracle=f"""
    SELECT 'o_orderkey' AS column_name,
      COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
      CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
      CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*),
      CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
      MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*),
      CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      CAST(COUNT(DISTINCT ROUND(o_totalprice, 6)) AS BIGINT),
      CAST(ROUND(MIN(o_totalprice), 6) AS VARCHAR),
      CAST(ROUND(MAX(o_totalprice), 6) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(*),
      CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
      CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
      MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def dq_profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling (the Deequ/Great-Expectations profiler shape): one
    row per column with null count, distinct cardinality, and min/max —
    the statistics a data catalog publishes and a constraint-suggestion
    engine consumes.

    Scale shape: ALL per-column measures compute in ONE scan — a single
    aggregation whose expressions cover every column (count-distincts
    expand to partial aggregates per column but still share the scan);
    the per-column rows are then unpivoted from the 1-row aggregate with
    stack(), never by re-reading the table per column (the naive
    profiler's O(columns) scans). Min/max emit as strings so one schema
    carries heterogeneous column types. Doubles are profiled at the
    contract's 6-decimal grain.
    """
    o = load_table(spark, sf_dir, "orders")
    row = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).cast("long").alias("nk"),
        F.countDistinct("o_orderkey").alias("dk"),
        F.min("o_orderkey").cast("string").alias("mink"),
        F.max("o_orderkey").cast("string").alias("maxk"),
        F.sum(F.when(F.col("o_orderstatus").isNull(), 1).otherwise(0)).cast("long").alias("ns"),
        F.countDistinct("o_orderstatus").alias("ds"),
        F.min("o_orderstatus").alias("mins"),
        F.max("o_orderstatus").alias("maxs"),
        F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).cast("long").alias("np"),
        F.countDistinct(F.round("o_totalprice", 6)).alias("dp"),
        F.round(F.min("o_totalprice"), 6).cast("string").alias("minp"),
        F.round(F.max("o_totalprice"), 6).cast("string").alias("maxp"),
        F.sum(F.when(F.col("o_orderpriority").isNull(), 1).otherwise(0)).cast("long").alias("no_"),
        F.countDistinct("o_orderpriority").alias("do_"),
        F.min("o_orderpriority").alias("mino"),
        F.max("o_orderpriority").alias("maxo"),
    )
    return row.select(
        F.expr(
            "stack(4,"
            " 'o_orderkey', n, nk, dk, mink, maxk,"
            " 'o_orderstatus', n, ns, ds, mins, maxs,"
            " 'o_totalprice', n, np, dp, minp, maxp,"
            " 'o_orderpriority', n, no_, do_, mino, maxo"
            ") as (column_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
        )
    )


@query(
    "dq_name_key_consistency",
    oracle="""
    SELECT
      COUNT(*) AS n_rows,
      CAST(SUM(CASE WHEN regexp_matches(c_name, '^Customer#[0-9]{9}$')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_wellformed,
      CAST(SUM(CASE WHEN TRY_CAST(substr(c_name, 10) AS BIGINT) = c_custkey
               THEN 1 ELSE 0 END) AS BIGINT) AS n_key_matches
    FROM customer
    """,
)
def dq_name_key_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denormalization-consistency check: the display name embeds the key
    ('Customer#000000042'); this audit counts rows whose name is
    well-formed AND whose embedded number equals c_custkey — the
    field-agreement constraint (dbt's relationships-with-transform test)
    that catches bad backfills where one of a redundant pair was
    regenerated. One scan, two conditional counts; the regex sticks to
    the Java/RE2-shared dialect (the text_pii_redaction discipline).
    """
    c = load_table(spark, sf_dir, "customer")
    wellformed = F.col("c_name").rlike("^Customer#[0-9]{9}$")
    key_match = F.substring("c_name", 10, 9).try_cast("bigint") == F.col("c_custkey")
    return c.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(wellformed, 1).otherwise(0)).cast("long").alias("n_wellformed"),
        F.sum(F.when(key_match, 1).otherwise(0)).cast("long").alias("n_key_matches"),
    )


dq_orders_lineitem_reconciliation = sql_query(
    "dq_orders_lineitem_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             SUM(CAST(ROUND(l_extendedprice * (1.0 - l_discount)
                            * (1.0 + l_tax), 6) AS DECIMAL(18,6))) AS charge
      FROM lineitem GROUP BY l_orderkey
    ), j AS (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice, 6) AS DECIMAL(18,6)) AS header_total,
             li.n_lines,
             li.charge,
             CASE WHEN li.l_orderkey IS NULL THEN 'no_lines'
                  WHEN ABS(CAST(CAST(ROUND(o.o_totalprice, 6) AS DECIMAL(18,6))
                                - li.charge AS DOUBLE))
                       <= 0.01 * CAST(li.n_lines AS DOUBLE)
                    THEN 'reconciled'
                  ELSE 'mismatch'
             END AS status
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ABS(COALESCE(header_total - charge, header_total))
                         AS DECIMAL(18,6))) AS DOUBLE) AS total_abs_gap
    FROM j GROUP BY status
    """,
)


@query(
    "dq_observe_scan_metrics",
    oracle="""
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS rows_scanned,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        WHERE l_discount > 0.05) AS rows_high_discount,
      (SELECT ROUND(CAST(SUM(CAST(ROUND(l_extendedprice * l_discount, 6)
                                  AS DECIMAL(18,6))) AS DOUBLE), 6)
         FROM lineitem
        WHERE l_discount >= 0.05 AND l_quantity < 24) AS revenue
    """,
)
def dq_observe_scan_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-attached observability via DataFrame.observe(): named metric
    expressions piggy-back on the business query's ONE scan (here a
    q6-shaped discount-revenue aggregate) and surface input-side counts —
    rows scanned, rows in a monitored band — with ZERO extra jobs. This
    is how production pipelines watch input drift without doubling their
    scan bill; the streaming twin of the idea is
    StreamingQueryListener-visible observe() metrics.

    Eager by design (the Observation fills when the action runs —
    tests/test_plans.py EAGER_QUERIES); every number is an exact
    aggregate, so the metrics themselves are oracled.
    """
    from pyspark.sql import Observation

    from ._util import dsum

    l = load_table(spark, sf_dir, "lineitem")
    obs = Observation()
    observed = l.observe(
        obs,
        F.count(F.lit(1)).alias("rows_scanned"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("rows_high_discount"),
    )
    rev = (
        observed.where((F.col("l_discount") >= 0.05) & (F.col("l_quantity") < 24))
        .agg(F.round(dsum(F.col("l_extendedprice") * F.col("l_discount")), 6).alias("revenue"))
        .collect()[0]["revenue"]
    )
    m = obs.get
    return spark.createDataFrame(
        [(m["rows_scanned"], m["rows_high_discount"], float(rev))],
        "rows_scanned BIGINT, rows_high_discount BIGINT, revenue DOUBLE",
    )


@query(
    "dq_benford_leading_digit",
    oracle="""
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0
    ), digits AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS d FROM cents
    ), obs AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d
    ), tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs
    )
    SELECT o.d AS leading_digit,
           o.n AS n_observed,
           ROUND(CAST(o.n AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
             AS observed_freq,
           ROUND(LN(1.0 + 1.0 / CAST(o.d AS DOUBLE)) / LN(10.0), 6)
             AS benford_freq
    FROM obs o CROSS JOIN tot t
    """,
)
def dq_benford_leading_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law screen on order totals: observed leading-digit
    frequencies next to the Benford expectation log10(1 + 1/d) — the
    classic forensic-accounting / data-fabrication probe (invented or
    uniformly-generated amounts, like this synthetic data, flunk it —
    which IS the finding the screen exists to surface). The leading
    digit comes from the INTEGER cents' decimal string (exact in both
    engines) — never from log10-and-floor, whose transcendental edge
    cases straddle digit boundaries.

    Scale shape: one scan projecting a single small int, a 9-key agg.
    """
    o = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    d = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = o.select(d.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = obs.agg(F.sum("n").cast("long").alias("total"))
    return obs.crossJoin(F.broadcast(tot)).select(
        F.col("d").alias("leading_digit"),
        F.col("n").alias("n_observed"),
        F.round(F.col("n").cast("double") / F.col("total").cast("double"), 6).alias(
            "observed_freq"
        ),
        F.round(
            F.log(F.lit(1.0) + F.lit(1.0) / F.col("d").cast("double"))
            / F.log(F.lit(10.0)),
            6,
        ).alias("benford_freq"),
    )


# (table, time column, snapshot anchor, SLA days) — the freshness contract.
# Anchors are fixed literals per data domain (TPC-H facts end 2001-08;
# events span 2024-01); in production the anchor is the pipeline's
# scheduled-run timestamp injected as a parameter.
_FRESHNESS = (
    ("orders", "o_orderdate", "2001-09-01", 35),
    ("lineitem", "l_shipdate", "2001-09-01", 45),
    ("events", "ts", "2024-02-01", 3),
)


@query(
    "dq_freshness_sla",
    oracle="""
    SELECT 'orders' AS table_name,
           strftime(MAX(CAST(o_orderdate AS TIMESTAMP)), '%Y-%m-%d') AS max_day,
           CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                          DATE '2001-09-01') AS BIGINT) AS lag_days,
           CAST(35 AS BIGINT) AS sla_days,
           date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                     DATE '2001-09-01') <= 35 AS is_fresh
    FROM orders
    UNION ALL
    SELECT 'lineitem',
           strftime(MAX(CAST(l_shipdate AS TIMESTAMP)), '%Y-%m-%d'),
           CAST(date_diff('day', CAST(MAX(l_shipdate) AS DATE),
                          DATE '2001-09-01') AS BIGINT),
           CAST(45 AS BIGINT),
           date_diff('day', CAST(MAX(l_shipdate) AS DATE),
                     DATE '2001-09-01') <= 45
    FROM lineitem
    UNION ALL
    SELECT 'events',
           strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d'),
           CAST(date_diff('day', CAST(MAX(ts) AS DATE),
                          DATE '2024-02-01') AS BIGINT),
           CAST(3 AS BIGINT),
           date_diff('day', CAST(MAX(ts) AS DATE), DATE '2024-02-01') <= 3
    FROM events
    """,
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLA audit: for every time-bearing table, the latest
    watermark, its lag against the pipeline's snapshot anchor, and a
    pass/fail against the per-table SLA — the staleness monitor that
    pages before a silently-stuck ingestion poisons downstream
    aggregates. Lags are integer day arithmetic against literal anchors
    (production injects the run timestamp); day flooring is identical in
    both engines.

    Scale shape: three MAX aggregations (map-side partial, one row out
    each) unioned — at 100 TB each max rides the table's existing scan
    or, better, its partition metadata; no shuffle carries data rows.
    """
    out = None
    for table, col, anchor, sla in _FRESHNESS:
        t = load_table(spark, sf_dir, table)
        lag = F.datediff(F.lit(anchor).cast("date"), F.max(col).cast("date"))
        row = t.agg(
            F.lit(table).alias("table_name"),
            F.date_format(F.max(col), "yyyy-MM-dd").alias("max_day"),
            lag.cast("long").alias("lag_days"),
            F.lit(sla).cast("long").alias("sla_days"),
            (lag <= sla).alias("is_fresh"),
        )
        out = row if out is None else out.unionAll(row)
    return out


dq_referential_orphan_rates = sql_query(
    "dq_referential_orphan_rates",
    """
    SELECT 'orders.o_custkey->customer' AS fk_edge,
      (SELECT COUNT(*) FROM orders) AS n_child,
      (SELECT COUNT(*) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c
                         WHERE c.c_custkey = o.o_custkey)) AS n_orphans,
      (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_child_keys
    UNION ALL
    SELECT 'lineitem.l_orderkey->orders',
      (SELECT COUNT(*) FROM lineitem),
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_orderkey = l.l_orderkey)),
      (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem)
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
      (SELECT COUNT(*) FROM lineitem),
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM part p
                         WHERE p.p_partkey = l.l_partkey)),
      (SELECT COUNT(DISTINCT l_partkey) FROM lineitem)
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
      (SELECT COUNT(*) FROM lineitem),
      (SELECT COUNT(*) FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM supplier s
                         WHERE s.s_suppkey = l.l_suppkey)),
      (SELECT COUNT(DISTINCT l_suppkey) FROM lineitem)
    """,
)


@query(
    "dq_outlier_iqr_fences",
    oracle="""
    WITH cents AS (
      SELECT c_mktsegment AS seg, c_custkey,
        CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS v
      FROM customer
    ),
    ranked AS (
      SELECT seg, v,
        ROW_NUMBER() OVER (PARTITION BY seg ORDER BY v, c_custkey) AS rn,
        COUNT(*) OVER (PARTITION BY seg) AS n
      FROM cents
    ),
    quartiles AS (
      SELECT seg,
        MAX(CASE WHEN rn = (n + 1) // 4 THEN v END) AS q1,
        MAX(CASE WHEN rn = (3 * (n + 1)) // 4 THEN v END) AS q3,
        MAX(n) AS n
      FROM ranked GROUP BY seg
    )
    SELECT c.seg AS segment,
      CAST(q.n AS BIGINT) AS n,
      q.q1 AS q1_cents, q.q3 AS q3_cents,
      COUNT(CASE WHEN 2 * c.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                   OR 2 * c.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
             THEN 1 END) AS n_outliers,
      ROUND(CAST(COUNT(CASE WHEN 2 * c.v < 2 * q.q1 - 3 * (q.q3 - q.q1)
                              OR 2 * c.v > 2 * q.q3 + 3 * (q.q3 - q.q1)
                        THEN 1 END) AS DOUBLE)
            / CAST(q.n AS DOUBLE), 6) AS outlier_share
    FROM cents c JOIN quartiles q ON q.seg = c.seg
    GROUP BY c.seg, q.n, q.q1, q.q3
    """,
)
def dq_outlier_iqr_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR-fence outlier census per market segment: values beyond
    Q1 - 1.5*IQR / Q3 + 1.5*IQR of account balance — the boxplot outlier
    rule every data-quality profiler reports next to z-scores (robust
    where the z-score's own mean/sd are outlier-contaminated).

    Exactness: quartiles are ACTUAL SAMPLE VALUES at ranks (n+1)//4 and
    3(n+1)//4 (ROW_NUMBER over (cents, custkey) — the Brown-Forsythe
    lower-median trick), and the 1.5x fences clear the fraction by
    doubling: outlier iff 2v < 2*q1 - 3*iqr or 2v > 2*q3 + 3*iqr — pure
    int64 predicates, no float anywhere before the final share.

    At 100 TB: one segment-partitioned rank window over the dimension,
    a 5-row quartile rollup, one counting join back.
    """
    c = load_table(spark, sf_dir, "customer")
    cents = c.select(
        F.col("c_mktsegment").alias("seg"),
        "c_custkey",
        F.round(F.col("c_acctbal") * 100, 0).cast("bigint").alias("v"),
    )
    w_rank = Window.partitionBy("seg").orderBy("v", "c_custkey")
    w_seg = Window.partitionBy("seg")
    ranked = cents.select(
        "seg",
        "v",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_seg).alias("n"),
    )
    quartiles = ranked.groupBy("seg").agg(
        F.max(
            F.when(F.col("rn") == F.floor((F.col("n") + 1) / 4), F.col("v"))
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") == F.floor((3 * (F.col("n") + 1)) / 4), F.col("v")
            )
        ).alias("q3"),
        F.max("n").alias("n"),
    )
    joined = cents.join(F.broadcast(quartiles), "seg")
    iqr = F.col("q3") - F.col("q1")
    is_out = (2 * F.col("v") < 2 * F.col("q1") - 3 * iqr) | (
        2 * F.col("v") > 2 * F.col("q3") + 3 * iqr
    )
    return joined.groupBy(
        F.col("seg").alias("segment"), "n", "q1", "q3"
    ).agg(
        F.count(F.when(is_out, 1)).alias("n_outliers"),
        F.round(
            F.count(F.when(is_out, 1)).cast("double") / F.col("n").cast("double"),
            6,
        ).alias("outlier_share"),
    ).select(
        "segment",
        F.col("n").cast("bigint").alias("n"),
        F.col("q1").alias("q1_cents"),
        F.col("q3").alias("q3_cents"),
        "n_outliers",
        "outlier_share",
    )


privacy_l_diversity_check = sql_query(
    "privacy_l_diversity_check",
    """
    WITH groups AS (
      SELECT c_nationkey, c_mktsegment,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000.0) AS BIGINT))
             AS BIGINT) AS diversity
      FROM customer
      GROUP BY 1, 2
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(COUNT(CASE WHEN diversity < 3 THEN 1 END) AS BIGINT)
        AS n_violating,
      CAST(MIN(diversity) AS BIGINT) AS min_diversity,
      ROUND(CAST(COUNT(CASE WHEN diversity < 3 THEN 1 END) AS DOUBLE)
            / COUNT(*), 6) AS violating_share
    FROM groups
    """,
)


# (nation, segment, bucket) counts — every t-closeness distribution
# derives from this finest rollup
_TCLOSE_CELLS_CACHE = SessionMemo("quality.tclose_cells")


@query(
    "privacy_t_closeness_emd",
    oracle="""
    WITH rows_ AS (
      SELECT c_nationkey AS nk, c_mktsegment AS seg,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b
      FROM customer
    ),
    gl AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS qc FROM rows_ GROUP BY b
    ),
    grp AS (
      SELECT nk, seg, CAST(COUNT(*) AS BIGINT) AS ng FROM rows_
      GROUP BY 1, 2
    ),
    cells AS (
      SELECT nk, seg, b, CAST(COUNT(*) AS BIGINT) AS pc FROM rows_
      GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT g.nk, g.seg, g.ng, gl.b, gl.qc, COALESCE(c.pc, 0) AS pc,
        CAST((SELECT SUM(qc) FROM gl) AS BIGINT) AS n,
        CAST((SELECT COUNT(*) FROM gl) AS BIGINT) AS m
      FROM grp g CROSS JOIN gl
      LEFT JOIN cells c ON c.nk = g.nk AND c.seg = g.seg AND c.b = gl.b
    ),
    cum AS (
      SELECT nk, seg, ng, n, m,
        ABS(SUM(pc) OVER w * n - SUM(qc) OVER w * ng) AS t_b
      FROM grid
      WINDOW w AS (PARTITION BY nk, seg ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    emd AS (
      SELECT nk, seg, ng, MAX(n) AS n, MAX(m) AS m,
        CAST(SUM(t_b) AS BIGINT) AS tsum
      FROM cum GROUP BY nk, seg, ng
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(MAX(m) AS BIGINT) AS n_buckets,
      ROUND(MAX(CAST(tsum AS DOUBLE)
                / (CAST(m - 1 AS DOUBLE) * CAST(ng AS DOUBLE)
                   * CAST(n AS DOUBLE))), 6) AS max_emd,
      CAST(COUNT(CASE WHEN 5 * tsum > (m - 1) * ng * n THEN 1 END)
           AS BIGINT) AS n_violating_t02
    FROM emd
    """,
)
def privacy_t_closeness_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness check on the (nation, segment) quasi-identifier
    groups: ordered earth-mover's distance between each group's
    acctbal-bucket distribution and the global one,
    EMD = sum_j |cum(p - q)| / (m-1) — the distributional-privacy member
    beside k-anonymity (group size) and l-diversity (distinct values):
    a group can be large AND diverse yet still leak if its sensitive
    distribution diverges from the population's.

    Integer-exact EMD: |cum(p) - cum(q)| = |cumP*N - cumQ*n_g| /
    (n_g N), so each group's EMD is an exact integer sum divided ONCE;
    the t = 0.2 violation test cross-multiplies (5*sum > (m-1) n_g N)
    and never touches a float. (At warehouse scale cumP*N approaches
    BIGINT limits — widen the products to DECIMAL(38,0); the comparison
    stays exact.)

    At 100 TB: three aggregates over the dimension, a groups x buckets
    grid (~125 x ~40 rows), one ordered window per group.
    """
    c = load_table(spark, sf_dir, "customer")
    rows_ = c.select(
        F.col("c_nationkey").alias("nk"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("b"),
    )
    # ONE customer scan: the finest rollup (cells) is memo-persisted and
    # every coarser distribution (bucket marginals, group sizes, global
    # constants) derives from it (scan_audit/lesson 27; memo per
    # lesson 30)
    cells = memo_persist(
        _TCLOSE_CELLS_CACHE,
        spark,
        sf_dir,
        lambda: rows_.groupBy("nk", "seg", "b").agg(
            F.count(F.lit(1)).cast("bigint").alias("pc")
        ),
    )
    gl = cells.groupBy("b").agg(F.sum("pc").cast("bigint").alias("qc"))
    grp = cells.groupBy("nk", "seg").agg(
        F.sum("pc").cast("bigint").alias("ng")
    )
    consts = gl.agg(
        F.sum("qc").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    grid = (
        grp.crossJoin(F.broadcast(gl))
        .join(cells, ["nk", "seg", "b"], "left")
        .na.fill({"pc": 0})
        .crossJoin(F.broadcast(consts))
    )
    wc = (
        Window.partitionBy("nk", "seg")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = grid.select(
        "nk",
        "seg",
        "ng",
        "n",
        "m",
        F.abs(
            F.sum("pc").over(wc) * F.col("n")
            - F.sum("qc").over(wc) * F.col("ng")
        ).alias("t_b"),
    )
    emd = cum.groupBy("nk", "seg", "ng").agg(
        F.max("n").alias("n"),
        F.max("m").alias("m"),
        F.sum("t_b").cast("bigint").alias("tsum"),
    )
    emd_val = F.col("tsum").cast("double") / (
        (F.col("m") - 1).cast("double")
        * F.col("ng").cast("double")
        * F.col("n").cast("double")
    )
    violates = 5 * F.col("tsum") > (F.col("m") - 1) * F.col("ng") * F.col("n")
    return emd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.max("m").cast("bigint").alias("n_buckets"),
        F.round(F.max(emd_val), 6).alias("max_emd"),
        F.count(F.when(violates, 1)).cast("bigint").alias(
            "n_violating_t02"
        ),
    )
