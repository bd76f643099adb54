"""Approximate/sketch aggregations + grouping sets (SURVEY.md §2b).

Sketches (HLL++, t-digest-style quantiles) are the 100 TB substitutes for
exact distinct counts and percentiles: single-pass, mergeable partials, fixed
memory. Their values are implementation-defined, so DuckDB cannot oracle
them — instead tests/test_sketches.py bounds their relative error against
the exact answers (which ARE oracled elsewhere: agg_global_stats,
stats_percentiles_by_flag).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._memo import SessionMemo, memo_persist
from ..registry import query, sql_query
from ..sources import load_table


@query(
    "approx_distinct_counts",
    oracle="""
    SELECT
      COUNT(DISTINCT l_orderkey) AS exact_orders,
      COUNT(DISTINCT l_partkey)  AS exact_parts,
      COUNT(DISTINCT l_suppkey)  AS exact_supps,
      TRUE AS orders_within_bound,
      TRUE AS parts_within_bound,
      TRUE AS supps_within_bound
    FROM lineitem
    """,
)
def approx_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct counts (rsd 1%) next to the exact shuffle-heavy ones.

    Exact countDistinct shuffles every distinct value; HLL++ shuffles one
    ~kB sketch per partition — the difference between O(n) and O(1) shuffle
    bytes at 100 TB.

    ORACLED via the determinize-and-oracle recipe for approximate
    algorithms: the HLL++ register values are implementation-defined (no
    other engine can reproduce them), but the estimator's ERROR CONTRACT
    is portable — so the output carries the exact counts plus a
    within-bound flag per key (|approx − exact| ≤ 5·rsd·exact, five
    standard errors ≈ zero flake probability), and DuckDB recomputes the
    exact counts and asserts the flags TRUE. A broken sketch (bad merge,
    register truncation) trips the hash compare; the sketch path stays in
    the executed plan.
    """
    l = load_table(spark, sf_dir, "lineitem")
    # Two one-row aggregates, cross-joined. In one agg with the
    # countDistincts, Spark's Expand rewrite gives every distinct-key group
    # its own HLL++ buffer (130 s at sf0.1 against 3 s apart, 4-core box).
    approx = l.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("approx_parts"),
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("approx_supps"),
    )
    exact = l.agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
    )
    agg = approx.crossJoin(exact)

    def ok(approx: str, exact: str):
        err = F.abs(F.col(approx) - F.col(exact)).cast("double")
        return err <= F.lit(0.05) * F.col(exact).cast("double")

    return agg.select(
        "exact_orders",
        "exact_parts",
        "exact_supps",
        ok("approx_orders", "exact_orders").alias("orders_within_bound"),
        ok("approx_parts", "exact_parts").alias("parts_within_bound"),
        ok("approx_supps", "exact_supps").alias("supps_within_bound"),
    )


@query(
    "approx_percentiles",
    oracle="""
    SELECT
      l_returnflag,
      COUNT(*) AS n,
      TRUE AS median_rank_ok,
      TRUE AS p95_rank_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna, accuracy 10000) per return flag.

    ORACLED via the error-contract recipe (see approx_distinct_counts):
    GK's guarantee is a RANK bound — the returned value's rank interval
    [count(<v)+1, count(≤v)] must intersect [(p−ε)n, (p+ε)n] with
    ε = 1/accuracy = 1e-4 (checked at 5ε for flake-free margin). The query
    joins the 3-row per-flag approx values back onto the fact, counts
    strict/inclusive ranks in one conditional-agg pass, and emits the
    per-flag bound flags next to the exact row counts; DuckDB recomputes
    the counts and asserts the flags. The GK sketch path stays executed.
    """
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    a = l.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "approx_median"
        ),
        F.approx_percentile("l_extendedprice", F.lit(0.95), F.lit(10000)).alias(
            "approx_p95"
        ),
    )
    j = l.join(a, "l_returnflag")
    chk = j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.count(F.when(F.col("l_extendedprice") <= F.col("approx_median"), 1)).alias("le_med"),
        F.count(F.when(F.col("l_extendedprice") < F.col("approx_median"), 1)).alias("lt_med"),
        F.count(F.when(F.col("l_extendedprice") <= F.col("approx_p95"), 1)).alias("le_p95"),
        F.count(F.when(F.col("l_extendedprice") < F.col("approx_p95"), 1)).alias("lt_p95"),
    )
    eps = 5e-4  # 5x the 1/accuracy guarantee

    def rank_ok(le: str, lt: str, p: float):
        nd = F.col("n").cast("double")
        return (F.col(le).cast("double") >= (F.lit(p) - F.lit(eps)) * nd) & (
            F.col(lt).cast("double") <= (F.lit(p) + F.lit(eps)) * nd
        )

    return chk.select(
        "l_returnflag",
        "n",
        rank_ok("le_med", "lt_med", 0.5).alias("median_rank_ok"),
        rank_ok("le_p95", "lt_p95", 0.95).alias("p95_rank_ok"),
    )


grouping_sets_sales = sql_query(
    "grouping_sets_sales",
    """
    SELECT
      COALESCE(l_returnflag, 'ALL') AS flag,
      COALESCE(l_linestatus, 'ALL') AS status,
      CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid,
      COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)


@query(
    "hll_users_daily_merge_monthly",
    oracle="""
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events)
    SELECT
      CAST(date_trunc('month', day) AS VARCHAR) AS month,
      COUNT(DISTINCT day) AS n_days,
      COUNT(DISTINCT user_id) AS exact_monthly_users,
      TRUE AS est_within_bound,
      TRUE AS merge_matches_direct
    FROM du GROUP BY date_trunc('month', day)
    """,
)
def hll_users_daily_merge_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, the
    engine-native re-aggregation path approx_count_distinct lacks): build
    one user sketch PER DAY, then roll days into months by merging the
    SKETCHES — never re-touching the raw events.

    This is the 100 TB idiom for distinct counts across rollup grains: the
    daily sketch table is tiny (one ~KB binary per day), monthly/yearly/
    total distincts all derive from sketch unions, and late data only
    rebuilds its own day. A plain approx_count_distinct per grain would
    re-scan the fact for every grain; COUNT(DISTINCT) would shuffle the
    full (day, user) set each time.

    ORACLED via the determinize-and-oracle recipe (see
    approx_distinct_counts): the register values are engine-specific, so
    the output carries the EXACT monthly distincts (DuckDB recomputes them)
    plus two contract flags the sketch path must earn — est_within_bound
    (|merged estimate − exact| ≤ 5% · exact; HLL lgK=12 rsd ≈ 1.6%, so 5%
    is ≈3σ and deterministic for fixed input) and merge_matches_direct
    (the daily-sketch union's estimate equals a sketch built directly at
    month grain: HLL union is lossless, so ANY merge defect — register
    truncation, wrong lgK, bad serde — flips this to false and trips the
    driver's hash compare). The exact countDistinct exists only to
    determinize the oracle; the production path at scale is the sketch.

    Maintenance note: merge_matches_direct / union_matches_direct use exact
    float equality between the unioned and directly-built estimates. That
    is deterministic for a FIXED Spark/DataSketches build; if a Spark
    upgrade changes the union gadget's target type or estimator, these
    flags can flip with no real accuracy regression — a red here after a
    dependency bump means re-baseline the contract, not a data bug.
    """
    e = load_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id")
    month = F.date_trunc("month", F.col("day")).cast("date").cast("string")
    merged = (
        du.groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
        .groupBy(month.alias("month"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"),
            F.count(F.lit(1)).alias("n_days"),
        )
    )
    direct = du.groupBy(month.alias("month")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.countDistinct("user_id").alias("exact_monthly_users"),
    )
    return merged.join(direct, "month").select(
        "month",
        "n_days",
        "exact_monthly_users",
        (
            F.abs(F.col("est") - F.col("exact_monthly_users"))
            <= F.lit(0.05) * F.col("exact_monthly_users").cast("double")
        ).alias("est_within_bound"),
        (F.col("est") == F.col("direct_est")).alias("merge_matches_direct"),
    )


@query(
    "hll_users_rollup_grains",
    oracle="""
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    rows_all AS (
      SELECT 'day' AS grain, CAST(day AS VARCHAR) AS bucket,
             COUNT(DISTINCT user_id) AS exact_users
      FROM du GROUP BY day
      UNION ALL
      SELECT 'month', CAST(date_trunc('month', day) AS VARCHAR),
             COUNT(DISTINCT user_id)
      FROM du GROUP BY date_trunc('month', day)
      UNION ALL
      SELECT 'total', 'all', COUNT(DISTINCT user_id) FROM du
    )
    SELECT grain, bucket, exact_users,
           TRUE AS est_within_bound, TRUE AS union_matches_direct
    FROM rows_all
    """,
)
def hll_users_rollup_grains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users at EVERY grain — day, month, total — derived from one
    daily sketch table by unioning sketches upward (grain = 'day' rows use
    the day's own sketch).

    This is why mergeable sketches beat approx_count_distinct at scale: a
    single fact scan builds the daily sketches; every coarser grain is a
    union over the tiny sketch table, where an approx_count_distinct rollup
    would rescan the fact per grain and COUNT(DISTINCT) would shuffle the
    raw (grain, user) set for each.

    ORACLED via the determinize-and-oracle recipe: each grain row carries
    its EXACT distinct count (DuckDB recomputes all three grains) plus
    est_within_bound (union estimate within 5% of exact, ≈3σ at lgK=12)
    and union_matches_direct (the upward sketch union's estimate equals a
    sketch built directly at that grain — lossless-union law at every
    level; trivially true at 'day' where the sketch IS direct). The sketch
    path stays in the executed plan; the exacts only determinize the
    oracle.
    """
    e = load_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id")
    daily = (
        du.groupBy("day")
        .agg(
            F.hll_sketch_agg("user_id").alias("sketch"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .persist()
    )
    month = F.date_trunc("month", F.col("day")).cast("date").cast("string")

    def flags(est, direct, exact):
        bound = F.abs(est - exact.cast("double")) <= F.lit(0.05) * exact.cast(
            "double"
        )
        return bound.alias("est_within_bound"), (est == direct).alias(
            "union_matches_direct"
        )

    est_d = F.hll_sketch_estimate("sketch")
    day_rows = daily.select(
        F.lit("day").alias("grain"),
        F.col("day").cast("string").alias("bucket"),
        "exact_users",
        *flags(est_d, est_d, F.col("exact_users")),
    )
    m_direct = du.groupBy(month.alias("bucket")).agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    month_rows = (
        daily.groupBy(month.alias("bucket"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"))
        .join(m_direct, "bucket")
        .select(
            F.lit("month").alias("grain"),
            "bucket",
            "exact_users",
            *flags(F.col("est"), F.col("direct_est"), F.col("exact_users")),
        )
    )
    t_direct = du.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_est"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    total_rows = (
        daily.agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"))
        .crossJoin(t_direct)
        .select(
            F.lit("total").alias("grain"),
            F.lit("all").alias("bucket"),
            "exact_users",
            *flags(F.col("est"), F.col("direct_est"), F.col("exact_users")),
        )
    )
    return day_rows.unionByName(month_rows).unionByName(total_rows)


@query(
    "hll_rolling_7d_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du),
    contrib AS (
      SELECT d.day AS target_day, du.day AS src_day, du.user_id
      FROM du JOIN days d ON d.day >= du.day AND d.day <= du.day + 6
    )
    SELECT CAST(target_day AS VARCHAR) AS day,
           COUNT(DISTINCT src_day) AS n_days_merged,
           COUNT(DISTINCT user_id) AS exact_users_7d,
           TRUE AS est_within_bound
    FROM contrib GROUP BY target_day
    """,
)
def hll_rolling_7d_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct actives from DAILY SKETCHES: each target day
    unions the <=7 daily sketches in its window — the sketch twin of
    events_rolling_7d_distinct_users (which recomputes from deduped
    (day,user) pairs).

    The scale contrast is the point: the exact query's second aggregation
    is O(7 x |day-user pairs|); this one is O(7 x |days|) sketch merges
    over a KB-sized table — the fact is touched once, ever, to build the
    daily sketches, and ANY trailing window (7d, 28d, 90d) reuses them.

    ORACLED via the determinize-and-oracle recipe: alongside the sketch
    path the output carries the exact trailing-7d distincts (computed with
    the same bounded day-fan-out as events_rolling_7d_distinct_users;
    DuckDB replays it) and est_within_bound — the unioned estimate within
    5% of exact per target day (≈3σ at lgK=12; sparse-mode HLL is exact
    for small days, so low-cardinality days cannot flake).
    """
    e = load_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    daily = (
        du.groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
        .persist()
    )
    targets = daily.select(F.col("day").alias("target_day"))
    est = (
        daily.join(
            F.broadcast(targets),
            (F.col("target_day") >= F.col("day"))
            & (F.col("target_day") <= F.date_add(F.col("day"), 6)),
        )
        .groupBy(F.col("target_day").cast("string").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_7d"),
            F.count(F.lit(1)).alias("n_days_merged"),
        )
    )
    exact = (
        du.join(
            F.broadcast(targets),
            (F.col("target_day") >= F.col("day"))
            & (F.col("target_day") <= F.date_add(F.col("day"), 6)),
        )
        .groupBy(F.col("target_day").cast("string").alias("day"))
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    return est.join(exact, "day").select(
        "day",
        "n_days_merged",
        "exact_users_7d",
        (
            F.abs(F.col("est_7d") - F.col("exact_users_7d"))
            <= F.lit(0.05) * F.col("exact_users_7d").cast("double")
        ).alias("est_within_bound"),
    )


HIST_QUANTILES_ORACLE = """
    WITH bounds AS (
      SELECT MIN(value) AS lo, MAX(value) AS hi FROM events WHERE value IS NOT NULL
    ), binned AS (
      SELECT
        event_type,
        strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day,
        LEAST(CAST(floor((value - lo) / ((hi - lo) / 1000.0)) AS BIGINT), 999) AS bin,
        COUNT(*) AS n
      FROM events CROSS JOIN bounds
      WHERE value IS NOT NULL
      GROUP BY 1, 2, 3
    ), merged AS (
      SELECT event_type, bin, CAST(SUM(CAST(n AS BIGINT)) AS BIGINT) AS n
      FROM binned GROUP BY event_type, bin
    ), cum AS (
      SELECT
        event_type, bin, n,
        SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
        SUM(n) OVER (PARTITION BY event_type) AS total
      FROM merged
    ), qbins AS (
      SELECT
        event_type,
        MIN(CASE WHEN c >= 0.50 * total THEN bin END) AS b50,
        MIN(CASE WHEN c >= 0.95 * total THEN bin END) AS b95,
        MIN(CASE WHEN c >= 0.99 * total THEN bin END) AS b99
      FROM cum GROUP BY event_type
    )
    SELECT
      event_type,
      ROUND(lo + (b50 + 0.5) * ((hi - lo) / 1000.0), 6) AS p50_approx,
      ROUND(lo + (b95 + 0.5) * ((hi - lo) / 1000.0), 6) AS p95_approx,
      ROUND(lo + (b99 + 0.5) * ((hi - lo) / 1000.0), 6) AS p99_approx
    FROM qbins CROSS JOIN bounds
    """


@query("hist_quantiles_daily_merge", oracle=HIST_QUANTILES_ORACLE)
def hist_quantiles_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketching — the quantile analogue of the HLL
    merge family: per-(type, DAY) equi-width histograms (1000 bins over
    the global value range) are built once, then MERGED by bin addition
    into per-type quantile estimates (p50/p95/p99, bin-midpoint rule).
    One daily histogram table serves any grain — day, month, total,
    trailing windows — by summation, which is why production pipelines
    store histogram/KLL sketches instead of re-scanning the fact per
    report. Error is bounded by bin width = range/1000.

    Scale shape: the fact collapses to (type, day, bin) integer counts in
    one map-side-partial pass (the sketch build); merging is an
    aggregation over sketch rows — never touching the fact again. All
    sketch arithmetic is integer/exact (bounds come from exact MIN/MAX),
    so the approximation itself is deterministic and a SQL oracle
    recomputes it bit-for-bit — an ORACLED approximate algorithm.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bounds = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 1000.0
    binned = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            F.least(
                F.floor((F.col("value") - F.col("lo")) / width).cast("long"),
                F.lit(999),
            ).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    merged = binned.groupBy("event_type", "bin").agg(
        F.sum("n").cast("long").alias("n")
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "bin",
        F.sum("n").over(wc).alias("c"),
        F.sum("n").over(wt).alias("total"),
    )
    qbins = cum.groupBy("event_type").agg(
        F.min(F.when(F.col("c") >= 0.50 * F.col("total"), F.col("bin"))).alias("b50"),
        F.min(F.when(F.col("c") >= 0.95 * F.col("total"), F.col("bin"))).alias("b95"),
        F.min(F.when(F.col("c") >= 0.99 * F.col("total"), F.col("bin"))).alias("b99"),
    )
    return qbins.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.round(F.col("lo") + (F.col("b50") + 0.5) * width, 6).alias("p50_approx"),
        F.round(F.col("lo") + (F.col("b95") + 0.5) * width, 6).alias("p95_approx"),
        F.round(F.col("lo") + (F.col("b99") + 0.5) * width, 6).alias("p99_approx"),
    )


_CMS_D, _CMS_W = 4, 256


def _cms_bucket(j: int, key):
    """Portable CMS hash row j: md5-derived 32-bit value mod width, identical
    text recipe in Spark and DuckDB (registry float/hash portability contract)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"cms{j}:"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % _CMS_W
    )


CMS_ORACLE = f"""
    WITH keys AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM events GROUP BY user_id
    ),
    kh AS (
      SELECT user_id, exact_count, j,
             CAST(CONCAT('0x', substr(md5(
               'cms' || CAST(j AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)
             ), 1, 8)) AS BIGINT) % {_CMS_W} AS bucket
      FROM keys CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS j) js
    ),
    sketch AS (
      SELECT j, bucket, CAST(SUM(exact_count) AS BIGINT) AS c
      FROM kh GROUP BY j, bucket
    ),
    est AS (
      SELECT k.user_id, k.exact_count, MIN(s.c) AS est_count
      FROM kh k JOIN sketch s ON k.j = s.j AND k.bucket = s.bucket
      GROUP BY k.user_id, k.exact_count
    )
    SELECT user_id, est_count, exact_count
    FROM est ORDER BY est_count DESC, user_id LIMIT 20
    """


@query("sketch_cms_heavy_hitters", oracle=CMS_ORACLE)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters with PORTABLE hashes — an ORACLED
    approximate algorithm (like hist_quantiles_daily_merge): depth=4 md5-row
    hashes, width=256, estimate = min over rows, top-20 by estimate.

    CMS is deterministic given its hash family, so DuckDB replays the exact
    sketch — est_count matches bit-for-bit, and est_count >= exact_count by
    construction (one-sided error; tests/test_sketches.py asserts the bound).

    Scale shape: the sketch is built from the (user_id, count) AGGREGATE —
    additivity means hashing distinct keys weighted by their counts yields
    the identical sketch as hashing raw events, at ~1/70th the rows here
    (and ~1/10^6 at 100 TB). One fact shuffle (the exact per-key counts);
    the 4x256-cell sketch broadcasts back for the min-probe. At 100 TB the
    sketch stays 4 KB regardless of key cardinality — the entire point.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id")
    keys = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("exact_count")
    )
    depth = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"), _cms_bucket(j, F.col("user_id")).alias("bucket")
            )
            for j in range(_CMS_D)
        ]
    )
    kh = keys.select(
        "user_id", "exact_count", F.explode(depth).alias("e")
    ).select("user_id", "exact_count", "e.j", "e.bucket")
    sketch = kh.groupBy("j", "bucket").agg(
        F.sum("exact_count").cast("long").alias("c")
    )
    est = (
        kh.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").alias("est_count"))
    )
    return est.select("user_id", "est_count", "exact_count").orderBy(
        F.desc("est_count"), "user_id"
    ).limit(20)


_KMV_K = 32
_KMV_POW = "1152921504606846976.0"  # 2^60 — exact as a double


KMV_ORACLE = f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    h AS (
      SELECT event_type, user_id,
             CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv
      FROM du
    ),
    ranked AS (
      SELECT event_type, hv,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS nd
      FROM h
    ),
    per_type AS (
      SELECT event_type,
             CAST(MAX(nd) AS BIGINT) AS exact_distinct,
             CASE WHEN MAX(nd) <= {_KMV_K} THEN CAST(MAX(nd) AS DOUBLE)
                  ELSE ROUND(CAST({_KMV_K - 1} AS DOUBLE)
                             * ({_KMV_POW}
                                / CAST(MAX(CASE WHEN rk = {_KMV_K} THEN hv END)
                                    AS DOUBLE)), 4)
             END AS est_distinct
      FROM ranked GROUP BY event_type
    ),
    merged AS (
      SELECT DISTINCT hv FROM ranked WHERE rk <= {_KMV_K}
    ),
    mranked AS (
      SELECT hv, ROW_NUMBER() OVER (ORDER BY hv) AS rk FROM merged
    ),
    exact_all AS (SELECT COUNT(DISTINCT user_id) AS nd FROM events),
    union_row AS (
      SELECT 'ALL' AS event_type,
             CAST((SELECT nd FROM exact_all) AS BIGINT) AS exact_distinct,
             CASE WHEN (SELECT COUNT(*) FROM mranked) < {_KMV_K}
                  THEN CAST((SELECT nd FROM exact_all) AS DOUBLE)
                  ELSE ROUND(CAST({_KMV_K - 1} AS DOUBLE)
                             * ({_KMV_POW}
                                / CAST((SELECT hv FROM mranked
                                        WHERE rk = {_KMV_K}) AS DOUBLE)), 4)
             END AS est_distinct
    )
    SELECT * FROM per_type UNION ALL SELECT * FROM union_row
    """


@query("sketch_kmv_distinct_users", oracle=KMV_ORACLE)
def sketch_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002) with
    PORTABLE md5 hashes — an ORACLED approximate distinct, where HLL
    (hll_users_*) is engine-opaque: estimate = (k-1) / u_(k), the k-th
    smallest hash normalized to [0,1). One row per event_type plus a
    merged 'ALL' row built FROM the per-type sketches (k smallest of the
    union of k-smallest lists == k smallest of the union — KMV's merge
    law), demonstrating sketch mergeability with exact cross-engine
    replay. Types with < k distinct users report their exact count (the
    sketch IS exact below k).

    Scale shape: one (event_type, user_id) dedup shuffle; the per-type
    window ranks within each type's distinct users, and everything past
    rank k is discarded — per-type state is k 8-byte values no matter how
    many billions of users, and the merged estimate touches only the 5k
    retained values.
    """
    e = load_table(spark, sf_dir, "events")
    du = e.select("event_type", "user_id").distinct()
    hv = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast(
        "bigint"
    )
    h = du.select("event_type", hv.alias("hv"))
    wrk = Window.partitionBy("event_type").orderBy("hv")
    wnd = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hv",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wnd).alias("nd"),
    )
    kth = F.max(F.when(F.col("rk") == _KMV_K, F.col("hv")))
    est = F.when(
        F.max("nd") <= _KMV_K, F.max("nd").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(_KMV_K - 1))
            * (F.lit(float(_KMV_POW)) / kth.cast("double")),
            4,
        )
    )
    per_type = ranked.groupBy("event_type").agg(
        F.max("nd").cast("long").alias("exact_distinct"), est.alias("est_distinct")
    )
    merged = ranked.where(F.col("rk") <= _KMV_K).select("hv").distinct()
    mranked = merged.select(
        "hv", F.row_number().over(Window.orderBy("hv")).alias("rk")
    )
    exact_all = e.agg(F.countDistinct("user_id").cast("long").alias("nd"))
    mstats = mranked.agg(
        F.count(F.lit(1)).alias("m_n"),
        F.max(F.when(F.col("rk") == _KMV_K, F.col("hv"))).alias("m_kth"),
    )
    union_row = exact_all.crossJoin(F.broadcast(mstats)).select(
        F.lit("ALL").alias("event_type"),
        F.col("nd").alias("exact_distinct"),
        F.when(F.col("m_n") < _KMV_K, F.col("nd").cast("double"))
        .otherwise(
            F.round(
                F.lit(float(_KMV_K - 1))
                * (F.lit(float(_KMV_POW)) / F.col("m_kth").cast("double")),
                4,
            )
        )
        .alias("est_distinct"),
    )
    return per_type.unionByName(union_row)


_THETA_K = 128  # retained minima per set sketch


@query(
    "sketch_theta_intersection",
    oracle=f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE event_type IN ('view', 'purchase')
    ),
    h AS (
      SELECT event_type, user_id,
        CAST(CONCAT('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
             AS BIGINT) AS hv
      FROM du
    ),
    ranked AS (
      SELECT event_type, hv,
        ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hv) AS rk,
        COUNT(*) OVER (PARTITION BY event_type) AS nd
      FROM h
    ),
    thetas AS (
      SELECT event_type,
        CASE WHEN MAX(nd) < {_THETA_K}
             THEN CAST({_KMV_POW} AS BIGINT)
             ELSE MAX(CASE WHEN rk = {_THETA_K} THEN hv END) END AS theta
      FROM ranked GROUP BY event_type
    ),
    theta AS (SELECT MIN(theta) AS th FROM thetas),
    both_users AS (
      SELECT user_id FROM du GROUP BY user_id HAVING COUNT(*) = 2
    ),
    cand AS (
      SELECT COUNT(*) AS n_cand
      FROM both_users b, theta t
      WHERE CAST(CONCAT('0x', substr(md5(CAST(b.user_id AS VARCHAR)), 1, 15))
                 AS BIGINT) < t.th
    )
    SELECT
      (SELECT COUNT(*) FROM both_users) AS exact_intersection,
      (SELECT CAST(n_cand AS BIGINT) FROM cand) AS sketch_candidates,
      ROUND((SELECT CAST(n_cand AS DOUBLE) FROM cand)
            * ({_KMV_POW} / (SELECT CAST(th AS DOUBLE) FROM theta)), 4)
        AS est_intersection,
      (ABS(ROUND((SELECT CAST(n_cand AS DOUBLE) FROM cand)
                 * ({_KMV_POW} / (SELECT CAST(th AS DOUBLE) FROM theta)), 4)
           - (SELECT COUNT(*) FROM both_users))
       <= GREATEST(24.0, 0.35 * (SELECT COUNT(*) FROM both_users)))
        AS within_bound
    """,
)
def sketch_theta_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set INTERSECTION (Dasgupta et al., the DataSketches
    theta family): estimate the overlap of two user sets ('view' vs
    'purchase' actives) from their KMV sketches alone — theta = the
    smaller of the two sketches' k-th minima ({_THETA_K} retained values
    each); every common hash below theta is an intersection witness and
    the estimate is |witnesses| / (theta / 2^60). With PORTABLE md5
    hashes the whole sketch path replays bit-exactly in DuckDB, so this
    approximate operator is ORACLED (the same error-contract recipe as
    the hll_* family: the exact overlap and a within-bound flag ride
    beside the executed sketch path — a red flag after a dependency bump
    means re-baselining the bound, not a data bug; the sketch numbers
    themselves are portable-exact).

    Scale shape: one dedup shuffle per set; per-set state is {_THETA_K}
    8-byte minima regardless of cardinality, and the intersection reads
    only retained values — the estimate costs O(k) after the dedup, vs
    the exact path's full-set join. The oracle computes the exact twin
    for the contract, as documented.
    """
    e = load_table(spark, sf_dir, "events")
    du = (
        e.where(F.col("event_type").isin("view", "purchase"))
        .select("event_type", "user_id")
        .distinct()
    )
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    h = du.select("event_type", hv.alias("hv"))
    wrk = Window.partitionBy("event_type").orderBy("hv")
    wnd = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hv",
        F.row_number().over(wrk).alias("rk"),
        F.count(F.lit(1)).over(wnd).alias("nd"),
    )
    pow_lit = F.lit(float(_KMV_POW))
    thetas = ranked.groupBy("event_type").agg(
        F.when(F.max("nd") < _THETA_K, pow_lit.cast("bigint"))
        .otherwise(F.max(F.when(F.col("rk") == _THETA_K, F.col("hv"))))
        .alias("theta")
    )
    theta = thetas.agg(F.min("theta").alias("th"))
    both_users = du.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).where(
        F.col("c") == 2
    )
    exact = both_users.agg(F.count(F.lit(1)).alias("exact_intersection"))
    cand = (
        both_users.select(hv.alias("hv"))
        .crossJoin(F.broadcast(theta))
        .where(F.col("hv") < F.col("th"))
        .agg(F.count(F.lit(1)).alias("n_cand"))
    )
    est = F.round(
        F.col("n_cand").cast("double") * (pow_lit / F.col("th").cast("double")),
        4,
    )
    return (
        exact.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(theta))
        .select(
            "exact_intersection",
            F.col("n_cand").alias("sketch_candidates"),
            est.alias("est_intersection"),
            (
                F.abs(est - F.col("exact_intersection"))
                <= F.greatest(
                    F.lit(24.0), 0.35 * F.col("exact_intersection")
                )
            ).alias("within_bound"),
        )
    )


# (applicationId, sf_dir) -> persisted per-(type, bucket) bitmap table: it
# feeds BOTH the per-type rollup and the OR-merged ALL row — without a
# persist each consumer re-scans the fact (lesson 15). SessionMemo bounds
# entries and unpersists on eviction.
_BITMAP_CACHE = SessionMemo("sketches.bitmap_buckets")


@query(
    "agg_bitmap_distinct_users",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_distinct_users
    FROM events GROUP BY event_type
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT user_id) FROM events
    """,
)
def agg_bitmap_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct users per event type via Spark's BITMAP aggregate
    family (bitmap_bucket_number / bitmap_bit_position /
    bitmap_construct_agg / bitmap_or_agg / bitmap_count — the roaring-
    bitmap-style surface behind engine-native exact COUNT DISTINCT
    acceleration), plus an 'ALL' row built by OR-MERGING the per-type
    bitmaps instead of rescanning the fact.

    The result is exact by construction (a bitmap is a set), so the
    oracle is plain COUNT(DISTINCT) — this registers the bitmap surface
    itself, the mergeable counterpart that HLL approximates.

    At 100 TB: the fact aggregates to one <=4KB bitmap per (type,
    32k-id bucket) with map-side combine — ids never shuffle raw; every
    rollup grain above it (the 'ALL' row here) is a bitmap OR over those
    blocks, the same merge law the sketch family exploits, but lossless.
    """
    cached = _BITMAP_CACHE.get(spark, sf_dir)
    if cached is not None:
        per_bucket = cached[0]
    else:
        e = load_table(spark, sf_dir, "events")
        per_bucket = e.groupBy(
            "event_type",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
        ).agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))").alias(
                "bm"
            )
        ).persist()
        _BITMAP_CACHE.put(spark, sf_dir, (per_bucket,))
    per_type = per_bucket.groupBy("event_type").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_users")
    )
    merged_all = (
        per_bucket.groupBy("bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_distinct_users"))
        .select(F.lit("ALL").alias("event_type"), "n_distinct_users")
    )
    return per_type.unionByName(merged_all)


# (applicationId, sf_dir) -> persisted distinct Bloom bit positions of the
# member set — the probe join and the set-bit census consume it.
_BLOOM_BITS_CACHE = SessionMemo("sketches.bloom_bits")


@query(
    "sketch_bloom_fpr_exact",
    oracle="""
    WITH members AS (
      SELECT c_custkey AS ck FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    probes AS (
      SELECT c_custkey AS ck FROM customer WHERE c_mktsegment <> 'BUILDING'
    ),
    bits AS (
      SELECT DISTINCT
        CAST(CONCAT('0x', substr(md5('bf' || CAST(j AS VARCHAR) || ':'
                                     || CAST(ck AS VARCHAR)), 1, 8))
             AS BIGINT) % 16384 AS pos
      FROM members, LATERAL UNNEST(range(0, 4)) AS t(j)
    ),
    probe_pos AS (
      SELECT ck,
        CAST(CONCAT('0x', substr(md5('bf' || CAST(j AS VARCHAR) || ':'
                                     || CAST(ck AS VARCHAR)), 1, 8))
             AS BIGINT) % 16384 AS pos
      FROM probes, LATERAL UNNEST(range(0, 4)) AS t(j)
    ),
    hits AS (
      SELECT p.ck, COUNT(DISTINCT p.pos) AS n_pos,
        COUNT(DISTINCT CASE WHEN b.pos IS NOT NULL THEN p.pos END) AS n_hit
      FROM probe_pos p LEFT JOIN bits b ON b.pos = p.pos
      GROUP BY p.ck
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM members) AS n_members,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bits) AS n_bits_set,
      CAST(COUNT(*) AS BIGINT) AS n_probes,
      CAST(COUNT(CASE WHEN n_hit = n_pos THEN 1 END) AS BIGINT)
        AS n_false_positives,
      ROUND(CAST(COUNT(CASE WHEN n_hit = n_pos THEN 1 END) AS DOUBLE)
            / COUNT(*), 6) AS measured_fpr
    FROM hits
    """,
)
def sketch_bloom_fpr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A PORTABLE Bloom filter with its false-positive rate MEASURED
    against ground truth: BUILDING-segment customers are inserted into a
    16384-bit / 4-hash filter (positions from salted md5, the engine's
    portable-hash recipe), every non-member probes it, and a probe is a
    false positive iff ALL its positions are set. The measured FPR is
    the calibration number a capacity planner compares against the
    (1 - e^(-kn/m))^k model before sizing bloom_semi_join_orders at
    scale.

    Determinism: md5 is byte-identical across engines, positions are
    exact integer arithmetic on nonnegative hashes, and membership is a
    set join — no engine-native bloom internals anywhere, so DuckDB
    replays the filter bit-for-bit.

    At 100 TB: the bit set is at most m=16384 distinct positions
    (broadcastable by construction); probes shuffle only (key, position)
    pairs; both sides aggregate map-side.
    """
    c = load_table(spark, sf_dir, "customer")
    members = c.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("ck")
    )
    probes = c.where(F.col("c_mktsegment") != "BUILDING").select(
        F.col("c_custkey").alias("ck")
    )
    pos = lambda df: df.select(  # noqa: E731
        "ck",
        F.explode(F.array(*[F.lit(j) for j in range(4)])).alias("j"),
    ).select(
        "ck",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("bf"),
                            F.col("j").cast("string"),
                            F.lit(":"),
                            F.col("ck").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 16384
        ).alias("pos"),
    )
    # the bit set feeds the probe join AND the n_bits census — persisted +
    # memoized (<= 16384 rows; lesson 27/30, scan_audit-found)
    bits = memo_persist(
        _BLOOM_BITS_CACHE,
        spark,
        sf_dir,
        lambda: pos(members).select("pos").distinct(),
    )
    probe_pos = pos(probes)
    marked = probe_pos.join(
        bits.select(F.col("pos").alias("pos_b")),
        F.col("pos") == F.col("pos_b"),
        "left",
    )
    hits = marked.groupBy("ck").agg(
        F.countDistinct("pos").alias("n_pos"),
        F.countDistinct(
            F.when(F.col("pos_b").isNotNull(), F.col("pos"))
        ).alias("n_hit"),
    )
    n_members = members.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    n_bits = bits.agg(F.count(F.lit(1)).cast("bigint").alias("n_bits_set"))
    fp = F.count(F.when(F.col("n_hit") == F.col("n_pos"), 1))
    return (
        hits.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            fp.cast("bigint").alias("n_false_positives"),
            F.round(fp.cast("double") / F.count(F.lit(1)), 6).alias(
                "measured_fpr"
            ),
        )
        .crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_members",
            "n_bits_set",
            "n_probes",
            "n_false_positives",
            "measured_fpr",
        )
    )
