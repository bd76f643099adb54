"""Event-time windowing over the `events` table (SURVEY.md §2b, M4).

Batch semantics first — every query here is a plain DataFrame query, fully
oracle-able. The streaming/ package re-runs the same logic as Structured
Streaming with an availableNow trigger and asserts batch ≡ stream.

Timestamp discipline: events.ts is ns-precision in parquet; Spark truncates
to µs on read. Every oracle casts ts to µs TIMESTAMP first so both engines
see identical values. Window boundaries are emitted as strings
(yyyy-MM-dd HH:mm:ss) — the one cross-engine-safe timestamp encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .._memo import SessionMemo, memo_persist
from ..registry import query, sql_query
from ..sources import load_table, register_views
from ._util import dsum, sql_dsum

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "events_tumbling_hourly",
    oracle=f"""
    SELECT
      strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '{_TS_FMT_DUCK}') AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
      COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1h windows via F.window — the streaming-compatible form of
    GROUP BY date_trunc('hour', ts)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


@query(
    "events_sliding_1h_30m",
    oracle=f"""
    WITH grid AS (
      SELECT
        TIMESTAMP '1970-01-01 00:00:00'
          + INTERVAL 1 SECOND * (CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 1800) * 1800 AS BIGINT) - s.shift)
          AS window_start,
        event_type,
        value
      FROM events, (SELECT UNNEST([0, 1800]) AS shift) s
    )
    SELECT
      strftime(window_start, '{_TS_FMT_DUCK}') AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM grid
    GROUP BY 1, 2
    """,
)
def events_sliding_1h_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h length, 30m slide): each event lands in exactly 2
    windows. Spark's window() expands rows ×2 then hash-aggregates — the
    oracle mirrors that expansion with a 2-row shift grid."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@query(
    "events_session_windows",
    oracle=f"""
    WITH ordered AS (
      SELECT
        user_id,
        event_id,
        CAST(ts AS TIMESTAMP) AS ts,
        CASE
          WHEN CAST(ts AS TIMESTAMP)
               - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
               >= INTERVAL 5 MINUTE
          THEN 1 ELSE 0
        END AS new_session
      FROM events
    ), sessions AS (
      SELECT
        user_id,
        ts,
        SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM ordered
    )
    SELECT
      user_id,
      strftime(MIN(ts), '{_TS_FMT_DUCK}') AS session_start,
      COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a 5-minute inactivity gap via session_window().

    The oracle reproduces Spark's merge rule (a new session starts when the
    gap since the previous event is >= the gap duration) with the classic
    gaps-and-islands LAG + running-SUM construction.
    """
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("session_start"),
            "n_events",
        )
    )


events_type_value_distribution = sql_query(
    "events_type_value_distribution",
    """
    SELECT
      event_type,
      COUNT(*) AS n,
      ROUND(MIN(value), 6) AS min_value,
      ROUND(MAX(value), 6) AS max_value,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS avg_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)


_FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id
)
SELECT
  v.user_id,
  CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
            WHEN c.user_id IS NOT NULL THEN 2
            ELSE 1 END AS INT) AS funnel_stage
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
"""


@query(
    "events_funnel_view_click_purchase",
    # Oracle: same funnel over a µs-cast CTE. The CTE is named `ev` (not
    # `events`) so it works no matter which schema/catalog the driver
    # registers the base views in (temp views live in temp.main in DuckDB,
    # where shadowing CTEs would need qualification).
    oracle="WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts"
    " FROM events), v AS" + _FUNNEL_SQL.replace("FROM events", "FROM ev").split("WITH v AS", 1)[1],
)
def events_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (view → click → purchase, strictly ordered in event
    time) computed with three keyed min-aggregations + joins — each stage
    shuffles only (user_id, ts) pairs. Identical SQL runs on both engines."""
    return register_views(spark, sf_dir, _FUNNEL_SQL)


@query(
    "events_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(date_trunc('week', ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    weekly AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
    )
    SELECT
      strftime(cohort_week, '%Y-%m-%d') AS cohort_week,
      CAST(date_diff('day', cohort_week, active_week) / 7 AS INT) AS week_offset,
      CAST(COUNT(*) AS BIGINT) AS n_users
    FROM weekly JOIN firsts USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active week, counted
    in each subsequent active week. The canonical product-analytics shape —
    two aggregations over the fact plus one equi-join, all hash-partitioned
    on user_id so the join reuses the firsts aggregation's exchange. Week
    arithmetic stays on NTZ week-truncated timestamps (both engines
    ISO-Monday weeks); offsets are exact integer divisions of day diffs."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("active_week")
    )
    firsts = ev.groupBy("user_id").agg(F.min("active_week").alias("cohort_week"))
    weekly = ev.distinct()
    return (
        weekly.join(firsts, "user_id")
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("active_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


events_value_outliers = sql_query(
    "events_value_outliers",
    f"""
    WITH stats AS (
      SELECT event_type,
        COUNT(*) AS n,
        {sql_dsum('value')} AS sx,
        {sql_dsum('value * value')} AS sxx
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
      CAST(COUNT(*) AS BIGINT) AS n_outliers,
      ROUND(CAST(COUNT(*) AS DOUBLE) / ANY_VALUE(n), 6) AS outlier_share
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS(e.value - sx / n) >
          3.0 * SQRT((n * sxx - sx * sx) / (n * (n - 1.0)))
    GROUP BY e.event_type
    """,
)


@query(
    "events_window_funnel_stages",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'click'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 1 HOUR
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON c.user_id = e.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > c.t2 AND e.ts <= c.t2 + INTERVAL 1 HOUR
      GROUP BY e.user_id
    )
    SELECT
      v.user_id,
      CASE WHEN p.user_id IS NOT NULL THEN 3
           WHEN c.user_id IS NOT NULL THEN 2
           ELSE 1 END AS funnel_stage,
      strftime(v.t1, '%Y-%m-%d %H:%M:%S') AS first_view
    FROM v
    LEFT JOIN c ON c.user_id = v.user_id
    LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def events_window_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ORDERED funnel (ClickHouse windowFunnel semantics):
    stage 2 requires a click within 1h AFTER the user's first view, stage
    3 a purchase within 1h after that click — unlike
    events_funnel_view_click_purchase, which only requires the types to
    exist in order, this one enforces the inter-step deadline.

    Stated as a chain of min-aggregations + banded joins — each stage is
    one agg over the (already tiny) previous stage joined back to the
    fact on user_id. All three joins hash on user_id, so AQE reuses the
    partitioning; the fact is scanned once per stage with the event_type
    filter pushed down.
    """
    e = load_table(spark, sf_dir, "events")
    v = (
        e.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("t2"))
            & (F.col("ts") <= F.col("t2") + F.expr("INTERVAL 1 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.join(c.select("user_id", F.lit(1).alias("_c")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("_p")), "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("_p").isNotNull(), 3)
            .when(F.col("_c").isNotNull(), 2)
            .otherwise(1)
            .cast("int")
            .alias("funnel_stage"),
            F.date_format("t1", "yyyy-MM-dd HH:mm:ss").alias("first_view"),
        )
    )


events_transition_matrix = sql_query(
    "events_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    trans AS (
      SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY from_type), 6) AS prob
    FROM trans
    """,
)


@query(
    "events_session_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 5 MINUTE
                    OR lag(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT *, SUM(new_sess) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING
      ) AS sess_no
      FROM seq
    ),
    paths AS (
      SELECT user_id, sess_no,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM sess GROUP BY user_id, sess_no
    )
    SELECT path, COUNT(*) AS n_sessions
    FROM paths GROUP BY path HAVING COUNT(*) >= 5
    """,
)
def events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path analysis: gap-sessionize (5-min inactivity, the same
    gap events_session_windows uses), render each session's ordered
    event-type sequence as a path string, count common paths (>= 5
    sessions).

    Sessionization is stated PORTABLY here — lag-gap flag + running sum
    (the pre-session_window idiom every engine can express, which is what
    makes the DuckDB oracle possible); the path is built order-free via
    sort_array over (ts, event_id, type) structs, so no
    collect_list-ordering nondeterminism. Two windows + two aggs, all
    partitioned by user.
    """
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lag("ts").over(w).alias("prev_ts"),
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("prev_ts").isNull()
            # microsecond diff: SECOND would truncate while the oracle's
            # interval comparison is exact — a 300.5s gap must split in both
            | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 300_000_000),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = seq.withColumn(
        "sess_no", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    paths = (
        sess.groupBy("user_id", "sess_no")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", F.col("event_type").alias("t"))
                        )
                    ),
                    lambda s: s["t"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .where(F.col("n_sessions") >= 5)
    )


@query(
    "events_peak_concurrency_daily",
    oracle="""
    WITH ordered AS (
      SELECT
        user_id,
        event_id,
        CAST(ts AS TIMESTAMP) AS ts,
        CASE
          WHEN CAST(ts AS TIMESTAMP)
               - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
               >= INTERVAL 5 MINUTE
          THEN 1 ELSE 0
        END AS new_session
      FROM events
    ), numbered AS (
      SELECT
        user_id, ts,
        SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM ordered
    ), sessions AS (
      SELECT user_id, session_id, MIN(ts) AS s_start, MAX(ts) AS s_end
      FROM numbered GROUP BY user_id, session_id
    ), bounds AS (
      SELECT s_start AS t, 1 AS delta FROM sessions
      UNION ALL
      SELECT s_end AS t, -1 AS delta FROM sessions
    ), swept AS (
      SELECT
        t, delta,
        SUM(delta) OVER (
          ORDER BY t, delta DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS running
      FROM bounds
    )
    SELECT
      strftime(date_trunc('day', t), '%Y-%m-%d') AS day,
      CAST(MAX(running) AS BIGINT) AS peak_concurrent
    FROM swept
    GROUP BY 1
    """,
)
def events_peak_concurrency_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent user sessions per day — the interval-overlap maximum
    via a sweep line over session boundaries (+1 at session start, -1 at
    session end; at an identical instant starts apply before ends, i.e.
    touching sessions count as overlapping).

    Scale shape: the oracle's textbook formulation is ONE global running sum
    over all 2·S boundaries — a single-partition sort that dies at cluster
    scale. This implementation decomposes it exactly: (1) a running sum
    PARTITIONED BY DAY over that day's boundaries, (2) per-day net deltas
    prefix-summed over the ~O(days) day table to get each day's carry-in
    (sessions still open at midnight), (3) peak(day) = carry_in +
    max(within-day running). Identical result (day is a prefix of the
    global sort key, so the global running sum restricted to a day equals
    carry_in + the day-local running sum), but the only global window runs
    over one row per DAY, not per session. Sessions come from
    session_window() as in events_session_windows.
    """
    e = load_table(spark, sf_dir, "events")
    sess = e.groupBy(
        F.session_window("ts", "5 minutes").alias("w"), "user_id"
    ).agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    bounds = (
        sess.select(F.col("s_start").alias("t"), F.lit(1).alias("delta"))
        .unionAll(sess.select(F.col("s_end").alias("t"), F.lit(-1).alias("delta")))
        .select(F.date_format(F.date_trunc("day", "t"), "yyyy-MM-dd").alias("day"), "t", "delta")
    )
    wday = (
        Window.partitionBy("day")
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    in_day = bounds.select("day", F.sum("delta").over(wday).alias("running"))
    day_peaks = in_day.groupBy("day").agg(F.max("running").alias("day_peak"))
    nets = bounds.groupBy("day").agg(F.sum("delta").alias("net"))
    wcarry = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    carries = nets.select(
        "day", F.coalesce(F.sum("net").over(wcarry), F.lit(0)).alias("carry_in")
    )
    return day_peaks.join(F.broadcast(carries), "day").select(
        "day", (F.col("carry_in") + F.col("day_peak")).cast("long").alias("peak_concurrent")
    )


@query(
    "events_session_windows_dynamic_gap",
    oracle="""
    WITH tagged AS (
      SELECT
        user_id,
        event_id,
        epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        epoch_us(CAST(ts AS TIMESTAMP))
          + CASE WHEN event_type = 'purchase' THEN 900000000 ELSE 300000000 END
          AS reach
      FROM events
    ), split AS (
      SELECT
        user_id, event_id, us,
        CASE WHEN us >= MAX(reach) OVER (
          PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ) THEN 1 ELSE 0 END AS new_session
      FROM tagged
    ), numbered AS (
      SELECT
        user_id, us,
        SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY us, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM split
    )
    SELECT
      user_id,
      strftime(make_timestamp(MIN(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
      COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def events_session_windows_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC, per-event inactivity gap
    (session_window's expression-gap form, Spark 3.2+): purchases hold a
    session open 15 minutes, other events 5 — the "intent-aware
    sessionization" product analytics actually wants (a purchase signals
    engagement; a stray view does not).

    Semantics (and the oracle's reconstruction): each event spans
    [ts, ts + gap(event)); overlapping spans merge. A new session starts
    exactly when an event's ts clears the RUNNING MAX of all previous
    events' span ends — running max, not lag, because a long-gap event
    can bridge over a later short-gap one. All arithmetic is integer
    microseconds, so both engines split identically.

    Scale shape: identical to the fixed-gap twin — one shuffle on
    user_id, merge inside the session-window aggregation.
    """
    e = load_table(spark, sf_dir, "events")
    gap = F.when(F.col("event_type") == "purchase", F.lit("15 minutes")).otherwise(
        F.lit("5 minutes")
    )
    return (
        e.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("session_start"),
            "n_events",
        )
    )


@query(
    "events_new_vs_returning_daily",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT
        user_id,
        strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS day
      FROM events
    ), firsts AS (
      SELECT user_id, MIN(day) AS first_day FROM user_days GROUP BY user_id
    )
    SELECT
      u.day,
      CAST(SUM(CASE WHEN u.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
      CAST(SUM(CASE WHEN u.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
    FROM user_days u JOIN firsts f USING (user_id)
    GROUP BY u.day
    """,
)
def events_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning split — the first line of any product
    dashboard. Same single-scan shape as retention_daily_cohorts: one
    collect_set of active days per user (bounded by the calendar), the
    user's first day is array_min of that set, and the daily rollup
    explodes the set once — no second scan, no self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id",
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
        )
        .groupBy("user_id")
        .agg(F.collect_set("d").alias("days"))
    )
    return (
        per_user.select(
            F.array_min("days").alias("first_day"), F.explode("days").alias("day")
        )
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
            F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
            .cast("long")
            .alias("returning_users"),
        )
    )


@query(
    "events_stickiness_dau_wau",
    oracle="""
    WITH user_days AS (
      SELECT DISTINCT
        user_id,
        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day
      FROM events
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM user_days GROUP BY day
    ), coverage AS (
      SELECT user_id, day + INTERVAL 1 DAY * s.o AS cover_day
      FROM user_days, (SELECT UNNEST(range(7)) AS o) s
    ), wau AS (
      SELECT cover_day AS day, COUNT(DISTINCT user_id) AS wau
      FROM coverage GROUP BY cover_day
    )
    SELECT
      strftime(d.day, '%Y-%m-%d') AS day,
      CAST(d.dau AS BIGINT) AS dau,
      CAST(w.wau AS BIGINT) AS wau,
      ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
    FROM dau d JOIN wau w ON w.day = CAST(d.day AS TIMESTAMP)
    """,
)
def events_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stickiness (DAU / trailing-7d WAU) per day — the engagement ratio.
    The trailing distinct count uses the bounded day-explode from
    events_rolling_7d_distinct_users: each (user, active day) covers the
    next 7 calendar days, so WAU(d) = distinct users covering d — a
    windowed COUNT DISTINCT that window frames cannot express, computed
    with a x7 explode of the already-deduped (user, day) grain (bounded
    by calendar x users, independent of event volume). Only days with
    DAU appear (inner join), so ratios are always well-defined.
    """
    ev = load_table(spark, sf_dir, "events")
    user_days = ev.select(
        "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
    ).distinct()
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    coverage = user_days.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("o"),
        F.col("day"),
    ).select("user_id", F.date_add(F.col("day"), F.col("o")).alias("day"))
    wau = coverage.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
        )
    )


events_hourly_profile = sql_query(
    "events_hourly_profile",
    """
    WITH per_hour AS (
      SELECT
        event_type,
        EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS hour_of_day,
        COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), totals AS (
      SELECT event_type, CAST(SUM(CAST(n AS BIGINT)) AS BIGINT) AS total
      FROM per_hour GROUP BY event_type
    )
    SELECT
      p.event_type,
      CAST(p.hour_of_day AS BIGINT) AS hour_of_day,
      CAST(p.n AS BIGINT) AS n_events,
      ROUND(CAST(p.n AS DOUBLE) / t.total, 6) AS share
    FROM per_hour p JOIN totals t USING (event_type)
    """,
)


@query(
    "events_dormant_users",
    oracle="""
    WITH bounds AS (
      SELECT MAX(CAST(ts AS TIMESTAMP)) AS mx FROM events
    ), last_seen AS (
      SELECT user_id, MAX(CAST(ts AS TIMESTAMP)) AS last_ts, COUNT(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT
      user_id,
      CAST(n_events AS BIGINT) AS n_events,
      CAST((epoch_us(mx) - epoch_us(last_ts)) // 86400000000 AS BIGINT)
        AS days_inactive
    FROM last_seen CROSS JOIN bounds
    ORDER BY epoch_us(mx) - epoch_us(last_ts) DESC, user_id
    LIMIT 25
    """,
)
def events_dormant_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy report: the 25 users longest-inactive relative to the
    stream's horizon (its max timestamp), with lifetime event count and
    whole days inactive — the re-engagement targeting list (the
    events-side analogue of TPC-H q22's dormant-customer shape). Top-k by
    raw microsecond gap (ties on user_id) instead of a fixed inactivity
    cut, which goes empty whenever the synthetic population stays active
    (scale-stability lesson from sim_suppliers_by_parts).

    Scale shape: one per-user rollup; the horizon is a broadcast 1-row
    aggregate; the top-25 is TakeOrderedAndProject. Day arithmetic is
    integer microseconds floor-divided — exact in both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    last_seen = ev.groupBy("user_id").agg(
        F.max(us).alias("last_us"), F.count(F.lit(1)).alias("n_events")
    )
    bounds = ev.agg(F.max(us).alias("mx"))
    gap = F.col("mx") - F.col("last_us")
    return (
        last_seen.crossJoin(F.broadcast(bounds))
        .orderBy(gap.desc(), "user_id")
        .limit(25)
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.floor(gap / 86400000000).cast("long").alias("days_inactive"),
        )
    )


@query(
    "events_markov_entropy_rate",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
             ) AS nxt
      FROM events
    ), trans AS (
      SELECT event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), marg AS (
      SELECT a, SUM(n) AS na FROM trans GROUP BY a
    ), tot AS (
      SELECT SUM(n) AS total FROM trans
    ), terms AS (
      SELECT t.a,
             ROUND(-(CAST(t.n AS DOUBLE) / CAST(m.na AS DOUBLE))
                   * LN(CAST(t.n AS DOUBLE) / CAST(m.na AS DOUBLE)), 6)
               AS h_term,
             CAST(m.na AS DOUBLE) / CAST(o.total AS DOUBLE) AS pa
      FROM trans t JOIN marg m ON t.a = m.a CROSS JOIN tot o
    ), per_state AS (
      SELECT a, pa,
             CAST(SUM(CAST(h_term AS DECIMAL(18,6))) AS DOUBLE) AS h_cond
      FROM terms GROUP BY a, pa
    )
    SELECT a AS state,
           ROUND(pa, 6) AS p_state,
           ROUND(h_cond, 5) AS h_next_given_state,
           ROUND(CAST(SUM(CAST(ROUND(pa * h_cond, 6) AS DECIMAL(18,6)))
                      OVER () AS DOUBLE), 5) AS entropy_rate
    FROM per_state
    """,
)
def events_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-behavior Markov chain: per current state,
    the conditional entropy of the NEXT event type H(next | state) =
    -sum p(b|a) ln p(b|a), plus the chain's overall entropy rate
    sum p(a) H(next | a) — how predictable behavior is one step ahead
    (the information-theoretic summary of events_transition_matrix, and
    the sequence-level sibling of events_user_entropy). Transcendental
    discipline throughout: each -p ln p term rounds to 6dp before the
    decimal sum, coarser rounding on the sums.

    Scale shape: one user_id-partitioned lead() (the transition-matrix
    shuffle), then everything runs on the 5x5 transition aggregate.
    """
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    trans = (
        e.select("event_type", F.lead("event_type").over(w).alias("nxt"))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("event_type").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    marg = trans.groupBy("a").agg(F.sum("n").alias("na"))
    tot = trans.agg(F.sum("n").alias("total"))
    p = F.col("n").cast("double") / F.col("na").cast("double")
    terms = (
        trans.join(F.broadcast(marg), "a")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            F.round(-p * F.log(p), 6).alias("h_term"),
            (F.col("na").cast("double") / F.col("total").cast("double")).alias("pa"),
        )
    )
    per_state = terms.groupBy("a", "pa").agg(
        F.sum(F.col("h_term").cast("decimal(18,6)")).cast("double").alias("h_cond")
    )
    wall = Window.partitionBy()
    return per_state.select(
        F.col("a").alias("state"),
        F.round("pa", 6).alias("p_state"),
        F.round("h_cond", 5).alias("h_next_given_state"),
        F.round(
            F.sum(F.round(F.col("pa") * F.col("h_cond"), 6).cast("decimal(18,6)"))
            .over(wall)
            .cast("double"),
            5,
        ).alias("entropy_rate"),
    )


@query(
    "events_rolling_mad_anomaly",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
             CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS rev
      FROM events GROUP BY 1, 2
    ), win AS (
      SELECT event_type, day, rev,
             list(rev) OVER (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
               AS vals
      FROM daily
    ), med AS (
      SELECT event_type, day, rev, vals,
             list_sort(vals)[4] AS med7
      FROM win WHERE len(vals) = 7
    ), mad AS (
      SELECT event_type, day, rev, med7,
             list_sort(list_transform(vals, v -> abs(v - med7)))[4] AS mad7
      FROM med
    )
    SELECT event_type,
           strftime(day, '%Y-%m-%d') AS day,
           ROUND(rev, 6) AS revenue,
           ROUND(med7, 6) AS med7,
           ROUND(mad7, 6) AS mad7,
           ROUND(CASE WHEN mad7 > 0 THEN (rev - med7) / mad7 END, 6)
             AS robust_z,
           (mad7 > 0 AND abs(rev - med7) > 3 * mad7) AS is_anomaly
    FROM mad
    """,
)
def events_rolling_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly flags on daily revenue: each day scored against the
    MEDIAN and MAD (median absolute deviation) of the PRECEDING 7 days —
    the robust twin of events_anomaly_daily_zscore. An outlier day cannot
    poison its own baseline twice over: it is excluded from its window
    (trailing frame ends at -1) and the median/MAD breakdown point means
    up to 3 of the 7 baseline days can already be anomalous without
    moving the threshold. Median and MAD over an odd 7-count are exact
    order statistics; the anomaly test compares exact doubles — nothing
    interpolates.

    Scale shape: the fact collapses to (type, day) map-side; the bounded
    7-row frame collects O(1) values per row on the one (type) shuffle.
    """
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(
        F.sum(F.round("value", 6).cast("decimal(18,6)"))
        .cast("double")
        .alias("rev")
    )
    w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    win = daily.select(
        "event_type",
        "day",
        "rev",
        F.collect_list("rev").over(w7).alias("vals"),
    ).where(F.size("vals") == 7)
    med = win.withColumn("med7", F.element_at(F.array_sort("vals"), 4))
    mad = med.withColumn(
        "mad7",
        F.element_at(
            F.array_sort(
                F.transform("vals", lambda v: F.abs(v - F.col("med7")))
            ),
            4,
        ),
    )
    return mad.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round("rev", 6).alias("revenue"),
        F.round("med7", 6).alias("med7"),
        F.round("mad7", 6).alias("mad7"),
        F.round(
            F.when(
                F.col("mad7") > 0, (F.col("rev") - F.col("med7")) / F.col("mad7")
            ),
            6,
        ).alias("robust_z"),
        (
            (F.col("mad7") > 0)
            & (F.abs(F.col("rev") - F.col("med7")) > 3 * F.col("mad7"))
        ).alias("is_anomaly"),
    )


events_top_percentile_users = sql_query(
    "events_top_percentile_users",
    """
    WITH per_user AS (
      SELECT event_type, user_id, COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT *,
        ROW_NUMBER() OVER (PARTITION BY event_type
                           ORDER BY n_events DESC, user_id) AS rk,
        COUNT(*) OVER (PARTITION BY event_type) AS n_users
      FROM per_user
    )
    SELECT event_type, user_id, n_events,
           CAST(rk AS BIGINT) AS rk
    FROM ranked
    WHERE rk <= CAST(ceil(0.01 * n_users) AS BIGINT)
    """,
)


@query(
    "events_markov_top_transitions_by_segment",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n_ev FROM events GROUP BY 1
    ),
    seg AS (
      SELECT user_id,
        CASE NTILE(3) OVER (ORDER BY n_ev, user_id)
          WHEN 1 THEN 'light' WHEN 2 THEN 'medium' ELSE 'heavy' END AS segment
      FROM per_user
    ),
    ordered AS (
      SELECT e.user_id, s.segment, e.event_type,
        LEAD(e.event_type) OVER (
          PARTITION BY e.user_id
          ORDER BY epoch_us(CAST(e.ts AS TIMESTAMP)), e.event_id) AS nxt
      FROM events e JOIN seg s ON s.user_id = e.user_id
    ),
    trans AS (
      SELECT segment, event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS n
      FROM ordered WHERE nxt IS NOT NULL GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *,
        CAST(SUM(n) OVER (PARTITION BY segment) AS BIGINT) AS seg_total,
        ROW_NUMBER() OVER (PARTITION BY segment ORDER BY n DESC, a, b) AS rk
      FROM trans
    )
    SELECT segment, a, b, n,
      ROUND(CAST(n AS DOUBLE) / CAST(seg_total AS DOUBLE), 6) AS p,
      CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def events_markov_top_transitions_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-5 behavior transitions (event_type a -> b) per USER SEGMENT —
    segments are activity terciles (light/medium/heavy by event count,
    NTILE over a total order), so the table answers 'do power users
    navigate differently?'. The per-segment sibling of the global
    transition matrix / entropy-rate pair.

    Determinism: integer transition counts, NTILE over (n_ev, user_id)
    and ROW_NUMBER over (n desc, a, b) are both total orders; p divides
    exact BIGINTs.

    Scale shape: one user_id-partitioned LEAD (the transition shuffle),
    a per-user rollup for the segmentation (its global NTILE runs over
    user-dimension rows; two-phase range partition at extreme user
    counts), then everything reduces on the (segment, a, b) grain.
    """
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_ev"))
    tile = F.ntile(3).over(Window.orderBy("n_ev", "user_id"))
    seg = per_user.select(
        "user_id",
        F.when(tile == 1, "light")
        .when(tile == 2, "medium")
        .otherwise("heavy")
        .alias("segment"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), "event_id"
    )
    ordered = e.join(seg, "user_id").select(
        "segment",
        "event_type",
        F.lead("event_type").over(w).alias("nxt"),
    )
    trans = (
        ordered.where(F.col("nxt").isNotNull())
        .groupBy("segment", F.col("event_type").alias("a"), F.col("nxt").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    ranked = trans.select(
        "segment",
        "a",
        "b",
        "n",
        F.sum("n").over(Window.partitionBy("segment")).cast("bigint").alias(
            "seg_total"
        ),
        F.row_number()
        .over(Window.partitionBy("segment").orderBy(F.col("n").desc(), "a", "b"))
        .cast("bigint")
        .alias("rk"),
    )
    return ranked.where(F.col("rk") <= 5).select(
        "segment",
        "a",
        "b",
        "n",
        F.round(
            F.col("n").cast("double") / F.col("seg_total").cast("double"), 6
        ).alias("p"),
        "rk",
    )


@query(
    "events_session_depth_distribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        CASE WHEN CAST(ts AS TIMESTAMP)
                  - LAG(CAST(ts AS TIMESTAMP)) OVER (
                      PARTITION BY user_id
                      ORDER BY CAST(ts AS TIMESTAMP), event_id)
                  >= INTERVAL 5 MINUTE
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id,
        SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    ),
    depth AS (
      SELECT user_id, session_id, COUNT(*) AS n_events
      FROM sessions GROUP BY 1, 2
    ),
    bucketed AS (
      SELECT CASE WHEN n_events >= 11 THEN '11+'
                  WHEN n_events >= 6 THEN '6-10'
                  ELSE CAST(n_events AS VARCHAR) END AS depth_bucket,
             n_events
      FROM depth
    ),
    tot AS (SELECT COUNT(*) AS n_sessions_total FROM depth)
    SELECT depth_bucket,
      COUNT(*) AS n_sessions,
      CAST(SUM(n_events) AS BIGINT) AS total_events,
      ROUND(CAST(COUNT(*) AS DOUBLE) / CAST(n_sessions_total AS DOUBLE), 6)
        AS share
    FROM bucketed CROSS JOIN tot
    GROUP BY depth_bucket, n_sessions_total
    """,
)
def events_session_depth_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session DEPTH distribution: events-per-session histogram (1..5
    exact, then 6-10 and 11+ bands) with each band's share of all
    sessions — the engagement-shape report product teams read next to
    retention. Sessions are the same 5-minute-gap windows as
    events_session_windows (session_window() on the Spark side, the
    gaps-and-islands LAG + running-SUM construction in the oracle).

    Scale shape: one user_id-partitioned session assignment, a
    per-session count, then a ~7-row band rollup; the 1-row total rides
    a broadcast.
    """
    e = load_table(spark, sf_dir, "events")
    depth = e.groupBy(
        F.session_window("ts", "5 minutes").alias("w"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    bucket = (
        F.when(F.col("n_events") >= 11, "11+")
        .when(F.col("n_events") >= 6, "6-10")
        .otherwise(F.col("n_events").cast("string"))
    )
    tot = depth.agg(F.count(F.lit(1)).alias("n_sessions_total"))
    return (
        depth.select(bucket.alias("depth_bucket"), "n_events")
        .crossJoin(F.broadcast(tot))
        .groupBy("depth_bucket", "n_sessions_total")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("total_events"),
            F.round(
                F.count(F.lit(1)).cast("double")
                / F.col("n_sessions_total").cast("double"),
                6,
            ).alias("share"),
        )
        .drop("n_sessions_total")
    )


@query(
    "events_burst_rate_topk",
    oracle="""
    WITH base AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
    ), bursts AS (
      SELECT user_id, us,
        COUNT(*) OVER (
          PARTITION BY user_id ORDER BY us
          RANGE BETWEEN 59999999 PRECEDING AND CURRENT ROW) AS cnt60
      FROM base
    ), per_user AS (
      SELECT user_id,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(MAX(cnt60) AS BIGINT) AS max_burst_60s,
        MAX(us) - MIN(us) AS span_us
      FROM bursts GROUP BY user_id
    ), scored AS (
      SELECT user_id, n_events, max_burst_60s,
        ROUND(CAST(span_us AS DOUBLE) / 60000000, 2) AS span_minutes,
        CASE WHEN span_us > 0 THEN
          ROUND(CAST(n_events AS DOUBLE)
                / (CAST(span_us AS DOUBLE) / 60000000), 6)
        END AS events_per_active_min
      FROM per_user
    )
    SELECT user_id, n_events, max_burst_60s, span_minutes,
      events_per_active_min,
      CAST(ROW_NUMBER() OVER (
        ORDER BY max_burst_60s DESC, n_events DESC, user_id) AS BIGINT) AS rk
    FROM scored
    QUALIFY rk <= 25
    """,
)
def events_burst_rate_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 burstiest users: maximum events inside any trailing 60-second
    window, total activity span, and sustained events-per-active-minute —
    the bot/spam-rate screen a training-data pipeline runs on behavioral
    logs BEFORE trusting them (rate-limit heuristics rank users; the cut
    threshold is a policy knob applied to this ranking, so the query emits
    the ranking — a fixed cut would be scale-fragile, lesson 9).

    Everything is integer/epoch-microsecond arithmetic (the burst counter
    is a COUNT over a time-RANGE frame — no self-join, no explode); the
    two rates divide identical exact operands, NULL-guarded for
    single-event users; the rank is total-ordered on integers.

    At 100 TB: one user_id shuffle serves both the frame and the per-user
    rollup (same partitioning, no second exchange); top-25 is a
    WindowGroupLimit heap over the per-user rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-59999999, 0)
    )
    bursts = ev.select("user_id", us.alias("us")).select(
        "user_id", "us", F.count(F.lit(1)).over(wb).alias("cnt60")
    )
    per_user = bursts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max("cnt60").cast("bigint").alias("max_burst_60s"),
        (F.max("us") - F.min("us")).alias("span_us"),
    )
    span_min = F.col("span_us").cast("double") / 60000000
    scored = per_user.select(
        "user_id",
        "n_events",
        "max_burst_60s",
        F.round(span_min, 2).alias("span_minutes"),
        F.when(
            F.col("span_us") > 0,
            F.round(F.col("n_events").cast("double") / span_min, 6),
        ).alias("events_per_active_min"),
    )
    w = Window.orderBy(
        F.col("max_burst_60s").desc(), F.col("n_events").desc(), "user_id"
    )
    return scored.select(
        "user_id",
        "n_events",
        "max_burst_60s",
        "span_minutes",
        "events_per_active_min",
        F.row_number().over(w).cast("bigint").alias("rk"),
    ).where(F.col("rk") <= 25)


@query(
    "events_signup_next3_paths",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
        LEAD(event_type, 1) OVER u AS s1,
        LEAD(event_type, 2) OVER u AS s2,
        LEAD(event_type, 3) OVER u AS s3
      FROM events
      WINDOW u AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
    ),
    paths AS (
      SELECT s1 || '>' || s2 || '>' || s3 AS path
      FROM ordered
      WHERE event_type = 'signup' AND s3 IS NOT NULL
    ),
    counted AS (
      SELECT path, COUNT(*) AS n_paths,
        ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, path) AS rk
      FROM paths GROUP BY path
    )
    SELECT path, n_paths, CAST(rk AS BIGINT) AS rk
    FROM counted WHERE rk <= 10
    """,
)
def events_signup_next3_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 next-3-step paths after a signup event: for every signup in
    a user's (ts, event_id)-ordered stream, the following three event
    types joined as 'a>b>c', counted across the corpus — the
    what-do-users-do-after-onboarding path report. Signups within 3
    events of the stream end are excluded (no complete path).

    Determinism: the adjacency is three LEADs over the same total-order
    window; counts are exact; the top-10 rank breaks count ties on the
    path string.

    At 100 TB: one user_id-partitioned window pass (no self-joins — the
    three LEADs ride one sort), then a path rollup with map-side combine;
    the top-10 is a tiny global sort over distinct paths (bounded by
    |event_type|^3 = 125 here).
    """
    e = load_table(spark, sf_dir, "events")
    u = Window.partitionBy("user_id").orderBy(
        F.col("ts").cast("timestamp"), "event_id"
    )
    ordered = e.select(
        "event_type",
        F.lead("event_type", 1).over(u).alias("s1"),
        F.lead("event_type", 2).over(u).alias("s2"),
        F.lead("event_type", 3).over(u).alias("s3"),
    )
    paths = ordered.where(
        (F.col("event_type") == "signup") & F.col("s3").isNotNull()
    ).select(F.concat_ws(">", "s1", "s2", "s3").alias("path"))
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).alias("n_paths"))
    w = Window.orderBy(F.col("n_paths").desc(), "path")
    return (
        counted.select(
            "path", "n_paths", F.row_number().over(w).cast("long").alias("rk")
        )
        .where(F.col("rk") <= 10)
    )


@query(
    "events_conversion_lag_histogram",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
        MIN(CASE WHEN event_type = 'signup'
              THEN datediff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', CAST(ts AS TIMESTAMP))) END)
          AS signup_day,
        MIN(CASE WHEN event_type = 'purchase'
              THEN datediff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', CAST(ts AS TIMESTAMP))) END)
          AS purchase_day
      FROM events GROUP BY user_id
    ),
    lags AS (
      SELECT user_id, purchase_day - signup_day AS lag_days
      FROM firsts
      WHERE signup_day IS NOT NULL AND purchase_day IS NOT NULL
    )
    SELECT
      CASE WHEN lag_days < 0 THEN 'pre_signup'
           WHEN lag_days = 0 THEN 'same_day'
           WHEN lag_days <= 3 THEN '1-3d'
           WHEN lag_days <= 7 THEN '4-7d'
           WHEN lag_days <= 30 THEN '8-30d'
           ELSE '31d+' END AS lag_bucket,
      COUNT(*) AS n_users,
      CAST(MIN(lag_days) AS BIGINT) AS min_lag_days,
      CAST(MAX(lag_days) AS BIGINT) AS max_lag_days
    FROM lags GROUP BY 1
    """,
)
def events_conversion_lag_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Signup-to-first-purchase conversion-lag histogram: per user the
    integer-day gap between the first signup and the first purchase
    (users with both), bucketed into the standard activation bands —
    growth teams' time-to-convert report. A first purchase BEFORE the
    first signup (possible in this stream) lands in its own
    'pre_signup' bucket rather than silently vanishing.

    Pure integer arithmetic: epoch-day numbers via datediff from
    1970-01-01 on the NTZ timestamps (tz-shift-free — the session
    timezone never touches the day boundary, unlike unix_micros
    flooring), two conditional MIN aggregates in ONE pass, exact counts.

    At 100 TB: one fact pass into a per-user rollup (map-side combine),
    then a ~6-row CASE rollup. No join at all.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("timestamp_ntz")
    )
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", day)).alias("signup_day"),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias(
            "purchase_day"
        ),
    )
    lags = firsts.where(
        F.col("signup_day").isNotNull() & F.col("purchase_day").isNotNull()
    ).select((F.col("purchase_day") - F.col("signup_day")).alias("lag_days"))
    bucket = (
        F.when(F.col("lag_days") < 0, "pre_signup")
        .when(F.col("lag_days") == 0, "same_day")
        .when(F.col("lag_days") <= 3, "1-3d")
        .when(F.col("lag_days") <= 7, "4-7d")
        .when(F.col("lag_days") <= 30, "8-30d")
        .otherwise("31d+")
    )
    return lags.groupBy(bucket.alias("lag_bucket")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("lag_days").cast("bigint").alias("min_lag_days"),
        F.max("lag_days").cast("bigint").alias("max_lag_days"),
    )


@query(
    "events_dow_hour_heatmap",
    oracle="""
    WITH cells AS (
      SELECT
        datediff('day', TIMESTAMP '1970-01-01',
                 date_trunc('day', CAST(ts AS TIMESTAMP))) % 7 AS dow,
        EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS hour,
        COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(dow AS BIGINT) AS dow, CAST(hour AS BIGINT) AS hour,
      n_events,
      ROUND(CAST(n_events AS DOUBLE)
            / CAST(SUM(n_events) OVER () AS DOUBLE), 6) AS share
    FROM cells
    """,
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour-of-day activity heatmap with each cell's share
    of total traffic — the capacity-planning / on-call-staffing grid.
    Day-of-week is epoch-day mod 7 (0 = Thursday; never engine
    dayofweek(), whose 0/1-origin and week-start conventions differ);
    hour() over the NTZ timestamp is session-timezone-free.

    Pure integer counts; the share divides exact BIGINTs over the
    168-row grid's window total.

    At 100 TB: one fact pass into <= 168 cells with map-side combine.
    """
    e = load_table(spark, sf_dir, "events")
    dow = (
        F.datediff(
            F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("timestamp_ntz")
        )
        % 7
    )
    cells = e.groupBy(
        dow.cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy()
    return cells.select(
        "dow",
        "hour",
        "n_events",
        F.round(
            F.col("n_events").cast("double")
            / F.sum("n_events").over(w).cast("double"),
            6,
        ).alias("share"),
    )


events_user_activity_gini = sql_query(
    "events_user_activity_gini",
    """
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT x,
        CAST(ROW_NUMBER() OVER (ORDER BY x, user_id) AS BIGINT) AS i,
        CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM per_user
    )
    SELECT n AS n_users,
      CAST(SUM(x) AS BIGINT) AS total_events,
      CASE WHEN n >= 2 AND SUM(x) > 0 THEN ROUND(
        CAST(2 * SUM(i * x) - (n + 1) * SUM(x) AS DOUBLE)
        / CAST(n * SUM(x) AS DOUBLE), 6)
      END AS gini
    FROM ranked GROUP BY n
    """,
)


# per-user (signup, first-purchase, last-event) days — shared by the
# Kaplan-Meier estimator and (r11) the log-rank cohort comparison
_KM_FIRSTS_CACHE = SessionMemo("events.km_firsts")


@query(
    "events_kaplan_meier_conversion",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
        MIN(CASE WHEN event_type = 'signup'
              THEN datediff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', CAST(ts AS TIMESTAMP))) END)
          AS signup_day,
        MIN(CASE WHEN event_type = 'purchase'
              THEN datediff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', CAST(ts AS TIMESTAMP))) END)
          AS purchase_day
      FROM events GROUP BY user_id
    ),
    horizon AS (
      SELECT MAX(datediff('day', TIMESTAMP '1970-01-01',
                          date_trunc('day', CAST(ts AS TIMESTAMP)))) AS max_day
      FROM events
    ),
    obs AS (
      SELECT
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN purchase_day - signup_day
             ELSE max_day - signup_day END AS t,
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN 1 ELSE 0 END AS is_event
      FROM firsts CROSS JOIN horizon
      WHERE signup_day IS NOT NULL
    ),
    grid AS (
      SELECT t,
        CAST(SUM(is_event) AS BIGINT) AS d,
        CAST(COUNT(*) AS BIGINT) AS c,
        CAST((SELECT COUNT(*) FROM obs) AS BIGINT) AS n_total
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
        n_total - COALESCE(SUM(c) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
      FROM grid
    ),
    terms AS (
      SELECT t, d, n_at_risk,
        CASE WHEN d < n_at_risk THEN CAST(ROUND(
          ln(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)), 6)
          AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END AS logterm,
        CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS zeroed
      FROM risk WHERE d > 0
    )
    SELECT CAST(t AS BIGINT) AS t_days,
      CAST(n_at_risk AS BIGINT) AS n_at_risk,
      d AS n_events,
      CASE WHEN SUM(zeroed) OVER cum > 0 THEN 0.0
           ELSE ROUND(exp(CAST(SUM(logterm) OVER cum AS DOUBLE)), 6)
      END AS survival
    FROM terms
    WINDOW cum AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    """,
)
def events_kaplan_meier_conversion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier product-limit survival curve of signup-to-first-
    purchase conversion WITH right-censoring: users who signed up but
    never purchased are censored at the end of the observation window
    (max event day) instead of being dropped — the estimator growth
    teams should use where events_conversion_lag_histogram silently
    conditions on converters. S(t) = prod_{u <= t} (1 - d_u / n_u) over
    event days u, with n_u the at-risk count (events AND censored with
    T >= u). Users whose only first purchase precedes their signup are
    treated as censored (documented; the histogram twin gives them a
    pre_signup bucket).

    Determinism: day indices are tz-free NTZ datediffs; d and n are
    exact BIGINTs; each hazard factor enters as round-6 ln then a
    DECIMAL(18,6) cumulative sum ordered by the distinct event day
    (deterministic), so both engines exponentiate an identical double
    (the text_bigram_perplexity exp discipline); a saturated day
    (d = n, ln(0) THROWS in DuckDB — lesson 28) is guarded inside the
    term and survival pins to 0.0 from that day on via the cumulative
    zero flag.

    At 100 TB: one fact pass to per-user firsts (map-side combine), a
    day-grain grid (hundreds of rows), and two ordered windows over the
    grid — nothing fact-grain past the first rollup.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("timestamp_ntz")
    )
    # last_day rides the same per-user rollup so the censoring horizon
    # (global max event day = max over per-user maxes) never re-scans the
    # fact — ONE events pass total (the scan-audit discipline, lesson 27)
    firsts = memo_persist(
        _KM_FIRSTS_CACHE,
        spark,
        sf_dir,
        lambda: e.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "signup", day)).alias(
                "signup_day"
            ),
            F.min(F.when(F.col("event_type") == "purchase", day)).alias(
                "purchase_day"
            ),
            F.max(day).alias("last_day"),
        ),
    )
    horizon = firsts.agg(F.max("last_day").alias("max_day"))
    converted = F.col("purchase_day").isNotNull() & (
        F.col("purchase_day") >= F.col("signup_day")
    )
    obs = (
        firsts.crossJoin(horizon)
        .where(F.col("signup_day").isNotNull())
        .select(
            F.when(converted, F.col("purchase_day") - F.col("signup_day"))
            .otherwise(F.col("max_day") - F.col("signup_day"))
            .alias("t"),
            F.when(converted, 1).otherwise(0).alias("is_event"),
        )
    )
    wall = Window.partitionBy()
    grid = obs.groupBy("t").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.select(
        "t",
        "d",
        (
            F.sum("c").over(wall)
            - F.coalesce(F.sum("c").over(wt), F.lit(0))
        ).alias("n_at_risk"),
    )
    hazard = F.col("d").cast("double") / F.col("n_at_risk").cast("double")
    terms = risk.where(F.col("d") > 0).select(
        "t",
        "d",
        "n_at_risk",
        F.when(
            F.col("d") < F.col("n_at_risk"),
            F.round(F.log(1.0 - hazard), 6).cast("decimal(18,6)"),
        )
        .otherwise(F.lit(0).cast("decimal(18,6)"))
        .alias("logterm"),
        F.when(F.col("d") >= F.col("n_at_risk"), 1).otherwise(0).alias(
            "zeroed"
        ),
    )
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    return terms.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.when(F.sum("zeroed").over(cum) > 0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum("logterm").over(cum).cast("double")), 6)
        )
        .alias("survival"),
    )


_KM_FIRSTS_SQL = """
      SELECT user_id,
        MIN(CASE WHEN event_type = 'signup'
              THEN datediff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', CAST(ts AS TIMESTAMP))) END)
          AS signup_day,
        MIN(CASE WHEN event_type = 'purchase'
              THEN datediff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', CAST(ts AS TIMESTAMP))) END)
          AS purchase_day,
        MAX(datediff('day', TIMESTAMP '1970-01-01',
                     date_trunc('day', CAST(ts AS TIMESTAMP)))) AS last_day
      FROM events GROUP BY user_id
"""


@query(
    "events_logrank_signup_cohorts",
    oracle=f"""
    WITH firsts AS ({_KM_FIRSTS_SQL}),
    horizon AS (
      SELECT MAX(last_day) AS max_day,
        (MIN(signup_day) + MAX(signup_day)) // 2 AS mid_day
      FROM firsts
    ),
    obs AS (
      SELECT
        CASE WHEN signup_day <= mid_day THEN 1 ELSE 0 END AS g1,
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN purchase_day - signup_day
             ELSE max_day - signup_day END AS t,
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN 1 ELSE 0 END AS is_event
      FROM firsts CROSS JOIN horizon
      WHERE signup_day IS NOT NULL
    ),
    grid AS (
      SELECT t,
        CAST(SUM(CASE WHEN g1 = 1 THEN is_event ELSE 0 END) AS BIGINT) AS d1,
        CAST(SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN g1 = 0 THEN is_event ELSE 0 END) AS BIGINT) AS d2,
        CAST(SUM(CASE WHEN g1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        CAST((SELECT SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) FROM obs)
             AS BIGINT) AS n1_tot,
        CAST((SELECT SUM(CASE WHEN g1 = 0 THEN 1 ELSE 0 END) FROM obs)
             AS BIGINT) AS n2_tot
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d1, d2, n1_tot, n2_tot,
        n1_tot - COALESCE(SUM(c1) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
        n2_tot - COALESCE(SUM(c2) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
      FROM grid
    ),
    terms AS (
      SELECT n1_tot, n2_tot, d1,
        CAST(ROUND(CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
                   / CAST(n1 + n2 AS DOUBLE), 6) AS DECIMAL(18,6)) AS e1,
        CASE WHEN n1 + n2 >= 2 THEN CAST(ROUND(
          CAST(d1 + d2 AS DOUBLE)
          * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
          * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
          * CAST(n1 + n2 - d1 - d2 AS DOUBLE) / CAST(n1 + n2 - 1 AS DOUBLE),
          6) AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END AS v
      FROM risk WHERE d1 + d2 > 0
    )
    SELECT
      CAST(MAX(n1_tot) AS BIGINT) AS n_early,
      CAST(MAX(n2_tot) AS BIGINT) AS n_late,
      CAST(SUM(d1) AS BIGINT) AS observed_early,
      CAST(SUM(e1) AS DOUBLE) AS expected_early,
      CASE WHEN CAST(SUM(v) AS DOUBLE) > 0 THEN ROUND(
        (CAST(SUM(d1) AS DOUBLE) - CAST(SUM(e1) AS DOUBLE))
        * (CAST(SUM(d1) AS DOUBLE) - CAST(SUM(e1) AS DOUBLE))
        / CAST(SUM(v) AS DOUBLE), 6) END AS chi2
    FROM terms
    """,
)
def events_logrank_signup_cohorts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing signup-to-first-purchase
    survival between EARLY and LATE signup cohorts (signup_day at or
    before vs after the midpoint of the observed signup-day span) — the
    standard two-sample extension of events_kaplan_meier_conversion:
    at each distinct event time t, observed early-cohort conversions d1
    are compared against the hypergeometric expectation d*n1/n given the
    pooled at-risk counts, chi2 = (O1-E1)^2 / sum V with
    V = d*(n1/n)*(n2/n)*(n-d)/(n-1).

    Determinism: every count (d1, d2, n1, n2) is an exact BIGINT derived
    from the same censoring construction as the KM estimator; each
    per-day expectation and variance term is round-6 then DECIMAL(18,6)
    summed (order-insensitive), and the final chi2 divides identical
    doubles. The day-grid includes censor-only days (they advance the
    at-risk windows) but O/E/V terms sum only over days with d > 0.

    At 100 TB: rides the SessionMemo'd per-user firsts rollup (one fact
    pass shared with the KM curve), then day-grain windows — the test
    statistic aggregates a few hundred grid rows regardless of event
    volume.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("timestamp_ntz")
    )
    firsts = memo_persist(
        _KM_FIRSTS_CACHE,
        spark,
        sf_dir,
        lambda: e.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "signup", day)).alias(
                "signup_day"
            ),
            F.min(F.when(F.col("event_type") == "purchase", day)).alias(
                "purchase_day"
            ),
            F.max(day).alias("last_day"),
        ),
    )
    horizon = firsts.agg(
        F.max("last_day").alias("max_day"),
        (
            (F.min("signup_day") + F.max("signup_day"))
            .cast("bigint")
            / F.lit(2)
        )
        .cast("bigint")
        .alias("mid_day"),
    )
    converted = F.col("purchase_day").isNotNull() & (
        F.col("purchase_day") >= F.col("signup_day")
    )
    obs = (
        firsts.crossJoin(horizon)
        .where(F.col("signup_day").isNotNull())
        .select(
            F.when(F.col("signup_day") <= F.col("mid_day"), 1)
            .otherwise(0)
            .alias("g1"),
            F.when(converted, F.col("purchase_day") - F.col("signup_day"))
            .otherwise(F.col("max_day") - F.col("signup_day"))
            .alias("t"),
            F.when(converted, 1).otherwise(0).alias("is_event"),
        )
    )
    wall = Window.partitionBy()
    grid = obs.groupBy("t").agg(
        F.sum(F.when(F.col("g1") == 1, F.col("is_event")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("g1") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("g1") == 0, F.col("is_event")).otherwise(0))
        .cast("bigint")
        .alias("d2"),
        F.sum(F.when(F.col("g1") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.select(
        "t",
        "d1",
        "d2",
        F.sum("c1").over(wall).alias("n1_tot"),
        F.sum("c2").over(wall).alias("n2_tot"),
        (
            F.sum("c1").over(wall)
            - F.coalesce(F.sum("c1").over(wt), F.lit(0))
        ).alias("n1"),
        (
            F.sum("c2").over(wall)
            - F.coalesce(F.sum("c2").over(wt), F.lit(0))
        ).alias("n2"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    d_tot = (F.col("d1") + F.col("d2")).cast("double")
    n_tot = (F.col("n1") + F.col("n2")).cast("double")
    terms = risk.where(F.col("d1") + F.col("d2") > 0).select(
        "n1_tot",
        "n2_tot",
        "d1",
        F.round(d_tot * dd("n1") / n_tot, 6)
        .cast("decimal(18,6)")
        .alias("e1"),
        F.when(
            F.col("n1") + F.col("n2") >= 2,
            F.round(
                d_tot
                * (dd("n1") / n_tot)
                * (dd("n2") / n_tot)
                * (n_tot - d_tot)
                / (n_tot - 1.0),
                6,
            ).cast("decimal(18,6)"),
        )
        .otherwise(F.lit(0).cast("decimal(18,6)"))
        .alias("v"),
    )
    o1 = F.sum("d1").cast("bigint")
    e1 = F.sum("e1").cast("double")
    v = F.sum("v").cast("double")
    return terms.agg(
        F.max("n1_tot").cast("bigint").alias("n_early"),
        F.max("n2_tot").cast("bigint").alias("n_late"),
        o1.alias("observed_early"),
        e1.alias("expected_early"),
        F.when(
            v > 0,
            F.round(
                (o1.cast("double") - e1) * (o1.cast("double") - e1) / v, 6
            ),
        ).alias("chi2"),
    )


@query(
    "events_nelson_aalen_hazard",
    oracle=f"""
    WITH firsts AS ({_KM_FIRSTS_SQL}),
    horizon AS (SELECT MAX(last_day) AS max_day FROM firsts),
    obs AS (
      SELECT
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN purchase_day - signup_day
             ELSE max_day - signup_day END AS t,
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN 1 ELSE 0 END AS is_event
      FROM firsts CROSS JOIN horizon
      WHERE signup_day IS NOT NULL
    ),
    grid AS (
      SELECT t,
        CAST(SUM(is_event) AS BIGINT) AS d,
        CAST(COUNT(*) AS BIGINT) AS c,
        CAST((SELECT COUNT(*) FROM obs) AS BIGINT) AS n_total
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
        n_total - COALESCE(SUM(c) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
      FROM grid
    )
    SELECT CAST(t AS BIGINT) AS t_days,
      CAST(n_at_risk AS BIGINT) AS n_at_risk,
      d AS n_events,
      ROUND(CAST(SUM(CAST(ROUND(
        CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE), 6) AS DECIMAL(18,6)))
        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        AS DOUBLE), 6) AS cum_hazard
    FROM risk WHERE d > 0
    """,
)
def events_nelson_aalen_hazard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator H(t) = sum_{u<=t} d_u/n_u
    over the same right-censored signup-to-purchase construction as
    events_kaplan_meier_conversion — the additive counterpart of the KM
    product-limit curve (H is the natural scale for comparing hazard
    between pipelines and feeds the Fleming-Harrington S = exp(-H)).
    Unlike KM, H needs no ln and never saturates: a d = n day simply
    contributes 1.

    Determinism: d and n are exact BIGINTs from the shared firsts rollup;
    each increment d/n is round-6 then DECIMAL(18,6) cumulative-summed
    ordered by the distinct day, so both engines sum identical decimals.

    At 100 TB: identical shape to the KM query — one memoized fact pass,
    then day-grain windows.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("timestamp_ntz")
    )
    firsts = memo_persist(
        _KM_FIRSTS_CACHE,
        spark,
        sf_dir,
        lambda: e.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "signup", day)).alias(
                "signup_day"
            ),
            F.min(F.when(F.col("event_type") == "purchase", day)).alias(
                "purchase_day"
            ),
            F.max(day).alias("last_day"),
        ),
    )
    horizon = firsts.agg(F.max("last_day").alias("max_day"))
    converted = F.col("purchase_day").isNotNull() & (
        F.col("purchase_day") >= F.col("signup_day")
    )
    obs = (
        firsts.crossJoin(horizon)
        .where(F.col("signup_day").isNotNull())
        .select(
            F.when(converted, F.col("purchase_day") - F.col("signup_day"))
            .otherwise(F.col("max_day") - F.col("signup_day"))
            .alias("t"),
            F.when(converted, 1).otherwise(0).alias("is_event"),
        )
    )
    wall = Window.partitionBy()
    grid = obs.groupBy("t").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.select(
        "t",
        "d",
        (
            F.sum("c").over(wall)
            - F.coalesce(F.sum("c").over(wt), F.lit(0))
        ).alias("n_at_risk"),
    )
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    inc = F.round(
        F.col("d").cast("double") / F.col("n_at_risk").cast("double"), 6
    ).cast("decimal(18,6)")
    return risk.where(F.col("d") > 0).select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_at_risk").cast("bigint").alias("n_at_risk"),
        F.col("d").alias("n_events"),
        F.round(F.sum(inc).over(cum).cast("double"), 6).alias("cum_hazard"),
    )


@query(
    "events_bounce_rate_daily",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
        CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
               - epoch_us(LAG(CAST(ts AS TIMESTAMP)) OVER u) >= 300000000
              OR LAG(ts) OVER u IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged
    ),
    per_sess AS (
      SELECT user_id, sid,
        CAST(COUNT(*) AS BIGINT) AS n_events,
        date_trunc('day', CAST(MIN(ts) AS TIMESTAMP)) AS day
      FROM sess GROUP BY 1, 2
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
      CAST(COUNT(*) AS BIGINT) AS n_sessions,
      CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS BIGINT) AS n_bounces,
      ROUND(CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END) AS DOUBLE)
            / COUNT(*), 6) AS bounce_rate
    FROM per_sess GROUP BY 1
    """,
)
def events_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: the share of 5-minute-gap sessions holding
    exactly ONE event, keyed by the session's START day — the classic
    engagement-health metric the session-depth distribution generalizes
    (this entry is its actionable daily scalar). Same gaps-and-islands
    sessionization as events_session_windows (LAG >= 300s starts a new
    island; tie-break (ts, event_id)).

    Determinism: island ids are integer running sums over the
    deterministic per-user order; day labels are NTZ date_trunc strings;
    counts exact; one ratio, round-6.

    At 100 TB: one fact pass through the per-user window stack (the
    sessionization partitioning every events operator shares), a
    session-grain rollup, a day-grain census.
    """
    e = load_table(spark, sf_dir, "events")
    u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag(F.col("ts").cast("timestamp")).over(u)
    )
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            gap_us.isNull() | (gap_us >= 300_000_000), 1
        ).otherwise(0).alias("new_sess"),
    )
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = flagged.select(
        "user_id", "ts", F.sum("new_sess").over(cum).alias("sid")
    )
    per_sess = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.date_trunc("day", F.min("ts")).alias("day"),
    )
    bounce = F.count(F.when(F.col("n_events") == 1, 1))
    return per_sess.groupBy(
        F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        bounce.cast("bigint").alias("n_bounces"),
        F.round(bounce.cast("double") / F.count(F.lit(1)), 6).alias(
            "bounce_rate"
        ),
    )


@query(
    "events_rmst_conversion",
    oracle=f"""
    WITH firsts AS ({_KM_FIRSTS_SQL}),
    horizon AS (SELECT MAX(last_day) AS max_day FROM firsts),
    obs AS (
      SELECT
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN purchase_day - signup_day
             ELSE max_day - signup_day END AS t,
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN 1 ELSE 0 END AS is_event
      FROM firsts CROSS JOIN horizon
      WHERE signup_day IS NOT NULL
    ),
    grid AS (
      SELECT t,
        CAST(SUM(is_event) AS BIGINT) AS d,
        CAST(COUNT(*) AS BIGINT) AS c,
        CAST((SELECT COUNT(*) FROM obs) AS BIGINT) AS n_total
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
        n_total - COALESCE(SUM(c) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
      FROM grid
    ),
    terms AS (
      SELECT t, d, n_at_risk,
        CASE WHEN d < n_at_risk THEN CAST(ROUND(
          ln(1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)), 6)
          AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END AS logterm,
        CASE WHEN d >= n_at_risk THEN 1 ELSE 0 END AS zeroed
      FROM risk WHERE d > 0
    ),
    surv AS (
      SELECT t,
        CASE WHEN SUM(zeroed) OVER cum > 0 THEN 0.0
             ELSE ROUND(exp(CAST(SUM(logterm) OVER cum AS DOUBLE)), 6)
        END AS s
      FROM terms
      WINDOW cum AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    steps AS (
      SELECT t, s,
        COALESCE(LAG(t) OVER (ORDER BY t), 0) AS t_prev,
        COALESCE(LAG(s) OVER (ORDER BY t), 1.0) AS s_prev
      FROM surv WHERE t <= 30
    )
    SELECT
      CAST(30 AS BIGINT) AS tau_days,
      CAST(COUNT(*) AS BIGINT) AS n_steps,
      ROUND(CAST(SUM(CAST(ROUND(s_prev * (t - t_prev), 6)
            AS DECIMAL(18,6))) AS DOUBLE)
        + CAST(MIN_BY(s, -t) AS DOUBLE)
          * CAST(30 - MAX(t) AS DOUBLE), 6) AS rmst_unconverted_days
    FROM steps
    """,
)
def events_rmst_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at tau = 30 days: the area under
    the Kaplan-Meier curve — the average number of days a signup spends
    UNCONVERTED within the first month (the scalar growth teams compare
    across experiments when the hazard is non-proportional and a single
    log-rank is misleading). RMST = sum of step areas
    S(t_{i-1}) * (t_i - t_{i-1}) plus the tail rectangle to tau.

    Determinism: rides the identical KM grid/ln/exp construction
    (shared firsts memo); survivals are the same round-6 doubles; each
    step area is round-6 then DECIMAL-summed; step widths are exact
    integer day gaps; the tail rectangle multiplies the LAST survival
    (an argmax by day, integer) by an integer width.

    At 100 TB: the KM plan plus two windows over the <= tau-row grid.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("timestamp_ntz")
    )
    firsts = memo_persist(
        _KM_FIRSTS_CACHE,
        spark,
        sf_dir,
        lambda: e.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "signup", day)).alias(
                "signup_day"
            ),
            F.min(F.when(F.col("event_type") == "purchase", day)).alias(
                "purchase_day"
            ),
            F.max(day).alias("last_day"),
        ),
    )
    horizon = firsts.agg(F.max("last_day").alias("max_day"))
    converted = F.col("purchase_day").isNotNull() & (
        F.col("purchase_day") >= F.col("signup_day")
    )
    obs = (
        firsts.crossJoin(horizon)
        .where(F.col("signup_day").isNotNull())
        .select(
            F.when(converted, F.col("purchase_day") - F.col("signup_day"))
            .otherwise(F.col("max_day") - F.col("signup_day"))
            .alias("t"),
            F.when(converted, 1).otherwise(0).alias("is_event"),
        )
    )
    wall = Window.partitionBy()
    grid = obs.groupBy("t").agg(
        F.sum("is_event").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.select(
        "t",
        "d",
        (
            F.sum("c").over(wall)
            - F.coalesce(F.sum("c").over(wt), F.lit(0))
        ).alias("n_at_risk"),
    )
    hazard = F.col("d").cast("double") / F.col("n_at_risk").cast("double")
    terms = risk.where(F.col("d") > 0).select(
        "t",
        F.when(
            F.col("d") < F.col("n_at_risk"),
            F.round(F.log(1.0 - hazard), 6).cast("decimal(18,6)"),
        )
        .otherwise(F.lit(0).cast("decimal(18,6)"))
        .alias("logterm"),
        F.when(F.col("d") >= F.col("n_at_risk"), 1).otherwise(0).alias(
            "zeroed"
        ),
    )
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    surv = terms.select(
        "t",
        F.when(F.sum("zeroed").over(cum) > 0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum("logterm").over(cum).cast("double")), 6)
        )
        .alias("s"),
    ).where(F.col("t") <= 30)
    w = Window.orderBy("t")
    steps = surv.select(
        "t",
        "s",
        F.coalesce(F.lag("t").over(w), F.lit(0)).alias("t_prev"),
        F.coalesce(F.lag("s").over(w), F.lit(1.0)).alias("s_prev"),
    )
    area = F.sum(
        F.round(F.col("s_prev") * (F.col("t") - F.col("t_prev")), 6).cast(
            "decimal(18,6)"
        )
    ).cast("double")
    last_s = F.max_by("s", F.col("t")).cast("double")
    tail = last_s * (30 - F.max("t")).cast("double")
    return steps.agg(
        F.lit(30).cast("bigint").alias("tau_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_steps"),
        F.round(area + tail, 6).alias("rmst_unconverted_days"),
    )


@query(
    "events_fleming_harrington_logrank",
    oracle=f"""
    WITH firsts AS ({_KM_FIRSTS_SQL}),
    horizon AS (
      SELECT MAX(last_day) AS max_day,
        (MIN(signup_day) + MAX(signup_day)) // 2 AS mid_day
      FROM firsts
    ),
    obs AS (
      SELECT
        CASE WHEN signup_day <= mid_day THEN 1 ELSE 0 END AS g1,
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN purchase_day - signup_day
             ELSE max_day - signup_day END AS t,
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN 1 ELSE 0 END AS is_event
      FROM firsts CROSS JOIN horizon
      WHERE signup_day IS NOT NULL
    ),
    grid AS (
      SELECT t,
        CAST(SUM(CASE WHEN g1 = 1 THEN is_event ELSE 0 END) AS BIGINT) AS d1,
        CAST(SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN g1 = 0 THEN is_event ELSE 0 END) AS BIGINT) AS d2,
        CAST(SUM(CASE WHEN g1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        CAST((SELECT SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) FROM obs)
             AS BIGINT) AS n1_tot,
        CAST((SELECT SUM(CASE WHEN g1 = 0 THEN 1 ELSE 0 END) FROM obs)
             AS BIGINT) AS n2_tot
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d1, d2,
        n1_tot - COALESCE(SUM(c1) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
        n2_tot - COALESCE(SUM(c2) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
      FROM grid
    ),
    pooled AS (
      SELECT t, d1, d2, n1, n2,
        CASE WHEN d1 + d2 < n1 + n2 THEN CAST(ROUND(
          ln(1.0 - CAST(d1 + d2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)), 6)
          AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END AS logterm,
        CASE WHEN d1 + d2 >= n1 + n2 THEN 1 ELSE 0 END AS zeroed
      FROM risk WHERE d1 + d2 > 0
    ),
    survived AS (
      SELECT t, d1, d2, n1, n2,
        CASE WHEN SUM(zeroed) OVER cum > 0 THEN 0.0
          ELSE ROUND(exp(CAST(SUM(logterm) OVER cum AS DOUBLE)), 6)
        END AS s
      FROM pooled
      WINDOW cum AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    weighted AS (
      SELECT t, d1, d2, n1, n2,
        COALESCE(LAG(s) OVER (ORDER BY t), 1.0) AS w
      FROM survived
    ),
    terms AS (
      SELECT
        CAST(ROUND(w * (CAST(d1 AS DOUBLE)
          - CAST(d1 + d2 AS DOUBLE) * CAST(n1 AS DOUBLE)
            / CAST(n1 + n2 AS DOUBLE)), 6) AS DECIMAL(18,6)) AS oe,
        CASE WHEN n1 + n2 >= 2 THEN CAST(ROUND(w * w
          * CAST(d1 + d2 AS DOUBLE)
          * (CAST(n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
          * (CAST(n2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))
          * CAST(n1 + n2 - d1 - d2 AS DOUBLE)
          / CAST(n1 + n2 - 1 AS DOUBLE), 6) AS DECIMAL(18,6))
        ELSE CAST(0 AS DECIMAL(18,6)) END AS v
      FROM weighted
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_event_days,
      CAST(SUM(oe) AS DOUBLE) AS weighted_oe,
      CASE WHEN CAST(SUM(v) AS DOUBLE) > 0 THEN ROUND(
        CAST(SUM(oe) AS DOUBLE) * CAST(SUM(oe) AS DOUBLE)
        / CAST(SUM(v) AS DOUBLE), 6) END AS chi2
    FROM terms
    """,
)
def events_fleming_harrington_logrank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fleming-Harrington G(rho=1) weighted log-rank between the early
    and late signup cohorts: each event day's O-E and variance terms are
    weighted by the POOLED Kaplan-Meier survival just before the day,
    S(t-) — emphasizing EARLY differences (rho=1 is the Peto-Peto
    flavor), where the plain log-rank (rho=0, already registered)
    weighs all days equally. The pair brackets the standard sensitivity
    analysis when hazards cross.

    Determinism: the pooled S(t-) rides the identical KM ln/exp chain
    (LAG with default 1.0); weighted terms are round-6 decimal sums of
    identical double chains; chi2 divides the two sums once.

    At 100 TB: the log-rank plan plus one more window pass over the
    day-grain grid — the memoized firsts rollup still pays the only
    fact scan.
    """
    e = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("timestamp_ntz")
    )
    firsts = memo_persist(
        _KM_FIRSTS_CACHE,
        spark,
        sf_dir,
        lambda: e.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "signup", day)).alias(
                "signup_day"
            ),
            F.min(F.when(F.col("event_type") == "purchase", day)).alias(
                "purchase_day"
            ),
            F.max(day).alias("last_day"),
        ),
    )
    horizon = firsts.agg(
        F.max("last_day").alias("max_day"),
        (
            (F.min("signup_day") + F.max("signup_day")).cast("bigint")
            / F.lit(2)
        )
        .cast("bigint")
        .alias("mid_day"),
    )
    converted = F.col("purchase_day").isNotNull() & (
        F.col("purchase_day") >= F.col("signup_day")
    )
    obs = (
        firsts.crossJoin(horizon)
        .where(F.col("signup_day").isNotNull())
        .select(
            F.when(F.col("signup_day") <= F.col("mid_day"), 1)
            .otherwise(0)
            .alias("g1"),
            F.when(converted, F.col("purchase_day") - F.col("signup_day"))
            .otherwise(F.col("max_day") - F.col("signup_day"))
            .alias("t"),
            F.when(converted, 1).otherwise(0).alias("is_event"),
        )
    )
    wall = Window.partitionBy()
    grid = obs.groupBy("t").agg(
        F.sum(F.when(F.col("g1") == 1, F.col("is_event")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("g1") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("g1") == 0, F.col("is_event")).otherwise(0))
        .cast("bigint")
        .alias("d2"),
        F.sum(F.when(F.col("g1") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.select(
        "t",
        "d1",
        "d2",
        (
            F.sum("c1").over(wall)
            - F.coalesce(F.sum("c1").over(wt), F.lit(0))
        ).alias("n1"),
        (
            F.sum("c2").over(wall)
            - F.coalesce(F.sum("c2").over(wt), F.lit(0))
        ).alias("n2"),
    )
    dd_tot = (F.col("d1") + F.col("d2")).cast("double")
    nn_tot = (F.col("n1") + F.col("n2")).cast("double")
    pooled = risk.where(F.col("d1") + F.col("d2") > 0).select(
        "t",
        "d1",
        "d2",
        "n1",
        "n2",
        F.when(
            F.col("d1") + F.col("d2") < F.col("n1") + F.col("n2"),
            F.round(F.log(1.0 - dd_tot / nn_tot), 6).cast("decimal(18,6)"),
        )
        .otherwise(F.lit(0).cast("decimal(18,6)"))
        .alias("logterm"),
        F.when(
            F.col("d1") + F.col("d2") >= F.col("n1") + F.col("n2"), 1
        )
        .otherwise(0)
        .alias("zeroed"),
    )
    cum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    surv = F.when(F.sum("zeroed").over(cum) > 0, F.lit(0.0)).otherwise(
        F.round(F.exp(F.sum("logterm").over(cum).cast("double")), 6)
    )
    weighted = pooled.select(
        "t",
        "d1",
        "d2",
        "n1",
        "n2",
        F.coalesce(
            F.lag(surv).over(Window.orderBy("t")), F.lit(1.0)
        ).alias("w"),
    )
    oe = F.round(
        F.col("w")
        * (F.col("d1").cast("double") - dd_tot * F.col("n1").cast("double") / nn_tot),
        6,
    ).cast("decimal(18,6)")
    v = (
        F.when(
            F.col("n1") + F.col("n2") >= 2,
            F.round(
                F.col("w")
                * F.col("w")
                * dd_tot
                * (F.col("n1").cast("double") / nn_tot)
                * (F.col("n2").cast("double") / nn_tot)
                * (nn_tot - dd_tot)
                / (nn_tot - 1.0),
                6,
            ).cast("decimal(18,6)"),
        )
        .otherwise(F.lit(0).cast("decimal(18,6)"))
    )
    terms = weighted.select(oe.alias("oe"), v.alias("v"))
    soe = F.sum("oe").cast("double")
    sv = F.sum("v").cast("double")
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_days"),
        soe.alias("weighted_oe"),
        F.when(sv > 0, F.round(soe * soe / sv, 6)).alias("chi2"),
    )


@query(
    "events_gehan_wilcoxon_logrank",
    oracle=f"""
    WITH firsts AS ({_KM_FIRSTS_SQL}),
    horizon AS (
      SELECT MAX(last_day) AS max_day,
        (MIN(signup_day) + MAX(signup_day)) // 2 AS mid_day
      FROM firsts
    ),
    obs AS (
      SELECT
        CASE WHEN signup_day <= mid_day THEN 1 ELSE 0 END AS g1,
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN purchase_day - signup_day
             ELSE max_day - signup_day END AS t,
        CASE WHEN purchase_day IS NOT NULL AND purchase_day >= signup_day
             THEN 1 ELSE 0 END AS is_event
      FROM firsts CROSS JOIN horizon
      WHERE signup_day IS NOT NULL
    ),
    grid AS (
      SELECT t,
        CAST(SUM(CASE WHEN g1 = 1 THEN is_event ELSE 0 END) AS BIGINT) AS d1,
        CAST(SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN g1 = 0 THEN is_event ELSE 0 END) AS BIGINT) AS d2,
        CAST(SUM(CASE WHEN g1 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
        CAST((SELECT SUM(CASE WHEN g1 = 1 THEN 1 ELSE 0 END) FROM obs)
             AS BIGINT) AS n1_tot,
        CAST((SELECT SUM(CASE WHEN g1 = 0 THEN 1 ELSE 0 END) FROM obs)
             AS BIGINT) AS n2_tot
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d1, d2,
        n1_tot - COALESCE(SUM(c1) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
        n2_tot - COALESCE(SUM(c2) OVER (ORDER BY t
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
      FROM grid
    ),
    terms AS (
      SELECT t,
        CAST((n1 + n2) * d1 - (d1 + d2) * n1 AS BIGINT) AS oe,
        CASE WHEN n1 + n2 >= 2 THEN CAST(ROUND(
          CAST((d1 + d2) * n1 * n2 * (n1 + n2 - d1 - d2) AS DOUBLE)
          / CAST(n1 + n2 - 1 AS DOUBLE), 6) AS DECIMAL(38,6))
        ELSE CAST(0 AS DECIMAL(38,6)) END AS v
      FROM risk WHERE d1 + d2 > 0
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_event_days,
      CAST(SUM(oe) AS BIGINT) AS gehan_oe,
      CASE WHEN CAST(SUM(v) AS DOUBLE) > 0 THEN ROUND(
        CAST(SUM(oe) AS DOUBLE) * CAST(SUM(oe) AS DOUBLE)
        / CAST(SUM(v) AS DOUBLE), 6) END AS chi2
    FROM terms
    """,
)
def events_gehan_wilcoxon_logrank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gehan-Breslow-Wilcoxon weighted log-rank between the early/late
    signup cohorts: weight each event day by the POOLED AT-RISK COUNT
    n_t = n1 + n2 — the third member of the weighting family (rho=0
    flat, rho=1 Peto-Peto S(t-), Gehan n_t), most sensitive to the very
    start of follow-up where everyone is still at risk.

    The integer weight makes this the EXACT member: per-day
    O-E = d1 - (d1+d2)*n1/n_t scaled by n_t is n_t*d1 - (d1+d2)*n1 —
    pure BIGINT, so the weighted O-E SUM carries no float at all. The
    variance term n_t^2 * Var_hypergeom collapses to
    (d1+d2)*n1*n2*(n_t-d1-d2)/(n_t-1): one integer product over one
    integer divisor, round-6 decimal sum. chi2 divides the two sums
    once.

    At 100 TB: identical plan shape to the plain log-rank — the
    SessionMemo'd per-user firsts rollup pays the only fact scan; the
    day-grain grid rides two calendar-bounded windows."""
    e = load_table(spark, sf_dir, "events")
    day = F.datediff(
        F.date_trunc("day", "ts"), F.lit("1970-01-01").cast("timestamp_ntz")
    )
    firsts = memo_persist(
        _KM_FIRSTS_CACHE,
        spark,
        sf_dir,
        lambda: e.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "signup", day)).alias(
                "signup_day"
            ),
            F.min(F.when(F.col("event_type") == "purchase", day)).alias(
                "purchase_day"
            ),
            F.max(day).alias("last_day"),
        ),
    )
    horizon = firsts.agg(
        F.max("last_day").alias("max_day"),
        (
            (F.min("signup_day") + F.max("signup_day")).cast("bigint")
            / F.lit(2)
        )
        .cast("bigint")
        .alias("mid_day"),
    )
    converted = F.col("purchase_day").isNotNull() & (
        F.col("purchase_day") >= F.col("signup_day")
    )
    obs = (
        firsts.crossJoin(horizon)
        .where(F.col("signup_day").isNotNull())
        .select(
            F.when(F.col("signup_day") <= F.col("mid_day"), 1)
            .otherwise(0)
            .alias("g1"),
            F.when(converted, F.col("purchase_day") - F.col("signup_day"))
            .otherwise(F.col("max_day") - F.col("signup_day"))
            .alias("t"),
            F.when(converted, 1).otherwise(0).alias("is_event"),
        )
    )
    wall = Window.partitionBy()
    grid = obs.groupBy("t").agg(
        F.sum(F.when(F.col("g1") == 1, F.col("is_event")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum(F.when(F.col("g1") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("g1") == 0, F.col("is_event")).otherwise(0))
        .cast("bigint")
        .alias("d2"),
        F.sum(F.when(F.col("g1") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c2"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.select(
        "t",
        "d1",
        "d2",
        (
            F.sum("c1").over(wall)
            - F.coalesce(F.sum("c1").over(wt), F.lit(0))
        ).alias("n1"),
        (
            F.sum("c2").over(wall)
            - F.coalesce(F.sum("c2").over(wt), F.lit(0))
        ).alias("n2"),
    )
    nn = F.col("n1") + F.col("n2")
    dd = F.col("d1") + F.col("d2")
    oe = (nn * F.col("d1") - dd * F.col("n1")).cast("bigint")
    v = (
        F.when(
            nn >= 2,
            F.round(
                (dd * F.col("n1") * F.col("n2") * (nn - dd)).cast("double")
                / (nn - 1).cast("double"),
                6,
            ).cast("decimal(38,6)"),
        )
        .otherwise(F.lit(0).cast("decimal(38,6)"))
    )
    terms = risk.where(dd > 0).select(oe.alias("oe"), v.alias("v"))
    soe = F.sum("oe").cast("bigint")
    soed = soe.cast("double")
    sv = F.sum("v").cast("double")
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_event_days"),
        soe.alias("gehan_oe"),
        F.when(sv > 0, F.round(soed * soed / sv, 6)).alias("chi2"),
    )
