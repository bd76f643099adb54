"""Structured Streaming surface over `events` (SURVEY.md §2b, M4).

The reference is strictly batch (one clustering job per run, master.py:106-159)
— streaming is driver-mandated new capability. Design:

- Source: the same parquet the batch queries read, consumed through
  ``readStream`` with an explicit schema (file-stream sources require one) and
  an ``availableNow`` trigger: process everything currently present, then
  stop. This makes every streaming job a *superset* of its batch twin —
  tests assert stream ≡ batch on identical input.
- Event time: `ts` with a watermark. With availableNow over static files the
  watermark never closes windows mid-run, so results match batch exactly;
  in continuous deployment the same code incrementally emits finalized
  windows and bounds state (the point of the watermark at 100 TB/day rates).
- Custom stateful operator: per-user running stats via
  ``applyInPandasWithState`` — the Spark-idiomatic form of "custom stateful
  streaming operator" (GroupState keyed by user, Arrow-batched).

Memory sinks are used by tests/bench only; production would writeStream to
parquet/Kafka with checkpointing.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import scoped_conf
from ..sources.catalog import TABLE_SCHEMAS

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"


def _fmt_utc(col) -> "F.Column":
    """Render an instant TIMESTAMP as its UTC wall-time string regardless of
    the session timezone. Streaming event time must be TIMESTAMP (watermarks
    reject NTZ), and date_format renders TIMESTAMP in the session zone — so
    a non-UTC session would shift every window label away from the batch
    twins' NTZ strings. cast→NTZ gives session wall time; convert_timezone
    (session→UTC) takes it back to the UTC wall time the instant encodes."""
    return F.date_format(
        F.convert_timezone(None, F.lit("UTC"), col.cast("timestamp_ntz")),
        _TS_FMT_SPARK,
    )

# All staging/checkpoint dirs live under one process-scoped root that is
# removed at interpreter exit; source-staging dirs are additionally cached
# and reused across calls, so repeated invocations do not grow disk usage.
_TMP_ROOT: str | None = None
_STAGE_CACHE: dict[tuple, str] = {}


def _tmp_root() -> str:
    global _TMP_ROOT
    if _TMP_ROOT is None:
        _TMP_ROOT = tempfile.mkdtemp(prefix="kmmr_stream_")
        atexit.register(shutil.rmtree, _TMP_ROOT, ignore_errors=True)
    return _TMP_ROOT


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet as a file-stream source.

    Watermarks require TIMESTAMP (not NTZ), so unlike the batch loader the
    stream's `ts` is a UTC instant: the parquet wall-clock value is pinned
    to UTC. Downstream window labels are rendered with _fmt_utc, so results
    match the batch (NTZ) twins under ANY session timezone
    (tests/test_timezone.py). The on-disk time unit is footer-sniffed, same
    as the batch loader (sources/catalog.py:_events_ts_unit) — the driver
    has shipped both TIMESTAMP(NANOS) and TIMESTAMP_MICROS testdata.
    """
    from ..sources.catalog import _events_ts_unit

    unit = _events_ts_unit(os.path.join(sf_dir, "events.parquet"))
    # FileStreamSource requires a directory; the test tables are single
    # parquet files. Stage a temp dir with a symlink (no data copy),
    # reused across calls for the same sf_dir.
    key = ("events_parquet", sf_dir)
    stage = _STAGE_CACHE.get(key)
    if stage is None or not os.path.isdir(stage):
        stage = tempfile.mkdtemp(prefix="events_stream_", dir=_tmp_root())
        os.symlink(
            os.path.join(sf_dir, "events.parquet"),
            os.path.join(stage, "events.parquet"),
        )
        _STAGE_CACHE[key] = stage
    if unit in ("s", "ms", "us"):
        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
                for f in TABLE_SCHEMAS["events"]
            ]
        )
        return (
            spark.readStream.schema(schema)
            .parquet(stage)
            .withColumn(
                # NTZ wall time (== UTC wall time by convention) → instant:
                # re-express the UTC wall clock in the session zone, then cast
                # NTZ→TIMESTAMP (which interprets in the session zone). Net
                # effect is "this wall time, pinned as UTC", independent of
                # the session timezone.
                "ts",
                F.expr(
                    "cast(convert_timezone('UTC', current_timezone(), ts)"
                    " as timestamp)"
                ),
            )
        )
    # per-read option, not a session-conf mutation (sources/catalog.py has
    # the same discipline on the batch path)
    return (
        spark.readStream.schema(TABLE_SCHEMAS["events"])
        .option("spark.sql.legacy.parquet.nanosAsLong", "true")
        .parquet(stage)
        .withColumn(
            # integer div, not /1000: double division drifts +1µs on ~¼ of
            # rows at epoch magnitude (see sources/catalog.py)
            "ts",
            F.timestamp_micros(F.expr("ts div 1000")),
        )
    )


def _state_epoch(state_path: str) -> int:
    """Last epoch folded into the copy-on-write state at state_path (-1 if
    none). The marker lives INSIDE the versioned state dir (parquet readers
    ignore underscore-prefixed files), so it can never disagree with the
    data it describes — they publish in one atomic swap."""
    try:
        with open(os.path.join(os.path.realpath(state_path), "_epoch")) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def _publish_state(merged: DataFrame, state_path: str, epoch_id: int) -> None:
    """Atomically publish a new state version: write to a fresh versioned
    dir next to state_path, stamp the applied epoch inside it, then swap a
    symlink with a single rename(2). A crash at any point leaves either the
    complete old state or the complete new state — the previous two-step
    directory rename had a window with NO state dir at all (round-3
    advisor finding). The superseded version dir is removed after the swap.
    """
    parent = os.path.dirname(state_path)
    version = os.path.join(parent, f"v{epoch_id}_{uuid.uuid4().hex[:6]}")
    merged.write.mode("overwrite").parquet(version)
    with open(os.path.join(version, "_epoch"), "w") as fh:
        fh.write(str(epoch_id))
    prior = (
        os.path.realpath(state_path) if os.path.lexists(state_path) else None
    )
    tmp_link = os.path.join(parent, f".swap_{uuid.uuid4().hex[:6]}")
    os.symlink(os.path.basename(version), tmp_link)
    os.replace(tmp_link, state_path)  # atomic on POSIX
    if prior and prior != version and os.path.isdir(prior):
        shutil.rmtree(prior, ignore_errors=True)


def _run_available_now(
    stream_df: DataFrame, query_name: str, mode: str = "complete"
) -> DataFrame:
    """Drain the stream into a memory sink with an availableNow trigger and
    return the sink contents as a DataFrame. Stream-stream joins only
    support append mode; aggregations use complete."""
    sink = f"{query_name}_{uuid.uuid4().hex[:8]}"
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{sink}_", dir=_tmp_root())
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # availableNow drained to completion; the memory sink holds the
        # rows, so the checkpoint is dead weight from here on.
        shutil.rmtree(checkpoint, ignore_errors=True)
    return stream_df.sparkSession.table(sink)


def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.events.events_tumbling_hourly."""
    from ..operators._util import dsum

    e = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            _fmt_utc(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "approx_users",
        )
    )
    return _run_available_now(agg, "tumbling_hourly")


def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.events.events_session_windows."""
    e = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = (
        e.groupBy(F.session_window("ts", "5 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            _fmt_utc(F.col("w.start")).alias("session_start"),
            "n_events",
        )
    )
    return _run_available_now(agg, "sessionization")


_USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def _update_user_stats(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Custom stateful operator body: accumulate (count, sum, max) per user
    across micro-batches. Arrow-batched — each call sees whole pandas frames,
    never Python-per-row."""
    (user_id,) = key
    if state.exists:
        n, total, mx = state.get
    else:
        n, total, mx = 0, 0.0, float("-inf")
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n += len(pdf)
        if len(vals):
            total += float(vals.sum())
            mx = max(mx, float(vals.max()))
    state.update((n, total, mx))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total],
            "max_value": [mx if mx != float("-inf") else None],
        }
    )


def stream_user_running_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via applyInPandasWithState (custom stateful
    streaming operator; state keyed and partitioned by user_id)."""
    e = read_events_stream(spark, sf_dir)
    stats = (
        e.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats,
            outputStructType=_USER_STATS_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = f"user_stats_{uuid.uuid4().hex[:8]}"
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{sink}_", dir=_tmp_root())
    try:
        q = (
            stats.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    # update-mode sink may hold several rows per user (one per batch); the
    # final state per user is the row with the max n_events.
    return _drain_user_stats_sink(spark, sink)


def stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.events.events_sliding_1h_30m."""
    from ..operators._util import dsum

    e = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            _fmt_utc(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_available_now(agg, "sliding_windows")


def stream_static_join_enriched_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream joins a static dimension (a
    per-type weight table) executor-side — the static side is (re)broadcast
    per micro-batch, the canonical enrichment pattern for streaming ETL."""
    e = read_events_stream(spark, sf_dir)
    dim = spark.createDataFrame(
        [("view", 1), ("click", 2), ("signup", 5), ("purchase", 10), ("error", 0)],
        "event_type STRING, weight INT",
    )
    joined = e.join(F.broadcast(dim), "event_type")
    agg = joined.groupBy("event_type", "weight").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("weight").cast("long")).alias("weighted_events"),
    )
    return _run_available_now(agg, "stream_static_join")


def stream_stream_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: each view joined to the same user's clicks
    within the next 10 minutes.

    Both sides carry watermarks and the join condition bounds click_ts
    relative to view_ts, so Spark can expire buffered state — without the
    time bound a stream-stream join would buffer both streams forever. This
    is the interval-join pattern (the batch twin is a plain range-predicate
    join; tests assert stream ≡ batch on identical input). Append mode is
    required for stream-stream joins.
    """
    views = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("view_id", "click_id", "user_id", "view_ts", "click_ts")
    return _run_available_now(joined, "stream_stream_join", mode="append")


def batch_view_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream_stream_view_click_join (same UTC-instant ts)."""
    e = read_events_stream  # noqa: F841 — doc anchor; batch reads directly
    from ..sources import load_table

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    return views.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")),
    ).select("view_id", "click_id", "user_id", "view_ts", "click_ts")


def stream_dedup_user_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first event per (user_id, event_type) key via
    dropDuplicatesWithinWatermark — the streaming twin of batch
    dropDuplicates. The watermark bounds the dedup state: keys older than
    the watermark are evicted, so state is O(keys per watermark window)
    instead of O(all keys ever) — the property that makes streaming dedup
    viable at 100 TB/day. Batch twin: distinct over the same columns."""
    e = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = e.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    return _run_available_now(
        deduped.select("user_id", "event_type"), "stream_dedup", mode="append"
    )


# Driver-visible registrations: streaming runs can't be SQL-oracled (DuckDB
# has no streaming), so these register rows-only; stream ≡ batch equality is
# asserted in tests/test_streaming.py against the oracled batch twins.
from ..registry import query as _query  # noqa: E402

_query("streaming_tumbling_hourly")(stream_tumbling_hourly)
_query("streaming_view_click_interval_join")(stream_stream_view_click_join)


def stream_user_stats_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applyInPandasWithState custom stateful operator's final per-user
    stats, oracled against plain batch aggregation SQL. Exact columns only:
    n_events is an integer count and max_value a single comparison — both
    order-insensitive; the running float sum is projected away (its
    accumulation order differs from a SQL SUM's)."""
    return stream_user_running_stats(spark, sf_dir).select("user_id", "n_events", "max_value")


_query(
    "streaming_user_stats_vs_batch",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
)(stream_user_stats_vs_batch)


def read_events_stream_jsonl(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """events as a JSON-lines file stream — the Kafka-shaped input path.

    A log-shipping/Kafka-connect pipeline lands newline-delimited JSON, not
    parquet; this source proves the engine's streaming jobs are
    format-agnostic: the batch events table is staged as n_files JSONL
    shards (timestamps as ISO strings, the wire format JSON actually
    carries), then consumed via readStream.schema(...).json(dir). Explicit
    schema as always — a streaming source must never infer. Downstream jobs
    are identical: ts parses back to the same UTC instants, so every
    windowed aggregation matches its parquet-stream and batch twins
    (tested).
    """
    from ..sources.catalog import load_table

    key = ("events_jsonl", sf_dir, n_files)
    stage = _STAGE_CACHE.get(key)
    if stage is None or not os.path.isdir(stage):
        stage = tempfile.mkdtemp(prefix="events_jsonl_", dir=_tmp_root())
        batch = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        batch.repartition(n_files).write.mode("overwrite").json(stage)
        _STAGE_CACHE[key] = stage
    schema = (
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
        .withColumn(
            # Parse as NTZ (TZ-independent) then pin the UTC wall time to a
            # real instant via convert_timezone(UTC → session) + cast; a
            # plain to_timestamp would interpret the wire string in the
            # session zone and shift every event under non-UTC sessions.
            "ts",
            F.expr(
                "cast(convert_timezone('UTC', current_timezone(), "
                "to_timestamp_ntz(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')) as timestamp)"
            ),
        )
    )


def stream_tumbling_hourly_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_tumbling_hourly over the JSONL source — same aggregation code,
    different wire format; must produce identical rows (tested)."""
    from ..operators._util import dsum

    e = read_events_stream_jsonl(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            F.approx_count_distinct("user_id").alias("approx_users"),
        )
        .select(
            _fmt_utc(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "approx_users",
        )
    )
    return _run_available_now(agg, "tumbling_hourly_jsonl")


# --- Driver-ORACLED stream ≡ batch equivalence -------------------------------
# availableNow over a static source is deterministic and must equal the batch
# twin, so the equivalence itself can carry the batch twin's DuckDB oracle:
# the driver executes the STREAMING pipeline (source staging, watermark,
# checkpointed memory sink) and hash-compares it against batch SQL. A stream
# that drifted from batch semantics fails the correctness gate, not just a
# local test. approx_users is projected away (HLL sketches are not
# oracle-comparable); the exact columns are.

_TUMBLING_ORACLE = """
    SELECT
      strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY 1, 2
"""

_SESSION_ORACLE = """
    WITH ordered AS (
      SELECT
        user_id,
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
          PARTITION BY user_id ORDER BY ts, new_session
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM ordered
    )
    SELECT
      user_id,
      strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
      COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
"""


def stream_tumbling_hourly_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_tumbling_hourly's deterministic columns, oracled against the
    batch twin's SQL (events_tumbling_hourly, operators/events.py)."""
    return stream_tumbling_hourly(spark, sf_dir).select(
        "window_start", "event_type", "n_events", "sum_value"
    )


def stream_tumbling_hourly_jsonl_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same equivalence through the JSONL (Kafka-shaped) source: wire-format
    independence is driver-checked too."""
    return stream_tumbling_hourly_jsonl(spark, sf_dir).select(
        "window_start", "event_type", "n_events", "sum_value"
    )


_query("streaming_tumbling_hourly_vs_batch", oracle=_TUMBLING_ORACLE)(
    stream_tumbling_hourly_vs_batch
)
_query("streaming_tumbling_hourly_jsonl_vs_batch", oracle=_TUMBLING_ORACLE)(
    stream_tumbling_hourly_jsonl_vs_batch
)
_query("streaming_session_windows_vs_batch", oracle=_SESSION_ORACLE)(
    stream_sessionization
)

# Sliding windows: each event lands in exactly 2 windows (1h length / 30m
# slide); the oracle replays Spark's row expansion with a 2-row shift grid
# (same construction as the batch twin's oracle, operators/events.py).
_SLIDING_ORACLE = """
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
      strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM grid
    GROUP BY 1, 2
"""

_DEDUP_ORACLE = """
    SELECT DISTINCT user_id, event_type FROM events
"""

_STATIC_JOIN_ORACLE = """
    SELECT
      e.event_type,
      d.weight,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(d.weight AS BIGINT)) AS BIGINT) AS weighted_events
    FROM events e
    JOIN (VALUES ('view', 1), ('click', 2), ('signup', 5), ('purchase', 10),
                 ('error', 0)) AS d(event_type, weight)
      ON e.event_type = d.event_type
    GROUP BY 1, 2
"""

# Stream-stream interval join, oracled: the watermarked two-stream join over
# a static availableNow source is deterministic and equals the plain
# range-predicate batch join DuckDB runs. Window label strings via _fmt_utc
# keep the comparison timezone-independent (raw TIMESTAMP columns don't
# hash-compare across engines).
_INTERVAL_JOIN_ORACLE = """
    SELECT
      v.event_id AS view_id,
      c.event_id AS click_id,
      v.user_id,
      strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS view_ts,
      strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events v
    JOIN events c
      ON v.user_id = c.user_id
     AND c.ts > v.ts
     AND c.ts <= v.ts + INTERVAL 10 MINUTE
    WHERE v.event_type = 'view' AND c.event_type = 'click'
"""


def stream_interval_join_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_stream_view_click_join with timestamps rendered as UTC wall
    strings, oracled against the equivalent batch range join."""
    j = stream_stream_view_click_join(spark, sf_dir)
    return j.select(
        "view_id",
        "click_id",
        "user_id",
        _fmt_utc(F.col("view_ts")).alias("view_ts"),
        _fmt_utc(F.col("click_ts")).alias("click_ts"),
    )


_query("streaming_interval_join_vs_batch", oracle=_INTERVAL_JOIN_ORACLE)(
    stream_interval_join_vs_batch
)
_query("streaming_sliding_1h_30m_vs_batch", oracle=_SLIDING_ORACLE)(
    stream_sliding_windows
)
_query("streaming_dedup_vs_batch", oracle=_DEDUP_ORACLE)(
    stream_dedup_user_event_types
)
_query("streaming_static_join_vs_batch", oracle=_STATIC_JOIN_ORACLE)(
    stream_static_join_enriched_counts
)


def stream_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance: foreachBatch folds each
    micro-batch into a durable (day, user) rollup via the SAME
    combine_additive the batch path uses (operators/incremental.py), with
    copy-on-write parquet state swaps (the merge_upsert_parquet discipline).

    The fact is staged as 4 parquet files + maxFilesPerTrigger=1, so the
    availableNow drain genuinely replays 4 micro-batches — refresh order is
    whatever the source picks, which is exactly what combine_additive's
    commutativity must absorb. No watermark/stateful-agg machinery is
    involved (state lives in the parquet table, not the stream), so ts
    stays TIMESTAMP_NTZ end-to-end and the result is session-zone-free.

    At scale this is the canonical "streaming ingest keeps a serving
    rollup fresh" job: per refresh it shuffles only the micro-batch's
    partial agg, and rewrites only touched state (broadcast anti/semi
    split) — never the fact, never the full state.
    """
    import os as _os

    from ..operators.incremental import _agg_batch, combine_additive
    from ..sources import load_table

    e = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="inc_stage_", dir=_tmp_root())
    for i in range(4):
        (
            e.where(F.pmod(F.col("event_id"), F.lit(4)) == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(stage)
        )
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
            for f in TABLE_SCHEMAS["events"]
        ]
    )
    state_path = _os.path.join(
        tempfile.mkdtemp(prefix="inc_state_", dir=_tmp_root()), "state"
    )

    def refresh(bdf: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once and additive combine is NOT
        # idempotent: skip epochs already folded into the state.
        if epoch_id <= _state_epoch(state_path):
            return
        delta = _agg_batch(bdf)
        if _os.path.isdir(state_path):
            merged = combine_additive(spark.read.parquet(state_path), delta)
        else:
            merged = delta
        _publish_state(merged, state_path, epoch_id)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    checkpoint = tempfile.mkdtemp(prefix="ckpt_inc_", dir=_tmp_root())
    q = (
        stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state_path).select(
        F.col("day").cast("string").alias("day"),
        "user_id",
        F.col("sum_value").cast("double").alias("sum_value"),
        "n_events",
    )


_INCREMENTAL_ORACLE = """
    SELECT
      CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      user_id,
      CAST(SUM(CAST(ROUND((value), 6) AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
"""

_query("streaming_incremental_rollup_vs_batch", oracle=_INCREMENTAL_ORACLE)(
    stream_incremental_rollup
)


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply: a stream of keyed UPSERT batches folds into a
    serving table via merge_upsert (updates win on collision, base
    survives otherwise) — the Delta/Iceberg MERGE INTO streaming-sink
    pattern on plain parquet.

    The change stream is synthesized deterministically: 4 staged batches
    of order 'price revisions' (batch i revises keys with
    o_orderkey % 4 == i to cents * (100 + i), i.e. a +i% bump carried in
    1/10000-dollar integer units — integer arithmetic because double
    ROUND half-ties diverge between engines; see NEXT.md lesson 3). Batches arrive one per
    micro-batch (maxFilesPerTrigger=1) in source order is NOT guaranteed —
    so revisions carry a batch_no and merge keeps the HIGHEST batch_no per
    key (last-writer-wins needs an explicit version, never arrival order:
    the one CDC lesson that matters). Final table = base orders with every
    key's highest-version revision applied — DuckDB recomputes it
    relationally.
    """
    import os as _os

    from ..sources import load_table
    from ..sources.sinks import merge_upsert

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    base_units = o.select(
        "o_orderkey",
        (F.round(F.col("o_totalprice") * 100, 0).cast("long") * 100).alias(
            "price_units"
        ),
    )
    stage = tempfile.mkdtemp(prefix="cdc_stage_", dir=_tmp_root())
    for i in range(4):
        (
            o.where(F.pmod(F.col("o_orderkey"), F.lit(4)) == i)
            .select(
                "o_orderkey",
                (
                    F.round(F.col("o_totalprice") * 100, 0).cast("long")
                    * (100 + i)
                ).alias("price_units"),
                F.lit(i).cast("int").alias("batch_no"),
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(stage)
        )
    state_path = _os.path.join(
        tempfile.mkdtemp(prefix="cdc_state_", dir=_tmp_root()), "state"
    )
    base = base_units.withColumn("batch_no", F.lit(-1).cast("int"))
    _publish_state(base, state_path, -1)

    def apply_batch(bdf: DataFrame, epoch_id: int) -> None:
        cur = spark.read.parquet(state_path)
        # last-writer-wins by explicit version: keep the incoming row only
        # where its batch_no beats the current row's — this makes a
        # replayed batch a no-op by construction (no epoch skip needed).
        incoming = bdf.alias("i").join(
            cur.select("o_orderkey", F.col("batch_no").alias("cur_no")),
            "o_orderkey",
            "left",
        ).where(
            F.col("cur_no").isNull() | (F.col("batch_no") > F.col("cur_no"))
        ).select("o_orderkey", "price_units", "batch_no")
        merged = merge_upsert(cur, incoming, ["o_orderkey"])
        _publish_state(merged, state_path, epoch_id)

    schema = "o_orderkey LONG, price_units LONG, batch_no INT"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    checkpoint = tempfile.mkdtemp(prefix="ckpt_cdc_", dir=_tmp_root())
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state_path).select(
        "o_orderkey",
        F.col("price_units").alias("price_after_cdc_units"),
        "batch_no",
    )


_CDC_ORACLE = """
    SELECT
      o_orderkey,
      CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) * (100 + o_orderkey % 4)
        AS price_after_cdc_units,
      CAST(o_orderkey % 4 AS INT) AS batch_no
    FROM orders
"""

_query("streaming_cdc_apply_vs_batch", oracle=_CDC_ORACLE)(stream_cdc_apply)


def stream_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the MERGEABLE histogram sketch family
    (operators/sketches.hist_quantiles_daily_merge): each micro-batch
    reduces to (event_type, day, bin) integer counts which fold
    additively into a durable sketch table (copy-on-write parquet, same
    discipline as the incremental-rollup twin); quantiles read the merged
    sketch, never the raw stream. This is exactly why mergeable sketches
    exist — the streaming job and any batch backfill produce byte-equal
    state because merging is addition.

    Bound fixing, honestly: equi-width sketches need bounds chosen BEFORE
    ingestion. Production fixes them from a historical profile; here the
    profile scan reads the same staged table so the streaming result is
    comparable to the batch oracle (which derives the identical min/max).
    Arrival order is irrelevant — addition commutes — so no
    ordering/watermark machinery is needed.
    """
    import os as _os

    from ..sources import load_table

    e = load_table(spark, sf_dir, "events")
    lo, hi = e.where(F.col("value").isNotNull()).agg(
        F.min("value"), F.max("value")
    ).first()
    # constant data (hi == lo) zeroes the bucket width and the bin floor
    # would throw DIVIDE_BY_ZERO under ANSI: any positive width is correct
    # there (every value lands in bin 0); real data is unaffected
    width = (hi - lo) / 1000.0 or 1.0

    stage = tempfile.mkdtemp(prefix="hist_stage_", dir=_tmp_root())
    for i in range(4):
        (
            e.where(F.pmod(F.col("event_id"), F.lit(4)) == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(stage)
        )
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
            for f in TABLE_SCHEMAS["events"]
        ]
    )
    state_path = _os.path.join(
        tempfile.mkdtemp(prefix="hist_state_", dir=_tmp_root()), "state"
    )

    def sketch_batch(bdf: DataFrame) -> DataFrame:
        return (
            bdf.where(F.col("value").isNotNull())
            .groupBy(
                "event_type",
                F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
                F.least(
                    F.floor((F.col("value") - F.lit(lo)) / F.lit(width)).cast("long"),
                    F.lit(999),
                ).alias("bin"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def refresh(bdf: DataFrame, epoch_id: int) -> None:
        # additive bin counts are NOT idempotent: skip replayed epochs
        if epoch_id <= _state_epoch(state_path):
            return
        delta = sketch_batch(bdf)
        if _os.path.isdir(state_path):
            merged = (
                spark.read.parquet(state_path)
                .unionByName(delta)
                .groupBy("event_type", "day", "bin")
                .agg(F.sum("n").cast("long").alias("n"))
            )
        else:
            merged = delta
        _publish_state(merged, state_path, epoch_id)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    checkpoint = tempfile.mkdtemp(prefix="ckpt_hist_", dir=_tmp_root())
    q = (
        stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    sketch = spark.read.parquet(state_path)
    merged = sketch.groupBy("event_type", "bin").agg(F.sum("n").cast("long").alias("n"))
    from pyspark.sql.window import Window as _W

    wc = (
        _W.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    wt = _W.partitionBy("event_type")
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
    return qbins.select(
        "event_type",
        F.round(F.lit(lo) + (F.col("b50") + 0.5) * F.lit(width), 6).alias("p50_approx"),
        F.round(F.lit(lo) + (F.col("b95") + 0.5) * F.lit(width), 6).alias("p95_approx"),
        F.round(F.lit(lo) + (F.col("b99") + 0.5) * F.lit(width), 6).alias("p99_approx"),
    )


from ..operators.sketches import HIST_QUANTILES_ORACLE as _HIST_ORACLE  # noqa: E402

_query("streaming_hist_quantiles_vs_batch", oracle=_HIST_ORACLE)(stream_hist_quantiles)


# --- transformWithState: the Spark 4 arbitrary-stateful-processing API ---
# (SPARK-42822 "state v2"): typed state primitives (ValueState here; List/
# MapState available), timers, and schema evolution — the successor to
# applyInPandasWithState's single-tuple GroupState above. Both are kept:
# real deployments are mid-migration between the two APIs.

_TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("max_value", T.DoubleType()),
        T.StructField("min_value", T.DoubleType()),
    ]
)

_TWS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("mx", T.DoubleType()),
        T.StructField("mn", T.DoubleType()),
    ]
)


from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor as _StatefulProcessor,
)


class _UserStatsProcessor(_StatefulProcessor):
    """StatefulProcessor body: per-user (count, max, min) across
    micro-batches in a ValueState cell. Arrow-batched like
    _update_user_stats; only exact order-insensitive aggregates."""

    def init(self, handle) -> None:
        self._state = handle.getValueState("stats", _TWS_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        prior = self._state.get()
        n, mx, mn = prior if prior is not None else (0, float("-inf"), float("inf"))
        for pdf in rows:
            vals = pdf["value"].dropna()
            n += len(pdf)
            if len(vals):
                mx = max(mx, float(vals.max()))
                mn = min(mn, float(vals.min()))
        self._state.update((n, mx, mn))
        (user_id,) = key
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "max_value": [mx], "min_value": [mn]}
        )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        return iter(())

    def handleInitialState(self, key, initialState, timerValues) -> None:
        pass

    def close(self) -> None:
        pass


def _update_user_stats_minmax(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """applyInPandasWithState body computing the tws twin's exact columns
    (count, max, min) — the fallback path of stream_user_stats_tws."""
    (user_id,) = key
    if state.exists:
        n, mx, mn = state.get
    else:
        n, mx, mn = 0, float("-inf"), float("inf")
    for pdf in pdfs:
        vals = pdf["value"].dropna()
        n += len(pdf)
        if len(vals):
            mx = max(mx, float(vals.max()))
            mn = min(mn, float(vals.min()))
    state.update((n, mx, mn))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "max_value": [mx if mx != float("-inf") else None],
            "min_value": [mn if mn != float("inf") else None],
        }
    )


def _drain_user_stats_sink(spark: SparkSession, sink: str) -> DataFrame:
    """Read a finished memory-sink table, keep each user's LAST update row,
    and RELEASE the sink. The per-invocation uuid-named memory sink would
    otherwise accumulate driver memory for the life of the session (the
    lazily-returned DataFrame kept the table referenced and nothing ever
    dropped it — advisor-flagged). localCheckpoint materializes the small
    per-user result on the executors and cuts lineage, so the temp view can
    be dropped immediately and the checkpoint blocks are freed by the
    ContextCleaner once the returned frame is garbage-collected."""
    from pyspark.sql import Window as _W

    raw = spark.table(sink)
    w = _W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    out = (
        raw.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(sink)
    return out


def _stream_user_stats_apply_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream_user_stats_tws's columns through applyInPandasWithState —
    used where transformWithStateInPandas cannot run (see _tws_available)."""
    e = read_events_stream(spark, sf_dir)
    stats = (
        e.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_stats_minmax,
            outputStructType=_TWS_OUT_SCHEMA,
            stateStructType=_TWS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = f"user_stats_twsfb_{uuid.uuid4().hex[:8]}"
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{sink}_", dir=_tmp_root())
    try:
        q = (
            stats.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    return _drain_user_stats_sink(spark, sink)


def stream_user_stats_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running stats via transformWithStateInPandas — the Spark 4
    stateful API twin of stream_user_running_stats. Requires the RocksDB
    state store; the provider conf is set for the query start and restored
    after (session-conf hygiene).

    Where the runtime can't run transformWithStateInPandas (no
    google.protobuf in the Python workers — see _tws_available), the SAME
    stateful aggregation runs through applyInPandasWithState instead, so
    the query registers UNCONDITIONALLY and queries() has identical keys
    in every container (round-3 verdict: a registry that differs between
    environments makes the driver rotation non-deterministic). Both paths
    are real incremental stateful streaming with identical output columns
    and the same oracle."""
    if not _tws_available():
        return _stream_user_stats_apply_fallback(spark, sf_dir)
    e = read_events_stream(spark, sf_dir)
    stats = (
        e.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_UserStatsProcessor(),
            outputStructType=_TWS_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )
    sink = f"user_stats_tws_{uuid.uuid4().hex[:8]}"
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{sink}_", dir=_tmp_root())
    rocksdb = {
        "spark.sql.streaming.stateStore.providerClass":
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    }
    try:
        with scoped_conf(spark, rocksdb):
            q = (
                stats.writeStream.format("memory")
                .queryName(sink)
                .outputMode("update")
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    return _drain_user_stats_sink(spark, sink)


def _tws_available() -> bool:
    """transformWithStateInPandas needs google.protobuf in the Python
    workers (pyspark.sql.streaming.proto.StateMessage_pb2). This container
    ships pyspark without protobuf, so the query registers only where the
    runtime actually supports it — any real Spark 4 cluster does. The
    applyInPandasWithState twin above stays the always-on stateful
    operator either way."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


_query(
    "streaming_user_stats_tws_vs_batch",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           MAX(value) AS max_value, MIN(value) AS min_value
    FROM events
    GROUP BY user_id
    """,
)(stream_user_stats_tws)


def stream_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the PORTABLE count-min sketch
    (operators/sketches.sketch_cms_heavy_hitters): each micro-batch's
    events hash into (row j, bucket) cell increments that fold additively
    into a durable 4x256-cell state table — CMS merging IS addition, so
    arrival order, batch boundaries, and backfills cannot change the
    final sketch; the streamed state is cell-for-cell equal to the batch
    build, and the SAME DuckDB oracle verifies both. Heavy-hitter
    estimates then probe the streamed sketch with the batch exact counts
    (the stream-static pattern).
    """
    import os as _os

    from ..operators.sketches import _CMS_D, _CMS_W, _cms_bucket
    from ..sources import load_table

    e = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="cms_stage_", dir=_tmp_root())
    for i in range(4):
        (
            e.where(F.pmod(F.col("event_id"), F.lit(4)) == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(stage)
        )
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
            for f in TABLE_SCHEMAS["events"]
        ]
    )
    state_path = _os.path.join(
        tempfile.mkdtemp(prefix="cms_state_", dir=_tmp_root()), "state"
    )

    def cells(bdf: DataFrame) -> DataFrame:
        depth = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    _cms_bucket(j, F.col("user_id")).alias("bucket"),
                )
                for j in range(_CMS_D)
            ]
        )
        return (
            bdf.select(F.explode(depth).alias("e"))
            .select("e.j", "e.bucket")
            .groupBy("j", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    def refresh(bdf: DataFrame, epoch_id: int) -> None:
        # foreachBatch is at-least-once and CMS addition is NOT idempotent:
        # a replayed batch would double-count its cells. The state records
        # the last applied epoch (inside the atomically-swapped version
        # dir), so already-folded epochs are skipped — round-3 advisor.
        if epoch_id <= _state_epoch(state_path):
            return
        delta = cells(bdf)
        if _os.path.isdir(state_path):
            merged = (
                spark.read.parquet(state_path)
                .unionByName(delta)
                .groupBy("j", "bucket")
                .agg(F.sum("c").cast("long").alias("c"))
            )
        else:
            merged = delta
        _publish_state(merged, state_path, epoch_id)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    checkpoint = tempfile.mkdtemp(prefix="ckpt_cms_", dir=_tmp_root())
    q = (
        stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    sketch = spark.read.parquet(state_path)
    keys = e.select("user_id").groupBy("user_id").agg(
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
    kh = keys.select("user_id", "exact_count", F.explode(depth).alias("e")).select(
        "user_id", "exact_count", "e.j", "e.bucket"
    )
    est = (
        kh.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("user_id", "exact_count")
        .agg(F.min("c").alias("est_count"))
    )
    return (
        est.select("user_id", "est_count", "exact_count")
        .orderBy(F.desc("est_count"), "user_id")
        .limit(20)
    )


from ..operators.sketches import CMS_ORACLE as _CMS_ORACLE  # noqa: E402

_query("streaming_cms_heavy_hitters_vs_batch", oracle=_CMS_ORACLE)(
    stream_cms_heavy_hitters
)


def stream_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the k-minimum-values distinct sketch
    (operators/sketches.sketch_kmv_distinct_users): unlike CMS the merge
    is NOT addition — it is 'k smallest of the union of retained values'
    — but it IS associative, commutative, and idempotent (a lattice
    join), so folding each micro-batch's per-type k-smallest hash lists
    into copy-on-write state converges to the identical sketch as the
    batch build regardless of batch boundaries OR replays (idempotence
    absorbs at-least-once delivery). The per-type estimates and the
    merged ALL row read the streamed state; exact counts come batch-side
    (stream-static), and the SAME DuckDB oracle verifies everything.
    """
    import os as _os

    from ..operators.sketches import _KMV_K, _KMV_POW
    from ..sources import load_table

    e = load_table(spark, sf_dir, "events")
    stage = tempfile.mkdtemp(prefix="kmv_stage_", dir=_tmp_root())
    for i in range(4):
        (
            e.where(F.pmod(F.col("event_id"), F.lit(4)) == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(stage)
        )
    schema = T.StructType(
        [
            f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
            for f in TABLE_SCHEMAS["events"]
        ]
    )
    state_path = _os.path.join(
        tempfile.mkdtemp(prefix="kmv_state_", dir=_tmp_root()), "state"
    )
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")

    def topk(df: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window as _W

        w = _W.partitionBy("event_type").orderBy("hv")
        return (
            df.select("event_type", "hv")
            .distinct()
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= _KMV_K)
            .select("event_type", "hv")
        )

    def refresh(bdf: DataFrame, epoch_id: int) -> None:
        # no epoch skip HERE by design: the KMV lattice join is idempotent,
        # so at-least-once replays are absorbed by the merge itself — that
        # absorption is the property this query demonstrates (and
        # tests/test_streaming.py replays a batch to prove it).
        delta = topk(bdf.select("event_type", hv.alias("hv")))
        if _os.path.isdir(state_path):
            merged = topk(spark.read.parquet(state_path).unionByName(delta))
        else:
            merged = delta
        _publish_state(merged, state_path, epoch_id)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(stage)
    )
    checkpoint = tempfile.mkdtemp(prefix="ckpt_kmv_", dir=_tmp_root())
    q = (
        stream.writeStream.foreachBatch(refresh)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from pyspark.sql.window import Window as _W

    sketch = spark.read.parquet(state_path)
    ranked = sketch.withColumn(
        "rk", F.row_number().over(_W.partitionBy("event_type").orderBy("hv"))
    )
    exact = (
        e.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
    )
    kth = F.max(F.when(F.col("rk") == _KMV_K, F.col("hv")))
    n_kept = F.count(F.lit(1))
    per_type = (
        ranked.groupBy("event_type")
        .agg(n_kept.alias("m"), kth.alias("kth"))
        .join(exact, "event_type")
        .select(
            "event_type",
            "exact_distinct",
            F.when(F.col("m") < _KMV_K, F.col("exact_distinct").cast("double"))
            .otherwise(
                F.round(
                    F.lit(float(_KMV_K - 1))
                    * (F.lit(float(_KMV_POW)) / F.col("kth").cast("double")),
                    4,
                )
            )
            .alias("est_distinct"),
        )
    )
    merged = sketch.select("hv").distinct().withColumn(
        "rk", F.row_number().over(_W.orderBy("hv"))
    )
    mstats = merged.agg(
        F.count(F.lit(1)).alias("m_n"),
        F.max(F.when(F.col("rk") == _KMV_K, F.col("hv"))).alias("m_kth"),
    )
    exact_all = e.agg(F.countDistinct("user_id").cast("long").alias("nd"))
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


from ..operators.sketches import KMV_ORACLE as _KMV_ORACLE  # noqa: E402

_query("streaming_kmv_distinct_vs_batch", oracle=_KMV_ORACLE)(stream_kmv_distinct)


# --- Kafka wire-format envelope twin ----------------------------------------


def read_events_stream_kafka_envelope(
    spark: SparkSession, sf_dir: str, n_files: int = 4
) -> DataFrame:
    """events consumed through a Kafka WIRE-FORMAT envelope: each staged
    JSONL line is {topic, partition, offset, timestamp_ms, key, value}
    where `value` is the serialized event JSON STRING — exactly what a
    Kafka consumer (or Connect dump) hands a stream job; there is no Kafka
    broker in this environment, so the envelope is parsed from files (the
    file-vs-socket difference is the source connector, not the parse
    path). Envelope discipline mirrors Kafka's contract: partition =
    hash(key) % N (key = user_id, so a user's events are totally ordered
    within one partition), offset = per-partition monotonic sequence.

    The job side demonstrates the two-stage parse every Kafka consumer
    runs: envelope schema first (never inferred), then from_json on the
    value payload with the event schema, then the same NTZ→instant pin as
    the JSONL source.
    """
    from ..sources.catalog import load_table

    key = ("events_kafka", sf_dir, n_files)
    stage = _STAGE_CACHE.get(key)
    if stage is None or not os.path.isdir(stage):
        stage = tempfile.mkdtemp(prefix="events_kafka_", dir=_tmp_root())
        from pyspark.sql import Window as W

        batch = load_table(spark, sf_dir, "events")
        inner = F.to_json(
            F.struct(
                "event_id",
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
                "user_id",
                "event_type",
                "value",
            )
        )
        part = (F.col("user_id") % n_files).cast("int")
        woff = W.partitionBy("partition").orderBy("ts", "event_id")
        env = (
            batch.select(
                F.lit("events").alias("topic"),
                part.alias("partition"),
                F.floor(
                    F.unix_micros(
                        F.expr(
                            "cast(convert_timezone('UTC', current_timezone(), ts) "
                            "as timestamp)"
                        )
                    )
                    / 1000
                ).cast("long").alias("timestamp_ms"),
                F.col("user_id").cast("string").alias("key"),
                inner.alias("value"),
                "ts",
                "event_id",
            )
            .withColumn("offset", F.row_number().over(woff).cast("long") - 1)
            .drop("ts", "event_id")
        )
        env.repartition(n_files).write.mode("overwrite").json(stage)
        _STAGE_CACHE[key] = stage
    env_schema = (
        "topic STRING, partition INT, offset BIGINT, timestamp_ms BIGINT, "
        "key STRING, value STRING"
    )
    event_schema = (
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, "
        "value DOUBLE"
    )
    raw = (
        spark.readStream.schema(env_schema)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
    )
    return (
        raw.select(F.from_json("value", event_schema).alias("e"))
        .select("e.*")
        .withColumn(
            "ts",
            F.expr(
                "cast(convert_timezone('UTC', current_timezone(), "
                "to_timestamp_ntz(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')) as timestamp)"
            ),
        )
    )


def stream_tumbling_hourly_kafka_envelope(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """stream_tumbling_hourly through the Kafka-envelope source — envelope
    parse + payload from_json feeding the identical windowed aggregation;
    must equal the batch twin (same oracle)."""
    from ..operators._util import dsum

    e = read_events_stream_kafka_envelope(spark, sf_dir).withWatermark(
        "ts", "1 hour"
    )
    agg = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            _fmt_utc(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_available_now(agg, "tumbling_hourly_kafka")


_query("streaming_kafka_envelope_vs_batch", oracle=_TUMBLING_ORACLE)(
    stream_tumbling_hourly_kafka_envelope
)


# --- Session windows via applyInPandasWithState + event-time TIMEOUT --------

_SESS_GAP_US = 5 * 60 * 1_000_000  # 5-minute session gap, microseconds
_SESS_DELAY_MS = 10_000  # watermark delay
# Chronological staging cut points (the events table spans January 2024).
# Files land in this order with ascending mtimes, so micro-batches replay
# time order and the watermark schedule is deterministic.
_SESS_CUTS = (
    "2024-01-01",
    "2024-01-08",
    "2024-01-15",
    "2024-01-22",
    "2024-02-01",
)

_SESS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.StringType()),
        T.StructField("session_end", T.StringType()),
        T.StructField("n_events", T.LongType()),
    ]
)

_SESS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("starts", T.ArrayType(T.LongType())),
        T.StructField("ends", T.ArrayType(T.LongType())),
        T.StructField("counts", T.ArrayType(T.LongType())),
    ]
)


def _fmt_us(us: int) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(
        us // 1_000_000, tz=datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")


def _sessionize_with_timeout(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful sessionizer with EXPLICIT event-time timeout handling.

    State = the user's OPEN session spans as parallel (start, end, count)
    arrays in epoch microseconds. Each invocation (data or timeout) merges
    any new event times into the span set — interval-closure merging is
    order-independent, so out-of-order arrival within/across micro-batches
    cannot corrupt sessions — then EVICTS every span whose end + gap has
    passed the current watermark (emitted as a closed session, removed
    from state), and re-arms the timeout at the earliest surviving span's
    close time so an idle key still gets its sessions flushed.
    """
    (user_id,) = key
    if state.exists:
        starts, ends, counts = (list(x) for x in state.get)
    else:
        starts, ends, counts = [], [], []
    spans = sorted(zip(starts, ends, counts))
    for pdf in pdfs:
        for us in pdf["ts_us"]:
            spans.append((int(us), int(us), 1))
    spans.sort()
    merged: list[list[int]] = []
    for s, e, n in spans:
        if merged and s - merged[-1][1] < _SESS_GAP_US:
            merged[-1][1] = max(merged[-1][1], e)
            merged[-1][2] += n
        else:
            merged.append([s, e, n])
    wm_us = state.getCurrentWatermarkMs() * 1000
    closed = [sp for sp in merged if sp[1] + _SESS_GAP_US <= wm_us]
    open_ = [sp for sp in merged if sp[1] + _SESS_GAP_US > wm_us]
    if open_:
        state.update(
            (
                [sp[0] for sp in open_],
                [sp[1] for sp in open_],
                [sp[2] for sp in open_],
            )
        )
        # Earliest open span closes first; clamp above the watermark
        # (setTimeoutTimestamp rejects timestamps at/behind it).
        target = min(sp[1] for sp in open_) // 1000 + _SESS_GAP_US // 1000
        state.setTimeoutTimestamp(max(target, state.getCurrentWatermarkMs() + 1000))
    else:
        state.remove()
    yield pd.DataFrame(
        {
            "user_id": pd.Series([user_id] * len(closed), dtype="int64"),
            "session_start": [_fmt_us(sp[0]) for sp in closed],
            "session_end": [_fmt_us(sp[1]) for sp in closed],
            "n_events": pd.Series([sp[2] for sp in closed], dtype="int64"),
        }
    )


def read_events_stream_chronological(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSONL wire source staged CHRONOLOGICALLY: one shard per literal
    date range, written in order with ascending mtimes, so
    maxFilesPerTrigger=1 replays calendar order and the per-batch
    watermark progression is deterministic (a prerequisite for oracling
    timeout-driven output)."""
    from ..sources.catalog import load_table

    key = ("events_chrono", sf_dir)
    stage = _STAGE_CACHE.get(key)
    if stage is None or not os.path.isdir(stage):
        stage = tempfile.mkdtemp(prefix="events_chrono_", dir=_tmp_root())
        batch = load_table(spark, sf_dir, "events").select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
            "ts",
            "user_id",
            "event_type",
            "value",
        )
        import glob as _glob
        import time as _time

        base = _time.time()
        for i in range(len(_SESS_CUTS) - 1):
            lo = F.lit(_SESS_CUTS[i]).cast("timestamp_ntz")
            hi = F.lit(_SESS_CUTS[i + 1]).cast("timestamp_ntz")
            chunk = (
                batch.where((F.col("ts") >= lo) & (F.col("ts") < hi))
                .select(
                    "event_id",
                    F.col("ts_str").alias("ts"),
                    "user_id",
                    "event_type",
                    "value",
                )
            )
            tmpd = os.path.join(stage, f"_tmp{i}")
            chunk.coalesce(1).write.mode("overwrite").json(tmpd)
            (part,) = _glob.glob(os.path.join(tmpd, "part-*.json"))
            dest = os.path.join(stage, f"chunk-{i:03d}.json")
            shutil.move(part, dest)
            shutil.rmtree(tmpd, ignore_errors=True)
            os.utime(dest, (base + i, base + i))
        _STAGE_CACHE[key] = stage
    schema = (
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, "
        "value DOUBLE"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
        .withColumn(
            "ts",
            F.expr(
                "cast(convert_timezone('UTC', current_timezone(), "
                "to_timestamp_ntz(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')) as timestamp)"
            ),
        )
    )


def stream_session_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows as a CUSTOM stateful operator with explicit
    event-time timeout handling (vs stream_sessionization's built-in
    session_window): closed sessions are emitted either when a key's next
    data batch observes the watermark passing the span, or — for idle
    keys — when the armed EventTimeTimeout fires (availableNow runs a
    final no-data batch after the last file, so pending timeouts flush
    against the END-of-stream watermark). Output is CLOSED sessions only
    (append semantics): sessions still open at the final watermark — the
    last gap+delay of event time — stay unemitted, exactly the set the
    oracle reproduces with the same integer watermark arithmetic."""
    e = read_events_stream_chronological(spark, sf_dir).withWatermark(
        "ts", "10 seconds"
    )
    sessions = (
        e.select("user_id", "ts", F.unix_micros("ts").alias("ts_us"))
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_with_timeout,
            outputStructType=_SESS_OUT_SCHEMA,
            stateStructType=_SESS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return _run_available_now(sessions, "session_timeout", mode="append")


_SESSION_TIMEOUT_ORACLE = f"""
    WITH ordered AS (
      SELECT
        user_id,
        CAST(ts AS TIMESTAMP) AS ts,
        CASE
          WHEN epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(ts AS TIMESTAMP), event_id)
               >= {_SESS_GAP_US}
          THEN 1 ELSE 0
        END AS new_session
      FROM events
    ), sessions AS (
      SELECT user_id, ts,
        SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, new_session
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM ordered
    ), agg AS (
      SELECT user_id, MIN(ts) AS s, MAX(ts) AS e, COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, session_id
    ), wm AS (
      SELECT (epoch_us(MAX(CAST(ts AS TIMESTAMP))) // 1000
              - {_SESS_DELAY_MS}) * 1000 AS wm_us
      FROM events
    )
    SELECT user_id,
           strftime(s, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(e, '%Y-%m-%d %H:%M:%S') AS session_end,
           n_events
    FROM agg, wm
    WHERE epoch_us(e) + {_SESS_GAP_US} <= wm_us
"""

_query("streaming_session_timeout_vs_batch", oracle=_SESSION_TIMEOUT_ORACLE)(
    stream_session_timeout
)


def stream_conversion_lag_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.events.events_conversion_lag_histogram:
    the stateful stage maintains per-user first-signup / first-purchase
    epoch days as TWO conditional MIN aggregates — order-insensitive and
    idempotent, so replays and out-of-order arrival cannot change the
    final state (trivially replay-safe, unlike sums). The tiny lag-bucket
    histogram is computed OVER the drained per-user state as a batch
    step, because Structured Streaming forbids chaining a second stateful
    aggregation in the same stream.

    Day boundaries: stream event time is an instant TIMESTAMP (watermarks
    reject NTZ), so the epoch day is taken on the UTC wall time via
    convert_timezone(session -> UTC) on the NTZ cast — matching the batch
    twin's session-zone-free datediff exactly (the _fmt_utc discipline).

    At 100 TB: per-user MIN state is two BIGINTs per user — the smallest
    possible stateful footprint; the histogram is a ~6-row rollup over
    the state store contents.
    """
    e = read_events_stream(spark, sf_dir)
    utc_ntz = F.convert_timezone(
        None, F.lit("UTC"), F.col("ts").cast("timestamp_ntz")
    )
    day = F.datediff(
        F.date_trunc("day", utc_ntz), F.lit("1970-01-01").cast("timestamp_ntz")
    )
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", day)).alias(
            "signup_day"
        ),
        F.min(F.when(F.col("event_type") == "purchase", day)).alias(
            "purchase_day"
        ),
    )
    drained = _run_available_now(firsts, "conversion_lag")
    lags = drained.where(
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


_query(
    "streaming_conversion_lag_vs_batch",
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
)(stream_conversion_lag_vs_batch)


def stream_am_pm_ratio_vs_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators.tpcds_shapes.ds_q90_am_pm_ratio: the
    AM/PM band counts are plain conditional COUNTs per event type —
    order-insensitive and replay-idempotent under availableNow, so the
    streaming state is just two integers per type. Hours are taken on
    the UTC wall time (convert_timezone on the NTZ cast — the _fmt_utc
    discipline) to match the batch twin's session-zone-free NTZ hour().
    The ratio is computed over the drained state as a stateless
    projection (no second stateful stage needed)."""
    e = read_events_stream(spark, sf_dir)
    h = F.hour(
        F.convert_timezone(None, F.lit("UTC"), F.col("ts").cast("timestamp_ntz"))
    )
    agg = e.groupBy("event_type").agg(
        F.count(F.when(h.between(7, 11), 1)).alias("am_count"),
        F.count(F.when(h.between(19, 23), 1)).alias("pm_count"),
    )
    drained = _run_available_now(agg, "am_pm_ratio")
    return drained.select(
        "event_type",
        "am_count",
        "pm_count",
        F.when(
            F.col("pm_count") > 0,
            F.round(
                F.col("am_count").cast("double")
                / F.col("pm_count").cast("double"),
                6,
            ),
        ).alias("am_pm_ratio"),
    )


_query(
    "streaming_am_pm_ratio_vs_batch",
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
)(stream_am_pm_ratio_vs_batch)


def stream_session_conversion_vs_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Session-window conversion census: the stateful stage groups by
    (user_id, session_window(5 min)) with CONDITIONAL COUNTS of views /
    purchases / events — order-insensitive state, so replays and
    out-of-order arrival inside the watermark cannot change a closed
    session's counts. The drained per-session rows then collapse to the
    4-cell (has_view x has_purchase) conversion census as a stateless
    batch step (Structured Streaming forbids a second stateful
    aggregation in-stream). The conversion sibling of
    streaming_session_windows_vs_batch: same gap, same island oracle,
    but the payload is the funnel verdict per session.

    At 100 TB: session state is three integers per open session; the
    census is a 4-row rollup over the drained state.
    """
    e = read_events_stream(spark, sf_dir).withWatermark("ts", "30 minutes")
    agg = e.groupBy(
        F.session_window("ts", "5 minutes").alias("w"), "user_id"
    ).agg(
        F.count(F.when(F.col("event_type") == "view", 1)).alias("n_views"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "n_purchases"
        ),
        F.count(F.lit(1)).alias("n_events"),
    )
    drained = _run_available_now(agg, "session_conversion")
    return drained.groupBy(
        F.when(F.col("n_views") > 0, 1).otherwise(0).alias("has_view"),
        F.when(F.col("n_purchases") > 0, 1).otherwise(0).alias("has_purchase"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n_events").cast("bigint").alias("total_events"),
    )


_query(
    "streaming_session_conversion_vs_batch",
    oracle="""
    WITH ordered AS (
      SELECT
        user_id, event_type,
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
        user_id, event_type, ts,
        SUM(new_session) OVER (
          PARTITION BY user_id ORDER BY ts, new_session
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ) AS session_id
      FROM ordered
    ), per_sess AS (
      SELECT user_id, session_id,
        COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS n_views,
        COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
        COUNT(*) AS n_events
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT
      CASE WHEN n_views > 0 THEN 1 ELSE 0 END AS has_view,
      CASE WHEN n_purchases > 0 THEN 1 ELSE 0 END AS has_purchase,
      CAST(COUNT(*) AS BIGINT) AS n_sessions,
      CAST(SUM(n_events) AS BIGINT) AS total_events
    FROM per_sess GROUP BY 1, 2
    """,
)(stream_session_conversion_vs_batch)


_EWMA_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_values", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
    ]
)
_EWMA_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("y", T.DoubleType()),
    ]
)


def _update_user_ewma(
    user_id_tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Incremental per-user EWMA (alpha=0.2, adjust=False): fold
    y <- 0.8*y + 0.2*x over the user's non-null values in (ts, event_id)
    order. Chronological staging guarantees batch i's events all precede
    batch i+1's, so sorting WITHIN the concatenated batch suffices; state
    is the O(1) pair (count, last y)."""
    (user_id,) = user_id_tuple
    if state.exists:
        n, y = state.get
    else:
        n, y = 0, None
    chunks = [p for p in pdfs if len(p)]
    rows = (
        pd.concat(chunks).sort_values(["ts", "event_id"])
        if chunks
        else pd.DataFrame({"value": []})
    )
    for v in rows["value"]:
        if pd.isna(v):
            continue
        v = float(v)
        y = v if y is None else 0.8 * y + 0.2 * v
        n += 1
    state.update((n, y))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_values": [n], "ewma": [y]}
    )


def stream_ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA as a CUSTOM stateful streaming operator — the
    streaming twin of events_ewma_per_user: applyInPandasWithState keyed
    by user over the CHRONOLOGICALLY staged wire files (order is part of
    the statistic, unlike the order-insensitive user-stats twin), state
    = (count, running y), update-mode emissions drained to each user's
    final row.

    The fold 0.8*y + 0.2*x is the identical IEEE double recurrence the
    batch oracle's list_reduce replays, so the twin is HASH-oracled, not
    rows-only: same recurrence, same (ts, event_id) order, same final
    6dp round."""
    e = read_events_stream_chronological(spark, sf_dir)
    stats = (
        e.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update_user_ewma,
            outputStructType=_EWMA_OUT_SCHEMA,
            stateStructType=_EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = f"ewma_{uuid.uuid4().hex[:8]}"
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{sink}_", dir=_tmp_root())
    try:
        q = (
            stats.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    from pyspark.sql import Window as _W

    raw = spark.table(sink)
    w = _W.partitionBy("user_id").orderBy(F.col("n_values").desc())
    out = (
        raw.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .select(
            "user_id",
            "n_values",
            F.round("ewma", 6).alias("ewma"),
        )
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(sink)
    return out


_query(
    "streaming_ewma_per_user_vs_batch",
    oracle="""
    WITH seq AS (
      SELECT
        user_id,
        COUNT(value) AS n_values,
        list(value ORDER BY ts, event_id) FILTER (value IS NOT NULL) AS vals
      FROM events
      GROUP BY user_id
    )
    SELECT
      user_id,
      CAST(n_values AS BIGINT) AS n_values,
      CASE WHEN n_values = 0 THEN NULL
           ELSE ROUND(list_reduce(vals, (acc, x) -> 0.8 * acc + 0.2 * x), 6)
      END AS ewma
    FROM seq
    """,
)(stream_ewma_per_user)


def stream_merge_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE-upsert twin (the 17th oracled vs-batch equivalence):
    a change stream of full MERGE batches — WHEN MATCHED DELETE, WHEN
    MATCHED UPDATE, WHEN NOT MATCHED INSERT — folds into a parquet serving
    table through foreachBatch + sources/sinks.merge_apply_parquet's
    copy-on-write staging swap. This is the streaming face of the
    merge_upsert / merge_upsert_parquet sink family (batch CDC coverage:
    stream_cdc_apply handles upsert-only revisions via its own epoch state;
    here the MERGE itself — all three clauses — runs against the real sink
    API, so the same code path a batch writer uses is what the stream
    drives).

    Change batches are synthesized deterministically from customer
    residues r = c_custkey % 16; batch i in 0..3 carries
      - DELETE  for r == i          (matched-delete),
      - UPDATE  for r == i + 4      (balance_units += (i+1)*1000, integer
        1/100-dollar units — NEXT.md lesson 3: double ROUND half-ties
        diverge between engines, so money stays integral),
      - INSERT  for r == i + 8      (new key k + 20_000_000 — above any
        real custkey at every SF — with balance_units = (i+1)*500).
    Residues 12..15 are never touched. Batch key sets are DISJOINT, so the
    fold is order- and replay-insensitive by construction: maxFilesPerTrigger=1
    delivers one batch per micro-batch in no guaranteed order, a redelivered
    batch re-deletes absent keys (no-op) and re-upserts identical rows
    (idempotent) — the property a foreachBatch sink must have, since
    foreachBatch is at-least-once. DuckDB recomputes the final table
    relationally (survivors ∪ bumped updates ∪ inserts).
    """
    import os as _os

    from ..sources import load_table
    from ..sources.sinks import merge_apply_parquet

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("cust_key"),
        (F.round(F.col("c_acctbal") * 100, 0).cast("long")).alias(
            "balance_units"
        ),
        F.pmod(F.col("c_custkey"), F.lit(16)).alias("r"),
    )
    stage = tempfile.mkdtemp(prefix="merge_stage_", dir=_tmp_root())
    for i in range(4):
        batch = (
            c.where(F.col("r") == i)
            .select(
                F.lit("D").alias("op"),
                "cust_key",
                F.lit(None).cast("long").alias("balance_units"),
            )
            .unionByName(
                c.where(F.col("r") == i + 4).select(
                    F.lit("U").alias("op"),
                    "cust_key",
                    (
                        F.col("balance_units")
                        + F.lit((i + 1) * 1000).cast("long")
                    ).alias("balance_units"),
                )
            )
            .unionByName(
                c.where(F.col("r") == i + 8).select(
                    F.lit("I").alias("op"),
                    (F.col("cust_key") + F.lit(20_000_000)).alias(
                        "cust_key"
                    ),
                    F.lit((i + 1) * 500).cast("long").alias("balance_units"),
                )
            )
        )
        batch.coalesce(1).write.mode("append").parquet(stage)

    state_path = _os.path.join(
        tempfile.mkdtemp(prefix="merge_state_", dir=_tmp_root()), "serving"
    )
    c.select("cust_key", "balance_units").write.parquet(state_path)

    def apply_batch(bdf: DataFrame, epoch_id: int) -> None:
        merge_apply_parquet(
            spark,
            state_path,
            upserts=bdf.where(F.col("op") != "D").select(
                "cust_key", "balance_units"
            ),
            deletes=bdf.where(F.col("op") == "D").select("cust_key"),
            key_cols=["cust_key"],
        )

    schema = "op STRING, cust_key LONG, balance_units LONG"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    checkpoint = tempfile.mkdtemp(prefix="ckpt_merge_", dir=_tmp_root())
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(state_path).select(
        "cust_key", "balance_units"
    )


_MERGE_UPSERT_ORACLE = """
    WITH base AS (
      SELECT
        c_custkey AS cust_key,
        CAST(ROUND(c_acctbal * 100, 0) AS BIGINT) AS balance_units,
        c_custkey % 16 AS r
      FROM customer
    )
    SELECT cust_key, balance_units FROM base WHERE r >= 8
    UNION ALL
    SELECT cust_key, balance_units + (r - 3) * 1000 AS balance_units
    FROM base WHERE r BETWEEN 4 AND 7
    UNION ALL
    SELECT cust_key + 20000000 AS cust_key,
           CAST((r - 7) * 500 AS BIGINT) AS balance_units
    FROM base WHERE r BETWEEN 8 AND 11
"""

_query("streaming_merge_upsert_vs_batch", oracle=_MERGE_UPSERT_ORACLE)(
    stream_merge_upsert_apply
)


def _stage_events_with_horizon(spark: SparkSession, sf_dir: str) -> str:
    """The chronological JSONL shards (read_events_stream_chronological's
    layout) PLUS one final HORIZON shard: two sentinel rows (user_id -1,
    one view + one click) placed 10 days past the real max event time.

    Why: a left-outer stream-stream join emits a NULL-padded row for an
    unmatched left row only once the watermark proves no match can still
    arrive (view_ts + join upper bound < global watermark). With the raw
    stream, views inside the final watermark window never flush, so the
    stream result would equal the batch left join MINUS a trailing
    retention set whose exact boundary (< vs <=, eviction batch timing)
    is engine-internal. The horizon batch pushes BOTH sides' end-of-stream
    watermark (horizon - 1 h) beyond every real view's emission deadline
    (max real ts + 10 min), so the final no-data micro-batch flushes EVERY
    real unmatched view and the twin equals the FULL left join — the
    boundary rule never has to be encoded in the oracle. The sentinels
    themselves sit past the final watermark (they are the watermark), stay
    buffered, and are filtered by user_id >= 0 anyway."""
    key = ("events_horizon", sf_dir)
    stage = _STAGE_CACHE.get(key)
    if stage is not None and os.path.isdir(stage):
        return stage
    import datetime as _dt
    import glob as _glob
    import json as _json
    import time as _time

    # build (or reuse) the chronological stage, then copy its shards so the
    # shared cache entry is never mutated
    read_events_stream_chronological(spark, sf_dir)
    src = _STAGE_CACHE[("events_chrono", sf_dir)]
    stage = tempfile.mkdtemp(prefix="events_horizon_", dir=_tmp_root())
    base = _time.time()
    chunks = sorted(_glob.glob(os.path.join(src, "chunk-*.json")))
    for i, f in enumerate(chunks):
        dest = os.path.join(stage, os.path.basename(f))
        shutil.copy(f, dest)
        os.utime(dest, (base + i, base + i))
    from ..sources.catalog import load_table

    mx = (
        load_table(spark, sf_dir, "events")
        .agg(F.max("ts").alias("m"))
        .collect()[0]["m"]
    )
    rows = []
    for j, et in enumerate(("view", "click")):
        ts_str = (mx + _dt.timedelta(days=10, seconds=j)).strftime(
            "%Y-%m-%d %H:%M:%S.%f"
        )
        rows.append(
            _json.dumps(
                {
                    "event_id": -(j + 1),
                    "ts": ts_str,
                    "user_id": -1,
                    "event_type": et,
                    "value": None,
                }
            )
        )
    dest = os.path.join(stage, f"chunk-{len(chunks):03d}.json")
    with open(dest, "w") as fh:
        fh.write("\n".join(rows) + "\n")
    os.utime(dest, (base + len(chunks), base + len(chunks)))
    _STAGE_CACHE[key] = stage
    return stage


def _read_horizon_stream(spark: SparkSession, stage: str) -> DataFrame:
    schema = (
        "event_id BIGINT, ts STRING, user_id BIGINT, event_type STRING, "
        "value DOUBLE"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(stage)
        .withColumn(
            "ts",
            F.expr(
                "cast(convert_timezone('UTC', current_timezone(), "
                "to_timestamp_ntz(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS')) as timestamp)"
            ),
        )
    )


def stream_left_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the outer-emission
    discipline none of the inner twins exercise: each view joins the same
    user's clicks in the next 10 minutes, and views with NO such click
    must still emit exactly one NULL-padded row, which Structured
    Streaming only releases once the watermark passes the view's match
    deadline (state cannot know "no match" until then). Chronological
    shards + the horizon sentinel batch (_stage_events_with_horizon) drive
    the end-of-stream watermark past every real deadline, so the final
    no-data micro-batch flushes the complete outer set and the result
    equals the batch LEFT JOIN the oracle runs — the 18th ORACLED
    vs-batch equivalence, and like the MERGE twin it is proven by
    construction, not assumed.

    At 100 TB/day: both join states are watermark-bounded (10 min of
    views, the interval bound on clicks); the horizon trick is test
    scaffolding — production streams advance the watermark forever and
    flush outer rows continuously."""
    stage = _stage_events_with_horizon(spark, sf_dir)
    views = (
        _read_horizon_stream(spark, stage)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        _read_horizon_stream(spark, stage)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")
        ),
        "left_outer",
    ).select("view_id", "user_id", "view_ts", "click_id", "click_ts")
    out = _run_available_now(joined, "stream_louter_join", mode="append")
    return (
        out.where(F.col("user_id") >= 0)
        .select(
            "view_id",
            "user_id",
            _fmt_utc(F.col("view_ts")).alias("view_ts"),
            "click_id",
            _fmt_utc(F.col("click_ts")).alias("click_ts"),
        )
        .localCheckpoint(eager=True)
    )


_LEFT_OUTER_JOIN_ORACLE = """
    SELECT
      v.event_id AS view_id,
      v.user_id,
      strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS view_ts,
      c.event_id AS click_id,
      strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM events v
    LEFT JOIN events c
      ON v.user_id = c.user_id
     AND c.event_type = 'click'
     AND c.ts > v.ts
     AND c.ts <= v.ts + INTERVAL 10 MINUTE
    WHERE v.event_type = 'view'
"""

_query(
    "streaming_left_outer_join_vs_batch", oracle=_LEFT_OUTER_JOIN_ORACLE
)(stream_left_outer_interval_join)


def stream_full_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — completes the join-mode
    family (inner twin since r3, left-outer r13): unmatched VIEWS and
    unmatched CLICKS both emit NULL-padded rows, each side released only
    when the watermark proves no match can still arrive. The same
    horizon sentinel batch pushes the end-of-stream watermark past every
    real row's match window on BOTH sides (a click can match views up to
    10 minutes BEFORE it, so its deadline is its own timestamp), and the
    final no-data micro-batch flushes both complete outer sets — equal
    to the batch FULL JOIN by construction; 19th ORACLED vs-batch
    equivalence. The sentinel view+click pair (1 s apart, user -1)
    intentionally match each other and are filtered by user >= 0.

    At 100 TB/day both join states stay watermark-bounded exactly as in
    the left-outer twin; full-outer adds no extra state, only the
    symmetric eviction-emission rule."""
    stage = _stage_events_with_horizon(spark, sf_dir)
    views = (
        _read_horizon_stream(spark, stage)
        .where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    clicks = (
        _read_horizon_stream(spark, stage)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    joined = views.join(
        clicks,
        (F.col("view_user") == F.col("click_user"))
        & (F.col("click_ts") > F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts") + F.expr("INTERVAL 10 MINUTES")
        ),
        "full_outer",
    ).select(
        "view_id", "view_user", "view_ts", "click_id", "click_user", "click_ts"
    )
    out = _run_available_now(joined, "stream_fouter_join", mode="append")
    return (
        out.where(F.coalesce(F.col("view_user"), F.col("click_user")) >= 0)
        .select(
            "view_id",
            F.coalesce(F.col("view_user"), F.col("click_user")).alias(
                "user_id"
            ),
            _fmt_utc(F.col("view_ts")).alias("view_ts"),
            "click_id",
            _fmt_utc(F.col("click_ts")).alias("click_ts"),
        )
        .localCheckpoint(eager=True)
    )


_FULL_OUTER_JOIN_ORACLE = """
    SELECT
      v.event_id AS view_id,
      COALESCE(v.user_id, c.user_id) AS user_id,
      strftime(CAST(v.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS view_ts,
      c.event_id AS click_id,
      strftime(CAST(c.ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS click_ts
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON v.user_id = c.user_id
     AND c.ts > v.ts
     AND c.ts <= v.ts + INTERVAL 10 MINUTE
"""

_query(
    "streaming_full_outer_join_vs_batch", oracle=_FULL_OUTER_JOIN_ORACLE
)(stream_full_outer_interval_join)
