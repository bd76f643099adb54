"""Reshaping + time-series operators: unpivot, lateral posexplode, gap-fill.

Rounds out SURVEY.md §2b's relational surface with the shapes a wide→long
ETL and a hypertable-style time-series rollup need:

- unpivot (wide → long): `DataFrame.unpivot`, the inverse of pivot_segment_
  by_nation. Narrow, stays in whole-stage codegen, no shuffle beyond the agg
  that builds the wide input.
- lateral positional explode: `posexplode` over a bounded array slice —
  the generator runs inside the scan stage (no shuffle), output is
  (id, pos, token).
- time-spine gap fill + forward fill: per-key contiguous hourly spine via
  `sequence()` + `explode`, left join of observed hourly aggregates, zeros
  for missing counts and `last(..., ignorenulls)` window forward-fill for
  values — the standard treatment before feeding time-series models.

Scale notes: the spine explode multiplies rows driver-free on executors; the
left join is on (key, hour) with both sides hash-partitioned — at 100 TB the
spine side is tiny relative to the fact and broadcastable per key-range. The
forward-fill window sorts within key partitions only (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import query
from ..sources import load_table, register_views
from ._util import sql_dsum

_BANDS = [
    ("neg", "c_acctbal < 0"),
    ("low", "c_acctbal >= 0 AND c_acctbal < 3000"),
    ("high", "c_acctbal >= 3000"),
]


@query(
    "unpivot_segment_balance_bands",
    oracle="""
    WITH wide AS (
      SELECT c_mktsegment,
        CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg,
        CAST(SUM(CASE WHEN c_acctbal >= 0 AND c_acctbal < 3000 THEN 1 ELSE 0 END) AS BIGINT) AS low,
        CAST(SUM(CASE WHEN c_acctbal >= 3000 THEN 1 ELSE 0 END) AS BIGINT) AS high
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, band, n FROM wide
    UNPIVOT (n FOR band IN (neg, low, high))
    """,
)
def unpivot_segment_balance_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (inverse of pivot): customer counts per balance
    band, pivoted wide per segment then melted back to (segment, band, n).
    `DataFrame.unpivot` is a pure projection+generator — no shuffle beyond
    the one aggregation that builds the wide table."""
    c = load_table(spark, sf_dir, "customer")
    wide = c.groupBy("c_mktsegment").agg(
        *[
            F.sum(F.when(F.expr(cond), 1).otherwise(0)).alias(name)
            for name, cond in _BANDS
        ]
    )
    return wide.unpivot(
        ids=["c_mktsegment"],
        values=[name for name, _ in _BANDS],
        variableColumnName="band",
        valueColumnName="n",
    )


@query(
    "lateral_posexplode_doc_tokens",
    oracle=r"""
    SELECT doc_id, CAST(i - 1 AS INT) AS pos, toks[CAST(i AS INT)] AS token
    FROM (
      SELECT doc_id,
        list_filter(string_split(regexp_replace(TRIM(text), '\s+', ' ', 'g'), ' '),
                    x -> x <> '') AS toks
      FROM documents
    ),
    LATERAL (SELECT unnest(range(1, CAST(least(3, len(toks)) AS BIGINT) + 1)) AS i)
    """,
)
def lateral_posexplode_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional lateral explode: the first three whitespace tokens of each
    document with their 0-based position. `posexplode` is a generator that
    runs inside the scan stage — no shuffle, output grows at most 3× the
    input row count (the slice bounds it)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.regexp_replace(F.trim("text"), r"\s+", " "), " ")
    toks = F.filter(toks, lambda x: x != "")
    return d.select(
        "doc_id", F.posexplode(F.slice(toks, 1, 3)).alias("pos", "token")
    )


@query(
    "timeseries_gap_fill_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', ts) AS hour,
        CAST(COUNT(*) AS BIGINT) AS n,
        {sql_dsum('value')} AS v
      FROM events GROUP BY user_id, hour
    ),
    spine AS (
      SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
      FROM (SELECT user_id, MIN(date_trunc('hour', ts)) AS h0,
                   MAX(date_trunc('hour', ts)) AS h1
            FROM events GROUP BY user_id)
    )
    SELECT s.user_id,
      strftime(s.hour, '%Y-%m-%d %H:%M:%S') AS hour,
      COALESCE(h.n, 0) AS n_events,
      last_value(h.v IGNORE NULLS) OVER (
        PARTITION BY s.user_id ORDER BY s.hour
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value
    FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hour = h.hour
    """,
)
def timeseries_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap fill: a contiguous per-user hourly spine
    (`sequence` + `explode` between each user's first and last active hour),
    observed hourly counts/sums left-joined onto it, missing counts zeroed
    and the hourly value forward-filled with `last(..., ignorenulls=True)`
    over a per-user window.

    Every user's first spine hour has an observation (the spine starts at
    MIN(hour)), so filled_value is never null. The spine explode happens
    executor-side; the join and the fill window both partition on user_id,
    so the fill reuses the join's exchange. Hours emit as strings (cross-
    engine timestamp dtype parity)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("hour"), "value"
    )
    from ._util import dsum

    hourly = ev.groupBy("user_id", "hour").agg(
        F.count(F.lit(1)).alias("n"), dsum("value").alias("v")
    )
    spine = (
        ev.groupBy("user_id")
        .agg(F.min("hour").alias("h0"), F.max("hour").alias("h1"))
        .select(
            "user_id",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["user_id", "hour"], "left")
        .select(
            "user_id",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.last("v", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


@query(
    "lateral_udtf_top_tokens",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != ''))
          AS tok
      FROM documents
    ), counted AS (
      SELECT doc_id, tok, COUNT(*) AS cnt,
        ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY COUNT(*) DESC, tok) AS rk
      FROM toks GROUP BY doc_id, tok
    )
    SELECT doc_id, tok, CAST(cnt AS INT) AS cnt
    FROM counted WHERE rk <= 3
    """,
)
def lateral_udtf_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4's user-defined TABLE function) applied
    laterally: each document row expands into its top-3 tokens via a
    Python generator — the extension point for per-row logic that yields
    MULTIPLE rows and genuinely needs Python (real uses: sentence
    segmentation with a Python NLP lib, parsing a proprietary record
    format). Deterministic tie-break (count desc, token asc) makes even
    this Python path ORACLED.

    Honesty about cost: a UDTF is row-at-a-time Python (BatchEvalPythonUDTF
    in the plan) — the expression path (explode + agg + WindowGroupLimit,
    see explode_tokens_top_words) is strictly faster for THIS computable
    case and remains the production route; this query exists to cover the
    API surface and is exempted, explicitly and by name, from the
    no-row-wise-Python plan assertion.
    """
    from collections import Counter

    from pyspark.sql.functions import udtf

    @udtf(returnType="tok string, cnt int")
    class TopTokens:
        def eval(self, text: str, k: int):
            toks = [t for t in (text or "").lower().strip().split() if t]
            top = sorted(Counter(toks).items(), key=lambda kv: (-kv[1], kv[0]))[:k]
            for tok, cnt in top:
                yield tok, cnt

    spark.udtf.register("top_tokens_udtf", TopTokens)
    return register_views(
        spark,
        sf_dir,
        "SELECT d.doc_id, t.tok, t.cnt "
        "FROM documents d, LATERAL top_tokens_udtf(d.text, 3) t",
    )
