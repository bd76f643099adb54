"""Incremental aggregate maintenance (materialized-view upkeep).

The 100 TB problem: a daily rollup over an append-mostly fact should cost
O(|new batch|) per refresh, not a full recompute. For additive aggregates
(sum/count — and anything expressible over them: avg, ratios), maintenance
is: aggregate the BATCH, then combine with the existing state on the group
key. Only state rows whose keys appear in the batch change, so the combine
splits the state with a broadcast semi/anti join on the (small) batch key
set and re-aggregates just `touched ∪ batch_agg` — the untouched majority
of the state is passed through untouched (and with a partitioned state
table, never rewritten: copy-on-write via sources/sinks.merge_upsert).

`incremental_daily_rollup` registers the whole protocol as an ORACLED
query: it replays the fact in 4 deterministic batches through the
maintenance path, and DuckDB recomputes the same rollup in one shot — the
incremental path must land bit-identical to the direct aggregate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query, sql_query
from ..sources import load_table
from ._util import sql_dsum


_KEYS = ["day", "user_id"]


def _agg_batch(batch: DataFrame) -> DataFrame:
    """Per-batch partial state: decimal sums keep later combines exact
    (decimal addition is associative — double addition is not)."""
    return batch.select(
        F.to_date("ts").alias("day"), "user_id", "value"
    ).groupBy(*_KEYS).agg(
        F.sum(F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("sum_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


def combine_additive(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a batch's partial aggregate into the maintained state.

    Broadcast the delta's key set; state rows not in it survive verbatim
    (no shuffle — at scale: no rewrite), the touched slice re-aggregates
    with the delta."""
    delta_keys = delta.select(*_KEYS).distinct()
    untouched = state.join(F.broadcast(delta_keys), _KEYS, "left_anti")
    touched = state.join(F.broadcast(delta_keys), _KEYS, "left_semi")
    merged = (
        touched.unionByName(delta)
        .groupBy(*_KEYS)
        .agg(
            F.sum("sum_value").alias("sum_value"),
            F.sum("n_events").alias("n_events"),
        )
    )
    return untouched.unionByName(merged)


@query(
    "incremental_daily_rollup",
    oracle=f"""
    SELECT
      CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
      user_id,
      {sql_dsum('value')} AS sum_value,
      COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(day, user) rollup maintained through 4 incremental refreshes.

    The fact is split into 4 deterministic batches (event_id % 4 — stands
    in for 4 ingest cycles); each folds into the state via
    combine_additive. The result must equal DuckDB's one-shot aggregate
    bit-for-bit: incremental maintenance may never drift from recompute.
    """
    e = load_table(spark, sf_dir, "events")
    batches = [e.where(F.col("event_id") % 4 == i) for i in range(4)]
    # Persist each fold's state: a real refresh loop MATERIALIZES state
    # between cycles (parquet/table) — and lazily, every fold would
    # re-derive the prior state twice (anti + semi branch), doubling the
    # recomputed subtree per refresh.
    state = reduce(
        lambda st, d: combine_additive(st, d).persist(),
        (_agg_batch(b) for b in batches[1:]),
        _agg_batch(batches[0]).persist(),
    )
    return state.select(
        F.col("day").cast("string").alias("day"),
        "user_id",
        F.col("sum_value").cast("double").alias("sum_value"),
        "n_events",
    )


incremental_scd2_dimension = sql_query(
    "incremental_scd2_dimension",
    """
    WITH v1 AS (
      SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
    ),
    v2 AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 11 = 0 THEN 'MIGRATED'
                  ELSE c_mktsegment END AS c_mktsegment,
             CASE WHEN c_custkey % 7 = 0 THEN ROUND(c_acctbal + 100.0, 2)
                  ELSE c_acctbal END AS c_acctbal
      FROM customer
    ),
    changed AS (
      SELECT v1.c_custkey
      FROM v1 JOIN v2 USING (c_custkey)
      WHERE v1.c_mktsegment != v2.c_mktsegment
         OR v1.c_acctbal != v2.c_acctbal
    )
    SELECT c_custkey, c_mktsegment, c_acctbal,
           '2024-01-01' AS valid_from, '2024-02-01' AS valid_to,
           FALSE AS is_current
    FROM v1 WHERE c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal,
           '2024-02-01', '9999-12-31', TRUE
    FROM v2 WHERE c_custkey IN (SELECT c_custkey FROM changed)
    UNION ALL
    SELECT c_custkey, c_mktsegment, c_acctbal,
           '2024-01-01', '9999-12-31', TRUE
    FROM v1 WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
    """,
)
