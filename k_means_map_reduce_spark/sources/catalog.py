"""Schema-on-read catalog for the driver test tables.

The reference "scans" by re-reading a shared text file per worker per
iteration and mutating the source file to normalize it
(/root/reference/mapper.py:15-24, /root/reference/master.py:78-87). Here the
contract is the opposite: explicit StructType per source, immutable inputs,
Spark file-split parallelism, and Catalyst column pruning / predicate pushdown
reaching the parquet scan.

Schemas mirror the driver-generated parquet exactly (TESTDATA.md) so that a
schema drift fails loudly at read time instead of corrupting downstream
results. Timestamp discipline:
- lineitem/orders store TIMESTAMP(ms, isAdjustedToUTC=false) → read as
  TimestampNTZType (wall-clock, session-timezone-independent — the values a
  SQL oracle sees too).
- events.ts: the driver has shipped this column as TIMESTAMP(NANOS) in one
  round and TIMESTAMP_MICROS(isAdjustedToUTC=false) in another, so the unit
  is NOT hard-coded — ``_events_ts_unit`` reads the parquet footer (pyarrow,
  metadata-only) and branches:
    * s/ms/us wall-clock → plain TimestampNTZType in the read schema (Spark
      handles these natively; no conf, no conversion);
    * NANOS (or raw INT64) → Spark's parquet reader rejects TIMESTAMP(NANOS),
      so read raw int64 (legacy.parquet.nanosAsLong) and integer-floor-divide
      to µs, matching DuckDB's truncating TIMESTAMP_NS→TIMESTAMP cast.
  A unit-drift in future testdata fails loudly via
  tests/test_catalog.py::test_events_ts_epoch_sanity (min(ts) must be a
  plausible modern date, not 1970).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TABLE_SCHEMAS)

# path → parquet time-unit of events.ts ("s"/"ms"/"us"/"ns"/"int64"); footer
# reads are metadata-only but still an open()+parse, so cache per file.
_EVENTS_TS_UNIT_CACHE: dict[str, str] = {}


def _events_ts_unit(path: str) -> str:
    """Time unit of the `ts` column from the parquet footer.

    The testdata's ts physical type has changed across driver rounds
    (TIMESTAMP(NANOS) → TIMESTAMP_MICROS); hard-coding a unit silently
    scales every timestamp by 1000×, so sniff the footer instead.
    """
    unit = _EVENTS_TS_UNIT_CACHE.get(path)
    if unit is None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        t = pq.read_schema(path).field("ts").type
        unit = t.unit if pa.types.is_timestamp(t) else "int64"
        _EVENTS_TS_UNIT_CACHE[path] = unit
    return unit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table with its explicit schema."""
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        unit = _events_ts_unit(path)
        if unit in ("s", "ms", "us"):
            # Spark's parquet reader handles these wall-clock units natively;
            # an explicit TimestampNTZType schema is all that's needed.
            schema = T.StructType(
                [
                    f if f.name != "ts" else T.StructField("ts", T.TimestampNTZType())
                    for f in TABLE_SCHEMAS[name]
                ]
            )
            return spark.read.schema(schema).parquet(path)
        # NANOS (or raw INT64, treated as ns): Spark rejects TIMESTAMP(NANOS)
        # outright; read raw ns and convert. Integer floor-division to µs ==
        # DuckDB's truncating TIMESTAMP_NS→TIMESTAMP cast. (`ts / 1000` would
        # be DOUBLE division: at 1.7e15 µs the ULP is 0.25µs, so ~¼ of rows
        # round up across the integer boundary and drift +1µs from the oracle.)
        # nanosAsLong rides as a per-READ option (reader options merge into
        # the relation's Hadoop conf) — never a session-conf mutation, which
        # would leak into every other query on the session.
        from pyspark.sql import functions as F

        return (
            spark.read.schema(TABLE_SCHEMAS[name])
            .option("spark.sql.legacy.parquet.nanosAsLong", "true")
            .parquet(path)
            .withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000,"
                    " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        )
    return spark.read.schema(TABLE_SCHEMAS[name]).parquet(path)


# Whole-word, case-insensitive catalog table names; a false match (a table
# name inside a string literal or comment) only registers one more view.
_TABLE_WORD = re.compile(r"\b(" + "|".join(TABLE_SCHEMAS) + r")\b", re.IGNORECASE)


def register_views(
    spark: SparkSession, sf_dir: str, sql: str, args: dict | None = None
) -> DataFrame:
    """Run `sql` on Spark over the catalog tables it names.

    Only the tables the string names are registered as temp views (one
    view costs ~17 ms; all ten ~0.2 s at sf0.1). Registering per call is safe
    because ``spark.sql`` analyzes eagerly: a frame returned earlier keeps
    the files of its own sf_dir after a later call re-points the views.
    """
    for name in {m.lower() for m in _TABLE_WORD.findall(sql)}:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(sql, args)
