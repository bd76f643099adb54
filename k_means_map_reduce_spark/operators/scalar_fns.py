"""Scalar-function surface (SURVEY.md §2b): string, date, math, JSON.

All expression-only (whole-stage codegen); the JSON path uses
get_json_object which Catalyst evaluates without a Python round-trip.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query, sql_query
from ..sources import load_table
from ._util import dsum


@query(
    "scalar_string_funcs",
    oracle="""
    SELECT
      p_partkey,
      UPPER(p_name) AS name_upper,
      LENGTH(p_name) AS name_len,
      regexp_extract(p_name, '^[a-z]+') AS first_word,
      CAST(len(string_split(p_name, ' ')) AS INT) AS n_words,
      CONCAT(p_brand, ':', p_type) AS brand_type,
      REPLACE(p_type, ' ', '_') AS type_snake,
      SUBSTRING(p_name, 1, 8) AS name_prefix
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.regexp_extract("p_name", r"^[a-z]+", 0).alias("first_word"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_type", " ", "_").alias("type_snake"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
    )


@query(
    "scalar_date_funcs",
    oracle=f"""
    SELECT
      strftime(CAST(date_trunc('month', o_orderdate) AS DATE), '%Y-%m-%d') AS order_month,
      CAST(EXTRACT(year FROM o_orderdate) AS INT) AS order_year,
      CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS order_quarter,
      COUNT(*) AS n_orders,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_total,
      CAST(MIN(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)) AS INT) AS min_days_since_epoch,
      CAST(MAX(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)) AS INT) AS max_days_since_epoch
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("order_month"),
            F.year("o_orderdate").alias("order_year"),
            F.quarter("o_orderdate").alias("order_quarter"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_total"),
            F.min(
                F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp_ntz"))
            ).alias("min_days_since_epoch"),
            F.max(
                F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp_ntz"))
            ).alias("max_days_since_epoch"),
        )
    )


scalar_math_funcs = sql_query(
    "scalar_math_funcs",
    """
    SELECT
      l_orderkey,
      l_linenumber,
      ROUND(SQRT(l_extendedprice), 6) AS sqrt_price,
      ROUND(POW(l_discount, 2), 10) AS disc_sq,
      ABS(l_quantity - 25.0) AS qty_dev,
      CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
      CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
      ROUND(LN(l_extendedprice + 1.0), 6) AS log_price
    FROM lineitem
    WHERE l_linenumber = 1
    """,
)


@query(
    "scalar_json_funcs",
    oracle=f"""
    SELECT
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
      CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "scalar_map_funcs",
    oracle="""
    SELECT
      event_id,
      'k' AS first_key,
      CAST(json_extract_string(props, '$.k') AS INT) AS k_value,
      1 AS n_keys
    FROM events
    WHERE event_id < 500
    """,
)
def scalar_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: from_json into map<string,int>, then map_keys /
    element_at / size — all codegen expressions."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") < 500)
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.element_at(F.map_keys(m), 1).alias("first_key"),
        F.element_at(m, "k").alias("k_value"),
        F.size(m).alias("n_keys"),
    )


@query(
    "scalar_date_arithmetic",
    oracle="""
    SELECT
      o_orderkey,
      strftime(CAST(o_orderdate AS DATE) + 30, '%Y-%m-%d') AS ship_by,
      strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      CAST(EXTRACT(day FROM o_orderdate) AS INT) AS order_dom,
      CAST(EXTRACT(month FROM o_orderdate) AS INT) AS order_month_num
    FROM orders
    WHERE o_orderkey < 2000
    """,
)
def scalar_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: offsets, month boundaries, component extraction."""
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderkey") < 2000)
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias("ship_by"),
        F.date_format(F.last_day(F.col("o_orderdate").cast("date")), "yyyy-MM-dd").alias("month_end"),
        F.dayofmonth("o_orderdate").alias("order_dom"),
        F.month("o_orderdate").alias("order_month_num"),
    )


@query(
    "scalar_array_funcs",
    oracle="""
    SELECT
      p_partkey,
      CAST(len(toks) AS INT) AS n_toks,
      array_to_string(list_sort(toks), '|') AS sorted_toks,
      toks[1] AS first_tok,
      toks[-1] AS last_tok,
      array_to_string(list_sort(toks)[1:2], '|') AS top2,
      CAST(list_aggregate(range(1, (p_size % 7) + 2), 'sum') AS BIGINT) AS tri_sum,
      list_contains(toks, 'steel') AS has_steel
    FROM (
      SELECT p_partkey, p_size, string_split(p_name, ' ') AS toks FROM part
    )
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order/function surface: split, size, array_sort,
    element_at (front and back), slice, sequence + aggregate (lambda fold),
    array_contains — all codegen'd expressions, the same family the k-means
    distance math uses (functions/vectors.py)."""
    p = load_table(spark, sf_dir, "part")
    toks = F.split("p_name", " ")
    seq = F.sequence(F.lit(1), F.pmod("p_size", F.lit(7)) + F.lit(1))
    return p.select(
        "p_partkey",
        F.size(toks).cast("int").alias("n_toks"),
        F.array_join(F.array_sort(toks), "|").alias("sorted_toks"),
        F.element_at(toks, 1).alias("first_tok"),
        F.element_at(toks, -1).alias("last_tok"),
        F.array_join(F.slice(F.array_sort(toks), 1, 2), "|").alias("top2"),
        F.aggregate(seq, F.lit(0).cast("bigint"), lambda a, x: a + x).alias("tri_sum"),
        F.array_contains(toks, "steel").alias("has_steel"),
    )


@query(
    "json_schema_extraction",
    oracle="""
    SELECT
      CAST(json_extract(props, '$.k') AS INT) AS k_value,
      CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY k_value
    """,
)
def json_schema_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd JSON parsing: from_json with an explicit struct schema (the
    production path — one parse into a typed column, prunable and
    null-safe), aggregated by the extracted field. get_json_object per field
    re-parses the document each call; from_json parses once however many
    fields you pull. DuckDB mirrors with json_extract + cast."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.select(
        F.from_json("props", "k INT").alias("p")
    )
    return parsed.groupBy(F.col("p.k").alias("k_value")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "events_variant_props_agg",
    oracle="""
    SELECT
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
      CAST(COUNT(CAST(json_extract_string(props, '$.missing') AS INT)) AS BIGINT) AS n_missing_path
    FROM events
    GROUP BY event_type
    """,
)
def events_variant_props_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured aggregation through Spark 4's VARIANT type:
    parse_json once into a variant, then typed path extraction with
    variant_get / try_variant_get (the missing path must yield NULL, not
    an error — counted to prove it).

    VARIANT vs get_json_object at 100 TB: the JSON text is parsed ONCE
    into a binary-encoded tree; every subsequent path access is a
    structural lookup, not a re-parse — the difference between O(paths)
    and O(paths x parse) per row. (Here DuckDB oracles the VALUES via its
    JSON functions; the encoding itself is engine-internal.)
    """
    e = load_table(spark, sf_dir, "events")
    v = e.select(
        "event_type", F.parse_json(F.col("props")).alias("v")
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.variant_get(F.col("v"), "$.k", "int")).alias("sum_k"),
        F.count(F.try_variant_get(F.col("v"), "$.missing", "int")).alias(
            "n_missing_path"
        ),
    )


scalar_edit_distance_pairs = sql_query(
    "scalar_edit_distance_pairs",
    """
    WITH pairs AS (
      SELECT
        a.p_brand AS brand,
        levenshtein(a.p_name, b.p_name) AS dist
      FROM part a JOIN part b
        ON a.p_brand = b.p_brand AND a.p_type = b.p_type
       AND a.p_partkey < b.p_partkey
    )
    SELECT
      brand,
      COUNT(*) AS n_pairs,
      CAST(MIN(dist) AS BIGINT) AS min_dist,
      CAST(MAX(dist) AS BIGINT) AS max_dist,
      ROUND(CAST(SUM(CAST(dist AS BIGINT)) AS DOUBLE) / COUNT(*), 6) AS avg_dist,
      CAST(SUM(CASE WHEN dist <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS near_pairs
    FROM pairs
    GROUP BY brand
    """,
)


@query(
    "agg_bitwise_and_listagg",
    oracle="""
    SELECT
      r_name AS region,
      string_agg(n_name, ',' ORDER BY n_name) AS nations,
      CAST(bit_and(n_nationkey) AS BIGINT) AS key_bit_and,
      CAST(bit_or(n_nationkey) AS BIGINT) AS key_bit_or,
      CAST(bit_xor(n_nationkey) AS BIGINT) AS key_bit_xor
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_bitwise_and_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG ... WITHIN GROUP, new in Spark 4)
    plus the bitwise aggregate family — both order-insensitive-by-
    construction (listagg carries an explicit WITHIN GROUP ordering;
    bit_and/or/xor are commutative), so cross-engine parity is exact.
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias(
                "nations"
            ),
            F.bit_and("n_nationkey").cast("long").alias("key_bit_and"),
            F.bit_or("n_nationkey").cast("long").alias("key_bit_or"),
            F.bit_xor("n_nationkey").cast("long").alias("key_bit_xor"),
        )
    )


@query(
    "scalar_url_parsing",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
        'https://' || source || '.example.com/' || lang || '/doc/'
          || CAST(doc_id AS VARCHAR) || '?ref=r' || CAST(doc_id % 7 AS VARCHAR)
          AS url
      FROM documents
    ),
    parsed AS (
      SELECT doc_id,
        regexp_extract(url, '^[a-z]+://([^/]+)/', 1) AS host,
        regexp_extract(url, '^[a-z]+://[^/]+/([^/?]+)', 1) AS top_path,
        regexp_extract(url, '[?&]ref=([^&]+)', 1) AS ref
      FROM urls
    )
    SELECT host, ref,
           COUNT(*) AS n_urls,
           COUNT(DISTINCT top_path) AS n_langs,
           MIN(doc_id) AS min_doc_id
    FROM parsed
    GROUP BY host, ref
    """,
)
def scalar_url_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL construction + parsing round trip: build canonical URLs from
    document attributes, then recover host / first path segment / query
    parameter and roll up traffic by (host, ref) — the clickstream-
    normalization scalar surface. Spark uses its native parse_url (HOST,
    PATH, QUERY:key extraction — the JVM fast path); DuckDB has no
    parse_url, so the oracle recovers the same parts with anchored
    regexes on the shared RE2/Java dialect subset — agreement is part of
    the contract (the same discipline as text_pii_redaction).

    Scale shape: stateless projection + one rollup; the URL strings
    never shuffle (host/ref extraction happens map-side).
    """
    d = load_table(spark, sf_dir, "documents")
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/"),
            F.col("lang"),
            F.lit("/doc/"),
            F.col("doc_id").cast("string"),
            F.lit("?ref=r"),
            (F.col("doc_id") % 7).cast("string"),
        ).alias("url"),
    )
    parsed = urls.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.regexp_extract(F.parse_url("url", F.lit("PATH")), r"^/([^/?]+)", 1).alias(
            "top_path"
        ),
        F.parse_url("url", F.lit("QUERY"), F.lit("ref")).alias("ref"),
    )
    return parsed.groupBy("host", "ref").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.countDistinct("top_path").alias("n_langs"),
        F.min("doc_id").alias("min_doc_id"),
    )


@query(
    "scalar_interval_arithmetic",
    oracle="""
    SELECT o_orderpriority AS priority,
      CAST(COUNT(CASE WHEN last_day(CAST(o_orderdate AS DATE))
                           = CAST(o_orderdate AS DATE) THEN 1 END) AS BIGINT)
        AS month_end_orders,
      CAST(MIN(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE))
           AS VARCHAR) AS min_due_plus_3m,
      CAST(MAX(CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE))
           AS VARCHAR) AS max_due_plus_3m,
      CAST(COUNT(DISTINCT date_trunc('quarter', CAST(o_orderdate AS DATE)))
           AS BIGINT) AS n_quarters
    FROM orders GROUP BY 1
    """,
)
def scalar_interval_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar INTERVAL arithmetic surface: add_months with its
    end-of-month clamping (Jan 31 + 3 months = Apr 30 — probed identical
    to DuckDB's DATE + INTERVAL), last_day month-end detection, and
    quarter truncation — the date-math battery a billing/due-date
    pipeline leans on, verified cross-engine per priority.

    Determinism: pure calendar-field arithmetic over DATE values
    (tz-free), emitted as strings per the battery's date-column rule.

    At 100 TB: one scan, map-side conditional counts + min/max; the
    quarter distinct is a 5 x ~30 group rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.count(F.when(F.last_day(d) == d, 1))
        .cast("bigint")
        .alias("month_end_orders"),
        F.min(F.add_months(d, 3)).cast("string").alias("min_due_plus_3m"),
        F.max(F.add_months(d, 3)).cast("string").alias("max_due_plus_3m"),
        F.countDistinct(
            F.date_trunc("quarter", F.col("o_orderdate"))
        )
        .cast("bigint")
        .alias("n_quarters"),
    )


agg_boolean_surface = sql_query(
    "agg_boolean_surface",
    """
    SELECT c_mktsegment AS segment,
      bool_and(c_acctbal > -999.0) AS all_above_floor,
      bool_or(c_acctbal < 0.0) AS any_negative,
      CAST(COUNT(CASE WHEN c_acctbal > 9000.0 THEN 1 END) AS BIGINT)
        AS n_rich,
      bool_and(c_custkey IS NOT NULL) AS keys_complete
    FROM customer GROUP BY 1
    """,
)
