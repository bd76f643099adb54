"""Sinks: parquet/csv/orc writers + bucketed tables for co-located joins.

The reference's sinks are per-reducer text files re-parsed by the next stage
(/root/reference/reducer.py:68-73, mapper.py:72-84). Spark equivalents are
one-liners; what's worth real code is the 100 TB layout decision:

- ``write_partitioned``: hive-style partition directories → partition
  pruning at read time (a filter on the partition column never touches
  other directories).
- ``write_bucketed``: pre-shuffled, bucket-by-key tables. Two tables
  bucketed by the same key into the same bucket count join WITHOUT a
  shuffle — the decisive layout for repeated fact-fact joins at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", True).csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC: the other columnar container Spark ships natively — same
    predicate-pushdown/column-pruning story as parquet (ORC carries its own
    min/max/bloom indexes), relevant when interoperating with Hive-era
    warehouses."""
    df.write.mode(mode).orc(path)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned layout; readers prune on partition_cols."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed (and optionally sorted) managed table.

    Joins/aggregations keyed on bucket_col between tables with identical
    bucketing skip the exchange entirely (SortMergeJoin with zero shuffle) —
    verified by tests/test_sinks.py asserting no Exchange in the plan.
    """
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def merge_upsert(
    base: DataFrame, updates: DataFrame, key_cols: list[str]
) -> DataFrame:
    """MERGE/upsert semantics without a table format: updates win on key
    collision, unmatched base rows survive, new keys append.

    The Delta/Iceberg MERGE INTO pattern reduced to its relational core —
    a keyed anti-join + union:
        result = updates ∪ (base ⟂ updates on key)
    Copy-on-write at scale: only partitions containing touched keys need
    rewriting when combined with write_partitioned (partition-prune the
    anti-join on the partition column). The anti-join shuffles just the
    keys of base against the (usually much smaller, broadcastable) update
    set; no window, no row_number.
    """
    from pyspark.sql import functions as F

    surviving = base.join(F.broadcast(updates.select(*key_cols)), key_cols, "left_anti")
    return surviving.unionByName(updates)


def merge_upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
) -> None:
    """Copy-on-write MERGE into an existing parquet dataset.

    Reads the current snapshot WITH ITS OWN schema, merges, writes to a
    sibling staging dir, then swaps — the write never reads from the
    directory it is replacing (Spark cannot overwrite an input in-flight).
    The swap is a filesystem rename: atomic on POSIX/HDFS; object stores
    would use a manifest commit instead (what table formats exist for).
    """
    import os
    import shutil
    import uuid

    base = spark.read.parquet(path)
    merged = merge_upsert(base, updates, key_cols)
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(staging)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)


def merge_apply_parquet(
    spark: SparkSession,
    path: str,
    upserts: DataFrame,
    deletes: DataFrame,
    key_cols: list[str],
) -> None:
    """Full MERGE INTO against a parquet snapshot: WHEN MATCHED (delete
    keys) DELETE, WHEN MATCHED (upsert keys) UPDATE, WHEN NOT MATCHED
    INSERT — the three-clause Delta/Iceberg MERGE reduced to two keyed
    anti-joins + a union, committed with the same copy-on-write
    staging-dir swap as merge_upsert_parquet.

    Relationally:  result = upserts ∪ (base ⟂ deletes ⟂ upserts on key).
    Both key sets are change-batch-sized (broadcast inside merge_upsert;
    the delete anti-join joins keys only), so at 100 TB the cost is one
    scan of the touched partitions plus the swap — bytes of untouched
    rows are rewritten only because plain parquet has no file-level
    manifest; write_partitioned + partition-pruned anti-joins confine the
    rewrite, which is exactly the gap table formats close.
    """
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    base = spark.read.parquet(path)
    survivors = base.join(
        F.broadcast(deletes.select(*key_cols)), key_cols, "left_anti"
    )
    merged = merge_upsert(survivors, upserts, key_cols)
    staging = f"{path}__staging_{uuid.uuid4().hex[:8]}"
    merged.write.mode("overwrite").parquet(staging)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)


def compact_files(
    spark: SparkSession, path: str, target_rows_per_file: int
) -> tuple[int, int]:
    """Small-file compaction: rewrite a parquet dataset into
    ceil(n_rows / target) files and atomically swap. Returns
    (files_before, files_after).

    The small-files problem is the silent killer of 100 TB tables (every
    file is a task + an open + a footer parse); streaming ingest produces
    thousands of KB-sized files per day. At scale this runs per partition
    with a real row-size estimate from table stats; the swap discipline is
    the same copy-on-write rename as merge_upsert_parquet.
    """
    import glob
    import math
    import os
    import shutil
    import uuid

    before = len(glob.glob(os.path.join(path, "*.parquet")))
    df = spark.read.parquet(path)
    n = df.count()
    n_files = max(1, math.ceil(n / target_rows_per_file))
    staging = f"{path}__compact_{uuid.uuid4().hex[:8]}"
    df.repartition(n_files).write.mode("overwrite").parquet(staging)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    return before, len(glob.glob(os.path.join(path, "*.parquet")))


def retention_sweep(
    spark: SparkSession, path: str, ts_col: str, cutoff
) -> tuple[int, int]:
    """TTL/retention delete: copy-on-write rewrite keeping only rows with
    ts_col >= cutoff. Returns (rows_before, rows_after).

    The GDPR/retention primitive for plain parquet: the filter pushes to
    the scan, surviving rows rewrite once, the swap is atomic. With a
    date/hour-partitioned layout (write_partitioned) whole expired
    partitions drop without reading a row — this rewrite path is for the
    boundary partition only.
    """
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    before = df.count()
    kept = df.where(F.col(ts_col) >= F.lit(cutoff))
    staging = f"{path}__retain_{uuid.uuid4().hex[:8]}"
    kept.write.mode("overwrite").parquet(staging)
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    return before, spark.read.parquet(path).count()
