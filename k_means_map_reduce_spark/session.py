"""SparkSession factory with scale-aware defaults.

Replaces the reference's process/RPC plumbing (master.py:168-210,
mapper.py:109-124, reducer.py:89-100) wholesale with the Spark runtime.
Defaults are tuned for the driver's local[32] harness but every knob is the
one you would also set on a 1000-executor cluster:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting means a
  plan tuned at sf0.1 still behaves at 100 TB.
- shuffle.partitions: a static floor; AQE coalesces down, and at cluster
  scale you raise it (or rely on AQE's initialPartitionNum).
- Arrow enabled so any pandas_udf path is batched, never per-row pickling.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator, Mapping
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))


def get_spark(app_name: str = "k-means-map-reduce-spark", master: str | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", tempfile.mkdtemp(prefix="kmmr_warehouse_")
            ),
        )
    )
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, settings: Mapping[str, str]) -> Iterator[None]:
    """Set session confs for the ``with`` block, then restore each one (or
    unset it, if it had no value) on every exit path. Session confs are
    shared, so queries run concurrently on the same session see them too."""
    prev = {key: spark.conf.get(key, None) for key in settings}
    try:
        for key, value in settings.items():
            spark.conf.set(key, value)
        yield
    finally:
        for key, value in prev.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
