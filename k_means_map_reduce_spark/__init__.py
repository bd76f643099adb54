"""k_means_map_reduce_spark — a PySpark-native analytics engine.

A from-scratch, idiomatic-Spark rebuild of the capabilities of the reference
engine (DeepanshuDabas03/K-Means_Map-Reduce: a hand-rolled gRPC MapReduce
K-Means, see /root/reference/master.py, mapper.py, reducer.py), generalized to
the full relational + LLM-data-pipeline surface mandated by SURVEY.md §2b.

Design rules (SURVEY.md §4):
- DataFrame/SQL everywhere; Catalyst + Tungsten pick the physical plan.
- No row-at-a-time Python UDFs on hot paths; array higher-order functions and
  Arrow-batched pandas (mapInPandas / applyInPandasWithState) where Python is
  unavoidable.
- Broadcast small sides; single-shuffle aggregations; cache iterated inputs.

Public API (what a reference user needs to switch):

    from k_means_map_reduce_spark import (
        get_spark,            # configured SparkSession
        load_table,           # schema'd test-table reader
        read_points_txt,      # the reference's own input format
        write_centroids_txt,  # the reference's own output format
        kmeans_native,        # DataFrame-expression Lloyd's (reference rebuild)
        kmeans_arrow,         # Arrow+BLAS Lloyd's (scale path)
        kmeans_mllib,         # MLlib KMeans
        QUERIES, ORACLES,     # the full named query surface
        sql,                  # one-call ANSI SQL over the registered tables
    )
"""

from .session import get_spark
from .sources import TABLE_SCHEMAS, load_table, register_views
from .sources.points_txt import read_points_txt, write_centroids_txt
from .kmeans import (
    KMeansResult,
    assign_clusters,
    kmeans_arrow,
    kmeans_mllib,
    kmeans_native,
    kmeans_native_df,
)
from .registry import ORACLES, QUERIES

__version__ = "1.0.0"

__all__ = [
    "get_spark",
    "TABLE_SCHEMAS",
    "load_table",
    "register_views",
    "read_points_txt",
    "write_centroids_txt",
    "KMeansResult",
    "assign_clusters",
    "kmeans_arrow",
    "kmeans_mllib",
    "kmeans_native",
    "kmeans_native_df",
    "ORACLES",
    "QUERIES",
    "sql",
]

_DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def sql(spark, query: str, sf_dir: str | None = None):
    """One-call SQL front-end: run `query` through Spark SQL with the
    catalog tables it names registered as temp views. The ANSI surface a
    reference user gets for free by switching engines — same Catalyst plans
    as the DataFrame API (spark.sql and DataFrame ops compile identically).

    `sf_dir` defaults to $SPARK_GRAFT_SF_DIR (the same knob bench.py and
    the tests honor), falling back to the sf0.01 test tables.

    >>> from k_means_map_reduce_spark import get_spark, sql
    >>> sql(get_spark(), "SELECT COUNT(*) FROM lineitem").show()
    """
    import os

    if sf_dir is None:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", _DEFAULT_SF_DIR)
    return register_views(spark, sf_dir, query)
