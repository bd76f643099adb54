"""Query registry: the driver-visible surface of the engine.

Every operator implemented from SURVEY.md §2 registers here as a named query
(callable (spark, sf_dir) -> DataFrame) plus, where SQL-expressible, a
DuckDB oracle with IDENTICAL output column names (the driver hash-compares
column-name-sorted values). There are two registration forms:

- ``name = sql_query("name", SQL)``: when Spark runs the oracle SQL as is,
  that one string is both the oracle and the implementation. The query
  runs it through ``register_views``, which registers only the catalog
  tables the string names. Parity then checks the catalog and the two SQL
  dialects, not a second implementation.
- ``@query("name", oracle=SQL)`` over a DataFrame body: for queries the
  oracle SQL cannot express on Spark, that are faster as a body, that
  exercise a named API (pipe syntax, scripting, ``observe``, salting,
  z-order), or whose oracle checks a contract (e.g. a sketch's error
  bound) rather than replaying the algorithm. ``oracle`` may be omitted.

Float determinism contract: any aggregated double is either (a) summed as
DECIMAL(18,4) then cast to double — bit-exact across engines regardless of
summation order — or (b) rounded after a deterministic computation. Averages
are written as decimal-sum / count in both engines (IEEE division of
identical doubles is deterministic) rather than engine-native avg().
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .sources import register_views

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
SQL_QUERIES: set[str] = set()  # names registered by sql_query

def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def sql_query(name: str, sql: str) -> QueryFn:
    """Register `sql` as both a query and its oracle: the query runs the
    same string on Spark through ``register_views``."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return register_views(spark, sf_dir, sql)

    run.__name__ = run.__qualname__ = name
    SQL_QUERIES.add(name)
    return query(name, oracle=sql)(run)


# Importing the operator modules populates the registry (imports at the bottom
# to avoid circular-import issues: operator modules import `query` from here).
from .operators import relational  # noqa: E402,F401
from .operators import advanced  # noqa: E402,F401
from .operators import windows  # noqa: E402,F401
from .operators import setops  # noqa: E402,F401
from .operators import scalar_fns  # noqa: E402,F401
from .operators import events  # noqa: E402,F401
from .operators import textops  # noqa: E402,F401
from .operators import dedup  # noqa: E402,F401
from .operators import similarity  # noqa: E402,F401
from .operators import clustering  # noqa: E402,F401
from .operators import multimodal  # noqa: E402,F401
from .operators import sketches  # noqa: E402,F401
from .operators import tpch_extra  # noqa: E402,F401
from .operators import tpch_full  # noqa: E402,F401
from .operators import tpcds_shapes  # noqa: E402,F401
from .operators import temporal  # noqa: E402,F401
from .operators import bloom  # noqa: E402,F401
from .operators import layout  # noqa: E402,F401
from .operators import incremental  # noqa: E402,F401
from .operators import quality  # noqa: E402,F401
from .operators import graph  # noqa: E402,F401
from .operators import geo  # noqa: E402,F401
from .operators import analytics  # noqa: E402,F401
from .operators import training  # noqa: E402,F401
from .operators import reshape  # noqa: E402,F401
from .operators import skew  # noqa: E402,F401
from .operators import stats_tests  # noqa: E402,F401
from .streaming import jobs as _streaming_jobs  # noqa: E402,F401
