"""Set operations (SURVEY.md §2b): union / union all / intersect / except."""

from __future__ import annotations


from ..registry import sql_query


set_union_all_building_rich = sql_query(
    "set_union_all_building_rich",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
    """,
)


set_union_distinct_building_rich = sql_query(
    "set_union_distinct_building_rich",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
    """,
)


set_intersect_building_rich = sql_query(
    "set_intersect_building_rich",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
    """,
)


set_except_building_rich = sql_query(
    "set_except_building_rich",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0
    """,
)


set_intersect_all_priorities = sql_query(
    "set_intersect_all_priorities",
    """
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    """,
)


set_except_all_priorities = sql_query(
    "set_except_all_priorities",
    """
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    """,
)
