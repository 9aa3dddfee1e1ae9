"""Subquery surface: scalar / correlated / EXISTS / NOT EXISTS / IN / NOT IN
(engine-capability [ext] rows; SURVEY §3 names ``spark.sql`` as a first-class
entry surface).

The reference never writes a subquery — its RDD pipeline hand-builds the
equivalent joins (``lab2.py:155-170`` computes a global aggregate then
re-broadcasts it through a closure). A query engine user expects to write
the declarative form and have the optimizer pick the join, so each query
here is ONE ANSI string executed verbatim on BOTH engines: Spark parses it
over temp views and Catalyst *decorrelates* (scalar-correlated → aggregate
+ equi-join, EXISTS → left-semi, NOT EXISTS → left-anti, IN → semi), while
DuckDB runs its own decorrelation over the same parquet. Plan tests pin the
rewrite (no CartesianProduct, semi/anti join nodes present).

Scale notes: after decorrelation every shape below is a shuffled or
broadcast equi-join plus hash aggregates — nothing iterates per outer row,
so the 100 TB posture is the same as the explicit-join queries'.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import register_views
from .registry import register

# Selective but non-vacuous at every SF: o_totalprice spans ~1k..500k with
# mean ~250k, so >400k keeps a meaningful minority of orders.
_BIG_ORDER = 400_000


def _sql_query(name: str, sql: str, tables: tuple[str, ...], doc: str):
    """Register a query whose Spark side runs the oracle text verbatim."""

    @register(name, oracle=sql, doc=doc)
    def _q(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_views(spark, sf_dir, tables)
        return spark.sql(sql)

    _q.__name__ = name
    return _q


_sql_query(
    "subq_scalar_above_avg",
    """
    SELECT o_orderpriority,
           count(*)                  AS n_orders,
           round(avg(o_totalprice), 2) AS avg_price
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
    ("orders",),
    doc="[ext] uncorrelated scalar subquery: global mean folds to a literal "
    "via a broadcast single-row aggregate (the declarative form of the "
    "reference's collect-then-closure at lab2.py:155-170).",
)

_sql_query(
    "subq_correlated_small_qty",
    """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
    FROM lineitem l
    WHERE l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity)
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
    """,
    ("lineitem",),
    doc="[ext] correlated scalar subquery (TPC-H Q17 shape): Catalyst "
    "decorrelates to a per-partkey aggregate joined back on l_partkey — one "
    "shuffle on the correlation key, never a per-row re-scan.",
)

_sql_query(
    "subq_exists_returned",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
    ("orders", "lineitem"),
    doc="[ext] EXISTS (TPC-H Q4 shape) → left-semi join on the correlation "
    "key; the probe side deduplicates map-side so lineitem's fan-out never "
    "multiplies orders rows.",
)

_sql_query(
    "subq_not_exists_unreturned_parts",
    """
    SELECT p.p_brand, count(*) AS n_parts
    FROM part p
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_partkey = p.p_partkey AND l.l_returnflag = 'R')
    GROUP BY p.p_brand
    """,
    ("part", "lineitem"),
    doc="[ext] NOT EXISTS → left-anti join: parts with no returned lineitem, "
    "without materializing the complement set driver-side.",
)

_sql_query(
    "subq_in_big_spenders",
    f"""
    SELECT c.c_nationkey, count(*) AS n_customers
    FROM customer c
    WHERE c.c_custkey IN (SELECT o_custkey FROM orders
                          WHERE o_totalprice > {_BIG_ORDER})
    GROUP BY c.c_nationkey
    """,
    ("customer", "orders"),
    doc="[ext] IN-subquery → left-semi join; the filtered orders side is "
    "small enough post-pushdown that AQE broadcasts it.",
)

_sql_query(
    "subq_not_in_quiet_suppliers",
    f"""
    SELECT s.s_nationkey, count(*) AS n_suppliers,
           round(avg(s.s_acctbal), 2) AS avg_acctbal
    FROM supplier s
    WHERE s.s_suppkey NOT IN (SELECT l_suppkey FROM lineitem
                              WHERE l_extendedprice > {_BIG_ORDER / 10})
    GROUP BY s.s_nationkey
    """,
    ("supplier", "lineitem"),
    doc="[ext] NOT IN → null-aware anti join. l_suppkey is non-null in this "
    "model, but the operator is the null-aware form — a NULL in the subquery "
    "result would empty the output on BOTH engines, per SQL three-valued "
    "logic (the classic NOT IN footgun, handled identically).",
)


_sql_query(
    "lateral_top2_lineitems",
    f"""
    SELECT o.o_orderkey, l.l_partkey, round(l.l_extendedprice, 2) AS price, l.rnk
    FROM orders o,
    LATERAL (SELECT l_partkey, l_extendedprice,
                    CAST(row_number() OVER (ORDER BY l_extendedprice DESC,
                                            l_partkey) AS BIGINT) AS rnk
             FROM lineitem
             WHERE l_orderkey = o.o_orderkey
             ORDER BY l_extendedprice DESC, l_partkey LIMIT 2) l
    WHERE o.o_totalprice > {_BIG_ORDER}
    """,
    ("orders", "lineitem"),
    doc="[ext] correlated LATERAL subquery with per-outer-row ORDER BY + "
    "LIMIT — the 'top-k related rows per row' shape. Catalyst decorrelates "
    "it into a window-ranked join (the same plan the explicit "
    "topk_lineitems_per_order builds by hand), so nothing iterates per "
    "outer row on either engine.",
)
