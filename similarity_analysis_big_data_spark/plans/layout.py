"""Z-order data layout (north-star [ext]): multi-dimensional clustering
for scan pruning.

Parquet scans prune files and row groups by column min/max statistics. A
sort on one column makes ONE column's stats tight; interleaving the bits
of two quantized key columns (Morton / Z-order curve) makes BOTH columns'
stats tight at once, so predicates on either key — or both — skip most of
a 100 TB table. This is the layout trick behind Delta/Iceberg OPTIMIZE
ZORDER: the key is plain Catalyst bit arithmetic, and a parquet write
range-partitioned and sorted on it lays the table out. No reference
counterpart.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from .registry import register

Z_BITS = 8  # bits kept per dimension (16-bit z-value)


def zorder_key(x: Column, y: Column) -> Column:
    """Interleave the low ``Z_BITS`` of two non-negative ints: Morton code.

    Pure integer arithmetic — codegen'd JVM-side, no UDF: bit i of x lands
    at position 2i, bit i of y at 2i+1.
    """
    terms = []
    for i in range(Z_BITS):
        terms.append(F.shiftright(x, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i)))
        terms.append(
            F.shiftright(y, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out.cast("long")


def zorder_key_sql(x: str, y: str) -> str:
    """DuckDB rendering of :func:`zorder_key` for oracle construction."""
    terms = [
        f"(({x} >> {i}) & 1) * {1 << (2 * i)} + (({y} >> {i}) & 1) * {1 << (2 * i + 1)}"
        for i in range(Z_BITS)
    ]
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "zorder_key_events",
    oracle=f"""
        SELECT event_id, user_id,
               {zorder_key_sql(f"user_id % {1 << Z_BITS}",
                               f"CAST(floor(value * 10) AS BIGINT) % {1 << Z_BITS}")} AS zval
        FROM events
    """,
    doc="[ext] Z-order (Morton) clustering key over (user_id, value): bit "
    "interleaving of two quantized dimensions as pure Catalyst integer "
    "arithmetic — the multi-dimensional sort key behind ZORDER table "
    "layout; the full key assignment is oracle-checked bit-for-bit.",
)
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the key is a narrow map (no shuffle here); a layout write
    range-partitioned and sorted on it adds ONE range shuffle at write
    time and repays it on every subsequent scan that filters either
    dimension."""
    ev = load_table(spark, sf_dir, "events")
    x = (F.col("user_id") % (1 << Z_BITS)).cast("integer")
    # floor (not cast) before quantizing: double->int casts truncate in
    # Spark but round in DuckDB; floor agrees everywhere for value >= 0
    y = (F.floor(F.col("value") * 10).cast("integer") % (1 << Z_BITS)).cast(
        "integer"
    )
    return ev.select(
        "event_id", "user_id", zorder_key(x, y).alias("zval")
    )
