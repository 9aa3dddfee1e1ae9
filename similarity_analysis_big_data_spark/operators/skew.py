"""Skew mitigation helpers (SURVEY §4.2 / scale notes).

AQE's skew-join split handles runtime join skew; ``salted_aggregate``
covers the hot-key groupBy AQE can't re-plan: phase 1 aggregates on
(key, salt) spreading a hot key over N reducers, phase 2 merges the
partials. Correct for any algebraic aggregate expressed as
(partial_exprs, merge_exprs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, n_salts: int) -> DataFrame:
    """Uniform random salt in [0, n_salts) — used only as a partitioning
    aid; never appears in results."""
    return df.withColumn("_salt", (F.rand(seed=42) * n_salts).cast("int"))


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    partial_aggs: list[Column],
    merge_aggs: list[Column],
) -> DataFrame:
    """Two-phase hot-key aggregation.

    ``partial_aggs`` aggregate within (keys, salt), 16 salts per key; ``merge_aggs`` combine
    the partials per key. Example for a sum+count (mean):
        partial: [sum(x).alias("s"), count(*).alias("c")]
        merge:   [sum("s").alias("s"), sum("c").alias("c")]
    """
    salted = with_salt(df, 16)
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    return partial.groupBy(*keys).agg(*merge_aggs)
