"""Grouped-map Pandas operators (``applyInPandas``) (north-star [ext]).

The grouped-map shape: each group travels to a Python worker as ONE Arrow
batch, a pandas function transforms it, the declared schema comes back.
This is the escape hatch for per-group logic the built-ins can't express
(per-group model fitting, sequence alignment, custom normalizations with
cross-row state). The demo operator here — per-group z-score — IS
expressible as a window, which is exactly why it's chosen: the DuckDB
oracle checks the pandas path bit-for-bit against independent SQL.

Scale: one shuffle on the group key; each group must fit in a worker's
memory (the applyInPandas contract). For unbounded groups, pre-aggregate
or switch to the window form.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T


def grouped_zscore(
    df: DataFrame,
    keys: Iterable[str],
    value_col: str,
) -> DataFrame:
    """Per-group standardization into column ``zscore``:
    (x - mean(group)) / stddev_samp(group).

    Degenerate groups (size 1 or zero variance) emit 0.0 — the convention a
    feature pipeline wants (no NaN/null propagation into training data).
    """
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("zscore", T.DoubleType())]
    )

    def standardize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf[value_col].astype("float64")
        sd = v.std(ddof=1)  # sample stddev — matches SQL stddev_samp
        if pd.isna(sd) or sd == 0.0:
            pdf["zscore"] = 0.0
        else:
            pdf["zscore"] = (v - v.mean()) / sd
        return pdf

    return df.groupBy(*keys).applyInPandas(standardize, schema=out_schema)
