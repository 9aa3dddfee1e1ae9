"""Output connectors (SURVEY.md §2.1 S3-S5).

The reference forces single-file output via ``coalesce(1, shuffle=True)`` /
``repartition(1)`` (``lab2.py:307, 312-313``). Every sink here writes its
result as one file per output directory too — the CLI's outputs are the
reference's small results — but through ``coalesce(1)``, which adds no
shuffle; each overwrites what its path held.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(df: DataFrame, path: str) -> None:
    """Parquet sink (S4) — the CLI's Task 1 results (lab2.py:313)."""
    df.coalesce(1).write.mode("overwrite").parquet(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink (S5) — replaces the reference's driver-side pandas.to_csv (lab2.py:331-332)."""
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(path)


def write_text(df: DataFrame, path: str) -> None:
    """Text sink (S3) — replaces rdd.saveAsTextFile (lab2.py:307).

    Expects a single string column named ``value``; the reference used it
    only for a one-row accuracy tuple.
    """
    df.coalesce(1).write.mode("overwrite").text(path)
