"""Output connectors (SURVEY.md §2.1 S3-S5).

The reference forces single-file output via ``coalesce(1, shuffle=True)`` /
``repartition(1)`` (``lab2.py:307, 312-313``) — a single-writer bottleneck
at scale. Here ``single_file`` is an explicit opt-in reserved for provably
tiny results; the default keeps the writer parallel and lets the caller
partition output tables by natural keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _maybe_coalesce(df: DataFrame, single_file: bool) -> DataFrame:
    return df.coalesce(1) if single_file else df


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    single_file: bool = False,
) -> None:
    """Parquet sink (S4). ``partition_by`` enables partition pruning for readers."""
    writer = _maybe_coalesce(df, single_file).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False) -> None:
    """CSV sink (S5) — replaces the reference's driver-side pandas.to_csv (lab2.py:331-332)."""
    _maybe_coalesce(df, single_file).write.mode(mode).option("header", "true").csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False) -> None:
    """Line-delimited JSON sink."""
    _maybe_coalesce(df, single_file).write.mode(mode).json(path)


def write_text(df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = True) -> None:
    """Text sink (S3) — replaces rdd.saveAsTextFile (lab2.py:307).

    Expects a single string column named ``value``; defaults to one file
    because the reference used it only for a one-row accuracy tuple.
    """
    _maybe_coalesce(df, single_file).write.mode(mode).text(path)
