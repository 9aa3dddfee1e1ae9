"""TF-IDF over long-format relations (SURVEY.md §2.9 M3).

The reference builds ``{word: weight}`` Python dicts per document
(``lab2.py:187-194``); the engine keeps everything long-format —
one row per ``(doc, term)`` — so TF, DF, weighting and normalization are
hash aggregates and window expressions that Catalyst codegen runs JVM-side
and AQE can re-plan. No stage builds a map-shaped vector.

Formula parity (SURVEY §7 known-hard): the reference uses the
sklearn-style *smooth* formula, NOT MLlib's IDF (which is ln-based with
different +1 placement)::

    tf_weight = 1 + log10(tf)
    idf       = log10((n_docs + 1) / (df + 1)) + 1
    weight    = tf_weight * idf          (lab2.py:188-189)

then L2-normalizes per document (lab2.py:193-194).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F


def term_frequency(terms: DataFrame, doc_cols: list[str]) -> DataFrame:
    """A2 (lab2.py:163): rows of (doc, term) -> (doc, term, tf).

    Partial+final hash aggregation; the only shuffle is on the composite
    key, with map-side combine shrinking it to distinct (doc, term) pairs.
    """
    return terms.groupBy(*doc_cols, "term").agg(F.count("*").alias("tf"))


def doc_frequency(tf: DataFrame) -> DataFrame:
    """A3 (lab2.py:167-170): (doc, term, tf) -> (term, df).

    Input is already distinct per (doc, term), so the reference's
    distinct()+reduceByKey triple-shuffle collapses to one count per term.
    """
    return tf.groupBy("term").agg(F.count("*").alias("df"))


def tfidf_weight(
    tf_col: Column | str, df_col: Column | str, n_docs: int | Column
) -> Column:
    """M3: the sklearn-smooth weight as a single codegen'd expression.
    ``n_docs`` may be a Column (the corpus count cross-joined in as a
    1-row broadcast relation) instead of a driver-collected literal."""
    tf_c = F.col(tf_col) if isinstance(tf_col, str) else tf_col
    df_c = F.col(df_col) if isinstance(df_col, str) else df_col
    n_c = n_docs if isinstance(n_docs, Column) else F.lit(n_docs)
    return (1 + F.log10(tf_c)) * (F.log10((n_c + 1) / (df_c + 1)) + 1)


def tfidf_weight_sql(tf: str = "tf", df: str = "df", n_docs: str = "n") -> str:
    """The DuckDB rendering of ``tfidf_weight`` for oracle construction."""
    return f"(1 + log10({tf})) * (log10(({n_docs} + 1) / ({df} + 1)) + 1)"


def tfidf(
    tf: DataFrame,
    df_: DataFrame,
    n_docs: int | DataFrame,
    doc_cols: list[str],
    left: bool = False,
) -> DataFrame:
    """J1/J2 + M3 (lab2.py:173, 208-209, 187-189): attach df, compute weight.

    ``left=True`` is the title path: terms missing from the reference
    corpus keep df=0 (coalesce replaces the reference's Python null-fill at
    lab2.py:209) so they still get idf = log10(n+1)+1.

    ``n_docs`` is either the driver-collected corpus size (callers that
    already have it from a probe action) or a 1-row DataFrame holding the
    corpus-count aggregate in column ``_n_docs`` — the latter cross-joins
    in as a broadcast scalar, so the IDF needs NO separate count action
    (the whole query stays a single Spark action).

    Scale: df_ is |vocabulary| rows — small relative to the corpus — so
    Catalyst/AQE broadcasts it; no shuffle of the big tf side.
    """
    how = "left" if left else "inner"
    joined = tf.join(F.broadcast(df_), "term", how)
    if left:
        joined = joined.withColumn("df", F.coalesce("df", F.lit(0)))
    if isinstance(n_docs, DataFrame):
        joined = joined.crossJoin(F.broadcast(n_docs))
        n: int | Column = F.col("_n_docs")
    else:
        n = n_docs
    return joined.select(
        *doc_cols, "term", tfidf_weight("tf", "df", n).alias("weight")
    )


def l2_normalize(weighted: DataFrame, doc_cols: list[str]) -> DataFrame:
    """A8 (lab2.py:193-194): per-document L2 normalization of ``weight`` as
    a window agg.

    A frame-less window aggregate — one shuffle on the doc key, no
    group materialization (the reference's groupByKey+dict holds whole
    vectors in Python memory; this form streams).
    """
    w = W.partitionBy(*doc_cols)
    norm = F.sqrt(F.sum(F.pow(F.col("weight"), 2)).over(w))
    return weighted.withColumn("weight", F.col("weight") / norm)


def l2_normalize_sql(doc_cols: list[str]) -> str:
    """The DuckDB rendering of ``l2_normalize``: the normalized weight as a
    window expression over the raw weight column ``w``."""
    return f"w / sqrt(sum(w * w) OVER (PARTITION BY {', '.join(doc_cols)}))"
