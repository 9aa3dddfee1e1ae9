"""End-to-end reference pipelines as single-plan DataFrame queries.

These are the reference's Task 1 and Task 2 (``lab2.py:150-303``)
re-expressed as one parameterized flow (the reference copy-pastes the
title/abstract TF-IDF chains; SURVEY §2.7 notes union-parameterization).

Used by the ``python -m similarity_analysis_big_data_spark`` CLI
(``__main__.py``) and by the reference-parity tests in
``tests/test_pipeline.py``, over a papers-shaped corpus
(id/title/abstract/categories).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.lemmatize import lemmatize
from ..functions.text import clean_category, normalize_text, remove_stopwords, tokenize
from ..operators.similarity import (
    COSINE_DECIMALS,
    best_abstract_per_title,
    category_cosine_matrix,
)


# The reference-parity modes of ``preprocess_papers``, both off: lemmatize
# the tokens (lab2.py's step 1, the only Python crossing), and keep the
# empty strings Python's re.split leaves at a leading or trailing separator.
LEMMATIZE_TOKENS = False
COUNT_EMPTY_TOKENS = False


def preprocess_papers(papers: DataFrame, stopwords: list[str]) -> DataFrame:
    """lab2.py:62-146 as one projection chain.

    Output: id, categories (cleaned, atomic), title_tokens, abstract_tokens.
    Lemmatization (Arrow-vectorized) runs under ``LEMMATIZE_TOKENS`` — the
    sklearn-TF-IDF math downstream is identical either way.
    """
    out = papers.select(
        "id",
        clean_category("categories").alias("categories"),
        tokenize(normalize_text("title"), COUNT_EMPTY_TOKENS).alias("title_tokens"),
        tokenize(normalize_text("abstract"), COUNT_EMPTY_TOKENS).alias("abstract_tokens"),
    )
    out = out.withColumn(
        "title_tokens", remove_stopwords("title_tokens", stopwords)
    ).withColumn("abstract_tokens", remove_stopwords("abstract_tokens", stopwords))
    if LEMMATIZE_TOKENS:
        # lemmatize returns a space-joined string (reference UDF contract);
        # re-tokenize for the long-format flow. An empty token array
        # lemmatizes to "" and split("") yields [""] — filter empties so no
        # phantom "" term enters the vocabulary.
        def resplit(c: str):
            return F.filter(F.split(lemmatize(c), " "), lambda t: F.length(t) > 0)

        out = out.withColumn("title_tokens", resplit("title_tokens")).withColumn(
            "abstract_tokens", resplit("abstract_tokens")
        )
    return out


def _long_terms(prep: DataFrame, tokens_col: str, id_alias: str) -> DataFrame:
    return prep.select(F.col("id").alias(id_alias), F.explode(tokens_col).alias("term"))


def task1_best_abstract(prep: DataFrame, n_docs: int) -> DataFrame:
    """Task 1 (lab2.py:150-251): ``best_abstract_per_title`` with every
    paper as a title, on the sparse strategy. ``n_docs`` is the corpus
    count (A1, lab2.py:155: one count, reused as a literal).

    Returns (title_id, abstract_id, cosine); titles with zero vocabulary
    overlap emit (title_id, NULL, 0.0) for cartesian row-count parity.
    """
    return best_abstract_per_title(
        _long_terms(prep, "title_tokens", "title_id"),
        _long_terms(prep, "abstract_tokens", "abstract_id"),
        prep.select(F.col("id").alias("title_id")),
        n_docs,
        "sparse",
    )


def task2_category_matrix(prep: DataFrame) -> DataFrame:
    """Task 2 (lab2.py:263-296): ``category_cosine_matrix`` over each
    paper's (category, abstract token) rows."""
    return category_cosine_matrix(
        prep.select(
            F.col("categories").alias("category"), F.explode("abstract_tokens").alias("term")
        ),
        COSINE_DECIMALS,
    )
