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
from ..functions.tfidf import doc_frequency, l2_normalize, term_frequency, tfidf
from ..operators.similarity import (
    all_pairs_cosine_exact,
    best_match,
    sparse_cosine_join,
)

# Rounding applied to cosine BEFORE the arg-max so ranking (and therefore
# tie-breaking) is reproducible across engines and runs — the reference's
# tie behavior is partition-order-dependent (SURVEY A5).
COSINE_DECIMALS = 9


def preprocess_papers(
    papers: DataFrame,
    stopwords: list[str],
    lemmatize_tokens: bool = False,
    count_empty_tokens: bool = False,
) -> DataFrame:
    """lab2.py:62-146 as one projection chain.

    Output: id, categories (cleaned, atomic), title_tokens, abstract_tokens.
    Lemmatization (the only Python crossing, Arrow-vectorized) is opt-in —
    the sklearn-TF-IDF math downstream is identical either way.
    """
    out = papers.select(
        "id",
        clean_category("categories").alias("categories"),
        tokenize(normalize_text("title"), count_empty_tokens).alias("title_tokens"),
        tokenize(normalize_text("abstract"), count_empty_tokens).alias("abstract_tokens"),
    )
    out = out.withColumn(
        "title_tokens", remove_stopwords("title_tokens", stopwords)
    ).withColumn("abstract_tokens", remove_stopwords("abstract_tokens", stopwords))
    if lemmatize_tokens:
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


def tfidf_vectors(
    terms: DataFrame, df_: DataFrame, n_docs: int, id_col: str, left: bool = False
) -> DataFrame:
    """tokenized long rows -> L2-normalized sklearn-TF-IDF vectors."""
    tf = term_frequency(terms, [id_col])
    weighted = tfidf(tf, df_, n_docs, [id_col], left=left)
    return l2_normalize(weighted, [id_col])


def task1_best_abstract(prep: DataFrame, n_docs: int | None = None) -> DataFrame:
    """Task 1 (lab2.py:150-251): per-title best-matching abstract.

    One Catalyst plan: TF/DF aggregates, broadcast DF join, window
    normalization, sparse cosine join, deterministic arg-max — versus the
    reference's ~11 hand-scheduled RDD shuffles plus a cartesian.

    Returns (title_id, abstract_id, cosine); titles with zero vocabulary
    overlap emit (title_id, NULL, 0.0) for cartesian row-count parity.
    """
    if n_docs is None:
        n_docs = prep.count()  # A1 (lab2.py:155) — one count, reused as a literal
    abstract_terms = _long_terms(prep, "abstract_tokens", "abstract_id")
    title_terms = _long_terms(prep, "title_tokens", "title_id")

    abstract_tf = term_frequency(abstract_terms, ["abstract_id"])
    df_ = doc_frequency(abstract_tf)  # DF is defined over the ABSTRACT corpus only

    abstract_vec = l2_normalize(
        tfidf(abstract_tf, df_, n_docs, ["abstract_id"]), ["abstract_id"]
    )
    # J2: left join keeps title terms with df=0 (idf = log10(n+1)+1)
    title_vec = tfidf_vectors(title_terms, df_, n_docs, "title_id", left=True)

    pairs = sparse_cosine_join(
        title_vec, abstract_vec, "title_id", "abstract_id", round_to=COSINE_DECIMALS
    )
    all_titles = prep.select(F.col("id").alias("title_id"))
    return best_match(pairs, "title_id", "abstract_id", all_queries=all_titles)


def task2_category_matrix(prep: DataFrame, round_to: int = COSINE_DECIMALS) -> DataFrame:
    """Task 2 (lab2.py:263-296): category×category cosine matrix, long form.

    Per-category term-frequency vectors (the reference's two-stage
    reduceByKey collapses to one groupBy — summing per-doc counts equals
    counting, SURVEY A7), L2-normalized, dense self all-pairs.
    Returns (category_l, category_r, cosine) with the diagonal == 1.0.
    """
    cat_terms = prep.select(
        F.col("categories").alias("category"), F.explode("abstract_tokens").alias("term")
    )
    cat_tf = cat_terms.groupBy("category", "term").agg(
        F.count("*").cast("double").alias("weight")
    )
    cat_vec = l2_normalize(cat_tf, ["category"])
    return all_pairs_cosine_exact(cat_vec, "category", round_to=round_to)
