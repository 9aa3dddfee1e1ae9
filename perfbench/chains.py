"""Each workload query rebuilt from the engine's public operators, cut at
its layer boundaries.

``CHAINS[query](spark, sf_dir, upto)`` rebuilds the registered query's plan
up to and including layer ``upto`` and returns the DataFrames that layer
produces. ``upto=None`` returns the whole query as one DataFrame; its
result digest must equal the registered query's, or the trace would time
a different program. Timing each prefix from scratch gives cumulative
layer times; a layer's self time is its prefix time minus the previous
prefix's.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from similarity_analysis_big_data_spark.functions.text import tokenize
from similarity_analysis_big_data_spark.functions.tfidf import (
    doc_frequency,
    l2_normalize,
    term_frequency,
    tfidf,
)
from similarity_analysis_big_data_spark.operators.components import dedup_survivors
from similarity_analysis_big_data_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
)
from similarity_analysis_big_data_spark.operators.similarity import best_match, sparse_cosine_join
from similarity_analysis_big_data_spark.plans.dedup import SAMPLE_MOD
from similarity_analysis_big_data_spark.plans.similarity import TITLE_SAMPLE_MOD, TITLE_TOKENS
from similarity_analysis_big_data_spark.sources.readers import load_table


def _terms(df, id_col, tokens):
    return df.select(F.col("doc_id").alias(id_col), F.explode(tokens).alias("term"))


def title_best_abstract(spark, sf_dir, upto=None):
    """The flagship's sparse branch (plans/similarity.py), which its
    ``auto`` strategy takes once the vocabulary exceeds DENSE_MAX_VOCAB."""
    docs = load_table(spark, sf_dir, "documents")
    if upto == "sources.scan":
        return (docs,)
    titles = docs.filter(F.col("doc_id") % TITLE_SAMPLE_MOD == 0)
    abstract_terms = _terms(docs, "abstract_id", tokenize(F.lower("text")))
    title_terms = _terms(
        titles, "title_id", F.slice(tokenize(F.lower("text")), 1, TITLE_TOKENS)
    )
    if upto == "text.tokenize":
        return abstract_terms, title_terms
    abstract_tf = term_frequency(abstract_terms, ["abstract_id"])
    title_tf = term_frequency(title_terms, ["title_id"])
    if upto == "tfidf.tf":
        return abstract_tf, title_tf
    df_ = doc_frequency(abstract_tf)
    if upto == "tfidf.df":
        return (df_,)
    corpus_n = docs.agg(
        F.count("*").alias("_n_docs"),
        F.count_if(F.col("doc_id") % TITLE_SAMPLE_MOD == 0).alias("nt"),
    )
    abstract_vec = l2_normalize(
        tfidf(abstract_tf, df_, corpus_n, ["abstract_id"]), ["abstract_id"]
    )
    title_vec = l2_normalize(
        tfidf(title_tf, df_, corpus_n, ["title_id"], left=True), ["title_id"]
    )
    if upto == "tfidf.weight":
        return abstract_vec, title_vec
    pairs = sparse_cosine_join(
        title_vec, abstract_vec, "title_id", "abstract_id", round_to=9, spread_left=True
    )
    if upto == "similarity.pair":
        return (pairs,)
    all_titles = titles.select(F.col("doc_id").alias("title_id"))
    top = best_match(pairs, "title_id", "abstract_id", all_queries=all_titles)
    return top.select(
        "title_id",
        F.coalesce("abstract_id", F.lit(-1)).alias("best_abstract_id"),
        F.round("cosine", 6).alias("cosine"),
    )


def near_dup_survivors(spark, sf_dir, upto=None):
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % SAMPLE_MOD == 0)
    if upto == "sources.scan":
        return (docs,)
    toksets = docs.select("doc_id", F.array_distinct(tokenize(F.lower("text"))).alias("toks"))
    shingles = toksets.select("doc_id", F.explode("toks").alias("shingle"))
    if upto == "text.tokenize":
        return (shingles,)
    sigs = minhash_signatures(shingles, "doc_id")
    if upto == "dedup.signature":
        return (sigs,)
    cand = lsh_candidate_pairs(sigs, "doc_id")
    if upto == "dedup.candidate":
        return (cand,)
    dup_pairs = jaccard_pairs(
        shingles, "doc_id", candidates=cand, assume_distinct=True, threshold=(1, 2)
    ).filter(F.col("jaccard") >= 0.5)
    if upto == "dedup.verify":
        return (dup_pairs,)
    return dedup_survivors(
        docs, dup_pairs, "doc_id", iteration_shuffle_partitions=8
    ).select("doc_id", "lang", "source", "n_chars")


# query -> (chain, its layer boundaries in order; the last layer is the
# whole query and has no early return)
CHAINS = {
    "title_best_abstract": (
        title_best_abstract,
        ("sources.scan", "text.tokenize", "tfidf.tf", "tfidf.df", "tfidf.weight",
         "similarity.pair", "similarity.argmax"),
    ),
    "near_dup_survivors": (
        near_dup_survivors,
        ("sources.scan", "text.tokenize", "dedup.signature", "dedup.candidate",
         "dedup.verify", "components"),
    ),
}
