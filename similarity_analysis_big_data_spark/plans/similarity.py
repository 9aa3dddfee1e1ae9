"""Registered similarity queries (reference Task 1 / Task 2 semantics) over
the ``documents`` fixture, each with a DuckDB oracle.

Corpus mapping: ``documents.text`` plays the abstract; the title is the
document's first ``TITLE_TOKENS`` tokens (SQL-expressible on both engines,
so the whole reference pipeline — including the flagship retrieval-accuracy
metric — is oracle-checkable end to end). ``lang`` plays the category for
the Task 2 matrix.

Every double output is rounded on both sides; cosine is rounded BEFORE the
arg-max so ranking ties break identically across engines (SURVEY §7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import words, words_sql
from ..functions.tfidf import (
    doc_frequency,
    l2_normalize,
    l2_normalize_sql,
    term_frequency,
    tfidf,
    tfidf_weight_sql,
)
from ..operators.similarity import (
    best_abstract_per_title,
    category_cosine_matrix,
    pivot_matrix,
)

# the flagship's strategy memo; perfbench reads it through this module
from ..operators.similarity import _AUTO_STRATEGY_CACHE  # noqa: F401
from ..sources.readers import load_table
from .registry import register

TITLE_TOKENS = 6  # leading tokens of text used as the synthetic "title"
TITLE_SAMPLE_MOD = 5  # sample 1-in-5 docs as retrieval queries
LANGS = ["de", "en", "es", "fr", "zh"]  # stable across all fixture SFs


def _title_words() -> Column:
    """The synthetic title: a document's first TITLE_TOKENS words."""
    return F.slice(words("text"), 1, TITLE_TOKENS)


def _title_words_sql(expr: str = "text") -> str:
    """The DuckDB rendering of ``_title_words``."""
    return f"list_slice({words_sql(expr)}, 1, {TITLE_TOKENS})"


# Shared DuckDB CTE prefix: long-format terms + TF + DF + corpus size.
_SQL_TERMS = f"""
WITH terms AS (
    SELECT doc_id, t.term
    FROM (SELECT doc_id, {words_sql()} AS toks FROM documents),
         unnest(toks) AS t(term)
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
corpus AS (SELECT count(*) AS n FROM documents)
"""

_SQL_TITLE_PIPELINE = (
    _SQL_TERMS
    + rf""",
title_terms AS (
    SELECT doc_id AS title_id, t.term
    FROM (SELECT doc_id, {_title_words_sql()} AS toks
          FROM documents
          WHERE doc_id % {TITLE_SAMPLE_MOD} = 0),
         unnest(toks) AS t(term)
),
title_tf AS (SELECT title_id, term, count(*) AS tf FROM title_terms GROUP BY title_id, term),
abs_w AS (
    SELECT doc_id AS abstract_id, term, {tfidf_weight_sql()} AS w
    FROM tf JOIN df USING (term) CROSS JOIN corpus
),
abs_vec AS (
    SELECT abstract_id, term, {l2_normalize_sql(["abstract_id"])} AS weight
    FROM abs_w
),
title_w AS (
    SELECT title_id, t.term, {tfidf_weight_sql("t.tf", "coalesce(df.df, 0)")} AS w
    FROM title_tf t LEFT JOIN df ON t.term = df.term CROSS JOIN corpus
),
title_vec AS (
    SELECT title_id, term, {l2_normalize_sql(["title_id"])} AS weight
    FROM title_w
),
cosine AS (
    SELECT title_id, abstract_id,
           round(sum(t.weight * a.weight), 9) AS cosine
    FROM title_vec t JOIN abs_vec a USING (term)
    GROUP BY title_id, abstract_id
),
ranked AS (
    SELECT title_id, abstract_id, cosine,
           row_number() OVER (PARTITION BY title_id
                              ORDER BY cosine DESC, abstract_id) AS rn
    FROM cosine
),
best AS (
    SELECT q.title_id,
           coalesce(r.abstract_id, -1) AS best_abstract_id,
           coalesce(r.cosine, 0.0) AS cosine
    FROM (SELECT doc_id AS title_id FROM documents
          WHERE doc_id % {TITLE_SAMPLE_MOD} = 0) q
    LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r USING (title_id)
)
"""
)


def _doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.explode(words("text")).alias("term"))


def _title_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % TITLE_SAMPLE_MOD == 0
    )
    return docs.select(
        F.col("doc_id").alias("title_id"), F.explode(_title_words()).alias("term")
    )


@register(
    "doc_term_frequency",
    oracle=_SQL_TERMS + "SELECT doc_id, term, tf FROM tf",
    doc="A2 (lab2.py:158-163): tokenize + per-(doc,term) term frequency, long format.",
)
def doc_term_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return term_frequency(_doc_terms(spark, sf_dir), ["doc_id"])


@register(
    "doc_frequency_by_term",
    oracle=_SQL_TERMS + "SELECT term, df FROM df",
    doc="A3 (lab2.py:167-170): document frequency per term.",
)
def doc_frequency_by_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    return doc_frequency(term_frequency(_doc_terms(spark, sf_dir), ["doc_id"]))


# doc_tfidf_normalized's oracle; doc_top_keywords' oracle composes it, as
# its Spark side composes the query
_SQL_DOC_TFIDF = (
    _SQL_TERMS
    + f"""
    , w AS (
        SELECT doc_id, term, {tfidf_weight_sql()} AS w
        FROM tf JOIN df USING (term) CROSS JOIN corpus
    )
    SELECT doc_id, term, round({l2_normalize_sql(["doc_id"])}, 6) AS weight
    FROM w
    """
)


@register(
    "doc_tfidf_normalized",
    oracle=_SQL_DOC_TFIDF,
    headline=True,
    doc="M3+A8 (lab2.py:187-194): sklearn-smooth TF-IDF, L2-normalized per doc — "
    "exact formula parity with the reference (log10, +1 placements).",
)
def doc_tfidf_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: TF agg shuffles on (doc,term); DF relation is vocabulary-sized
    and broadcast into the join; normalization is one window shuffle on
    doc_id. No Python anywhere — the whole weight formula is codegen'd.
    SINGLE action (r6): the corpus size enters the IDF as a cross-joined
    1-row broadcast aggregate instead of a separate count() — the exact
    shape of the oracle's CROSS JOIN corpus CTE.

    The TF relation feeds two consumers (the DF aggregate's broadcast
    build side and the weighting probe side) UNCACHED — same finding as
    the title sparse branch (which see): routing the probe through a
    TableCacheQueryStage barrier (serialized block write + read) loses to
    recomputing the tokenize+agg chain fused into each consumer's stage.
    Measured min-of-3 warm, persist vs no-persist: 1.95 s vs 1.10 s at
    sf0.1, 1.79 vs 1.40 at the 2x replica, 3.39 vs 2.89 at 8x — the
    recompute side stays ahead as data grows because the DF build side's
    map-side combine collapses to vocabulary size before its shuffle,
    while the cache barrier pays full TF-relation serialization.
    RE-CONFIRMED post-allocator-fix (r12 — this path is all-JVM, so the
    THP tax that reversed the probe/dense persist rule never applied
    here): 1.59 vs 1.09 at sf0.1, 4.43 vs 3.45 at 8x, interleaved A/B +
    fresh-process confirm."""
    docs = load_table(spark, sf_dir, "documents")
    corpus_n = docs.agg(F.count("*").alias("_n_docs"))
    tf = term_frequency(_doc_terms(spark, sf_dir), ["doc_id"])
    weighted = tfidf(tf, doc_frequency(tf), corpus_n, ["doc_id"])
    return l2_normalize(weighted, ["doc_id"]).withColumn(
        "weight", F.round("weight", 6)
    )


@register(
    "title_best_abstract",
    oracle=_SQL_TITLE_PIPELINE
    + "SELECT title_id, best_abstract_id, round(cosine, 6) AS cosine FROM best",
    headline=True,
    doc="Task 1 flagship (lab2.py:150-251): per-title best-matching abstract via "
    "sparse cosine join + deterministic arg-max; zero-overlap titles emit (-1, 0.0).",
)
def title_best_abstract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Task 1 over the fixture: ``best_abstract_per_title`` (which see for
    the strategies) on ``auto`` with every TITLE_SAMPLE_MOD-th document as
    a title, the memo keyed on ``sf_dir`` and no match rendered as -1. A
    memoized verdict for ``sf_dir`` takes that strategy's path.

    The ``auto`` pre-probe sample (r10) is the documents with doc_id <
    512: any subset's distinct-term count bounds the vocabulary from
    below, so one tiny job proves sparse on a real corpus. A doc_id
    predicate, not limit(512) (ADVICE r10), is stable across runs — a
    limit takes whichever partitions finish first, which flipped the
    verdict near the vocab boundary — and parquet min/max stats skip the
    rest of the table. Ids that don't start low only weaken the bound.
    """
    docs = load_table(spark, sf_dir, "documents")
    top = best_abstract_per_title(
        _title_terms(spark, sf_dir),
        _doc_terms(spark, sf_dir).withColumnRenamed("doc_id", "abstract_id"),
        docs.filter(F.col("doc_id") % TITLE_SAMPLE_MOD == 0).select(
            F.col("doc_id").alias("title_id")
        ),
        docs.agg(
            F.count("*").alias("_n_docs"),
            F.count_if(F.col("doc_id") % TITLE_SAMPLE_MOD == 0).alias("nt"),
        ),
        memo_key=sf_dir,
        sample_terms=docs.filter(F.col("doc_id") < 512).select(
            F.explode(words("text")).alias("term")
        ),
    )
    return top.select(
        "title_id",
        F.coalesce("abstract_id", F.lit(-1)).alias("best_abstract_id"),
        F.round("cosine", 6).alias("cosine"),
    )


@register(
    "title_retrieval_accuracy",
    oracle=_SQL_TITLE_PIPELINE
    + """
    SELECT round(avg(CASE WHEN title_id = best_abstract_id THEN 1.0 ELSE 0.0 END), 6)
               AS accuracy
    FROM best
    """,
    doc="A6 (lab2.py:253-260): retrieval accuracy — fraction of titles whose best "
    "abstract is their own document.",
)
def title_retrieval_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    matches = title_best_abstract(spark, sf_dir)
    return matches.agg(
        F.round(
            F.avg(
                F.when(F.col("title_id") == F.col("best_abstract_id"), 1.0).otherwise(0.0)
            ),
            6,
        ).alias("accuracy")
    )


_SQL_CATEGORY = f"""
WITH terms AS (
    SELECT lang AS category, t.term
    FROM (SELECT lang, {words_sql()} AS toks FROM documents),
         unnest(toks) AS t(term)
),
tfc AS (SELECT category, term, CAST(count(*) AS DOUBLE) AS w FROM terms GROUP BY category, term),
vec AS (
    SELECT category, term, {l2_normalize_sql(["category"])} AS weight
    FROM tfc
),
pairs AS (
    SELECT a.category AS category_l, b.category AS category_r,
           sum(a.weight * b.weight) AS cosine
    FROM vec a JOIN vec b USING (term)
    GROUP BY a.category, b.category
),
cats AS (SELECT DISTINCT category FROM tfc),
dense AS (
    SELECT l.category AS category_l, r.category AS category_r,
           round(coalesce(p.cosine, 0.0), 6) AS cosine
    FROM cats l CROSS JOIN cats r
    LEFT JOIN pairs p ON p.category_l = l.category AND p.category_r = r.category
)
"""


@register(
    "category_similarity_matrix",
    oracle=_SQL_CATEGORY + "SELECT category_l, category_r, cosine FROM dense",
    doc="Task 2 (lab2.py:263-296): category×category cosine matrix over per-category "
    "term-frequency vectors (lang = category), long form; diagonal == 1.0.",
)
def category_similarity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7+A8+J4: ``category_cosine_matrix`` over (lang, word) rows."""
    docs = load_table(spark, sf_dir, "documents")
    return category_cosine_matrix(
        docs.select(F.col("lang").alias("category"), F.explode(words("text")).alias("term")),
        round_to=6,
    )


@register(
    "category_matrix_pivot",
    oracle=_SQL_CATEGORY
    + """
    SELECT category_l,
           max(CASE WHEN category_r = 'de' THEN cosine END) AS de,
           max(CASE WHEN category_r = 'en' THEN cosine END) AS en,
           max(CASE WHEN category_r = 'es' THEN cosine END) AS es,
           max(CASE WHEN category_r = 'fr' THEN cosine END) AS fr,
           max(CASE WHEN category_r = 'zh' THEN cosine END) AS zh
    FROM dense GROUP BY category_l
    """,
    doc="lab2.py:301-303: the similarity matrix pivoted Spark-side (groupBy().pivot() "
    "with explicit values — no pandas, no extra distinct job).",
)
def category_matrix_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = category_similarity_matrix(spark, sf_dir)
    return pivot_matrix(dense, "category_l", "category_r", col_values=LANGS)


@register(
    "mismatch_samples",
    oracle=_SQL_TITLE_PIPELINE
    + f"""
    , mism AS (
        SELECT title_id, best_abstract_id, round(cosine, 6) AS cosine
        FROM best WHERE title_id <> best_abstract_id
        ORDER BY title_id LIMIT 5
    )
    SELECT m.title_id, m.best_abstract_id, m.cosine,
           array_to_string({_title_words_sql("t.text")}, ' ') AS title_text,
           substr(w.text, 1, 60) AS wrong_abstract_prefix,
           substr(t.text, 1, 60) AS correct_abstract_prefix
    FROM mism m
    JOIN documents t ON t.doc_id = m.title_id
    JOIN documents w ON w.doc_id = m.best_abstract_id
    """,
    doc="P6/T2/T3 (lab2.py:315-332): the reference's error-analysis sample — 15 "
    "driver-loop point queries collapsed into ONE plan: deterministic limit + two "
    "joins back to the corpus.",
)
def mismatch_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference loops 5 samples × 3 .first() point queries (15 full-scan
    jobs, lab2.py:319-329); here the mismatches join the corpus once —
    zero driver loops, deterministic (ordered by title_id)."""
    docs = load_table(spark, sf_dir, "documents")
    mism = (
        title_best_abstract(spark, sf_dir)
        .filter(F.col("title_id") != F.col("best_abstract_id"))
        .orderBy("title_id")
        .limit(5)
    )
    title_text = F.array_join(_title_words(), " ")
    t = docs.select(
        F.col("doc_id").alias("title_id"),
        title_text.alias("title_text"),
        F.substring("text", 1, 60).alias("correct_abstract_prefix"),
    )
    w = docs.select(
        F.col("doc_id").alias("best_abstract_id"),
        F.substring("text", 1, 60).alias("wrong_abstract_prefix"),
    )
    return (
        mism.join(F.broadcast(t), "title_id")
        .join(F.broadcast(w), "best_abstract_id")
        .select(
            "title_id",
            "best_abstract_id",
            "cosine",
            "title_text",
            "wrong_abstract_prefix",
            "correct_abstract_prefix",
        )
    )


KEYWORDS_PER_DOC = 3


@register(
    "doc_top_keywords",
    oracle=f"""
    WITH normalized AS ({_SQL_DOC_TFIDF})
    SELECT doc_id,
           string_agg(term, ',' ORDER BY weight DESC, term) AS keywords,
           CAST(count(*) AS BIGINT) AS n_keywords
    FROM (SELECT doc_id, term, weight,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY weight DESC, term) AS rn
          FROM normalized)
    WHERE rn <= {KEYWORDS_PER_DOC}
    GROUP BY doc_id
    """,
    doc=f"[ext] keyword extraction: each document's top-{KEYWORDS_PER_DOC} "
    "TF-IDF terms (rounded-weight ordering with a term tiebreak, so the "
    "keyword list is engine-independent) — the per-document tag surface "
    "search and clustering UIs consume.",
)
def doc_top_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: composes the TF-IDF relation (same plan as
    doc_tfidf_normalized) with a WindowGroupLimit top-k on doc_id and a
    per-doc re-assembly — no new corpus-sized shuffles beyond the TF-IDF
    plan's own."""
    weighted = doc_tfidf_normalized(spark, sf_dir)
    w_doc = W.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    top = weighted.withColumn("rn", F.row_number().over(w_doc)).filter(
        F.col("rn") <= KEYWORDS_PER_DOC
    )
    return top.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct((-F.col("weight")).alias("nw"), "term"))),
                lambda s: s.term,
            ),
            ",",
        ).alias("keywords"),
        F.count("*").alias("n_keywords"),
    )
