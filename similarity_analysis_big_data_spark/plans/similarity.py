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

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.text import tokenize
from ..functions.tfidf import doc_frequency, l2_normalize, term_frequency, tfidf
from ..operators.similarity import (
    DENSE_MAX_BROADCAST_CELLS,
    DENSE_MAX_VOCAB,
    all_pairs_cosine_exact,
    best_match,
    dense_best_match,
    pivot_matrix,
    sparse_cosine_join,
)
from ..sources.readers import load_table
from .registry import register

TITLE_TOKENS = 6  # leading tokens of text used as the synthetic "title"
TITLE_SAMPLE_MOD = 5  # sample 1-in-5 docs as retrieval queries
LANGS = ["de", "en", "es", "fr", "zh"]  # stable across all fixture SFs

# Auto-strategy memo for title_best_abstract, keyed (applicationId,
# sf_dir): the verdict "sparse" (skip every probe action) or "dense" (skip
# the pre-probe, take the strategy="dense" path) — nothing else. Plan
# statistics, not data: the memo carries no corpus size (each call
# measures its own), so staleness can only change WHICH physical strategy
# runs, never the result (extensional equality of the two paths is
# property-tested). Bounded (ADVICE r10): inserts evict entries from
# other applicationIds (dead sessions can never read theirs back) and
# the per-app population is capped FIFO, so a long-lived driver sweeping
# many replica dirs cannot grow it without bound. Concurrent first calls
# race benignly — both run the same deterministic probes, last write
# wins with the identical verdict.
_AUTO_STRATEGY_CACHE: dict[tuple[str, str], str] = {}
_AUTO_STRATEGY_CACHE_MAX = 64  # dirs per app; far above any real sweep

# Probe/dense persist rule: ALWAYS persist. Calibration history, because
# this rule flipped twice as host artifacts were root-caused out of the
# measurements: (r7-r11) "persist only above 16k docs" — calibrated while
# THP huge-page compaction taxed the cache's serialized block writes;
# (r12, post-allocator-fix) "persist only below a 24k ceiling" — the 40k
# persist arm read an unstable 13-33 s, which looked like heap-capacity
# competition but was actually the heap-EXPANSION pre-touch stall (cache
# block writes grow the heap; each growth step ran a multi-second G1
# pause). With the heap pre-sized (-Xms == -Xmx, the second r12 fix) the
# A/B is stable and persist WINS at every measured point — min-of-3,
# fresh process per arm, two arms each: 5k: 2.59 on / 4.29 off; 10k:
# 3.04/3.33; 20k: 4.03/4.82; 40k: 5.80-6.24 / 7.17-7.97; 80k:
# 9.05-11.02 / 10.56-11.35. The TF relation is reread by the title
# collect and the final action; recomputing the fused tokenize+agg chain
# always costs more than the cache barrier once allocation is healthy.


def _auto_strategy_memo_put(key: tuple[str, str], verdict: str) -> None:
    app_id = key[0]
    for k in [k for k in _AUTO_STRATEGY_CACHE if k[0] != app_id]:
        del _AUTO_STRATEGY_CACHE[k]
    while len(_AUTO_STRATEGY_CACHE) >= _AUTO_STRATEGY_CACHE_MAX:
        del _AUTO_STRATEGY_CACHE[next(iter(_AUTO_STRATEGY_CACHE))]
    _AUTO_STRATEGY_CACHE[key] = verdict


# Shared DuckDB CTE prefix: long-format terms + TF + DF + corpus size.
_SQL_TERMS = r"""
WITH terms AS (
    SELECT doc_id, t.term
    FROM (SELECT doc_id, regexp_split_to_array(lower(text), '[^\w]+') AS toks
          FROM documents),
         unnest(toks) AS t(term)
    WHERE t.term <> ''
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
    FROM (SELECT doc_id,
                 list_slice(list_filter(regexp_split_to_array(lower(text), '[^\w]+'),
                                        x -> x <> ''), 1, {TITLE_TOKENS}) AS toks
          FROM documents
          WHERE doc_id % {TITLE_SAMPLE_MOD} = 0),
         unnest(toks) AS t(term)
),
title_tf AS (SELECT title_id, term, count(*) AS tf FROM title_terms GROUP BY title_id, term),
abs_w AS (
    SELECT doc_id AS abstract_id, term,
           (1 + log10(tf)) * (log10((n + 1) / (df + 1)) + 1) AS w
    FROM tf JOIN df USING (term) CROSS JOIN corpus
),
abs_vec AS (
    SELECT abstract_id, term,
           w / sqrt(sum(w * w) OVER (PARTITION BY abstract_id)) AS weight
    FROM abs_w
),
title_w AS (
    SELECT title_id, t.term,
           (1 + log10(t.tf)) * (log10((n + 1) / (coalesce(df.df, 0) + 1)) + 1) AS w
    FROM title_tf t LEFT JOIN df ON t.term = df.term CROSS JOIN corpus
),
title_vec AS (
    SELECT title_id, term,
           w / sqrt(sum(w * w) OVER (PARTITION BY title_id)) AS weight
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
    return docs.select("doc_id", F.explode(tokenize(F.lower("text"))).alias("term"))


def _title_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % TITLE_SAMPLE_MOD == 0
    )
    toks = F.slice(tokenize(F.lower("text")), 1, TITLE_TOKENS)
    return docs.select(F.col("doc_id").alias("title_id"), F.explode(toks).alias("term"))


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


@register(
    "doc_tfidf_normalized",
    oracle=_SQL_TERMS
    + """
    , w AS (
        SELECT doc_id, term,
               (1 + log10(tf)) * (log10((n + 1) / (df + 1)) + 1) AS w
        FROM tf JOIN df USING (term) CROSS JOIN corpus
    )
    SELECT doc_id, term,
           round(w / sqrt(sum(w * w) OVER (PARTITION BY doc_id)), 6) AS weight
    FROM w
    """,
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
def title_best_abstract(
    spark: SparkSession, sf_dir: str, strategy: str = "auto"
) -> DataFrame:
    """The reference's cartesian+dict-dot-product, reformulated: pairs that
    share no term never materialize; arg-max is a ranked window with an
    abstract_id tiebreak (the reference is partition-order nondeterministic).

    The abstract-side TF relation feeds three consumers (the DF aggregate —
    whose broadcast the title path reuses — and the abstract weighting), and
    each would otherwise re-run the corpus tokenize+explode+agg from the
    parquet scan (the reference re-evaluates its whole lineage per action
    too, having no cache() anywhere — SURVEY §4.1). The probe and dense
    paths PERSIST that relation unconditionally (r12: the post-heap-fix
    A/B shows the MEMORY_AND_DISK barrier beating the double fused scan
    at every measured corpus size, 5k-80k docs — the earlier
    size-conditional rules were calibrated on persist arms taxed by the
    two since-fixed host allocation stalls; history at the top of this
    module); the SPARSE path creates no persists at all — its one
    streaming pair-join pass beats the cache barrier (SCALE.md r7), and
    its single corpus-scan cost at 100 TB comes from the fused chain.

    ``strategy`` picks the pair-stage physical plan, AQE-style (measure,
    then choose):

    - ``"sparse"`` — the term-join formulation (the 100 TB default: pairs
      sharing no term never materialize, and real vocabularies are huge);
    - ``"dense"`` — broadcast-matmul arg-max
      (operators.similarity.dense_best_match): when the vocabulary is
      narrow every pair DOES share terms, the sparse join degenerates to
      |titles|x|abstracts| shuffled rows, and a blocked BLAS matmul that
      never materializes pairs wins by a wide margin;
    - ``"auto"`` — a cheap sample pre-probe first (a 512-doc distinct-term
      count is a vocabulary LOWER bound, so exceeding the dense ceiling
      proves sparse from one tiny job), then, only if undecided, the full
      probe over the DF relation. The verdict, ``"sparse"`` or ``"dense"``,
      is memoized per (session, dir); a repeat call takes that strategy's
      path directly. Both paths share the identical round-before-argmax /
      ascending-id tiebreak contract, so the result — and the oracle — is
      the same whichever runs.

    Every non-sparse path makes ONE collect: a 1-row stats aggregate plus
    the title matrix, and the final action's IDF takes the corpus size from
    that row as a literal. No corpus size outlives the call, so a memoized
    verdict can pick a slower plan but never a stale result.
    """
    docs = load_table(spark, sf_dir, "documents")
    key = (spark.sparkContext.applicationId, sf_dir)
    if strategy == "auto":
        # A memoized "dense" takes the strategy="dense" path: one collect,
        # no probe aggregates. Measured negative (do not retry): re-running
        # the full auto probe on every "dense"-memo call took the memoized
        # call from 14 to 24 scheduler jobs (sf0.01, local[8]) and its
        # min-of-8 from 0.92-1.00 s to 1.16-1.23 s (sf0.1, 4 vCPU, 3
        # fresh-process pairs). A stale "dense" is caught by
        # dense_best_match's bound check on the collected matrix; a stale
        # "sparse" is exact by construction.
        strategy = _AUTO_STRATEGY_CACHE.get(key, "auto")
    if strategy == "auto":
        # Cheap pre-probe (r10): the distinct-term count of ANY document
        # subset is a LOWER BOUND on the vocabulary, so if a fixed-size
        # sample already exceeds DENSE_MAX_VOCAB the dense precondition is
        # provably broken and the decision is sparse — from one tiny job
        # (512 docs tokenized), without materializing the TF/DF persists
        # the full probe needs. Real corpora blow past 256 distinct terms
        # within a handful of documents, so the full probe below only ever
        # runs for genuinely narrow-vocabulary inputs, where it is cheap.
        #
        # Deterministic sample (ADVICE r10): a bare limit(512) takes
        # whichever partitions finish first, so near the vocab boundary
        # the decision flipped run to run (result-invariant, but plan and
        # timing varied). A doc_id predicate is stable across runs AND
        # pushdown-friendly (parquet row-group min/max stats skip the rest
        # of the table). If a corpus's ids don't start low the filter just
        # yields fewer rows, which only weakens the lower bound — the full
        # probe remains the decider. A lower bound can never prove dense,
        # so only "sparse" is memoized here.
        v_lb = (
            docs.filter(F.col("doc_id") < 512)
            .select(F.explode(tokenize(F.lower("text"))).alias("term"))
            .agg(F.count_distinct("term").alias("v_lb"))
            .collect()[0]["v_lb"]
        )
        if v_lb > DENSE_MAX_VOCAB:
            strategy = "sparse"
            _auto_strategy_memo_put(key, "sparse")

    # ONE 1-row aggregate serves the IDF and the stats row, so every
    # cross-join site shares the same canonical subplan.
    sizes_agg = docs.agg(
        F.count("*").alias("_n_docs"),
        F.count_if(F.col("doc_id") % TITLE_SAMPLE_MOD == 0).alias("nt"),
    )
    abstract_tf = term_frequency(
        _doc_terms(spark, sf_dir).withColumnRenamed("doc_id", "abstract_id"),
        ["abstract_id"],
    )
    # The TF/DF persists pay only when a materialization is REREAD by a
    # later pass: the stats+title collect, reread by the final action. The
    # sparse path skips them so the pair join's build chain pipelines
    # uncached (the r7 16x finding: 22.0 s fused vs 40.7 s through the
    # cache barrier). DF is vocabulary-sized and feeds the probe's vocab
    # count and both weightings.
    if strategy != "sparse":
        abstract_tf = abstract_tf.persist(StorageLevel.MEMORY_AND_DISK)
    df_ = doc_frequency(abstract_tf)
    if strategy != "sparse":
        df_ = df_.persist(StorageLevel.MEMORY_AND_DISK)
    title_tf = term_frequency(_title_terms(spark, sf_dir), ["title_id"])

    def title_vec(corpus_n: int | DataFrame) -> DataFrame:
        return l2_normalize(
            tfidf(title_tf, df_, corpus_n, ["title_id"], left=True), ["title_id"]
        )

    corpus_n: int | DataFrame = sizes_agg
    t_rows = None
    if strategy != "sparse":
        # ONE driver action yields the stats row AND the full title matrix
        # (tagged union). On auto the stats row also carries the vocab
        # count (vocabulary-sized agg over the persisted TF — this is also
        # what materializes both persists) and the dense verdict, and the
        # title rows are gated plan-side on that verdict — a sparse
        # decision makes that branch empty, so it never pays for a title
        # collect. Off auto the stats row is the count alone: pruned to the
        # column the title IDF reads, the two uses share one exchange
        # (memoized call at sf0.01/local[8]: 15 scheduler jobs, 16 with
        # the unpruned aggregate).
        stats, t_vec = sizes_agg.select("_n_docs"), title_vec(sizes_agg)
        if strategy == "auto":
            stats = (
                df_.agg(F.count("*").alias("vocab"))
                .crossJoin(sizes_agg)
                .withColumn(
                    "dense_ok",
                    (F.col("vocab") <= DENSE_MAX_VOCAB)
                    & (F.col("nt") * F.col("vocab") <= DENSE_MAX_BROADCAST_CELLS),
                )
            )
            t_vec = t_vec.crossJoin(
                F.broadcast(stats.filter("dense_ok").select(F.lit(1).alias("_g")))
            ).drop("_g")
        rows = (
            stats.withColumn("tag", F.lit("stats"))
            .unionByName(t_vec.withColumn("tag", F.lit("vec")), allowMissingColumns=True)
            .collect()
        )
        stat_row = next(r for r in rows if r["tag"] == "stats")
        if strategy == "auto":
            strategy = "dense" if stat_row["dense_ok"] else "sparse"
            _auto_strategy_memo_put(key, strategy)
        # the driver literal removes the cross-joined aggregate subtree
        # from the final action's weighting plans
        corpus_n = stat_row["_n_docs"]
        t_rows = [r for r in rows if r["tag"] == "vec"]

    abstract_vec = l2_normalize(
        tfidf(abstract_tf, df_, corpus_n, ["abstract_id"]), ["abstract_id"]
    )
    all_titles = docs.filter(F.col("doc_id") % TITLE_SAMPLE_MOD == 0).select(
        F.col("doc_id").alias("title_id")
    )
    if strategy == "dense":
        top = dense_best_match(
            title_vec(corpus_n), abstract_vec, "title_id", "abstract_id", t_rows=t_rows
        )
        # dense mode's precondition (n_titles * vocab <= broadcast cells)
        # bounds the match relation, so the null-fill join broadcasts
        top = all_titles.join(F.broadcast(top), "title_id", "left").select(
            "title_id",
            F.col("abstract_id"),
            F.coalesce(F.col("cosine"), F.lit(0.0)).alias("cosine"),
        )
    else:
        # Sparse branch: DROP the TF/DF persists before building the pair
        # join. The cache only pays off when a LATER action rereads what
        # the probe materialized — the dense path's collect does exactly
        # that — but the sparse pair join is one giant streaming pass, and
        # routing its build side through a TableCacheQueryStage barrier
        # (serialized block write + read) instead of recomputing the
        # corpus chain fused into the join stage measured 40.7 s vs
        # 22.0 s at the 16x replica (SCALE.md r7 flagship sweep). After
        # unpersist the planner stops substituting the cached relation
        # and the whole chain pipelines into the join. UNCONDITIONAL even
        # when the cheap pre-probe skipped creating the persists: the
        # cache manager matches by logical plan, so a dense run earlier
        # in the same session may have left these very relations cached,
        # and the sparse contract is that its pair join never routes
        # through a cache barrier.
        abstract_tf.unpersist()
        df_.unpersist()
        pairs = sparse_cosine_join(
            title_vec(corpus_n),
            abstract_vec,
            "title_id",
            "abstract_id",
            round_to=9,
            spread_left=True,
        )
        top = best_match(pairs, "title_id", "abstract_id", all_queries=all_titles)
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


_SQL_CATEGORY = r"""
WITH terms AS (
    SELECT lang AS category, t.term
    FROM (SELECT lang, regexp_split_to_array(lower(text), '[^\w]+') AS toks
          FROM documents),
         unnest(toks) AS t(term)
    WHERE t.term <> ''
),
tfc AS (SELECT category, term, CAST(count(*) AS DOUBLE) AS w FROM terms GROUP BY category, term),
vec AS (
    SELECT category, term,
           w / sqrt(sum(w * w) OVER (PARTITION BY category)) AS weight
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
    """A7+A8+J4: per-category TF vectors in one groupBy (the reference's
    two-stage reduceByKey is redundant — sum of per-doc counts == count),
    window-normalized, dense self all-pairs via the sparse join."""
    docs = load_table(spark, sf_dir, "documents")
    cat_terms = docs.select(
        F.col("lang").alias("category"), F.explode(tokenize(F.lower("text"))).alias("term")
    )
    cat_tf = cat_terms.groupBy("category", "term").agg(
        F.count("*").cast("double").alias("weight")
    )
    cat_vec = l2_normalize(cat_tf, ["category"])
    dense = all_pairs_cosine_exact(cat_vec, "category", round_to=6)
    return dense.select(
        F.col("category_l"), F.col("category_r"), F.col("cosine")
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
    return pivot_matrix(dense, "category_l", "category_r", "cosine", col_values=LANGS)


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
           array_to_string(list_slice(list_filter(
               regexp_split_to_array(lower(t.text), '[^\\w]+'), x -> x <> ''),
               1, {TITLE_TOKENS}), ' ') AS title_text,
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
    title_text = F.array_join(
        F.slice(tokenize(F.lower("text")), 1, TITLE_TOKENS), " "
    )
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
    oracle=_SQL_TERMS
    + f"""
    , w AS (
        SELECT doc_id, term,
               (1 + log10(tf)) * (log10((n + 1) / (df + 1)) + 1) AS w
        FROM tf JOIN df USING (term) CROSS JOIN corpus
    ),
    normalized AS (
        SELECT doc_id, term,
               round(w / sqrt(sum(w * w) OVER (PARTITION BY doc_id)), 6)
                   AS weight
        FROM w
    )
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
