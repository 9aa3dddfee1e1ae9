"""Corpus language-model scoring + inverted index (north-star [ext]).

LLM-data pipelines gate documents on *statistical surprise* — a cheap
perplexity proxy computed from the corpus itself, no trained model needed
(the Gopher/C4 lineage of quality filters). Two estimators here:

- unigram surprisal: -log2 p(term) under the corpus unigram distribution;
- bigram surprisal: -log2 p(w2 | w1) under the corpus bigram counts.

Both are two-aggregation DataFrame plans: explode tokens, build the
(small) model relation by a term-keyed aggregate, join it back onto the
exploded corpus, and re-aggregate per document. At 100 TB the model
relation is vocabulary-sized (millions of rows, not corpus-sized) so the
join-back broadcasts; the two corpus-sized aggregations are partial+final
hash aggs on (term) and (doc_id).

The inverted index is the retrieval-side twin: term -> document-frequency,
collection-frequency, and the sorted posting list itself.

No reference counterpart (the reference stops at TF-IDF, ``lab2.py:187``);
these extend the same exploded-token relation the TF-IDF path uses.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long_sql
from ..functions.text import with_word_ngrams, words, words_sql
from ..functions.tfidf import tfidf_weight, tfidf_weight_sql
from ..functions.vectors import cosine_similarity, cosine_sql
from ..operators.rank import bucketed_row_number, ntile_from_rank
from ..operators.topk import global_top_n
from ..sources.readers import load_table, local_relation
from .registry import register

# Shared oracle CTE: the corpus as words_sql tokens and long-format terms.
_SQL_TERMS = rf"""
WITH toks AS (
    SELECT doc_id,
           {words_sql()} AS tokens
    FROM documents
),
terms AS (
    SELECT doc_id, unnest(tokens) AS term FROM toks
)
"""


def _doc_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", words("text").alias("tokens"))
        .select("doc_id", F.explode("tokens").alias("term"))
    )


@register(
    "unigram_surprisal_scores",
    oracle=_SQL_TERMS
    + """
    , stats AS (SELECT term, count(*) AS cf FROM terms GROUP BY term),
    tot AS (SELECT sum(cf) AS total FROM stats),
    surp AS (
        SELECT term, round(-log2(CAST(cf AS DOUBLE) / total), 9) AS s
        FROM stats, tot
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(avg(s.s), 6) AS mean_surprisal,
           round(max(s.s), 6) AS max_surprisal
    FROM terms t JOIN surp s USING (term)
    GROUP BY t.doc_id
    """,
    doc="[ext] unigram-LM surprisal per document: mean/max -log2 p(term) "
    "under the corpus unigram distribution — the zero-training perplexity "
    "proxy an LLM-data quality gate thresholds on.",
)
def unigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two corpus-sized hash aggs (by term, then by doc_id), both
    partial+final; the model relation is |vocab| rows and BROADCASTs back
    onto the exploded corpus — no corpus-sized shuffle for the join. The
    1-row total joins the vocab relation, not the corpus."""
    terms = _doc_terms(spark, sf_dir)
    stats = terms.groupBy("term").agg(F.count("*").alias("cf"))
    total = stats.agg(F.sum("cf").alias("total"))
    surp = (
        stats.crossJoin(F.broadcast(total))
        .select(
            "term",
            F.round(-F.log2(F.col("cf").cast("double") / F.col("total")), 9).alias("s"),
        )
    )
    return (
        terms.join(F.broadcast(surp), "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("s"), 6).alias("mean_surprisal"),
            F.round(F.max("s"), 6).alias("max_surprisal"),
        )
    )


# Bigrams as 'w1 w2' strings: tokens never contain spaces (split on \W+),
# so split_part round-trips w1 exactly on both engines.
_SQL_BIGRAMS = rf"""
WITH toks AS (
    SELECT doc_id,
           {words_sql()} AS tokens
    FROM documents
),
bigs AS (
    SELECT doc_id, unnest(list_transform(range(2, len(tokens) + 1),
                                         i -> tokens[i - 1] || ' ' || tokens[i])) AS bg
    FROM toks
)
"""


@register(
    "bigram_surprisal_scores",
    oracle=_SQL_BIGRAMS
    + """
    , bg_counts AS (SELECT bg, count(*) AS c2 FROM bigs GROUP BY bg),
    ctx_counts AS (
        SELECT split_part(bg, ' ', 1) AS w1, count(*) AS c1 FROM bigs GROUP BY 1
    ),
    surp AS (
        SELECT b.bg, round(-log2(CAST(b.c2 AS DOUBLE) / x.c1), 9) AS s
        FROM bg_counts b JOIN ctx_counts x ON split_part(b.bg, ' ', 1) = x.w1
    )
    SELECT g.doc_id,
           count(*) AS n_bigrams,
           round(avg(s.s), 6) AS mean_surprisal,
           round(max(s.s), 6) AS max_surprisal
    FROM bigs g JOIN surp s USING (bg)
    GROUP BY g.doc_id
    """,
    doc="[ext] bigram-LM surprisal per document: mean/max -log2 p(w2|w1) "
    "from corpus bigram/context counts — catches repetitive or shuffled "
    "text that unigram statistics cannot.",
)
def bigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: bigram construction is a narrow per-row array transform (no
    window, no self-join for adjacency); then the same two-agg + broadcast
    join-back shape as the unigram query. The model relation is
    |distinct bigrams| — still vocabulary-scaled, not corpus-scaled."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words("text").alias("tokens"))
    # tokens[i] is 0-based in Spark SQL; guard size<2 (Spark's sequence(1,0)
    # would DESCEND, not return empty). KEPT on the element-index
    # interpreted form (r13): unlike the slice-based gram builds (see
    # with_word_ngrams), two O(1) element lookups + concat per position
    # BEAT the compiled NGram UDF's array conversion overhead — fresh-
    # process A/B 1.56 s vs 1.96 s at sf0.1; the NGram convert was
    # measured and reverted.
    bigrams = F.when(
        F.size("tokens") >= 2,
        F.expr("transform(sequence(1, size(tokens)-1), i -> concat(tokens[i-1], ' ', tokens[i]))"),
    ).otherwise(F.array().cast("array<string>"))
    bigs = toks.select("doc_id", F.explode(bigrams).alias("bg"))
    bg_counts = bigs.groupBy("bg").agg(F.count("*").alias("c2"))
    ctx_counts = (
        bigs.select(F.split_part(F.col("bg"), F.lit(" "), F.lit(1)).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
    )
    surp = (
        bg_counts.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(ctx_counts), "w1")
        .select("bg", F.round(-F.log2(F.col("c2").cast("double") / F.col("c1")), 9).alias("s"))
    )
    return (
        bigs.join(F.broadcast(surp), "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("s"), 6).alias("mean_surprisal"),
            F.round(F.max("s"), 6).alias("max_surprisal"),
        )
    )


@register(
    "inverted_index_postings",
    oracle=_SQL_TERMS
    + """
    SELECT term,
           count(DISTINCT doc_id) AS df,
           count(*) AS cf,
           array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
    FROM terms
    GROUP BY term
    """,
    doc="[ext] inverted index: per-term document frequency, collection "
    "frequency, and the sorted posting list (serialized for the driver's "
    "scalar canonicalizer) — the retrieval-side index build.",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one hash agg keyed on term. Posting lists for stop-word-class
    heavy hitters are the skew risk — at 100 TB those terms route through
    the salted-agg path (operators/skew.py) or cap postings per segment;
    here the full list is the point (and the fixture vocabulary is small).
    sort_array(collect_set(...)) makes the list deterministic regardless of
    partition arrival order."""
    terms = _doc_terms(spark, sf_dir)
    return terms.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"),
        F.count("*").alias("cf"),
        F.array_join(
            F.transform(F.sort_array(F.collect_set("doc_id")), lambda x: x.cast("string")),
            ",",
        ).alias("postings"),
    )


# BM25 demo query: one rare term (df≈5% of docs) against two common ones, so
# the IDF weighting visibly reorders the ranking vs raw TF.
BM25_QUERY_TERMS = ["dup", "spark", "join"]
BM25_K1 = 1.2
BM25_B = 0.75


# BM25 scored relation (doc_id, score) as a DuckDB CTE prefix — shared by
# the plain top-k ranking and the reciprocal-rank-fusion hybrid below.
_SQL_BM25_SCORED = rf"""
        WITH sized AS (
            SELECT doc_id,
                   {words_sql()} AS tokens
            FROM documents
        ),
        dl AS (
            SELECT doc_id, tokens, len(tokens) AS dl FROM sized
        ),
        consts AS (
            SELECT count(*) AS n_docs, avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl
        ),
        tf AS (
            SELECT doc_id, max(dl) AS dl, term, count(*) AS tf
            FROM (SELECT doc_id, dl, unnest(tokens) AS term FROM dl)
            WHERE term IN ('dup', 'spark', 'join')
            GROUP BY doc_id, term
        ),
        dfr AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ),
        scored AS (
            SELECT tf.doc_id,
                   round(sum(
                       ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                       * (tf * (1.2 + 1))
                       / (tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / avgdl))
                   ), 6) AS score
            FROM tf JOIN dfr USING (term), consts
            GROUP BY tf.doc_id
        )
"""


def _bm25_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (doc_id, score) for the fixed query terms — shared by the plain
    ranking and the RRF hybrid.

    Scale: doc length rides THROUGH the explode (no corpus-sized join
    back); the per-(doc,term) relation is pre-filtered to query terms, so
    everything after the one corpus explode+agg is query-sized. df and the
    (N, avgdl) scalars broadcast; final top-k is TakeOrderedAndProject
    (per-task heaps merged on the driver) with the rank window running on
    the surviving rows — the scored relation is match-sized (corpus-
    scale for common query terms), so no unbounded global window."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        words("text").alias("tokens"),
    ).select("doc_id", F.size("tokens").alias("dl"), "tokens")
    consts = sized.agg(
        F.count("*").alias("n_docs"), F.avg(F.col("dl").cast("double")).alias("avgdl")
    )
    qarr = F.array(*[F.lit(t) for t in BM25_QUERY_TERMS])
    tf = (
        sized.select(
            "doc_id", "dl", F.explode(F.filter("tokens", lambda t: F.array_contains(qarr, t))).alias("term")
        )
        .groupBy("doc_id", "term")
        .agg(F.max("dl").alias("dl"), F.count("*").alias("tf"))
    )
    dfr = tf.groupBy("term").agg(F.count("*").alias("df"))
    k1, b = F.lit(BM25_K1), F.lit(BM25_B)
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = idf * (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(dfr), "term")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("score"))
    )
    return scored


@register(
    "bm25_top_docs",
    oracle=_SQL_BM25_SCORED
    + r"""
        SELECT doc_id, score, rnk
        FROM (SELECT doc_id, score,
                     row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
              FROM scored)
        WHERE rnk <= 10
    """,
    doc="[ext] BM25 ranking (Robertson/Lucene idf form, k1=1.2, b=0.75): "
    "top-10 documents for a 3-term query — the retrieval scorer built on "
    "the inverted-index statistics, completing the IR surface beyond "
    "TF-IDF cosine.",
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 BM25 ranking (see :func:`_bm25_scored` for the scale notes)."""
    return global_top_n(
        _bm25_scored(spark, sf_dir), [F.desc("score"), F.asc("doc_id")], 10
    )


# ---- hybrid retrieval: reciprocal rank fusion -------------------------------

RRF_K = 60  # the canonical fusion constant (Cormack et al., SIGIR 2009)
RRF_DEPTH = 50  # rank depth taken from each retriever
RRF_TOP_N = 20
_RRF_COS = cosine_sql("query_vec", "e.embedding")


@register(
    "rrf_fusion_retrieval",
    oracle=_SQL_BM25_SCORED
    + f"""
        , bm AS (
            SELECT doc_id AS id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS bm25_rnk
            FROM scored
        ),
        bm_top AS (SELECT id, bm25_rnk FROM bm WHERE bm25_rnk <= {RRF_DEPTH}),
        qv AS (
            SELECT embedding AS query_vec FROM embeddings WHERE vec_id = 0
        ),
        cos_scored AS (
            SELECT e.vec_id AS id,
                   round({_RRF_COS}, 6) AS cosine
            FROM embeddings e, qv
            WHERE e.vec_id <> 0
        ),
        cs AS (
            SELECT id,
                   row_number() OVER (ORDER BY cosine DESC, id) AS cos_rnk
            FROM cos_scored
        ),
        cs_top AS (SELECT id, cos_rnk FROM cs WHERE cos_rnk <= {RRF_DEPTH}),
        fused AS (
            SELECT COALESCE(bm_top.id, cs_top.id) AS id,
                   CAST(COALESCE(bm_top.bm25_rnk, 0) AS BIGINT) AS bm25_rnk,
                   CAST(COALESCE(cs_top.cos_rnk, 0) AS BIGINT) AS cos_rnk,
                   round(COALESCE(1.0 / ({RRF_K} + bm_top.bm25_rnk), 0)
                         + COALESCE(1.0 / ({RRF_K} + cs_top.cos_rnk), 0),
                         6) AS rrf_score
            FROM bm_top FULL OUTER JOIN cs_top ON bm_top.id = cs_top.id
        )
        SELECT id, bm25_rnk, cos_rnk, rrf_score, rnk
        FROM (SELECT id, bm25_rnk, cos_rnk, rrf_score,
                     row_number() OVER (ORDER BY rrf_score DESC, id) AS rnk
              FROM fused)
        WHERE rnk <= {RRF_TOP_N}
    """,
    doc="[ext] hybrid retrieval: BM25 (lexical) and embedding-cosine "
    "(semantic) rank lists fused by reciprocal rank (1/(60+rank), Cormack "
    "et al.) — the standard RAG-stack scorer that needs no score "
    "normalization across heterogeneous retrievers.",
)
def rrf_fusion_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: each retriever reduces to a depth-50 list through its own
    scale-safe plan (BM25: match-sized agg + TakeOrderedAndProject; cosine:
    one corpus pass against a broadcast query vector), so the fusion join
    and final rank run on ≤2·depth rows on the driver-adjacent path — the
    heavy lifting stays in the two retriever scans."""
    bm = global_top_n(
        _bm25_scored(spark, sf_dir),
        [F.desc("score"), F.asc("doc_id")],
        RRF_DEPTH,
        rank_name="bm25_rnk",
    ).select(F.col("doc_id").alias("id"), "bm25_rnk")
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    cos_scored = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("id"),
            F.round(cosine_similarity("embedding", "query_vec"), 6).alias("cosine"),
        )
    )
    cs = global_top_n(
        cos_scored, [F.desc("cosine"), F.asc("id")], RRF_DEPTH, rank_name="cos_rnk"
    ).select("id", "cos_rnk")
    k = F.lit(float(RRF_K))
    fused = bm.join(cs, "id", "full_outer").select(
        "id",
        F.coalesce("bm25_rnk", F.lit(0)).cast("long").alias("bm25_rnk"),
        F.coalesce("cos_rnk", F.lit(0)).cast("long").alias("cos_rnk"),
        F.round(
            F.coalesce(F.lit(1.0) / (k + F.col("bm25_rnk")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (k + F.col("cos_rnk")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return global_top_n(fused, [F.desc("rrf_score"), F.asc("id")], RRF_TOP_N)


# ---- collocations + BPE training step --------------------------------------

PMI_MIN_COUNT = 5  # drop noise pairs before ranking
PMI_TOP_N = 50


@register(
    "token_pmi_collocations",
    oracle=_SQL_BIGRAMS
    + f"""
    , uni AS (
        SELECT unnest(tokens) AS term FROM toks
    ),
    uni_counts AS (SELECT term, count(*) AS c1 FROM uni GROUP BY term),
    nt AS (SELECT CAST(sum(c1) AS DOUBLE) AS n_tokens FROM uni_counts),
    bg_counts AS (
        SELECT bg, count(*) AS c12 FROM bigs GROUP BY bg
        HAVING count(*) >= {PMI_MIN_COUNT}
    ),
    nb AS (SELECT CAST(count(*) AS DOUBLE) AS n_bigrams FROM bigs),
    scored AS (
        SELECT b.bg,
               b.c12,
               round(log2((b.c12 / nb.n_bigrams)
                          / ((u1.c1 / nt.n_tokens) * (u2.c1 / nt.n_tokens))), 6)
                   AS pmi
        FROM bg_counts b
        JOIN uni_counts u1 ON u1.term = split_part(b.bg, ' ', 1)
        JOIN uni_counts u2 ON u2.term = split_part(b.bg, ' ', 2)
        CROSS JOIN nt CROSS JOIN nb
    )
    SELECT bg AS pair, c12 AS pair_count, pmi, rnk
    FROM (SELECT bg, c12, pmi,
                 row_number() OVER (ORDER BY pmi DESC, bg) AS rnk
          FROM scored)
    WHERE rnk <= {PMI_TOP_N}
    """,
    doc="[ext] pointwise mutual information collocations: top adjacent "
    f"token pairs (count >= {PMI_MIN_COUNT}) by PMI = log2(p(w1,w2) / "
    "(p(w1) p(w2))) — the classic phrase-mining statistic for building "
    "multi-word vocabulary entries from a training corpus.",
)
def token_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one corpus explode each for unigrams and bigrams, both
    reduced to count relations by partial+final hash aggs; the unigram
    relation BROADCASTs onto the bigram counts. The bigram-count relation
    is NOT model-sized at web scale (bigram vocabularies explode
    quadratically), so the final top-N is TakeOrderedAndProject — per-task
    50-row heaps, no single-partition sort of the scored relation — with
    the rank window running on the 50 survivors only."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words("text").alias("tokens"))
    uni_counts = (
        toks.select(F.explode("tokens").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c1"))
    )
    nt = uni_counts.agg(F.sum("c1").cast("double").alias("n_tokens"))
    # element-index bigram build kept (r13): see bigram_surprisal_scores —
    # the NGram convert measured SLOWER for this O(1)-per-element shape
    bigrams = F.when(
        F.size("tokens") >= 2,
        F.expr("transform(sequence(1, size(tokens)-1), i -> concat(tokens[i-1], ' ', tokens[i]))"),
    ).otherwise(F.array().cast("array<string>"))
    bigs = toks.select(F.explode(bigrams).alias("bg"))
    nb = bigs.agg(F.count("*").cast("double").alias("n_bigrams"))
    bg_counts = (
        bigs.groupBy("bg")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= PMI_MIN_COUNT)
    )
    u1 = uni_counts.select(F.col("term").alias("w1"), F.col("c1").alias("c1_l"))
    u2 = uni_counts.select(F.col("term").alias("w2"), F.col("c1").alias("c1_r"))
    scored = (
        bg_counts.withColumn("w1", F.split_part(F.col("bg"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bg"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("bg").alias("pair"),
            F.col("c12").alias("pair_count"),
            F.round(
                F.log2(
                    (F.col("c12") / F.col("n_bigrams"))
                    / ((F.col("c1_l") / F.col("n_tokens")) * (F.col("c1_r") / F.col("n_tokens")))
                ),
                6,
            ).alias("pmi"),
        )
    )
    return global_top_n(scored, [F.desc("pmi"), F.asc("pair")], PMI_TOP_N)


BPE_TOP_N = 30


@register(
    "bpe_merge_pairs",
    oracle=_SQL_TERMS
    + f"""
    , wf AS (SELECT term, count(*) AS w FROM terms GROUP BY term),
    pairs AS (
        SELECT unnest(list_transform(range(1, len(term)),
                                     i -> substr(term, i, 2))) AS sym_pair,
               w
        FROM wf WHERE len(term) >= 2
    ),
    pc AS (
        SELECT sym_pair, CAST(sum(w) AS BIGINT) AS pair_count
        FROM pairs GROUP BY sym_pair
    )
    SELECT sym_pair, pair_count, rnk
    FROM (SELECT sym_pair, pair_count,
                 row_number() OVER (ORDER BY pair_count DESC, sym_pair) AS rnk
          FROM pc)
    WHERE rnk <= {BPE_TOP_N}
    """,
    doc="[ext] one BPE training iteration: adjacent character-pair counts "
    "weighted by word frequency, ranked — the merge-candidate statistic a "
    "byte-pair-encoding tokenizer trainer computes over the corpus each "
    "round (Sennrich et al. 2016).",
)
def bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus collapses to the word-frequency relation (one
    vocabulary-keyed hash agg) BEFORE any character work — char pairs
    explode off |vocab| rows, not |corpus| tokens, so each extra BPE
    iteration is vocabulary-priced. Weighted pair counts are one more
    hash agg; the top-N is TakeOrderedAndProject (per-task 30-row heaps),
    with the rank window on the 30 survivors — the pair-count relation is
    bounded (|charset|^2) but the same shape stays safe for multi-char
    symbol alphabets where it is not."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(words("text")).alias("term"))
    wf = terms.groupBy("term").agg(F.count("*").alias("w"))
    pairs = (
        wf.filter(F.length("term") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, length(term)-1), i -> substring(term, i, 2))")
            ).alias("sym_pair"),
            "w",
        )
    )
    pc = pairs.groupBy("sym_pair").agg(F.sum("w").alias("pair_count"))
    return global_top_n(pc, [F.desc("pair_count"), F.asc("sym_pair")], BPE_TOP_N)


VOCAB_SIZE = 500


@register(
    "vocab_oov_rates",
    oracle=_SQL_TERMS
    + f"""
    , counts AS (SELECT term, count(*) AS cf FROM terms GROUP BY term),
    vocab AS (
        SELECT term
        FROM (SELECT term, row_number() OVER (ORDER BY cf DESC, term) AS rnk
              FROM counts)
        WHERE rnk <= {VOCAB_SIZE}
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           round(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS oov_rate
    FROM terms t LEFT JOIN vocab v USING (term)
    GROUP BY t.doc_id
    """,
    doc=f"[ext] vocabulary coverage: per-document out-of-vocabulary rate "
    f"against the corpus top-{VOCAB_SIZE} vocabulary — the tokenizer-"
    "coverage statistic that decides whether a vocab ships.",
)
def vocab_oov_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the vocabulary is TakeOrderedAndProject over the distinct-
    term count relation — which is UNBOUNDED on web corpora (typos, URLs,
    code), so a global rank window there would single-partition-funnel;
    per-task 500-row heaps never do. The vocab then BROADCASTs back onto
    the exploded corpus as a left join; the per-doc agg is the only
    corpus-sized shuffle."""
    terms = _doc_terms(spark, sf_dir)
    counts = terms.groupBy("term").agg(F.count("*").alias("cf"))
    vocab = global_top_n(
        counts, [F.desc("cf"), F.asc("term")], VOCAB_SIZE, rank_name=None
    ).select("term", F.lit(1).alias("in_vocab"))
    return (
        terms.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.round(
                F.sum(F.when(F.col("in_vocab").isNull(), 1.0).otherwise(0.0))
                / F.count("*"),
                6,
            ).alias("oov_rate"),
        )
    )


UNK_ID = -1


@register(
    "tokenize_corpus_to_ids",
    headline=True,
    oracle=_SQL_TERMS.replace(
        "terms AS (\n    SELECT doc_id, unnest(tokens) AS term FROM toks\n)",
        """terms AS (
    SELECT doc_id,
           unnest(tokens) AS term,
           unnest(range(1, len(tokens) + 1)) AS pos
    FROM toks
)""",
    )
    + f"""
    , counts AS (SELECT term, count(*) AS cf FROM terms GROUP BY term),
    vocab AS (
        SELECT term, CAST(rnk - 1 AS BIGINT) AS tid
        FROM (SELECT term, row_number() OVER (ORDER BY cf DESC, term) AS rnk
              FROM counts)
        WHERE rnk <= {VOCAB_SIZE}
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           string_agg(CAST(coalesce(v.tid, {UNK_ID}) AS VARCHAR), ','
                      ORDER BY t.pos) AS token_ids
    FROM terms t LEFT JOIN vocab v USING (term)
    GROUP BY t.doc_id
    """,
    doc=f"[ext] corpus tokenization to ids: every document encoded as its "
    f"token-id sequence under the corpus top-{VOCAB_SIZE} vocabulary "
    f"(OOV -> {UNK_ID}) — the final encode step that turns a curated "
    "corpus into model input; order-preserving under distribution.",
)
def tokenize_corpus_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the vocabulary (term -> id) is TakeOrderedAndProject over
    the distinct-term count relation (unbounded on web corpora — typos,
    URLs, code — so per-task 500-row heaps, never a global rank window
    over it). The <=VOCAB_SIZE survivors are a MODEL ARTIFACT, bounded
    by construction, so ids are assigned driver-side (same precedent as
    the PQ codebooks and stopword lists) and the vocab re-enters the
    plan as a broadcast literal relation — zero single-partition stages
    anywhere, window or otherwise. The vocab BROADCASTs onto the
    position-exploded corpus; the re-assembly groupBy shuffles
    (doc_id, pos, tid) triples once and restores order with array_sort
    over (pos, tid) structs."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        F.posexplode(words("text")).alias("pos", "term"),
    )
    counts = terms.groupBy("term").agg(F.count("*").alias("cf"))
    top = global_top_n(
        counts, [F.desc("cf"), F.asc("term")], VOCAB_SIZE, rank_name=None
    ).collect()  # <= VOCAB_SIZE rows: the trained vocabulary
    top.sort(key=lambda r: (-r["cf"], r["term"]))
    vocab = local_relation(
        spark, [(r["term"], i) for i, r in enumerate(top)], "term string, tid long"
    )
    return (
        terms.join(F.broadcast(vocab), "term", "left")
        .select("doc_id", "pos", F.coalesce("tid", F.lit(UNK_ID)).alias("tid"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                    lambda s: s.tid.cast("string"),
                ),
                ",",
            ).alias("token_ids"),
        )
    )


BOOL_QUERY_TERMS = ["spark", "data", "join"]
PHRASE = ("fast", "join")


@register(
    "boolean_and_retrieval",
    oracle=_SQL_TERMS
    + f"""
    SELECT doc_id,
           CAST(count(DISTINCT term) AS BIGINT) AS n_matched
    FROM terms
    WHERE term IN ({', '.join(chr(39) + t + chr(39) for t in BOOL_QUERY_TERMS)})
    GROUP BY doc_id
    HAVING count(DISTINCT term) = {len(BOOL_QUERY_TERMS)}
    """,
    doc=f"[ext] boolean AND retrieval: documents containing ALL of "
    f"{BOOL_QUERY_TERMS} — the conjunctive posting-list intersection, "
    "expressed as a filtered distinct-count (each posting list visited "
    "once, intersection via the HAVING gate).",
)
def boolean_and_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus-sized explode is pre-filtered to query terms
    (query-sized rows survive), then one hash agg keyed on doc_id —
    the same cost shape as a posting-list merge, without materializing
    an index. With the inverted index built (inverted_index_postings),
    the same query runs off the index instead of the corpus."""
    terms = _doc_terms(spark, sf_dir)
    qarr = F.array(*[F.lit(t) for t in BOOL_QUERY_TERMS])
    return (
        terms.filter(F.array_contains(qarr, F.col("term")))
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_matched"))
        .filter(F.col("n_matched") == len(BOOL_QUERY_TERMS))
    )


@register(
    "phrase_search_positions",
    oracle=_SQL_TERMS.replace(
        "terms AS (\n    SELECT doc_id, unnest(tokens) AS term FROM toks\n)",
        """terms AS (
    SELECT doc_id,
           unnest(tokens) AS term,
           unnest(range(1, len(tokens) + 1)) AS pos
    FROM toks
)""",
    )
    + f"""
    SELECT a.doc_id,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(a.pos) AS BIGINT) AS first_pos
    FROM terms a JOIN terms b
      ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
    GROUP BY a.doc_id
    """,
    doc=f"[ext] positional phrase search: documents containing the exact "
    f"phrase {PHRASE[0]!r} {PHRASE[1]!r} via position-adjacency join on "
    "the positional index — the operator behind quoted-phrase queries.",
)
def phrase_search_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both join sides are pre-filtered to ONE term each before
    the (doc_id, pos) equi-join, so the join is posting-list sized; the
    positional relation itself is the by-product of the same explode
    every index build pays. Spark-side positions are 1-based to match
    the oracle's range()."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.posexplode(words("text")).alias("pos0", "term")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "term")
    a = terms.filter(F.col("term") == PHRASE[0]).select("doc_id", "pos")
    b = terms.filter(F.col("term") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos")
    )
    return (
        a.join(b, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.min("pos").cast("long").alias("first_pos"),
        )
    )


LANG_TOP_TERMS = 5


@register(
    "lang_distinctive_terms",
    oracle=rf"""
        WITH toks AS (
            SELECT lang,
                   {words_sql()} AS tokens
            FROM documents
        ),
        tf AS (
            SELECT lang, unnest(tokens) AS term FROM toks
        ),
        counts AS (
            SELECT lang, term, count(*) AS tf FROM tf GROUP BY 1, 2
        ),
        df AS (
            SELECT term, count(DISTINCT lang) AS df FROM counts GROUP BY term
        ),
        nl AS (SELECT count(DISTINCT lang) AS n_langs FROM counts),
        scored AS (
            SELECT c.lang, c.term,
                   round({tfidf_weight_sql("c.tf", "d.df", "nl.n_langs")}, 6) AS score
            FROM counts c JOIN df d USING (term) CROSS JOIN nl
        )
        SELECT lang, term, score, rnk
        FROM (SELECT lang, term, score,
                     row_number() OVER (PARTITION BY lang
                                        ORDER BY score DESC, term) AS rnk
              FROM scored)
        WHERE rnk <= 5
    """,
    doc="[ext] keyness analysis: each language's most DISTINCTIVE terms "
    "— TF-IDF with languages as the document unit, so corpus-wide common "
    "words score low and per-language markers surface — the corpus-"
    "exploration view a multilingual data mix is tuned with.",
)
def lang_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus collapses to the (lang, term) count relation in
    one agg; everything after (language df, scoring, per-lang top-k) is
    vocabulary-sized with a WindowGroupLimit finish."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(words("text")).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfr = counts.groupBy("term").agg(F.countDistinct("lang").alias("df"))
    nl = counts.agg(F.countDistinct("lang").alias("n_langs"))
    scored = (
        counts.join(F.broadcast(dfr), "term")
        .crossJoin(F.broadcast(nl))
        .select(
            "lang",
            "term",
            F.round(tfidf_weight("tf", "df", F.col("n_langs")), 6).alias("score"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("lang").orderBy(F.desc("score"), F.asc("term"))
    return scored.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= LANG_TOP_TERMS
    )


DRIFT_MIN_COUNT = 10
DRIFT_TOP_N = 30


@register(
    "vocab_drift_halves",
    oracle=_SQL_TERMS.replace(
        "terms AS (\n    SELECT doc_id, unnest(tokens) AS term FROM toks\n)",
        """terms AS (
    SELECT doc_id, CAST(doc_id % 2 AS BIGINT) AS half,
           unnest(tokens) AS term
    FROM toks
)""",
    )
    + f"""
    , counts AS (
        SELECT term,
               sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c_a,
               sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c_b
        FROM terms GROUP BY term
        HAVING count(*) >= {DRIFT_MIN_COUNT}
    ),
    tot AS (
        SELECT CAST(sum(c_a) AS DOUBLE) AS n_a, CAST(sum(c_b) AS DOUBLE) AS n_b
        FROM counts
    ),
    scored AS (
        SELECT c.term,
               CAST(c.c_a AS BIGINT) AS count_a,
               CAST(c.c_b AS BIGINT) AS count_b,
               round(log2(((c.c_a + 1) / (t.n_a + 1))
                          / ((c.c_b + 1) / (t.n_b + 1))), 6) AS drift
        FROM counts c CROSS JOIN tot t
    )
    SELECT term, count_a, count_b, drift, rnk
    FROM (SELECT term, count_a, count_b, drift,
                 row_number() OVER (ORDER BY abs(drift) DESC, term) AS rnk
          FROM scored)
    WHERE rnk <= {DRIFT_TOP_N}
    """,
    doc=f"[ext] vocabulary drift between two corpus halves: add-one-"
    "smoothed log2 relative-frequency ratio per term (count >= "
    f"{DRIFT_MIN_COUNT}), top-{DRIFT_TOP_N} by |drift| — the "
    "distribution-shift screen run between corpus versions before "
    "retraining on the new mix.",
)
def vocab_drift_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus collapses to per-term split counts in one agg
    (the halves are a column, not two scans); totals broadcast back, and
    the top-N is TakeOrderedAndProject over the (unbounded at web scale)
    term relation, with the rank window on the survivors. Real version
    drift swaps the doc_id%2 split for the two corpus snapshots' term
    counts — same plan, two inputs."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(words("text")).alias("term"),
    )
    counts = (
        terms.groupBy("term")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c_a"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c_b"),
        )
        .filter((F.col("c_a") + F.col("c_b")) >= DRIFT_MIN_COUNT)
    )
    tot = counts.agg(
        F.sum("c_a").cast("double").alias("n_a"),
        F.sum("c_b").cast("double").alias("n_b"),
    )
    scored = counts.crossJoin(F.broadcast(tot)).select(
        "term",
        F.col("c_a").alias("count_a"),
        F.col("c_b").alias("count_b"),
        F.round(
            F.log2(
                ((F.col("c_a") + 1) / (F.col("n_a") + 1))
                / ((F.col("c_b") + 1) / (F.col("n_b") + 1))
            ),
            6,
        ).alias("drift"),
    )
    return global_top_n(
        scored, [F.desc(F.abs("drift")), F.asc("term")], DRIFT_TOP_N
    )


# trigram stupid-backoff held-out scoring as a DuckDB CTE prefix ending in
# the per-(doc, trigram) `scored` relation — shared by the per-doc score
# query and the CCNet-style perplexity-tercile rollup below.
_SQL_TRIGRAM_SCORED = rf"""
        WITH toks AS (
            SELECT doc_id,
                   {words_sql()} AS tokens
            FROM documents
        ),
        tri AS (
            SELECT doc_id,
                   unnest(list_transform(range(3, len(tokens) + 1),
                          i -> tokens[i - 2] || ' ' || tokens[i - 1] || ' ' || tokens[i])) AS tg
            FROM toks
        ),
        bg AS (
            SELECT doc_id,
                   unnest(list_transform(range(2, len(tokens) + 1),
                          i -> tokens[i - 1] || ' ' || tokens[i])) AS bg
            FROM toks
        ),
        uni AS (
            SELECT doc_id, unnest(tokens) AS w FROM toks
        ),
        c3 AS (SELECT tg, count(*) AS c FROM tri WHERE doc_id % 2 = 0 GROUP BY tg),
        c2 AS (SELECT bg, count(*) AS c FROM bg WHERE doc_id % 2 = 0 GROUP BY bg),
        c1 AS (SELECT w, count(*) AS c FROM uni WHERE doc_id % 2 = 0 GROUP BY w),
        n_tot AS (SELECT count(*) AS n FROM uni WHERE doc_id % 2 = 0),
        held AS (
            SELECT doc_id, tg,
                   split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS bg12,
                   split_part(tg, ' ', 2) || ' ' || split_part(tg, ' ', 3) AS bg23,
                   split_part(tg, ' ', 2) AS w2,
                   split_part(tg, ' ', 3) AS w3
            FROM tri WHERE doc_id % 2 = 1
        ),
        scored AS (
            SELECT h.doc_id,
                   CASE WHEN t3.c IS NOT NULL THEN 0 ELSE 1 END AS backed_off,
                   CASE
                       WHEN t3.c IS NOT NULL
                           THEN CAST(t3.c AS DOUBLE) / b12.c
                       WHEN b23.c IS NOT NULL
                           THEN 0.4 * CAST(b23.c AS DOUBLE) / u2.c
                       WHEN u3.c IS NOT NULL
                           THEN 0.16 * CAST(u3.c AS DOUBLE) / n_tot.n
                       ELSE 0.16 / (n_tot.n + 1)
                   END AS p
            FROM held h
            LEFT JOIN c3 t3 ON t3.tg = h.tg
            LEFT JOIN c2 b12 ON b12.bg = h.bg12
            LEFT JOIN c2 b23 ON b23.bg = h.bg23
            LEFT JOIN c1 u2 ON u2.w = h.w2
            LEFT JOIN c1 u3 ON u3.w = h.w3
            CROSS JOIN n_tot
        )
"""


@register(
    "trigram_backoff_scores",
    oracle=_SQL_TRIGRAM_SCORED
    + r"""
        SELECT doc_id,
               count(*) AS n_trigrams,
               round(avg(-log2(p)), 6) AS mean_neglog2,
               round(avg(CAST(backed_off AS DOUBLE)), 6) AS backoff_rate
        FROM scored
        GROUP BY doc_id
    """,
    doc="[ext] trigram stupid-backoff LM scoring (Brants et al. 2007): "
    "even-doc_id half trains the count tables, odd-doc_id half is scored "
    "p(w3|w1 w2) with 0.4-factor backoff through bigram/unigram/OOV "
    "floors — the cheap held-out perplexity proxy used to quality-gate "
    "pretraining corpora; mean -log2 p and the backoff rate per doc.",
)
def trigram_backoff_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE combined count relation covers all three orders — the
    train half explodes concat(trigrams, bigrams, tokens) once and one
    hash aggregate keys on the gram string (arity is recoverable from the
    space count, and tokens cannot contain spaces, so the key spaces are
    disjoint). The relation is vocabulary-scaled and materialized once, so its
    five join consumers and the N-total probe read the aggregate instead
    of re-tokenizing the corpus (2 corpus tokenize passes total: train
    counts + held trigrams — down from 4 in the per-order formulation;
    at sf0.1 the two are a wash, ~2.3 s each, because the fixture's
    tokenize is cheap — the pass count is what dominates at real corpus
    sizes). The scored half joins by n-gram
    key — broadcast when the tables fit, else hash-partitioned on the
    key; no window, no self-join. A trigram seen in train implies its
    prefix bigram and its w2 unigram are in train, so the cascade never
    divides by null.

    The combined count relation is ``localCheckpoint(eager=True)``-
    materialized, not ``persist``-ed: a persist here outlives the query
    (CacheManager holds it until an explicit unpersist, and a
    registry-wide sweep runs hundreds of queries per session — ADVICE
    r5), while a local checkpoint's blocks are reclaimed by the context
    cleaner once the DataFrame is garbage collected. Same compute-once
    behavior for the five join consumers and the N-total probe."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", words("text").alias("tokens")
    )

    train = F.col("doc_id") % 2 == 0
    # compiled-Scala n-grams (r13): the interpreted transform/slice HOF
    # was the per-task hot spot of both gram builds (see with_word_ngrams)
    counts = (
        with_word_ngrams(
            with_word_ngrams(toks.filter(train), "tokens", 3, "_g3"),
            "tokens",
            2,
            "_g2",
        )
        .select(F.explode(F.concat("_g3", "_g2", F.col("tokens"))).alias("g"))
        .groupBy("g")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    # slice the combined relation by arity (space count) so each join
    # broadcasts only its own third, not the whole table — key spaces are
    # disjoint either way, this is purely a broadcast-size trim
    arity = F.size(F.split("g", " "))
    c3 = counts.filter(arity == 3).select(F.col("g").alias("tg"), F.col("c").alias("c3"))
    c2 = counts.filter(arity == 2).select(F.col("g").alias("bg"), F.col("c").alias("c2"))
    c1 = counts.filter(arity == 1).select(F.col("g").alias("w"), F.col("c").alias("c1"))
    # unigram total: a vocab-sized scan of the persisted counts, not a
    # corpus pass (unigram keys are exactly the space-free grams);
    # `or 0` guards the empty-corpus case (sum over zero rows is NULL)
    n_tot = (
        counts.filter(~F.col("g").contains(" "))
        .agg(F.sum("c"))
        .collect()[0][0]
    ) or 0

    tri = with_word_ngrams(toks, "tokens", 3, "_g3").select(
        "doc_id", F.explode("_g3").alias("tg")
    )
    held = tri.filter(~train).select(
        "doc_id",
        "tg",
        F.concat_ws(
            " ", F.split_part(F.col("tg"), F.lit(" "), F.lit(1)),
            F.split_part(F.col("tg"), F.lit(" "), F.lit(2)),
        ).alias("bg12"),
        F.concat_ws(
            " ", F.split_part(F.col("tg"), F.lit(" "), F.lit(2)),
            F.split_part(F.col("tg"), F.lit(" "), F.lit(3)),
        ).alias("bg23"),
        F.split_part(F.col("tg"), F.lit(" "), F.lit(2)).alias("w2"),
        F.split_part(F.col("tg"), F.lit(" "), F.lit(3)).alias("w3"),
    )
    p = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3").cast("double") / F.col("c2_12"),
        )
        .when(
            F.col("c2_23").isNotNull(),
            0.4 * F.col("c2_23").cast("double") / F.col("c1_2"),
        )
        .when(
            F.col("c1_3").isNotNull(),
            0.16 * F.col("c1_3").cast("double") / F.lit(n_tot),
        )
        .otherwise(F.lit(0.16) / F.lit(n_tot + 1))
    )
    scored = (
        held.join(c3, "tg", "left")
        .join(c2.select(F.col("bg").alias("bg12"), F.col("c2").alias("c2_12")), "bg12", "left")
        .join(c2.select(F.col("bg").alias("bg23"), F.col("c2").alias("c2_23")), "bg23", "left")
        .join(c1.select(F.col("w").alias("w2"), F.col("c1").alias("c1_2")), "w2", "left")
        .join(c1.select(F.col("w").alias("w3"), F.col("c1").alias("c1_3")), "w3", "left")
        .select(
            "doc_id",
            F.col("c3").isNull().cast("double").alias("backed_off"),
            p.alias("p"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_trigrams"),
        F.round(F.avg(-F.log2("p")), 6).alias("mean_neglog2"),
        F.round(F.avg("backed_off"), 6).alias("backoff_rate"),
    )


@register(
    "perplexity_bucket_filter",
    oracle=_SQL_TRIGRAM_SCORED
    + r"""
        , docsc AS (
            SELECT doc_id, count(*) AS n_trigrams,
                   round(avg(-log2(p)), 6) AS mean_neglog2
            FROM scored GROUP BY doc_id
        ),
        tiled AS (
            SELECT doc_id, n_trigrams, mean_neglog2,
                   ntile(3) OVER (ORDER BY mean_neglog2, doc_id) AS b
            FROM docsc
        )
        SELECT CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                      ELSE 'tail' END AS bucket,
               count(*) AS n_docs,
               CAST(sum(n_trigrams) AS BIGINT) AS total_trigrams,
               round(min(mean_neglog2), 6) AS min_mean_neglog2,
               round(max(mean_neglog2), 6) AS max_mean_neglog2
        FROM tiled GROUP BY 1
    """,
    doc="[ext] CCNet-style perplexity gating (Wenzek et al. 2020): held-out "
    "docs ranked by trigram-LM mean -log2 p and cut into head/middle/tail "
    "terciles — the standard quality split that keeps the 'head' for "
    "pretraining; per-bucket doc and token budgets plus the score range "
    "each bucket spans.",
)
def perplexity_bucket_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the per-doc score relation reuses the trigram plan (one
    vocab-sized count relation, held-half joins). The tercile is NOT an
    ntile window over the corpus — bucketed_row_number gives the exact
    global rank with per-bucket windows only, and ntile_from_rank
    restates NTILE(3) arithmetically from (rank, N). Integer-exact
    bucket membership (no float-boundary wobble at the cuts), and the
    only unpartitioned window runs on the B-row bucket-subtotal
    relation."""
    scores = trigram_backoff_scores(spark, sf_dir).select(
        "doc_id", "n_trigrams", "mean_neglog2"
    )
    ranked = bucketed_row_number(
        scores, "mean_neglog2", ["doc_id"], rank_name="_rk", n_name="_n"
    )
    tiled = ranked.withColumn(
        "b", ntile_from_rank(F.col("_rk"), F.col("_n"), 3)
    )
    bucket = (
        F.when(F.col("b") == 1, F.lit("head"))
        .when(F.col("b") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        tiled.groupBy(bucket.alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_trigrams").alias("total_trigrams"),
            F.round(F.min("mean_neglog2"), 6).alias("min_mean_neglog2"),
            F.round(F.max("mean_neglog2"), 6).alias("max_mean_neglog2"),
        )
    )


FEATURE_HASH_DIM = 32


@register(
    "feature_hashed_tf",
    oracle=_SQL_TERMS
    + f"""
    SELECT doc_id,
           CAST('0x' || substr(md5(term), 1, 15) AS BIGINT) % {FEATURE_HASH_DIM}
               AS bucket,
           CAST(count(*) AS BIGINT) AS weight
    FROM terms
    GROUP BY 1, 2
    """,
    doc=f"[ext] the hashing trick (Weinberger et al. 2009): term counts "
    f"folded into a fixed {FEATURE_HASH_DIM}-dim space by a portable md5 "
    "bucket — the vocabulary-free featurizer whose output width is "
    "constant no matter how many distinct terms 100 TB of text contains; "
    "long-format (doc_id, bucket, weight) sparse vectors.",
)
def feature_hashed_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one partial+final hash agg on (doc_id, bucket) — no
    vocabulary relation AT ALL, which is the whole point: no vocab
    build, no broadcast, no OOV, stable feature ids across corpus
    versions. Collisions are the documented trade (d=32 here; real
    deployments use 2^18+)."""
    from ..functions.hashing import md5_long

    terms = _doc_terms(spark, sf_dir)
    return (
        terms.groupBy(
            "doc_id", (md5_long("term") % FEATURE_HASH_DIM).alias("bucket")
        )
        .agg(F.count("*").alias("weight"))
    )


DSIR_TARGET_LANG = "en"  # the target domain whose distribution we select FOR


@register(
    "dsir_importance_weights",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id, lang,
                   {words_sql()} AS tokens
            FROM documents
        ),
        feat AS (
            SELECT doc_id, lang,
                   {md5_long_sql('t.term')} % {FEATURE_HASH_DIM} AS bucket
            FROM toks, unnest(tokens) AS t(term)
        ),
        per_doc AS (
            SELECT doc_id, lang, bucket, count(*) AS n
            FROM feat GROUP BY 1, 2, 3
        ),
        bt AS (
            SELECT bucket,
                   count(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS ct,
                   count(*) FILTER (lang <> '{DSIR_TARGET_LANG}') AS cr
            FROM feat GROUP BY 1
        ),
        tot AS (
            SELECT count(*) FILTER (lang = '{DSIR_TARGET_LANG}') AS t,
                   count(*) FILTER (lang <> '{DSIR_TARGET_LANG}') AS r
            FROM feat
        ),
        ratio AS (
            SELECT bucket,
                   ln((ct + 1.0) / (t + {FEATURE_HASH_DIM}.0))
                 - ln((cr + 1.0) / (r + {FEATURE_HASH_DIM}.0)) AS dlog
            FROM bt, tot
        ),
        scores AS (
            SELECT p.doc_id, round(sum(p.n * r.dlog), 4) AS dsir_llr
            FROM per_doc p JOIN ratio r USING (bucket)
            GROUP BY 1
        )
        SELECT d.doc_id, d.lang, coalesce(s.dsir_llr, 0.0) AS dsir_llr
        FROM documents d LEFT JOIN scores s ON s.doc_id = d.doc_id
    """,
    doc=f"[ext] DSIR-style importance weights (Xie et al. 2023, 'Data "
    f"Selection for Language Models via Importance Resampling'): hashed "
    f"unigram bag-of-words models of the target domain (lang = "
    f"'{DSIR_TARGET_LANG}') and the raw rest, add-1 smoothed over the "
    f"{FEATURE_HASH_DIM} hash buckets; each document scores the "
    "log-likelihood ratio sum(n_f * (ln p_target(f) - ln p_raw(f))) — "
    "resampling by these weights selects raw data that LOOKS like the "
    "target domain. Zero-token documents score 0.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus collapses to one (doc, bucket) partial+final hash
    agg; the feature models are {FEATURE_HASH_DIM}-row and 1-row
    aggregates that enter as broadcasts (no vocabulary relation at all —
    the hashing trick makes model width constant at 100 TB); the final
    score is one more per-doc agg. Nothing shuffles except by doc_id."""
    from ..functions.hashing import md5_long

    docs = load_table(spark, sf_dir, "documents")
    feat = docs.select(
        "doc_id",
        "lang",
        F.explode(words("text")).alias("term"),
    ).select(
        "doc_id", "lang", (md5_long("term") % FEATURE_HASH_DIM).alias("bucket")
    )
    is_t = F.col("lang") == DSIR_TARGET_LANG
    per_doc = feat.groupBy("doc_id", "bucket").agg(F.count("*").alias("n"))
    bt = feat.groupBy("bucket").agg(
        F.count_if(is_t).alias("ct"), F.count_if(~is_t).alias("cr")
    )
    tot = feat.agg(F.count_if(is_t).alias("t"), F.count_if(~is_t).alias("r"))
    dim = F.lit(float(FEATURE_HASH_DIM))
    ratio = bt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        (
            F.log((F.col("ct") + 1.0) / (F.col("t") + dim))
            - F.log((F.col("cr") + 1.0) / (F.col("r") + dim))
        ).alias("dlog"),
    )
    scores = (
        per_doc.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(F.round(F.sum(F.col("n") * F.col("dlog")), 4).alias("dsir_llr"))
    )
    return docs.select("doc_id", "lang").join(scores, "doc_id", "left").select(
        "doc_id", "lang", F.coalesce("dsir_llr", F.lit(0.0)).alias("dsir_llr")
    )


BPE_ROUNDS = 4


def _bpe_rounds_sql(k: int) -> str:
    """Unrolled K-round BPE train+apply CTE chain (same unrolling
    precedent as plans/graph.py's PageRank oracle). Symbol sequences are
    space-joined and space-padded; each round's merge applies as TWO
    plain string replaces — the first pass consumes the trailing
    boundary of each match and so skips immediately-adjacent
    occurrences, the second pass (whose input has the merged token's
    trailing space restored) catches exactly those."""
    parts = [r"""
    , wf AS (SELECT term, count(*) AS w FROM terms GROUP BY term),
    s0 AS (
        SELECT term, w,
               ' ' || array_to_string(list_transform(range(1, len(term) + 1),
                                      i -> substr(term, i, 1)), ' ') || ' ' AS s
        FROM wf
    )"""]
    for r in range(1, k + 1):
        prev = f"s{r - 1}"
        parts.append(f"""
    , p{r} AS (
        SELECT unnest(list_transform(range(1, len(string_split(trim(s), ' '))),
                      i -> string_split(trim(s), ' ')[i] || ' ' ||
                           string_split(trim(s), ' ')[i + 1])) AS pair,
               w
        FROM {prev} WHERE len(string_split(trim(s), ' ')) >= 2
    ),
    c{r} AS (SELECT pair, CAST(sum(w) AS BIGINT) AS cnt FROM p{r} GROUP BY pair),
    m{r} AS (SELECT pair, replace(pair, ' ', '') AS fused, cnt
             FROM c{r} ORDER BY cnt DESC, pair LIMIT 1),
    s{r} AS (
        SELECT t.term, t.w,
               replace(replace(t.s, ' ' || m.pair || ' ', ' ' || m.fused || ' '),
                       ' ' || m.pair || ' ', ' ' || m.fused || ' ') AS s
        FROM {prev} t CROSS JOIN m{r} m
    )""")
    selects = [
        f"""SELECT {r} AS round, m.pair AS merge_pair, m.cnt AS pair_count,
               (SELECT CAST(sum(w * len(string_split(trim(s), ' '))) AS BIGINT)
                FROM s{r}) AS n_symbols_after
        FROM m{r} m"""
        for r in range(1, k + 1)
    ]
    return "".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@register(
    "bpe_train_apply_unrolled",
    oracle=_SQL_TERMS + _bpe_rounds_sql(BPE_ROUNDS),
    doc=f"[ext] {BPE_ROUNDS}-round BPE train AND apply (Sennrich et al. "
    "2016): each round picks the frequency-weighted argmax symbol pair "
    "and REWRITES every word's symbol sequence (boundary-safe double "
    "replace), so later rounds merge multi-char symbols — the actual "
    "tokenizer-training loop, not just round one's statistic. Output per "
    "round: the chosen merge, its count, and the corpus symbol count "
    "after applying it (the compression curve a vocab-size decision "
    "reads).",
)
def bpe_train_apply_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus collapses to the word-frequency relation before
    any character work, so every round is vocabulary-priced: one pair agg
    (symbol-pair keyed), a 1-row argmax collected to the driver (bounded
    artifact, same posture as the k-means centroids / PQ codebooks), and
    a map-only double replace re-entering as literals. K rounds = K
    vocab-sized passes — never a corpus rescan."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(F.explode(words("text")).alias("term"))
    wf = terms.groupBy("term").agg(F.count("*").alias("w"))
    seq = wf.select(
        "term",
        "w",
        F.concat(
            F.lit(" "),
            F.array_join(
                F.expr("transform(sequence(1, length(term)), i -> substring(term, i, 1))"),
                " ",
            ),
            F.lit(" "),
        ).alias("s"),
    )
    out_rows = []
    for r in range(1, BPE_ROUNDS + 1):
        syms = F.split(F.trim(F.col("s")), " ")
        pairs = seq.filter(F.size(syms) >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(split(trim(s), ' ')) - 1), "
                    "i -> concat(split(trim(s), ' ')[i - 1], ' ', split(trim(s), ' ')[i]))"
                )
            ).alias("pair"),
            "w",
        )
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("w").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:  # empty corpus: no merges, empty output
            break
        pair, cnt = top[0]["pair"], top[0]["cnt"]
        fused = pair.replace(" ", "")
        patt, repl = F.lit(f" {pair} "), F.lit(f" {fused} ")
        seq = seq.select(
            "term",
            "w",
            F.replace(F.replace("s", patt, repl), patt, repl).alias("s"),
        )
        n_after = seq.agg(
            F.sum(F.col("w") * F.size(F.split(F.trim(F.col("s")), " ")))
        ).collect()[0][0]
        out_rows.append((r, pair, int(cnt), int(n_after)))
    return local_relation(
        spark,
        out_rows,
        "round int, merge_pair string, pair_count long, n_symbols_after long",
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters [r7]

CM_W = 256  # counters per hash row (ε = 2/w overestimate bound)
CM_D = 4  # independent hash rows (failure prob δ = (1/2)^d per query)
CM_MIN_COUNT = 40  # exact-count threshold defining the reported heavy set


def _cm_bucket_sql(j: int, expr: str) -> str:
    salted = f"'cm{j}:' || {expr}"
    return f"({md5_long_sql(salted)} % {CM_W})"


@register(
    "countmin_heavy_ngrams",
    oracle=_SQL_BIGRAMS
    + f"""
    , bg_counts AS (SELECT bg, CAST(count(*) AS BIGINT) AS c2 FROM bigs GROUP BY bg),
    buckets AS (
        SELECT bg, c2,
               {_cm_bucket_sql(0, 'bg')} AS b0,
               {_cm_bucket_sql(1, 'bg')} AS b1,
               {_cm_bucket_sql(2, 'bg')} AS b2,
               {_cm_bucket_sql(3, 'bg')} AS b3
        FROM bg_counts
    ),
    c0 AS (SELECT b0 AS bucket, CAST(sum(c2) AS BIGINT) AS t FROM buckets GROUP BY b0),
    c1 AS (SELECT b1 AS bucket, CAST(sum(c2) AS BIGINT) AS t FROM buckets GROUP BY b1),
    c2t AS (SELECT b2 AS bucket, CAST(sum(c2) AS BIGINT) AS t FROM buckets GROUP BY b2),
    c3 AS (SELECT b3 AS bucket, CAST(sum(c2) AS BIGINT) AS t FROM buckets GROUP BY b3)
    SELECT h.bg AS pair, h.c2 AS exact_n,
           least(c0.t, c1.t, c2t.t, c3.t) AS cm_est,
           least(c0.t, c1.t, c2t.t, c3.t) - h.c2 AS cm_overshoot
    FROM buckets h
    JOIN c0 ON h.b0 = c0.bucket
    JOIN c1 ON h.b1 = c1.bucket
    JOIN c2t ON h.b2 = c2t.bucket
    JOIN c3 ON h.b3 = c3.bucket
    WHERE h.c2 >= {CM_MIN_COUNT}
    """,
    doc="[ext] count-min sketch heavy hitters: bigram frequencies folded "
    f"into a {CM_D}x{CM_W} counter grid via the portable md5 hash family, "
    "point-estimated as the min over rows — the fixed-memory frequency "
    "sketch for streaming heavy-hitter detection. UNLIKE the HLL bound "
    "audit, the whole sketch is deterministic on both engines, so the "
    "counter grid AND every estimate hash-match DuckDB exactly "
    "(cm_overshoot >= 0 is the CM overestimate guarantee made visible).",
)
def countmin_heavy_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the counter grid is CM_D x CM_W rows — constant size at any
    corpus — built from the bigram-count relation with one hash agg per
    row (a production stream folds increments instead; associativity is
    what makes the sketch mergeable). Estimates join the heavy candidates
    against the BROADCAST grid; the only corpus-sized work is the bigram
    count itself."""
    from ..functions.hashing import md5_long

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(words("text").alias("tokens"))
    # element-index bigram build kept (r13): see bigram_surprisal_scores —
    # the NGram convert measured SLOWER for this O(1)-per-element shape
    bigs = toks.select(
        F.explode(
            F.when(
                F.size("tokens") >= 2,
                F.expr(
                    "transform(sequence(1, size(tokens)-1), "
                    "i -> concat(tokens[i-1], ' ', tokens[i]))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg")
    )
    bg_counts = bigs.groupBy("bg").agg(F.count("*").cast("long").alias("c2"))
    buckets = bg_counts.select(
        "bg",
        "c2",
        *[
            (md5_long(F.concat(F.lit(f"cm{j}:"), F.col("bg"))) % CM_W).alias(f"b{j}")
            for j in range(CM_D)
        ],
    )
    est = buckets.filter(F.col("c2") >= CM_MIN_COUNT)
    for j in range(CM_D):
        cj = (
            buckets.groupBy(F.col(f"b{j}").alias("bucket"))
            .agg(F.sum("c2").cast("long").alias(f"_t{j}"))
        )
        est = est.join(
            F.broadcast(cj), est[f"b{j}"] == cj["bucket"]
        ).drop("bucket")
    cm = F.least(*[F.col(f"_t{j}") for j in range(CM_D)])
    return est.select(
        F.col("bg").alias("pair"),
        F.col("c2").alias("exact_n"),
        cm.alias("cm_est"),
        (cm - F.col("c2")).alias("cm_overshoot"),
    )
