"""Registered dedup queries over ``documents`` (north-star [ext]).

Every sketch here is built from the cross-engine md5 hash family
(functions/hashing.py), so even MinHash-LSH and SimHash are DuckDB-oracle-
checkable — the oracle SQL reconstructs the identical signatures.

Sampling: pairwise stages run on a 1-in-SAMPLE_MOD doc sample so oracle
outputs stay bounded at sf0.01; the operators themselves are
sample-agnostic (LSH banding is the scale path, not the sample).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from ..functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    MERSENNE_P,
    MINHASH_PARAMS,
    ROLLING_FP_SQL,
    md5_long_sql,
    rolling_fingerprint,
)
from ..functions.text import SENTENCE_SPLIT_PATTERN, with_word_ngrams, words, words_sql
from ..operators.dedup import (
    NEAR_DUP_T,
    PPJOIN_T,
    SUBSTRING_CAP,
    SUBSTRING_COVERAGE_SQL,
    SUBSTRING_K,
    SUBSTRING_MIN_SPAN,
    SUBSTRING_REWRITE_SQL,
    canonical_fingerprint,
    canonical_fingerprint_sql,
    exact_dedup_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dup_pairs,
    ppjoin_pairs,
    simhash_banded_pairs,
    simhash_signatures,
    substring_coverage,
    substring_dedup_rewrite as substring_dedup_rewrite_op,
    substring_span_pairs,
    substring_span_pairs_delta,
    substring_spans_sql,
)
from ..sources.readers import load_table
from .registry import register

SAMPLE_MOD = 5  # pairwise queries: 1-in-5 docs

# ---- shared SQL fragments -------------------------------------------------
_SQL_TOKS = rf"""
WITH toks AS (
    SELECT doc_id,
           {words_sql()} AS tokens
    FROM documents
)
"""

_SQL_SAMPLE_SHINGLES = (
    _SQL_TOKS
    + f""",
shingles AS (
    SELECT DISTINCT doc_id, t.term AS shingle
    FROM toks, unnest(tokens) AS t(term)
    WHERE doc_id % {SAMPLE_MOD} = 0
)
"""
)

_SQL_MH = ",\nsig AS (\n    SELECT doc_id,\n"
_SQL_MH += ",\n".join(
    f"           min(({a} * ({md5_long_sql('shingle')} % {MERSENNE_P}) + {b}) % {MERSENNE_P}) AS mh{i}"
    for i, (a, b) in enumerate(MINHASH_PARAMS)
)
_SQL_MH += "\n    FROM shingles GROUP BY doc_id\n)"

_SQL_BANDS = ",\nbanded AS (\n"
_SQL_BANDS += "\n    UNION ALL\n".join(
    "    SELECT doc_id, {b} AS band, "
    "CAST(mh{m0} AS VARCHAR) || ':' || CAST(mh{m1} AS VARCHAR) || ':' || CAST(mh{m2} AS VARCHAR) AS key FROM sig".format(
        b=b, m0=b * LSH_ROWS, m1=b * LSH_ROWS + 1, m2=b * LSH_ROWS + 2
    )
    for b in range(LSH_BANDS)
)
_SQL_BANDS += "\n)"

# LSH candidates over the sample: the oracle twin of lsh_candidate_pairs
_SQL_LSH_CAND = (
    _SQL_SAMPLE_SHINGLES
    + _SQL_MH
    + _SQL_BANDS
    + """
    , cand AS (
        SELECT DISTINCT a.doc_id AS id_l, b.doc_id AS id_r
        FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id < b.doc_id
    )"""
)

# The oracle twin of operators.dedup.near_dup_pairs: ends in the CTE
# ``verified (id_l, id_r, jaccard)``, exact all-pairs shingle Jaccard
# restricted to the LSH candidates, >= 0.5, unrounded.
_SQL_NEAR_DUP_PAIRS = (
    _SQL_LSH_CAND
    + """,
    sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS n_common
        FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    verified AS (
        SELECT i.id_l, i.id_r,
               CAST(i.n_common AS DOUBLE) / (sl.set_size + sr.set_size - i.n_common)
                   AS jaccard
        FROM inter i
        JOIN cand c ON c.id_l = i.id_l AND c.id_r = i.id_r
        JOIN sizes sl ON sl.doc_id = i.id_l
        JOIN sizes sr ON sr.doc_id = i.id_r
        WHERE CAST(i.n_common AS DOUBLE) / (sl.set_size + sr.set_size - i.n_common) >= 0.5
    )"""
)

# Connected components of the verified pairs as a transitive closure:
# ends in the CTE ``comp (id, component)``, component = min member id.
# The recursive CTE needs the RECURSIVE keyword on the WITH chain.
_SQL_NEAR_DUP_COMPONENTS = (
    _SQL_NEAR_DUP_PAIRS
    + """,
    edges AS (
        SELECT id_l AS a, id_r AS b FROM verified
        UNION SELECT id_r, id_l FROM verified
    ),
    reach AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
        SELECT a AS id, least(a, min(b)) AS component FROM reach GROUP BY a
    )"""
).replace("WITH toks", "WITH RECURSIVE toks", 1)


@register(
    "dedup_exact_groups",
    oracle="""
        SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
        FROM documents GROUP BY md5(text)
    """,
    doc="[ext] exact dedup: content-digest hash-groupBy with deterministic survivor.",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one partial+final hash agg on the digest — the cheapest dedup;
    at 100 TB pre-partition output by digest prefix for downstream anti-joins."""
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "dedup_canonical_tokenset",
    oracle=_SQL_TOKS
    + f"""
    SELECT {canonical_fingerprint_sql("tokens")} AS digest,
           min(doc_id) AS keep_id,
           count(*) AS n_members
    FROM toks GROUP BY 1
    """,
    doc="[ext] canonical dedup: order/multiplicity-insensitive token-set fingerprint "
    "(catches shuffled/reworded exact-vocabulary dups that byte-hashing misses).",
)
def dedup_canonical_tokenset(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = canonical_fingerprint(words("text"))
    return (
        docs.select(fp.alias("digest"), "doc_id")
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_members"))
    )


@register(
    "minhash_lsh_candidates",
    oracle=_SQL_LSH_CAND + "\n    SELECT id_l, id_r FROM cand\n",
    headline=True,
    doc="[ext] MinHash-LSH near-dup candidates: 12 universal-hash mins, 4 bands × 3 "
    "rows, bucket self-join — the O(n²)-free dedup scale path.",
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: candidates come only from shared (band, key) buckets; the band
    join shuffles signature rows (K ints/doc), never the corpus. Skewed
    buckets (boilerplate) are split by AQE skew-join."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % SAMPLE_MOD == 0)
    shingles = docs.select(
        "doc_id", F.explode(F.array_distinct(words("text"))).alias("shingle")
    )
    sigs = minhash_signatures(shingles, "doc_id")
    return lsh_candidate_pairs(sigs, "doc_id")


@register(
    "minhash_dedup_verified",
    oracle=_SQL_NEAR_DUP_PAIRS
    + """
    SELECT id_l, id_r, round(jaccard, 6) AS jaccard FROM verified
    """,
    doc="[ext] LSH-then-verify dedup: exact token-set Jaccard >= 0.5 on the LSH "
    "candidates only — the production near-dup pipeline shape.",
)
def minhash_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the verify stage is the candidate-driven jaccard_pairs —
    shingle rows fan out per candidate pair (cost ∝ Σ|set_l| over the LSH
    output, never the all-sharing-pairs blowup a narrow vocabulary makes
    of the unfiltered shingle self-join). Measured 3x faster at sf0.1
    than the array-intersect verify, which ships both full token arrays
    to every pair; the array form remains for callers that need
    zero-overlap candidates scored (minhash_estimate_accuracy)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % SAMPLE_MOD == 0)
    return near_dup_pairs(docs).select(
        "id_l", "id_r", F.round("jaccard", 6).alias("jaccard")
    )


@register(
    "cross_source_dup_matrix",
    oracle=_SQL_NEAR_DUP_PAIRS
    + """,
    srcpairs AS (
        SELECT least(dl.source, dr.source) AS source_a,
               greatest(dl.source, dr.source) AS source_b,
               v.jaccard
        FROM verified v
        JOIN documents dl ON dl.doc_id = v.id_l
        JOIN documents dr ON dr.doc_id = v.id_r
    )
    SELECT source_a, source_b, count(*) AS n_pairs,
           round(avg(jaccard), 6) AS avg_jaccard
    FROM srcpairs GROUP BY source_a, source_b
    """,
    doc="[ext] cross-source duplication matrix: verified near-dup pairs "
    "(LSH candidates -> exact Jaccard >= 0.5) rolled up by unordered "
    "source pair — the curation dashboard that shows WHICH crawl sources "
    "overlap (intra-source boilerplate sits on the diagonal, mirrored "
    "inter-source scrapes off it) and so which source a dedup pass will "
    "shrink.",
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: everything through the verify stage is the bounded near-dup
    pipeline (banded candidates, candidate-driven verify); the source
    attachment is two key-grained joins of the PAIR relation against the
    (doc_id, source) projection — pairs drive the cost, never corpus x
    corpus — and the final matrix is |sources|^2-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    verified = near_dup_pairs(docs.filter(F.col("doc_id") % SAMPLE_MOD == 0))
    src = docs.select("doc_id", "source")
    return (
        verified.join(
            src.withColumnsRenamed({"doc_id": "id_l", "source": "source_l"}), "id_l"
        )
        .join(
            src.withColumnsRenamed({"doc_id": "id_r", "source": "source_r"}), "id_r"
        )
        .select(
            F.least("source_l", "source_r").alias("source_a"),
            F.greatest("source_l", "source_r").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
    )


# Shared CTE tail for the leakage family: the near-dup pairs, the
# deterministic 80/10/10 split assignment (the SAME md5 rule as
# plans/sampling.py train_val_test_split) and the pairs straddling it.
_SQL_STRADDLING_PAIRS = _SQL_NEAR_DUP_PAIRS + f""",
    split AS (
        SELECT doc_id,
               CASE WHEN {md5_long_sql("CAST(doc_id AS VARCHAR)")} % 100 < 80
                    THEN 'train'
                    WHEN {md5_long_sql("CAST(doc_id AS VARCHAR)")} % 100 < 90
                    THEN 'val' ELSE 'test' END AS split
        FROM documents
    ),
    straddle AS (
        SELECT v.id_l, v.id_r, v.jaccard, sl.split AS split_l, sr.split AS split_r
        FROM verified v
        JOIN split sl ON sl.doc_id = v.id_l
        JOIN split sr ON sr.doc_id = v.id_r
        WHERE sl.split <> sr.split
    )
"""


def _doc_split(docs: DataFrame) -> DataFrame:
    """(doc_id, split) by the md5 rule of train_val_test_split: a narrow
    map over the corpus, no shuffle of its own."""
    from ..functions.hashing import md5_long
    from .sampling import TRAIN_PCT, VAL_PCT

    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    return docs.select(
        "doc_id",
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


def _straddling_pairs(docs: DataFrame, split: DataFrame) -> DataFrame:
    """Near-dup pairs of the sample whose ends sit in different splits:
    (id_l, id_r, jaccard, split_l, split_r). Two key-grained joins of the
    PAIR relation against ``split`` — pairs drive the cost, never corpus x
    corpus."""
    verified = near_dup_pairs(docs.filter(F.col("doc_id") % SAMPLE_MOD == 0))
    return (
        verified.join(
            split.withColumnsRenamed({"doc_id": "id_l", "split": "split_l"}), "id_l"
        )
        .join(
            split.withColumnsRenamed({"doc_id": "id_r", "split": "split_r"}), "id_r"
        )
        .filter(F.col("split_l") != F.col("split_r"))
    )


@register(
    "split_leakage_pairs",
    oracle=_SQL_STRADDLING_PAIRS
    + """
    SELECT id_l, id_r, round(jaccard, 6) AS jaccard, split_l, split_r
    FROM straddle
    """,
    doc="[ext] train/test LEAKAGE audit: verified near-duplicate pairs "
    "(banded LSH candidates -> exact Jaccard >= 0.5) that STRADDLE the "
    "deterministic 80/10/10 split — each such pair is an eval example "
    "whose near-copy sits in training data, the contamination class "
    "document-level decontamination misses when dedup runs BEFORE "
    "splitting (Lee et al. 2022 measure the resulting eval inflation). "
    "Uses the identical md5 split rule as train_val_test_split, so the "
    "audit is consistent with the split it audits.",
)
def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pair relation is the bounded near-dup pipeline (banded
    candidates, candidate-driven verify); the split attachment is two
    key-grained joins of the PAIR relation against the hash-derived
    (doc_id, split) projection."""
    docs = load_table(spark, sf_dir, "documents")
    return _straddling_pairs(docs, _doc_split(docs)).select(
        "id_l", "id_r", F.round("jaccard", 6).alias("jaccard"), "split_l", "split_r"
    )


@register(
    "train_corpus_leakage_purged",
    oracle=_SQL_STRADDLING_PAIRS
    + """
    , leak_train AS (
        SELECT DISTINCT CASE WHEN split_l = 'train' THEN id_l
                             ELSE id_r END AS doc_id
        FROM straddle
        WHERE split_l = 'train' OR split_r = 'train'
    )
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    JOIN split s ON s.doc_id = d.doc_id
    WHERE s.split = 'train'
      AND NOT EXISTS (SELECT 1 FROM leak_train l WHERE l.doc_id = d.doc_id)
    """,
    doc="[ext] the leakage REPAIR step: the training split with every "
    "document that near-duplicates a val/test document removed (purge "
    "the train side, keep eval frozen — the standard remediation, since "
    "mutating eval sets breaks comparability across runs). Composes the "
    "split_leakage_pairs audit into the actionable training corpus.",
)
def train_corpus_leakage_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the leak set is pair-relation-sized (far below corpus) and
    finishes as ONE broadcast anti-join against the split-filtered
    corpus scan — the same shape as the near-dup survivor queries."""
    docs = load_table(spark, sf_dir, "documents")
    split = _doc_split(docs)
    pairs = _straddling_pairs(docs, split).filter(
        (F.col("split_l") == "train") | (F.col("split_r") == "train")
    )
    leak_train = pairs.select(
        F.when(F.col("split_l") == "train", F.col("id_l"))
        .otherwise(F.col("id_r"))
        .alias("doc_id")
    ).distinct()
    train = docs.join(split.filter(F.col("split") == "train"), "doc_id").select(
        "doc_id", "lang", "source"
    )
    return train.join(leak_train, "doc_id", "left_anti")


@register(
    "ngram_jaccard_pairs",
    oracle=_SQL_TOKS
    + f""",
    pos AS (
        SELECT doc_id, unnest(tokens) AS term, generate_subscripts(tokens, 1) AS i
        FROM toks WHERE doc_id % {SAMPLE_MOD * 2} = 0
    ),
    grams AS (
        SELECT DISTINCT a.doc_id,
               a.term || ' ' || b.term || ' ' || c.term AS shingle
        FROM pos a
        JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        JOIN pos c ON c.doc_id = a.doc_id AND c.i = a.i + 2
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS n_common
        FROM grams a JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.id_l, i.id_r,
           round(CAST(i.n_common AS DOUBLE) / (sl.set_size + sr.set_size - i.n_common), 6)
               AS jaccard
    FROM inter i
    JOIN sizes sl ON sl.doc_id = i.id_l
    JOIN sizes sr ON sr.doc_id = i.id_r
    """,
    doc="[ext] exact word-trigram Jaccard pairs (sparse shingle join; pairs sharing "
    "no trigram never materialize).",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % (SAMPLE_MOD * 2) == 0
    )
    grams = with_word_ngrams(docs, words("text"), 3, "_g").select(
        "doc_id", F.explode("_g").alias("shingle")
    )
    pairs = jaccard_pairs(grams, "doc_id")
    return pairs.select("id_l", "id_r", F.round("jaccard", 6).alias("jaccard"))


PPJOIN_N = 5  # shingle width


@register(
    "weighted_jaccard_pairs",
    oracle=_SQL_TOKS
    + f""",
    unn AS (
        SELECT doc_id, unnest(tokens) AS term
        FROM toks WHERE doc_id % {SAMPLE_MOD * 2} = 0
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM unn GROUP BY 1, 2),
    tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total FROM tf GROUP BY doc_id),
    minsum AS (
        SELECT a.doc_id AS id_l, b.doc_id AS id_r,
               CAST(sum(least(a.tf, b.tf)) AS BIGINT) AS sum_min
        FROM tf a JOIN tf b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT m.id_l, m.id_r, m.sum_min,
           tl.total AS total_l, tr.total AS total_r,
           round(CAST(m.sum_min AS DOUBLE)
                 / (tl.total + tr.total - m.sum_min), 6) AS weighted_jaccard
    FROM minsum m
    JOIN tot tl ON tl.doc_id = m.id_l
    JOIN tot tr ON tr.doc_id = m.id_r
    """,
    doc="[ext] EXACT weighted Jaccard (Σ min(tf_l, tf_r) / Σ max) over "
    "term-frequency vectors — the boilerplate-robust weighted complement "
    "to set Jaccard: a doc that repeats a template 10x no longer looks "
    "identical to one that states it once. Σmax is recovered as "
    "T_l + T_r − Σmin, so everything is integer arithmetic until the "
    "final ratio (no float-boundary wobble).",
)
def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the same sparse-join shape as jaccard_pairs — only pairs
    sharing a term materialize, Σmin aggregates per pair map-side; doc
    totals join back by key (two vocab-scaled relations, never a dense
    vector). Production bounds candidates with LSH/PPJoin output exactly
    like the set form; the 1-in-{SAMPLE_MOD * 2} doc sample here bounds the
    oracle's brute-force side only."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % (SAMPLE_MOD * 2) == 0
    )
    tf = (
        docs.select("doc_id", F.explode(words("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    tot = tf.groupBy("doc_id").agg(F.sum("tf").alias("total"))
    lhs = tf.select(F.col("doc_id").alias("id_l"), "term", F.col("tf").alias("tf_l"))
    rhs = tf.select(F.col("doc_id").alias("id_r"), "term", F.col("tf").alias("tf_r"))
    minsum = (
        lhs.join(rhs, "term")
        .filter(F.col("id_l") < F.col("id_r"))
        .groupBy("id_l", "id_r")
        .agg(F.sum(F.least("tf_l", "tf_r")).alias("sum_min"))
    )
    return (
        minsum.join(
            tot.select(F.col("doc_id").alias("id_l"), F.col("total").alias("total_l")),
            "id_l",
        )
        .join(
            tot.select(F.col("doc_id").alias("id_r"), F.col("total").alias("total_r")),
            "id_r",
        )
        .select(
            "id_l",
            "id_r",
            "sum_min",
            "total_l",
            "total_r",
            F.round(
                F.col("sum_min")
                / (F.col("total_l") + F.col("total_r") - F.col("sum_min")),
                6,
            ).alias("weighted_jaccard"),
        )
    )


# Brute-force qualified-pair CTE prefix (ends in `qual`) — shared by the
# ppjoin parity oracle and the contrastive-pair-mining oracle in curation.
SQL_PPJOIN_QUALIFIED = (
    _SQL_TOKS
    + f""",
    sets AS (
        SELECT doc_id,
               list_distinct(list_transform(range({PPJOIN_N}, len(tokens) + 1),
                      i -> list_aggregate(tokens[i-{PPJOIN_N - 1}:i],
                                          'string_agg', ' '))) AS gs
        FROM toks
    ),
    ne AS (SELECT doc_id, gs, len(gs) AS sz FROM sets WHERE len(gs) > 0),
    allp AS (
        SELECT a.doc_id AS id_l, b.doc_id AS id_r,
               len(list_intersect(a.gs, b.gs)) AS n_common,
               a.sz AS size_l, b.sz AS size_r
        FROM ne a JOIN ne b ON a.doc_id < b.doc_id
    ),
    qual AS (
        SELECT id_l, id_r, n_common, size_l, size_r
        FROM allp
        WHERE {PPJOIN_T[1]} * n_common
              >= {PPJOIN_T[0]} * (size_l + size_r - n_common)
    )
"""
)


@register(
    "ppjoin_exact_pairs",
    oracle=SQL_PPJOIN_QUALIFIED
    + """
    SELECT id_l, id_r, n_common, size_l, size_r,
           round(CAST(n_common AS DOUBLE) / (size_l + size_r - n_common), 6)
               AS jaccard
    FROM qual
    """,
    doc="[ext] EXACT set-similarity self-join at Jaccard >= 1/2 over "
    "word-5-gram shingle sets via prefix filtering (AllPairs/PPJoin, "
    "Bayardo et al. WWW'07 / Xiao et al. WWW'08) — the zero-false-"
    "negative complement to MinHash-LSH: rarest-first global token "
    "order, |x|-ceil(t|x|)+1 prefixes joined instead of whole sets, "
    "integer-exact threshold arithmetic, candidate-driven verify. The "
    "oracle brute-forces every pair; the Spark plan touches only "
    "prefix-sharing, length-compatible candidates.",
)
def ppjoin_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: see operators/dedup.py ppjoin_pairs — prefix join is the
    candidate bound (df=1 shingles dominate prefixes, so buckets are
    tiny); verify cost ∝ Σ|set| over candidates, never all pairs. The
    oracle's O(n²) cross join exists only DuckDB-side as ground truth.

    The gram relation is localCheckpoint-materialized because
    ppjoin_pairs consumes it FIVE times (df counts, prefix ranking, both
    verify joins, set sizes) — unmaterialized, Spark recomputed the
    tokenize + 5-gram + explode subtree per consumer, which was ~5x the
    query's whole cost (10.7 s -> ~3 s at sf0.1). Blocks self-release
    with the plan (the CacheManager sweep lesson, ADVICE r5)."""
    docs = load_table(spark, sf_dir, "documents")
    # compiled-Scala n-grams (r13): the interpreted transform/slice HOF was
    # 3.8 s of this relation's 4.3 s at sf0.1 — see with_word_ngrams
    grams = (
        with_word_ngrams(docs, words("text"), PPJOIN_N, "_g")
        .select("doc_id", F.explode(F.array_distinct("_g")).alias("shingle"))
        .localCheckpoint(eager=True)
    )
    pairs = ppjoin_pairs(grams, "doc_id")
    return pairs.select(
        "id_l",
        "id_r",
        "n_common",
        "size_l",
        "size_r",
        F.round(
            F.col("n_common")
            / (F.col("size_l") + F.col("size_r") - F.col("n_common")),
            6,
        ).alias("jaccard"),
    )


# The exact-substring family's oracles render the operators' DuckDB twin
# at the operators' constants (operators/dedup.py).
_SQL_SUBSTRING_SPANS = _SQL_TOKS + substring_spans_sql()

# incremental_substring_delta's delta batch, on both engines: one in ten
# docs stands in for today's crawl.
_SUBSTRING_DELTA = "doc_id % 10 = 7"


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", words("text").alias("tokens")
    )


@register(
    "exact_substring_spans",
    oracle=_SQL_SUBSTRING_SPANS + "SELECT * FROM spans",
    doc="[ext] EXACT-SUBSTRING dedup (the Lee et al. 2022 'deduplicating "
    "training data' substring mode, re-expressed hash-gram-first): every "
    f"duplicated run of >= SUBSTRING_MIN_SPAN ({SUBSTRING_MIN_SPAN}) "
    "consecutive tokens shared by a doc pair is reported as a maximal span "
    "(start offset in both docs + token length). SUBSTRING_K-token grams "
    f"({SUBSTRING_K}) join across docs, grams occurring more than "
    f"SUBSTRING_CAP ({SUBSTRING_CAP}) times are dropped; runs of "
    "consecutive matching grams on the same diagonal (pos_l - pos_r) merge "
    "via gaps-and-islands; a matched run of g grams is a span of "
    "g + SUBSTRING_K - 1 tokens.",
)
def exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE wide shuffle on the gram key does all pair generation;
    every later stage is priced by matched-pair volume, never corpus size
    (``operators.dedup.substring_span_pairs``)."""
    return substring_span_pairs(_doc_tokens(spark, sf_dir))


@register(
    "substring_dup_coverage",
    oracle=_SQL_SUBSTRING_SPANS + SUBSTRING_COVERAGE_SQL + "SELECT * FROM coverage",
    doc="[ext] per-document duplicated-token coverage (the Lee et al. 2022 "
    "headline statistic): union the exact-substring spans "
    "(exact_substring_spans) each doc participates in (either side), merge "
    "overlapping intervals gaps-and-islands, and report covered tokens / "
    "total tokens. The removal policy downstream (drop one copy of each "
    "span) keys off exactly this relation.",
)
def substring_dup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: span volume, never corpus size, prices every stage past the
    gram shuffle (``operators.dedup.substring_coverage``). Docs with no
    duplicated span surface with coverage 0, so the output is a full
    corpus audit, not a hit list."""
    toks = _doc_tokens(spark, sf_dir)
    return substring_coverage(toks, substring_span_pairs(toks))


@register(
    "substring_dedup_rewrite",
    oracle=_SQL_SUBSTRING_SPANS + SUBSTRING_REWRITE_SQL + "SELECT * FROM rewrite",
    doc="[ext] the REMOVAL half of exact-substring dedup (Lee et al. "
    "2022): every token position covered by a duplicated span "
    "(exact_substring_spans) on the doc's id_r side is dropped (the higher "
    "id loses; the id_l copy survives as the first occurrence) and the "
    "remaining tokens reassemble in order — detect "
    "(exact_substring_spans), audit (substring_dup_coverage), rewrite "
    "(this) is the full pipeline.",
)
def substring_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: removal intervals are span-volume-sized and the corpus is
    never exploded per position (``operators.dedup.substring_dedup_rewrite``)."""
    toks = _doc_tokens(spark, sf_dir)
    return substring_dedup_rewrite_op(toks, substring_span_pairs(toks))


@register(
    "token_budget_after_dedup",
    oracle=_SQL_SUBSTRING_SPANS
    + SUBSTRING_REWRITE_SQL
    + """
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(k.n_tokens) AS BIGINT) AS tokens_before,
           CAST(sum(k.kept_tokens) AS BIGINT) AS tokens_after,
           round(CAST(sum(k.kept_tokens) AS DOUBLE) / sum(k.n_tokens), 6)
               AS pct_kept
    FROM rewrite k JOIN documents d USING (doc_id)
    GROUP BY d.source
    """,
    doc="[ext] dedup ROI per source: token budget before vs after the "
    "exact-substring rewrite, rolled up by source — the number a data-mix "
    "plan actually consumes (a source that keeps 60% of its tokens "
    "contributes 60% of its nominal budget to training).",
)
def token_budget_after_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: rides the rewrite operator (span-volume-priced) and adds one
    |sources|-sized aggregate; the source attachment is a key-grained
    join of per-doc counts, and pct math happens after the rollup."""
    toks = _doc_tokens(spark, sf_dir)
    kept = substring_dedup_rewrite_op(toks, substring_span_pairs(toks)).select(
        "doc_id", "n_tokens", "kept_tokens"
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        kept.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens_before"),
            F.sum("kept_tokens").alias("tokens_after"),
            F.round(
                F.sum("kept_tokens") / F.sum("n_tokens").cast("double"), 6
            ).alias("pct_kept"),
        )
    )


@register(
    "incremental_substring_delta",
    oracle=_SQL_TOKS
    + substring_spans_sql(delta=_SUBSTRING_DELTA)
    + "SELECT * FROM delta_spans",
    doc="[ext] incremental exact-substring dedup: a delta batch "
    f"({_SUBSTRING_DELTA} stands in for today's crawl) probes the BASE "
    "corpus's positioned-gram index for shared exact-substring spans "
    "(the exact_substring_spans contract, with the occurrence cap on base "
    "grams only) — base x delta cost only, the daily-ingest twin of "
    "exact_substring_spans (and the substring analog of "
    "incremental_near_dup_delta's LSH band probe).",
)
def incremental_substring_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the base gram relation is materialized once (production:
    bucketed by gram) and probed with an equi-join by each batch; the
    occurrence cap bounds any boilerplate gram's posting list before the
    probe fans out. Island merge and span agg are priced by matched-pair
    volume of the DELTA only."""
    toks = _doc_tokens(spark, sf_dir)
    delta = F.expr(_SUBSTRING_DELTA)
    return substring_span_pairs_delta(toks.filter(~delta), toks.filter(delta))


_SQL_SIMHASH = (
    _SQL_TOKS
    + f""",
tf AS (
    SELECT doc_id, shingle AS term, CAST(count(*) AS DOUBLE) AS w
    FROM (SELECT doc_id, t.term AS shingle
          FROM toks, unnest(tokens) AS t(term)
          WHERE doc_id % {SAMPLE_MOD} = 0)
    GROUP BY doc_id, shingle
),
bitrows AS (
    SELECT doc_id, b.bit,
           CASE WHEN ({md5_long_sql('term')} >> b.bit) & 1 = 1 THEN w ELSE -w END AS contrib
    FROM tf, (SELECT unnest(range(0, 32)) AS bit) b
),
sig AS (
    SELECT doc_id,
           sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS simhash
    FROM (SELECT doc_id, bit, sum(contrib) AS s FROM bitrows GROUP BY doc_id, bit)
    GROUP BY doc_id
)
"""
)


@register(
    "simhash_hamming_pairs",
    oracle=_SQL_SIMHASH
    + """
    SELECT a.doc_id AS id_l, b.doc_id AS id_r,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 12
    """,
    doc="[ext] SimHash near-dup: 32-bit weighted bit-majority signatures, pairs "
    "within hamming distance 12 via BANDED bucketing (pigeonhole over 13 "
    "bit-bands — no cross join; the oracle's self-join is the exactness check).",
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: candidate pairs come only from shared (band, bits) buckets;
    the O(n²) cross-join form survives only as the property-test oracle
    (operators.dedup.simhash_pairs)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % SAMPLE_MOD == 0)
    terms = docs.select(
        "doc_id", F.explode(words("text")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").cast("double").alias("weight"))
    sigs = simhash_signatures(tf, "doc_id")
    return simhash_banded_pairs(sigs, "doc_id", max_hamming=12)


@register(
    "doc_rolling_fingerprint",
    oracle="SELECT doc_id, "
    + ROLLING_FP_SQL.format(expr="text")
    + " AS fingerprint FROM documents",
    doc="[ext] per-doc rolling polynomial fingerprint (content-defined hashing "
    "primitive), folded JVM-side via aggregate() — no UDF.",
)
def doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", rolling_fingerprint("text").alias("fingerprint"))


@register(
    "near_dup_survivors",
    oracle=_SQL_NEAR_DUP_COMPONENTS
    + f""",
    losers AS (SELECT id FROM comp WHERE id <> component)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id % {SAMPLE_MOD} = 0
      AND d.doc_id NOT IN (SELECT id FROM losers)
    """,
    headline=True,
    doc="[ext] SURVEY §7 step 6 end to end: MinHash-LSH candidates -> exact-Jaccard "
    "verify -> connected components -> anti-join survivors. Oracle uses a WITH "
    "RECURSIVE transitive closure; the engine finishes components on the driver "
    "(edge finish at sf0.01, hook-round quotient finish at sf0.1).",
)
def near_dup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup dedup pipeline as one query: each stage is
    the already-oracle-checked operator. Components take the edge finish
    at sf0.01 (2,701 verified edges, under the 10,000-edge driver bound:
    one bounded collect and a driver union-find, so the anti-join reads a
    broadcast local relation) and the quotient finish at sf0.1 (the hook
    round contracts the edges to a 272-edge quotient, finished on the
    driver); neither iterates (operators/components.py)."""
    from ..operators.components import dedup_survivors

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % SAMPLE_MOD == 0)
    dup_pairs = near_dup_pairs(docs)
    # the CC iteration state is label-sized, not corpus-sized: 8
    # partitions cover it at any bench scale (production sizes this to
    # the candidate-pair node count; see operators/components.py)
    return dedup_survivors(
        docs, dup_pairs, "doc_id", iteration_shuffle_partitions=8
    ).select("doc_id", "lang", "source", "n_chars")


# Blocked edit-distance dedup: levenshtein is O(len_a·len_b) per pair, so it
# can NEVER run all-pairs; the block key (lang, n_chars//16) bounds candidates
# to near-equal-length same-language docs. Pairs straddling a length-bucket
# boundary are missed by design — the standard blocking trade-off, stated
# here and mirrored exactly in the oracle (MinHash-LSH is the recall-safe
# path; this is the precision verifier for edit-level twins).
FUZZY_BUCKET = 16
FUZZY_MAX_EDIT = 20


FUZZY_BLOCK_CAP = 16  # per-block probe cap — the r8 sweep's quadratic killer


@register(
    "fuzzy_levenshtein_pairs",
    oracle=f"""
        WITH d0 AS (
            SELECT doc_id, text, lang, n_chars // {FUZZY_BUCKET} AS bkt
            FROM documents
        ),
        d AS (
            SELECT doc_id, text, lang, bkt FROM (
                SELECT d0.*, row_number() OVER (
                    PARTITION BY lang, bkt
                    ORDER BY md5('fz:' || doc_id), doc_id) AS rn
                FROM d0
            ) WHERE rn <= {FUZZY_BLOCK_CAP}
        )
        SELECT a.doc_id AS id_l, b.doc_id AS id_r,
               CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        FROM d a JOIN d b
          ON a.lang = b.lang AND a.bkt = b.bkt AND a.doc_id < b.doc_id
        WHERE levenshtein(a.text, b.text) <= {FUZZY_MAX_EDIT}
    """,
    doc="[ext] fuzzy dedup: blocked Levenshtein pairs — same language, "
    f"same {FUZZY_BUCKET}-char length bucket, edit distance ≤ {FUZZY_MAX_EDIT}, "
    f"each block capped to its first {FUZZY_BLOCK_CAP} members in md5 order "
    "(the hot-block lever, same knob as the substring family's bucket cap). "
    "The edit-distance metric itself is identical on both engines.",
)
def fuzzy_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the (lang, length-bucket) equi-join keeps the quadratic
    levenshtein off the corpus; the per-block md5-ordered cap keeps it off
    the BLOCK — block population tracks corpus size (sf0.1 max block 81,
    2x replica 125), so uncapped within-block all-pairs is a quadratic in
    waiting: the r8 1x/2x sweep measured it at 104 s -> 404 s (x3.9) and
    the cap cut it to ~linear (see SCALE.md). Capped members are a
    deterministic per-block sample both engines compute identically; at
    the driver gate scale (max block 13 < cap) the capped and uncapped
    answers coincide. At 100 TB, project to (keys, md5) before the
    row_number exchange and rejoin text after — the _ivf_assign template —
    so block text never rides the rank shuffle."""
    d0 = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", (F.col("n_chars") / FUZZY_BUCKET).cast("long").alias("bkt")
    )
    w = W.partitionBy("lang", "bkt").orderBy(
        F.md5(F.concat(F.lit("fz:"), F.col("doc_id").cast("string"))), F.asc("doc_id")
    )
    d = (
        d0.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= FUZZY_BLOCK_CAP)
        .drop("rn")
    )
    lhs = d.select(
        F.col("doc_id").alias("id_l"), F.col("text").alias("text_l"), "lang", "bkt"
    )
    rhs = d.select(
        F.col("doc_id").alias("id_r"), F.col("text").alias("text_r"), "lang", "bkt"
    )
    return (
        lhs.join(rhs, ["lang", "bkt"])
        .filter(F.col("id_l") < F.col("id_r"))
        # THRESHOLDED levenshtein (r12): the unbounded form runs the full
        # O(len_l·len_r) DP on every pair only to discard nearly all of
        # them at the <= FUZZY_MAX_EDIT filter; passing the bound lets the
        # JVM's banded implementation stop at a diagonal band of width
        # ~2·threshold (and short-circuit on length difference alone),
        # returning -1 for every pair past the bound. Kept rows and their
        # edit_dist values are IDENTICAL (distance <= bound iff result in
        # [0, bound]); measured min-of-3 at sf0.1: 17.52 s -> 0.83 s (21x),
        # output row-identical. The DuckDB oracle keeps the unbounded
        # filter form — same relation, cross-checked by the parity suite.
        .withColumn(
            "edit_dist", F.levenshtein("text_l", "text_r", FUZZY_MAX_EDIT).cast("long")
        )
        # the <= conjunct is redundant (the 3-arg form only returns values
        # in [0, FUZZY_MAX_EDIT] or -1) but documents the contract
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= FUZZY_MAX_EDIT))
        .select("id_l", "id_r", "edit_dist")
    )


@register(
    "passage_dup_stats",
    oracle=rf"""
        WITH toks AS (
            SELECT doc_id,
                   {words_sql()} AS tokens
            FROM documents
        ),
        win AS (
            SELECT doc_id, md5(array_to_string(tokens[i:i+7], ' ')) AS w
            FROM (SELECT doc_id, tokens,
                         unnest(generate_series(1, len(tokens) - 7)) AS i
                  FROM toks WHERE len(tokens) >= 8)
        ),
        shared AS (
            SELECT w, count(DISTINCT doc_id) AS nd FROM win GROUP BY w
        )
        SELECT win.doc_id,
               count(*) AS n_windows,
               CAST(sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
               round(CAST(sum(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                     / count(*), 6) AS shared_frac
        FROM win JOIN shared s USING (w)
        GROUP BY win.doc_id
    """,
    doc="[ext] repeated-passage detection (Lee et al. 2022, exact substring "
    "dedup at token-window granularity): per doc, the fraction of its "
    "8-token windows that also occur in at least one OTHER document — the "
    "signal for cutting boilerplate passages out of a training corpus.",
)
def passage_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: windows explode map-side and are immediately md5-hashed to a
    fixed 32-char key (the raw 8-gram string never shuffles). One count per
    window hash, one join back, one per-doc agg — all keyed shuffles.
    Template passages make hot window keys: the countDistinct side is the
    salted-agg case, and the join back is AQE-skew-split. A 100 TB corpus
    would bucket the window table by ``w`` and keep it as the reusable
    passage index."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words("text").alias("tokens"))
    win = (
        with_word_ngrams(toks.filter(F.size("tokens") >= 8), "tokens", 8, "_g")
        .select("doc_id", F.explode("_g").alias("gram"))
        .select("doc_id", F.md5("gram").alias("w"))
    )
    shared = win.groupBy("w").agg(F.count_distinct("doc_id").alias("nd"))
    return (
        win.join(shared, "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).cast("long").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_shared",
            F.round(F.col("n_shared") / F.col("n_windows"), 6).alias("shared_frac"),
        )
    )


@register(
    "dedup_paragraphs_reassemble",
    oracle=rf"""
        WITH sent AS (
            SELECT doc_id,
                   trim(unnest(regexp_split_to_array(text, '{SENTENCE_SPLIT_PATTERN}'))) AS s,
                   unnest(range(1, len(regexp_split_to_array(text, '{SENTENCE_SPLIT_PATTERN}')) + 1))
                       AS pos
            FROM documents
        ),
        nonempty AS (
            SELECT doc_id, s, pos FROM sent WHERE s <> ''
        ),
        shared AS (
            SELECT lower(s) AS key, count(DISTINCT doc_id) AS nd
            FROM nonempty GROUP BY 1
        )
        SELECT n.doc_id,
               count(*) AS n_sentences,
               CAST(sum(CASE WHEN sh.nd = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               coalesce(string_agg(CASE WHEN sh.nd = 1 THEN n.s END, '. '
                                   ORDER BY n.pos), '') AS cleaned_text
        FROM nonempty n JOIN shared sh ON lower(n.s) = sh.key
        GROUP BY n.doc_id
    """,
    doc="[ext] CCNet/C4-style boilerplate removal: sentences appearing in "
    "MORE THAN ONE document are cut, and each document is reassembled "
    "from its surviving sentences in original order — sub-document dedup "
    "with order-preserving reconstruction, the step that strips shared "
    "headers/footers from a crawl.",
)
def dedup_paragraphs_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: sentences explode map-side with positions; the shared-count
    relation is keyed by sentence hash (vocabulary-of-sentences sized)
    and joins back BROADCAST for crawl-boilerplate distributions (a few
    hot shared sentences, most unique — if the unique tail is huge the
    join flips to shuffle on the sentence key, still never all-pairs).
    Reassembly is the same array_sort-over-(pos, s) shape as the corpus
    encode — no corpus-sized window."""
    docs = load_table(spark, sf_dir, "documents")
    sent = docs.select(
        "doc_id",
        F.posexplode(F.split("text", SENTENCE_SPLIT_PATTERN)).alias("pos", "s_raw"),
    ).select("doc_id", "pos", F.trim("s_raw").alias("s")).filter(F.col("s") != "")
    shared = sent.groupBy(F.lower("s").alias("key")).agg(
        F.countDistinct("doc_id").alias("nd")
    )
    joined = sent.withColumn("key", F.lower("s")).join(F.broadcast(shared), "key")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_sentences"),
        F.sum(F.when(F.col("nd") == 1, 1).otherwise(0)).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("nd") == 1, F.struct("pos", "s")).otherwise(
                                F.lit(None)
                            )
                        )
                    ),
                    lambda x: x.s,
                ),
                ". ",
            ),
            F.lit(""),
        ).alias("cleaned_text"),
    )


@register(
    "dedup_intradoc_repeats_rewrite",
    oracle=rf"""
        WITH sent AS (
            SELECT doc_id,
                   trim(unnest(regexp_split_to_array(text, '{SENTENCE_SPLIT_PATTERN}'))) AS s,
                   unnest(range(1, len(regexp_split_to_array(text, '{SENTENCE_SPLIT_PATTERN}')) + 1))
                       AS pos
            FROM documents
        ),
        nonempty AS (
            SELECT doc_id, s, pos FROM sent WHERE s <> ''
        ),
        firsts AS (
            SELECT doc_id, s, pos,
                   row_number() OVER (PARTITION BY doc_id, lower(s)
                                      ORDER BY pos) AS occ
            FROM nonempty
        )
        SELECT doc_id,
               count(*) AS n_sentences,
               CAST(sum(CASE WHEN occ = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               coalesce(string_agg(CASE WHEN occ = 1 THEN s END, '. '
                                   ORDER BY pos), '') AS cleaned_text
        FROM firsts
        GROUP BY doc_id
    """,
    doc="[ext] INTRA-document repetition removal (the Gopher/C4 rewrite "
    "step gopher_repetition_metrics only measures): within each document, "
    "every repeat of an already-seen sentence (case-folded) is cut and "
    "the document reassembled from first occurrences in original order — "
    "the generation-loop / boilerplate-stutter cleaner. The complement "
    "of dedup_paragraphs_reassemble (which cuts sentences shared ACROSS "
    "documents): this one never looks outside the row's own document.",
)
def dedup_intradoc_repeats_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: embarrassingly parallel by construction — both windows and
    the final agg are keyed by doc_id, so after the posexplode everything
    is one doc_id shuffle (the occurrence window and the reassembly agg
    ride the same partitioning); no cross-document relation ever forms.
    At 100 TB this is the ideal operator shape: map, one co-partitioned
    window+agg, map."""
    docs = load_table(spark, sf_dir, "documents")
    sent = (
        docs.select(
            "doc_id",
            F.posexplode(F.split("text", SENTENCE_SPLIT_PATTERN)).alias("pos", "s_raw"),
        )
        .select("doc_id", "pos", F.trim("s_raw").alias("s"))
        .filter(F.col("s") != "")
    )
    w_occ = W.partitionBy("doc_id", F.lower("s")).orderBy("pos")
    firsts = sent.withColumn("occ", F.row_number().over(w_occ))
    return firsts.groupBy("doc_id").agg(
        F.count("*").alias("n_sentences"),
        F.sum(F.when(F.col("occ") == 1, 1).otherwise(0)).alias("n_kept"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        # when() without otherwise yields NULL for occ>1
                        # rows, and collect_list skips NULLs — that skip
                        # IS the repeat filter
                        F.collect_list(
                            F.when(F.col("occ") == 1, F.struct("pos", "s"))
                        )
                    ),
                    lambda x: x.s,
                ),
                ". ",
            ),
            F.lit(""),
        ).alias("cleaned_text"),
    )


_N_PERMS = len(MINHASH_PARAMS)

_SQL_EST_ACC = (
    _SQL_LSH_CAND
    + """,
    est AS (
        SELECT c.id_l, c.id_r,
               ("""
    + " + ".join(
        f"CASE WHEN l.mh{i} = r.mh{i} THEN 1 ELSE 0 END" for i in range(_N_PERMS)
    )
    + f""") / CAST({_N_PERMS} AS DOUBLE) AS est_j
        FROM cand c
        JOIN sig l ON l.doc_id = c.id_l
        JOIN sig r ON r.doc_id = c.id_r
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_l, b.doc_id AS id_r, count(*) AS n_common
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT e.id_l, e.id_r,
           round(e.est_j, 6) AS est_jaccard,
           round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                 / (sl.set_size + sr.set_size - coalesce(i.n_common, 0)), 6)
               AS exact_jaccard,
           round(abs(e.est_j
                 - CAST(coalesce(i.n_common, 0) AS DOUBLE)
                   / (sl.set_size + sr.set_size - coalesce(i.n_common, 0))), 6)
               AS abs_err
    FROM est e
    LEFT JOIN inter i ON i.id_l = e.id_l AND i.id_r = e.id_r
    JOIN sizes sl ON sl.doc_id = e.id_l
    JOIN sizes sr ON sr.doc_id = e.id_r
    """
)


@register(
    "minhash_estimate_accuracy",
    oracle=_SQL_EST_ACC,
    doc=f"[ext] sketch self-evaluation: per candidate pair, the MinHash "
    f"Jaccard estimate (agreeing slots / {_N_PERMS}) against the exact "
    "shingle Jaccard with the absolute error — the in-engine measurement "
    "that tells you whether the signature width is adequate before "
    "trusting the sketch at scale.",
)
def minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: estimates come from the signature relation (K ints/doc —
    the thing that already exists for LSH); only CANDIDATE pairs pay the
    exact verify, so the evaluation costs one extra signature self-join
    beyond the dedup pipeline itself."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SAMPLE_MOD == 0
    )
    # The token sets feed the signatures and the verify's three shingle
    # reads (sizes, probe side, other side); unmaterialized, each one
    # re-scans and re-tokenizes the sample. sf0.1, local[4] on a 4-vCPU
    # VM, 6 fresh-process rounds: warm CPU-s per call, median, 9.29
    # plain vs 8.23 checkpointed (8.10 with the array_intersect verify
    # this replaced); first call 13.3 vs 12.8 s wall. The blocks
    # self-release with the plan, as in near_dup_pairs.
    toksets = docs.select(
        "doc_id", F.array_distinct(words("text")).alias("toks")
    ).localCheckpoint(eager=True)
    shingles = toksets.select("doc_id", F.explode("toks").alias("shingle"))
    sigs = minhash_signatures(shingles, "doc_id")
    cand = lsh_candidate_pairs(sigs, "doc_id")
    l = sigs.select(
        F.col("doc_id").alias("id_l"),
        *[F.col(f"mh{i}").alias(f"l{i}") for i in range(_N_PERMS)],
    )
    r = sigs.select(
        F.col("doc_id").alias("id_r"),
        *[F.col(f"mh{i}").alias(f"r{i}") for i in range(_N_PERMS)],
    )
    agree = sum(
        F.when(F.col(f"l{i}") == F.col(f"r{i}"), 1).otherwise(0)
        for i in range(_N_PERMS)
    )
    est = (
        cand.join(l, "id_l")
        .join(r, "id_r")
        .select("id_l", "id_r", (agree / float(_N_PERMS)).alias("est_j"))
    )
    # a candidate sharing no shingle is absent from the verify: exact 0.0,
    # the oracle's LEFT JOIN ... coalesce(n_common, 0)
    exact = jaccard_pairs(shingles, "doc_id", candidates=cand, assume_distinct=True)
    return est.join(exact, ["id_l", "id_r"], "left").withColumn(
        "exact_j", F.coalesce("jaccard", F.lit(0.0))
    ).select(
        "id_l",
        "id_r",
        F.round("est_j", 6).alias("est_jaccard"),
        F.round("exact_j", 6).alias("exact_jaccard"),
        F.round(F.abs(F.col("est_j") - F.col("exact_j")), 6).alias("abs_err"),
    )


TRIGRAM_COS_MIN = 0.6
TRIGRAM_BLOCK_CAP = 256  # per-block probe cap (r8 sweep: 8 blocks, block-quadratic)


@register(
    "part_name_trigram_pairs",
    oracle=f"""
        WITH p0 AS (
            SELECT p_partkey, p_name, substr(p_name, 1, 1) AS blk
            FROM part WHERE len(p_name) >= 3
        ),
        p AS (
            SELECT p_partkey, p_name, blk FROM (
                SELECT p0.*, row_number() OVER (
                    PARTITION BY blk
                    ORDER BY md5('tg:' || p_partkey), p_partkey) AS rn
                FROM p0
            ) WHERE rn <= {TRIGRAM_BLOCK_CAP}
        ),
        grams AS (
            SELECT p_partkey, blk,
                   unnest(list_transform(range(1, len(p_name) - 1),
                                         i -> substr(p_name, i, 3))) AS g
            FROM p
        ),
        profiles AS (
            SELECT p_partkey, blk, g, CAST(count(*) AS DOUBLE) AS c
            FROM grams GROUP BY 1, 2, 3
        ),
        norms AS (
            SELECT p_partkey, sqrt(sum(c * c)) AS nrm
            FROM profiles GROUP BY 1
        ),
        dots AS (
            SELECT a.p_partkey AS id_l, b.p_partkey AS id_r,
                   sum(a.c * b.c) AS dot
            FROM profiles a
            JOIN profiles b ON a.blk = b.blk AND a.g = b.g
                           AND a.p_partkey < b.p_partkey
            GROUP BY 1, 2
        )
        SELECT d.id_l, d.id_r,
               round(d.dot / (nl.nrm * nr.nrm), 6) AS trigram_cosine
        FROM dots d
        JOIN norms nl ON nl.p_partkey = d.id_l
        JOIN norms nr ON nr.p_partkey = d.id_r
        WHERE d.dot / (nl.nrm * nr.nrm) >= {TRIGRAM_COS_MIN}
    """,
    doc=f"[ext] fuzzy string matching beyond edit distance: character-"
    f"trigram profile cosine >= {TRIGRAM_COS_MIN} between part names, "
    "blocked on the first character with each block capped to its first "
    f"{TRIGRAM_BLOCK_CAP} members in md5 order — the order-insensitive "
    "name-similarity that catches word swaps Levenshtein prices at full "
    "cost.",
)
def part_name_trigram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the same sparse-join shape as the TF-IDF cosine — pairs
    sharing no (block, trigram) never materialize. But TPC-H part names
    draw from a tiny color vocabulary: only 8 first-letter blocks exist
    and EVERY same-block pair shares grams, so the \"sparse\" join is
    block-quadratic and block population tracks the corpus (2,500/block
    at sf0.1; the r8 1x/2x sweep OOMed the 4g sweep heap at 2x). The
    md5-ordered per-block cap bounds the pair stage for good — cosine for
    surviving pairs stays exact (norms come from each member's own full
    profile), the capped member set is the same deterministic sample on
    both engines, and at 100 TB the cap is the lever you size to the
    block histogram (same knob as the substring family's bucket cap)."""
    w = W.partitionBy("blk").orderBy(
        F.md5(F.concat(F.lit("tg:"), F.col("p_partkey").cast("string"))),
        F.asc("p_partkey"),
    )
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.length("p_name") >= 3)
        .withColumn("blk", F.substring("p_name", 1, 1))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TRIGRAM_BLOCK_CAP)
        .drop("rn")
    )
    grams = part.select(
        "p_partkey",
        "blk",
        F.explode(
            F.expr("transform(sequence(1, length(p_name)-2), i -> substring(p_name, i, 3))")
        ).alias("g"),
    )
    profiles = grams.groupBy("p_partkey", "blk", "g").agg(
        F.count("*").cast("double").alias("c")
    )
    norms = profiles.groupBy("p_partkey").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nrm")
    )
    a = profiles.select(
        F.col("p_partkey").alias("id_l"), "blk", "g", F.col("c").alias("c_l")
    )
    b = profiles.select(
        F.col("p_partkey").alias("id_r"), "blk", "g", F.col("c").alias("c_r")
    )
    dots = (
        a.join(b, ["blk", "g"])
        .filter(F.col("id_l") < F.col("id_r"))
        .groupBy("id_l", "id_r")
        .agg(F.sum(F.col("c_l") * F.col("c_r")).alias("dot"))
    )
    nl = norms.select(F.col("p_partkey").alias("id_l"), F.col("nrm").alias("n_l"))
    nr = norms.select(F.col("p_partkey").alias("id_r"), F.col("nrm").alias("n_r"))
    cos = F.col("dot") / (F.col("n_l") * F.col("n_r"))
    return (
        dots.join(F.broadcast(nl), "id_l")
        .join(F.broadcast(nr), "id_r")
        .filter(cos >= TRIGRAM_COS_MIN)
        .select("id_l", "id_r", F.round(cos, 6).alias("trigram_cosine"))
    )


@register(
    "entity_name_clusters",
    oracle=f"""
        WITH RECURSIVE p0 AS (
            SELECT p_partkey, p_name, substr(p_name, 1, 1) AS blk
            FROM part WHERE len(p_name) >= 3
        ),
        p AS (
            SELECT p_partkey, p_name, blk FROM (
                SELECT p0.*, row_number() OVER (
                    PARTITION BY blk
                    ORDER BY md5('tg:' || p_partkey), p_partkey) AS rn
                FROM p0
            ) WHERE rn <= {TRIGRAM_BLOCK_CAP}
        ),
        grams AS (
            SELECT p_partkey, blk,
                   unnest(list_transform(range(1, len(p_name) - 1),
                                         i -> substr(p_name, i, 3))) AS g
            FROM p
        ),
        profiles AS (
            SELECT p_partkey, blk, g, CAST(count(*) AS DOUBLE) AS c
            FROM grams GROUP BY 1, 2, 3
        ),
        norms AS (
            SELECT p_partkey, sqrt(sum(c * c)) AS nrm
            FROM profiles GROUP BY 1
        ),
        dots AS (
            SELECT a.p_partkey AS id_l, b.p_partkey AS id_r,
                   sum(a.c * b.c) AS dot
            FROM profiles a
            JOIN profiles b ON a.blk = b.blk AND a.g = b.g
                           AND a.p_partkey < b.p_partkey
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT d.id_l, d.id_r
            FROM dots d
            JOIN norms nl ON nl.p_partkey = d.id_l
            JOIN norms nr ON nr.p_partkey = d.id_r
            WHERE d.dot / (nl.nrm * nr.nrm) >= {TRIGRAM_COS_MIN}
        ),
        edges AS (
            SELECT id_l AS a, id_r AS b FROM pairs
            UNION SELECT id_r, id_l FROM pairs
        ),
        reach AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        ),
        comp AS (
            SELECT a AS id, least(a, min(b)) AS entity_id FROM reach GROUP BY a
        )
        SELECT comp.id AS p_partkey, comp.entity_id,
               CAST(cs.n AS BIGINT) AS cluster_size
        FROM comp
        JOIN (SELECT entity_id, count(*) AS n FROM comp GROUP BY 1) cs
          USING (entity_id)
    """,
    doc="[ext] entity resolution end to end: trigram-cosine name matching "
    f"(>= {TRIGRAM_COS_MIN}, first-letter blocking, per-block cap "
    f"{TRIGRAM_BLOCK_CAP} — shares part_name_trigram_pairs' capped pair "
    "stage) -> connected "
    "components -> stable entity ids (min member key) with cluster "
    "sizes — the record-linkage pipeline that collapses name variants "
    "into one entity. Oracle states the transitive closure as a "
    "recursive CTE; the engine's components finish at one distributed "
    "hook round (min-label propagation with pointer jumping when a "
    "graph needs more).",
)
def entity_name_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pair stage is the blocked sparse trigram join (pairs
    sharing no (block, trigram) never materialize); components finish at
    the hook round at sf0.01 and sf0.1 (33,737 and 36,637 edges, over the
    driver bound, but in every name cluster the min key neighbors all other
    members, so one min(self, neighbors) round leaves an empty quotient);
    longer-chained graphs fall through to the quotient finish or to
    O(log diameter) pointer-jumping rounds. Sizes are one
    |entities|-keyed agg joined back broadcast. Second consumer of
    operators/components.py after near-dup dedup — same operator,
    different edge relation."""
    from ..operators.components import connected_components

    pairs = part_name_trigram_pairs(spark, sf_dir).select("id_l", "id_r")
    comp = connected_components(pairs)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(F.broadcast(sizes), "component")
        .select(
            F.col("id").alias("p_partkey"),
            F.col("component").alias("entity_id"),
            "cluster_size",
        )
    )


@register(
    "near_dup_cluster_stats",
    oracle=_SQL_NEAR_DUP_COMPONENTS
    + """,
    mc AS (
        SELECT component, CAST(count(DISTINCT id) AS BIGINT) AS cluster_size
        FROM comp GROUP BY 1
    ),
    ps AS (
        SELECT c.component,
               CAST(count(DISTINCT p.id_l || ':' || p.id_r) AS BIGINT)
                   AS n_verified_pairs,
               round(avg(p.jaccard), 6) AS avg_jaccard,
               round(min(p.jaccard), 6) AS min_jaccard
        FROM verified p
        JOIN comp c ON c.id = p.id_l  -- id_l's component == pair's cluster
        GROUP BY 1
    )
    SELECT mc.component AS cluster_id, mc.cluster_size,
           ps.n_verified_pairs, ps.avg_jaccard, ps.min_jaccard
    FROM mc JOIN ps USING (component)
    """,
    doc="[ext] dedup observability: per near-dup cluster — member count, "
    "verified-pair count, mean and minimum intra-cluster Jaccard — the "
    "diagnostics a curation team reads before trusting a dedup run "
    "(a low min_jaccard flags chain-merged clusters whose ends are not "
    "actually similar; transitive closure via recursive CTE in the "
    "oracle; in the engine the same driver finishes of components as "
    "near_dup_survivors).",
)
def near_dup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: same stage postures as near_dup_survivors (LSH-bounded
    candidates, candidate-driven verify, components on the edge finish at
    sf0.01 and the quotient finish at sf0.1);
    the stats are one pair-relation aggregate keyed by the left
    endpoint's cluster label (every verified pair is intra-cluster by
    construction, so id_l's label IS the pair's cluster).

    The pair relation feeds both the components and the pair-stats join,
    so it is materialized once (the contrastive_pair_mining rule for a
    relation read twice): unmaterialized, the whole LSH -> verify chain
    ran twice (sf0.1: 29 jobs / 56 stages, against 26 / 51 with it)."""
    from ..operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SAMPLE_MOD == 0
    )
    dup = near_dup_pairs(docs).localCheckpoint(eager=True)
    comp = connected_components(dup.select("id_l", "id_r"))
    labels = comp.select(F.col("id").alias("id_l"), F.col("component"))
    member_counts = comp.groupBy("component").agg(
        F.countDistinct("id").alias("cluster_size")
    )
    pair_stats = (
        dup.join(labels, "id_l")
        .groupBy("component")
        .agg(
            F.countDistinct(
                F.concat_ws(":", F.col("id_l"), F.col("id_r"))
            ).alias("n_verified_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
            F.round(F.min("jaccard"), 6).alias("min_jaccard"),
        )
    )
    return (
        member_counts.join(pair_stats, "component")
        .select(
            F.col("component").alias("cluster_id"),
            "cluster_size",
            "n_verified_pairs",
            "avg_jaccard",
            "min_jaccard",
        )
    )


@register(
    "near_dup_best_quality_survivors",
    oracle=_SQL_NEAR_DUP_COMPONENTS
    + f""",
    best AS (
        SELECT c.component,
               arg_max(c.id, d.n_chars * 1000000000 - c.id) AS keep_id
        FROM comp c JOIN documents d ON d.doc_id = c.id
        GROUP BY c.component
    ),
    losers AS (
        SELECT id FROM comp WHERE id NOT IN (SELECT keep_id FROM best)
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id % {SAMPLE_MOD} = 0
      AND d.doc_id NOT IN (SELECT id FROM losers)
    """,
    doc="[ext] dedup survivor POLICY: per near-dup cluster keep the "
    "highest-quality member (longest doc; ties to the smaller id via a "
    "collision-free n_chars*1e9 - doc_id ordering key) instead of the "
    "min id — the curation-grade choice when duplicates differ in "
    "truncation or boilerplate; same LSH -> verify -> components "
    "machinery as near_dup_survivors.",
)
def near_dup_best_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: identical pipeline to near_dup_survivors plus one
    component-keyed max_by aggregate (component relation is cluster-
    sized, far below corpus-sized) and the same single anti-join over the
    corpus."""
    from ..operators.components import connected_components

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SAMPLE_MOD == 0
    )
    comp = connected_components(
        near_dup_pairs(docs), iteration_shuffle_partitions=8
    )
    quality = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("n_chars").cast("long") * 1_000_000_000 - F.col("doc_id")).alias("q"),
    )
    best = (
        comp.join(quality, "id")
        .groupBy("component")
        .agg(F.max_by("id", "q").alias("keep_id"))
    )
    losers = (
        comp.join(
            best.select(F.col("keep_id").alias("id")).withColumn(
                "_keep", F.lit(1)
            ),
            "id",
            "left",
        )
        .filter(F.col("_keep").isNull())
        .select(F.col("id").alias("doc_id"))
    )
    return docs.join(losers, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


@register(
    "incremental_near_dup_delta",
    oracle=(_SQL_SAMPLE_SHINGLES
    + _SQL_MH
    + _SQL_BANDS
    + """
    , cand AS (
        SELECT DISTINCT b.doc_id AS id_l, d.doc_id AS id_r
        FROM banded b JOIN banded d ON b.band = d.band AND b.key = d.key
        WHERE b.doc_id % 10 = 0 AND d.doc_id % 10 = 5
    ),
    sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
    inter AS (
        SELECT c.id_l, c.id_r, count(*) AS n_common
        FROM cand c
        JOIN shingles a ON a.doc_id = c.id_l
        JOIN shingles b ON b.doc_id = c.id_r AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    dup_delta AS (
        SELECT DISTINCT i.id_r AS doc_id
        FROM inter i
        JOIN sizes sl ON sl.doc_id = i.id_l
        JOIN sizes sr ON sr.doc_id = i.id_r
        WHERE CAST(i.n_common AS DOUBLE)
              / (sl.set_size + sr.set_size - i.n_common) >= 0.5
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id % 10 = 5
      AND d.doc_id NOT IN (SELECT doc_id FROM dup_delta)
    """),
    doc="[ext] incremental NEAR-dup ingest: the new batch (doc_id%10=5) "
    "probes the existing corpus' LSH band index (doc_id%10=0) — base x "
    "delta candidates only, never delta x delta or base x base — then "
    "exact-Jaccard verifies and rejects colliding newcomers. The "
    "near-duplicate twin of incremental_dedup_delta's digest anti-join: "
    "the daily-crawl path where yesterday's signatures are a stored "
    "artifact and today's batch is the only new work.",
)
def incremental_near_dup_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the base band-entry relation is the INDEX (stored between
    batches with ``bucketBy`` on (band, key), it makes the probe join
    co-located and the base corpus is never re-tokenized); all per-round
    work — signatures, probe, verify — is delta-sized plus the bounded
    collision fan-in. Derived in-query here so the oracle is
    self-contained."""
    from ..operators.dedup import lsh_band_entries

    docs = load_table(spark, sf_dir, "documents")
    sampled = docs.filter(F.col("doc_id") % SAMPLE_MOD == 0)
    shingles = sampled.select(
        "doc_id",
        F.explode(F.array_distinct(words("text"))).alias("shingle"),
    )
    banded = lsh_band_entries(minhash_signatures(shingles, "doc_id"), "doc_id")
    base = banded.filter(F.col("doc_id") % 10 == 0).withColumnRenamed(
        "doc_id", "id_l"
    )
    delta = banded.filter(F.col("doc_id") % 10 == 5).withColumnRenamed(
        "doc_id", "id_r"
    )
    cand = base.join(delta, ["band", "key"]).select("id_l", "id_r").distinct()
    num, den = NEAR_DUP_T
    dup_delta = (
        jaccard_pairs(
            shingles, "doc_id", candidates=cand, assume_distinct=True, threshold=NEAR_DUP_T
        )
        .filter(F.col("jaccard") >= num / den)
        .select(F.col("id_r").alias("doc_id"))
        .distinct()
    )
    return (
        docs.filter(F.col("doc_id") % 10 == 5)
        .join(dup_delta, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


@register(
    "dup_rate_by_source",
    oracle=_SQL_TOKS
    + f"""
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(d.text)) AS BIGINT) AS n_exact_distinct,
           round(1.0 - count(DISTINCT md5(d.text)) / CAST(count(*) AS DOUBLE), 6)
               AS exact_dup_rate,
           CAST(count(DISTINCT {canonical_fingerprint_sql("t.tokens")})
                AS BIGINT) AS n_canonical_distinct,
           round(1.0 - count(DISTINCT {canonical_fingerprint_sql("t.tokens")})
                       / CAST(count(*) AS DOUBLE), 6) AS canonical_dup_rate
    FROM documents d JOIN toks t USING (doc_id)
    GROUP BY d.source
    """,
    doc="[ext] per-source duplication telemetry: exact (content digest) "
    "and canonical (order/multiplicity-insensitive token set) duplicate "
    "rates per source — the curation dashboard that decides which crawl "
    "feeds need dedup attention first; canonical > exact gap exposes "
    "templated/shuffled boilerplate that byte hashing misses.",
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one hash aggregate keyed on source with two distinct-count
    aggregates over derived digests — the digests are map-side column
    math (md5, sorted distinct token fingerprint), so the shuffle moves
    (source, digest) pairs; swap approx_count_distinct at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("digest"),
        canonical_fingerprint(words("text")).alias("canon"),
    )
    return toks.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("digest").alias("n_exact_distinct"),
        F.round(
            1.0 - F.countDistinct("digest") / F.count("*").cast("double"), 6
        ).alias("exact_dup_rate"),
        F.countDistinct("canon").alias("n_canonical_distinct"),
        F.round(
            1.0 - F.countDistinct("canon") / F.count("*").cast("double"), 6
        ).alias("canonical_dup_rate"),
    )


@register(
    "lsh_recall_by_jaccard_band",
    oracle=(_SQL_LSH_CAND
    + """,
    sizes AS (SELECT doc_id, count(*) AS set_size FROM shingles GROUP BY doc_id),
    truth AS (
        SELECT a.doc_id AS id_l, b.doc_id AS id_r,
               CAST(count(*) AS DOUBLE)
               / (sl.set_size + sr.set_size - count(*)) AS j
        FROM shingles a
        JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN sizes sl ON sl.doc_id = a.doc_id
        JOIN sizes sr ON sr.doc_id = b.doc_id
        GROUP BY a.doc_id, b.doc_id, sl.set_size, sr.set_size
    )
    SELECT CAST(floor(t.j * 10) AS BIGINT) AS jaccard_decile,
           CAST(count(*) AS BIGINT) AS n_true_pairs,
           CAST(count(c.id_l) AS BIGINT) AS n_candidates,
           round(CAST(count(c.id_l) AS DOUBLE) / count(*), 6) AS recall,
           round(1.0 - pow(1.0 - pow((floor(t.j * 10) + 0.5) / 10.0, {LSH_ROWS}),
                           {LSH_BANDS}), 6) AS expected_recall
    FROM truth t
    LEFT JOIN cand c ON c.id_l = t.id_l AND c.id_r = t.id_r
    WHERE t.j >= 0.1
    GROUP BY 1, 5
    """.format(LSH_ROWS=LSH_ROWS, LSH_BANDS=LSH_BANDS)),
    doc="[ext] LSH banding self-evaluation: candidate recall per exact-"
    "Jaccard decile — the S-curve that justifies the (bands x rows) "
    "choice: high-similarity pairs must be near-1.0 recall, low-"
    "similarity deciles near 0 (candidates there are wasted verify "
    "work). Truth is the exact shingle self-join on the bounded 1-in-5 "
    "sample (the evaluation is sample-priced BY design; production "
    "evaluates banding on a sample exactly like this).",
)
def lsh_recall_by_jaccard_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the all-pairs truth join is the one deliberately
    sample-bounded stage (that is what makes the evaluation affordable —
    the production pipeline never runs it on the full corpus); candidates
    come from the same banding operator the pipeline uses, and the
    recall aggregate is decile-keyed."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % SAMPLE_MOD == 0
    )
    shingles = docs.select(
        "doc_id",
        F.explode(F.array_distinct(words("text"))).alias("shingle"),
    )
    truth = jaccard_pairs(shingles, "doc_id", assume_distinct=True).filter(
        F.col("jaccard") >= 0.1
    )
    cand = lsh_candidate_pairs(
        minhash_signatures(shingles, "doc_id"), "doc_id"
    ).withColumn("_hit", F.lit(1))
    return (
        truth.join(cand, ["id_l", "id_r"], "left")
        .groupBy(
            F.floor(F.col("jaccard") * 10).cast("long").alias("jaccard_decile")
        )
        .agg(
            F.count("*").alias("n_true_pairs"),
            F.count("_hit").alias("n_candidates"),
            F.round(F.count("_hit").cast("double") / F.count("*"), 6).alias(
                "recall"
            ),
        )
        # analytic banding curve at the decile midpoint: 1-(1-j^r)^b —
        # measured-vs-theory in one relation (literal math, both engines)
        .withColumn(
            "expected_recall",
            F.round(
                1.0
                - F.pow(
                    1.0
                    - F.pow(
                        (F.col("jaccard_decile") + 0.5) / 10.0, float(LSH_ROWS)
                    ),
                    float(LSH_BANDS),
                ),
                6,
            ),
        )
    )
