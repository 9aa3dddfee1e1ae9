"""Training-corpus curation queries (north-star [ext]): chunking, batch
packing, and eval-set decontamination.

The last mile of an LLM-data pipeline after dedup/quality gating:
- split documents into fixed-size overlapping token chunks (the unit a
  tokenizer/trainer consumes);
- pack documents into token-budget batches in a deterministic shuffled
  order (the streaming-friendly approximation of greedy bin packing);
- drop training documents that share verbatim n-gram windows with an
  evaluation set (benchmark decontamination, Brown et al. 2020 style).

All three are pure DataFrame compositions over the same exploded-token
relation the dedup/TF-IDF paths use. No reference counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import md5_long_sql
from ..functions.text import with_word_ngrams, words, words_sql
from ..sources.readers import load_table
from .dedup import SQL_PPJOIN_QUALIFIED
from .registry import register

CHUNK_TOKENS = 64  # chunk window size
CHUNK_STRIDE = 48  # window stride (16-token overlap)
PACK_BUDGET = 512  # tokens per training batch
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 -> held-out eval set
CONTAM_NGRAM = 8  # verbatim window length for contamination

_SQL_TOKS = rf"""
WITH toks AS (
    SELECT doc_id, lang,
           {words_sql()} AS tokens
    FROM documents
)
"""


@register(
    "chunk_documents_stride",
    oracle=_SQL_TOKS
    + f"""
    SELECT doc_id,
           (s - 1) // {CHUNK_STRIDE} AS chunk_idx,
           len(tokens[s:s + {CHUNK_TOKENS - 1}]) AS n_tokens,
           md5(array_to_string(tokens[s:s + {CHUNK_TOKENS - 1}], ' ')) AS chunk_hash
    FROM (SELECT doc_id, tokens,
                 unnest(generate_series(1, len(tokens), {CHUNK_STRIDE})) AS s
          FROM toks
          WHERE len(tokens) > 0)
    """,
    doc=f"[ext] fixed-window chunking: {CHUNK_TOKENS}-token chunks at stride "
    f"{CHUNK_STRIDE} (overlap {CHUNK_TOKENS - CHUNK_STRIDE}) per document — "
    "the tokenize-and-split step that turns curated documents into trainer "
    "inputs; chunk content travels as an md5 so the driver check stays "
    "scalar.",
)
def chunk_documents_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: chunking is a narrow per-row generator (sequence + slice +
    inline) — no shuffle at all; output partitioning inherits the scan.
    The overlap means ~1.33x row amplification, all map-side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words("text").alias("tokens")).filter(
        F.size("tokens") > 0
    )
    return toks.select(
        "doc_id",
        F.expr(
            f"""
            inline(transform(
                sequence(1, size(tokens), {CHUNK_STRIDE}),
                s -> struct(
                    cast((s - 1) div {CHUNK_STRIDE} as bigint)       AS chunk_idx,
                    cast(size(slice(tokens, s, {CHUNK_TOKENS})) as bigint) AS n_tokens,
                    md5(array_join(slice(tokens, s, {CHUNK_TOKENS}), ' ')) AS chunk_hash
                )
            ))
            """
        ),
    )


@register(
    "pack_docs_token_budget",
    oracle=_SQL_TOKS
    + f"""
    , sized AS (
        SELECT doc_id, lang, len(tokens) AS n_tokens,
               md5(CAST(doc_id AS VARCHAR)) AS shuffle_key
        FROM toks
    )
    SELECT doc_id, lang, n_tokens,
           CAST((sum(n_tokens) OVER (PARTITION BY lang
                                     ORDER BY shuffle_key, doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) // {PACK_BUDGET} AS BIGINT) AS batch_id
    FROM sized
    """,
    doc=f"[ext] deterministic batch packing: documents shuffle by md5(doc_id), "
    f"then a running token count assigns each to a ~{PACK_BUDGET}-token batch "
    "per language (batch = floor(exclusive-prefix-sum / budget) — the "
    "streaming approximation of greedy bin packing; each batch exceeds the "
    "budget by at most one document).",
)
def pack_docs_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the only shuffle is the window's partition-by-lang exchange.
    Partitioning by language (the natural training-shard key) keeps the
    running sum parallel — a global ORDER BY window would serialize to one
    task, the classic scale trap. More shards -> add a hash-bucket column
    to the partition key; determinism is unaffected since the order key is
    content-derived."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "lang",
        F.size(words("text")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("shuffle_key"),
    )
    w = (
        W.partitionBy("lang")
        .orderBy("shuffle_key", "doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return sized.select(
        "doc_id",
        "lang",
        "n_tokens",
        ((F.sum("n_tokens").over(w) - F.col("n_tokens")) / F.lit(PACK_BUDGET))
        .cast("long")
        .alias("batch_id"),
    )


@register(
    "decontaminate_against_eval",
    oracle=_SQL_TOKS
    + f"""
    , win AS (
        SELECT doc_id, md5(array_to_string(tokens[i:i + {CONTAM_NGRAM - 1}], ' ')) AS w
        FROM (SELECT doc_id, tokens,
                     unnest(generate_series(1, len(tokens) - {CONTAM_NGRAM - 1})) AS i
              FROM toks WHERE len(tokens) >= {CONTAM_NGRAM})
    ),
    eval_w AS (
        SELECT DISTINCT w FROM win WHERE doc_id % {EVAL_MOD} = 0
    )
    SELECT t.doc_id,
           count(*) AS n_windows,
           CAST(sum(CASE WHEN e.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           sum(CASE WHEN e.w IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated
    FROM win t LEFT JOIN eval_w e USING (w)
    WHERE t.doc_id % {EVAL_MOD} <> 0
    GROUP BY t.doc_id
    """,
    doc=f"[ext] benchmark decontamination: training documents sharing any "
    f"verbatim {CONTAM_NGRAM}-token window with the held-out eval set "
    f"(doc_id % {EVAL_MOD} = 0) are flagged with per-doc overlap counts — "
    "the train/test leakage audit run before every pretraining job.",
)
def decontaminate_against_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: windows are md5'd map-side (raw n-grams never shuffle); the
    eval window set is distinct-reduced and — being eval-benchmark-sized,
    tiny relative to the corpus — BROADCASTs onto the training windows, so
    the corpus-sized side never exchanges for the join; one per-doc agg
    follows. At 100 TB the eval set is a fixed artifact: build its window
    index once and reuse it across corpus versions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words("text").alias("tokens"))
    win = (
        with_word_ngrams(
            toks.filter(F.size("tokens") >= CONTAM_NGRAM), "tokens", CONTAM_NGRAM, "_g"
        )
        .select("doc_id", F.explode("_g").alias("gram"))
        .select("doc_id", F.md5("gram").alias("w"))
    )
    eval_w = (
        win.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select("w")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        win.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(eval_w), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_contaminated"),
            (F.sum(F.coalesce("hit", F.lit(0))) > 0).alias("contaminated"),
        )
    )


SOURCE_CAP = 10  # max documents retained per source


@register(
    "source_cap_documents",
    oracle=f"""
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM (SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents)
        WHERE rn <= {SOURCE_CAP}
    """,
    doc=f"[ext] per-source cap: keep at most {SOURCE_CAP} documents per "
    "source, preferring longer documents (doc_id tiebreak) — the "
    "domain-balancing step that stops one crawl domain from dominating the "
    "training mix (C4/RefinedWeb-style source capping).",
)
def source_cap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: rank-filter compiles to WindowGroupLimit — every task prunes
    to its local top-K per source BEFORE the shuffle, so the exchange
    carries at most K rows per (source, task), not the corpus. Skewed
    sources (one domain = half the crawl) are exactly the rows the local
    prune drops first."""
    docs = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SOURCE_CAP)
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("n_chars"))
    )


@register(
    "corpus_curation_pipeline",
    oracle=_SQL_TOKS
    + f"""
    , surv AS (
        SELECT doc_id, lang, tokens,
               min(doc_id) OVER (PARTITION BY md5(array_to_string(tokens, ' '))) AS keep_id
        FROM toks
    ),
    gated AS (
        SELECT doc_id, lang, tokens
        FROM surv
        WHERE doc_id = keep_id
          AND len(tokens) >= 10
          AND CAST(len(list_distinct(tokens)) AS DOUBLE) / len(tokens) >= 0.3
          AND doc_id % {EVAL_MOD} <> 0
    ),
    win AS (
        SELECT doc_id, md5(array_to_string(tokens[i:i + {CONTAM_NGRAM - 1}], ' ')) AS w
        FROM (SELECT doc_id, tokens,
                     unnest(generate_series(1, len(tokens) - {CONTAM_NGRAM - 1})) AS i
              FROM toks WHERE len(tokens) >= {CONTAM_NGRAM})
    ),
    eval_w AS (
        SELECT DISTINCT w FROM win WHERE doc_id % {EVAL_MOD} = 0
    ),
    contaminated AS (
        SELECT DISTINCT t.doc_id FROM win t JOIN eval_w e USING (w)
        WHERE t.doc_id % {EVAL_MOD} <> 0
    ),
    clean AS (
        SELECT g.doc_id, g.lang, g.tokens
        FROM gated g LEFT JOIN contaminated c USING (doc_id)
        WHERE c.doc_id IS NULL
    ),
    chunks AS (
        SELECT doc_id, lang,
               (s - 1) // {CHUNK_STRIDE} AS chunk_idx,
               len(tokens[s:s + {CHUNK_TOKENS - 1}]) AS n_tokens,
               md5(array_to_string(tokens[s:s + {CHUNK_TOKENS - 1}], ' ')) AS chunk_hash
        FROM (SELECT doc_id, lang, tokens,
                     unnest(generate_series(1, len(tokens), {CHUNK_STRIDE})) AS s
              FROM clean)
    )
    SELECT doc_id, chunk_idx, lang, n_tokens, chunk_hash,
           CAST((sum(n_tokens) OVER (PARTITION BY lang
                                     ORDER BY md5(CAST(doc_id AS VARCHAR) || ':' ||
                                                  CAST(chunk_idx AS VARCHAR)),
                                              doc_id, chunk_idx
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tokens) // {PACK_BUDGET} AS BIGINT) AS batch_id
    FROM chunks
    """,
    headline=True,
    doc="[ext] the WHOLE curation last mile as ONE declarative plan: "
    "exact-dedup survivors -> quality gate (length + uniqueness) -> "
    "eval-set decontamination -> stride chunking -> per-language "
    "token-budget batch packing. A user runs one query; the tokenized "
    "corpus is materialized once and every stage branch reads the "
    "materialization instead of re-scanning the raw corpus.",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: composes the per-stage postures — one digest-window shuffle
    (dedup), broadcast eval windows (decontam), map-side chunk generation,
    one per-lang window (packing). The tokenized relation feeds THREE
    branches (dedup+gate, training windows, eval windows); without an
    explicit materialization Spark re-scans and re-tokenizes the corpus per
    branch (DataFrame subtrees are not auto-shared), so it is
    localCheckpoint(eager=True)-materialized — the same
    one-materialization-many-consumers posture a production pipeline gets
    by staging tokens to a table. Unlike a persist, the blocks are
    released with the returned plan: nothing is left in the session cache
    (the flagship's and near_dup_pairs' policy)."""
    docs = load_table(spark, sf_dir, "documents")
    # Materialize BEFORE the three branches consume it: inside a single
    # action Spark schedules the branch stages concurrently, and each
    # races to compute the same partitions (duplicated tokenize work). The
    # eager checkpoint runs the tokenize once; the branches then read
    # computed blocks. The materialization was re-confirmed
    # post-allocator-fix (r12, interleaved A/B + fresh process, as a
    # MEMORY_AND_DISK persist + count): on/off 1.70/1.82 s at sf0.1,
    # 7.87/8.51 s at 8x — the margin grows with data, as three tokenize
    # recomputes cost more than one serialization the bigger the corpus
    # gets.
    toks = docs.select("doc_id", "lang", words("text").alias("tokens")).localCheckpoint(eager=True)

    keep_w = W.partitionBy(F.md5(F.array_join("tokens", " ")))
    n = F.size("tokens")
    uniq_ratio = F.size(F.array_distinct("tokens")).cast("double") / n
    gated = (
        toks.withColumn("keep_id", F.min("doc_id").over(keep_w))
        .filter(
            (F.col("doc_id") == F.col("keep_id"))
            & (n >= 10)
            & (uniq_ratio >= 0.3)
            & (F.col("doc_id") % EVAL_MOD != 0)
        )
        .select("doc_id", "lang", "tokens")
    )

    win = (
        with_word_ngrams(
            toks.filter(F.size("tokens") >= CONTAM_NGRAM), "tokens", CONTAM_NGRAM, "_g"
        )
        .select("doc_id", F.explode("_g").alias("gram"))
        .select("doc_id", F.md5("gram").alias("w"))
    )
    eval_w = win.filter(F.col("doc_id") % EVAL_MOD == 0).select("w").distinct()
    contaminated = (
        win.filter(F.col("doc_id") % EVAL_MOD != 0)
        .join(F.broadcast(eval_w), "w", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = gated.join(contaminated, "doc_id", "left_anti")

    chunks = clean.select(
        "doc_id",
        "lang",
        F.expr(
            f"""
            inline(transform(
                sequence(1, size(tokens), {CHUNK_STRIDE}),
                s -> struct(
                    cast((s - 1) div {CHUNK_STRIDE} as bigint)              AS chunk_idx,
                    cast(size(slice(tokens, s, {CHUNK_TOKENS})) as bigint)  AS n_tokens,
                    md5(array_join(slice(tokens, s, {CHUNK_TOKENS}), ' '))  AS chunk_hash
                )
            ))
            """
        ),
    )
    shuffle_key = F.md5(
        F.concat(
            F.col("doc_id").cast("string"), F.lit(":"), F.col("chunk_idx").cast("string")
        )
    )
    pack_w = (
        W.partitionBy("lang")
        .orderBy(shuffle_key, "doc_id", "chunk_idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "lang",
        "n_tokens",
        "chunk_hash",
        ((F.sum("n_tokens").over(pack_w) - F.col("n_tokens")) / F.lit(PACK_BUDGET))
        .cast("long")
        .alias("batch_id"),
    )


@register(
    "contrastive_pair_mining",
    oracle=SQL_PPJOIN_QUALIFIED
    + f""",
    ring AS (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY {md5_long_sql("CAST(doc_id AS VARCHAR)")}, doc_id
               ) AS rk,
               count(*) OVER () AS n
        FROM documents
    ),
    pos AS (
        SELECT q.id_l AS anchor_id, q.id_r AS positive_id,
               round(CAST(q.n_common AS DOUBLE)
                     / (q.size_l + q.size_r - q.n_common), 6) AS pos_jaccard,
               r.rk, r.n
        FROM qual q JOIN ring r ON r.doc_id = q.id_l
    ),
    trip AS (
        SELECT p.anchor_id, p.positive_id, rn.doc_id AS negative_id,
               p.pos_jaccard
        FROM pos p JOIN ring rn ON rn.rk = ((p.rk - 1 + p.n // 2) % p.n) + 1
    )
    SELECT t.anchor_id, t.positive_id, t.negative_id, t.pos_jaccard
    FROM trip t
    WHERE NOT EXISTS (SELECT 1 FROM qual q
                      WHERE q.id_l = t.anchor_id AND q.id_r = t.negative_id)
      AND NOT EXISTS (SELECT 1 FROM qual q
                      WHERE q.id_r = t.anchor_id AND q.id_l = t.negative_id)
    """,
    doc="[ext] contrastive training triples for embedding-model "
    "finetuning: anchors with a verified near-dup POSITIVE (exact "
    "PPJoin pairs at Jaccard >= 1/2) and a deterministic hash-ring "
    "NEGATIVE (the corpus antipode in md5 order — uniform-random in "
    "content space, reproducible across runs/engines), with accidental "
    "positives anti-joined away. The (anchor, positive, negative) "
    "export every sentence-embedding trainer consumes.",
)
def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: positives come from the prefix-filtered exact join (never
    all-pairs); the negative assignment is one corpus-sized exact rank
    (bucketed_row_number — per-bucket windows only) plus two equi-joins
    on the ring rank; the accidental-positive screen is ONE broadcast-
    sized anti-join against the symmetrized qualified-pair relation,
    which is materialized once (localCheckpoint) because three branches
    consume it — recomputing the prefix-filtered join per branch was 3x
    the query's whole cost (19.1 s -> ~8 s at sf0.01). No sampling
    randomness: the ring is a pure function of doc_id, so the triples
    are stable artifacts, not a per-run draw."""
    from ..functions.hashing import md5_long
    from ..operators.rank import bucketed_row_number
    from .dedup import ppjoin_exact_pairs

    # The qualified-pair relation feeds THREE branches (positives + both
    # anti-join screens); without materialization Spark recomputes the
    # whole prefix-filtered join per branch (3x the dominant cost).
    # localCheckpoint materializes it once; blocks are freed when the
    # returned plan is released, so registry-wide sweeps don't
    # accumulate cached relations (the plans/lm.py persist lesson).
    pairs = ppjoin_exact_pairs(spark, sf_dir).localCheckpoint(eager=True)
    pos = pairs.select(
        F.col("id_l").alias("anchor_id"),
        F.col("id_r").alias("positive_id"),
        F.col("jaccard").alias("pos_jaccard"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    ring = bucketed_row_number(
        docs.withColumn("_h", md5_long(F.col("doc_id").cast("string"))),
        "_h",
        ["doc_id"],
        rank_name="_rk",
        n_name="_n",
    )
    anchors = pos.join(
        ring.select(F.col("doc_id").alias("anchor_id"), "_rk", "_n"), "anchor_id"
    ).withColumn("_neg_rk", F.expr("((_rk - 1 + _n div 2) % _n) + 1"))
    triples = anchors.join(
        ring.select(F.col("doc_id").alias("negative_id"), F.col("_rk").alias("_neg_rk")),
        "_neg_rk",
    ).select("anchor_id", "positive_id", "negative_id", "pos_jaccard")
    # screen accidental positives: the ring antipode may itself be a
    # verified near-dup of the anchor (either orientation) — one
    # anti-join against the symmetrized pair relation covers both.
    qual = pairs.select("id_l", "id_r").union(
        pairs.select(F.col("id_r").alias("id_l"), F.col("id_l").alias("id_r"))
    )
    return triples.join(
        qual,
        (triples.anchor_id == qual.id_l) & (triples.negative_id == qual.id_r),
        "left_anti",
    )
