"""Similarity search over the ``embeddings`` fixture (north-star [ext]).

Three tiers:
- brute-force cosine top-k (the exactness baseline; oracle-checked)
- IVF-partitioned top-k (the scale path: search only the query's cell;
  deterministic data-derived seed centroids, so it is *also* oracle-checked)
- random-hyperplane LSH buckets (approximate; constants are seeded NumPy —
  registered rows-only, verified by property tests instead)

The dot/cosine math is double-cast element-wise fold — identical on both
engines (functions/vectors.py), and cosine is rounded BEFORE ranking so
top-k tie-breaks are engine-independent.

The family contract — a norm-gated cosine rounded to 6 dp, NULL for a
zero norm, self pairs excluded, ranked by (score desc, id asc) to k — is
stated once, by the helpers every query body is built from:
``_gated_cosine`` (the cosine expression), ``_scored`` (broadcast queries
x corpus, self pair dropped), ``_topk`` (the rank window and cut),
``_exact_topk`` (the dense-or-fold scorer choice), ``_recall``
(per-query recall@k), ``_ivf_assign``/``_ivf_probes`` (the sqrt-scaled
and fixed IVF grids) and ``_pq_encode``/``_adc_topk`` (PQ encode and ADC
rank).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, cosine_sql, dot, dot_sql, l2_norm
from ..operators.similarity import DENSE_MAX_BROADCAST_CELLS, dense_topk_neighbors
from ..sources.readers import load_table, local_relation
from .registry import register

QUERY_MOD = 50  # 1-in-50 vectors are search queries
TOP_K = 5
N_CELLS = 8  # IVF cells (seed centroids = vec_id < N_CELLS)
N_PLANES = 8  # hyperplane LSH signature bits

# Fixed-size md5-ordered pool caps (r8 sweep): a %MOD sample SCALES WITH
# THE CORPUS, so any all-pairs or query-x-corpus stage over it is a
# quadratic in waiting — the same corpus-tracking-parameter lesson as r6's
# fixed IVF grids and r7's MMR/facility pools, now caught by
# deploy/sweep_scale.py instead of by hand. Caps are sized so the sf0.01
# driver gate and the sf0.1 bench keep their exact pre-cap member sets
# (sample sizes there are at or under the cap).
EMB_SAMPLE_CAP = 400  # pairwise-stage vector samples (400 = the full sf0.1 %5 sample)
EVAL_QUERY_CAP = 64  # recall/rerank evaluation query pools (40 at sf0.1)


def _md5_pool(df: DataFrame, id_col: str, tag: str, cap: int) -> DataFrame:
    """First ``cap`` rows by (md5(tag||id), id): a deterministic fixed-size
    sample both engines order identically. Spark compiles the orderBy+limit
    to TakeOrderedAndProject (per-partition top-cap, no global sort); the
    oracle mirror is ``ORDER BY md5('tag:' || id), id LIMIT cap``."""
    return df.orderBy(
        F.md5(F.concat(F.lit(tag), F.col(id_col).cast("string"))), F.asc(id_col)
    ).limit(cap)


def _gated_cosine(a: str, na: str, b: str, nb: str) -> Column:
    """cos(a, b) from precomputed norm columns ``na``/``nb``: NULL when
    either norm is zero. Norms precomputed per side leave one interpreted
    fold per pair instead of three."""
    return F.when(
        (F.col(na) > 0) & (F.col(nb) > 0), dot(a, b) / (F.col(na) * F.col(nb))
    )


def _scored(
    queries: DataFrame,
    corpus: DataFrame,
    on: str | Column | None = None,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Broadcast ``(query_id, query_vec, ...)`` against ``(vec_id,
    embedding, ...)`` and drop the self pair: ``(query_id, neighbor_id,
    *keep, cosine)``, cosine rounded to 6 dp. ``on`` is a using-column
    (the IVF cell) or a join condition (the label pre-filter); None
    scores every pair. The corpus never shuffles."""
    q = queries.withColumn("q_norm", l2_norm("query_vec"))
    c = corpus.withColumn("n_norm", l2_norm("embedding"))
    cos = _gated_cosine("query_vec", "q_norm", "embedding", "n_norm")
    return (
        c.join(F.broadcast(q), on)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            *keep,
            F.round(cos, 6).alias("cosine"),
        )
    )


def _topk(
    df: DataFrame,
    k: int,
    by: tuple[str, ...] = ("query_id",),
    score: str = "cosine",
    nb: str = "neighbor_id",
    desc: bool = True,
) -> DataFrame:
    """The first ``k`` rows per ``by`` group ranked by ``score`` (desc
    nulls last, or asc) then ascending ``nb``, with their long ``rnk``.
    The rank filter compiles to WindowGroupLimit, so each task prunes to
    k rows per group before the exchange."""
    order = F.desc(score) if desc else F.asc(score)
    w = W.partitionBy(*by).orderBy(order, F.asc(nb))
    return df.withColumn("rnk", F.row_number().over(w).cast("long")).filter(
        F.col("rnk") <= k
    )


def _exact_topk(queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k of ``(query_id, query_vec)`` over ``(vec_id,
    embedding)``: ``(query_id, neighbor_id, cosine, rnk)``.

    ONE bounded action collects up to the broadcast cap + 1 query rows.
    A set within ``DENSE_MAX_BROADCAST_CELLS`` takes the dense scorer,
    operators.similarity.dense_topk_neighbors, with those rows as its
    broadcast payload (no second collect): broadcast (|Q| x d) matrix,
    one BLAS matmul per corpus partition, partition-local top-k, tiny
    merge. A larger set takes the fold, ``_topk(_scored(...))``, which
    works at any |Q|.

    Both scorers keep the same contract, so results are scorer-blind.
    """
    cap = max(1, DENSE_MAX_BROADCAST_CELLS // 64)  # rows at d = 64
    rows = queries.limit(cap + 1).collect()
    d = len(rows[0]["query_vec"]) if rows else 0
    if rows and len(rows) <= cap and len(rows) * d <= DENSE_MAX_BROADCAST_CELLS:
        return dense_topk_neighbors(
            queries,
            corpus,
            "query_id",
            "query_vec",
            "vec_id",
            "embedding",
            k,
            prefetched_queries=rows,
        )
    return _topk(_scored(queries, corpus), k)


def _recall(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query ``n_hits`` and ``recall_at_k``: how many of the exact
    top-k ``(query_id, neighbor_id)`` rows the approximate top-k holds.
    The join is |Q|·k rows."""
    exact = exact.select("query_id", "neighbor_id")
    approx = approx.select("query_id", F.col("neighbor_id").alias("a_neighbor_id"))
    hits = (
        exact.join(
            approx,
            (exact.query_id == approx.query_id)
            & (F.col("neighbor_id") == F.col("a_neighbor_id")),
            "left",
        )
        .groupBy(exact.query_id)
        .agg(F.count("a_neighbor_id").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        "n_hits",
        F.round(F.col("n_hits").cast("double") / TOP_K, 6).alias("recall_at_k"),
    )


def _ivf_assign(emb: DataFrame, mod: int | None = None) -> DataFrame:
    """Shared sqrt-scaled IVF cell assignment: (vec_id, embedding, cell_id).

    Cells = max(N_CELLS, ceil(sqrt(n_participants))) — the IVF nlist rule
    that keeps the n·cells assignment stage and the per-cell downstream
    work balanced as the corpus grows (a fixture-constant grid measured
    12.7-15.7x wall at an 8x data replica; see SCALE.md "Measured
    scaling"). The count enters as a 1-row broadcast aggregate, no driver
    action, and the oracle CTEs compute the identical formula.

    The arg-max itself runs over a NARROW (vec_id, cell_id, cosine)
    projection — norms precomputed per side, embeddings re-attached by
    key afterwards. Carrying the vector arrays through the window's hash
    exchange is what made the first sqrt-scaled version SLOWER at 8x
    (each embedding duplicated once per cell through the shuffle); the
    narrow form shuffles 24-byte rows instead. Tie semantics match the
    oracles exactly: rounded cosine DESC (nulls last), cell_id ASC.
    """
    part = emb.filter(F.col("vec_id") % mod == 0) if mod else emb
    ncells = part.agg(
        F.greatest(
            F.lit(N_CELLS).cast("long"), F.ceil(F.sqrt(F.count("*")))
        ).alias("_nc")
    )
    cent = (
        emb.crossJoin(F.broadcast(ncells))
        .filter(F.col("vec_id") < F.col("_nc"))
        .select(
            F.col("vec_id").alias("cell_id"),
            F.col("embedding").alias("cell_vec"),
            l2_norm("embedding").alias("_cn"),
        )
    )
    cos = _gated_cosine("embedding", "_vn", "cell_vec", "_cn")
    scored = (
        part.withColumn("_vn", l2_norm("embedding"))
        .crossJoin(F.broadcast(cent))
        .select("vec_id", "cell_id", F.round(cos, 6).alias("_cos"))
    )
    w_assign = W.partitionBy("vec_id").orderBy(F.desc("_cos"), F.asc("cell_id"))
    best = (
        scored.withColumn("_rn", F.row_number().over(w_assign))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "cell_id")
    )
    return part.join(best, "vec_id").select("vec_id", "embedding", "cell_id")


@register(
    "ann_bruteforce_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS query_vec
            FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
        ),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round({cosine_sql('q.query_vec', 'e.embedding')}, 6) AS cosine
            FROM q CROSS JOIN embeddings e
            WHERE e.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
    """,
    headline=True,
    doc="[ext] exact ANN baseline: brute-force cosine top-k per query "
    "(broadcast queries × corpus, double fold, deterministic rank).",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the small query set broadcasts; the corpus never shuffles —
    each partition scores its vectors locally and window pruning keeps k
    rows per query. O(|Q|·n·d) compute, zero O(n²). ``_exact_topk``
    picks the scorer (dense while |Q|·d broadcasts, else the fold), the
    same adaptive pattern as title_best_abstract."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return _exact_topk(queries, emb, TOP_K)


@register(
    "ann_ivf_topk",
    oracle=f"""
        WITH knc AS (
            SELECT greatest({N_CELLS}, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS n_cells
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings, knc WHERE vec_id < knc.n_cells
        ),
        assigned AS (
            SELECT vec_id, embedding, cell_id
            FROM (
                SELECT e.vec_id, e.embedding, c.cell_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({cosine_sql('e.embedding', 'c.cell_vec')}, 6) DESC,
                                    c.cell_id) AS rn
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rn = 1
        ),
        q AS (SELECT vec_id AS query_id, embedding AS query_vec, cell_id
              FROM assigned WHERE vec_id % {QUERY_MOD} = 0),
        scored AS (
            SELECT q.query_id, a.vec_id AS neighbor_id,
                   round({cosine_sql('q.query_vec', 'a.embedding')}, 6) AS cosine
            FROM q JOIN assigned a ON a.cell_id = q.cell_id AND a.vec_id <> q.query_id
        )
        SELECT query_id, neighbor_id, cosine, rnk
        FROM (SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rnk
              FROM scored)
        WHERE rnk <= {TOP_K}
    """,
    doc="[ext] IVF-partitioned ANN: vectors assigned to nearest of "
    f"{N_CELLS} deterministic seed centroids; queries search only their own "
    "cell — the inverted-file scale path (cell assignment is itself oracle-checked).",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: centroid assignment is one broadcast join (n·cells dots);
    search joins on cell_id so each query scores ~n/cells vectors. At 100 TB
    the cells become partition keys — a co-located, prunable layout. The
    cell count is sqrt-scaled with the corpus (max(N_CELLS, ceil(sqrt(n))),
    the IVF nlist rule) via a 1-row broadcast aggregate, so total search
    cost stays n_queries * sqrt(n) instead of going quadratic under a
    fixture-constant grid — the pathology the 8x scale replica measured
    on the kNN-graph twin (SCALE.md scaling table)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(emb)
    queries = assigned.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        "cell_id",
    )
    return _topk(_scored(queries, assigned, "cell_id"), TOP_K)


@register(
    "embedding_near_dup_pairs",
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % 5 = 0
                   ORDER BY md5('ep:' || vec_id), vec_id LIMIT {EMB_SAMPLE_CAP})
        SELECT a.vec_id AS id_l, b.vec_id AS id_r,
               round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine
        FROM v a JOIN v b ON a.vec_id < b.vec_id
        WHERE {cosine_sql('a.embedding', 'b.embedding')} > 0.3
    """,
    doc="[ext] embedding-cosine near-duplicate pairs over a FIXED-SIZE "
    f"deterministic sample (md5-ordered cut of the %5 mod sample, cap "
    f"{EMB_SAMPLE_CAP} — a mod-only sample scales with the corpus and made "
    "the all-pairs stage quadratic, x3.8 at the 2x replica; threshold "
    "tuned to the fixture's near-orthogonal vectors; production pairs "
    "come from LSH/IVF buckets).",
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the all-pairs stage is bounded by the cap, not the corpus —
    the exactness-baseline pattern; the corpus-sized path is the banded
    LSH / IVF-bucketed family."""
    emb = _md5_pool(
        load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0),
        "vec_id",
        "ep:",
        EMB_SAMPLE_CAP,
    )
    lhs = emb.select(
        F.col("vec_id").alias("id_l"), F.col("embedding").alias("emb_l")
    ).withColumn("norm_l", l2_norm("emb_l"))
    rhs = emb.select(
        F.col("vec_id").alias("id_r"), F.col("embedding").alias("emb_r")
    ).withColumn("norm_r", l2_norm("emb_r"))
    # the cosine lands in a single projection so filter/select share it
    cos = _gated_cosine("emb_l", "norm_l", "emb_r", "norm_r")
    return (
        lhs.join(rhs, F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r", cos.alias("cosine"))
        .filter(F.col("cosine") > 0.3)
        .select("id_l", "id_r", F.round("cosine", 6).alias("cosine"))
    )


def _hyperplanes() -> list[list[float]]:
    rng = np.random.default_rng(42)
    return rng.standard_normal((N_PLANES, 64)).tolist()  # the embeddings' dimension


def _hyperplane_bucket_sql() -> str:
    """DuckDB rendering of the bucket assignment: the seeded plane matrix is
    folded into the SQL as literal double lists (repr round-trips each
    float64 exactly), and each dot is the SAME in-order double fold as the
    Spark side — so even the sign decisions at the bucket boundary agree
    bit-for-bit."""
    terms = []
    for i, plane in enumerate(_hyperplanes()):
        lit = "[" + ", ".join(repr(float(x)) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN {dot_sql('embedding', lit)} > 0 THEN {1 << i} ELSE 0 END)"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "ann_hyperplane_lsh_buckets",
    oracle="SELECT vec_id, "
    + _hyperplane_bucket_sql()
    + " AS bucket, label FROM embeddings",
    doc="[ext] random-hyperplane (SimHash-for-vectors) LSH: 8-bit sign bucket per "
    "vector — the bucketed ANN candidate generator. Fully oracle-checked: the "
    "seeded plane constants are SQL literals, so DuckDB reproduces every "
    "bucket bit (plus property tests on bucket-mate cosine).",
)
def ann_hyperplane_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one narrow map — each vector dots 8 constant planes folded into
    the plan (no shuffle at all); the bucket id then drives a co-partitioned
    candidate join instead of any all-pairs comparison."""
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _hyperplanes()
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        plane_col = F.array(*[F.lit(float(x)) for x in plane])
        d = F.aggregate(
            F.zip_with("embedding", plane_col, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return emb.select("vec_id", bucket.alias("bucket"), "label")


N_PROBE = 2  # multi-probe IVF: search the query's 2 nearest cells


def _ivf_probes(emb: DataFrame, n_probe: int) -> tuple[DataFrame, DataFrame]:
    """Fixed-grid IVF (seed centroids vec_id < N_CELLS): ``assigned``
    ``(vec_id, embedding, cell_id)`` puts each vector in its nearest cell,
    and ``probes`` ``(query_id, query_vec, cell_id, probe_rn)`` lists each
    query's ``n_probe`` nearest cells, ``probe_rn`` their rank. Both come
    from ONE ranked broadcast cross join (rounded cosine desc, cell_id
    asc)."""
    cent = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec")
    )
    w_assign = W.partitionBy("vec_id").orderBy(
        F.desc(F.round(cosine_similarity("embedding", "cell_vec"), 6)),
        F.asc("cell_id"),
    )
    ranked = emb.crossJoin(F.broadcast(cent)).withColumn(
        "rn", F.row_number().over(w_assign)
    )
    assigned = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", "cell_id"
    )
    probes = ranked.filter(
        (F.col("vec_id") % QUERY_MOD == 0) & (F.col("rn") <= n_probe)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        "cell_id",
        F.col("rn").alias("probe_rn"),
    )
    return assigned, probes

_SUM_FOLD_SQL = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform({a}, x -> CAST(x AS DOUBLE))), (acc, x) -> acc + x)"
)


@register(
    "hof_embedding_stats",
    oracle=f"""
        SELECT vec_id,
               round(sqrt({dot_sql('embedding', 'embedding')}), 6)        AS l2,
               round({_SUM_FOLD_SQL.format(a='embedding')} / len(embedding), 6) AS mean_val,
               CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT)    AS pos_count,
               round(CAST(list_max(embedding) AS DOUBLE), 6)              AS max_val,
               len(list_filter(embedding, x -> abs(x) > 3)) > 0           AS has_extreme
        FROM embeddings
    """,
    doc="[ext] higher-order array functions as the vector feature path: "
    "transform/filter/aggregate/exists evaluated JVM-side per row — the "
    "column math a feature-store derives from raw embeddings without a UDF.",
)
def hof_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one narrow projection, no shuffle, no Python. Folds are
    index-ordered double sums, identical to the DuckDB list_reduce — so
    even the last float bit agrees before the rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    total = F.aggregate(as_double, F.lit(0.0), lambda acc, x: acc + x)
    return emb.select(
        "vec_id",
        F.round(l2_norm("embedding"), 6).alias("l2"),
        F.round(total / F.size("embedding"), 6).alias("mean_val"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias("pos_count"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
        F.exists("embedding", lambda x: F.abs(x) > 3).alias("has_extreme"),
    )


@register(
    "ann_ivf_multiprobe_topk",
    oracle=f"""
        WITH cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings WHERE vec_id < {N_CELLS}
        ),
        ranked_cells AS (
            SELECT e.vec_id, e.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql('e.embedding', 'c.cell_vec')}, 6) DESC,
                                c.cell_id) AS rn
            FROM embeddings e CROSS JOIN cent c
        ),
        assigned AS (
            SELECT vec_id, embedding, cell_id FROM ranked_cells WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS query_id, embedding AS query_vec, cell_id
            FROM ranked_cells
            WHERE vec_id % {QUERY_MOD} = 0 AND rn <= {N_PROBE}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   round({cosine_sql('p.query_vec', 'a.embedding')}, 6) AS cosine
            FROM probes p JOIN assigned a
              ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine, rnk
        FROM (SELECT query_id, neighbor_id, cosine,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS rnk
              FROM scored)
        WHERE rnk <= {TOP_K}
    """,
    doc=f"[ext] multi-probe IVF ANN: each query searches its {N_PROBE} nearest "
    "cells instead of 1 — the standard recall lever (candidates scale with "
    "n_probe/cells, never with n²); cell assignment stays oracle-checked.",
)
def ann_ivf_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: identical layout to ann_ivf_topk — the probe list is a ≤2-rows-
    per-query broadcast, the corpus stays put, and each query scores
    ~N_PROBE·n/cells vectors. Recall rises without touching the corpus side."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, probes = _ivf_probes(emb, N_PROBE)
    return _topk(_scored(probes, assigned, "cell_id"), TOP_K)


SEMDEDUP_TAU = 0.3  # within-cell cosine threshold (fixture vectors are near-orthogonal)


@register(
    "semdedup_cell_survivors",
    oracle=f"""
        WITH knc AS (
            SELECT greatest({N_CELLS}, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS n_cells
            FROM embeddings
        ),
        cent AS (
            SELECT vec_id AS cell_id, embedding AS cell_vec
            FROM embeddings, knc WHERE vec_id < knc.n_cells
        ),
        assigned AS (
            SELECT vec_id, embedding, cell_id
            FROM (
                SELECT e.vec_id, e.embedding, c.cell_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({cosine_sql('e.embedding', 'c.cell_vec')}, 6) DESC,
                                    c.cell_id) AS rn
                FROM embeddings e CROSS JOIN cent c
            ) WHERE rn = 1
        )
        SELECT a.vec_id, a.cell_id
        FROM assigned a
        WHERE NOT EXISTS (
            SELECT 1 FROM assigned b
            WHERE b.cell_id = a.cell_id AND b.vec_id < a.vec_id
              AND round({cosine_sql('a.embedding', 'b.embedding')}, 6) > {SEMDEDUP_TAU}
        )
    """,
    doc="[ext] SemDeDup-style semantic dedup: vectors cluster to their "
    f"nearest of {N_CELLS} deterministic centroids, then any vector with a "
    f"lower-id cell-mate above cosine {SEMDEDUP_TAU} is dropped (one-pass "
    "lowest-id-keeper variant; the transitive-closure variant is the "
    "connected-components path in operators/components.py).",
)
def semdedup_cell_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the clustering bounds every comparison to cell-mates — the
    pair count is sum(|cell|^2), never n^2, and cells are the partition key
    (each executor dedups its own cells; no cross-cell traffic). The dup
    set stays (id) pairs-thin and the final anti-join never widens the
    vector relation. This is the embedding twin of the MinHash-LSH doc
    path: cluster -> compare-within-bucket -> survivor anti-join. The
    cell count sqrt-scales with the corpus (the IVF nlist rule, via a
    1-row broadcast aggregate mirrored in the oracle CTE) — with a
    fixture-constant grid the within-cell pair stage measured 12.7x wall
    at the 8x scale replica, the same quadratic the kNN graph had."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(emb)
    lhs = assigned.select(
        "cell_id", F.col("vec_id").alias("id_l"), F.col("embedding").alias("emb_l")
    ).withColumn("norm_l", l2_norm("emb_l"))
    rhs = assigned.select(
        "cell_id", F.col("vec_id").alias("id_r"), F.col("embedding").alias("emb_r")
    ).withColumn("norm_r", l2_norm("emb_r"))
    cos = _gated_cosine("emb_l", "norm_l", "emb_r", "norm_r")
    dups = (
        lhs.join(rhs, "cell_id")
        .filter(F.col("id_l") < F.col("id_r"))
        .filter(F.round(cos, 6) > SEMDEDUP_TAU)
        .select(F.col("id_r").alias("vec_id"))
        .distinct()
    )
    return assigned.join(dups, "vec_id", "left_anti").select("vec_id", "cell_id")


@register(
    "embedding_int8_quantization",
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
            FROM embeddings
        ),
        scaled AS (
            SELECT vec_id, vec,
                   -- step is DEFINED at 9-decimal precision so downstream
                   -- math is identical cross-engine (and Spark's projection
                   -- collapse folding the output rounding into the shared
                   -- expression is then semantics-preserving)
                   CASE WHEN list_max(list_transform(vec, x -> abs(x))) > 0
                        THEN round(list_max(list_transform(vec, x -> abs(x))) / 127.0, 9)
                        ELSE 1.0 END AS step
            FROM v
        ),
        err AS (
            SELECT vec_id, step,
                   list_transform(
                       vec,
                       x -> (x - greatest(least(round(x / step), 127.0), -127.0) * step)
                            * (x - greatest(least(round(x / step), 127.0), -127.0) * step)
                   ) AS sq,
                   len(list_filter(
                       vec, x -> abs(round(x / step)) >= 127.0)) AS n_sat
            FROM scaled
        )
        SELECT vec_id,
               step,
               CAST(n_sat AS BIGINT) AS n_sat,
               round(list_reduce(list_prepend(CAST(0 AS DOUBLE), sq),
                                 (acc, x) -> acc + x) / len(sq), 12) AS mse
        FROM err
    """,
    doc="[ext] int8 symmetric scalar quantization of the embedding column: "
    "per-vector step size (absmax/127), saturation count, and "
    "reconstruction MSE — the compression audit a vector store runs before "
    "committing to a quantized index (4x memory cut at 100 TB).",
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one narrow projection, no shuffle, no Python — quantize,
    dequantize, and error-fold are all element-wise higher-order functions
    in whole-stage codegen. Fold order is index order on both engines, so
    values agree to the last bit before rounding."""
    emb = load_table(spark, sf_dir, "embeddings")
    vec = F.transform("embedding", lambda x: x.cast("double"))
    absmax = F.array_max(F.transform(vec, F.abs))
    step = F.when(absmax > 0, F.round(absmax / F.lit(127.0), 9)).otherwise(F.lit(1.0))
    scaled = emb.select("vec_id", vec.alias("vec"), step.alias("step"))

    def sq_err(x):
        q = F.greatest(F.least(F.round(x / F.col("step")), F.lit(127.0)), F.lit(-127.0))
        d = x - q * F.col("step")
        return d * d

    sq = F.transform("vec", sq_err)
    n_sat = F.size(F.filter("vec", lambda x: F.abs(F.round(x / F.col("step"))) >= 127.0))
    mse = F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x) / F.size(sq)
    return scaled.select(
        "vec_id",
        "step",
        n_sat.cast("long").alias("n_sat"),
        F.round(mse, 12).alias("mse"),
    )


# Oracle reuse: wrap the two already-registered oracles as derived tables
# (DuckDB allows WITH inside a parenthesized subquery), so the recall
# metric is checked against the exact same text the component queries use.
from .registry import QUERIES as _Q  # noqa: E402

_RECALL_ORACLE = f"""
    WITH exact AS (SELECT * FROM ({_Q['ann_bruteforce_topk'].oracle}) x),
         approx AS (SELECT * FROM ({_Q['ann_ivf_topk'].oracle}) y),
         hits AS (
             SELECT e.query_id, count(a.neighbor_id) AS n_hits
             FROM exact e
             LEFT JOIN approx a
               ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             GROUP BY e.query_id
         )
    SELECT query_id, n_hits,
           round(CAST(n_hits AS DOUBLE) / {TOP_K}, 6) AS recall_at_k
    FROM hits
"""


@register(
    "ann_ivf_recall_at_k",
    oracle=_RECALL_ORACLE,
    doc=f"[ext] ANN evaluation: per-query recall@{TOP_K} of the IVF index "
    "against the exact brute-force top-k — the measure-don't-guess metric "
    "that justifies (or rejects) an approximate index before production. "
    "Oracle composes the two component queries' own oracle texts.",
)
def ann_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both component plans keep the corpus unshuffled (broadcast
    queries / cell-keyed join); the recall join itself is |Q|·k rows."""
    return _recall(ann_bruteforce_topk(spark, sf_dir), ann_ivf_topk(spark, sf_dir))


# ---- Product Quantization + ADC (the memory-bound scale path) --------------

PQ_M = 8  # subspaces
PQ_SUB = 8  # dims per subspace (PQ_M * PQ_SUB = 64)
PQ_KS = 16  # codewords per subspace (codebook = subvectors of vec_id < 16)

_D2_SQL = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), p -> "
    "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
    "(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), "
    "(acc, x) -> acc + x)"
)


def _sq_dist(a, b):
    """Σ (a_i - b_i)² in double, folded in index order (cross-engine IEEE
    identical; the DuckDB twin is _D2_SQL)."""
    diff2 = F.zip_with(
        F.col(a) if isinstance(a, str) else a,
        F.col(b) if isinstance(b, str) else b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x)


_PQ_CTES = f"""normed AS (
            SELECT vec_id,
                   CASE WHEN sqrt({dot_sql('embedding', 'embedding')}) > 0
                        THEN list_transform(embedding, x -> CAST(x AS DOUBLE)
                             / sqrt({dot_sql('embedding', 'embedding')}))
                        ELSE list_transform(embedding,
                                            x -> CAST(0 AS DOUBLE))
                   END AS nv
            FROM embeddings
        ),
        subs AS (
            SELECT e.vec_id, sp.s,
                   e.nv[sp.s * {PQ_SUB} + 1 : sp.s * {PQ_SUB} + {PQ_SUB}] AS sub
            FROM normed e, (SELECT unnest(range(0, {PQ_M})) AS s) sp
        ),
        codebook AS (
            SELECT s, vec_id AS code, sub AS cw FROM subs WHERE vec_id < {PQ_KS}
        ),
        assigned AS (
            SELECT vec_id, s, code FROM (
                SELECT sub.vec_id, sub.s, cb.code,
                       row_number() OVER (
                           PARTITION BY sub.vec_id, sub.s
                           ORDER BY {_D2_SQL.format(a='sub.sub', b='cb.cw')}, cb.code
                       ) AS rn
                FROM subs sub JOIN codebook cb USING (s)
            ) WHERE rn = 1
        ),
        lut AS (
            SELECT q.vec_id AS query_id, cb.s, cb.code,
                   CAST(round({_D2_SQL.format(a='q.sub', b='cb.cw')}, 9)
                        AS DECIMAL(18,9)) AS pd
            FROM subs q JOIN codebook cb USING (s)
            WHERE q.vec_id % {QUERY_MOD} = 0
        )"""

_PQ_ORACLE = f"""
        WITH {_PQ_CTES},
        scored AS (
            SELECT l.query_id, a.vec_id AS neighbor_id, sum(l.pd) AS adc
            FROM assigned a
            JOIN lut l ON l.s = a.s AND l.code = a.code
            WHERE a.vec_id <> l.query_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               CAST(round(CAST(adc AS DOUBLE), 6) AS DOUBLE) AS adc_dist,
               rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc, neighbor_id) AS rnk
              FROM scored)
        WHERE rnk <= {TOP_K}
"""


def _pq_parts(spark: SparkSession, sf_dir: str):
    """Shared PQ building blocks: (normalized embeddings, subvectors,
    per-vector codes, per-query ADC lookup table) under the seed codebook
    (the subvectors of vec_id < PQ_KS)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # normalize FIRST so ADC's L2 ordering matches the cosine ordering the
    # exact baseline ranks by (||a-b||² = 2 - 2·cos on unit vectors);
    # zero-norm vectors map to the zero vector. The division is
    # element-ordered double math, IEEE-identical to the oracle's
    # list_transform.
    nrm = l2_norm("embedding")
    emb = emb.select(
        "vec_id",
        F.when(nrm > 0, F.transform("embedding", lambda x: x.cast("double") / nrm))
        .otherwise(F.transform("embedding", lambda x: F.lit(0.0)))
        .alias("embedding"),
    )
    structs = F.array(
        *[
            F.struct(
                F.lit(s).alias("s"),
                F.slice("embedding", s * PQ_SUB + 1, PQ_SUB).alias("sub"),
            )
            for s in range(PQ_M)
        ]
    )
    subs = emb.select("vec_id", F.explode(structs).alias("x")).select(
        "vec_id", F.col("x.s").alias("s"), F.col("x.sub").alias("sub")
    )
    cb = subs.filter(F.col("vec_id") < PQ_KS).select(
        "s", F.col("vec_id").alias("code"), F.col("sub").alias("cw")
    )
    return (emb, subs, *_pq_encode(subs, cb))


def _pq_encode(subs: DataFrame, cb: DataFrame, key_digits: int | None = None):
    """Encode against codebook ``cb`` ``(s, code, cw)``: ``assigned``
    ``(vec_id, s, code)``, each subvector's nearest codeword (ties to the
    lower code; the distance key is rounded to ``key_digits`` when given),
    and the per-query ADC lookup table ``lut`` ``(query_id, s, code, pd)``
    with partial distances rounded to 9 dp as DECIMAL."""
    d2 = _sq_dist("sub", "cw")
    key = d2 if key_digits is None else F.round(d2, key_digits)
    w_assign = W.partitionBy("vec_id", "s").orderBy(key.asc(), F.asc("code"))
    assigned = (
        subs.join(F.broadcast(cb), "s")
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", "code")
    )
    lut = (
        subs.filter(F.col("vec_id") % QUERY_MOD == 0)
        .withColumnRenamed("vec_id", "query_id")
        .join(F.broadcast(cb), "s")
        .select(
            "query_id",
            "s",
            "code",
            F.round(d2, 9).cast("decimal(18,9)").alias("pd"),
        )
    )
    return assigned, lut


def _adc_topk(assigned: DataFrame, lut: DataFrame) -> DataFrame:
    """ADC top-k: codes join the broadcast lookup table, the self pair is
    dropped, the partial distances sum per (query, vector), and the rank
    is (adc asc, neighbor_id asc): ``(query_id, neighbor_id, adc, rnk)``.
    Raw vectors are never read."""
    scored = (
        assigned.join(F.broadcast(lut), ["s", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pd").alias("adc"))
    )
    return _topk(scored, TOP_K, score="adc", desc=False)


@register(
    "ann_pq_adc_topk",
    oracle=_PQ_ORACLE,
    doc=f"[ext] Product Quantization ANN: {PQ_M}x{PQ_SUB}-dim subspaces, "
    f"{PQ_KS} data-derived codewords each (subvectors of vec_id < {PQ_KS}, "
    "the IVF seed-centroid trick applied to PQ so the whole index is "
    "oracle-checkable), asymmetric-distance top-k per query. Partial "
    "distances round to 9dp and sum as DECIMAL so the 8-term ADC total is "
    "bit-identical on both engines regardless of summation order.",
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: PQ is the MEMORY-bound ANN tier — each vector compresses
    64 floats -> 8 codes (32x), so a 100 TB embedding corpus scans as
    ~3 TB of codes. Encoding is a broadcast-codebook window argmin (one
    pass); the ADC scan joins codes against the broadcast |Q|x{m}x{ks}
    lookup table and never touches raw vectors. Composes with IVF
    (IVF-PQ): cells prune the scan, codes compress what remains."""
    _emb, _subs, assigned, lut = _pq_parts(spark, sf_dir)
    return _adc_topk(assigned, lut).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("adc").cast("double"), 6).alias("adc_dist"),
        "rnk",
    )


_PQ_RECALL_ORACLE = f"""
    WITH exact AS (SELECT * FROM ({_Q['ann_bruteforce_topk'].oracle}) x),
         approx AS (SELECT * FROM ({_PQ_ORACLE}) y),
         hits AS (
             SELECT e.query_id, count(a.neighbor_id) AS n_hits
             FROM exact e
             LEFT JOIN approx a
               ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
             GROUP BY e.query_id
         )
    SELECT query_id, n_hits,
           round(CAST(n_hits AS DOUBLE) / {TOP_K}, 6) AS recall_at_k
    FROM hits
"""


@register(
    "ann_pq_recall_at_k",
    oracle=_PQ_RECALL_ORACLE,
    doc=f"[ext] recall@{TOP_K} of the PQ/ADC index against exact "
    "brute-force — quantization loss measured in-engine; oracle composes "
    "the component oracles. NOTE: the synthetic fixture's isotropic "
    "Gaussian vectors are PQ-adversarial (no cluster structure, near-tied "
    "exact margins), so measured recall is intentionally low (~0.14 at "
    "sf0.01) — the measurement, not the index, is the deliverable; real "
    "clustered embeddings and trained codebooks raise it.",
)
def ann_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both components keep the corpus unshuffled; the recall join
    is |Q|·k rows."""
    return _recall(ann_bruteforce_topk(spark, sf_dir), ann_pq_adc_topk(spark, sf_dir))


_IVFPQ_ORACLE = f"""
        WITH {_PQ_CTES},
        cells AS (
            SELECT vec_id AS cell_id, nv AS cell_vec
            FROM normed WHERE vec_id < {N_CELLS}
        ),
        cellmap AS (
            SELECT vec_id, cell_id FROM (
                SELECT n.vec_id, c.cell_id,
                       row_number() OVER (
                           PARTITION BY n.vec_id
                           ORDER BY round({dot_sql('n.nv', 'c.cell_vec')}, 6)
                                        DESC,
                                    c.cell_id
                       ) AS rn
                FROM normed n CROSS JOIN cells c
            ) WHERE rn = 1
        ),
        scored AS (
            SELECT l.query_id, a.vec_id AS neighbor_id, sum(l.pd) AS adc
            FROM assigned a
            JOIN cellmap cm ON cm.vec_id = a.vec_id
            JOIN lut l ON l.s = a.s AND l.code = a.code
            JOIN cellmap qm ON qm.vec_id = l.query_id
                           AND qm.cell_id = cm.cell_id
            WHERE a.vec_id <> l.query_id
            GROUP BY 1, 2
        )
        SELECT query_id, neighbor_id,
               CAST(round(CAST(adc AS DOUBLE), 6) AS DOUBLE) AS adc_dist,
               rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                           ORDER BY adc, neighbor_id) AS rnk
              FROM scored)
        WHERE rnk <= {TOP_K}
"""


@register(
    "ann_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    doc=f"[ext] IVF-PQ: the two pruning geometries composed — {N_CELLS} "
    "IVF cells (unit-dot argmax assignment on the normalized vectors) "
    "restrict the ADC scan to the query's cell, PQ codes compress what "
    "remains. The full production ANN layout (FAISS IVFPQ's shape), "
    "entirely SQL-expressible and oracle-checked.",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: at 100 TB the cell id becomes the partition key of the code
    table (scan prunes to nprobe cells) and each vector costs 8 bytes in
    it — the index fits where the raw corpus could not. Assignment and
    encoding are one broadcast pass each; the search never reads raw
    vectors."""
    emb, _subs, assigned, lut = _pq_parts(spark, sf_dir)
    cells = emb.filter(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cell_vec")
    )
    w_cell = W.partitionBy("vec_id").orderBy(
        F.desc(F.round(dot("embedding", "cell_vec"), 6)), F.asc("cell_id")
    )
    cellmap = (
        emb.crossJoin(F.broadcast(cells))
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell_id")
    )
    q_cell = cellmap.select(
        F.col("vec_id").alias("query_id"), F.col("cell_id").alias("q_cell_id")
    )
    scored = (
        assigned.join(cellmap, "vec_id")
        .join(F.broadcast(lut), ["s", "code"])
        .join(F.broadcast(q_cell), "query_id")
        .filter(
            (F.col("vec_id") != F.col("query_id"))
            & (F.col("cell_id") == F.col("q_cell_id"))
        )
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("pd").alias("adc"))
    )
    return _topk(scored, TOP_K, score="adc", desc=False).select(
        "query_id",
        "neighbor_id",
        F.round(F.col("adc").cast("double"), 6).alias("adc_dist"),
        "rnk",
    )


# ---- trained PQ (sample-trained codebooks — the quality path) --------------

PQ_TRAIN_CAP = 4096  # driver-side training sample bound (rows x 64 doubles)
PQ_TRAIN_ITERS = 8


def _train_pq_codebooks(emb: DataFrame):
    """Per-subspace Lloyd's k-means on a BOUNDED deterministic sample.

    PQ training is sample-based by design at any corpus size (FAISS trains
    on ~10⁵-10⁶ vectors for billion-vector indexes): the driver holds at
    most PQ_TRAIN_CAP x 64 doubles. Deterministic: ordered sample, first-
    KS-distinct init, round-before-argmin assignment, empty clusters keep
    their previous centroid.
    """
    rows = (
        emb.orderBy("vec_id").limit(PQ_TRAIN_CAP).collect()
    )
    if not rows:  # empty corpus: zero codebooks (downstream output is
        # empty anyway — every per-vector relation has no rows)
        return [np.zeros((PQ_KS, PQ_SUB)) for _ in range(PQ_M)]
    X = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
    books = []
    for s in range(PQ_M):
        sub = X[:, s * PQ_SUB:(s + 1) * PQ_SUB]
        C = sub[:PQ_KS].copy()
        for _ in range(PQ_TRAIN_ITERS):
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            code = np.round(d2, 9).argmin(axis=1)  # ties -> smallest code
            for j in range(PQ_KS):
                members = sub[code == j]
                if len(members):
                    C[j] = members.mean(axis=0)
        books.append(C)
    return books


@register(
    "ann_pq_trained_recall_at_k",
    # No oracle: the codebooks are trained at runtime (deterministically,
    # but from data the static oracle text cannot embed). The seed-codebook
    # twin ann_pq_recall_at_k IS oracle-checked, and
    # tests/test_operators.py::test_trained_pq_beats_seed_codebooks pins
    # that training improves recall on the fixture.
    doc=f"twin: ann_pq_recall_at_k (oracle-checked seed-codebook form of "
    f"the same encode/ADC plan; see COVERAGE.md rows-only table) — "
    f"[ext] recall@{TOP_K} of PQ with TRAINED codebooks (per-subspace "
    f"Lloyd's on a deterministic ≤{PQ_TRAIN_CAP}-row sample) against exact "
    "brute force — the quality path over the oracle-checked seed-codebook "
    "index; rows-only by design.",
)
def ann_pq_trained_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: training state is bounded (KS x d doubles per subspace);
    encode/ADC are the same broadcast passes as the seed-codebook index —
    the corpus never shuffles and raw vectors are read, not moved."""
    emb, subs, _assigned, _lut = _pq_parts(spark, sf_dir)
    books = _train_pq_codebooks(emb)
    cb_rows = [
        (s, j, [float(x) for x in books[s][j]])
        for s in range(PQ_M)
        for j in range(PQ_KS)
    ]
    cb = local_relation(spark, cb_rows, "s int, code long, cw array<double>")
    # the trained path ranks codewords by the 9-dp ROUNDED distance (the
    # training loop's argmin key); the seed path's oracle orders unrounded
    approx = _adc_topk(*_pq_encode(subs, cb, key_digits=9))
    return _recall(ann_bruteforce_topk(spark, sf_dir), approx)


# ---- kNN graph construction -------------------------------------------------

KNN_GRAPH_K = 3  # neighbors per vertex
KNN_GRAPH_MOD = 4  # 1-in-4 vectors participate (bounds the fixture cell size)

_KNN_EDGES_CTES = f"""
    knc AS (
        SELECT greatest({N_CELLS}, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS n_cells
        FROM embeddings WHERE vec_id % {KNN_GRAPH_MOD} = 0
    ),
    cent AS (
        SELECT vec_id AS cell_id, embedding AS cell_vec
        FROM embeddings, knc WHERE vec_id < knc.n_cells
    ),
    assigned AS (
        SELECT vec_id, embedding, cell_id
        FROM (
            SELECT e.vec_id, e.embedding, c.cell_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({cosine_sql('e.embedding', 'c.cell_vec')}, 6) DESC,
                                c.cell_id) AS rn
            FROM embeddings e CROSS JOIN cent c
            WHERE e.vec_id % {KNN_GRAPH_MOD} = 0
        ) WHERE rn = 1
    ),
    edges AS (
        SELECT src_id, dst_id, cosine, rnk
        FROM (SELECT src_id, dst_id, cosine,
                     row_number() OVER (PARTITION BY src_id
                                        ORDER BY cosine DESC, dst_id) AS rnk
              FROM (SELECT a.vec_id AS src_id, b.vec_id AS dst_id,
                           round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cosine
                    FROM assigned a JOIN assigned b
                      ON a.cell_id = b.cell_id AND a.vec_id <> b.vec_id))
        WHERE rnk <= {KNN_GRAPH_K}
    )
"""


def _knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared IVF-bounded kNN-graph edge relation: every participating
    vector is a query against its own cell.

    The cell count scales with the corpus — ``max(N_CELLS, ceil(sqrt(n)))``
    over the participating vectors — instead of staying a fixture
    constant: with FIXED cells the per-cell all-pairs stage is quadratic
    in corpus growth (measured 15.7x wall-time at an 8x data replica,
    the one super-linear headliner in the SCALE.md scaling table), while
    sqrt-scaled cells balance the n*cells assignment stage against the
    n*(n/cells) pair stage, the classic IVF nlist rule (shared helper
    _ivf_assign — which also keeps the arg-max window NARROW; the oracle
    CTE computes the identical formula, so cell assignment stays
    hash-checked end to end)."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(emb, mod=KNN_GRAPH_MOD).withColumn(
        "nrm", l2_norm("embedding")
    )
    lhs = assigned.select(
        F.col("vec_id").alias("src_id"),
        F.col("embedding").alias("src_vec"),
        F.col("nrm").alias("src_norm"),
        "cell_id",
    )
    rhs = assigned.select(
        F.col("vec_id").alias("dst_id"),
        F.col("embedding").alias("dst_vec"),
        F.col("nrm").alias("dst_norm"),
        "cell_id",
    )
    cos = _gated_cosine("src_vec", "src_norm", "dst_vec", "dst_norm")
    scored = (
        lhs.join(rhs, "cell_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .select("src_id", "dst_id", F.round(cos, 6).alias("cosine"))
    )
    return _topk(scored, KNN_GRAPH_K, by=("src_id",), nb="dst_id")


@register(
    "knn_graph_edges",
    headline=True,
    oracle="WITH " + _KNN_EDGES_CTES + "\n    SELECT src_id, dst_id, cosine, rnk FROM edges",
    doc=f"[ext] kNN-graph construction: every participating vector's top-"
    f"{KNN_GRAPH_K} neighbors within its IVF cell — the edge list that "
    "seeds graph-based ANN indexes (HNSW/NSG lineage) and semantic-dedup "
    "clustering.",
)
def knn_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the all-vs-all is bounded per IVF cell (n/cells each side),
    so the pair stage is sum-of-squares over cells, not n²; the per-source
    top-k is a WindowGroupLimit keyed on src_id. At 100 TB the cells are
    the partition keys — each executor builds its cell's subgraph locally."""
    return _knn_edges(spark, sf_dir)


@register(
    "mutual_knn_pairs",
    oracle="WITH " + _KNN_EDGES_CTES + """
    SELECT e1.src_id AS id_l, e1.dst_id AS id_r, e1.cosine
    FROM edges e1 JOIN edges e2
      ON e1.src_id = e2.dst_id AND e1.dst_id = e2.src_id
    WHERE e1.src_id < e1.dst_id
    """,
    doc="[ext] mutual-kNN pairs: edges present in BOTH directions of the "
    "kNN graph — the high-precision pair set semantic dedup and "
    "agglomerative clustering start from.",
)
def mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: self-join of the n·k edge relation on the reversed key —
    edge lists are tiny relative to the corpus, and the join keys are
    (src,dst) hashes with no skew. The edge subtree is computed twice
    here; a pipeline materializing the graph would persist/bucket it by
    src_id and reuse."""
    edges = _knn_edges(spark, sf_dir)
    e1 = edges.select("src_id", "dst_id", "cosine")
    e2 = edges.select(
        F.col("src_id").alias("dst_id"), F.col("dst_id").alias("src_id")
    )
    return (
        e1.join(e2, ["src_id", "dst_id"])
        .filter(F.col("src_id") < F.col("dst_id"))
        .select(
            F.col("src_id").alias("id_l"),
            F.col("dst_id").alias("id_r"),
            "cosine",
        )
    )


# ---- Matryoshka truncation + retrieve-then-rerank ---------------------------

MRL_DIM = 16  # truncated prefix dimensionality (of 64)
RERANK_CAND = 20  # stage-1 candidates per query before full-dim rerank


@register(
    "ann_matryoshka_recall_at_k",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qv,
                   embedding[1:{MRL_DIM}] AS qt
            FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
            ORDER BY md5('mq:' || vec_id), vec_id LIMIT {EVAL_QUERY_CAP}
        ),
        c AS (
            SELECT vec_id, embedding AS cv, embedding[1:{MRL_DIM}] AS ct
            FROM embeddings
        ),
        full_topk AS (
            SELECT query_id, vec_id, rnk FROM (
                SELECT q.query_id, c.vec_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY round({cosine_sql('q.qv', 'c.cv')}, 6) DESC,
                                    c.vec_id) AS rnk
                FROM q JOIN c ON c.vec_id <> q.query_id
            ) WHERE rnk <= {TOP_K}
        ),
        trunc_topk AS (
            SELECT query_id, vec_id, rnk FROM (
                SELECT q.query_id, c.vec_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY round({cosine_sql('q.qt', 'c.ct')}, 6) DESC,
                                    c.vec_id) AS rnk
                FROM q JOIN c ON c.vec_id <> q.query_id
            ) WHERE rnk <= {TOP_K}
        )
        SELECT f.query_id,
               round(CAST(count(t.vec_id) AS DOUBLE) / {TOP_K}, 6)
                   AS recall_at_k
        FROM full_topk f LEFT JOIN trunc_topk t
          ON f.query_id = t.query_id AND f.vec_id = t.vec_id
        GROUP BY f.query_id
    """,
    doc=f"[ext] Matryoshka truncation recall: top-{TOP_K} under the "
    f"first-{MRL_DIM}-dim prefix cosine vs the full 64-dim ground truth, "
    "per query — the measurement that decides how far MRL-style embedding "
    "truncation can cut index size before recall pays.",
)
def ann_matryoshka_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: truncation is a zero-copy slice (no re-embedding, no extra
    scan); both rankings share the query broadcast, and recall joins two
    query-keyed top-k relations — query-sized, not corpus-sized. The
    EVALUATION query pool is a fixed-size md5-ordered cut (r8 sweep: the
    mod-only pool tracked the corpus, making |Q| x |C| quadratic — x3.9 at
    the 2x replica); a recall estimate over a bounded query sample is the
    standard ANN-bench protocol anyway. Both rankings run on the
    broadcast-BLAS scorer (the MMR-pool precedent: pool <= EVAL_QUERY_CAP
    x d always fits the broadcast bound, and dense/HOF share the
    round-before-rank ascending-id contract, so the oracle is
    strategy-blind). The production win this measures: a {MRL_DIM}/64
    prefix index is 4x smaller and the full-dim vectors are only touched
    by rerank paths."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _md5_pool(
        emb.filter(F.col("vec_id") % QUERY_MOD == 0), "vec_id", "mq:", EVAL_QUERY_CAP
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.slice("embedding", 1, MRL_DIM).alias("qt"),
    )
    # bounded collect (<= EVAL_QUERY_CAP rows by the _md5_pool limit):
    # one driver action serves both rankings' query broadcasts
    q_rows = q.collect()
    c_trunc = emb.select("vec_id", F.slice("embedding", 1, MRL_DIM).alias("ct"))

    full = dense_topk_neighbors(
        q, emb, "query_id", "qv", "vec_id", "embedding", TOP_K,
        prefetched_queries=q_rows,
    ).select("query_id", F.col("neighbor_id").alias("vec_id"))
    trunc = dense_topk_neighbors(
        q, c_trunc, "query_id", "qt", "vec_id", "ct", TOP_K,
        prefetched_queries=q_rows,
    ).select(
        F.col("query_id").alias("t_qid"), F.col("neighbor_id").alias("t_vid")
    )
    return (
        full.join(
            trunc,
            (F.col("query_id") == F.col("t_qid")) & (F.col("vec_id") == F.col("t_vid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.round(F.count("t_vid").cast("double") / TOP_K, 6).alias("recall_at_k")
        )
    )


@register(
    "ann_rerank_two_stage",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qv,
                   embedding[1:{MRL_DIM}] AS qt
            FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
            ORDER BY md5('mq:' || vec_id), vec_id LIMIT {EVAL_QUERY_CAP}
        ),
        c AS (
            SELECT vec_id, embedding AS cv, embedding[1:{MRL_DIM}] AS ct
            FROM embeddings
        ),
        stage1 AS (
            SELECT query_id, vec_id, qv, cv FROM (
                SELECT q.query_id, c.vec_id, q.qv, c.cv,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY round({cosine_sql('q.qt', 'c.ct')}, 6) DESC,
                                    c.vec_id) AS rnk
                FROM q JOIN c ON c.vec_id <> q.query_id
            ) WHERE rnk <= {RERANK_CAND}
        )
        SELECT query_id, vec_id AS neighbor_id, cosine, rnk FROM (
            SELECT query_id, vec_id,
                   round({cosine_sql('qv', 'cv')}, 6) AS cosine,
                   row_number() OVER (PARTITION BY query_id
                       ORDER BY round({cosine_sql('qv', 'cv')}, 6) DESC,
                                vec_id) AS rnk
            FROM stage1
        ) WHERE rnk <= {TOP_K}
    """,
    doc=f"[ext] retrieve-then-rerank: stage 1 ranks by the cheap "
    f"{MRL_DIM}-dim prefix cosine and keeps {RERANK_CAND} candidates; "
    f"stage 2 reranks ONLY those by full-dim cosine for the final "
    f"top-{TOP_K} — the two-stage shape every production retrieval "
    "system uses (cheap index metric, expensive exact metric on a "
    "bounded candidate set).",
)
def ann_rerank_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the expensive full-dim metric touches RERANK_CAND rows per
    query instead of the corpus; stage 1 is the prefix-index scan (IVF/
    LSH-prunable like every other index path here). The rerank stage is
    query-keyed WindowGroupLimit on a candidate-sized relation. Query
    pool is the same fixed-size md5-ordered cut as
    ann_matryoshka_recall_at_k (r8 sweep: x3.1 at 2x with the mod-only
    pool), and stage 1 runs on the broadcast-BLAS scorer — the pool is
    <= EVAL_QUERY_CAP x MRL_DIM cells, always inside the broadcast bound,
    and dense/HOF share the round-before-rank ascending-id contract, so
    the oracle is strategy-blind (the ann_bruteforce/MMR precedent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = _md5_pool(
        emb.filter(F.col("vec_id") % QUERY_MOD == 0), "vec_id", "mq:", EVAL_QUERY_CAP
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.slice("embedding", 1, MRL_DIM).alias("qt"),
    )
    c_trunc = emb.select("vec_id", F.slice("embedding", 1, MRL_DIM).alias("ct"))
    stage1 = dense_topk_neighbors(
        q, c_trunc, "query_id", "qt", "vec_id", "ct", RERANK_CAND
    ).select("query_id", F.col("neighbor_id").alias("vec_id"))
    # rerank joins the candidate-sized relation (|Q| x RERANK_CAND rows)
    # back to the full-dim vectors: the candidate side broadcasts into the
    # corpus scan (hinted — its mapInPandas lineage hides the size from
    # the optimizer), so the corpus never shuffles
    cand = emb.select("vec_id", F.col("embedding").alias("cv")).join(
        F.broadcast(
            stage1.join(F.broadcast(q.select("query_id", "qv")), "query_id")
        ),
        "vec_id",
    )
    cand = cand.withColumn("cosine", F.round(cosine_similarity("qv", "cv"), 6))
    return _topk(cand, TOP_K, nb="vec_id").select(
        "query_id", F.col("vec_id").alias("neighbor_id"), "cosine", "rnk"
    )


@register(
    "label_centroid_cohesion",
    oracle=f"""
        WITH pos AS (
            SELECT vec_id, label,
                   unnest(embedding) AS x,
                   unnest(range(1, len(embedding) + 1)) AS pos
            FROM embeddings
        ),
        cent AS (
            SELECT label, pos, avg(CAST(x AS DOUBLE)) AS c
            FROM pos GROUP BY label, pos
        ),
        cvecs AS (
            SELECT label, list(c ORDER BY pos) AS cvec
            FROM cent GROUP BY label
        ),
        scored AS (
            SELECT e.label,
                   round({cosine_sql('e.embedding', 'v.cvec')}, 6) AS cos
            FROM embeddings e JOIN cvecs v USING (label)
        )
        SELECT label,
               count(*) AS n_vecs,
               round(avg(cos), 6) AS mean_cohesion,
               round(min(cos), 6) AS min_cohesion
        FROM scored GROUP BY label
    """,
    doc="[ext] per-label centroid cohesion: element-wise class centroids "
    "(posexplode + (label, dim) average + ordered re-assembly) and each "
    "vector's cosine to its own centroid — the embedding-quality probe "
    "(tight cohesion = linearly separable classes) computed without "
    "leaving the engine.",
)
def label_centroid_cohesion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the exploded (vec, dim) relation is corpus x dim rows but
    reduces immediately via partial+final agg to |labels| x dim; centroid
    arrays re-assemble with the array_sort-over-struct shape and
    BROADCAST back onto the corpus — one corpus-sized shuffle (the
    explode agg), everything after is label-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    )
    cent = pos.groupBy("label", "pos").agg(F.avg(F.col("x").cast("double")).alias("c"))
    cvecs = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s.c
        ).alias("cvec")
    )
    scored = emb.join(F.broadcast(cvecs), "label").select(
        "label", F.round(cosine_similarity("embedding", "cvec"), 6).alias("cos")
    )
    return scored.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.avg("cos"), 6).alias("mean_cohesion"),
        F.round(F.min("cos"), 6).alias("min_cohesion"),
    )


_NDCG_ORACLE = f"""
    WITH exact AS (SELECT * FROM ({_Q['ann_bruteforce_topk'].oracle}) x),
         approx AS (SELECT * FROM ({_Q['ann_ivf_topk'].oracle}) y),
         dcg AS (
             SELECT query_id,
                    sum(cosine / log2(rnk + 1)) AS dcg
             FROM approx GROUP BY query_id
         ),
         idcg AS (
             SELECT query_id,
                    sum(cosine / log2(rnk + 1)) AS idcg
             FROM exact GROUP BY query_id
         )
    SELECT i.query_id,
           round(coalesce(d.dcg, 0.0) / i.idcg, 6) AS ndcg_at_k
    FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
"""


@register(
    "ann_ivf_ndcg_at_k",
    oracle=_NDCG_ORACLE,
    doc=f"[ext] ANN evaluation, graded: per-query nDCG@{TOP_K} of the IVF "
    "ranking — gains are the (exact) cosines the index surfaced, the "
    "ideal is the brute-force ranking's DCG, so rank position and score "
    "quality both count (recall@k treats a rank-1 and rank-5 hit alike).",
)
def ann_ivf_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: same component plans as recall@k (corpus unshuffled); the
    DCG aggregation runs on |Q|·k rows."""
    log_denom = F.log2(F.col("rnk") + 1)
    dcg = (
        ann_ivf_topk(spark, sf_dir)
        .groupBy("query_id")
        .agg(F.sum(F.col("cosine") / log_denom).alias("dcg"))
    )
    idcg = (
        ann_bruteforce_topk(spark, sf_dir)
        .groupBy("query_id")
        .agg(F.sum(F.col("cosine") / log_denom).alias("idcg"))
    )
    return (
        idcg.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce("dcg", F.lit(0.0)) / F.col("idcg"), 6).alias(
                "ndcg_at_k"
            ),
        )
    )


_MRR_ORACLE = f"""
    WITH exact AS (SELECT * FROM ({_Q['ann_bruteforce_topk'].oracle}) x),
         approx AS (SELECT * FROM ({_Q['ann_ivf_topk'].oracle}) y),
         nn AS (SELECT query_id, neighbor_id FROM exact WHERE rnk = 1)
    SELECT n.query_id,
           CAST(coalesce(a.rnk, 0) AS BIGINT) AS nn_rank,
           round(CASE WHEN a.rnk IS NULL THEN 0.0
                      ELSE 1.0 / a.rnk END, 6) AS reciprocal_rank
    FROM nn n
    LEFT JOIN approx a
      ON a.query_id = n.query_id AND a.neighbor_id = n.neighbor_id
"""


@register(
    "ann_ivf_mrr_of_nn",
    oracle=_MRR_ORACLE,
    doc="[ext] ANN evaluation, position-sensitive: per-query reciprocal "
    "rank of the TRUE nearest neighbor (brute-force rank 1) inside the "
    "IVF ranking — MRR, the third leg of the standard retrieval-eval "
    "triad (recall@k counts hits, nDCG grades the whole list, MRR asks "
    "'how far down is THE answer'). nn_rank=0 / rr=0.0 when the index "
    "missed the true NN entirely. Oracle composes the two component "
    "queries' own registered oracle texts.",
)
def ann_ivf_mrr_of_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: same component plans as recall@k/nDCG (corpus unshuffled:
    broadcast queries / cell-keyed join); the final join matches |Q|
    single-NN rows against |Q|·k approx rows — evaluation-pool-sized,
    corpus-independent. Rank-1 of the brute-force list is deterministic
    on both engines (cosine rounded BEFORE ranking, ascending-id
    tie-break), so 'the true NN' is engine-independent."""
    nn = (
        ann_bruteforce_topk(spark, sf_dir)
        .filter(F.col("rnk") == 1)
        .select("query_id", "neighbor_id")
    )
    approx = ann_ivf_topk(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("a_neighbor_id"), "rnk"
    )
    j = nn.join(
        approx,
        (nn.query_id == approx.query_id)
        & (F.col("neighbor_id") == F.col("a_neighbor_id")),
        "left",
    )
    return j.select(
        nn.query_id,
        F.coalesce(F.col("rnk"), F.lit(0)).cast("long").alias("nn_rank"),
        F.round(
            F.when(F.col("rnk").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / F.col("rnk")
            ),
            6,
        ).alias("reciprocal_rank"),
    )


CURVE_PROBES = (1, 2, 4)  # nprobe operating points (max bounds the candidate set)

_CURVE_ORACLE = f"""
    WITH cent AS (
        SELECT vec_id AS cell_id, embedding AS cell_vec
        FROM embeddings WHERE vec_id < {N_CELLS}
    ),
    ranked_cells AS (
        SELECT e.vec_id, e.embedding, c.cell_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({cosine_sql('e.embedding', 'c.cell_vec')}, 6) DESC,
                            c.cell_id) AS rn
        FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
        SELECT vec_id, embedding, cell_id FROM ranked_cells WHERE rn = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS query_vec, cell_id,
               rn AS probe_rn
        FROM ranked_cells
        WHERE vec_id % {QUERY_MOD} = 0 AND rn <= {max(CURVE_PROBES)}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id AS neighbor_id, p.probe_rn,
               round({cosine_sql('p.query_vec', 'a.embedding')}, 6) AS cosine
        FROM probes p JOIN assigned a
          ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
    ),
    nps AS (SELECT unnest([{', '.join(str(p) for p in CURVE_PROBES)}]) AS nprobe),
    topk AS (
        SELECT nprobe, query_id, neighbor_id
        FROM (SELECT np.nprobe, s.query_id, s.neighbor_id,
                     row_number() OVER (PARTITION BY np.nprobe, s.query_id
                                        ORDER BY s.cosine DESC, s.neighbor_id)
                         AS rnk
              FROM scored s JOIN nps np ON s.probe_rn <= np.nprobe)
        WHERE rnk <= {TOP_K}
    ),
    exact AS (SELECT query_id, neighbor_id
              FROM ({_Q['ann_bruteforce_topk'].oracle}) x),
    perq AS (
        SELECT np.nprobe, e.query_id, count(t.neighbor_id) AS n_hits
        FROM exact e CROSS JOIN nps np
        LEFT JOIN topk t
          ON t.nprobe = np.nprobe AND t.query_id = e.query_id
         AND t.neighbor_id = e.neighbor_id
        GROUP BY np.nprobe, e.query_id
    )
    SELECT CAST(nprobe AS BIGINT) AS nprobe,
           count(*) AS n_queries,
           round(avg(CAST(n_hits AS DOUBLE) / {TOP_K}), 6) AS mean_recall_at_k
    FROM perq GROUP BY nprobe
"""


@register(
    "ann_nprobe_recall_curve",
    oracle=_CURVE_ORACLE,
    doc=f"[ext] IVF operating curve: mean recall@{TOP_K} at nprobe = "
    f"{CURVE_PROBES} from ONE candidate-scoring pass — the tuning "
    "artifact that picks nprobe for a recall target before committing a "
    "cluster to the index (recall rises with nprobe, cost rises "
    "linearly; the curve says where the knee is). Candidates are scored "
    "once at the max nprobe, tagged with their cell's probe rank, and "
    "each operating point's top-k is a rank over the probe_rn<=nprobe "
    "subset — no per-point rescan.",
)
def ann_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the scoring pass is the multiprobe plan at nprobe=max (the
    corpus never shuffles; probes broadcast), so the curve costs ONE
    index search, not len(CURVE_PROBES) of them. Everything after the
    score — the nprobe explode (x3 on a |Q|-candidates relation), the
    per-point rank, the recall join — runs on evaluation-pool-sized
    relations, corpus-independent. Each corpus vector lives in exactly
    one cell and a query's probe list has distinct cells, so a
    (query, neighbor) candidate appears once with a well-defined
    probe_rn; low-nprobe top-k sets are exact subsets of the scored
    relation, identical to rescanning at that nprobe."""
    emb = load_table(spark, sf_dir, "embeddings")
    assigned, probes = _ivf_probes(emb, max(CURVE_PROBES))
    scored = _scored(probes, assigned, "cell_id", keep=("probe_rn",))
    nps = F.explode(F.array(*[F.lit(p) for p in CURVE_PROBES])).alias("nprobe")
    fanned = scored.select("*", nps).filter(F.col("probe_rn") <= F.col("nprobe"))
    topk = _topk(fanned, TOP_K, by=("nprobe", "query_id")).select(
        "nprobe", "query_id", F.col("neighbor_id").alias("a_neighbor_id")
    )
    exact = ann_bruteforce_topk(spark, sf_dir).select("query_id", "neighbor_id")
    np_df = local_relation(spark, [(p,) for p in CURVE_PROBES], "nprobe int")
    grid = exact.crossJoin(F.broadcast(np_df))
    perq = (
        grid.join(
            topk,
            (grid.nprobe == topk.nprobe)
            & (grid.query_id == topk.query_id)
            & (grid.neighbor_id == F.col("a_neighbor_id")),
            "left",
        )
        .groupBy(grid.nprobe, grid.query_id)
        .agg(F.count("a_neighbor_id").alias("n_hits"))
    )
    return perq.groupBy("nprobe").agg(
        F.count("*").alias("n_queries"),
        F.round(F.avg(F.col("n_hits").cast("double") / TOP_K), 6).alias(
            "mean_recall_at_k"
        ),
    ).select(F.col("nprobe").cast("long").alias("nprobe"), "n_queries", "mean_recall_at_k")


COS_HIST_MOD = 5  # sampled pair stage, as embedding_near_dup_pairs


@register(
    "cosine_histogram_sampled",
    oracle=f"""
        WITH v AS (SELECT vec_id, embedding FROM embeddings
                   WHERE vec_id % {COS_HIST_MOD} = 0
                   ORDER BY md5('ch:' || vec_id), vec_id LIMIT {EMB_SAMPLE_CAP}),
        pairs AS (
            SELECT round({cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos
            FROM v a JOIN v b ON a.vec_id < b.vec_id
        )
        SELECT CAST(floor(cos * 10) AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1
    """,
    doc="[ext] corpus-geometry histogram: the distribution of pairwise "
    "cosines over a deterministic vector sample, binned at 0.1 width — "
    "the shape that tells you whether near-dup thresholds and LSH bucket "
    "widths fit the embedding space before tuning them.",
)
def cosine_histogram_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the all-pairs stage runs on the SAMPLE — now genuinely
    size-bounded (md5-ordered cut, cap EMB_SAMPLE_CAP): the r8 sweep
    showed the previous mod-only sample tracked corpus size (x4.0 at the
    2x replica), exactly the few-thousand-vectors-regardless-of-corpus
    contract this docstring had claimed without enforcing. The histogram
    itself is a 20-row agg."""
    emb = _md5_pool(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") % COS_HIST_MOD == 0
        ),
        "vec_id",
        "ch:",
        EMB_SAMPLE_CAP,
    )
    lhs = emb.select(F.col("vec_id").alias("id_l"), F.col("embedding").alias("e_l"))
    rhs = emb.select(F.col("vec_id").alias("id_r"), F.col("embedding").alias("e_r"))
    pairs = lhs.join(rhs, F.col("id_l") < F.col("id_r")).select(
        F.round(cosine_similarity("e_l", "e_r"), 6).alias("cos")
    )
    return pairs.groupBy(
        F.floor(F.col("cos") * 10).cast("long").alias("bucket")
    ).agg(F.count("*").alias("n_pairs"))


@register(
    "ann_filtered_topk",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS query_vec, label
            FROM embeddings WHERE vec_id % {QUERY_MOD} = 0
        ),
        scored AS (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   round({cosine_sql('q.query_vec', 'e.embedding')}, 6) AS cosine
            FROM q JOIN embeddings e
              ON e.label = q.label AND e.vec_id <> q.query_id
        ),
        ranked AS (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rnk
            FROM scored
        )
        SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= {TOP_K}
    """,
    doc="[ext] FILTERED vector search (the vector-DB 'WHERE label = ? "
    "ORDER BY cosine LIMIT k' pattern): candidates come from a label "
    "equi-join (PRE-filter), never from post-filtering a global top-k — "
    "post-filtering under-fills k whenever the metadata predicate is "
    "selective, the classic filtered-ANN recall bug.",
)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus never moves — the query set broadcasts while it
    fits (hash join on label + id-inequality residual); past the
    broadcast bound, drop the hint and the label equi-key co-partitions
    both sides so each stratum scores locally. A hot label concentrates
    its stratum's pairs on one reducer; at real scale route hot labels
    through the salted-join path (operators/skew.py) or sub-bucket them
    with an IVF cell id appended to the join key."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("q_label"),
    )
    on = F.col("label") == F.col("q_label")
    return _topk(_scored(queries, emb, on), TOP_K)


@register(
    "ann_binary_sign_recall_at_k",
    oracle=f"""
        WITH flat AS (
            SELECT vec_id, unnest(embedding) AS v,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings
        ),
        sig AS (
            SELECT vec_id,
                   CAST(sum(CASE WHEN v > 0 AND i <= 32
                                 THEN 2.0 ^ (i - 1) ELSE 0 END) AS BIGINT) AS lo,
                   CAST(sum(CASE WHEN v > 0 AND i > 32
                                 THEN 2.0 ^ (i - 33) ELSE 0 END) AS BIGINT) AS hi
            FROM flat GROUP BY vec_id
        ),
        q AS (SELECT vec_id AS query_id, lo, hi FROM sig
              WHERE vec_id % {QUERY_MOD} = 0),
        hamk AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, s.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY bit_count(xor(q.lo, s.lo))
                                    + bit_count(xor(q.hi, s.hi)), s.vec_id
                       ) AS rnk
                FROM q JOIN sig s ON s.vec_id <> q.query_id
            ) WHERE rnk <= {TOP_K}
        ),
        qe AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id % {QUERY_MOD} = 0),
        exactk AS (
            SELECT query_id, neighbor_id FROM (
                SELECT qe.query_id, e.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY qe.query_id
                           ORDER BY round({cosine_sql('qe.qv', 'e.embedding')}, 6)
                                    DESC, e.vec_id
                       ) AS rnk
                FROM qe CROSS JOIN embeddings e WHERE e.vec_id <> qe.query_id
            ) WHERE rnk <= {TOP_K}
        )
        SELECT e.query_id,
               CAST(count(h.neighbor_id) AS BIGINT) AS n_hit,
               round(CAST(count(h.neighbor_id) AS DOUBLE) / {TOP_K}, 4)
                   AS recall_at_k
        FROM exactk e LEFT JOIN hamk h USING (query_id, neighbor_id)
        GROUP BY e.query_id
    """,
    doc=f"[ext] BINARY embedding search: 1-bit sign quantization packs 64 "
    "floats into two 32-bit words (256 bytes -> 8 — the most aggressive "
    "compression tier, below int8 and PQ), hamming-distance top-"
    f"{TOP_K} via bit_count(xor), recall measured per query against the "
    "exact-cosine ground truth. Deterministic ties (distance, id) on "
    "both engines.",
)
def ann_binary_sign_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: signatures are one narrow aggregate (8 bytes/vector state);
    the hamming scan is two XOR+popcount ops per pair — register math,
    whole-stage codegen'd, no floats — which is why binary signatures are
    the web-scale first-pass filter; queries broadcast, corpus never
    shuffles, per-query windows partition on query_id."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
    sig = flat.groupBy("vec_id").agg(
        F.sum(
            F.when((F.col("v") > 0) & (F.col("i") < 32), F.pow(2.0, F.col("i")))
            .otherwise(0.0)
        )
        .cast("long")
        .alias("lo"),
        F.sum(
            F.when(
                (F.col("v") > 0) & (F.col("i") >= 32),
                F.pow(2.0, F.col("i") - 32),
            ).otherwise(0.0)
        )
        .cast("long")
        .alias("hi"),
    )
    q = sig.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    ham = (
        sig.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                F.bit_count(F.col("lo").bitwiseXOR(F.col("q_lo")))
                + F.bit_count(F.col("hi").bitwiseXOR(F.col("q_hi")))
            ).alias("hamming"),
        )
    )
    hamk = _topk(ham, TOP_K, score="hamming", desc=False).select(
        "query_id", "neighbor_id"
    )
    # the exact baseline stays on the fold form (not _exact_topk's dense
    # path), keeping both rank filters WindowGroupLimits in one plan
    queries = emb.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exactk = _topk(_scored(queries, emb), TOP_K).select("query_id", "neighbor_id")
    hit = hamk.withColumn("_hit", F.lit(1))
    return (
        exactk.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("_hit").alias("n_hit"),
            F.round(F.count("_hit").cast("double") / TOP_K, 4).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Maximal marginal relevance (MMR) diverse top-k [r7]

MMR_QUERY_MOD = 100  # 1-in-100 vectors are MMR queries
MMR_POOL = 12  # relevance-ranked candidate pool per query
MMR_K = 5  # diverse picks per query
# λ·rel − (1−λ)·redundancy, the Carbonell & Goldstein (1998) objective.
# Literals appear as 0.7 / 0.3 on BOTH engines so the doubles agree bitwise.


@register(
    "mmr_diverse_topk",
    oracle=f"""
    WITH RECURSIVE
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id % {MMR_QUERY_MOD} = 0),
    scored AS (
      SELECT q.query_id, e.vec_id,
             round({cosine_sql('q.qv', 'e.embedding')}, 6) AS rel
      FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
    ),
    cand AS (
      SELECT query_id, vec_id, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, vec_id) AS rn
        FROM scored) WHERE rn <= {MMR_POOL}
    ),
    sims AS (
      SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
             round({cosine_sql('ea.embedding', 'eb.embedding')}, 6) AS sim
      FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
      JOIN embeddings ea ON a.vec_id = ea.vec_id
      JOIN embeddings eb ON b.vec_id = eb.vec_id
    ),
    sel AS (
      SELECT query_id, 1 AS rnk, vec_id, rel, [vec_id] AS picked FROM (
        SELECT query_id, vec_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, vec_id) AS rn
        FROM cand) WHERE rn = 1
      UNION ALL
      SELECT s.query_id, s.rnk + 1, nxt.vec_id, nxt.rel,
             list_append(s.picked, nxt.vec_id)
      FROM sel s, LATERAL (
        SELECT c.vec_id, c.rel
        FROM cand c
        WHERE c.query_id = s.query_id AND NOT list_contains(s.picked, c.vec_id)
        ORDER BY round(0.7 * c.rel - 0.3 * (
            SELECT max(m.sim) FROM sims m
            WHERE m.query_id = s.query_id AND m.a_id = c.vec_id
              AND list_contains(s.picked, m.b_id)), 6) DESC, c.vec_id
        LIMIT 1
      ) nxt
      WHERE s.rnk < {MMR_K}
    )
    SELECT query_id, rnk, vec_id, rel FROM sel
    """,
    # Not a headliner: the K greedy rounds are K driver-visible jobs
    # (~0.4 s each at sf0.1 — 5.2 s total, measured r8), which would blow
    # the <=16 s displace-don't-accumulate budget; the r7-family headline
    # slot went to the map-only pii_redacted_rewrite instead (verdict
    # item 4 offered either).
    doc="[ext] MMR diverse top-k (Carbonell & Goldstein 1998): relevance "
    f"pool of {MMR_POOL} per query, then {MMR_K} picks maximizing "
    "0.7*rel - 0.3*max-similarity-to-already-picked — the rerank that "
    "keeps a retrieval (or training-data selection) result set from "
    "collapsing onto near-duplicates. Oracle is a recursive CTE running "
    "the identical greedy iteration.",
)
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: candidate generation is the distributed part (broadcast
    queries x corpus, exactly the brute-force top-k shape); the greedy
    rounds run as K-1 joins over the POOLED relations — bounded at
    |queries| x MMR_POOL rows, localCheckpoint'd once so the corpus scan
    is not re-executed per round. Selection state never touches the
    driver and every round is per-query parallel; K is a constant, so
    the whole rerank is O(K) bounded-size jobs regardless of corpus
    size. Ties and float parity: every comparison key is rounded to 6dp
    before ordering, tiebreak ascending vec_id — same contract as the
    ANN family."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") % MMR_QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # Pool stage = the brute-force top-k problem, so it is the SAME
    # adaptive scorer as ann_bruteforce_topk (_exact_topk): broadcast-BLAS
    # matmul while |Q|·d fits, interpreted-fold fallback beyond. The HOF
    # form alone measured 18× at the 8× replica (queries AND corpus grow
    # with data → quadratic scoring work, the r6 fixed-grid lesson again);
    # the BLAS pool took the 8× point to ~linear. Both strategies share
    # the round-before-rank / ascending-id contract, so the oracle and
    # the greedy rounds below are strategy-blind.
    cand = (
        _exact_topk(q, emb, MMR_POOL)
        .select(
            "query_id",
            F.col("neighbor_id").alias("vec_id"),
            F.col("cosine").alias("rel"),
        )
        .localCheckpoint(eager=True)
    )
    cv = cand.join(emb, "vec_id")
    a = cv.select(
        "query_id", F.col("vec_id").alias("a_id"), F.col("embedding").alias("_va")
    )
    b = cv.select(
        "query_id", F.col("vec_id").alias("b_id"), F.col("embedding").alias("_vb")
    )
    sims = (
        a.join(b, "query_id")
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            F.round(cosine_similarity("_va", "_vb"), 6).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    w_pick = W.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("vec_id"))
    selected = (
        cand.withColumn("_rn", F.row_number().over(w_pick))
        .filter(F.col("_rn") == 1)
        .select("query_id", F.lit(1).alias("rnk"), "vec_id", "rel")
    )
    for step in range(2, MMR_K + 1):
        remaining = cand.join(
            selected.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_anti"
        )
        ms = (
            sims.join(
                selected.select("query_id", F.col("vec_id").alias("b_id")),
                ["query_id", "b_id"],
            )
            .groupBy("query_id", F.col("a_id").alias("vec_id"))
            .agg(F.max("sim").alias("_maxsim"))
        )
        nxt = (
            remaining.join(ms, ["query_id", "vec_id"], "left")
            .withColumn(
                "_mmr",
                F.round(
                    F.lit(0.7) * F.col("rel")
                    - F.lit(0.3) * F.coalesce("_maxsim", F.lit(0.0)),
                    6,
                ),
            )
            .withColumn(
                "_rn",
                F.row_number().over(
                    W.partitionBy("query_id").orderBy(F.desc("_mmr"), F.asc("vec_id"))
                ),
            )
            .filter(F.col("_rn") == 1)
            .select("query_id", F.lit(step).alias("rnk"), "vec_id", "rel")
        )
        selected = selected.unionByName(nxt)
    return selected
