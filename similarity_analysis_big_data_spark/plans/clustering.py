"""K-means clustering over the embeddings table (north-star [ext]).

Lloyd's algorithm, Spark-first: each iteration is ONE broadcast join
(vectors x K centroid literals, argmin by squared L2) plus ONE narrow
aggregation (per-(cluster, position) running means — K*dim partial rows per
task). The centroid state — K*dim doubles — is collected to the driver
between iterations exactly the way MLlib's KMeans does; the corpus itself
never shuffles and no lineage accumulates across iterations because each
round's centroids re-enter the plan as literals.

Everything is deterministic (seed centroids are the first K vectors by
vec_id, distances and means are rounded to re-synchronize cross-engine
float noise, ties break on centroid id), so the FULL assignment after
three unrolled iterations is oracle-checked against DuckDB running the
same algorithm as chained CTEs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.vectors import cosine_sql
from ..sources.readers import load_table, local_relation
from .registry import register

K_CLUSTERS = 8
KMEANS_ITERS = 3
DIM = 64  # embeddings fixture dimension (TESTDATA.md)

# squared L2 distance, folded in index order in double precision — the
# DuckDB rendering mirrors the Spark fold op for op so the doubles match
# bit-for-bit given identical inputs.
_D2_SQL = (
    "list_reduce(list_prepend(CAST(0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), "
    "p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
    "* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), "
    "(acc, x) -> acc + x)"
)


def dist2(a: Column | str, b: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _d2_sql(a: str, b: str) -> str:
    return _D2_SQL.format(a=a, b=b)


def _assign_sql(src: str, cent: str) -> str:
    """One DuckDB assignment round: argmin_{c} round(d2, 6), tiebreak cid."""
    return f"""(
        SELECT vec_id, v, cid, d2 FROM (
            SELECT s.vec_id, s.v, c.cid,
                   round({_d2_sql("s.v", "c.cv")}, 6) AS d2,
                   row_number() OVER (
                       PARTITION BY s.vec_id
                       ORDER BY round({_d2_sql("s.v", "c.cv")}, 6), c.cid) AS rn
            FROM {src} s CROSS JOIN {cent} c
        ) WHERE rn = 1
    )"""


def _update_sql(assigned: str) -> str:
    """One DuckDB centroid update: per-(cluster, position) mean, rounded."""
    return f"""(
        SELECT cid, list(m ORDER BY pos) AS cv FROM (
            SELECT a.cid, p.pos, round(avg(a.v[p.pos]), 6) AS m
            FROM {assigned} a
            CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS pos) p
            GROUP BY a.cid, p.pos
        ) GROUP BY cid
    )"""


_KMEANS_ORACLE = f"""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {K_CLUSTERS}),
    a0 AS {_assign_sql("e", "c0")},
    c1 AS {_update_sql("a0")},
    a1 AS {_assign_sql("e", "c1")},
    c2 AS {_update_sql("a1")},
    a2 AS {_assign_sql("e", "c2")}
    SELECT vec_id, cid AS cluster, d2 AS dist2 FROM a2
"""


@register(
    "kmeans_embedding_clusters",
    oracle=_KMEANS_ORACLE,
    doc=f"[ext] k-means (Lloyd's, k={K_CLUSTERS}, {KMEANS_ITERS} iterations) "
    "over the embedding corpus: deterministic seeds (first k vectors), "
    "rounded distances/means, centroid-id tiebreaks — the full final "
    "assignment is oracle-checked against DuckDB running the identical "
    "unrolled algorithm.",
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per iteration, the corpus stays put — centroids (K*dim
    doubles) broadcast to it, each task computes its argmin locally, and
    the update aggregates K*dim partial sums per task (partial_avg before
    the tiny exchange). Driver state is K*dim doubles per round, collected
    the way MLlib KMeans does; lineage resets each round because new
    centroids enter as literals, so no localCheckpoint is needed (contrast
    operators/components.py, whose per-round state is data-sized). At
    100 TB, persist the double-cast corpus once up front — it is read by
    every iteration; at fixture scale the rescan is cheaper than the
    cache."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    cent = emb.filter(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    assigned = None
    for it in range(KMEANS_ITERS):
        d2 = F.round(dist2("v", "cv"), 6)
        w = W.partitionBy("vec_id").orderBy(d2.asc(), F.asc("cid"))
        assigned = (
            emb.crossJoin(F.broadcast(cent))
            .withColumn("d2", d2)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "v", "cid", "d2")
        )
        if it < KMEANS_ITERS - 1:
            means = (
                assigned.select("cid", F.posexplode("v").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(F.round(F.avg("val"), 6).alias("m"))
                .collect()  # K*dim rows — centroid state, MLlib-style
            )
            byc: dict[int, list[tuple[int, float]]] = {}
            for r in means:
                byc.setdefault(r.cid, []).append((r.pos, r.m))
            rows = [
                (cid, [m for _, m in sorted(vals)]) for cid, vals in byc.items()
            ]
            cent = local_relation(spark, rows, "cid: long, cv: array<double>")
    return assigned.select(
        "vec_id", F.col("cid").alias("cluster"), F.col("d2").alias("dist2")
    )


# ---------------------------------------------------------------------------
# k-center greedy coreset (farthest-point sampling) [r7]

KCENTER_K = 8  # centers selected; the 2-approximation of Gonzalez (1985)


@register(
    "kcenter_coreset_sample",
    oracle=f"""
    WITH RECURSIVE sel AS (
      SELECT 1 AS rnk, (SELECT min(vec_id) FROM embeddings) AS vec_id,
             [(SELECT min(vec_id) FROM embeddings)] AS picked
      UNION ALL
      SELECT s.rnk + 1, nxt.vec_id, list_append(s.picked, nxt.vec_id)
      FROM sel s, LATERAL (
        SELECT e.vec_id
        FROM embeddings e
        WHERE NOT list_contains(s.picked, e.vec_id)
        ORDER BY (SELECT min(round(1 - {{cos}}, 6))
                  FROM embeddings cen
                  WHERE list_contains(s.picked, cen.vec_id)) DESC,
                 e.vec_id
        LIMIT 1
      ) nxt
      WHERE s.rnk < {KCENTER_K}
    )
    SELECT rnk, vec_id FROM sel
    """.format(cos=cosine_sql("e.embedding", "cen.embedding")),
    doc="[ext] k-center greedy coreset (Gonzalez 1985 farthest-point "
    f"sampling): {KCENTER_K} maximally-spread embedding exemplars — the "
    "classic diversity-first data-selection pass (coreset seeding, "
    "annotation budgeting, eval-set construction). Each round picks the "
    "point farthest (cosine distance) from every already-chosen center; "
    "oracle is a recursive CTE running the identical greedy iteration.",
)
def kcenter_coreset_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the classic distributed form — K rounds, each ONE corpus
    scan computing min-distance-to-centers as a codegen'd expression over
    center LITERALS (centers ship in the plan like the LSH hyperplane
    matrix, no join, no shuffle) and reducing with TakeOrdered(1). Driver
    state is K rows (id + vector) — bounded by construction, the same
    posture as the CC quotient. Distances round to 6dp before comparison,
    ties break ascending vec_id, so the pick sequence is engine-exact."""
    from ..functions.vectors import cosine_similarity as _cos

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    first = emb.orderBy("vec_id").limit(1).collect()
    if not first:
        return local_relation(spark, [], "rnk int, vec_id bigint")
    centers = [(1, first[0]["vec_id"], list(first[0]["embedding"]))]
    for rnk in range(2, KCENTER_K + 1):
        picked_ids = [c[1] for c in centers]
        dists = [
            F.round(
                F.lit(1.0)
                - _cos(
                    "embedding", F.array(*[F.lit(float(x)) for x in vec])
                ),
                6,
            )
            for _, _, vec in centers
        ]
        mind = dists[0] if len(dists) == 1 else F.least(*dists)
        nxt = (
            emb.filter(~F.col("vec_id").isin(picked_ids))
            .select("vec_id", "embedding", mind.alias("_mind"))
            .orderBy(F.desc("_mind"), F.asc("vec_id"))
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        centers.append((rnk, nxt[0]["vec_id"], list(nxt[0]["embedding"])))
    return local_relation(
        spark, [(r, i) for r, i, _ in centers], "rnk int, vec_id bigint"
    )


# ---------------------------------------------------------------------------
# Submodular facility-location selection [r7]

FACLOC_MOD = 10  # pre-sample before the bounded pool cut
FACLOC_POOL = 64  # FIXED pool size (ground set AND coverage set)
FACLOC_K = 6  # greedy picks


@register(
    "facility_location_selection",
    oracle=f"""
    WITH RECURSIVE
    pool AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {FACLOC_MOD} = 0
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {FACLOC_POOL}
    ),
    sims AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             round({{cos}}, 6) AS sim
      FROM pool a JOIN pool b ON true
    ),
    first_pick AS (
      SELECT a_id AS vec_id FROM (
        SELECT a_id, round(sum(sim), 6) AS gain FROM sims GROUP BY a_id
      ) ORDER BY gain DESC, a_id LIMIT 1
    ),
    sel AS (
      SELECT 1 AS rnk, (SELECT vec_id FROM first_pick) AS vec_id,
             [(SELECT vec_id FROM first_pick)] AS picked
      UNION ALL
      SELECT s.rnk + 1, nxt.vec_id, list_append(s.picked, nxt.vec_id)
      FROM sel s, LATERAL (
        SELECT c.vec_id
        FROM pool c
        WHERE NOT list_contains(s.picked, c.vec_id)
        ORDER BY round((
            SELECT sum(greatest(
                sc.sim,
                coalesce((SELECT max(s2.sim) FROM sims s2
                 WHERE s2.a_id = sc.b_id AND list_contains(s.picked, s2.b_id)), 0.0)
            )) FROM sims sc WHERE sc.a_id = c.vec_id), 6) DESC, c.vec_id
        LIMIT 1
      ) nxt
      WHERE s.rnk < {FACLOC_K}
    )
    SELECT rnk, vec_id FROM sel
    """.format(cos=cosine_sql("a.embedding", "b.embedding")),
    doc="[ext] submodular facility-location selection: greedy maximization "
    "of Σ_p max_{s∈S} sim(p, s) over a pooled sample — the coverage-first "
    "complement to MMR (relevance-diversity) and k-center (worst-case "
    f"spread); {FACLOC_K} picks from a 1-in-{FACLOC_MOD} pool. The greedy "
    "is the classic (1-1/e)-approximation for monotone submodular "
    "objectives; oracle is a recursive CTE running the identical "
    "iteration with 6dp-rounded gains and ascending-id ties.",
)
def facility_location_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pool is a FIXED-size md5-ordered sample (facility
    location is quadratic in its ground set, so the ground set must not
    grow with the corpus — the first version's %MOD-only pool measured
    12.6× at the 8× replica because |pool|² sims grew 64×; the
    TakeOrdered hash cut makes the sim relation a constant {FACLOC_POOL}²
    rows at any scale and the corpus-sized work exactly one scan); each
    of the K-1 greedy rounds is a pair of bounded joins (coverage update,
    gain aggregate) plus a TakeOrdered(1) — selection state never touches
    the driver, same posture as mmr_diverse_topk."""
    from ..functions.vectors import cosine_similarity as _cos

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pool = (
        emb.filter(F.col("vec_id") % FACLOC_MOD == 0)
        .orderBy(F.md5(F.col("vec_id").cast("string")), F.asc("vec_id"))
        .limit(FACLOC_POOL)
    )
    a = pool.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("_va"))
    b = pool.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("_vb"))
    sims = (
        a.crossJoin(F.broadcast(b))
        .select("a_id", "b_id", F.round(_cos("_va", "_vb"), 6).alias("sim"))
        .localCheckpoint(eager=True)
    )
    first = (
        sims.groupBy("a_id")
        .agg(F.round(F.sum("sim"), 6).alias("_gain"))
        .orderBy(F.desc("_gain"), F.asc("a_id"))
        .limit(1)
        .select(F.lit(1).alias("rnk"), F.col("a_id").alias("vec_id"))
    )
    selected = first
    for step in range(2, FACLOC_K + 1):
        cov = (
            sims.join(
                selected.select(F.col("vec_id").alias("b_id")), "b_id"
            )
            .groupBy(F.col("a_id").alias("_p"))
            .agg(F.max("sim").alias("_cov"))
        )
        gains = (
            sims.join(
                selected.select("vec_id"), sims.a_id == F.col("vec_id"), "left_anti"
            )
            .join(cov, sims.b_id == F.col("_p"))
            .groupBy("a_id")
            .agg(
                F.round(
                    F.sum(F.greatest(F.col("sim"), F.col("_cov"))), 6
                ).alias("_gain")
            )
        )
        nxt = (
            gains.orderBy(F.desc("_gain"), F.asc("a_id"))
            .limit(1)
            .select(F.lit(step).alias("rnk"), F.col("a_id").alias("vec_id"))
        )
        selected = selected.unionByName(nxt)
    return selected
