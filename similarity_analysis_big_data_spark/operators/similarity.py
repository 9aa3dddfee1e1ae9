"""Similarity operators: the engine's core rewrite of the reference.

The reference materializes the full cartesian product of vector pairs and
dots Python dicts per pair (``lab2.py:227, 239-246``) — O(n²) pairs no
matter how sparse the overlap. The engine's production formulation is the
*sparse similarity join* (SURVEY §2.3 J3): explode both sides to
``(id, term, weight)``, inner-join on ``term``, and aggregate
``sum(w_a * w_b)`` per id pair. Pairs sharing zero terms never
materialize; the join and aggregate are ordinary shuffles Catalyst/AQE can
re-plan, salt, or broadcast.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..sources.readers import local_relation


def sparse_cosine_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    term_col: str = "term",
    weight_col: str = "weight",
    round_to: int | None = None,
    spread_left: bool = False,
) -> DataFrame:
    """J3/J5 (lab2.py:227,239-246): cosine of L2-normalized sparse vectors.

    Inputs are long-format and already L2-normalized, so the dot product IS
    the cosine (the reference documents the same shortcut, lab2.py:235-236).
    Output: (left_id, right_id, cosine) for pairs with >=1 shared term.

    Scale: one shuffle on term for the join, one on the id pair for the
    aggregate. Hot terms (stopword-like) are the skew risk — remove
    stopwords upstream and/or cap df; AQE skew-join splits the rest.

    ``spread_left=True`` pins the left side to an explicit hash
    repartition on its id at default parallelism. Use it when the left
    side is small and the join fans out: AQE sizes partitions by shuffle
    WRITE bytes, so a kilobytes-sized probe side coalesces to one
    partition and the entire multi-million-row join output runs in a
    single task. An explicit user repartition is exempt from AQE
    coalescing and keeps the explosion parallel.
    """
    lhs = left.select(F.col(left_id), F.col(term_col), F.col(weight_col).alias("_w_l"))
    if spread_left:
        n = left.sparkSession.sparkContext.defaultParallelism
        lhs = lhs.repartition(n, F.col(left_id))
    rhs = right.select(F.col(right_id), F.col(term_col), F.col(weight_col).alias("_w_r"))
    dot = F.sum(F.col("_w_l") * F.col("_w_r"))
    cosine = F.round(dot, round_to) if round_to is not None else dot
    return (
        lhs.join(rhs, term_col)
        .groupBy(left_id, right_id)
        .agg(cosine.alias("cosine"))
    )


def best_match(
    pairs: DataFrame,
    query_id: str,
    match_id: str,
    score_col: str = "cosine",
    all_queries: DataFrame | None = None,
) -> DataFrame:
    """A5/T1 (lab2.py:250-251): deterministic arg-max per query id.

    The reference's reduceByKey tie handling is partition-order-dependent;
    the engine tiebreaks on ascending match id (SURVEY §7). If
    ``all_queries`` (a one-column DataFrame of every query id) is given,
    queries whose vectors share no term with any candidate — dropped by the
    sparse join but present in the reference's cartesian — are restored
    with (NULL, 0.0), keeping row-count parity (SURVEY §7 zero-overlap).
    """
    w = W.partitionBy(query_id).orderBy(F.desc(score_col), F.asc(match_id))
    top = (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    if all_queries is not None:
        top = all_queries.join(top, query_id, "left").select(
            query_id,
            F.col(match_id),
            F.coalesce(F.col(score_col), F.lit(0.0)).alias(score_col),
        )
    return top


def retrieval_accuracy(
    matches: DataFrame, query_id: str, match_id: str, n_queries: int | None = None
) -> DataFrame:
    """A6 (lab2.py:253-260): fraction of queries whose best match is themselves.

    One global aggregate; with ``n_queries`` the denominator is the full
    corpus (reference semantics: titles with no match still count against
    accuracy via the cartesian's zero rows).
    """
    hit = F.when(F.col(query_id) == F.col(match_id), 1.0).otherwise(0.0)
    if n_queries is None:
        return matches.agg(F.avg(hit).alias("accuracy"))
    return matches.agg((F.sum(hit) / F.lit(float(n_queries))).alias("accuracy"))


def all_pairs_cosine_exact(
    vectors: DataFrame,
    id_col: str,
    term_col: str = "term",
    weight_col: str = "weight",
    round_to: int | None = None,
) -> DataFrame:
    """J4 (lab2.py:291): self all-pairs cosine, sparse-join formulation.

    For small id domains (the reference's category×category matrix) this is
    exact and cheap; zero-overlap pairs are restored with cosine 0 via a
    cross join of the distinct ids (tiny by precondition) so the output is
    the dense |ids|² matrix the reference renders.
    """
    # sparse_cosine_join needs distinct column names for the self-join
    left_v = vectors.withColumnRenamed(id_col, f"{id_col}_l")
    right_v = vectors.withColumnRenamed(id_col, f"{id_col}_r")
    pairs = sparse_cosine_join(
        left_v, right_v, f"{id_col}_l", f"{id_col}_r", term_col, weight_col, round_to=None
    )
    ids = vectors.select(F.col(id_col)).distinct()
    dense = (
        ids.withColumnRenamed(id_col, f"{id_col}_l")
        .crossJoin(ids.withColumnRenamed(id_col, f"{id_col}_r"))
        .join(pairs, [f"{id_col}_l", f"{id_col}_r"], "left")
        .select(
            f"{id_col}_l",
            f"{id_col}_r",
            F.coalesce("cosine", F.lit(0.0)).alias("cosine"),
        )
    )
    if round_to is not None:
        dense = dense.withColumn("cosine", F.round("cosine", round_to))
    return dense


def pivot_matrix(
    dense_pairs: DataFrame,
    row_col: str,
    col_col: str,
    value_col: str = "cosine",
    col_values: list[str] | None = None,
) -> DataFrame:
    """lab2.py:303: the category matrix pivot, Spark-native.

    The reference pivots in pandas on the driver; ``groupBy().pivot()``
    keeps it distributed. Passing ``col_values`` explicitly skips the
    extra distinct-values job (and keeps a stable column order).
    """
    p = dense_pairs.groupBy(row_col).pivot(col_col, col_values)
    return p.agg(F.first(value_col))


# Cost-based strategy bounds for dense_best_match (see docstring): the
# broadcast title matrix must stay small, and a dense matmul only beats the
# sparse join when the vocabulary is narrow enough that every pair overlaps.
DENSE_MAX_VOCAB = 256
DENSE_MAX_BROADCAST_CELLS = 4_000_000  # n_titles x |title vocab| doubles (~32 MB)
# Per-task transient ceiling for the score block: the matmul result is
# (candidate_rows x |Q|) doubles, and |Q| grows with the corpus while Spark
# sizes partitions by INPUT bytes — the input-side sizing cannot see the
# x|Q| expansion, so without a row cap one 64 MB input partition can expand
# to a multi-GB score allocation (measured at the 16x shared replica,
# |Q|=16k: a single-task R of 80k x 16k = 10.3 GB doubles + the round()
# copy read 258-393 s; blocked at 16M cells the same point reads ~11 s).
# 16M cells = 128 MB per R (and per rounded copy), invariant of corpus
# size and partition sizing. SIZED BY MEASUREMENT (r12, interleaved
# min-of-3 at the 16x point): 4M/16M/64M cells = 11.9/10.7/284 s — the
# 64M variant's 512 MB blocks already re-enter the allocation wall, so
# the ceiling is load-bearing in both directions.
DENSE_BLOCK_CELLS = 16_000_000


def dense_best_match(
    title_vec: DataFrame,
    abstract_vec: DataFrame,
    query_id: str,
    match_id: str,
    round_to: int = 9,
    t_rows: list | None = None,
) -> DataFrame:
    """Exact arg-max cosine via blocked dense matmul — the small-vocabulary
    physical strategy for ``sparse_cosine_join`` + ``best_match``.

    When the vocabulary is narrow (synthetic corpora, categorical token
    spaces), EVERY query/candidate pair shares terms, so the sparse join
    degenerates to the full |Q|x|A| pair materialization — tens of millions
    of shuffled rows whose only purpose is to be argmax'd away. This
    operator never materializes pairs: the (|Q| x V) query matrix is
    broadcast into each task, each candidate partition computes its local
    score block with one BLAS matmul, reduces it to ONE candidate row per
    query (partition-local arg-max, same round-then-tiebreak rule), and a
    final tiny window merges the per-partition winners.

    Exactness contract (same as the sparse path): scores round to
    ``round_to`` BEFORE comparison; ties break on ascending ``match_id``
    (np.argmax over id-sorted rows returns the first maximum); candidates
    sharing no term with a query have RAW dot exactly 0.0 and are masked
    out before the argmax (non-negative weights make dot == 0 equivalent
    to no shared term), while term-sharing candidates whose cosine merely
    ROUNDS to 0.0 stay in play — exactly the sparse join's candidate set.

    Scale: candidates stay distributed (one hash shuffle on ``match_id``
    to co-locate each candidate's terms); the broadcast side is bounded by
    the caller (`DENSE_MAX_BROADCAST_CELLS`). Shuffled bytes are O(|A| x V)
    — the weighted relation itself — vs the sparse join's O(|Q| x |A|)
    pair rows. Per-task transient memory is bounded too (r12): the score
    block materializes (rows x |Q|) doubles and |Q| grows with the corpus,
    which input-byte partition sizing cannot see — so the matmul walks
    candidate rows in `DENSE_BLOCK_CELLS`-bounded chunks (128 MB per score
    block at any corpus size; measured 258 s -> 20 s at the 16x shared
    replica, and 10.9 -> 7.4 s at 8x from cache locality alone).

    The explicit ``repartition`` below is the CONTRACT, not a cost: the
    block matmul needs every candidate's terms co-located, and this
    operator must not assume anything about its caller's partitioning.
    When the input already ends in a window partitioned on the same id
    (the flagship caller does), Catalyst collapses the repartition to a
    no-op — measured r11: the matmul sees the identical partitioning
    with or without it (a one-row-per-partition probe read 1 partition
    both ways at sf0.1). Matmul PARALLELISM is therefore AQE's
    data-volume partition sizing: a megabytes-scale fixture runs one
    task (correct — the work is tiny), and the partition count grows
    with the weighted relation, which is the right 100 TB posture. (An
    r11 2x-replica sweep reading of x5.94 was initially attributed to
    removing this repartition; the partition probe disproved that — the
    reading was the documented bimodal-JVM host artifact, same class as
    r10's 74.5 s audio base. Fresh-process min-of-3 reads x0.98-1.4 at
    2x with either plan shape.)
    """
    import numpy as np
    import pandas as pd

    if t_rows is None:
        # bounded by the caller's strategy check; callers that already
        # collected the matrix inside their own action pass t_rows
        t_rows = title_vec.collect()
    terms = sorted({r["term"] for r in t_rows})
    # Guard on the ACTUAL collected matrix, not the caller's verdict: a
    # memoized verdict may be stale (the data under the same dir was
    # rewritten with a wider vocabulary, or the bounds changed across code
    # versions), and a caller forcing strategy="dense" may never have
    # probed at all. The fallback is exact — both formulations share the
    # round-before-argmax / ascending-id contract and the shared-term
    # candidate set — so an over-bound matrix degrades to the sparse join
    # instead of silently over-broadcasting (the collect already happened;
    # the broadcast is the part being protected).
    n_queries = len({r[query_id] for r in t_rows})
    if len(terms) > DENSE_MAX_VOCAB or n_queries * len(terms) > DENSE_MAX_BROADCAST_CELLS:
        pairs = sparse_cosine_join(
            title_vec,
            abstract_vec,
            query_id,
            match_id,
            round_to=round_to,
            spread_left=True,
        )
        return best_match(pairs, query_id, match_id)
    t_idx = {t: i for i, t in enumerate(terms)}
    q_ids = sorted({r[query_id] for r in t_rows})
    q_pos = {q: i for i, q in enumerate(q_ids)}
    T = np.zeros((len(q_ids), len(terms)), dtype=np.float64)
    for r in t_rows:
        T[q_pos[r[query_id]], t_idx[r["term"]]] = r["weight"]

    out_schema = f"{query_id} long, {match_id} long, cosine double"
    # computed driver-side so the closure ships a plain int (and tests can
    # monkeypatch DENSE_BLOCK_CELLS without reaching into executor workers)
    block = max(1, DENSE_BLOCK_CELLS // max(1, len(q_ids)))

    def block_argmax(batches):
        chunks = list(batches)  # Arrow batches can split one id's terms
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf[pdf["term"].isin(t_idx)]
        if len(pdf) == 0:
            return
        # id-sorted rows => np.argmax picks the smallest match_id among ties
        a_ids = np.asarray(sorted(pdf[match_id].unique()))
        a_pos = {a: i for i, a in enumerate(a_ids)}
        A = np.zeros((len(a_ids), len(terms)), dtype=np.float64)
        A[
            pdf[match_id].map(a_pos).to_numpy(),
            pdf["term"].map(t_idx).to_numpy(),
        ] = pdf["weight"].to_numpy()
        # Blocked matmul: bound the (rows x |Q|) score allocation to
        # DENSE_BLOCK_CELLS regardless of how many candidate rows landed
        # in this partition (see the constant's comment — input-byte
        # partition sizing cannot see the x|Q| expansion). Chunks walk
        # a_ids ASCENDING, and the cross-chunk merge replaces only on a
        # STRICTLY greater score, so ties keep the earlier (smaller) id —
        # the same (round, then ascending-id) contract as the one-shot
        # argmax.
        best_ids = best_scores = None
        for s in range(0, len(a_ids), block):
            Ab = A[s : s + block]
            R = Ab @ T.T  # raw dot products (block_rows, n_queries)
            S = np.round(R, round_to)
            # Sparse-path parity: a candidate is in play iff it SHARES a
            # term (raw dot > 0 under non-negative weights) — even when
            # the cosine ROUNDS to 0.0. Rounded 0 and true 0 collide in
            # S, so mask true zeros out before the argmax instead of
            # filtering rounded scores.
            S[R == 0.0] = -np.inf
            best = S.argmax(axis=0)
            scores = S[best, np.arange(S.shape[1])]
            ids_blk = a_ids[s : s + block][best]
            if best_scores is None:
                best_scores, best_ids = scores, ids_blk
            else:
                upd = scores > best_scores
                best_scores = np.where(upd, scores, best_scores)
                best_ids = np.where(upd, ids_blk, best_ids)
        keep = np.isfinite(best_scores)
        yield pd.DataFrame(
            {
                query_id: np.asarray(q_ids)[keep],
                match_id: best_ids[keep],
                "cosine": best_scores[keep],
            }
        )

    candidates = (
        abstract_vec.repartition(match_id)
        .mapInPandas(block_argmax, schema=out_schema)
    )
    # merge partition-local winners: tiny (<= n_partitions rows per query)
    return best_match(candidates, query_id, match_id)


def dense_topk_neighbors(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    query_vec: str,
    id_col: str,
    vec_col: str,
    k: int,
    round_to: int = 6,
    prefetched_queries: list | None = None,
) -> DataFrame:
    """Exact cosine top-k via blocked dense matmul — the bounded-query-set
    strategy for brute-force ANN (top-K sibling of ``dense_best_match``).

    ``prefetched_queries``: already-collected query rows (the auto-strategy
    probe collects them to measure |Q|·d — reuse them instead of a second
    driver action).

    The (|Q| x d) query matrix is broadcast; each corpus partition computes
    its score block with one BLAS matmul, keeps its local top-k per query
    (rounded scores, ascending-id tiebreak), and a tiny window merges the
    per-partition winners — global top-k is always a subset of the union of
    partition top-ks. Self-pairs and zero-norm vectors are excluded exactly
    as the column-expression formulation excludes them.

    Scale: corpus never shuffles (mapInPandas over the scan partitioning);
    candidate rows to the merge are n_partitions x |Q| x k. The caller
    bounds |Q| x d (broadcast) — an unbounded query set needs the
    column-expression or IVF path instead.
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        prefetched_queries
        if prefetched_queries is not None
        else queries.select(query_id, query_vec).collect()
    )
    if not q_rows:
        # empty query set: the (0 x d) matrix has no well-defined d for the
        # BLAS block — return the empty top-k relation directly (callers
        # without the adaptive |Q| probe hit this on empty tables)
        return local_relation(
            corpus.sparkSession,
            [],
            f"{query_id} long, neighbor_id long, cosine double, rnk long",
        )
    q_ids = np.asarray([r[query_id] for r in q_rows], dtype=np.int64)
    Q = np.asarray([r[query_vec] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)

    out_schema = f"{query_id} long, neighbor_id long, cosine double"
    # Per-task score-block bound (r12, same hazard as dense_best_match):
    # S is (corpus_rows x |Q|) doubles and the caller's broadcast bound
    # caps |Q|·d, NOT rows x |Q| — a fat corpus partition times a large
    # query pool expands far beyond its input bytes. Chunking the corpus
    # rows keeps every allocation <= DENSE_BLOCK_CELLS; each chunk yields
    # its local top-k and the existing global rank window merges them
    # (global top-k is a subset of the union of chunk top-ks, and the
    # boundary-tie expansion below keeps every contender in play).
    block = max(1, DENSE_BLOCK_CELLS // max(1, len(q_rows)))

    def block_topk(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) == 0:
            return
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        order = np.argsort(ids)  # ascending ids => stable tiebreak below
        ids = ids[order]
        C = np.asarray(list(pdf[vec_col].to_numpy()[order]), dtype=np.float64)
        cn = np.linalg.norm(C, axis=1)
        out_q, out_n, out_s = [], [], []
        for s0 in range(0, len(ids), block):
            ids_b, C_b, cn_b = ids[s0 : s0 + block], C[s0 : s0 + block], cn[s0 : s0 + block]
            denom = cn_b[:, None] * qn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.round((C_b @ Q.T) / denom, round_to)
            S[denom == 0.0] = -np.inf  # zero-norm: never a top-k candidate
            S[ids_b[:, None] == q_ids[None, :]] = -np.inf  # exclude self
            kk = min(k, S.shape[0])
            for j in range(S.shape[1]):
                col = S[:, j]
                # argpartition finds the k-th score, but keeps an ARBITRARY
                # subset among candidates tied at that boundary — expand the
                # cut to every candidate scoring >= the k-th value so the
                # (desc score, asc id) contract decides who survives, then
                # stable-sort (ids are pre-sorted ascending) and truncate.
                if kk < len(col):
                    kth = col[np.argpartition(-col, kk - 1)[kk - 1]]
                    cand = np.flatnonzero(col >= kth)
                else:
                    cand = np.arange(len(col))
                cand = cand[np.argsort(-col[cand], kind="stable")][:kk]
                keep = cand[np.isfinite(col[cand])]
                out_q.extend([q_ids[j]] * len(keep))
                out_n.extend(ids_b[keep])
                out_s.extend(col[keep])
        yield pd.DataFrame({query_id: out_q, "neighbor_id": out_n, "cosine": out_s})

    # project to (id, vec) BEFORE the Python boundary: mapInPandas input is
    # not pruned by Catalyst, so an unprojected corpus would ship every
    # column through Arrow (seen as `label` riding along in PLANS.md)
    candidates = corpus.select(id_col, vec_col).mapInPandas(
        block_topk, schema=out_schema
    )
    w = W.partitionBy(query_id).orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        candidates.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )
