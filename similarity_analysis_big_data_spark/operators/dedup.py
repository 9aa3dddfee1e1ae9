"""Deduplication operators (north-star [ext]: LLM-training-data pipeline).

Six dedup modes over a document relation, all long-format DataFrame
compositions (no driver loops, no UDFs):

- exact: hash-groupBy on content digest
- canonical: groupBy on an order-insensitive token-set fingerprint
- MinHash + LSH: shingle -> K permutation mins -> band -> bucket self-join
  (``near_dup_pairs`` is the whole LSH-then-verify chain as one operator)
- SimHash: weighted bit-majority signature + hamming-distance pairing
- n-gram Jaccard: exact set overlap via shingle join
- PPJoin: exact Jaccard-threshold self-join via prefix filtering

Candidate pairs — LSH buckets, PPJoin prefixes, any caller's list — are
verified by ONE exact-overlap kernel, ``_overlap_counts``: each pair fans
out by its smaller set and counts |set_l ∩ set_r|.
``jaccard_pairs(candidates=...)`` (with or without a size-ratio
``threshold``) and ``ppjoin_pairs`` both call it; the all-pairs
``jaccard_pairs`` self-join is the candidate-free form.

Exact-substring dedup (Lee et al. 2022) is the span mode: positioned
``SUBSTRING_K``-grams -> occurrence-capped gram buckets -> diagonal runs ->
maximal spans of >= ``SUBSTRING_MIN_SPAN`` tokens. The three constants
are named once here, and the DuckDB twin (``substring_spans_sql``,
``SUBSTRING_COVERAGE_SQL``, ``SUBSTRING_REWRITE_SQL``) sits beside the
Spark kernel, so the registered oracles render from the same names.

Scale notes: the LSH band join is the O(n²)-killer — candidate pairs come
only from shared buckets. Hot buckets (boilerplate shingles) are the skew
risk: AQE's skew join handles it. The exact modes are single hash
aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.hashing import (
    LSH_BANDS,
    LSH_ROWS,
    MERSENNE_P,
    md5_long,
    minhash_expr,
)
from ..functions.text import array_join_sql, with_word_ngrams, words


def exact_dedup_groups(docs: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup: one row per distinct content digest.

    Returns (digest, keep_id, n_copies) — keep_id is the smallest id in the
    group (deterministic survivor policy).
    """
    return (
        docs.select(F.md5(F.col(content_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def canonical_fingerprint(tokens_col) -> "F.Column":
    """Order/multiplicity-insensitive content key: sorted distinct tokens."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens_col)), " "))


def canonical_fingerprint_sql(expr: str) -> str:
    """The DuckDB rendering of ``canonical_fingerprint``: the empty token
    set has a fingerprint (md5 of ''); a NULL token array has none."""
    return f"md5({array_join_sql(f'list_sort(list_distinct({expr}))', ' ')})"


def minhash_signatures(shingles: DataFrame, id_col: str) -> DataFrame:
    """(id, shingle) long rows -> (id, mh0..mhK-1).

    One hash aggregate: per permutation, min over the doc's shingle hashes.
    The md5-derived shingle id is computed once and reused by all K
    permutations (cheap column math, K extra agg expressions — not K passes).
    """
    h = (md5_long("shingle") % MERSENNE_P).alias("_h")
    hashed = shingles.select(F.col(id_col), h)
    aggs = [
        F.min(minhash_expr("_h", i)).alias(f"mh{i}")
        for i in range(LSH_BANDS * LSH_ROWS)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def lsh_band_entries(signatures: DataFrame, id_col: str) -> DataFrame:
    """(id, mh0..mhK-1) -> long-format (id, band, key) bucket entries.

    The probe-able LSH index relation that incremental batches probe by
    (band, key) (see plans/dedup.incremental_near_dup_delta). The engine
    stores no index; a deployment that keeps one between batches would
    write it with ``bucketBy`` on (band, key) so the probe join is
    co-located."""
    band_entries = []
    for b in range(LSH_BANDS):
        key = F.concat_ws(
            ":", *[F.col(f"mh{b * LSH_ROWS + r}").cast("string") for r in range(LSH_ROWS)]
        )
        band_entries.append(F.struct(F.lit(b).alias("band"), key.alias("key")))
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_entries)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidate_pairs(signatures: DataFrame, id_col: str) -> DataFrame:
    """Band the signatures and self-join per band: (id_l, id_r) candidates.

    A pair collides if ALL rows of some band match (classic banding).
    Unpivot to (id, band, key) first so the join is a single equi-join on
    (band, key) instead of LSH_BANDS separate joins; distinct() collapses
    pairs that collide in several bands.

    Hot buckets: a bucket of b docs emits b·(b-1)/2 candidate pairs. A
    per-bucket size cap was measured unnecessary on the near_dup ladder
    (candidates grow ×1.99 per doubling, the largest bucket holds 665
    docs) and would change declared results, so there is none: AQE's
    skew join splits a hot bucket."""
    banded = lsh_band_entries(signatures, id_col)
    lhs = banded.withColumnRenamed(id_col, "id_l")
    rhs = banded.withColumnRenamed(id_col, "id_r")
    return (
        lhs.join(rhs, ["band", "key"])
        .filter(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r")
        .distinct()
    )


def _overlap_counts(
    cand: DataFrame, sets: DataFrame, id_col: str, token_col: str
) -> DataFrame:
    """The exact-overlap verify shared by every candidate-driven join:
    ``(id_l, id_r, size_l, size_r)`` candidates against a distinct
    ``(id, token)`` relation -> the same columns plus ``n_common`` =
    |set_l ∩ set_r|, for pairs that share at least one token.

    Each pair fans out by its SMALLER side and closes on (other id,
    token): intersection is symmetric, so the fan-out volume is
    Σ min(size_l, size_r) over candidates — bounded by the candidate
    relation, never Σ df² over tokens. The sizes ride the fan-out and the
    aggregate (they are functionally dependent on the ids), so no caller
    re-joins them afterwards."""
    small_l = F.col("size_l") <= F.col("size_r")
    probed = cand.select(
        "id_l",
        "id_r",
        "size_l",
        "size_r",
        F.when(small_l, F.col("id_l")).otherwise(F.col("id_r")).alias("_probe"),
        F.when(small_l, F.col("id_r")).otherwise(F.col("id_l")).alias("_other"),
    )
    return (
        probed.join(sets.select(F.col(id_col).alias("_probe"), token_col), "_probe")
        .join(sets.select(F.col(id_col).alias("_other"), token_col), [token_col, "_other"])
        .groupBy("id_l", "id_r", "size_l", "size_r")
        .agg(F.count("*").alias("n_common"))
    )


def jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    candidates: DataFrame | None = None,
    assume_distinct: bool = False,
    threshold: tuple[int, int] | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets: (id_l, id_r, jaccard).

    Sparse-join formulation (same shape as the cosine join): only pairs
    sharing a shingle materialize. Without ``candidates`` it is the
    all-pairs self-join on shingle (id_l < id_r). With ``candidates``
    (e.g. LSH output) only those pairs are verified — the LSH-then-verify
    pattern: the candidates are made distinct (a duplicate row would
    multiply n_common), the set sizes are joined in, and
    ``_overlap_counts`` counts the intersection. Pairs keep the
    candidates' orientation; pairs sharing no shingle are absent.
    ``assume_distinct`` skips the defensive (id, shingle) distinct — set
    it ONLY when rows are distinct by construction (the dedup plans
    explode ``array_distinct`` token sets); duplicate rows would inflate
    n_common and set sizes.

    ``threshold`` (candidates path only): the caller's eventual Jaccard
    cutoff as an exact rational num/den. J(x,y) >= n/d forces
    d·min(|x|,|y|) >= n·max(|x|,|y|) (since |x∩y| <= min and
    J <= min/max), so candidate pairs violating that size-ratio bound are
    dropped BEFORE the shingle fan-out — an exact prefilter, zero false
    negatives at the caller's cutoff (r12 verdict item 4: the verify join
    was the heaviest increment of the near-dup profile). Pairs that
    survive the ratio but land under the cutoff are still emitted with
    their exact jaccard, so callers keep their own ``>= t`` filter; only
    pairs PROVABLY below the cutoff disappear.

    Measured negative (r12, do not retry): verifying candidates as
    doc-grain ``array_intersect`` joins of the un-exploded token arrays
    (one row per pair instead of the exploded shingle join) read 4.88 s
    vs 2.3–3.2 s min-of-3 on near_dup at sf0.1, with row-identical
    output (277,695 pairs): the token-array payload shipped twice per
    pair outweighs the exploded shuffle (SCALE.md, r12 negative A/Bs).
    """
    sets = shingles.select(F.col(id_col), F.col("shingle"))
    if not assume_distinct:
        sets = sets.distinct()
    sizes = sets.groupBy(id_col).agg(F.count("*").alias("set_size"))
    sz_l = sizes.select(F.col(id_col).alias("id_l"), F.col("set_size").alias("size_l"))
    sz_r = sizes.select(F.col(id_col).alias("id_r"), F.col("set_size").alias("size_r"))

    if candidates is None:
        lhs = sets.withColumnRenamed(id_col, "id_l")
        rhs = sets.withColumnRenamed(id_col, "id_r")
        inter = (
            lhs.join(rhs, "shingle")
            .filter(F.col("id_l") < F.col("id_r"))
            .groupBy("id_l", "id_r")
            .agg(F.count("*").alias("n_common"))
            .join(sz_l, "id_l")
            .join(sz_r, "id_r")
        )
    else:
        cand = (
            candidates.select("id_l", "id_r")
            .distinct()
            .join(sz_l, "id_l")
            .join(sz_r, "id_r")
        )
        if threshold is not None:
            num, den = threshold
            cand = cand.filter(
                den * F.least("size_l", "size_r") >= num * F.greatest("size_l", "size_r")
            )
        inter = _overlap_counts(cand, sets, id_col, "shingle")
    return inter.select(
        "id_l",
        "id_r",
        (
            F.col("n_common")
            / (F.col("size_l") + F.col("size_r") - F.col("n_common"))
        ).alias("jaccard"),
    )


# The near-dup cutoff as an exact rational: J >= 1/2 at every near-dup site.
NEAR_DUP_T = (1, 2)

# The PPJoin cutoff as an exact rational: J >= 1/2 (ppjoin_pairs and its
# oracle in plans/dedup.py).
PPJOIN_T = (1, 2)

# Exact-substring dedup: gram length in tokens, the bucket cap on a gram's
# occurrences, and the shortest duplicated span reported, in tokens. The
# operators and their DuckDB twin read them at call time.
SUBSTRING_K = 8
SUBSTRING_CAP = 64
SUBSTRING_MIN_SPAN = 12


def near_dup_pairs(docs: DataFrame) -> DataFrame:
    """Verified near-duplicate pairs: (id_l, id_r, jaccard) with exact
    token-set Jaccard >= NEAR_DUP_T, jaccard unrounded.

    NOT the exact join: the pairs are a subset of the exact J >= NEAR_DUP_T
    set, which ``ppjoin_pairs`` returns whole. The 4-band x 3-row MinHash
    finds a pair at J = 0.5 with probability 1 - (1 - 0.5^3)^4 ~ 0.41.
    Recall against the exact set on near_dup_survivors' 1-in-5 sample of
    sf0.1 and its disjoint replicas (SCALE.md, Dedup): 0.786 at 1x
    (277,695 of 353,409 pairs), 0.788 at 2x (557,148 of 706,818) and
    0.801 at 32x (9,062,294 of 11,309,088).

    The whole MinHash-LSH near-dup chain as ONE join operator — candidate
    generation plus verify, the shape of the EDBT 2022 LSH similarity join:
    lower + tokenize + array_distinct token sets, exploded to shingles
    (distinct by construction, which ``assume_distinct`` relies on) ->
    ``minhash_signatures`` -> ``lsh_candidate_pairs`` -> candidate-driven
    ``jaccard_pairs`` with the exact size-ratio prefilter at NEAR_DUP_T ->
    the cutoff. Components and survivor policy stay with the caller
    (``operators.components``).

    Materialization: the token sets feed two branches (signatures and
    verify) and are localCheckpoint(eager=True)-materialized rather than
    persisted, so the blocks are reclaimed once the returned plan is
    released — a persist here outlives the query inside registry-wide
    sweeps (the plans/lm.py CacheManager lesson, ADVICE r5). History:
    persisting the token relation lost at sf0.1 (idle host, min of 3:
    8.49 s without vs 9.49 s with; it is larger than the source and
    spills), and r7 re-checked a localCheckpoint of the EXPLODED shingle
    relation at the 8x replica: 20.9-23.4 s plain vs 21.7-24.4 s
    checkpointed, no win. The checkpoint here is on the un-exploded
    array relation (one row per doc). A/B of this policy against the
    un-checkpointed chain on near_dup_survivors (perfbench near_dup,
    12 alternating fresh-process pairs, seeds 11-22, 4 vCPU, steal
    < 0.3 %): warm_cpu_s median 1.387 s (IQR 1.280-1.423) without vs
    1.230 s (1.137-1.340) with, lower in 8 of 12 pairs; setup_s
    2.90 vs 2.90 s and peak_rss_mb 157.4 vs 157.5 MB. Not worse, so the
    checkpoint stays; the IQRs overlap, so it is no claimed gain.
    Callers that read the returned pairs more than once materialize
    them themselves (near_dup_cluster_stats)."""
    toksets = docs.select(
        "doc_id", F.array_distinct(words("text")).alias("toks")
    ).localCheckpoint(eager=True)
    shingles = toksets.select("doc_id", F.explode("toks").alias("shingle"))
    cand = lsh_candidate_pairs(minhash_signatures(shingles, "doc_id"), "doc_id")
    num, den = NEAR_DUP_T
    return jaccard_pairs(
        shingles, "doc_id", candidates=cand, assume_distinct=True, threshold=NEAR_DUP_T
    ).filter(F.col("jaccard") >= num / den)


def simhash_signatures(term_weights: DataFrame, id_col: str) -> DataFrame:
    """(id, term, weight) -> (id, 32-bit simhash) via weighted bit majority.

    Explodes each term into 32 rows (bit index b contributes
    +w / -w by bit b of the term hash), aggregates per (id, b), then folds
    the majority bits back into one int64. Two hash aggregates, all
    column math — the 32× row blowup is map-side only.
    """
    hashed = term_weights.select(
        F.col(id_col),
        (md5_long("term")).alias("_h"),
        F.col("weight").cast("double").alias("_w"),
    )
    exploded = hashed.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit"),
        F.col("_h"),
        F.col("_w"),
    ).select(
        id_col,
        "bit",
        # python API shiftright/shiftleft take a literal bit count; the SQL
        # forms accept column expressions
        F.when(F.expr("shiftright(_h, bit) & 1") == 1, F.col("_w"))
        .otherwise(-F.col("_w"))
        .alias("contrib"),
    )
    bit_sums = exploded.groupBy(id_col, "bit").agg(F.sum("contrib").alias("s"))
    return bit_sums.groupBy(id_col).agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(
                F.lit(0).cast("long")
            )
        ).alias("simhash")
    )


def simhash_pairs(signatures: DataFrame, id_col: str, max_hamming: int) -> DataFrame:
    """All pairs with hamming(simhash_l, simhash_r) <= max_hamming.

    EXACT O(n²) form — the small-scale oracle that ``simhash_banded_pairs``
    is property-tested against. Never the production path: use the banded
    form, which returns the identical pair set without a cross join.
    """
    lhs = signatures.select(F.col(id_col).alias("id_l"), F.col("simhash").alias("sh_l"))
    rhs = signatures.select(F.col(id_col).alias("id_r"), F.col("simhash").alias("sh_r"))
    # bit_count is int32 in Spark; long for cross-engine schema stability
    hamming = F.bit_count(F.col("sh_l").bitwiseXOR(F.col("sh_r"))).cast("long")
    return (
        lhs.crossJoin(rhs)
        .filter(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_banded_pairs(
    signatures: DataFrame, id_col: str, max_hamming: int, bits: int = 32
) -> DataFrame:
    """Banded (LSH-style) SimHash pairing — same result set as
    ``simhash_pairs``, no cross join.

    Pigeonhole recall guarantee: split the ``bits`` signature bits into
    ``max_hamming + 1`` disjoint bands; a pair within hamming distance
    ``max_hamming`` has at most ``max_hamming`` differing bits, so at least
    one band is bit-identical — every qualifying pair collides in some
    band's bucket. The equi-join on (band, band_bits) generates candidates;
    exact hamming on the carried signatures then removes false positives.

    Scale: candidates come only from shared buckets — the corpus never
    all-pairs. Selectivity grows with band width (bits/(h+1)); a tight
    threshold (h=3 on 32 bits → 8-bit bands, 256-way split) is the sweet
    spot. Wide thresholds like h=12 leave 2-3-bit bands — still a large
    constant-factor win over n² and AQE splits the hot buckets, but if you
    need h≈bits/2 at 100 TB, widen the signature (64/128 bits) so bands
    stay selective.
    """
    if not 0 <= max_hamming < bits:
        raise ValueError(f"max_hamming must be in [0, {bits}); got {max_hamming}")
    n_bands = max_hamming + 1
    base, rem = divmod(bits, n_bands)
    entries = []
    off = 0
    for b in range(n_bands):
        width = base + (1 if b < rem else 0)
        entries.append(
            F.struct(
                F.lit(b).alias("band"),
                F.expr(f"shiftright(simhash, {off}) & {(1 << width) - 1}").alias("key"),
            )
        )
        off += width
    banded = signatures.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*entries)).alias("bk")
    ).select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))

    lhs = banded.select(
        F.col(id_col).alias("id_l"), F.col("simhash").alias("sh_l"), "band", "key"
    )
    rhs = banded.select(
        F.col(id_col).alias("id_r"), F.col("simhash").alias("sh_r"), "band", "key"
    )
    hamming = F.bit_count(F.col("sh_l").bitwiseXOR(F.col("sh_r"))).cast("long")
    return (
        lhs.join(rhs, ["band", "key"])
        .filter(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # collapse multi-band collisions of the same pair
    )


def _positioned_grams(toks: DataFrame, k: int) -> DataFrame:
    """``(doc_id, tokens)`` -> ``(doc_id, pos, gram)``: every ``k``-token
    gram with its 0-based start position; docs shorter than ``k`` have
    none.

    Compiled-Scala positioned k-grams (r13): the interpreted
    transform/slice/array_join HOF was the dominant per-task cost of this
    relation (same finding as ppjoin's gram build); NGram output is
    position-ordered, so posexplode yields identical (pos, gram) rows."""
    return with_word_ngrams(
        toks.filter(F.size("tokens") >= k), "tokens", k, "_g"
    ).select("doc_id", F.posexplode("_g").alias("pos", "gram"))


def _maximal_spans(pairs: DataFrame, k: int, min_span: int) -> DataFrame:
    """Matching gram pairs ``(id_l, id_r, pos_l, diag)``, diag = pos_l -
    pos_r -> maximal spans ``(id_l, id_r, start_l, start_r, span_tokens)``.

    Runs of consecutive matching grams on the same diagonal merge
    gaps-and-islands; a run of g grams is a span of g + k - 1 tokens, and
    spans shorter than ``min_span`` tokens are dropped."""
    w = W.partitionBy("id_l", "id_r", "diag").orderBy("pos_l")
    islands = pairs.withColumn("isl", F.col("pos_l") - F.row_number().over(w))
    return (
        islands.groupBy("id_l", "id_r", "diag", "isl")
        .agg(
            F.min("pos_l").alias("start_l"),
            (F.count("*") + (k - 1)).alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= min_span)
        .select(
            "id_l",
            "id_r",
            "start_l",
            (F.col("start_l") - F.col("diag")).alias("start_r"),
            "span_tokens",
        )
    )


def substring_span_pairs(toks: DataFrame) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022's substring dedup,
    re-expressed hash-gram-first): every duplicated run of ``>=
    SUBSTRING_MIN_SPAN`` consecutive tokens shared by a doc pair becomes
    one maximal span row ``(id_l, id_r, start_l, start_r, span_tokens)``,
    id_l < id_r.

    ``toks`` is ``(doc_id, tokens array<string>)``. Positioned
    ``SUBSTRING_K``-grams bucket by gram value in ONE wide shuffle (the
    suffix-array alternative: hash buckets need no global order); each
    bucket emits its ordered doc pairs JVM-side via higher-order
    transform/filter; ``_maximal_spans`` merges them into spans.

    ``SUBSTRING_CAP`` is the hot-bucket skew lever: a gram occurring n
    times would emit O(n²) pairs on one reducer; buckets over the cap are
    dropped entirely, which only suppresses stopword-like grams whose
    spans the per-diagonal merge would fragment anyway. Every stage past
    the gram shuffle is priced by matched-pair volume, never corpus size.
    """
    k = SUBSTRING_K
    buckets = (
        _positioned_grams(toks, k)
        .groupBy("gram")
        .agg(
            F.collect_list(
                F.struct(F.col("doc_id"), F.col("pos").cast("long").alias("pos"))
            ).alias("occs")
        )
        .filter(F.size("occs") <= SUBSTRING_CAP)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(occs, a -> "
                "transform(filter(occs, b -> b.doc_id > a.doc_id), "
                "b -> struct(a.doc_id AS id_l, b.doc_id AS id_r, "
                "a.pos AS pos_l, a.pos - b.pos AS diag))))"
            )
        ).alias("p")
    ).select("p.*")
    return _maximal_spans(pairs, k, SUBSTRING_MIN_SPAN)


def substring_coverage(toks: DataFrame, spans: DataFrame) -> DataFrame:
    """Per-document duplicated-token coverage over the ``spans`` of
    ``substring_span_pairs(toks)``: union the span intervals each doc
    participates in (either side of every pair), merge overlapping
    intervals gaps-and-islands, and report ``(doc_id, n_tokens,
    dup_tokens, dup_fraction)`` for every doc with at least one token —
    docs with no duplicated span surface with coverage 0 via the left
    join, so the output audits the whole corpus.

    Scale: the interval union windows over doc_id with spans-per-doc
    cardinality; the final join back to per-doc token counts is
    key-grained.
    """
    # distinct: identical intervals (a doc sharing the same span with
    # several partners) carry no information for a union, and tied rows
    # in the island windows are an engine-order hazard (see the iv CTE
    # note in SUBSTRING_COVERAGE_SQL)
    iv = (
        spans.select(
            F.col("id_l").alias("doc_id"),
            F.col("start_l").alias("s"),
            (F.col("start_l") + F.col("span_tokens")).alias("e"),
        )
        .unionByName(
            spans.select(
                F.col("id_r").alias("doc_id"),
                F.col("start_r").alias("s"),
                (F.col("start_r") + F.col("span_tokens")).alias("e"),
            )
        )
        .distinct()
    )
    w = W.partitionBy("doc_id").orderBy("s", "e")
    prev_end = F.max("e").over(w.rowsBetween(W.unboundedPreceding, -1))
    grp = iv.withColumn(
        "new_isl",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    ).withColumn("g", F.sum("new_isl").over(w.rowsBetween(W.unboundedPreceding, 0)))
    cov = (
        grp.groupBy("doc_id", "g")
        .agg((F.max("e") - F.min("s")).alias("seg"))
        .groupBy("doc_id")
        .agg(F.sum("seg").alias("dup_tokens"))
    )
    lens = toks.select(
        "doc_id", F.size("tokens").cast("long").alias("n_tokens")
    ).filter(F.col("n_tokens") > 0)
    return lens.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
        F.round(
            F.coalesce("dup_tokens", F.lit(0).cast("long")) / F.col("n_tokens"), 6
        ).alias("dup_fraction"),
    )


def substring_dedup_rewrite(toks: DataFrame, spans: DataFrame) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. 2022) over
    the ``spans`` of ``substring_span_pairs(toks)``: drop every token
    position covered by a duplicated span on the doc's RIGHT side (id_r —
    the higher id loses; the id_l copy is the surviving first occurrence)
    and reassemble the remaining tokens in order. Returns ``(doc_id,
    n_tokens, kept_tokens, text_dedup)`` for every doc with at least one
    token.

    Scale: the removal intervals are span-volume-sized, group to one
    array row per AFFECTED doc, and join LEFT onto the corpus — the
    position filter is a JVM-side higher-order ``filter`` over each
    token array (no explode of the corpus, no per-position join).
    """
    rem = spans.select(
        F.col("id_r").alias("doc_id"),
        F.col("start_r").alias("s"),
        (F.col("start_r") + F.col("span_tokens")).alias("e"),
    ).distinct()
    ivs = rem.groupBy("doc_id").agg(F.collect_list(F.struct("s", "e")).alias("arr"))
    kept = F.expr(
        "filter(tokens, (tok, pi) -> arr IS NULL "
        "OR NOT exists(arr, iv -> pi >= iv.s AND pi < iv.e))"
    )
    return (
        toks.filter(F.size("tokens") > 0)
        .join(ivs, "doc_id", "left")
        .select(
            "doc_id",
            F.size("tokens").cast("long").alias("n_tokens"),
            F.size(kept).cast("long").alias("kept_tokens"),
            F.array_join(kept, " ").alias("text_dedup"),
        )
    )


def substring_span_pairs_delta(base_toks: DataFrame, delta_toks: DataFrame) -> DataFrame:
    """Incremental exact-substring dedup: spans shared between a DELTA
    batch and the BASE corpus only — the daily-crawl ingest shape, where
    cost is base-gram-index x delta, never base x base re-run.

    Returns ``(id_delta, id_base, start_delta, start_base, span_tokens)``.
    The base side is a positioned-gram relation a production deployment
    materializes once (bucketed by gram) and PROBES per batch;
    ``SUBSTRING_CAP`` drops base grams occurring more often (the same
    hot-bucket lever as the batch operator — a boilerplate gram would
    fan every delta occurrence out by its full base posting list).
    """
    k = SUBSTRING_K
    bg = _positioned_grams(base_toks, k)
    occ = bg.groupBy("gram").agg(F.count("*").alias("_occ"))
    bcap = bg.join(occ.filter(F.col("_occ") <= SUBSTRING_CAP), "gram").drop("_occ")
    dg = _positioned_grams(delta_toks, k)
    pairs = dg.alias("d").join(bcap.alias("b"), "gram").select(
        F.col("d.doc_id").alias("id_l"),
        F.col("b.doc_id").alias("id_r"),
        F.col("d.pos").cast("long").alias("pos_l"),
        (F.col("d.pos") - F.col("b.pos")).cast("long").alias("diag"),
    )
    return _maximal_spans(pairs, k, SUBSTRING_MIN_SPAN).select(
        F.col("id_l").alias("id_delta"),
        F.col("id_r").alias("id_base"),
        F.col("start_l").alias("start_delta"),
        F.col("start_r").alias("start_base"),
        "span_tokens",
    )


def substring_spans_sql(delta: str | None = None) -> str:
    """The DuckDB twin of ``substring_span_pairs``: CTEs that continue a
    WITH chain defining ``toks (doc_id, tokens)`` and end in ``spans
    (id_l, id_r, start_l, start_r, span_tokens)``.

    With ``delta``, a SQL predicate on ``doc_id`` that selects the delta
    batch (the rest is the base), it is the twin of
    ``substring_span_pairs_delta``: the cap counts base grams only, id_l /
    start_l are the delta side, and the chain ends in ``delta_spans
    (id_delta, id_base, start_delta, start_base, span_tokens)``."""
    k, cap, min_span = SUBSTRING_K, SUBSTRING_CAP, SUBSTRING_MIN_SPAN
    if delta is None:
        base, probe, ordered = "grams", "capped", " AND l.doc_id < r.doc_id"
    else:
        base = f"(SELECT * FROM grams WHERE NOT ({delta}))"
        probe, ordered = f"(SELECT * FROM grams WHERE {delta})", ""
    sql = f""",
    grams AS (
        SELECT doc_id, CAST(p AS BIGINT) AS pos,
               array_to_string(list_slice(tokens, p + 1, p + {k}), ' ') AS gram
        FROM toks, unnest(range(0, greatest(len(tokens) - {k - 1}, 0))) AS r(p)
    ),
    capped AS (
        SELECT doc_id, pos, gram FROM (
            SELECT doc_id, pos, gram, count(*) OVER (PARTITION BY gram) AS occ
            FROM {base}
        ) WHERE occ <= {cap}
    ),
    pairs AS (
        SELECT l.doc_id AS id_l, r.doc_id AS id_r,
               l.pos AS pos_l, l.pos - r.pos AS diag
        FROM {probe} l JOIN capped r ON l.gram = r.gram{ordered}
    ),
    islands AS (
        SELECT id_l, id_r, diag, pos_l,
               pos_l - row_number() OVER (PARTITION BY id_l, id_r, diag
                                          ORDER BY pos_l) AS isl
        FROM pairs
    ),
    spans AS (
        SELECT id_l, id_r,
               min(pos_l) AS start_l,
               min(pos_l) - diag AS start_r,
               count(*) + {k - 1} AS span_tokens
        FROM islands
        GROUP BY id_l, id_r, diag, isl
        HAVING count(*) + {k - 1} >= {min_span}
    )
    """
    if delta is not None:
        sql += """,
    delta_spans AS (
        SELECT id_l AS id_delta, id_r AS id_base, start_l AS start_delta,
               start_r AS start_base, span_tokens
        FROM spans
    )
    """
    return sql


# The DuckDB twin of ``substring_coverage``: CTEs over ``toks`` and
# ``spans`` (``substring_spans_sql``) ending in ``coverage (doc_id,
# n_tokens, dup_tokens, dup_fraction)``.
SUBSTRING_COVERAGE_SQL = """,
    iv AS (
        -- DISTINCT is load-bearing: duplicate intervals are tie rows in
        -- the island windows below, and DuckDB evaluates new_isl and the
        -- running sum as two separate window passes whose tie order can
        -- disagree (observed: one island counted twice). Identical
        -- intervals carry no information for a union, so drop them.
        SELECT DISTINCT doc_id, s, e FROM (
            SELECT id_l AS doc_id, start_l AS s, start_l + span_tokens AS e FROM spans
            UNION ALL
            SELECT id_r, start_r, start_r + span_tokens FROM spans
        )
    ),
    flagged AS (
        SELECT doc_id, s, e,
               CASE WHEN max(e) OVER w_prev IS NULL
                         OR s > max(e) OVER w_prev THEN 1 ELSE 0 END AS new_isl
        FROM iv
        WINDOW w_prev AS (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    grp AS (
        SELECT doc_id, s, e,
               sum(new_isl) OVER (PARTITION BY doc_id ORDER BY s, e
                                  ROWS UNBOUNDED PRECEDING) AS g
        FROM flagged
    ),
    cov AS (
        SELECT doc_id, CAST(sum(seg) AS BIGINT) AS dup_tokens FROM (
            SELECT doc_id, g, max(e) - min(s) AS seg FROM grp GROUP BY doc_id, g
        ) GROUP BY doc_id
    ),
    coverage AS (
        SELECT t.doc_id,
               CAST(len(t.tokens) AS BIGINT) AS n_tokens,
               coalesce(c.dup_tokens, 0) AS dup_tokens,
               round(CAST(coalesce(c.dup_tokens, 0) AS DOUBLE) / len(t.tokens), 6)
                   AS dup_fraction
        FROM toks t LEFT JOIN cov c USING (doc_id)
        WHERE len(t.tokens) > 0
    )
    """

# The DuckDB twin of ``substring_dedup_rewrite``: CTEs over ``toks`` and
# ``spans`` ending in ``rewrite (doc_id, n_tokens, kept_tokens,
# text_dedup)``.
SUBSTRING_REWRITE_SQL = """,
    rem AS (
        SELECT DISTINCT id_r AS doc_id, start_r AS s, start_r + span_tokens AS e
        FROM spans
    ),
    ivs AS (
        SELECT doc_id, list(struct_pack(s := s, e := e)) AS arr
        FROM rem GROUP BY doc_id
    ),
    pruned AS (
        SELECT t.doc_id, t.tokens,
               list_filter(t.tokens, (tok, pi) ->
                   v.arr IS NULL OR
                   len(list_filter(v.arr, iv -> pi - 1 >= iv.s AND pi - 1 < iv.e)) = 0
               ) AS kept
        FROM toks t LEFT JOIN ivs v USING (doc_id)
        WHERE len(t.tokens) > 0
    ),
    rewrite AS (
        SELECT doc_id,
               CAST(len(tokens) AS BIGINT) AS n_tokens,
               CAST(len(kept) AS BIGINT) AS kept_tokens,
               -- coalesce: DuckDB's array_to_string on a fully-emptied list
               -- yields NULL where Spark's array_join yields ''
               coalesce(array_to_string(kept, ' '), '') AS text_dedup
        FROM pruned
    )
    """


def ppjoin_pairs(token_sets: DataFrame, id_col: str) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering (AllPairs /
    PPJoin family: Bayardo et al. WWW'07, Xiao et al. WWW'08).

    The deterministic complement to MinHash-LSH: zero false negatives at
    the cost of an exact-overlap verify, where LSH trades a tunable miss
    rate for hash-sized signatures. Input is a distinct (id, shingle)
    relation; output is every pair with Jaccard >= ``PPJOIN_T`` (num/den),
    with the integer intersection/size witnesses attached.

    Prefix-filter lemma: order each set by GLOBAL ascending document
    frequency (rarest first, ties by token). If J(x,y) >= t then
    |x ∩ y| >= ceil(t·max(|x|,|y|)), so x and y must share a token among
    their first |·| - ceil(t·|·|) + 1 ordered tokens — joining ONLY the
    prefixes loses no qualifying pair. Rare-first ordering makes prefix
    buckets small (df=1 tokens match only their one other occurrence),
    which is what bounds the candidate fan-out.

    All threshold arithmetic is integer-exact (``PPJOIN_T`` is a
    rational num/den): prefix length uses ``(num·sz + den−1) div den``
    and the final filter is ``den·inter >= num·union`` — no float
    boundary wobble at J == t.

    Scale: one shuffle keys the df join on token, one window pass per
    doc ranks the set (partitioned by id — never a global window), the
    prefix self-join touches only prefix tokens, and the verify is
    ``_overlap_counts``, the kernel behind jaccard_pairs(candidates=...)
    (cost ∝ Σ min(|set_l|, |set_r|) over surviving candidates). The skew lever is the
    same as LSH banding: a token with huge df lands at the END of every
    ordering, so it only enters a prefix when a set is nearly all
    boilerplate — prefix buckets stay df-bounded by construction.
    """
    num, den = PPJOIN_T
    sets = token_sets.select(F.col(id_col).alias("_id"), F.col("shingle").alias("_tok"))
    dfreq = sets.groupBy("_tok").agg(F.count("*").alias("_df"))
    # rank and size share the ordered window (the size over its full
    # frame), so one Window operator computes both where a separate
    # unordered size window made two. ppjoin_exact_pairs at sf0.1, local[4]
    # on 4 vCPUs, two alternating fresh-process rounds of warm-up + min of
    # 3: 1.97 and 1.87 s with two windows, 1.63 and 1.63 s with one; same
    # result md5 at sf0.01 and sf0.1 (contrastive_pair_mining too)
    w_order = W.partitionBy("_id").orderBy("_df", "_tok")
    w_set = w_order.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = sets.join(dfreq, "_tok").select(
        "_id",
        "_tok",
        F.row_number().over(w_order).alias("_rk"),
        F.count("*").over(w_set).alias("_sz"),
    )
    prefix = ranked.filter(
        F.col("_rk")
        <= F.col("_sz") - F.expr(f"({num} * _sz + {den - 1}) div {den}") + F.lit(1)
    ).select("_id", "_tok", "_sz")
    lhs = prefix.select(
        F.col("_id").alias("id_l"), "_tok", F.col("_sz").alias("size_l")
    )
    rhs = prefix.select(
        F.col("_id").alias("id_r"), "_tok", F.col("_sz").alias("size_r")
    )
    # The prefix relation already owns _sz (the per-doc window count ==
    # |set| under the distinct-input precondition), so the candidates
    # carry their sizes into the verify and no sizes aggregate is needed.
    # distinct over the size columns keeps the same pair set (sizes are
    # functionally dependent on the ids).
    cand = (
        lhs.join(rhs, "_tok")
        .filter(
            (F.col("id_l") < F.col("id_r"))
            # length filter: den·min(sz) >= num·max(sz), two-sided form
            & (num * F.col("size_l") <= den * F.col("size_r"))
            & (num * F.col("size_r") <= den * F.col("size_l"))
        )
        .select("id_l", "id_r", "size_l", "size_r")
        .distinct()
    )
    return (
        _overlap_counts(cand, sets, "_id", "_tok")
        .filter(
            den * F.col("n_common")
            >= num * (F.col("size_l") + F.col("size_r") - F.col("n_common"))
        )
        .select("id_l", "id_r", "n_common", "size_l", "size_r")
    )
