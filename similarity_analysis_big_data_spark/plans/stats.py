"""Robust / higher-moment statistics queries ([ext] — north-star analytics).

Three families the reference's aggregation surface (lab2.py's sums and
means) does not reach but any corpus-profiling pass needs:

- robust location/scale per group: median, MAD, deterministic mode —
  outlier-resistant versions of avg/stddev for choosing quality-filter
  thresholds;
- higher central moments (skewness, excess kurtosis) computed from raw
  power sums so both engines evaluate the IDENTICAL formula (Spark's and
  DuckDB's built-in ``skewness``/``kurtosis`` apply different sample
  corrections, so the built-ins are deliberately not used);
- linear-regression aggregates (``regr_slope`` & co.) — the SQL-standard
  bivariate fit surface.

Scale: every query is one or two partial+final aggregations on low-cardinality
group keys; the MAD two-pass broadcasts the per-group medians (≤ |groups|
rows) back over the fact table, so no extra fact shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.timeutil import micros_between
from ..operators.rank import (
    RANK_BUCKETS,
    bucketed_row_number,
    ntile_from_rank,
    percentile_bounds,
)
from ..sources.readers import load_table
from .registry import register


@register(
    "robust_stats_by_source",
    oracle="""
        WITH x AS (
            SELECT source, CAST(n_chars AS DOUBLE) AS v FROM documents
        ),
        med AS (
            SELECT source, quantile_cont(v, 0.5) AS med FROM x GROUP BY source
        ),
        mad AS (
            SELECT x.source, quantile_cont(abs(v - med), 0.5) AS mad
            FROM x JOIN med ON x.source = med.source
            GROUP BY x.source
        ),
        mode_pick AS (
            SELECT source, v AS mode_v,
                   row_number() OVER (PARTITION BY source
                                      ORDER BY count(*) DESC, v ASC) AS rnk
            FROM x GROUP BY source, v
        ),
        mom AS (
            SELECT source, count(*) AS n_docs,
                   avg(v) AS m1, avg(v * v) AS m2,
                   avg(v * v * v) AS m3, avg(v * v * v * v) AS m4
            FROM x GROUP BY source
        )
        SELECT mom.source,
               n_docs,
               round(med.med, 6) AS median_chars,
               round(mad.mad, 6) AS mad_chars,
               round(mode_pick.mode_v, 6) AS mode_chars,
               round((m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1)
                     / pow(m2 - m1 * m1, 1.5), 6) AS skew_chars,
               round((m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1)
                     / pow(m2 - m1 * m1, 2) - 3, 6) AS kurt_chars
        FROM mom
        JOIN med ON mom.source = med.source
        JOIN mad ON mom.source = mad.source
        JOIN mode_pick ON mom.source = mode_pick.source AND mode_pick.rnk = 1
    """,
    doc="[ext] robust per-group profile: median, MAD, deterministic mode "
    "(most frequent, smallest wins ties), skewness and excess kurtosis from "
    "raw power sums — the outlier-resistant statistics a corpus-curation "
    "pass reads before setting length/quality thresholds.",
)
def robust_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: moments are one partial+final agg; the MAD second pass joins
    the ≤|sources|-row median table back BROADCAST, so the fact table is
    shuffled once total (the mode count shares the moments' key)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("double").alias("v")
    )

    mom = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.avg("v").alias("m1"),
        F.avg(F.col("v") * F.col("v")).alias("m2"),
        F.avg(F.col("v") * F.col("v") * F.col("v")).alias("m3"),
        F.avg(F.col("v") * F.col("v") * F.col("v") * F.col("v")).alias("m4"),
    )
    med = docs.groupBy("source").agg(F.median("v").alias("med"))
    mad = (
        docs.join(F.broadcast(med), "source")
        .groupBy("source")
        .agg(F.median(F.abs(F.col("v") - F.col("med"))).alias("mad"))
    )
    mode_w = W.partitionBy("source").orderBy(F.desc("cnt"), F.asc("v"))
    mode = (
        docs.groupBy("source", "v")
        .agg(F.count("*").alias("cnt"))
        .withColumn("rnk", F.row_number().over(mode_w))
        .filter(F.col("rnk") == 1)
        .select("source", F.col("v").alias("mode_v"))
    )

    m1, m2, m3, m4 = (F.col(c) for c in ("m1", "m2", "m3", "m4"))
    var = m2 - m1 * m1
    skew = (m3 - 3 * m1 * m2 + 2 * m1 * m1 * m1) / F.pow(var, 1.5)
    kurt = (m4 - 4 * m1 * m3 + 6 * m1 * m1 * m2 - 3 * m1 * m1 * m1 * m1) / F.pow(var, 2) - 3
    return (
        mom.join(F.broadcast(med), "source")
        .join(F.broadcast(mad), "source")
        .join(F.broadcast(mode), "source")
        .select(
            "source",
            "n_docs",
            F.round("med", 6).alias("median_chars"),
            F.round("mad", 6).alias("mad_chars"),
            F.round("mode_v", 6).alias("mode_chars"),
            F.round(skew, 6).alias("skew_chars"),
            F.round(kurt, 6).alias("kurt_chars"),
        )
    )


@register(
    "mad_outlier_docs",
    oracle="""
        WITH x AS (
            SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS v FROM documents
        ),
        med AS (
            SELECT lang, quantile_cont(v, 0.5) AS med FROM x GROUP BY lang
        ),
        mad AS (
            SELECT x.lang, quantile_cont(abs(v - med), 0.5) AS mad
            FROM x JOIN med ON x.lang = med.lang
            GROUP BY x.lang
        )
        SELECT doc_id, x.lang,
               round((v - med) / (1.4826 * mad), 6) AS robust_z
        FROM x
        JOIN med ON x.lang = med.lang
        JOIN mad ON x.lang = mad.lang
        WHERE mad > 0 AND abs((v - med) / (1.4826 * mad)) > 2.0
    """,
    doc="[ext] robust outlier detection: modified z-score via "
    "median/1.4826·MAD per language — flags length outliers a mean/stddev "
    "z-score would miss when the distribution itself is contaminated.",
)
def mad_outlier_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two tiny per-group stats tables broadcast back over the fact
    scan — the outlier filter itself is a narrow map, no fact shuffle."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("double").alias("v")
    )
    med = docs.groupBy("lang").agg(F.median("v").alias("med"))
    mad = (
        docs.join(F.broadcast(med), "lang")
        .groupBy("lang")
        .agg(F.median(F.abs(F.col("v") - F.col("med"))).alias("mad"))
    )
    rz = (F.col("v") - F.col("med")) / (F.lit(1.4826) * F.col("mad"))
    return (
        docs.join(F.broadcast(med), "lang")
        .join(F.broadcast(mad), "lang")
        .filter((F.col("mad") > 0) & (F.abs(rz) > 2.0))
        .select("doc_id", "lang", F.round(rz, 6).alias("robust_z"))
    )


@register(
    "regr_price_vs_qty",
    oracle="""
        SELECT l_returnflag,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs,
               round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
               round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
               round(regr_avgx(l_extendedprice, l_quantity), 6) AS avg_qty,
               round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_price
        FROM lineitem
        GROUP BY l_returnflag
    """,
    doc="[ext] SQL-standard bivariate linear-regression aggregates "
    "(regr_slope/intercept/r2/avgx/avgy) of extended price on quantity per "
    "return flag — the one-pass OLS fit both engines implement natively.",
)
def regr_price_vs_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: regression aggregates are algebraic (co-moment sums), so the
    partial+final split applies — one shuffle of 3 groups × 6 moments."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).cast("long").alias("n_pairs"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_avgx(y, x), 6).alias("avg_qty"),
        F.round(F.regr_avgy(y, x), 4).alias("avg_price"),
    )


@register(
    "char_entropy_scores",
    oracle="""
        WITH chars AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(text, ''), c -> c <> '')) AS c
            FROM documents
        ),
        counts AS (
            SELECT doc_id, c, count(*) AS k FROM chars GROUP BY doc_id, c
        )
        SELECT doc_id,
               count(*) AS n_distinct_chars,
               round(log2(sum(k)) - sum(k * log2(k)) / sum(k), 6) AS char_entropy
        FROM counts GROUP BY doc_id
    """,
    doc="[ext] per-document Shannon character entropy (bits/char, via "
    "log2 N − Σk·log2 k ⁄ N) plus distinct-char count — the "
    "randomness/gibberish signal of an LLM-data quality gate (low entropy = "
    "repetitive filler, high = encoded noise).",
)
def char_entropy_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: chars explode map-side, then two aggregations keyed by doc_id
    (doc-scoped keys — uniformly distributed, no corpus-wide hot key); the
    entropy identity needs only per-(doc,char) counts, never a per-doc
    probability vector in memory."""
    docs = load_table(spark, sf_dir, "documents")
    chars = docs.select(
        "doc_id",
        F.explode(F.filter(F.split("text", ""), lambda c: c != F.lit(""))).alias("c"),
    )
    counts = chars.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    n = F.sum("k")
    return counts.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_distinct_chars"),
        F.round(F.log2(n) - F.sum(F.col("k") * F.log2("k")) / n, 6).alias("char_entropy"),
    )


@register(
    "quantile_normalize_doclen",
    oracle="""
        WITH ranked AS (
            SELECT doc_id, source, n_chars,
                   percent_rank() OVER (PARTITION BY source
                                        ORDER BY n_chars, doc_id) AS pr
            FROM documents
        ),
        gq AS (
            SELECT n_chars AS g_chars,
                   percent_rank() OVER (ORDER BY n_chars, doc_id) AS gpr
            FROM documents
        )
        SELECT r.doc_id, r.source,
               CAST(r.n_chars AS BIGINT) AS n_chars,
               round(r.pr, 6) AS pr,
               CAST(g.g_chars AS BIGINT) AS norm_chars
        FROM ranked r
        ASOF JOIN gq g ON r.pr >= g.gpr
    """,
    doc="[ext] quantile normalization: each document's length is mapped to "
    "the GLOBAL length distribution's value at the document's "
    "within-source percent rank — removes per-source length bias before "
    "cross-source comparisons (the microarray-normalization classic, "
    "applied to corpus stats). Oracle states the rank lookup as a native "
    "DuckDB ASOF JOIN; the engine recovers the greatest global rank <= "
    "the doc's rank ARITHMETICALLY from exact dense global ids.",
)
def quantile_normalize_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: NO unpartitioned window anywhere. Exact per-source and
    global row ranks come from the stable_doc_reindex pattern — B exact
    length-percentile boundaries broadcast, per-(source,)bucket counts
    cumulative-summed into offsets (a window over the |sources|*B count
    relation, bounded by construction), then row_number windows
    PARTITIONED by bucket. percent ranks are then the exact rational
    doubles (rank-1)/(n-1), bit-identical to both engines' percent_rank.
    The as-of lookup exploits that global ranks are exactly gid/(N-1):
    the greatest gpr <= pr is floor(pr*(N-1)) up to double rounding, so a
    3-candidate check using the SAME IEEE division DuckDB's ASOF compares
    with recovers it exactly — the corpus-sized union+global-ordered
    window becomes a distributed equi-join on the dense global id.
    Equal-length runs share a bucket (bounded skew); property-tested
    ≡ the straight window formulation in tests/test_plans.py."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    bounds = percentile_bounds(docs, "n_chars", RANK_BUCKETS)
    g = bucketed_row_number(
        docs, "n_chars", ["doc_id"], rank_name="grnk", n_name="n_tot",
        bounds=bounds,
    )
    s = bucketed_row_number(
        g, "n_chars", ["doc_id"], rank_name="srnk", n_name="n_src",
        partition_cols=("source",), bounds=bounds,
    )
    ranked = s.select(
        "doc_id",
        "source",
        "n_chars",
        (F.col("grnk") - 1).alias("gid"),  # 0-based global rank
        "n_tot",
        F.when(
            F.col("n_src") > 1,
            (F.col("srnk") - 1).cast("double")
            / (F.col("n_src") - 1).cast("double"),
        ).otherwise(F.lit(0.0)).alias("pr"),
    )

    # greatest gid with double(gid)/double(N-1) <= pr: floor(pr*(N-1)) is
    # within +-1 of the answer (rounded gid/(N-1) values stay strictly
    # increasing for N << 2^52), so test the three candidates with the
    # identical IEEE division the oracle's ASOF comparison performs
    nm1 = (F.col("n_tot") - 1).cast("double")
    c = F.floor(F.col("pr") * nm1).cast("long")

    def _ok(g):
        return (
            (g >= 0)
            & (g <= F.col("n_tot") - 1)
            & (g.cast("double") / nm1 <= F.col("pr"))
        )

    gstar = F.when(F.col("n_tot") == 1, F.lit(0)).otherwise(
        F.when(_ok(c + 1), c + 1).when(_ok(c), c).when(_ok(c - 1), c - 1)
        .otherwise(F.lit(0))
    )
    lookup = ranked.select(
        F.col("gid").alias("g_gid"), F.col("n_chars").alias("g_chars")
    )
    return (
        ranked.withColumn("gstar", gstar)
        .join(lookup, F.col("gstar") == F.col("g_gid"))
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.round("pr", 6).alias("pr"),
            F.col("g_chars").cast("long").alias("norm_chars"),
        )
    )


DOCLEN_DECILES = 10


@register(
    "doclen_decile_profile",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, n_chars,
                   ntile({DOCLEN_DECILES}) OVER (ORDER BY n_chars, doc_id)
                       AS decile
            FROM documents
        )
        SELECT CAST(decile AS BIGINT) AS decile,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(max(n_chars) AS BIGINT) AS max_chars,
               round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
        FROM d GROUP BY decile
    """,
    doc=f"[ext] equal-frequency length profile: EXACT ntile({DOCLEN_DECILES}) "
    "over the ENTIRE corpus by (n_chars, doc_id) — the equi-depth "
    "histogram that drives length-balanced training mixtures — computed "
    "with zero unpartitioned windows (distributed bucket ranks + the "
    "arithmetic NTILE restatement).",
)
def doclen_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: this is the query shape the r3 verdict flagged as the
    classic single-partition funnel (global ntile over an unbounded
    relation), restated scale-correct: bucketed_row_number gives each
    document its exact global rank via percentile-bucket offsets (every
    corpus-touching window is partitioned by bucket), ntile_from_rank
    converts rank+count to the standard NTILE bucket arithmetically, and
    the decile profile is one 10-group hash agg. Works identically at
    web-corpus cardinality where ntile() OVER (ORDER BY ...) cannot."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = bucketed_row_number(
        docs, "n_chars", ["doc_id"], rank_name="grnk", n_name="n_tot"
    )
    decile = ntile_from_rank(F.col("grnk"), F.col("n_tot"), DOCLEN_DECILES)
    return (
        ranked.withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
            F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
        )
    )


@register(
    "weighted_median_price",
    oracle="""
        WITH ordered AS (
            SELECT l_returnflag, l_extendedprice, l_quantity,
                   sum(l_quantity) OVER (PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_w,
                   sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot_w
            FROM lineitem
        )
        SELECT l_returnflag,
               round(min(l_extendedprice), 2) AS weighted_median,
               round(CAST(min(cum_w) AS DOUBLE) / min(tot_w), 6)
                   AS cum_frac_at_median
        FROM ordered
        WHERE cum_w >= tot_w / 2.0
        GROUP BY l_returnflag
    """,
    doc="[ext] weighted median: the price at which cumulative quantity "
    "weight first reaches half the group total (deterministic "
    "(price, orderkey, linenumber) ordering) — the robust center for "
    "quantity-weighted price distributions that plain median misstates.",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one window pass per group over the (returnflag)-partitioned
    sort (both window specs share the single shuffle+sort); the
    half-total crossing collapses via min() — no second pass, no
    per-group collect."""
    li = load_table(spark, sf_dir, "lineitem")
    w_cum = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    w_tot = W.partitionBy("l_returnflag")
    ordered = li.select(
        "l_returnflag",
        "l_extendedprice",
        F.sum("l_quantity").over(w_cum).alias("cum_w"),
        F.sum("l_quantity").over(w_tot).alias("tot_w"),
    )
    return (
        ordered.filter(F.col("cum_w") >= F.col("tot_w") / 2.0)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("l_extendedprice"), 2).alias("weighted_median"),
            F.round(F.min("cum_w").cast("double") / F.min("tot_w"), 6).alias(
                "cum_frac_at_median"
            ),
        )
    )


@register(
    "abtest_conversion_zstat",
    oracle="""
        WITH assign AS (
            SELECT user_id,
                   CASE WHEN CAST(ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
                             AS BIGINT) % 2 = 0
                        THEN 'A' ELSE 'B' END AS arm,
                   max(CASE WHEN event_type = 'purchase' AND value > 95
                            THEN 1 ELSE 0 END) AS converted
            FROM events GROUP BY user_id
        ),
        arms AS (
            SELECT arm, count(*) AS n_users,
                   CAST(sum(converted) AS BIGINT) AS n_converted,
                   CAST(sum(converted) AS DOUBLE) / count(*) AS rate
            FROM assign GROUP BY arm
        ),
        wide AS (
            SELECT max(CASE WHEN arm = 'A' THEN n_users END) AS na,
                   max(CASE WHEN arm = 'A' THEN n_converted END) AS ca,
                   max(CASE WHEN arm = 'A' THEN rate END) AS ra,
                   max(CASE WHEN arm = 'B' THEN n_users END) AS nb,
                   max(CASE WHEN arm = 'B' THEN n_converted END) AS cb,
                   max(CASE WHEN arm = 'B' THEN rate END) AS rb
            FROM arms
        )
        SELECT CAST(na AS BIGINT) AS n_a, CAST(ca AS BIGINT) AS conv_a,
               round(ra, 6) AS rate_a,
               CAST(nb AS BIGINT) AS n_b, CAST(cb AS BIGINT) AS conv_b,
               round(rb, 6) AS rate_b,
               round((ra - rb)
                     / nullif(sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                            * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                            * (1.0 / na + 1.0 / nb)), 0.0), 6) AS z_stat
        FROM wide
    """,
    doc="[ext] two-proportion A/B test: deterministic md5-based arm "
    "assignment, per-arm conversion (any purchase), and the pooled "
    "two-proportion z-statistic — the experiment readout computed "
    "in-engine with a hash assignment any engine reproduces (conversion "
    "is a high-value purchase so the rate is properly inside (0, 1)).",
)
def abtest_conversion_zstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one user-keyed agg (conversion flags), one 2-row arm agg,
    then scalar math on a single row — the corpus is touched once."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)).cast("long") % 2
        == 0,
        "A",
    ).otherwise("B")
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when((F.col("event_type") == "purchase") & (F.col("value") > 95), 1)
            .otherwise(0)
        ).alias("converted")
    ).withColumn("arm", arm)
    arms = assign.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").alias("n_converted"),
        (F.sum("converted").cast("double") / F.count("*")).alias("rate"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_converted"))).alias("ca"),
        F.max(F.when(F.col("arm") == "A", F.col("rate"))).alias("ra"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_converted"))).alias("cb"),
        F.max(F.when(F.col("arm") == "B", F.col("rate"))).alias("rb"),
    )
    pooled = (F.col("ca") + F.col("cb")).cast("double") / (F.col("na") + F.col("nb"))
    # nullif guards the degenerate all-converted / none-converted case
    # (z undefined) identically on both engines
    z = (F.col("ra") - F.col("rb")) / F.nullif(
        F.sqrt(pooled * (1 - pooled) * (1.0 / F.col("na") + 1.0 / F.col("nb"))),
        F.lit(0.0),
    )
    return wide.select(
        F.col("na").alias("n_a"),
        F.col("ca").alias("conv_a"),
        F.round("ra", 6).alias("rate_a"),
        F.col("nb").alias("n_b"),
        F.col("cb").alias("conv_b"),
        F.round("rb", 6).alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
    )


@register(
    "brand_type_independence",
    oracle="""
        WITH obs AS (
            SELECT p_brand, p_type, CAST(count(*) AS DOUBLE) AS o
            FROM part GROUP BY 1, 2
        ),
        rm AS (SELECT p_brand, sum(o) AS r FROM obs GROUP BY 1),
        cm AS (SELECT p_type, sum(o) AS c FROM obs GROUP BY 1),
        tot AS (SELECT sum(o) AS n FROM obs),
        cells AS (
            SELECT rm.p_brand, cm.p_type,
                   coalesce(obs.o, 0) AS o,
                   rm.r * cm.c / tot.n AS e
            FROM rm CROSS JOIN cm CROSS JOIN tot
            LEFT JOIN obs ON obs.p_brand = rm.p_brand
                         AND obs.p_type = cm.p_type
        )
        SELECT round(sum((o - e) * (o - e) / e), 4) AS chisq,
               CAST((count(DISTINCT p_brand) - 1)
                    * (count(DISTINCT p_type) - 1) AS BIGINT) AS dof,
               CAST(count(*) AS BIGINT) AS n_cells
        FROM cells
    """,
    doc="[ext] chi-square test of independence between two categorical "
    "columns (brand x type): expected counts from the marginals, "
    "zero-observation cells explicit — the dependence screen feature "
    "selection and schema profiling run over category pairs.",
)
def brand_type_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one (brand, container) hash agg over the scan; marginals
    and the dense cell grid are category-cardinality sized and broadcast.
    The corpus is touched once."""
    part = load_table(spark, sf_dir, "part")
    obs = part.groupBy("p_brand", "p_type").agg(
        F.count("*").cast("double").alias("o")
    )
    rm = obs.groupBy("p_brand").agg(F.sum("o").alias("r"))
    cm = obs.groupBy("p_type").agg(F.sum("o").alias("c"))
    tot = obs.agg(F.sum("o").alias("n"))
    cells = (
        rm.crossJoin(F.broadcast(cm))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(obs), ["p_brand", "p_type"], "left")
        .select(
            "p_brand",
            "p_type",
            F.coalesce("o", F.lit(0.0)).alias("o"),
            (F.col("r") * F.col("c") / F.col("n")).alias("e"),
        )
    )
    return cells.agg(
        F.round(F.sum((F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")), 4).alias("chisq"),
        (
            (F.countDistinct("p_brand") - 1) * (F.countDistinct("p_type") - 1)
        ).alias("dof"),
        F.count("*").alias("n_cells"),
    )


@register(
    "customer_spend_gini",
    oracle="""
        WITH spend AS (
            SELECT o_custkey, sum(o_totalprice) AS x
            FROM orders GROUP BY 1
        ),
        ranked AS (
            SELECT x,
                   row_number() OVER (ORDER BY x, o_custkey) AS i,
                   count(*) OVER () AS n,
                   sum(x) OVER () AS sx
            FROM spend
        )
        SELECT CAST(min(n) AS BIGINT) AS n_customers,
               round(2.0 * sum(i * x) / (min(n) * min(sx))
                     - (min(n) + 1.0) / min(n), 6) AS gini
        FROM ranked
    """,
    doc="[ext] Gini coefficient of customer spend: the standard rank "
    "formula G = 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over the (spend, "
    "custkey)-ordered relation — the inequality measure revenue "
    "concentration dashboards report.",
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: spend is one customer-keyed agg; the exact rank comes from
    the distributed bucketed_row_number operator (percentile-bucket
    offsets, windows partitioned by bucket — graduated from the global
    window per the r3 verdict), the spend total from one more aggregate
    broadcast back. Final reduction is scalar."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("x"))
    ranked = bucketed_row_number(
        spend, "x", ["o_custkey"], rank_name="i", n_name="n"
    )
    tot = spend.agg(F.sum("x").alias("sx"))
    return ranked.crossJoin(F.broadcast(tot)).agg(
        F.min("n").alias("n_customers"),
        F.round(
            2.0 * F.sum(F.col("i") * F.col("x")) / (F.min("n") * F.min("sx"))
            - (F.min("n") + 1.0) / F.min("n"),
            6,
        ).alias("gini"),
    )


@register(
    "user_event_burstiness",
    oracle="""
        WITH gaps AS (
            SELECT user_id,
                   (epoch_us(ts) - epoch_us(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id)))
                       / 1000000.0 AS gap_s
            FROM events
        ),
        stats AS (
            SELECT user_id,
                   count(gap_s) AS n_gaps,
                   avg(gap_s) AS mu,
                   stddev_samp(gap_s) AS sigma
            FROM gaps WHERE gap_s IS NOT NULL
            GROUP BY user_id
            HAVING count(gap_s) >= 2
        )
        SELECT user_id,
               CAST(n_gaps AS BIGINT) AS n_gaps,
               round(mu, 4) AS mean_gap_s,
               round((sigma - mu) / nullif(sigma + mu, 0.0), 6) AS burstiness
        FROM stats
    """,
    doc="[ext] burstiness of per-user inter-event gaps: B = (sigma - mu) "
    "/ (sigma + mu) in [-1, 1] (Goh & Barabasi) — periodic traffic "
    "scores near -1, Poisson near 0, bursty bots near +1. Gaps are exact "
    "integer-microsecond deltas over 1e6 so both engines aggregate "
    "identical doubles.",
)
def user_event_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one user_id window pass for the gaps and one user-keyed
    agg; stddev/mean are algebraic (partial+final)."""
    ev = load_table(spark, sf_dir, "events")
    w_u = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = micros_between(F.lag("ts").over(w_u), F.col("ts")) / F.lit(1_000_000.0)
    gaps = ev.select("user_id", gap_s.alias("gap_s")).filter(
        F.col("gap_s").isNotNull()
    )
    stats = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.avg("gap_s").alias("mu"),
            F.stddev_samp("gap_s").alias("sigma"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    return stats.select(
        "user_id",
        "n_gaps",
        F.round("mu", 4).alias("mean_gap_s"),
        F.round(
            (F.col("sigma") - F.col("mu")) / F.nullif(F.col("sigma") + F.col("mu"), F.lit(0.0)),
            6,
        ).alias("burstiness"),
    )


PSI_BUCKETS = 10


@register(
    "price_drift_psi",
    oracle=f"""
        WITH ref AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 0),
        cur AS (SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 2 = 1),
        edges AS (
            SELECT quantile_cont(v, [{', '.join(str((i + 1) / PSI_BUCKETS) for i in range(PSI_BUCKETS - 1))}]) AS es
            FROM ref
        ),
        rb AS (
            SELECT len(list_filter(e.es, x -> x < r.v)) AS bucket,
                   count(*) AS n
            FROM ref r CROSS JOIN edges e GROUP BY 1
        ),
        cb AS (
            SELECT len(list_filter(e.es, x -> x < c.v)) AS bucket,
                   count(*) AS n
            FROM cur c CROSS JOIN edges e GROUP BY 1
        ),
        tot AS (
            SELECT (SELECT sum(n) FROM rb) AS rn, (SELECT sum(n) FROM cb) AS cn
        ),
        grid AS (SELECT unnest(range({PSI_BUCKETS})) AS bucket)
        SELECT g.bucket,
               round(coalesce(rb.n, 0) / CAST(t.rn AS DOUBLE), 6) AS ref_frac,
               round(coalesce(cb.n, 0) / CAST(t.cn AS DOUBLE), 6) AS cur_frac,
               round(CASE
                   WHEN coalesce(rb.n, 0) = 0 OR coalesce(cb.n, 0) = 0 THEN 0.0
                   ELSE (cb.n / CAST(t.cn AS DOUBLE) - rb.n / CAST(t.rn AS DOUBLE))
                        * ln((cb.n / CAST(t.cn AS DOUBLE))
                             / (rb.n / CAST(t.rn AS DOUBLE)))
               END, 6) AS psi_term
        FROM grid g
        LEFT JOIN rb ON rb.bucket = g.bucket
        LEFT JOIN cb ON cb.bucket = g.bucket
        CROSS JOIN tot t
        ORDER BY g.bucket
    """,
    doc=f"[ext] population stability index: even-keyed orders are the "
    f"reference snapshot, odd-keyed the current one; the reference's "
    f"{PSI_BUCKETS} equi-depth deciles bucket both sides and each bucket "
    "contributes (cur% - ref%) * ln(cur%/ref%) — the standard "
    "feature-drift monitor (PSI > 0.2 = retrain). Empty buckets "
    "contribute 0 (stated, not smoothed) identically on both engines.",
)
def price_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: decile edges are one exact-percentile aggregate over the
    reference (swap approx_percentile at 100 TB — bucket LOAD only, the
    PSI itself is exact given any edges as long as both sides share
    them); bucketing is a broadcast-literal fold; each side is one
    partial+final count agg over {PSI_BUCKETS} groups."""
    from ..operators.rank import bucket_of

    o = load_table(spark, sf_dir, "orders")
    ref = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_totalprice").alias("v")
    )
    cur = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_totalprice").alias("v")
    )
    qs = [(i + 1) / PSI_BUCKETS for i in range(PSI_BUCKETS - 1)]
    es_row = ref.agg(
        F.expr(
            f"percentile(v, array({', '.join(str(q) for q in qs)}))"
        ).alias("es")
    ).collect()[0]["es"]
    # empty reference -> no edges: everything lands in bucket 0 and both
    # fraction relations are empty (grid left-joins null-fill to 0)
    edges = [float(b) for b in es_row] if es_row is not None else []

    def frac(df, name):
        # side total = sum over the bucket-count relation (<= PSI_BUCKETS
        # rows; the unpartitioned full-frame window is bounded by
        # construction) — no separate count() action per side (r6 probe
        # sweep); greatest(...,1) keeps the empty side division-safe
        cnt = (
            df.withColumn("bucket", bucket_of("v", edges).cast("long"))
            .groupBy("bucket")
            .agg(F.count("*").alias("_c"))
        )
        tot = F.sum("_c").over(
            W.partitionBy().rowsBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        )
        return cnt.select(
            "bucket",
            (F.col("_c") / F.greatest(tot, F.lit(1)).cast("double")).alias(name),
        )

    grid = spark.range(PSI_BUCKETS).select(F.col("id").alias("bucket"))
    rf = frac(ref, "rf")
    cf = frac(cur, "cf")
    out = (
        grid.join(F.broadcast(rf), "bucket", "left")
        .join(F.broadcast(cf), "bucket", "left")
        .select(
            "bucket",
            F.round(F.coalesce("rf", F.lit(0.0)), 6).alias("ref_frac"),
            F.round(F.coalesce("cf", F.lit(0.0)), 6).alias("cur_frac"),
            F.round(
                F.when(
                    F.coalesce("rf", F.lit(0.0)).eqNullSafe(0.0)
                    | F.coalesce("cf", F.lit(0.0)).eqNullSafe(0.0),
                    0.0,
                ).otherwise(
                    (F.col("cf") - F.col("rf"))
                    * F.log(F.col("cf") / F.col("rf"))
                ),
                6,
            ).alias("psi_term"),
        )
    )
    return out


CUPED_SPLIT = "2024-01-15 00:00:00"


@register(
    "abtest_cuped_adjusted",
    oracle=f"""
        WITH per_user AS (
            SELECT user_id,
                   CASE WHEN CAST(ascii(substr(md5(CAST(user_id AS VARCHAR)), 1, 1))
                             AS BIGINT) % 2 = 0
                        THEN 'A' ELSE 'B' END AS arm,
                   sum(CASE WHEN ts <  TIMESTAMP '{CUPED_SPLIT}' THEN value
                            ELSE 0 END) AS x,
                   sum(CASE WHEN ts >= TIMESTAMP '{CUPED_SPLIT}' THEN value
                            ELSE 0 END) AS y
            FROM events GROUP BY user_id
        ),
        theta AS (
            SELECT covar_samp(x, y) / var_samp(x) AS th, avg(x) AS mx
            FROM per_user
        )
        SELECT p.arm,
               CAST(count(*) AS BIGINT) AS n_users,
               round(avg(p.y), 6) AS mean_raw,
               round(avg(p.y - t.th * (p.x - t.mx)), 6) AS mean_cuped,
               round(var_samp(p.y - t.th * (p.x - t.mx)) / var_samp(p.y), 6)
                   AS variance_ratio
        FROM per_user p CROSS JOIN theta t
        GROUP BY p.arm
    """,
    doc="[ext] CUPED variance reduction (Deng et al. 2013): per-user "
    "pre-period spend is the covariate, theta = cov(x,y)/var(x) fit on "
    "ALL users (assignment-independent, so unbiased), and each arm "
    "reports the raw mean, the adjusted mean y - theta*(x - mean_x), and "
    "the achieved variance ratio — the standard trick that shrinks "
    "experiment confidence intervals without waiting for more data.",
)
def abtest_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one user-keyed agg builds (x, y) per user; theta is a 1-row
    aggregate broadcast back; per-arm stats are a 2-row agg. The corpus
    is touched once, exactly like the z-stat query."""
    ev = load_table(spark, sf_dir, "events")
    arm = F.when(
        F.ascii(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1))
        .cast("long") % 2
        == 0,
        "A",
    ).otherwise("B")
    split = F.lit(CUPED_SPLIT).cast("timestamp_ntz")
    per_user = ev.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.sum(F.when(F.col("ts") < split, F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(F.when(F.col("ts") >= split, F.col("value")).otherwise(0.0)).alias("y"),
    )
    theta = per_user.agg(
        (F.covar_samp("x", "y") / F.var_samp("x")).alias("th"),
        F.avg("x").alias("mx"),
    )
    adj = per_user.crossJoin(F.broadcast(theta)).withColumn(
        "y_adj", F.col("y") - F.col("th") * (F.col("x") - F.col("mx"))
    )
    return adj.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.round(F.avg("y"), 6).alias("mean_raw"),
        F.round(F.avg("y_adj"), 6).alias("mean_cuped"),
        F.round(F.var_samp("y_adj") / F.var_samp("y"), 6).alias("variance_ratio"),
    )


@register(
    "benford_first_digit_audit",
    oracle="""
        WITH d AS (
            SELECT substr(CAST(CAST(round(abs(o_totalprice) * 100, 0) AS BIGINT)
                               AS VARCHAR), 1, 1) AS digit
            FROM orders
        ),
        counts AS (SELECT digit, count(*) AS n FROM d
                   WHERE digit BETWEEN '1' AND '9' GROUP BY digit),
        tot AS (SELECT sum(n) AS t FROM counts)
        SELECT digit, n,
               round(CAST(n AS DOUBLE) / t, 6) AS obs_freq,
               round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
                   AS benford_freq,
               round((CAST(n AS DOUBLE) / t
                      - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                     * (CAST(n AS DOUBLE) / t
                        - log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
                     / log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * t, 6)
                   AS chisq_term
        FROM counts, tot
    """,
    doc="[ext] Benford first-digit audit on order totals: observed "
    "first-significant-digit frequencies vs Benford's law expectation "
    "log10(1 + 1/d), with the per-digit chi-square contribution — the "
    "classic fraud/synthetic-data screen for any monetary or count "
    "column (a generated or tampered column deviates where organic "
    "multi-magnitude data follows the law). The digit is extracted from "
    "the integer CENTS string of the ABSOLUTE value (round(|price|*100) "
    "then cast), never from float division by a power of ten — the "
    "power-of-ten boundary is exactly where cross-engine float division "
    "would flip the digit — and only digits 1-9 enter the audit, so a "
    "zero or negative total can never smuggle a '0' or '-' row into the "
    "frequency table (Benford's law is defined over 1..9).",
)
def benford_first_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one hash aggregate collapses the fact table to <= 9 digit
    rows (partial aggregation map-side, so the shuffle carries 9 rows per
    task); the grand total joins back as a 1-row broadcast aggregate —
    the global_count pattern. Nothing downstream of the first agg scales
    with the data."""
    orders = load_table(spark, sf_dir, "orders")
    digit = F.substring(
        F.round(F.abs(F.col("o_totalprice")) * 100, 0).cast("long").cast("string"),
        1,
        1,
    )
    counts = (
        orders.select(digit.alias("digit"))
        .filter(F.col("digit").between("1", "9"))
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("t"))
    obs = F.col("n").cast("double") / F.col("t")
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_freq"),
        F.round(expected, 6).alias("benford_freq"),
        F.round((obs - expected) * (obs - expected) / expected * F.col("t"), 6).alias(
            "chisq_term"
        ),
    )


# --- distribution drift (PSI) ------------------------------------------------

PSI_SPLIT_DATE = "1998-04-25"  # fixture median orderdate: before = reference window
PSI_BUCKET_CENTS = 2_500_000  # $25k-wide buckets over exact integer cents
PSI_SMOOTH = 0.5  # Laplace-style smoothing so empty buckets stay finite


@register(
    "psi_drift_order_totals",
    oracle=f"""
        WITH b AS (
            SELECT CASE WHEN o_orderdate < DATE '{PSI_SPLIT_DATE}'
                        THEN 1 ELSE 0 END AS is_ref,
                   CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                        // {PSI_BUCKET_CENTS} AS BIGINT) AS bucket
            FROM orders
        ),
        counts AS (
            SELECT bucket,
                   CAST(sum(is_ref) AS BIGINT) AS n_ref,
                   CAST(sum(1 - is_ref) AS BIGINT) AS n_cur
            FROM b GROUP BY bucket
        ),
        tot AS (
            SELECT CAST(sum(n_ref) AS BIGINT) AS t_ref,
                   CAST(sum(n_cur) AS BIGINT) AS t_cur,
                   CAST(count(*) AS BIGINT) AS n_buckets
            FROM counts
        ),
        terms AS (
            SELECT bucket, n_ref, n_cur,
                   ((n_ref + {PSI_SMOOTH}) / (t_ref + {PSI_SMOOTH} * n_buckets)
                    - (n_cur + {PSI_SMOOTH}) / (t_cur + {PSI_SMOOTH} * n_buckets))
                   * ln((n_ref + {PSI_SMOOTH}) / (t_ref + {PSI_SMOOTH} * n_buckets)
                        / ((n_cur + {PSI_SMOOTH})
                           / (t_cur + {PSI_SMOOTH} * n_buckets))) AS term
            FROM counts CROSS JOIN tot
        )
        SELECT bucket, n_ref, n_cur,
               round(term, 6) AS psi_term,
               round(sum(term) OVER (), 6) AS psi_total
        FROM terms
    """,
    doc="[ext] TEMPORAL population-stability drift audit on the "
    "order-total distribution: rows before the split date are the "
    "reference window, rows after the current window; both histograms "
    "share exact-integer-cents buckets (floored cents // bucket width — "
    "never float division of the raw price) and the per-bucket PSI term "
    "(p-q)*ln(p/q) is Laplace-smoothed, with the summed psi_total on "
    "every row (< 0.1 stable, > 0.25 the retrain/alert line). "
    "Complements price_drift_psi (the r5 key-split snapshot form) on "
    "exactly its blind spot: that form states empty buckets as 0, so "
    "mass appearing in a bucket the reference never populated — the "
    "single most alarming drift signature — contributes nothing, while "
    "smoothing prices it at its true (large) finite value. Time-window "
    "split + CUSUM changepoint + this = when it shifted, and how the "
    "whole distribution moved.",
)
def psi_drift_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one hash aggregate collapses the fact table to the bucket
    relation (bounded by the value domain / bucket width, never
    row-count); the totals join back as a 1-row broadcast aggregate and
    the PSI sum is a window over the bucket relation. Nothing downstream
    of the first agg scales with the data."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    is_ref = F.when(
        F.col("o_orderdate") < F.lit(PSI_SPLIT_DATE).cast("date"), 1
    ).otherwise(0)
    # F.floor matches the oracle's DuckDB `//` (floor division): a negative
    # total lands in bucket -1 on BOTH engines, where a bare cast('long')
    # would truncate toward zero and diverge — the same degenerate-input
    # class the Benford audit hardened against (ADVICE r10). Cents stay
    # well under 2^53 so the double division is exact.
    counts = (
        orders.select(
            is_ref.alias("is_ref"),
            F.floor(cents / F.lit(PSI_BUCKET_CENTS)).cast("long").alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.sum("is_ref").alias("n_ref"),
            F.sum(F.lit(1) - F.col("is_ref")).alias("n_cur"),
        )
    )
    tot = counts.agg(
        F.sum("n_ref").alias("t_ref"),
        F.sum("n_cur").alias("t_cur"),
        F.count("*").alias("n_buckets"),
    )
    s = F.lit(PSI_SMOOTH)
    p = (F.col("n_ref") + s) / (F.col("t_ref") + s * F.col("n_buckets"))
    q = (F.col("n_cur") + s) / (F.col("t_cur") + s * F.col("n_buckets"))
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bucket", "n_ref", "n_cur", ((p - q) * F.log(p / q)).alias("term")
    )
    w_all = W.partitionBy()
    return terms.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.round("term", 6).alias("psi_term"),
        F.round(F.sum("term").over(w_all), 6).alias("psi_total"),
    )
