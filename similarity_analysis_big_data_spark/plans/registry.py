"""Query registry: the engine's public query surface.

Every operator implemented from SURVEY.md §2 registers here as a named
query — a ``(spark, sf_dir) -> DataFrame`` callable plus (when the
semantics are ANSI-SQL-expressible) a DuckDB oracle SQL string the driver
hash-compares against at sf0.01. Queries whose semantics cannot be stated
in portable SQL (streaming state, approximate sketches) register with
``oracle=None`` and get a rows-only check.

Column-name parity note: the driver's comparator sorts columns by name
before hashing, so every computed column is aliased identically on the
Spark side and in the oracle SQL. Double-typed outputs are rounded on BOTH
sides so cross-engine float summation order cannot flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    fn: QueryFn
    oracle: str | None = None  # DuckDB SQL over the pre-registered views
    headline: bool = False  # included in bench.py's timed set
    doc: str = ""


QUERIES: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None = None,
    headline: bool = False,
    doc: str = "",
) -> Callable[[QueryFn], QueryFn]:
    """Decorator: add a query to the registry."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = QuerySpec(fn=fn, oracle=oracle, headline=headline, doc=doc or (fn.__doc__ or ""))
        return fn

    return wrap


# Names surfaced FIRST in query_map()/oracle_sql_map(). The round driver
# samples ~50 registry entries per round in presentation order; the
# r1∪…∪r13 correctness ledger has checked ALL 287 registered queries at least
# once with zero hash failures ever, so the ordering is pure freshness
# rotation (the r11-r13 policy): (1) every query whose latest ledger row
# (latest CORRECTNESS_r*.json that names it) is the oldest round in the
# ledger — r8, all 46 of them, alphabetical; (2) the two rows-only
# queries (`pca_project_embeddings`, `ann_pq_trained_recall_at_k` —
# `err: no_oracle` by design) kept adjacent to their hash-checked twins
# (`pca_fixed_basis_projection`, `embedding_covariance_cells`) so the
# rows-only pairing stays visibly current. 50 names, the sampled window.
# (Pure presentation order — every query is in the map either way.)
PRIORITY: tuple[str, ...] = (
    # -- latest ledger row r8: the oldest of the ledger --
    "ann_ivf_multiprobe_topk",
    "ann_ivf_recall_at_k",
    "ann_ivf_topk",
    "anti_join_dormant_customers",
    "approx_percentile_order_value",
    "bigram_surprisal_scores",
    "bloom_runtime_filter_join",
    "chunk_documents_stride",
    "conditional_accuracy",
    "corpus_curation_pipeline",
    "cube_status_priority",
    "decontaminate_against_eval",
    "dedup_canonical_tokenset",
    "dedup_exact_groups",
    "distinct_parts_per_supplier",
    "doc_rolling_fingerprint",
    "embedding_int8_quantization",
    "embedding_near_dup_pairs",
    "fuzzy_levenshtein_pairs",
    "global_count",
    "global_sorted_orders",
    "global_topn_orders",
    "grouping_sets_revenue",
    "image_near_dup_survivors",
    "kmeans_embedding_clusters",
    "minhash_dedup_verified",
    "minhash_lsh_candidates",
    "monthly_order_stats",
    "multimodal_binary_metadata",
    "multimodal_fake_features",
    "multimodal_frame_sample",
    "percentile_order_value",
    "point_lookup",
    "projection_filter_scan",
    "range_join_price_bracket",
    "semdedup_cell_survivors",
    "setop_except",
    "setop_intersect",
    "setop_union_all",
    "setop_union_distinct",
    "stream_twin_hourly_dedup",
    "string_functions_cleanup",
    "top1_order_per_customer",
    "topk_lineitems_per_order",
    "unpivot_order_measures",
    "window_rank_frame",
    # -- rows-only queries + their hash-checked twins (r11 verdict item 6) --
    "pca_project_embeddings",
    "ann_pq_trained_recall_at_k",
    "pca_fixed_basis_projection",
    "embedding_covariance_cells",
)


def _ordered() -> dict[str, QuerySpec]:
    lead = [n for n in PRIORITY if n in QUERIES]
    rest = [n for n in QUERIES if n not in PRIORITY]
    return {n: QUERIES[n] for n in [*lead, *rest]}


def query_map() -> dict[str, QueryFn]:
    """The ``queries()`` payload for ``__spark_entry__``."""
    _load_all()
    return {name: spec.fn for name, spec in _ordered().items()}


def oracle_sql_map() -> dict[str, str]:
    """The ``oracle_sql()`` payload for ``__spark_entry__``."""
    _load_all()
    return {name: spec.oracle for name, spec in _ordered().items() if spec.oracle is not None}


def headline_queries() -> dict[str, QueryFn]:
    """The subset bench.py times at sf0.1."""
    _load_all()
    return {name: spec.fn for name, spec in QUERIES.items() if spec.headline}


_LOADED = False


def _load_all() -> None:
    """Import every plans module so registration side effects run."""
    global _LOADED
    if _LOADED:
        return
    from . import (  # noqa: F401
        analytics,
        ann,
        clustering,
        curation,
        datapipe,
        dedup,
        graph,
        layout,
        lm,
        multimodal,
        pii,
        relational,
        sampling,
        similarity,
        stats,
        subqueries,
        textstats,
        tpch_analogs,
        udaf_queries,
    )

    _LOADED = True
