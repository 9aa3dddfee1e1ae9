"""Regenerate PLANS.md: physical plan + job-count line per bench headliner.

Job accounting (r5 verdict item 4): constant-factor regressions were not
attributable from artifacts alone, so each headliner now records
  - ``actions``: driver-visible actions fired by one invocation — probe
    collects, eager localCheckpoints, and the final collect (counted by
    wrapping the DataFrame action methods);
  - ``scheduler jobs``: total DAGScheduler jobs (AQE materializes each
    query stage as its own job, so this is always >= actions).
A note is emitted for every headliner with more than 2 actions.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# PySpark 4 splits the API: pyspark.sql.dataframe.DataFrame is the abstract
# facade; the classic engine's concrete methods live on
# pyspark.sql.classic.dataframe.DataFrame — patch the concrete class or the
# wrappers never fire.
try:
    from pyspark.sql.classic.dataframe import DataFrame as _DF
except ImportError:  # older layout
    from pyspark.sql.dataframe import DataFrame as _DF

from similarity_analysis_big_data_spark.plans import registry
from similarity_analysis_big_data_spark.session import get_session

_ACTIONS = {"n": 0}


def _wrap(method_name):
    orig = getattr(_DF, method_name)

    def counted(self, *args, **kwargs):
        if method_name == "localCheckpoint":
            if kwargs.get("eager", True) and (not args or args[0]):
                _ACTIONS["n"] += 1
        else:
            _ACTIONS["n"] += 1
        return orig(self, *args, **kwargs)

    setattr(_DF, method_name, counted)


for _m in ("collect", "count", "first", "head", "toPandas", "localCheckpoint"):
    _wrap(_m)

# Hand-maintained context for headliners that legitimately need >2 driver
# actions — keep in sync with the query docstrings.
NOTES = {
    "title_best_abstract": (
        "first call: cheap 512-doc vocab pre-probe, ONE stats + title-matrix "
        "collect that also decides the strategy (materializes the lazy TF/DF "
        "checkpoints), final action; the verdict is memoized per (session, dir) "
        "as 'sparse' or 'dense' only, so the repeat call measured here skips "
        "the pre-probe and is 2 actions — the strategy='dense' path's stats + "
        "title-matrix collect (its corpus count enters the final action's IDF "
        "as a literal) and the final action; a resolved-sparse corpus pays NO "
        "probe actions and creates no checkpoints. Floor table in SCALE.md."
    ),
    "near_dup_survivors": (
        "actions = token-set checkpoint inside near_dup_pairs (the sets feed "
        "signatures and verify; A/B in its docstring) + CC (edge checkpoint, "
        "bounded edge collect: the 2,701 verified edges fit the driver bound, "
        "so a union-find labels them with no hook round or quotient) + final "
        "anti-join against the broadcast local loser ids; per-stage floor "
        "table in SCALE.md."
    ),
    "doc_tfidf_normalized": (
        "1 action (r6): the corpus size enters the IDF as a cross-joined "
        "1-row broadcast aggregate. r10: the TF persist is GONE - fused "
        "recompute of the tokenize+agg chain beat the cache barrier at "
        "1x/2x/8x (SCALE.md)."
    ),
    "tokenize_corpus_to_ids": (
        "vocabulary build collects the id map once; apply is one action."
    ),
    "pca_project_embeddings": (
        "covariance/eigh run on a d x d driver matrix: one stats action + "
        "final projection action."
    ),
    "stable_doc_reindex": (
        "2 actions: percentile-boundary probe + final; the per-bucket "
        "offsets build inside the final action (lazy checkpoint broadcast)."
    ),
    "stream_twin_sliding_counts": (
        "streaming micro-batch jobs run under the stream's own job group, "
        "so the scheduler count here records only the memory-table read; "
        "the stream itself is one availableNow run (plan below is the "
        "post-run memory scan)."
    ),
}

# partitions pinned with the master: every hashpartitioning(..., N) line in
# PLANS.md then reads the same on any host, whatever its core count
spark = get_session(app_name="plans-doc", master="local[8]", shuffle_partitions=8)
sf = "/root/testdata/sf0.01"
sc = spark.sparkContext

out = [
    "# PLANS — physical plans of the bench headliners (sf0.01, AQE initial plans)",
    "",
    "Generated by `deploy/gen_plans.py` (re-run after plan-affecting changes).",
    "What to look for per plan: `PushedFilters`/`ReadSchema` at the scans,",
    "`BroadcastHashJoin` on dimension sides, `partial_*` before each",
    "`Exchange`, `WindowGroupLimit` ahead of rank filters, and the absence",
    "of `CartesianProduct`/`BroadcastNestedLoopJoin` on production paths.",
    "",
    "Per query, `jobs:` records `actions` (driver-visible actions for one",
    "invocation: probe collects, eager localCheckpoints, the final collect)",
    "and `scheduler jobs` (DAGScheduler jobs — AQE materializes each query",
    "stage as its own job, so this is always >= actions). Regressions in",
    "either are attributable without re-profiling.",
    "",
]

for name, fn in sorted(registry.headline_queries().items()):
    df = fn(spark, sf)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # measure job counts on a fresh invocation (collect included)
    spark.catalog.clearCache()
    before_jobs = len(sc.statusTracker().getJobIdsForGroup(None) or [])
    _ACTIONS["n"] = 0
    fn(spark, sf).collect()
    actions = _ACTIONS["n"]
    jobs = len(sc.statusTracker().getJobIdsForGroup(None) or []) - before_jobs
    line = f"jobs: {actions} actions, {jobs} scheduler jobs"
    note = NOTES.get(name)
    if actions > 2 and not note:
        note = "NOTE: >2 actions and no recorded justification — audit this."
    out.append(f"## {name}\n\n`{line}`\n")
    if note:
        out.append(f"_{note}_\n")
    out.append(f"```\n{plan}```\n")

dest = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
)
open(dest, "w").write("\n".join(out))
print("written", len("\n".join(out)))
spark.stop()
