"""Full-registry scale sweep: the quadratic catcher, scripted.

Three rounds in a row, hand-picked 8x-replica measurements caught operator
parameters that silently tracked corpus size (fixed IVF grids r6, MMR's
HOF-scored pool and facility location's %MOD pool r7) — each a quadratic
that correctness tests can never see. This script institutionalizes that
sweep (r7 verdict item 3): run EVERY registered query at a base scale and
at a k-times replica (deploy/gen_scale_replica.py), record per-query
wall-clock ratios, and flag anything whose time grows super-linearly.

A clean linear operator shows ratio <= ~k (plus fixed per-job overhead,
which DEFLATES the ratio); a quadratic shows ~k^2. The default flag line
is ratio > 3 for a k=2 step, with a floor on the scaled-side time so the
+-25% single-run noise on sub-second queries (dominated by Spark's fixed
~0.3-0.5 s/job latency) cannot fire it.

Noise defense (r10 verdict item 2 — ported from bench.py, which proved it
in the graded artifact): (a) the sweep REFUSES to start on a loaded host,
resting in bounded steps until the 1-minute load average settles; (b) any
pair whose single-run ratio crosses --confirm-ratio is immediately
re-measured min-of-N (default 3) IN-LINE, and then AGAIN in a FRESH
subprocess JVM (r11 verdict item 3 — the x5.94 incident proved a degraded
session can min-of-3-confirm its own artifact; the fresh process read
x0.98); the published row carries every run plus a ``confirm`` block with
the fresh-process ratio and GC — so a published flag is already
fresh-process-confirmed, and no separate exoneration cycle is ever needed
(r10 verdict item 4); (c) per-row JVM GC deltas land in the artifact so a
stall-shaped reading is self-diagnosing. The r10 evidence was decisive:
single-run readings flagged two queries (x3.01; a 74.5 s base) that
min-of-3 cleared (x1.45; 3.82 s).

Replica routing (r11): the honest corpus-growth shape is FAMILY-SPECIFIC.
Weighting/retrieval workloads need a SATURATING vocabulary (the shared
replica) — under the disjoint replica their vocabulary-sized state grows
linearly in k, a pure construction artifact. Text-similarity/dedup
workloads need cross-copy DISSIMILARITY (the disjoint replica): on this
fixture's 31-token vocabulary, a shared-vocab copy of any document has
expected token-set Jaccard ~0.45 with every base document, so banded LSH
admits ~k^2 cross-copy candidate pairs that no real crawl-growth
produces (measured: doc_containment x5.07, lsh_recall x3.9,
cross_source_dup x3.97 min-of-3-confirmed on the shared replica — all
linear on disjoint). The sweep therefore measures each query against the
replica that keeps ITS workload honest: names in DEDUP_TEXT_FAMILY run
on the disjoint replica, everything else on the shared one. Queries that
never read documents.text are mode-invariant (both replicas carry
identical non-text tables). ``--mode`` forces a single replica for both
families (the historical single-mode behavior).

Flagged queries are candidates, not verdicts: re-measure at 8x (the ratio
separates noise from growth far better there) before concluding — and
every flag must end the round either fixed or explained in SCALE.md.

Usage:
    python deploy/sweep_scale.py [--base DIR] [--scaled DIR] [--k K]
                                 [--out SWEEP.json] [--flag-ratio R]
                                 [--min-seconds S] [--only SUBSTR]
                                 [--mode shared|disjoint]
                                 [--confirm-ratio R] [--confirm-runs N]

The scaled replica is generated on demand if --scaled does not exist.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import jvm_gc_sec, rest_until_quiet  # noqa: E402
from similarity_analysis_big_data_spark.plans import registry  # noqa: E402
from similarity_analysis_big_data_spark.session import get_session  # noqa: E402


# Queries whose >threshold ratio is EXPLAINED in SCALE.md's sweep ledger
# (not growth): they still appear in the artifact with their numbers, but
# are reported under `explained` instead of `flagged` so a round's "new
# flags" signal stays clean. Add a name here ONLY with a SCALE.md entry
# that carries an 8x (or better) point proving convergence. Entries in
# DISJOINT_ONLY apply only under --mode disjoint: they document replica
# artifacts of linear vocabulary growth, which the shared-vocab default
# does not construct (r10 verdict item 3 — the title entry retires from
# the default sweep rather than being explained away).
EXPLAINED: dict[str, str] = {
    "fuzzy_levenshtein_pairs": "capped-block pair count saturates (~31k); "
    "2x ratio is the one-time saturation step — 8x/2x measured x1.26",
    "approx_distinct_parts": "mixed exact+HLL agg partial-buffer threshold; "
    "2x->8x measured x1.7 for 4x data (sub-linear continuation)",
    "title_retrieval_accuracy": "[disjoint mode only] dense-strategy pair "
    "stage under the disjoint replica: per-copy vocabularies are disjoint, "
    "so vocab grows with k (31*k <= 256 until k=16) and the broadcast-matmul "
    "cells grow ~k^2 — a replica artifact, not corpus growth (real corpora "
    "add documents, not proportional vocabulary; the plan flips to sparse at "
    "the vocab-496 point, SCALE.md r7). Min-of-3: 1x/2x/8x = 3.15/4.58/26.96 "
    "s (2x ratio 1.45; the >3 single-run sweep readings were the stall-prone "
    "host floor). The shared-vocab default mode does not construct this "
    "growth shape.",
}
DISJOINT_ONLY: frozenset[str] = frozenset({"title_retrieval_accuracy"})

# Cross-document TEXT-similarity workloads: measured against the DISJOINT
# replica (cross-copy dissimilarity is their honest growth shape — see
# module docstring). Curated from the registry's dedup/similarity
# families; queries over embeddings / synthetic media / events are NOT
# here because their inputs are byte-identical across replica modes.
DEDUP_TEXT_FAMILY: frozenset[str] = frozenset(
    {
        "contrastive_pair_mining",
        "cross_source_dup_matrix",
        "decontaminate_against_eval",
        "dedup_canonical_tokenset",
        "dedup_exact_groups",
        "dedup_intradoc_repeats_rewrite",
        "dedup_paragraphs_reassemble",
        "doc_containment_pairs",
        "dup_rate_by_source",
        "entity_name_clusters",
        "exact_substring_spans",
        "fuzzy_levenshtein_pairs",
        "incremental_dedup_delta",
        "incremental_near_dup_delta",
        "incremental_substring_delta",
        "lsh_recall_by_jaccard_band",
        "minhash_dedup_verified",
        "minhash_estimate_accuracy",
        "minhash_lsh_candidates",
        # consumes minhash_dedup_verified's text pairs (its image/audio
        # inputs are mode-invariant, but the text side dominates growth)
        "multimodal_dedup_policy_matrix",
        "near_dup_best_quality_survivors",
        "near_dup_cluster_stats",
        "near_dup_survivors",
        "ngram_jaccard_pairs",
        "passage_dup_stats",
        "ppjoin_exact_pairs",
        "simhash_hamming_pairs",
        "split_leakage_pairs",
        "substring_dedup_rewrite",
        "substring_dup_coverage",
        "token_budget_after_dedup",
        "train_corpus_leakage_purged",
        "weighted_jaccard_pairs",
    }
)


def _time_query(spark, fn, sf_dir: str) -> float:
    spark.catalog.clearCache()
    start = time.perf_counter()
    # noop write = full materialization without a driver-side collect
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scaled", default="/tmp/rep2x")
    ap.add_argument(
        "--scaled-disjoint",
        default=None,
        help="disjoint-replica dir for the DEDUP_TEXT_FAMILY rows "
        "(default: <scaled>_disjoint); only used in dual routing",
    )
    ap.add_argument("--k", type=int, default=2, help="replica factor of --scaled")
    ap.add_argument(
        "--mode",
        default=None,
        choices=("shared", "disjoint"),
        help="force ONE replica mode for every query; default is dual "
        "routing (shared, with DEDUP_TEXT_FAMILY on disjoint)",
    )
    ap.add_argument("--out", default=None, help="JSON artifact path")
    ap.add_argument("--flag-ratio", type=float, default=3.0)
    ap.add_argument(
        "--min-seconds",
        type=float,
        default=0.8,
        help="scaled-side floor below which a high ratio is job-overhead noise",
    )
    ap.add_argument(
        "--confirm-ratio",
        type=float,
        default=2.5,
        help="single-run ratio above which the pair is re-measured min-of-N "
        "before anything is published (set above flag-ratio to disable)",
    )
    ap.add_argument(
        "--confirm-runs",
        type=int,
        default=3,
        help="total runs per side for a confirmation re-measure",
    )
    ap.add_argument(
        "--only",
        default=None,
        help="substring filter on query names (comma-separated = any-of)",
    )
    ap.add_argument(
        "--child-query",
        default=None,
        help="internal: time ONE query min-of-N in this fresh process "
        "(base + scaled dirs must already exist) and print one JSON line; "
        "used by the parent sweep's fresh-process confirmation",
    )
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    # Fresh-process confirmation child (r11 verdict item 3): the in-line
    # min-of-N re-measure runs in the same long-lived warmed session, and
    # the r11 x5.94 incident proved a degraded JVM can min-of-3-confirm
    # its own artifact (a fresh-process re-measure read x0.98). So every
    # near-threshold pair is now ALSO re-measured here — a brand-new JVM
    # whose heap has no history — before anything is published.
    if args.child_query:
        registry.query_map()  # trigger plan-module registration side effects
        spark = get_session(app_name="sabds-sweep-confirm", master=f"local[{cpus}]")
        for d in {args.base, args.scaled}:
            spark.read.parquet(f"{d}/lineitem.parquet").count()
        fn = registry.QUERIES[args.child_query].fn
        gc0 = None
        try:
            gc0 = jvm_gc_sec(spark)
        except Exception:
            pass
        base_runs, scaled_runs = [], []
        for _ in range(max(1, args.confirm_runs)):
            base_runs.append(_time_query(spark, fn, args.base))
            scaled_runs.append(_time_query(spark, fn, args.scaled))
        out = {
            "base_runs": [round(t, 3) for t in base_runs],
            "scaled_runs": [round(t, 3) for t in scaled_runs],
        }
        try:
            if gc0 is not None:
                out["gc_s"] = round(jvm_gc_sec(spark) - gc0, 2)
            out["loadavg_1m"] = round(os.getloadavg()[0], 2)
        except Exception:
            pass
        print(json.dumps(out))
        spark.stop()
        return

    def ensure_replica(path: str, mode: str) -> None:
        """Generate the replica at ``path`` unless a dir with a matching
        (k, src, mode) stamp already exists; refuse a mismatched dir —
        a stale replica silently reused would make every ratio (and
        every flag) wrong."""
        meta_path = Path(path, "replica_meta.json")
        reusable = False
        if Path(path, "documents.parquet").exists():
            if meta_path.exists():
                meta = json.loads(meta_path.read_text())
                reusable = (
                    meta.get("k") == args.k
                    and meta.get("src") == args.base
                    and meta.get("mode", "disjoint") == mode
                )
            if not reusable:
                raise SystemExit(
                    f"{path} exists but its replica_meta.json is missing or "
                    f"does not match --k {args.k} / --base {args.base} / "
                    f"mode {mode}; delete the directory (or point the flag "
                    "elsewhere) and rerun"
                )
        if not reusable:
            subprocess.run(
                [
                    sys.executable,
                    str(Path(__file__).with_name("gen_scale_replica.py")),
                    str(args.k),
                    path,
                    args.base,
                    "--mode",
                    mode,
                ],
                check=True,
            )

    dual = args.mode is None
    shared_dir = args.scaled
    disjoint_dir = args.scaled_disjoint or f"{args.scaled.rstrip('/')}_disjoint"
    if dual:
        ensure_replica(shared_dir, "shared")
        ensure_replica(disjoint_dir, "disjoint")
    else:
        ensure_replica(shared_dir, args.mode)
        disjoint_dir = shared_dir  # single-mode: everything on one dir

    def replica_for(name: str) -> tuple[str, str]:
        if not dual:
            return shared_dir, args.mode
        if name in DEDUP_TEXT_FAMILY:
            return disjoint_dir, "disjoint"
        return shared_dir, "shared"

    # Rest gate BEFORE the JVM starts (bench.py's, same constants).
    rest = rest_until_quiet()

    def fresh_session():
        s = get_session(app_name="sabds-sweep", master=f"local[{cpus}]")
        # warm every measured directory's parquet footers + JVM/codegen once
        for d in {args.base, shared_dir, disjoint_dir}:
            s.read.parquet(f"{d}/lineitem.parquet").count()
        return s

    spark = fresh_session()

    only = [s.strip() for s in (args.only or "").split(",") if s.strip()]
    all_names = sorted(registry.query_map())
    names = [n for n in all_names if not only or any(s in n for s in only)]

    def explained_note(name: str, replica_mode: str) -> str | None:
        # DISJOINT_ONLY entries document linear-vocabulary artifacts; they
        # only apply when the query actually ran on the disjoint replica
        if name in DISJOINT_ONLY and replica_mode != "disjoint":
            return None
        return EXPLAINED.get(name)

    results: dict[str, dict] = {}
    flagged: list[str] = []
    explained: list[str] = []
    for i, name in enumerate(names):
        fn = registry.QUERIES[name].fn
        scaled_dir, replica_mode = replica_for(name)
        try:
            gc0 = None
            try:
                gc0 = jvm_gc_sec(spark)
            except Exception:
                pass
            t_base = _time_query(spark, fn, args.base)
            t_scaled = _time_query(spark, fn, scaled_dir)
            gc_row = None
            if gc0 is not None:
                try:
                    gc_row = round(jvm_gc_sec(spark) - gc0, 2)
                except Exception:
                    pass
        except Exception as exc:  # keep sweeping; a crash is its own flag
            results[name] = {"error": str(exc)[:200]}
            flagged.append(name)
            print(f"[{i + 1}/{len(names)}] {name}: ERROR {exc}", flush=True)
            # an executor/driver OOM kills the whole local JVM, and every
            # later query would then fail with Connection refused — detect
            # the dead gateway and rebuild the session before moving on
            try:
                spark.range(1).count()
            except Exception:
                print("JVM gone — restarting session", flush=True)
                try:
                    spark.stop()
                except Exception:
                    pass
                from pyspark import SparkContext
                from pyspark.sql import SparkSession

                # clear every cached handle to the dead gateway so
                # getOrCreate() builds a genuinely new JVM. These are
                # pyspark private internals — if a pyspark upgrade renames
                # any of them, degrade to "restart failed, abort sweep"
                # instead of an AttributeError mid-recovery.
                try:
                    SparkSession._instantiatedSession = None
                    SparkSession._activeSession = None
                    with SparkContext._lock:
                        SparkContext._active_spark_context = None
                        SparkContext._gateway = None
                        SparkContext._jvm = None
                    spark = fresh_session()
                except Exception as restart_exc:
                    raise SystemExit(
                        "JVM restart failed (pyspark internals changed?): "
                        f"{restart_exc}; aborting sweep"
                    ) from restart_exc
            continue
        row: dict = {}
        base_runs, scaled_runs = [t_base], [t_scaled]
        ratio = round(t_scaled / t_base, 2) if t_base > 0 else float("inf")
        # Confirmation re-measure (bench.py's min-of-N, applied adaptively):
        # a suspicious single-run pair gets (confirm_runs - 1) more runs per
        # side BEFORE anything is published, so a flag in the artifact is
        # already min-of-N-confirmed and noise never needs an addendum.
        confirmed = False
        confirm_row: dict | None = None
        if ratio > args.confirm_ratio and t_scaled >= args.min_seconds:
            inline_gc0 = None
            try:
                inline_gc0 = jvm_gc_sec(spark)
            except Exception:
                pass
            for _ in range(max(0, args.confirm_runs - 1)):
                try:
                    base_runs.append(_time_query(spark, fn, args.base))
                    scaled_runs.append(_time_query(spark, fn, scaled_dir))
                except Exception:
                    break  # publish what we have; partial mins are still mins
            t_base, t_scaled = min(base_runs), min(scaled_runs)
            ratio = round(t_scaled / t_base, 2) if t_base > 0 else float("inf")
            confirmed = True
            if inline_gc0 is not None:
                try:
                    row["confirm_inline_gc_s"] = round(jvm_gc_sec(spark) - inline_gc0, 2)
                except Exception:
                    pass
            # Fresh-process confirm (r11 verdict item 3): the in-line
            # min-of-N above shares this session's heap, and the r11 x5.94
            # incident showed a degraded session min-of-3-confirming its
            # own artifact. Re-measure in a brand-new subprocess JVM; the
            # published mins absorb the fresh runs, and the row carries the
            # fresh-process evidence so no flag needs a manual exoneration
            # cycle afterward.
            try:
                proc = subprocess.run(
                    [
                        sys.executable,
                        os.path.abspath(__file__),
                        "--child-query",
                        name,
                        "--base",
                        args.base,
                        "--scaled",
                        scaled_dir,
                        "--confirm-runs",
                        str(args.confirm_runs),
                    ],
                    capture_output=True,
                    text=True,
                    timeout=float(os.environ.get("SPARK_GRAFT_SWEEP_CHILD_TIMEOUT", "900")),
                )
                child = json.loads(
                    [ln for ln in proc.stdout.splitlines() if ln.strip()][-1]
                )
                fresh_base = min(child["base_runs"])
                fresh_scaled = min(child["scaled_runs"])
                confirm_row = {
                    "fresh_process": True,
                    "base_runs": child["base_runs"],
                    "scaled_runs": child["scaled_runs"],
                    "ratio": round(fresh_scaled / fresh_base, 2)
                    if fresh_base > 0
                    else float("inf"),
                    "gc_s": child.get("gc_s"),
                }
                base_runs.extend(child["base_runs"])
                scaled_runs.extend(child["scaled_runs"])
                t_base, t_scaled = min(base_runs), min(scaled_runs)
                ratio = round(t_scaled / t_base, 2) if t_base > 0 else float("inf")
            except Exception as exc:
                # a failed child must not fail the sweep: publish the
                # in-line numbers with the failure disclosed
                confirm_row = {"fresh_process": False, "error": str(exc)[:200]}
        row.update(
            {
                "base_s": round(t_base, 3),
                "scaled_s": round(t_scaled, 3),
                "ratio": ratio,
                "replica": replica_mode,
            }
        )
        if confirmed:
            row["min_of"] = len(base_runs)
            row["base_runs"] = [round(t, 3) for t in base_runs]
            row["scaled_runs"] = [round(t, 3) for t in scaled_runs]
        if confirm_row is not None:
            row["confirm"] = confirm_row
        if gc_row is not None:
            row["gc_s"] = gc_row
        results[name] = row
        over = ratio > args.flag_ratio and t_scaled >= args.min_seconds
        tag = ""
        note = explained_note(name, replica_mode)
        if over and note is not None:
            explained.append(name)
            tag = " EXPLAINED"
        elif over:
            flagged.append(name)
            tag = " FLAG (min-of-%d)" % len(base_runs)
        elif confirmed:
            tag = " cleared-by-min-of-%d" % len(base_runs)
        print(
            f"[{i + 1}/{len(names)}] {name}: {t_base:.2f}s -> {t_scaled:.2f}s "
            f"(x{ratio}){tag}",
            flush=True,
        )

    payload = {
        "base": args.base,
        "scaled": args.scaled,
        "k": args.k,
        "mode": args.mode or "dual",
        "scaled_disjoint": disjoint_dir if dual else None,
        "n_disjoint_routed": sum(1 for n in names if replica_for(n)[1] == "disjoint"),
        "flag_ratio": args.flag_ratio,
        "min_seconds": args.min_seconds,
        "confirm_ratio": args.confirm_ratio,
        "confirm_runs": args.confirm_runs,
        "n_queries": len(names),
        "n_registry": len(all_names),
        "flagged": flagged,
        "explained": {n: EXPLAINED[n] for n in explained},
        "queries": results,
    }
    try:
        payload["host"] = {
            "rest": rest,
            "loadavg_end": round(os.getloadavg()[0], 2),
            "gc_total_sec": round(jvm_gc_sec(spark), 2),
        }
    except Exception:
        pass  # forensics must never fail the sweep artifact
    if args.out:
        Path(args.out).write_text(json.dumps(payload, indent=1) + "\n")
    print(json.dumps({"n": len(names), "flagged": flagged, "explained": explained}))
    try:
        spark.stop()
    except Exception:
        pass  # a dead JVM at shutdown must not fail the sweep artifact


if __name__ == "__main__":
    main()
