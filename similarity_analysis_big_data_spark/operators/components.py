"""Connected components over candidate pairs + dedup survivor selection
(SURVEY §7 step 6: "LSH self-join + connected components + anti-join").

Min-label connected components with three finishes, cheapest first:

1. **Edge finish.** When the edge set itself fits on the driver (at most
   _DRIVER_FINISH_MAX_EDGES rows), one bounded collect brings it over and
   a union-find labels every node: no distributed round at all. Verified
   near-dup edges usually land here.
2. **Quotient finish.** Otherwise a one-shot hook contraction (every node
   adopts min(self, neighbors); edges rewritten through those labels give
   the exact quotient graph). Dense clusters collapse there; a quotient
   that fits is finished by the same union-find plus one broadcast
   compose, in O(1) jobs.
3. **Propagation.** Quotients too big for that fall through to min-label
   propagation with pointer jumping over the full edge set (O(log
   diameter) rounds, each one distributed join+agg; the driver only
   orchestrates and checks the label-sum fixpoint — no data moves
   through it).

One constant bounds both driver finishes.

Reference parity note: the reference has no dedup at all — this implements
the north-star extension; the algorithm follows the well-known
alternating-star formulation from the MapReduce connected-components
literature.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.readers import local_relation

# Once the edge set, or failing that the contracted supernode graph, fits
# under this many edges, finish with a driver-side union-find instead of
# burning ~0.5 s of fixed job latency per distributed round on a relation
# of a few thousand rows (measured sf0.1: rounds past the first
# contraction chased a 272→10→2→1 edge tail for ~1.5 s; perfbench
# near_dup: the hook round and quotient on 6,761 verified edges took 10
# of the pass's 21 jobs). Bounded driver state by construction — the same
# posture as operators/rank.py's offset relation.
_DRIVER_FINISH_MAX_EDGES = 10_000

# Propagation rounds before connected_components stops with a
# RuntimeWarning (pointer jumping needs O(log diameter) rounds).
MAX_ITERATIONS = 20


def _driver_union_find(pairs) -> dict:
    """Min-root union-find over collected (a, b) edges; returns
    {node: component_min} for every node of an edge."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    pairs: DataFrame,
    iteration_shuffle_partitions: int | None = None,
) -> DataFrame:
    """(id_l, id_r) undirected edges -> (id, component) with component =
    min node id reachable.

    Three finishes, tried in order (module docstring): a driver union-find
    over the whole edge set when it has at most _DRIVER_FINISH_MAX_EDGES
    rows; else one hook round plus the exact quotient graph under those
    labels, finished by the same union-find when the quotient fits; else
    label(v) <- min(label(v), neighbor labels) with pointer jumping,
    label-sum fixpoint, O(log diameter) rounds.
    ``localCheckpoint(eager=True)`` truncates the lineage every round —
    without it the logical plan doubles per iteration and planning itself
    OOMs. Isolated nodes never appear in pairs — union the full node set
    downstream if needed (dedup_survivors does).
    """
    spark = pairs.sparkSession
    # materialize the pair relation ONCE, and do it UNDER THE CALLER'S
    # shuffle-partition setting: the upstream pipeline feeding the pairs
    # (for dedup: corpus-sized LSH + exact-Jaccard verify) executes inside
    # this eager checkpoint, so the reduced iteration setting must not be
    # installed yet (ADVICE r3 — it was collapsing the flagship dedup
    # path's parallelism, not just the label-sized loop)
    pairs_mat = pairs.select(
        F.col("id_l").alias("src"), F.col("id_r").alias("dst")
    ).localCheckpoint(eager=True)
    # EDGE FINISH: ask for threshold+1 rows — getting <= threshold back
    # PROVES that is the whole edge set, and the union-find labels it with
    # no hook round, quotient or lazy checkpoint (perfbench near_dup: 21
    # jobs a pass -> 11). Above the bound this costs one job that stops
    # reading at threshold+1 rows (sf0.1: 20 -> 21 jobs, warm time a wash).
    # An edge with a null end merges nothing in the distributed tiers
    # either; it is dropped here (None does not order against ids).
    e_rows = pairs_mat.limit(_DRIVER_FINISH_MAX_EDGES + 1).collect()
    if len(e_rows) <= _DRIVER_FINISH_MAX_EDGES:
        id_type = pairs_mat.schema["src"].dataType.simpleString()
        labels = _driver_union_find(
            (a, b) for a, b in e_rows if a is not None and b is not None
        )
        return local_relation(
            spark, labels.items(), f"id {id_type}, component {id_type}"
        )
    conf_key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(conf_key)
    if iteration_shuffle_partitions is not None:
        spark.conf.set(conf_key, str(iteration_shuffle_partitions))
    try:
        return _connected_components_loop(pairs_mat)
    finally:
        spark.conf.set(conf_key, saved)


def _label_sum(labels: DataFrame):
    # Fixpoint witness of a propagation round: the sum of the labels,
    # widened to decimal(38,0) so it cannot overflow at any graph size.
    # Integer labels are summed directly; any other label type (string
    # ids) sums the labels' xxhash64 values instead.
    col = F.col("component")
    dtype = dict(
        (f.name, f.dataType.simpleString()) for f in labels.schema.fields
    )["component"]
    if dtype in ("bigint", "int", "smallint", "tinyint", "long", "integer"):
        col = col.cast("decimal(38,0)")
        return labels.agg(F.sum(col)).first()[0]
    # non-numeric labels: sum-of-hashes change witness (collision odds
    # negligible at 2^-64 per round). The hash must be widened to
    # decimal(38,0) before summing — uniform 64-bit values overflow a
    # bigint sum almost surely past a handful of rows, and Spark 4's ANSI
    # default turns that into ARITHMETIC_OVERFLOW instead of a wrap.
    return labels.agg(
        F.sum(F.xxhash64("component").cast("decimal(38,0)"))
    ).first()[0]


def _connected_components_loop(pairs_mat: DataFrame) -> DataFrame:
    # LAZY checkpoints (r6): edges and labels each feed multiple
    # consumers, so they must materialize once — but eager=True would fire
    # one driver action apiece. eager=False materializes them inside the
    # FIRST consuming action (the quotient collect below) and caches the
    # blocks for every later consumer, cutting the CC fixed budget from 6
    # driver actions to 2 on the shortcut path. pairs_mat stays eager in
    # connected_components() because it must run the upstream pipeline
    # under the CALLER's shuffle setting.
    edges = (
        pairs_mat.union(pairs_mat.select(F.col("dst"), F.col("src")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # initialize at min(self, neighbors) — the first propagation round
    # costs nothing extra here (the node set needs this aggregate anyway),
    # so the loop starts one round ahead
    labels = (
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.least(F.first("src"), F.min("dst")).alias("component"))
        .localCheckpoint(eager=False)
    )
    # ONE-SHOT QUOTIENT SHORTCUT (r5): contract the edges through the
    # initial labels. The initial label map is coherent by construction
    # (labels_0(a) = a for every a in its image: a = min(a, nbrs) implies
    # a has no smaller neighbor), so the contracted relation is exactly
    # the quotient graph of the original, its components are the original
    # components, and its per-component min supernode IS the component's
    # min node id. When that quotient fits on the driver (near-dup
    # graphs: dense clusters collapse to almost nothing — measured sf0.1:
    # 556k edges -> 272 quotient edges), a union-find + one broadcast
    # compose replaces the whole iteration (which was paying ~0.5 s of
    # fixed per-round job latency on label-sized data). Otherwise fall
    # through to the proven propagation loop below on the full edge set.
    lmap_src = labels.select(F.col("id").alias("src"), F.col("component").alias("_ca"))
    lmap_dst = labels.select(F.col("id").alias("dst"), F.col("component").alias("_cb"))
    quotient = (
        edges.join(lmap_src, "src")
        .join(lmap_dst, "dst")
        .filter(F.col("_ca") != F.col("_cb"))
        .select(
            F.least("_ca", "_cb").alias("a"), F.greatest("_ca", "_cb").alias("b")
        )
        .distinct()
    )
    # ONE action replaces the r5 checkpoint+count+collect triple: ask for
    # threshold+1 rows — getting <= threshold back PROVES that is the
    # whole quotient (CollectLimit also short-circuits the contraction
    # early when the quotient is huge, exactly the case where collecting
    # it all would be the mistake)
    q_rows = quotient.limit(_DRIVER_FINISH_MAX_EDGES + 1).collect()
    if len(q_rows) == 0:
        return labels.select("id", "component")
    if len(q_rows) <= _DRIVER_FINISH_MAX_EDGES:
        # a non-empty quotient always moves some supernode, so the compose
        # join is never a no-op; supernodes that keep their label map to
        # themselves
        remap = _driver_union_find((r["a"], r["b"]) for r in q_rows)
        id_type = quotient.schema["a"].dataType.simpleString()
        map_df = local_relation(
            quotient.sparkSession, remap.items(), f"sid {id_type}, newc {id_type}"
        )
        return labels.join(
            F.broadcast(map_df), labels.component == map_df.sid, "left"
        ).select("id", F.coalesce("newc", F.col("component")).alias("component"))

    # big quotient: min-label propagation with pointer jumping over the
    # original edge set, label-sum fixpoint (labels strictly decrease
    # until convergence) — O(log diameter) rounds
    prev_sum = _label_sum(labels)
    converged = False
    for _ in range(MAX_ITERATIONS):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(
            neighbor_min, labels.id == neighbor_min.src, "left"
        ).select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping (path doubling): also adopt the label OF the
        # current label — component ids are node ids, so label(label(v))
        # exists. Min-neighbor alone needs distance-to-min rounds; with
        # shortcutting the round count drops to O(log diameter). The
        # extra join is label-sized — negligible next to the edge join.
        lbl2 = stepped.select(
            F.col("id").alias("pid"), F.col("component").alias("pcomp")
        )
        labels = (
            stepped.join(lbl2, stepped.component == lbl2.pid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("pcomp", F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        new_sum = _label_sum(labels)
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Exiting on the iteration cap with labels still moving means some
        # component (diameter > MAX_ITERATIONS) is under-merged — dedup
        # built on these labels would silently KEEP near-duplicates. Surface
        # it loudly instead of returning as if converged (ADVICE r1).
        warnings.warn(
            f"connected_components: labels still changing after "
            f"{MAX_ITERATIONS} iterations; long-chain components are "
            f"under-merged — raise operators.components.MAX_ITERATIONS",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("id", "component")


def dedup_survivors(
    docs: DataFrame,
    dup_pairs: DataFrame,
    id_col: str,
    iteration_shuffle_partitions: int | None = None,
) -> DataFrame:
    """The deduplicated relation: per near-dup component keep the smallest
    id; docs in no component survive untouched.

    Anti-join formulation (SURVEY §2.3 [ext]): build the non-survivor set
    (component members whose id != component min) and left_anti it away —
    the docs relation streams through one join, never widens.
    """
    comp = connected_components(
        dup_pairs, iteration_shuffle_partitions=iteration_shuffle_partitions
    )
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
