"""Dense sequential id assignment at scale (the zipWithIndex problem).

``row_number() OVER (ORDER BY ...)`` funnels the corpus through ONE
partition — the classic scale-killer. The RDD escape hatch
(``zipWithIndex``) is imperative and caches. This is the DataFrame-native
plan, fully deterministic with no persisted state:

1. boundaries: approx percentiles of the (coarse) order key (GK sketch,
   cardinality-bounded state) — one aggregate; boundaries only affect
   load balance, never the assigned ids (unlike repartitionByRange,
   whose sampled boundaries change the DATA each partition holds AND can
   differ between the jobs that would need to agree);
2. pid: per row, count boundaries strictly below the key — a broadcast
   array literal folded JVM-side, so the assignment is a map-only column;
3. offsets: per-pid row counts cumulative-summed by a window over the
   <= B-row count relation (bounded by construction) and broadcast-joined
   back as a column — JVM-side, so the offsets materialize inside the
   SAME action as the assignment instead of a separate driver collect
   (r5 verdict item 4 flagged the 3-action shape);
4. assign: shuffle once on pid, sort each partition by the total order,
   and add the joined offset to the partition-local rank.

Total cost: one boundary aggregate + ONE data shuffle, two actions in
all. Every step recomputes identically, so no job-to-job agreement
problem exists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def stable_dense_ids(df: DataFrame, coarse_key: str, tiebreak: str) -> DataFrame:
    """Assign ids 0..n-1 following the total order (coarse_key, tiebreak).

    ``coarse_key`` may have duplicates (equal values always land in one
    bucket); ``tiebreak`` must make the order total. Output columns: the
    input's plus ``new_id``.
    """
    import pandas as pd

    from .rank import RANK_BUCKETS, bucket_of, percentile_bounds

    # approx-percentile boundaries (GK sketch — r5, same rationale as
    # operators/rank.py): boundaries only set partition LOAD BALANCE; the
    # ids come from per-bucket sorts plus exact per-bucket count offsets,
    # so they are exact and deterministic for any boundary choice.
    # Returns [] on empty input — everything lands in bucket 0 and the
    # assignment degrades to a zero-row pass.
    bounds = percentile_bounds(df, coarse_key, RANK_BUCKETS)

    with_pid = df.withColumn("_pid", bucket_of(coarse_key, bounds))
    cnt = with_pid.groupBy("_pid").agg(F.count("*").alias("_n"))
    # exclusive prefix sum — an unpartitioned window that is legal only
    # because its input is the <= B-row count relation, bounded by
    # construction; _pid is never NULL, so a plain broadcast equi-join is
    # safe. The lazy localCheckpoint breaks the off side's lineage: it
    # shares with_pid's subtree, and without the break Catalyst's
    # self-join deduplication mis-binds the bucket expression inside the
    # downstream mapInPandas projection (INTERNAL_ERROR_ATTRIBUTE_NOT_
    # FOUND at runtime). eager=False fires no extra action — the <= B-row
    # relation materializes inside the consuming job's broadcast build.
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    off = cnt.select(
        F.col("_pid").alias("_o_pid"),
        F.coalesce(F.sum("_n").over(w_off), F.lit(0)).cast("long").alias("_off"),
    ).localCheckpoint(eager=False)

    out_cols = df.columns
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", new_id long"

    def assign(batches):
        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        if len(pdf) == 0:
            return
        pdf = pdf.sort_values(["_pid", coarse_key, tiebreak], kind="mergesort")
        ranks = pdf.groupby("_pid").cumcount()
        pdf["new_id"] = pdf["_off"] + ranks
        yield pdf[out_cols + ["new_id"]]

    return (
        with_pid.join(F.broadcast(off), with_pid["_pid"] == off["_o_pid"])
        .drop("_o_pid")
        .repartition(RANK_BUCKETS, "_pid")
        .sortWithinPartitions("_pid", coarse_key, tiebreak)
        .mapInPandas(assign, schema=schema)
    )
