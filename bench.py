"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

SPARK_GRAFT_BENCH_ORACLE=1 adds "oracle_ratio": {name: spark_sec / duckdb_sec}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from similarity_analysis_big_data_spark.plans import registry
from similarity_analysis_big_data_spark.session import get_session

# Rest gate: wait in REST_STEP_SEC steps, at most REST_CAP_SEC, until the
# 1-minute load average is at most LOAD_THRESHOLD. Threshold 4 on a 32-cpu
# host is the level below which the committed idle-vs-busy pairs show no
# inflation; the cap keeps the whole bench bounded.
LOAD_THRESHOLD = 4.0
REST_CAP_SEC = 180.0
REST_STEP_SEC = 15.0

# single-run timings swing ~25%; min-of-RUNS is the published statistic
RUNS = 3


def rest_until_quiet() -> dict:
    """Refuse to start the measured loop on a loaded host.

    The r8/r9 graded artifacts read 16.66 s / 23.50 s against a 15.5-15.8 s
    idle floor of the SAME code; both recorded loadavg 5-7 at gate time and
    a ~4-minute rest fully recovered the floor. So the bench waits, in
    bounded steps, for the load to drop before the JVM starts, and records
    the wait: either the host settled (``settled: true``) or it did not
    within the cap and the numbers carry that caveat.
    """
    waited = 0.0
    initial = os.getloadavg()[0]
    load = initial
    while load > LOAD_THRESHOLD and waited < REST_CAP_SEC:
        time.sleep(REST_STEP_SEC)
        waited += REST_STEP_SEC
        load = os.getloadavg()[0]
    return {
        "loadavg_initial": round(initial, 2),
        "loadavg_after_rest": round(load, 2),
        "rest_wait_sec": round(waited, 1),
        "settled": load <= LOAD_THRESHOLD,
    }


def jvm_gc_sec(spark) -> float:
    """Cumulative GC time of the session's JVM, in seconds."""
    return (
        sum(
            b.getCollectionTime()
            for b in spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        / 1000.0
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf = float(sf)
    except ValueError:
        # non-standard dir name (e.g. a scale replica) — report the raw tag
        pass

    # before the JVM starts, so the load reading is external pressure only
    rest = rest_until_quiet()

    spark = get_session(app_name="sabds-bench", master=f"local[{cpus}]")

    # warm-up: JVM/codegen/parquet-footer costs land here, not on the first
    # measured query
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    # One pass, min-of-RUNS per query, no re-runs. The escalation triggers
    # that used to re-run this loop in a fresh process earned nothing in the
    # committed artifacts (BENCH_r09..r13): measured-loop GC has been
    # 0.28-1.33 s since the -Xms == -Xmx fix, under the 2.0 s trigger; the
    # mid-loop load and idle-reference triggers never fired; the pre-JVM
    # load trigger fired once (BENCH_r13.json) and its fresh-process re-run
    # moved the published total from 12.88 s to 12.85 s.
    gc_before = jvm_gc_sec(spark)
    timings: dict[str, float] = {}
    for name, fn in sorted(registry.headline_queries().items()):
        best = float("inf")
        for _ in range(RUNS):
            # drop any DataFrames persisted by the previous run: repeat runs
            # must pay their own cache build, and re-persisting an identical
            # plan logs CacheManager "already cached" warnings
            spark.catalog.clearCache()
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            # force full materialization without collecting to the driver
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - start)
        timings[name] = round(best, 3)
    gc_loop = jvm_gc_sec(spark) - gc_before

    payload = {
        "metric": "headline_query_wall_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # host state, so a contended reading explains itself from the artifact
        "host": {
            "loadavg_1m": round(os.getloadavg()[0], 2),
            "rest": rest,
            "gc_loop_sec": round(gc_loop, 2),
        },
    }

    # Optional self-assessment: time each headliner's DuckDB oracle on the
    # same parquet and report the spark/duckdb ratio per query — the locally
    # computable version of the BASELINE comparison.
    if os.environ.get("SPARK_GRAFT_BENCH_ORACLE") == "1":
        from similarity_analysis_big_data_spark.plans.registry import QUERIES
        from tests.oracle import duckdb_conn

        con = duckdb_conn(sf_dir)
        ratios = {}
        for name in timings:
            oracle = QUERIES[name].oracle
            if not oracle:
                continue
            best = float("inf")
            for _ in range(RUNS):
                start = time.perf_counter()
                con.execute(oracle).fetchall()
                best = min(best, time.perf_counter() - start)
            ratios[name] = round(timings[name] / best, 2) if best > 0 else None
        con.close()
        payload["oracle_ratio"] = ratios

    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
