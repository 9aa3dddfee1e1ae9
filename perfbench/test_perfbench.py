"""Tests for the benchmark itself (not part of the engine's test suite).

Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke test starts one local Spark session and runs both workloads on
500-document inputs, the size of the sf0.001 fixture's documents table.
"""

from __future__ import annotations

import json
import re
import sys
import time
from pathlib import Path

import duckdb
import pytest

BENCH = Path(__file__).resolve().parent
sys.path[:0] = [str(BENCH.parent), str(BENCH)]

import inputs  # noqa: E402
import run  # noqa: E402

SHAPE = ("docs", "vocab", "chars", "dup_docs", "k", "base_docs", "source")
NAME = re.compile(r"[A-Za-z0-9_.-]+")
SMOKE = {
    "retrieval": inputs.Spec("sf0.01", 500, 1, "dense"),
    "near_dup": inputs.Spec("sf0.1", 500, 1, "none"),
}


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_seed_fixes_shape_and_varies_content(tmp_path, workload):
    spec = run.WORKLOADS[workload][1]
    a = inputs.build(tmp_path / "a", spec, seed=7)
    b = inputs.build(tmp_path / "b", spec, seed=7)
    c = inputs.build(tmp_path / "c", spec, seed=8)
    assert (tmp_path / "a/documents.parquet").read_bytes() == (
        tmp_path / "b/documents.parquet"
    ).read_bytes()
    assert a == b
    assert c["sha256"] != a["sha256"] and c["id_offset"] != a["id_offset"]
    assert {k: c[k] for k in SHAPE} == {k: a[k] for k in SHAPE}
    assert a["docs"] == spec.base_docs * spec.k


def test_stale_input_directory_is_refused(tmp_path):
    spec = run.WORKLOADS["near_dup"][1]
    inputs.build(tmp_path, spec, seed=1)
    assert inputs.build(tmp_path, spec, seed=1)["seed"] == 1  # a matching stamp is reused
    with pytest.raises(SystemExit, match="stale input directory"):
        inputs.build(tmp_path, spec, seed=2)


def test_metric_names_match_benchmark_json():
    bench = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    assert e2e == list(run.E2E_UNITS)
    assert layers == list(run.PER_LAYER)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for name in (*e2e, *layers):
        assert NAME.fullmatch(name), name
    assert all(m["unit"] == run.unit_of(m["name"]) for m in bench["per_layer"])
    assert all(m["unit"] == run.E2E_UNITS[m["name"]] for m in bench["end_to_end"])


@pytest.fixture(scope="module")
def session():
    spark, registry, _ = run.setup()
    yield spark, registry
    run.stop(spark)


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_is_correct_and_traced_digests_match(session, workload):
    spark, registry = session
    start = time.perf_counter()
    bench = run.Run(spark, registry, workload, seed=5, spec=SMOKE[workload])
    cold_s, _ = bench.run_pass()
    metrics, _ = bench.per_layer(seconds=0, setup_s=0.0, cold_s=cold_s)
    bench.check()
    assert time.perf_counter() - start < 60
    assert bench.failures == []
    assert bench.n_failed == 0 and bench.attempted == 3 * len(bench.queries)
    assert metrics["sources.rows"] > 0 and metrics["trace.uncovered_s"] >= 0
