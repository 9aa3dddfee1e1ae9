"""deploy/sweep_scale.py end to end: two queries at sf0.001 against 2x
replicas built on demand, with the in-line min-of-3 re-measure forced on,
and its refusal of an ``--only`` name that no query is registered under.

The sweep runs in its own process (it starts and stops its own session).
The child never rests (``bench.REST_CAP_SEC = 0``), so a loaded host cannot
stall the suite, and zeroes the sweep's confirm line and scaled-side floor
so every pair takes the re-measure path."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from deploy.sweep_scale import DEDUP_TEXT_FAMILY

ROOT = Path(__file__).resolve().parent.parent

CHILD = """
import sys
import bench
bench.REST_CAP_SEC = 0
from deploy import sweep_scale
sweep_scale.CONFIRM_RATIO = 0
sweep_scale.MIN_SECONDS = 0
sys.argv = ["sweep_scale.py"] + sys.argv[1:]
sweep_scale.main()
"""


def test_sweep_routes_remeasures_and_writes_the_artifact(tmp_path, sf_smoke):
    shared, disjoint = tmp_path / "rep2x", tmp_path / "rep2x_dis"
    out = tmp_path / "sweep.json"
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [
            sys.executable, "-c", CHILD,
            "--base", sf_smoke,
            "--k", "2",
            "--scaled", str(shared),
            "--scaled-disjoint", str(disjoint),
            "--only", "near_dup_survivors,global_count",
            "--out", str(out),
        ],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]

    payload = json.loads(out.read_text())
    rows = payload["queries"]
    assert rows["near_dup_survivors"]["replica"] == "disjoint"
    assert rows["global_count"]["replica"] == "shared"
    for name, row in rows.items():
        assert row["replica"] == ("disjoint" if name in DEDUP_TEXT_FAMILY else "shared")
        assert {"base_s", "scaled_s", "ratio", "gc_s"} <= row.keys(), name
        assert row["min_of"] == 3 and len(row["scaled_runs"]) == 3, name
        assert "confirm" not in row, name
    # --only matches exact names: near_dup_survivors selects neither the
    # image nor the video variant
    assert payload["n_queries"] == 2
    assert set(rows) == {"near_dup_survivors", "global_count"}
    assert payload["n_disjoint_routed"] == 1
    assert payload["confirm_runs"] == 3
    assert payload["warmup_runs"] == 1

    for path, mode in ((shared, "shared"), (disjoint, "disjoint")):
        meta = json.loads((path / "replica_meta.json").read_text())
        assert (meta["k"], meta["src"], meta["mode"]) == (2, sf_smoke, mode)


def test_sweep_refuses_an_unregistered_only_name(tmp_path):
    """The name check runs before any replica is built or JVM started."""
    proc = subprocess.run(
        [
            sys.executable, "deploy/sweep_scale.py",
            "--scaled", str(tmp_path / "rep2x"),
            "--only", "global_count,near_dup_survivor",
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode != 0
    assert "near_dup_survivor" in proc.stderr and "global_count" not in proc.stderr
    assert not (tmp_path / "rep2x").exists()
