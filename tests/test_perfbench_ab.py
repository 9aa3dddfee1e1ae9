"""deploy/perfbench_ab.py's summary: quartiles, pair wins, the claim rule
(at least 9 of 10 pairs won, median gain larger than the parent's IQR) and
the no-regression verdict (median worse by more than the bound; parent
spread above the bound without a clean separation). Spark-free: the
records are built by hand."""

from __future__ import annotations

import pytest

from deploy.perfbench_ab import quartiles, summarize

E2E = [
    {"name": "warm_cpu_s", "better": "lower", "bound": 0.25},
    {"name": "peak_rss_mb", "better": "lower", "bound": 0.1},
]


def _records(values: dict[str, list[tuple[float, float]]]) -> list[dict]:
    """{metric: [(parent, change) per pair]} -> JSONL-shaped records."""
    n = len(next(iter(values.values())))
    recs = []
    for pair in range(n):
        for i, side in enumerate(("parent", "change")):
            metrics = {m: {"value": v[pair][i], "unit": "x"} for m, v in values.items()}
            recs.append({"side": side, "pair": pair, "result": {"metrics": metrics}})
    return recs


def test_quartiles_inclusive():
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_claim_holds_on_clear_gain_and_fails_on_a_wash():
    parent = [3.0 + 0.02 * i for i in range(10)]  # IQR 0.09
    recs = _records({
        "warm_cpu_s": [(p, p - 0.5) for p in parent],
        "peak_rss_mb": [(157.0, 157.0 + (0.5 if i % 2 else -0.5)) for i in range(10)],
    })
    s = summarize(recs, E2E)
    assert s["warm_cpu_s"]["wins"] == 10 and s["warm_cpu_s"]["pairs"] == 10
    assert s["warm_cpu_s"]["claim_holds"]
    assert s["warm_cpu_s"]["parent"][1] == pytest.approx(3.09)
    assert s["peak_rss_mb"]["wins"] == 5
    assert not s["peak_rss_mb"]["claim_holds"]


def test_claim_needs_nine_of_ten_wins_and_a_gap_above_the_iqr():
    # 8 of 10 pairs won by a wide margin: not enough wins
    recs = _records({"warm_cpu_s": [(3.0, 2.0)] * 8 + [(3.0, 3.5)] * 2})
    assert not summarize(recs, E2E)["warm_cpu_s"]["claim_holds"]
    # every pair won, but by less than the parent's spread
    spread = [2.0, 4.0] * 5
    recs = _records({"warm_cpu_s": [(p, p - 0.1) for p in spread]})
    s = summarize(recs, E2E)["warm_cpu_s"]
    assert s["wins"] == 10 and not s["claim_holds"]


def test_failed_runs_drop_their_pair():
    recs = _records({"warm_cpu_s": [(3.0, 2.0)] * 3})
    del recs[3]["result"]  # pair 1's change run printed no result
    s = summarize(recs, E2E)["warm_cpu_s"]
    assert s["pairs"] == 2 and s["wins"] == 2
    assert "peak_rss_mb" not in summarize(recs, E2E)


def test_regressed_when_the_median_is_worse_by_more_than_the_bound():
    # parent median 2.0, bound 0.25: worse by 0.4 is inside, by 0.6 is out
    inside = summarize(_records({"warm_cpu_s": [(2.0, 2.4)] * 10}), E2E)["warm_cpu_s"]
    assert not inside["regressed"] and not inside["unresolved"]
    out = summarize(_records({"warm_cpu_s": [(2.0, 2.6)] * 10}), E2E)["warm_cpu_s"]
    assert out["regressed"]
    # a better median never regresses; "higher is better" flips the sign
    higher = [{"name": "ratio", "better": "higher", "bound": 0.1}]
    assert not summarize(_records({"ratio": [(1.0, 1.5)] * 4}), higher)["ratio"]["regressed"]
    assert summarize(_records({"ratio": [(1.0, 0.8)] * 4}), higher)["ratio"]["regressed"]


def test_unresolved_when_the_parent_spread_exceeds_the_bound():
    # parent IQR 1.0 on a median of 2.5 (0.4 > 0.25)
    noisy = [2.0, 3.0] * 5
    overlap = summarize(_records({"warm_cpu_s": [(p, 2.5) for p in noisy]}), E2E)["warm_cpu_s"]
    assert overlap["unresolved"] and not overlap["regressed"]
    # every change run beats every parent run: the noise cannot hide a loss
    clean = summarize(_records({"warm_cpu_s": [(p, 1.5) for p in noisy]}), E2E)["warm_cpu_s"]
    assert not clean["unresolved"]
    # a tight parent is resolved whatever the change does
    tight = summarize(_records({"warm_cpu_s": [(2.0, 1.0), (2.0, 3.0)] * 5}), E2E)["warm_cpu_s"]
    assert not tight["unresolved"]
