"""A/B of two checkouts on one perfbench workload, in alternating fresh-process pairs.

Run from anywhere:

    python3 deploy/perfbench_ab.py --parent DIR --change DIR --workload near_dup \\
        --pairs 10 --seed0 101

Pair i runs ``perfbench/run.py --trace 0`` once in each checkout, both with
seed ``seed0 + i`` and with ``--seconds`` set to BENCHMARK.json's
``run_seconds``; the parent runs first in even pairs and the change in odd
ones, so a host that drifts during the A/B penalizes both sides alike.
Every run appends one line to the JSONL file (``--out``): side, pair, seed,
and the run's info and result objects, or its exit code and stderr tail
when it printed none.

For each end-to-end metric of BENCHMARK.json the summary prints each
side's median, first and third quartile, how many pairs the change won,
whether a claimed gain holds (the change better in at least nine of ten
pairs, and its median better than the parent's by more than the parent's
interquartile range), and the no-regression verdict every change is held
to, claim or not, with the metric's ``bound``:

- regressed: the change's median is worse than the parent's by more than
  ``bound`` times the parent's median;
- unresolved: the parent's interquartile range exceeds ``bound`` times
  its median, and not every change run beats every parent run.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path
from statistics import median, quantiles


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); inclusive quartiles, so they stay inside the data."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, _, q3 = quantiles(values, n=4, method="inclusive")
    return q1, median(values), q3


def summarize(records: list[dict], end_to_end: list[dict]) -> dict:
    """Per metric: each side's (q1, median, q3), pair wins, the claim rule
    and the no-regression verdict (``regressed``, ``unresolved``).

    ``records`` are JSONL lines: ``side`` ("parent"/"change"), ``pair`` and
    ``result`` (perfbench's last output line, absent when the run failed).
    ``end_to_end`` is BENCHMARK.json's list of ``{name, better, bound}``. A
    pair counts only when both of its runs produced the metric.
    """
    by_pair: dict[int, dict[str, dict]] = {}
    for rec in records:
        if rec.get("result"):
            by_pair.setdefault(rec["pair"], {})[rec["side"]] = rec["result"]["metrics"]
    out = {}
    for metric in end_to_end:
        name, lower, bound = metric["name"], metric["better"] == "lower", metric["bound"]
        pairs = [
            (sides["parent"][name]["value"], sides["change"][name]["value"])
            for _, sides in sorted(by_pair.items())
            if name in sides.get("parent", {}) and name in sides.get("change", {})
        ]
        if not pairs:
            continue
        parent, change = quartiles([p for p, _ in pairs]), quartiles([c for _, c in pairs])
        wins = sum((c < p) if lower else (c > p) for p, c in pairs)
        gain = (parent[1] - change[1]) if lower else (change[1] - parent[1])
        ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
        separated = max(cs) < min(ps) if lower else min(cs) > max(ps)
        out[name] = {
            "parent": parent,
            "change": change,
            "wins": wins,
            "pairs": len(pairs),
            "claim_holds": 10 * wins >= 9 * len(pairs) and gain > parent[2] - parent[0],
            "regressed": -gain > bound * abs(parent[1]),
            "unresolved": parent[2] - parent[0] > bound * abs(parent[1]) and not separated,
        }
    return out


def run_one(checkout: Path, command: list[str], workload: str, seed: int, seconds: float) -> dict:
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        return {"returncode": proc.returncode, "stderr_tail": proc.stderr[-2000:]}
    return {"info": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", type=Path, required=True)
    ap.add_argument("--change", type=Path, required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--out", type=Path, default=None,
                    help="JSONL file to append to (default perfbench-ab-<workload>.jsonl)")
    args = ap.parse_args()
    bench = json.loads((args.change / "BENCHMARK.json").read_text())
    out = args.out or Path(f"perfbench-ab-{args.workload}.jsonl")
    sides = {"parent": args.parent.resolve(), "change": args.change.resolve()}
    records = []
    for pair in range(args.pairs):
        seed = args.seed0 + pair
        order = ["parent", "change"] if pair % 2 == 0 else ["change", "parent"]
        for side in order:
            rec = {"side": side, "pair": pair, "seed": seed, "workload": args.workload,
                   **run_one(sides[side], bench["command"], args.workload, seed,
                             bench["run_seconds"])}
            records.append(rec)
            with out.open("a") as f:
                f.write(json.dumps(rec) + "\n")
            metrics = rec.get("result", {}).get("metrics", {})
            print(f"pair {pair} seed {seed} {side}: "
                  + (" ".join(f"{k}={v['value']:.3f}" for k, v in metrics.items())
                     or f"FAILED rc={rec.get('returncode')}"),
                  flush=True)
    failed = sum(not r.get("result") or not r["result"]["correct"] for r in records)
    print(f"\n{args.workload}: {args.pairs} pairs, seeds {args.seed0}-{args.seed0 + args.pairs - 1}, "
          f"{failed} runs failed or incorrect")
    summary = summarize(records, bench["end_to_end"])
    for name, s in summary.items():
        (p1, pm, p3), (c1, cm, c3) = s["parent"], s["change"]
        print(f"{name}: parent {pm:.3f} ({p1:.3f}-{p3:.3f})  change {cm:.3f} ({c1:.3f}-{c3:.3f})"
              f"  wins {s['wins']}/{s['pairs']}  claim {'holds' if s['claim_holds'] else 'fails'}"
              f"  regressed {'yes' if s['regressed'] else 'no'}"
              f"  unresolved {'yes' if s['unresolved'] else 'no'}")
    bad = {k: [n for n, s in summary.items() if s[k]] for k in ("regressed", "unresolved")}
    print("verdict: " + ("; ".join(f"{k} on {', '.join(v)}" for k, v in bad.items() if v)
                         or "no regression"))
    return 0


if __name__ == "__main__":
    sys.exit(main())
