"""Interleaved A/B of the repository benchmark between two checkouts.

    python scripts/ab.py PARENT_TREE CHANGE_TREE --workload W \\
        [--pairs 10] [--trace 0|1] [--seed 1]

Pair i (0-based) runs `python3 <tree>/perfbench/run.py --workload W
--seed <seed+i> --seconds 1 --trace T` from each tree, one run at a
time, alternating which tree goes first.  Prints one JSON line: per
side, operations attempted and failed (a run that gives no result
counts as one failed operation); per metric, both sides' median and
quartiles, the change's wins out of the pairs (ties count for neither)
and a verdict, with "better" and each end-to-end `bound` (relative to
the parent's median) taken from BENCHMARK.json beside this script:

- improved:   >= 10 pairs, the change wins >= 9/10 of them, and its
              median is better by more than the parent's IQR;
- worse:      end-to-end only: the median is worse by more than bound;
- unresolved: the parent's IQR exceeds bound, unless every change run
              reads better than every parent run;
- unchanged:  anything else.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS_FOR_GAIN = 10
WIN_SHARE_FOR_GAIN = 0.9


def load_spec(path: str) -> dict:
    """{metric: {"better": "lower"|"higher", "bound": float|None}}."""
    with open(path, encoding="utf-8") as f:
        bench = json.load(f)
    return {m["name"]: {"better": m["better"], "bound": m.get("bound")}
            for m in bench["end_to_end"] + bench["per_layer"]}


def quartiles(xs: list) -> tuple:
    """(q1, median, q3), linear interpolation between order statistics."""
    s = sorted(xs)

    def q(p):
        pos = p * (len(s) - 1)
        lo = int(pos)
        hi = min(lo + 1, len(s) - 1)
        return s[lo] + (s[hi] - s[lo]) * (pos - lo)

    return q(0.25), q(0.5), q(0.75)


def verdict(parent: list, change: list, better: str, bound) -> dict:
    """Compare one metric over paired runs: parent[i] and change[i] come
    from the same pair (same seed)."""
    sign = 1.0 if better == "higher" else -1.0
    p1, pm, p3 = quartiles(parent)
    c1, cm, c3 = quartiles(change)
    n = len(parent)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    gain = sign * (cm - pm)
    iqr = p3 - p1
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    if (n >= MIN_PAIRS_FOR_GAIN and wins >= WIN_SHARE_FOR_GAIN * n
            and gain > iqr):
        v = "improved"
    elif bound is not None and -gain > bound * abs(pm):
        v = "worse"
    elif bound is not None and iqr > bound * abs(pm) and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return {"parent": {"median": round(pm, 4), "q1": round(p1, 4),
                       "q3": round(p3, 4)},
            "change": {"median": round(cm, 4), "q1": round(c1, 4),
                       "q3": round(c3, 4)},
            "wins": wins, "pairs": n, "verdict": v}


def summarize(parent_runs: list, change_runs: list, spec: dict) -> dict:
    """Pure summary of paired perfbench results (None = a run that gave
    no result).  Metrics are compared over the pairs where both runs
    report them."""
    sides = {}
    for name, runs in (("parent", parent_runs), ("change", change_runs)):
        sides[name] = {
            "attempted": sum(r["attempted"] if r else 1 for r in runs),
            "failed": sum(r["failed"] if r else 1 for r in runs),
        }
    metrics = {}
    for m, s in spec.items():
        pairs = [(p["metrics"][m]["value"], c["metrics"][m]["value"])
                 for p, c in zip(parent_runs, change_runs)
                 if p and c and m in p["metrics"] and m in c["metrics"]]
        if pairs:
            metrics[m] = verdict([p for p, _ in pairs], [c for _, c in pairs],
                                 s["better"], s["bound"])
    return {**sides, "metrics": metrics}


def run_pairs(runner, pairs: int, seed: int) -> tuple:
    """Call runner(side, seed) for both sides of each pair, one at a
    time, alternating which side goes first; returns the two result
    lists in pair order."""
    out = {"parent": [], "change": []}
    for i in range(pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            out[side].append(runner(side, seed + i))
    return out["parent"], out["change"]


def perfbench(tree: str, workload: str, seed: int, trace: int):
    """One benchmark run from `tree`: its JSON result, or None if it
    crashed or its last stdout line is not JSON."""
    cmd = ["python3", os.path.join(tree, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace)]
    print("ab: " + " ".join(cmd), file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_tree")
    ap.add_argument("change_tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    trees = {"parent": os.path.abspath(args.parent_tree),
             "change": os.path.abspath(args.change_tree)}
    parent_runs, change_runs = run_pairs(
        lambda side, seed: perfbench(trees[side], args.workload, seed,
                                     args.trace),
        args.pairs, args.seed)
    summary = summarize(parent_runs, change_runs,
                        load_spec(os.path.join(ROOT, "BENCHMARK.json")))
    print(json.dumps({"workload": args.workload, "trace": args.trace,
                      "seeds": [args.seed, args.seed + args.pairs - 1],
                      **summary}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
