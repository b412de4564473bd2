"""Compare the benchmark results of two commits, pair by pair.

    python3 perfbench/compare.py PARENT_RESULTS CHANGE_RESULTS

Each argument is a ``.perfbench/results`` directory (or a copy of one)
filled by ``run.py`` on one commit. Runs with the same workload, seed and
trace flag on both sides form a pair; make the runs alternating which
commit goes first. For each workload and end-to-end metric the report
gives both medians and quartiles, the share of pairs the change won (ties
count for neither side) and a verdict against the bounds in
``BENCHMARK.json``:

* ``improved``: the change won at least 9/10 of the pairs and the medians
  differ by more than the parent's own quartile spread;
* ``regressed``: the change's median is worse than the parent's by more
  than the metric's bound;
* ``unresolved``: the parent's quartile spread is wider than the bound
  and the change neither wins every pair nor regresses;
* ``unchanged``: none of the above.

For each per-layer metric of the traced runs it prints both medians and
their difference.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def load(results_dir: str) -> dict[tuple, dict]:
    """(workload, seed, trace) -> metric values of that run."""
    runs = {}
    for path in glob.glob(os.path.join(results_dir, "*-seed*-trace*.json")):
        if os.path.basename(path).startswith("trace-"):
            continue
        with open(path) as f:
            d = json.load(f)
        runs[(d["workload"], d["seed"], d["trace"])] = {
            k: v["value"] for k, v in d["metrics"].items()
        }
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def verdict(a: list[float], b: list[float], better: str, bound: float) -> tuple[str, float]:
    """Verdict for paired samples ``a`` (parent) and ``b`` (change)."""
    sign = 1.0 if better == "lower" else -1.0
    wins = sum(1 for x, y in zip(a, b) if sign * (x - y) > 0)
    won = wins / len(a)
    qa, qb = quartiles(a), quartiles(b)
    med_a, med_b = statistics.median(a), statistics.median(b)
    spread_a = qa[2] - qa[0]
    worse = sign * (med_b - med_a)
    if med_a and worse > bound * abs(med_a):
        return "regressed", won
    if won >= 0.9 and abs(med_b - med_a) > spread_a:
        return "improved", won
    every_better = all(sign * (x - y) > 0 for x in a for y in b)
    if med_a and spread_a > bound * abs(med_a) and not every_better:
        return "unresolved", won
    return "unchanged", won


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    args = p.parse_args(argv)
    with open(BENCHMARK) as f:
        bench = json.load(f)
    a_runs, b_runs = load(args.parent), load(args.change)
    pairs = sorted(set(a_runs) & set(b_runs))
    if not pairs:
        print("compare: no run appears in both result sets", file=sys.stderr)
        return 2
    workloads = sorted({w for w, _s, _t in pairs})
    status = 0
    print(f"{'workload':<12} {'metric':<14} {'parent median [q1, q3]':<32} "
          f"{'change median [q1, q3]':<32} {'won':>6}  verdict")
    for w in workloads:
        keys = [k for k in pairs if k[0] == w and k[2] == 0]
        for m in bench["end_to_end"]:
            a = [a_runs[k][m["name"]] for k in keys if m["name"] in a_runs[k]]
            b = [b_runs[k][m["name"]] for k in keys if m["name"] in b_runs[k]]
            if not a or len(a) != len(b):
                continue
            v, won = verdict(a, b, m["better"], m["bound"])
            qa, qb = quartiles(a), quartiles(b)
            status |= v == "regressed"
            print(f"{w:<12} {m['name']:<14} "
                  f"{f'{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]':<32} "
                  f"{f'{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]':<32} "
                  f"{won:>6.0%}  {v} (n={len(a)}, bound {m['bound']:.0%})")
    for w in workloads:
        keys = [k for k in pairs if k[0] == w and k[2] == 1]
        if not keys:
            continue
        print(f"\n{w}: per-layer medians over {len(keys)} traced pairs")
        for m in bench["per_layer"]:
            a = [a_runs[k].get(m["name"], 0.0) for k in keys]
            b = [b_runs[k].get(m["name"], 0.0) for k in keys]
            ma, mb = statistics.median(a), statistics.median(b)
            if ma or mb:
                print(f"  {m['name']:<44} {ma:>14.6g} -> {mb:<14.6g} "
                      f"delta {mb - ma:+.6g} {m['unit']}")
    return status


if __name__ == "__main__":
    sys.exit(main())
