"""Merge two bench.py detail files (base SF vs a replicated probe SF)
into a full-registry scaling table — the whole-surface complement to
tools/scale_probe.py's curated battery.

Usage:
    python tools/scale_report.py BENCH_DETAIL.json \
        BENCH_DETAIL_30x_full.json 30 SCALE_PROBE_30x.md
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    base_path, big_path, replicas, out_name = sys.argv[1:5]
    replicas = int(replicas)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    base = json.load(open(os.path.join(root, base_path)))
    big = json.load(open(os.path.join(root, big_path)))
    cpus = (base.get("cpus"), big.get("cpus"))
    if None in cpus:
        lacking = [p for p, c in zip((base_path, big_path), cpus) if c is None]
        host = f"CPU count not recorded in {' and '.join(lacking)}"
    elif cpus[0] != cpus[1]:
        host = f"CPU counts differ: local[{cpus[0]}] base, local[{cpus[1]}] probe"
    else:
        host = f"local[{cpus[0]}]"
    rows = []
    for name, tg in sorted(big["queries"].items()):
        tb = base["queries"].get(name)
        if tb is None or tb <= 0:
            continue
        rows.append((name, tb, tg, tg / tb))
    rows.sort(key=lambda r: -r[3])
    n_super = sum(1 for r in rows if r[3] > replicas * 1.3)
    twins = {**base.get("scalable_twins", {}), **big.get("scalable_twins", {})}
    # honest coverage accounting (VERDICT r05 item 4): build steps are
    # measured but live under "builds", and a query absent from either
    # run must be NAMED, not silently dropped by the join above
    builds_both = sorted(
        set(base.get("builds", {})) & set(big.get("builds", {}))
    )
    builds_one_sided = sorted(
        set(base.get("builds", {})) ^ set(big.get("builds", {}))
    )
    build_note = (
        f"{len(builds_both)} offline build steps "
        f"({', '.join(builds_both)}) are excluded from the query table "
        "by design — they run once per corpus, not per query — but "
        "their cost IS measured at both scales (build_seconds: base "
        f"{base.get('build_seconds')}s, probe "
        f"{big.get('build_seconds')}s; per-step timings under "
        '"builds" in the two detail files). '
        if builds_both
        else ""
    ) + (
        f"BUILD STEPS PRESENT IN ONLY ONE RUN (failed or absent in "
        f"the other): {', '.join(builds_one_sided)}. "
        if builds_one_sided
        else ""
    )
    in_rows = {r[0] for r in rows}
    uncovered = sorted(
        (set(base.get("queries", {})) | set(big.get("queries", {})))
        - in_rows
    )
    uncovered_note = (
        f"NOT covered at both scales (missing from one run): "
        f"{', '.join(uncovered)}. "
        if uncovered
        else "Every query timed in either run appears below. "
    )
    with open(os.path.join(root, out_name), "w") as f:
        f.write(
            f"# SCALE_PROBE ({replicas}x) — FULL-REGISTRY measured "
            f"scaling, sf0.1 vs {replicas}x replicated facts "
            f"({host})\n\n"
            "Generated by `python tools/scale_report.py` from two "
            f"`bench.py` runs: `{base_path}` (base) and `{big_path}` "
            f"(probe dir written by tools/scale_probe.py, facts "
            f"replicated {replicas}x with per-replica key offsets, "
            f"dims catalog-sized). Coverage: {len(rows)} queries "
            f"measured at both scales. {build_note}{uncovered_note}"
            "At a fixed core count a scale-linear operator "
            f"costs <= ~{replicas}x at {replicas}x rows; sub-linear "
            "means the base scale under-utilized cores; ratios above "
            f"{replicas}x * 1.3 flag a shuffle/skew/driver bottleneck."
            "\n\nReplication makes every document an exact "
            f"{replicas}-way duplicate — the dup-heavy worst case for "
            "near-dup operators (their OUTPUT pair count grows "
            "quadratically in copies even when candidate GENERATION "
            "is bounded).\n\n"
            f"**Superlinear entries: {n_super} / {len(rows)}.** "
            "Queries marked with a twin are deliberately-exact "
            "global-window demonstrations whose at-scale form is the "
            "named scalable twin.\n\n"
            f"| query | t(sf0.1) s | t({replicas}x) s | ratio | "
            "verdict | scalable twin |\n|---|---|---|---|---|---|\n"
        )
        for name, tb, tg, r in rows:
            verdict = (
                "sub-linear"
                if r <= replicas * 0.8
                else ("~linear" if r <= replicas * 1.3 else "SUPER-LINEAR")
            )
            f.write(
                f"| {name} | {tb:.2f} | {tg:.2f} | {r:.1f}x | {verdict} "
                f"| {twins.get(name, '—')} |\n"
            )
    print(f"wrote {out_name}: {len(rows)} queries, {n_super} superlinear")


if __name__ == "__main__":
    main()
