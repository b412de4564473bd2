"""Mechanical round-over-round bench comparison (VERDICT r05 item 5).

Compares two bench.py detail files at the SAME scale factor and
separates regression from machine noise using the measured per-query
noise band: bench.py records ``spread`` = max-min over its min-of-N
samples, and a delta is flagged as a REGRESSION only when

    new_min - old_min > max(old_spread, new_spread, abs_floor)

i.e. the change exceeds everything noise explained in either round.
This replaces the judge-eyeball exoneration of sub-second swings
(doc_lm_perplexity's 1.25x in r5 was noise; nothing distinguishes it
mechanically without the band).

Usage:
    python tools/bench_diff.py [OLD_DETAIL.json] [NEW_DETAIL.json] [out.md]

With no args, OLD defaults to the newest pinned per-round artifact
``BENCH_DETAIL_rNN.json`` in the repo root and NEW to
``BENCH_DETAIL.json`` (VERDICT r06 item 2: round-over-round claims must
diff against the *committed* previous-round basis, never a mid-round
refresh — the README r6 claim was wrong for exactly that reason).

Exit code 0 on a report (a reporting tool, not a gate); the regression
count is in the last stdout line for scripting. Two pins timed with
different actions (``"action"`` in the detail file; a pin without it
timed ``.count()``) are refused: their per-query times do not measure
the same work.
"""

from __future__ import annotations

import json
import sys

ABS_FLOOR = 0.08  # seconds; sub-80ms deltas are below timer+JIT jitter


def compare(old: dict, new: dict) -> dict:
    """Returns {regressions, improvements, noise, missing, added} —
    each a list of per-query records sorted by |delta| descending."""
    old_q = {**old.get("queries", {}), **old.get("builds", {})}
    new_q = {**new.get("queries", {}), **new.get("builds", {})}
    old_s = old.get("spread", {})
    new_s = new.get("spread", {})
    regressions, improvements, noise = [], [], []
    for name in sorted(old_q.keys() & new_q.keys()):
        to, tn = old_q[name], new_q[name]
        delta = round(tn - to, 4)
        band = round(max(old_s.get(name, 0.0), new_s.get(name, 0.0),
                         ABS_FLOOR), 4)
        rec = {
            "query": name, "old": to, "new": tn, "delta": delta,
            "band": band,
            "ratio": round(tn / to, 3) if to > 0 else None,
        }
        if delta > band:
            regressions.append(rec)
        elif -delta > band:
            improvements.append(rec)
        else:
            noise.append(rec)
    for bucket in (regressions, improvements, noise):
        bucket.sort(key=lambda r: -abs(r["delta"]))
    return {
        "regressions": regressions,
        "improvements": improvements,
        "noise": noise,
        "missing": sorted(old_q.keys() - new_q.keys()),
        "added": sorted(new_q.keys() - old_q.keys()),
    }


def _repo_root() -> str:
    import os

    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _latest_pinned() -> str:
    """Newest committed per-round artifact (BENCH_DETAIL_rNN.json) —
    by ROUND NUMBER, not lexicographically (r9 vs r10 and any unpadded
    name would otherwise pick the older basis, the exact wrong-basis
    failure this default exists to prevent)."""
    import glob
    import os
    import re

    pinned = []
    for p in glob.glob(os.path.join(_repo_root(),
                                    "BENCH_DETAIL_r*.json")):
        m = re.search(r"BENCH_DETAIL_r(\d+)\.json$", p)
        if m:
            pinned.append((int(m.group(1)), p))
    if not pinned:
        raise SystemExit(
            "no pinned BENCH_DETAIL_rNN.json found; pass OLD explicitly"
        )
    return max(pinned)[1]


def main() -> None:
    import os

    argv = sys.argv[1:]
    old_path = argv[0] if len(argv) >= 1 else _latest_pinned()
    # default NEW resolves against the repo root like OLD does — a
    # cwd-relative default would read a stale/absent file elsewhere
    new_path = argv[1] if len(argv) >= 2 else os.path.join(
        _repo_root(), "BENCH_DETAIL.json"
    )
    out_path = argv[2] if len(argv) >= 3 else None
    old = json.load(open(old_path))
    new = json.load(open(new_path))
    old_action, new_action = (d.get("action", "count") for d in (old, new))
    if old_action != new_action:
        raise SystemExit(
            f"bench_diff: refusing to diff pins timed with different "
            f"actions: {old_path} used {old_action!r}, {new_path} used "
            f"{new_action!r}"
        )
    if old.get("sf") != new.get("sf"):
        print(
            f"WARNING: comparing different scale factors "
            f"({old.get('sf')} vs {new.get('sf')}) — deltas are not "
            "round-over-round evidence",
            file=sys.stderr,
        )
    r = compare(old, new)
    lines = [
        "# Bench diff — regression vs noise, separated by measured "
        "spread",
        "",
        f"Old: `{old_path}` (total {old.get('value')}s / "
        f"{old.get('n_queries')} queries). New: `{new_path}` (total "
        f"{new.get('value')}s / {new.get('n_queries')}).",
        "",
        "A query is a REGRESSION only when `new - old` exceeds "
        "`max(old_spread, new_spread, 0.08s)` — the noise band both "
        "rounds measured. Everything inside the band is machine noise "
        "by construction (bench.py records spread = max-min over its "
        "min-of-N samples).",
        "",
        f"**Regressions: {len(r['regressions'])}. Improvements beyond "
        f"noise: {len(r['improvements'])}. Within noise: "
        f"{len(r['noise'])}. Added: {len(r['added'])}. Missing: "
        f"{len(r['missing'])}.**",
        "",
    ]
    for title, bucket in (
        ("Regressions (delta > band)", r["regressions"]),
        ("Improvements (−delta > band)", r["improvements"][:15]),
    ):
        lines.append(f"## {title}\n")
        if not bucket:
            lines.append("none\n")
            continue
        lines.append("| query | old s | new s | delta | band | ratio |")
        lines.append("|---|---|---|---|---|---|")
        for rec in bucket:
            lines.append(
                f"| {rec['query']} | {rec['old']:.2f} | "
                f"{rec['new']:.2f} | {rec['delta']:+.2f} | "
                f"{rec['band']:.2f} | {rec['ratio']}x |"
            )
        lines.append("")
    if r["added"]:
        lines.append(f"New queries (no old baseline): {', '.join(r['added'])}\n")
    if r["missing"]:
        lines.append(f"Dropped queries: {', '.join(r['missing'])}\n")
    text = "\n".join(lines)
    if out_path:
        with open(out_path, "w") as f:
            f.write(text + "\n")
    else:
        print(text)
    print(
        f"bench_diff: {len(r['regressions'])} regressions, "
        f"{len(r['improvements'])} improvements, {len(r['noise'])} "
        "within noise"
    )


if __name__ == "__main__":
    main()
