"""Generate PLANS.md: a physical-plan shape summary for every
registered query.

Run standalone (``python tools/plan_report.py``). The session is the
bench's: ``local[N]`` with N shuffle partitions, N from
``session.usable_cpus()``. For each query the report records the
operators that determine 100 TB behavior: exchange count, join
strategies, window/sort presence, TakeOrderedAndProject, Arrow/pandas
stages, and whether filters/pruning reached the scan.
tests/test_plans.py asserts the critical shapes; this report is the
whole-surface view the assertions sample from.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_PLAN_SF", "/root/testdata/sf0.001")


def main() -> None:
    from rearc_data_engineer_takehome_spark.plans import explain
    from rearc_data_engineer_takehome_spark.queries import REGISTRY
    from rearc_data_engineer_takehome_spark.session import get_spark, usable_cpus

    cpus = usable_cpus()
    spark = get_spark(
        app_name="plan-report",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in sorted(REGISTRY):
        q = REGISTRY[name]
        twin_m = re.search(r"scalable_twin: (\w+)", q.doc or "")
        twin = twin_m.group(1) if twin_m else "—"
        try:
            df = q.spark(spark, SF_DIR)
            plan = explain.formatted_plan(df)
        except Exception as e:  # pragma: no cover - report tool
            rows.append((name, "ERROR", str(e)[:60], "", "", "", twin))
            continue
        joins = []
        for j, tag in [
            ("BroadcastHashJoin", "bcast"),
            ("SortMergeJoin", "smj"),
            ("ShuffledHashJoin", "shj"),
            ("BroadcastNestedLoopJoin", "bnlj"),
        ]:
            n = plan.count(f") {j}") + plan.count(f"({j}")
            n = max(n, len(re.findall(rf"\b{j}\b", plan)) // 2)
            if n:
                joins.append(f"{n}×{tag}")
        n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
        ops = []
        if re.search(r"\(\d+\) Window", plan):
            ops.append("window")
        if "TakeOrderedAndProject" in plan:
            ops.append("topk")
        if re.search(r"\(\d+\) Sort\b", plan):
            ops.append("sort")
        if "ArrowEvalPython" in plan or "FlatMapGroupsInPandas" in plan \
                or "MapInPandas" in plan or "FlatMapGroupsInArrow" in plan:
            ops.append("pandas")
        if "Expand" in plan:
            ops.append("expand")
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "—"
        # widest ReadSchema (proxy for scan column pruning)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        ncols = max((s.count(":") for s in schemas), default=0)
        rows.append(
            (
                name,
                str(n_exchange),
                ",".join(joins) or "—",
                ",".join(ops) or "—",
                pushed,
                str(ncols),
                twin,
            )
        )

    out = [
        "# PLANS — physical-plan shape per registered query",
        "",
        f"Generated by `python tools/plan_report.py` at `{SF_DIR}` "
        f"on `local[{cpus}]` "
        "(plan SHAPE is data-size independent; AQE may further coalesce "
        "or convert joins at runtime). Columns: shuffle exchange count, "
        "join strategies, notable operators, whether any filter was "
        "pushed to a scan, the widest scanned column count (pruning "
        "proxy), and — for deliberately-exact global-window queries — "
        "the registry name of the 100 TB scalable twin to run at "
        "corpus scale.",
        "",
        "| query | exchanges | joins | ops | pushed | scan cols | scalable twin |",
        "|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        out.append("| " + " | ".join(r) + " |")
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path} ({len(rows)} queries)")


if __name__ == "__main__":
    main()
