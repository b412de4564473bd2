"""Dump .explain('formatted') for named registry queries to files.

Optimization-round deliverable helper: writes one
``<outdir>/<query>_<suffix>.txt`` per query. Scenario queries that
build scratch delta tables are EXECUTED as a side effect of
constructing their DataFrame; the captured plan is the final read —
the part a reader of the plan diff cares about (scan shape, DV filter
node, join strategy).

The session is the bench's: ``local[N]`` with N shuffle partitions,
N from ``session.usable_cpus()``.

Usage:
    python tools/explain_queries.py <repo_root> <outdir> <suffix> q1 q2 ...
"""

from __future__ import annotations

import os
import sys

root = sys.argv[1]
outdir = sys.argv[2]
suffix = sys.argv[3]
names = sys.argv[4:]
sys.path.insert(0, root)

from rearc_data_engineer_takehome_spark.queries import REGISTRY  # noqa: E402
from rearc_data_engineer_takehome_spark.session import get_spark, usable_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
CPUS = usable_cpus()

spark = get_spark(
    app_name="explain_queries",
    master=f"local[{CPUS}]",
    shuffle_partitions=int(CPUS),
)
spark.sparkContext.setLogLevel("ERROR")
os.makedirs(outdir, exist_ok=True)
for name in names:
    if name not in REGISTRY:
        print(f"!! unknown {name}", file=sys.stderr)
        continue
    try:
        df = REGISTRY[name].spark(spark, SF_DIR)
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
    except Exception as e:  # noqa: BLE001 - report, keep going
        plan = f"EXPLAIN FAILED: {e}"
    with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
        f.write(plan)
    print(f"wrote {name}_{suffix}.txt", flush=True)
spark.stop()
