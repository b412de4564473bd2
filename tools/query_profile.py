"""Per-query profile: wall seconds + Spark job/stage/task counts.

Many registry queries are iterative or multi-pass, so their sf0.1 cost
is dominated by the NUMBER of sequential job barriers (driver
round-trips), not data volume. This tool times each named query with
the same ``.count()`` action bench.py uses and reports the jobs started
while ``q.spark()`` built the plan (eager jobs: checkpoints, schema
inference, small fetches) separately from the jobs the action ran,
plus the stages and tasks of both. Jobs are counted by the scheduler's
job id counter, so every job counts regardless of job groups.

Usage:
    python tools/query_profile.py q1 q2 ...      # profile named queries
    python tools/query_profile.py --top N        # N slowest from BENCH_DETAIL.json
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rearc_data_engineer_takehome_spark.queries import REGISTRY  # noqa: E402
from rearc_data_engineer_takehome_spark.session import get_spark, usable_cpus  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = usable_cpus()


def main() -> None:
    args = sys.argv[1:]
    if args and args[0] == "--top":
        n = int(args[1]) if len(args) > 1 else 20
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        detail = json.load(open(os.path.join(root, "BENCH_DETAIL.json")))
        names = [
            k
            for k, _ in sorted(detail["queries"].items(), key=lambda kv: -kv[1])[:n]
        ]
    else:
        names = args
    spark = get_spark(
        app_name="query_profile",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("WARN")
    sc = spark.sparkContext

    # job ids come from the scheduler's counter (the status store keeps
    # only the last spark.ui.retainedJobs jobs); stages and tasks of a
    # job id range from the status store, once the listener bus that
    # feeds it has drained
    def next_job_id() -> int:
        return sc._jsc.sc().dagScheduler().nextJobId()

    def stages_tasks(j0: int, j1: int) -> tuple[int, int]:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        n_stages = n_tasks = 0
        for jid in range(j0, j1):
            j = store.job(jid)
            n_stages += j.stageIds().size()
            n_tasks += j.numTasks()
        return n_stages, n_tasks

    # warm like bench.py so first-touch JIT doesn't pollute
    for warm in ("pricing_summary", "doc_fingerprints"):
        if warm in REGISTRY:
            REGISTRY[warm].spark(spark, SF_DIR).count()

    jsc = sc._jsc
    protected = set(jsc.getPersistentRDDs().keys())

    def free_blocks() -> None:
        for rid, rdd in jsc.getPersistentRDDs().items():
            if rid not in protected:
                rdd.unpersist()

    rows = []
    for name in names:
        if name not in REGISTRY:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        q = REGISTRY[name]
        best = None
        for _ in range(2):
            j0 = next_job_id()
            t0 = time.perf_counter()
            df = q.spark(spark, SF_DIR)
            t_build = time.perf_counter() - t0
            jb = next_job_id()
            t1 = time.perf_counter()
            df.count()
            dt = t_build + time.perf_counter() - t1
            j1 = next_job_id()
            stages, tasks = stages_tasks(j0, j1)
            rec = {
                "query": name,
                "sec": round(dt, 3),
                "build_sec": round(t_build, 3),
                "build_jobs": jb - j0,
                "action_jobs": j1 - jb,
                "stages": stages,
                "tasks": tasks,
            }
            if best is None or rec["sec"] < best["sec"]:
                best = rec
            free_blocks()
        rows.append(best)
        print(
            f"{best['sec']:>8.3f}s  build_jobs={best['build_jobs']:<4} "
            f"action_jobs={best['action_jobs']:<4} stages={best['stages']:<5} "
            f"tasks={best['tasks']:<6} {name}",
            flush=True,
        )
    print(json.dumps(rows))
    spark.stop()


if __name__ == "__main__":
    main()
