"""Per-layer metrics of a traced run, named after the engine's modules.

Every value is a per-pass total over the traced passes, reported as the
median across those passes. Spark jobs are read from the status store
and given to the query whose span contains their submission time (the
DML thread pools drop job-group properties, so tags cannot be used).
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict
from datetime import datetime, timezone

OPERATOR_MODULES = (
    "curation", "dedup", "evaluation", "graph", "joins", "layout",
    "multimodal", "parse", "privacy", "quality", "relational", "sampling",
    "scd", "search", "similarity", "sketch", "text",
)
FUNCTION_MODULES = ("hashing", "quantiles", "text", "timeops", "vectors")
STREAMING_MODULES = ("stateful", "windows")
SOURCE_MODULES = ("delta_log", "dv", "snapshots", "writers")
QUERY_SPANS = ("query", "queries.build", "action")
# status-store stage sums: metric -> (field, unit). Records, not bytes, on
# the input side: the vectorized parquet reader reports only the footer
# bytes it reads through the Hadoop file system as input bytes.
SPARK_STAGE_SUMS = {
    "input_records": ("inputRecords", "count"),
    "output_bytes": ("outputBytes", "bytes"),
    "shuffle_read_bytes": ("shuffleReadBytes", "bytes"),
    "shuffle_write_bytes": ("shuffleWriteBytes", "bytes"),
    "spill_bytes": ("diskBytesSpilled", "bytes"),
}


def metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    u = {"session.import_s": "s", "session.start_s": "s"}
    u.update(
        {
            "queries.build_s": "s",
            "queries.py4j_calls": "count",
            "queries.eager_jobs": "count",
            "queries.eager_job_s": "s",
        }
    )
    for pkg, mods in (
        ("operators", OPERATOR_MODULES),
        ("functions", FUNCTION_MODULES),
        ("streaming", STREAMING_MODULES),
    ):
        for prefix in (pkg, *(f"{pkg}.{m}" for m in mods)):
            u.update({f"{prefix}.calls": "count", f"{prefix}.self_s": "s", f"{prefix}.py4j_calls": "count"})
    u["operators.quality.two_pass_quantiles"] = "count"
    for m in SOURCE_MODULES:
        u.update({f"sources.{m}.calls": "count", f"sources.{m}.self_s": "s"})
    u.update({"sources.delta_log.commits": "count", "sources.delta_log.log_bytes": "bytes"})
    u["sources.snapshots.commits"] = "count"
    u.update(
        {
            "plans.result_cache.lookups": "count",
            "plans.result_cache.hits": "count",
            "plans.result_cache.hit_ratio": "ratio",
        }
    )
    u.update(
        {
            "spark.jobs": "count",
            "spark.stages": "count",
            "spark.tasks": "count",
            "spark.in_job_s": "s",
            "spark.driver_only_s": "s",
            "spark.executor_cpu_s": "s",
            "spark.gc_s": "s",
            **{f"spark.{k}": unit for k, (_field, unit) in SPARK_STAGE_SUMS.items()},
        }
    )
    u["memory.peak_rss_mb"] = "MB"
    u.update({"trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s"})
    return u


def log_files(root: str) -> dict[str, int]:
    """Commit files of every Delta (``_delta_log``) and snapshot
    (``_snapshots``) table under ``root``: path -> size."""
    found: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        if os.path.basename(dirpath) not in ("_delta_log", "_snapshots"):
            continue
        for f in files:
            if f.endswith(".json") and ".tmp" not in f:
                try:
                    found[os.path.join(dirpath, f)] = os.path.getsize(os.path.join(dirpath, f))
                except OSError:
                    continue
    return found


def new_log_files(before: dict[str, int], root: str) -> dict[str, list]:
    """Commits a query added: ``{"delta": [n, bytes], "snapshots": [n, bytes]}``."""
    out = {"delta": [0, 0], "snapshots": [0, 0]}
    for path, size in log_files(root).items():
        if path not in before:
            kind = "delta" if os.path.basename(os.path.dirname(path)) == "_delta_log" else "snapshots"
            out[kind][0] += 1
            out[kind][1] += size
    return out


def parse_spark_time(text: str | None) -> float | None:
    """Status-store timestamps look like ``2026-10-16T17:44:35.123GMT``."""
    if not text:
        return None
    dt = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def function_totals(spans: list[list]) -> dict[str, dict[str, dict[str, float]]]:
    """Per pass, per wrapped function: calls, self seconds, self py4j."""
    child_s = defaultdict(float)
    child_py4j = defaultdict(int)
    for name, start, end, parent, _q, py4j in spans:
        if parent >= 0 and end is not None:
            child_s[parent] += end - start
            child_py4j[parent] += py4j
    out: dict[str, dict] = defaultdict(dict)
    for i, (name, start, end, _parent, query, py4j) in enumerate(spans):
        if name in QUERY_SPANS or end is None or query is None:
            continue
        t = out[query.split(":", 1)[0]].setdefault(name, {"calls": 0, "self_s": 0.0, "py4j_calls": 0})
        t["calls"] += 1
        t["self_s"] += (end - start) - child_s[i]
        t["py4j_calls"] += py4j - child_py4j[i]
    return out


def _stage_totals(stages: list[dict]) -> dict[str, float]:
    t = {
        "stages": len(stages),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in stages) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
    }
    for k, (field, _unit) in SPARK_STAGE_SUMS.items():
        t[k] = sum(s.get(field, 0) for s in stages)
    return t


def pass_layers(p: dict, funcs: dict, events: list, jobs: list[dict], stages: dict) -> dict[str, float]:
    m: dict[str, float] = defaultdict(float)
    stage_keys: set = set()
    for rec in p["queries"]:
        if "end" not in rec:
            continue
        start, built, end = rec["start"], rec["built"], rec["end"]
        m["queries.build_s"] += built - start
        m["queries.py4j_calls"] += rec["build_py4j"]
        mine = [j for j in jobs if start <= j["_submit"] <= end]
        spans = [(j["_submit"], min(j["_done"], end)) for j in mine]
        eager = [(s, min(e, built)) for s, e in spans if s <= built]
        m["queries.eager_jobs"] += len(eager)
        m["queries.eager_job_s"] += union_seconds(eager)
        in_job = union_seconds(spans)
        m["spark.jobs"] += len(mine)
        m["spark.in_job_s"] += in_job
        m["spark.driver_only_s"] += (end - start) - in_job
        for j in mine:
            stage_keys.update(k for k in stages if k[0] in j["stageIds"])
        logs = rec["log_files"]
        m["sources.delta_log.commits"] += logs["delta"][0]
        m["sources.delta_log.log_bytes"] += logs["delta"][1]
        m["sources.snapshots.commits"] += logs["snapshots"][0]
    ran = [stages[k] for k in stage_keys if stages[k].get("status") != "SKIPPED"]
    for k, v in _stage_totals(ran).items():
        m[f"spark.{k}"] += v
    for label, t in funcs.items():
        parts = label.split(".")
        prefixes = [parts[0], ".".join(parts[:2])]
        for prefix in prefixes:
            for k, v in t.items():
                m[f"{prefix}.{k}"] += v
    ids = {rec["id"] for rec in p["queries"]}
    for kind, query in events:
        if query in ids:
            key = "operators.quality.two_pass_quantiles" if kind == "two_pass_quantiles" else f"plans.result_cache.{kind[6:]}"
            m[key] += 1
    lookups = m["plans.result_cache.lookups"]
    m["plans.result_cache.hit_ratio"] = m["plans.result_cache.hits"] / lookups if lookups else 0.0
    m["trace.pass_s"] = p["pass_s"]
    return m


def per_layer(tracer, session: dict, passes: list[dict]):
    raw_jobs, stages = tracer.spark_jobs()
    jobs = []
    for j in raw_jobs:
        submit = parse_spark_time(j.get("submissionTime"))
        if submit is None:
            continue
        done = parse_spark_time(j.get("completionTime")) or submit
        jobs.append({**j, "_submit": submit, "_done": done})
    funcs = function_totals(tracer.spans)
    traced = [p for p in passes if p["traced"]]
    per_pass = [
        pass_layers(p, funcs.get(str(p["index"]), {}), tracer.events, jobs, stages)
        for p in traced
    ]
    units = metric_units()
    untraced = statistics.median(p["pass_s"] for p in passes if not p["traced"])
    metrics = {}
    for name, unit in units.items():
        if name in session:
            value = session[name]
        elif name == "trace.untraced_pass_s":
            value = untraced
        elif name == "trace.overhead_s":
            value = statistics.median(m["trace.pass_s"] for m in per_pass) - untraced
        else:
            value = statistics.median(m.get(name, 0.0) for m in per_pass)
        metrics[name] = (value, unit)
    notes = {
        "traced_passes": len(traced),
        "per_pass": [dict(m) for m in per_pass],
        "functions": {k: funcs[k] for k in sorted(funcs)},
    }
    return metrics, notes
