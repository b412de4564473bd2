"""Run one benchmark workload in a fresh Spark session and print its metrics.

    python3 perfbench/run.py --workload driver_bound --seed 1 --seconds 8 --trace 0

One run, on ``local[4]``:

1. generate (or reuse) the workload's input tables (``datagen.py``);
   this is excluded from every metric;
2. start the session with ``session.get_spark`` and import the query
   registry; fail with exit code 2 if a workload query is not registered;
3. warm up with two untimed passes; the second is the correctness check,
   which compares each query's collected result with its DuckDB oracle
   over the same input directory, strictly, by ``tests/oracle.py``;
4. clear the plan-fingerprint result cache;
5. time ``--seconds`` worth of passes over the workload's queries (at
   the workload's nominal pass length, at least ``MIN_PASSES``), in an
   order shuffled by the seed. Each query is timed as
   ``REGISTRY[name].spark(spark, dir)`` plus ``.count()``, and every
   count must equal the oracle's row count.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` every other timed pass runs under ``tracer.Tracer``
and the line carries the per-layer metrics; the full span list and the
per-function totals go to ``.perfbench/results/``. A query that raises
or mismatches counts as failed; the run goes on. Inputs are cached
under ``.perfbench/cache`` and per-run scratch lives under
``.perfbench/tmp``, all inside the checkout.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
ENGINE = "rearc_data_engineer_takehome_spark"
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

CORES = 4
MIN_PASSES = 2
TAIL_PERCENTILES = (99, 95, 90, 75, 50)
SPARK_CONF = {
    "spark.ui.showConsoleProgress": "false",
    # the traced run reads every job of the run back from the status store
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
}


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def percentile(sorted_values: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    rank = max(1, math.ceil(p / 100.0 * len(sorted_values)))
    return sorted_values[rank - 1]


def tail(samples: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, else the max."""
    values = sorted(samples)
    for p in TAIL_PERCENTILES:
        if len(values) - math.ceil(p / 100.0 * len(values)) >= 10:
            return percentile(values, p), p
    return values[-1], 100


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def prepare_env(run_tmp: str) -> None:
    """Point every scratch path of the engine and Spark at ``run_tmp``."""
    os.makedirs(run_tmp, exist_ok=True)
    os.environ["TMPDIR"] = run_tmp
    tempfile.tempdir = run_tmp
    os.environ["SPARK_LOCAL_DIRS"] = run_tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_tmp}"
    # Python workers import the engine for its UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Run:
    def __init__(self, workload, data_dir: str, args, run_tmp: str) -> None:
        self.wl = workload
        self.data_dir = data_dir
        self.args = args
        self.run_tmp = run_tmp
        self.attempted = 0
        self.failures: list[dict] = []
        self.expected_rows: dict[str, int] = {}

    def fail(self, phase: str, name: str, error: str) -> None:
        self.failures.append({"phase": phase, "query": name, "error": error[:300]})
        print(f"perfbench: {phase} {name} FAILED: {error[:300]}", file=sys.stderr)

    def free_blocks(self, keep: set) -> None:
        """Unpersist what the last query cached, so queries do not pile up
        checkpoint blocks for the ones after them."""
        for rid, rdd in self.jsc.getPersistentRDDs().items():
            if rid not in keep:
                rdd.unpersist()

    def setup(self) -> dict:
        from rearc_data_engineer_takehome_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(
            app_name=f"perfbench-{self.wl.name}",
            master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf=SPARK_CONF,
        )
        self.jsc = self.spark.sparkContext._jsc
        start_s = time.time() - t0
        t1 = time.time()
        from rearc_data_engineer_takehome_spark.queries import REGISTRY

        import_s = time.time() - t1
        self.registry = REGISTRY
        missing = [q for q in self.wl.queries if q not in REGISTRY]
        if missing:
            raise SystemExit(
                f"perfbench: workload {self.wl.name} names queries missing "
                f"from REGISTRY: {', '.join(missing)}"
            )
        return {"session.start_s": start_s, "session.import_s": import_s}

    def warm_up(self) -> None:
        """Two untimed passes: a fresh JVM is still compiling through its
        first passes, and pass times level off after about two. The second
        pass checks every result against its oracle."""
        for name in self.wl.queries:
            self.attempted += 1
            keep = set(self.jsc.getPersistentRDDs().keys())
            try:
                self.registry[name].spark(self.spark, self.data_dir).count()
            except Exception as e:  # one bad query must not lose the run
                self.fail("warmup", name, f"{type(e).__name__}: {e}")
            self.free_blocks(keep)
        self.check_pass()

    def check_pass(self) -> None:
        from tests.oracle import compare, duckdb_conn

        con = duckdb_conn(self.data_dir)
        for name in self.wl.queries:
            q = self.registry[name]
            self.attempted += 1
            keep = set(self.jsc.getPersistentRDDs().keys())
            try:
                df = q.spark(self.spark, self.data_dir)
                if q.oracle is None:  # rows-only check
                    self.expected_rows[name] = df.count()
                else:
                    result = compare(df, con, q.oracle)
                    self.expected_rows[name] = result["duck_rows"]
                    if not result["values_match"]:
                        self.fail("check", name, f"oracle mismatch: {result}")
            except Exception as e:  # one bad query must not lose the run
                self.fail("check", name, f"{type(e).__name__}: {e}")
            self.free_blocks(keep)
        con.close()

    def clear_result_cache(self) -> None:
        cache = os.path.join(
            tempfile.gettempdir(), f"spark_graft_result_cache_{os.getuid()}"
        )
        shutil.rmtree(cache, ignore_errors=True)

    def timed_passes(self, tracer) -> list[dict]:
        """Time a fixed number of passes: ``--seconds`` of work at the
        workload's nominal pass length, so a faster commit runs the same
        passes in less time instead of more passes. A pass count that
        depended on the clock made some runs one pass longer than others."""
        rng = random.Random(self.args.seed)
        order = list(self.wl.queries)
        n = max(MIN_PASSES, round(self.args.seconds / self.wl.nominal_pass_s))
        passes: list[dict] = []
        for i in range(2 * n if tracer else n):
            rng.shuffle(order)
            traced = tracer is not None and i % 2 == 1
            passes.append(self.one_pass(i, list(order), tracer if traced else None))
        return passes

    def one_pass(self, index: int, order: list[str], tracer) -> dict:
        if tracer:
            tracer.install()
        samples: dict[str, float] = {}
        queries: list[dict] = []
        for name in order:
            q = self.registry[name]
            self.attempted += 1
            keep = set(self.jsc.getPersistentRDDs().keys())
            logs_before = layers.log_files(self.run_tmp) if tracer else None
            rec = {"query": name, "id": f"{index}:{name}"}
            if tracer:
                tracer.query = rec["id"]
                span = tracer.open("query")
            try:
                t_a = time.time()
                if tracer:
                    build = tracer.open("queries.build")
                try:
                    df = q.spark(self.spark, self.data_dir)
                finally:
                    if tracer:
                        tracer.close(build)
                t_b = time.time()
                if tracer:
                    action = tracer.open("action")
                try:
                    n = df.count()
                finally:
                    if tracer:
                        tracer.close(action)
                t_c = time.time()
                rec.update(start=t_a, built=t_b, end=t_c)
                if n == self.expected_rows.get(name):
                    samples[name] = t_c - t_a
                else:
                    self.fail("timed", name, f"count {n} != oracle rows {self.expected_rows.get(name)}")
            except Exception as e:  # one bad query must not lose the run
                self.fail("timed", name, f"{type(e).__name__}: {e}")
            finally:
                if tracer:
                    tracer.close(span)
                    tracer.query = None
            if tracer:
                rec["build_py4j"] = build[1][5]
                rec["log_files"] = layers.new_log_files(logs_before, self.run_tmp)
            queries.append(rec)
            self.free_blocks(keep)
        if tracer:
            tracer.uninstall()
        return {
            "index": index,
            "traced": tracer is not None,
            "order": order,
            "samples": samples,
            "queries": queries,
            "pass_s": sum(samples.values()),
            "complete": len(samples) == len(order),
        }


def end_to_end(setup_s: float, passes: list[dict]) -> tuple[dict, dict]:
    samples = [s for p in passes for s in p["samples"].values()]
    if not samples:
        raise SystemExit("perfbench: no timed query succeeded")
    pass_s = [p["pass_s"] for p in passes if p["complete"]] or [p["pass_s"] for p in passes]
    tail_s, tail_p = tail(samples)
    metrics = {
        "setup_s": (setup_s, "s"),
        "pass_s": (statistics.median(pass_s), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_tail_s": (tail_s, "s"),
    }
    notes = {"tail_percentile": tail_p, "samples": len(samples), "n_passes": len(passes)}
    return metrics, notes


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec(ENGINE) is None or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle.py")
    ):
        print(
            f"perfbench: the engine package {ENGINE} and tests/oracle.py must "
            f"sit next to perfbench/ in {ROOT}",
            file=sys.stderr,
        )
        return 2
    wl = WORKLOADS[args.workload]
    cache = os.path.join(STATE, "cache")
    os.makedirs(cache, exist_ok=True)
    t_data = time.time()
    if wl.data == "scale10x":
        data_dir = datagen.ensure_scale(cache, args.seed)
    else:
        data_dir = datagen.ensure_base(cache)
    data_s = time.time() - t_data
    run_tmp = os.path.join(STATE, "tmp", f"run-{os.getpid()}")
    prepare_env(run_tmp)
    run = Run(wl, data_dir, args, run_tmp)
    try:
        session = run.setup()
        run.warm_up()
        setup_s = time.time() - T_START - data_s
        run.clear_result_cache()
        tracer = None
        if args.trace:
            from tracer import Tracer

            tracer = Tracer(run.spark)
        passes = run.timed_passes(tracer)
        rss = peak_rss_mb(run.spark)
        if tracer:
            metrics, notes = layers.per_layer(tracer, {**session, "memory.peak_rss_mb": rss}, passes)
        else:
            metrics, notes = end_to_end(setup_s, passes)
            notes["peak_rss_mb"] = rss
    finally:
        if hasattr(run, "spark"):
            stop(run.spark)
        shutil.rmtree(run_tmp, ignore_errors=True)
    failed = len(run.failures)
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "queries": list(wl.queries),
        "data_dir": os.path.relpath(data_dir, ROOT),
        "data_s": data_s,
        "setup_s": setup_s,
        "session": session,
        "passes": [{k: v for k, v in p.items() if k != "queries"} for p in passes],
        "failures": run.failures,
        "attempted": run.attempted,
        "failed_frac": failed / run.attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        **notes,
    }
    out_dir = os.path.join(STATE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
        json.dump(detail, f, indent=1)
    if tracer:
        tracer.write(os.path.join(out_dir, f"trace-{stem}.json"), {"workload": wl.name, "seed": args.seed})
    shown = {k: m for k, m in metrics.items() if not args.trace or k.startswith(("trace.", "spark."))}
    summary = ", ".join(f"{k}={v:.4g}{u}" for k, (v, u) in shown.items())
    print(
        f"perfbench: {wl.name} seed={args.seed} failed_frac={failed}/{run.attempted} "
        f"passes={len(passes)} {summary}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": run.attempted,
                "failed": failed,
                "metrics": detail["metrics"],
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
