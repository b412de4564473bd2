"""Guard the bench output contract (VERDICT.md round 1 item 3).

BENCH_r01.json came back ``"parsed": null`` because bench.py printed one
~6 KB JSON line and the driver captured only a ~2 KB tail — the line
truncated mid-JSON. The contract since round 2: the FINAL stdout line is
a compact (< 1 KB) self-contained JSON object, and the full per-query
map lives in BENCH_DETAIL.json. This test runs bench.main() against a
3-query registry at sf0.001 and asserts the contract, so a future
registration or format change cannot silently regrow the line past the
driver's capture window.
"""

from __future__ import annotations

import io
import json
from contextlib import redirect_stdout

import bench
from rearc_data_engineer_takehome_spark.queries import REGISTRY


def test_bench_final_line_is_compact_parseable_json(
    spark, sf_smoke, monkeypatch, tmp_path
):
    small = {
        n: REGISTRY[n]
        for n in (
            "pricing_summary",
            "best_part_by_supplier",
            "knn_bruteforce",
            "pq_codebook",
        )
    }
    monkeypatch.setattr(bench, "REGISTRY", small)
    monkeypatch.setattr(bench, "SF_DIR", sf_smoke)
    monkeypatch.setattr(bench, "CPUS", "4")
    # route BENCH_DETAIL.json into tmp so the test never clobbers the
    # repo artifact
    monkeypatch.setattr(bench, "DETAIL_PATH", str(tmp_path / "BENCH_DETAIL.json"))
    # bench.main() stops its session on exit; get_spark getOrCreate
    # returns the suite's shared session, which must survive the test
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    buf = io.StringIO()
    with redirect_stdout(buf):
        bench.main()

    lines = [ln for ln in buf.getvalue().splitlines() if ln.strip()]
    final = lines[-1]
    assert len(final) < 1024, f"final line too long: {len(final)} bytes"
    out = json.loads(final)
    assert out["metric"] == "total_query_seconds"
    assert out["unit"] == "sec"
    assert out["n_queries"] == 3
    assert out["n_failed"] == 0
    assert isinstance(out["value"], float)
    assert set(out["queries"]) <= set(bench.HEADLINE)
    # offline builds are accounted separately: total_query_seconds is
    # query latency only, build cost goes under builds/build_seconds
    assert out["n_builds"] == 1
    assert isinstance(out["build_seconds"], float)
    detail = json.load(open(tmp_path / "BENCH_DETAIL.json"))
    assert set(detail["queries"]) == set(small) - bench.BUILDS
    assert set(detail["builds"]) == {"pq_codebook"}
    assert detail["value"] == round(sum(detail["queries"].values()), 4)
    assert detail["cpus"] == 4
    # the timed action evaluates every column, and each query's min
    # sample is split into build and action seconds and jobs
    assert detail["action"] == "noop"
    assert set(detail["layers"]) == set(small)
    for layer in detail["layers"].values():
        assert set(layer) == {"build_s", "action_s", "build_jobs", "action_jobs"}
    assert detail["layers"]["pq_codebook"]["build_jobs"] >= 1
    for n, t in {**detail["queries"], **detail["builds"]}.items():
        layer = detail["layers"][n]
        assert t == round(layer["build_s"] + layer["action_s"], 4)


def test_timed_action_evaluates_what_count_prunes(spark, sf_smoke):
    """The bench's action runs describe_lineitem's exact median. A
    ``.count()`` plans the scan and a row count only: Catalyst prunes
    every aggregate the count does not read, so a harness timing it
    would miss the costliest part of the query."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions() -> dict:
        sc.listenerBus().waitUntilEmpty()
        lst = store.executionsList()
        return {
            e.executionId(): e.physicalPlanDescription()
            for e in (lst.apply(i) for i in range(lst.size()))
        }

    df = REGISTRY["describe_lineitem"].spark(spark, sf_smoke)
    before = executions()
    bench.run_action(df)
    plans = [p for i, p in executions().items() if i not in before]
    assert len(plans) == 1
    assert "percentile" in plans[0]


def test_repeated_samples_of_a_caching_query_match(spark, sf_smoke):
    """Two back-to-back samples of a query that caches a relation start
    the same Spark jobs, and the session keeps one live copy for its
    label: the second sample's, not the first's reused. A warm-up
    sample runs first, as in the bench: the session's first read of a
    table starts a schema job that later reads skip."""
    from rearc_data_engineer_takehome_spark.operators import relational

    registry = spark._jsparkSession.sharedState().cacheManager()

    def sample():
        timed = bench.time_query(spark, REGISTRY["dedup_ngram_jaccard"], sf_smoke)
        held = registry.lookupCachedData(
            relational._CACHED["staged_posting"]._jdf
        )
        assert held.isDefined()
        return (
            (timed["build_jobs"], timed["action_jobs"]),
            registry.numCachedEntries(),
            spark._jvm.System.identityHashCode(held.get()),
        )

    sample()
    jobs1, n1, copy1 = sample()
    jobs2, n2, copy2 = sample()
    assert jobs2 == jobs1
    assert n2 == n1
    assert copy2 != copy1


def test_headline_subset_is_registered():
    missing = [n for n in bench.HEADLINE if n not in REGISTRY]
    assert not missing, f"HEADLINE names not in REGISTRY: {missing}"


def test_bench_diff_refuses_pins_timed_with_different_actions(
    monkeypatch, tmp_path
):
    """A pin without an ``action`` key timed ``.count()``; bench_diff
    compares it with a count pin but refuses a noop pin, naming both
    actions."""
    import sys

    import pytest

    from tools import bench_diff

    def detail(name, **extra):
        p = tmp_path / name
        p.write_text(
            json.dumps({"sf": 0.1, "queries": {"q1": 1.0}, "spread": {}, **extra})
        )
        return str(p)

    def diff(old, new):
        out = tmp_path / "diff.md"
        out.unlink(missing_ok=True)
        monkeypatch.setattr(sys, "argv", ["bench_diff", old, new, str(out)])
        with redirect_stdout(io.StringIO()):
            bench_diff.main()
        return out.read_text()

    old = detail("old.json")
    assert "Regressions: 0" in diff(old, detail("count.json", action="count"))
    assert "Regressions: 0" in diff(
        detail("a.json", action="noop"), detail("b.json", action="noop")
    )
    with pytest.raises(SystemExit, match="different actions") as exc:
        diff(old, detail("noop.json", action="noop"))
    assert "old.json used 'count'" in str(exc.value)
    assert "noop.json used 'noop'" in str(exc.value)
    assert not (tmp_path / "diff.md").exists()


def test_scale_report_names_the_cpu_count(monkeypatch, tmp_path):
    """The scaling report states the core count both detail files
    recorded, and says so when one lacks it or the two differ."""
    import sys

    from tools import scale_report

    def detail(name, secs, **extra):
        p = tmp_path / name
        p.write_text(json.dumps({"queries": {"q1": secs, "q2": 2 * secs}, **extra}))
        return str(p)

    def report(base, big):
        out = tmp_path / "report.md"
        monkeypatch.setattr(sys, "argv", ["scale_report", base, big, "10", str(out)])
        with redirect_stdout(io.StringIO()):
            scale_report.main()
        return out.read_text()

    base = detail("base.json", 1.0, cpus=4)
    text = report(base, detail("big.json", 8.0, cpus=4))
    assert "(local[4])" in text and "32" not in text
    assert "| q1 | 1.00 | 8.00 | 8.0x | sub-linear |" in text
    text = report(base, detail("big8.json", 8.0, cpus=8))
    assert "CPU counts differ: local[4] base, local[8] probe" in text
    text = report(base, detail("old.json", 8.0))
    assert "CPU count not recorded in " in text and "old.json" in text
