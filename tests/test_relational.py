"""``operators/relational.materialize``: the package's one
materialization helper. Its kinds, bounds, job counts and job
descriptions, plus a source guard that keeps every materialization
site routed through it."""

from __future__ import annotations

import ast
import pathlib

import pytest

import rearc_data_engineer_takehome_spark as pkg
from rearc_data_engineer_takehome_spark.operators import relational as rel

from .test_plans import _jobs_started_by


def _job_descriptions(spark, fn):
    """(result of ``fn()``, descriptions of the jobs it started), read
    from the status store once the listener bus has drained."""
    jsc = spark.sparkContext._jsc.sc()
    j0 = jsc.dagScheduler().nextJobId()
    out = fn()
    j1 = jsc.dagScheduler().nextJobId()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    descs = []
    for jid in range(j0, j1):
        d = store.job(jid).description()
        descs.append(d.get() if d.isDefined() else None)
    return out, descs


def _small_df(spark, n=3):
    return spark.range(n).selectExpr("id AS k", "id * 2 AS v")


def test_small_over_its_bound_raises(spark):
    df = _small_df(spark, 5)
    with pytest.raises(ValueError, match="max_rows=4"):
        rel.materialize(df, "ut_small", "small", max_rows=4)
    out = rel.materialize(df, "ut_small", "small", max_rows=5)
    assert sorted(tuple(r) for r in out.collect()) == [
        (i, 2 * i) for i in range(5)
    ]
    assert out.schema == df.schema


def test_unknown_kind_and_unbounded_small_raise(spark):
    df = _small_df(spark)
    with pytest.raises(ValueError, match="kind"):
        rel.materialize(df, "ut_bad", "persist")
    with pytest.raises(ValueError, match="max_rows"):
        rel.materialize(df, "ut_bad", "small")


@pytest.mark.parametrize(
    "kind, kwargs, n_jobs",
    [
        ("local", {}, 1),
        ("local", {"eager": False}, 0),
        ("small", {"max_rows": 10}, 1),  # the collect
        ("reliable", {}, 1),  # the parquet write; the read-back is lazy
    ],
)
def test_jobs_started_per_kind(spark, kind, kwargs, n_jobs):
    df = _small_df(spark)
    out, n = _jobs_started_by(
        spark, lambda: rel.materialize(df, f"ut_jobs_{kind}", kind, **kwargs)
    )
    assert n == n_jobs
    assert sorted(tuple(r) for r in out.collect()) == [(0, 0), (1, 2), (2, 4)]


@pytest.mark.parametrize(
    "kind, kwargs",
    [("local", {}), ("small", {"max_rows": 10}), ("reliable", {})],
)
def test_jobs_carry_description_and_caller_description_survives(
    spark, kind, kwargs
):
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        _, descs = _job_descriptions(
            spark,
            lambda: rel.materialize(
                _small_df(spark), "ut_desc", kind, **kwargs
            ),
        )
        assert descs and set(descs) == {f"materialize:{kind}:ut_desc"}
        assert sc.getLocalProperty("spark.job.description") == "caller"
        # a failing call restores it too
        with pytest.raises(ValueError):
            rel.materialize(_small_df(spark, 5), "ut_desc", "small", max_rows=1)
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    rel.materialize(_small_df(spark), "ut_desc", "local")
    assert sc.getLocalProperty("spark.job.description") is None


def test_one_materialization_helper():
    """Every materialization goes through ``relational.materialize``:
    no other module calls ``localCheckpoint``, the two helpers it
    replaced are gone by name, and each call names its kind as a
    literal, so the policy of every site can be read at the site."""
    root = pathlib.Path(pkg.__file__).parent
    files = sorted(root.rglob("*.py"))
    rels = {f.relative_to(root).as_posix() for f in files}
    # the walk must see nested packages, not just top-level modules
    assert {"operators/relational.py", "sources/delta_log/dml.py"} <= rels
    local_callers, stale, bad_kinds = [], [], []
    n_calls = 0
    for f in files:
        name = f.relative_to(root).as_posix()
        src = f.read_text()
        stale += [
            (name, old)
            for old in ("checkpoint_reliable", "materialize_small")
            if old in src
        ]
        for n in ast.walk(ast.parse(src)):
            if not isinstance(n, ast.Call):
                continue
            fn = getattr(n.func, "attr", None) or getattr(n.func, "id", None)
            if fn == "localCheckpoint" and name != "operators/relational.py":
                local_callers.append((name, n.lineno))
            if fn == "materialize":
                n_calls += 1
                kind = n.args[2] if len(n.args) > 2 else next(
                    (k.value for k in n.keywords if k.arg == "kind"), None
                )
                if not (
                    isinstance(kind, ast.Constant)
                    and kind.value in ("small", "reliable", "local")
                ):
                    bad_kinds.append((name, n.lineno))
    assert local_callers == []
    assert stale == []
    assert bad_kinds == []
    assert n_calls > 0
