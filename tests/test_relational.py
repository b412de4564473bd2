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
        ("cache", {}, 0),  # filled by the first consumer's action
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
    no other module calls ``localCheckpoint``, ``persist`` or
    ``cache``, the two helpers it replaced are gone by name, and each
    call names its kind as a literal, so the policy of every site can
    be read at the site."""
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
            if (
                fn in ("localCheckpoint", "persist", "cache")
                and isinstance(n.func, ast.Attribute)
                and name != "operators/relational.py"
            ):
                local_callers.append((name, n.lineno))
            if fn == "materialize":
                n_calls += 1
                kind = n.args[2] if len(n.args) > 2 else next(
                    (k.value for k in n.keywords if k.arg == "kind"), None
                )
                if not (
                    isinstance(kind, ast.Constant)
                    and kind.value in ("small", "reliable", "local", "cache")
                ):
                    bad_kinds.append((name, n.lineno))
    assert local_callers == []
    assert stale == []
    assert bad_kinds == []
    assert n_calls > 0


def _live_entry(spark, df):
    """Identity of the session cache registry's entry for ``df``'s
    plan, or None when the plan is not cached."""
    hit = spark._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    return spark._jvm.System.identityHashCode(hit.get()) if hit.isDefined() else None


def test_cache_keeps_one_live_copy_per_label(spark):
    """A second ``cache`` call for a label unpersists the first copy:
    its plan leaves Spark's cache registry. A call whose plan another
    label holds caches it afresh instead of serving that copy."""
    registry = spark._jsparkSession.sharedState().cacheManager()
    first = rel.materialize(_small_df(spark, 3), "ut_cache", "cache")
    n = registry.numCachedEntries()
    assert _live_entry(spark, first) is not None
    second = rel.materialize(_small_df(spark, 4), "ut_cache", "cache")
    assert _live_entry(spark, first) is None
    assert registry.numCachedEntries() == n
    held = _live_entry(spark, second)
    other = rel.materialize(_small_df(spark, 4), "ut_cache_other", "cache")
    assert registry.numCachedEntries() == n
    assert _live_entry(spark, other) not in (None, held)
    assert sorted(tuple(r) for r in other.collect()) == [
        (i, 2 * i) for i in range(4)
    ]


def test_cached_dedup_reads_a_file_rewritten_in_place(spark, tmp_path):
    """Spark's cache registry matches a parquet scan by its path, so a
    copy cached by an earlier call must not serve a later call after
    the file was rewritten in place: neither a re-run of the same
    operator nor another operator that caches the same relation. The
    file is rewritten outside Spark, as a mirror sync does; a Spark
    overwrite would refresh the registry itself."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rearc_data_engineer_takehome_spark.operators import dedup

    path = tmp_path / "docs"
    path.mkdir()
    base = "a b c d e f g"

    def docs(*texts):
        pq.write_table(
            pa.table({
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": list(texts),
            }),
            path / "part-0.parquet",
        )
        return spark.read.parquet(str(path))

    def pairs(df):
        out = dedup.ngram_jaccard_pairs_staged(df, max_df=64)
        return sorted((r.id_a, r.id_b) for r in out.collect())

    assert pairs(docs(f"{base} h", f"{base} x", "p q r s t u v w")) == [(1, 2)]
    assert pairs(docs(f"{base} h", "m n o p q r s t", f"{base} y")) == [(1, 3)]
    # the staged clusters cache the same posting relation under their
    # own label
    clusters = dedup.staged_near_dup_clusters(
        docs("m n o p q r s t", f"{base} h", f"{base} y"), max_df=64
    )
    assert sorted(tuple(r) for r in clusters.collect()) == [(2, 2), (3, 2)]
