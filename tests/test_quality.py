"""Data-quality operator tests (reference V1-V10) over the driver fixtures
and synthetic edge cases."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rearc_data_engineer_takehome_spark.operators import quality


@pytest.fixture(scope="module")
def orders(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/orders.parquet")


@pytest.fixture(scope="module")
def lineitem(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/lineitem.parquet")


def test_null_profile_shape(spark, orders):
    prof = quality.null_profile(orders)
    rows = {r.column: (r.n_nulls, r.pct_nulls) for r in prof.collect()}
    assert set(rows) == set(orders.columns)
    assert all(n == 0 for n, _ in rows.values())  # fixture has no nulls


def test_null_profile_counts_nulls(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "x"), (None, None)], ["a", "b"]
    )
    rows = {r.column: r.n_nulls for r in quality.null_profile(df).collect()}
    assert rows == {"a": 1, "b": 2}


def test_duplicate_rows_and_keys(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b"), (2, "c")], ["k", "v"]
    )
    full = quality.duplicate_rows(df).collect()
    assert [(r.k, r.v, r.n_copies) for r in full] == [(1, "a", 2)]
    keys = quality.duplicate_keys(df, ["k"]).collect()
    assert sorted((r.k, r.n) for r in keys) == [(1, 2), (2, 2)]


def test_domain_check(spark, lineitem):
    dom = quality.domain_check(lineitem, "l_returnflag", allowed=["A", "N", "R"])
    rows = dom.collect()
    assert all(r.in_domain for r in rows)
    assert {r.l_returnflag for r in rows} <= {"A", "N", "R"}


def test_completeness(spark):
    df = spark.createDataFrame(
        [("s1", 2000, "Q1"), ("s1", 2000, "Q2"), ("s1", 2000, "Q3"),
         ("s1", 2000, "Q4"), ("s2", 2000, "Q1")],
        ["sid", "yr", "q"],
    )
    rows = {(r.sid, r.yr): (r.n_present, r.is_complete)
            for r in quality.completeness(df, ["sid", "yr"], "q", 4).collect()}
    assert rows == {("s1", 2000): (4, True), ("s2", 2000): (1, False)}


def test_iqr_outliers_in_plan(spark):
    data = [(float(i),) for i in range(1, 101)] + [(1000.0,), (-1000.0,)]
    df = spark.createDataFrame(data, ["v"])
    out = quality.iqr_outliers(df, "v")
    vals = sorted(r.v for r in out.collect())
    assert vals == [-1000.0, 1000.0]


def test_assertions(spark):
    df = spark.createDataFrame([(1, "a"), (None, "b")], ["k", "v"])
    with pytest.raises(quality.ValidationError, match="NULL critical"):
        quality.assert_no_nulls(df, ["k"], "test")
    quality.assert_no_nulls(df, ["v"], "test")  # no nulls in v → passes
    assert quality.assert_non_empty(df, "test") == 2
    with pytest.raises(quality.ValidationError, match="duplicate key"):
        quality.assert_unique_keys(
            spark.createDataFrame([(1,), (1,)], ["k"]), ["k"], "test"
        )


def test_dq_summary(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, None)], ["k", "v"])
    row = quality.dq_summary(df, ["k"], "2026-01-01T00:00:00Z").collect()[0]
    assert row.n_rows == 3
    assert row.n_full_row_dups == 1
    assert row.n_key_dups == 1
    assert row.n_null_cells == 1


def test_winsorize_clamps_tails_only(spark):
    import pyspark.sql.functions as F

    from rearc_data_engineer_takehome_spark.operators.quality import winsorize

    df = spark.range(1, 101).select(F.col("id").cast("double").alias("x"))
    w = winsorize(df, "x", 0.05, 0.95)
    rows = {r.x: (r.x_wins, r.was_clamped) for r in w.collect()}
    lo = min(v for v, _ in rows.values())
    hi = max(v for v, _ in rows.values())
    # exact percentiles of 1..100 at 5%/95%
    assert (lo, hi) == (5.95, 95.05)
    assert rows[50.0] == (50.0, False)       # interior untouched
    assert rows[1.0] == (5.95, True)         # low tail clamped up
    assert rows[100.0] == (95.05, True)      # high tail clamped down
    assert sum(1 for _, c in rows.values() if c) == 10  # 5 each tail


def test_column_entropy_extremes(spark):
    import math

    import pyspark.sql.functions as F

    from rearc_data_engineer_takehome_spark.operators.quality import column_entropy

    const = spark.range(0, 64).select(F.lit("same").alias("c"))
    r = column_entropy(const, "c").first()
    assert (r.entropy, r.n_distinct, r.n_rows) == (0.0, 1, 64)  # constant → H=0

    uniform = spark.range(0, 64).select((F.col("id") % 8).cast("string").alias("c"))
    r = column_entropy(uniform, "c").first()
    assert abs(r.entropy - round(math.log(8), 6)) < 1e-6  # uniform → ln(k)
    assert r.n_distinct == 8


def test_exact_quantiles_scalable_matches_single_pass(spark, sf_smoke):
    """The two-pass bracketed quantile must be BIT-identical to the
    single-pass exact percentile, including on a duplicate-heavy column
    (where the bracket collapses onto one value's mass)."""
    import pyspark.sql.functions as F

    from rearc_data_engineer_takehome_spark.operators.quality import (
        exact_quantiles_scalable,
    )

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    probs = [0.0, 0.25, 0.5, 0.75, 0.99, 1.0]
    ref = li.agg(
        F.expr(f"percentile(l_extendedprice, array({','.join(map(str, probs))}))")
    ).collect()[0][0]
    got = exact_quantiles_scalable(li, "l_extendedprice", probs).collect()[0]
    assert [got[f"q_{i}"] for i in range(len(probs))] == list(ref)

    dup = li.select("l_quantity")  # ~50 distinct values, heavy duplicates
    ref2 = dup.agg(F.expr("percentile(l_quantity, array(0.5, 0.9))")).collect()[0][0]
    got2 = exact_quantiles_scalable(dup, "l_quantity", [0.5, 0.9]).collect()[0]
    assert [got2["q_0"], got2["q_1"]] == list(ref2)


def test_exact_quantiles_bracketed_matches_single_pass(spark, sf_smoke):
    """At a coarse sketch accuracy (wide brackets), the two-pass
    quantiles must still be BIT-identical to the single-pass exact
    percentile — near-continuous and duplicate-heavy columns, extreme
    probs included."""
    import pyspark.sql.functions as F

    from rearc_data_engineer_takehome_spark.operators.quality import (
        exact_quantiles_scalable,
    )

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    probs = [0.0, 0.25, 0.5, 0.75, 0.99, 1.0]
    ref = li.agg(
        F.expr(f"percentile(l_extendedprice, array({','.join(map(str, probs))}))")
    ).collect()[0][0]
    got = exact_quantiles_scalable(
        li, "l_extendedprice", probs, accuracy=1000
    ).collect()[0]
    assert [got[f"q_{i}"] for i in range(len(probs))] == list(ref)

    dup = li.select("l_quantity")  # ~50 distinct values, heavy duplicates
    ref2 = dup.agg(F.expr("percentile(l_quantity, array(0.5, 0.9))")).collect()[0][0]
    got2 = exact_quantiles_scalable(
        dup, "l_quantity", [0.5, 0.9], accuracy=1000
    ).collect()[0]
    assert [got2["q_0"], got2["q_1"]] == list(ref2)


def test_grouped_exact_quantiles_scalable_matches_single_pass(spark, sf_smoke):
    """Per-group bracketed quantiles must be bit-identical to grouped
    percentile(), including on a duplicate-heavy column."""
    import pyspark.sql.functions as F

    from rearc_data_engineer_takehome_spark.operators.quality import (
        grouped_exact_quantiles_scalable,
    )

    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    for col in ("l_extendedprice", "l_quantity"):
        ref = {
            r.l_returnflag: list(r.q)
            for r in li.groupBy("l_returnflag")
            .agg(F.expr(f"percentile({col}, array(0.1, 0.5, 0.9))").alias("q"))
            .collect()
        }
        got = {
            r.l_returnflag: [r.q_0, r.q_1, r.q_2]
            for r in grouped_exact_quantiles_scalable(
                li, "l_returnflag", col, [0.1, 0.5, 0.9]
            ).collect()
        }
        assert got == ref, col


def test_quantile_pass2_raises_when_bracket_misses_rank_by_two(spark):
    """Fault injection: hand-built brackets that start two ranks above
    the floor order statistic must make pass 2 raise, never return the
    adjacent value just below the bracket. One rank off is the exact
    ±1 fallback and must still answer."""
    from pyspark.errors import PySparkException

    flat = spark.range(10).selectExpr("CAST(id AS DOUBLE) AS x")  # ranks = values
    grouped = spark.range(20).selectExpr("id % 2 AS g", "CAST(id AS DOUBLE) AS x")

    def brackets(rows, keyed):
        schema = "n long, vlo array<double>, vhi array<double>"
        return spark.createDataFrame(rows, ("g long, " + schema) if keyed else schema)

    # p=0.5 over n=10: floor rank 4, ceil rank 5
    one_off = brackets([(10, [5.0], [9.0])], keyed=False)
    assert quality._quantiles_in_brackets(flat, one_off, [], [0.5]).first().q_0 == 4.5
    two_off = brackets([(10, [6.0], [9.0])], keyed=False)
    with pytest.raises(PySparkException, match="missed rank"):
        quality._quantiles_in_brackets(flat, two_off, [], [0.5]).collect()

    # group 0 holds 0, 2, ..., 18: floor rank 4 is 8, the bracket starts
    # at 12 (rank 6); group 1 is bracketed correctly
    two_off = brackets([(0, 10, [12.0], [18.0]), (1, 10, [7.0], [19.0])], keyed=True)
    with pytest.raises(PySparkException, match="missed rank"):
        quality._quantiles_in_brackets(grouped, two_off, ["g"], [0.5]).collect()


def test_two_pass_quantiles_empty_and_all_null_inputs(spark):
    """The two-pass path on no non-null rows: one all-null row
    ungrouped, zero rows grouped — never an error."""
    empty = spark.createDataFrame([], "g long, x double")
    all_null = spark.createDataFrame([(1, None), (2, None)], "g long, x double")
    for df in (empty, all_null):
        got = quality.exact_quantiles_scalable(df, "x", [0.0, 0.5, 1.0]).collect()
        assert [tuple(r) for r in got] == [(None, None, None)]
        assert quality.grouped_exact_quantiles_scalable(
            df, "g", "x", [0.5]
        ).collect() == []


def _percentile_rows(df, keys, col, probs):
    """Reference: Spark's exact ``percentile()``, keyed by group."""
    arr = ", ".join(f"{p!r}D" for p in probs)
    agg = F.expr(f"percentile({col}, array({arr}))").alias("q")
    rows = (df.groupBy(*keys) if keys else df).agg(agg).collect()
    return {tuple(r[k] for k in keys): list(r.q) for r in rows}


def _two_pass_rows(df, keys, col, probs):
    if keys:
        out = quality.grouped_exact_quantiles_scalable(df, keys[0], col, probs)
    else:
        out = quality.exact_quantiles_scalable(df, col, probs)
    return {
        tuple(r[k] for k in keys): [r[f"q_{i}"] for i in range(len(probs))]
        for r in out.collect()
    }


def _nan_safe(rows):
    return {k: ["NaN" if v != v else v for v in qs] for k, qs in rows.items()}


def test_two_pass_quantiles_past_the_sketch_size(spark):
    """1.2M rows in 8 partitions: every partition's KLL sketch compacts
    (n > k), so pass 1 brackets come from a lossy sketch. The two-pass
    answer must still equal ``percentile()`` exactly, on a
    duplicate-heavy and an all-distinct column, ungrouped and over 3
    groups, at the extreme and middle probabilities."""
    df = spark.range(0, 1_200_000, 1, 8).selectExpr(
        "id % 3 AS g",
        "CAST(pmod(hash(id), 1000) AS DOUBLE) AS dup",
        "CAST(hash(id) AS DOUBLE) / 7.0D AS uniq",
    )
    probs = [0.0, 0.001, 0.5, 0.999, 1.0]
    for col in ("dup", "uniq"):
        for keys in ([], ["g"]):
            ref = _percentile_rows(df, keys, col, probs)
            assert _two_pass_rows(df, keys, col, probs) == ref, (col, keys)


def test_two_pass_quantiles_nan_and_infinities(spark):
    """Spark orders NaN above +Infinity; the sketch must too. A column
    with 2% NaN, a NaN / -Inf / +Inf mix and an all-NaN column all
    match ``percentile()``, ungrouped and grouped — the ranks above
    0.98 land on NaN rows, which a sketch that skipped NaN would leave
    outside every bracket."""
    df = spark.range(0, 200_000, 1, 4).selectExpr(
        "id % 3 AS g",
        "IF(id % 50 = 7, double('NaN'), CAST(pmod(hash(id), 100000) AS DOUBLE)) AS nan2",
        "CASE id % 10 WHEN 0 THEN double('NaN') WHEN 1 THEN double('-Infinity')"
        " WHEN 2 THEN double('Infinity') ELSE CAST(id AS DOUBLE) END AS mix",
        "double('NaN') AS all_nan",
    )
    probs = [0.0, 0.05, 0.5, 0.85, 0.95, 0.985, 0.99, 1.0]
    for col in ("nan2", "mix", "all_nan"):
        for keys in ([], ["g"]):
            ref = _nan_safe(_percentile_rows(df, keys, col, probs))
            assert _nan_safe(_two_pass_rows(df, keys, col, probs)) == ref, (col, keys)


def test_two_pass_quantiles_refuse_accuracy_past_the_sketch_bound(spark):
    """A margin under 4x the KLL sketch's rank error would make bracket
    misses likely: both operators refuse it before running a job."""
    df = spark.createDataFrame([(1, 1.0), (1, 2.0)], "g long, x double")
    quality.exact_quantiles_scalable(df, "x", [0.5], accuracy=10_000)
    with pytest.raises(ValueError, match="accuracy=20000"):
        quality.exact_quantiles_scalable(df, "x", [0.5], accuracy=20_000)
    with pytest.raises(ValueError, match="accuracy=20000"):
        quality.grouped_exact_quantiles_scalable(df, "g", "x", [0.5], accuracy=20_000)


def test_fk_integrity_detects_planted_orphans(spark):
    from rearc_data_engineer_takehome_spark.operators.quality import fk_integrity

    parent = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    child = spark.createDataFrame([(1,), (1,), (2,), (9,)], ["fk"])
    r = fk_integrity(child, parent, "fk", "pk", "c->p").collect()[0]
    assert (r.n_child, r.n_orphans, r.n_parents, r.n_childless) == (4, 1, 3, 1)


def test_snapshot_diff_classifies_all_change_types(spark):
    from rearc_data_engineer_takehome_spark.operators.quality import snapshot_diff

    old = spark.createDataFrame(
        [(1, 10, "A"), (2, 20, "B"), (3, 30, "C")], ["k", "v", "s"]
    )
    new = spark.createDataFrame(
        [(1, 10, "A"), (2, 25, "B"), (4, 40, "D")], ["k", "v", "s"]
    )
    got = {r.change_type: r.n_rows for r in
           snapshot_diff(old, new, "k", ["v", "s"]).collect()}
    assert got == {"unchanged": 1, "changed": 1, "removed": 1, "added": 1}


def test_snapshot_diff_null_vs_empty_string_differ(spark):
    """The null tag in the digest must distinguish NULL from ''."""
    from rearc_data_engineer_takehome_spark.operators.quality import snapshot_diff

    old = spark.createDataFrame([(1, None)], "k long, s string")
    new = spark.createDataFrame([(1, "")], "k long, s string")
    got = {r.change_type: r.n_rows for r in
           snapshot_diff(old, new, "k", ["s"]).collect()}
    assert got == {"changed": 1}


def test_kaplan_meier_textbook_example(spark):
    """Classic 4-subject KM example (durations 1, 2+, 3, 4+ where +
    marks censoring): S steps only at event times — S(1) = 3/4,
    S(3) = 3/4 * 1/2 = 0.375 — and censored subjects reduce the
    at-risk count without stepping the curve."""
    from rearc_data_engineer_takehome_spark.operators.quality import (
        kaplan_meier,
    )

    rows = [(1, 1), (2, 0), (3, 1), (4, 0)]
    df = spark.createDataFrame(rows, "duration int, event int")
    out = {
        r["duration"]: r.asDict()
        for r in kaplan_meier(df, "duration", "event").collect()
    }
    assert out[1]["n_risk"] == 4 and out[1]["d"] == 1
    assert out[1]["survival"] == 0.75
    assert out[2]["d"] == 0 and out[2]["c"] == 1
    assert out[2]["survival"] == 0.75  # censoring never steps the curve
    assert out[3]["n_risk"] == 2
    assert out[3]["survival"] == 0.375
    assert out[4]["n_risk"] == 1 and out[4]["survival"] == 0.375


def test_kaplan_meier_all_events_reaches_zero(spark):
    """Everyone churns: the final factor is 1 - d/n = 0; the ln(0)
    clamp must yield survival 0.0 (not NULL) at the last event time."""
    from rearc_data_engineer_takehome_spark.operators.quality import (
        kaplan_meier,
    )

    df = spark.createDataFrame(
        [(1, 1), (2, 1), (2, 1)], "duration int, event int"
    )
    out = sorted(
        kaplan_meier(df, "duration", "event").collect(),
        key=lambda r: r["duration"],
    )
    assert out[-1]["survival"] == 0.0
    assert out[-1]["survival"] is not None


def test_kaplan_meier_distinct_duration_guard_and_bucketing(spark):
    """Round-5 guard (VERDICT r04 item 5): sub-second (here: per-unit)
    durations whose distinct domain exceeds max_distinct_durations must
    raise with a remediation message instead of silently dragging the
    domain through the single-partition cumulative windows; the
    remediation — duration_bucket — floors durations into a bounded
    domain and computes standard discretized KM over it."""
    import pytest

    from rearc_data_engineer_takehome_spark.operators.quality import (
        kaplan_meier,
    )

    # 400 subjects with 400 distinct "millisecond" durations, all events
    df = spark.range(1, 401).select(
        F.col("id").cast("int").alias("duration"), F.lit(1).alias("event")
    )
    with pytest.raises(ValueError, match="duration_bucket"):
        kaplan_meier(
            df, "duration", "event", max_distinct_durations=100
        ).collect()

    # bucket to width 100 -> 5 distinct buckets {0,100,200,300,400}:
    # guard passes, and the curve matches hand-computed discretized KM
    out = sorted(
        kaplan_meier(
            df,
            "duration",
            "event",
            duration_bucket=100,
            max_distinct_durations=100,
        ).collect(),
        key=lambda r: r["duration"],
    )
    assert [r["duration"] for r in out] == [0, 100, 200, 300, 400]
    # durations 1..99 floor to 0 (99 subjects), 100..199 -> 100, ...,
    # and duration 400 alone lands in the last bucket
    assert [r["d"] for r in out] == [99, 100, 100, 100, 1]
    assert out[0]["n_risk"] == 400
    # S(0) = 1 - 99/400 = 0.7525; S(100) = 0.7525 * (1 - 100/301)
    assert out[0]["survival"] == 0.7525
    assert abs(out[1]["survival"] - 0.7525 * (1 - 100 / 301)) < 1e-6
    assert out[-1]["survival"] == 0.0

    # bounded domains pass untouched through the default guard, and
    # disabling the guard skips the eager count entirely
    small = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1)], "duration int, event int"
    )
    assert kaplan_meier(small, "duration", "event").count() == 3
    assert (
        kaplan_meier(
            small, "duration", "event", max_distinct_durations=None
        ).count()
        == 3
    )
