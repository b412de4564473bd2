"""Data-quality / validation operators (reference checks V1-V10).

The reference's correctness assurance is runtime validation embedded in
the pipeline (SURVEY.md §5): path/table existence asserts, null-critical
checks, duplicate detection, domain checks, completeness histograms, IQR
outliers, and an append-only DQ run log. Reference:
notebooks/20_analytics.ipynb:3103-3172 (validation cell) and
notebooks/21_EDA.ipynb cells 9-25 (profiling harness).

Every check returns a DataFrame (composable, lazy); ``assert_*`` wrappers
raise like the reference's RuntimeError-on-failure contract. At scale:
one-pass aggregations only — the null profile is a single agg over all
columns, not a per-column scan; quantiles use percentile_approx in-plan
rather than the reference's driver-side approxQuantile collect. Exact
quantiles (``exact_quantiles_scalable``) bracket each rank with a KLL
sketch (99%-confidence rank error, a miss raises) and resolve the
brackets exactly in one more scan.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .relational import materialize


class ValidationError(RuntimeError):
    """Raised when a hard data-quality assertion fails (the reference
    raises RuntimeError to halt the workflow — README.md:214-215)."""


def null_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """V4/A8: per-column null count + percentage, ONE pass.

    Returns one row per profiled column: (column, n_nulls, pct_nulls).
    Reference: notebooks/21_EDA.ipynb:1073-1085.
    """
    cols = list(cols or df.columns)
    aggs = [F.count(F.lit(1)).alias("__total")] + [
        F.sum(F.col(c).isNull().cast("int")).alias(c) for c in cols
    ]
    wide = df.agg(*aggs)
    # unpivot the single wide row → long (column, n_nulls) form
    stacked = wide.select(
        F.col("__total"),
        F.expr(
            "stack({n}, {args}) as (column, n_nulls)".format(
                n=len(cols),
                args=", ".join(f"'{c}', `{c}`" for c in cols),
            )
        ),
    ).select(
        "column",
        F.col("n_nulls").cast("long").alias("n_nulls"),
        F.round(F.col("n_nulls") * 100.0 / F.col("__total"), 4).alias("pct_nulls"),
    )
    return stacked


def duplicate_rows(df: DataFrame) -> DataFrame:
    """V6 (full-row): rows appearing more than once, with multiplicity.
    Equivalent to count() - dropDuplicates().count() in the reference
    (21_EDA.ipynb:657-658) but returns the offending rows."""
    return (
        df.groupBy(*df.columns)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


def duplicate_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """V6 (business-key): key groups with >1 row.
    Reference: notebooks/21_EDA.ipynb:666-668."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
    )


def domain_check(
    df: DataFrame, col: str, allowed: Sequence[str] | None = None
) -> DataFrame:
    """V7: distinct values of a column (optionally flagging values outside
    an allowed vocabulary). Reference: notebooks/21_EDA.ipynb:1366-1370."""
    out = df.groupBy(col).agg(F.count(F.lit(1)).alias("n"))
    if allowed is not None:
        out = out.withColumn("in_domain", F.col(col).isin(list(allowed)))
    return out


def completeness(
    df: DataFrame,
    group_keys: Sequence[str],
    coverage_col: str,
    expected: int,
) -> DataFrame:
    """V8: per-group coverage — distinct ``coverage_col`` values vs the
    expected count, with a boolean completeness flag. The reference checks
    quarters-present-per-(series, year) against 4
    (notebooks/21_EDA.ipynb:1875-1890)."""
    return (
        df.groupBy(*group_keys)
        .agg(F.countDistinct(coverage_col).alias("n_present"))
        .withColumn("is_complete", F.col("n_present") >= F.lit(expected))
    )


def iqr_outliers(
    df: DataFrame, col: str, factor: float = 1.5, relative_error: float = 0.01
) -> DataFrame:
    """V9/A10: rows outside [q1 - f*iqr, q3 + f*iqr].

    Unlike the reference's driver-side ``df.approxQuantile`` + Python
    arithmetic (21_EDA.ipynb:2309-2319), the quantiles are computed
    IN-PLAN with percentile_approx and broadcast-joined back — one job,
    no driver round-trip, valid at 100 TB.
    """
    bounds = df.agg(
        F.percentile_approx(col, 0.25, int(1 / relative_error)).alias("q1"),
        F.percentile_approx(col, 0.75, int(1 / relative_error)).alias("q3"),
    ).select(
        (F.col("q1") - factor * (F.col("q3") - F.col("q1"))).alias("lower"),
        (F.col("q3") + factor * (F.col("q3") - F.col("q1"))).alias("upper"),
    )
    return df.join(F.broadcast(bounds)).where(
        (F.col(col) < F.col("lower")) | (F.col(col) > F.col("upper"))
    )


def dq_summary(df: DataFrame, keys: Sequence[str], run_utc: str) -> DataFrame:
    """V10: one summary row per run (row counts, dup counts, null counts)
    suitable for append-only accumulation into a run-log table.
    Reference: notebooks/21_EDA.ipynb:33297-33367."""
    total = df.count()
    full_dups = total - df.dropDuplicates().count()
    key_dups = duplicate_keys(df, keys).count()
    null_counts = df.agg(
        *[F.sum(F.col(c).isNull().cast("int")).alias(c) for c in df.columns]
    ).collect()[0]
    spark = df.sparkSession
    return spark.createDataFrame(
        [
            {
                "run_utc": run_utc,
                "n_rows": total,
                "n_full_row_dups": full_dups,
                "n_key_dups": key_dups,
                "n_null_cells": int(sum(null_counts[c] or 0 for c in df.columns)),
            }
        ]
    )


def observed(df: DataFrame, name: str, *cols: Sequence[str]):
    """Attach in-flight DQ metrics via Spark's Observation API: row count
    + per-column null counts computed DURING the job that consumes the
    DataFrame — no second pass, unlike the reference's separate count()
    validations (20_analytics.ipynb:3146-3156). Returns (df, observation);
    read ``observation.get`` after an action completes."""
    from pyspark.sql import Observation

    obs = Observation(name)
    metrics = [F.count(F.lit(1)).alias("n_rows")] + [
        F.sum(F.col(c).isNull().cast("int")).alias(f"{c}_nulls") for c in cols
    ]
    return df.observe(obs, *metrics), obs


# --- hard assertions (reference validation cell, 20_analytics.ipynb:3103-3172) ---


def assert_non_empty(df: DataFrame, what: str) -> int:
    """V2/V3: parsed row count must be positive."""
    n = df.count()
    if n <= 0:
        raise ValidationError(f"{what}: expected >0 rows, got {n}")
    return n


def assert_no_nulls(df: DataFrame, cols: Sequence[str], what: str) -> None:
    """V4: zero rows may have NULL in any critical column."""
    pred = None
    for c in cols:
        p = F.col(c).isNull()
        pred = p if pred is None else (pred | p)
    bad = df.where(pred).count()
    if bad:
        raise ValidationError(f"{what}: {bad} rows with NULL critical fields {cols}")


def assert_unique_keys(df: DataFrame, keys: Sequence[str], what: str) -> None:
    """V6 as a hard gate."""
    n = duplicate_keys(df, keys).count()
    if n:
        raise ValidationError(f"{what}: {n} duplicate key groups on {keys}")


#: KLL sketch size for the exact-quantile pass 1 (DataSketches' largest
#: k). One sketch per partition and group is shuffled to the merge; a
#: sketch of 5.4M doubles serializes to ~1.5 MB.
_KLL_K = 65_535
#: DataSketches' normalized rank error at ``_KLL_K`` that holds with 99%
#: confidence for one rank query
#: (``KllDoublesSketch.getNormalizedRankError(false)``).
_KLL_RANK_ERROR = 4.7634e-5


def _kll_brackets(
    src: DataFrame, keys: Sequence[str], probs: Sequence[float], accuracy: int
) -> DataFrame:
    """Pass 1 of the two-pass exact quantiles: ONE aggregate of ``src``
    (``keys`` + non-null ``x``) giving ``keys``, ``n`` and the value
    brackets ``vlo``/``vhi`` around each prob's rank, read from one KLL
    sketch per group at rank margin ``2/accuracy``.

    The sketch rank error is probabilistic: at ``_KLL_K`` a single rank
    is within ``_KLL_RANK_ERROR`` with 99% confidence, and the default
    margin (2e-4) is 4.2x that. ``accuracy`` is refused above the point
    where the margin falls under 4x the error. A bracket that still
    misses raises in pass 2; it never yields a wrong value.

    NaN: Spark orders NaN above every number but the KLL sketch skips
    it, so a NaN-heavy column would shift every sketch rank. NaN is
    sketched as +Infinity instead, and a bracket that closes at
    +Infinity closes at NaN, so NaN rows stay inside it. ``CAST(x AS
    DOUBLE)`` is monotone, so bigint and decimal inputs classify
    consistently against the double brackets.
    """
    margin = 2.0 / accuracy
    if margin < 4 * _KLL_RANK_ERROR:
        raise ValueError(
            f"exact quantiles: accuracy={accuracy} gives a bracket margin of "
            f"{margin:.3g}, under 4x the KLL sketch's rank error "
            f"{_KLL_RANK_ERROR} at k={_KLL_K}; use accuracy <= "
            f"{int(2.0 / (4 * _KLL_RANK_ERROR))}"
        )
    lows = ", ".join(f"{max(p - margin, 0.0)!r}D" for p in probs)
    highs = ", ".join(f"{min(p + margin, 1.0)!r}D" for p in probs)
    xd = "CAST(x AS DOUBLE)"
    ks = [f"`{c}`" for c in keys]
    inf = "double('Infinity')"
    # an empty sketch must not be queried: n = 0 leaves both arrays NULL
    return (
        src.groupBy(*keys)
        .agg(
            F.expr("count(x) AS n"),
            F.expr(f"kll_sketch_agg_double(IF(isnan({xd}), {inf}, {xd}), {_KLL_K}) AS sk"),
        )
        .selectExpr(
            *ks,
            "n",
            f"CASE WHEN n > 0 THEN kll_sketch_get_quantile_double(sk, array({lows})) END AS vlo",
            f"CASE WHEN n > 0 THEN transform(kll_sketch_get_quantile_double(sk, array({highs})),"
            f" v -> IF(v = {inf}, double('NaN'), v)) END AS vhi",
        )
    )


def exact_quantiles_scalable(
    df: DataFrame,
    col: str,
    probs: Sequence[float],
    accuracy: int = 10_000,
) -> DataFrame:
    """EXACT interpolated quantiles (quantile_cont semantics) in two
    bounded passes — the 100 TB replacement for ``percentile()``'s
    single-pass counts map, whose per-partition OpenHashMap and
    single-reducer merge scale with DISTINCT-VALUE cardinality.

    Pass 1 (:func:`_kll_brackets`): one aggregate computes n plus
    approximate value brackets around each target rank, read from one
    KLL sketch at rank-fraction margin 2/accuracy. The guarantee is
    probabilistic: the sketch's single-rank error stays under 4.7634e-5
    with 99% confidence, and the default margin (2e-4) is 4.2x that, so
    a true order statistic falls outside its bracket only if the sketch
    errs by over 4x its 99% bound; on the 10x lineitem the worst
    measured rank error was 13x under the margin.
    Pass 2 (:func:`_quantiles_in_brackets`): ONE scan and ONE
    aggregate. In-bracket rows are counted per DISTINCT value
    (duplicate-heavy columns collapse to their distinct set, so no task
    ever materializes an O(bracket) array); every other row is counted
    into the gap between brackets it falls in. A cumulative count over
    that small table gives each value its global rank range, and the
    floor/ceil order statistics interpolate exactly like quantile_cont
    / Spark ``percentile``. An order statistic that lands inside a gap
    rather than on its edge means a bracket missed its rank by more
    than one: the query raises instead of returning a wrong value.

    Everything stays in-plan (the result is a 1-row DataFrame with one
    ``q_{i}`` column per prob, broadcastable as bounds); only plan
    literals, never data, cross the driver. Interpolation operands are
    exact order statistics, so results are bit-identical to the
    single-pass exact percentile (asserted in tests).
    """
    probs = list(probs)
    src = df.select(F.col(col).alias("x")).where(F.col("x").isNotNull())
    # tiny; materialized so pass 2's plan scans the source only once
    b = materialize(
        _kll_brackets(src, [], probs, accuracy), "quantile_brackets", "local"
    )
    return _quantiles_in_brackets(src, b, [], probs)


def grouped_exact_quantiles_scalable(
    df: DataFrame,
    group_col: str,
    col: str,
    probs: Sequence[float],
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group :func:`exact_quantiles_scalable`: one row per group
    with exact interpolated quantiles, without per-group counts maps.

    Same two-pass structure with the group key threaded through every
    stage: pass 1 is a grouped aggregate (n + brackets from one KLL
    sketch per group), pass 2 joins brackets back on the group key (a
    plain shuffle equi-join — works for unbounded group counts) and
    reads the data ONCE, walking each group's in-bracket distinct values
    and between-bracket gaps. Per-group state is O(distinct values
    inside the brackets + 2k+1), not O(group distinct cardinality) — the
    property ``percentile() GROUP BY`` lacks. A bracket that missed its
    rank by more than one raises. Returns (group_col, q_0..q_{k-1}),
    bit-identical to grouped ``percentile`` (tested).
    """
    probs = list(probs)
    g = group_col
    src = df.select(F.col(g), F.col(col).alias("x")).where(
        F.col("x").isNotNull()
    )
    # O(|groups|) brackets, computed once so the pass-2 join does not
    # re-scan the source; the caller controls the group count
    b = materialize(
        _kll_brackets(src, [g], probs, accuracy),
        "grouped_quantile_brackets", "reliable",
    )
    return _quantiles_in_brackets(src, b, [g], probs)


def _quantiles_in_brackets(
    src: DataFrame, b: DataFrame, keys: Sequence[str], probs: Sequence[float]
) -> DataFrame:
    """Pass 2 of the two-pass exact quantiles: ONE scan of ``src``
    (``keys`` + non-null double ``x``) against the pass-1 brackets ``b``
    (``keys``, ``n``, arrays ``vlo``/``vhi``; ungrouped when ``keys`` is
    empty). Returns ``keys`` + ``q_0..q_{k-1}``.

    One aggregate keys a row inside any bracket by its value and a row
    outside every bracket by the gap it falls in (the count of brackets
    opened below it: brackets are closed, so a gap row never equals a
    boundary and distinct gaps are separated by a whole bracket). Each
    key keeps count/min/max, and ordering the O(in-bracket distinct +
    2k+1)-row result by ``min`` is value order, so one cumulative count
    gives every row its global rank range [s, e]. The order statistic
    at rank r is the covering value, or the min/max of a gap row whose
    edge is r (the bracket missed by one rank: tiny n, extreme p). A
    rank strictly inside a gap raises instead of returning a neighbour.
    Every per-probability expression is SQL text, so plan construction
    costs a constant number of py4j round-trips, not one per Column.
    """
    ks = [f"`{c}`" for c in keys]
    cand = src.join(b, list(keys)) if keys else src.join(F.broadcast(b))
    los = [f"vlo[{i}]" for i in range(len(probs))]
    his = [f"vhi[{i}]" for i in range(len(probs))]
    # brackets open at x: lows at or below x minus highs below it
    opened = " + ".join(f"CAST(x >= {v} AS INT)" for v in los)
    closed = " + ".join(f"CAST(x > {v} AS INT)" for v in his)
    slots = (
        cand.selectExpr(*ks, "n", "x", f"{opened} AS a", f"{closed} AS z")
        .selectExpr(*ks, "n", "x", "a", "IF(a > z, x, NULL) AS xv")
        .groupBy(*keys, "n", "a", "xv")
        .agg(F.expr("count(1) AS cnt"), F.expr("min(x) AS mn"), F.expr("max(x) AS mx"))
    )
    part = f"PARTITION BY {', '.join(ks)} " if ks else ""
    cum = f"sum(cnt) OVER ({part}ORDER BY mn ROWS UNBOUNDED PRECEDING)"
    ranked = slots.selectExpr(
        *ks, "n", "xv", "mn", "mx", f"{cum} - cnt AS s", f"{cum} - 1 AS e"
    )

    ps = list(enumerate(probs))

    def h(p: float) -> str:
        return f"(CAST(n - 1 AS DOUBLE) * {float(p)!r}D)"

    def at_rank(r: str, p: float) -> str:
        miss = (
            "exact_quantiles_scalable: sketch bracket missed rank for "
            f"q={p} by more than one rank; raise accuracy"
        )
        return (
            f"max(CASE WHEN s <= {r} AND {r} <= e THEN CASE"
            f" WHEN xv IS NOT NULL OR {r} = s THEN mn WHEN {r} = e THEN mx"
            f" ELSE CAST(raise_error('{miss}') AS DOUBLE) END END)"
        )

    folded = ranked.groupBy(*keys).agg(
        F.expr("max(n) AS n"),
        *[F.expr(f"{at_rank(f'FLOOR({h(p)})', p)} AS xf_{i}") for i, p in ps],
        *[F.expr(f"{at_rank(f'CEIL({h(p)})', p)} AS xc_{i}") for i, p in ps],
    )
    # Spark's percentile aggregates a counts map of DISTINCT values and
    # RETURNS THE KEY EXACTLY when both bracketing ranks fall on the same
    # distinct value; only across two distinct values does it
    # interpolate, with the two-sided weighted form
    # (ceil-pos)*lo + (pos-floor)*hi. Reproduce BOTH branches
    # operand-for-operand: the two-sided form alone drifts an ulp when
    # lo == hi (hypothesis counterexample [0 x6, -25, -25] @ p=0.05 ->
    # -24.999999999999996), and the one-sided form lo + frac*(hi-lo)
    # drifts the other way when lo != hi (counterexample [1, -1] @
    # p=0.05).
    out = []
    for i, p in ps:
        lo = f"CAST(FLOOR({h(p)}) AS DOUBLE)"
        xf, xc = f"xf_{i}", f"xc_{i}"
        out.append(
            f"CASE WHEN {h(p)} - {lo} = 0.0D THEN {xf} WHEN {xf} = {xc} THEN {xf}"
            f" ELSE ({lo} + 1.0D - {h(p)}) * {xf} + ({h(p)} - {lo}) * {xc} END AS q_{i}"
        )
    return folded.selectExpr(*ks, *out)


def winsorize(
    df: DataFrame, col: str, lo_p: float = 0.01, hi_p: float = 0.99
) -> DataFrame:
    """Winsorization: clamp a column to its [lo_p, hi_p] quantiles —
    outlier MITIGATION where iqr_outliers does outlier DETECTION.
    Quantiles are computed in-plan and broadcast back (no driver
    round-trip); the clamp itself is a codegen'd least/greatest
    projection. Adds ``{col}_wins`` plus a ``was_clamped`` flag so
    downstream can count affected rows without re-deriving bounds."""
    # one percentile aggregate with an array of probs: a single counts
    # map serves both quantiles (two separate aggregates would each
    # build and merge their own full map — measured 2× slower).
    bounds = df.agg(
        F.expr(f"percentile({col}, array({lo_p}, {hi_p}))").alias("__b")
    ).select(
        F.col("__b").getItem(0).alias("__lo"), F.col("__b").getItem(1).alias("__hi")
    )
    return (
        df.join(F.broadcast(bounds))
        .withColumn(
            f"{col}_wins",
            F.least(F.greatest(F.col(col), F.col("__lo")), F.col("__hi")),
        )
        .withColumn("was_clamped", F.col(col) != F.col(f"{col}_wins"))
        .drop("__lo", "__hi")
    )


def entropy_from_long(long_df: DataFrame) -> DataFrame:
    """Shannon entropy + distinct count for MANY columns in one
    pipeline, from an unpivoted (col_name, v) frame: one groupBy on
    (col_name, v), per-column totals via a window over the tiny counts
    table (partitioned by col_name, which the final per-column fold
    then reuses — no extra exchange), and the same -Σ(c/t)·ln(c/t)
    arithmetic as :func:`column_entropy` so oracles are unchanged.
    Profiling N columns this way is 2-3 exchanges total instead of ~4N
    (one counts+total+cross-join pipeline per column)."""
    from pyspark.sql import Window

    counts = long_df.groupBy("col_name", "v").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    t = F.sum("c").over(Window.partitionBy("col_name"))
    witht = counts.select("col_name", "c", t.alias("t"))
    p = F.col("c") / F.col("t")
    return witht.groupBy("col_name").agg(
        F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("c").cast("long").alias("n_rows"),
    )


def column_entropy(df: DataFrame, col: str) -> DataFrame:
    """Shannon entropy + distinct ratio of a (categorical) column — the
    profiling pair that catches both constant columns (H≈0) and
    key-like columns (distinct ratio≈1). One groupBy on the column then
    a 1-row fold; ln() is rounded at the end only (single aggregate, no
    cross-engine rank sensitivity)."""
    counts = df.groupBy(F.col(col).alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    total = counts.agg(F.sum("c").alias("t"))
    p = F.col("c") / F.col("t")
    return (
        counts.join(F.broadcast(total))
        .agg(
            F.lit(col).alias("col_name"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("c").alias("n_rows"),
        )
    )


def fk_integrity(
    child: DataFrame,
    parent: DataFrame,
    child_key: str,
    parent_key: str,
    relationship: str,
) -> DataFrame:
    """Referential-integrity audit for one FK relationship: how many
    child rows reference a parent key that does not exist (orphans),
    and how many parent keys have no children (childless) — the
    reconciliation every warehouse load runs after ingesting related
    tables independently.

    Scale shape: two left-anti joins on the key. The parent side of
    the orphan check is key-distinct (dimension-sized → broadcast for
    catalog tables); the childless check aggregates the child side to
    distinct keys FIRST so the anti-join compares key sets, never fact
    rows. Output: one row (relationship, n_child, n_orphans,
    n_parents, n_childless).
    """
    ck = child.select(F.col(child_key).alias("k"))
    pk = parent.select(F.col(parent_key).alias("k")).distinct()
    orphans = ck.join(pk, "k", "left_anti")
    childless = pk.join(ck.distinct(), "k", "left_anti")
    counts = ck.agg(F.count(F.lit(1)).cast("bigint").alias("n_child"))
    return (
        counts.join(F.broadcast(orphans.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orphans"))))
        .join(F.broadcast(pk.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parents"))))
        .join(F.broadcast(childless.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_childless"))))
        .select(
            F.lit(relationship).alias("relationship"),
            "n_child",
            "n_orphans",
            "n_parents",
            "n_childless",
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str,
    compare_cols: list[str],
) -> DataFrame:
    """Snapshot reconciliation: classify every key as added / removed /
    changed / unchanged between two table versions — the audit behind
    CDC validation, backfill verification, and mirror-sync drift
    checks (the reference's hash-skip mirror is the file-level cousin).

    Rows compare by md5 over the concatenated compare columns (null-
    tagged so NULL != ''), so the join carries (key, 32-byte digest)
    regardless of row width — the same never-shuffle-the-payload
    discipline as exact dedup. One full-outer join on the key.

    Output: (change_type, n_rows), one row per change class present.
    """
    def digest(df: DataFrame) -> DataFrame:
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
            for c in compare_cols
        ]
        return df.select(
            F.col(key_col).alias("k"),
            F.md5(F.concat_ws("\x1f", *parts)).alias("d"),
        )

    o = digest(old).alias("o")
    n = digest(new).alias("n")
    joined = o.join(n, F.col("o.k") == F.col("n.k"), "full_outer")
    change = (
        F.when(F.col("o.k").isNull(), "added")
        .when(F.col("n.k").isNull(), "removed")
        .when(F.col("o.d") != F.col("n.d"), "changed")
        .otherwise("unchanged")
    )
    return (
        joined.select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


def kaplan_meier(
    per_subject: DataFrame,
    duration_col: str,
    event_col: str,
    *,
    duration_bucket: int | None = None,
    max_distinct_durations: int | None = 100_000,
) -> DataFrame:
    """Kaplan-Meier survival estimator over per-subject rows.

    ``per_subject`` carries one row per subject with an integer
    ``duration_col`` (time observed) and ``event_col`` = 1 if the
    terminal event was observed at that time, 0 if right-censored.
    Returns one row per distinct duration: ``duration``, ``d``
    (events), ``c`` (censored), ``n_risk`` (at risk just before t),
    and ``survival`` = prod_{t_i<=t}(1 - d_i/n_i) rounded 6dp.

    Scale shape: the input is already aggregated per subject (the
    caller's one fact shuffle); this operator only groups it by
    duration, so every window here runs over the distinct-duration
    domain. That domain is bounded by TIME RESOLUTION, not corpus
    size (days → a few thousand rows) — and round-5 makes the bound
    ENFORCED, not assumed: ``max_distinct_durations`` (default 100k,
    one cheap parallel count over the already-aggregated relation,
    which the windows then reuse via the checkpoint) raises with a
    remediation message when a caller passes e.g. sub-second
    durations whose distinct domain would drag millions of rows
    through the single-partition cumulative windows. The remediation
    is ``duration_bucket``: floor durations to that width (86_400 for
    seconds→days) before grouping — standard KM discretization, at
    the cost of time resolution. Pass ``max_distinct_durations=None``
    to skip the guard (and its eager count) when the domain is known
    bounded. Cross-engine determinism: d/n is an exact integer-ratio
    division, ln rounds 8dp before the ordered cumulative sum (the
    BM25-idf convention), and the 1 - d/n factor clamps at 1e-12
    because an all-event final group hits ln(0), which DuckDB
    evaluates to -inf but Spark to NULL.
    """
    from pyspark.sql import Window

    dur = F.col(duration_col)
    if duration_bucket is not None:
        if duration_bucket <= 0:
            raise ValueError("duration_bucket must be positive")
        dur = F.floor(dur / F.lit(duration_bucket)) * F.lit(duration_bucket)
    t = per_subject.groupBy(dur.alias("duration")).agg(
        F.sum(F.col(event_col)).cast("bigint").alias("d"),
        F.sum(F.lit(1) - F.col(event_col)).cast("bigint").alias("c"),
    )
    if max_distinct_durations is not None:
        # materialize the distinct-duration relation once: the guard
        # count and both cumulative windows below read the same blocks
        t = materialize(t, "km_durations", "local", eager=False)
        n_distinct = t.count()
        if n_distinct > max_distinct_durations:
            raise ValueError(
                f"kaplan_meier: {n_distinct} distinct durations exceed "
                f"max_distinct_durations={max_distinct_durations}; the "
                "cumulative-survival windows run single-partition over "
                "this domain. Pass duration_bucket (e.g. 86_400 to "
                "floor seconds to days) to discretize, or raise/disable "
                "the guard if the domain is known bounded."
            )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wprev = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wcum = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0
    )
    k = t.select(
        "duration",
        "d",
        "c",
        (
            F.sum(F.col("d") + F.col("c")).over(wall)
            - F.coalesce(F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    lnfac = F.round(
        F.log(
            F.greatest(
                F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk"),
                F.lit(1e-12),
            )
        ),
        8,
    )
    return k.select(
        "duration",
        "d",
        "c",
        "n_risk",
        F.round(F.exp(F.sum(lnfac).over(wcum)), 6).alias("survival"),
    )
