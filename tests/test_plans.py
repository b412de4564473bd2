"""Physical-plan shape gates: the properties that decide whether a query
survives a 100× scale-up. These assert on .explain('formatted') so a
regression in plan shape fails CI, not a production cluster."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rearc_data_engineer_takehome_spark.plans import explain
from rearc_data_engineer_takehome_spark.queries import REGISTRY


@pytest.fixture(scope="module")
def lineitem(spark, sf_smoke):
    return spark.read.parquet(f"{sf_smoke}/lineitem.parquet")


def test_dim_joins_are_broadcast_not_shuffle(spark, sf_smoke):
    """Fact×dim joins must broadcast the dim — a fact shuffle for a
    200-row lookup is the canonical 100 TB failure."""
    df = REGISTRY["lineitem_part_report"].spark(spark, sf_smoke)
    assert explain.has_broadcast_join(df)
    assert not explain.has_shuffle_join(df)

    df = REGISTRY["revenue_by_region"].spark(spark, sf_smoke)
    assert explain.has_broadcast_join(df)
    assert not explain.has_shuffle_join(df)


def test_filter_pushdown_reaches_scan(spark, sf_smoke, lineitem):
    df = lineitem.where(F.col("l_returnflag") == "R").select("l_orderkey")
    pf = explain.pushed_filters(df)
    assert "l_returnflag" in pf, f"filter not pushed: {pf!r}"


def test_column_pruning_reaches_scan(spark, lineitem):
    df = lineitem.select("l_orderkey", "l_quantity")
    rs = explain.read_schema(df)
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs, f"scan reads unneeded columns: {rs!r}"


def test_topk_compiles_to_take_ordered(spark, sf_smoke):
    df = REGISTRY["top_customers_by_revenue"].spark(spark, sf_smoke)
    assert explain.has_take_ordered(df), "orderBy().limit(k) should be a heap top-k"


def test_pricing_summary_single_shuffle(spark, sf_smoke):
    """Scan → partial agg → ONE exchange → final agg. More exchanges
    means the partial aggregation was lost."""
    df = REGISTRY["pricing_summary"].spark(spark, sf_smoke)
    assert explain.count_exchanges(df) == 1
    assert explain.uses_whole_stage_codegen(df)


def test_top1_per_group_is_argmax_aggregate_not_window(spark, sf_smoke):
    """Top-1-per-group compiles to two aggregates (sum, then argmax via
    max-of-struct) — no Window node, exactly two exchanges, and the
    argmax partial-combines map-side (partial_max before its exchange).
    Struct max lowers to SortAggregate (structs aren't hash-aggregable)
    but that sort is on the group key over already-combined rows — not
    the full per-group ordering a ranking window would do."""
    df = REGISTRY["best_part_by_supplier"].spark(spark, sf_smoke)
    plan = explain.formatted_plan(df)
    assert "Window" not in plan
    assert explain.count_exchanges(df) == 2
    assert "partial_max" in plan


def test_bls_parse_filter_stays_near_scan(spark, tmp_path):
    """The blank-line + null filters of the BLS parser must sit directly
    on the scan (single stage, no shuffle)."""
    from rearc_data_engineer_takehome_spark.operators import parse

    p = tmp_path / "pr.txt"
    p.write_text("S1 2000 Q01 1.0\n")
    df = parse.read_and_parse_bls(spark, str(p))
    assert explain.count_exchanges(df) == 0
    assert explain.uses_whole_stage_codegen(df)


def test_disjunctive_predicate_splits_to_both_scans(spark, sf_smoke):
    """Q19 shape: the OR-of-conjunctions must not stay a post-join-only
    filter — Catalyst derives single-side implications (quantity, size,
    brand ranges) and pushes them into BOTH parquet scans, and the dim
    side still broadcasts."""
    df = REGISTRY["brand_disjunctive_revenue"].spark(spark, sf_smoke)
    pushed = explain.pushed_filters(df)
    assert "l_quantity" in pushed and "p_size" in pushed and "p_brand" in pushed
    assert explain.has_broadcast_join(df) and not explain.has_shuffle_join(df)


def test_promo_share_date_filter_pushed(spark, sf_smoke):
    df = REGISTRY["promo_revenue_share"].spark(spark, sf_smoke)
    assert "l_shipdate" in explain.pushed_filters(df)
    assert explain.has_broadcast_join(df)


def test_join_strategy_hints_are_honored(spark, sf_smoke):
    """Per-join strategy control: hints must survive to the physical
    plan — the escape hatch when stats mislead the optimizer at scale."""
    li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_smoke}/orders.parquet")
    plan_of = lambda df: explain.formatted_plan(df)

    merged = li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
    assert "SortMergeJoin" in plan_of(merged)

    shuffled = li.join(
        orders.hint("shuffle_hash"), li.l_orderkey == orders.o_orderkey
    )
    p = plan_of(shuffled)
    assert "ShuffledHashJoin" in p and "SortMergeJoin" not in p

    bcast = li.join(orders.hint("broadcast"), li.l_orderkey == orders.o_orderkey)
    assert explain.has_broadcast_join(bcast)


def test_parquet_aggregate_pushdown_metadata_only(spark, sf_smoke):
    """COUNT/MIN/MAX can be answered from parquet footer metadata alone
    (PushedAggregation) — at 100 TB that is the difference between a
    full scan and reading only file footers. Needs the v2 source."""
    saved = spark.conf.get("spark.sql.sources.useV1SourceList", None)
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{sf_smoke}/orders.parquet")
        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
        plan = explain.formatted_plan(agg)
        assert "PushedAggregation" in plan and "COUNT(*)" in plan
        row = agg.first()
        # metadata answer must equal the scan answer
        assert (row.n, row.lo) == (df.count(), 0)
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
        if saved is None:
            spark.conf.unset("spark.sql.sources.useV1SourceList")
        else:
            spark.conf.set("spark.sql.sources.useV1SourceList", saved)


def test_two_pass_quantiles_scan_the_source_once(spark, sf_smoke, lineitem):
    """Pass 2 of the two-pass exact quantiles reads the data ONCE: after
    the eager pass 1, each operator's returned plan holds exactly one
    FileScan of the source (pass 1's brackets are a checkpoint, not a
    rescan). A second branch that re-reads the source fails here."""
    import re

    from rearc_data_engineer_takehome_spark.operators.quality import (
        exact_quantiles_scalable,
        grouped_exact_quantiles_scalable,
    )

    probs = [0.1, 0.5, 0.9]
    for df in (
        exact_quantiles_scalable(lineitem, "l_extendedprice", probs),
        grouped_exact_quantiles_scalable(
            lineitem, "l_returnflag", "l_extendedprice", probs
        ),
    ):
        locations = re.findall(r"Location: \w+ \[([^\]]*)\]", explain.formatted_plan(df))
        assert [p for p in locations if p.endswith("/lineitem.parquet")] == [
            f"file:{sf_smoke}/lineitem.parquet"
        ], locations


def test_exact_quantiles_take_the_two_pass_plan_at_any_size(spark, sf_smoke, lineitem):
    """One exact-quantile path: with default arguments on a tiny input,
    both operators still return the two-pass plan. Its logical plan
    holds no exact ``percentile(`` aggregate (a ``percentile_approx``
    sketch would be allowed), and its physical plan reads the source
    once."""
    import re

    from rearc_data_engineer_takehome_spark.operators.quality import (
        exact_quantiles_scalable,
        grouped_exact_quantiles_scalable,
    )

    for df in (
        exact_quantiles_scalable(lineitem, "l_extendedprice", [0.25, 0.75]),
        grouped_exact_quantiles_scalable(
            lineitem, "l_returnflag", "l_extendedprice", [0.25, 0.75]
        ),
    ):
        logical = df._jdf.queryExecution().logical().toString()
        assert "percentile(" not in logical, logical
        locations = re.findall(r"Location: \w+ \[([^\]]*)\]", explain.formatted_plan(df))
        assert [p for p in locations if p.endswith("/lineitem.parquet")] == [
            f"file:{sf_smoke}/lineitem.parquet"
        ], locations


def test_no_registered_query_plans_a_cartesian_product(spark, sf_smoke):
    """Registry-wide hygiene sweep: no query may compile to
    CartesianProduct. Intentional 1-row bound joins (stats bounds,
    scalar totals) must be BroadcastNestedLoopJoin — constant-size —
    never a partition-pair cartesian."""
    offenders = []
    for name, q in REGISTRY.items():
        try:
            plan = explain.formatted_plan(q.spark(spark, sf_smoke))
        except Exception as e:  # pragma: no cover - surface which query broke
            offenders.append((name, f"plan build failed: {e}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


def test_runtime_bloom_filter_injection(spark, sf_smoke):
    """Spark's automatic runtime Bloom filter (InjectRuntimeFilter) must
    fire on a selective-build-side shuffle join once broadcast is off —
    the planner-level twin of the explicit operators/sketch.py
    pre-filter. At 100 TB this is what keeps the fact side's shuffle
    proportional to the MATCHING rows."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        o = (
            spark.read.parquet(f"{sf_smoke}/orders.parquet")
            .where(F.col("o_orderpriority") == "1-URGENT")
        )
        li = spark.read.parquet(f"{sf_smoke}/lineitem.parquet")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = explain.formatted_plan(j)
        assert "bloom_filter_agg" in plan, "runtime bloom filter not injected"
        assert "might_contain" in plan, "fact side not pre-filtered"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_result_cache_hit_invalidation_and_canonicalization(spark, tmp_path):
    """plans.result_cache: (1) a repeat of the same query serves from
    the cache (the hit's scan reads cache files, one cache entry),
    (2) two separately-built but semantically identical plans share a
    fingerprint (canonicalization normalizes expression ids), (3) a
    rewrite of an input file invalidates (second entry, same values),
    (4) a different query gets a different fingerprint."""
    import os
    import time

    from rearc_data_engineer_takehome_spark.plans.result_cache import (
        cached_result,
        plan_fingerprint,
    )

    src = str(tmp_path / "src")
    cache = str(tmp_path / "cache")
    os.makedirs(cache)
    spark.range(0, 1000).withColumn("v", F.col("id") * 3).write.parquet(src)

    def q():
        return (
            spark.read.parquet(src)
            .groupBy((F.col("id") % 7).alias("g"))
            .agg(F.sum("v").alias("s"))
        )

    r1 = sorted(tuple(r) for r in cached_result(spark, q(), cache).collect())
    assert len(os.listdir(cache)) == 1
    hit = cached_result(spark, q(), cache)
    assert sorted(tuple(r) for r in hit.collect()) == r1
    assert len(os.listdir(cache)) == 1
    assert all(cache in f for f in hit.inputFiles())
    assert plan_fingerprint(q()) == plan_fingerprint(q())

    time.sleep(0.01)  # ensure mtime moves even on coarse filesystems
    spark.range(0, 1000).withColumn("v", F.col("id") * 3).write.mode(
        "overwrite"
    ).parquet(src)
    out3 = cached_result(spark, q(), cache)
    assert len(os.listdir(cache)) == 2  # invalidated, not falsely shared
    assert sorted(tuple(r) for r in out3.collect()) == r1

    other = (
        spark.read.parquet(src)
        .groupBy((F.col("id") % 5).alias("g"))
        .agg(F.sum("v").alias("s"))
    )
    assert plan_fingerprint(other) != plan_fingerprint(q())


def test_result_cache_wide_plans_and_encoded_paths(spark, tmp_path):
    """Regression for two confirmed fingerprint collapses: (1) plans
    differing only past the 25th aggregate must NOT share a
    fingerprint (toString() elides wide expression lists; the
    fingerprint renders toJSON), and (2) inputs under a path with a
    space must still contribute (size, mtime) state — inputFiles()
    percent-encodes URIs, and an un-decoded stat fell back to
    identity-only, missing in-place rewrites."""
    import os
    import time

    from rearc_data_engineer_takehome_spark.plans.result_cache import (
        plan_fingerprint,
    )

    wide = str(tmp_path / "wide")
    spark.range(100).select(
        "id", *[(F.col("id") * i).alias(f"c{i}") for i in range(30)]
    ).write.parquet(wide)
    base = spark.read.parquet(wide)
    sums = [F.sum(f"c{i}").alias(f"s{i}") for i in range(27)]
    q_min = base.groupBy().agg(*sums, F.min("c0").alias("x"))
    q_max = base.groupBy().agg(*sums, F.max("c0").alias("x"))
    assert plan_fingerprint(q_min) != plan_fingerprint(q_max)

    spc = str(tmp_path / "with space")
    spark.range(10).write.parquet(spc)
    fp1 = plan_fingerprint(spark.read.parquet(spc))
    time.sleep(0.01)
    spark.range(10).write.mode("overwrite").parquet(spc)
    assert plan_fingerprint(spark.read.parquet(spc)) != fp1
    assert os.path.isdir(spc)  # the space really is in the path


def test_result_cache_registry_query_hit_is_a_cache_scan(spark, sf_smoke):
    """VERDICT r04 item 6: the fingerprint stability contract on a REAL
    registry query, not a synthetic one. revenue_by_region_cached's
    second call must resolve to a plain parquet scan of the cache
    directory — no Aggregate, no Join, no scan of the source tables —
    with values identical to the uncached twin."""
    import os
    import shutil
    import tempfile

    from rearc_data_engineer_takehome_spark.queries import REGISTRY

    cache_dir = os.path.join(
        tempfile.gettempdir(), f"spark_graft_result_cache_{os.getuid()}"
    )
    shutil.rmtree(cache_dir, ignore_errors=True)  # force a cold start
    os.makedirs(cache_dir)

    cold = REGISTRY["revenue_by_region_cached"].spark(spark, sf_smoke)
    want = sorted(tuple(r) for r in cold.collect())
    assert len(os.listdir(cache_dir)) == 1

    warm = REGISTRY["revenue_by_region_cached"].spark(spark, sf_smoke)
    assert len(os.listdir(cache_dir)) == 1  # same fingerprint: no rebuild
    logical = warm._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in logical and "Join" not in logical
    physical = warm._jdf.queryExecution().executedPlan().toString()
    assert cache_dir in physical  # FileScan location IS the cache entry
    assert "HashAggregate" not in physical
    assert all(cache_dir in f for f in warm.inputFiles())
    assert sorted(tuple(r) for r in warm.collect()) == want

    uncached = REGISTRY["revenue_by_region"].spark(spark, sf_smoke)
    assert sorted(tuple(r) for r in uncached.collect()) == want


def _jobs_started_by(spark, fn):
    """(result of ``fn()``, number of Spark jobs it started). Jobs are
    counted by job group; a sentinel job in a second group, once the
    status tracker shows it, proves the listener bus has caught up."""
    import time
    import uuid

    sc = spark.sparkContext
    group = f"counted_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted")
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"{group}_sentinel", "sentinel")
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 60
    while not sc.statusTracker().getJobIdsForGroup(f"{group}_sentinel"):
        assert time.monotonic() < deadline, "status tracker never saw the sentinel"
        time.sleep(0.05)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_table_read_starts_no_spark_job(spark, tmp_path):
    """Parquet schema inference is a Spark job; the table reader
    memoizes the schema, so a second read of an unchanged table starts
    none, and cold and warm reads build the same plan."""
    from rearc_data_engineer_takehome_spark.queries import _t

    spark.range(50).selectExpr("id", "id * 2 AS v").write.parquet(
        str(tmp_path / "tbl.parquet")
    )
    cold, n_cold = _jobs_started_by(spark, lambda: _t(spark, str(tmp_path), "tbl"))
    warm, n_warm = _jobs_started_by(spark, lambda: _t(spark, str(tmp_path), "tbl"))
    assert (n_cold, n_warm) == (1, 0)

    def canon(df):
        return df._jdf.queryExecution().optimizedPlan().canonicalized().toJSON()

    assert canon(cold) == canon(warm)
    assert warm.schema == spark.read.parquet(str(tmp_path / "tbl.parquet")).schema
    assert sorted(tuple(r) for r in warm.collect()) == [(i, 2 * i) for i in range(50)]


def test_table_rewrite_with_added_column_is_seen_by_next_read(spark, tmp_path):
    """A rewrite at the same path changes the file state the memoized
    schema is keyed by: the next read infers again and sees the new
    column."""
    import time

    from rearc_data_engineer_takehome_spark.queries import _t

    path = str(tmp_path / "tbl.parquet")
    spark.range(5).write.parquet(path)
    assert _t(spark, str(tmp_path), "tbl").columns == ["id"]
    time.sleep(0.01)  # ensure mtime moves even on coarse filesystems
    spark.range(5).selectExpr("id", "id + 1 AS extra").write.mode(
        "overwrite"
    ).parquet(path)
    again = _t(spark, str(tmp_path), "tbl")
    assert again.columns == ["id", "extra"]
    assert sorted(tuple(r) for r in again.collect()) == [(i, i + 1) for i in range(5)]


def test_result_cache_warm_hit_builds_with_no_spark_job(spark, tmp_path):
    """Serving a cached result is a fingerprint plus a parquet read of
    the materialization; once that entry's schema is known, a hit
    builds its DataFrame without starting a Spark job."""
    import os

    from rearc_data_engineer_takehome_spark.plans.result_cache import cached_result
    from rearc_data_engineer_takehome_spark.sources.readers import read_parquet

    src = str(tmp_path / "src")
    cache = str(tmp_path / "cache")
    os.makedirs(cache)
    spark.range(0, 100).withColumn("v", F.col("id") * 3).write.parquet(src)
    q = read_parquet(spark, src).groupBy((F.col("id") % 7).alias("g")).agg(
        F.sum("v").alias("s")
    )
    want = sorted(tuple(r) for r in cached_result(spark, q, cache).collect())
    cached_result(spark, q, cache)  # first hit: reads the entry's schema
    hit, n_jobs = _jobs_started_by(spark, lambda: cached_result(spark, q, cache))
    assert n_jobs == 0
    assert all(cache in f for f in hit.inputFiles())
    assert sorted(tuple(r) for r in hit.collect()) == want


def test_result_cache_prune_evicts_lru_and_keeps_hits(spark, tmp_path):
    """prune_cache deletes least-recently-used entries until the size
    bound holds, never touches ._building temp dirs, and a surviving
    entry still serves hits."""
    import os
    import time

    from rearc_data_engineer_takehome_spark.plans.result_cache import (
        cached_result,
        prune_cache,
    )

    src = str(tmp_path / "src")
    cache = str(tmp_path / "cache")
    os.makedirs(cache)
    spark.range(0, 200).withColumn("v", F.col("id") * 2).write.parquet(src)

    def q(mod):
        return (
            spark.read.parquet(src)
            .groupBy((F.col("id") % mod).alias("g"))
            .agg(F.sum("v").alias("s"))
        )

    fps = []
    for mod in (3, 5, 7):
        cached_result(spark, q(mod), cache)
        fps.append(
            next(
                n for n in os.listdir(cache)
                if n not in fps and "._building." not in n
            )
        )
        time.sleep(0.02)  # distinct mtimes -> deterministic LRU order
        # touch the first entry so it is the most recently used
        os.utime(os.path.join(cache, fps[0]))
    os.makedirs(os.path.join(cache, "x._building.deadbeef"))
    # a crash-orphaned temp dir (old mtime) must be swept; a fresh one
    # belongs to a live writer and must survive
    orphan = os.path.join(cache, "y._building.orphaned0")
    os.makedirs(orphan)
    os.utime(orphan, (time.time() - 7 * 3600, time.time() - 7 * 3600))

    sizes = {
        n: sum(
            os.path.getsize(os.path.join(cache, n, f))
            for f in os.listdir(os.path.join(cache, n))
        )
        for n in fps
    }
    # bound that forces exactly one eviction; entry 2 (mod=5) is LRU
    bound = sum(sizes.values()) - 1
    evicted = prune_cache(cache, bound)
    assert evicted and fps[1] in evicted
    assert fps[0] not in evicted  # recently touched survives
    assert os.path.isdir(os.path.join(cache, "x._building.deadbeef"))
    assert "y._building.orphaned0" in evicted
    assert not os.path.exists(orphan)
    # surviving entry still hits: same values, no new cache entry
    want = sorted(tuple(r) for r in q(3).collect())
    got = sorted(tuple(r) for r in cached_result(spark, q(3), cache).collect())
    assert got == want


def test_result_cache_keep_set_pins_served_entry(spark, tmp_path):
    """ADVICE r05: a prune with a keep-set must never evict the pinned
    fingerprint even when it is the LRU entry and the bound demands it —
    the in-flight reader's files stay on disk; everything else shrinks
    around it. And cached_result(max_bytes=...) prunes BEFORE serving,
    so its own returned lazy scan collects fine afterwards."""
    import os
    import time

    from rearc_data_engineer_takehome_spark.plans.result_cache import (
        cached_result,
        prune_cache,
    )

    src = str(tmp_path / "src")
    cache = str(tmp_path / "cache")
    spark.range(0, 200).withColumn("v", F.col("id") * 2).write.parquet(src)

    def q(mod):
        return (
            spark.read.parquet(src)
            .groupBy((F.col("id") % mod).alias("g"))
            .agg(F.sum("v").alias("s"))
        )

    # max_bytes on the FIRST call must tolerate the not-yet-existing dir
    df0 = cached_result(spark, q(3), cache, max_bytes=1)
    fp0 = next(n for n in os.listdir(cache) if "._building." not in n)
    assert df0.count() > 0  # served scan survives its own prune
    time.sleep(0.02)
    cached_result(spark, q(5), cache)
    # bound of 0 demands total eviction; the keep-set overrides for fp0
    evicted = prune_cache(cache, 0, keep={fp0})
    assert fp0 not in evicted
    assert os.path.isdir(os.path.join(cache, fp0))
    assert len(evicted) == 1  # the unpinned entry went
    # the pinned entry's lazy reader still collects
    assert sorted(tuple(r) for r in df0.collect()) == sorted(
        tuple(r) for r in q(3).collect()
    )
