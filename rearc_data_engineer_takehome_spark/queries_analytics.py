"""Advanced-analytics parity queries: cohort retention, sequence
transitions, regression aggregates, multidimensional cubes, skew
profiling, a contingency-table independence statistic, and the
remaining classic TPC-H decision-support shapes (Q2/Q3/Q4/Q7/Q8/Q10/
Q13/Q15/Q16/Q18/Q20/Q21/Q22) adapted to this star schema — with the
rest of the battery (Q1/Q5/Q6/Q11/Q12/Q14/Q17/Q19 shapes) in
queries.py, every classic shape the schema can express is covered.

Plus sequence islands (streaks), robust stats (MAD), equi-width
histograms, month-over-month growth, tie-inclusive top-N, join-derived
latency distributions, an INTERSECT/EXCEPT battery, string/temporal
rollups (listagg, calendar parts, TWAP), windowed distinct users (WAU
exact + HLL twin), growth accounting, deterministic mode and per-group
reservoirs, Spark 4 surfaces (VARIANT, GROUPING SETS, LATERAL), market
basket lift, and the two-pass scalable exact quantiles (global and
grouped).

All carry full DuckDB oracles. Float aggregates follow the
repo-wide contract: round identically on both sides, rank only on
rounded values, integer-valued double sums (quantities, counts) are
exact in any order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .functions.quantiles import spark_percentile_sql
from .functions.timeops import epoch_micros, epoch_seconds
from .operators.relational import materialize
from .queries import REGISTRY, _t, query
from .queries_llm import _events


# ---------------------------------------------------------------------------
# Behavioral analytics on the events stream
# ---------------------------------------------------------------------------


@query(
    "events_cohort_retention",
    """
    WITH wk AS (
        SELECT user_id, floor(epoch(ts) / 604800)::BIGINT AS wk
        FROM events
    ), first AS (
        SELECT user_id, min(wk) AS cohort_week FROM wk GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT w.user_id, f.cohort_week,
               w.wk - f.cohort_week AS weeks_since
        FROM wk w JOIN first f ON w.user_id = f.user_id
    )
    SELECT cohort_week, weeks_since, count(*) AS n_users
    FROM activity GROUP BY cohort_week, weeks_since
    """,
    doc="Cohort retention matrix: users bucketed by the epoch-week of "
    "their first event, then distinct (user, weeks-since-cohort) "
    "activity counted per cell. Epoch-week integer arithmetic is "
    "tz-independent in both engines (floor(floor(s)/n) == floor(s/n)). "
    "Plan: one partial-combined groupBy for cohorts, one shuffle join "
    "on user_id, then the distinct and the cell count share the "
    "(cohort_week, weeks_since, user) shuffle.",
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id",
        F.floor(epoch_seconds("ts") / 604800).cast("long").alias("wk"),
    )
    first = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    activity = (
        ev.join(first, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).alias("weeks_since"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "weeks_since").agg(
        F.count(F.lit(1)).alias("n_users")
    )


@query(
    "event_type_transitions",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    )
    SELECT event_type, next_type, count(*) AS n
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="First-order Markov transition counts over per-user event "
    "sequences: lead() over (user, time) then a bigram groupBy. Ordering "
    "uses the raw µs timestamps + event_id tie-break, the full storage "
    "precision on both engines, so no two distinct instants can merge "
    "and flip a bigram vs the oracle's order.",
)
def event_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Regression / association statistics
# ---------------------------------------------------------------------------


@query(
    "order_trend_by_priority",
    """
    WITH pts AS (
        SELECT o_orderpriority, o_totalprice,
               datediff('day', DATE '1970-01-01', o_orderdate::DATE) AS xday
        FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n,
           round(regr_slope(o_totalprice, xday), 6) AS slope,
           round(regr_intercept(o_totalprice, xday), 4) AS intercept,
           round(corr(o_totalprice, xday), 6) AS r
    FROM pts GROUP BY o_orderpriority
    """,
    doc="Per-group least-squares trend: regr_slope / regr_intercept / "
    "corr of order value over epoch-day, one partial-combined aggregate "
    "(the co-moment sums combine map-side like any algebraic aggregate). "
    "x is integer days (NTZ-safe date arithmetic, no epoch cast); "
    "outputs rounded before comparison because the two engines fold "
    "co-moments in different orders.",
)
def order_trend_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_totalprice",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).alias("xday"),
    )
    return pts.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("regr_slope(o_totalprice, xday)"), 6).alias("slope"),
        F.round(F.expr("regr_intercept(o_totalprice, xday)"), 4).alias("intercept"),
        F.round(F.corr("o_totalprice", "xday"), 6).alias("r"),
    )


@query(
    "priority_status_chi2",
    """
    WITH o AS (
        SELECT o_orderpriority AS p, o_orderstatus AS s,
               count(*)::DOUBLE AS n
        FROM orders GROUP BY 1, 2
    ), tot AS (SELECT sum(n) AS t FROM o),
    rm AS (SELECT p, sum(n) AS rp FROM o GROUP BY p),
    cm AS (SELECT s, sum(n) AS cs FROM o GROUP BY s)
    SELECT count(*) AS n_cells,
           round(sum(pow(o.n - rm.rp * cm.cs / tot.t, 2)
                     / (rm.rp * cm.cs / tot.t)), 6) AS chi2
    FROM o JOIN rm USING (p) JOIN cm USING (s) CROSS JOIN tot
    """,
    doc="Chi-square independence statistic for two categoricals "
    "(priority × status): observed cell counts vs the "
    "row-margin×col-margin/total expectation. The contingency table is "
    "tiny (|p|×|s| cells) so margins and total are broadcast joins over "
    "a single small aggregate — the only full-table work is the first "
    "groupBy. Counts are integer-exact; only the final statistic is "
    "rounded.",
)
def priority_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("p"), F.col("o_orderstatus").alias("s")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    # margins as WINDOWS over the |p|x|s|-cell aggregate (<=5x3=15
    # rows, domain-bounded at any SF): one plan, one orders scan, and
    # no materialization at all — better than a ``small`` round trip
    # (measured ~0.6s of driver<->JVM overhead). The windows run
    # post-shuffle on the tiny aggregate; the unpartitioned total
    # window is domain-bounded. Margin sums
    # are integer-valued doubles, so window order cannot perturb them.
    w = o.select(
        "n",
        F.sum("n").over(Window.partitionBy("p")).alias("rp"),
        F.sum("n").over(Window.partitionBy("s")).alias("cs"),
        F.sum("n").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("t"),
    )
    exp = F.col("rp") * F.col("cs") / F.col("t")
    return w.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.round(F.sum(F.pow(F.col("n") - exp, 2) / exp), 6).alias("chi2"),
    )


# ---------------------------------------------------------------------------
# Multidimensional aggregation + skew profiling
# ---------------------------------------------------------------------------


@query(
    "revenue_cube",
    """
    SELECT l_returnflag, l_linestatus,
           grouping_id(l_returnflag, l_linestatus) AS gid,
           count(*) AS n,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE over (returnflag, linestatus) with grouping_id "
    "disambiguating aggregated-away NULLs from data NULLs — the "
    "multidimensional sibling of revenue_rollup. Spark expands the cube "
    "in a single Expand+HashAggregate (one shuffle for all 2^k "
    "groupings), not k separate scans.",
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "revenue")
    )


@query(
    "heavy_hitter_parts",
    """
    WITH c AS (
        SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey
    ), t AS (SELECT sum(n)::DOUBLE AS total FROM c)
    SELECT c.l_partkey, c.n, round(c.n / t.total, 8) AS share
    FROM c CROSS JOIN t
    ORDER BY c.n DESC, c.l_partkey ASC LIMIT 20
    """,
    doc="Heavy-hitter profiling (the exact diagnostic behind salting "
    "decisions): per-key frequencies, each key's share of total rows, "
    "top 20 by frequency. Compiles to partial-combined groupBy + "
    "broadcast scalar total + TakeOrderedAndProject — the full key "
    "distribution is never globally sorted.",
)
def heavy_hitter_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = c.agg(F.sum("n").cast("double").alias("total"))
    return (
        c.join(F.broadcast(t))
        .select(
            "l_partkey", "n", F.round(F.col("n") / F.col("total"), 8).alias("share")
        )
        .orderBy(F.col("n").desc(), F.col("l_partkey").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Classic decision-support shapes (TPC-H Q18 / Q21 / Q22 adapted)
# ---------------------------------------------------------------------------


@query(
    "large_order_customers",
    """
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           round(o.o_totalprice, 2) AS o_totalprice,
           round(big.sum_qty, 2) AS sum_qty
    FROM big
    JOIN orders o ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="TPC-H Q18 shape (large-volume orders): HAVING over a grouped "
    "fact aggregate, then enrichment joins. The aggregate runs FIRST so "
    "the joins only move qualifying orders; quantities are "
    "integer-valued doubles, so the HAVING threshold is exact in any "
    "summation order. Reference parity: SURVEY §2.4 A2 + §2.3 J1 "
    "composed.",
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
    )


@query(
    "sole_return_suppliers",
    """
    SELECT s.s_name, count(*) AS n_flagged
    FROM lineitem l1
    JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
    doc="TPC-H Q21 shape (the sole party at fault): lines returned by a "
    "supplier on multi-supplier orders where NO other supplier had a "
    "return — EXISTS and NOT EXISTS with correlated non-equi conditions, "
    "compiled as left-semi and left-anti joins on the order key with the "
    "supplier inequality in the join condition. The 'R' filters cut both "
    "join inputs before any shuffle.",
)
def sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    sup = _t(spark, sf_dir, "supplier")
    l1 = li.where(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.where(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    flagged = (
        l1.join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        flagged.join(F.broadcast(sup), flagged.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n_flagged"))
    )


@query(
    "idle_capital_customers",
    """
    WITH ab AS (
        SELECT round(avg(c_acctbal), 4) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_mktsegment, count(*) AS n_cust,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c CROSS JOIN ab
    WHERE c.c_acctbal > ab.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    doc="TPC-H Q22 shape (idle capital): customers with above-average "
    "balance (scalar subquery, broadcast; rounded to 4dp so both "
    "engines threshold the identical constant) and no orders (anti "
    "join), summarized per segment. The anti join's build side is just "
    "the order custkeys — column-pruned before the shuffle.",
)
def idle_capital_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    ab = cust.where(F.col("c_acctbal") > 0).agg(
        F.round(F.avg("c_acctbal"), 4).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(ab))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence islands, robust stats, distributions
# ---------------------------------------------------------------------------


@query(
    "user_activity_streaks",
    """
    WITH days AS (
        SELECT DISTINCT user_id, floor(epoch(ts) / 86400)::BIGINT AS d
        FROM events
    ), seq AS (
        SELECT user_id, d,
               d - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
        FROM days
    ), runs AS (
        SELECT user_id, count(*) AS len
        FROM seq GROUP BY user_id, grp
    )
    SELECT user_id, max(len) AS longest_streak, count(*) AS n_streaks
    FROM runs GROUP BY user_id
    """,
    doc="Islands-and-gaps: longest consecutive-active-day streak per "
    "user via the classic day-minus-row_number grouping constant. All "
    "integer arithmetic; the only window ranks the per-user DISTINCT "
    "day set (bounded by the observation span), shuffled once on "
    "user_id and reused by the run groupBy.",
)
def user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            F.floor(epoch_seconds("ts") / 86400).cast("long").alias("d"),
        )
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        days.select(
            "user_id", "d", (F.col("d") - F.row_number().over(w)).alias("grp")
        )
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    return runs.groupBy("user_id").agg(
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@query(
    "order_price_mad",
    """
    WITH m AS (SELECT quantile_cont(o_totalprice, 0.5) AS med FROM orders)
    SELECT round(m.med, 4) AS med,
           round(quantile_cont(abs(o.o_totalprice - m.med), 0.5), 4) AS mad
    FROM orders o CROSS JOIN m
    GROUP BY m.med
    """,
    doc="Median absolute deviation — the robust spread statistic next to "
    "winsorize/iqr: exact median broadcast back, second exact median "
    "over the absolute deviations. Two passes by definition (MAD is not "
    "algebraic); each is one percentile aggregate.",
)
def order_price_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    m = orders.agg(F.expr("percentile(o_totalprice, 0.5)").alias("med"))
    return (
        orders.join(F.broadcast(m))
        .groupBy("med")
        .agg(
            F.expr("percentile(abs(o_totalprice - med), 0.5)").alias("mad_raw")
        )
        .select(
            F.round("med", 4).alias("med"), F.round("mad_raw", 4).alias("mad")
        )
    )


@query(
    "order_price_histogram",
    """
    SELECT floor(o_totalprice / 50000)::BIGINT AS bin,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY bin
    """,
    doc="Equi-width histogram by integer floor-division binning — one "
    "partial-combined groupBy, no sort (the ntile/global-rank variant in "
    "order_value_distribution is the equi-DEPTH sibling). DuckDB's "
    "::BIGINT rounds, so the oracle floors before casting.",
)
def order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "monthly_revenue_growth",
    """
    WITH m AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS month,
               round(sum(o_totalprice), 2) AS rev
        FROM orders GROUP BY 1
    )
    SELECT month, rev,
           round(rev - lag(rev) OVER (ORDER BY month), 2) AS rev_delta,
           round((rev - lag(rev) OVER (ORDER BY month))
                 / lag(rev) OVER (ORDER BY month), 6) AS rev_pct_change
    FROM m
    """,
    doc="Month-over-month growth: calendar-month rollup (NTZ-safe "
    "date_trunc + format on both engines), then lag over the month "
    "series. The window ranks the AGGREGATED series (one row per "
    "month), so its single-partition sort is bounded by the calendar, "
    "not the data; deltas are computed on the already-rounded revenue "
    "so both engines subtract identical operands.",
)
def monthly_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    )
    w = Window.orderBy("month")
    prev = F.lag("rev").over(w)
    return m.select(
        "month",
        "rev",
        F.round(F.col("rev") - prev, 2).alias("rev_delta"),
        F.round((F.col("rev") - prev) / prev, 6).alias("rev_pct_change"),
    )


@query(
    "top_parts_per_brand_ties",
    """
    WITH r AS (
        SELECT p.p_brand, l.l_partkey,
               round(sum(l.l_extendedprice), 2) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand, l.l_partkey
    )
    SELECT p_brand, l_partkey, rev, rnk FROM (
        SELECT p_brand, l_partkey, rev,
               dense_rank() OVER (PARTITION BY p_brand ORDER BY rev DESC) AS rnk
        FROM r
    ) WHERE rnk <= 3
    """,
    doc="Top-N per group WITH ties (dense_rank ≤ 3) — the tie-inclusive "
    "sibling of top1_per_group's argmax. Ranking runs on rounded "
    "revenue over pre-aggregated (brand, part) rows, so the window "
    "shuffles one row per part, not per lineitem.",
)
def top_parts_per_brand_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    part = F.broadcast(_t(spark, sf_dir, "part"))
    r = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("rev"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("rev").desc())
    return (
        r.select("p_brand", "l_partkey", "rev", F.dense_rank().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


@query(
    "ship_lag_by_priority",
    """
    SELECT o.o_orderpriority,
           count(*) AS n,
           round(avg(datediff('day', o.o_orderdate::DATE, l.l_shipdate::DATE)), 4)
               AS avg_lag_days,
           min(datediff('day', o.o_orderdate::DATE, l.l_shipdate::DATE))
               AS min_lag_days,
           max(datediff('day', o.o_orderdate::DATE, l.l_shipdate::DATE))
               AS max_lag_days,
           round(quantile_cont(
               datediff('day', o.o_orderdate::DATE, l.l_shipdate::DATE), 0.5), 1)
               AS median_lag_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="Order-to-ship latency distribution per priority: integer day "
    "diffs (NTZ-safe date casts) through a fact-to-fact join on the "
    "order key, then count/avg/min/max/exact-median per priority. "
    "Integer-valued lags make every aggregate except the rounded avg "
    "and median order-insensitive.",
)
def ship_lag_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_orderpriority", lag.alias("lag_days"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("lag_days"), 4).alias("avg_lag_days"),
            F.min("lag_days").alias("min_lag_days"),
            F.max("lag_days").alias("max_lag_days"),
            F.round(F.expr("percentile(lag_days, 0.5)"), 1).alias(
                "median_lag_days"
            ),
        )
    )


@query(
    "repeat_vs_lapsed_customers",
    """
    WITH h1 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE year(o_orderdate) = 1999
    ), h2 AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE year(o_orderdate) = 2000
    )
    SELECT 'retained' AS cohort, count(*) AS n_customers
    FROM (SELECT o_custkey FROM h1 INTERSECT SELECT o_custkey FROM h2)
    UNION ALL
    SELECT 'lapsed', count(*)
    FROM (SELECT o_custkey FROM h1 EXCEPT SELECT o_custkey FROM h2)
    UNION ALL
    SELECT 'new', count(*)
    FROM (SELECT o_custkey FROM h2 EXCEPT SELECT o_custkey FROM h1)
    """,
    doc="Set-operation battery (SURVEY §2.7 beyond UNION): INTERSECT and "
    "EXCEPT with distinct semantics classify year-over-year customers "
    "as retained / lapsed / new. Spark compiles both to existence "
    "aggregates on the custkey shuffle; year() on plain NTZ dates is "
    "tz-safe in both engines.",
)
def repeat_vs_lapsed_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    # each distinct key set feeds two set operations; materialized once
    # so the orders scan runs twice (once per year), not six times
    h1 = materialize(
        orders.where(F.year("o_orderdate") == 1999)
        .select("o_custkey")
        .distinct(),
        "rvl_h1", "reliable",
    )
    h2 = materialize(
        orders.where(F.year("o_orderdate") == 2000)
        .select("o_custkey")
        .distinct(),
        "rvl_h2", "reliable",
    )

    def label(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("cohort"),
            F.count(F.lit(1)).alias("n_customers"),
        )

    return (
        label(h1.intersect(h2), "retained")
        .unionByName(label(h1.subtract(h2), "lapsed"))
        .unionByName(label(h2.subtract(h1), "new"))
    )


@query(
    "brand_type_rollup_csv",
    """
    WITH d AS (SELECT DISTINCT p_brand, p_type FROM part)
    SELECT p_brand,
           count(*) AS n_types,
           string_agg(p_type, ',' ORDER BY p_type) AS types_csv
    FROM d GROUP BY p_brand
    """,
    doc="Grouped ordered string aggregation (the reporting/denormalize "
    "shape): distinct types per brand folded to one sorted CSV cell. "
    "Spark's collect_set is unordered, so determinism comes from "
    "array_sort before array_join — same contract as the oracle's "
    "ORDER BY inside string_agg. Group payload is bounded by the "
    "distinct-type vocabulary, not row count.",
)
def brand_type_rollup_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "part").select("p_brand", "p_type").distinct()
    return d.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_types"),
        F.array_join(F.array_sort(F.collect_set("p_type")), ",").alias(
            "types_csv"
        ),
    )


@query(
    "events_time_weighted_value",
    """
    WITH seq AS (
        SELECT user_id, value,
               epoch_us(lead(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id))
               - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT user_id,
           count(*) AS n_intervals,
           sum(dt_us)::BIGINT AS total_us,
           round(sum(value * dt_us) / sum(dt_us), 6) AS twap
    FROM seq WHERE dt_us IS NOT NULL
    GROUP BY user_id
    """,
    doc="Time-weighted average (TWAP): each observation weighted by its "
    "holding duration to the next event — the correct mean for "
    "irregularly-sampled series where the arithmetic mean over-weights "
    "bursts. Durations are exact MICROsecond longs (naive-epoch µs — "
    "the parquet storage precision both engines share); only the final "
    "ratio is rounded since the value×duration sum is order-sensitive "
    "in the last bits.",
)
def events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "value", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_micros("ts")
    seq = ev.select(
        "user_id",
        "value",
        (F.lead(us).over(w) - us).alias("dt_us"),
    )
    return (
        seq.where(F.col("dt_us").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dt_us").alias("total_us"),
            F.round(
                F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 6
            ).alias("twap"),
        )
    )


@query(
    "events_wau",
    """
    WITH w AS (
        SELECT (floor(epoch(e.ts) / 86400)::BIGINT - t.k) * 86400
                   AS window_start,
               e.user_id
        FROM events e CROSS JOIN unnest(range(0, 7)) AS t(k)
    )
    SELECT window_start, count(DISTINCT user_id) AS wau
    FROM w GROUP BY window_start
    """,
    doc="Rolling weekly active users (WAU): 7-day window sliding 1 day "
    "with a DISTINCT user count — the windowed-distinct shape "
    "events_sliding's plain counts don't cover. Spark assigns each "
    "event to its 7 epoch-aligned windows via window(ts, 7d, 1d); the "
    "oracle reconstructs the same assignment as day_floor(ts)-k. At "
    "100 TB swap countDistinct for approx_count_distinct or an HLL "
    "union over per-day sketches (see the sketch queries).",
)
def events_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(epoch_seconds(F.col("w.start")).alias("window_start"), "wau")
    )


@query(
    "modal_event_type_per_user",
    """
    WITH c AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY user_id, event_type
    ), r AS (
        SELECT user_id, event_type, n,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type ASC) AS rn
        FROM c
    )
    SELECT user_id, event_type AS modal_type, n FROM r WHERE rn = 1
    """,
    doc="Deterministic grouped MODE: most frequent event_type per user, "
    "ties broken lexicographically — built-in mode() is "
    "tie-nondeterministic in both engines, so the composition "
    "(count groupBy, then rank over the tiny counts table) is the "
    "cross-engine-safe form. The window ranks ≤|event types| rows per "
    "user, never raw events.",
)
def modal_event_type_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        c.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n")
    )


@query(
    "revenue_by_dow",
    """
    SELECT ((datediff('day', DATE '1970-01-01', o_orderdate::DATE) + 4) % 7)
               AS dow_sun0,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue,
           count(DISTINCT weekofyear(o_orderdate)) AS n_weeks_seen,
           count(DISTINCT quarter(o_orderdate)) AS n_quarters_seen
    FROM orders GROUP BY dow_sun0
    """,
    doc="Calendar-part battery: day-of-week revenue profile plus "
    "ISO-week/quarter coverage counts. Day-of-week comes from pure "
    "epoch-day arithmetic ((days-since-1970 + 4) mod 7, Sunday=0) "
    "because the engines disagree on dayofweek()'s numbering "
    "convention; weekofyear/quarter are ISO-consistent in both.",
)
def revenue_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    dow = (
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        + 4
    ) % 7
    return (
        orders.groupBy(dow.alias("dow_sun0"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.countDistinct(F.weekofyear("o_orderdate")).alias("n_weeks_seen"),
            F.countDistinct(F.quarter("o_orderdate")).alias("n_quarters_seen"),
        )
    )


@query(
    "returnflag_status_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           grouping_id(l_returnflag, l_linestatus) AS gid,
           count(*) AS n,
           round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS (the asymmetric sibling of "
    "revenue_cube's full CUBE): per-flag totals, per-status totals, and "
    "the grand total in ONE Expand+HashAggregate pass — three "
    "aggregations, one shuffle, with grouping_id disambiguating the "
    "aggregated-away NULLs.",
)
def returnflag_status_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "qty")
    )


@query(
    "sample_docs_per_lang",
    """
    WITH r AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY ('0x' || substr(md5('reservoir:' || doc_id::VARCHAR),
                                            1, 15))::BIGINT ASC,
                            doc_id ASC
               ) AS rn
        FROM documents
    )
    SELECT lang, doc_id FROM r WHERE rn <= 5
    """,
    doc="Content-deterministic exact-k reservoir per group "
    "(sampling.reservoir_per_group): rank within each language by the "
    "portable md5 hash, keep 5 — a uniform per-stratum sample that is "
    "reproducible across engines, runs, and partitionings (unlike "
    "seed-based sampleBy). One shuffle on the group key.",
)
def sample_docs_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import reservoir_per_group

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return reservoir_per_group(docs, "lang", 5, "doc_id").select(
        "lang", "doc_id"
    )


@query(
    "events_wau_approx",
    """
    WITH w AS (
        SELECT (floor(epoch(e.ts) / 86400)::BIGINT - t.k) * 86400
                   AS window_start,
               e.user_id
        FROM events e CROSS JOIN unnest(range(0, 7)) AS t(k)
    )
    SELECT window_start,
           count(DISTINCT user_id) AS wau_exact,
           TRUE AS within_bounds
    FROM w GROUP BY window_start
    """,
    doc="Approximate WAU, hash-certified: the 100 TB twin of "
    "events_wau — approx_count_distinct (HyperLogLog++, rsd 2%) over "
    "the same 7-day/1-day-slide windows. HLL++ register values are "
    "engine-private, so the query emits what IS portable: the exact "
    "per-window count plus a deterministic within_bounds boolean "
    "(|approx-exact|/exact <= 5*rsd — rsd is a standard deviation, "
    "not a guarantee, so the margin is deliberately generous: a "
    "bounds-break at a new scale factor means re-tuning this "
    "threshold, not an engine bug; Spark's HLL is deterministic "
    "for fixed input, register merge is a commutative max), making "
    "the sketch's accuracy claim itself the hash-gated fact — the "
    "oracle emits the exact count and literal TRUE. The exact "
    "distinct rides along for certification only; the 100 TB "
    "deployment shape drops it and keeps the one-pass sketch "
    "(events_hll_wau_windows has the portable register relation).",
)
def events_wau_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "7 days", "1 day").alias("w"))
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("wau_approx"),
            F.countDistinct("user_id").alias("wau_exact"),
        )
        .select(
            epoch_seconds(F.col("w.start")).alias("window_start"),
            "wau_exact",
            (
                F.abs(F.col("wau_approx") - F.col("wau_exact"))
                / F.col("wau_exact")
                <= F.lit(0.10)
            ).alias("within_bounds"),
        )
    )


@query(
    "events_daily_growth_accounting",
    """
    WITH days AS (
        SELECT DISTINCT user_id, floor(epoch(ts) / 86400)::BIGINT AS d
        FROM events
    ), first AS (
        SELECT user_id, min(d) AS fd FROM days GROUP BY user_id
    ), daily AS (
        SELECT days.d,
               count(*) AS active_users,
               sum(CASE WHEN days.d = first.fd THEN 1 ELSE 0 END)::BIGINT
                   AS new_users,
               sum(CASE WHEN days.d > first.fd THEN 1 ELSE 0 END)::BIGINT
                   AS returning_users
        FROM days JOIN first USING (user_id)
        GROUP BY days.d
    )
    SELECT d, active_users, new_users, returning_users,
           (sum(new_users) OVER (ORDER BY d))::BIGINT AS cumulative_users
    FROM daily
    """,
    doc="Growth accounting: per-day active users split into new vs "
    "returning (first-active-day join) plus the cumulative user count "
    "(running sum over the daily aggregate — the window ranks one row "
    "per day, bounded by the calendar). All-integer arithmetic; the "
    "user_id shuffle serves both the distinct and the first-day "
    "aggregate.",
)
def events_daily_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    days = (
        _events(spark, sf_dir)
        .select(
            "user_id",
            F.floor(epoch_seconds("ts") / 86400).cast("long").alias("d"),
        )
        .distinct()
    )
    first = days.groupBy("user_id").agg(F.min("d").alias("fd"))
    daily = (
        days.join(first, "user_id")
        .groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("active_users"),
            F.sum((F.col("d") == F.col("fd")).cast("long")).alias("new_users"),
            F.sum((F.col("d") > F.col("fd")).cast("long")).alias(
                "returning_users"
            ),
        )
    )
    w = Window.orderBy("d")
    return daily.select(
        "d",
        "active_users",
        "new_users",
        "returning_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@query(
    "events_props_variant",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod,
           count(*) AS n,
           min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY k_mod
    """,
    doc="Spark 4 VARIANT path for semi-structured data: try_parse_json "
    "once into the binary VARIANT encoding, then typed variant_get "
    "extractions — repeated field reads don't re-parse the JSON text "
    "(the third semi-structured tier next to get_json_object per-path "
    "strings and from_json declared structs). try_parse_json yields "
    "NULL, not an error, on malformed input — the 100 TB-safe default.",
)
def events_props_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("props")
    v = ev.where(F.col("props").isNotNull()).select(
        F.try_parse_json("props").alias("v")
    )
    k = F.variant_get(F.col("v"), "$.k", "int")
    return (
        v.select(k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "top2_orders_per_customer_lateral",
    """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
             FROM orders o WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
    """,
    doc="Correlated LATERAL subquery with per-row ORDER BY + LIMIT — "
    "the top-N-per-entity shape written as a lateral join instead of a "
    "ranking window (SURVEY §2.3 breadth; Catalyst decorrelates it into "
    "a ranked join rather than executing per-customer subqueries). "
    "Deterministic: ordered on the rounded price with the orderkey "
    "tie-break. SQL-path query — both engines run the same text via "
    "their catalog views.",
)
def top2_orders_per_customer_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    for t in ("customer", "orders"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
                 FROM orders o WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) t
        """
    )


@query(
    "price_quantiles_scalable",
    """
    SELECT round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
           round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem
    """,
    doc="EXACT quantiles via quality.exact_quantiles_scalable: two "
    "bounded passes at every input size (KLL-sketch brackets, then ONE "
    "scan that counts in-bracket distinct values and between-bracket "
    "gaps, walked by rank) instead of percentile()'s single-pass counts "
    "map, whose memory and single-reducer merge scale with distinct-value "
    "cardinality. Bit-identical to quantile_cont (interpolates exact "
    "order statistics) — the oracle proves it.",
)
def price_quantiles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import exact_quantiles_scalable

    q = exact_quantiles_scalable(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        [0.25, 0.50, 0.75, 0.99],
    )
    return q.select(
        F.round("q_0", 4).alias("p25"),
        F.round("q_1", 4).alias("p50"),
        F.round("q_2", 4).alias("p75"),
        F.round("q_3", 4).alias("p99"),
    )


@query(
    "part_pair_affinity",
    """
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (
        SELECT count(DISTINCT l_orderkey)::DOUBLE AS n FROM lineitem
    ), part_freq AS (
        SELECT l_partkey, count(*) AS f FROM baskets GROUP BY l_partkey
    ), pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS n_together
        FROM baskets a JOIN baskets b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
        HAVING count(*) >= 3
    )
    SELECT p.part_a, p.part_b, p.n_together,
           round((p.n_together * o.n) / (fa.f * fb.f), 6) AS lift
    FROM pairs p
    JOIN part_freq fa ON fa.l_partkey = p.part_a
    JOIN part_freq fb ON fb.l_partkey = p.part_b
    CROSS JOIN n_orders o
    """,
    doc="Market-basket co-occurrence with lift: one groupBy folds each "
    "order into a sorted DISTINCT part set (collect_set — the dedup "
    "rides the same exchange), pairs are generated IN-ROW from the "
    "sorted array (C(k,2) per order, k = order line count, single "
    "digits — never corpus-wide), then support-filtered and scored by "
    "lift = P(ab)/(P(a)P(b)). Replaces round 1's basket self-join: one "
    "order-key exchange instead of distinct + two-sided join shuffle "
    "(6.3 s -> ~2 s at sf0.1). Part frequencies are bounded by the part "
    "catalog, so they broadcast; counts are integer-exact and only lift "
    "is rounded.",
)
def part_pair_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # feeds three consumers: count, part frequencies, pair explode
    order_sets = materialize(
        li.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts")),
        "ppa_ordersets", "reliable",
    )
    n_orders = order_sets.agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    # fa and fb below each build a broadcast from this relation
    part_freq = materialize(
        order_sets.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("f")),
        "ppa_partfreq", "reliable",
    )
    # sorted array ⇒ generated pairs already satisfy part_a < part_b
    pair_expr = (
        "flatten(transform(parts, (x, i) ->"
        " transform(slice(parts, i + 2, size(parts)),"
        " y -> struct(x AS part_a, y AS part_b))))"
    )
    pairs = (
        order_sets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.part_a", "p.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_together"))
        .where(F.col("n_together") >= 3)
    )
    fa = part_freq.select(
        F.col("l_partkey").alias("part_a"), F.col("f").alias("fa")
    )
    fb = part_freq.select(
        F.col("l_partkey").alias("part_b"), F.col("f").alias("fb")
    )
    return (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_together",
            F.round(
                (F.col("n_together") * F.col("n")) / (F.col("fa") * F.col("fb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "returnflag_price_deciles_scalable",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.1), 4) AS p10,
           round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="GROUPED exact quantiles via "
    "quality.grouped_exact_quantiles_scalable: the per-group two-pass "
    "bracketed walk, whose second pass reads the data once — per-group "
    "state is O(distinct values inside the brackets), not O(group "
    "distinct cardinality) like percentile() GROUP BY, so groups of "
    "unbounded size stay bounded-memory. "
    "Bit-identical to quantile_cont per group (the oracle proves it).",
)
def returnflag_price_deciles_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.quality import grouped_exact_quantiles_scalable

    q = grouped_exact_quantiles_scalable(
        _t(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        [0.1, 0.5, 0.9],
    )
    return q.select(
        "l_returnflag",
        F.round("q_0", 4).alias("p10"),
        F.round("q_1", 4).alias("p50"),
        F.round("q_2", 4).alias("p90"),
    )


@query(
    "user_value_window_nulls",
    """
    WITH v AS (
        SELECT user_id, ts, event_id,
               CASE WHEN value < 0 THEN NULL ELSE round(value, 4) END AS v
        FROM events
    ), w AS (
        SELECT user_id,
               first_value(v IGNORE NULLS) OVER win AS first_v,
               last_value(v IGNORE NULLS) OVER win AS last_v,
               nth_value(v, 2 IGNORE NULLS) OVER win AS second_v,
               count(*) OVER win AS n_events,
               count(v) OVER win AS n_nonnull
        FROM v
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, max(first_v) AS first_v, max(last_v) AS last_v,
           max(second_v) AS second_v, max(n_events) AS n_events,
           max(n_nonnull) AS n_nonnull
    FROM w GROUP BY user_id
    """,
    doc="first_value / last_value / nth_value with IGNORE NULLS over a "
    "full-partition frame — the null-skipping window tier (the same "
    "machinery gapfill's forward-fill uses, surfaced as a query). "
    "Nulls are derived deterministically (negative readings), values "
    "rounded BEFORE the windows so both engines pick identical "
    "operands; the full-frame results are constant per partition, so "
    "one groupBy folds them to a row per user.",
)
def user_value_window_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("value") < 0, F.lit(None)).otherwise(
            F.round("value", 4)
        ).alias("v"),
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w = ev.select(
        "user_id",
        F.first("v", ignorenulls=True).over(win).alias("first_v"),
        F.last("v", ignorenulls=True).over(win).alias("last_v"),
        F.nth_value("v", 2, ignoreNulls=True).over(win).alias("second_v"),
        F.count(F.lit(1)).over(win).alias("n_events"),
        F.count("v").over(win).alias("n_nonnull"),
    )
    return w.groupBy("user_id").agg(
        F.max("first_v").alias("first_v"),
        F.max("last_v").alias("last_v"),
        F.max("second_v").alias("second_v"),
        F.max("n_events").alias("n_events"),
        F.max("n_nonnull").alias("n_nonnull"),
    )


# ---------------------------------------------------------------------------
# Probabilistic sketches with exact oracles (operators/sketch.py)
# ---------------------------------------------------------------------------

from .operators import sketch as _sk  # noqa: E402

_CMS_W, _CMS_D = 1024, 4
_CMS_BUILD = _sk.count_min_sql("lineitem", "l_partkey::VARCHAR", _CMS_W, _CMS_D)
_CMS_PROBE_ARMS = " UNION ALL ".join(
    f"SELECT l_partkey, {i} AS d, "
    f"{_sk._bucket_sql('l_partkey::VARCHAR', a, b, _CMS_W)} AS bucket FROM probes"
    for i, (a, b) in enumerate(_sk._affine_params(_CMS_D, seed=_sk.SKETCH_SEED))
)


@query(
    "cms_partkey_frequencies",
    f"""
    WITH cms AS ({_CMS_BUILD}),
    probes AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_partkey <= 25),
    probe_cells AS ({_CMS_PROBE_ARMS}),
    est AS (
        SELECT pc.l_partkey, min(coalesce(c.cnt, 0)) AS est
        FROM probe_cells pc LEFT JOIN cms c USING (d, bucket)
        GROUP BY pc.l_partkey
    ),
    tru AS (
        SELECT l_partkey, count(*) AS true_cnt FROM lineitem
        WHERE l_partkey <= 25 GROUP BY l_partkey
    )
    SELECT e.l_partkey, e.est, t.true_cnt
    FROM est e JOIN tru t USING (l_partkey)
    """,
    doc="Count-Min sketch frequency estimation (operators/sketch.py): "
    "the fact column folds into a depth×width counter grid (4×1024 — "
    "KBs at ANY scale) in one pass + one tiny shuffle; point estimates "
    "are a broadcast join against the sketch. Estimates only ever "
    "over-count (est ≥ true, asserted in tests). The md5-affine hash "
    "family is engine-portable, so unlike approx_count_distinct's "
    "HLL internals this sketch is value-hash oracled bit-for-bit.",
)
def cms_partkey_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").cast("string").alias("k"), "l_partkey"
    )
    cms = _sk.count_min_build(li, "k", width=_CMS_W, depth=_CMS_D)
    probes = (
        li.where(F.col("l_partkey") <= 25)
        .select("l_partkey", "k")
        .distinct()
    )
    est = _sk.count_min_estimate(
        cms, probes.select(F.col("k")), "k", width=_CMS_W, depth=_CMS_D
    )
    tru = (
        li.where(F.col("l_partkey") <= 25)
        .groupBy("l_partkey", "k")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
    )
    return (
        est.join(tru, "k")
        .select("l_partkey", "est", "true_cnt")
    )


_BLOOM_BITS, _BLOOM_K = 1 << 16, 3
_BLOOM_BUILD = _sk.bloom_bits_sql("build", "k", _BLOOM_BITS, _BLOOM_K)
_BLOOM_PROBE_ARMS = " UNION ALL ".join(
    f"SELECT l_orderkey, {p} AS bit FROM probes"
    for p in _sk.bloom_positions_sql("l_orderkey::VARCHAR", _BLOOM_BITS, _BLOOM_K)
)


@query(
    "bloom_prefilter_urgent_orders",
    f"""
    WITH build AS (
        SELECT DISTINCT o_orderkey::VARCHAR AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'
    ),
    bits AS ({_BLOOM_BUILD}),
    probes AS (SELECT DISTINCT l_orderkey FROM lineitem),
    probe_cells AS ({_BLOOM_PROBE_ARMS}),
    maybe AS (
        SELECT l_orderkey FROM probe_cells JOIN bits USING (bit)
        GROUP BY l_orderkey HAVING count(*) = {_BLOOM_K}
    ),
    truth AS (
        SELECT DISTINCT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT'
    )
    SELECT count(*) AS n_probe_keys,
           sum(CASE WHEN m.l_orderkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_maybe,
           sum(CASE WHEN t.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_true_match,
           sum(CASE WHEN m.l_orderkey IS NOT NULL AND t.o_orderkey IS NULL
               THEN 1 ELSE 0 END)::BIGINT AS n_false_positives
    FROM probes p
    LEFT JOIN maybe m USING (l_orderkey)
    LEFT JOIN truth t ON p.l_orderkey = t.o_orderkey
    """,
    doc="Bloom-filter semi-join pre-filter (operators/sketch.py): the "
    "build side's keys (urgent orders) become a 64 Ki-bit set, broadcast "
    "to tag every probe key map-side BEFORE any fact shuffle — at "
    "100 TB the non-matching fraction never moves. No false negatives "
    "(asserted in tests); false positives are bounded and COUNTED here. "
    "Same md5-affine hash family as the Count-Min sketch, so the whole "
    "filter replays bit-for-bit in the DuckDB oracle — covering the "
    "pre-aggregation/Python-stage cases AQE's automatic runtime bloom "
    "filter (also gate-tested in test_plans.py) does not reach.",
)
def bloom_prefilter_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").cast("string").alias("k"), "o_orderkey")
        .distinct()
    )
    bits = _sk.bloom_bits(orders, "k", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K)
    probes = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", F.col("l_orderkey").cast("string").alias("k"))
        .distinct()
    )
    tagged = _sk.bloom_probe(
        probes, bits, "k", n_bits=_BLOOM_BITS, n_hashes=_BLOOM_K
    )
    truth = orders.select(
        F.col("o_orderkey").alias("l_orderkey"), F.lit(True).alias("is_true")
    )
    flagged = tagged.join(F.broadcast(truth), "l_orderkey", "left").fillna(
        {"is_true": False}
    )
    return flagged.agg(
        F.count(F.lit(1)).alias("n_probe_keys"),
        F.sum(F.col("maybe_member").cast("long")).alias("n_maybe"),
        F.sum(F.col("is_true").cast("long")).alias("n_true_match"),
        F.sum(
            (F.col("maybe_member") & ~F.col("is_true")).cast("long")
        ).alias("n_false_positives"),
    )


_HLL_ERR = "round(100.0 * (hll_est - exact_users) / exact_users, 4)"


@query(
    "events_hll_daily_users",
    f"""
    WITH ev AS (
        SELECT ts::DATE AS day, user_id::VARCHAR AS k, user_id
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    regs AS ({{regs}}),
    day_est AS ({{day_est}}),
    total_regs AS (SELECT bucket, max(mx) AS mx FROM regs GROUP BY bucket),
    total_est AS ({{total_est}}),
    exact_day AS (
        SELECT day, count(DISTINCT user_id)::BIGINT AS exact_users
        FROM ev GROUP BY day
    ),
    exact_total AS (
        SELECT count(DISTINCT user_id)::BIGINT AS exact_users FROM ev
    )
    SELECT 'day' AS granularity, day::VARCHAR AS bucket_day,
           hll_est, exact_users, {_HLL_ERR} AS err_pct
    FROM day_est JOIN exact_day USING (day)
    UNION ALL
    SELECT 'total', 'ALL', hll_est, exact_users, {_HLL_ERR}
    FROM total_est CROSS JOIN exact_total
    """,
    doc="Mergeable HyperLogLog distinct-user rollup "
    "(operators/sketch.py): unlike approx_count_distinct, whose HLL++ "
    "sketch lives inside an aggregation buffer, the registers here are "
    "DATA — a <=2^p-row relation per day that MAX-merges into the "
    "all-time estimate without rescanning the fact table, the rollup "
    "property that matters at 100 TB (daily sketch tables feed weekly/"
    "monthly/total unique counts for free). Portable md5 hash; rho is "
    "an integer CASE chain and Z sums dyadic rationals (exact in "
    "double), so the estimate replays bit-for-bit in DuckDB. Exact "
    "per-day and total distinct counts ride along with the relative "
    "error, so the sketch's accuracy (~3.25%/sqrt(m)) is itself "
    "oracle-checked.",
)
def events_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            F.col("user_id").cast("string").alias("k"),
            "user_id",
        )
    )
    regs = _sk.hll_registers(ev, "k", ("day",))
    day_est = _sk.hll_estimate(regs, ("day",))
    total_est = _sk.hll_estimate(_sk.hll_merge(regs))
    exact_day = ev.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    exact_total = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    err = F.round(
        F.lit(100.0)
        * (F.col("hll_est") - F.col("exact_users"))
        / F.col("exact_users"),
        4,
    ).alias("err_pct")
    day_rows = day_est.join(exact_day, "day").select(
        F.lit("day").alias("granularity"),
        F.col("day").cast("string").alias("bucket_day"),
        "hll_est",
        "exact_users",
        err,
    )
    total_rows = total_est.join(F.broadcast(exact_total)).select(
        F.lit("total").alias("granularity"),
        F.lit("ALL").alias("bucket_day"),
        "hll_est",
        "exact_users",
        err,
    )
    return day_rows.unionByName(total_rows)


# late-bind the register/estimate CTEs (they need the module-level
# helpers, and inlining them keeps the sketch arithmetic single-sourced)
REGISTRY["events_hll_daily_users"] = type(
    REGISTRY["events_hll_daily_users"]
)(
    name="events_hll_daily_users",
    spark=REGISTRY["events_hll_daily_users"].spark,
    oracle=REGISTRY["events_hll_daily_users"].oracle.format(
        regs=_sk.hll_registers_sql("ev", "k", ("day",)),
        day_est=_sk.hll_estimate_sql("regs", ("day",)),
        total_est=_sk.hll_estimate_sql("total_regs"),
    ),
    doc=REGISTRY["events_hll_daily_users"].doc,
)


@query(
    "events_wau_hll",
    """
    WITH ev AS (
        SELECT floor(epoch(ts) / 86400)::BIGINT AS day,
               user_id::VARCHAR AS k, user_id
        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ),
    regs AS ({regs}),
    w AS (
        SELECT (r.day - t.k) AS wday, r.bucket, r.mx
        FROM regs r CROSS JOIN unnest(range(0, 7)) AS t(k)
    ),
    merged AS (SELECT wday, bucket, max(mx) AS mx FROM w GROUP BY wday, bucket),
    est AS ({est}),
    exact AS (
        SELECT (day - t.k) AS wday,
               count(DISTINCT user_id)::BIGINT AS wau_exact
        FROM ev CROSS JOIN unnest(range(0, 7)) AS t(k)
        GROUP BY wday
    )
    SELECT (wday * 86400)::BIGINT AS window_start,
           hll_est AS wau_hll, wau_exact,
           round(100.0 * (hll_est - wau_exact) / wau_exact, 4) AS err_pct
    FROM est JOIN exact USING (wday)
    """,
    doc="Sliding 7-day WAU from MERGED per-day HLL registers — the "
    "at-scale swap events_wau's docstring promises, delivered with a "
    "full value-hash oracle (the rows-only events_wau_approx used "
    "engine-private HLL++; this uses the portable register relation). "
    "Each day's <=2^p-row register table fans out to the 7 windows it "
    "serves and MAX-merges per window — the fact table is read once "
    "for the sketches, and every window estimate costs "
    "O(days x 7 x 2^p) register rows, never a second pass over "
    "events. Exact windowed distinct counts ride along with relative "
    "error, so the sketch's accuracy on every window is itself "
    "hash-gated.",
)
def events_wau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.timeops import epoch_seconds

    ev = (
        _events(spark, sf_dir)
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.floor(epoch_seconds("ts") / F.lit(86400))
            .cast("bigint")
            .alias("day"),
            F.col("user_id").cast("string").alias("k"),
            "user_id",
        )
    )
    regs = _sk.hll_registers(ev, "k", ("day",))
    offs = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    wins = regs.select("day", "bucket", "mx", offs).select(
        (F.col("day") - F.col("off")).alias("wday"), "bucket", "mx"
    )
    merged = _sk.hll_merge(wins, ("wday",))
    est = _sk.hll_estimate(merged, ("wday",))
    exact = (
        ev.select("day", "user_id", offs)
        .select((F.col("day") - F.col("off")).alias("wday"), "user_id")
        .groupBy("wday")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau_exact"))
    )
    return est.join(exact, "wday").select(
        (F.col("wday") * 86400).cast("bigint").alias("window_start"),
        F.col("hll_est").alias("wau_hll"),
        "wau_exact",
        F.round(
            F.lit(100.0)
            * (F.col("hll_est") - F.col("wau_exact"))
            / F.col("wau_exact"),
            4,
        ).alias("err_pct"),
    )


REGISTRY["events_wau_hll"] = type(REGISTRY["events_wau_hll"])(
    name="events_wau_hll",
    spark=REGISTRY["events_wau_hll"].spark,
    oracle=REGISTRY["events_wau_hll"].oracle.format(
        regs=_sk.hll_registers_sql("ev", "k", ("day",)),
        est=_sk.hll_estimate_sql("merged", ("wday",)),
    ),
    doc=REGISTRY["events_wau_hll"].doc,
)


_K_ANON = 5


@query(
    "customer_k_anonymity",
    f"""
    WITH classes AS (
        SELECT c_nationkey, c_mktsegment,
               (floor(c_acctbal / 1000))::BIGINT AS bal_band,
               count(*)::BIGINT AS class_size
        FROM customer
        GROUP BY c_nationkey, c_mktsegment, bal_band
    ),
    tot AS (SELECT sum(class_size)::DOUBLE AS n FROM classes)
    SELECT count(*)::BIGINT AS n_classes,
           min(class_size) AS k_anonymity,
           sum((class_size < {_K_ANON})::INT)::BIGINT AS n_classes_below_k,
           sum(CASE WHEN class_size < {_K_ANON} THEN class_size
                    ELSE 0 END)::BIGINT AS n_rows_at_risk,
           round(sum(CASE WHEN class_size < {_K_ANON} THEN class_size
                          ELSE 0 END) / any_value(tot.n), 6) AS at_risk_rate
    FROM classes CROSS JOIN tot
    """,
    doc="k-anonymity audit over a quasi-identifier tuple (nation, "
    "market segment, account-balance band): the privacy-release check "
    "a training-data pipeline runs before publishing user-derived "
    "tables. The dataset's k-anonymity is the SMALLEST equivalence "
    "class; classes below the k={_K_ANON} threshold and the row mass "
    "at re-identification risk quantify how much generalization or "
    "suppression a release needs. One grouped aggregate over the "
    "quasi-identifiers folded to a single summary row — scales as a "
    "plain groupBy (the QI class table is bounded by the QI domain, "
    "not the fact).",
)
def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    classes = (
        cust.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias(
                "bal_band"
            ),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("class_size"))
    )
    tot = classes.agg(F.sum("class_size").cast("double").alias("n"))
    risk_rows = F.sum(
        F.when(F.col("class_size") < _K_ANON, F.col("class_size")).otherwise(
            F.lit(0)
        )
    )
    return classes.join(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.min("class_size").alias("k_anonymity"),
        F.sum((F.col("class_size") < _K_ANON).cast("int"))
        .cast("bigint")
        .alias("n_classes_below_k"),
        risk_rows.cast("bigint").alias("n_rows_at_risk"),
        F.round(risk_rows / F.first("n"), 6).alias("at_risk_rate"),
    )


# ---------------------------------------------------------------------------
# Remaining classic decision-support shapes (TPC-H Q2 / Q15 / Q16 / Q20)
# ---------------------------------------------------------------------------


@query(
    "cheapest_supplier_per_part",
    """
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               min((round(l_extendedprice * 100)::BIGINT * 100)
                   // l_quantity::BIGINT) AS cost_e4
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p.p_partkey, p.p_brand, s.s_name,
           ps.cost_e4 / 10000.0 AS unit_cost
    FROM ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    JOIN supplier s ON s.s_suppkey = ps.l_suppkey
    WHERE p.p_size <= 5
      AND ps.cost_e4 = (SELECT min(ps2.cost_e4) FROM ps ps2
                        WHERE ps2.l_partkey = ps.l_partkey)
    """,
    doc="TPC-H Q2 shape (min-cost supplier): a correlated scalar-MIN "
    "subquery selects, per part, every supplier achieving the minimum "
    "unit cost (ties kept, like the real Q2). Spark expresses the "
    "correlation as a broadcast of the per-part min re-joined to the "
    "supplier-level aggregate — no correlated execution, two small "
    "aggregates + broadcast dims. Determinism (r7 fix, caught by the "
    "full-registry sf0.1 parity sweep): unit cost is the EXACT "
    "integer e4-unit quotient cents*100 DIV quantity, so min/equality "
    "tie sets are integer-exact — the old round(p/q, 4) hit a 4dp "
    "half-boundary at sf0.1 (the true cost is a rational that can "
    "land exactly on .xxxx5) where the engines' scaled round() of "
    "the same double disagree; display divides the same integer by "
    "10000.0 on both engines.",
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    cost_e4 = F.expr(
        "(cast(round(l_extendedprice * 100) as bigint) * 100) "
        "div cast(l_quantity as bigint)"
    )
    ps = li.select("l_partkey", "l_suppkey", cost_e4.alias("c")).groupBy(
        "l_partkey", "l_suppkey"
    ).agg(F.min("c").alias("cost_e4"))
    min_cost = ps.groupBy("l_partkey").agg(F.min("cost_e4").alias("mc"))
    part = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_size") <= 5)
        .select("p_partkey", "p_brand")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        ps.join(min_cost, "l_partkey")
        .where(F.col("cost_e4") == F.col("mc"))
        .join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), ps.l_suppkey == supp.s_suppkey)
        .select(
            "p_partkey",
            "p_brand",
            "s_name",
            (F.col("cost_e4") / 10000.0).alias("unit_cost"),
        )
    )


@query(
    "top_revenue_supplier",
    """
    WITH rev AS (
        SELECT l_suppkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_rev
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM rev)
    """,
    doc="TPC-H Q15 shape (top supplier): revenue-per-supplier over one "
    "quarter, then equality against the MAX of that derived view — all "
    "co-leaders survive, unlike an ORDER BY/LIMIT 1 which would drop "
    "ties arbitrarily. The view aggregate is computed once (tiny: one "
    "row per supplier); its max broadcasts back as a scalar filter. "
    "Revenue rounds to 2dp before the max/equality on both engines.",
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_rev"
        )
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@query(
    "supplier_counts_by_part_attrs",
    """
    SELECT p.p_brand, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    )
    GROUP BY p.p_brand, p.p_size
    """,
    doc="TPC-H Q16 shape (supplier diversity): distinct-supplier counts "
    "per part attribute pair, EXCLUDING a complaint list (here: "
    "negative-balance suppliers) via NOT IN. Spark plans the NOT IN as "
    "a broadcast anti-join on the fact BEFORE the part join and the "
    "distinct aggregate — the exclusion list is rows-of-keys, never a "
    "per-row subquery. (The exclusion list contains no NULLs by "
    "construction; a nullable NOT IN would need the null-safe anti "
    "form.)",
)
def supplier_counts_by_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    excluded = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    li = _t(spark, sf_dir, "lineitem").join(
        F.broadcast(excluded), "l_suppkey", "left_anti"
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "excess_recent_shippers",
    """
    WITH shipped AS (
        SELECT l_partkey, l_suppkey,
               sum(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                   THEN l_quantity ELSE 0 END) AS qty_recent,
               sum(l_quantity) AS qty_all
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           count(*) AS n_excess_parts
    FROM shipped sh JOIN supplier s ON s.s_suppkey = sh.l_suppkey
    WHERE sh.qty_recent > 0.5 * sh.qty_all
    GROUP BY s.s_suppkey, s.s_name
    """,
    doc="TPC-H Q20 shape (excess availability): per (part, supplier), "
    "the recent-window share of shipped quantity against a correlated "
    "0.5×total threshold, folded to the suppliers holding excess "
    "positions. One conditional aggregate computes both the window and "
    "the lifetime quantity in a single fact pass — the correlated "
    "subquery of the original decorrelates to CASE inside the same "
    "groupBy. Quantities are integer-valued doubles, so the 0.5× "
    "comparison is exact in both engines, no rounding needed.",
)
def excess_recent_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    recent = F.when(
        F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"),
        F.col("l_quantity"),
    ).otherwise(F.lit(0.0))
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(recent).alias("qty_recent"), F.sum("l_quantity").alias("qty_all")
    )
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        shipped.where(F.col("qty_recent") > 0.5 * F.col("qty_all"))
        .join(F.broadcast(supp), shipped.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("n_excess_parts"))
    )


# ---------------------------------------------------------------------------
# Graph analytics (operators/graph.py)
# ---------------------------------------------------------------------------

from .operators.graph import (  # noqa: E402
    copurchase_edges,
    pagerank,
    pagerank_oracle_sql,
)

_EDGES_CTE = (
    "SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst "
    "FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a "
    "JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b "
    "ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey"
)


@query(
    "part_pagerank",
    pagerank_oracle_sql(_EDGES_CTE, iters=3, node_alias="p_partkey"),
    doc="PageRank centrality over the part co-purchase graph "
    "(operators/graph.py): DISTINCT co-occurrence edges built with an "
    "order-keyed self-join (pair fan-out bounded by order size, never "
    "catalog size), then 3 power iterations — one edge join + one dst "
    "aggregate per round. Ranks round to 8dp every iteration on both "
    "engines, so even this iterative fixpoint carries a full value-hash "
    "oracle (unrolled CTEs), like kmeans_embeddings and dedup_clusters.",
)
def part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges(_t(spark, sf_dir, "lineitem"))
    return pagerank(edges, iters=3).select(
        F.col("node").alias("p_partkey"), "rank"
    )


from .operators.graph import (  # noqa: E402
    copurchase_edges_support,
    triangle_oracle_sql,
    triangle_stats,
)

_TRI_SUPPORT = 2
_TRI_EDGES_CTE = f"""
    SELECT src, dst FROM (
        SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS c
        FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ) WHERE c >= {_TRI_SUPPORT}
"""


@query(
    "part_triangle_count",
    triangle_oracle_sql(_TRI_EDGES_CTE),
    doc="Exact triangle count + global clustering coefficient over the "
    "SUPPORT-FILTERED part co-purchase graph (co-occurrence in >= "
    f"{_TRI_SUPPORT} orders — the raw co-occurrence graph is "
    "near-clique noise at avg degree ~120, so triangles are only "
    "meaningful, and wedge volume only bounded, on the repeated-"
    "affinity backbone). operators/graph.triangle_stats uses "
    "degree-ordered orientation (Suri & Vassilvitskii 2011 node "
    "iterator): every undirected edge is oriented from its "
    "(degree, id)-smaller endpoint, capping out-degree at O(sqrt(m)); "
    "wedges are a source-keyed self-join of the oriented edges "
    "(bounded by outdeg^2, immune to hub in-degree), and a triangle "
    "counts exactly once where the closing edge exists in the same "
    "orientation. All counts integer-exact; the clustering "
    "coefficient 3T/W is the only rounded value.",
)
def part_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = copurchase_edges_support(
        _t(spark, sf_dir, "lineitem"), min_support=_TRI_SUPPORT
    )
    return triangle_stats(edges)


# ---------------------------------------------------------------------------
# Remaining classic decision-support shapes: Q3 / Q4 / Q7 / Q8 / Q10 / Q13
# (adapted to this star schema: no shippriority/commitdate/partsupp columns)
# ---------------------------------------------------------------------------


@query(
    "ship_priority_revenue_topk",
    """
    SELECT l.l_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey ASC LIMIT 10
    """,
    doc="TPC-H Q3 shape (shipping priority): segment-filtered customers "
    "x date-bracketed orders x late-shipping lineitems, revenue per "
    "order, top-10. Both date filters push to their scans; customer is "
    "a broadcast dim so only the orders->lineitem equi-join shuffles; "
    "the top-k is TakeOrderedAndProject on the rounded revenue.",
)
def ship_priority_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "late_shipment_priority_check",
    """
    SELECT o.o_orderpriority, count(*)::BIGINT AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape (order priority checking), adapted: EXISTS on a "
    "correlated non-equi predicate — at least one lineitem shipped more "
    "than 60 days after the order date (the schema has no "
    "commit/receipt dates). Spark plans a LEFT SEMI hash join on the "
    "order key with the date comparison as a join residual: the quarter "
    "filter pushes to the orders scan and each order is emitted at most "
    "once regardless of matching lineitem count.",
)
def late_shipment_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


@query(
    "nation_pair_trade_volume",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate) AS ship_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS volume
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY supp_nation, cust_nation, ship_year
    """,
    doc="TPC-H Q7 shape (volume shipping): revenue flowing between a "
    "nation PAIR in both directions, by ship year. The disjunctive "
    "cross-side nation predicate cannot push to either scan alone, but "
    "every dim (supplier, customer, both nation roles) broadcasts, so "
    "the only shuffle is lineitem->orders; the pair filter prunes "
    "rows the moment both nation joins have resolved.",
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("volume")
        )
    )


@query(
    "nation_market_share",
    """
    WITH base AS (
        SELECT year(o.o_orderdate) AS order_year,
               l.l_extendedprice * (1 - l.l_discount) AS rev,
               n1.n_name AS supp_nation
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
        JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
        WHERE n2.n_regionkey = 1
    )
    SELECT order_year,
           round(sum(CASE WHEN supp_nation = 'NATION_1' THEN rev ELSE 0 END)
                 / sum(rev), 6) AS mkt_share,
           round(sum(rev), 2) AS total_rev
    FROM base GROUP BY order_year
    """,
    doc="TPC-H Q8 shape (national market share): NATION_1's share of "
    "revenue sold into region 1's customers, by order year — the "
    "conditional-fraction-of-aggregate pattern. All dims broadcast; "
    "one lineitem->orders shuffle then one year-keyed agg; the share "
    "divides two sums from the SAME aggregation, no second pass.",
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    cust_r1 = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                nation.where(F.col("n_regionkey") == 1).select("n_nationkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    base = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust_r1), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("order_year"),
            rev.alias("rev"),
            F.col("supp_nation"),
        )
    )
    return base.groupBy("order_year").agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", F.col("rev")).otherwise(0.0))
            / F.sum("rev"),
            6,
        ).alias("mkt_share"),
        F.round(F.sum("rev"), 2).alias("total_rev"),
    )


@query(
    "returned_items_by_customer",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS lost_revenue
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY lost_revenue DESC, c.c_custkey ASC LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned item reporting): revenue lost to "
    "returns per customer over a half-year window, top-20 with their "
    "nation. Return-flag and date filters push to the lineitem/orders "
    "scans before the join; customer+nation broadcast; "
    "TakeOrderedAndProject top-k on the rounded revenue with custkey "
    "tie-break.",
)
def returned_items_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("lost_revenue")
        )
        .orderBy(F.col("lost_revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@query(
    "customer_order_count_distribution",
    """
    SELECT c_count, count(*)::BIGINT AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey)::BIGINT AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13 shape (customer order distribution): LEFT join with "
    "a join-side filter (the filter lives in the ON clause, so "
    "customers with zero qualifying orders survive with count 0), then "
    "a second aggregation over the counts. Two integer-only hash aggs; "
    "the orders-side predicate prunes before the join build.",
)
def customer_order_count_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    )
    per_cust = (
        cust.join(
            orders, F.col("c_custkey") == F.col("o_custkey"), "left"
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# ---------------------------------------------------------------------------
# Statistical profiling: correlation matrix + mutual information
# ---------------------------------------------------------------------------

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_CORR_PAIRS = [
    (a, b)
    for i, a in enumerate(_CORR_COLS)
    for b in _CORR_COLS[i + 1 :]
]


@query(
    "lineitem_numeric_correlations",
    "\nUNION ALL\n".join(
        f"""SELECT '{a}' AS col_a, '{b}' AS col_b,
               round(corr({a}, {b}), 6) AS pearson_r FROM lineitem"""
        for a, b in _CORR_PAIRS
    ),
    doc="Pairwise Pearson correlation matrix over the lineitem numeric "
    "measures, melted to long form (col_a, col_b, pearson_r). All six "
    "coefficients come from ONE aggregate pass: per-partition co-moment "
    "partials combine map-side, a single 1-row exchange reaches the "
    "reduce — the canonical scalable shape for a p-column correlation "
    "profile (O(p^2) scalars per partial, never a second scan). The "
    "1-row stack() melt is driver-trivial. 6dp round matches the "
    "repo-wide float contract.",
)
def lineitem_numeric_correlations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    aggs = [
        F.round(F.corr(a, b), 6).alias(f"__c{i}")
        for i, (a, b) in enumerate(_CORR_PAIRS)
    ]
    stack_args = ", ".join(
        f"'{a}', '{b}', __c{i}" for i, (a, b) in enumerate(_CORR_PAIRS)
    )
    return li.agg(*aggs).select(
        F.expr(
            f"stack({len(_CORR_PAIRS)}, {stack_args}) "
            "AS (col_a, col_b, pearson_r)"
        )
    )


@query(
    "priority_status_mutual_info",
    """
    WITH o AS (
        SELECT o_orderpriority AS p, o_orderstatus AS s,
               count(*)::DOUBLE AS n
        FROM orders GROUP BY 1, 2
    ), tot AS (SELECT sum(n) AS t FROM o),
    rm AS (SELECT p, sum(n) AS rp FROM o GROUP BY p),
    cm AS (SELECT s, sum(n) AS cs FROM o GROUP BY s),
    hp AS (SELECT sum((rp / t) * ln(t / rp)) AS hp FROM rm CROSS JOIN tot),
    hs AS (SELECT sum((cs / t) * ln(t / cs)) AS hs FROM cm CROSS JOIN tot),
    mi AS (
        SELECT count(*) AS n_cells,
               sum((o.n / tot.t)
                   * ln(o.n * tot.t / (rm.rp * cm.cs))) AS mi
        FROM o JOIN rm USING (p) JOIN cm USING (s) CROSS JOIN tot
    )
    SELECT n_cells, round(mi, 6) AS mi_nats,
           round(mi / sqrt(hp * hs), 6) AS nmi
    FROM mi CROSS JOIN hp CROSS JOIN hs
    """,
    doc="Mutual information I(priority; status) in nats plus the "
    "entropy-normalized coefficient nmi = I / sqrt(H(p)*H(s)) — the "
    "information-theoretic complement to priority_status_chi2 (chi2 "
    "grows with n for a fixed dependence; MI does not). Same scale "
    "shape as chi2: the only full-table work is the first groupBy into "
    "a domain-bounded |p|x|s| contingency table; margins, total, and "
    "both entropies are broadcast joins/aggregates over that tiny "
    "table. Cell counts are integer-exact; only the two statistics are "
    "rounded.",
)
def priority_status_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("p"),
            F.col("o_orderstatus").alias("s"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    # margins, total, AND both entropies from windows over the
    # |p|x|s|<=15-row aggregate — one plan, one orders scan, no
    # materialization (same rationale as priority_status_chi2). Each
    # margin's entropy term must count ONCE per margin value, not once
    # per cell: the row_number-==-1 guard nominates one cell per
    # p-group (and per s-group) to carry that group's term.
    wall = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = o.select(
        "n",
        F.sum("n").over(Window.partitionBy("p")).alias("rp"),
        F.sum("n").over(Window.partitionBy("s")).alias("cs"),
        F.sum("n").over(wall).alias("t"),
        F.row_number().over(
            Window.partitionBy("p").orderBy("s")
        ).alias("rn_p"),
        F.row_number().over(
            Window.partitionBy("s").orderBy("p")
        ).alias("rn_s"),
    )
    mi_term = (F.col("n") / F.col("t")) * F.log(
        F.col("n") * F.col("t") / (F.col("rp") * F.col("cs"))
    )
    hp_term = F.when(
        F.col("rn_p") == 1,
        (F.col("rp") / F.col("t")) * F.log(F.col("t") / F.col("rp")),
    ).otherwise(F.lit(0.0))
    hs_term = F.when(
        F.col("rn_s") == 1,
        (F.col("cs") / F.col("t")) * F.log(F.col("t") / F.col("cs")),
    ).otherwise(F.lit(0.0))
    return w.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum(mi_term).alias("__mi"),
        F.sum(hp_term).alias("__hp"),
        F.sum(hs_term).alias("__hs"),
    ).select(
        "n_cells",
        F.round("__mi", 6).alias("mi_nats"),
        F.round(
            F.col("__mi") / F.sqrt(F.col("__hp") * F.col("__hs")), 6
        ).alias("nmi"),
    )


@query(
    "events_last_touch_attribution",
    """
    WITH ev AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CASE WHEN event_type IN ('click', 'view')
                    THEN event_type END AS touch,
               CASE WHEN event_type = 'purchase' THEN value END AS pval,
               event_type = 'purchase' AS is_p
        FROM events
        WHERE event_type IN ('click', 'view', 'purchase')
    ),
    attr AS (
        SELECT *,
               last_value(CASE WHEN touch IS NOT NULL THEN
                   struct_pack(tus := us, ch := touch) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS t
        FROM ev
    )
    SELECT CASE WHEN t IS NOT NULL AND us - t.tus <= 604800000000
                THEN t.ch ELSE 'none' END AS channel,
           count(*)::BIGINT AS n_purchases,
           round(sum(pval), 2) AS attributed_revenue
    FROM attr WHERE is_p GROUP BY 1
    """,
    doc="Marketing-style LAST-TOUCH attribution: each purchase is "
    "credited to the user's most recent click/view within a 7-day "
    "lookback, else 'none'. The conditional fill-forward is "
    "last(struct, ignorenulls) over ONE user-keyed ordered window — "
    "a single shuffle on user_id over only the three relevant event "
    "types (the filter prunes before the exchange), then a "
    "domain-bounded channel rollup. Microsecond epoch ordering "
    "(event_id tie-break) is exact in both engines; the window frame "
    "ends AT the purchase row, whose own touch is NULL, so a purchase "
    "never attributes to itself.",
)
def events_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        _events(spark, sf_dir)
        .where(F.col("event_type").isin("click", "view", "purchase"))
        .select(
            "user_id",
            "event_id",
            epoch_micros("ts").alias("us"),
            F.when(
                F.col("event_type").isin("click", "view"),
                F.col("event_type"),
            ).alias("touch"),
            F.when(
                F.col("event_type") == "purchase", F.col("value")
            ).alias("pval"),
            (F.col("event_type") == "purchase").alias("is_p"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_t = F.last(
        F.when(
            F.col("touch").isNotNull(),
            F.struct(F.col("us").alias("tus"), F.col("touch").alias("ch")),
        ),
        ignorenulls=True,
    ).over(w)
    attr = ev.withColumn("t", last_t).where("is_p")
    channel = F.when(
        F.col("t").isNotNull()
        & (F.col("us") - F.col("t.tus") <= 604_800_000_000),
        F.col("t.ch"),
    ).otherwise("none")
    return attr.groupBy(channel.alias("channel")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.round(F.sum("pval"), 2).alias("attributed_revenue"),
    )


@query(
    "events_user_skew_profile",
    """
    WITH c AS (
        SELECT user_id, count(*)::DOUBLE AS c
        FROM events GROUP BY user_id
    ),
    s AS (
        SELECT count(*)::BIGINT AS n_keys, sum(c) AS total, max(c) AS mx,
               list_sort(list(c)) AS ac, count(c) AS nc
        FROM c
    )
    SELECT n_keys, total::BIGINT AS total_rows, mx::BIGINT AS max_key_rows,
           round({p50}, 4) AS p50_key_rows,
           round({p99}, 4) AS p99_key_rows,
           round(mx / (total / n_keys), 4) AS max_over_mean,
           round(mx / total, 6) AS top1_share,
           ceil(mx / {p99})::BIGINT AS recommended_salt
    FROM s
    """.format(
        p50=spark_percentile_sql("ac", "nc", "0.5"),
        p99=spark_percentile_sql("ac", "nc", "0.99"),
    ),
    doc="Shuffle-skew diagnostic for the events stream's user_id key — "
    "the measurement half of the salted-join loop "
    "(salted_event_user_deviation applies the fix this profile sizes): "
    "per-key row counts, exact p50/p99 of the key-size distribution "
    "via the two-bounded-pass exact_quantiles_scalable (never a "
    "global sort or a distinct-cardinality counts map), max/mean skew "
    "ratio, hottest-key share, and a parameter-free salt "
    "recommendation ceil(max/p99) — split the hottest key into chunks "
    "the size of a p99 key. Oracle reads the same Spark-percentile "
    "interpolation via spark_percentile_sql.",
)
def events_user_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import exact_quantiles_scalable

    # feeds the stats agg AND the two-pass quantile
    counts = materialize(
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("double").alias("c")),
        "skew_counts", "reliable",
    )
    stats = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("c").alias("total"),
        F.max("c").alias("mx"),
    )
    q = exact_quantiles_scalable(counts, "c", [0.5, 0.99])
    return (
        stats.join(F.broadcast(q))
        .select(
            "n_keys",
            F.col("total").cast("bigint").alias("total_rows"),
            F.col("mx").cast("bigint").alias("max_key_rows"),
            F.round("q_0", 4).alias("p50_key_rows"),
            F.round("q_1", 4).alias("p99_key_rows"),
            F.round(
                F.col("mx") / (F.col("total") / F.col("n_keys")), 4
            ).alias("max_over_mean"),
            F.round(F.col("mx") / F.col("total"), 6).alias("top1_share"),
            F.ceil(F.col("mx") / F.col("q_1"))
            .cast("bigint")
            .alias("recommended_salt"),
        )
    )


@query(
    "orders_global_rownum_sample",
    """
    SELECT rn, o_orderkey FROM (
        SELECT o_orderkey,
               row_number() OVER (ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
    ) WHERE rn % 1000 = 0
    """,
    doc="Dense global row numbers 1..n over orders ordered by "
    "(o_orderdate, o_orderkey), verified by the systematic every-"
    "1000th-rank sample (rank + key pairs — any mis-assignment "
    "anywhere shifts a sampled pair). Implementation is "
    "relational.dense_row_numbers: range-partition on the order key, "
    "sort WITHIN partitions, per-partition row_number, and a "
    "#partitions-row offset table broadcast back — contiguous global "
    "sequence with NO single-reducer sort, boundary-invariant hence "
    "deterministic (the oracle is the plain global window, which is "
    "exactly the single-reducer form this operator replaces at "
    "100 TB).",
)
def orders_global_rownum_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import dense_row_numbers

    numbered = dense_row_numbers(
        _t(spark, sf_dir, "orders"), ["o_orderdate", "o_orderkey"]
    )
    return numbered.where(F.col("rn") % 1000 == 0).select("rn", "o_orderkey")


@query(
    "orders_constraint_suite",
    """
    WITH a AS (
        SELECT count(*)::DOUBLE AS n,
               count(o_custkey)::DOUBLE AS nck,
               count(DISTINCT o_orderkey)::DOUBLE AS nuk,
               sum((o_orderstatus IN ('O','F','P'))::INT)::DOUBLE AS ndom,
               sum((o_totalprice > 0)::INT)::DOUBLE AS npos,
               sum((o_orderdate >= DATE '1992-01-01'
                    AND o_orderdate < DATE '1999-01-01')::INT)::DOUBLE
                   AS ndate
        FROM orders
    )
    SELECT * FROM (
        SELECT 'completeness_custkey' AS constraint, round(nck / n, 6)
               AS metric, nck = n AS passed FROM a
        UNION ALL SELECT 'uniqueness_orderkey', round(nuk / n, 6),
               nuk = n FROM a
        UNION ALL SELECT 'domain_orderstatus', round(ndom / n, 6),
               ndom = n FROM a
        UNION ALL SELECT 'positive_totalprice', round(npos / n, 6),
               npos = n FROM a
        UNION ALL SELECT 'daterange_orderdate', round(ndate / n, 6),
               ndate = n FROM a
    )
    """,
    doc="Deequ-style declarative constraint suite verified in ONE "
    "aggregate pass over orders (completeness, key uniqueness, value "
    "domain, sign, date range), emitted long-form as (constraint, "
    "metric, passed) — the single-scan form production DQ frameworks "
    "compile to, vs one job per check. Map-side partials carry five "
    "counters (the distinct-count is the only shuffled state); the "
    "verdict compares integer-exact counts. Complements the "
    "referential check in fk_integrity_audit and the per-column "
    "profiles in null_profile_orders.",
)
def orders_constraint_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    a = o.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.count("o_custkey").cast("double").alias("nck"),
        F.countDistinct("o_orderkey").cast("double").alias("nuk"),
        F.sum(
            F.col("o_orderstatus").isin("O", "F", "P").cast("int")
        ).cast("double").alias("ndom"),
        F.sum((F.col("o_totalprice") > 0).cast("int"))
        .cast("double")
        .alias("npos"),
        F.sum(
            (
                (F.col("o_orderdate") >= F.lit("1992-01-01").cast("date"))
                & (F.col("o_orderdate") < F.lit("1999-01-01").cast("date"))
            ).cast("int")
        ).cast("double").alias("ndate"),
    )
    checks = [
        ("completeness_custkey", "nck"),
        ("uniqueness_orderkey", "nuk"),
        ("domain_orderstatus", "ndom"),
        ("positive_totalprice", "npos"),
        ("daterange_orderdate", "ndate"),
    ]
    stacked = ", ".join(
        f"'{name}', round({c} / n, 6), {c} = n" for name, c in checks
    )
    return a.select(
        F.expr(
            f"stack({len(checks)}, {stacked}) AS (constraint, metric, passed)"
        )
    )


@query(
    "order_value_distribution_scalable",
    # placeholder: order_value_distribution registers AFTER this module
    # imports; queries.py late-binds its oracle onto this entry so the
    # two queries share one oracle text verbatim
    "__LATE_BOUND__",
    doc="The 100 TB twin of order_value_distribution, and the proof "
    "that dense_row_numbers replaces the single-reducer global window "
    "EXACTLY: because the window order carries a unique tie-break, "
    "rank == dense rn, so ntile(10) (ceil/floor bucket arithmetic on "
    "rn and the broadcast total), percent_rank ((rn-1)/(n-1)) and "
    "cume_dist (rn/n) are all closed-form in rn — no global sort "
    "anywhere (range partition + within-partition sorts only). The "
    "ORACLE IS order_value_distribution's oracle, so the driver "
    "certifies bit-equality of the two plans' outputs.",
)
def order_value_distribution_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.relational import dense_row_numbers

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    numbered = dense_row_numbers(orders, ["o_totalprice", "o_orderkey"])
    tot = orders.agg(F.count(F.lit(1)).alias("nn"))
    k = 10
    j = numbered.join(F.broadcast(tot))
    q, r = F.floor(F.col("nn") / k), F.col("nn") % k
    big = q + 1
    decile = F.when(
        F.col("rn") <= r * big, F.floor((F.col("rn") - 1) / big) + 1
    ).otherwise(r + F.floor((F.col("rn") - r * big - 1) / q) + 1)
    ranked = j.select(
        "o_totalprice",
        decile.cast("int").alias("decile"),
        ((F.col("rn") - 1) / (F.col("nn") - 1)).alias("pr"),
        (F.col("rn") / F.col("nn")).alias("cd"),
    )
    return ranked.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
        F.round(F.avg("pr"), 6).alias("avg_percent_rank"),
        F.round(F.avg("cd"), 6).alias("avg_cume_dist"),
    )


@query(
    "customer_revenue_gini",
    """
    WITH rev AS (
        SELECT o_custkey, round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    ),
    c AS (SELECT o_custkey, round(revenue * 100)::BIGINT AS cents FROM rev),
    r AS (SELECT cents,
                 row_number() OVER (ORDER BY cents, o_custkey) AS rn
          FROM c),
    s AS (SELECT count(*)::BIGINT AS n, sum(cents) AS s0,
                 sum(rn * cents) AS s1
          FROM r)
    SELECT n AS n_customers, round(s0 / 100.0, 2) AS total_revenue,
           round((2.0 * s1) / (n * s0) - (n + 1.0) / n, 6) AS gini
    FROM s
    """,
    doc="Revenue-concentration Gini coefficient over per-customer "
    "revenue via the rank formula G = 2*sum(i*x_i)/(n*sum(x)) - "
    "(n+1)/n. Ranks come from dense_row_numbers (range partition + "
    "within-partition sorts — no single-reducer window; the oracle IS "
    "that single-reducer window), and the rank order is "
    "tie-invariant for the formula, so the unique custkey tie-break "
    "changes nothing. All sums run in integer CENTS (exact, "
    "order-independent — no float-summation ulp can flip the 6dp "
    "round); magnitudes stay far below int64.",
)
def customer_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import dense_row_numbers

    rev = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        .select(
            "o_custkey",
            F.round(F.col("revenue") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    r = dense_row_numbers(rev, ["cents", "o_custkey"])
    s = r.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").alias("s0"),
        F.sum(F.col("rn") * F.col("cents")).alias("s1"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("s0") / 100.0, 2).alias("total_revenue"),
        F.round(
            (F.lit(2.0) * F.col("s1")) / (F.col("n") * F.col("s0"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


_PSI_PROBS = [i / 10 for i in range(1, 10)]


@query(
    "order_price_psi_by_year",
    f"""
    WITH y AS (
        SELECT year(o_orderdate) AS yr, o_totalprice AS x FROM orders
    ),
    ref AS (SELECT x FROM y WHERE yr = (SELECT min(yr) FROM y)),
    q AS (
        SELECT list_sort(list(x)) AS a, count(x) AS n FROM ref
    ),
    cuts AS (
        SELECT {", ".join(
            f"round({spark_percentile_sql('a', 'n', str(p))}, 4) AS c{i}"
            for i, p in enumerate(_PSI_PROBS)
        )}
        FROM q
    ),
    binned AS (
        SELECT yr, 1 {" ".join(f"+ (x > c{i})::INT" for i in range(9))}
               AS bin
        FROM y CROSS JOIN cuts
    ),
    shares AS (
        SELECT yr, bin, count(*)::DOUBLE
               / sum(count(*)) OVER (PARTITION BY yr) AS s
        FROM binned GROUP BY yr, bin
    ),
    refshare AS (
        SELECT bin, s AS p FROM shares
        WHERE yr = (SELECT min(yr) FROM y)
    ),
    grid AS (
        SELECT yr, bin FROM (SELECT DISTINCT yr FROM y)
        CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS bin)
    ),
    filled AS (
        SELECT g.yr,
               greatest(coalesce(sh.s, 0.0), 1e-6) AS s,
               greatest(coalesce(r.p, 0.0), 1e-6) AS p
        FROM grid g
        LEFT JOIN shares sh ON sh.yr = g.yr AND sh.bin = g.bin
        LEFT JOIN refshare r ON r.bin = g.bin
    )
    SELECT yr, round(sum((s - p) * ln(s / p)), 6) AS psi,
           CASE WHEN sum((s - p) * ln(s / p)) < 0.1 THEN 'stable'
                WHEN sum((s - p) * ln(s / p)) < 0.25 THEN 'moderate'
                ELSE 'major' END AS band
    FROM filled GROUP BY yr
    """,
    doc="Population Stability Index of the order-price distribution, "
    "per year against the earliest year — the standard ML-ops drift "
    "gate (industry bands: <0.1 stable, <0.25 moderate, else major). "
    "Reference-year decile cutpoints come from the two-bounded-pass "
    "exact_quantiles_scalable (broadcast 1-row), bin assignment is a "
    "codegen comparison chain (no window over the fact), shares are "
    "one (yr, bin) aggregate, and the 10-bin-per-year PSI fold is "
    "domain-bounded. Empty bins clamp at 1e-6 on both engines "
    "(identically, so the oracle replays the clamp).",
)
def order_price_psi_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import exact_quantiles_scalable

    y = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("yr"), F.col("o_totalprice").alias("x")
    )
    # ONE driver fetch of the reference year: re-embedding min(yr)
    # as a plan LITERAL turns the reference slice into a plain filter
    # — the broadcast-join of the 1-row aggregate used to be
    # re-evaluated by EVERY consumer of ref (both quantile passes ×2
    # scans + the share lookup), one broadcast job each (optimization
    # r12, guide §2.4/§6)
    mny = y.agg(F.min("yr").alias("miny")).first()["miny"]
    ref = y.where(F.col("yr") == F.lit(mny))
    cuts = exact_quantiles_scalable(ref, "x", _PSI_PROBS).select(
        *[F.round(f"q_{i}", 4).alias(f"c{i}") for i in range(9)]
    )
    binned = y.join(F.broadcast(cuts)).select(
        "yr",
        sum(
            [(F.col("x") > F.col(f"c{i}")).cast("int") for i in range(9)],
            F.lit(1),
        ).alias("bin"),
    )
    # feeds the grid fill AND the reference share; |years*bins| rows
    # (<=~50 at any SF: ~years x 10 bins)
    shares = materialize(
        binned.groupBy("yr", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "s",
            F.col("cnt")
            / F.sum("cnt").over(Window.partitionBy("yr")),
        ),
        "psi_shares", "small", max_rows=2048,
    )
    refshare = shares.where(F.col("yr") == F.lit(mny)).select(
        "bin", F.col("s").alias("p")
    )
    # Year domain from the |years*bins|-row materialized aggregate (every
    # year has >=1 order so appears in shares) — NOT a distinct over the
    # fact, which would be a 5th full scan plus a shuffle at 100 TB.
    grid = (
        shares.select("yr")
        .distinct()
        .crossJoin(F.broadcast(spark_range_bins(y.sparkSession, 10)))
    )
    filled = (
        grid.join(shares.select("yr", "bin", "s"), ["yr", "bin"], "left")
        .join(F.broadcast(refshare), "bin", "left")
        .select(
            "yr",
            F.greatest(F.coalesce("s", F.lit(0.0)), F.lit(1e-6)).alias("s"),
            F.greatest(F.coalesce("p", F.lit(0.0)), F.lit(1e-6)).alias("p"),
        )
    )
    term = (F.col("s") - F.col("p")) * F.log(F.col("s") / F.col("p"))
    psi = F.sum(term)
    return filled.groupBy("yr").agg(
        F.round(psi, 6).alias("psi"),
        F.when(psi < 0.1, "stable")
        .when(psi < 0.25, "moderate")
        .otherwise("major")
        .alias("band"),
    )


def spark_range_bins(spark: SparkSession, n: int) -> DataFrame:
    """1..n bin-id dimension (driver-literal, broadcastable)."""
    return spark.range(1, n + 1).select(
        F.col("id").cast("int").alias("bin")
    )


_NEYMAN_TOTAL = 1000


@query(
    "orders_neyman_allocation",
    f"""
    WITH s AS (
        SELECT o_orderpriority AS stratum,
               count(*)::BIGINT AS n_h,
               round(stddev_samp(o_totalprice), 6) AS s_h
        FROM orders GROUP BY 1
    ),
    w AS (
        SELECT stratum, n_h, s_h, n_h * s_h AS wt,
               sum(n_h * s_h) OVER () AS tot
        FROM s
    ),
    fl AS (
        SELECT stratum, n_h, s_h,
               floor({_NEYMAN_TOTAL} * wt / tot)::BIGINT AS base,
               {_NEYMAN_TOTAL} * wt / tot
                   - floor({_NEYMAN_TOTAL} * wt / tot) AS frac
        FROM w
    ),
    r AS (
        SELECT *,
               row_number() OVER (ORDER BY frac DESC, stratum) AS rk,
               {_NEYMAN_TOTAL} - sum(base) OVER () AS leftover
        FROM fl
    )
    SELECT stratum, n_h, s_h,
           (base + (rk <= leftover)::INT)::BIGINT AS alloc_h
    FROM r
    """,
    doc="Neyman (variance-optimal) stratified-sample allocation: a "
    f"{_NEYMAN_TOTAL}-row budget split across order-priority strata "
    "proportionally to N_h*S_h (stddev_samp of o_totalprice), with "
    "deterministic largest-remainder rounding (frac desc, stratum "
    "tie-break) so allocations sum EXACTLY to the budget. The only "
    "full-table work is one grouped aggregate (count + stddev "
    "partials); everything after runs on the |strata|-row table, "
    "where the global windows are domain-bounded. Complements the "
    "proportional/weighted samplers in operators/sampling.py with the "
    "design step that decides how much to draw from each stratum.",
)
def orders_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("stratum"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_h"),
            F.round(F.stddev_samp("o_totalprice"), 6).alias("s_h"),
        )
    )
    # |strata| rows (5 priorities); feeds two window consumers
    s = materialize(s, "neyman_strata", "small", max_rows=64)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w = s.select(
        "*",
        (F.col("n_h") * F.col("s_h")).alias("wt"),
        F.sum(F.col("n_h") * F.col("s_h")).over(wall).alias("tot"),
    )
    target = F.lit(_NEYMAN_TOTAL) * F.col("wt") / F.col("tot")
    fl = w.select(
        "stratum",
        "n_h",
        "s_h",
        F.floor(target).cast("bigint").alias("base"),
        (target - F.floor(target)).alias("frac"),
    )
    r = fl.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("frac").desc(), F.col("stratum")))
        .alias("rk"),
        (F.lit(_NEYMAN_TOTAL) - F.sum("base").over(wall)).alias("leftover"),
    )
    return r.select(
        "stratum",
        "n_h",
        "s_h",
        (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("int"))
        .cast("bigint")
        .alias("alloc_h"),
    )


@query(
    "events_seasonal_anomalies",
    """
    WITH e AS (
        SELECT date_part('isodow', ts)::INT AS dow,
               date_part('hour', ts)::INT AS hr, value AS v
        FROM events WHERE event_type = 'view'
    ),
    b AS (
        SELECT dow, hr, round(avg(v), 6) AS m,
               round(stddev_samp(v), 6) AS s
        FROM e GROUP BY dow, hr
    )
    SELECT e.dow, e.hr, count(*)::BIGINT AS n_events,
           sum((abs((e.v - b.m) / b.s) >= 3)::INT)::BIGINT AS n_anomalies,
           round(max(abs((e.v - b.m) / b.s)), 4) AS max_abs_z
    FROM e JOIN b USING (dow, hr)
    WHERE b.s > 0
    GROUP BY e.dow, e.hr
    """,
    doc="Seasonal-baseline anomaly monitor: each view event scored "
    "against ITS OWN (iso-weekday, hour) cell's mean/stddev — the "
    "group-conditional complement to events_zscore_anomalies' "
    "per-type baseline, catching values that are normal globally but "
    "anomalous for 3am-Sunday. The baseline is a 168-cell aggregate "
    "broadcast back onto the fact (never a window over the fact); "
    "mean/stddev round 6dp BEFORE scoring so the z threshold compares "
    "identical doubles in both engines. ISO weekday "
    "(weekday(ts)+1 in Spark = isodow in DuckDB) dodges the "
    "dayofweek origin mismatch.",
)
def events_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            (F.weekday("ts") + 1).cast("int").alias("dow"),
            F.hour("ts").cast("int").alias("hr"),
            F.col("value").alias("v"),
        )
    )
    b = e.groupBy("dow", "hr").agg(
        F.round(F.avg("v"), 6).alias("m"),
        F.round(F.stddev_samp("v"), 6).alias("s"),
    )
    z = F.abs((F.col("v") - F.col("m")) / F.col("s"))
    return (
        e.join(F.broadcast(b), ["dow", "hr"])
        .where(F.col("s") > 0)
        .groupBy("dow", "hr")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum((z >= 3).cast("int")).cast("bigint").alias("n_anomalies"),
            F.round(F.max(z), 4).alias("max_abs_z"),
        )
    )


@query(
    "customer_survival_curve",
    """
    WITH h AS (SELECT max(o_orderdate::DATE) AS hmax FROM orders),
    c AS (
        SELECT o_custkey,
               datediff('day', min(o_orderdate::DATE),
                        max(o_orderdate::DATE)) AS tenure,
               (datediff('day', max(o_orderdate::DATE), hmax) > 90)::INT
                   AS churned
        FROM orders CROSS JOIN h
        GROUP BY o_custkey, hmax
    ),
    t AS (
        SELECT tenure AS t,
               sum(churned)::BIGINT AS d,
               sum(1 - churned)::BIGINT AS cns
        FROM c GROUP BY tenure
    ),
    k AS (
        SELECT t, d, cns,
               (sum(d + cns) OVER ()
                   - coalesce(sum(d + cns) OVER (
                         ORDER BY t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                     ), 0))::BIGINT AS n_risk
        FROM t
    ),
    s AS (
        SELECT t, d, cns, n_risk,
               round(exp(sum(round(ln(greatest(1.0 - d::DOUBLE / n_risk,
                                              1e-12)), 8)) OVER (
                   ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               )), 6) AS survival
        FROM k
    )
    SELECT t AS tenure_days, d AS n_churned, cns AS n_censored,
           n_risk, survival
    FROM s WHERE d > 0
    """,
    doc="Kaplan-Meier survival curve of customer lifetime (days between "
    "first and last order), right-censoring customers still active in "
    "the final 90 days before the corpus horizon — the standard "
    "churn-analysis estimator, S(t) = prod_{t_i<=t}(1 - d_i/n_i). The "
    "only fact-table work is one custkey-grouped aggregate; everything "
    "after runs on the distinct-tenure table, bounded by the day-level "
    "date domain (a few thousand rows at any data scale), where the "
    "ordered windows are domain-bounded, not data-scaled. Survival "
    "factors enter the product as round(ln(1-d/n), 8) — d/n is an "
    "exact int-ratio division, ln is the one libm-dependent step and "
    "is rounded before the deterministic ordered cumulative sum "
    "(the BM25-idf convention), then exp+round(6) on both engines.",
)
def customer_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import kaplan_meier

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderdate").cast("date").alias("d")
    )
    # aggregate per customer FIRST: the custkey shuffle carries only
    # (custkey, d) fact rows; the horizon is then max(last_d) over the
    # customer table (same value as max over the fact) broadcast onto
    # the aggregate — no constant column widens the fact shuffle and
    # the fact is scanned exactly once
    # feeds the horizon agg AND the scoring
    c0 = materialize(
        o.groupBy("o_custkey")
        .agg(F.min("d").alias("first_d"), F.max("d").alias("last_d")),
        "surv_c0", "reliable",
    )
    h = c0.agg(F.max("last_d").alias("hmax"))
    c = c0.join(F.broadcast(h)).select(
        F.datediff("last_d", "first_d").alias("tenure"),
        (F.datediff("hmax", "last_d") > 90).cast("int").alias("churned"),
    )
    km = kaplan_meier(c, "tenure", "churned")
    return km.where(F.col("d") > 0).select(
        F.col("duration").alias("tenure_days"),
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        "n_risk",
        "survival",
    )


@query(
    "supplier_part_mutual_best",
    """
    WITH rev AS (
        SELECT l_suppkey, l_partkey,
               sum(round(l_extendedprice * 100)::BIGINT
                   * round((1 - l_discount) * 100)::BIGINT)::BIGINT
                   AS rev_e4
        FROM lineitem GROUP BY 1, 2
    ),
    r AS (
        SELECT *,
               row_number() OVER (PARTITION BY l_suppkey
                                  ORDER BY rev_e4 DESC, l_partkey) AS r1,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY rev_e4 DESC, l_suppkey) AS r2
        FROM rev
    )
    SELECT s_suppkey AS suppkey, s_name, p_partkey AS partkey, p_name,
           ((rev_e4 + 50) // 100) / 100.0 AS revenue
    FROM r
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN part ON p_partkey = l_partkey
    WHERE r1 = 1 AND r2 = 1
    """,
    doc="Reciprocal best match: (supplier, part) pairs where the part "
    "is that supplier's top-revenue part AND the supplier is that "
    "part's top-revenue supplier — the mutual-best join used for "
    "stable assignment seeding and entity reconciliation. Both ranks "
    "are per-group top-1 windows over the SAME (suppkey, partkey) "
    "aggregate (vocab-sized, never the fact); dimension lookups "
    "broadcast. Extends the one-sided W1 flagship "
    "(best_part_by_supplier) to the bidirectional fixpoint. "
    "Determinism (r7 fix, caught by the full-registry sf0.1 parity "
    "sweep): revenue folds as EXACT integer e4 units (2dp price x "
    "2dp discount factor), ranks compare those exact integers, and "
    "the display rounds to cents with integer HALF_UP ((x+50) DIV "
    "100) — the old float sum + round(2) hit a genuine half-tie at "
    "sf0.1 (…:585 exactly) where the engines' round() disagree.",
)
def supplier_part_mutual_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            * F.round((1 - F.col("l_discount")) * 100).cast("bigint")
        )
        .cast("bigint")
        .alias("rev_e4")
    )
    r1 = Window.partitionBy("l_suppkey").orderBy(
        F.col("rev_e4").desc(), "l_partkey"
    )
    r2 = Window.partitionBy("l_partkey").orderBy(
        F.col("rev_e4").desc(), "l_suppkey"
    )
    mutual = (
        rev.select(
            "*",
            F.row_number().over(r1).alias("r1"),
            F.row_number().over(r2).alias("r2"),
        )
        .where((F.col("r1") == 1) & (F.col("r2") == 1))
    )
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    prt = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        mutual.join(
            F.broadcast(sup), mutual.l_suppkey == sup.s_suppkey
        )
        .join(F.broadcast(prt), mutual.l_partkey == prt.p_partkey)
        .select(
            F.col("s_suppkey").alias("suppkey"),
            "s_name",
            F.col("p_partkey").alias("partkey"),
            "p_name",
            # integer HALF_UP to cents, then one exact display division
            (
                F.expr("(rev_e4 + 50) div 100") / 100.0
            ).alias("revenue"),
        )
    )


@query(
    "events_histogram_merge_quantiles",
    """
    WITH v AS (
        SELECT date_trunc('week', ts)::DATE AS wk, value AS x
        FROM events WHERE event_type = 'purchase'
    ),
    b AS (
        SELECT min(x) AS lo,
               greatest((max(x) - min(x)) / 128.0, 1e-12) AS w
        FROM v
    ),
    sk AS (
        SELECT wk, least(floor((x - lo) / w)::INT, 127) AS bin,
               count(*)::BIGINT AS cnt
        FROM v CROSS JOIN b GROUP BY 1, 2
    ),
    cum AS (
        SELECT wk, bin, cnt,
               sum(cnt) OVER (PARTITION BY wk ORDER BY bin
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
               (sum(cnt) OVER (PARTITION BY wk))::BIGINT AS n
        FROM sk
    ),
    est AS (
        SELECT wk, n,
               min(CASE WHEN cum >= 0.5 * n THEN bin END) AS b50,
               min(CASE WHEN cum >= 0.9 * n THEN bin END) AS b90
        FROM cum GROUP BY wk, n
    )
    SELECT strftime(wk, '%Y-%m-%d') AS week, n AS n_events,
           round(lo + (b50 + 0.5) * w, 6) AS est_p50,
           round(lo + (b90 + 0.5) * w, 6) AS est_p90,
           round(w, 6) AS bin_width
    FROM est CROSS JOIN b
    """,
    doc="Mergeable equi-width histogram sketch: purchase values bin "
    "into 128 fixed buckets (global min/width from one 2-scalar "
    "pass), per-DAY (wk, bin, cnt) sketch rows MAX-128-row relations "
    "SUM-merge into weekly histograms, and p50/p90 read off the "
    "merged cumulative counts at half-bin precision (error bound = "
    "bin_width/2) — the quantile analogue of the HLL register family: "
    "per-partition/per-day sketches roll up to any coarser grain "
    "without re-touching the fact. Spark builds day sketches and "
    "merges them; the oracle bins per week directly — identical "
    "counts by associativity of the bin-count SUM, which is the "
    "mergeability property under test. Bin ids use exact-double "
    "(x-lo)/w with identical operands; the week-domain windows are "
    "128-row bounded.",
)
def events_histogram_merge_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    v = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("ts").cast("date").alias("day"),
            F.col("value").alias("x"),
        )
    )
    # 1 row; feeds binning AND the final readout
    b = materialize(
        v.agg(
            F.min("x").alias("lo"),
            F.greatest(
                (F.max("x") - F.min("x")) / F.lit(128.0), F.lit(1e-12)
            ).alias("w"),
        ),
        "hist_bounds", "small", max_rows=4,
    )
    day_sketch = (
        v.join(F.broadcast(b))
        .select(
            "day",
            F.least(
                F.floor((F.col("x") - F.col("lo")) / F.col("w")).cast("int"),
                F.lit(127),
            ).alias("bin"),
        )
        .groupBy("day", "bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    # the merge step: day-grain sketches SUM into week-grain sketches
    wk_sketch = day_sketch.groupBy(
        F.date_trunc("week", F.col("day")).cast("date").alias("wk"), "bin"
    ).agg(F.sum("cnt").cast("bigint").alias("cnt"))
    wcum = Window.partitionBy("wk").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy("wk")
    cum = wk_sketch.select(
        "wk",
        "bin",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    est = cum.groupBy("wk", "n").agg(
        F.min(
            F.when(F.col("cum") >= 0.5 * F.col("n"), F.col("bin"))
        ).alias("b50"),
        F.min(
            F.when(F.col("cum") >= 0.9 * F.col("n"), F.col("bin"))
        ).alias("b90"),
    )
    return est.join(F.broadcast(b)).select(
        F.date_format("wk", "yyyy-MM-dd").alias("week"),
        F.col("n").alias("n_events"),
        F.round(F.col("lo") + (F.col("b50") + 0.5) * F.col("w"), 6).alias(
            "est_p50"
        ),
        F.round(F.col("lo") + (F.col("b90") + 0.5) * F.col("w"), 6).alias(
            "est_p90"
        ),
        F.round("w", 6).alias("bin_width"),
    )


@query(
    "embedding_int8_quantization",
    """
    WITH v AS (
        SELECT vec_id, label, embedding,
               list_max(list_transform(embedding,
                        x -> abs(x::DOUBLE))) / 127.0 AS s
        FROM embeddings
    ),
    e AS (
        SELECT label, s,
               list_max(list_transform(embedding,
                   x -> abs(x::DOUBLE
                            - round(x::DOUBLE / s, 0) * s))) AS vec_err
        FROM v WHERE s > 0
    ),
    q AS (
        SELECT label, vec_err,
               CAST(round(s * 1e9, 0) AS BIGINT) AS s9,
               CAST(round(vec_err * 1e9, 0) AS BIGINT) AS e9
        FROM e
    )
    SELECT label, count(*)::BIGINT AS n_vecs,
           round(sum(s9)::DOUBLE / count(*) / 1e9, 8) AS avg_scale,
           round(sum(e9)::DOUBLE / count(*) / 1e9, 8) AS avg_max_abs_err,
           round(max(vec_err), 9) AS worst_abs_err
    FROM q GROUP BY label
    """,
    doc="Symmetric int8 quantization audit for the embedding column: "
    "per-vector scale max|x|/127, reconstruction error "
    "|x - round(x/s)*s| reduced per vector by MAX (order-free, so "
    "bit-identical across engines), then per-label error/scale "
    "profiles — the go/no-go readout before shipping a quantized ANN "
    "index (PQ's scalar-quantization sibling). All per-vector work is "
    "map-side array transforms (no explode, no shuffle of elements); "
    "the only exchange is the label-grouped aggregate. Cross-vector "
    "averages quantize to 1e-9 BIGINTs before summing, so group sums "
    "are exact integers in any shuffle order.",
)
def embedding_int8_quantization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        "embedding",
        (
            F.array_max(
                F.transform(
                    "embedding", lambda x: F.abs(x.cast("double"))
                )
            )
            / 127.0
        ).alias("s"),
    ).where(F.col("s") > 0)
    vec_err = F.array_max(
        F.transform(
            "embedding",
            lambda x: F.abs(
                x.cast("double")
                - F.round(x.cast("double") / F.col("s"), 0) * F.col("s")
            ),
        )
    )
    q = v.select(
        "label",
        vec_err.alias("vec_err"),
        F.round(F.col("s") * 1e9, 0).cast("bigint").alias("s9"),
        F.round(vec_err * 1e9, 0).cast("bigint").alias("e9"),
    )
    n = F.count(F.lit(1))
    return q.groupBy("label").agg(
        n.cast("bigint").alias("n_vecs"),
        F.round(F.sum("s9").cast("double") / n / 1e9, 8).alias("avg_scale"),
        F.round(F.sum("e9").cast("double") / n / 1e9, 8).alias(
            "avg_max_abs_err"
        ),
        F.round(F.max("vec_err"), 9).alias("worst_abs_err"),
    )


@query(
    "customer_cohort_ltv",
    """
    WITH f AS (
        SELECT o_custkey,
               date_trunc('month', min(o_orderdate))::DATE AS cohort
        FROM orders GROUP BY 1
    ),
    size_ AS (
        SELECT cohort, count(*)::BIGINT AS cohort_customers
        FROM f GROUP BY cohort
    ),
    rev AS (
        SELECT f.cohort,
               datediff('month', f.cohort,
                        date_trunc('month', o.o_orderdate)::DATE) AS age,
               count(*)::BIGINT AS n_orders,
               round(sum(o.o_totalprice), 2) AS revenue
        FROM orders o JOIN f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort, age, n_orders,
               round(sum(revenue) OVER (PARTITION BY cohort ORDER BY age
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     2) AS cum_revenue
        FROM rev
    )
    SELECT strftime(c.cohort, '%Y-%m') AS cohort_month, c.age AS age_months,
           c.n_orders, c.cum_revenue, s.cohort_customers,
           (CAST(round(c.cum_revenue * 100, 0) AS BIGINT)
            // s.cohort_customers)::DOUBLE / 100.0 AS ltv_per_customer
    FROM cum c JOIN size_ s ON c.cohort = s.cohort
    WHERE c.age <= 12
    """,
    doc="Cohort lifetime-value curve: customers cohorted by first-order "
    "month, cumulative revenue per cohort tracked by account age in "
    "months and normalized per cohort member — the revenue complement "
    "to events_cohort_retention's activity curves. The fact shuffles "
    "once onto custkey for first-order dates, once onto (cohort, age) "
    "for revenue cells; the cumulative window and the per-customer "
    "normalization run on the months-domain-bounded cohort-age grid "
    "(a few thousand cells at any data scale) with the cohort-size "
    "table broadcast. Revenue rounds 2dp at the cell and again after "
    "the ordered cumulative fold (deterministic ascending-age order), "
    "the repo-wide float contract.",
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    f = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min("o_orderdate"))
        .cast("date")
        .alias("cohort")
    )
    size_ = f.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_customers")
    )
    rev = (
        o.join(f, "o_custkey")
        .groupBy(
            "cohort",
            F.months_between(
                F.date_trunc("month", F.col("o_orderdate")).cast("date"),
                F.col("cohort"),
            )
            .cast("int")
            .alias("age"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )
    wcum = Window.partitionBy("cohort").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = rev.select(
        "cohort",
        "age",
        "n_orders",
        F.round(F.sum("revenue").over(wcum), 2).alias("cum_revenue"),
    )
    return (
        cum.join(F.broadcast(size_), "cohort")
        .where(F.col("age") <= 12)
        .select(
            F.date_format("cohort", "yyyy-MM").alias("cohort_month"),
            F.col("age").alias("age_months"),
            "n_orders",
            "cum_revenue",
            "cohort_customers",
            # integer-cent floor division (`div`): exact at any scale,
            # and no round() tie semantics to disagree on across engines
            # (a /cohort_size quotient lands on 4dp half-boundaries)
            (
                F.expr(
                    "cast(round(cum_revenue * 100, 0) as bigint)"
                    " div cohort_customers"
                ).cast("double")
                / 100.0
            ).alias("ltv_per_customer"),
        )
    )


@query(
    "part_two_hop_reach",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    edges AS (
        SELECT DISTINCT a.pk AS src, b.pk AS dst
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk <> b.pk
    ),
    deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
    seeds AS (
        SELECT src AS seed, deg FROM deg ORDER BY deg DESC, src LIMIT 5
    ),
    h1 AS (SELECT seed, dst AS node FROM seeds JOIN edges ON src = seed),
    h2 AS (
        SELECT h1.seed, e.dst AS node
        FROM h1 JOIN edges e ON e.src = h1.node
    ),
    r AS (SELECT seed, node FROM h1 UNION SELECT seed, node FROM h2),
    agg1 AS (
        SELECT seed, count(DISTINCT node)::BIGINT AS n_1hop
        FROM h1 GROUP BY seed
    ),
    agg2 AS (
        SELECT seed, count(DISTINCT node)::BIGINT AS n_2hop
        FROM r WHERE node <> seed GROUP BY seed
    )
    SELECT seeds.seed AS partkey, seeds.deg AS degree, n_1hop, n_2hop
    FROM seeds JOIN agg1 USING (seed) JOIN agg2 USING (seed)
    """,
    doc="Bounded-hop reachability: distinct co-purchase neighbors "
    "within 1 and <=2 hops of the 5 highest-degree hub parts — the "
    "blast-radius audit run before recall expansion or contagion "
    "analysis. Seeds resolve via top-k on the degree aggregate "
    "(TakeOrderedAndProject, deg/key tie-broken), then BROADCAST so "
    "the first edge join is seed-pruned BEFORE any expansion; the "
    "second hop joins the frontier on the node key and dedups via "
    "grouped count(DISTINCT). Edges come from operators/graph.py's "
    "in-row basket pairing (fan-out bounded by order size). The hop-1 "
    "frontier h1 is broadcast into hop 2 unconditionally; its bound is "
    "5 x the largest part degree, and a degree is at most |part| - 1 "
    "(the catalog, not the fact table). On TPC-H data the degree is "
    "lines per part x (basket size - 1), which does not grow with the "
    "scale factor: max degree 206 at sf0.01 and 222 at sf0.1, h1 964 "
    "and 1,101 rows. At corpus scale the frontier of a mega-hub can "
    "approach the catalog — production caps it per seed (top-k by edge "
    "weight) before hop 2; with 5 seeds the uncapped audit is exact "
    "and bounded.",
)
def part_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.graph import copurchase_edges_half, mirror_edges

    li = _t(spark, sf_dir, "lineitem")
    # feeds the degree ranking plus BOTH hop expansions. Only the
    # src < dst HALF is materialized (half the scratch write bytes);
    # the mirror direction is a map-side union over the read-back
    edges = mirror_edges(
        materialize(
            copurchase_edges_half(li, "l_orderkey", "l_partkey"),
            "twohop_edges", "reliable",
        )
    )
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    # seeds (5 rows) and h1 (the seed frontier, already the broadcast
    # side of the hop-2 join) each feed several consumers; unmaterialized
    # the plan re-runs the degree aggregate 4x and scans the edge
    # scratch 8x (plans/r12/part_two_hop_reach_before.txt)
    seeds = materialize(
        deg.orderBy(F.col("deg").desc(), "src")
        .limit(5)
        .select(F.col("src").alias("seed"), "deg"),
        "twohop_seeds", "local",
    )
    h1 = materialize(
        edges.join(
            F.broadcast(seeds.select("seed")),
            edges.src == F.col("seed"),
        ).select("seed", F.col("dst").alias("node")),
        "twohop_h1", "local",
    )
    e2 = edges.select(
        F.col("src").alias("n2src"), F.col("dst").alias("n2dst")
    )
    h2 = e2.join(F.broadcast(h1), h1.node == e2.n2src).select(
        "seed", F.col("n2dst").alias("node")
    )
    agg1 = h1.groupBy("seed").agg(
        F.countDistinct("node").cast("bigint").alias("n_1hop")
    )
    agg2 = (
        h1.unionByName(h2)
        .where(F.col("node") != F.col("seed"))
        .groupBy("seed")
        .agg(F.countDistinct("node").cast("bigint").alias("n_2hop"))
    )
    return (
        # agg1/agg2 emit at most one row per seed (<=5): broadcast
        # them so the final assembly never sorts or shuffles
        seeds.join(F.broadcast(agg1), "seed")
        .join(F.broadcast(agg2), "seed")
        .select(
            F.col("seed").alias("partkey"),
            F.col("deg").alias("degree"),
            "n_1hop",
            "n_2hop",
        )
    )


@query(
    "orders_aqp_revenue_by_priority",
    """
    WITH s AS (
        SELECT o_orderpriority AS priority,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents,
               (('0x' || substr(md5('aqp:' || o_orderkey::VARCHAR), 1, 15))
                   ::BIGINT % 100) < 10 AS in_sample
        FROM orders
    ),
    agg AS (
        SELECT priority,
               count(*) FILTER (WHERE in_sample)::BIGINT AS n_sampled,
               sum(CASE WHEN in_sample THEN cents::DECIMAL(19,0) END) AS sc,
               sum(CASE WHEN in_sample
                   THEN cents::DECIMAL(19,0) * cents::DECIMAL(19,0)
                   END) AS sc2,
               sum(cents::DECIMAL(19,0)) AS true_c
        FROM s GROUP BY priority
    )
    SELECT priority, n_sampled,
           round(sc::DOUBLE * 10 / 100, 2) AS est_total_revenue,
           round(true_c::DOUBLE / 100, 2) AS true_total_revenue,
           round(abs(sc::DOUBLE * 10 - true_c::DOUBLE)
                 / true_c::DOUBLE, 4) AS rel_error,
           round(19.6 * sqrt(greatest(
                     (sc2::DOUBLE - sc::DOUBLE * sc::DOUBLE / n_sampled)
                         / (n_sampled - 1), 0.0) * n_sampled) / 100, 2)
               AS ci95_half_width
    FROM agg WHERE n_sampled >= 2
    """,
    doc="Approximate query processing (BlinkDB-style): per-priority "
    "revenue estimated from a DETERMINISTIC 10% hash sample "
    "(stable_hash64 of 'aqp:'||orderkey mod 100 — the repo's "
    "hash_split convention, so the oracle replays the exact sample) "
    "with a CLT 95% half-width, reported NEXT TO the true total and "
    "realized relative error — the accuracy contract a 100 TB "
    "dashboard query buys when it scans 10% of the data. One pass, "
    "map-side sample predicate, one grouped aggregate; estimator "
    "moments accumulate in DECIMAL(19,0)-exact integer cents (sums "
    "are order-independent), doubles appear only in the final scalar "
    "arithmetic on identical operands, and sqrt is IEEE "
    "correctly-rounded (unlike ln/exp, it needs no rounding guard). "
    "At production scale the sample is materialized once as a "
    "stratified sample table, not re-hashed per query.",
)
def orders_aqp_revenue_by_priority(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .functions.hashing import stable_hash64

    s = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.round(F.col("o_totalprice") * 100, 0)
        .cast("bigint")
        .alias("cents"),
        (
            F.pmod(
                stable_hash64(
                    F.concat(
                        F.lit("aqp:"), F.col("o_orderkey").cast("string")
                    )
                ),
                100,
            )
            < 10
        ).alias("in_sample"),
    )
    dec = F.col("cents").cast("decimal(19,0)")
    agg = s.groupBy("priority").agg(
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.sum(F.when(F.col("in_sample"), dec)).alias("sc"),
        F.sum(F.when(F.col("in_sample"), dec * dec)).alias("sc2"),
        F.sum(dec).alias("true_c"),
    )
    sc, sc2 = F.col("sc").cast("double"), F.col("sc2").cast("double")
    tc, n = F.col("true_c").cast("double"), F.col("n_sampled")
    var = F.greatest(
        (sc2 - sc * sc / n) / (n - 1), F.lit(0.0)
    )
    return agg.where(n >= 2).select(
        "priority",
        "n_sampled",
        F.round(sc * 10 / 100, 2).alias("est_total_revenue"),
        F.round(tc / 100, 2).alias("true_total_revenue"),
        F.round(F.abs(sc * 10 - tc) / tc, 4).alias("rel_error"),
        F.round(
            F.lit(19.6) * F.sqrt(var * n) / 100, 2
        ).alias("ci95_half_width"),
    )


# Join-size estimation needs width >= key cardinality for useful error:
# collision mass adds ~|A|x|B|/width to the inner product, so the 1024
# frequency-sketch width would drown the true size 19x here. 64Ki x 4
# cells is still KBs -- constant at any fact scale.
_CMS_JW = 1 << 16
_CMS_JOIN_PRE = """
        SELECT l_partkey::VARCHAR AS k,
               count(*)::BIGINT AS cnt_all,
               sum((l_returnflag = 'R')::INT)::BIGINT AS cnt_r
        FROM lineitem GROUP BY l_partkey
"""
_CMS_JOIN_A = _sk.count_min_sql(
    "pre", "k", _CMS_JW, _CMS_D, weight_expr="cnt_all"
)
_CMS_JOIN_B = _sk.count_min_sql(
    "(SELECT * FROM pre WHERE cnt_r > 0)",
    "k",
    _CMS_JW,
    _CMS_D,
    weight_expr="cnt_r",
)


@query(
    "join_size_estimate_cms",
    f"""
    WITH pre AS ({_CMS_JOIN_PRE}),
    ca AS ({_CMS_JOIN_A}),
    cb AS ({_CMS_JOIN_B}),
    per_d AS (
        SELECT ca.d,
               sum(ca.cnt::DECIMAL(19,0) * cb.cnt::DECIMAL(19,0)) AS ip
        FROM ca JOIN cb ON ca.d = cb.d AND ca.bucket = cb.bucket
        GROUP BY ca.d
    ),
    est AS (SELECT min(ip) AS est_rows FROM per_d),
    tru AS (
        SELECT sum(cnt_all::DECIMAL(19,0) * cnt_r::DECIMAL(19,0))
                   AS true_rows
        FROM pre
    )
    SELECT est_rows::BIGINT AS est_rows, true_rows::BIGINT AS true_rows,
           round((est_rows::DOUBLE - true_rows::DOUBLE)
                 / true_rows::DOUBLE, 4) AS overcount_rate
    FROM est CROSS JOIN tru
    """,
    doc="Join-cardinality estimation from Count-Min inner products "
    "(AMS-style): |A JOIN B on k| is estimated as min over hash rows "
    "of sum_b cmsA[d,b]*cmsB[d,b] — here sizing the partkey join "
    "between all lineitems and returned lineitems, the planner "
    "question ('can this join's output fit?') answered WITHOUT "
    "running the join. ONE vocab-sized pre-aggregate feeds both "
    "weighted sketch builds AND the exact baseline (weighted build == "
    "raw-fact build by counter associativity, hashing O(distinct "
    "keys) not O(rows)); the inner product is a 4x64Ki-row join — "
    "constant at ANY fact scale. Width is sized to the key "
    "cardinality: collision mass adds ~|A||B|/width, which at the "
    "frequency-sketch width of 1024 would drown the true size 19x. "
    "Collisions only ever over-count; products accumulate in "
    "DECIMAL(19,0) exact integers, so no float order can perturb "
    "the min.",
)
def join_size_estimate_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag"
    )
    # one fact pass -> vocab-sized (key, cnt_all, cnt_r); materialized
    # because it feeds both sketch builds and the exact baseline
    pre = materialize(
        li.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt_all"),
            F.sum((F.col("l_returnflag") == "R").cast("int"))
            .cast("bigint")
            .alias("cnt_r"),
        )
        .select(
            F.col("l_partkey").cast("string").alias("k"),
            "cnt_all",
            "cnt_r",
        ),
        "cms_pre", "reliable",
    )
    ca = _sk.count_min_build(
        pre, "k", width=_CMS_JW, depth=_CMS_D, weight_col="cnt_all"
    )
    cb = _sk.count_min_build(
        pre.where(F.col("cnt_r") > 0),
        "k",
        width=_CMS_JW,
        depth=_CMS_D,
        weight_col="cnt_r",
    )
    dec = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    per_d = (
        ca.alias("a")
        .join(
            cb.alias("b"),
            (F.col("a.d") == F.col("b.d"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.d"))
        .agg(F.sum(dec(F.col("a.cnt")) * dec(F.col("b.cnt"))).alias("ip"))
    )
    est = per_d.agg(F.min("ip").alias("est_rows"))
    tru = pre.agg(
        F.sum(dec(F.col("cnt_all")) * dec(F.col("cnt_r"))).alias(
            "true_rows"
        )
    )
    er, tr = F.col("est_rows"), F.col("true_rows")
    return est.crossJoin(tru).select(
        er.cast("bigint").alias("est_rows"),
        tr.cast("bigint").alias("true_rows"),
        F.round(
            (er.cast("double") - tr.cast("double")) / tr.cast("double"), 4
        ).alias("overcount_rate"),
    )


# ---------------------------------------------------------------------------
# Evaluation tier (round 5): grading the heuristics that curate the data
# ---------------------------------------------------------------------------


@query(
    "returns_auc_by_discount",
    """
    WITH g AS (
        SELECT l_discount AS score,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
                   AS n_pos,
               sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT
                   AS n_neg
        FROM lineitem
        WHERE l_discount IS NOT NULL  -- operator drops unscored rows
        GROUP BY l_discount
    ), r AS (
        SELECT n_pos, n_neg,
               n_pos * (2 * coalesce(sum(n_neg) OVER (
                   ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + n_neg) AS num2
        FROM g
    )
    SELECT sum(n_pos)::BIGINT AS n_pos, sum(n_neg)::BIGINT AS n_neg,
           round(sum(num2)::DOUBLE
                 / (2.0 * sum(n_pos)::DOUBLE * sum(n_neg)::DOUBLE), 6)
               AS auc
    FROM r
    """,
    doc="Exact ROC-AUC (Mann-Whitney rank-sum with tie correction) of "
    "the discount level ranking the probability a lineitem is "
    "returned — the evaluation primitive behind grading any curation "
    "scorer (quality classifier, perplexity filter) against observed "
    "labels. operators/evaluation.roc_auc: one fact aggregate to the "
    "distinct-score domain (25 discount levels), cumulative-negative "
    "window over that domain only, 2x-numerator kept an exact bigint "
    "so the single float op is the final division. The bounded-domain "
    "assumption is ENFORCED (max_distinct_scores guard, same design "
    "as kaplan_meier's round-5 guard).",
)
def returns_auc_by_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.evaluation import roc_auc

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_discount").alias("score"),
        (F.col("l_returnflag") == "R").cast("int").alias("is_return"),
    )
    return roc_auc(li, "score", "is_return")


@query(
    "returns_auc_price_bucketed",
    """
    WITH g AS (
        SELECT (round(l_extendedprice * 100)::BIGINT // 10000) AS score,
               sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
                   AS n_pos,
               sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT
                   AS n_neg
        FROM lineitem
        WHERE l_extendedprice IS NOT NULL
        GROUP BY 1
    ), r AS (
        SELECT n_pos, n_neg,
               n_pos * (2 * coalesce(sum(n_neg) OVER (
                   ORDER BY score
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + n_neg) AS num2
        FROM g
    )
    SELECT sum(n_pos)::BIGINT AS n_pos, sum(n_neg)::BIGINT AS n_neg,
           round(sum(num2)::DOUBLE
                 / (2.0 * sum(n_pos)::DOUBLE * sum(n_neg)::DOUBLE), 6)
               AS auc
    FROM r
    """,
    doc="roc_auc's guard REMEDIATION recipe driver-certified end-to-end "
    "(VERDICT r05 item 6): l_extendedprice is a continuous score whose "
    "raw distinct-value domain grows with the fact table and would "
    "(rightly) trip max_distinct_scores at scale — so the score is "
    "bucketed UPSTREAM to 100-currency-unit bins exactly as the "
    "guard's error message prescribes, and the guard is kept ON with a "
    "bound (2000) that the bucketed domain satisfies at every SF while "
    "the raw domain already violates it at sf0.1. Bucketing uses exact "
    "integer arithmetic on cents (round(x*100) then integer div) — a "
    "float divide-then-round could land on a half-boundary where Spark "
    "HALF_UP and DuckDB half-even disagree (repo determinism rules).",
)
def returns_auc_price_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.evaluation import roc_auc

    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_extendedprice").isNotNull()
    ).select(
        # exact cents, then 100-unit buckets via integer division: both
        # engines agree bit-for-bit, no round-half or float-floor hazard
        F.expr(
            "cast(round(l_extendedprice * 100) as bigint) div 10000"
        ).alias("score"),
        (F.col("l_returnflag") == "R").cast("int").alias("is_return"),
    )
    return roc_auc(li, "score", "is_return", max_distinct_scores=2000)


@query(
    "ols_price_on_qty_discount",
    """
    WITH m AS (
        SELECT count(*)::BIGINT AS n,
               sum(l_quantity::BIGINT)::BIGINT AS sq,
               sum(round(l_discount * 100)::BIGINT)::BIGINT AS sd,
               sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS sy,
               sum(l_quantity::BIGINT * l_quantity::BIGINT)::BIGINT AS sqq,
               sum(round(l_discount * 100)::BIGINT
                   * round(l_discount * 100)::BIGINT)::BIGINT AS sdd,
               sum(l_quantity::BIGINT
                   * round(l_discount * 100)::BIGINT)::BIGINT AS sqd,
               sum(l_quantity::BIGINT
                   * round(l_extendedprice * 100)::BIGINT)::BIGINT AS sqy,
               sum(round(l_discount * 100)::BIGINT
                   * round(l_extendedprice * 100)::BIGINT)::BIGINT AS sdy
        FROM lineitem
    ), c AS (
        SELECT n,
               n::DOUBLE * sqq::DOUBLE - sq::DOUBLE * sq::DOUBLE AS a11,
               n::DOUBLE * sqd::DOUBLE - sq::DOUBLE * sd::DOUBLE AS a12,
               n::DOUBLE * sdd::DOUBLE - sd::DOUBLE * sd::DOUBLE AS a22,
               n::DOUBLE * sqy::DOUBLE - sq::DOUBLE * sy::DOUBLE AS b1,
               n::DOUBLE * sdy::DOUBLE - sd::DOUBLE * sy::DOUBLE AS b2,
               sq::DOUBLE AS sqf, sd::DOUBLE AS sdf, sy::DOUBLE AS syf
        FROM m
    ), s AS (
        SELECT n, sqf, sdf, syf,
               (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta1,
               (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS beta2
        FROM c
    )
    SELECT n AS n_rows,
           round(beta1 / 100, 6) AS beta_qty,
           round(beta2, 6) AS beta_discount,
           round((syf - beta1 * sqf - beta2 * sdf) / n::DOUBLE / 100, 6)
               AS intercept
    FROM s
    """,
    doc="Closed-form two-regressor OLS via the normal equations "
    "(Cramer's rule on the centered 2x2 Gram): extendedprice ~ "
    "quantity + discount — the distributed-regression primitive (the "
    "d-feature generalization is similarity.pca_top_component's "
    "tree-combined Gram). ONE map-side-combinable aggregate produces "
    "nine EXACT integer moment sums (price/discount quantized to "
    "cents/hundredths, so no shuffle order can move a bit); the "
    "Cramer algebra then runs on that single row in doubles with "
    "identical expression structure on both engines. beta_qty / "
    "intercept are de-scaled back to dollars; beta_discount is "
    "dollars per unit discount (cents per hundredth).",
)
def ols_price_on_qty_discount(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    d = F.round(F.col("l_discount") * 100).cast("bigint")
    y = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    m = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(q).cast("bigint").alias("sq"),
        F.sum(d).cast("bigint").alias("sd"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(q * q).cast("bigint").alias("sqq"),
        F.sum(d * d).cast("bigint").alias("sdd"),
        F.sum(q * d).cast("bigint").alias("sqd"),
        F.sum(q * y).cast("bigint").alias("sqy"),
        F.sum(d * y).cast("bigint").alias("sdy"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    c = m.select(
        "n",
        (dbl("n") * dbl("sqq") - dbl("sq") * dbl("sq")).alias("a11"),
        (dbl("n") * dbl("sqd") - dbl("sq") * dbl("sd")).alias("a12"),
        (dbl("n") * dbl("sdd") - dbl("sd") * dbl("sd")).alias("a22"),
        (dbl("n") * dbl("sqy") - dbl("sq") * dbl("sy")).alias("b1"),
        (dbl("n") * dbl("sdy") - dbl("sd") * dbl("sy")).alias("b2"),
        dbl("sq").alias("sqf"),
        dbl("sd").alias("sdf"),
        dbl("sy").alias("syf"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    s = c.select(
        "n",
        "sqf",
        "sdf",
        "syf",
        (
            (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
        ).alias("beta1"),
        (
            (F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")) / det
        ).alias("beta2"),
    )
    return s.select(
        F.col("n").alias("n_rows"),
        F.round(F.col("beta1") / 100, 6).alias("beta_qty"),
        F.round(F.col("beta2"), 6).alias("beta_discount"),
        F.round(
            (
                F.col("syf")
                - F.col("beta1") * F.col("sqf")
                - F.col("beta2") * F.col("sdf")
            )
            / F.col("n").cast("double")
            / 100,
            6,
        ).alias("intercept"),
    )


@query(
    "part_brand_woe_iv",
    """
    WITH per AS (
        SELECT p.p_brand AS feature,
               sum(CASE WHEN l.l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT
                   AS n_good,
               sum(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
                   AS n_bad
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
    ), s AS (
        SELECT feature, n_good, n_bad,
               n_good::DOUBLE / (sum(n_good) OVER ())::DOUBLE AS dg,
               n_bad::DOUBLE / (sum(n_bad) OVER ())::DOUBLE AS db
        FROM per
    ), w AS (
        SELECT feature, n_good, n_bad,
               round(ln(greatest(dg, 1e-12) / greatest(db, 1e-12)), 8)
                   AS woe,
               (dg - db) * round(ln(greatest(dg, 1e-12)
                                    / greatest(db, 1e-12)), 8)
                   AS iv_term_raw
        FROM s
    )
    SELECT feature, n_good, n_bad, woe,
           round(iv_term_raw, 8) AS iv_term,
           round(sum(round(iv_term_raw * 1e8)::BIGINT) OVER () / 1e8, 6)
               AS iv_total
    FROM w
    """,
    doc="Weight-of-evidence / information-value screening of part "
    "brand against the return outcome (credit-scoring's standard "
    "feature-power ranking, operators/evaluation.woe_iv): broadcast "
    "dim join, ONE fact aggregate to the 25-brand domain, windows "
    "over that domain only. Distributions are integer-ratio doubles, "
    "woe rounds 8dp off the ln (BM25-idf convention, 1e-12 clamp), "
    "and iv_total sums 1e-8-quantized integer terms so no float "
    "accumulation order can move the last bit.",
)
def part_brand_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.evaluation import woe_iv

    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = F.broadcast(
        _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    )
    joined = li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("feature"),
        (F.col("l_returnflag") == "R").cast("int").alias("is_return"),
    )
    return woe_iv(joined, "feature", "is_return")


from .operators.privacy import _laplace_noise_sql, dp_noisy_counts  # noqa: E402

_DP_EPS = 1.0
_DP_SEED = "dp-v1"
_DP_NOISE = _laplace_noise_sql("event_type", _DP_EPS, _DP_SEED)


@query(
    "events_dp_released_counts",
    f"""
    SELECT event_type,
           greatest(count(*)::DOUBLE + {_DP_NOISE}, 0.0) AS noisy_count
    FROM events GROUP BY event_type
    """,
    doc="epsilon-DP (epsilon=1) Laplace-mechanism release of the "
    "event-type histogram (operators/privacy.dp_noisy_counts, Dwork "
    "et al. 2006): per-key count + Laplace(1/eps) noise, clamped at 0 "
    "by privacy-free post-processing; the true count deliberately "
    "never appears in the output. Noise is a seeded hash-derived "
    "inverse-CDF draw — deterministic so the oracle verifies the "
    "mechanism arithmetic bit-for-bit (the module docstring spells "
    "out why a REAL release must instead draw its seed fresh and "
    "secret). One grouped count, one md5 per KEY; unclamped, "
    "unrounded doubles match because both engines run the identical "
    "expression with ln rounded 8dp.",
)
def events_dp_released_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type")
    return dp_noisy_counts(
        ev, "event_type", epsilon=_DP_EPS, seed=_DP_SEED
    )


_OVL_REGS = _sk.hll_registers_sql("ev", "k", ("event_type",))
_OVL_PER = _sk.hll_estimate_sql("regs", ("event_type",))
_OVL_UNION = _sk.hll_estimate_sql("u_regs")


@query(
    "events_hll_audience_overlap",
    f"""
    WITH ev AS (
        SELECT event_type, user_id::VARCHAR AS k, user_id
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IN ('view', 'click')
    ),
    regs AS ({_OVL_REGS}),
    per AS ({_OVL_PER}),
    u_regs AS (SELECT bucket, max(mx) AS mx FROM regs GROUP BY bucket),
    u_est AS ({_OVL_UNION}),
    a AS (SELECT hll_est AS est_a FROM per WHERE event_type = 'view'),
    b AS (SELECT hll_est AS est_b FROM per WHERE event_type = 'click'),
    ex AS (
        SELECT count(*)::BIGINT AS exact_intersection FROM (
            SELECT user_id FROM ev GROUP BY user_id
            HAVING count(DISTINCT event_type) = 2
        )
    )
    SELECT est_a, est_b, hll_est AS est_union,
           round(est_a + est_b - hll_est, 4) AS est_intersection,
           exact_intersection,
           round(100.0 * (round(est_a + est_b - hll_est, 4)
                          - exact_intersection)
                 / nullif(exact_intersection, 0), 4) AS err_pct
    FROM a CROSS JOIN b CROSS JOIN u_est CROSS JOIN ex
    """,
    doc="Audience-overlap estimation from mergeable HLL registers: "
    "|view users ∩ click users| by inclusion-exclusion over three "
    "register folds (per-type estimates + the MAX-merged union) — the "
    "sketch answer to 'how many users do two segments share?' that "
    "needs NO re-scan when segments were sketched separately (the "
    "production case: per-day per-segment register tables). Exact "
    "intersection rides along so the compounded error of subtracting "
    "three ~2%-error estimates is itself oracle-checked — "
    "inclusion-exclusion variance is the textbook caveat for small "
    "overlaps. Registers replay bit-for-bit (portable md5, dyadic Z).",
)
def events_hll_audience_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        _t(spark, sf_dir, "events")
        .where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isin("view", "click")
        )
        .select(
            "event_type",
            F.col("user_id").cast("string").alias("k"),
            "user_id",
        )
    )
    regs = _sk.hll_registers(ev, "k", ("event_type",))
    per = _sk.hll_estimate(regs, ("event_type",))
    union_est = _sk.hll_estimate(_sk.hll_merge(regs))
    a = per.where(F.col("event_type") == "view").select(
        F.col("hll_est").alias("est_a")
    )
    b = per.where(F.col("event_type") == "click").select(
        F.col("hll_est").alias("est_b")
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nt"))
        .where(F.col("nt") == 2)
        .agg(F.count(F.lit(1)).cast("bigint").alias("exact_intersection"))
    )
    est_int = F.round(
        F.col("est_a") + F.col("est_b") - F.col("hll_est"), 4
    )
    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(union_est))
        .crossJoin(F.broadcast(exact))
        .select(
            "est_a",
            "est_b",
            F.col("hll_est").alias("est_union"),
            est_int.alias("est_intersection"),
            "exact_intersection",
            # zero overlap (no user has both types) must yield NULL
            # err_pct deterministically on BOTH engines, not an ANSI
            # divide-by-zero here and a NULL there — nullif twin in SQL
            F.round(
                F.lit(100.0)
                * (est_int - F.col("exact_intersection"))
                / F.nullif(F.col("exact_intersection"), F.lit(0)),
                4,
            ).alias("err_pct"),
        )
    )


def _scratch_table(sf_dir: str, tag: str) -> str:
    """A fresh scratch Delta table for one scenario query:
    ``<sf dir name>_<tag>_<8 hex>`` under ``scratch_table_dir``."""
    import os
    import uuid

    from .sources._files import scratch_table_dir

    return scratch_table_dir(
        f"{os.path.basename(sf_dir.rstrip('/'))}_{tag}_{uuid.uuid4().hex[:8]}"
    )


@query(
    "orders_snapshot_increment",
    """
    SELECT o_orderpriority,
           (count(*) + CASE WHEN o_orderpriority = '1-URGENT'
                            THEN count(*) ELSE 0 END)::BIGINT AS n_total,
           (CASE WHEN o_orderpriority = '1-URGENT'
                 THEN count(*) ELSE 0 END)::BIGINT AS n_from_increment
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Append lineage and the append-only change feed on the Delta "
    "log (sources/delta_log/), certified end-to-end under the "
    "driver's value-hash gate: write_delta commits orders as version "
    "0, then the urgent subset as an APPEND (version 1, which keeps "
    "the base files live — no copies), and the query answers from "
    "the log — n_total from the head (read_delta), n_from_increment "
    "from read_delta_increment since version 0 (the rows added after "
    "it). The oracle reproduces both readouts from the raw table, so "
    "log replay, append lineage, and increment isolation all have to "
    "be value-exact. Per-run uuid lineage under the per-uid /tmp "
    "root (daily sweep bounds growth).",
)
def orders_snapshot_increment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders")
    tbl = _scratch_table(sf_dir, "orders_inc")
    base = dl.write_delta(orders, tbl)
    dl.write_delta(
        orders.where(F.col("o_orderpriority") == "1-URGENT"),
        tbl,
        "append",
    )
    head = (
        dl.read_delta(spark, tbl)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
    )
    inc = (
        dl.read_delta_increment(spark, tbl, since_version=base.version)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inc"))
    )
    return head.join(F.broadcast(inc), "o_orderpriority", "left").select(
        "o_orderpriority",
        "n_total",
        F.coalesce("n_inc", F.lit(0)).cast("bigint").alias(
            "n_from_increment"
        ),
    )


@query(
    "orders_snapshot_merge",
    """
    WITH merged AS (
        SELECT o_orderpriority, round(o_totalprice * 100)::BIGINT AS cents
        FROM orders WHERE o_orderpriority <> '1-URGENT'
        UNION ALL
        SELECT o_orderpriority,
               (round(o_totalprice * 100)::BIGINT * 110) // 100 AS cents
        FROM orders WHERE o_orderpriority = '1-URGENT'
        UNION ALL
        -- inserts are keyed above max(o_orderkey), so they can never
        -- collide with a live key at ANY scale factor
        SELECT o_orderpriority, round(o_totalprice * 100)::BIGINT AS cents
        FROM orders WHERE o_orderkey < 100
    )
    SELECT o_orderpriority, count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS revenue_cents
    FROM merged GROUP BY o_orderpriority
    """,
    doc="delta_merge_upsert certified end-to-end under the driver's "
    "value-hash gate. The update batch exercises BOTH merge paths "
    "at once: every 1-URGENT order matches and is replaced with a +10% "
    "price (exact integer cents: div(cents*110, 100) on both engines), "
    "and 100 key-shifted rows are unmatched and insert. The oracle "
    "rebuilds the merged content from the raw table, so the anti-join "
    "replace semantics, the insert union, and the committed "
    "remove+add actions all have to be value-exact. The table has no "
    "deletion vectors, so the merge takes the rewrite path: current "
    "LEFT ANTI updates (broadcast-able when the batch is small — the "
    "CDC case) + union; at 100 TB the DV path (see delta_merge_upsert) "
    "avoids the rewrite. Per-run uuid lineage under the per-uid /tmp "
    "root (daily sweep bounds growth).",
)
def orders_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders")
    tbl = _scratch_table(sf_dir, "orders_merge")
    dl.write_delta(orders, tbl)
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    upd = orders.where(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice",
        F.expr(
            "div(cast(round(o_totalprice * 100) as bigint) * 110, 100)"
        )
        / 100.0,
    )
    max_key = orders.agg(
        F.max("o_orderkey").cast("bigint").alias("__maxk")
    )
    ins = (
        orders.where(F.col("o_orderkey") < 100)
        .join(F.broadcast(max_key))
        .withColumn(
            "o_orderkey", F.col("o_orderkey") + F.col("__maxk") + 1
        )
        .drop("__maxk")
    )
    dl.delta_merge_upsert(
        spark, tbl, upd.unionByName(ins), keys=["o_orderkey"]
    )
    head = dl.read_delta(spark, tbl)
    return head.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(cents).cast("bigint").alias("revenue_cents"),
    )


@query(
    "returns_calibration_ece",
    """
    WITH b AS (
        SELECT round(l_discount * 100)::INT AS bin,
               (l_returnflag = 'R')::BIGINT AS r
        FROM lineitem
    ),
    per AS (
        SELECT bin, count(*)::BIGINT AS n, sum(r)::BIGINT AS nr
        FROM b GROUP BY bin
    ),
    g AS (
        SELECT bin, n,
               (bin * 10000)::BIGINT AS predicted_ppm,
               ((nr * 1000000) // n)::BIGINT AS empirical_ppm
        FROM per
    ),
    w AS (
        SELECT *,
               abs(empirical_ppm - predicted_ppm)::BIGINT AS gap_ppm
        FROM g
    ),
    t AS (
        SELECT (sum(n * gap_ppm) // sum(n))::BIGINT AS ece_ppm FROM w
    )
    SELECT bin, n, predicted_ppm, empirical_ppm, gap_ppm, ece_ppm
    FROM w CROSS JOIN t
    """,
    doc="Reliability diagram + Expected Calibration Error, the "
    "standard classifier-calibration audit (Guo et al. 2017), with "
    "l_discount read as a predicted return probability against the "
    "l_returnflag='R' outcome. One fact scan reduces to the 11-bin "
    "discount domain; per-bin empirical rates and the n-weighted ECE "
    "are ALL integer arithmetic in parts-per-million (floor div on "
    "both engines), so no float sum order or rounding tie can diverge "
    "cross-engine. The bin-domain total joins back by broadcast, not "
    "an unpartitioned window. At 100 TB: one shuffle of 11 keys.",
)
def returns_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    per = (
        li.select(
            F.round(F.col("l_discount") * 100).cast("int").alias("bin"),
            (F.col("l_returnflag") == "R").cast("bigint").alias("r"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("r").cast("bigint").alias("nr"),
        )
        .select(
            "bin",
            "n",
            (F.col("bin") * 10000).cast("bigint").alias("predicted_ppm"),
            F.expr("div(nr * 1000000, n)").cast("bigint").alias(
                "empirical_ppm"
            ),
        )
        .withColumn(
            "gap_ppm",
            F.abs(F.col("empirical_ppm") - F.col("predicted_ppm")).cast(
                "bigint"
            ),
        )
    )
    tot = per.agg(
        F.expr("div(sum(n * gap_ppm), sum(n))").cast("bigint").alias(
            "ece_ppm"
        )
    )
    return per.crossJoin(F.broadcast(tot))


from .functions.hashing import stable_hash64_sql as _h64sql  # noqa: E402

_CONF_KEY = (
    "'conf:' || l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR"
)
_CONF_HASH = f"({_h64sql(_CONF_KEY)} % 100) < 50"


@query(
    "ols_conformal_interval",
    f"""
    WITH r0 AS (
        SELECT l_quantity::BIGINT AS q,
               round(l_discount * 100)::BIGINT AS d,
               round(l_extendedprice * 100)::BIGINT AS y,
               {_CONF_HASH} AS is_train
        FROM lineitem
    ),
    m AS (
        SELECT count(*)::BIGINT AS n, sum(q)::BIGINT AS sq,
               sum(d)::BIGINT AS sd, sum(y)::BIGINT AS sy,
               sum(q * q)::BIGINT AS sqq, sum(d * d)::BIGINT AS sdd,
               sum(q * d)::BIGINT AS sqd, sum(q * y)::BIGINT AS sqy,
               sum(d * y)::BIGINT AS sdy
        FROM r0 WHERE is_train
    ),
    c AS (
        SELECT n,
               n::DOUBLE * sqq::DOUBLE - sq::DOUBLE * sq::DOUBLE AS a11,
               n::DOUBLE * sqd::DOUBLE - sq::DOUBLE * sd::DOUBLE AS a12,
               n::DOUBLE * sdd::DOUBLE - sd::DOUBLE * sd::DOUBLE AS a22,
               n::DOUBLE * sqy::DOUBLE - sq::DOUBLE * sy::DOUBLE AS b1,
               n::DOUBLE * sdy::DOUBLE - sd::DOUBLE * sy::DOUBLE AS b2,
               sq::DOUBLE AS sqf, sd::DOUBLE AS sdf, sy::DOUBLE AS syf
        FROM m
    ),
    s AS (
        SELECT n AS n_train,
               (b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12) AS beta1,
               (a11 * b2 - a12 * b1) / (a11 * a22 - a12 * a12) AS beta2,
               sqf, sdf, syf
        FROM c
    ),
    s2 AS (
        SELECT n_train, beta1, beta2,
               (syf - beta1 * sqf - beta2 * sdf) / n_train::DOUBLE AS b0
        FROM s
    ),
    res AS (
        SELECT abs(y::DOUBLE
                   - (b0 + beta1 * q::DOUBLE + beta2 * d::DOUBLE))
                   AS absr
        FROM r0, s2 WHERE NOT is_train
    ),
    qq AS (
        SELECT list_sort(list(absr)) AS a, count(*)::BIGINT AS n_cal
        FROM res
    ),
    qh AS (
        SELECT n_cal, {spark_percentile_sql('a', 'n_cal', '0.9')} AS q0
        FROM qq
    ),
    cov AS (
        SELECT (sum((absr <= q0)::BIGINT) * 1000000 // max(n_cal))::BIGINT
                   AS coverage_ppm
        FROM res, qh GROUP BY ()
    )
    SELECT s2.n_train, qh.n_cal,
           round(s2.beta1 / 100, 6) AS beta_qty,
           round(s2.beta2, 6) AS beta_discount,
           round(qh.q0 / 100, 6) AS qhat_dollars,
           cov.coverage_ppm
    FROM s2, qh, cov
    """,
    doc="Split-conformal prediction interval on the OLS price model "
    "(Vovk; Lei et al. 2018): rows hash-split into train/calibration "
    "with the portable salted hash, the two-regressor OLS fits on the "
    "train half from nine EXACT integer moment sums (one map-side "
    "combinable aggregate), calibration residuals |y - yhat| take "
    "their 0.9 interpolated quantile via the two-bounded-pass "
    "exact_quantiles_scalable (quantile_cont semantics — the "
    "finite-sample (n+1)/n conformal correction shifts the rank by "
    "<1 at any realistic n and is documented as the asymptotic "
    "simplification), and the empirical coverage readback is exact "
    "integer ppm. +/- qhat around any prediction then covers ~90% of "
    "unseen rows, assumption-free. Float math happens only in 1-row "
    "scalar algebra and per-row residuals derived from shared "
    "broadcast betas — no float fold crosses a shuffle. PERF "
    "(VERDICT r06 item 4 + r07 item 5): the fitted betas are a 1-row "
    "driver collect embedded as literals, and the 4-column integer "
    "projection is materialized ONCE to reliable scratch parquet — "
    "the fit, both bracketed-quantile passes, and the coverage pass "
    "are then cheap scans of that narrow relation instead of four "
    "recomputations of the lineitem scan, with zero non-recoverable "
    "executor-local state (recovery is a parquet re-scan, never "
    "'locally checkpointed ... cannot be recomputed'). Recompute is "
    "bit-stable: the moments are exact integer sums, so the literal "
    "betas are identical whichever pass derives them.",
)
def ols_conformal_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .functions.hashing import stable_hash64
    from .operators.quality import exact_quantiles_scalable

    li = _t(spark, sf_dir, "lineitem")
    is_train = (
        F.pmod(
            stable_hash64(
                F.concat(
                    F.lit("conf:"),
                    F.col("l_orderkey").cast("string"),
                    F.lit(":"),
                    F.col("l_linenumber").cast("string"),
                )
            ),
            F.lit(100),
        )
        < 50
    )
    # one lineitem pass materializes the narrow integer projection;
    # the fit, both quantile passes, and the coverage pass then scan
    # THIS 4-column relation, not lineitem four times
    rows = materialize(
        li.select(
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_discount") * 100).cast("bigint").alias("d"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
            .alias("y"),
            is_train.alias("is_train"),
        ),
        "ols_rows", "reliable",
    )
    m = rows.where("is_train").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum("d").cast("bigint").alias("sd"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("sdd"),
        F.sum(F.col("q") * F.col("d")).cast("bigint").alias("sqd"),
        F.sum(F.col("q") * F.col("y")).cast("bigint").alias("sqy"),
        F.sum(F.col("d") * F.col("y")).cast("bigint").alias("sdy"),
    )
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    c = m.select(
        F.col("n").alias("n_train"),
        (dbl("n") * dbl("sqq") - dbl("sq") * dbl("sq")).alias("a11"),
        (dbl("n") * dbl("sqd") - dbl("sq") * dbl("sd")).alias("a12"),
        (dbl("n") * dbl("sdd") - dbl("sd") * dbl("sd")).alias("a22"),
        (dbl("n") * dbl("sqy") - dbl("sq") * dbl("sy")).alias("b1"),
        (dbl("n") * dbl("sdy") - dbl("sd") * dbl("sy")).alias("b2"),
        dbl("sq").alias("sqf"),
        dbl("sd").alias("sdf"),
        dbl("sy").alias("syf"),
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    s2 = c.select(
        "n_train",
        ((F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det)
        .alias("beta1"),
        ((F.col("a11") * F.col("b2") - F.col("a12") * F.col("b1")) / det)
        .alias("beta2"),
        "sqf",
        "sdf",
        "syf",
    ).select(
        "n_train",
        "beta1",
        "beta2",
        (
            (
                F.col("syf")
                - F.col("beta1") * F.col("sqf")
                - F.col("beta2") * F.col("sdf")
            )
            / F.col("n_train").cast("double")
        ).alias("b0"),
    )
    # 1-row driver collect: the betas ride as literals, so every
    # downstream residual pass keeps a recomputable lineage
    fit = s2.collect()[0]
    n_train, beta1, beta2, b0 = (
        fit["n_train"], fit["beta1"], fit["beta2"], fit["b0"],
    )
    res = rows.where(~F.col("is_train")).select(
        F.abs(
            dbl("y")
            - (
                F.lit(b0)
                + F.lit(beta1) * dbl("q")
                + F.lit(beta2) * dbl("d")
            )
        ).alias("absr")
    )
    qh = exact_quantiles_scalable(res, "absr", [0.9]).select(
        F.col("q_0").alias("q0")
    )
    cov = res.join(F.broadcast(qh)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cal"),
        F.expr(
            "div(sum(cast(absr <= q0 as bigint)) * 1000000, count(1))"
        ).cast("bigint").alias("coverage_ppm"),
        F.first("q0").alias("q0"),
    )
    return cov.select(
        F.lit(n_train).cast("bigint").alias("n_train"),
        "n_cal",
        F.round(F.lit(beta1) / 100, 6).alias("beta_qty"),
        F.round(F.lit(beta2), 6).alias("beta_discount"),
        F.round(F.col("q0") / 100, 6).alias("qhat_dollars"),
        "coverage_ppm",
    )


@query(
    "events_hll_ivm_maintenance",
    """
    WITH ev AS (
        SELECT floor(epoch(ts) / 86400)::BIGINT AS day,
               user_id::VARCHAR AS k, user_id
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
              AND event_id IS NOT NULL
    ),
    regs AS ({regs}),
    est AS ({est}),
    exact AS (
        SELECT day, count(DISTINCT user_id)::BIGINT AS exact_users
        FROM ev GROUP BY day
    )
    SELECT (day * 86400)::BIGINT AS day_start,
           hll_est AS maintained_users,
           hll_est AS rebuilt_users,
           exact_users
    FROM est JOIN exact USING (day)
    """,
    doc="Streaming-maintenance certification (VERDICT r06 item 6): the "
    "foreachBatch incremental-view-maintenance pattern the streaming "
    "tier pytest-gates (tests/test_streaming_semantics.py "
    "foreachbatch HLL IVM), replayed "
    "batch-deterministically under the driver's value-hash gate. "
    "Events split into three deterministic micro-batches "
    "(event_id % 3) committed as Delta versions (overwrite + 2 "
    "appends); the maintained state starts from the base version's "
    "per-day HLL registers and folds each one-commit "
    "read_delta_increment's registers "
    "in by MAX-merge — exactly what the foreachBatch sink does with "
    "its register table, state bounded at O(days x 2^p) registers "
    "with the fact table read once per increment. The query emits the "
    "MAINTAINED estimate next to a single-pass REBUILT estimate and "
    "the exact distinct count; the oracle computes the one-pass "
    "estimate, so the hash gate proves maintained == rebuilt == "
    "oracle — merge associativity through real increments, not just "
    "in pytest. (The register fold is a sum of dyadic rationals, "
    "exact in double, so the equality is bit-for-bit.) Per-run uuid "
    "lineage under the per-uid /tmp root (daily sweep bounds growth).",
)
def events_hll_ivm_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources import delta_log as dl

    ev = (
        _events(spark, sf_dir)
        .where(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            F.floor(epoch_seconds("ts") / F.lit(86400))
            .cast("bigint")
            .alias("day"),
            F.col("user_id").cast("string").alias("k"),
            "user_id",
            F.pmod(F.col("event_id"), F.lit(3)).alias("batch"),
        )
    )
    tbl = _scratch_table(sf_dir, "ev_hll_ivm")
    base = dl.write_delta(ev.where(F.col("batch") == 0).drop("batch"), tbl)
    for b in (1, 2):
        head = dl.write_delta(
            ev.where(F.col("batch") == b).drop("batch"), tbl, "append"
        )
    state = _sk.hll_registers(
        dl.read_delta(spark, tbl, base.version), "k", ("day",)
    )
    for v in range(base.version + 1, head.version + 1):
        inc = dl.read_delta_increment(
            spark, tbl, since_version=v - 1, version=v
        )
        state = _sk.hll_merge(
            state.unionByName(_sk.hll_registers(inc, "k", ("day",))),
            ("day",),
        )
    maintained = _sk.hll_estimate(state, ("day",)).withColumnRenamed(
        "hll_est", "maintained_users"
    )
    full = dl.read_delta(spark, tbl)
    rebuilt = _sk.hll_estimate(
        _sk.hll_registers(full, "k", ("day",)), ("day",)
    ).withColumnRenamed("hll_est", "rebuilt_users")
    exact = full.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        maintained.join(rebuilt, "day")
        .join(exact, "day")
        .select(
            (F.col("day") * 86400).cast("bigint").alias("day_start"),
            "maintained_users",
            "rebuilt_users",
            "exact_users",
        )
    )


REGISTRY["events_hll_ivm_maintenance"] = type(
    REGISTRY["events_hll_ivm_maintenance"]
)(
    name="events_hll_ivm_maintenance",
    spark=REGISTRY["events_hll_ivm_maintenance"].spark,
    oracle=REGISTRY["events_hll_ivm_maintenance"].oracle.format(
        regs=_sk.hll_registers_sql("ev", "k", ("day",)),
        est=_sk.hll_estimate_sql("regs", ("day",)),
    ),
    doc=REGISTRY["events_hll_ivm_maintenance"].doc,
)


# ---------------------------------------------------------------------------
# Native Delta transaction-log format (sources/delta_log/) — round 7
# ---------------------------------------------------------------------------


@query(
    "orders_deltalog_roundtrip",
    """
    WITH head AS (
        SELECT o_orderpriority,
               count(*)::BIGINT AS n_orders,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS sum_cents
        FROM orders GROUP BY o_orderpriority
    ),
    mid AS (
        SELECT count(*)::BIGINT AS n_at_mid FROM orders
        WHERE (o_orderkey % 3) IN (0, 1)
    )
    SELECT o_orderpriority, n_orders, sum_cents, n_at_mid
    FROM head CROSS JOIN mid
    """,
    doc="The clean-room NATIVE Delta log format "
    "(sources/delta_log/; public delta-io PROTOCOL.md — the format "
    "the reference persists its tables in, "
    "notebooks/20_analytics.ipynb:653, 2200, 2561) certified "
    "end-to-end under the driver's value-hash gate: orders split into "
    "three deterministic batches (o_orderkey % 3) written as Delta "
    "commit 0 (overwrite: protocol+metaData+adds) and two appends, "
    "then answered FROM THE LOG — the head aggregate via full replay, "
    "n_at_mid via time travel to the mid version (batches 0+1). The "
    "oracle reproduces both from the raw table, so commit atomicity, "
    "add/remove replay, and time-travel version resolution all have "
    "to be value-exact. A per-run uuid lineage under the per-uid /tmp "
    "root keeps version numbers run-stable (overwrite in a reused dir "
    "would renumber the mid version); the scratch root's daily sweep "
    "bounds growth. Revenue sums exact cents (BIGINT) before any "
    "display math, per the repo's float-fold convention.",
)
def orders_deltalog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
        F.pmod(F.col("o_orderkey"), F.lit(3)).alias("batch"),
    )
    tbl = _scratch_table(sf_dir, "odelta")
    dl.write_delta(
        orders.where(F.col("batch") == 0).drop("batch"),
        tbl,
        stats_cols=["o_orderkey"],
    )
    mid = dl.write_delta(
        orders.where(F.col("batch") == 1).drop("batch"), tbl, "append"
    )
    dl.write_delta(
        orders.where(F.col("batch") == 2).drop("batch"), tbl, "append"
    )
    head = (
        dl.read_delta(spark, tbl)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    n_mid = (
        dl.read_delta(spark, tbl, mid.version)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_at_mid"))
    )
    # bound replay for any later reader of this lineage, then let the
    # scratch root's daily sweep reclaim the uuid dir
    dl.write_checkpoint(tbl)
    return head.crossJoin(F.broadcast(n_mid)).select(
        "o_orderpriority", "n_orders", "sum_cents", "n_at_mid"
    )


@query(
    "lineitem_snapshot_delta_mirror",
    """
    WITH head AS (
        SELECT l_returnflag,
               count(*)::BIGINT AS n_items,
               sum(l_quantity::BIGINT)::BIGINT AS sum_qty
        FROM lineitem GROUP BY l_returnflag
    ),
    base AS (
        SELECT count(*)::BIGINT AS n_at_base FROM lineitem
        WHERE l_linenumber <= 2
    )
    SELECT l_returnflag, n_items, sum_qty, n_at_base
    FROM head CROSS JOIN base
    """,
    doc="Zero-copy onboarding plus compaction-transparent time travel "
    "on the Delta log, certified under the value-hash gate: lineitem "
    "rows with l_linenumber <= 2 are written as PLAIN parquet and "
    "upgraded in place by convert_to_delta (version 0, no bytes "
    "rewritten), write_delta appends the rest (version 1), and "
    "delta_compact rewrites the head into 4 files (version 2, "
    "dataChange=false). Every readout comes from the log — the head "
    "aggregate from the compacted head, n_at_base by time travel to "
    "version 0 (the converted parquet, whose files the compaction "
    "removed but did not delete). The oracle recomputes both from the "
    "raw table, so CONVERT's file listing and stats, append lineage, "
    "and the compaction's remove+add replay must be value-exact. "
    "Per-run uuid lineage under the per-uid /tmp root (daily sweep "
    "bounds growth); l_quantity is integral in TPC-H so the BIGINT "
    "cast is exact on both engines.",
)
def lineitem_snapshot_delta_mirror(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources import delta_log as dl

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    tbl = _scratch_table(sf_dir, "limirror")
    li.where(F.col("l_linenumber") <= 2).write.parquet(tbl)
    dl.convert_to_delta(spark, tbl)
    dl.write_delta(li.where(F.col("l_linenumber") > 2), tbl, "append")
    dl.delta_compact(spark, tbl, 4)
    head = (
        dl.read_delta(spark, tbl)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("qty").cast("bigint").alias("sum_qty"),
        )
    )
    n_base = dl.read_delta(spark, tbl, 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_at_base")
    )
    return head.crossJoin(F.broadcast(n_base)).select(
        "l_returnflag", "n_items", "sum_qty", "n_at_base"
    )


@query(
    "orders_delta_pruned_scan",
    """
    SELECT count(*)::BIGINT AS n_orders,
           round(sum(round(o_totalprice * 100)::BIGINT) / 100.0, 2)
               AS revenue,
           min(o_orderkey)::BIGINT AS min_key,
           max(o_orderkey)::BIGINT AS max_key
    FROM orders
    WHERE o_orderkey BETWEEN 200 AND 900
    """,
    doc="Delta-log data skipping certified end-to-end (also "
    "registered as orders_snapshot_pruned_scan): orders committed via "
    "write_delta with repartitionByRange(8, o_orderkey) + stats_cols, "
    "so each add action carries the spec's stats JSON (numRecords/"
    "minValues/maxValues/nullCount mined from parquet footers); "
    "delta_scan answers the key-range query by pruning files whose "
    "add-stats prove a miss and re-applying the predicate row-level. "
    "The oracle computes the same range on the raw table, so a lost "
    "or duplicated file — or a wrong min/max in the emitted stats — "
    "fails the value hash. Per-run uuid lineage under the per-uid "
    "/tmp root (daily sweep bounds growth); exact-cents sum before "
    "the one final division, per the float-fold convention.",
)
def orders_delta_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders")
    tbl = _scratch_table(sf_dir, "odpruned")
    dl.write_delta(
        orders.repartitionByRange(8, "o_orderkey"),
        tbl,
        stats_cols=["o_orderkey"],
    )
    pruned = dl.delta_scan(
        spark, tbl, prune={"o_orderkey": (200, 900)}
    )
    return pruned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.round(
            F.sum(
                F.round(F.col("o_totalprice") * 100).cast("bigint")
            )
            / 100.0,
            2,
        ).alias("revenue"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


query(
    "orders_snapshot_pruned_scan",
    REGISTRY["orders_delta_pruned_scan"].oracle,
    doc="The round-6 name of orders_delta_pruned_scan, kept registered "
    "so the declared query set is unchanged: the same builder and the "
    "same oracle.",
)(orders_delta_pruned_scan)


@query(
    "lineitem_delta_zorder_scan",
    """
    SELECT count(*)::BIGINT AS n_items,
           sum(round(l_extendedprice * 100)::BIGINT)::BIGINT
               AS revenue_cents,
           min(l_partkey)::BIGINT AS min_part,
           max(l_suppkey)::BIGINT AS max_supp
    FROM lineitem
    WHERE l_partkey BETWEEN 400 AND 700
      AND l_suppkey BETWEEN 10 AND 40
    """,
    doc="Z-order clustering composed with the NATIVE Delta log format "
    "(also registered as lineitem_snapshot_zorder_scan; reference "
    "anchor: notebooks/20_analytics.ipynb:653, Delta as the output "
    "format whose OPTIMIZE ZORDER this mirrors): lineitem is written "
    "through write_delta sorted by the Morton key over (l_partkey, "
    "l_suppkey) (layout.zorder_key — each data file covers a compact "
    "2-D rectangle) with stats_cols on BOTH dims, so every add action "
    "carries min/max for both columns in the spec's stats JSON; "
    "delta_scan then answers the 2-D range query by pruning on both "
    "columns' per-file intervals — multi-dimensional skipping a 1-D "
    "sort cannot give. The oracle runs the same 2-D range on the raw "
    "table, so a lost/duplicated file or a wrong emitted stat fails "
    "the value hash; tests/test_delta_log.py asserts the file count "
    "actually shrinks vs either 1-D prune. Exact-cents revenue. At "
    "100 TB: the same few-file read any native Delta reader gets from "
    "the same stats.",
)
def lineitem_delta_zorder_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.layout import zorder_key
    from .sources import delta_log as dl

    li = _t(spark, sf_dir, "lineitem")
    tbl = _scratch_table(sf_dir, "lidzorder")
    z = zorder_key(li, ["l_partkey", "l_suppkey"], bits=8)
    clustered = (
        li.withColumn("__zkey", z)
        .repartitionByRange(16, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    dl.write_delta(
        clustered, tbl, stats_cols=["l_partkey", "l_suppkey"]
    )
    pruned = dl.delta_scan(
        spark, tbl,
        prune={"l_partkey": (400, 700), "l_suppkey": (10, 40)},
    )
    return pruned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(
            F.round(F.col("l_extendedprice") * 100).cast("bigint")
        ).cast("bigint").alias("revenue_cents"),
        F.min("l_partkey").cast("bigint").alias("min_part"),
        F.max("l_suppkey").cast("bigint").alias("max_supp"),
    )


query(
    "lineitem_snapshot_zorder_scan",
    REGISTRY["lineitem_delta_zorder_scan"].oracle,
    doc="The round-6 name of lineitem_delta_zorder_scan, kept "
    "registered so the declared query set is unchanged: the same "
    "builder and the same oracle.",
)(lineitem_delta_zorder_scan)


@query(
    "orders_dv_delete_scan",
    """
    WITH kept AS (
        SELECT o_orderstatus,
               round(o_totalprice * 100)::BIGINT AS cents
        FROM orders
        WHERE NOT (o_orderstatus = 'F' AND (o_orderkey % 7) = 0)
          AND NOT (o_orderpriority = '1-URGENT'
                   AND (o_orderkey % 7) = 1)
    ),
    base AS (SELECT count(*)::BIGINT AS n_before FROM orders)
    SELECT o_orderstatus,
           count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS sum_cents,
           n_before
    FROM kept CROSS JOIN base
    GROUP BY o_orderstatus, n_before
    """,
    doc="Deletion vectors on the NATIVE Delta log (sources/dv.py + "
    "delta_log.delta_delete; public delta-io PROTOCOL.md 'Deletion "
    "Vectors' — the DELETE mechanism of the Delta format the "
    "reference persists its tables in, notebooks/20_analytics.ipynb:"
    "653) certified under the driver's value-hash gate: orders "
    "written as a multi-file Delta table, TWO DV deletes (the second "
    "must roaring-merge into the first's positions per file), an "
    "OPTIMIZE that must purge the DVs into rewritten files, and the "
    "head aggregate read AFTER the purge — so z85/roaring/DV-file "
    "byte formats, (path, dvId) replay keying, the _metadata."
    "row_index scan filter, and the purge's dataChange=false rewrite "
    "all have to be value-exact vs the oracle's plain NOT(pred) "
    "WHERE. n_before time-travels to v0 across the whole history. "
    "At 100 TB a selective DELETE costs one scan plus kilobytes of "
    "log — no data file is rewritten until OPTIMIZE chooses to.",
)
def orders_dv_delete_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "odvdel")
    dl.write_delta(
        orders.repartition(4), tbl, stats_cols=["o_orderkey"]
    )
    dl.delta_delete(
        spark, tbl,
        "o_orderstatus = 'F' AND pmod(o_orderkey, 7) = 0",
    )
    dl.delta_delete(
        spark, tbl,
        "o_orderpriority = '1-URGENT' AND pmod(o_orderkey, 7) = 1",
    )
    dl.delta_compact(spark, tbl, 2)  # purges the DVs
    head = (
        dl.read_delta(spark, tbl)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    n_before = dl.read_delta(spark, tbl, 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    return head.crossJoin(F.broadcast(n_before)).select(
        "o_orderstatus", "n_orders", "sum_cents", "n_before"
    )


@query(
    "orders_dv_update_scan",
    """
    WITH upd AS (
        SELECT CASE WHEN o_orderstatus = 'O'
                         AND (o_orderkey % 11) = 3
                    THEN '9-UPDATED' ELSE o_orderpriority END AS prio,
               round(o_totalprice * 100)::BIGINT
                 + CASE WHEN o_orderstatus = 'O'
                             AND (o_orderkey % 11) = 3
                        THEN 500 ELSE 0 END AS cents
        FROM orders
    ),
    base AS (SELECT count(*)::BIGINT AS n_before FROM orders)
    SELECT prio,
           count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS sum_cents,
           n_before
    FROM upd CROSS JOIN base
    GROUP BY prio, n_before
    """,
    doc="UPDATE via deletion vectors (delta_log.delta_update; "
    "PROTOCOL.md 'Deletion Vectors' — the DV-enabled UPDATE shape of "
    "the format the reference persists its tables in, notebooks/"
    "20_analytics.ipynb:653) certified under the value-hash gate: "
    "orders written as a multi-file Delta table, one UPDATE marks "
    "matched rows dead via DVs in their ORIGINAL files and lands the "
    "rewritten copies (new priority label + 500-cent bump, both cast "
    "to the declared types) in new files, all one atomic commit; the "
    "head aggregate groups the post-update table and n_before time-"
    "travels to v0. The oracle reproduces the update as a CASE "
    "expression over the raw table, so the DV mark, the rewrite, and "
    "the schema-invariant cast all have to be value-exact. At 100 TB "
    "an UPDATE costs two scans of the MATCHED rows plus kilobytes of "
    "log — untouched rows are never read twice nor rewritten.",
)
def orders_dv_update_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "odvupd")
    dl.write_delta(
        orders.repartition(4), tbl, stats_cols=["o_orderkey"]
    )
    dl.delta_update(
        spark, tbl,
        "o_orderstatus = 'O' AND pmod(o_orderkey, 11) = 3",
        {"prio": "'9-UPDATED'", "cents": "cents + 500"},
    )
    head = (
        dl.read_delta(spark, tbl)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    n_before = dl.read_delta(spark, tbl, 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_before")
    )
    return head.crossJoin(F.broadcast(n_before)).select(
        "prio", "n_orders", "sum_cents", "n_before"
    )


@query(
    "orders_dv_cdf_counts",
    """
    SELECT change_type,
           count(*)::BIGINT AS n_rows,
           sum(cents)::BIGINT AS sum_cents
    FROM (
        SELECT 'delete' AS change_type,
               round(o_totalprice * 100)::BIGINT AS cents
        FROM orders
        WHERE o_orderstatus = 'F' AND (o_orderkey % 7) = 0
        UNION ALL
        SELECT 'delete', round(o_totalprice * 100)::BIGINT
        FROM orders
        WHERE NOT (o_orderstatus = 'F' AND (o_orderkey % 7) = 0)
          AND o_orderpriority = '1-URGENT' AND (o_orderkey % 7) = 1
        UNION ALL
        SELECT 'insert', round(o_totalprice * 100)::BIGINT + 500
        FROM orders
        WHERE NOT (o_orderstatus = 'F' AND (o_orderkey % 7) = 0)
          AND o_orderpriority = '1-URGENT' AND (o_orderkey % 7) = 1
    ) GROUP BY change_type
    """,
    doc="Change data feed reconstructed from the native Delta log + "
    "deletion vectors (delta_log.read_delta_changes — the native "
    "table_changes shape, no CDC files; PROTOCOL.md 'Deletion "
    "Vectors' + 'Change Data Feed' semantics) certified under the "
    "value-hash gate: orders written as Delta v0, a DV DELETE at v1 "
    "and a DV UPDATE at v2 (pre-image deletes + post-image inserts "
    "with a 500-cent bump), then the WHOLE feed (0, head] grouped by "
    "change type with exact-cent sums. The oracle rebuilds all three "
    "legs as plain predicates over the raw table, so DV position "
    "diffing (new minus old bitmap), the inverted row_index keep-"
    "filter, and per-commit state tracking all have to be value-"
    "exact. At 100 TB the feed costs one distributed scan per "
    "touched file-category per commit — driver holds only log "
    "metadata and per-file position arrays.",
)
def orders_dv_cdf_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "odvcdf")
    dl.write_delta(
        orders.repartition(4), tbl, stats_cols=["o_orderkey"]
    )
    dl.delta_delete(
        spark, tbl,
        "o_orderstatus = 'F' AND pmod(o_orderkey, 7) = 0",
    )
    dl.delta_update(
        spark, tbl,
        "o_orderpriority = '1-URGENT' AND pmod(o_orderkey, 7) = 1",
        {"cents": "cents + 500"},
    )
    ch = dl.read_delta_changes(spark, tbl, 0)
    return ch.groupBy(
        F.col("_change_type").alias("change_type")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


@query(
    "orders_ict_time_travel",
    """
    SELECT o_orderpriority AS prio,
           count(CASE WHEN (o_orderkey % 3) < 2 THEN 1 END)::BIGINT
             AS n_asof,
           coalesce(sum(CASE WHEN (o_orderkey % 3) < 2
                        THEN round(o_totalprice * 100)::BIGINT END),
                    0)::BIGINT AS cents_asof,
           count(*)::BIGINT AS n_head
    FROM orders
    GROUP BY prio
    """,
    doc="In-commit timestamps + TIMESTAMP AS OF on the native Delta "
    "log (delta_log._commit_actions ICT stamping + "
    "resolve_version_at; public delta-io PROTOCOL.md 'In-Commit "
    "Timestamps' — the clock-skew-proof time-travel mechanism of "
    "the format the reference persists its tables in, notebooks/"
    "20_analytics.ipynb:653) certified under the value-hash gate: "
    "orders written in thirds, delta.enableInCommitTimestamps "
    "flipped on (recording the enablement version/timestamp "
    "properties and upgrading the writer protocol), two ICT-stamped "
    "appends, then a read AT the second append's exact "
    "inCommitTimestamp — which must resolve to precisely that "
    "version (monotonic stamps, commitInfo leading the commit "
    "file) — aggregated next to the head. The timestamp comes FROM "
    "the log itself, so the query is deterministic while the "
    "resolution path is fully exercised. At 100 TB: version "
    "resolution reads O(log) commitInfo lines, no data.",
)
def orders_ict_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "oict")
    leg = F.pmod("o_orderkey", F.lit(3))
    dl.write_delta(orders.where(leg == 0).repartition(4), tbl)
    dl.delta_alter_properties(
        spark, tbl, {"delta.enableInCommitTimestamps": "true"}
    )
    dl.write_delta(orders.where(leg == 1), tbl, "append")  # v2
    st3 = dl.write_delta(
        orders.where(leg == 2), tbl, "append"
    )  # v3
    ts2 = dl._commit_ict(tbl, st3.version - 1, ict_only=True)
    asof = (
        dl.read_delta(spark, tbl, timestamp_ms=ts2)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_asof"),
            F.sum("cents").cast("bigint").alias("cents_asof"),
        )
    )
    head = (
        dl.read_delta(spark, tbl)
        .groupBy("prio")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_head"))
    )
    return head.join(F.broadcast(asof), "prio", "left").select(
        "prio",
        F.coalesce("n_asof", F.lit(0)).cast("bigint").alias("n_asof"),
        F.coalesce("cents_asof", F.lit(0))
        .cast("bigint")
        .alias("cents_asof"),
        "n_head",
    )


@query(
    "orders_type_widening",
    """
    WITH l0 AS (
        SELECT round(o_totalprice * 100)::BIGINT AS c
        FROM orders WHERE o_orderkey % 2 = 0
    ), l1 AS (
        SELECT round(o_totalprice * 100)::BIGINT + 10000000000 AS c
        FROM orders WHERE o_orderkey % 2 = 1
    ), u AS (
        SELECT c FROM l0 UNION ALL SELECT c FROM l1
    )
    SELECT count(*)::BIGINT AS n_rows,
           sum(c)::BIGINT AS sum_cents,
           min(c)::BIGINT AS min_cents,
           max(c)::BIGINT AS max_cents
    FROM u
    """,
    doc="Type widening on the native Delta log (delta_widen_column; "
    "public delta-io PROTOCOL.md 'Type Widening' — the "
    "ALTER-COLUMN-TYPE surface of the format the reference persists "
    "its tables in, notebooks/20_analytics.ipynb:653) certified "
    "under the value-hash gate: even-key orders land as INT cents, "
    "the column widens int->long in a metaData-ONLY commit (zero "
    "file rewrites — the typeWidening features + field-metadata "
    "history land with it), then odd-key orders append values "
    "beyond the int range. The read serves BOTH narrow-physical and "
    "wide-physical files under the widened schema (Spark's parquet "
    "reader upcasts int32->int64 in the vectorized scan), so any "
    "mis-typed file or lost widening breaks the hash vs the plain "
    "oracle. At 100 TB: widening costs one KB-sized commit, never a "
    "rewrite.",
)
def orders_type_widening(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources import delta_log as dl

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("int")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "otw")
    dl.write_delta(
        o.where(F.col("o_orderkey") % 2 == 0).select("cents"),
        tbl,
        stats_cols=["cents"],
    )
    dl.delta_widen_column(tbl, "cents", "long")
    dl.write_delta(
        o.where(F.col("o_orderkey") % 2 == 1).select(
            (F.col("cents").cast("long")
             + F.lit(10_000_000_000)).alias("cents")
        ),
        tbl,
        "append",
    )
    return dl.read_delta(spark, tbl).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
    )


@query(
    "lineitem_clustered_prune",
    """
    SELECT l_returnflag,
           count(*)::BIGINT AS n_rows,
           sum(round(l_extendedprice * 100)::BIGINT)::BIGINT
               AS sum_cents,
           count(DISTINCT l_suppkey)::BIGINT AS n_suppliers
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 400
      AND l_suppkey BETWEEN 10 AND 40
    GROUP BY l_returnflag
    """,
    doc="Clustered tables on the native Delta log "
    "(delta_set_clustering + delta_cluster_optimize; public "
    "delta-io PROTOCOL.md 'Clustered Table' — the liquid-clustering "
    "layout surface of the format the reference persists its tables "
    "in, notebooks/20_analytics.ipynb:653) certified under the "
    "value-hash gate: lineitem lands in a scratch Delta table, "
    "CLUSTER BY (l_partkey, l_suppkey) records the columns in the "
    "delta.clustering domain and the clustering OPTIMIZE rewrites "
    "the rows Z-ordered (Morton range-partition + sort, "
    "dataChange=false, clusteringProvider on every add), then "
    "delta_scan serves a two-dimensional box predicate from "
    "file-level stats pruning + the row-level re-filter. Any "
    "wrongly-pruned file or mis-clustered row breaks the hash vs "
    "the plain full-table oracle. At 100 TB the win is the layout: "
    "Z-ordered files cover compact hyper-rectangles, so the box "
    "scans O(matching) files on EITHER dimension — a lead-key sort "
    "prunes only its first column (pruning-effectiveness asserted "
    "in tests/test_clustering.py).",
)
def lineitem_clustered_prune(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources import delta_log as dl

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "lclu")
    dl.write_delta(
        li.repartition(8), tbl,
        stats_cols=["l_partkey", "l_suppkey"],
    )
    dl.delta_set_clustering(tbl, ["l_partkey", "l_suppkey"])
    dl.delta_cluster_optimize(spark, tbl, 8)
    box = {"l_partkey": (100, 400), "l_suppkey": (10, 40)}
    return (
        dl.delta_scan(spark, tbl, prune=box)
        .where(
            F.col("l_partkey").between(100, 400)
            & F.col("l_suppkey").between(10, 40)
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.countDistinct("l_suppkey")
            .cast("bigint")
            .alias("n_suppliers"),
        )
    )


@query(
    "orders_identity_append",
    """
    WITH l0 AS (
        SELECT o_orderkey,
               row_number() OVER (ORDER BY o_orderkey) AS r
        FROM orders WHERE o_orderkey % 2 = 0
    ), l1 AS (
        SELECT o_orderkey,
               row_number() OVER (ORDER BY o_orderkey) AS r
        FROM orders WHERE o_orderkey % 2 = 1
    ), ids AS (
        SELECT o_orderkey, (1000 + 2 * (r - 1))::BIGINT AS oid
        FROM l0
        UNION ALL
        SELECT o_orderkey,
               (1000 + 2 * ((SELECT max(r) FROM l0) - 1)
                + 2 * r)::BIGINT AS oid
        FROM l1
    )
    SELECT o_orderkey, oid FROM ids WHERE o_orderkey % 89 = 0
    UNION ALL
    SELECT -1::BIGINT, sum(oid)::BIGINT FROM ids
    """,
    doc="Identity columns on the native Delta log "
    "(delta_create_identity_table + write_delta generation; public "
    "delta-io PROTOCOL.md 'Identity Columns' — surrogate-key "
    "generation for the Delta tables the reference persists, "
    "notebooks/20_analytics.ipynb:653) certified under the "
    "value-hash gate: an EMPTY table declares oid as GENERATED "
    "ALWAYS (start 1000, step 2), then two appends (even keys "
    "sorted, odd keys sorted — each a single sorted partition so "
    "the generated sequence is rank-derivable for the oracle); the "
    "writer generates start + k*step beyond the high-water mark and "
    "advances the mark in each commit's metaData, so the second "
    "append must continue exactly where the first stopped. The "
    "output samples (key, oid) pairs plus a whole-table oid "
    "checksum. The sorted single-partition appends are the "
    "oracle-derivability device; generation itself is per-partition "
    "range allocation (one count pass + one Arrow-batched pass, "
    "gaps allowed by spec) — no global sort at scale.",
)
def orders_identity_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select("o_orderkey")
    tbl = _scratch_table(sf_dir, "oid")
    dl.delta_create_identity_table(
        StructType([
            StructField("o_orderkey", LongType()),
            StructField("oid", LongType()),
        ]),
        tbl,
        {"oid": {"start": 1000, "step": 2}},
    )
    for leg in (0, 1):
        dl.write_delta(
            orders.where(F.col("o_orderkey") % 2 == leg)
            .repartition(1)
            .sortWithinPartitions("o_orderkey"),
            tbl,
            "append",
        )
    ids = dl.read_delta(spark, tbl)
    sample = ids.where(F.col("o_orderkey") % 89 == 0).select(
        "o_orderkey", "oid"
    )
    total = ids.agg(
        F.lit(-1).cast("bigint").alias("o_orderkey"),
        F.sum("oid").cast("bigint").alias("oid"),
    )
    return sample.unionByName(total)


@query(
    "orders_row_ids_stable",
    """
    WITH base AS (
        SELECT o_orderkey,
               (row_number() OVER (ORDER BY o_orderkey) - 1)::BIGINT
                   AS rid,
               (round(o_totalprice * 100)::BIGINT
                + CASE WHEN o_orderkey % 7 = 3 THEN 1 ELSE 0 END)
                   AS cents,
               (CASE WHEN o_orderkey % 7 = 3 THEN 1 ELSE 0
                END)::BIGINT AS rcv
        FROM orders
    ), live AS (
        SELECT * FROM base WHERE o_orderkey % 11 <> 5
    )
    SELECT o_orderkey, rid AS row_id, rcv AS row_commit_version,
           cents
    FROM live WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT -1::BIGINT, sum(rid)::BIGINT, count(*)::BIGINT,
           sum(cents)::BIGINT
    FROM live
    """,
    doc="Row tracking on the native Delta log (delta_log row-id "
    "stamping + materialized-column preservation; public delta-io "
    "PROTOCOL.md 'Row Tracking' + 'Domain Metadata' — the stable "
    "row-identity surface current runtimes add to the Delta tables "
    "the reference persists, notebooks/20_analytics.ipynb:653) "
    "certified under the value-hash gate: orders written sorted "
    "into ONE file with row_tracking=True (so id = rank-1 by "
    "o_orderkey — key-derivable for the oracle), a DV UPDATE "
    "(keys %7=3: ids must survive via the materialized row-id "
    "column, commit versions bump to the update's version), a DV "
    "DELETE (keys %11=5: survivors untouched), then OPTIMIZE into "
    "2 files (ids AND commit versions must ride the materialized "
    "columns through the rewrite). The output samples per-row "
    "(key, row_id, rcv, cents) plus a whole-table checksum row — "
    "any id drift, resurrected delete, or lost commit version "
    "breaks the hash. The single sorted initial file is the "
    "oracle-derivability device; id ASSIGNMENT itself is per-file "
    "add metadata (baseRowId + row_index), O(files) bookkeeping at "
    "any scale, and the high-water mark lives in domain metadata "
    "that survives checkpoints.",
)
def orders_row_ids_stable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources import delta_log as dl

    orders = (
        _t(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
    )
    tbl = _scratch_table(sf_dir, "orid")
    dl.write_delta(
        orders, tbl, row_tracking=True, stats_cols=["o_orderkey"]
    )                                                          # v0
    dl.delta_update(
        spark, tbl, "o_orderkey % 7 = 3", {"cents": "cents + 1"}
    )                                                          # v1
    dl.delta_delete(spark, tbl, "o_orderkey % 11 = 5")         # v2
    dl.delta_compact(spark, tbl, 2)                            # v3
    live = dl.read_delta(spark, tbl, row_ids=True).select(
        "o_orderkey",
        F.col("_row_id").alias("row_id"),
        F.col("_row_commit_version").alias("row_commit_version"),
        "cents",
    )
    sample = live.where(F.col("o_orderkey") % 97 == 0)
    total = live.agg(
        F.lit(-1).cast("bigint").alias("o_orderkey"),
        F.sum("row_id").cast("bigint").alias("row_id"),
        F.count(F.lit(1)).cast("bigint").alias(
            "row_commit_version"
        ),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    return sample.unionByName(total)


@query(
    "orders_v2_checkpoint_scan",
    """
    WITH base AS (
        SELECT o_orderpriority AS prio,
               round(o_totalprice * 100)::BIGINT AS cents,
               (o_orderkey % 3) AS leg
        FROM orders
    )
    SELECT prio,
           count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS sum_cents,
           count(CASE WHEN leg = 2 THEN 1 END)::BIGINT AS n_tail
    FROM base
    GROUP BY prio
    """,
    doc="V2 (uuid-named) checkpoints on the native Delta log "
    "(delta_log.write_checkpoint(v2=True) + the sidecar-resolving "
    "replay; public delta-io PROTOCOL.md 'V2 Spec' — the checkpoint "
    "format current runtimes write for the Delta tables the "
    "reference persists, notebooks/20_analytics.ipynb:653) "
    "certified under the driver's value-hash gate: orders written "
    "in thirds (v0 write, v1 append), a v2 checkpoint with FOUR "
    "sidecar files (protocol auto-upgraded to the v2Checkpoint "
    "feature in its own commit), every JSON commit at or below the "
    "checkpoint garbage-collected, a post-checkpoint append (v "
    "tail), then the head aggregate — so replay must base on the "
    "manifest, resolve all four sidecars, and apply the JSON tail "
    "on top. Any dropped sidecar add, mislabeled checkpointMetadata "
    "or tail mis-application breaks the hash vs the plain full-"
    "table oracle. At 100 TB sidecars parallelize both the "
    "checkpoint write and the replay read.",
)
def orders_v2_checkpoint_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os

    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "ov2cp")
    leg = F.pmod("o_orderkey", F.lit(3))
    dl.write_delta(
        orders.where(leg == 0).repartition(4), tbl
    )
    dl.write_delta(orders.where(leg == 1), tbl, "append")
    v = dl.write_checkpoint(tbl, v2=True, sidecar_files=4)
    log = os.path.join(tbl, "_delta_log")
    for n in os.listdir(log):
        if n.endswith(".json") and n[:-5].isdigit() and \
                int(n[:-5]) <= v:
            os.remove(os.path.join(log, n))
    dl.write_delta(
        orders.where(leg == 2)
        .withColumn("tail", F.lit(1).cast("bigint")),
        tbl,
        "append",
        merge_schema=True,
    )
    return (
        dl.read_delta(spark, tbl)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            F.count("tail").cast("bigint").alias("n_tail"),
        )
    )


@query(
    "orders_cdc_feed_counts",
    """
    SELECT change_type,
           count(*)::BIGINT AS n_rows,
           sum(cents)::BIGINT AS sum_cents
    FROM (
        SELECT 'delete' AS change_type,
               round(o_totalprice * 100)::BIGINT AS cents
        FROM orders WHERE (o_orderkey % 9) = 4
        UNION ALL
        SELECT 'update_preimage',
               round(o_totalprice * 100)::BIGINT
        FROM orders WHERE (o_orderkey % 9) = 5
        UNION ALL
        SELECT 'update_postimage',
               round(o_totalprice * 100)::BIGINT + 500
        FROM orders WHERE (o_orderkey % 9) = 5
        UNION ALL
        SELECT 'insert', 777::BIGINT
        FROM orders WHERE (o_orderkey % 101) = 7
    ) GROUP BY change_type
    """,
    doc="CDC WRITE support on the native Delta log (delta_log."
    "_write_cdc_files + the cdc-exclusive read path in "
    "read_delta_changes; PROTOCOL.md 'Add CDC File' / 'Change Data "
    "Files' — the change-feed mechanism of the Delta format the "
    "reference persists its tables in, notebooks/20_analytics."
    "ipynb:653) certified under the driver's value-hash gate: "
    "orders written as Delta, delta.enableChangeDataFeed flipped on "
    "via SET TBLPROPERTIES (upgrading the writer protocol), then a "
    "DV DELETE and a DV UPDATE — each committing _change_data "
    "parquet + cdc actions — plus a plain append (which owes no cdc"
    ": adds are derivable). table_changes() must read the cdc "
    "commits from their change files EXCLUSIVELY, surfacing native "
    "update_preimage/update_postimage types the add/remove "
    "reconstruction cannot express, and derive the append's "
    "inserts. The oracle rebuilds all four legs as plain "
    "predicates. At 100 TB each mutation writes its changed rows "
    "once — the feed later costs one scan of _change_data, not a "
    "log reconstruction.",
)
def orders_cdc_feed_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "ocdc")
    dl.write_delta(orders.repartition(4), tbl)
    st0 = dl.delta_alter_properties(
        spark, tbl, {"delta.enableChangeDataFeed": "true"}
    )
    dl.delta_delete(spark, tbl, "pmod(o_orderkey, 9) = 4")
    dl.delta_update(
        spark, tbl, "pmod(o_orderkey, 9) = 5",
        {"cents": "cents + 500"},
    )
    dl.write_delta(
        orders.where(F.pmod("o_orderkey", F.lit(101)) == 7).select(
            (F.col("o_orderkey") + F.lit(200000000).cast("bigint"))
            .alias("o_orderkey"),
            "prio",
            F.lit(777).cast("bigint").alias("cents"),
        ),
        tbl,
        "append",
    )
    ch = dl.read_delta_changes(spark, tbl, st0.version)
    return ch.groupBy(
        F.col("_change_type").alias("change_type")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


@query(
    "orders_cm_roundtrip",
    """
    WITH full_set AS (
        SELECT o_orderpriority AS prio,
               round(o_totalprice * 100)::BIGINT AS cents_usd
        FROM orders
    ),
    v0 AS (
        SELECT count(*)::BIGINT AS n_v0
        FROM orders WHERE (o_orderkey % 2) = 0
    )
    SELECT prio,
           count(*)::BIGINT AS n_orders,
           sum(cents_usd)::BIGINT AS sum_cents,
           n_v0
    FROM full_set CROSS JOIN v0
    GROUP BY prio, n_v0
    """,
    doc="Column-mapping WRITE on the native Delta log (delta_log."
    "write_delta(column_mapping='name') + delta_rename_column; "
    "public delta-io PROTOCOL.md 'Column Mapping' — the mechanism "
    "behind RENAME COLUMN in the Delta format the reference "
    "persists its tables in, notebooks/20_analytics.ipynb:653) "
    "certified under the driver's value-hash gate: even-key orders "
    "written as a mapped table (physical col-<uuid> parquet names, "
    "maxColumnId bookkeeping), the cents column RENAMED via a "
    "metaData-only commit (no data file touched), odd-key orders "
    "appended AFTER the rename through the new logical schema, and "
    "the head aggregate read back through the name-mode reader. "
    "n_v0 time-travels to v0 ACROSS the rename — v0's logical "
    "schema must still resolve the same physical files. The oracle "
    "is a plain projection of the raw table, so physical-name "
    "write-out, logical restore, rename, and mapped append all "
    "have to be value-exact. At 100 TB a rename costs one kilobyte "
    "commit; data files are immutable.",
)
def orders_cm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "ocmrt")
    dl.write_delta(
        orders.where(F.pmod("o_orderkey", F.lit(2)) == 0)
        .repartition(4),
        tbl,
        stats_cols=["o_orderkey"],
        column_mapping="name",
    )
    dl.delta_rename_column(tbl, "cents", "cents_usd")
    dl.write_delta(
        orders.where(F.pmod("o_orderkey", F.lit(2)) == 1)
        .withColumnRenamed("cents", "cents_usd"),
        tbl,
        "append",
    )
    head = (
        dl.read_delta(spark, tbl)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents_usd").cast("bigint").alias("sum_cents"),
        )
    )
    n_v0 = dl.read_delta(spark, tbl, 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_v0")
    )
    return head.crossJoin(F.broadcast(n_v0)).select(
        "prio", "n_orders", "sum_cents", "n_v0"
    )


@query(
    "orders_dv_merge_scan",
    """
    WITH merged AS (
        SELECT CASE WHEN (o_orderkey % 13) = 2
                    THEN '9-MERGED' ELSE o_orderpriority END AS prio,
               round(o_totalprice * 100)::BIGINT
                 + CASE WHEN (o_orderkey % 13) = 2
                        THEN 700 ELSE 0 END AS cents
        FROM orders
        UNION ALL
        SELECT '9-NEW' AS prio, 1234::BIGINT AS cents
        FROM orders WHERE (o_orderkey % 101) = 5
    )
    SELECT prio,
           count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS sum_cents
    FROM merged
    GROUP BY prio
    """,
    doc="MERGE composed with deletion vectors (delta_log."
    "delta_merge_upsert(via_dv=True) -> _delta_merge_via_dv; "
    "PROTOCOL.md 'Deletion Vectors' — the DV-enabled MERGE shape "
    "native Delta uses once DVs are on, for the format the "
    "reference persists its tables in, notebooks/20_analytics."
    "ipynb:653) certified under the value-hash gate: orders "
    "written as a multi-file Delta table, one MERGE whose source "
    "both UPDATES matched keys (new priority + 700-cent bump) and "
    "INSERTS brand-new keys; matched target rows are marked dead "
    "via roaring deletion vectors in their ORIGINAL files (never "
    "rewritten — tests/test_dv.py asserts mtimes), every source "
    "row lands in new appended files, one atomic commit. The "
    "oracle rebuilds the merge as CASE + UNION ALL over the raw "
    "table, so the semi-join hit set, the per-file bitmaps, and "
    "the appended payload all have to be value-exact. At 100 TB a "
    "selective MERGE costs one semi-join scan plus the updates "
    "write plus kilobytes of log — not a table rewrite.",
)
def orders_dv_merge_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "odvmrg")
    dl.write_delta(
        orders.repartition(4), tbl, stats_cols=["o_orderkey"]
    )
    matched = orders.where(
        F.pmod("o_orderkey", F.lit(13)) == 2
    ).select(
        "o_orderkey",
        F.lit("9-MERGED").alias("prio"),
        (F.col("cents") + 700).cast("bigint").alias("cents"),
    )
    inserts = orders.where(
        F.pmod("o_orderkey", F.lit(101)) == 5
    ).select(
        (F.col("o_orderkey") + F.lit(100000000).cast("bigint"))
        .alias("o_orderkey"),
        F.lit("9-NEW").alias("prio"),
        F.lit(1234).cast("bigint").alias("cents"),
    )
    dl.delta_merge_upsert(
        spark, tbl, matched.unionByName(inserts), ["o_orderkey"],
        via_dv=True,
    )
    return (
        dl.read_delta(spark, tbl)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )


@query(
    "orders_cm_evolution",
    """
    SELECT o_orderpriority AS prio,
           count(*)::BIGINT AS n_orders,
           count(CASE WHEN (o_orderkey % 2) = 1 THEN 1 END)::BIGINT
             AS n_with_cents,
           coalesce(sum(CASE WHEN (o_orderkey % 2) = 1
                        THEN round(o_totalprice * 100)::BIGINT END),
                    0)::BIGINT AS sum_cents
    FROM orders
    GROUP BY prio
    """,
    doc="Column lifecycle on a mapped native-Delta table (delta_log."
    "delta_drop_column + merge_schema evolution; PROTOCOL.md "
    "'Column Mapping' — the drop/re-add semantics behind ALTER "
    "TABLE on the Delta format the reference persists its tables "
    "in, notebooks/20_analytics.ipynb:653) certified under the "
    "value-hash gate: even-key orders written mapped WITH a cents "
    "column, the column DROPPED via a metaData-only commit (files "
    "untouched), then odd-key orders appended with merge_schema "
    "re-adding the same LOGICAL name — which must get a fresh id + "
    "physical name, so the dropped even-key values can never "
    "resurrect: they read as NULL while the odd-key appends carry "
    "values. The oracle expresses exactly that visibility rule as "
    "a CASE over the raw table; any resurrection, mis-mapped "
    "append, or null-fill failure breaks the hash. At 100 TB both "
    "DDLs are kilobyte commits against immutable data.",
)
def orders_cm_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "ocmevo")
    dl.write_delta(
        orders.where(F.pmod("o_orderkey", F.lit(2)) == 0)
        .repartition(4),
        tbl,
        column_mapping="name",
    )
    dl.delta_drop_column(tbl, "cents")
    dl.write_delta(
        orders.where(F.pmod("o_orderkey", F.lit(2)) == 1),
        tbl,
        "append",
        merge_schema=True,
    )
    return (
        dl.read_delta(spark, tbl)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count("cents").cast("bigint").alias("n_with_cents"),
            F.coalesce(F.sum("cents"), F.lit(0))
            .cast("bigint")
            .alias("sum_cents"),
        )
    )


@query(
    "orders_cm_id_roundtrip",
    """
    WITH base AS (
        SELECT o_orderkey,
               (round(o_totalprice * 100)::BIGINT
                + CASE WHEN o_orderkey % 7 = 3 THEN 1 ELSE 0 END)
                   AS amount,
               o_orderpriority AS prio
        FROM orders
        WHERE o_orderkey % 11 <> 5
    )
    SELECT o_orderkey, amount, prio
    FROM base WHERE o_orderkey % 97 = 0
    UNION ALL
    SELECT -1::BIGINT, sum(amount)::BIGINT, 'ALL' FROM base
    """,
    doc="Column-mapping ID mode, write AND read, on the native "
    "Delta log (public delta-io PROTOCOL.md 'Column Mapping' — the "
    "addressing mode current runtimes enable on the Delta tables "
    "the reference persists, notebooks/20_analytics.ipynb:653) "
    "certified under the value-hash gate: orders written in thirds "
    "with column_mapping='id' (v0 create + two appends — every "
    "data file carries parquet footer field ids, physical names "
    "are non-semantic), a metaData-only RENAME (cents->amount: no "
    "file touched, the field keeps its id), a DV UPDATE (keys "
    "%7=3: +1 cent through the renamed column), and a DV DELETE "
    "(keys %11=5). The read resolves every surviving row by FIELD "
    "ID via Spark's native fieldId.read matching — any column "
    "misaddressing, lost rename, or DV slip breaks the hash vs "
    "the plain-orders oracle. At 100 TB id-resolution is per-file "
    "footer metadata; the scan stays one distributed "
    "vectorized-parquet pass.",
)
def orders_cm_id_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    )
    tbl = _scratch_table(sf_dir, "cmid")
    leg = F.pmod("o_orderkey", F.lit(3))
    dl.write_delta(
        orders.where(leg == 0), tbl, column_mapping="id"
    )                                                          # v0
    # v1/v2 appends are INDEPENDENT legs: overlap their data-file
    # materialization in threads (the expensive Spark jobs) while the
    # gate serializes only the commit step, so v1 still lands before
    # v2 — deterministic versions, identical log (optimization r12,
    # guide §2 round structure; v0 must exist first: it creates the
    # table and pins the id-mode physical column names the appends
    # write under)
    import threading
    from concurrent.futures import ThreadPoolExecutor

    v1_done = threading.Event()
    v1_failed: list = []

    def _w1():
        try:
            dl.write_delta(orders.where(leg == 1), tbl, "append")
        except BaseException as e:
            v1_failed.append(e)
            raise
        finally:
            v1_done.set()  # even on failure: never deadlock v2

    def _after_v1():
        # a failed v1 must stop v2 too, or v2 commits into v1's slot
        v1_done.wait()
        if v1_failed:
            raise RuntimeError(
                "v1 append failed; v2 not committed"
            ) from v1_failed[0]

    with ThreadPoolExecutor(max_workers=2) as _pool:
        f1 = _pool.submit(_w1)                                 # v1
        f2 = _pool.submit(
            dl.write_delta, orders.where(leg == 2), tbl, "append",
            _commit_gate=_after_v1,
        )                                                      # v2
        f1.result()
        f2.result()
    dl.delta_rename_column(tbl, "cents", "amount")             # v3
    dl.delta_update(
        spark, tbl, "o_orderkey % 7 = 3", {"amount": "amount + 1"}
    )                                                          # v4
    dl.delta_delete(spark, tbl, "o_orderkey % 11 = 5")         # v5
    live = dl.read_delta(spark, tbl).select(
        "o_orderkey", "amount", "prio"
    )
    sample = live.where(F.col("o_orderkey") % 97 == 0)
    total = live.agg(
        F.lit(-1).cast("bigint").alias("o_orderkey"),
        F.sum("amount").cast("bigint").alias("amount"),
        F.lit("ALL").alias("prio"),
    )
    return sample.unionByName(total)


@query(
    "orders_row_ids_multifile",
    """
    WITH base AS (
        SELECT o_orderkey, o_orderkey % 4 AS leg,
               (round(o_totalprice * 100)::BIGINT
                + CASE WHEN o_orderkey % 7 = 3 THEN 1 ELSE 0 END)
                   AS cents
        FROM orders
    )
    SELECT leg::BIGINT AS leg, count(*)::BIGINT AS n_rows,
           sum(cents)::BIGINT AS sum_cents, TRUE AS id_check
    FROM base GROUP BY leg
    UNION ALL
    SELECT -1::BIGINT, count(*)::BIGINT, sum(cents)::BIGINT, TRUE
    FROM base
    """,
    doc="Cross-file row-id bookkeeping on the native Delta log "
    "(PROTOCOL.md 'Row Tracking'): ONE commit writes FOUR sorted "
    "files (legs o_orderkey%4, each its own write task — the "
    "multi-file shape a parallel production writer produces, "
    "retiring the single-file device of orders_row_ids_stable), "
    "then a DV UPDATE (keys %7=3) and an OPTIMIZE compaction into "
    "2 files that must carry every id through materialized "
    "columns. File->baseRowId assignment order is writer-private, "
    "so the query certifies the INVARIANTS instead of raw ids, "
    "all oracle-derivable: per leg, (_row_id - rank_in_leg) is "
    "ONE constant (the leg's file got a single contiguous id "
    "block); globally, ids are exactly a permutation of 0..N-1 "
    "(sum, distinct count, min, max). Any overlap, gap, dropped "
    "or duplicated id across the four files breaks a boolean and "
    "the hash. Assignment stays O(files) add-action metadata at "
    "any scale.",
)
def orders_row_ids_multifile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    tbl = _scratch_table(sf_dir, "oridmf")
    legs = [
        orders.where(F.pmod("o_orderkey", F.lit(4)) == i)
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
        for i in range(4)
    ]
    df = legs[0]
    for l in legs[1:]:
        df = df.unionByName(l)
    dl.write_delta(
        df, tbl, row_tracking=True, stats_cols=["o_orderkey"]
    )                                                          # v0
    dl.delta_update(
        spark, tbl, "o_orderkey % 7 = 3", {"cents": "cents + 1"}
    )                                                          # v1
    dl.delta_compact(spark, tbl, 2)                            # v2
    ids = dl.read_delta(spark, tbl, row_ids=True).select(
        "o_orderkey",
        F.pmod("o_orderkey", F.lit(4)).cast("bigint").alias("leg"),
        "cents",
        F.col("_row_id").alias("rid"),
    )
    rk = F.row_number().over(
        Window.partitionBy("leg").orderBy("o_orderkey")
    )
    per_leg = (
        ids.withColumn("base", F.col("rid") - rk)
        .groupBy("leg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
            (F.countDistinct("base") == 1).alias("id_check"),
        )
    )
    n = F.count(F.lit(1))
    total = ids.agg(
        F.lit(-1).cast("bigint").alias("leg"),
        n.cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        (
            (F.countDistinct("rid") == n)
            & (F.min("rid") == 0)
            & (F.max("rid") == n - 1)
            & (F.sum("rid") == n * (n - 1) / 2)
        ).alias("id_check"),
    )
    return per_leg.unionByName(total)


@query(
    "orders_shallow_clone_scan",
    """
    WITH base AS (
        SELECT o_orderkey,
               round(o_totalprice * 100)::BIGINT AS cents,
               o_orderpriority AS prio
        FROM orders
    ),
    clone_rows AS (
        SELECT o_orderkey, cents, prio
        FROM base WHERE o_orderkey % 11 <> 5
        UNION ALL
        SELECT -o_orderkey, cents + 100, prio
        FROM base WHERE o_orderkey % 13 = 1
    ),
    source_rows AS (
        SELECT o_orderkey,
               cents + CASE WHEN o_orderkey % 7 = 3
                            THEN 1 ELSE 0 END AS cents,
               prio
        FROM base
    )
    SELECT 'clone' AS side, prio,
           count(*)::BIGINT AS n_rows,
           sum(cents)::BIGINT AS sum_cents
    FROM clone_rows GROUP BY prio
    UNION ALL
    SELECT 'source', prio, count(*)::BIGINT, sum(cents)::BIGINT
    FROM source_rows GROUP BY prio
    UNION ALL
    SELECT 'meta', 'zero_copy', 1::BIGINT, 1::BIGINT
    """,
    doc="SHALLOW CLONE on the native Delta log (PROTOCOL.md 'Add "
    "File and Remove File': add.path may be an absolute URI — the "
    "spec mechanism behind zero-copy clones; the dev/staging fork "
    "any production Delta deployment of the reference's published "
    "tables uses, notebooks/20_analytics.ipynb:653): orders "
    "written once (v0), delta_clone re-references every live file "
    "by ABSOLUTE path in one metadata commit — zero bytes copied "
    "(the meta row certifies every cloned add is absolute and the "
    "clone owns no local data files). Divergence is then certified "
    "in BOTH directions under the value-hash gate: the CLONE takes "
    "a DV DELETE (keys %11=5) and an APPEND (negated keys %13=1 "
    "at +100 cents) which the source must not see, the SOURCE "
    "takes a DV UPDATE (+1 cent at keys %7=3) which the clone "
    "must not see — any leakage of tombstones, appends, or DVs "
    "across the boundary, or a mangled absolute-path resolution, "
    "breaks a per-priority aggregate hash. At 100 TB the clone is "
    "O(files) JSON metadata, no data motion.",
)
def orders_shallow_clone_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import uuid as _uuid

    from .sources import delta_log as dl
    from .sources._files import scratch_table_dir

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    )
    stem = (
        f"{os.path.basename(sf_dir.rstrip('/'))}_clone_"
        f"{_uuid.uuid4().hex[:8]}"
    )
    src = scratch_table_dir(f"{stem}_src")
    cln = scratch_table_dir(f"{stem}_cln")
    dl.write_delta(orders, src)                            # src v0
    st = dl.delta_clone(src, cln)                          # cln v0
    # the zero-copy certificate: every cloned add is an absolute
    # path and the clone root holds no data files (O(files) log
    # metadata on the driver, no data touched)
    zero_copy = all(
        os.path.isabs(p) for p in st.files
    ) and not os.path.isdir(os.path.join(cln, "data"))
    dl.delta_delete(spark, cln, "o_orderkey % 11 = 5")     # cln v1
    dl.write_delta(                                        # cln v2
        orders.where(F.pmod("o_orderkey", F.lit(13)) == 1).select(
            (-F.col("o_orderkey")).alias("o_orderkey"),
            (F.col("cents") + 100).alias("cents"),
            "prio",
        ),
        cln, "append",
    )
    dl.delta_update(                                       # src v1
        spark, src, "o_orderkey % 7 = 3", {"cents": "cents + 1"}
    )

    def _side(table_dir: str, side: str) -> DataFrame:
        return (
            dl.read_delta(spark, table_dir)
            .groupBy("prio")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(side).alias("side"), "prio",
                "n_rows", "sum_cents",
            )
        )

    meta = spark.range(1).select(
        F.lit("meta").alias("side"),
        F.lit("zero_copy").alias("prio"),
        F.lit(1).cast("bigint").alias("n_rows"),
        F.when(F.lit(zero_copy), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("sum_cents"),
    )
    return (
        _side(cln, "clone")
        .unionByName(_side(src, "source"))
        .unionByName(meta)
    )


@query(
    "orders_convert_in_place",
    """
    WITH base AS (
        SELECT o_orderkey,
               round(o_totalprice * 100)::BIGINT AS cents,
               o_orderpriority AS prio
        FROM orders
    ),
    converted AS (
        SELECT o_orderkey, cents, prio
        FROM base WHERE o_orderkey % 11 <> 5
        UNION ALL
        SELECT -o_orderkey, cents + 100, prio
        FROM base WHERE o_orderkey % 13 = 1
    )
    SELECT prio, count(*)::BIGINT AS n_rows,
           sum(cents)::BIGINT AS sum_cents
    FROM converted GROUP BY prio
    UNION ALL
    SELECT 'ZERO_REWRITE', 1::BIGINT, 1::BIGINT
    """,
    doc="CONVERT TO DELTA on the native log (public delta-io "
    "PROTOCOL.md action model — the standard onboarding path for "
    "pre-existing parquet into the Delta surface the reference "
    "publishes, notebooks/20_analytics.ipynb:653): orders written "
    "as PLAIN hive-partitioned parquet (partitioned by priority, "
    "no log), then convert_to_delta builds version 0 IN PLACE — "
    "partition values parsed from the hive segments, per-file "
    "min/max stats read DISTRIBUTED via mapInPandas footers, zero "
    "bytes rewritten (the meta row certifies the post-convert live "
    "set is byte-identical to the pre-convert listing). The "
    "converted table then takes first-class mutations under the "
    "value-hash gate: a DV DELETE (keys %11=5) and an APPEND "
    "(negated keys %13=1 at +100 cents), read back per priority. "
    "A mis-parsed partition segment, lost file, or double-counted "
    "add breaks the hash vs the plain-orders oracle. At 100 TB "
    "the convert is one listing + distributed footer reads + "
    "O(files) JSON.",
)
def orders_convert_in_place(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import glob as _glob
    import os

    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    )
    tbl = _scratch_table(sf_dir, "conv")
    # plain hive-partitioned parquet — no delta log yet
    orders.write.partitionBy("prio").parquet(tbl)
    before = sorted(
        _glob.glob(os.path.join(tbl, "**", "*.parquet"),
                   recursive=True)
    )
    st = dl.convert_to_delta(
        spark, tbl, partition_by=["prio"],
        stats_cols=["o_orderkey"],
    )                                                          # v0
    zero_rewrite = sorted(
        os.path.join(tbl, p) for p in st.files
    ) == before
    dl.delta_delete(spark, tbl, "o_orderkey % 11 = 5")         # v1
    dl.write_delta(                                            # v2
        orders.where(F.pmod("o_orderkey", F.lit(13)) == 1).select(
            (-F.col("o_orderkey")).alias("o_orderkey"),
            (F.col("cents") + 100).alias("cents"),
            "prio",
        ),
        tbl, "append", partition_by=["prio"],
    )
    per_prio = (
        dl.read_delta(spark, tbl)
        .groupBy("prio")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    meta = spark.range(1).select(
        F.lit("ZERO_REWRITE").alias("prio"),
        F.lit(1).cast("bigint").alias("n_rows"),
        F.when(F.lit(zero_rewrite), F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("sum_cents"),
    )
    return per_prio.unionByName(meta)


@query(
    "orders_restore_rewind",
    """
    WITH base AS (
        SELECT o_orderkey,
               round(o_totalprice * 100)::BIGINT AS cents,
               o_orderpriority AS prio
        FROM orders
    ),
    pre_restore AS (
        SELECT o_orderkey, cents, prio
        FROM base WHERE o_orderkey % 11 <> 5
        UNION ALL
        SELECT -o_orderkey, cents + 100, prio
        FROM base WHERE o_orderkey % 13 = 1
    ),
    head_rows AS (
        SELECT o_orderkey,
               cents + CASE WHEN o_orderkey % 7 = 3
                            THEN 1 ELSE 0 END AS cents,
               prio
        FROM base
    )
    SELECT 'head' AS era, prio,
           count(*)::BIGINT AS n_rows,
           sum(cents)::BIGINT AS sum_cents
    FROM head_rows GROUP BY prio
    UNION ALL
    SELECT 'pre_restore', prio, count(*)::BIGINT,
           sum(cents)::BIGINT
    FROM pre_restore GROUP BY prio
    """,
    doc="RESTORE TABLE ... TO VERSION AS OF on the native Delta "
    "log (the spec's content-rewind-history-moves-forward "
    "semantics over the same add/remove action model; the recovery "
    "path for the Delta surface the reference publishes, "
    "notebooks/20_analytics.ipynb:653) certified under the "
    "value-hash gate: orders written (v0), DV DELETE %11=5 (v1), "
    "APPEND negated %13=1 at +100 cents (v2), then "
    "delta_restore(v0) — one commit (v3) that re-references v0's "
    "files and cancels the divergence WITHOUT rewriting data — "
    "followed by a post-restore DV UPDATE (+1 cent at %7=3, v4) "
    "proving the restored table is live, not a frozen snapshot. "
    "The 'head' era must equal plain orders + the post-restore "
    "update (delete and append both fully rewound); the "
    "'pre_restore' era reads v2 BY TIME TRAVEL, proving the "
    "restore moved history FORWARD instead of destroying it. A "
    "restore that leaks tombstones, loses re-added files, or "
    "truncates history breaks one of the two era hashes. At "
    "100 TB a restore is O(files) log metadata, zero data motion.",
)
def orders_restore_rewind(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .sources import delta_log as dl

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("cents"),
        F.col("o_orderpriority").alias("prio"),
    )
    tbl = _scratch_table(sf_dir, "restore")
    dl.write_delta(orders, tbl)                                # v0
    dl.delta_delete(spark, tbl, "o_orderkey % 11 = 5")         # v1
    dl.write_delta(                                            # v2
        orders.where(F.pmod("o_orderkey", F.lit(13)) == 1).select(
            (-F.col("o_orderkey")).alias("o_orderkey"),
            (F.col("cents") + 100).alias("cents"),
            "prio",
        ),
        tbl, "append",
    )
    dl.delta_restore(tbl, 0)                                   # v3
    dl.delta_update(                                           # v4
        spark, tbl, "o_orderkey % 7 = 3", {"cents": "cents + 1"}
    )

    def _era(df: DataFrame, era: str) -> DataFrame:
        return (
            df.groupBy("prio")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
            )
            .select(
                F.lit(era).alias("era"), "prio",
                "n_rows", "sum_cents",
            )
        )

    return _era(dl.read_delta(spark, tbl), "head").unionByName(
        _era(dl.read_delta(spark, tbl, version=2), "pre_restore")
    )
