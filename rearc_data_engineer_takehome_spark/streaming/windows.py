"""Event-time windowed aggregation — batch and Structured Streaming.

The reference is batch-only by design (README.md:92-109 rejects
event-driven triggering), so windowing is extension tier. The SAME
transformation function serves both modes: ``F.window``/session
windows work identically on a static DataFrame and a streaming one —
pass a ``readStream`` source and add a watermark for late data.

Scale notes: windowed aggregation shuffles on (window, keys); at 100 TB
pre-filter and project before the window, and let AQE size partitions.
Streaming state is bounded by the watermark; without one, state grows
forever.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from ..functions.timeops import epoch_seconds
from ..operators.relational import materialize


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    keys: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Tumbling event-time windows: count + sum per window (and keys).

    Expects a timestamp column (the fixtures read as TIMESTAMP_NTZ).
    Window bounds are emitted as ABSOLUTE naive-epoch seconds
    (functions/timeops.py): tz-independent in both engines, unlike
    wall-time strings which depend on the session zone for LTZ values."""
    keys = keys or []
    return (
        df.groupBy(F.window(F.col(ts_col), duration).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .select(
            epoch_seconds(F.col("w.start")).alias("window_start"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    keys: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """Sliding windows (duration > slide → overlapping assignment)."""
    keys = keys or []
    return (
        df.groupBy(F.window(F.col(ts_col), duration, slide).alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
        .select(
            epoch_seconds(F.col("w.start")).alias("window_start"),
            *keys,
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    gap_minutes: int = 30,
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessionization in BATCH via window functions:
    a new session starts when the gap from the previous event exceeds
    ``gap_minutes``; session id = running count of session starts.

    Classic lag + cumulative-sum formulation — one shuffle on user, fully
    SQL-expressible (and therefore oracle-verifiable), equivalent to
    Structured Streaming's session_window for completed sessions.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col)
    # Gap measured on second-truncated naive epochs — exactly
    # floor(epoch(ts)) in DuckDB, so sub-second offsets can never flip a
    # session boundary differently across the two engines.
    with_prev = df.withColumn("__prev_ts", F.lag(F.col(ts_col)).over(w))
    gap = epoch_seconds(ts_col) - epoch_seconds("__prev_ts")
    with_start = with_prev.withColumn(
        "is_new_session",
        F.when(F.col("__prev_ts").isNull() | (gap > gap_minutes * 60), 1).otherwise(0),
    ).drop("__prev_ts")
    with_sid = with_start.withColumn(
        "session_seq", F.sum("is_new_session").over(w)
    )
    return (
        with_sid.groupBy(user_col, "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            epoch_seconds(F.min(ts_col)).alias("session_start"),
            epoch_seconds(F.max(ts_col)).alias("session_end"),
            F.round(F.sum(value_col), 2).alias("sum_value"),
        )
    )


def hypertable_rollup(
    df: DataFrame,
    ts_col: str,
    value_col: str = "value",
    keys: list[str] | None = None,
) -> DataFrame:
    """Multi-granularity continuous-aggregate rollup (the hypertable
    pattern): hour buckets aggregated from raw events ONCE, then day and
    week buckets re-aggregated FROM THE HOURLY ROLLUP — coarse
    granularities never rescan raw data, which at 100 TB is the
    difference between one fact-table pass and three.

    Output: (granularity, bucket_start epoch-seconds, keys..., n_events,
    sum_value). sum/count are decomposable so re-aggregation is exact;
    extend with min/max the same way (avg derives from sum/count).
    """
    keys = keys or []
    hourly = (
        df.groupBy(F.window(F.col(ts_col), "1 hour").alias("w"), *keys)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("sum_value"),
        )
        .select(
            epoch_seconds(F.col("w.start")).alias("bucket_start"), *keys,
            "n_events", "sum_value",
        )
    )
    # feeds three outputs
    hourly = materialize(hourly, "rollup_hourly", "cache")

    def coarsen(seconds: int):
        return (
            hourly.groupBy(
                (F.floor(F.col("bucket_start") / seconds) * seconds).alias(
                    "bucket_start"
                ),
                *keys,
            )
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sum_value").alias("sum_value"),
            )
        )

    out_cols = ["granularity", "bucket_start", *keys, "n_events", "sum_value"]
    tagged = [
        hourly.withColumn("granularity", F.lit("hour")),
        coarsen(86400).withColumn("granularity", F.lit("day")),
        coarsen(7 * 86400).withColumn("granularity", F.lit("week")),
    ]
    result = tagged[0].select(*out_cols)
    for t in tagged[1:]:
        result = result.unionByName(t.select(*out_cols))
    return result.withColumn("sum_value", F.round("sum_value", 2))


def stream_tumbling_counts(
    stream: DataFrame,
    ts_col: str,
    duration: str,
    watermark: str,
    keys: list[str] | None = None,
) -> DataFrame:
    """Structured Streaming tumbling counts with a watermark bounding
    late data and state size. Works with any readStream source."""
    keys = keys or []
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), duration).alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), *keys, "n_events")
    )


def to_memory_sink(
    df: DataFrame, query_name: str, output_mode: str = "append"
) -> DataStreamWriter:
    """Test/debug sink: results queryable as ``spark.table(query_name)``."""
    return (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
    )


def gapfill_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Time-series gap filling with forward fill (TimescaleDB's
    ``time_bucket_gapfill`` + ``locf``): aggregate to a daily series per
    key, densify onto the complete day grid spanning the data, and carry
    the last observed value across missing days (``is_gap`` marks filled
    rows; leading gaps stay null — there is nothing to carry).

    Day buckets come from ``F.window(ts, '1 day')`` and are emitted as
    absolute naive-epoch seconds (``day_start``) — epoch-aligned and
    tz-independent in every engine, unlike date_trunc/date_format on LTZ
    values which shift with the session zone. The densification grid is
    then a plain long sequence stepping 86400 — no timestamp arithmetic
    at all.

    Scale shape: the daily aggregate shrinks the fact table first
    (days×keys rows); the grid is generated, never shuffled large; the
    join and the forward-fill window both run over the already-tiny
    densified series. Grid bounds are a 2-scalar driver aggregate,
    constant size at any SF.
    """
    from pyspark.sql import Window

    daily = df.groupBy(
        F.window(F.col(ts_col), "1 day").alias("w"), F.col(key_col)
    ).agg(F.round(F.avg(val_col), round_to).alias("val")).select(
        epoch_seconds(F.col("w.start")).alias("day_start"), key_col, "val"
    )
    lo, hi = daily.agg(F.min("day_start"), F.max("day_start")).first()
    grid = (
        daily.select(key_col)
        .distinct()
        .select(
            key_col,
            F.explode(
                F.sequence(F.lit(lo), F.lit(hi), F.lit(86400))
            ).alias("day_start"),
        )
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("day_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    dense = grid.join(daily, [key_col, "day_start"], "left")
    return dense.select(
        key_col,
        "day_start",
        F.last("val", ignorenulls=True).over(w).alias("val_filled"),
        F.col("val").isNull().alias("is_gap"),
    )


def gapfill_daily_interpolate(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    round_to: int = 4,
) -> DataFrame:
    """Gap filling by LINEAR INTERPOLATION between the nearest observed
    neighbours (vs gapfill_daily's step-function carry-forward): a gap
    day gets prev + (next−prev)·(t−t_prev)/(t_next−t_prev). Edge gaps
    with only one neighbour fall back to that neighbour's value; the
    ``is_gap`` flag marks synthesized rows.

    Same scale shape as gapfill_daily (aggregate-first, generated grid,
    windows over the tiny densified series): two extra ignorenulls
    windows (next value / next time looking forward) are the only cost.
    """
    from pyspark.sql import Window

    daily = df.groupBy(
        F.window(F.col(ts_col), "1 day").alias("w"), F.col(key_col)
    ).agg(F.round(F.avg(val_col), round_to).alias("val")).select(
        epoch_seconds(F.col("w.start")).alias("day_start"), key_col, "val"
    )
    lo, hi = daily.agg(F.min("day_start"), F.max("day_start")).first()
    grid = (
        daily.select(key_col)
        .distinct()
        .select(
            key_col,
            F.explode(F.sequence(F.lit(lo), F.lit(hi), F.lit(86400))).alias(
                "day_start"
            ),
        )
    )
    dense = grid.join(daily, [key_col, "day_start"], "left")
    back = (
        Window.partitionBy(key_col)
        .orderBy("day_start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy(key_col)
        .orderBy("day_start")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("val").isNotNull(), F.col("day_start"))
    prev_v = F.last("val", ignorenulls=True).over(back)
    next_v = F.first("val", ignorenulls=True).over(fwd)
    prev_t = F.last(obs_day, ignorenulls=True).over(back)
    next_t = F.first(obs_day, ignorenulls=True).over(fwd)
    interp = F.when(
        prev_v.isNotNull() & next_v.isNotNull() & (next_t != prev_t),
        prev_v
        + (next_v - prev_v)
        * (F.col("day_start") - prev_t)
        / (next_t - prev_t),
    ).otherwise(F.coalesce(prev_v, next_v))
    return dense.select(
        key_col,
        "day_start",
        F.round(F.coalesce(F.col("val"), interp), round_to).alias("val_interp"),
        F.col("val").isNull().alias("is_gap"),
    )
