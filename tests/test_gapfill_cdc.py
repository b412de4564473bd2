"""Gap-fill semantics, streaming CDC upsert composition, AQE skew join."""

from __future__ import annotations

import pyspark.sql.functions as F

from rearc_data_engineer_takehome_spark.sources import delta_log as dl
from rearc_data_engineer_takehome_spark.streaming.windows import gapfill_daily

DAY = 86400


def test_gapfill_forward_fills_interior_gaps_leaves_leading_null(spark):
    rows = [
        # key A: days 0 and 2 observed → day 1 is an interior gap
        ("A", "2024-01-01 10:00:00", 1.0),
        ("A", "2024-01-03 09:00:00", 3.0),
        # key B: only day 2 observed → days 0-1 are leading gaps
        ("B", "2024-01-03 12:00:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts_s string, v double").select(
        "k", F.to_timestamp("ts_s").alias("ts"), "v"
    )
    out = {(r.k, r.day_start): r for r in gapfill_daily(df, "k", "ts", "v").collect()}
    day0 = min(d for _, d in out)
    assert len(out) == 6  # 2 keys × 3-day grid, densified
    a0, a1, a2 = (out[("A", day0 + i * DAY)] for i in range(3))
    assert (a0.val_filled, a0.is_gap) == (1.0, False)
    assert (a1.val_filled, a1.is_gap) == (1.0, True)   # carried forward
    assert (a2.val_filled, a2.is_gap) == (3.0, False)  # real value wins again
    b0, b1, b2 = (out[("B", day0 + i * DAY)] for i in range(3))
    assert b0.val_filled is None and b0.is_gap  # leading gap: nothing to carry
    assert b1.val_filled is None and b1.is_gap
    assert (b2.val_filled, b2.is_gap) == (7.0, False)


def test_foreachbatch_cdc_upsert_converges_to_latest(spark, tmp_path):
    """CDC pattern: a stream of keyed updates applied per micro-batch via
    foreachBatch + delta_merge_upsert — the table converges to
    latest-per-key."""
    src, ckpt, table = (str(tmp_path / d) for d in ("src", "ckpt", "table"))
    schema = "id long, val string"

    def land(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    def apply_batch(batch_df, _bid):
        dl.delta_merge_upsert(spark, table, batch_df, ["id"])

    def drain():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    dl.write_delta(spark.createDataFrame([], schema), table)
    land([(1, "a"), (2, "b")])
    drain()
    land([(1, "a2"), (3, "c")])  # update key 1, insert key 3
    drain()
    state = {r.id: r.val for r in dl.read_delta(spark, table).collect()}
    assert state == {1: "a2", 2: "b", 3: "c"}


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """AQE skew-join handling: one hot key would pin a single task at
    scale; with skewJoin enabled the runtime splits the oversized
    partition. Asserts the executed plan actually marks the join skew=true."""
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ

        # 200k rows on ONE key vs a uniform right side
        left = spark.range(0, 200_000).select(
            F.lit(7).alias("k"), F.col("id").alias("payload")
        ).union(
            spark.range(0, 2_000).select(
                (F.col("id") % 50).alias("k"), F.col("id").alias("payload")
            )
        )
        right = spark.range(0, 50).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("rv")
        )
        joined = left.join(right, "k")
        # act on THIS DataFrame's query execution: count() would build a
        # separate (column-pruned) execution whose adaptive plan we
        # wouldn't be inspecting
        assert len(joined.collect()) == 202_000
        executed = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in executed, executed[:2000]
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_gapfill_interpolation_between_neighbours(spark):
    from rearc_data_engineer_takehome_spark.streaming.windows import (
        gapfill_daily_interpolate,
    )

    rows = [
        ("A", "2024-01-01 06:00:00", 10.0),  # day 0
        ("A", "2024-01-04 18:00:00", 40.0),  # day 3 → days 1,2 interpolate
        ("B", "2024-01-02 00:00:00", 5.0),   # day 1 only → edges extend
    ]
    df = spark.createDataFrame(rows, "k string, ts_s string, v double").select(
        "k", F.to_timestamp("ts_s").alias("ts"), "v"
    )
    out = {
        (r.k, r.day_start): r
        for r in gapfill_daily_interpolate(df, "k", "ts", "v").collect()
    }
    day0 = min(d for _, d in out)
    a = [out[("A", day0 + i * DAY)] for i in range(4)]
    assert [r.val_interp for r in a] == [10.0, 20.0, 30.0, 40.0]  # linear ramp
    assert [r.is_gap for r in a] == [False, True, True, False]
    b = [out[("B", day0 + i * DAY)] for i in range(4)]
    # single observation: every other day copies it (nearest neighbour)
    assert [r.val_interp for r in b] == [5.0, 5.0, 5.0, 5.0]
    assert [r.is_gap for r in b] == [True, False, True, True]
