"""In-flight DQ metrics (Observation API), streaming dedup within
watermark, and small-file compaction."""

from __future__ import annotations

import pyspark.sql.functions as F

from rearc_data_engineer_takehome_spark.operators.quality import observed
from rearc_data_engineer_takehome_spark.sources import delta_log as dl


def test_observed_metrics_collected_in_one_pass(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (None, "c")], ["k", "v"]
    )
    instrumented, obs = observed(df, "dq", "k", "v")
    out = instrumented.where(F.col("k").isNotNull()).count()  # the real job
    assert out == 2
    got = obs.get
    # metrics reflect the FULL observed frame, gathered during that job
    assert got["n_rows"] == 3 and got["k_nulls"] == 1 and got["v_nulls"] == 1


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark: replayed event ids across
    micro-batches are emitted once — streaming exactly-once dedup."""
    src = str(tmp_path / "dup_src")
    schema = "event_id long, ts timestamp, value double"

    def write(rows):
        spark.createDataFrame(rows, "event_id long, ts_s string, value double").select(
            "event_id", F.to_timestamp("ts_s").alias("ts"), "value"
        ).coalesce(1).write.mode("append").parquet(src)

    write([(1, "2024-01-01 10:00:00", 1.0), (2, "2024-01-01 10:01:00", 2.0)])

    stream = spark.readStream.schema(schema).parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    # batch 2 replays event 1 (same id, slightly different ts) + a new event
    write([(1, "2024-01-01 10:00:30", 1.0), (3, "2024-01-01 10:05:00", 3.0)])
    q.processAllAvailable()
    q.stop()
    rows = spark.table("dedup_stream").collect()
    ids = sorted(r.event_id for r in rows)
    assert ids == [1, 2, 3], f"replayed duplicate leaked: {ids}"


def test_compact_parquet_dir(spark, tmp_path):
    path = str(tmp_path / "fragmented")
    # accrete 12 tiny files, as an append sink would
    for i in range(12):
        dl.write_delta(
            spark.range(i * 10, (i + 1) * 10).coalesce(1), path, mode="append"
        )
    assert len(dl.replay(path).files) == 12
    before = {r.id for r in dl.read_delta(spark, path).collect()}

    st = dl.delta_compact(spark, path, target_files=2)
    assert len(st.files) == 2
    after = {r.id for r in dl.read_delta(spark, path).collect()}
    assert after == before  # same data, fewer files


def test_available_now_incremental_ingestion(spark, tmp_path):
    """Trigger.AvailableNow + checkpoint: each run drains exactly the
    files that arrived since the last run, then stops — incremental
    batch ingestion with streaming's exactly-once bookkeeping."""
    src, ckpt, out = (str(tmp_path / d) for d in ("src", "ckpt", "out"))
    schema = "id long, v double"

    def land(lo, hi):
        spark.range(lo, hi).select(
            F.col("id"), (F.col("id") * 1.5).alias("v")
        ).coalesce(1).write.mode("append").parquet(src)

    def drain():
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.format("parquet")
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    land(0, 100)
    drain()
    assert spark.read.parquet(out).count() == 100

    land(100, 150)
    drain()  # second run picks up ONLY the new files (no reprocessing)
    ids = [r.id for r in spark.read.parquet(out).collect()]
    assert len(ids) == 150 and len(set(ids)) == 150  # no duplicates
