"""SCD2 interval building, keyed Delta merge-upsert, sorted-write data
skipping."""

from __future__ import annotations

import pathlib

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from rearc_data_engineer_takehome_spark.operators.scd import scd2_from_events
from rearc_data_engineer_takehome_spark.sources import delta_log as dl
from rearc_data_engineer_takehome_spark.sources.writers import write_sorted


def test_scd2_intervals_chain_and_single_current(spark):
    rows = [
        ("k1", 10, "a"), ("k1", 20, "b"), ("k1", 30, "c"),
        ("k2", 15, "x"),
        ("k3", 5, "p"), ("k3", 5, "q"),  # tied timestamps → tiebreak on attr
    ]
    df = spark.createDataFrame(rows, "key string, ts long, attr string")
    out = scd2_from_events(df, keys=["key"], ts_col="ts", tiebreak=["attr"]).collect()

    by_key = {}
    for r in out:
        by_key.setdefault(r.key, []).append(r)
    for key, versions in by_key.items():
        versions.sort(key=lambda r: (r.valid_from, r.attr))
        # intervals chain: each version ends where the next begins
        for a, b in zip(versions, versions[1:]):
            assert a.valid_to == b.valid_from, (key, a, b)
        # exactly one open (current) version per key, and it is the last
        currents = [r for r in versions if r.is_current]
        assert len(currents) == 1 and currents[0] is versions[-1]
    # the tied-timestamp key resolved deterministically by the tiebreak col
    k3 = by_key["k3"]
    assert [r.attr for r in k3] == ["p", "q"] and k3[1].is_current


def test_merge_upsert_updates_inserts_idempotent(spark, tmp_path):
    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "one", 1.0), (2, "two", 2.0), (3, "three", 3.0)],
        "id long, name string, score double",
    )
    dl.write_delta(base, path)

    updates = spark.createDataFrame(
        [(2, "TWO", 2.5), (4, "four", 4.0)], "id long, name string, score double"
    )
    dl.delta_merge_upsert(spark, path, updates, ["id"])
    state = {r.id: (r.name, r.score) for r in dl.read_delta(spark, path).collect()}
    assert state == {
        1: ("one", 1.0),
        2: ("TWO", 2.5),   # matched key replaced
        3: ("three", 3.0),  # untouched
        4: ("four", 4.0),   # new key inserted
    }

    dl.delta_merge_upsert(spark, path, updates, ["id"])  # re-run converges
    state2 = {r.id: (r.name, r.score) for r in dl.read_delta(spark, path).collect()}
    assert state2 == state


def test_merge_upsert_rejects_schema_drift(spark, tmp_path):
    path = str(tmp_path / "dim2")
    dl.write_delta(spark.createDataFrame([(1, "a")], "id long, v string"), path)
    bad = spark.createDataFrame([(1, 9)], "id long, other long")
    try:
        dl.delta_merge_upsert(spark, path, bad, ["id"])
        raise AssertionError("schema drift accepted")
    except ValueError as e:
        assert "schema" in str(e)


def test_write_sorted_produces_disjoint_file_ranges(spark, tmp_path):
    path = str(tmp_path / "sorted")
    df = spark.range(0, 10_000).select(
        (F.col("id") * 7919 % 10_000).alias("k"), F.col("id").alias("v")
    )
    write_sorted(df, path, sort_cols=["k"], n_files=4)

    files = sorted(pathlib.Path(path).glob("*.parquet"))
    assert len(files) == 4
    ranges = []
    for f in files:
        md = pq.ParquetFile(str(f)).metadata
        stats = [md.row_group(i).column(0).statistics for i in range(md.num_row_groups)]
        assert all(s is not None and s.has_min_max for s in stats)
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    # range partitioning ⇒ files cover globally disjoint key ranges, so a
    # point/range predicate on k can skip every non-matching file via
    # footer stats alone
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo, ranges
    # data intact and filterable
    got = spark.read.parquet(path).where(F.col("k") < 100).count()
    assert got == 100
