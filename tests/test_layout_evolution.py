"""Z-order layout skipping, parquet schema evolution, mergeable sketches."""

from __future__ import annotations

import pathlib

import pyarrow.parquet as pq
import pyspark.sql.functions as F

from rearc_data_engineer_takehome_spark.operators.layout import write_zordered
from rearc_data_engineer_takehome_spark.sources.writers import write_sorted


def _per_file_span_ratio(path: str, col_index: int, global_span: float) -> float:
    """Mean (max-min)/global_span of one column across the files."""
    ratios = []
    for f in pathlib.Path(path).glob("*.parquet"):
        md = pq.ParquetFile(str(f)).metadata
        stats = [md.row_group(i).column(col_index).statistics for i in range(md.num_row_groups)]
        lo = min(s.min for s in stats)
        hi = max(s.max for s in stats)
        ratios.append((hi - lo) / global_span)
    return sum(ratios) / len(ratios)


def test_zorder_localizes_both_dimensions(spark, tmp_path):
    # uniform 128x128 grid; linear sort on x gives y NO locality,
    # z-order gives both dimensions compact per-file ranges
    grid = spark.range(0, 128 * 128).select(
        (F.col("id") % 128).alias("x"), (F.col("id") / 128).cast("long").alias("y")
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(grid, zpath, ["x", "y"], n_files=16, bits=7)
    write_sorted(grid, spath, ["x"], n_files=16)

    span = 127.0
    # single-key sort: x skips perfectly but y is full-range in every file
    assert _per_file_span_ratio(spath, 0, span) < 0.15
    assert _per_file_span_ratio(spath, 1, span) > 0.9
    # z-order: BOTH dimensions localized (16 files ≈ 4x4 quadrants → ~1/4
    # span each; allow slack for range-sampling boundary error)
    zx, zy = (_per_file_span_ratio(zpath, i, span) for i in (0, 1))
    assert zx < 0.55 and zy < 0.55, (zx, zy)
    # data intact
    assert spark.read.parquet(zpath).count() == 128 * 128


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, a string").write.mode(
        "append"
    ).parquet(path)
    # later files gain a column — the standard additive evolution
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, a string, score double"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "a", "score"}
    rows = {r.id: r.score for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}  # old files surface the new col as null


def test_hll_sketch_partials_merge_to_global(spark, sf_correctness):
    """Mergeable sketches are WHY approx-distinct scales: per-partition
    (here per-group) partial sketches union to exactly the sketch of the
    whole — no re-scan, associative, any tree shape."""
    docs = spark.read.parquet(f"{sf_correctness}/documents.parquet")
    per_group = docs.groupBy("lang").agg(
        F.expr("hll_sketch_agg(doc_id)").alias("sk")
    )
    merged = per_group.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    ).first()["est"]
    direct = docs.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(doc_id))").alias("est")
    ).first()["est"]
    true = docs.select("doc_id").distinct().count()
    # union passes through a common HLL representation, so merged state
    # is not bit-identical to the direct sketch — but both estimates must
    # sit within HLL++'s error envelope of the truth and of each other
    assert abs(direct - true) / true < 0.05
    assert abs(merged - true) / true < 0.05
    assert abs(merged - direct) / max(direct, 1) < 0.03


def test_table_file_audit_matches_filesystem(spark, tmp_path):
    """table_file_audit's counts reconcile with the filesystem and the
    data: n_files = directory listing, total_bytes = sum of st_size,
    n_rows = actual row count — on a deliberately multi-file table and
    a single-file one."""
    import os

    from rearc_data_engineer_takehome_spark.operators.layout import (
        table_file_audit,
    )

    multi = str(tmp_path / "multi")
    spark.range(0, 10_000).withColumn(
        "v", F.col("id") * 2
    ).repartition(4).write.parquet(multi)
    single = str(tmp_path / "single")
    spark.range(0, 500).write.parquet(single)

    audit = {
        r["table_name"]: r.asDict()
        for r in table_file_audit(
            spark, {"multi": multi, "single": single}
        ).collect()
    }

    for name, path, rows in (("multi", multi, 10_000), ("single", single, 500)):
        files = [
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith("_")
        ]
        got = audit[name]
        assert got["n_files"] == len(files)
        assert got["n_rows"] == rows
        assert got["total_bytes"] == sum(
            os.path.getsize(os.path.join(path, f)) for f in files
        )
        assert got["recommended_files"] == 1  # tiny tables compact to 1
        assert got["small_file_problem"] is True
    assert audit["multi"]["max_file_rows"] <= 10_000
    assert audit["multi"]["file_row_skew"] >= 1.0


def test_table_file_audit_partitioned_layout_identical_basenames(
    spark, tmp_path
):
    """ADVICE r04: a dynamic-partition write emits the SAME
    part-NNNNN-<task-uuid> basename into every partition subdirectory a
    task touches; joining the binaryFile listing to per-file row counts
    on basename would go many-to-many and inflate n_rows/skew. The
    full-path join must reconcile exactly."""
    import os

    from rearc_data_engineer_takehome_spark.operators.layout import (
        table_file_audit,
    )

    # space exercises percent-decoding; '+' must survive it literally
    # (url_decode is FORM decoding — '+' would otherwise become a space)
    part = str(tmp_path / "part ed+x")
    (
        spark.range(0, 1_000)
        .withColumn("p", F.col("id") % 4)
        .coalesce(1)  # one task writes all 4 partition dirs
        .write.partitionBy("p")
        .parquet(part)
    )
    basenames = [
        f
        for d in os.listdir(part)
        if d.startswith("p=")
        for f in os.listdir(os.path.join(part, d))
        if f.endswith(".parquet")
    ]
    assert len(basenames) == 4
    assert len(set(basenames)) == 1  # identical basename in each subdir

    got = table_file_audit(spark, {"part": part}).collect()[0].asDict()
    assert got["n_files"] == 4
    assert got["n_rows"] == 1_000  # basename join would report 16k
    assert got["max_file_rows"] == 250
    assert got["file_row_skew"] == 1.0


def test_compact_table_binpacks_and_preserves_rows(spark, tmp_path):
    """Bin-packing compaction on the Delta log: a 16-file tiny table
    compacts to one file with rows and values intact, as one new
    version, and the pre-compaction version stays readable. A re-run
    converges to the same content."""
    from rearc_data_engineer_takehome_spark.sources import delta_log as dl

    path = str(tmp_path / "shards")
    dl.write_delta(
        spark.range(0, 20_000).withColumn("v", F.col("id") * 7).repartition(16),
        path,
    )
    v0 = dl.replay(path)
    assert len(v0.files) == 16
    before = sorted(tuple(r) for r in dl.read_delta(spark, path).collect())

    st = dl.delta_compact(spark, path, target_files=1)
    assert st.version == v0.version + 1
    assert len(st.files) == 1
    assert sorted(tuple(r) for r in dl.read_delta(spark, path).collect()) == before
    old = dl.read_delta(spark, path, version=v0.version)
    assert sorted(tuple(r) for r in old.collect()) == before

    again = dl.delta_compact(spark, path, target_files=1)
    assert len(again.files) == 1
    assert sorted(tuple(r) for r in dl.read_delta(spark, path).collect()) == before
