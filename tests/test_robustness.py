"""Input robustness: corrupt JSON records (PERMISSIVE capture vs
FAILFAST), malformed BLS lines, output file sizing, and commit order
when one of two parallel appends fails."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rearc_data_engineer_takehome_spark.operators import parse
from rearc_data_engineer_takehome_spark.sources import readers, writers


def test_permissive_jsonl_captures_corrupt_records(spark, tmp_path):
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "v": 10}\n'
        "THIS IS NOT JSON\n"
        '{"id": 2, "v": 20}\n'
        '{"id": 3, "v": }\n'
    )
    schema = "id INT, v INT, _corrupt_record STRING"
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    df = df.cache()  # corrupt-record column requires a materialized scan
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert sorted(r.id for r in good.collect()) == [1, 2]
    assert bad.count() == 2  # quarantined, not dropped, not fatal
    df.unpersist()


def test_failfast_jsonl_raises(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"id": 1}\nnot json\n')
    df = spark.read.schema("id INT").option("mode", "FAILFAST").json(str(p))
    with pytest.raises(Exception, match="FAILFAST|Malformed"):
        df.collect()


def test_bls_parser_survives_garbage_variants(spark, tmp_path):
    p = tmp_path / "nasty.txt"
    p.write_text(
        "series_id\tyear\tperiod\tvalue\n"      # header
        "\n\n"                                   # blanks
        "S1 2020 Q01 1.5\n"                      # good
        "S1 notayear Q01 2.0\n"                  # bad year → dropped
        "S1 2020 Q02 notanumber\n"               # bad value → dropped
        "S1 2020\n"                              # too few tokens → dropped
        "   S1   2021   Q01   3.25   r   x\n"    # extra ws + extra tokens → ok
    )
    rows = {(r.series_id, r.year, r.period): r.value
            for r in parse.read_and_parse_bls(spark, str(p)).collect()}
    assert rows == {("S1", 2020, "Q01"): 1.5, ("S1", 2021, "Q01"): 3.25}


def test_output_file_sizing(spark, tmp_path):
    """Writers must control output file counts: a 32-partition shuffle
    writing 100 rows must not emit 32 tiny files when coalesced."""
    df = spark.range(100).repartition(32).withColumn("v", F.col("id") * 2)
    out = str(tmp_path / "sized")
    writers.write_parquet_dir(df.coalesce(2), out)
    import pathlib

    files = [f for f in pathlib.Path(out).glob("*.parquet")]
    assert len(files) == 2
    assert spark.read.parquet(out).count() == 100


def test_cm_id_roundtrip_failed_v1_append_commits_nothing_after_it(
    spark, sf_smoke, monkeypatch
):
    """orders_cm_id_roundtrip writes its v1 and v2 appends in parallel
    and gates v2's commit on v1. When v1's write fails, the query must
    raise and v2 must not commit into v1's version slot."""
    from rearc_data_engineer_takehome_spark.queries import REGISTRY
    from rearc_data_engineer_takehome_spark.sources import delta_log as dl

    real = dl.write_delta
    tables = []

    def faulty(df, table_dir, mode="overwrite", *a, **k):
        tables.append(table_dir)
        if mode == "append" and k.get("_commit_gate") is None:
            raise OSError("injected v1 write failure")
        return real(df, table_dir, mode, *a, **k)

    monkeypatch.setattr(dl, "write_delta", faulty)
    with pytest.raises(OSError, match="injected v1"):
        REGISTRY["orders_cm_id_roundtrip"].spark(spark, sf_smoke)
    assert dl.list_delta_versions(tables[0]) == [0]


def test_failed_cdc_leg_leaves_no_orphan_dv_file_on_delete(
    spark, tmp_path, monkeypatch
):
    """The reverse case: the DV bitmap pass succeeds and writes its
    ``deletion_vector_<uuid>.bin``, then the concurrent change-data
    leg fails. The ``.bin`` must be deleted: no commit references it."""
    from rearc_data_engineer_takehome_spark.sources import delta_log as dl
    from rearc_data_engineer_takehome_spark.sources.delta_log import dml

    t = str(tmp_path / "t")
    _cdf_table(spark, t, one_file=True)
    before, head = _non_log_files(t), dl.replay(t).version
    dv_adds = _spy_dv_adds(monkeypatch, dml)
    monkeypatch.setattr(dml, "_write_cdc_files", _failing_leg)
    with pytest.raises(RuntimeError, match="injected leg"):
        dl.delta_delete(spark, t, "k < 3")
    assert dv_adds, "the bitmap pass wrote no deletion vector"
    assert _non_log_files(t) == before
    assert dl.replay(t).version == head


def test_failed_write_leg_leaves_no_orphan_files_on_update(
    spark, tmp_path, monkeypatch
):
    """UPDATE's rewritten-copy write fails after the bitmap pass wrote
    its ``.bin`` and the change-data leg wrote its files: both must be
    deleted."""
    from rearc_data_engineer_takehome_spark.sources import delta_log as dl
    from rearc_data_engineer_takehome_spark.sources.delta_log import dml

    t = str(tmp_path / "t")
    _cdf_table(spark, t, one_file=True)
    before, head = _non_log_files(t), dl.replay(t).version
    dv_adds = _spy_dv_adds(monkeypatch, dml)
    monkeypatch.setattr(dml, "_write_adds", _failing_leg)
    with pytest.raises(RuntimeError, match="injected leg"):
        dl.delta_update(spark, t, "k < 3", {"s": "'x'"})
    assert dv_adds, "the bitmap pass wrote no deletion vector"
    assert _non_log_files(t) == before
    assert dl.replay(t).version == head


def _non_log_files(table_dir):
    import os

    out = set()
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if d != "_delta_log"]
        out |= {os.path.relpath(os.path.join(root, f), table_dir)
                for f in files}
    return out


def _cdf_table(spark, table_dir, one_file=False):
    """A 6-row CDF table; ``one_file`` keeps every row in one data file,
    so deleting some rows writes a deletion vector, not a remove."""
    from rearc_data_engineer_takehome_spark.sources import delta_log as dl

    df = spark.createDataFrame(
        [(i, f"s{i}") for i in range(6)], "k long, s string"
    )
    dl.write_delta(df.coalesce(1) if one_file else df, table_dir)
    dl.delta_alter_properties(
        spark, table_dir, {"delta.enableChangeDataFeed": "true"}
    )


def _failing_dv_pass(*_a, **_k):
    raise RuntimeError("injected DV bitmap failure")


def _failing_leg(*_a, **_k):
    raise RuntimeError("injected leg failure")


def _spy_dv_adds(monkeypatch, dml):
    """Record the DV-carrying adds the real bitmap pass returns."""
    seen, real = [], dml._dv_mark_actions

    def spy(*a, **k):
        marks = real(*a, **k)
        seen.extend(marks[1] if marks else ())
        return marks

    monkeypatch.setattr(dml, "_dv_mark_actions", spy)
    return seen


def test_failed_dv_pass_leaves_no_orphan_cdc_files_on_delete(
    spark, tmp_path, monkeypatch
):
    """A CDF DELETE writes its change-data file concurrently with the
    DV bitmap pass. When the bitmap pass fails, the change-data files
    the sibling leg wrote must be deleted: no commit references them."""
    from rearc_data_engineer_takehome_spark.sources import delta_log as dl
    from rearc_data_engineer_takehome_spark.sources.delta_log import dml

    t = str(tmp_path / "t")
    _cdf_table(spark, t)
    before, head = _non_log_files(t), dl.replay(t).version
    monkeypatch.setattr(dml, "_dv_mark_actions", _failing_dv_pass)
    with pytest.raises(RuntimeError, match="injected DV"):
        dl.delta_delete(spark, t, "k < 3")
    assert _non_log_files(t) == before
    assert dl.replay(t).version == head


def test_failed_dv_pass_leaves_no_orphan_files_on_update(
    spark, tmp_path, monkeypatch
):
    """UPDATE runs the DV bitmap pass, the change-data write and the
    rewritten-copy write concurrently. When the bitmap pass fails, the
    change-data and data files of the other two legs must be deleted."""
    from rearc_data_engineer_takehome_spark.sources import delta_log as dl
    from rearc_data_engineer_takehome_spark.sources.delta_log import dml

    t = str(tmp_path / "t")
    _cdf_table(spark, t)
    before, head = _non_log_files(t), dl.replay(t).version
    monkeypatch.setattr(dml, "_dv_mark_actions", _failing_dv_pass)
    with pytest.raises(RuntimeError, match="injected DV"):
        dl.delta_update(spark, t, "k < 3", {"s": "'x'"})
    assert _non_log_files(t) == before
    assert dl.replay(t).version == head
