"""Writer-feature enforcement on the native Delta log: CHECK
constraints (`delta.constraints.*`, writer protocol 3), column
invariants (`delta.invariants` field metadata, writer protocol 2),
`delta.appendOnly`, and the timestampNtz table feature — the tier a
spec-honest writer must ENFORCE rather than refuse (reference
anchor: the DQ/validation emphasis of 21_EDA.ipynb, here moved into
the table itself, how native Delta expresses V7 domain checks)."""

from __future__ import annotations

import datetime
import json

import pyspark.sql.functions as F
import pytest

from rearc_data_engineer_takehome_spark.sources import _files
from rearc_data_engineer_takehome_spark.sources import delta_log as dl
from rearc_data_engineer_takehome_spark.sources.delta_log import log as dlog


def _df(spark, rows=((1, 1), (2, 2)), schema="id long, k long"):
    return spark.createDataFrame(list(rows), schema)


def test_add_constraint_validates_current_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(_df(spark), t)
    st = dl.delta_alter_properties(
        spark, t, {"delta.constraints.kpos": "k >= 0"}
    )
    assert st.configuration["delta.constraints.kpos"] == "k >= 0"
    # writer protocol now demands checkConstraints, with the
    # legacy-implied features listed
    assert st.protocol["minWriterVersion"] == 7
    assert set(st.protocol["writerFeatures"]) == {
        "appendOnly", "invariants", "checkConstraints",
    }
    # a constraint the current rows violate must never be born
    with pytest.raises(ValueError, match="ADD CONSTRAINT"):
        dl.delta_alter_properties(
            spark, t, {"delta.constraints.impossible": "k > 1"}
        )


def test_constraint_blocks_violating_writes(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(_df(spark), t)
    dl.delta_alter_properties(
        spark, t, {"delta.constraints.kpos": "k >= 0"}
    )
    v = dl.replay(t).version
    with pytest.raises(ValueError, match="kpos"):
        dl.write_delta(_df(spark, [(9, -1)]), t, "append")
    assert dl.replay(t).version == v  # nothing committed
    with pytest.raises(ValueError, match="kpos"):
        dl.delta_update(spark, t, "k = 1", {"k": "-5"})
    with pytest.raises(ValueError, match="kpos"):
        dl.delta_merge_upsert(
            spark, t, _df(spark, [(1, -7)]), ["id"]
        )
    # clean writes pass; NULL passes (SQL CHECK semantics)
    dl.write_delta(_df(spark, [(9, 9)]), t, "append")
    dl.write_delta(_df(spark, [(10, None)]), t, "append")
    assert dl.read_delta(spark, t).count() == 4
    # DELETE cannot violate a CHECK constraint: allowed
    dl.delta_delete(spark, t, "id = 9")


def test_constraint_survives_overwrite_and_checkpoint(
    spark, tmp_path
):
    import glob
    import os

    t = str(tmp_path / "t")
    dl.write_delta(_df(spark), t)
    dl.delta_alter_properties(
        spark, t, {"delta.constraints.kpos": "k >= 0"}
    )
    # overwrite with a CHANGED schema keeps the table properties
    dl.write_delta(
        _df(spark, [(1, 5, "x")], "id long, k long, s string"), t
    )
    assert dl.replay(t).configuration[
        "delta.constraints.kpos"
    ] == "k >= 0"
    # checkpoint-based replay keeps enforcing
    dl.write_checkpoint(t)
    for f in glob.glob(os.path.join(t, "_delta_log", "*.json")):
        os.remove(f)
    with pytest.raises(ValueError, match="kpos"):
        dl.write_delta(
            _df(spark, [(2, -1, "y")],
                "id long, k long, s string"),
            t, "append",
        )


def test_append_only_blocks_every_data_change_remove(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    dl.write_delta(_df(spark), t)
    dl.delta_alter_properties(
        spark, t, {"delta.appendOnly": "true"}
    )
    dl.write_delta(_df(spark, [(3, 3)]), t, "append")  # fine
    dl.delta_compact(spark, t, 1)  # dataChange=false: fine
    for op, msg in (
        (lambda: dl.write_delta(_df(spark), t), "overwrite"),
        (lambda: dl.delta_delete(spark, t, "k = 1"), "DELETE"),
        (lambda: dl.delta_update(
            spark, t, "k = 1", {"k": "2"}), "UPDATE"),
        (lambda: dl.delta_merge_upsert(
            spark, t, _df(spark, [(1, 9)]), ["id"]), "MERGE"),
    ):
        with pytest.raises(ValueError, match="appendOnly"):
            op()
    # UNSET re-enables removal
    dl.delta_alter_properties(spark, t, unset=["delta.appendOnly"])
    dl.delta_delete(spark, t, "k = 1")


def test_column_invariants_enforced_from_table_schema(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    dl.write_delta(_df(spark), t)
    # inject the spec's delta.invariants field metadata the way a
    # native writer records it
    path = dl._commit_path(t, 0)
    lines = [json.loads(x) for x in open(path)]
    for a in lines:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"][1]["metadata"]["delta.invariants"] = (
                json.dumps(
                    {"expression": {"expression": "k < 100"}}
                )
            )
            a["metaData"]["schemaString"] = json.dumps(sch)
    with open(path, "w") as fh:
        for a in lines:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="invariant on k"):
        dl.write_delta(_df(spark, [(9, 500)]), t, "append")
    dl.write_delta(_df(spark, [(9, 50)]), t, "append")
    # unparseable invariants refuse rather than silently skip
    for a in lines:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"][1]["metadata"]["delta.invariants"] = (
                "not json"
            )
            a["metaData"]["schemaString"] = json.dumps(sch)
    with open(path, "w") as fh:
        for a in lines:
            fh.write(json.dumps(a) + "\n")
    with pytest.raises(ValueError, match="unparseable"):
        dl.write_delta(_df(spark, [(10, 5)]), t, "append")


def test_timestamp_ntz_declares_table_feature(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    t = str(tmp_path / "t")
    ndf = spark.createDataFrame(
        [(1, datetime.datetime(2020, 1, 1, 12, 0, 0))],
        StructType([
            StructField("id", LongType()),
            StructField("ts", TimestampNTZType()),
        ]),
    )
    st = dl.write_delta(ndf, t)
    assert st.protocol["minReaderVersion"] == 3
    assert st.protocol["readerFeatures"] == ["timestampNtz"]
    assert "timestampNtz" in st.protocol["writerFeatures"]
    got = dl.read_delta(spark, t)
    assert got.schema["ts"].dataType.typeName() == "timestamp_ntz"
    # a later DV delete must PRESERVE the ntz feature
    st2 = dl.delta_delete(spark, t, "id = 1")
    assert set(st2.protocol["readerFeatures"]) == {
        "deletionVectors", "timestampNtz",
    }
    # introducing ntz to an EXISTING legacy table also upgrades
    t2 = str(tmp_path / "t2")
    dl.write_delta(_df(spark), t2)
    st3 = dl.write_delta(ndf, t2)  # overwrite with ntz schema
    assert "timestampNtz" in (st3.protocol.get("readerFeatures")
                              or [])


def test_writer_gate_accepts_v3_refuses_v4plus():
    dl._check_writer_protocol("t", {"minWriterVersion": 3})
    dl._check_writer_protocol("t", {
        "minWriterVersion": 7,
        "writerFeatures": [
            "appendOnly", "invariants", "checkConstraints",
            "deletionVectors", "timestampNtz",
        ],
    })
    # v4 (generated columns) is enforced, so accepted — unless the
    # table actually enables CDF (separate test below); v5 (column
    # mapping, name-mode write support round 9) likewise; v6
    # (identity columns, implemented round 10) likewise
    dl._check_writer_protocol("t", {"minWriterVersion": 4})
    dl._check_writer_protocol("t", {"minWriterVersion": 5})
    dl._check_writer_protocol("t", {"minWriterVersion": 6})
    dl._check_writer_protocol("t", {
        "minWriterVersion": 7,
        "writerFeatures": ["identityColumns", "rowTracking"],
    })
    # a genuinely unimplemented table feature still refuses
    with pytest.raises(NotImplementedError):
        dl._check_writer_protocol("t", {
            "minWriterVersion": 7,
            "writerFeatures": ["collations"],
        })


def test_alter_properties_race_refuses(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(_df(spark), t)
    orig = dlog._atomic_commit

    def race(table_dir, version, actions):
        orig(table_dir, version, [{"commitInfo": {
            "timestamp": 0, "operation": "WRITE",
            "operationParameters": {},
        }}])
        return orig(table_dir, version, actions)

    dlog._atomic_commit = race
    try:
        with pytest.raises(_files.ConcurrentCommitError):
            dl.delta_alter_properties(
                spark, t, {"delta.appendOnly": "true"}
            )
    finally:
        dlog._atomic_commit = orig


def test_generated_columns_validated_on_write(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(
        _df(spark, [(1, 2)], "id long, id2 long"), t
    )
    # inject the spec's generation expression the way a native
    # writer records it (field metadata delta.generationExpression)
    path = dl._commit_path(t, 0)
    lines = [json.loads(x) for x in open(path)]
    for a in lines:
        if "metaData" in a:
            sch = json.loads(a["metaData"]["schemaString"])
            sch["fields"][1]["metadata"][
                "delta.generationExpression"
            ] = "id * 2"
            a["metaData"]["schemaString"] = json.dumps(sch)
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1, "minWriterVersion": 4,
            }
    with open(path, "w") as fh:
        for a in lines:
            fh.write(json.dumps(a) + "\n")
    # wrong generated value refuses; correct value passes
    with pytest.raises(ValueError, match="generated column id2"):
        dl.write_delta(
            _df(spark, [(5, 11)], "id long, id2 long"), t, "append"
        )
    dl.write_delta(
        _df(spark, [(5, 10)], "id long, id2 long"), t, "append"
    )
    # NULL where the expression is non-null is a mismatch (null-safe
    # equality), not a silent pass
    with pytest.raises(ValueError, match="generated column id2"):
        dl.write_delta(
            _df(spark, [(6, None)], "id long, id2 long"), t,
            "append",
        )
    # an UPDATE that breaks the generation invariant refuses too
    with pytest.raises(ValueError, match="generated column id2"):
        dl.delta_update(spark, t, "id = 5", {"id2": "99"})


def test_cdf_enabled_tables_accepted(spark, tmp_path):
    # round 9: the writer emits cdc actions on CDF-enabled tables,
    # so the gate ACCEPTS them — at every protocol shape, including
    # the property under a legacy writer version (the obligation is
    # the same; we exceed legacy writers' behavior)
    dl._check_writer_protocol("t", {"minWriterVersion": 4})
    for proto in (
        None,
        {"minWriterVersion": 2},
        {"minWriterVersion": 3},
        {"minWriterVersion": 4},
        {"minWriterVersion": 7,
         "writerFeatures": ["changeDataFeed"]},
    ):
        dl._check_writer_protocol(
            "t", proto, {"delta.enableChangeDataFeed": "true"}
        )


def test_checkpoint_only_gate_relaxes_cdf_and_column_mapping():
    # a checkpoint changes no rows: CDF-enabled and column-mapped
    # tables must stay checkpointable (and therefore vacuumable) under
    # the one writer gate that checkpoints and vacuum share with writes
    dl._check_writer_protocol(
        "t", {"minWriterVersion": 4},
        {"delta.enableChangeDataFeed": "true"},
    )
    dl._check_writer_protocol(
        "t",
        {"minWriterVersion": 7,
         "writerFeatures": ["changeDataFeed"]},
        {"delta.enableChangeDataFeed": "true"},
    )
    dl._check_writer_protocol(
        "t", {"minWriterVersion": 5},
        {"delta.columnMapping.mode": "name"},
    )
    dl._check_writer_protocol(
        "t",
        {"minWriterVersion": 7,
         "writerFeatures": ["columnMapping"]},
        {"delta.columnMapping.mode": "name"},
    )
    # ...but features this module does not implement still refuse
    # (v2Checkpoint itself is read+write since round 9 —
    # tests/test_v2_checkpoint.py)
    dl._check_writer_protocol(
        "t",
        {"minWriterVersion": 7, "writerFeatures": ["v2Checkpoint"]},
    )
    with pytest.raises(NotImplementedError):
        dl._check_writer_protocol(
            "t",
            {"minWriterVersion": 7,
             "writerFeatures": ["icebergCompatV2"]},
        )
    # legacy writer v6 (identity columns) is implemented since
    # round 10 — accepted too
    dl._check_writer_protocol("t", {"minWriterVersion": 6})


def test_cdf_enabled_table_full_lifecycle(spark, tmp_path):
    """End-to-end on a native-shaped CDF-on table (config flipped in
    commit 0, legacy writer v4): round 9 makes it WRITABLE — appends
    commit with no cdc owed (derivable), a DELETE emits cdc, and
    checkpoint + vacuum still work."""
    import json as _json
    import os as _os

    t = str(tmp_path / "t")
    dl.write_delta(_df(spark, [(1, 2)], "id long, id2 long"), t)
    dl.write_delta(
        _df(spark, [(3, 4)], "id long, id2 long"), t, "append"
    )
    path = dl._commit_path(t, 0)
    lines = [_json.loads(x) for x in open(path)]
    for a in lines:
        if "metaData" in a:
            a["metaData"]["configuration"] = {
                "delta.enableChangeDataFeed": "true"
            }
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1, "minWriterVersion": 4,
            }
    with open(path, "w") as f:
        for a in lines:
            f.write(_json.dumps(a, separators=(",", ":")) + "\n")
    # appends are accepted and owe no cdc (derivable from adds)
    s2 = dl.write_delta(
        _df(spark, [(5, 6)], "id long, id2 long"), t, "append"
    )
    with open(dl._commit_path(t, s2.version)) as f:
        acts = [_json.loads(x) for x in f if x.strip()]
    assert not any("cdc" in a for a in acts)
    # a DELETE emits cdc actions + change files
    s3 = dl.delta_delete(spark, t, "id = 1")
    with open(dl._commit_path(t, s3.version)) as f:
        acts = [_json.loads(x) for x in f if x.strip()]
    cdc = [a["cdc"] for a in acts if "cdc" in a]
    assert cdc and all(
        c["path"].startswith("_change_data/") for c in cdc
    )
    # checkpoint + vacuum succeed
    v = dl.write_checkpoint(t)
    assert _os.path.exists(_os.path.join(
        t, "_delta_log", f"{v:020d}.checkpoint.parquet"
    ))
    dl.vacuum_delta(t, retention_ms=0)
    assert dl.read_delta(spark, t).count() == 2
