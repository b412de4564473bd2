"""Identity columns (sources/delta_log/): clean-room PROTOCOL.md
"Identity Columns" — fields carrying ``delta.identity.{start,step,
allowExplicitInsert}`` metadata whose values the WRITER generates
(start + k*step, all beyond the highWaterMark, gaps allowed) and
whose high-water mark advances in the same commit's metaData.
GENERATED ALWAYS refuses explicit values; BY DEFAULT accepts them and
rounds the HWM up to the step grid. Declarations exist only at table
creation, UPDATE refuses identity assignments, and the HWM survives
checkpoints (it lives in the schemaString).

Reference anchor: the reference persists curated tables in Delta
(notebooks/20_analytics.ipynb:653); surrogate-key generation on those
tables is this protocol surface.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from rearc_data_engineer_takehome_spark.sources import delta_log as dl

_SCHEMA = StructType([
    StructField("uid", LongType()),
    StructField("name", StringType()),
])


def _hwm(state, col="uid"):
    for f in json.loads(state.schema)["fields"]:
        if f["name"] == col:
            return (f.get("metadata") or {}).get(
                "delta.identity.highWaterMark"
            )
    return None


def test_create_and_generate(spark, tmp_path):
    t = str(tmp_path / "t")
    st = dl.delta_create_identity_table(
        _SCHEMA, t, {"uid": {"start": 100, "step": 10}}
    )
    assert st.files == ()
    assert "identityColumns" in st.protocol["writerFeatures"]
    df = spark.createDataFrame(
        [("a",), ("b",), ("c",)], "name string"
    ).repartition(2)
    st = dl.write_delta(df, t, "append")
    rows = {r.name: r.uid for r in dl.read_delta(spark, t).collect()}
    assert sorted(rows.values()) == [100, 110, 120]
    assert _hwm(st) == 120
    # second append continues beyond the HWM — never reuses values
    dl.write_delta(
        spark.createDataFrame([("d",)], "name string"), t, "append"
    )
    uids = sorted(
        r.uid for r in dl.read_delta(spark, t).collect()
    )
    assert uids == [100, 110, 120, 130]


def test_generated_always_refuses_explicit(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.delta_create_identity_table(
        _SCHEMA, t, {"uid": {"start": 1, "step": 1}}
    )
    with pytest.raises(ValueError, match="GENERATED ALWAYS"):
        dl.write_delta(
            spark.createDataFrame(
                [(5, "x")], "uid long, name string"
            ),
            t, "append",
        )
    # nothing committed
    assert dl.replay(t).version == 0


def test_by_default_explicit_rounds_hwm_to_grid(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.delta_create_identity_table(
        _SCHEMA, t,
        {"uid": {"start": 1, "step": 5, "allow_explicit": True}},
    )
    st = dl.write_delta(
        spark.createDataFrame([(13, "x")], "uid long, name string"),
        t, "append",
    )
    # base -4 (start-step), ceil((13+4)/5)=4 -> hwm -4+20=16 (grid)
    assert _hwm(st) == 16
    st = dl.write_delta(
        spark.createDataFrame([("y",)], "name string"), t, "append"
    )
    rows = {r.name: r.uid for r in dl.read_delta(spark, t).collect()}
    assert rows == {"x": 13, "y": 21}  # 16 + 5, clear of 13
    assert _hwm(st) == 21


def test_negative_step(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.delta_create_identity_table(
        _SCHEMA, t, {"uid": {"start": 0, "step": -3}}
    )
    dl.write_delta(
        spark.createDataFrame(
            [("a",), ("b",), ("c",)], "name string"
        ).coalesce(1),
        t, "append",
    )
    uids = sorted(r.uid for r in dl.read_delta(spark, t).collect())
    assert uids == [-6, -3, 0]


def test_update_refuses_identity_assignment(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.delta_create_identity_table(
        _SCHEMA, t, {"uid": {"start": 1, "step": 1}}
    )
    dl.write_delta(
        spark.createDataFrame([("a",)], "name string"), t, "append"
    )
    with pytest.raises(ValueError, match="identity"):
        dl.delta_update(spark, t, "name = 'a'", {"uid": "99"})
    # non-identity assignments still work
    dl.delta_update(spark, t, "name = 'a'", {"name": "'z'"})
    rows = dl.read_delta(spark, t).collect()
    assert [(r.name, r.uid) for r in rows] == [("z", 1)]


def test_declaration_only_at_creation(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([("a",)], "name string"), t)
    with pytest.raises(ValueError, match="creation"):
        dl.delta_create_identity_table(
            _SCHEMA, t, {"uid": {"start": 1, "step": 1}}
        )


def test_create_validations(spark, tmp_path):
    with pytest.raises(ValueError, match="nonzero"):
        dl.delta_create_identity_table(
            _SCHEMA, str(tmp_path / "a"),
            {"uid": {"start": 1, "step": 0}},
        )
    with pytest.raises(ValueError, match="unknown"):
        dl.delta_create_identity_table(
            _SCHEMA, str(tmp_path / "b"),
            {"zzz": {"start": 1, "step": 1}},
        )
    with pytest.raises(ValueError, match="long"):
        dl.delta_create_identity_table(
            StructType([StructField("uid", StringType())]),
            str(tmp_path / "c"),
            {"uid": {"start": 1, "step": 1}},
        )
    with pytest.raises(ValueError, match="partition"):
        dl.delta_create_identity_table(
            _SCHEMA, str(tmp_path / "d"),
            {"uid": {"start": 1, "step": 1}},
            partition_by=["uid"],
        )


def test_hwm_survives_checkpoint_gc(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.delta_create_identity_table(
        _SCHEMA, t, {"uid": {"start": 7, "step": 7}}
    )
    dl.write_delta(
        spark.createDataFrame([("a",), ("b",)], "name string")
        .coalesce(1),
        t, "append",
    )
    v = dl.write_checkpoint(t)
    for i in range(v + 1):
        p = dl._commit_path(t, i)
        if os.path.exists(p):
            os.remove(p)
    dl.write_delta(
        spark.createDataFrame([("c",)], "name string"), t, "append"
    )
    uids = sorted(r.uid for r in dl.read_delta(spark, t).collect())
    assert uids == [7, 14, 21]


def test_generation_distributed_unique(spark, tmp_path):
    """Per-partition allocation over many partitions: all generated
    values unique, on the step grid, above start — no global sort,
    no driver loop."""
    t = str(tmp_path / "t")
    dl.delta_create_identity_table(
        _SCHEMA, t, {"uid": {"start": 0, "step": 3}}
    )
    df = (
        spark.range(0, 500)
        .select(F.concat(F.lit("n"), F.col("id")).alias("name"))
        .repartition(16)
    )
    st = dl.write_delta(df, t, "append")
    uids = [r.uid for r in dl.read_delta(spark, t).collect()]
    assert len(uids) == 500
    assert len(set(uids)) == 500
    assert all(u % 3 == 0 and 0 <= u <= 3 * 499 for u in uids)
    assert _hwm(st) == 3 * 499


def test_identity_with_constraints_and_overwrite(spark, tmp_path):
    """Identity generation composes with CHECK constraints (validated
    AFTER generation) and overwrite keeps the declaration + HWM
    monotonicity (truncate never resets identity, native rule)."""
    t = str(tmp_path / "t")
    dl.delta_create_identity_table(
        _SCHEMA, t, {"uid": {"start": 1, "step": 1}}
    )
    dl.delta_alter_properties(
        spark, t, {"delta.constraints.pos": "uid >= 1"}
    )
    dl.write_delta(
        spark.createDataFrame([("a",), ("b",)], "name string")
        .coalesce(1),
        t, "append",
    )
    st = dl.write_delta(
        spark.createDataFrame([("c",)], "name string"), t,
        "overwrite",
    )
    rows = {r.name: r.uid for r in dl.read_delta(spark, t).collect()}
    assert rows == {"c": 3}  # fresh value ABOVE the old HWM
    assert _identity_declared(st)


def _identity_declared(state) -> bool:
    return any(
        "delta.identity.start" in (f.get("metadata") or {})
        for f in json.loads(state.schema)["fields"]
    )


def test_append_schema_validated_despite_pin(spark, tmp_path):
    """ADVICE r10 (medium): the identity schema PIN must not mask an
    incompatible batch. A df with a missing, extra, or retyped
    non-identity column raises the same loud incompatibility error a
    non-identity append raises — nothing commits, no silent
    null-fill, no files that later fail to read under the pinned
    schema."""
    t = str(tmp_path / "t")
    wide = StructType([
        StructField("uid", LongType()),
        StructField("name", StringType()),
        StructField("score", LongType()),
    ])
    dl.delta_create_identity_table(
        wide, t, {"uid": {"start": 1, "step": 1}}
    )
    # missing column (batch lacks 'score')
    with pytest.raises(ValueError, match="incompatible"):
        dl.write_delta(
            spark.createDataFrame([("a",)], "name string"),
            t, "append",
        )
    # extra column
    with pytest.raises(ValueError, match="incompatible"):
        dl.write_delta(
            spark.createDataFrame(
                [("a", 1, "x")], "name string, score long, junk string"
            ),
            t, "append",
        )
    # retyped column
    with pytest.raises(ValueError, match="incompatible"):
        dl.write_delta(
            spark.createDataFrame(
                [("a", "oops")], "name string, score string"
            ),
            t, "append",
        )
    assert dl.replay(t).version == 0  # nothing committed
    # the compatible batch still lands
    st = dl.write_delta(
        spark.createDataFrame([("a", 7)], "name string, score long"),
        t, "append",
    )
    assert _hwm(st) == 1
