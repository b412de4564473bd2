"""Column mapping, name mode (sources/delta_log/): clean-room READ
support for the public PROTOCOL.md "Column Mapping" feature — tables
whose data files carry physical column names (``col-<uuid>``) in
parquet while the log's schemaString maps them to logical names via
field metadata. Native runtimes enable this on any column rename/
drop, so a reader without it refuses a large class of real tables
(our gate used to); writes to mapped tables stay refused (physical
bookkeeping we don't do). Tables here are hand-authored in the exact
on-disk shape a native writer produces, since delta-spark is absent
in this container (COVERAGE.md env notes)."""

from __future__ import annotations

import json
import os
import uuid

import pyspark.sql.functions as F
import pytest

from rearc_data_engineer_takehome_spark.sources import delta_log as dl
from rearc_data_engineer_takehome_spark.sources import dv


def _commit(t, version, actions):
    os.makedirs(os.path.join(t, "_delta_log"), exist_ok=True)
    with open(dl._commit_path(t, version), "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")


def _field(name, typ, cid, phys):
    return {
        "name": name,
        "type": typ,
        "nullable": True,
        "metadata": {
            "delta.columnMapping.id": cid,
            "delta.columnMapping.physicalName": phys,
        },
    }


def _meta(schema, pcols=(), mode="name"):
    return {
        "metaData": {
            "id": str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": list(pcols),
            "configuration": {
                "delta.columnMapping.mode": mode,
                "delta.columnMapping.maxColumnId": "9",
            },
            "createdTime": 0,
        }
    }


_PROTO_CM = {"protocol": {
    "minReaderVersion": 2, "minWriterVersion": 5,
}}


def _write_phys_file(spark, t, subdir, df):
    fdir = os.path.join(t, "data", subdir)
    df.coalesce(1).write.parquet(fdir)
    (name,) = [
        f for f in os.listdir(fdir) if f.endswith(".parquet")
    ]
    return f"data/{subdir}/{name}"


def _add(rel, pv=None):
    return {"add": {
        "path": rel,
        "partitionValues": pv or {},
        "size": 1,
        "modificationTime": 0,
        "dataChange": True,
    }}


def test_name_mode_flat_read(spark, tmp_path):
    t = str(tmp_path / "t")
    rel = _write_phys_file(
        spark, t, "f0",
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "`col-x1` long, `col-x2` string"
        ),
    )
    schema = {"type": "struct", "fields": [
        _field("id", "long", 1, "col-x1"),
        _field("s", "string", 2, "col-x2"),
    ]}
    _commit(t, 0, [_PROTO_CM, _meta(schema), _add(rel)])
    out = dl.read_delta(spark, t)
    assert out.columns == ["id", "s"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "a"), (2, "b"),
    ]


def test_name_mode_nested_struct_renames(spark, tmp_path):
    t = str(tmp_path / "t")
    rel = _write_phys_file(
        spark, t, "f0",
        spark.createDataFrame(
            [(1, (10, "x"))],
            "`col-a` long, `col-b` struct<`col-c`: long, "
            "`col-d`: string>",
        ),
    )
    schema = {"type": "struct", "fields": [
        _field("id", "long", 1, "col-a"),
        _field(
            "payload",
            {"type": "struct", "fields": [
                _field("num", "long", 3, "col-c"),
                _field("tag", "string", 4, "col-d"),
            ]},
            2,
            "col-b",
        ),
    ]}
    _commit(t, 0, [_PROTO_CM, _meta(schema), _add(rel)])
    out = dl.read_delta(spark, t)
    assert out.schema.simpleString() == (
        "struct<id:bigint,payload:struct<num:bigint,tag:string>>"
    )
    row = out.collect()[0]
    assert (row.id, row.payload.num, row.payload.tag) == (1, 10, "x")


def test_name_mode_partitioned_physical_keys(spark, tmp_path):
    """partitionValues keys are PHYSICAL names per the spec; the
    logical partition column must come back as a typed literal."""
    t = str(tmp_path / "t")
    rels = {}
    for part, vals in (("0", [(1,)]), ("1", [(2,), (3,)])):
        rels[part] = _write_phys_file(
            spark, t, f"p{part}",
            spark.createDataFrame(vals, "`col-v` long"),
        )
    schema = {"type": "struct", "fields": [
        _field("v", "long", 1, "col-v"),
        _field("p", "string", 2, "col-p"),
    ]}
    _commit(t, 0, [
        _PROTO_CM,
        _meta(schema, pcols=["p"]),
        _add(rels["0"], pv={"col-p": "0"}),
        _add(rels["1"], pv={"col-p": "1"}),
    ])
    out = dl.read_delta(spark, t)
    assert set(out.columns) == {"v", "p"}
    got = sorted((r.v, r.p) for r in out.collect())
    assert got == [(1, "0"), (2, "1"), (3, "1")]


def test_name_mode_delta_scan_prunes_on_physical_stats(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    lo = _write_phys_file(
        spark, t, "lo",
        spark.createDataFrame([(1,), (5,)], "`col-v` long"),
    )
    hi = _write_phys_file(
        spark, t, "hi",
        spark.createDataFrame([(100,), (200,)], "`col-v` long"),
    )
    schema = {"type": "struct", "fields": [
        _field("v", "long", 1, "col-v"),
    ]}
    add_lo = _add(lo)
    add_lo["add"]["stats"] = json.dumps({
        "numRecords": 2,
        "minValues": {"col-v": 1}, "maxValues": {"col-v": 5},
        "nullCount": {"col-v": 0},
    })
    add_hi = _add(hi)
    add_hi["add"]["stats"] = json.dumps({
        "numRecords": 2,
        "minValues": {"col-v": 100}, "maxValues": {"col-v": 200},
        "nullCount": {"col-v": 0},
    })
    _commit(t, 0, [_PROTO_CM, _meta(schema), add_lo, add_hi])
    got = dl.delta_scan(spark, t, prune={"v": (90, None)})
    # the low file is provably out of range: skipped at file level
    assert [os.path.basename(f) for f in got.inputFiles()] == [
        os.path.basename(hi)
    ]
    assert sorted(r.v for r in got.collect()) == [100, 200]


def test_name_mode_composes_with_deletion_vectors(spark, tmp_path):
    """A mapped table whose file also carries a DV: the read must
    rename AND drop deleted positions."""
    import numpy as np

    t = str(tmp_path / "t")
    rel = _write_phys_file(
        spark, t, "f0",
        spark.createDataFrame(
            [(i, f"r{i}") for i in range(6)],
            "`col-x1` long, `col-x2` string",
        ),
    )
    blob = dv.serialize_positions(np.array([0, 3], dtype=np.int64))
    enc, offs = dv.write_dv_file(t, [blob])
    schema = {"type": "struct", "fields": [
        _field("id", "long", 1, "col-x1"),
        _field("s", "string", 2, "col-x2"),
    ]}
    a = _add(rel)
    a["add"]["deletionVector"] = dv.make_descriptor(
        enc, offs[0], len(blob), 2
    )
    _commit(t, 0, [
        {"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "columnMapping"],
            "writerFeatures": ["deletionVectors", "columnMapping"],
        }},
        _meta(schema),
        a,
    ])
    # file was written with rows in insertion order by one task, so
    # row indexes 0 and 3 are ids 0 and 3
    out = dl.read_delta(spark, t)
    assert sorted(r.id for r in out.collect()) == [1, 2, 4, 5]
    assert out.columns == ["id", "s"]


def _write_id_file(t, subdir, arrays, fields):
    """A 'foreign' id-mode data file: pyarrow stamps the parquet
    field ids from the ``PARQUET:field_id`` Arrow metadata — the
    exact on-disk shape an id-mode native writer produces."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    fdir = os.path.join(t, "data", subdir)
    os.makedirs(fdir, exist_ok=True)
    schema = pa.schema([
        pa.field(
            name, typ,
            metadata={b"PARQUET:field_id": str(fid).encode()},
        )
        for name, typ, fid in fields
    ])
    rel = f"data/{subdir}/part-0.parquet"
    pq.write_table(
        pa.Table.from_arrays(arrays, schema=schema),
        os.path.join(t, rel),
    )
    return rel


def test_id_mode_reads_by_field_id(spark, tmp_path):
    """Round 10 (VERDICT r09 item 3): id-mode READ — data columns
    are matched by the parquet field ids the writer stamped, never
    by name. The fixture makes name-matching a trap: each physical
    column is NAMED like the OTHER column's logical name, so any
    name-based read returns swapped (and type-mangled) values."""
    import pyarrow as pa

    t = str(tmp_path / "t")
    rel = _write_id_file(
        t, "f0",
        [pa.array(["a", "b"]), pa.array([1, 2], pa.int64())],
        # physical name "v" holds the STRING column (logical s,
        # id 2); physical name "s" holds the LONG column (logical v,
        # id 1)
        [("v", pa.string(), 2), ("s", pa.int64(), 1)],
    )
    schema = {"type": "struct", "fields": [
        _field("v", "long", 1, "col-whatever-1"),
        _field("s", "string", 2, "col-whatever-2"),
    ]}
    _commit(t, 0, [_PROTO_CM, _meta(schema, mode="id"), _add(rel)])
    out = dl.read_delta(spark, t)
    assert out.columns == ["v", "s"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "a"), (2, "b"),
    ]


def test_id_mode_nested_struct_field_ids(spark, tmp_path):
    import pyarrow as pa

    t = str(tmp_path / "t")
    inner_type = pa.struct([
        pa.field(
            "x", pa.int64(),
            metadata={b"PARQUET:field_id": b"3"},
        ),
    ])
    fdir = os.path.join(t, "data", "f0")
    os.makedirs(fdir, exist_ok=True)
    import pyarrow.parquet as pq

    tbl = pa.Table.from_arrays(
        [pa.array([{"x": 7}, {"x": 8}], inner_type)],
        schema=pa.schema([
            pa.field(
                "phys-outer", inner_type,
                metadata={b"PARQUET:field_id": b"1"},
            ),
        ]),
    )
    rel = "data/f0/part-0.parquet"
    pq.write_table(tbl, os.path.join(t, rel))
    schema = {"type": "struct", "fields": [{
        "name": "outer",
        "type": {"type": "struct", "fields": [
            _field("val", "long", 3, "col-x"),
        ]},
        "nullable": True,
        "metadata": {
            "delta.columnMapping.id": 1,
            "delta.columnMapping.physicalName": "phys-outer",
        },
    }]}
    _commit(t, 0, [_PROTO_CM, _meta(schema, mode="id"), _add(rel)])
    out = dl.read_delta(spark, t)
    assert out.columns == ["outer"]
    assert sorted(r.outer.val for r in out.collect()) == [7, 8]


def test_id_mode_partitioned_physical_keys(spark, tmp_path):
    import pyarrow as pa

    t = str(tmp_path / "t")
    rels = {
        p: _write_id_file(
            t, f"p{p}",
            [pa.array([i * 10, i * 10 + 1], pa.int64())],
            [("anything", pa.int64(), 1)],
        )
        for i, p in enumerate(("a", "b"))
    }
    schema = {"type": "struct", "fields": [
        _field("v", "long", 1, "col-v"),
        _field("p", "string", 2, "col-p"),
    ]}
    _commit(t, 0, [
        _PROTO_CM, _meta(schema, pcols=["p"], mode="id"),
        _add(rels["a"], {"col-p": "a"}),
        _add(rels["b"], {"col-p": "b"}),
    ])
    out = dl.read_delta(spark, t)
    got = sorted((r.p, r.v) for r in out.collect())
    assert got == [("a", 0), ("a", 1), ("b", 10), ("b", 11)]


def test_id_mode_missing_field_ids_fails(spark, tmp_path):
    """A data file WITHOUT parquet field ids inside an id-mode table
    violates the spec; matching it by name instead could misaddress
    columns — the read must fail, not silently null-fill."""
    t = str(tmp_path / "t")
    rel = _write_phys_file(
        spark, t, "f0",
        spark.createDataFrame([(1,)], "`col-v` long"),
    )
    schema = {"type": "struct", "fields": [
        _field("v", "long", 1, "col-v"),
    ]}
    _commit(t, 0, [_PROTO_CM, _meta(schema, mode="id"), _add(rel)])
    with pytest.raises(Exception, match="[Ff]ield [Ii]d|FIELD_ID"):
        dl.read_delta(spark, t).collect()


def test_id_mode_foreign_append_roundtrip(spark, tmp_path):
    """Round 11 (VERDICT r10 item 1): id-mode WRITE — an append to a
    FOREIGN id-mode table commits data files that carry the schema's
    parquet field ids, so the table stays readable by field-id
    addressing (the r10 read path) end to end. The fixture's
    physical name is a name-matching trap like the read test's."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    rel = _write_id_file(
        t, "f0", [pa.array([1], pa.int64())],
        [("col-v", pa.int64(), 1)],
    )
    schema = {"type": "struct", "fields": [
        _field("v", "long", 1, "col-v"),
    ]}
    _commit(t, 0, [_PROTO_CM, _meta(schema, mode="id"), _add(rel)])
    assert dl.read_delta(spark, t).count() == 1
    st = dl.write_delta(
        spark.createDataFrame([(2,)], "v long"), t, "append"
    )
    assert st.configuration["delta.columnMapping.mode"] == "id"
    # the new file carries the field id under the physical name
    new_rels = [r for r in st.files if r != rel]
    assert len(new_rels) == 1
    sch = pq.ParquetFile(
        os.path.join(t, new_rels[0])
    ).schema_arrow
    assert sch.names == ["col-v"]
    assert sch.field(0).metadata[b"PARQUET:field_id"] == b"1"
    assert sorted(
        r.v for r in dl.read_delta(spark, t).collect()
    ) == [1, 2]


def test_writes_to_mapped_tables_roundtrip(spark, tmp_path):
    """Round 9: name-mode writes are implemented — appends to a
    FOREIGN mapped table translate logical -> physical against the
    table's own field metadata, and OPTIMIZE rewrites keep physical
    column names."""
    t = str(tmp_path / "t")
    rel = _write_phys_file(
        spark, t, "f0",
        spark.createDataFrame([(1,)], "`col-v` long"),
    )
    schema = {"type": "struct", "fields": [
        _field("v", "long", 1, "col-v"),
    ]}
    _commit(t, 0, [_PROTO_CM, _meta(schema), _add(rel)])
    df = spark.createDataFrame([(2,)], "v long")
    dl.write_delta(df, t, "append")
    assert sorted(
        r.v for r in dl.read_delta(spark, t).collect()
    ) == [1, 2]
    # the appended file's parquet columns are PHYSICAL names
    st = dl.replay(t)
    import pyarrow.parquet as pq
    new_rels = [r for r in st.files if r != rel]
    assert new_rels
    for nr in new_rels:
        names = pq.ParquetFile(
            os.path.join(t, nr)
        ).schema_arrow.names
        assert names == ["col-v"]
    dl.delta_compact(spark, t, 1)
    out = dl.read_delta(spark, t)
    assert sorted(r.v for r in out.collect()) == [1, 2]
    st2 = dl.replay(t)
    assert len(st2.files) == 1
    names = pq.ParquetFile(
        os.path.join(t, st2.files[0])
    ).schema_arrow.names
    assert names == ["col-v"]
    # checkpointing is NOT a mutating write (ADVICE r8): it copies
    # schemaString/configuration verbatim, so mapped tables stay
    # checkpointable — and the checkpointed table still reads back
    # through the name-mode reader
    v = dl.write_checkpoint(t)
    assert os.path.exists(os.path.join(
        t, "_delta_log", f"{v:020d}.checkpoint.parquet"
    ))
    assert sorted(
        r.v for r in dl.read_delta(spark, t).collect()
    ) == [1, 2]


def test_reader_gate_accepts_cm_feature_combinations():
    dl._check_protocol("t", [{"minReaderVersion": 2}])
    dl._check_protocol("t", [{
        "minReaderVersion": 3,
        "readerFeatures": ["columnMapping"],
    }])
    dl._check_protocol("t", [{
        "minReaderVersion": 3,
        "readerFeatures": ["columnMapping", "deletionVectors"],
    }])
    with pytest.raises(NotImplementedError):
        dl._check_protocol("t", [{
            "minReaderVersion": 3,
            "readerFeatures": ["columnMapping", "collations"],
        }])


def test_configuration_survives_native_checkpoint(spark, tmp_path):
    """A checkpoint written over a mapped table (as a native writer
    would) must hand replay the configuration — otherwise every
    checkpoint-based read would misaddress the physical columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    rel = _write_phys_file(
        spark, t, "f0",
        spark.createDataFrame([(7, "z")],
                              "`col-x1` long, `col-x2` string"),
    )
    schema = {"type": "struct", "fields": [
        _field("id", "long", 1, "col-x1"),
        _field("s", "string", 2, "col-x2"),
    ]}
    meta = _meta(schema)["metaData"]
    _commit(t, 0, [_PROTO_CM, {"metaData": meta}, _add(rel)])
    # hand-author the checkpoint the way a native writer lays it out
    rows = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5,
                      "readerFeatures": None,
                      "writerFeatures": None},
         "metaData": None, "add": None, "txn": None},
        {"protocol": None, "txn": None,
         "metaData": {
             "id": meta["id"],
             "format": {"provider": "parquet", "options": {}},
             "schemaString": meta["schemaString"],
             "partitionColumns": [],
             "configuration": meta["configuration"],
             "createdTime": 0,
         },
         "add": None},
        {"protocol": None, "metaData": None, "txn": None,
         "add": {"path": rel, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": False,
                 "stats": None, "deletionVector": None}},
    ]
    pa_schema = pa.schema([
        ("txn", pa.struct([("appId", pa.string()),
                           ("version", pa.int64()),
                           ("lastUpdated", pa.int64())])),
        ("protocol", pa.struct([
            ("minReaderVersion", pa.int32()),
            ("minWriterVersion", pa.int32()),
            ("readerFeatures", pa.list_(pa.string())),
            ("writerFeatures", pa.list_(pa.string())),
        ])),
        ("metaData", pa.struct([
            ("id", pa.string()),
            ("format", pa.struct([
                ("provider", pa.string()),
                ("options", pa.map_(pa.string(), pa.string())),
            ])),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ])),
        ("add", pa.struct([
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
            ("deletionVector", pa.struct([
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int32()),
                ("sizeInBytes", pa.int32()),
                ("cardinality", pa.int64()),
            ])),
        ])),
    ])
    pq.write_table(
        pa.Table.from_pylist(rows, schema=pa_schema),
        dl._checkpoint_path(t, 0),
    )
    with open(os.path.join(t, "_delta_log", "_last_checkpoint"),
              "w") as f:
        json.dump({"version": 0, "size": len(rows)}, f)
    # GC the JSON commit: replay must come entirely from the
    # checkpoint, configuration included
    os.remove(dl._commit_path(t, 0))
    st = dl.replay(t)
    assert (st.configuration or {}).get(
        "delta.columnMapping.mode"
    ) == "name"
    out = dl.read_delta(spark, t)
    assert sorted(tuple(r) for r in out.collect()) == [(7, "z")]


# --- column-mapping WRITE path (round 9) ----------------------------


def _cm_table(spark, t, n=100):
    df = spark.range(0, n).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("label"),
    )
    return dl.write_delta(df, t, column_mapping="name")


def test_cm_write_creates_mapped_table(spark, tmp_path):
    t = str(tmp_path / "t")
    st = _cm_table(spark, t)
    cfg = st.configuration
    assert cfg["delta.columnMapping.mode"] == "name"
    assert int(cfg["delta.columnMapping.maxColumnId"]) == 3
    sj = json.loads(st.schema)
    ids, phys = [], []
    for f in sj["fields"]:
        m = f["metadata"]
        ids.append(m["delta.columnMapping.id"])
        phys.append(m["delta.columnMapping.physicalName"])
    assert sorted(ids) == [1, 2, 3]
    assert all(p.startswith("col-") for p in phys)
    assert len(set(phys)) == 3
    # protocol declares the feature both sides
    assert "columnMapping" in st.protocol["readerFeatures"]
    assert "columnMapping" in st.protocol["writerFeatures"]
    # data files carry ONLY physical names
    import pyarrow.parquet as pq
    for rel in st.files:
        names = pq.ParquetFile(
            os.path.join(t, rel)
        ).schema_arrow.names
        assert set(names) == set(phys)
    # and the name-mode reader restores logical names
    out = dl.read_delta(spark, t)
    assert out.columns == ["id", "grp", "label"]
    assert out.count() == 100


def test_cm_rename_is_metadata_only_and_readable(spark, tmp_path):
    t = str(tmp_path / "t")
    st = _cm_table(spark, t)
    files = set(st.files)
    mtimes = {
        f: os.path.getmtime(os.path.join(t, f)) for f in files
    }
    st2 = dl.delta_rename_column(t, "label", "tag")
    assert set(st2.files) == files
    for f in files:
        assert os.path.getmtime(os.path.join(t, f)) == mtimes[f]
    out = dl.read_delta(spark, t)
    assert out.columns == ["id", "grp", "tag"]
    assert out.where("tag = 'v5'").count() == 1
    # time travel sees the OLD logical name
    old = dl.read_delta(spark, t, 0)
    assert old.columns == ["id", "grp", "label"]
    # appends keep working against the renamed logical schema
    more = spark.createDataFrame(
        [(1000, 1, "vX")], "id long, grp long, tag string"
    )
    dl.write_delta(more, t, "append")
    assert dl.read_delta(spark, t).count() == 101


def test_cm_rename_refusals(spark, tmp_path):
    t = str(tmp_path / "t")
    _cm_table(spark, t)
    with pytest.raises(ValueError, match="no column"):
        dl.delta_rename_column(t, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        dl.delta_rename_column(t, "label", "grp")
    # unmapped table refuses
    t2 = str(tmp_path / "plain")
    dl.write_delta(
        spark.createDataFrame([(1,)], "k long"), t2
    )
    with pytest.raises(ValueError, match="no column mapping"):
        dl.delta_rename_column(t2, "k", "kk")
    # a CHECK constraint referencing the column blocks the rename
    dl.delta_alter_properties(
        spark, t, {"delta.constraints.pos": "grp >= 0"}
    )
    with pytest.raises(ValueError, match="rule"):
        dl.delta_rename_column(t, "grp", "bucket")


def test_cm_append_uses_table_mapping(spark, tmp_path):
    t = str(tmp_path / "t")
    st = _cm_table(spark, t, n=10)
    more = spark.range(10, 15).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("label"),
    )
    st2 = dl.write_delta(more, t, "append")
    assert st2.schema == st.schema  # appends pin the table mapping
    assert dl.read_delta(spark, t).count() == 15
    # enabling mapping on an append is an error, not a mode change
    with pytest.raises(ValueError, match="append"):
        dl.write_delta(more, t2 := str(tmp_path / "p"), "overwrite")
        dl.write_delta(more, t2, "append", column_mapping="name")


def test_cm_partitioned_write_physical_partition_values(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("p")
    )
    st = dl.write_delta(
        df, t, partition_by=["p"], column_mapping="name"
    )
    assert st.partition_cols == ("p",)  # metaData stays LOGICAL
    sj = json.loads(st.schema)
    p_phys = [
        f["metadata"]["delta.columnMapping.physicalName"]
        for f in sj["fields"] if f["name"] == "p"
    ][0]
    # partitionValues keys are PHYSICAL
    for a in st.adds.values():
        assert set(a["partitionValues"]) == {p_phys}
    out = dl.read_delta(spark, t)
    assert out.count() == 40
    assert out.where("p = '2'").count() == 10
    # partition pruning by logical predicate still works via scan
    assert dl.read_delta(spark, t).where(
        F.col("p") == "1"
    ).count() == 10


def test_cm_overwrite_same_shape_keeps_physical_names(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    st = _cm_table(spark, t, n=10)
    df2 = spark.range(100, 120).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("w"), F.col("id")).alias("label"),
    )
    st2 = dl.write_delta(df2, t, "overwrite")
    assert st2.schema == st.schema  # identical mapping, stable names
    assert st2.configuration == st.configuration
    assert dl.read_delta(spark, t).count() == 20


def test_cm_overwrite_new_schema_extends_max_column_id(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    st = _cm_table(spark, t, n=10)  # maxColumnId 3
    df2 = spark.range(0, 5).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("label"),
        F.lit(1.5).alias("score"),
    )
    st2 = dl.write_delta(df2, t, "overwrite")
    cfg = st2.configuration
    assert int(cfg["delta.columnMapping.maxColumnId"]) == 4
    sj_old = {
        f["name"]: f["metadata"]
        for f in json.loads(st.schema)["fields"]
    }
    sj_new = {
        f["name"]: f["metadata"]
        for f in json.loads(st2.schema)["fields"]
    }
    # surviving columns KEEP id + physical name; the new one extends
    for c in ("id", "grp", "label"):
        assert sj_new[c]["delta.columnMapping.id"] == \
            sj_old[c]["delta.columnMapping.id"]
        assert sj_new[c]["delta.columnMapping.physicalName"] == \
            sj_old[c]["delta.columnMapping.physicalName"]
    assert sj_new["score"]["delta.columnMapping.id"] == 4
    assert dl.read_delta(spark, t).count() == 5
    # time travel across the schema change still resolves v0 files
    assert dl.read_delta(spark, t, 0).count() == 10


def test_cm_delete_update_merge_on_mapped_table(spark, tmp_path):
    t = str(tmp_path / "t")
    _cm_table(spark, t, n=100)
    dl.delta_delete(spark, t, "grp = 3")
    out = dl.read_delta(spark, t)
    assert out.count() == 86  # 14 ids with id%7==3 in 0..99
    dl.delta_update(spark, t, "grp = 0", {"label": "'zero'"})
    out = dl.read_delta(spark, t)
    assert out.where("label = 'zero'").count() == 15
    ups = spark.createDataFrame(
        [(1, 1, "one"), (500, 3, "new")],
        "id long, grp long, label string",
    )
    dl.delta_merge_upsert(spark, t, ups, ["id"])
    out = dl.read_delta(spark, t)
    assert out.count() == 87
    assert out.where("label = 'one'").count() == 1
    assert out.where("id = 500").count() == 1
    # physical names on every data file, including rewrites
    import pyarrow.parquet as pq
    st = dl.replay(t)
    for rel in st.files:
        names = pq.ParquetFile(
            os.path.join(t, rel)
        ).schema_arrow.names
        assert all(n.startswith("col-") or n.startswith("__")
                   for n in names), names


def test_cm_alter_properties_guards_mapping_keys(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    with pytest.raises(ValueError, match="columnMapping"):
        dl.delta_alter_properties(
            spark, t, {"delta.columnMapping.mode": "name"}
        )


def test_remap_fresh_ids_clear_stale_config_high_water():
    """Self-review r9: a foreign table whose maxColumnId config is
    STALE (smaller than ids actually in the schema) must not drive
    duplicate id assignment for new columns."""
    old = json.dumps({"type": "struct", "fields": [
        _field("a", "long", 2, "col-a"),
        _field("b", "long", 7, "col-b"),
    ]})
    new = json.dumps({"type": "struct", "fields": [
        {"name": "a", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "b", "type": "long", "nullable": True,
         "metadata": {}},
        {"name": "c", "type": "long", "nullable": True,
         "metadata": {}},
    ]})
    mapped, mx = dl._remap_column_mapping(new, old, start_id=3)
    by = {
        f["name"]: f["metadata"]
        for f in json.loads(mapped)["fields"]
    }
    assert by["a"]["delta.columnMapping.id"] == 2
    assert by["b"]["delta.columnMapping.id"] == 7
    assert by["c"]["delta.columnMapping.id"] == 8  # not 4
    assert mx == 8


def test_remap_map_key_value_structs_do_not_alias():
    """Self-review r9: a struct field named 'x' inside a map KEY and
    one inside the map VALUE are distinct columns and must get
    distinct ids + physical names."""
    inner = {"type": "struct", "fields": [
        {"name": "x", "type": "long", "nullable": True,
         "metadata": {}},
    ]}
    new = json.dumps({"type": "struct", "fields": [
        {"name": "m",
         "type": {"type": "map", "keyType": inner,
                  "valueType": inner,
                  "valueContainsNull": True},
         "nullable": True, "metadata": {}},
    ]})
    mapped, mx = dl._remap_column_mapping(new)
    mt = json.loads(mapped)["fields"][0]["type"]
    kx = mt["keyType"]["fields"][0]["metadata"]
    vx = mt["valueType"]["fields"][0]["metadata"]
    assert kx["delta.columnMapping.id"] != vx["delta.columnMapping.id"]
    assert kx["delta.columnMapping.physicalName"] != \
        vx["delta.columnMapping.physicalName"]
    assert mx == 3


def test_cm_merge_schema_evolution_assigns_fresh_ids(
    spark, tmp_path
):
    """Add-only evolution on a mapped table: new columns get ids
    above the high-water mark and fresh physical names BEFORE the
    data files are written; old files null-fill."""
    t = str(tmp_path / "t")
    st = _cm_table(spark, t, n=10)  # maxColumnId 3
    more = spark.range(10, 15).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("label"),
        (F.col("id") * 2.0).alias("score"),
    )
    st2 = dl.write_delta(more, t, "append", merge_schema=True)
    assert int(
        st2.configuration["delta.columnMapping.maxColumnId"]
    ) == 4
    by_new = {
        f["name"]: f["metadata"]
        for f in json.loads(st2.schema)["fields"]
    }
    by_old = {
        f["name"]: f["metadata"]
        for f in json.loads(st.schema)["fields"]
    }
    for c in ("id", "grp", "label"):
        assert by_new[c] == by_old[c]
    assert by_new["score"]["delta.columnMapping.id"] == 4
    score_phys = by_new["score"]["delta.columnMapping.physicalName"]
    assert score_phys.startswith("col-")
    # the appended files carry the new PHYSICAL column
    import pyarrow.parquet as pq
    new_rels = set(st2.files) - set(st.files)
    assert new_rels
    for rel in new_rels:
        assert score_phys in pq.ParquetFile(
            os.path.join(t, rel)
        ).schema_arrow.names
    out = dl.read_delta(spark, t)
    assert out.count() == 15
    assert out.where(F.col("score").isNull()).count() == 10


def test_cm_drop_column_metadata_only_and_fresh_readd(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    st = _cm_table(spark, t, n=10)
    files = set(st.files)
    mtimes = {
        f: os.path.getmtime(os.path.join(t, f)) for f in files
    }
    old_label_phys = [
        f["metadata"]["delta.columnMapping.physicalName"]
        for f in json.loads(st.schema)["fields"]
        if f["name"] == "label"
    ][0]
    st2 = dl.delta_drop_column(t, "label")
    assert set(st2.files) == files
    for f in files:
        assert os.path.getmtime(os.path.join(t, f)) == mtimes[f]
    out = dl.read_delta(spark, t)
    assert out.columns == ["id", "grp"]
    # time travel still sees the dropped column
    assert dl.read_delta(spark, t, 0).columns == [
        "id", "grp", "label",
    ]
    # re-ADD the same logical name: fresh id + physical name, old
    # values must NOT resurrect
    more = spark.range(10, 12).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.lit("fresh").alias("label"),
    )
    st3 = dl.write_delta(more, t, "append", merge_schema=True)
    by = {
        f["name"]: f["metadata"]
        for f in json.loads(st3.schema)["fields"]
    }
    assert by["label"]["delta.columnMapping.id"] == 4
    assert by["label"]["delta.columnMapping.physicalName"] != \
        old_label_phys
    out = dl.read_delta(spark, t)
    assert out.count() == 12
    # rows 0-9 read NULL for the re-added column (old physical data
    # is invisible), only the new rows carry values
    assert out.where(F.col("label").isNotNull()).count() == 2


def test_cm_drop_refusals(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        F.col("id"), (F.col("id") % 4).cast("string").alias("p")
    )
    dl.write_delta(df, t, partition_by=["p"], column_mapping="name")
    with pytest.raises(ValueError, match="partition"):
        dl.delta_drop_column(t, "p")
    with pytest.raises(ValueError, match="no column"):
        dl.delta_drop_column(t, "zzz")
    t2 = str(tmp_path / "plain")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t2)
    with pytest.raises(ValueError, match="no column mapping"):
        dl.delta_drop_column(t2, "k")


def test_remap_strips_foreign_ids(spark, tmp_path):
    """ADVICE r09: a dataframe read from a DIFFERENT mapped table
    carries that table's columnMapping ids through schema
    round-trips; importing them verbatim can duplicate an id already
    kept or assigned (spec: ids unique within one schema). Fields
    absent from the OLD schema must always get fresh ids."""
    old = json.dumps({
        "type": "struct",
        "fields": [_field("a", "long", 1, "col-phys-a")],
    })
    new = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "a", "type": "long", "nullable": True,
             "metadata": {}},
            # foreign field claiming the SAME id as kept column a
            _field("b", "long", 1, "col-foreign-b"),
        ],
    })
    mapped, mx = dl._remap_column_mapping(new, old, 1)
    by = {
        f["name"]: f["metadata"]
        for f in json.loads(mapped)["fields"]
    }
    assert by["a"]["delta.columnMapping.id"] == 1
    assert by["a"]["delta.columnMapping.physicalName"] == "col-phys-a"
    assert by["b"]["delta.columnMapping.id"] == 2
    assert by["b"]["delta.columnMapping.physicalName"] != \
        "col-foreign-b"
    ids = [m["delta.columnMapping.id"] for m in by.values()]
    assert len(ids) == len(set(ids))
    assert mx == 2
    # end-to-end: writing a df whose schema carries foreign mapping
    # metadata into a NEW mapped table never imports those ids
    t = str(tmp_path / "t")
    dl.write_delta(spark.range(0, 5), t, column_mapping="name")
    src = dl.read_delta(spark, t)
    t2 = str(tmp_path / "t2")
    dl.write_delta(src, t2, column_mapping="name")
    sj = json.loads(dl.replay(t2).schema)
    metas = [f["metadata"] for f in sj["fields"]]
    seen = [m["delta.columnMapping.id"] for m in metas]
    assert len(seen) == len(set(seen))


def test_cm_none_on_mapped_table_refuses(spark, tmp_path):
    """ADVICE r09: an explicit column_mapping='none' on a mapped
    table asks to DISABLE the mode — a spec-governed operation this
    writer doesn't implement; silently keeping the mapping ignored
    the caller's ask. Omitting the flag still keeps the mode."""
    t = str(tmp_path / "t")
    dl.write_delta(spark.range(0, 5), t, column_mapping="name")
    with pytest.raises(NotImplementedError, match="disable"):
        dl.write_delta(spark.range(5, 9), t, column_mapping="none")
    # the no-flag overwrite keeps mapping (unchanged behavior)
    st = dl.write_delta(spark.range(5, 9), t)
    assert (st.configuration or {}).get(
        "delta.columnMapping.mode"
    ) == "name"
    # explicit 'none' on an UNMAPPED table stays a no-op
    t2 = str(tmp_path / "plain")
    dl.write_delta(spark.range(0, 3), t2, column_mapping="none")
    assert dl.read_delta(spark, t2).count() == 3


# --- id-mode WRITE battery (round 11, VERDICT r10 items 1+2) -------


def _id_table(spark, t, n=100):
    df = spark.range(0, n).select(
        F.col("id"),
        (F.col("id") % 7).alias("grp"),
        F.concat(F.lit("v"), F.col("id")).alias("label"),
    )
    return dl.write_delta(df, t, column_mapping="id")


def test_id_mode_write_creates_table_with_field_ids(spark, tmp_path):
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    st = _id_table(spark, t)
    assert st.configuration["delta.columnMapping.mode"] == "id"
    assert int(st.configuration["delta.columnMapping.maxColumnId"]) == 3
    assert "columnMapping" in st.protocol["readerFeatures"]
    assert "columnMapping" in st.protocol["writerFeatures"]
    # schema: every field mapped with id + physical name
    ids = {}
    for f in json.loads(st.schema)["fields"]:
        meta = f["metadata"]
        assert meta["delta.columnMapping.physicalName"].startswith(
            "col-"
        )
        ids[f["name"]] = meta["delta.columnMapping.id"]
    assert sorted(ids.values()) == [1, 2, 3]
    # every data file: physical names + matching footer field ids
    phys_to_id = {
        f["metadata"]["delta.columnMapping.physicalName"]:
            f["metadata"]["delta.columnMapping.id"]
        for f in json.loads(st.schema)["fields"]
    }
    for rel in st.files:
        sch = pq.ParquetFile(os.path.join(t, rel)).schema_arrow
        for fld in sch:
            assert fld.metadata[b"PARQUET:field_id"] == str(
                phys_to_id[fld.name]
            ).encode()
    out = dl.read_delta(spark, t)
    assert out.columns == ["id", "grp", "label"]
    assert out.count() == 100


def test_id_mode_append_rename_drop_roundtrip(spark, tmp_path):
    t = str(tmp_path / "t")
    _id_table(spark, t, n=10)
    dl.write_delta(
        spark.createDataFrame(
            [(100, 1, "vX")], "id long, grp long, label string"
        ),
        t, "append",
    )
    assert dl.read_delta(spark, t).count() == 11
    # rename is metaData-only; data files untouched
    files_before = set(dl.replay(t).files)
    dl.delta_rename_column(t, "label", "tag")
    st = dl.replay(t)
    assert set(st.files) == files_before
    out = dl.read_delta(spark, t)
    assert out.columns == ["id", "grp", "tag"]
    assert out.where("tag = 'vX'").count() == 1
    # drop is metaData-only too
    dl.delta_drop_column(t, "grp")
    out = dl.read_delta(spark, t)
    assert out.columns == ["id", "tag"]
    assert out.count() == 11


def test_id_mode_dv_delete_update_merge(spark, tmp_path):
    """DV mutations on an id-mode table: rewrites go through
    _physical_payload, so every new file carries field ids and the
    field-id read path keeps resolving."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    _id_table(spark, t, n=100)
    dl.delta_delete(spark, t, "grp = 3")
    assert dl.read_delta(spark, t).count() == 86
    dl.delta_update(spark, t, "grp = 0", {"label": "'zero'"})
    assert dl.read_delta(spark, t).where(
        "label = 'zero'"
    ).count() == 15
    ups = spark.createDataFrame(
        [(1, 1, "one"), (500, 3, "new")],
        "id long, grp long, label string",
    )
    dl.delta_merge_upsert(spark, t, ups, ["id"])
    out = dl.read_delta(spark, t)
    assert out.count() == 87
    assert out.where("id = 500").count() == 1
    # every live file (originals + rewrites) carries field ids
    st = dl.replay(t)
    for rel in st.files:
        sch = pq.ParquetFile(os.path.join(t, rel)).schema_arrow
        for fld in sch:
            if fld.name.startswith("__"):
                continue  # row-tracking materialized extras
            assert b"PARQUET:field_id" in (fld.metadata or {}), (
                rel, fld.name
            )


def test_id_mode_cdc_read(spark, tmp_path):
    """VERDICT r10 item 2: CDC read of an id-mode table — change
    files are addressed by field id like data files, and the feed
    returns logical column names."""
    t = str(tmp_path / "t")
    _id_table(spark, t, n=20)
    st0 = dl.delta_alter_properties(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )
    dl.delta_delete(spark, t, "id < 3")
    dl.delta_update(spark, t, "id = 5", {"label": "'five'"})
    ch = dl.read_delta_changes(spark, t, st0.version)
    dels = {r.id for r in ch.where(
        "_change_type = 'delete'"
    ).collect()}
    assert dels == {0, 1, 2}
    posts = {
        r.label for r in ch.where(
            "_change_type = 'update_postimage'"
        ).collect()
    }
    assert posts == {"five"}


def test_id_mode_merge_schema_evolution_fresh_ids(spark, tmp_path):
    """Additive evolution on an id-mode table: the new column gets a
    fresh id above maxColumnId and new files carry it."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    st0 = _id_table(spark, t, n=5)
    max0 = int(st0.configuration["delta.columnMapping.maxColumnId"])
    st = dl.write_delta(
        spark.createDataFrame(
            [(50, 1, "vN", 3.5)],
            "id long, grp long, label string, score double",
        ),
        t, "append", merge_schema=True,
    )
    fields = {
        f["name"]: f["metadata"]
        for f in json.loads(st.schema)["fields"]
    }
    assert fields["score"]["delta.columnMapping.id"] == max0 + 1
    assert int(
        st.configuration["delta.columnMapping.maxColumnId"]
    ) == max0 + 1
    out = dl.read_delta(spark, t)
    assert out.where("score is not null").count() == 1
    assert out.where("score is null").count() == 5


def test_id_mode_nested_struct_write_roundtrip(spark, tmp_path):
    """Nested struct fields get ids at every level (the .to()
    propagation path) and read back by id."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    df = spark.range(3).select(
        F.col("id").alias("k"),
        F.struct(
            (F.col("id") * 2).alias("x"),
            F.concat(F.lit("s"), F.col("id")).alias("y"),
        ).alias("payload"),
    )
    st = dl.write_delta(df, t, column_mapping="id")
    for rel in st.files:
        sch = pq.ParquetFile(os.path.join(t, rel)).schema_arrow
        for fld in sch:
            assert b"PARQUET:field_id" in (fld.metadata or {})
            if fld.type.num_fields if hasattr(fld.type, "num_fields") else 0:
                for i in range(fld.type.num_fields):
                    inner = fld.type.field(i)
                    assert b"PARQUET:field_id" in (
                        inner.metadata or {}
                    ), inner.name
    out = dl.read_delta(spark, t).orderBy("k").collect()
    assert [(r.k, r.payload.x, r.payload.y) for r in out] == [
        (0, 0, "s0"), (1, 2, "s1"), (2, 4, "s2"),
    ]


def test_cm_mode_change_refuses(spark, tmp_path):
    """name<->id is a spec-governed MODE CHANGE, not an enablement —
    both directions refuse loudly; same-mode overwrite passes."""
    t1 = str(tmp_path / "t1")
    _cm_table(spark, t1, n=5)
    with pytest.raises(NotImplementedError, match="mode change"):
        dl.write_delta(
            spark.range(2).select(F.col("id")),
            t1, "overwrite", column_mapping="id",
        )
    t2 = str(tmp_path / "t2")
    _id_table(spark, t2, n=5)
    with pytest.raises(NotImplementedError, match="mode change"):
        dl.write_delta(
            spark.range(2).select(F.col("id")),
            t2, "overwrite", column_mapping="name",
        )
    # re-stating the table's own mode is a no-op, not a change
    st = dl.write_delta(
        spark.range(2).select(
            F.col("id"), F.lit(1).alias("grp"),
            F.lit("x").alias("label"),
        ),
        t2, "overwrite", column_mapping="id",
    )
    assert st.configuration["delta.columnMapping.mode"] == "id"


def test_name_mode_files_now_carry_field_ids(spark, tmp_path):
    """Conformance: name-mode data files also carry field ids (the
    spec requires ids in files whenever column mapping is active —
    name mode just doesn't ADDRESS by them)."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    st = _cm_table(spark, t, n=5)
    for rel in st.files:
        sch = pq.ParquetFile(os.path.join(t, rel)).schema_arrow
        for fld in sch:
            assert b"PARQUET:field_id" in (fld.metadata or {})
    assert dl.read_delta(spark, t).count() == 5


def test_id_mode_partitioned_write_prune_and_compact(
    spark, tmp_path
):
    """Adversarial corners (VERDICT r10 item 8): id mode composed
    with hive partitioning — partitionValues keyed by PHYSICAL
    names, partition files carry ids for the data columns, scans
    prune, and partition-wise compaction preserves everything."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id"),
        (F.col("id") % 4).cast("string").alias("p"),
    )
    st = dl.write_delta(
        df.repartition(8), t, partition_by=["p"],
        column_mapping="id",
    )
    p_phys = {
        f["name"]: f["metadata"]["delta.columnMapping.physicalName"]
        for f in json.loads(st.schema)["fields"]
    }["p"]
    for a in st.adds.values():
        assert set(a["partitionValues"]) == {p_phys}
    # data files: only the id column inside, with its field id
    some = next(iter(st.files))
    sch = pq.ParquetFile(os.path.join(t, some)).schema_arrow
    assert all(
        b"PARQUET:field_id" in (f.metadata or {}) for f in sch
    )
    out = dl.read_delta(spark, t)
    assert out.where("p = '2'").count() == 10
    # partition-wise compaction keeps ids readable
    dl.delta_compact(spark, t, 1)
    out = dl.read_delta(spark, t)
    assert out.count() == 40
    assert out.where("p = '3'").count() == 10


def test_id_mode_checkpoint_gc_replay(spark, tmp_path):
    """An id-mode table checkpointed and JSON-GC'd replays from the
    checkpoint with the mapping intact (ids live in schemaString)."""
    t = str(tmp_path / "t")
    _id_table(spark, t, n=20)
    dl.write_delta(
        spark.createDataFrame(
            [(100, 1, "vX")], "id long, grp long, label string"
        ),
        t, "append",
    )
    v = dl.write_checkpoint(t)
    for i in range(v + 1):
        os.remove(dl._commit_path(t, i))
    st = dl.replay(t)
    assert st.configuration["delta.columnMapping.mode"] == "id"
    assert dl.read_delta(spark, t).count() == 21


def test_id_mode_with_row_tracking_compose(spark, tmp_path):
    """Row tracking's materialized columns (extra_cols) ride the
    field-id stamping path id-less while data columns keep ids; ids
    and row ids both survive an OPTIMIZE."""
    t = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    )
    dl.write_delta(df, t, column_mapping="id", row_tracking=True)
    dl.delta_update(spark, t, "id % 3 = 0", {"v": "v + 1"})
    dl.delta_compact(spark, t, 1)
    out = dl.read_delta(spark, t, row_ids=True)
    rows = out.select("id", "v", "_row_id").collect()
    assert len(rows) == 30
    assert len({r._row_id for r in rows}) == 30  # ids unique
    assert all(
        r.v == r.id * 2 + (1 if r.id % 3 == 0 else 0) for r in rows
    )


def test_upgrade_existing_table_to_name_mode(spark, tmp_path):
    """Round 11: the spec's enable-on-existing-table path — a plain
    table upgrades to name mode METADATA-ONLY (physical names pin to
    the current logical names, so every pre-upgrade file keeps
    resolving), after which rename is metaData-only and appends
    stamp field ids."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 10).alias("v"),
    )
    st0 = dl.write_delta(df, t)
    files0 = set(st0.files)
    st = dl.delta_upgrade_column_mapping(t)
    assert st.configuration["delta.columnMapping.mode"] == "name"
    assert set(st.files) == files0  # no rewrite
    for f in json.loads(st.schema)["fields"]:
        meta = f["metadata"]
        # physical name EQUALS the logical name (the upgrade rule)
        assert meta["delta.columnMapping.physicalName"] == f["name"]
        assert meta["delta.columnMapping.id"] >= 1
    assert "columnMapping" in (st.protocol.get("readerFeatures") or [])
    # old files resolve
    assert dl.read_delta(spark, t).count() == 20
    # idempotent
    assert dl.delta_upgrade_column_mapping(t).version == st.version
    # rename is now metaData-only; old files read through the
    # physical name (= pre-rename logical name)
    dl.delta_rename_column(t, "v", "val")
    out = dl.read_delta(spark, t)
    assert out.columns == ["id", "p", "val"]
    assert out.agg(F.sum("val")).first()[0] == sum(
        i * 10 for i in range(20)
    )
    # a post-upgrade append works and carries field ids
    st2 = dl.write_delta(
        spark.createDataFrame(
            [(100, "x", 5)], "id long, p string, val long"
        ),
        t, "append",
    )
    new_rel = (set(st2.files) - files0).pop()
    sch = pq.ParquetFile(os.path.join(t, new_rel)).schema_arrow
    assert all(
        b"PARQUET:field_id" in (fld.metadata or {}) for fld in sch
    )
    # mixed old (id-less) + new (id-carrying) files: name addressing
    assert dl.read_delta(spark, t).count() == 21


def test_upgrade_partitioned_table_keeps_partition_values(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    df = spark.range(0, 30).select(
        F.col("id"), (F.col("id") % 3).cast("string").alias("p")
    )
    dl.write_delta(df.repartition(4), t, partition_by=["p"])
    dl.delta_upgrade_column_mapping(t)
    out = dl.read_delta(spark, t)
    assert out.where("p = '1'").count() == 10
    # new appends key partitionValues by physical (= logical) names
    st = dl.write_delta(
        spark.createDataFrame([(100, "9")], "id long, p string"),
        t, "append", partition_by=["p"],
    )
    assert any(
        a["partitionValues"].get("p") == "9"
        for a in st.adds.values()
    )
    assert dl.read_delta(spark, t).where("p = '9'").count() == 1


def test_upgrade_refuses_id_mode_and_alter_points_at_it(
    spark, tmp_path
):
    t = str(tmp_path / "t")
    _id_table(spark, t, n=3)
    with pytest.raises(NotImplementedError, match="changing"):
        dl.delta_upgrade_column_mapping(t)
    t2 = str(tmp_path / "t2")
    dl.write_delta(spark.range(3), t2)
    with pytest.raises(
        ValueError, match="delta_upgrade_column_mapping"
    ):
        dl.delta_alter_properties(
            spark, t2, {"delta.columnMapping.mode": "name"}
        )


def test_upgrade_identity_table_composition(spark, tmp_path):
    """Adversarial (round 11): upgrading an IDENTITY table to name
    mapping must preserve the ``delta.identity.*`` field metadata
    through ``_remap_column_mapping`` (which rebuilds every field's
    metadata dict), and the post-upgrade append must both continue
    the identity sequence and keep the CM stamps through the
    identity HWM-bump metaData rewrite."""
    from pyspark.sql import types as T

    t = str(tmp_path / "t")
    sch = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.StringType()),
    ])
    dl.delta_create_identity_table(
        sch, t,
        {"id": {"start": 1, "step": 1, "allow_explicit": False}},
    )
    dl.write_delta(
        spark.createDataFrame([("a",), ("b",), ("c",)], "v string"),
        t, mode="append",
    )
    st = dl.delta_upgrade_column_mapping(t)
    idm = {
        f["name"]: f["metadata"]
        for f in json.loads(st.schema)["fields"]
    }["id"]
    assert "delta.identity.start" in idm  # survived the remap
    assert "delta.columnMapping.id" in idm
    dl.write_delta(
        spark.createDataFrame([("d",), ("e",)], "v string"),
        t, mode="append",
    )
    head = dl.replay(t)
    idm2 = {
        f["name"]: f["metadata"]
        for f in json.loads(head.schema)["fields"]
    }["id"]
    # the identity append's schema rewrite kept BOTH metadata families
    assert "delta.columnMapping.id" in idm2
    assert idm2["delta.columnMapping.id"] == idm[
        "delta.columnMapping.id"
    ]
    assert "delta.identity.start" in idm2
    rows = dl.read_delta(spark, t).orderBy("id").collect()
    assert [r.id for r in rows] == [1, 2, 3, 4, 5]
    assert sorted(r.v for r in rows) == ["a", "b", "c", "d", "e"]


@pytest.mark.parametrize("mode", ["name", "id"])
def test_widen_on_mapped_table_mixed_physical_types(
    spark, tmp_path, mode
):
    """Adversarial (round 11): type widening on a column-mapped
    table — the widened field keeps its CM id/physical name, the
    pre-widen files keep their NARROW physical type, and one scan
    resolves both generations (name- or field-id-addressed) with the
    native upcast."""
    t = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"),
        t, column_mapping=mode,
    )
    st = dl.delta_widen_column(t, "v", "long")
    vf = {
        f["name"]: f for f in json.loads(st.schema)["fields"]
    }["v"]
    assert "delta.columnMapping.id" in vf["metadata"]
    assert vf["type"] == "long"
    dl.write_delta(
        spark.createDataFrame(
            [(3, 30_000_000_000)], "k int, v long"
        ),
        t, mode="append",
    )
    rows = dl.read_delta(spark, t).orderBy("k").collect()
    assert [(r.k, r.v) for r in rows] == [
        (1, 10), (2, 20), (3, 30_000_000_000)
    ]


def test_upgrade_row_tracking_and_dv_composition(spark, tmp_path):
    """Adversarial (round 11): upgrade on a row-tracking table keeps
    row ids readable across pre- and post-upgrade files, and a DV
    DELETE after the upgrade addresses the PRE-upgrade (id-less,
    logical-named) files correctly."""
    t = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "k int, g int"
        ),
        t, row_tracking=True,
    )
    dl.delta_upgrade_column_mapping(t)
    dl.write_delta(
        spark.createDataFrame([(100, 9)], "k int, g int"),
        t, mode="append",
    )
    rows = dl.read_delta(spark, t, row_ids=True).collect()
    assert len(rows) == 31
    assert len({r._row_id for r in rows}) == 31
    dl.delta_delete(spark, t, "g = 1")
    got = sorted(
        r.k for r in dl.read_delta(spark, t).collect()
    )
    assert got == [i for i in range(30) if i % 3 != 1] + [100]
