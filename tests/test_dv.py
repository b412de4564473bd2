"""Deletion vectors (sources/dv.py + delta_log integration): the
clean-room implementation of the public delta-io PROTOCOL.md
"Deletion Vectors" stack — Z85, 32-bit roaring portable
serialization, the magic-prefixed 64-bit RoaringBitmapArray, the DV
file storage format — and DELETE/read/compact/vacuum semantics over
it. Reference anchor: the reference persists curated tables in Delta
(notebooks/20_analytics.ipynb:653, 2200, 2561), whose DELETE/UPDATE
path is DV-based on any current runtime; this is the native-format
twin. Byte-level goldens are asserted unconditionally; cross-engine
reads are env-gated on the real delta-spark package."""

from __future__ import annotations

import json
import os
import struct
import zlib

import numpy as np
import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rearc_data_engineer_takehome_spark.sources import delta_log as dl
from rearc_data_engineer_takehome_spark.sources.delta_log import log as dlog
from rearc_data_engineer_takehome_spark.sources import dv


# --- codec goldens (format conformance, no Spark needed) ------------


def test_z85_rfc32_golden_vector():
    # the ZeroMQ RFC 32 spec's published test case
    raw = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert dv.z85_encode(raw) == "HelloWorld"
    assert dv.z85_decode("HelloWorld") == raw


def test_z85_rejects_bad_lengths_and_chars():
    with pytest.raises(ValueError):
        dv.z85_encode(b"abc")
    with pytest.raises(ValueError):
        dv.z85_decode("abcd")
    with pytest.raises(ValueError):
        dv.z85_decode('"""""')  # '"' not in the Z85 alphabet


def test_roaring32_no_run_golden_layout():
    # RoaringFormatSpec: cookie 12346, 1 container, key 0 card 3,
    # offset header, sorted u16 array payload
    b = dv._serialize_rbm32(np.array([0, 2, 3], dtype=np.uint32))
    assert struct.unpack_from("<II", b, 0) == (12346, 1)
    assert struct.unpack_from("<HH", b, 8) == (0, 2)  # card - 1
    assert struct.unpack_from("<I", b, 12) == (16,)  # payload offset
    assert b[16:] == bytes([0, 0, 2, 0, 3, 0])


def test_rbm64_magic_and_bucket_layout():
    blob = dv.serialize_positions(
        np.array([1, (1 << 32) + 7], dtype=np.int64)
    )
    magic, n = struct.unpack_from("<iq", blob, 0)
    assert magic == 1681511377  # PROTOCOL.md Deletion Vector Format
    assert n == 2  # one 32-bit bitmap per non-empty high key
    (key0,) = struct.unpack_from("<i", blob, 12)
    assert key0 == 0


def test_roaring_reader_accepts_run_containers():
    # hand-craft the 12347 run layout for {5..9, 100}: one container,
    # run flag set, 2 runs — writer never emits this, native ones do
    payload = struct.pack("<H", 2)  # numRuns
    payload += struct.pack("<HH", 5, 4)  # start 5, length-1 4
    payload += struct.pack("<HH", 100, 0)
    buf = struct.pack("<HH", 12347, 0)  # cookie, containers-1
    buf += bytes([0b1])  # run flag bitset
    buf += struct.pack("<HH", 0, 5)  # key 0, card-1 (6 values)
    buf += payload  # <4 containers: no offset header
    vals, used = dv._deserialize_rbm32(memoryview(buf), 0)
    assert used == len(buf)
    assert list(vals) == [5, 6, 7, 8, 9, 100]


def test_roaring_reader_accepts_bitmap_containers():
    pos = np.arange(0, 65536, 3, dtype=np.int64)  # card > 4096
    blob = dv.serialize_positions(pos)
    assert np.array_equal(dv.deserialize_positions(blob), pos)


@settings(max_examples=30, deadline=None)
@given(
    st.sets(
        st.integers(min_value=0, max_value=(1 << 40)),
        max_size=500,
    )
)
def test_positions_roundtrip_property(vals):
    pos = np.array(sorted(vals), dtype=np.int64)
    back = dv.deserialize_positions(dv.serialize_positions(pos))
    assert np.array_equal(back, pos)


def test_dv_file_layout_and_crc():
    blob = dv.serialize_positions(np.array([1, 5], dtype=np.int64))
    data, offsets = dv.pack_dv_file([blob, blob])
    assert data[0] == 1  # format version byte
    assert offsets[0] == 1
    (size,) = struct.unpack_from(">I", data, 1)
    assert size == len(blob)
    assert data[5 : 5 + size] == blob
    (crc,) = struct.unpack_from(">I", data, 5 + size)
    assert crc == (zlib.crc32(blob) & 0xFFFFFFFF)
    assert offsets[1] == 1 + 4 + size + 4


def test_read_dv_detects_corruption(tmp_path):
    blob = dv.serialize_positions(
        np.arange(10, dtype=np.int64)
    )
    enc, offs = dv.write_dv_file(str(tmp_path), [blob])
    desc = dv.make_descriptor(enc, offs[0], len(blob), 10)
    assert list(
        dv.read_dv_positions(str(tmp_path), desc)
    ) == list(range(10))
    # flip a payload byte: CRC must catch it
    path = dv.absolute_dv_path(str(tmp_path), desc)
    raw = bytearray(open(path, "rb").read())
    raw[8] ^= 0xFF
    open(path, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="CRC"):
        dv.read_dv_positions(str(tmp_path), desc)
    # size mismatch is its own loud failure
    bad = dict(desc, sizeInBytes=len(blob) - 1)
    with pytest.raises(ValueError, match="size"):
        dv.read_dv_positions(str(tmp_path), bad)
    # cardinality mismatch too
    bad2 = dict(desc, cardinality=3)
    raw[8] ^= 0xFF
    open(path, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="cardinality"):
        dv.read_dv_positions(str(tmp_path), bad2)


def test_inline_descriptor_roundtrip(tmp_path):
    blob = dv.serialize_positions(np.array([0, 9], dtype=np.int64))
    padded = blob + b"\x00" * (-len(blob) % 4)
    desc = {
        "storageType": "i",
        "pathOrInlineDv": dv.z85_encode(padded),
        "sizeInBytes": len(blob),
        "cardinality": 2,
    }
    assert list(dv.read_dv_positions(str(tmp_path), desc)) == [0, 9]


def test_dv_unique_id_shapes():
    assert dv.dv_unique_id(None) == ""
    d = {"storageType": "u", "pathOrInlineDv": "ab", "offset": 4}
    assert dv.dv_unique_id(d) == "uab@4"
    assert dv.dv_unique_id(
        {"storageType": "i", "pathOrInlineDv": "xy"}
    ) == "ixy"


# --- delete semantics over the log ----------------------------------


def _mk(spark, t, n=1000, parts=4):
    df = spark.range(0, n).select(
        F.col("id"), (F.col("id") % 10).alias("k")
    )
    return dl.write_delta(df.repartition(parts), t, stats_cols=["id"])


def test_delete_marks_rows_without_rewriting_files(spark, tmp_path):
    t = str(tmp_path / "t")
    s0 = _mk(spark, t)
    data_files = set(s0.files)
    mtimes = {
        f: os.path.getmtime(os.path.join(t, f)) for f in data_files
    }
    s1 = dl.delta_delete(spark, t, "k = 3")
    # same physical files, untouched on disk
    assert set(s1.files) == data_files
    for f in data_files:
        assert os.path.getmtime(os.path.join(t, f)) == mtimes[f]
    out = dl.read_delta(spark, t)
    assert out.count() == 900
    assert out.where("k = 3").count() == 0
    # time travel still sees the pre-delete rows
    assert dl.read_delta(spark, t, 0).count() == 1000


def test_first_delete_upgrades_protocol(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    s1 = dl.delta_delete(spark, t, "k = 0")
    assert s1.protocol == {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["deletionVectors"],
        # upgrading writer 2 -> 7 lists the legacy-implied features
        # too, per the spec (all three are enforced by this writer)
        "writerFeatures": [
            "appendOnly", "deletionVectors", "invariants",
        ],
    }
    # descriptor shape on disk, as a native reader would parse it
    with open(os.path.join(t, "_delta_log",
                           f"{1:020d}.json")) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    adds = [a["add"] for a in actions if "add" in a]
    assert adds and all(
        a["deletionVector"]["storageType"] == "u"
        and a["deletionVector"]["sizeInBytes"] > 0
        and a["deletionVector"]["cardinality"] > 0
        and "offset" in a["deletionVector"]
        for a in adds
    )
    # removes cancel the prior (path, no-DV) adds
    rms = [a["remove"] for a in actions if "remove" in a]
    assert {r["path"] for r in rms} == {a["path"] for a in adds}
    # stats flagged wide, physical numRecords preserved
    st = json.loads(adds[0]["stats"])
    assert st["tightBounds"] is False and st["numRecords"] > 0


def test_second_delete_merges_old_positions(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_delete(spark, t, "k = 4")
    dl.delta_delete(spark, t, "k = 5")
    out = dl.read_delta(spark, t)
    assert out.count() == 800
    assert out.where("k in (4, 5)").count() == 0
    head = dl.replay(t)
    for a in head.adds.values():
        desc = a["deletionVector"]
        # merged cardinality: both deletes' rows in ONE descriptor
        pos = dv.read_dv_positions(t, desc)
        assert desc["cardinality"] == len(pos)


def test_delete_all_rows_of_file_emits_plain_remove(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    s1 = dl.delta_delete(spark, t, "id >= 0")
    assert s1.files == ()
    assert dl.read_delta(spark, t).count() == 0


def test_delete_nothing_is_a_no_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    s0 = _mk(spark, t)
    s1 = dl.delta_delete(spark, t, "k = 42")
    assert s1.version == s0.version  # converged without a commit


def test_delete_predicate_as_column(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_delete(spark, t, F.col("id") < 100)
    assert dl.read_delta(spark, t).count() == 900


def test_partitioned_delete_and_restore(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    dl.write_delta(df.repartition(4), t, partition_by=["p"])
    dl.delta_delete(spark, t, "id < 100 and p = '0'")
    out = dl.read_delta(spark, t)
    assert out.count() == 950
    assert out.where("p = '0'").count() == 450
    # partition columns come back as typed literals on the DV path too
    assert out.schema["p"].dataType.simpleString() == "string"


def test_delta_scan_prunes_and_applies_dv(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_delete(spark, t, "id % 2 = 0")
    got = dl.delta_scan(spark, t, prune={"id": (100, 199)})
    assert got.count() == 50
    assert got.where("id % 2 = 0").count() == 0


def test_compact_purges_deletion_vectors(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, parts=4)
    dl.delta_delete(spark, t, "k in (1, 2)")
    st = dl.delta_compact(spark, t, 1)
    assert not any(
        a.get("deletionVector") for a in st.adds.values()
    )
    out = dl.read_delta(spark, t)
    assert out.count() == 800
    assert out.where("k in (1, 2)").count() == 0
    # purge is dataChange=false: history sees no data change
    with open(os.path.join(
        t, "_delta_log", f"{st.version:020d}.json"
    )) as f:
        acts = [json.loads(line) for line in f if line.strip()]
    assert all(
        not a["add"]["dataChange"] for a in acts if "add" in a
    )


def test_partitioned_compact_purges_dv(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 10).alias("k"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    dl.write_delta(df.repartition(6), t, partition_by=["p"])
    dl.delta_delete(spark, t, "k = 2")
    st = dl.delta_compact(spark, t, 1)
    assert not any(
        a.get("deletionVector") for a in st.adds.values()
    )
    out = dl.read_delta(spark, t)
    assert out.count() == 900
    assert out.where("k = 2").count() == 0


def test_checkpoint_preserves_dv_and_features(spark, tmp_path):
    import glob

    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_delete(spark, t, "k = 7")
    dl.write_checkpoint(t)
    # GC the JSON commits: replay must come entirely from the
    # checkpoint, descriptor and protocol features included
    for f in glob.glob(os.path.join(t, "_delta_log", "*.json")):
        os.remove(f)
    head = dl.replay(t)
    assert any(
        a.get("deletionVector") for a in head.adds.values()
    )
    assert set(head.protocol["readerFeatures"]) == {
        "deletionVectors"
    }
    assert dl.read_delta(spark, t).count() == 900


def test_overwrite_of_dv_table_cancels_dv_adds(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_delete(spark, t, "k = 1")
    df2 = spark.range(0, 5).select(
        F.col("id"), F.lit(0).cast("long").alias("k")
    )
    s2 = dl.write_delta(df2, t, mode="overwrite")
    assert dl.read_delta(spark, t).count() == 5
    # the overwrite's removes carried the DV descriptors (the spec's
    # (path, dvId) primary key), so nothing stays live by accident
    assert not any(
        a.get("deletionVector") for a in s2.adds.values()
    )


def test_merge_upsert_on_dv_table(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_delete(spark, t, "k = 0")  # kills ids 0,10,...,990
    ups = spark.range(0, 5).select(
        F.col("id").cast("long"), F.lit(99).cast("long").alias("k")
    )
    dl.delta_merge_upsert(spark, t, ups, ["id"])
    out = dl.read_delta(spark, t)
    # 900 live, ids 1-4 replaced in place, id 0 re-inserted
    assert out.count() == 901
    assert out.where("k = 99").count() == 5


def test_replay_keying_order_insensitive(spark, tmp_path):
    """remove(path, oldDV) + add(path, newDV) must leave the new add
    live regardless of intra-commit order — the spec keys actions by
    (path, deletionVector.uniqueId)."""
    t = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1,), (2,), (3,)], "id long"), t
    )
    head = dl.replay(t)
    rel = head.files[0]
    blob = dv.serialize_positions(np.array([0], dtype=np.int64))
    enc, offs = dv.write_dv_file(t, [blob])
    desc = dv.make_descriptor(enc, offs[0], len(blob), 1)
    new_add = dict(head.adds[rel])
    new_add["deletionVector"] = desc
    for order, expect_live in (("add_first", True),
                               ("remove_first", True)):
        t2 = str(tmp_path / order)
        dl.write_delta(
            spark.createDataFrame([(1,), (2,), (3,)], "id long"), t2
        )
        h2 = dl.replay(t2)
        rel2 = h2.files[0]
        blob2 = dv.serialize_positions(
            np.array([0], dtype=np.int64)
        )
        enc2, offs2 = dv.write_dv_file(t2, [blob2])
        a2 = dict(h2.adds[rel2])
        a2["deletionVector"] = dv.make_descriptor(
            enc2, offs2[0], len(blob2), 1
        )
        add_act = {"add": a2}
        rm_act = {"remove": {
            "path": rel2, "deletionTimestamp": 1, "dataChange": True,
        }}  # old add had NO dv: bare-path remove, matching uid ""
        acts = [{"protocol": dict(dl._DV_PROTOCOL)}]
        acts += [add_act, rm_act] if order == "add_first" else \
                [rm_act, add_act]
        # direct low-level commit to control the ordering
        dl._atomic_commit(t2, 1, acts)
        got = dl.replay(t2)
        assert rel2 in got.adds
        assert got.adds[rel2].get("deletionVector") == \
            a2["deletionVector"]
        assert dl.read_delta(spark, t2).count() == 2


def test_increment_refuses_dv_delete(spark, tmp_path):
    t = str(tmp_path / "t")
    s0 = _mk(spark, t)
    dl.delta_delete(spark, t, "k = 1")
    with pytest.raises(ValueError):
        dl.read_delta_increment(spark, t, s0.version).count()


def test_vacuum_keeps_live_bins_drops_dead_ones(spark, tmp_path):
    def bins(p):
        return [
            f for f in os.listdir(p)
            if f.startswith("deletion_vector_")
        ]

    # referenced bin survives vacuum
    t1 = str(tmp_path / "live")
    _mk(spark, t1)
    dl.delta_delete(spark, t1, "k = 7")
    dl.vacuum_delta(t1)
    assert len(bins(t1)) == 1
    assert dl.read_delta(spark, t1).count() == 900
    # purged bin dies at retention 0 ...
    t2 = str(tmp_path / "dead")
    _mk(spark, t2)
    dl.delta_delete(spark, t2, "k = 7")
    dl.delta_compact(spark, t2, 1)
    dl.vacuum_delta(t2)
    assert bins(t2) == []
    # ... but survives inside a retention window
    t3 = str(tmp_path / "window")
    _mk(spark, t3)
    dl.delta_delete(spark, t3, "k = 7")
    dl.delta_compact(spark, t3, 1)
    dl.vacuum_delta(t3, retention_ms=3_600_000)
    assert len(bins(t3)) == 1
    assert dl.read_delta(spark, t3).count() == 900


def test_reader_gate_still_refuses_unknown_features(tmp_path):
    with pytest.raises(NotImplementedError):
        dl._check_protocol("t", [{
            "minReaderVersion": 3,
            "readerFeatures": ["deletionVectors", "collations"],
        }])
    with pytest.raises(NotImplementedError):
        dl._check_protocol("t", [{
            "minReaderVersion": 2,
            "readerFeatures": ["somethingNew"],
        }])
    # the implemented feature sets pass (columnMapping acceptance is
    # covered in tests/test_column_mapping.py)
    dl._check_protocol("t", [{
        "minReaderVersion": 3,
        "readerFeatures": ["deletionVectors"],
    }])


def test_writer_gate_accepts_dv_refuses_more(tmp_path):
    dl._check_writer_protocol("t", {
        "minWriterVersion": 7,
        "writerFeatures": ["deletionVectors"],
    })
    with pytest.raises(NotImplementedError):
        dl._check_writer_protocol("t", {
            "minWriterVersion": 7,
            "writerFeatures": ["deletionVectors", "collations"],
        })
    # v5 (column mapping) writable since round 9; v6 (identity
    # columns) since round 10
    dl._check_writer_protocol("t", {"minWriterVersion": 5})
    dl._check_writer_protocol("t", {"minWriterVersion": 6})


def test_delete_concurrent_commit_raises(spark, tmp_path):
    """delta_delete computes against the head and must refuse to
    land over a commit it did not see."""
    t = str(tmp_path / "t")
    _mk(spark, t)
    # steal the next version number before the delete commits
    orig = dlog._atomic_commit
    from rearc_data_engineer_takehome_spark.sources import _files

    def race(table_dir, version, actions):
        orig(table_dir, version, [{"commitInfo": {
            "timestamp": 0, "operation": "WRITE",
            "operationParameters": {},
        }}])
        return orig(table_dir, version, actions)

    dlog._atomic_commit = race
    try:
        with pytest.raises(_files.ConcurrentCommitError):
            dl.delta_delete(spark, t, "k = 1")
    finally:
        dlog._atomic_commit = orig


def test_native_delta_reads_our_dv_table(spark, tmp_path):
    """Env-gated interop: the real delta-spark package (absent in
    this container; see COVERAGE.md env notes) reading a table whose
    deletes we committed as deletion vectors."""
    pytest.importorskip("delta")
    from delta.tables import DeltaTable  # noqa: F401

    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_delete(spark, t, "k = 3")
    got = spark.read.format("delta").load(t)
    assert got.count() == 900
    assert got.where("k = 3").count() == 0


# --- UPDATE via deletion vectors ------------------------------------


def test_update_rewrites_only_matched_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    s0 = _mk(spark, t)
    old_files = set(s0.files)
    s1 = dl.delta_update(spark, t, "k = 3", {"k": "k + 100"})
    out = dl.read_delta(spark, t)
    assert out.count() == 1000
    assert out.where("k = 3").count() == 0
    assert out.where("k = 103").count() == 100
    # untouched rows stayed in their original files (DV'd, not
    # rewritten); updated copies landed in NEW files
    assert old_files < set(s1.files) | old_files
    assert any(f not in old_files for f in s1.files)
    for f in old_files & set(s1.files):
        assert s1.adds[f].get("deletionVector")
    # schema is invariant (assignments cast to declared types)
    assert out.schema == dl.read_delta(spark, t, 0).schema
    # time travel sees the pre-update values
    assert dl.read_delta(spark, t, 0).where("k = 3").count() == 100


def test_update_converges_and_composes_with_delete(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    s1 = dl.delta_update(spark, t, "k = 3", {"k": "k + 100"})
    # re-run: predicate no longer matches -> no commit
    s2 = dl.delta_update(spark, t, "k = 3", {"k": "k + 100"})
    assert s2.version == s1.version
    dl.delta_delete(spark, t, "k = 103")
    assert dl.read_delta(spark, t).count() == 900


def test_update_moves_rows_across_partitions(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    dl.write_delta(df, t, partition_by=["p"])
    dl.delta_update(spark, t, "id < 10 and p = '0'", {"p": "'1'"})
    out = dl.read_delta(spark, t)
    assert out.count() == 1000
    assert out.where("p = '1'").count() == 505


def test_update_refuses_unknown_column(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    with pytest.raises(ValueError, match="unknown columns"):
        dl.delta_update(spark, t, "k = 1", {"nope": "1"})


def test_update_commit_shape(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    s1 = dl.delta_update(spark, t, "k = 0", {"k": "7777"})
    with open(os.path.join(
        t, "_delta_log", f"{s1.version:020d}.json"
    )) as f:
        acts = [json.loads(line) for line in f if line.strip()]
    ci = [a["commitInfo"] for a in acts if "commitInfo" in a][0]
    assert ci["operation"] == "UPDATE"
    assert ci["operationMetrics"]["numUpdatedRows"] == 100
    # one commit holds the protocol upgrade, DV re-adds AND the
    # updated-copy adds
    assert any("protocol" in a for a in acts)
    adds = [a["add"] for a in acts if "add" in a]
    assert any(a.get("deletionVector") for a in adds)
    assert any(not a.get("deletionVector") for a in adds)


def test_read_dv_rejects_zero_or_negative_offset(tmp_path):
    # offset 0 lands on the format-version byte — a malformed
    # descriptor, not "use the default"; `or 1` used to conflate them
    blob = dv.serialize_positions(np.arange(4, dtype=np.int64))
    enc, offs = dv.write_dv_file(str(tmp_path), [blob])
    desc = dv.make_descriptor(enc, offs[0], len(blob), 4)
    for bad_off in (0, -1):
        bad = dict(desc, offset=bad_off)
        with pytest.raises(ValueError, match="offset"):
            dv.read_dv_positions(str(tmp_path), bad)
    # missing offset still defaults to 1 (inline write layout)
    missing = {k: v for k, v in desc.items() if k != "offset"}
    if desc.get("offset") == 1:
        assert list(
            dv.read_dv_positions(str(tmp_path), missing)
        ) == [0, 1, 2, 3]


def test_live_filter_raises_on_descriptor_miss(spark, tmp_path):
    """A scan path from the DV'd file group that resolves to no
    broadcast descriptor is path-normalization drift; passing its
    rows through as live would resurrect deleted rows (ADVICE r8)."""
    import pandas as pd

    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_delete(spark, t, "k = 3")
    st = dl.replay(t)
    live = dl._dv_live_filter(spark, t, st.adds)
    assert live is not None
    with pytest.raises(ValueError, match="resurrect"):
        live.func(
            pd.Series(["/nowhere/drifted.parquet"]),
            pd.Series([0]),
        )
    # the matched path still filters correctly driver-side
    dvd = [
        r for r, a in st.adds.items() if a.get("deletionVector")
    ]
    ap = os.path.abspath(os.path.join(t, dvd[0]))
    pos = dv.read_dv_positions(
        t, st.adds[dvd[0]]["deletionVector"]
    )
    out = live.func(
        pd.Series([ap, ap]),
        pd.Series([int(pos[0]), int(pos[0]) + 1]),
    )
    assert list(out) == [False, True] or list(out) == [False, False]
    # a null path factorizes to code -1 and would silently stay LIVE
    # (never matched by any codes == k mask) — the r11 ADVICE guard
    # must refuse as loudly as a descriptor miss
    with pytest.raises(ValueError, match="null file path"):
        live.func(pd.Series([ap, None]), pd.Series([0, 0]))


def test_merge_via_dv_does_not_rewrite_untouched_files(
    spark, tmp_path
):
    """Once the table carries the deletionVectors feature, MERGE
    marks matched rows dead and appends — the original data files
    stay on disk untouched (VERDICT r8 item 4)."""
    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_delete(spark, t, "k = 9")  # stamps the DV feature
    head = dl.replay(t)
    files_before = set(head.files)
    mtimes = {
        f: os.path.getmtime(os.path.join(t, f))
        for f in files_before
    }
    ups = spark.range(0, 5).select(
        F.col("id").cast("long"),
        F.lit(99).cast("long").alias("k"),
    )
    s2 = dl.delta_merge_upsert(spark, t, ups, ["id"])
    # every pre-merge file is still live (now DV'd), plus new
    # appended files for the update rows
    assert files_before <= set(s2.files)
    assert len(s2.files) > len(files_before)
    for f in files_before:
        assert os.path.getmtime(os.path.join(t, f)) == mtimes[f]
    out = dl.read_delta(spark, t)
    # 900 live after the delete; ids 0-4 (k=0..4, none deleted)
    # replaced in place, nothing inserted
    assert out.count() == 900
    assert out.where("k = 99").count() == 5
    with open(os.path.join(
        t, "_delta_log", f"{s2.version:020d}.json"
    )) as f:
        acts = [json.loads(line) for line in f if line.strip()]
    ci = [a["commitInfo"] for a in acts if "commitInfo" in a][0]
    assert ci["operation"] == "MERGE"
    assert ci["operationParameters"]["strategy"] == "deletionVectors"
    assert ci["operationMetrics"]["numTargetRowsMatched"] == 5
    # re-running the same merge converges
    s3 = dl.delta_merge_upsert(spark, t, ups, ["id"])
    out2 = dl.read_delta(spark, t)
    assert out2.count() == 900
    assert out2.where("k = 99").count() == 5
    assert s3.version == s2.version + 1


def test_merge_insert_only_on_dv_table(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=100)
    dl.delta_delete(spark, t, "k = 0")
    ups = spark.createDataFrame(
        [(1000, 5), (1001, 6)], "id long, k long"
    )
    s2 = dl.delta_merge_upsert(spark, t, ups, ["id"])
    out = dl.read_delta(spark, t)
    assert out.count() == 92  # 90 live + 2 inserts
    with open(os.path.join(
        t, "_delta_log", f"{s2.version:020d}.json"
    )) as f:
        acts = [json.loads(line) for line in f if line.strip()]
    # insert-only: no removes, no new DVs
    assert not any("remove" in a for a in acts)
    ci = [a["commitInfo"] for a in acts if "commitInfo" in a][0]
    assert ci["operationMetrics"]["numTargetRowsMatched"] == 0


def test_merge_via_dv_forced_on_plain_table(spark, tmp_path):
    # explicit via_dv=True on a DV-free table: works and stamps the
    # feature in the same commit
    t = str(tmp_path / "t")
    _mk(spark, t, n=100)
    ups = spark.createDataFrame(
        [(3, 99), (1000, 99)], "id long, k long"
    )
    s1 = dl.delta_merge_upsert(spark, t, ups, ["id"], via_dv=True)
    assert "deletionVectors" in (
        s1.protocol.get("writerFeatures") or []
    )
    out = dl.read_delta(spark, t)
    assert out.count() == 101
    assert out.where("k = 99").count() == 2
