"""Row tracking (sources/delta_log/): clean-room implementation of
the public PROTOCOL.md "Row Tracking" feature — every add action on an
enabled table carries ``baseRowId``/``defaultRowCommitVersion``, fresh
ids are allocated under the ``delta.rowTracking`` domain-metadata
high-water mark, and a row's id is
``coalesce(materialized row-id column, baseRowId + row_index)``.
Stability battery: ids must survive DV DELETE/UPDATE/MERGE, OPTIMIZE
(both strategies), checkpoints (classic and v2), and log GC.

Reference anchor: the reference persists curated tables in Delta
(notebooks/20_analytics.ipynb:653); row tracking is the protocol
surface current runtimes use for incremental MERGE/CDC lineage on
those tables.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from rearc_data_engineer_takehome_spark.sources import delta_log as dl


def _mk(spark, t, n=100, files=1, row_tracking=True):
    df = spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return dl.write_delta(
        df.coalesce(files), t, stats_cols=["k"],
        row_tracking=row_tracking,
    )


def _ids(spark, t, **kw):
    return {
        r.k: (r._row_id, r._row_commit_version)
        for r in dl.read_delta(spark, t, row_ids=True, **kw).collect()
    }


def test_create_assigns_contiguous_ids(spark, tmp_path):
    t = str(tmp_path / "t")
    st = _mk(spark, t, n=50, files=1)
    adds = list(st.adds.values())
    assert adds[0]["baseRowId"] == 0
    assert adds[0]["defaultRowCommitVersion"] == 0
    assert st.domain_metadata == {
        "delta.rowTracking": '{"rowIdHighWaterMark":49}'
    }
    got = _ids(spark, t)
    assert got == {k: (k, 0) for k in range(50)}
    # protocol carries both features
    feats = set(st.protocol["writerFeatures"])
    assert {"rowTracking", "domainMetadata"} <= feats


def test_multi_file_ids_disjoint(spark, tmp_path):
    t = str(tmp_path / "t")
    st = _mk(spark, t, n=100, files=4)
    bases = sorted(
        (a["baseRowId"], int(json.loads(a["stats"])["numRecords"]))
        for a in st.adds.values()
    )
    # contiguous, non-overlapping ranges covering [0, 100)
    cur = 0
    for base, n in bases:
        assert base == cur
        cur += n
    assert cur == 100
    ids = [rid for rid, _ in _ids(spark, t).values()]
    assert sorted(ids) == list(range(100))


def test_append_continues_above_hwm(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=30)
    dl.write_delta(
        spark.range(30, 40).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ).coalesce(1),
        t, "append",
    )
    got = _ids(spark, t)
    assert got[30] == (30, 1) and got[39] == (39, 1)
    assert got[0] == (0, 0)


def test_ids_survive_dv_delete_update(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=100, files=2)
    before = _ids(spark, t)
    dl.delta_delete(spark, t, "k % 10 = 3")                    # v1
    mid = _ids(spark, t)
    assert set(mid) == {k for k in before if k % 10 != 3}
    assert all(mid[k] == before[k] for k in mid)
    dl.delta_update(spark, t, "k = 7", {"v": "v + 1"})         # v2
    after = _ids(spark, t)
    # updated row keeps its id, gets the update commit's version
    assert after[7] == (before[7][0], 2)
    # untouched rows keep both
    assert all(after[k] == mid[k] for k in after if k != 7)
    # the updated VALUE landed
    row = dl.read_delta(spark, t).where("k = 7").collect()[0]
    assert row.v == 71


def test_ids_survive_optimize(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=80, files=4)
    dl.delta_delete(spark, t, "k < 5")
    dl.delta_update(spark, t, "k = 9", {"v": "0"})
    before = _ids(spark, t)
    st = dl.delta_compact(spark, t, 1)
    assert len(st.files) == 1
    after = _ids(spark, t)
    # OPTIMIZE changes no rows: ids AND commit versions both survive
    # via the materialized columns
    assert after == before
    # the compacted add still carries fresh bookkeeping fields
    a = st.adds[st.files[0]]
    assert a["baseRowId"] is not None
    assert a["defaultRowCommitVersion"] == st.version


def test_ids_survive_partitioned_optimize(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
    )
    dl.write_delta(
        df.repartition(4), t, partition_by=["p"],
        row_tracking=True, stats_cols=["k"],
    )
    dl.delta_delete(spark, t, "k = 12")
    before = _ids(spark, t)
    dl.delta_compact(spark, t, 1)
    after = _ids(spark, t)
    assert after == before


def test_merge_via_dv_keeps_matched_ids(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=50)
    dl.delta_delete(spark, t, "k = 49")  # turn the DV feature on
    before = _ids(spark, t)
    upd = spark.createDataFrame(
        [(7, 777), (500, 5000)], "k long, v long"
    )
    st = dl.delta_merge_upsert(spark, t, upd, ["k"])  # DV strategy
    ops = json.loads(
        open(dl._commit_path(t, st.version)).readlines()[-1]
    )["commitInfo"]["operationParameters"]
    assert ops.get("strategy") == "deletionVectors"
    after = _ids(spark, t)
    assert after[7][0] == before[7][0]          # matched keeps id
    assert after[7][1] == st.version            # fresh commit version
    assert after[500][0] > max(r[0] for r in before.values())
    assert all(after[k] == before[k] for k in before
               if k not in (7, 49))


def test_merge_rewrite_keeps_all_ids(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=50)  # no DV feature -> rewrite strategy
    before = _ids(spark, t)
    upd = spark.createDataFrame(
        [(7, 777), (500, 5000)], "k long, v long"
    )
    st = dl.delta_merge_upsert(spark, t, upd, ["k"], via_dv=False)
    after = _ids(spark, t)
    assert after[7] == (before[7][0], st.version)
    # carried-over rows keep id AND original commit version even
    # though every row was physically rewritten
    assert all(after[k] == before[k] for k in before if k != 7)
    # the insert draws a fresh id above the old high-water mark (the
    # rewrite allocates a fresh range covering every rewritten
    # physical row; materialized ids shadow the carried-over ones)
    assert after[500][0] > 49
    assert after[500][1] == st.version


def test_hwm_survives_checkpoint_and_gc(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=20)
    dl.delta_delete(spark, t, "k = 1")
    before = _ids(spark, t)
    v = dl.write_checkpoint(t)
    for i in range(v + 1):
        p = dl._commit_path(t, i)
        if os.path.exists(p):
            os.remove(p)
    # ids and the domain survive replay from the checkpoint alone
    assert _ids(spark, t) == before
    st = dl.replay(t)
    assert dl._rt_hwm(st.domain_metadata) == 19
    # next append cannot reuse ids
    dl.write_delta(
        spark.createDataFrame([(99, 990)], "k long, v long"),
        t, "append",
    )
    after = _ids(spark, t)
    assert after[99][0] == 20


def test_hwm_survives_v2_checkpoint(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=20)
    before = _ids(spark, t)
    v = dl.write_checkpoint(t, v2=True, sidecar_files=2)
    for i in range(v + 1):
        p = dl._commit_path(t, i)
        if os.path.exists(p):
            os.remove(p)
    assert _ids(spark, t) == before
    assert dl._rt_hwm(dl.replay(t).domain_metadata) == 19


def test_enable_on_existing_backfills(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(
        spark.range(0, 30).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        ).coalesce(2),
        t, stats_cols=["k"],
    )
    dl.delta_delete(spark, t, "k = 3")
    st = dl.delta_alter_properties(
        spark, t, {"delta.enableRowTracking": "true"}
    )
    # backfill re-added every live file with ids, dataChange=false,
    # DV descriptors intact (k=3 stays deleted)
    got = _ids(spark, t)
    assert set(got) == set(range(30)) - {3}
    # the backfill assigns ids per PHYSICAL position, so the dead
    # row's slot stays allocated-but-unread: 29 distinct live ids
    # inside [0, 30)
    ids = [r[0] for r in got.values()]
    assert len(set(ids)) == 29 and all(0 <= i < 30 for i in ids)
    assert all(a.get("baseRowId") is not None
               for a in st.adds.values())
    assert any(a.get("deletionVector") for a in st.adds.values())
    # materialized column names were stamped
    assert st.configuration.get(
        "delta.rowTracking.materializedRowIdColumnName"
    )


def test_row_tracking_on_append_refuses(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(spark.range(0, 5), t)
    with pytest.raises(ValueError, match="append"):
        dl.write_delta(
            spark.range(5, 9), t, "append", row_tracking=True
        )


def test_row_id_read_refuses_unstamped_files(spark, tmp_path):
    """A foreign table whose rowTracking feature was enabled without
    backfill: inventing ids would break stability — refuse."""
    t = str(tmp_path / "t")
    st = _mk(spark, t, n=10)
    # strip the fields from the live add, as a sloppy foreign writer
    # would leave them
    a = dict(st.adds[st.files[0]])
    a.pop("baseRowId")
    a.pop("defaultRowCommitVersion")
    dl._atomic_commit(t, 1, [{"add": a}])
    with pytest.raises(ValueError, match="baseRowId"):
        dl.read_delta(spark, t, row_ids=True).collect()


def test_plain_read_unaffected(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=25)
    out = dl.read_delta(spark, t)
    assert "_row_id" not in out.columns
    assert out.count() == 25


def test_column_mapped_row_tracking(spark, tmp_path):
    """Row tracking composes with column-mapping name mode: the
    materialized columns live OUTSIDE the logical schema and are
    never physically renamed."""
    t = str(tmp_path / "t")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    dl.write_delta(
        df.coalesce(1), t, column_mapping="name",
        row_tracking=True, stats_cols=["k"],
    )
    before = _ids(spark, t)
    assert before[0] == (0, 0)
    dl.delta_update(spark, t, "k = 4", {"v": "999"})
    dl.delta_compact(spark, t, 1)
    after = _ids(spark, t)
    assert after[4] == (before[4][0], 1)
    assert all(after[k] == before[k] for k in after if k != 4)
    dl.delta_rename_column(t, "v", "val")
    got = {
        r.k: (r.val, r._row_id)
        for r in dl.read_delta(spark, t, row_ids=True).collect()
    }
    assert got[4] == (999, before[4][0])


def test_overwrite_rt_table_assigns_fresh_above_hwm(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=30)
    dl.write_delta(
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
        ).coalesce(1),
        t, "overwrite",
    )
    got = _ids(spark, t)
    # replaced rows are NEW logical rows: fresh ids above the old HWM
    assert sorted(r[0] for r in got.values()) == list(range(30, 40))


def test_time_travel_reads_historic_ids(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=10)
    dl.delta_update(spark, t, "k = 2", {"v": "0"})
    got0 = _ids(spark, t, version=0)
    assert got0[2] == (2, 0)
    got1 = _ids(spark, t)
    assert got1[2] == (2, 1)


def test_domain_metadata_removed_roundtrip(spark, tmp_path):
    """Generic domainMetadata semantics: removed=true drops the
    domain from replay; checkpoints carry only live domains."""
    t = str(tmp_path / "t")
    dl.write_delta(spark.range(0, 3), t)
    dl._atomic_commit(t, 1, [
        {"domainMetadata": {
            "domain": "custom.d1", "configuration": "{\"x\":1}",
            "removed": False,
        }},
        {"domainMetadata": {
            "domain": "custom.d2", "configuration": "{}",
            "removed": False,
        }},
    ])
    dl._atomic_commit(t, 2, [
        {"domainMetadata": {
            "domain": "custom.d2", "configuration": "{}",
            "removed": True,
        }},
    ])
    st = dl.replay(t)
    assert st.domain_metadata == {"custom.d1": "{\"x\":1}"}
    v = dl.write_checkpoint(t)
    for i in range(v + 1):
        os.remove(dl._commit_path(t, i))
    assert dl.replay(t).domain_metadata == {"custom.d1": "{\"x\":1}"}


def test_adversarial_compositions(spark, tmp_path):
    """Round-10 self-review (VERDICT r09 item 8): the corners where
    the new surfaces compose — partitioned update→optimize→merge,
    repeated OPTIMIZE, CDF riding an rt table (change frames must not
    leak row-id columns), identity + row tracking on one table, and
    pre-enablement time travel refusing loudly."""
    from pyspark.sql.types import LongType, StructField, StructType

    def ids(t, **kw):
        return {
            r.k: (r._row_id, r._row_commit_version)
            for r in dl.read_delta(
                spark, t, row_ids=True, **kw
            ).collect()
        }

    # partitioned: update -> optimize -> merge -> optimize again
    t = str(tmp_path / "a")
    df = spark.range(0, 60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        (F.col("id") * 2).alias("v"),
    )
    dl.write_delta(
        df.repartition(4), t, partition_by=["p"],
        row_tracking=True, stats_cols=["k"],
    )
    dl.delta_update(spark, t, "k = 10", {"v": "999"})
    b1 = ids(t)
    dl.delta_compact(spark, t, 1)
    assert ids(t) == b1
    upd = spark.createDataFrame(
        [(10, "1", 5), (1000, "0", 7)], "k long, p string, v long"
    )
    dl.delta_merge_upsert(spark, t, upd, ["k"])
    b3 = ids(t)
    assert b3[10][0] == b1[10][0] and 1000 in b3
    dl.delta_compact(spark, t, 2)
    assert ids(t) == b3  # repeated optimize: zero drift

    # CDF on an rt table: images correct, no row-id column leakage
    t = str(tmp_path / "c")
    dl.write_delta(
        spark.range(0, 20).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        ).coalesce(1),
        t, row_tracking=True, stats_cols=["k"],
    )
    dl.delta_alter_properties(
        spark, t, {"delta.enableChangeDataFeed": "true"}
    )
    before = ids(t)
    dl.delta_update(spark, t, "k = 3", {"v": "77"})
    assert ids(t)[3][0] == before[3][0]
    ch = dl.read_delta_changes(spark, t, 1)
    agg = {
        r._change_type: r["count"]
        for r in ch.groupBy("_change_type").count().collect()
    }
    assert agg == {"update_preimage": 1, "update_postimage": 1}
    assert "_row_id" not in ch.columns

    # identity + row tracking on one table
    t = str(tmp_path / "d")
    dl.delta_create_identity_table(
        StructType([
            StructField("uid", LongType()),
            StructField("k", LongType()),
        ]),
        t, {"uid": {"start": 1, "step": 1}},
    )
    dl.delta_alter_properties(
        spark, t, {"delta.enableRowTracking": "true"}
    )
    dl.write_delta(
        spark.range(0, 10).select(F.col("id").alias("k"))
        .coalesce(1),
        t, "append",
    )
    rows = {
        r.k: (r.uid, r._row_id)
        for r in dl.read_delta(spark, t, row_ids=True).collect()
    }
    assert rows[0] == (1, 0) and rows[9] == (10, 9)

    # pre-enablement time travel: row-id read refuses loudly
    t = str(tmp_path / "e")
    dl.write_delta(spark.range(0, 5).select(F.col("id").alias("k")), t)
    dl.delta_alter_properties(
        spark, t, {"delta.enableRowTracking": "true"}
    )
    with pytest.raises(ValueError, match="baseRowId"):
        dl.read_delta(spark, t, version=0, row_ids=True).collect()
    assert dl.read_delta(spark, t, row_ids=True).count() == 5


def test_restore_across_enablement_boundary(spark, tmp_path):
    """RESTORE to a post-enablement version preserves ids verbatim;
    RESTORE below the enablement re-stamps the unstamped re-adds
    fresh (and advances the HWM) so row-id reads keep working."""
    t = str(tmp_path / "t")
    dl.write_delta(
        spark.range(0, 10).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        ).coalesce(1),
        t, stats_cols=["k"],
    )  # v0, pre-enablement
    dl.delta_alter_properties(
        spark, t, {"delta.enableRowTracking": "true"}
    )  # v1 backfill
    dl.write_delta(
        spark.createDataFrame([(50, 50)], "k long, v long"),
        t, "append",
    )  # v2
    post = _ids(spark, t)
    dl.delta_delete(spark, t, "k = 3")  # v3
    # restore to v2 (post-enablement): ids verbatim
    dl.delta_restore(t, 2)  # v4
    assert _ids(spark, t) == post
    # restore straight to v0 while the original file's CURRENT
    # incarnation differs (it carries a DV): the target's UNSTAMPED
    # pre-enablement add must be re-stamped fresh — the feature stays
    # on, so a silent unstamped add would break every row-id read
    dl.delta_delete(spark, t, "k = 4")  # v5: F gets a DV again
    dl.delta_restore(t, 0)  # v6: re-adds v0's unstamped F
    got = _ids(spark, t)
    assert set(got) == set(range(10))
    hwm_after = dl._rt_hwm(dl.replay(t).domain_metadata)
    assert all(rid > 10 for rid, _ in got.values())
    assert hwm_after >= max(rid for rid, _ in got.values())


def test_foreign_checkpoint_removed_tombstone_not_resurrected(
    spark, tmp_path
):
    """ADVICE r10: this writer's checkpoints carry only live domains,
    but the spec ALLOWS a foreign checkpoint to retain removed-domain
    tombstones. The checkpoint reader must honor the removed flag —
    a retained tombstone must not resurrect a dropped domain."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "t")
    dl.write_delta(spark.range(0, 3), t)
    dl._atomic_commit(t, 1, [
        {"domainMetadata": {
            "domain": "custom.live", "configuration": "{\"x\":1}",
            "removed": False,
        }},
        {"domainMetadata": {
            "domain": "custom.dropped", "configuration": "{}",
            "removed": False,
        }},
    ])
    dl._atomic_commit(t, 2, [
        {"domainMetadata": {
            "domain": "custom.dropped", "configuration": "{}",
            "removed": True,
        }},
    ])
    v = dl.write_checkpoint(t)
    # forge a foreign checkpoint: same rows + a retained tombstone
    cp = dl._checkpoint_path(t, v)
    tbl = pq.read_table(cp)
    rows = tbl.to_pylist()
    assert not any(
        (r.get("domainMetadata") or {}).get("domain")
        == "custom.dropped"
        for r in rows
    )  # our writer dropped it at checkpoint time
    rows.append({
        "domainMetadata": {
            "domain": "custom.dropped",
            "configuration": "{}",
            "removed": True,
        }
    })
    import pyarrow as pa

    pq.write_table(
        pa.Table.from_pylist(rows, schema=tbl.schema), cp
    )
    for i in range(v + 1):
        os.remove(dl._commit_path(t, i))
    st = dl.replay(t)
    assert "custom.dropped" not in st.domain_metadata
    assert st.domain_metadata.get("custom.live") == "{\"x\":1}"
