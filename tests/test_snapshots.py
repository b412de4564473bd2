"""Table snapshots on the Delta log (sources/delta_log/) and the shared
data-file helpers (sources/_files.py): overwrite/append lineage, time
travel and restore, commit-race renumbering and rebasing, MERGE that
raises rather than clobbers a racing commit, vacuum of unreferenced
files, the append-only change feed, foreachBatch sinks, stats-based
file skipping (also with Z-order and schema evolution), additive
schema evolution, history, compaction, structural schema
compatibility of appends, empty-read schema round-trips, column
pruning at the scan, stats that outlive a checkpoint and vacuum,
vacuum next to an in-flight append, and concurrent appenders racing a
compactor and a reader on one log."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from rearc_data_engineer_takehome_spark.sources import _files
from rearc_data_engineer_takehome_spark.sources import delta_log as dl
from rearc_data_engineer_takehome_spark.sources.delta_log import log as dlog


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_schema_roundtrip_special_names_and_nullability(spark, tmp_path):
    """Empty reads rebuild the schema from the log; StructType JSON
    round-trips field names simpleString cannot (spaces) and
    preserves nullability."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
    )

    t = str(tmp_path / "tbl")
    schema = StructType(
        [
            StructField("order date", LongType(), nullable=False),
            StructField("v", LongType(), nullable=True),
        ]
    )
    head = dl.write_delta(spark.createDataFrame([(1, 2)], schema), t)
    empty = dl.read_delta_increment(spark, t, since_version=head.version)
    assert empty.count() == 0
    assert empty.schema["order date"].dataType == LongType()
    assert empty.schema["order date"].nullable is False


def test_append_schema_compat_is_structural_not_textual(spark, tmp_path):
    """An append differing only in nullability, field metadata, or
    column ORDER is a readable parquet union and must be accepted
    (table schema stays sticky); a type or name change still rejects
    loudly."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    t = str(tmp_path / "tbl")
    base_schema = StructType([
        StructField("k", LongType(), nullable=False),
        StructField("s", StringType(), nullable=True),
    ])
    v0 = dl.write_delta(spark.createDataFrame([(1, "a")], base_schema), t)
    # nullability flip + metadata + reversed column order: compatible
    variant = StructType([
        StructField("s", StringType(), nullable=False,
                    metadata={"comment": "added by a later producer"}),
        StructField("k", LongType(), nullable=True),
    ])
    v1 = dl.write_delta(
        spark.createDataFrame([("b", 2)], variant), t, "append"
    )
    assert v1.schema == v0.schema  # sticky
    got = _rows(dl.read_delta(spark, t).select("k", "s"))
    assert got == [(1, "a"), (2, "b")]
    # type change: rejected
    with pytest.raises(ValueError, match="append schema incompatible"):
        dl.write_delta(
            spark.createDataFrame([("x", "y")], "k string, s string"),
            t, "append",
        )
    # name change: rejected
    with pytest.raises(ValueError, match="append schema incompatible"):
        dl.write_delta(
            spark.createDataFrame([(3, "c")], "k long, s2 string"),
            t, "append",
        )


def test_streaming_sink_evolves_schema_mid_stream(spark, tmp_path):
    """A streaming Delta sink survives a mid-stream schema widening:
    micro-batches before the evolution commit the narrow schema,
    later ones append with merge_schema=True, and the head reads both
    eras (old rows null-filled) — the upgrade path for a long-lived
    pipeline whose upstream gains a column."""
    tbl = str(tmp_path / "delta_tbl")

    def sink(batch_df, batch_id):
        dl.write_delta(batch_df, tbl, mode="append", merge_schema=True)

    # era 1: two narrow micro-batches (simulated by direct sink calls —
    # foreachBatch hands the sink plain DataFrames; the streaming
    # machinery itself is covered by test_delta_log's foreachBatch
    # sink test)
    for i in range(2):
        sink(spark.createDataFrame([(i,)], "k long"), i)
    # era 2: upstream adds a column
    sink(spark.createDataFrame([(9, "new")], "k long, tag string"), 2)

    head = dl.read_delta(spark, tbl)
    assert head.columns == ["k", "tag"]
    assert {(r.k, r.tag) for r in head.collect()} == {
        (0, None), (1, None), (9, "new"),
    }
    # the change feed across the evolution carries the widened schema
    inc = dl.read_delta_increment(spark, tbl, since_version=1)
    assert [(r.k, r.tag) for r in inc.collect()] == [(9, "new")]


def test_file_may_match_is_conservative_on_type_mismatch():
    """An int prune bound against a str-stat column must KEEP the file
    (cannot prove a miss), not crash the scan — pruning is
    conservative by construction."""
    str_stats = {"c": {"min": "AAA", "max": "MMM", "nulls": 0}}
    assert _files._file_may_match(str_stats, {"c": (100, 200)})
    # matching types still prune
    assert not _files._file_may_match(
        {"c": {"min": 1, "max": 5, "nulls": 0}}, {"c": (100, 200)}
    )
    assert not _files._file_may_match(str_stats, {"c": ("N", None)})


def test_pruning_conservative_with_absent_and_partial_stats(
    spark, tmp_path
):
    """Adversarial data skipping: add-action stats absent for a SUBSET
    of files — an append committed without stats_cols, pre-evolution
    files that lack the evolved column, and a compaction that dropped
    all min/max stats — must always degrade to scan-everything for the
    stat-less files, never to a wrong answer. Every pruned scan is
    checked value-exact against the unpruned read with the same
    row-level predicate."""
    t = str(tmp_path / "tbl")

    def ref(prune):
        df = dl.read_delta(spark, t)
        for col, (lo, hi) in prune.items():
            if lo is not None:
                df = df.where(F.col(col) >= lo)
            if hi is not None:
                df = df.where(F.col(col) <= hi)
        return _rows(df)

    def check(prune):
        got = dl.delta_scan(spark, t, prune=prune)
        assert _rows(got) == ref(prune)
        return got

    def scanned(df):
        return {f.split(t.rstrip("/") + "/")[-1] for f in df.inputFiles()}

    # v0: 4 range-partitioned files over k=0..99, WITH stats on k
    base = spark.range(100).select(
        F.col("id").alias("k"), F.lit("old").alias("src")
    )
    v0_files = set(
        dl.write_delta(
            base.repartitionByRange(4, "k"), t, stats_cols=["k"]
        ).files
    )

    # v1: append k=100..199 WITHOUT stats — never prunable
    v1_files = set(
        dl.write_delta(
            spark.range(100, 200)
            .select(F.col("id").alias("k"), F.lit("new").alias("src"))
            .repartitionByRange(4, "k"),
            t,
            "append",
        ).files
    ) - v0_files

    # the range lives ONLY in stat-less v1 files: all of v0 pruned,
    # all of v1 kept (absent stats cannot prove a miss)
    assert scanned(check({"k": (150, 160)})) == v1_files

    # a range covered ONLY by v0: stats prune 3 of 4 v0 files, but all
    # 4 stat-less v1 files are still scanned — conservative, exact
    got = scanned(check({"k": (10, 15)}))
    assert v1_files <= got and len(got & v0_files) == 1

    # type-mismatched bound (int interval on a string column): no file
    # has stats on 'src', and even with stats the comparison is a type
    # mismatch — keep everything, row-level predicate decides
    assert len(
        dl.delta_scan(spark, t, prune={"src": (0, 1)}).inputFiles()
    ) == 8

    # v2: additive evolution adds 'extra' WITH stats — pre-evolution
    # files have NO stats for it (and no column): they null-fill and
    # are never pruned by an 'extra' bound; rows stay exact
    dl.write_delta(
        spark.range(200, 250).select(
            F.col("id").alias("k"),
            F.lit("evolved").alias("src"),
            (F.col("id") * 10).alias("extra"),
        ),
        t,
        "append",
        merge_schema=True,
        stats_cols=["extra"],
    )
    check({"extra": (2000, 2100)})
    check({"extra": (2000, 2100), "k": (0, 300)})

    # v3: compact WITHOUT stats_cols — the skipping index is gone for
    # every file; pruning degrades to scan-all, answers stay exact
    snap = dl.delta_compact(spark, t, target_files=2)
    got = check({"k": (150, 160)})
    assert len(got.inputFiles()) == len(snap.files)  # nothing pruned
    check({"extra": (2000, 2100)})

    # v4: compact WITH stats_cols — skipping resumes on fresh stats
    dl.delta_compact(spark, t, target_files=4, stats_cols=["k", "extra"])
    check({"k": (150, 160)})
    check({"extra": (2000, 2100)})


def test_read_delta_prunes_columns_at_the_scan(spark, tmp_path):
    """The log hands Spark an explicit parquet file list with the
    schema pinned, so column pruning still reaches the scan
    (ReadSchema)."""
    from rearc_data_engineer_takehome_spark.plans import explain

    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.range(100).select(
            "id", (F.col("id") * 2).alias("a"), (F.col("id") * 3).alias("b")
        ),
        t,
    )
    rs = explain.read_schema(dl.read_delta(spark, t).select("id", "a"))
    assert "id:bigint" in rs and "a:bigint" in rs
    assert "b:bigint" not in rs, f"scan reads pruned column: {rs!r}"


def test_stats_survive_appends_checkpoints_and_vacuum(spark, tmp_path):
    """Add-action stats survive a checkpoint and a vacuum that GCs the
    JSON commits (the checkpoint becomes the only copy), and files
    committed WITHOUT stats are conservatively kept by every scan."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.range(0, 100).coalesce(1), t, stats_cols=["id"])
    for lo in range(100, 1200, 100):
        dl.write_delta(
            spark.range(lo, lo + 100).coalesce(1), t, "append",
            stats_cols=["id"],
        )
    # one stats-less append: never pruned
    dl.write_delta(spark.range(5000, 5100).coalesce(1), t, "append")

    def scan():
        got = dl.delta_scan(spark, t, prune={"id": (250, 310)})
        assert _rows(got) == [(i,) for i in range(250, 311)]
        # 2 stats-pruned survivors + the 1 stats-less file always kept
        assert len(got.inputFiles()) == 3

    scan()
    dl.vacuum_delta(t)
    assert not os.path.exists(dl._commit_path(t, 0))
    scan()


def test_vacuum_racing_inflight_append_is_safe(
    spark, tmp_path, monkeypatch
):
    """An append that has materialized its data files but not yet
    committed presents as young unreferenced files; a vacuum with a
    retention window must leave them alone (orphans age by mtime), so
    the append lands intact afterwards. An aged orphan — a writer that
    died before committing — is reclaimed."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(0,)], "k long"), t)
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t, "append")

    # in-flight append: files on disk, commit not yet written
    df = spark.createDataFrame([(2,)], "k long")
    new_files = _files._write_data_files(df, t)
    # a dead writer's files, a day old
    dead = _files._write_data_files(df, t)
    for rel in dead:
        full = os.path.join(t, rel)
        os.utime(full, (os.path.getmtime(full) - 86_400,) * 2)

    dl.vacuum_delta(t, retention_ms=6 * 3_600_000)
    assert all(os.path.exists(os.path.join(t, f)) for f in new_files)
    assert not any(os.path.exists(os.path.join(t, f)) for f in dead)

    # the append completes its commit over the files it already wrote
    monkeypatch.setattr(
        _files, "_write_data_files", lambda df, table_dir: new_files
    )
    dl.write_delta(df, t, "append")
    assert _rows(dl.read_delta(spark, t)) == [(0,), (1,), (2,)]


def test_concurrent_appenders_compactor_reader_converge(spark, tmp_path):
    """Multi-writer stress: N appender threads, a compactor and a
    reader race on ONE log. Every reader sees a committed version
    (counts never go backward), losers of commit races renumber until
    they land (every appended row is present exactly once at the end),
    and the compactor either composes with a racing append or raises
    ConcurrentCommitError and re-runs against the new head."""
    import threading

    t = str(tmp_path / "tbl")
    schema = "writer long, seq long, v long"
    dl.write_delta(spark.createDataFrame([(-1, -1, 0)], schema), t)

    n_writers, n_appends = 3, 4
    errors: list = []
    counts: list = []
    stop = threading.Event()
    start = threading.Barrier(n_writers + 2)

    def appender(wid):
        try:
            start.wait()
            for s in range(n_appends):
                dl.write_delta(
                    spark.createDataFrame(
                        [(wid, s, wid * 100 + s)], schema
                    ),
                    t,
                    "append",
                )
        except Exception as e:  # noqa: BLE001 - collected for assert
            errors.append(("append", wid, repr(e)))

    def compactor():
        start.wait()
        while not stop.is_set():
            try:
                dl.delta_compact(spark, t, target_files=2)
            except _files.ConcurrentCommitError:
                continue  # documented: re-run against the new head
            except Exception as e:  # noqa: BLE001
                errors.append(("compact", repr(e)))
                return

    def reader():
        start.wait()
        while not stop.is_set():
            try:
                counts.append(dl.read_delta(spark, t).count())
            except Exception as e:  # noqa: BLE001
                errors.append(("read", repr(e)))
                return

    writers = [
        threading.Thread(target=appender, args=(w,))
        for w in range(n_writers)
    ]
    aux = [threading.Thread(target=f) for f in (compactor, reader)]
    for th in writers + aux:
        th.start()
    for th in writers:
        th.join(timeout=600)
    stop.set()
    for th in aux:
        th.join(timeout=600)
    assert not errors, errors

    final = _rows(dl.read_delta(spark, t).select("writer", "seq"))
    expected = sorted(
        [(-1, -1)]
        + [(w, s) for w in range(n_writers) for s in range(n_appends)]
    )
    assert final == expected
    # append-only + content-preserving compaction: monotonic counts
    assert counts and counts == sorted(counts)
    versions = dl.list_delta_versions(t)
    assert versions == list(range(len(versions)))


def _stats(add):
    return json.loads(add["stats"]) if add.get("stats") else None


def test_overwrite_append_time_travel_and_rollback(spark, tmp_path):
    """Overwrite/append lineage on the Delta log: an append references
    the previous files (no copies), an overwrite replaces them, every
    prior state time-travels, and a rollback (RESTORE) commits a NEW
    version with the old content while the bad version stays in
    history."""
    t = str(tmp_path / "tbl")
    v0 = dl.write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"), t
    )
    assert v0.version == 0

    v1 = dl.write_delta(
        spark.createDataFrame([(3, "c")], "k long, s string"), t, "append"
    )
    assert v1.version == 1
    # append REFERENCES the previous files — no copies
    assert set(v0.files) < set(v1.files)

    v2 = dl.write_delta(
        spark.createDataFrame([(9, "z")], "k long, s string"), t
    )
    assert v2.version == 2 and set(v2.files).isdisjoint(v0.files)

    # latest = the overwrite; time travel reads every prior state
    assert _rows(dl.read_delta(spark, t)) == [(9, "z")]
    assert _rows(dl.read_delta(spark, t, 0)) == [(1, "a"), (2, "b")]
    assert _rows(dl.read_delta(spark, t, 1)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]

    v3 = dl.delta_restore(t, 1)
    assert v3.version == 3 and set(v3.files) == set(v1.files)
    assert _rows(dl.read_delta(spark, t)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]
    assert _rows(dl.read_delta(spark, t, 2)) == [(9, "z")]
    assert dl.list_delta_versions(t) == [0, 1, 2, 3]
    modes = {
        r.version: (r.operation, r.operation_parameters)
        for r in dl.delta_history(spark, t).collect()
    }
    assert [modes[v][0] for v in range(4)] == [
        "WRITE", "WRITE", "WRITE", "RESTORE",
    ]
    assert '"APPEND"' in modes[1][1] and '"OVERWRITE"' in modes[2][1]


def test_append_schema_mismatch_rejected(spark, tmp_path):
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    with pytest.raises(ValueError, match="schema"):
        dl.write_delta(
            spark.createDataFrame([(1, 2)], "k long, extra long"),
            t,
            "append",
        )
    # the refused append committed nothing
    assert dl.list_delta_versions(t) == [0]


def test_commit_race_loser_retries_to_next_version(spark, tmp_path):
    """Optimistic concurrency: a competing writer taking our version
    number must not clobber anything — the loser lands at N+1 and the
    winner's commit file survives byte-for-byte."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    # simulate a concurrent winner grabbing version 1
    competing = dl._commit_path(t, 1)
    body = '{"commitInfo":{"timestamp":1,"operation":"WRITE"}}\n'
    with open(competing, "x") as f:
        f.write(body)
    state = dl.write_delta(spark.createDataFrame([(2,)], "k long"), t)
    assert state.version == 2  # retried past the occupied slot
    with open(competing) as f:
        assert f.read() == body  # winner untouched
    assert _rows(dl.read_delta(spark, t, 1)) == [(1,)]
    assert _rows(dl.read_delta(spark, t)) == [(2,)]


def test_append_losing_race_rebases_onto_winner(spark, tmp_path, monkeypatch):
    """The lost-update case: writer B's append loses the commit race to
    writer A's append. B must NOT publish its stale pre-race file list
    (which would silently drop A's rows) — it re-reads the new head and
    rebases, so the final table is base ∪ A ∪ B."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(0,)], "k long"), t)  # v0

    real = dlog._atomic_commit
    state = {"raced": False}

    def racy(table_dir, version, actions):
        if not state["raced"]:
            state["raced"] = True
            # winner A lands an append between B's head-read and commit
            dl.write_delta(
                spark.createDataFrame([(100,)], "k long"), t, "append"
            )
        return real(table_dir, version, actions)

    monkeypatch.setattr(dlog, "_atomic_commit", racy)
    snap = dl.write_delta(
        spark.createDataFrame([(200,)], "k long"), t, "append"
    )
    # A took v1; B's first attempt at v1 collided, rebased, landed v2
    assert snap.version == 2
    assert _rows(dl.read_delta(spark, t)) == [(0,), (100,), (200,)]
    assert _rows(dl.read_delta(spark, t, 1)) == [(0,), (100,)]


def test_merge_racing_commit_raises_not_clobbers(spark, tmp_path, monkeypatch):
    """A merge's output is computed FROM the head it read; if anything
    commits in between, silently winning would erase those rows — the
    merge must raise ConcurrentCommitError and leave the interloper's
    commit as the head."""
    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.createDataFrame([(1, "a")], "k long, s string"), t
    )

    real = _files._write_data_files
    state = {"raced": False}

    def write_and_race(df, table_dir):
        files = real(df, table_dir)
        if not state["raced"]:
            state["raced"] = True
            dl.write_delta(
                spark.createDataFrame([(9, "z")], "k long, s string"),
                t,
                "append",
            )
        return files

    monkeypatch.setattr(_files, "_write_data_files", write_and_race)
    with pytest.raises(_files.ConcurrentCommitError):
        dl.delta_merge_upsert(
            spark,
            t,
            spark.createDataFrame([(1, "A")], "k long, s string"),
            ["k"],
        )
    # the concurrent append survived; the failed merge published nothing
    assert dl.list_delta_versions(t) == [0, 1]
    assert _rows(dl.read_delta(spark, t)) == [(1, "a"), (9, "z")]


def test_vacuum_reclaims_unreferenced_files_only(spark, tmp_path):
    """vacuum_delta deletes exactly the data files the head no longer
    references — including files an append shared with an overwritten
    base — and keeps the head readable. The orphan sweep reclaims an
    aged file no commit references (a writer that died before
    committing) but leaves a fresh one alone (a commit in flight)."""
    import time

    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)  # v0
    dl.write_delta(
        spark.createDataFrame([(2,)], "k long"), t, "append"
    )  # v1 references v0's files
    dl.write_delta(spark.createDataFrame([(3,)], "k long"), t)  # v2
    head = dl.write_delta(spark.createDataFrame([(4,)], "k long"), t)

    def on_disk():
        return {
            os.path.relpath(os.path.join(r, f), t)
            for r, _, fs in os.walk(os.path.join(t, "data"))
            for f in fs if f.endswith(".parquet")
        }

    before = on_disk()
    removed = dl.vacuum_delta(t)
    # v0's file was shared with v1 but neither survives: reclaimed
    assert removed == len(before) - len(head.files) > 0
    assert on_disk() == set(head.files)
    assert _rows(dl.read_delta(spark, t)) == [(4,)]
    with pytest.raises(ValueError, match="not reconstructable|not in"):
        dl.read_delta(spark, t, 0)

    orphan = os.path.join(t, "data", "deadbeefcafe", "part-0.parquet")
    fresh = os.path.join(t, "data", "freshcommit00", "part-0.parquet")
    for p in (orphan, fresh):
        os.makedirs(os.path.dirname(p))
        with open(p, "w") as f:
            f.write("x")
    old = time.time() - 10
    os.utime(orphan, (old, old))
    assert dl.vacuum_delta(t, retention_ms=5_000) == 1
    assert not os.path.exists(orphan)
    assert os.path.exists(fresh)  # too young: may be mid-commit
    assert _rows(dl.read_delta(spark, t)) == [(4,)]  # live data intact


def test_snapshot_merge_upsert_versioned_and_idempotent(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    dl.write_delta(base, t)
    updates = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "k long, s string, v long"
    )
    m1 = dl.delta_merge_upsert(spark, t, updates, ["k"])
    want = [(1, "a", 10), (2, "B", 200), (3, "c", 30), (4, "d", 40)]
    assert _rows(dl.read_delta(spark, t)) == want
    # the pre-merge table is one version back — a bad merge is
    # recoverable by restore
    assert _rows(dl.read_delta(spark, t, m1.version - 1)) == _rows(base)
    # idempotent: same updates converge to the same content
    m2 = dl.delta_merge_upsert(spark, t, updates, ["k"])
    assert m2.version == m1.version + 1
    assert _rows(dl.read_delta(spark, t)) == want


def test_read_increment_feeds_incremental_aggregation(spark, tmp_path):
    """The commit diff IS the change feed: maintaining an aggregate
    from increments alone must equal a full recompute — and a
    non-append commit in the range must refuse rather than let the
    consumer double-count."""
    t = str(tmp_path / "tbl")
    v0 = dl.write_delta(
        spark.createDataFrame([("a", 1), ("b", 2)], "g string, v long"), t
    )
    dl.write_delta(
        spark.createDataFrame([("a", 10)], "g string, v long"), t, "append"
    )
    dl.write_delta(
        spark.createDataFrame([("c", 5), ("b", 3)], "g string, v long"),
        t,
        "append",
    )

    # state from the base version, then fold in ONE increment read
    state = {
        r["g"]: r["s"]
        for r in dl.read_delta(spark, t, v0.version)
        .groupBy("g")
        .agg(F.sum("v").alias("s"))
        .collect()
    }
    inc = dl.read_delta_increment(spark, t, since_version=v0.version)
    for r in inc.groupBy("g").agg(F.sum("v").alias("s")).collect():
        state[r["g"]] = state.get(r["g"], 0) + r["s"]
    full = {
        r["g"]: r["s"]
        for r in dl.read_delta(spark, t)
        .groupBy("g")
        .agg(F.sum("v").alias("s"))
        .collect()
    }
    assert state == full == {"a": 11, "b": 5, "c": 5}

    # an empty increment is a typed empty frame, not an error
    head = dl.replay(t).version
    empty = dl.read_delta_increment(spark, t, since_version=head)
    assert empty.count() == 0 and empty.columns == ["g", "v"]

    # overwrite invalidates incremental state: loud refusal
    dl.write_delta(
        spark.createDataFrame([("z", 0)], "g string, v long"), t
    )
    with pytest.raises(ValueError, match="not an append stream"):
        dl.read_delta_increment(spark, t, since_version=v0.version)


def test_streaming_foreachbatch_commits_snapshot_appends(spark, tmp_path):
    """Structured Streaming -> Delta table with no pre-created table:
    the first micro-batch's append creates the log, and each later
    micro-batch commits one APPEND version via foreachBatch — time
    travel to any micro-batch boundary, and read_delta_increment as
    the downstream change feed. Three source files under
    maxFilesPerTrigger=1 -> three append commits whose union equals
    the source."""
    src = str(tmp_path / "stream_src")
    tbl = str(tmp_path / "snap_tbl")
    schema = "event_id long, v long"
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, j) for j in range(4)], schema
        ).coalesce(1).write.mode("append").parquet(src)

    def sink(batch_df, batch_id):
        dl.write_delta(batch_df, tbl, mode="append")

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(180), "stream did not drain in 180s"
    finally:
        q.stop()

    versions = dl.list_delta_versions(tbl)
    assert versions == [0, 1, 2]
    head = dl.read_delta(spark, tbl)
    assert head.count() == 12
    assert {r.event_id for r in head.collect()} == {
        i * 10 + j for i in range(3) for j in range(4)
    }
    # every version boundary is a consistent micro-batch prefix
    assert dl.read_delta(spark, tbl, versions[0]).count() == 4
    assert dl.read_delta(spark, tbl, versions[1]).count() == 8
    # the change feed between micro-batches is exactly one batch
    inc = dl.read_delta_increment(spark, tbl, since_version=versions[1])
    assert inc.count() == 4


def test_manifest_stats_and_file_skipping_scan(spark, tmp_path):
    """Per-file column stats mined from parquet footers at commit time
    (the add actions' ``stats``) power delta_scan's file skipping — a
    range predicate on a range-partitioned commit reads ONLY the files
    that can match (verified via inputFiles), with values identical to
    an unpruned scan + filter."""
    t = str(tmp_path / "tbl")
    df = spark.range(0, 1000).withColumn("v", F.col("id") * 2)
    snap = dl.write_delta(
        df.repartitionByRange(8, "id"), t, stats_cols=["id"]
    )
    assert len(snap.files) == 8
    for add in snap.adds.values():
        st = _stats(add)
        assert set(st["minValues"]) == {"id"}
        assert st["minValues"]["id"] <= st["maxValues"]["id"]
        assert st["nullCount"]["id"] == 0

    pruned = dl.delta_scan(spark, t, prune={"id": (100, 220)})
    full = dl.read_delta(spark, t).where(F.col("id").between(100, 220))
    assert _rows(pruned) == _rows(full)
    # 8 range-partitioned files over 0..999; [100, 220] spans ~1/8 of
    # the domain -> at most 3 of 8 files can overlap it
    assert 1 <= len(pruned.inputFiles()) <= 3
    assert len(dl.read_delta(spark, t).inputFiles()) == 8

    # half-open intervals + a provably-empty range
    assert _rows(dl.delta_scan(spark, t, prune={"id": (990, None)})) \
        == [(i, 2 * i) for i in range(990, 1000)]
    empty = dl.delta_scan(spark, t, prune={"id": (5000, None)})
    assert empty.count() == 0 and len(empty.inputFiles()) == 0


def test_merge_schema_additive_evolution(spark, tmp_path):
    """merge_schema=True append widens the table schema (Delta's
    mergeSchema contract): pre-evolution files null-fill the added
    column on every read path (head, time travel, increment), while
    renames/type changes stay loud errors in both modes."""
    t = str(tmp_path / "tbl")
    v0 = dl.write_delta(
        spark.createDataFrame([(1, "a")], "k long, s string"), t
    )
    # incompatible without the flag, with a pointer to it
    wide = spark.createDataFrame(
        [(2, "b", 9.5)], "k long, s string, score double"
    )
    with pytest.raises(ValueError, match="merge_schema=True"):
        dl.write_delta(wide, t, "append")
    snap = dl.write_delta(wide, t, "append", merge_schema=True)
    assert [f["name"] for f in json.loads(snap.schema)["fields"]] == [
        "k", "s", "score",
    ]

    head = dl.read_delta(spark, t)
    assert head.schema["score"].dataType.typeName() == "double"
    rows = {r.k: (r.s, r.score) for r in head.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    # time travel to v0 reads with v0's (narrow) schema
    assert dl.read_delta(spark, t, v0.version).columns == ["k", "s"]
    # the increment carries the widened schema
    inc = dl.read_delta_increment(spark, t, since_version=v0.version)
    assert [r.score for r in inc.collect()] == [9.5]

    # a type CHANGE is rejected even with merge_schema
    with pytest.raises(ValueError, match="only ADDING"):
        dl.write_delta(
            spark.createDataFrame([("x", "b", 1.0)],
                                  "k string, s string, score double"),
            t, "append", merge_schema=True,
        )
    # a RENAME (= drop s + add s2) is rejected, not silently accepted
    # as an add with complementary null halves
    with pytest.raises(ValueError, match="missing table column"):
        dl.write_delta(
            spark.createDataFrame([(9, "b", 1.0)],
                                  "k long, s2 string, score double"),
            t, "append", merge_schema=True,
        )
    # post-evolution appends of the wide schema are plain-compatible
    dl.write_delta(
        spark.createDataFrame([(3, "c", 1.5)],
                              "k long, s string, score double"),
        t, "append",
    )
    assert dl.read_delta(spark, t).count() == 3


def test_table_history_describes_retained_versions(spark, tmp_path):
    """delta_history = DESCRIBE HISTORY: one row per reconstructable
    version with its operation and mode, computed from the log alone,
    shrinking to the checkpointed head after a vacuum."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.range(0, 10).coalesce(1), t)  # v0 overwrite
    dl.write_delta(spark.range(10, 20).coalesce(1), t, "append")
    dl.write_delta(spark.range(20, 30).coalesce(1), t, "append",
                   stats_cols=["id"])
    h = {r.version: r for r in dl.delta_history(spark, t).collect()}
    assert sorted(h) == [0, 1, 2]
    assert all(h[v].operation == "WRITE" for v in h)
    assert [
        json.loads(h[v].operation_parameters)["mode"] for v in (0, 1, 2)
    ] == ["OVERWRITE", "APPEND", "APPEND"]
    assert h[0].timestamp <= h[1].timestamp <= h[2].timestamp

    dl.vacuum_delta(t)
    left = dl.delta_history(spark, t).collect()
    assert [r.version for r in left] == [2]
    assert dl.read_delta(spark, t).count() == 30


def test_pruned_scan_composes_with_schema_evolution(spark, tmp_path):
    """Pruning on a column ADDED by evolution: pre-evolution files have
    no stats (and no column) for it, so they are conservatively kept,
    read with the pinned widened schema (null-fill), and the row-level
    predicate drops their NULLs — exact results, skipping only where
    stats prove a miss."""
    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.range(0, 100).select(F.col("id").alias("k")).coalesce(1), t
    )
    for lo in (0, 500):
        dl.write_delta(
            spark.range(lo, lo + 100)
            .select(F.col("id").alias("k"), F.col("id").alias("score"))
            .coalesce(1),
            t, "append", merge_schema=True, stats_cols=["score"],
        )
    got = dl.delta_scan(spark, t, prune={"score": (500, 540)})
    assert sorted(r.k for r in got.collect()) == list(range(500, 541))
    # kept: the stats-pruned matching file + the stats-less v0 file;
    # skipped: the scored file whose [0, 99] range provably misses
    assert len(got.inputFiles()) == 2


def test_zorder_layout_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order clustering laid down commit by commit: an overwrite and
    an append, each sorted by the Morton key over (a, b), keep
    multi-dimensional skipping across both commits' add stats, where a
    plain sort on `a` leaves `b` full-range in every file."""
    from rearc_data_engineer_takehome_spark.operators.layout import (
        zorder_key,
    )

    df = (
        spark.range(0, 4096)
        .withColumn("a", (F.col("id") % 64).cast("long"))
        .withColumn("b", (F.col("id") / 64).cast("long"))
    )

    def clustered(part):
        return (
            part.withColumn("__z", zorder_key(part, ["a", "b"], bits=6))
            .repartitionByRange(8, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )

    tz = str(tmp_path / "zord")
    dl.write_delta(
        clustered(df.where(F.col("id") % 2 == 0)), tz, stats_cols=["a", "b"]
    )
    dl.write_delta(
        clustered(df.where(F.col("id") % 2 == 1)), tz, "append",
        stats_cols=["a", "b"],
    )
    assert len(dl.replay(tz).files) == 16

    # plain sort on `a`: every file spans b's full domain
    tp = str(tmp_path / "plain")
    dl.write_delta(
        df.repartitionByRange(16, "a").sortWithinPartitions("a"),
        tp,
        stats_cols=["a", "b"],
    )

    for t in (tz, tp):
        got = dl.delta_scan(spark, t, prune={"b": (10, 15)})
        assert got.count() == 64 * 6
    n_z = len(
        dl.delta_scan(spark, tz, prune={"b": (10, 15)}).inputFiles()
    )
    n_p = len(
        dl.delta_scan(spark, tp, prune={"b": (10, 15)}).inputFiles()
    )
    assert n_p == 16  # sort key can't help the other column
    assert n_z < 16  # z-order does, in both commits
    # and the z-ordered table still prunes on `a` as well
    got_a = dl.delta_scan(spark, tz, prune={"a": (0, 7)})
    assert got_a.count() == 8 * 64
    assert len(got_a.inputFiles()) < 16


def test_snapshot_compact_bin_packs_and_keeps_contract(
    spark, tmp_path, monkeypatch
):
    """delta_compact rewrites many small files into few, preserves
    content and time travel, re-mines stats, keeps its rewrite out of
    the change feed (dataChange=false), composes with a racing append,
    and raises ConcurrentCommitError — never a silent clobber — when a
    racing commit removed data."""
    t = str(tmp_path / "tbl")
    for i in range(12):
        dl.write_delta(
            spark.createDataFrame([(i,)], "k long").coalesce(1), t,
            "overwrite" if i == 0 else "append",
        )
    pre = dl.replay(t)
    assert len(pre.files) == 12

    snap = dl.delta_compact(spark, t, target_files=2, stats_cols=["k"])
    assert len(snap.files) <= 2
    assert set(snap.files).isdisjoint(pre.files)
    assert _rows(dl.read_delta(spark, t)) == [(i,) for i in range(12)]
    # pre-compact version still time-travels
    assert _rows(dl.read_delta(spark, t, pre.version)) \
        == [(i,) for i in range(12)]
    # stats re-mined for the packed files
    assert all(
        "k" in _stats(a)["minValues"] for a in snap.adds.values()
    )
    # the change feed skips the rewrite: only the last append's row
    inc = dl.read_delta_increment(spark, t, since_version=pre.version - 1)
    assert _rows(inc) == [(11,)]

    real = dlog._atomic_commit

    def race_with(mode, value):
        state = {"raced": False}

        def racy(table_dir, version, actions):
            if not state["raced"]:
                state["raced"] = True
                dl.write_delta(
                    spark.createDataFrame([(value,)], "k long"), t, mode
                )
            return real(table_dir, version, actions)

        monkeypatch.setattr(dlog, "_atomic_commit", racy)

    # a racing APPEND composes: the retried compaction keeps its rows
    race_with("append", 99)
    dl.delta_compact(spark, t, target_files=1)
    assert _rows(dl.read_delta(spark, t)) \
        == [(i,) for i in range(12)] + [(99,)]
    # a racing OVERWRITE removed the compaction's inputs: loud refusal
    race_with("overwrite", 7)
    with pytest.raises(_files.ConcurrentCommitError):
        dl.delta_compact(spark, t, target_files=1)
    assert _rows(dl.read_delta(spark, t)) == [(7,)]


def test_checkpoint_bounds_manifest_growth_over_100_appends(
    spark, tmp_path, monkeypatch
):
    """With ``delta.checkpointInterval`` set, 100+ appends keep every
    JSON commit O(files added) — byte size flat in the version number
    — and checkpoints land on the interval, so replay never reads more
    than one interval of JSON: reads, time travel and the change feed
    stay exact with every commit below the last checkpoint deleted."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    t = str(tmp_path / "tbl")
    n_appends = 104
    value = {"k": 0}

    def fast_write(df, table_dir):
        # one real single-row parquet file per commit without a Spark
        # job: the commit mechanics are the subject under test
        rel = os.path.join("data", uuid.uuid4().hex[:12], "part-0.parquet")
        os.makedirs(os.path.dirname(os.path.join(table_dir, rel)))
        pq.write_table(
            pa.table({"k": pa.array([value["k"]], pa.int64())}),
            os.path.join(table_dir, rel),
        )
        return [rel]

    monkeypatch.setattr(_files, "_write_data_files", fast_write)
    df = spark.createDataFrame([(0,)], "k long")  # schema carrier
    dl.write_delta(df, t)  # v0: k=0
    dl.delta_alter_properties(
        spark, t, {"delta.checkpointInterval": "10"}
    )  # v1
    for i in range(1, n_appends):
        value["k"] = i
        dl.write_delta(df, t, "append")  # v2 .. v104
    head = dl.replay(t)
    assert head.version == n_appends
    assert len(head.files) == n_appends  # 1 file per write, all live

    assert dl._checkpoint_versions(t) == list(range(10, n_appends, 10))
    sizes = [
        os.path.getsize(dl._commit_path(t, v))
        for v in range(2, n_appends + 1)
    ]
    # commit cost O(delta): v104's commit carries one add, not the
    # 104-file table list
    assert max(sizes) < 2048
    assert max(sizes) <= min(sizes) + 64

    # the last checkpoint bounds replay: drop every older JSON commit
    for v in range(0, 100):
        os.remove(dl._commit_path(t, v))
    assert _rows(dl.read_delta(spark, t)) == [
        (i,) for i in range(n_appends)
    ]
    # time travel to a checkpointed version and past it
    assert _rows(dl.read_delta(spark, t, 100)) == [(i,) for i in range(100)]
    assert _rows(dl.read_delta(spark, t, 102)) == [(i,) for i in range(102)]
    # the change feed across readable commits after the checkpoint
    inc = dl.read_delta_increment(spark, t, since_version=100, version=103)
    assert _rows(inc) == [(100,), (101,), (102,)]
