"""Native Delta transaction-log format (sources/delta_log/): the
clean-room writer/reader for the public delta-io PROTOCOL.md format
(reference persists its tables in Delta: notebooks/20_analytics.ipynb:
653, 2200, 2561). Covers round-trip + time travel, format conformance
(action shapes a native reader depends on), checkpoint replay,
commit-race atomicity, and an env-gated cross-engine check against the
real delta-spark package wherever it exists."""

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


def test_write_read_roundtrip_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    s0 = dl.write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        t,
    )
    assert s0.version == 0
    s1 = dl.write_delta(
        spark.createDataFrame([(3, "c")], "k long, s string"), t, "append"
    )
    # append references previous files, adds its own
    assert set(s0.files) < set(s1.files)
    s2 = dl.write_delta(
        spark.createDataFrame([(9, "z")], "k long, s string"), t
    )
    # overwrite removed every previously-live file
    assert set(s2.files).isdisjoint(s1.files)

    assert _rows(dl.read_delta(spark, t)) == [(9, "z")]
    assert _rows(dl.read_delta(spark, t, 0)) == [(1, "a"), (2, "b")]
    assert _rows(dl.read_delta(spark, t, 1)) == [
        (1, "a"), (2, "b"), (3, "c"),
    ]

    # append with an incompatible schema is rejected
    with pytest.raises(ValueError, match="append schema incompatible"):
        dl.write_delta(
            spark.createDataFrame([(1,)], "k long"), t, "append"
        )
    # overwrite MAY change the schema (fresh metaData action)
    dl.write_delta(spark.createDataFrame([(5,)], "k long"), t)
    assert dl.read_delta(spark, t).columns == ["k"]
    # ...and old versions still read under THEIR schema
    assert dl.read_delta(spark, t, 1).columns == ["k", "s"]


def test_log_format_conformance(spark, tmp_path):
    """The exact on-disk shapes a NATIVE Delta reader depends on:
    20-digit zero-padded names, ndjson with exactly one action per
    line, protocol+metaData in commit 0, relative add paths, stats as
    a JSON *string* with numRecords/minValues/maxValues/nullCount."""
    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.range(10).select(
            F.col("id").alias("k"),
            (F.col("id") % 3).alias("m"),
        ),
        t,
        stats_cols=["k"],
    )
    dl.write_delta(
        spark.range(10, 15).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("m")
        ),
        t,
        "append",
        stats_cols=["k"],
    )
    log = os.path.join(t, "_delta_log")
    names = sorted(os.listdir(log))
    assert names == [f"{0:020d}.json", f"{1:020d}.json"]

    known = {"protocol", "metaData", "add", "remove", "commitInfo",
             "txn", "cdc", "domainMetadata"}
    seen0 = []
    for name in names:
        with open(os.path.join(log, name)) as f:
            for line in f:
                action = json.loads(line)  # one JSON object per line
                assert len(action) == 1 and set(action) <= known
                if name == names[0]:
                    seen0.append(next(iter(action)))
                if "add" in action:
                    a = action["add"]
                    assert not os.path.isabs(a["path"])
                    assert a["dataChange"] is True
                    assert a["partitionValues"] == {}
                    assert a["size"] == os.path.getsize(
                        os.path.join(t, a["path"])
                    )
                    st = json.loads(a["stats"])  # stats is a STRING
                    assert st["numRecords"] > 0
                    assert "k" in st["minValues"]
                    assert st["nullCount"]["k"] == 0
    assert seen0[0] == "protocol" and seen0[1] == "metaData"
    # per-file min/max cover the written domain exactly
    state = dl.replay(t)
    mins = [json.loads(a["stats"])["minValues"]["k"]
            for a in state.adds.values()]
    maxs = [json.loads(a["stats"])["maxValues"]["k"]
            for a in state.adds.values()]
    assert min(mins) == 0 and max(maxs) == 14


def test_checkpoint_bounds_replay(spark, tmp_path):
    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.createDataFrame([(0, 0)], "k long, v long"), t
    )
    for i in range(1, 7):
        dl.write_delta(
            spark.createDataFrame([(i, i * 10)], "k long, v long"),
            t,
            "append",
        )
    cp = dl.write_checkpoint(t)
    assert cp == 6
    log = os.path.join(t, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{cp:020d}.checkpoint.parquet"))
    assert json.load(open(os.path.join(log, "_last_checkpoint")))[
        "version"] == cp

    # JSON commits <= checkpoint are now garbage-collectable: delete
    # them and the reader must still reconstruct the exact state
    expect = _rows(dl.read_delta(spark, t))
    for v in range(0, cp + 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    # ...including after MORE commits on top of the checkpoint
    dl.write_delta(
        spark.createDataFrame([(99, 990)], "k long, v long"), t, "append"
    )
    assert _rows(dl.read_delta(spark, t)) == expect + [(99, 990)]
    # time travel to the checkpointed version itself still works
    assert _rows(dl.read_delta(spark, t, cp)) == expect


def test_commit_race_atomicity(spark, tmp_path):
    """Two writers computing against the same head: put-if-absent
    guarantees exactly one wins the version number and the loser
    renumbers with content intact — both appends land, nothing is
    silently dropped."""
    import threading

    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(0,)], "k long"), t)
    errs: list = []
    barrier = threading.Barrier(2)

    def appender(k):
        try:
            barrier.wait()
            dl.write_delta(
                spark.createDataFrame([(k,)], "k long"), t, "append"
            )
        except Exception as e:  # noqa: BLE001
            errs.append(repr(e))

    ths = [threading.Thread(target=appender, args=(k,)) for k in (1, 2)]
    for th in ths:
        th.start()
    for th in ths:
        th.join(timeout=300)
    assert not errs, errs
    assert _rows(dl.read_delta(spark, t)) == [(0,), (1,), (2,)]
    assert dl.list_delta_versions(t) == [0, 1, 2]


def test_native_delta_interop(spark, tmp_path):
    """Wherever the real delta-spark package exists, our log must be
    readable by it and its log readable by us. Env-gated: the package
    is absent in this container (COVERAGE.md env note)."""
    pytest.importorskip("delta")
    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.createDataFrame([(1, "a")], "k long, s string"), t
    )
    dl.write_delta(
        spark.createDataFrame([(2, "b")], "k long, s string"), t, "append"
    )
    native = spark.read.format("delta").load(t)
    assert _rows(native) == [(1, "a"), (2, "b")]


def test_vacuum_delta_and_history(spark, tmp_path):
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t, "append")
    dl.write_delta(spark.createDataFrame([(9,)], "k long"), t)  # orphans v0/v1 files

    hist = {r["version"]: r["operation"]
            for r in dl.delta_history(spark, t).collect()}
    assert hist == {0: "WRITE", 1: "WRITE", 2: "WRITE"}

    n_before = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(t, "data")) for f in fs
    )
    deleted = dl.vacuum_delta(t)
    assert deleted > 0
    # head still reads exactly; pre-checkpoint time travel is gone
    assert _rows(dl.read_delta(spark, t)) == [(9,)]
    with pytest.raises(ValueError, match="not reconstructable|not in"):
        dl.read_delta(spark, t, 0)
    # every surviving data file is live
    n_after = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(t, "data")) for f in fs
    )
    assert n_after == n_before - deleted
    assert n_after == len(dl.replay(t).files)
    # history over the vacuumed log: the checkpointed head survives
    hist = {r["version"]: r["operation"]
            for r in dl.delta_history(spark, t).collect()}
    assert hist == {2: "WRITE"}
    # ...and the table keeps accepting commits with correct numbering
    dl.write_delta(spark.createDataFrame([(10,)], "k long"), t, "append")
    assert _rows(dl.read_delta(spark, t)) == [(9,), (10,)]


def test_partitioned_table_roundtrip(spark, tmp_path):
    """Hive-partitioned tables per the spec: partition values live in
    add.partitionValues (strings) and directory names, NOT the data
    files; metaData.partitionColumns names them; the reader restores
    them with the schema's types. Covers null partitions
    (__HIVE_DEFAULT_PARTITION__), append partitioning enforcement,
    overwrite re-partitioning, and checkpoint replay of a partitioned
    state."""
    t = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(1, "us", 10), (2, "us", 20), (3, "eu", 30), (4, None, 40)],
        "k long, region string, v long",
    )
    s0 = dl.write_delta(df, t, partition_by=["region"],
                        stats_cols=["k"])
    assert s0.partition_cols == ("region",)
    got = dl.read_delta(spark, t)
    assert sorted(got.columns) == ["k", "region", "v"]
    assert _rows(got.select("k", "region", "v")) == [
        (1, "us", 10), (2, "us", 20), (3, "eu", 30), (4, None, 40),
    ]
    # region really is absent from the data files (spec layout)
    import pyarrow.parquet as pq
    for rel in s0.files:
        assert "region=" in rel
        names = pq.ParquetFile(os.path.join(t, rel)).schema_arrow.names
        assert "region" not in names and "k" in names
    # partitionValues in the log are the string-typed spec map
    pvs = {a["partitionValues"]["region"] for a in s0.adds.values()}
    assert pvs == {"us", "eu", None}

    # appends must match the table partitioning
    with pytest.raises(ValueError, match="must pass partition_by"):
        dl.write_delta(
            spark.createDataFrame([(5, "ap", 50)], df.schema), t,
            "append",
        )
    with pytest.raises(ValueError, match="differs from table"):
        dl.write_delta(
            spark.createDataFrame([(5, "ap", 50)], df.schema), t,
            "append", partition_by=["v"],
        )
    dl.write_delta(
        spark.createDataFrame([(5, "ap", 50)], df.schema), t,
        "append", partition_by=["region"],
    )
    assert dl.read_delta(spark, t).count() == 5
    # partition-pruning predicate answers correctly through the
    # literal-restore path
    assert _rows(
        dl.read_delta(spark, t).where(F.col("region") == "us")
        .select("k")
    ) == [(1,), (2,)]

    # checkpoint replay preserves partitioning
    cp = dl.write_checkpoint(t)
    log = os.path.join(t, "_delta_log")
    for v in range(0, cp + 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    again = dl.read_delta(spark, t)
    assert _rows(again.select("k", "region", "v")) == [
        (1, "us", 10), (2, "us", 20), (3, "eu", 30), (4, None, 40),
        (5, "ap", 50),
    ]

    # overwrite may change the partitioning (fresh metaData)
    s = dl.write_delta(df, t, partition_by=["v"])
    assert s.partition_cols == ("v",)
    assert _rows(dl.read_delta(spark, t).select("k", "v")) == [
        (1, 10), (2, 20), (3, 30), (4, 40),
    ]


def test_streaming_foreachbatch_commits_delta_appends(spark, tmp_path):
    """Structured Streaming -> native Delta table: each micro-batch
    commits an APPEND via foreachBatch (with idempotent-restart
    protection: the sink skips batch ids already recorded in the log's
    commitInfo, the spec's txn/appId pattern expressed through
    operationParameters). Three source files under
    maxFilesPerTrigger=1 -> three delta commits whose union equals the
    source and whose version boundaries are micro-batch prefixes —
    readable by ANY Delta reader."""
    src = str(tmp_path / "stream_src")
    tbl = str(tmp_path / "delta_tbl")
    schema = "event_id long, v long"
    for i in range(3):
        spark.createDataFrame(
            [(i * 10 + j, j) for j in range(4)], schema
        ).coalesce(1).write.mode("append").parquet(src)

    dl.write_delta(spark.createDataFrame([], schema), tbl)

    def sink(batch_df, batch_id):
        # the spec's txn action IS the idempotency mechanism: a
        # replayed (appId, version) is a no-op inside write_delta
        dl.write_delta(
            batch_df, tbl, mode="append", txn=("events-sink", batch_id)
        )

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
    assert len(versions) == 4  # empty init + 3 micro-batches
    head = dl.read_delta(spark, tbl)
    assert head.count() == 12
    assert {r.event_id for r in head.collect()} == {
        i * 10 + j for i in range(3) for j in range(4)
    }
    # version boundaries are consistent micro-batch prefixes
    assert dl.read_delta(spark, tbl, versions[1]).count() == 4
    assert dl.read_delta(spark, tbl, versions[2]).count() == 8
    # a replayed batch id is a no-op (restart idempotency) and the
    # latest transacted version is queryable state
    assert dl.replay(tbl).txns == {"events-sink": 2}
    sink(spark.createDataFrame([(0, 0)], schema), 0)
    assert dl.read_delta(spark, tbl).count() == 12
    # txn state survives checkpoint replay (spec checkpoint layout
    # carries txn rows)
    cp = dl.write_checkpoint(tbl)
    log = os.path.join(tbl, "_delta_log")
    for v in range(0, cp + 1):
        p = os.path.join(log, f"{v:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    assert dl.replay(tbl).txns == {"events-sink": 2}
    sink(spark.createDataFrame([(777, 7)], schema), 1)  # still a no-op
    assert dl.read_delta(spark, tbl).count() == 12


def test_native_multipart_checkpoint_and_protocol_gate(spark, tmp_path):
    """Native writers emit multi-part checkpoints
    (<v>.checkpoint.<i>.<n>.parquet) — the reader must assemble all
    parts. And a table whose protocol demands reader capabilities we
    don't implement (minReaderVersion > 1 / readerFeatures) must fail
    loudly, never silently misread (deletion vectors would resurrect
    deleted rows)."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t, "append")
    cp = dl.write_checkpoint(t)
    # split our single-file checkpoint into a native-shaped 2-parter
    single = dl._checkpoint_path(t, cp)
    tbl = pq.read_table(single)
    n = tbl.num_rows
    log = os.path.join(t, "_delta_log")
    pq.write_table(
        tbl.slice(0, n // 2),
        os.path.join(log, f"{cp:020d}.checkpoint.0000000001.0000000002.parquet"),
    )
    pq.write_table(
        tbl.slice(n // 2),
        os.path.join(log, f"{cp:020d}.checkpoint.0000000002.0000000002.parquet"),
    )
    os.remove(single)
    for v in range(0, cp + 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    assert _rows(dl.read_delta(spark, t)) == [(1,), (2,)]

    # protocol gate: a v3 table demanding a reader feature we do NOT
    # implement must refuse (deletionVectors itself is implemented
    # since round 8 — see tests/test_dv.py for its acceptance)
    t2 = str(tmp_path / "tbl2")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t2)
    path = dl._commit_path(t2, 0)
    lines = [json.loads(x) for x in open(path)]
    for a in lines:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 3,
                "minWriterVersion": 7,
                "readerFeatures": ["collations"],
                "writerFeatures": ["collations"],
            }
    with open(path, "w") as f:
        for a in lines:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    with pytest.raises(NotImplementedError, match="minReaderVersion 3"):
        dl.read_delta(spark, t2)


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


def _raw_commit(table_dir, version, actions):
    """Author a commit file directly (log-level test harness — no
    Spark), same ndjson shape the writer emits."""
    os.makedirs(os.path.join(table_dir, "_delta_log"), exist_ok=True)
    with open(dl._commit_path(table_dir, version), "w") as f:
        for a in actions:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")


def test_restore_commit_does_not_follow_string_hash_seed(tmp_path):
    """RESTORE lists its removes and re-adds in log order: the same
    table restored under three string-hash seeds writes the same
    commit, timestamps aside. RESTORE needs no Spark, so each run is a
    plain interpreter with its own PYTHONHASHSEED."""
    import shutil
    import subprocess
    import sys

    src = str(tmp_path / "src")
    schema_json = (
        '{"type":"struct","fields":[{"name":"k","type":"long",'
        '"nullable":true,"metadata":{}}]}'
    )

    def add(name):
        return {"add": {"path": f"{name}.parquet", "partitionValues": {},
                        "size": 1, "modificationTime": 0,
                        "dataChange": True}}

    _raw_commit(src, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "test-id", "format": {"provider": "parquet",
                                        "options": {}},
            "schemaString": schema_json, "partitionColumns": [],
            "configuration": {}, "createdTime": 0,
        }},
        *[add(n) for n in ("a", "b", "c")],
    ])
    _raw_commit(src, 1, [
        *[{"remove": {"path": f"{n}.parquet", "deletionTimestamp": 0,
                      "dataChange": True}} for n in ("a", "b", "c")],
        *[add(n) for n in ("d", "e", "f")],
    ])
    for n in "abcdef":
        open(os.path.join(src, f"{n}.parquet"), "w").close()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "from rearc_data_engineer_takehome_spark.sources import "
        "delta_log as dl; dl.delta_restore(sys.argv[2], 0)"
    )

    def untimed(x):
        if isinstance(x, dict):
            return {
                k: untimed(v) for k, v in x.items()
                if k not in ("timestamp", "deletionTimestamp")
            }
        return x

    commits = []
    for seed in ("1", "2", "3"):
        t = str(tmp_path / f"seed{seed}")
        shutil.copytree(src, t)
        subprocess.run(
            [sys.executable, "-c", code, root, t], check=True,
            env={**os.environ, "PYTHONHASHSEED": seed},
        )
        with open(dl._commit_path(t, 2)) as f:
            commits.append([untimed(json.loads(ln)) for ln in f])
    kinds = [next(iter(a)) for a in commits[0]]
    assert (kinds.count("remove"), kinds.count("add")) == (3, 3)
    assert commits[1] == commits[0] and commits[2] == commits[0]


@settings(max_examples=60, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.one_of(
            # add a file id (re-add allowed: upsert of the same path)
            st.tuples(st.just("add"), st.integers(0, 14)),
            # remove a file id (removing an absent path is legal)
            st.tuples(st.just("remove"), st.integers(0, 14)),
            st.tuples(st.just("checkpoint"), st.just(0)),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_replay_state_machine_matches_model(tmp_path_factory, ops):
    """Log-level property: for ANY interleaving of add/remove/upsert
    commits and checkpoints (including GC of all pre-checkpoint
    JSONs), replay reconstructs exactly the model's live-file dict —
    at head AND at every still-reconstructable historical version."""
    t = str(tmp_path_factory.mktemp("dlog") / "tbl")
    schema_json = (
        '{"type":"struct","fields":[{"name":"k","type":"long",'
        '"nullable":true,"metadata":{}}]}'
    )
    _raw_commit(t, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {
            "id": "test-id", "format": {"provider": "parquet",
                                        "options": {}},
            "schemaString": schema_json, "partitionColumns": [],
            "configuration": {}, "createdTime": 0,
        }},
    ])
    model: dict = {}
    history = {0: dict(model)}
    v = 0
    last_cp = None
    checkpoints: list[int] = []
    for kind, arg in ops:
        if kind == "checkpoint":
            if last_cp is None or v > last_cp:
                dl.write_checkpoint(t)
                last_cp = v
                checkpoints.append(v)
                # GC every pre-checkpoint JSON commit (worst case)
                for gv in range(0, v + 1):
                    p = dl._commit_path(t, gv)
                    if os.path.exists(p):
                        os.remove(p)
            continue
        v += 1
        path = f"data/f{arg}.parquet"
        if kind == "add":
            _raw_commit(t, v, [{
                "add": {"path": path, "partitionValues": {},
                        "size": 1, "modificationTime": 0,
                        "dataChange": True},
            }])
            model[path] = True
        else:
            _raw_commit(t, v, [{
                "remove": {"path": path, "deletionTimestamp": 0,
                           "dataChange": True},
            }])
            model.pop(path, None)
        history[v] = dict(model)

    state = dl.replay(t)
    assert state.version == v
    assert set(state.files) == set(history[v])
    assert state.schema == schema_json
    # every still-reconstructable version replays to its model state:
    # everything from the newest checkpoint forward, PLUS every older
    # checkpointed version (replay falls back past _last_checkpoint)
    floor = last_cp if last_cp is not None else 0
    for hv in range(floor, v + 1):
        assert set(dl.replay(t, hv).files) == set(history[hv]), hv
    for hv in checkpoints:
        assert set(dl.replay(t, hv).files) == set(history[hv]), hv
    # any other GC'd version refuses loudly (never a wrong answer)
    gced = [
        hv for hv in range(0, floor)
        if hv not in checkpoints
        and not os.path.exists(dl._commit_path(t, hv))
    ]
    if gced:
        with pytest.raises(ValueError):
            dl.replay(t, gced[-1])


def test_read_delta_increment_change_feed(spark, tmp_path):
    """Append-only change feed between delta versions: appends feed
    through, compaction (dataChange=false) is excluded instead of
    poisoning the feed (native CDF semantics), overwrites refuse
    loudly, and partitioned increments restore partition columns."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t, "append")
    dl.write_delta(spark.createDataFrame([(3,)], "k long"), t, "append")
    assert _rows(dl.read_delta_increment(spark, t, 0)) == [(2,), (3,)]
    assert _rows(dl.read_delta_increment(spark, t, 0, 1)) == [(2,)]
    assert _rows(dl.read_delta_increment(spark, t, 1, 2)) == [(3,)]

    # compaction (dataChange=false) inside the range is excluded
    m = str(tmp_path / "compacted")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), m)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), m, "append")
    dl.delta_compact(spark, m, target_files=1)
    dl.write_delta(spark.createDataFrame([(3,)], "k long"), m, "append")
    # range spans the compaction commit: only real appends surface
    assert _rows(dl.read_delta_increment(spark, m, 0)) == [(2,), (3,)]

    # an overwrite in range refuses
    dl.write_delta(spark.createDataFrame([(9,)], "k long"), t)
    with pytest.raises(ValueError, match="not an append stream"):
        dl.read_delta_increment(spark, t, 0)

    # partitioned increment restores partition columns
    p = str(tmp_path / "part")
    df0 = spark.createDataFrame([(1, "us")], "k long, region string")
    dl.write_delta(df0, p, partition_by=["region"])
    dl.write_delta(
        spark.createDataFrame([(2, "eu")], df0.schema), p, "append",
        partition_by=["region"],
    )
    inc = dl.read_delta_increment(spark, p, 0)
    assert _rows(inc.select("k", "region")) == [(2, "eu")]


def test_delta_scan_data_skipping(spark, tmp_path):
    """Data skipping over add-action stats and partitionValues:
    provable misses are dropped (inputFiles-asserted), straddling
    files re-filter row-level, stat-less files always scan, and every
    pruned scan is value-exact vs the unpruned read."""
    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.range(100).select(F.col("id").alias("k"),
                                (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "k"),
        t, stats_cols=["k"],
    )
    # stat-less append — never prunable
    dl.write_delta(
        spark.range(100, 200).select(F.col("id").alias("k"),
                                     (F.col("id") * 2).alias("v"))
        .repartitionByRange(4, "k"),
        t, "append",
    )

    def ref(prune):
        df = dl.read_delta(spark, t)
        for c, (lo, hi) in prune.items():
            if lo is not None:
                df = df.where(F.col(c) >= lo)
            if hi is not None:
                df = df.where(F.col(c) <= hi)
        return _rows(df)

    got = dl.delta_scan(spark, t, prune={"k": (10, 15)})
    assert _rows(got) == ref({"k": (10, 15)})
    state = dl.replay(t)
    with_stats = [p for p, a in state.adds.items()
                  if json.loads(a["stats"]).get("minValues")]
    without = [p for p in state.files if p not in with_stats]
    scanned = {f.split(t.rstrip('/') + '/')[-1]
               for f in got.inputFiles()}
    # all stat-less files kept; only 1 of the 4 range files survives
    assert set(without) <= scanned
    assert len(scanned & set(with_stats)) == 1

    # partition-value pruning, typed, with null partitions
    p = str(tmp_path / "part")
    dl.write_delta(
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, None)], "k long, bucket long"
        ),
        p, partition_by=["bucket"],
    )
    got = dl.delta_scan(spark, p, prune={"bucket": (15, 25)})
    assert _rows(got.select("k")) == [(2,)]
    assert len(got.inputFiles()) == 1  # 10 and null pruned by metadata


def test_delta_compact_optimize(spark, tmp_path):
    """OPTIMIZE bin-packs with dataChange=false: content identical,
    change feed skips the rewrite, history time-travelable, a racing
    append composes, a racing remove refuses."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    for i in (2, 3, 4):
        dl.write_delta(
            spark.createDataFrame([(i,)], "k long"), t, "append"
        )
    before = _rows(dl.read_delta(spark, t))
    n_before = len(dl.replay(t).files)
    s = dl.delta_compact(spark, t, target_files=1, stats_cols=["k"])
    assert len(s.files) == 1 < n_before
    assert _rows(dl.read_delta(spark, t)) == before
    assert _rows(dl.read_delta(spark, t, s.version - 1)) == before
    # the rewrite is invisible to the change feed
    assert _rows(dl.read_delta_increment(spark, t, 0)) == [
        (2,), (3,), (4,),
    ]
    # a racing APPEND composes: interleave one between the compact's
    # content computation and its commit (monkeypatch the data-file
    # write to sneak the append in first)
    real_write = _files._write_data_files

    def write_with_append_race(df, table_dir):
        out = real_write(df, table_dir)
        _files._write_data_files = real_write  # one-shot: avoid recursion
        dl.write_delta(
            spark.createDataFrame([(5,)], "k long"), t, "append"
        )
        return out

    _files._write_data_files = write_with_append_race
    try:
        dl.delta_compact(spark, t, target_files=1)
    finally:
        _files._write_data_files = real_write
    # the concurrent append's row survived the compaction commit
    assert _rows(dl.read_delta(spark, t)) == [(1,), (2,), (3,), (4,), (5,)]

    # a racing REMOVE (overwrite) refuses instead of resurrecting rows
    def write_with_remove_race(df, table_dir):
        out = real_write(df, table_dir)
        _files._write_data_files = real_write  # one-shot: avoid recursion
        dl.write_delta(spark.createDataFrame([(9,)], "k long"), t)
        return out

    _files._write_data_files = write_with_remove_race
    try:
        with pytest.raises(_files.ConcurrentCommitError, match="remove"):
            dl.delta_compact(spark, t, target_files=1)
    finally:
        _files._write_data_files = real_write
    # the overwrite's state is intact; a clean re-run compacts it
    assert _rows(dl.read_delta(spark, t)) == [(9,)]
    dl.delta_compact(spark, t, target_files=1)
    assert _rows(dl.read_delta(spark, t)) == [(9,)]


def test_checkpoint_pointer_loss_and_empty_increment(spark, tmp_path):
    """Second-review regressions: (a) _last_checkpoint is a
    best-effort hint — a table whose pointer is lost but whose
    checkpoint parquet survives must still replay after JSON GC;
    (b) a stale pointer at a version with no checkpoint files fails
    loudly, never an empty base state; (c) an increment with no new
    commits is an EMPTY frame, not an
    error; (d) vacuum_delta GCs multi-part-named checkpoints too."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t, "append")
    cp = dl.write_checkpoint(t)
    log = os.path.join(t, "_delta_log")
    for v in range(0, cp + 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    # (a) lose the pointer: replay must find the checkpoint by scan
    os.remove(os.path.join(log, "_last_checkpoint"))
    assert _rows(dl.read_delta(spark, t)) == [(1,), (2,)]

    # (c) empty increment at head
    head = dl.replay(t).version
    assert dl.read_delta_increment(spark, t, head).count() == 0
    with pytest.raises(ValueError, match="past version"):
        dl.read_delta_increment(spark, t, head + 1)

    # (b) stale pointer to a checkpointless version fails loudly
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": cp + 99, "size": 1}, f)
    with pytest.raises(ValueError, match="delta version"):
        # the pointed-at version doesn't exist at all -> version error;
        # now point at a REAL version that lacks checkpoint files:
        dl.read_delta(spark, t, cp + 99)
    dl.write_delta(spark.createDataFrame([(3,)], "k long"), t, "append")
    with open(os.path.join(log, "_last_checkpoint"), "w") as f:
        json.dump({"version": cp + 1, "size": 1}, f)
    # pointer at a real version with NO checkpoint files: replay falls
    # back to the newest real checkpoint (cp) and still answers
    assert _rows(dl.read_delta(spark, t)) == [(1,), (2,), (3,)]
    # ...and if the real checkpoint ALSO vanishes with the JSON chain
    # GC'd, the failure is loud, never an empty state
    saved = os.path.join(log, "cp.bak")
    os.rename(os.path.join(log, f"{cp:020d}.checkpoint.parquet"), saved)
    with pytest.raises(ValueError, match="garbage-collected|not in"):
        dl.read_delta(spark, t)
    os.rename(saved, os.path.join(log, f"{cp:020d}.checkpoint.parquet"))
    os.remove(os.path.join(log, "_last_checkpoint"))

    # (d) rename the old checkpoint to the multi-part naming; a later
    # vacuum_delta must still GC it
    old_cp = os.path.join(log, f"{cp:020d}.checkpoint.parquet")
    os.rename(
        old_cp,
        os.path.join(
            log, f"{cp:020d}.checkpoint.0000000001.0000000001.parquet"
        ),
    )
    assert cp in dl.list_delta_versions(t)  # still readable pre-GC
    dl.vacuum_delta(t)
    assert cp not in dl.list_delta_versions(t)  # GC'd, not stale
    assert _rows(dl.read_delta(spark, t)) == [(1,), (2,), (3,)]


def test_merge_schema_append_and_merge_upsert(spark, tmp_path):
    """mergeSchema appends (add-only evolution, the validator shared
    with MERGE — renames stay loud) and MERGE upsert (replace-matched +
    insert-unmatched as one commit, TOCTOU-guarded)."""
    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, s string"),
        t,
    )
    # add-only evolution
    with pytest.raises(ValueError, match="merge_schema=True"):
        dl.write_delta(
            spark.createDataFrame(
                [(3, "c", 30)], "k long, s string, extra long"
            ),
            t, "append",
        )
    dl.write_delta(
        spark.createDataFrame(
            [(3, "c", 30)], "k long, s string, extra long"
        ),
        t, "append", merge_schema=True,
    )
    got = dl.read_delta(spark, t)
    assert sorted(got.columns) == ["extra", "k", "s"]
    # pre-evolution rows null-fill; pre-evolution version keeps its schema
    assert _rows(got.select("k", "extra")) == [
        (1, None), (2, None), (3, 30),
    ]
    assert dl.read_delta(spark, t, 0).columns == ["k", "s"]
    # rename rejected even with merge_schema (missing column = half a rename)
    with pytest.raises(ValueError, match="missing table column"):
        dl.write_delta(
            spark.createDataFrame(
                [(4, "d", 0)], "k long, s2 string, extra long"
            ),
            t, "append", merge_schema=True,
        )
    # the table id is stable across evolution (spec: id is immutable)
    ids = set()
    for v in dl.list_delta_versions(t):
        with open(dl._commit_path(t, v)) as f:
            for line in f:
                a = json.loads(line)
                if "metaData" in a:
                    ids.add(a["metaData"]["id"])
    assert len(ids) == 1

    # MERGE upsert: replace matched, insert unmatched, idempotent
    up = spark.createDataFrame(
        [(2, "B!", 20), (9, "new", 90)], "k long, s string, extra long"
    )
    s = dl.delta_merge_upsert(spark, t, up, ["k"])
    expect = [(1, "a", None), (2, "B!", 20), (3, "c", 30),
              (9, "new", 90)]
    assert _rows(dl.read_delta(spark, t)) == expect
    # pre-merge version still time-travelable
    assert _rows(dl.read_delta(spark, t, s.version - 1)) == [
        (1, "a", None), (2, "b", None), (3, "c", 30),
    ]
    # re-run converges (idempotent)
    dl.delta_merge_upsert(spark, t, up, ["k"])
    assert _rows(dl.read_delta(spark, t)) == expect
    # TOCTOU: a commit interleaved between read and merge-commit refuses
    real_write = _files._write_data_files

    def write_with_race(df, table_dir):
        out = real_write(df, table_dir)
        _files._write_data_files = real_write
        dl.write_delta(
            spark.createDataFrame(
                [(7, "x", 70)], "k long, s string, extra long"
            ),
            t, "append",
        )
        return out

    _files._write_data_files = write_with_race
    try:
        with pytest.raises(_files.ConcurrentCommitError):
            dl.delta_merge_upsert(spark, t, up, ["k"])
    finally:
        _files._write_data_files = real_write
    # the interleaved append survived; a clean re-run merges over it
    assert (7, "x", 70) in _rows(dl.read_delta(spark, t))
    dl.delta_merge_upsert(spark, t, up, ["k"])
    assert (7, "x", 70) in _rows(dl.read_delta(spark, t))


def test_partial_multipart_checkpoint_is_never_a_base(spark, tmp_path):
    """A crashed native writer leaves i-of-n checkpoint parts with no
    _last_checkpoint. Reading that partial set as a base state would
    silently drop every add in the missing parts — replay must treat
    it exactly like NO checkpoint: fall back to JSON replay while the
    commits exist, and fail LOUDLY (never return partial data) once
    they are gone."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t, "append")
    dl.write_delta(spark.createDataFrame([(3,)], "k long"), t, "append")
    cp = dl.write_checkpoint(t)
    single = dl._checkpoint_path(t, cp)
    tbl = pq.read_table(single)
    log = os.path.join(t, "_delta_log")
    # crash mid-write: only part 1 of 2 landed, no pointer update
    pq.write_table(
        tbl.slice(0, tbl.num_rows // 2),
        os.path.join(
            log, f"{cp:020d}.checkpoint.0000000001.0000000002.parquet"
        ),
    )
    os.remove(single)
    os.remove(os.path.join(log, "_last_checkpoint"))
    # partial set is invisible to listing...
    assert dl._checkpoint_versions(t) == []
    assert dl._checkpoint_files(t, cp) == []
    # ...so replay falls back to full JSON replay: complete data
    assert _rows(dl.read_delta(spark, t)) == [(1,), (2,), (3,)]
    # with the JSON commits gone the table is UNREADABLE, not partial
    for v in range(0, cp + 1):
        os.remove(os.path.join(log, f"{v:020d}.json"))
    with pytest.raises((FileNotFoundError, ValueError)):
        dl.read_delta(spark, t)

    # a stale _last_checkpoint pointing AT the partial set must also
    # refuse, not silently base on half the adds
    t2 = str(tmp_path / "tbl2")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t2)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t2, "append")
    cp2 = dl.write_checkpoint(t2)
    single2 = dl._checkpoint_path(t2, cp2)
    tbl2 = pq.read_table(single2)
    log2 = os.path.join(t2, "_delta_log")
    pq.write_table(
        tbl2.slice(0, tbl2.num_rows // 2),
        os.path.join(
            log2, f"{cp2:020d}.checkpoint.0000000001.0000000002.parquet"
        ),
    )
    os.remove(single2)  # _last_checkpoint still points at cp2
    # fallback path: JSON commits still present -> complete data
    assert _rows(dl.read_delta(spark, t2)) == [(1,), (2,)]

    # conflicting <n> declarations at one version are likewise unusable
    pq.write_table(
        tbl2.slice(tbl2.num_rows // 2),
        os.path.join(
            log2, f"{cp2:020d}.checkpoint.0000000002.0000000003.parquet"
        ),
    )
    assert dl._checkpoint_files(t2, cp2) == []


def test_writer_protocol_gate(spark, tmp_path):
    """The spec requires WRITERS to reject unsupported writer
    protocols even when the reader protocol is satisfied: a table
    demanding e.g. appendOnly/invariants (minWriterVersion > 2 or
    writerFeatures) stays readable but must refuse every mutating
    entry point — committing anyway would silently violate those
    constraints for native readers."""
    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.createDataFrame([(1, "a")], "k long, s string"), t
    )
    path = dl._commit_path(t, 0)
    lines = [json.loads(x) for x in open(path)]
    for a in lines:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["collations"],
            }
    with open(path, "w") as f:
        for a in lines:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    # reads still fine (reader protocol 1 is satisfied)
    assert _rows(dl.read_delta(spark, t)) == [(1, "a")]
    up = spark.createDataFrame([(2, "b")], "k long, s string")
    with pytest.raises(NotImplementedError, match="minWriterVersion 7"):
        dl.write_delta(up, t, "append")
    with pytest.raises(NotImplementedError, match="minWriterVersion 7"):
        dl.write_delta(up, t, "overwrite")
    with pytest.raises(NotImplementedError, match="minWriterVersion 7"):
        dl.delta_compact(spark, t, 1)
    with pytest.raises(NotImplementedError, match="minWriterVersion 7"):
        dl.delta_merge_upsert(spark, t, up, ["k"])
    # nothing committed: head is still version 0 with the same rows
    assert dl.replay(t).version == 0
    assert _rows(dl.read_delta(spark, t)) == [(1, "a")]


def test_merge_upsert_rejects_type_mismatch(spark, tmp_path):
    """MERGE validates STRUCTURE, not just column-name sets:
    unionByName would widen long+double to double in the new data
    files while the commit keeps the old schemaString, so later
    pinned-schema reads die on a parquet type mismatch. Reject the
    type change loudly before any files are written."""
    t = str(tmp_path / "tbl")
    dl.write_delta(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"), t
    )
    bad = spark.createDataFrame([(2, 2.5)], "k long, v double")
    with pytest.raises(ValueError, match="structurally incompatible"):
        dl.delta_merge_upsert(spark, t, bad, ["k"])
    # no files written, no commit: table unchanged at version 0
    assert dl.replay(t).version == 0
    assert _rows(dl.read_delta(spark, t)) == [(1, 10), (2, 20)]
    # exact-type updates still merge
    good = bad.select("k", F.col("v").cast("long").alias("v"))
    dl.delta_merge_upsert(spark, t, good, ["k"])
    assert _rows(dl.read_delta(spark, t)) == [(1, 10), (2, 2)]


def test_vacuum_retention_window(spark, tmp_path):
    """VACUUM RETAIN N: tombstoned data files younger than the window
    survive (a reader holding an older DeltaState finishes its scan;
    time travel inside the window keeps working), while retention-0
    stays the documented aggressive trade. Aged tombstones (rewritten
    to the past) are collected at retention-N."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,), (2,)], "k long"), t)
    old_files = dl.replay(t).files
    dl.write_delta(spark.createDataFrame([(9,)], "k long"), t)  # overwrite
    # reader pins the old version BEFORE vacuum
    pinned = dl.read_delta(spark, t, 0)

    deleted = dl.vacuum_delta(t, retention_ms=3_600_000)
    assert deleted == 0  # tombstones are seconds old: inside window
    for rel in old_files:
        assert os.path.exists(os.path.join(t, rel))
    # the pinned reader still scans, and v0 is still replayable
    assert _rows(pinned) == [(1,), (2,)]
    assert _rows(dl.read_delta(spark, t, 0)) == [(1,), (2,)]
    assert _rows(dl.read_delta(spark, t)) == [(9,)]

    # age the tombstones + commit timestamps a day into the past
    log = os.path.join(t, "_delta_log")
    for name in os.listdir(log):
        if not (name.endswith(".json") and name[:-5].isdigit()):
            continue
        path = os.path.join(log, name)
        lines = [json.loads(x) for x in open(path)]
        for a in lines:
            if "remove" in a:
                a["remove"]["deletionTimestamp"] -= 86_400_000
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] -= 86_400_000
        with open(path, "w") as f:
            for a in lines:
                f.write(json.dumps(a, separators=(",", ":")) + "\n")
    deleted = dl.vacuum_delta(t, retention_ms=3_600_000)
    assert deleted == len(old_files)
    for rel in old_files:
        assert not os.path.exists(os.path.join(t, rel))
    with pytest.raises(ValueError, match="not reconstructable|not in"):
        dl.read_delta(spark, t, 0)
    assert _rows(dl.read_delta(spark, t)) == [(9,)]

    # retention-0 on a fresh table: immediate collection (old trade)
    t2 = str(tmp_path / "tbl2")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t2)
    old2 = dl.replay(t2).files
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t2)
    # >=: retention-0 also sweeps zero-row orphan part files the
    # writes left unregistered
    assert dl.vacuum_delta(t2) >= len(old2)
    for rel in old2:
        assert not os.path.exists(os.path.join(t2, rel))
    with pytest.raises(ValueError, match="not reconstructable|not in"):
        dl.read_delta(spark, t2, 0)
    assert _rows(dl.read_delta(spark, t2)) == [(2,)]
    with pytest.raises(ValueError, match="retention_ms"):
        dl.vacuum_delta(t2, retention_ms=-1)


def test_delta_zorder_layout_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order composed with the NATIVE Delta format: a write_delta
    commit sorted by the Morton key over (a, b) with stats_cols on
    both dims prunes a range predicate on EITHER column through
    delta_scan's add-stats skipping, where a plain sort on `a` leaves
    `b` full-range in every file (referenced by the
    lineitem_delta_zorder_scan query doc)."""
    from rearc_data_engineer_takehome_spark.operators.layout import (
        zorder_key,
    )

    df = (
        spark.range(0, 4096)
        .withColumn("a", (F.col("id") % 64).cast("long"))
        .withColumn("b", (F.col("id") / 64).cast("long"))
    )
    tz = str(tmp_path / "zord")
    z = zorder_key(df, ["a", "b"], bits=6)
    clustered = (
        df.withColumn("__z", z)
        .repartitionByRange(16, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    dl.write_delta(clustered, tz, stats_cols=["a", "b"])

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
    assert n_z < 16  # z-order does
    # and the z-ordered table still prunes on `a` as well
    n_za = len(
        dl.delta_scan(spark, tz, prune={"a": (0, 7)}).inputFiles()
    )
    assert n_za < 16
    # 2-D prune is at least as tight as either 1-D prune alone
    n_2d = len(
        dl.delta_scan(
            spark, tz, prune={"a": (0, 7), "b": (10, 15)}
        ).inputFiles()
    )
    assert n_2d <= min(n_z, n_za)


def test_checkpoint_preserves_table_protocol_and_gates_writers(
    spark, tmp_path
):
    """write_checkpoint must stamp the TABLE's protocol, not this
    module's — stamping {1,2} into a checkpoint of a stricter table
    would silently downgrade the protocol as soon as replay bases on
    the checkpoint, disarming the writer gate (and lying to native
    readers). And checkpointing/vacuuming ARE writer operations: both
    must refuse a table demanding writer capabilities we lack."""
    import pyarrow.parquet as pq

    # normal table: checkpoint protocol row mirrors the table's
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    cp = dl.write_checkpoint(t)
    rows = pq.read_table(dl._checkpoint_path(t, cp)).to_pylist()
    protos = [r["protocol"] for r in rows if r.get("protocol")]
    assert protos == [{
        "minReaderVersion": 1,
        "minWriterVersion": 2,
        # feature lists are sparse columns (null for legacy tables,
        # populated for DV tables — tests/test_dv.py)
        "readerFeatures": None,
        "writerFeatures": None,
    }]

    # stricter table: checkpoint/vacuum refuse instead of downgrading
    t2 = str(tmp_path / "tbl2")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t2)
    path = dl._commit_path(t2, 0)
    lines = [json.loads(x) for x in open(path)]
    for a in lines:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["collations"],
            }
    with open(path, "w") as f:
        for a in lines:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    with pytest.raises(NotImplementedError, match="minWriterVersion 7"):
        dl.write_checkpoint(t2)
    with pytest.raises(NotImplementedError, match="minWriterVersion 7"):
        dl.vacuum_delta(t2)
    # no checkpoint landed, the real protocol is intact, reads fine
    assert dl._checkpoint_versions(t2) == []
    assert _rows(dl.read_delta(spark, t2)) == [(1,)]


def test_refused_write_leaves_no_orphan_data_files(spark, tmp_path):
    """The writer-protocol gate fires BEFORE data files materialize:
    a refused append must not strand a full physical copy of the
    batch under data/."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    n_before = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(t, "data")) for f in fs
    )
    path = dl._commit_path(t, 0)
    lines = [json.loads(x) for x in open(path)]
    for a in lines:
        if "protocol" in a:
            a["protocol"] = {
                "minReaderVersion": 1,
                "minWriterVersion": 7,
                "writerFeatures": ["collations"],
            }
    with open(path, "w") as f:
        for a in lines:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    with pytest.raises(NotImplementedError):
        dl.write_delta(
            spark.createDataFrame([(2,)], "k long"), t, "append"
        )
    n_after = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(t, "data")) for f in fs
    )
    assert n_after == n_before


def test_vacuum_retention_mixed_age_keeps_retained_versions(
    spark, tmp_path
):
    """The mixed-age case: v0 and v1 superseded long ago, v2 fresh.
    Retention-N vacuum must keep every version inside the window
    REPLAYABLE — the floor version gets its own checkpoint before v0's
    JSON dies, so a reader pinning v1 still time-travels to it."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t)
    dl.write_delta(spark.createDataFrame([(3,)], "k long"), t)
    log = os.path.join(t, "_delta_log")
    # age v0/v1 a day into the past; v2 (head) stays fresh
    for v in (0, 1):
        path = os.path.join(log, f"{v:020d}.json")
        lines = [json.loads(x) for x in open(path)]
        for a in lines:
            if "commitInfo" in a:
                a["commitInfo"]["timestamp"] -= 86_400_000
            if "remove" in a:
                a["remove"]["deletionTimestamp"] -= 86_400_000
        with open(path, "w") as f:
            for a in lines:
                f.write(json.dumps(a, separators=(",", ":")) + "\n")
    v1_files = dl.replay(t, 1).files
    dl.vacuum_delta(t, retention_ms=3_600_000)
    # floor = v1 (newest commit older than the window): v0 is gone...
    assert not os.path.exists(os.path.join(log, f"{0:020d}.json"))
    with pytest.raises(ValueError, match="not reconstructable|not in"):
        dl.read_delta(spark, t, 0)
    # ...but v1 — retained, superseded only INSIDE the window — still
    # replays (via its floor checkpoint) with its data files present
    assert _rows(dl.read_delta(spark, t, 1)) == [(2,)]
    for rel in v1_files:
        assert os.path.exists(os.path.join(t, rel))
    assert _rows(dl.read_delta(spark, t)) == [(3,)]
    # the head checkpoint is the _last_checkpoint pointer
    assert dl._last_checkpoint(t) == 2


def test_vacuum_missing_timestamps_fail_safe(spark, tmp_path):
    """PROTOCOL.md makes commitInfo and remove.deletionTimestamp
    OPTIONAL. A native-written log lacking them must age as NOW
    (keep), never epoch-0 (delete) — otherwise retention-N vacuum
    deletes data a concurrent in-window reader still holds."""
    t = str(tmp_path / "tbl")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    old_files = dl.replay(t).files
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t)
    log = os.path.join(t, "_delta_log")
    # strip ALL timestamps, as a minimal native writer may
    for name in list(os.listdir(log)):
        if not (name.endswith(".json") and name[:-5].isdigit()):
            continue
        path = os.path.join(log, name)
        lines = [json.loads(x) for x in open(path)]
        out = []
        for a in lines:
            if "commitInfo" in a:
                continue  # commitInfo itself is optional
            if "remove" in a:
                a["remove"].pop("deletionTimestamp", None)
            out.append(a)
        with open(path, "w") as f:
            for a in out:
                f.write(json.dumps(a, separators=(",", ":")) + "\n")
    deleted = dl.vacuum_delta(t, retention_ms=3_600_000)
    assert deleted == 0
    for rel in old_files:
        assert os.path.exists(os.path.join(t, rel))
    # both versions still readable: nothing was GC'd
    assert _rows(dl.read_delta(spark, t, 0)) == [(1,)]
    assert _rows(dl.read_delta(spark, t)) == [(2,)]


def test_checkpoint_reliable_supersedes_previous_copy(spark, tmp_path):
    """A ``reliable`` materialization keeps at most ONE scratch copy
    per label: a second call for the same label deletes the first
    run's files (bench sessions re-run each query; without this every
    run leaks a full materialized copy for up to a day)."""
    from rearc_data_engineer_takehome_spark.operators import (
        relational as rel,
    )

    d1 = rel.materialize(
        spark.createDataFrame([(1,)], "k long"), "ut_label", "reliable"
    )
    p1 = rel._RELIABLE_SCRATCH["ut_label"]
    assert os.path.isdir(p1)
    assert _rows(d1) == [(1,)]
    d2 = rel.materialize(
        spark.createDataFrame([(2,)], "k long"), "ut_label", "reliable"
    )
    p2 = rel._RELIABLE_SCRATCH["ut_label"]
    assert not os.path.exists(p1)  # previous copy swept
    assert os.path.isdir(p2)
    assert _rows(d2) == [(2,)]
    # other labels are untouched
    rel.materialize(
        spark.createDataFrame([(3,)], "k long"), "ut_other", "reliable"
    )
    assert os.path.isdir(p2)
    # explicit sweep clears everything (the atexit path)
    rel._sweep_reliable_scratch()
    assert not os.path.exists(p2)
    assert rel._RELIABLE_SCRATCH == {}


def test_delta_compact_partitioned_bin_packs_per_partition(
    spark, tmp_path
):
    """OPTIMIZE on a partitioned table: per-partition bin packing —
    files never combine across partition boundaries, partitions at or
    below the target are untouched, removes cover only replaced files,
    history stays time-travelable, the change feed skips the rewrite,
    and null / special-char partition values round-trip the hive
    naming."""
    t = str(tmp_path / "tbl")
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "k long, region string, v long"
    )
    dl.write_delta(
        mk([(1, "us", 10), (2, "eu e/1", 20), (3, None, 30)]),
        t, partition_by=["region"], stats_cols=["k"],
    )
    # three appends fragment 'us' (4 files) and 'eu e/1' (2 files);
    # the null partition stays single-file
    dl.write_delta(mk([(4, "us", 40)]), t, "append",
                   partition_by=["region"])
    dl.write_delta(mk([(5, "us", 50), (6, "eu e/1", 60)]), t,
                   "append", partition_by=["region"])
    dl.write_delta(mk([(7, "us", 70)]), t, "append",
                   partition_by=["region"])
    pre = dl.replay(t)

    def by_partition(state):
        out = {}
        for rel, a in state.adds.items():
            out.setdefault(a["partitionValues"]["region"], []).append(rel)
        return out

    pre_parts = by_partition(pre)
    assert len(pre_parts["us"]) == 4
    # partitionValues hold the RAW value; escaping is dir-name-only
    assert len(pre_parts["eu e/1"]) == 2
    expect = _rows(dl.read_delta(spark, t))

    s = dl.delta_compact(spark, t, target_files=1, stats_cols=["k"])
    post_parts = by_partition(s)
    # every partition now holds exactly one file; null partition's
    # original file survived untouched (it was already at target)
    for part, fs in post_parts.items():
        assert len(fs) == 1, (part, fs)
    assert post_parts[None] == pre_parts[None]
    # content identical, partition values restored with their types
    assert _rows(dl.read_delta(spark, t)) == expect
    # pre-compaction version still time travels
    assert _rows(dl.read_delta(spark, t, pre.version)) == expect
    # idempotent second OPTIMIZE: nothing exceeds the target, no
    # empty commit is appended
    s2 = dl.delta_compact(spark, t, target_files=1)
    assert s2.version == s.version
    # the rewrite is dataChange=false: the feed across it sees ONLY
    # the append that follows
    dl.write_delta(mk([(8, "us", 80)]), t, "append",
                   partition_by=["region"])
    inc = dl.read_delta_increment(spark, t, pre.version)
    assert _rows(inc) == [(8, "us", 80)]


# --- in-commit timestamps + TIMESTAMP AS OF + auto-checkpoint (r9) --


def test_ict_enablement_and_monotonic_stamps(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    st = dl.delta_alter_properties(
        spark, t, {"delta.enableInCommitTimestamps": "true"}
    )
    assert "inCommitTimestamp" in st.protocol["writerFeatures"]
    cfg = st.configuration
    assert cfg["delta.inCommitTimestampEnablementVersion"] == "1"
    # the enablement commit's OWN ict equals the recorded property
    ict1 = dl._commit_ict(t, 1)
    assert str(ict1) == cfg[
        "delta.inCommitTimestampEnablementTimestamp"
    ]
    # subsequent commits carry strictly increasing icts, and
    # commitInfo leads the commit file (spec ordering)
    dl.write_delta(
        spark.createDataFrame([(2,)], "k long"), t, "append"
    )
    dl.delta_delete(spark, t, "k = 1")
    icts = [dl._commit_ict(t, v) for v in (1, 2, 3)]
    assert icts == sorted(icts) and len(set(icts)) == 3
    with open(dl._commit_path(t, 2)) as f:
        first = json.loads(f.readline())
    assert "commitInfo" in first
    assert first["commitInfo"]["inCommitTimestamp"] == icts[1]


def test_timestamp_as_of_resolves_by_ict(spark, tmp_path):
    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.delta_alter_properties(
        spark, t, {"delta.enableInCommitTimestamps": "true"}
    )
    dl.write_delta(
        spark.createDataFrame([(2,)], "k long"), t, "append"
    )
    dl.write_delta(
        spark.createDataFrame([(3,)], "k long"), t, "append"
    )
    ict2 = dl._commit_ict(t, 2)
    # exactly at v2's ict -> v2; just before -> v1
    assert dl.resolve_version_at(t, ict2) == 2
    assert dl.resolve_version_at(t, ict2 - 1) == 1
    out = dl.read_delta(spark, t, timestamp_ms=ict2)
    assert sorted(r.k for r in out.collect()) == [1, 2]
    with pytest.raises(ValueError, match="not both"):
        dl.read_delta(spark, t, 1, timestamp_ms=ict2)
    with pytest.raises(ValueError, match="predates"):
        dl.resolve_version_at(t, 1)


def test_timestamp_as_of_mtime_fallback(spark, tmp_path):
    import os
    import time as _time

    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.write_delta(
        spark.createDataFrame([(2,)], "k long"), t, "append"
    )
    # no ICT feature: resolution uses commit-file mtimes; pin them
    # to known values to make the test deterministic
    os.utime(dl._commit_path(t, 0), (100.0, 100.0))
    os.utime(dl._commit_path(t, 1), (200.0, 200.0))
    assert dl.resolve_version_at(t, 150_000) == 0
    assert dl.resolve_version_at(t, 200_000) == 1
    # a SKEWED mtime (older than its predecessor) cannot reorder
    # history: v1 clamps to v0's time + 1ms (native's adjustment),
    # so it resolves at 150s but NOT at exactly v0's instant
    os.utime(dl._commit_path(t, 1), (50.0, 50.0))
    assert dl.resolve_version_at(t, 150_000) == 1
    assert dl.resolve_version_at(t, 100_000) == 0
    _ = _time  # imported for symmetry with other tests


def test_checkpoint_interval_auto_checkpoints(spark, tmp_path):
    import os

    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.delta_alter_properties(
        spark, t, {"delta.checkpointInterval": "3"}
    )  # commit 1
    dl.write_delta(
        spark.createDataFrame([(2,)], "k long"), t, "append"
    )  # commit 2
    assert dl._checkpoint_versions(t) == []
    dl.write_delta(
        spark.createDataFrame([(3,)], "k long"), t, "append"
    )  # commit 3: multiple of 3 -> auto checkpoint
    assert dl._checkpoint_versions(t) == [3]
    dl.delta_delete(spark, t, "k = 1")  # 4
    dl.write_delta(
        spark.createDataFrame([(4,)], "k long"), t, "append"
    )  # 5
    dl.delta_update(spark, t, "k = 2", {"k": "22"})  # 6 -> auto
    assert dl._checkpoint_versions(t) == [3, 6]
    assert dl._last_checkpoint(t) == 6
    assert dl.read_delta(spark, t).count() == 3
    # every operation commits through the same path, OPTIMIZE and SET
    # TBLPROPERTIES included
    for k in (5, 6):
        dl.write_delta(
            spark.createDataFrame([(k,)], "k long"), t, "append"
        )  # 7, 8
    dl.delta_compact(spark, t, target_files=1)  # 9: OPTIMIZE -> auto
    assert dl._checkpoint_versions(t) == [3, 6, 9]
    for k in (7, 8):
        dl.write_delta(
            spark.createDataFrame([(k,)], "k long"), t, "append"
        )  # 10, 11
    dl.delta_alter_properties(
        spark, t, {"delta.appendOnly": "false"}
    )  # 12: SET TBLPROPERTIES -> auto
    assert dl._checkpoint_versions(t) == [3, 6, 9, 12]
    assert dl._last_checkpoint(t) == 12
    assert dl.read_delta(spark, t).count() == 7


def test_one_commit_path():
    """Every Delta commit goes through ``_commit``: ``_commit_actions``
    is called only from it and from ``write_checkpoint`` (whose
    protocol upgrade is followed by its own checkpoint), and the
    commitInfo engine string is spelled once — across every module of
    the delta_log package."""
    import ast
    import importlib
    import inspect
    import pkgutil

    mods = [dl] + [
        importlib.import_module(f"{dl.__name__}.{m.name}")
        for m in pkgutil.iter_modules(dl.__path__)
    ]
    # the walk must see the package's modules, not just __init__
    assert {m.__name__.rsplit(".", 1)[-1] for m in mods} >= {
        "log", "scan", "write", "dml", "maintenance",
    }
    srcs = [inspect.getsource(m) for m in mods]
    callers = []
    defined = set()
    for src in srcs:
        for fn in ast.walk(ast.parse(src)):
            if isinstance(fn, ast.FunctionDef):
                defined.add(fn.name)
                for n in ast.walk(fn):
                    if isinstance(n, ast.Call) and getattr(
                        n.func, "id", None
                    ) in ("_commit_actions", "_atomic_commit"):
                        callers.append((fn.name, n.func.id))
    assert {"_commit", "_commit_actions", "write_checkpoint"} <= defined
    assert sorted(callers) == [
        ("_commit", "_commit_actions"),
        ("_commit_actions", "_atomic_commit"),
        ("write_checkpoint", "_commit_actions"),
    ]
    assert sum(
        src.count('"rearc-takehome-spark-cleanroom"') for src in srcs
    ) == 1


def test_timestamp_as_of_ignores_checkpoint_mtime(spark, tmp_path):
    """ADVICE r09 (medium): a checkpoint file's mtime is when the
    CHECKPOINT was written — possibly long after the commit (late
    manual write_checkpoint) — so it must never enter the monotonic
    commit-time adjustment: the inflation would shadow every LATER
    version's real commit time. Native's rule: timestamps below the
    earliest readable commit refuse; GC'd versions are VERSION AS OF
    territory only."""
    import os

    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)  # v0
    dl.write_delta(
        spark.createDataFrame([(2,)], "k long"), t, "append"
    )  # v1
    dl.write_checkpoint(t, 1)
    os.remove(dl._commit_path(t, 0))
    os.remove(dl._commit_path(t, 1))
    dl.write_delta(
        spark.createDataFrame([(3,)], "k long"), t, "append"
    )  # v2
    # checkpoint written "far in the future" of v2's real commit time
    for cp in dl._checkpoint_files(t, 1):
        os.utime(cp, (1_000_000.0, 1_000_000.0))
    os.utime(dl._commit_path(t, 2), (300.0, 300.0))
    # v2's REAL time resolves v2 — a checkpoint-mtime proxy would have
    # clamped v2 to 1_000_000_000+1 ms and raised here
    assert dl.resolve_version_at(t, 300_000) == 2
    assert dl.resolve_version_at(t, 2_000_000_000) == 2
    # below the earliest readable commit time -> refuse...
    with pytest.raises(ValueError, match="readable commit time"):
        dl.resolve_version_at(t, 200_000)
    # ...while VERSION AS OF still reads the checkpointed state
    assert dl.read_delta(spark, t, version=1).count() == 2


def test_ict_monotonic_after_json_gc(spark, tmp_path, monkeypatch):
    """ADVICE r09: when version-1's JSON is GC'd below a checkpoint, a
    backwards wall clock must not emit an inCommitTimestamp below the
    table's last ICT. The checkpoint records the checkpointed commit's
    ICT in _last_checkpoint; _commit_actions floors against it (and
    the enablement timestamp)."""
    import os

    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)  # v0
    st = dl.delta_alter_properties(
        spark, t, {"delta.enableInCommitTimestamps": "true"}
    )  # v1 (enablement)
    enable_ts = int(
        st.configuration["delta.inCommitTimestampEnablementTimestamp"]
    )
    dl.write_delta(
        spark.createDataFrame([(2,)], "k long"), t, "append"
    )  # v2
    ict2 = dl._commit_ict(t, 2, ict_only=True)
    dl.write_checkpoint(t, 2)
    for v in (0, 1, 2):
        os.remove(dl._commit_path(t, v))
    # wall clock steps BACKWARDS below even the enablement timestamp
    monkeypatch.setattr(dlog, "_now_ms", lambda: enable_ts - 10_000)
    dl.write_delta(
        spark.createDataFrame([(3,)], "k long"), t, "append"
    )  # v3
    ict3 = dl._commit_ict(t, 3, ict_only=True)
    assert ict3 == ict2 + 1  # exact floor from the checkpointed ICT
    assert ict3 > enable_ts


def test_vacuum_protocol_check(spark, tmp_path):
    """PROTOCOL.md "Vacuum Protocol Check": with the feature present,
    vacuum gates on the table protocol BEFORE deleting anything — a
    table demanding an unknown writer feature must refuse to vacuum
    (old vacuums destroying files they no longer understand is the
    failure the feature exists to stop)."""
    import pytest

    t = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t)  # v1
    # the feature itself is supported: vacuum proceeds
    path = dl._commit_path(t, 1)
    lines = [json.loads(x) for x in open(path)]
    lines.insert(0, {"protocol": {
        "minReaderVersion": 3,
        "minWriterVersion": 7,
        "readerFeatures": ["vacuumProtocolCheck"],
        "writerFeatures": ["vacuumProtocolCheck"],
    }})
    with open(path, "w") as f:
        for a in lines:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    assert dl.vacuum_delta(t) >= 1  # v0's overwritten file dies
    # an UNKNOWN writer feature refuses before any deletion
    t2 = str(tmp_path / "t2")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t2)
    dl.write_delta(spark.createDataFrame([(2,)], "k long"), t2)
    path = dl._commit_path(t2, 1)
    lines = [json.loads(x) for x in open(path)]
    lines.insert(0, {"protocol": {
        "minReaderVersion": 1,
        "minWriterVersion": 7,
        "writerFeatures": ["somethingFutureAndUnknown"],
    }})
    with open(path, "w") as f:
        for a in lines:
            f.write(json.dumps(a, separators=(",", ":")) + "\n")
    n_data_before = sum(
        len(fs) for _, _, fs in os.walk(os.path.join(t2, "data"))
    )
    with pytest.raises(NotImplementedError):
        dl.vacuum_delta(t2)
    n_data_after = sum(
        len(fs) for _, _, fs in os.walk(os.path.join(t2, "data"))
    )
    assert n_data_after == n_data_before  # nothing deleted


def test_type_widening_metadata_only(spark, tmp_path):
    """PROTOCOL.md "Type Widening": ALTER COLUMN TYPE widens the
    logical type WITHOUT rewriting any data file — old files keep
    their narrow physical types and the reader upcasts; the widening
    history lands in field metadata and the typeWidening features in
    the protocol."""
    import pytest

    t = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame(
            [(1, 1.5), (2, 2.5)], "k int, v float"
        ),
        t, stats_cols=["k"],
    )
    files0 = set(dl.replay(t).files)
    st = dl.delta_widen_column(t, "k", "long")
    st = dl.delta_widen_column(t, "v", "double")
    assert set(st.files) == files0  # zero rewrites
    feats = set(st.protocol["readerFeatures"])
    assert "typeWidening" in feats
    sj = {f["name"]: f for f in json.loads(st.schema)["fields"]}
    assert sj["k"]["type"] == "long"
    assert sj["v"]["type"] == "double"
    hist = sj["k"]["metadata"]["delta.typeWidening"]
    assert hist == [{
        "fromType": "integer", "toType": "long",
        "tableVersion": 1,
    }]
    out = dl.read_delta(spark, t)
    assert out.schema.simpleString() == "struct<k:bigint,v:double>"
    assert sorted((r.k, r.v) for r in out.collect()) == [
        (1, 1.5), (2, 2.5),
    ]
    # appends now write wide values beyond the narrow range
    dl.write_delta(
        spark.createDataFrame(
            [(1 << 40, 3.5)], "k long, v double"
        ),
        t, "append",
    )
    assert dl.read_delta(spark, t).where(
        F.col("k") > (1 << 35)
    ).count() == 1
    # narrowing / unrelated conversions refuse
    with pytest.raises(ValueError, match="not an allowed"):
        dl.delta_widen_column(t, "k", "integer")
    with pytest.raises(ValueError, match="not an allowed"):
        dl.delta_widen_column(t, "v", "string")
    with pytest.raises(ValueError, match="no column"):
        dl.delta_widen_column(t, "zzz", "long")


def test_type_widening_composes(spark, tmp_path):
    """Widening composes with DVs (narrow files + DV + wide schema),
    checkpoints (history survives GC), constraints (columns under
    rules refuse), and decimal precision growth."""
    import pytest
    from decimal import Decimal

    t = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame(
            [(i, Decimal(i)) for i in range(10)],
            "k int, d decimal(5,1)",
        ),
        t, stats_cols=["k"],
    )
    dl.delta_delete(spark, t, "k = 3")
    dl.delta_widen_column(t, "k", "long")
    dl.delta_widen_column(t, "d", "decimal(12,2)")
    with pytest.raises(ValueError, match="not an allowed"):
        dl.delta_widen_column(t, "d", "decimal(12,1)")  # shrunk int part? no — scale down refused
    out = dl.read_delta(spark, t)
    assert out.schema["d"].dataType.simpleString() == "decimal(12,2)"
    assert out.count() == 9 and out.where("k = 3").count() == 0
    v = dl.write_checkpoint(t)
    for i in range(v + 1):
        p = dl._commit_path(t, i)
        if os.path.exists(p):
            os.remove(p)
    st = dl.replay(t)
    sj = {f["name"]: f for f in json.loads(st.schema)["fields"]}
    assert sj["k"]["metadata"]["delta.typeWidening"]
    assert dl.read_delta(spark, t).count() == 9
    # a column under a CHECK constraint refuses to widen (even for a
    # matrix-valid widening)
    dl.delta_alter_properties(
        spark, t, {"delta.constraints.dpos": "d >= 0"}
    )
    with pytest.raises(ValueError, match="rule"):
        dl.delta_widen_column(t, "d", "decimal(15,2)")


def test_widened_table_accepts_narrow_appends(spark, tmp_path):
    """Spec invariant behind type widening: data files may carry
    NARROWER physical types than the schema — a widened table accepts
    narrow appends as-is (no cast, no rewrite); an un-widened table
    still refuses the type mismatch."""
    import pytest

    t = str(tmp_path / "t")
    dl.write_delta(
        spark.createDataFrame([(1,)], "k int"), t, stats_cols=["k"]
    )
    dl.delta_widen_column(t, "k", "long")
    dl.write_delta(
        spark.createDataFrame([(2,)], "k int"), t, "append"
    )  # narrow append: accepted verbatim
    dl.write_delta(
        spark.createDataFrame([(1 << 40,)], "k long"), t, "append"
    )
    out = dl.read_delta(spark, t)
    assert out.schema.simpleString() == "struct<k:bigint>"
    assert sorted(r.k for r in out.collect()) == [1, 2, 1 << 40]
    # a table WITHOUT the feature keeps refusing mismatched appends
    t2 = str(tmp_path / "t2")
    dl.write_delta(spark.createDataFrame([(1,)], "k long"), t2)
    with pytest.raises(ValueError, match="incompatible"):
        dl.write_delta(
            spark.createDataFrame([(2,)], "k int"), t2, "append"
        )
