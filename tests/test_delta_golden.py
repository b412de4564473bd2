"""Golden commit test for the native Delta log (sources/delta_log): one
scripted run performs every operation that commits, then compares every
commit file of every table, action by action and in action order, with
the goldens checked in under ``tests/golden/``. It also compares each
table's ``_last_checkpoint`` and the action rows of each checkpoint
(classic single-file, and v2 manifest plus sidecars), read with pyarrow.

The only fields normalized are those that differ between two runs of
the same commit:

* timestamps: ``timestamp``, ``inCommitTimestamp``,
  ``modificationTime``, ``deletionTimestamp``, ``lastUpdated`` and
  ``createdTime`` (non-null values become ``"<ts>"``);
* uuids inside any string: data, change-data and sidecar file names,
  the 12-hex ``data/<hex>/`` and ``_change_data/<hex>/`` directories,
  ``metaData.id``, column-mapping physical names (``col-<uuid>``) and
  row-tracking column names (``_row-id-col-<uuid>``);
* ``pathOrInlineDv`` of an on-disk (``"u"``) deletion vector, which
  encodes the uuid of its ``.bin`` file;
* ``sizeInBytes`` of a v2 checkpoint's ``sidecar`` action: the sidecar
  is compressed parquet holding uuid-named paths, so its size moves
  with the uuids (6457 and 6459 bytes in two runs of one commit);
* the work dir, which shallow clones and CLONE's parameters name.

A field joins this list only after two runs of the same commit are
shown to differ in it; everything else (sizes, stats, offsets, row ids,
protocol lists, the order of actions) must match exactly.

After an intended change to the commit format, regenerate the goldens
with :func:`regenerate_goldens` and review the diff::

    python -c "from tests.test_delta_golden import regenerate_goldens; regenerate_goldens()"
"""

from __future__ import annotations

import json
import os
import re

from rearc_data_engineer_takehome_spark.sources import delta_log as dl

GOLDEN_DIR = os.path.join(os.path.dirname(__file__), "golden")

_TS_KEYS = {
    "timestamp", "inCommitTimestamp", "modificationTime",
    "deletionTimestamp", "lastUpdated", "createdTime",
}
_UUID = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"
)
_HEX_DIR = re.compile(r"\b(data|_change_data)/[0-9a-f]{12}/")


def _df(spark, rows, schema):
    # one input partition: one data file per write, and per-partition
    # identity ranges that do not depend on the core count
    return spark.createDataFrame(rows, schema).coalesce(1)


def _scripted_run(spark, root: str) -> list[str]:
    """Run every committing operation under ``root``; returns the table
    names (each a directory under ``root``). DV commits touch one file
    each, so their action order does not depend on shuffle order."""
    def t(name):
        return os.path.join(root, name)

    kv = "k long, s string"
    # WRITE: create, append, overwrite with a schema change, txn append;
    # then DELETE and UPDATE without CDF, plain OPTIMIZE, a v1
    # checkpoint, and a shallow CLONE of the result
    w = t("write")
    dl.write_delta(_df(spark, [(1, "a"), (2, "b")], kv), w,
                   stats_cols=["k"])
    dl.write_delta(_df(spark, [(3, "c")], kv), w, "append",
                   stats_cols=["k"])
    dl.write_delta(
        _df(spark, [(1, "a", 1.5), (2, "b", 2.5)],
            "k long, s string, x double"),
        w, stats_cols=["k"],
    )
    dl.write_delta(
        _df(spark, [(4, "d", 4.5)], "k long, s string, x double"),
        w, "append", txn=("app-1", 1),
    )
    dl.delta_delete(spark, w, "k = 1")
    dl.delta_update(spark, w, "k = 4", {"s": "'u'"})
    dl.delta_compact(spark, w, 1, stats_cols=["k"])
    dl.write_checkpoint(w)
    dl.delta_clone(w, t("clone"))
    # RESTORE: one file re-added, one removed, metaData restored
    r = t("restore")
    dl.write_delta(_df(spark, [(1, "a")], kv), r)
    dl.write_delta(_df(spark, [(2, 2.0)], "k long, y double"), r)
    dl.delta_restore(r, 0)
    # partitioned append + partitioned OPTIMIZE, then a v2 checkpoint
    # with two sidecars (its own UPGRADE PROTOCOL commit first)
    p = t("part")
    pkv = "k long, p string"
    dl.write_delta(_df(spark, [(1, "x"), (2, "y")], pkv), p,
                   partition_by=["p"], stats_cols=["k"])
    dl.write_delta(_df(spark, [(3, "x"), (4, None)], pkv), p, "append",
                   partition_by=["p"], stats_cols=["k"])
    dl.delta_compact(spark, p, 1, stats_cols=["k"])
    dl.write_checkpoint(p, v2=True, sidecar_files=2)
    # CLUSTER BY + clustered OPTIMIZE
    c = t("cluster")
    ckv = "a long, b long"
    dl.write_delta(_df(spark, [(1, 9), (5, 2)], ckv), c)
    dl.write_delta(_df(spark, [(3, 4)], ckv), c, "append")
    dl.delta_set_clustering(c, ["a", "b"])
    dl.delta_cluster_optimize(spark, c, 1)
    # CREATE TABLE with identity columns, then an append that
    # generates them
    i = t("identity")
    dl.delta_create_identity_table(
        '{"type":"struct","fields":['
        '{"name":"id","type":"long","nullable":true,"metadata":{}},'
        '{"name":"v","type":"string","nullable":true,"metadata":{}}]}',
        i, {"id": {"start": 10, "step": 5}},
    )
    dl.write_delta(_df(spark, [("p",), ("q",)], "v string"), i, "append")
    # copy-on-write MERGE
    m = t("merge_cow")
    dl.write_delta(_df(spark, [(1, "a"), (2, "b")], kv), m)
    dl.delta_merge_upsert(
        spark, m, _df(spark, [(2, "B"), (3, "c")], kv), ["k"],
        via_dv=False,
    )
    # CDF + ADD CONSTRAINT, then DELETE, UPDATE and DV MERGE with CDF
    f = t("cdf")
    dl.write_delta(_df(spark, [(1, "a"), (2, "b"), (3, "c")], kv), f)
    dl.delta_alter_properties(
        spark, f, {"delta.enableChangeDataFeed": "true"}
    )
    dl.delta_alter_properties(
        spark, f, {"delta.constraints.k_pos": "k > 0"}
    )
    dl.delta_delete(spark, f, "k = 1")
    dl.delta_update(spark, f, "k = 2", {"s": "'bb'"})
    dl.delta_merge_upsert(
        spark, f, _df(spark, [(3, "C"), (7, "g")], kv), ["k"],
        via_dv=True,
    )
    # row tracking enabled on an existing table (backfill), then an
    # append that stamps fresh row ids
    rt = t("row_tracking")
    dl.write_delta(_df(spark, [(1, "a"), (2, "b")], kv), rt)
    dl.delta_alter_properties(
        spark, rt, {"delta.enableRowTracking": "true"}
    )
    dl.write_delta(_df(spark, [(3, "c")], kv), rt, "append")
    # RENAME COLUMN and DROP COLUMNS on name and id mapping
    for mode in ("name", "id"):
        cm = t(f"cm_{mode}")
        dl.write_delta(
            _df(spark, [(1, "a", 1.0)], "k long, s string, x double"),
            cm, column_mapping=mode,
        )
        dl.delta_rename_column(cm, "s", "s2")
        dl.delta_drop_column(cm, "x")
    # column-mapping upgrade of an unmapped table, then CHANGE COLUMN
    # (type widening)
    u = t("cm_upgrade")
    dl.write_delta(_df(spark, [(1, "a")], "n int, s string"), u)
    dl.delta_upgrade_column_mapping(u)
    dl.delta_widen_column(u, "n", "long")
    # CONVERT a plain parquet directory
    cv = t("convert")
    _df(spark, [(1, "a"), (2, "b")], kv).write.parquet(cv)
    dl.convert_to_delta(spark, cv, stats_cols=["k"])
    return sorted(os.listdir(root))


def _normalize(value, root: str):
    if isinstance(value, dict):
        out = {}
        for k, v in value.items():
            if k in _TS_KEYS and v is not None:
                out[k] = "<ts>"
            elif (
                k == "deletionVector"
                and isinstance(v, dict)
                and v.get("storageType") == "u"
            ):
                out[k] = {**_normalize(v, root), "pathOrInlineDv": "<dv>"}
            elif k == "sidecar" and isinstance(v, dict):
                out[k] = {**_normalize(v, root), "sizeInBytes": "<size>"}
            else:
                out[k] = _normalize(v, root)
        return out
    if isinstance(value, (list, tuple)):
        return [_normalize(v, root) for v in value]
    if isinstance(value, str):
        value = value.replace(root, "<root>")
        value = _UUID.sub("<uuid>", value)
        return _HEX_DIR.sub(r"\1/<hex>/", value)
    return value


def _checkpoint_rows(log: str) -> dict:
    """{version: rows} of every checkpoint in ``log``; a v2 checkpoint's
    rows are its manifest rows followed by each sidecar's rows, in the
    manifest's order."""
    import pyarrow.parquet as pq

    out: dict = {}
    for name in sorted(os.listdir(log)):
        if ".checkpoint." not in name or not name.endswith(".parquet"):
            continue
        rows = pq.read_table(os.path.join(log, name)).to_pylist()
        for r in list(rows):
            sc = r.get("sidecar")
            if sc:
                rows += pq.read_table(
                    os.path.join(log, "_sidecars", sc["path"])
                ).to_pylist()
        out[str(int(name.split(".", 1)[0]))] = rows
    return out


def _snapshot(table_dir: str, root: str) -> dict:
    """Normalized commits, ``_last_checkpoint`` and checkpoint rows of
    one table."""
    log = os.path.join(table_dir, "_delta_log")
    commits = []
    for v in dl.list_delta_versions(table_dir):
        path = os.path.join(log, f"{v:020d}.json")
        with open(path) as f:
            commits.append([json.loads(x) for x in f if x.strip()])
    last = None
    lc = os.path.join(log, "_last_checkpoint")
    if os.path.exists(lc):
        with open(lc) as f:
            last = json.load(f)
    return _normalize(
        {
            "commits": commits,
            "last_checkpoint": last,
            "checkpoints": _checkpoint_rows(log),
        },
        root,
    )


def _golden_path(table: str) -> str:
    return os.path.join(GOLDEN_DIR, f"{table}.json")


def test_commit_files_match_goldens(spark, tmp_path):
    root = str(tmp_path)
    tables = _scripted_run(spark, root)
    assert tables == sorted(
        n[:-5] for n in os.listdir(GOLDEN_DIR) if n.endswith(".json")
    )
    for table in tables:
        got = _snapshot(os.path.join(root, table), root)
        with open(_golden_path(table)) as f:
            want = json.load(f)
        assert len(got["commits"]) == len(want["commits"]), table
        for v, (g, w) in enumerate(zip(got["commits"], want["commits"])):
            assert g == w, f"{table} commit {v}"
        assert got["last_checkpoint"] == want["last_checkpoint"], table
        assert got["checkpoints"] == want["checkpoints"], table


def regenerate_goldens(root: str | None = None) -> None:
    """Rewrite ``tests/golden/*.json`` from a fresh scripted run."""
    import shutil
    import tempfile

    from rearc_data_engineer_takehome_spark.session import get_spark

    spark = get_spark(app_name="tests", shuffle_partitions=8)
    root = root or tempfile.mkdtemp(prefix="delta_golden_")
    try:
        tables = _scripted_run(spark, root)
        if os.path.isdir(GOLDEN_DIR):
            shutil.rmtree(GOLDEN_DIR)
        os.makedirs(GOLDEN_DIR)
        for table in tables:
            with open(_golden_path(table), "w") as f:
                json.dump(
                    _snapshot(os.path.join(root, table), root), f,
                    indent=1, sort_keys=False,
                )
                f.write("\n")
    finally:
        shutil.rmtree(root, ignore_errors=True)
