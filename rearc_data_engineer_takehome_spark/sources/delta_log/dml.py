"""Row-level DML: MERGE (copy-on-write or deletion vectors), and
DELETE and UPDATE via deletion vectors.

The DV commits share ``_dv_mark_actions`` (per-file bitmaps built on
the executors), ``_run_dv_legs`` (the bitmap, change-data and data legs
run concurrently; a failed leg deletes what the others wrote) and
``_dv_commit_actions`` (the commit's action order).
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ...operators.relational import materialize
from .. import dv as _dv
from .. import _files
from .log import DeltaState, _merge_feature_protocol, _now_ms, _writable_head
from .scan import (
    _CHANGE_TYPE, _DV_IDX, _DV_PATH, _ROW_ID, _ROW_RCV, _normalize_file_uri,
    _read_state,
)
from .write import (
    _check_append_only, _commit, _enforce_row_rules, _identity_fields,
    _physical_payload, _remove_action, _rt_mat_names, _stamp_row_ids,
    _write_adds, _write_cdc_files,
)


def delta_merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
    via_dv: bool | None = None,
) -> DeltaState:
    """MERGE as a delta commit: rows whose key matches an update
    are replaced, unmatched updates inserted, re-running the same
    updates converges.

    Two physical strategies, mirroring native Delta:

    * ``via_dv=False`` — classic rewrite: remove(all)+add of the full
      merged content with ``dataChange: true``.
    * ``via_dv=True`` — DV-enabled MERGE (PROTOCOL.md "Deletion
      Vectors"): matched target rows are marked dead in their current
      files via deletion vectors (same machinery as
      :func:`delta_delete` — untouched files are NOT rewritten) and
      every update row lands in new appended files, all in one
      commit. At 100 TB a selective MERGE costs one semi-join scan,
      the updates write, and kilobytes of log, instead of rewriting
      the whole table.
    * ``via_dv=None`` (default) — auto: the DV path when the table's
      protocol already lists the ``deletionVectors`` writer feature
      (native's behavior once DVs are enabled), else the rewrite
      path — a DV-free table stays readable by DV-incapable readers.

    ``updates`` is evaluated twice on the DV path (semi-join scan +
    file write) and so MUST be deterministic, the same contract as
    any engine's MERGE source.

    Concurrency (read-merge-write TOCTOU): the merged content is
    computed FROM the head read at the start, so the commit targets
    exactly head+1 and raises ConcurrentCommitError if anything landed
    in between — silently renumbering would erase the concurrent
    commit's rows. The caller re-runs against the new head; updates
    are idempotent, so a re-run is always safe."""
    head = _writable_head(table_dir)
    _check_append_only(table_dir, head, "MERGE")
    current = _read_state(spark, table_dir, head)
    # structural check, not column-name sets: unionByName would
    # silently WIDEN the merged data files' type (long table + double
    # updates), and since no metaData action is emitted the commit
    # keeps the old schemaString — later pinned-schema reads would
    # fail with a parquet type mismatch. Same normal-form comparison
    # as appends.
    if not _files._schema_compatible(head.schema, updates.schema.json()):
        raise ValueError(
            f"MERGE updates schema is structurally incompatible with "
            f"the table schema (column name or TYPE mismatch): "
            f"updates={updates.schema.simpleString()} table="
            f"{current.schema.simpleString()}"
            " — cast the updates to the table's exact types first"
        )
    # rules check AFTER the schema gate: a structurally-valid updates
    # frame is guaranteed to resolve every constraint/invariant column
    _enforce_row_rules(
        updates, head.configuration, head.schema, "MERGE"
    )
    if via_dv is None:
        mwv = (head.protocol or {}).get("minWriterVersion", 2) or 2
        via_dv = mwv >= 7 and "deletionVectors" in (
            (head.protocol or {}).get("writerFeatures") or []
        )
    if via_dv:
        return _delta_merge_via_dv(
            spark, table_dir, head, updates, keys
        )
    rt_on = head.features.rt_enabled
    mat_cols: list = []
    if rt_on:
        # the rewrite strategy re-writes EVERY row, so stability needs
        # materialization for all of them: carried-over target rows
        # keep id AND original commit version, matched updates inherit
        # their target row's id (fresh commit version), inserts get
        # fresh ids (both columns null)
        mat_id, mat_rcv = _rt_mat_names(
            table_dir, head.configuration
        )
        fields = [
            f["name"] for f in json.loads(head.schema)["fields"]
        ]
        with_ids = _read_state(
            spark, table_dir, head, with_row_ids=True
        )
        kept = with_ids.join(
            updates.select(*keys), on=list(keys), how="left_anti"
        ).select(
            *fields,
            F.col(_ROW_ID).alias(mat_id),
            F.col(_ROW_RCV).alias(mat_rcv),
        )
        upd = updates.select(*fields).join(
            with_ids.select(*keys, F.col(_ROW_ID).alias(mat_id)),
            on=list(keys),
            how="left",
        ).select(
            *fields, mat_id,
            F.lit(None).cast("long").alias(mat_rcv),
        )
        merged = kept.unionByName(upd)
        mat_cols = [mat_id, mat_rcv]
    else:
        merged = current.join(
            updates, on=keys, how="left_anti"
        ).unionByName(updates)
    pcols = list(head.partition_cols)
    cdc_actions: list[dict] = []
    if head.features.cdf:
        # the rewrite commits remove(all)+add(all), which a CDF
        # reader would have to interpret as delete-all+insert-all;
        # the SEMANTIC change is the merge diff, so record it as cdc
        # (cdc-carrying commits are read from cdc exclusively)
        fields = [
            f["name"] for f in json.loads(head.schema)["fields"]
        ]
        pre = current.join(
            updates.select(*keys), on=list(keys), how="left_semi"
        ).select(*fields).withColumn(
            _CHANGE_TYPE, F.lit("update_preimage")
        )
        tkeys = current.select(*keys)
        post = updates.join(
            tkeys, on=list(keys), how="left_semi"
        ).select(*fields).withColumn(
            _CHANGE_TYPE, F.lit("update_postimage")
        )
        ins = updates.join(
            tkeys, on=list(keys), how="left_anti"
        ).select(*fields).withColumn(
            _CHANGE_TYPE, F.lit("insert")
        )
        cdc_actions = _write_cdc_files(
            [pre, post, ins],
            table_dir, head.schema, pcols,
        )
    merged, wpcols, _ = _physical_payload(
        merged, head.schema, pcols, extra_cols=mat_cols
    )
    adds, _ = _write_adds(merged, table_dir, wpcols)
    ts = _now_ms()
    actions: list[dict] = list(cdc_actions)
    actions.extend(
        _remove_action(head.adds[p], ts, True)
        for p in head.files
    )
    actions.extend(adds)
    if head.features.rt_active:
        actions.extend(_stamp_row_ids(
            adds, head.domain_metadata, head.version + 1
        ))
    return _commit(
        table_dir, head.version + 1, actions, head.configuration,
        "MERGE", {"keys": list(keys)}, ts=ts,
    )


def _delta_merge_via_dv(
    spark: SparkSession,
    table_dir: str,
    head: DeltaState,
    updates: DataFrame,
    keys: list[str],
) -> DeltaState:
    """DV-enabled MERGE body (gates already ran in
    delta_merge_upsert): matched target rows -> deletion vectors on
    their existing files, all update rows -> new appended files."""
    from pyspark.sql.types import StructType

    rt_on = head.features.rt_enabled
    mat_id = (
        _rt_mat_names(table_dir, head.configuration)[0]
        if rt_on else None
    )
    live = _read_state(
        spark, table_dir, head, keep_rowmeta=True,
        with_row_ids=rt_on,
    )
    hits = live.join(
        updates.select(*keys), on=list(keys), how="left_semi"
    ).select(_DV_PATH, _DV_IDX)
    marks = _dv_mark_actions(spark, table_dir, head, hits)
    if marks is None:
        removes, dv_adds = [], []
        metrics = {"n_marked": 0, "n_dv": 0, "n_dead_files": 0}
        ts = _now_ms()
    else:
        removes, dv_adds, metrics, ts = marks
    # every update row is written once — matched keys replace their
    # now-dead target rows, unmatched keys are plain inserts; column
    # order follows the TABLE schema (appends keep table schema)
    schema = StructType.fromJson(json.loads(head.schema))
    payload = updates.select(*[f.name for f in schema.fields])
    mat_cols: list = []
    if rt_on and mat_id:
        # row-tracking stability through MERGE: a matched source row
        # REPLACES its target row, so it inherits that row's id via
        # the materialized column (left join on the merge keys —
        # upsert semantics already require unique target keys);
        # unmatched inserts stay null and take fresh
        # baseRowId + row_index ids
        payload = payload.join(
            live.select(*keys, F.col(_ROW_ID).alias(mat_id)),
            on=list(keys),
            how="left",
        ).select(*[f.name for f in schema.fields], mat_id)
        mat_cols = [mat_id]
    pcols = list(head.partition_cols)
    cdc_actions: list[dict] = []
    if head.features.cdf:
        # native MERGE cdc shape: matched target rows as
        # update_preimage, their replacing source rows as
        # update_postimage, unmatched source rows as insert
        fields = [f.name for f in schema.fields]
        pre = (
            live.join(
                updates.select(*keys), on=list(keys),
                how="left_semi",
            )
            .drop(_DV_PATH, _DV_IDX)
            .select(*fields)
            .withColumn(_CHANGE_TYPE, F.lit("update_preimage"))
        )
        tkeys = live.select(*keys)
        post = updates.join(
            tkeys, on=list(keys), how="left_semi"
        ).select(*fields).withColumn(
            _CHANGE_TYPE, F.lit("update_postimage")
        )
        ins = updates.join(
            tkeys, on=list(keys), how="left_anti"
        ).select(*fields).withColumn(
            _CHANGE_TYPE, F.lit("insert")
        )
        cdc_actions = _write_cdc_files(
            [pre, post, ins],
            table_dir, head.schema, pcols,
        )
    payload, wpcols, _ = _physical_payload(
        payload, head.schema, pcols, extra_cols=mat_cols
    )
    new_adds, _ = _write_adds(payload, table_dir, wpcols)
    return _commit(
        table_dir, head.version + 1,
        _dv_commit_actions(head, cdc_actions, removes, dv_adds, new_adds),
        head.configuration,
        "MERGE", {"keys": list(keys), "strategy": "deletionVectors"},
        {
            "numTargetRowsMatched": metrics["n_marked"],
            "numDeletionVectorsAdded": metrics["n_dv"],
            "numRemovedFiles": metrics["n_dead_files"],
            "numAddedFiles": len(new_adds),
        },
        ts,
    )


def delta_delete(
    spark: SparkSession,
    table_dir: str,
    predicate,
) -> DeltaState:
    """DELETE via deletion vectors — rows matching ``predicate`` (SQL
    string or Column) are marked dead WITHOUT rewriting any parquet,
    exactly how native Delta's DV-enabled DELETE works (PROTOCOL.md
    "Deletion Vectors"): each touched file's add is re-committed with
    a descriptor pointing into a freshly written
    ``deletion_vector_<uuid>.bin``, the old add is cancelled by a
    remove carrying its descriptor, and files whose every physical
    row is now dead get a plain remove. First DV on a table upgrades
    the protocol to reader 3 / writer 7 with the deletionVectors
    feature, so incapable readers refuse instead of resurrecting the
    deleted rows.

    Scale posture: the predicate scan is a normal distributed read
    (existing DVs applied); each touched file's NEW positions are
    serialized to roaring bytes ON ITS EXECUTOR (applyInPandas per
    file — a group is bounded by one file's row count, the same
    working set native DV construction uses), and only O(touched
    files) compressed blobs reach the driver, which merges old
    positions and writes ONE .bin for the whole commit. Data files
    are never read twice nor rewritten — at 100 TB a selective
    DELETE costs one scan plus kilobytes of log.

    Concurrency: computed against the head, committed at head+1;
    anything landing in between raises ConcurrentCommitError (a
    silent renumber could double-delete against a rewritten file).
    Re-running the same predicate converges (already-dead rows no
    longer match)."""
    head = _writable_head(table_dir)
    _check_append_only(table_dir, head, "DELETE")
    live = _read_state(spark, table_dir, head, keep_rowmeta=True)
    cond = (
        F.expr(predicate) if isinstance(predicate, str) else predicate
    )
    cdf = head.features.cdf
    matched = live.where(cond)
    if cdf:
        # two consumers of the matched set under CDF (bitmap pass +
        # change-data file): materialize once instead of re-running
        # the scan and the per-file DV filter (optimization round,
        # guide §2.4) — this also makes the bitmap and cdc row sets
        # identical by construction, closing the documented
        # nondeterministic-predicate hazard
        matched = materialize(matched, "delete_matched", "cache")
    try:
        hits = matched.select(_DV_PATH, _DV_IDX)
        cdc_actions: list[dict] = []
        if cdf:
            # the bitmap pass and the change-data file write are
            # independent jobs over the SAME persisted matched set —
            # overlap them (optimization r12, guide §2 round
            # structure: the serial per-commit job floor is latency,
            # not data). The count materializes the persist exactly
            # once up front, and doubles as the converged-no-op gate
            # the bitmap pass's None used to provide; commit-action
            # assembly order below is unchanged, so the log is
            # byte-shape identical to the serial path.
            if matched.count() == 0:
                return head  # nothing matched: no commit, converged
            # CDF contract: a DV delete is NOT derivable from
            # add/remove by readers that trust cdc files, so the
            # deleted rows ride a change-data file
            marks, cdc_actions, _ = _run_dv_legs(
                table_dir,
                lambda: _dv_mark_actions(spark, table_dir, head, hits),
                lambda: _write_cdc_files(
                    matched
                    .drop(_DV_PATH, _DV_IDX)
                    .withColumn(_CHANGE_TYPE, F.lit("delete")),
                    table_dir,
                    head.schema,
                    head.partition_cols,
                ),
            )
        else:
            marks = _dv_mark_actions(spark, table_dir, head, hits)
        if marks is None:
            return head  # nothing matched: no commit, converged
        removes, dv_adds, metrics, ts = marks
    finally:
        if cdf:
            matched.unpersist()
    return _commit(
        table_dir, head.version + 1,
        _dv_commit_actions(head, cdc_actions, removes, dv_adds),
        head.configuration,
        "DELETE", {"predicate": str(predicate)},
        {
            "numDeletedRows": metrics["n_marked"],
            "numDeletionVectorsAdded": metrics["n_dv"],
            "numRemovedFiles": metrics["n_dead_files"],
        },
        ts,
    )


def _dv_mark_actions(
    spark: SparkSession, table_dir: str, head: DeltaState, hits
):
    """Shared DELETE/UPDATE machinery: turn a (``__dv_path``,
    ``__dv_idx``) relation of rows-to-mark-dead into the commit's
    remove actions and DV-carrying re-adds. Returns None when
    ``hits`` is empty, else ``(removes, dv_adds, metrics, ts)``.

    Each touched file's positions are serialized to roaring bytes ON
    ITS EXECUTOR (applyInPandas per file — a group is bounded by one
    file's row count, the same working set native DV construction
    uses) and merged there with the file's existing DV; only
    O(touched files) compressed blobs reach the driver, which packs
    them into ONE ``deletion_vector_<uuid>.bin`` for the whole
    commit. Files whose every physical row is now dead get a plain
    remove instead of a DV."""
    old_descs = {
        os.path.abspath(os.path.join(table_dir, rel)): a[
            "deletionVector"
        ]
        for rel, a in head.adds.items()
        if a.get("deletionVector")
    }
    bc_old = spark.sparkContext.broadcast((table_dir, old_descs))

    def _ser(pdf):
        import numpy as np
        import pandas as pd

        tdir, descs = bc_old.value
        ap = _normalize_file_uri(pdf[_DV_PATH].iloc[0])
        pos = np.sort(pdf[_DV_IDX].to_numpy(dtype=np.int64))
        old = descs.get(ap)
        if old is not None:
            # scan rows were live, so the new positions are disjoint
            # from the old DV's; union1d also re-sorts. Merging HERE
            # keeps the whole per-file bitmap lifecycle on the
            # executor that owns the group — the driver only ever
            # sees O(touched files) compressed blobs.
            pos = np.union1d(
                _dv.read_dv_positions(tdir, old), pos
            )
        return pd.DataFrame(
            {
                "path": [ap],
                "blob": [_dv.serialize_positions(pos)],
                "card": [len(pos)],
            }
        )

    per_file = (
        hits.groupBy(_DV_PATH)
        .applyInPandas(_ser, "path string, blob binary, card long")
        .collect()
    )
    if not per_file:
        return None

    # resolve scanned absolute paths back to ADD KEYS through the
    # same join the forward direction uses — adds may be keyed by
    # relative paths OR (shallow clones) absolute ones, and
    # relpath() against the clone root would mangle the latter
    # into ../-prefixed non-keys
    key_by_abs = {
        os.path.abspath(os.path.join(table_dir, k)): k
        for k in head.adds
    }
    merged: dict[str, tuple[bytes, int]] = {}
    for row in per_file:
        key = key_by_abs.get(os.path.abspath(row.path))
        if key is None:
            raise RuntimeError(
                f"DV scan surfaced {row.path}, which is not a live "
                f"file of {table_dir} v{head.version}"
            )
        merged[key] = (bytes(row.blob), int(row.card))

    import pyarrow.parquet as pq

    def _num_records(rel: str) -> int:
        raw = head.adds[rel].get("stats")
        if raw:
            try:
                n = json.loads(raw).get("numRecords")
                if n is not None:
                    return int(n)
            except ValueError:
                pass
        return pq.ParquetFile(
            os.path.join(table_dir, rel)
        ).metadata.num_rows

    ts = _now_ms()
    removes = [
        _remove_action(head.adds[rel], ts, True) for rel in merged
    ]
    dv_rels = [
        rel
        for rel, (_, card) in merged.items()
        if card < _num_records(rel)  # else: whole file dead
    ]
    dv_adds: list[dict] = []
    if dv_rels:
        blobs = [merged[rel][0] for rel in dv_rels]
        enc_uuid, offsets = _dv.write_dv_file(table_dir, blobs)
        for rel, blob, off in zip(dv_rels, blobs, offsets):
            a = dict(head.adds[rel])
            a["deletionVector"] = _dv.make_descriptor(
                enc_uuid, off, len(blob), merged[rel][1]
            )
            a["dataChange"] = True
            if a.get("stats"):
                try:
                    st = json.loads(a["stats"])
                    # physical min/max/numRecords are now WIDE bounds
                    # over the live rows — still valid for pruning
                    # (conservative), flagged per the spec
                    st["tightBounds"] = False
                    a["stats"] = json.dumps(
                        st, separators=(",", ":")
                    )
                except ValueError:
                    pass
            dv_adds.append({"add": a})

    n_marked = sum(
        card
        - (
            head.adds[rel].get("deletionVector", {}).get(
                "cardinality", 0
            )
            if head.adds[rel].get("deletionVector")
            else 0
        )
        for rel, (_, card) in merged.items()
    )
    metrics = {
        "n_marked": int(n_marked),
        "n_dv": len(dv_rels),
        "n_dead_files": len(merged) - len(dv_rels),
    }
    return removes, dv_adds, metrics, ts


def _run_dv_legs(table_dir: str, marks, cdc=None, write=None):
    """Run the independent jobs of a DV DELETE/UPDATE concurrently: the
    bitmap pass ``marks`` (-> :func:`_dv_mark_actions`' result), the
    change-data write ``cdc`` (-> cdc actions) and the rewritten-copy
    write ``write`` (-> :func:`_write_adds`' result), each a
    no-argument callable or None. Returns ``(marks, cdc actions, write
    result)``, with [] / None for an absent leg.

    If any leg raised, best-effort delete what the other legs wrote —
    the bitmap leg's ``deletion_vector_<uuid>.bin`` (named by its
    marks' descriptors) and the ``_change_data/<uuid>/`` and
    ``data/<uuid>/`` roots; no commit will ever reference them — and
    re-raise the first failed leg's error (bitmap, cdc, data order)."""
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(leg) if leg is not None else None
            for leg in (marks, cdc, write)
        ]
    errors = [f.exception() for f in futures if f is not None]
    m, c, w = (
        f.result() if f is not None and f.exception() is None else None
        for f in futures
    )
    if not any(errors):
        return m, c or [], w
    dv_files = {
        _dv.absolute_dv_path(table_dir, a["add"]["deletionVector"])
        for a in (m[1] if m else ())
    }
    for path in dv_files - {None}:
        try:
            os.remove(path)
        except OSError:
            pass
    # every cdc file, and every written data file
    rels = [a["cdc"]["path"] for a in c or ()] + list(w[1] if w else ())
    for root in {os.path.join(*r.split(os.sep)[:2]) for r in rels}:
        shutil.rmtree(os.path.join(table_dir, root), ignore_errors=True)
    raise next(e for e in errors if e is not None)


def _dv_commit_actions(
    head: DeltaState, cdc_actions, removes, dv_adds, new_adds=()
) -> list[dict]:
    """A DV commit's actions (DELETE, UPDATE, DV MERGE) in log order:
    change-data files, the deletionVectors protocol upgrade when the
    table lacks it, removes, DV-carrying re-adds, new files, and the
    row-id stamps of the new files."""
    actions = list(cdc_actions)
    pa = _merge_feature_protocol(
        head.protocol, {"deletionVectors"}, {"deletionVectors"}
    )
    if pa:
        actions.append({"protocol": pa})
    actions += [*removes, *dv_adds, *new_adds]
    if head.features.rt_active:
        actions.extend(_stamp_row_ids(
            new_adds, head.domain_metadata, head.version + 1
        ))
    return actions


def delta_update(
    spark: SparkSession,
    table_dir: str,
    predicate,
    assignments: dict,
) -> DeltaState:
    """UPDATE via deletion vectors — the DV-enabled UPDATE shape from
    PROTOCOL.md: rows matching ``predicate`` are marked dead in their
    current files (same machinery as :func:`delta_delete` — no
    rewrite of untouched rows) and their updated copies land in NEW
    data files, all in one atomic commit. ``assignments`` maps column
    name -> SQL string or Column; every assigned expression is cast
    to the column's declared type so the table schema is invariant
    (a type-changing UPDATE must be an explicit overwrite, never a
    silent widen). Partition-column assignments are allowed — the
    updated rows simply land in their new hive partitions.

    Scale posture: cost is two scans of the matched rows (one to
    build the per-file bitmaps, one to write the updated copies) plus
    kilobytes of log — untouched rows are never read twice nor
    rewritten. Because the two scans are separate jobs, ``predicate``
    MUST be deterministic (as in any engine's UPDATE): a random
    predicate could mark one row set dead and rewrite a different
    one. Concurrency: computed against the head, committed at
    head+1, ConcurrentCommitError on any interleaving (same TOCTOU
    rule as MERGE/DELETE)."""
    head = _writable_head(table_dir)
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(head.schema))
    names = {f.name for f in schema.fields}
    unknown = set(assignments) - names
    if unknown:
        raise ValueError(
            f"UPDATE assigns unknown columns {sorted(unknown)} "
            f"(table has {sorted(names)})"
        )
    id_cols = {
        s["name"] for s in _identity_fields(head.schema)
    } & set(assignments)
    if id_cols:
        raise ValueError(
            f"UPDATE cannot assign identity columns "
            f"{sorted(id_cols)} — identity values are "
            "writer-generated (spec rule)"
        )
    _check_append_only(table_dir, head, "UPDATE")
    rt_on = head.features.rt_enabled
    mat_id = (
        _rt_mat_names(table_dir, head.configuration)[0]
        if rt_on else None
    )
    live = _read_state(
        spark, table_dir, head, keep_rowmeta=True,
        with_row_ids=rt_on,
    )
    cond = (
        F.expr(predicate) if isinstance(predicate, str) else predicate
    )
    # Materialize the matched rows ONCE (optimization round, guide
    # §2.4/§5): without it every consumer re-runs the full scan plus
    # the per-file DV pandas filter — the bitmap pass, the CDC
    # preimage, the CDC postimage, and the rewritten-copy write are
    # FOUR scans of the same matched set (measured 2.4s vs 0.9s for
    # the single-scan DELETE on the same table). A cache (not
    # localCheckpoint) keeps lineage recomputable; the working set is
    # bounded by the matched rows, which every one of those consumers
    # materializes anyway. It also closes the documented
    # nondeterministic-predicate hazard: the bitmaps and the
    # rewritten copies now come from the SAME materialized row set.
    matched = materialize(live.where(cond), "update_matched", "cache")
    try:
        return _delta_update_commit(
            spark, table_dir, head, predicate, assignments,
            schema, matched, rt_on, mat_id,
        )
    finally:
        matched.unpersist()


def _delta_update_commit(
    spark, table_dir, head, predicate, assignments,
    schema, matched, rt_on, mat_id,
):
    """Tail of :func:`delta_update` over the persisted ``matched``
    set (split out so the cache/unpersist lifecycle wraps it)."""
    # materialize the persist exactly once up front: the count is the
    # same converged-no-op gate the bitmap pass's None return used to
    # provide, and it lets the three independent jobs below (bitmap
    # pass, change-data file, rewritten-copy write) run CONCURRENTLY
    # over the cached rows instead of as three serial job barriers
    # (optimization r12, guide §2 round structure — the scenario
    # family's floor is per-job latency, not data volume)
    if matched.count() == 0:
        return head  # nothing matched: no commit, converged

    updated = matched
    for col, expr in assignments.items():
        e = F.expr(expr) if isinstance(expr, str) else expr
        updated = updated.withColumn(
            col, e.cast(schema[col].dataType)
        )
    mat_cols: list = []
    if rt_on and mat_id:
        # row-tracking stability: the updated copies keep their
        # original row ids by MATERIALIZING them into the new files'
        # hidden column (the row's commit version stays fresh — the
        # update commit IS its new version, so defaultRowCommitVersion
        # covers it)
        updated = updated.withColumn(mat_id, F.col(_ROW_ID))
        mat_cols = [mat_id]
    updated = updated.select(
        *[f.name for f in schema.fields], *mat_cols
    )
    # the rewritten copies must satisfy the table rules — an UPDATE
    # that pushed a row outside a CHECK constraint must refuse with
    # nothing committed
    _enforce_row_rules(
        updated, head.configuration, head.schema, "UPDATE"
    )
    pcols = list(head.partition_cols)
    # the three remaining jobs — DV bitmap pass, change-data file
    # write, rewritten-copy write — are independent reads of the
    # persisted matched set (the persist closed the nondeterministic-
    # predicate hazard; threading cannot reopen it, every consumer
    # still reads the SAME materialized rows). Overlap them; the
    # commit-action assembly order below is unchanged, so the log is
    # byte-shape identical to the serial path.
    wupdated, wpcols, _ = _physical_payload(
        updated, head.schema, pcols, extra_cols=mat_cols
    )
    cdc = None
    if head.features.cdf:
        # native UPDATE cdc shape: the matched rows' old values as
        # update_preimage + their new values as update_postimage
        pre = matched.drop(_DV_PATH, _DV_IDX).select(
            *[f.name for f in schema.fields]
        ).withColumn(_CHANGE_TYPE, F.lit("update_preimage"))
        post = updated.select(
            *[f.name for f in schema.fields]
        ).withColumn(
            _CHANGE_TYPE, F.lit("update_postimage")
        )

        def cdc():
            return _write_cdc_files(
                [pre, post], table_dir, head.schema, pcols
            )

    marks, cdc_actions, (new_adds, _) = _run_dv_legs(
        table_dir,
        lambda: _dv_mark_actions(
            spark, table_dir, head, matched.select(_DV_PATH, _DV_IDX)
        ),
        cdc,
        lambda: _write_adds(wupdated, table_dir, wpcols),
    )
    removes, dv_adds, metrics, ts = marks
    return _commit(
        table_dir, head.version + 1,
        _dv_commit_actions(head, cdc_actions, removes, dv_adds, new_adds),
        head.configuration,
        "UPDATE", {"predicate": str(predicate)},
        {
            "numUpdatedRows": metrics["n_marked"],
            "numDeletionVectorsAdded": metrics["n_dv"],
            "numAddedFiles": len(new_adds),
        },
        ts,
    )
