"""Writes, and the one commit path.

``_commit`` appends the commitInfo (one ``_ENGINE_INFO`` constant),
commits through ``log._commit_actions``, replays the new version and
applies the ``delta.checkpointInterval`` auto-checkpoint. Every
operation commits through it; only ``write_checkpoint``'s own protocol
upgrade calls ``_commit_actions`` directly. Also here: data files ->
footers -> add actions (``_write_adds`` / ``_file_adds``), change-data
files, the table rules every mutating path enforces (CHECK
constraints, invariants, generated columns, appendOnly), column-mapping
payloads, identity columns, row-id stamping, and ``write_delta``.
"""

from __future__ import annotations

import json
import os
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .. import _files
from .log import (
    DeltaState, _ENGINE_INFO, _MAX_COMMIT_RETRIES, _PROTOCOL,
    _check_writer_protocol, _commit_actions, _features,
    _merge_feature_protocol, _now_ms, _writable_head, list_delta_versions,
    replay, write_checkpoint,
)
from .scan import (
    _CHANGE_TYPE, _CM_ID, _CM_PHYS, _RT_MAT_ID, _RT_MAT_RCV, _physical_struct,
)


def _maybe_auto_checkpoint(table_dir: str, state) -> None:
    """Native ``delta.checkpointInterval`` behavior: after a commit
    lands on a multiple of the interval, checkpoint the table.
    Best-effort by design (native parity): the COMMIT is already
    durable, and a failed/raced checkpoint must not turn a
    successful write into an error — the next eligible commit
    retries."""
    try:
        iv = int(
            (state.configuration or {}).get(
                "delta.checkpointInterval", 0
            ) or 0
        )
    except (TypeError, ValueError):
        return
    if iv > 0 and state.version > 0 and state.version % iv == 0:
        try:
            write_checkpoint(table_dir, state.version)
        except Exception:
            pass


def _commit(
    table_dir: str,
    version: int,
    actions: list[dict],
    configuration: dict | None,
    operation: str,
    parameters: dict,
    metrics: dict | None = None,
    ts: int | None = None,
    ict: int | None = None,
) -> DeltaState:
    """The one commit path: append the commitInfo, commit ``actions``
    at ``version`` with ICT stamping (_commit_actions), replay the new
    version, and auto-checkpoint it (_maybe_auto_checkpoint). ``ts``
    is the commit timestamp when the caller already stamped it on its
    remove actions; ``ict`` pins the inCommitTimestamp of a commit
    that enables ICT to the enablement timestamp it records. A taken
    ``version`` raises ConcurrentCommitError."""
    info = {
        "timestamp": _now_ms() if ts is None else ts,
        "operation": operation,
        "operationParameters": parameters,
    }
    if metrics is not None:
        info["operationMetrics"] = metrics
    info["engineInfo"] = _ENGINE_INFO
    if ict is not None:
        info["inCommitTimestamp"] = ict
    _commit_actions(
        table_dir, version, actions + [{"commitInfo": info}],
        configuration,
    )
    out = replay(table_dir, version)
    _maybe_auto_checkpoint(table_dir, out)
    return out


def _table_constraints(configuration: dict | None) -> dict:
    """CHECK constraints from table properties: the spec stores each
    as ``delta.constraints.<name> = <sql expression>``."""
    out = {}
    for k, v in (configuration or {}).items():
        if k.startswith("delta.constraints.") and v:
            out[k[len("delta.constraints."):]] = v
    return out


def _column_invariants(schema_json: str) -> list[tuple[str, str]]:
    """Column invariants (writer protocol 2): field metadata
    ``delta.invariants`` holds ``{"expression": {"expression":
    "<sql>"}}`` per the spec."""
    out: list[tuple[str, str]] = []
    try:
        fields = json.loads(schema_json).get("fields", [])
    except ValueError:
        return out
    for f in fields:
        inv = (f.get("metadata") or {}).get("delta.invariants")
        if not inv:
            continue
        try:
            expr = json.loads(inv)["expression"]["expression"]
        except (ValueError, KeyError, TypeError):
            raise ValueError(
                f"unparseable delta.invariants on column "
                f"{f.get('name')}: {inv!r} — refusing to write "
                "rather than silently skip enforcement"
            )
        out.append((f["name"], expr))
    return out


def _generated_columns(schema_json: str) -> list[tuple[str, str]]:
    """Generated columns (writer protocol 4): field metadata
    ``delta.generationExpression`` holds the SQL expression whose
    value the column must equal on every written row."""
    out: list[tuple[str, str]] = []
    try:
        fields = json.loads(schema_json).get("fields", [])
    except ValueError:
        return out
    for f in fields:
        gen = (f.get("metadata") or {}).get(
            "delta.generationExpression"
        )
        if gen:
            out.append((f["name"], gen))
    return out


def _enforce_row_rules(
    df: DataFrame, configuration: dict | None, schema_json: str,
    operation: str,
) -> None:
    """Enforce CHECK constraints + column invariants + generated
    columns on the rows a commit is about to add — the spec's
    writer-side contract (writer v2 invariants, v3 constraints, v4
    generated columns): a constraint/invariant row violates only
    when the expression is FALSE (NULL passes, SQL CHECK semantics);
    a generated column must null-safe-EQUAL its expression. One
    validation pass over ``df`` with all rules as parallel
    conditional counters; zero cost when the table has no rules."""
    rules = [
        (f"constraint {n}", e)
        for n, e in sorted(_table_constraints(configuration).items())
    ]
    rules += [
        (f"invariant on {c}", e)
        for c, e in _column_invariants(schema_json)
    ]
    rules += [
        # <=> is never NULL, so a NULL mismatch counts as violation
        (f"generated column {c}", f"`{c}` <=> ({e})")
        for c, e in _generated_columns(schema_json)
    ]
    if not rules:
        return
    aggs = [
        F.sum(
            F.when(F.expr(e) == F.lit(False), 1).otherwise(0)
        ).alias(f"r{i}")
        for i, (_, e) in enumerate(rules)
    ]
    row = df.agg(*aggs).collect()[0]
    violated = [
        f"{name} ({expr!r}): {row[f'r{i}']} rows"
        for i, (name, expr) in enumerate(rules)
        if (row[f"r{i}"] or 0) > 0
    ]
    if violated:
        raise ValueError(
            f"{operation} violates table rules — "
            + "; ".join(violated)
            + " — no data was committed"
        )


def _check_append_only(
    table_dir: str, state: DeltaState, operation: str
) -> None:
    """delta.appendOnly forbids any dataChange=true remove (writer
    protocol 2 contract this writer previously ignored); OPTIMIZE's
    dataChange=false rewrites stay legal."""
    if state.features.append_only:
        raise ValueError(
            f"{table_dir} is delta.appendOnly=true: {operation} "
            "would remove live rows; only appends and dataChange="
            "false OPTIMIZE are allowed"
        )


def _uses_ntz(t) -> bool:
    if isinstance(t, str):
        return t == "timestamp_ntz"
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return any(
                _uses_ntz(f["type"]) for f in t.get("fields", [])
            )
        if kind == "array":
            return _uses_ntz(t["elementType"])
        if kind == "map":
            return _uses_ntz(t["keyType"]) or _uses_ntz(
                t["valueType"]
            )
    return False


def _ntz_features(schema_json: str) -> tuple[set, set]:
    """timestampNtz is a reader+writer table feature: any schema
    USING the type (walked structurally — a column merely NAMED
    timestamp_ntz must not trigger it) must declare it so incapable
    readers refuse."""
    try:
        if _uses_ntz(json.loads(schema_json)):
            return {"timestampNtz"}, {"timestampNtz"}
    except ValueError:
        pass
    return set(), set()


_CM_MAX = "delta.columnMapping.maxColumnId"


def _remap_column_mapping(
    new_json: str,
    old_json: str | None = None,
    start_id: int = 0,
    keep_names: bool = False,
) -> tuple[str, int]:
    """Stamp ``delta.columnMapping.{id,physicalName}`` onto every
    struct field of ``new_json`` (nested included, DFS order). Fields
    whose logical path exists in ``old_json`` with a mapping KEEP
    their id and physical name (physical names are immutable for the
    life of a column — that is the whole point); new fields get
    fresh ids above ``start_id`` and ``col-<uuid>`` physical names —
    or, with ``keep_names`` (the spec's enable-on-existing-table
    upgrade), physical names EQUAL to the current logical names, so
    data files already written under logical names keep resolving.
    Returns ``(mapped schema json, max column id)``."""
    new = json.loads(new_json)
    old_fields: dict = {}

    # paths mark array/map hops explicitly so a struct inside a map
    # KEY can never alias one inside the VALUE (or a plain sibling) —
    # an alias would hand two distinct fields one id/physical name
    def _index(t, prefix):
        if isinstance(t, dict) and t.get("type") == "struct":
            for f in t.get("fields", []):
                path = prefix + (f["name"],)
                old_fields[path] = f.get("metadata") or {}
                _index(f["type"], path)
        elif isinstance(t, dict) and t.get("type") == "array":
            _index(t["elementType"], prefix + ("[]",))
        elif isinstance(t, dict) and t.get("type") == "map":
            _index(t["keyType"], prefix + ("[key]",))
            _index(t["valueType"], prefix + ("[value]",))

    if old_json:
        _index(json.loads(old_json), ())
    # fresh ids must clear BOTH the caller's high-water mark (the
    # table's maxColumnId config) and every id actually present in
    # the old schema — a foreign table with a stale config must not
    # drive duplicate id assignment
    next_id = start_id
    for meta in old_fields.values():
        if _CM_ID in meta:
            next_id = max(next_id, int(meta[_CM_ID]))

    def walk_type(t, prefix):
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                return {
                    "type": "struct",
                    "fields": [
                        walk_field(f, prefix)
                        for f in t.get("fields", [])
                    ],
                }
            if kind == "array":
                return {
                    **t,
                    "elementType": walk_type(
                        t["elementType"], prefix + ("[]",)
                    ),
                }
            if kind == "map":
                return {
                    **t,
                    "keyType": walk_type(
                        t["keyType"], prefix + ("[key]",)
                    ),
                    "valueType": walk_type(
                        t["valueType"], prefix + ("[value]",)
                    ),
                }
        return t

    def walk_field(f, prefix):
        nonlocal next_id
        path = prefix + (f["name"],)
        meta = dict(f.get("metadata") or {})
        prior = old_fields.get(path, {})
        if _CM_ID in prior and _CM_PHYS in prior:
            meta[_CM_ID] = prior[_CM_ID]
            meta[_CM_PHYS] = prior[_CM_PHYS]
        else:
            # a field the OLD schema doesn't map ALWAYS gets a fresh
            # id/physical name: a dataframe read from a DIFFERENT
            # mapped table carries that table's ids through schema
            # round-trips, and importing them could duplicate an id
            # already kept or assigned here (spec: ids unique within
            # one schema)
            meta.pop(_CM_ID, None)
            meta.pop(_CM_PHYS, None)
            next_id += 1
            meta[_CM_ID] = next_id
            meta[_CM_PHYS] = (
                f["name"] if keep_names else f"col-{uuid.uuid4()}"
            )
        return {
            **f, "metadata": meta,
            "type": walk_type(f["type"], path),
        }

    def max_id(t):
        best = 0
        if isinstance(t, dict):
            if t.get("type") == "struct":
                for f in t.get("fields", []):
                    m = (f.get("metadata") or {}).get(_CM_ID) or 0
                    best = max(best, int(m), max_id(f["type"]))
            elif t.get("type") == "array":
                best = max_id(t["elementType"])
            elif t.get("type") == "map":
                best = max(
                    max_id(t["keyType"]), max_id(t["valueType"])
                )
        return best

    mapped = {
        "type": "struct",
        "fields": [walk_field(f, ()) for f in new["fields"]],
    }
    return json.dumps(mapped), max(next_id, max_id(mapped))


def _physical_ids_struct(schema):
    """Physical-name StructType twin of ``schema`` carrying Spark's
    ``parquet.field.id`` metadata (from ``delta.columnMapping.id``)
    on EVERY struct field, nested included — the write-side mirror of
    ``_field_id_struct``. Spark's parquet writer (``spark.sql.
    parquet.fieldId.write.enabled``, default on) turns the metadata
    into ``PARQUET:field_id`` entries in the file footer, which is
    what id-mode readers address by (PROTOCOL.md "Column Mapping"
    writer requirements — field ids are mandatory in id mode and
    conformant in name mode). Returns ``None`` when any mapped field
    lacks an id: spec-required, but a foreign name-mode table missing
    ids is still writable by NAME, so the caller just skips
    stamping."""
    from pyspark.sql.types import StructType

    class _NoId(Exception):
        pass

    def walk_type(t):
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                return {
                    "type": "struct",
                    "fields": [
                        walk_field(f) for f in t.get("fields", [])
                    ],
                }
            if kind == "array":
                return {**t, "elementType": walk_type(t["elementType"])}
            if kind == "map":
                return {
                    **t,
                    "keyType": walk_type(t["keyType"]),
                    "valueType": walk_type(t["valueType"]),
                }
        return t

    def walk_field(f):
        meta = f.get("metadata") or {}
        cid = meta.get(_CM_ID)
        if cid is None:
            raise _NoId()
        return {
            "name": meta.get(_CM_PHYS, f["name"]),
            "type": walk_type(f["type"]),
            # ALWAYS nullable: this struct is only the .to() target
            # that carries the ids — .to() REFUSES a nullable input
            # into a non-nullable target field, and nullability is
            # already enforced upstream (_enforce_row_rules); a
            # nullable target accepts either
            "nullable": True,
            "metadata": {"parquet.field.id": int(cid)},
        }

    sj = json.loads(schema.json())
    try:
        fields = [walk_field(f) for f in sj["fields"]]
    except _NoId:
        return None
    return StructType.fromJson({"type": "struct", "fields": fields})


def _stamp_field_ids(out: DataFrame, schema, extra_cols):
    """Re-project ``out`` (already under physical names) so the
    written parquet files carry ``PARQUET:field_id`` footer entries:
    ``.to()`` propagates the NESTED field metadata, and the final
    select re-attaches the top-level ids that catalyst's projection
    collapse can otherwise drop (measured: a bare ``.to()`` loses the
    id on plain renamed columns while keeping struct ones).
    ``extra_cols`` (row tracking's materialized columns) ride along
    id-less — they live outside the logical schema."""
    from pyspark.sql.types import StructType

    fid = _physical_ids_struct(schema)
    if fid is None:
        return out
    target = StructType(
        list(fid.fields)
        + [out.schema[c] for c in extra_cols]
    )
    return out.to(target).select(
        *[
            F.col(f.name).alias(f.name, metadata=dict(f.metadata))
            for f in fid.fields
        ],
        *[F.col(c) for c in extra_cols],
    )


def _physical_payload(
    df: DataFrame,
    mapped_schema_json: str,
    pcols: list | tuple | None = None,
    extra_cols: list | tuple = (),
):
    """Prepare ``df`` for a column-mapped data-file write: rename
    every column (nested struct fields included, via the same-shape
    cast — the reader's rename in reverse) to its physical name and
    stamp ``parquet.field.id`` metadata so the files carry field ids
    (mandatory for id-mode readers, conformant for name mode).
    Returns ``(physical df, physical pcols, logical->physical fn)``;
    identity when the schema carries no mapping, so unmapped call
    sites pay nothing. ``extra_cols`` (row tracking's materialized
    columns) pass through under their own names — they live outside
    the logical schema and are never remapped."""
    from pyspark.sql.types import StructType

    # string containment, not a top-level-fields scan: a (malformed
    # but representable) schema mapping ONLY nested fields must still
    # take the translation path, or the write would mix logical and
    # physical names in one file
    if _CM_PHYS not in mapped_schema_json:
        return df, list(pcols or []), (lambda c: c)
    schema = StructType.fromJson(json.loads(mapped_schema_json))
    phys = _physical_struct(schema)
    out = df.select(
        *[
            F.col(lf.name).cast(pf.dataType).alias(pf.name)
            for lf, pf in zip(schema.fields, phys.fields)
        ],
        *[F.col(c) for c in extra_cols],
    )
    out = _stamp_field_ids(out, schema, extra_cols)
    pmap = {
        lf.name: pf.name
        for lf, pf in zip(schema.fields, phys.fields)
    }
    return (
        out,
        [pmap[c] for c in (pcols or [])],
        (lambda c: pmap.get(c, c)),
    )


def _delta_stats_json(md, stats_cols: list[str] | None) -> str:
    """Per-file ``add.stats`` JSON in the spec's shape from ONE
    already-read parquet footer: numRecords always, min/max/nullCount
    for the requested columns where the footer has JSON-stable scalars
    — _files._stats_from_metadata's conservative extraction."""
    out: dict = {"numRecords": md.num_rows}
    if stats_cols:
        per = _files._stats_from_metadata(md, stats_cols)
        if per:
            out["minValues"] = {c: s["min"] for c, s in per.items()}
            out["maxValues"] = {c: s["max"] for c, s in per.items()}
            out["nullCount"] = {c: s["nulls"] for c, s in per.items()}
    return json.dumps(out, separators=(",", ":"))


def _add_action(
    table_dir: str,
    rel: str,
    stats_cols: list[str] | None,
    data_change: bool = True,
    partition_values: dict | None = None,
    md=None,
) -> dict:
    """One add action; ``md`` is the file's parquet metadata if the
    caller already read the footer (write_delta does — one open per
    file, not three)."""
    import pyarrow.parquet as pq

    full = os.path.join(table_dir, rel)
    if md is None:
        md = pq.ParquetFile(full).metadata
    return {
        "add": {
            "path": rel,
            "partitionValues": partition_values or {},
            "size": os.path.getsize(full),
            "modificationTime": int(os.path.getmtime(full) * 1000),
            "dataChange": data_change,
            "stats": _delta_stats_json(md, stats_cols),
        }
    }


def _remove_action(add: dict, ts: int, data_change: bool) -> dict:
    """The remove action cancelling ``add``: per the spec the pair
    (path, deletionVector.uniqueId) is the primary key of add/remove,
    so a remove for a DV-carrying add must carry the same descriptor
    — a bare-path remove would be a different key for native readers
    (and vacuum could not age the DV file)."""
    r: dict = {
        "path": add["path"],
        "deletionTimestamp": ts,
        "dataChange": data_change,
    }
    if add.get("deletionVector"):
        r["deletionVector"] = add["deletionVector"]
    return {"remove": r}


def _meta_action(
    schema_json: str,
    meta_id: str | None = None,
    partition_cols: list[str] | None = None,
    configuration: dict | None = None,
) -> dict:
    """``configuration`` must carry the TABLE's existing properties
    through schema-changing commits — an overwrite or evolution that
    reset it to {} would silently drop CHECK constraints and
    delta.appendOnly for every subsequent writer."""
    return {
        "metaData": {
            "id": meta_id or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": list(partition_cols or []),
            "configuration": dict(configuration or {}),
            "createdTime": _now_ms(),
        }
    }


def _hive_partition_values(rel: str, partition_by: list[str]) -> dict:
    """Parse ``col=value`` segments of a hive-layout relative path into
    the spec's partitionValues string map (Spark URL-escapes special
    chars in dir names; ``__HIVE_DEFAULT_PARTITION__`` means null)."""
    from urllib.parse import unquote

    vals: dict = {}
    for seg in rel.split(os.sep):
        if "=" in seg:
            c, _, v = seg.partition("=")
            if c in partition_by:
                vals[c] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__"
                    else unquote(v)
                )
    missing = [c for c in partition_by if c not in vals]
    if missing:
        raise ValueError(
            f"data file {rel!r} lacks hive segments for partition "
            f"columns {missing}"
        )
    return vals


def _write_partitioned_data_files(
    df: DataFrame, table_dir: str, partition_by: list[str]
) -> list[str]:
    """Hive-layout twin of _files._write_data_files: executors
    write ``data/<uuid>/col=value/.../part-*.parquet`` once; partition
    columns live in the directory names (and the log), not the data
    files — the spec's layout for partitioned tables."""
    commit_id = uuid.uuid4().hex[:12]
    rel = os.path.join("data", commit_id)
    out = os.path.join(table_dir, rel)
    df.write.mode("errorifexists").partitionBy(*partition_by).parquet(out)
    files = []
    for root, _dirs, fs in os.walk(out):
        for f in fs:
            if f.endswith(".parquet"):
                files.append(
                    os.path.relpath(os.path.join(root, f), table_dir)
                )
    return sorted(files)


def _file_adds(
    table_dir: str,
    rels: list[str],
    stats_cols: list[str] | None,
    data_change: bool = True,
    wpcols: list[str] | None = None,
) -> tuple[list[dict], dict]:
    """Add actions for freshly written files, one footer read per
    file: the zero-row filter (empty input partitions are valid
    parquet but native writers never register them) AND the stats
    JSON come from the same metadata object. ``wpcols`` (physical
    partition columns) parses hive segments into partitionValues.
    Returns ``(adds, {rel: footer metadata})``."""
    import pyarrow.parquet as pq

    metas = {
        rel: pq.ParquetFile(os.path.join(table_dir, rel)).metadata
        for rel in rels
    }
    adds = [
        _add_action(
            table_dir, rel, stats_cols, data_change,
            _hive_partition_values(rel, wpcols) if wpcols else None,
            md=md,
        )
        for rel, md in metas.items()
        if md.num_rows
    ]
    return adds, metas


def _write_adds(
    df: DataFrame,
    table_dir: str,
    wpcols: list[str] | None = None,
    stats_cols: list[str] | None = None,
    data_change: bool = True,
) -> tuple[list[dict], dict]:
    """Write ``df`` as new data files (hive layout when ``wpcols``)
    and return :func:`_file_adds` of them."""
    if wpcols:
        written = _write_partitioned_data_files(df, table_dir, wpcols)
    else:
        written = _files._write_data_files(df, table_dir)
    return _file_adds(table_dir, written, stats_cols, data_change, wpcols)


def _write_cdc_files(
    df: DataFrame | list | tuple,
    table_dir: str,
    schema_json: str,
    pcols: list | tuple,
) -> list[dict]:
    """Write ``df`` (the table's LOGICAL columns + ``_change_type``)
    as spec change-data files under ``_change_data/<uuid>/`` and
    return the commit's ``cdc`` actions. Mirrors the add layout:
    column-mapped tables store physical column names, partitioned
    tables use hive directories with partitionValues keyed by
    physical names. Executors write once; only file metadata reaches
    the driver.

    ``df`` may be a LIST of branch DataFrames (UPDATE's
    preimage/postimage, MERGE's pre/post/insert): the physical-name
    projection and field-id stamping are applied PER BRANCH before
    the union. Stamping an already-unioned plan is fragile — catalyst
    pushes the metadata-bearing projection through the union and the
    per-branch projection collapse drops ``parquet.field.id`` when a
    cached relation sits below (observed with delta_update's
    persisted matched set: analyzed schema carried the ids, written
    footers did not). Per-branch stamping is the single-branch shape
    the DELETE path always used, which survives optimization."""
    names = [f["name"] for f in json.loads(schema_json)["fields"]]
    payload = None
    for b in df if isinstance(df, (list, tuple)) else [df]:
        # change files carry field ids like data files do — the id-mode
        # cdc reader addresses them by id; _change_type itself lives
        # outside the table schema and rides id-less
        p, wpcols, _ = _physical_payload(
            b.select(*names, _CHANGE_TYPE), schema_json, pcols,
            extra_cols=(_CHANGE_TYPE,),
        )
        payload = p if payload is None else payload.unionByName(p)
    commit_id = uuid.uuid4().hex[:12]
    rel_root = os.path.join("_change_data", commit_id)
    out = os.path.join(table_dir, rel_root)
    w = payload.write.mode("errorifexists")
    if wpcols:
        w = w.partitionBy(*wpcols)
    w.parquet(out)
    import pyarrow.parquet as pq

    actions: list[dict] = []
    for root, _dirs, fs in os.walk(out):
        for fname in sorted(fs):
            if not fname.endswith(".parquet"):
                continue
            full = os.path.join(root, fname)
            rel = os.path.relpath(full, table_dir)
            if not pq.ParquetFile(full).metadata.num_rows:
                continue  # empty task partitions: not registered
            actions.append(
                {
                    "cdc": {
                        "path": rel,
                        "partitionValues": (
                            _hive_partition_values(rel, wpcols)
                            if wpcols else {}
                        ),
                        "size": os.path.getsize(full),
                        "dataChange": False,
                    }
                }
            )
    return actions


# --- identity columns (PROTOCOL.md "Identity Columns") ---------------
# A field carrying delta.identity.{start,step,allowExplicitInsert}
# metadata is an identity column: writers GENERATE its values —
# start + k*step, every value beyond delta.identity.highWaterMark,
# gaps allowed (the spec's rule; per-partition allocation needs no
# total order) — and advance the high-water mark in the SAME commit's
# metaData. allowExplicitInsert=false (GENERATED ALWAYS) refuses
# explicit values outright; =true (BY DEFAULT) accepts them and rounds
# the high-water mark up to the step grid so later generated values
# can never collide.

_ID_START = "delta.identity.start"


_ID_STEP = "delta.identity.step"


_ID_HWM = "delta.identity.highWaterMark"


_ID_ALLOW = "delta.identity.allowExplicitInsert"


def _identity_fields(schema_json: str) -> list[dict]:
    """The identity columns of ``schema_json``: [{name, start, step,
    allow_explicit, hwm}] (hwm None until first generation)."""
    out: list[dict] = []
    try:
        fields = json.loads(schema_json).get("fields", [])
    except ValueError:
        return out
    for f in fields:
        meta = f.get("metadata") or {}
        if _ID_START not in meta and _ID_STEP not in meta:
            continue
        step = int(meta.get(_ID_STEP, 1))
        if step == 0:
            raise ValueError(
                f"identity column {f['name']!r} has step 0 — the "
                "spec requires a nonzero step"
            )
        hwm = meta.get(_ID_HWM)
        out.append({
            "name": f["name"],
            "start": int(meta.get(_ID_START, 1)),
            "step": step,
            "allow_explicit": bool(meta.get(_ID_ALLOW, False)),
            "hwm": None if hwm is None else int(hwm),
        })
    return out


def _identity_bump_schema(schema_json: str, hwms: dict) -> str:
    """``schema_json`` with each identity column's highWaterMark
    field-metadata replaced per ``hwms`` ({col: new hwm})."""
    sj = json.loads(schema_json)
    for f in sj.get("fields", []):
        if f["name"] in hwms:
            meta = dict(f.get("metadata") or {})
            meta[_ID_HWM] = int(hwms[f["name"]])
            f["metadata"] = meta
    return json.dumps(sj)


def _identity_generate(
    df: DataFrame, col: str, dtype, base: int, step: int
) -> tuple[DataFrame, int]:
    """Append generated identity values to ``df``: per-partition
    ranges over a broadcast offset table (one cheap count pass, then
    one Arrow-batched pass — no global sort, no single-partition
    shuffle; the spec allows gaps, so allocation only needs
    uniqueness and step arithmetic). Returns (df with col, new high
    water mark, counted total). ``df`` must be deterministic — the
    same contract as any engine's two-pass identity INSERT; the
    write path re-verifies the contract from parquet footers before
    committing (see the id_guard block in write_delta), so a
    nondeterministic input fails loudly instead of committing
    duplicate identity values."""
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    counts = {
        r.pid: r.n
        for r in df.groupBy(
            F.spark_partition_id().alias("pid")
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(counts.values())
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    out_schema = StructType(
        list(df.schema.fields) + [StructField(col, LongType(), False)]
    )

    def gen(pdf_iter):
        # TaskContext gives the partition id inside the worker
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        seen = 0
        for pdf in pdf_iter:
            k = offsets.get(pid, 0) + seen
            pdf[col] = base + step * (
                pd.RangeIndex(k + 1, k + 1 + len(pdf))
            ).to_numpy()
            seen += len(pdf)
            yield pdf

    gen_df = df.mapInPandas(gen, out_schema)
    new_hwm = base + step * total
    return (
        gen_df.withColumn(col, F.col(col).cast(dtype)),
        new_hwm,
        total,
    )


def delta_create_identity_table(
    schema,
    table_dir: str,
    identity: dict,
    partition_by: list[str] | None = None,
) -> DeltaState:
    """CREATE an EMPTY Delta table whose schema declares identity
    columns (the spec allows declaring them ONLY at creation — they
    can never be added to an existing table, matching native).
    ``schema`` is a StructType or schema-JSON string; ``identity``
    maps column name -> {start, step, allow_explicit}. The first
    write then generates values (write_delta handles both GENERATED
    ALWAYS refusal and BY DEFAULT explicit inserts)."""
    if list_delta_versions(table_dir):
        raise ValueError(
            f"{table_dir} already exists — identity columns can "
            "only be declared at table creation (spec rule)"
        )
    sj = json.loads(
        schema if isinstance(schema, str) else schema.json()
    )
    names = [f["name"] for f in sj["fields"]]
    unknown = set(identity) - set(names)
    if unknown:
        raise ValueError(
            f"identity spec names unknown columns {sorted(unknown)}"
        )
    for f in sj["fields"]:
        spec = identity.get(f["name"])
        if spec is None:
            continue
        if f["type"] != "long":
            raise ValueError(
                f"identity column {f['name']!r} must be a long "
                f"(bigint), not {f['type']!r} — the spec's type rule"
            )
        step = int(spec.get("step", 1))
        if step == 0:
            raise ValueError("identity step must be nonzero")
        meta = dict(f.get("metadata") or {})
        meta[_ID_START] = int(spec.get("start", 1))
        meta[_ID_STEP] = step
        meta[_ID_ALLOW] = bool(spec.get("allow_explicit", False))
        f["metadata"] = meta
    schema_json = json.dumps(sj)
    pcols = list(partition_by or [])
    if set(pcols) & set(identity):
        raise ValueError("identity columns cannot be partition keys")
    proto = _merge_feature_protocol(
        dict(_PROTOCOL), set(), {"identityColumns"}
    )
    return _commit(
        table_dir, 0,
        [{"protocol": proto}, _meta_action(schema_json, None, pcols, None)],
        None, "CREATE TABLE", {"identityColumns": sorted(identity)},
    )


# --- row tracking (PROTOCOL.md "Row Tracking") -----------------------
# Every add action on an enabled table carries a baseRowId and a
# defaultRowCommitVersion; a row's id is
#   coalesce(<materialized row id column>, baseRowId + row_index)
# and its commit version
#   coalesce(<materialized rcv column>, defaultRowCommitVersion).
# Fresh ids come from the rowIdHighWaterMark kept in the
# ``delta.rowTracking`` domain-metadata domain; rewrite paths (UPDATE,
# MERGE, OPTIMIZE) preserve ids by materializing them into hidden
# physical columns whose names live in the table configuration —
# stable row identity survives any rewrite, which is the feature's
# whole point (lineage for incremental/CDC consumers).

_RT_DOMAIN = "delta.rowTracking"


def _rt_hwm(domain_metadata: dict | None) -> int:
    cfg = (domain_metadata or {}).get(_RT_DOMAIN)
    if not cfg:
        return -1
    try:
        return int(json.loads(cfg).get("rowIdHighWaterMark", -1))
    except (ValueError, TypeError):
        return -1


def _rt_domain_action(hwm: int) -> dict:
    return {
        "domainMetadata": {
            "domain": _RT_DOMAIN,
            "configuration": json.dumps(
                {"rowIdHighWaterMark": hwm}, separators=(",", ":")
            ),
            "removed": False,
        }
    }


def _rt_fresh_config() -> dict:
    """Configuration entries stamped when row tracking is enabled:
    the flag plus the two materialized-column names (uuid-suffixed so
    they can never collide with user columns — the spec's shape)."""
    return {
        "delta.enableRowTracking": "true",
        _RT_MAT_ID: f"_row-id-col-{uuid.uuid4()}",
        _RT_MAT_RCV: f"_row-commit-version-col-{uuid.uuid4()}",
    }


def _stamp_row_ids(
    wrapped_adds: list[dict],
    domain_metadata: dict | None,
    version: int,
    table_dir: str | None = None,
) -> list[dict]:
    """Stamp ``baseRowId``/``defaultRowCommitVersion`` onto each
    wrapped add action (commit order — ids are provisional until the
    commit wins, so a retried commit simply restamps) and return the
    domainMetadata action advancing the high-water mark. Row counts
    come from the adds' own stats (every writer here emits
    numRecords); ``table_dir`` enables a footer-read fallback for
    foreign adds without stats (the backfill path)."""
    hwm = _rt_hwm(domain_metadata)
    for w in wrapped_adds:
        a = w["add"]
        n = None
        try:
            n = int(json.loads(a["stats"])["numRecords"])
        except (KeyError, ValueError, TypeError):
            if table_dir is not None:
                import pyarrow.parquet as pq

                n = pq.ParquetFile(
                    os.path.join(table_dir, a["path"])
                ).metadata.num_rows
        if n is None:
            raise ValueError(
                f"add action for {a.get('path')!r} lacks numRecords "
                "stats — cannot assign row ids without a row count"
            )
        a["baseRowId"] = hwm + 1
        a["defaultRowCommitVersion"] = version
        hwm += n
    return [_rt_domain_action(hwm)] if wrapped_adds else []


def _rt_mat_names(
    table_dir: str, configuration: dict | None
) -> tuple[str, str]:
    """The materialized row-id/rcv column names of an ENABLED table;
    loud failure when absent (a foreign enablement without them means
    rewrites cannot preserve ids — silently assigning fresh ones
    would break the stability contract)."""
    cfg = configuration or {}
    mat_id, mat_rcv = cfg.get(_RT_MAT_ID), cfg.get(_RT_MAT_RCV)
    if not mat_id or not mat_rcv:
        raise ValueError(
            f"{table_dir} has delta.enableRowTracking=true but no "
            "materialized row-id/commit-version column names in its "
            "configuration — rewrites cannot preserve row ids; "
            "re-enable row tracking via delta_alter_properties"
        )
    return mat_id, mat_rcv


def write_delta(
    df: DataFrame,
    table_dir: str,
    mode: str = "overwrite",
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    operation_parameters: dict | None = None,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    column_mapping: str | None = None,
    row_tracking: bool = False,
    _commit_gate=None,
) -> DeltaState:
    """Write ``df`` as one Delta commit. ``overwrite`` removes every
    previously-live file and adds the new ones (emitting a fresh
    metaData when the schema or partitioning changed — the spec's
    overwriteSchema path); ``append`` requires a structurally
    compatible schema AND identical partitioning, same rules as
    native. Data files are written ONCE by executors to an immutable
    ``data/<uuid>/`` prefix (hive layout when ``partition_by``) and
    referenced by relative path — losing a commit race never rewrites
    data, the writer just renumbers (overwrite) or re-reads the head
    and re-validates (append).

    ``column_mapping="name"`` or ``"id"`` enables column mapping on
    a CREATE (or a whole-table overwrite): every field gets an
    immutable physical name + id, data files are written under
    physical names WITH parquet field ids stamped in the footer
    (mandatory for id mode, where readers address columns by id and
    physical names are non-semantic; conformant extra metadata in
    name mode), and ``delta_rename_column`` becomes a metaData-only
    operation. Appends to a mapped table map automatically (the mode
    lives in the table's configuration); passing the flag on an
    append — or a different mode than the table's — is an error
    rather than a silent mode change.

    ``row_tracking=True`` enables row tracking on a CREATE (or a
    whole-table overwrite): every add action carries a ``baseRowId``
    and ``defaultRowCommitVersion`` assigned under the
    ``delta.rowTracking`` domain-metadata high-water mark, and every
    rewrite path from then on preserves row ids by materializing them
    (PROTOCOL.md "Row Tracking"). Appends to an enabled table stamp
    automatically; passing the flag on an append is an error.

    ``txn=(app_id, version)`` emits the spec's transaction identifier
    action and makes THIS write idempotent for that application: if
    the table has already transacted ``version`` (or newer) for
    ``app_id``, the write is skipped and the current head returned —
    exactly how native streaming sinks make micro-batch replays
    no-ops. The check re-runs inside the retry loop, so two racing
    writers with the same txn commit it once."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode {mode!r}")
    if column_mapping not in (None, "none", "name", "id"):
        raise NotImplementedError(
            f"column_mapping={column_mapping!r}: 'name' and 'id' "
            "modes are implemented"
        )
    schema_json = df.schema.json()
    pcols = list(partition_by or [])
    validated: tuple | None = None
    head0: DeltaState | None = None
    id_hwms: dict = {}
    id_guard: dict = {}
    id_specs: list = []
    if list_delta_versions(table_dir):
        # cheap metadata replay BEFORE materializing data files: the
        # writer-protocol gate must refuse up front (or a refused
        # write strands a full physical copy of df under data/), and
        # a txn that has already transacted exits without writing
        # anything. Both checks re-run inside the commit loop to
        # close the concurrent-upgrade / concurrent-txn races.
        head0 = _writable_head(table_dir)
        if mode == "overwrite":
            _check_append_only(table_dir, head0, "overwrite")
        # --- identity columns (spec "Identity Columns"): absent
        # identity columns are GENERATED (per-partition ranges above
        # the high-water mark, gaps allowed); explicit values refuse
        # under GENERATED ALWAYS and round the HWM up to the step
        # grid under BY DEFAULT. The bumped HWM rides this commit's
        # metaData; identity declarations pin the TABLE schema. ---
        id_specs = _identity_fields(head0.schema)
        if id_specs:
            import math

            from pyspark.sql.types import StructType as _St

            tschema = _St.fromJson(json.loads(head0.schema))
            for spec in id_specs:
                col, step = spec["name"], spec["step"]
                base = (
                    spec["hwm"] if spec["hwm"] is not None
                    else spec["start"] - step
                )
                if col in df.columns:
                    if not spec["allow_explicit"]:
                        raise ValueError(
                            f"identity column {col!r} is GENERATED "
                            "ALWAYS (allowExplicitInsert=false): "
                            "explicit values refuse — drop the "
                            "column and let the writer generate it"
                        )
                    mx = df.agg(
                        (F.max(col) if step > 0 else F.min(col))
                        .alias("m")
                    ).first()["m"]
                    if mx is not None and (
                        (step > 0 and mx > base)
                        or (step < 0 and mx < base)
                    ):
                        k = math.ceil((mx - base) / step)
                        id_hwms[col] = base + k * step
                else:
                    df, new_hwm, id_total = _identity_generate(
                        df, col, tschema[col].dataType, base, step
                    )
                    id_hwms[col] = new_hwm
                    id_guard[col] = (step, new_hwm, id_total)
            # identity tables PIN the table schema — rebuilding it
            # from df would drop the identity field metadata (the
            # declaration); only the high-water marks move. The pin
            # must not MASK an incompatible batch: validate the
            # incoming df (generated identity columns now present)
            # against the table schema first, the same loud error a
            # non-identity append raises — otherwise a missing /
            # extra / retyped column would commit files that silently
            # null-fill or fail to read under the pinned schema.
            if not _files._schema_compatible(
                head0.schema, df.schema.json()
            ):
                raise ValueError(
                    "append schema incompatible with table schema "
                    "(identity tables pin the declared schema; the "
                    "batch must carry exactly the non-identity "
                    "columns — merge_schema evolution is not "
                    "supported on identity tables)"
                )
            schema_json = _identity_bump_schema(
                head0.schema, id_hwms
            )
        # CHECK constraints + column invariants validate the incoming
        # rows BEFORE any file materializes (one extra pass over df,
        # zero when the table has no rules); appends enforce the
        # TABLE schema's invariants (reads pin it), overwrites the
        # incoming schema's
        _enforce_row_rules(
            df,
            head0.configuration,
            head0.schema if mode == "append" else schema_json,
            mode.upper(),
        )
        validated = (head0.configuration, head0.schema)
        if txn is not None:
            seen = (head0.txns or {}).get(txn[0])
            if seen is not None and seen >= txn[1]:
                return head0
    else:
        # brand-new table: the incoming schema may itself carry
        # invariants — enforce them from day one
        _enforce_row_rules(df, None, schema_json, mode.upper())
    # --- column-mapping resolution, BEFORE any file materializes:
    # mapped tables write data files under PHYSICAL column names, and
    # partitionValues/stats keys are physical too ---
    head_mode = head0.features.cm_mode if head0 is not None else "none"
    if column_mapping == "none" and head_mode in ("name", "id"):
        # an explicit 'none' on a mapped table is an ask to DISABLE
        # the mode — a spec-governed operation (physical rewrite +
        # protocol downgrade rules) this writer does not implement.
        # Silently keeping the mapping would ignore the caller's
        # explicit request; refuse instead (omit the flag to keep
        # the table's mode).
        raise NotImplementedError(
            f"{table_dir} has column mapping {head_mode!r} enabled; "
            "column_mapping='none' would disable it, which this "
            "writer does not implement — omit the argument to keep "
            "the table's existing mode"
        )
    if (
        column_mapping in ("name", "id")
        and head_mode in ("name", "id")
        and column_mapping != head_mode
    ):
        # name<->id is a MODE CHANGE, not an enablement: the spec
        # governs it (existing files must carry ids for id mode,
        # physical-name semantics flip) and native only allows
        # none->name upgrades — refuse rather than silently switch
        raise NotImplementedError(
            f"{table_dir} uses column mapping {head_mode!r}; "
            f"changing to {column_mapping!r} is a mode change this "
            "writer does not implement — omit the argument to keep "
            "the table's existing mode"
        )
    cm_config: dict | None = None
    if mode == "append" and head_mode in ("name", "id"):
        if not _files._schema_compatible(head0.schema, schema_json):
            if merge_schema:
                # additive evolution on a mapped table: merge keeps
                # every table field's mapping verbatim; the NEW
                # columns need ids above the high-water mark and
                # fresh physical names BEFORE any file materializes
                # (the data files must carry them)
                merged = _files._merge_schemas(
                    head0.schema, schema_json
                )
                old_max = int(
                    (head0.configuration or {}).get(_CM_MAX, 0) or 0
                )
                schema_json, mx = _remap_column_mapping(
                    merged, head0.schema, old_max
                )
                cm_config = {
                    **(head0.configuration or {}),
                    _CM_MAX: str(mx),
                }
                file_schema = schema_json
            else:
                raise ValueError(
                    "append schema incompatible with table schema "
                    "(Delta appends never silently rename/retype; "
                    "pass merge_schema=True for add-only evolution)"
                )
        else:
            file_schema = head0.schema  # appends pin the mapping
    elif head_mode in ("name", "id") or column_mapping in (
        "name", "id"
    ):
        if mode == "append" and head0 is not None:
            raise ValueError(
                "cannot enable column mapping on an append; "
                "overwrite the table with "
                f"column_mapping={column_mapping!r}"
            )
        target_mode = (
            head_mode if head_mode in ("name", "id")
            else column_mapping
        )
        base = (
            head0.schema if head_mode in ("name", "id") else None
        )
        if base is not None and _files._schema_compatible(
            base, schema_json
        ):
            # same logical shape: keep every physical name stable
            schema_json = base
            cm_config = dict(head0.configuration or {})
        else:
            old_max = int(
                ((head0.configuration or {}) if head0 else {}).get(
                    _CM_MAX, 0
                ) or 0
            )
            schema_json, mx = _remap_column_mapping(
                schema_json, base, old_max
            )
            cm_config = {
                **((head0.configuration or {}) if head0 else {}),
                "delta.columnMapping.mode": target_mode,
                _CM_MAX: str(mx),
            }
        file_schema = schema_json
    else:
        file_schema = schema_json
    # --- row-tracking resolution: new_config gains the enablement
    # entries (flag + materialized column names) when THIS write turns
    # the feature on; rt_on (a feature of the configuration this write
    # commits) means adds must be stamped ---
    if row_tracking and mode == "append" and head0 is not None \
            and not head0.features.rt_enabled:
        raise ValueError(
            "cannot enable row tracking on an append; overwrite the "
            "table with row_tracking=True (or use "
            "delta_alter_properties, which backfills existing files)"
        )
    protocol0 = head0.protocol if head0 else None
    new_config = cm_config
    commit_cfg = (
        cm_config if cm_config is not None
        else (head0.configuration or {}) if head0 else {}
    )
    if row_tracking and not _features(protocol0, commit_cfg).rt_enabled:
        new_config = commit_cfg = {**commit_cfg, **_rt_fresh_config()}
    rt_on = _features(protocol0, commit_cfg).rt_active
    wdf, wpcols, pstat = _physical_payload(df, file_schema, pcols)
    phys_stats = (
        [pstat(c) for c in stats_cols] if stats_cols else stats_cols
    )
    adds, metas = _write_adds(wdf, table_dir, wpcols, phys_stats)
    if id_guard:
        # _identity_generate allocates per-partition ranges from a
        # SEPARATE count job; a nondeterministic input (rand/sample/
        # unstable source) can change partition sizes between the
        # two jobs and overrun a range — silently emitting duplicate
        # ids below the recorded high-water mark. Verify the
        # allocation contract from the already-read parquet footers
        # (zero extra Spark jobs) BEFORE commit: total written rows
        # must equal the counted total, and every generated value
        # must stay on the allocated side of the new high-water
        # mark. Misallocation fails loudly; no files are registered.
        written_rows = sum(md.num_rows for md in metas.values())
        for col, (step, hwm, exp_total) in id_guard.items():
            if written_rows != exp_total:
                raise ValueError(
                    f"identity generation for {col!r} counted "
                    f"{exp_total} rows but {written_rows} were "
                    "written — the input DataFrame is "
                    "nondeterministic between jobs; cache/"
                    "checkpoint it before an identity append"
                )
            pname = pstat(col)
            seen_stats = False
            for md in metas.values():
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for c in range(rg.num_columns):
                        cc = rg.column(c)
                        if cc.path_in_schema != pname:
                            continue
                        st = cc.statistics
                        if st is None or not st.has_min_max:
                            continue
                        seen_stats = True
                        edge = st.max if step > 0 else st.min
                        if (step > 0 and edge > hwm) or (
                            step < 0 and edge < hwm
                        ):
                            raise ValueError(
                                f"identity value {edge} for "
                                f"{col!r} exceeds the allocated "
                                f"high-water mark {hwm} — the "
                                "input DataFrame repartitioned "
                                "between the count and generate "
                                "jobs; cache/checkpoint it before "
                                "an identity append"
                            )
            if written_rows and not seen_stats:
                raise ValueError(
                    f"identity column {col!r} carries no parquet "
                    "min/max statistics — cannot verify the "
                    "allocation contract before commit"
                )
    if _commit_gate is not None:
        # optimization hook (r12, guide §2 round structure): a caller
        # issuing several INDEPENDENT writes may overlap their data-
        # file materialization (everything above — the expensive Spark
        # jobs) in threads while keeping the COMMIT order — and thus
        # the version numbering — deterministic by gating entry to the
        # commit loop (e.g. on the previous write's completion). Not a
        # semantic knob: by this point the data files are immutable
        # under data/<uuid>/ and the loop below revalidates against
        # whatever head it finds, exactly as for any concurrent writer.
        _commit_gate()
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = list_delta_versions(table_dir)
        head = replay(table_dir) if versions else None
        if head is not None:
            # a concurrent writer may have UPGRADED the protocol since
            # the last iteration — re-gate on every head read
            _check_writer_protocol(
                table_dir, head.protocol, head.configuration
            )
            if (head.configuration, head.schema) != validated:
                # a concurrent SET TBLPROPERTIES / evolution landed
                # after validation: the rules the table now carries
                # were never checked against these rows
                if mode == "overwrite":
                    _check_append_only(table_dir, head, "overwrite")
                _enforce_row_rules(
                    df,
                    head.configuration,
                    head.schema if mode == "append" else schema_json,
                    mode.upper(),
                )
                validated = (head.configuration, head.schema)
        if txn is not None and head is not None:
            app_id, txn_version = txn
            seen = (head.txns or {}).get(app_id)
            if seen is not None and seen >= txn_version:
                return head  # already transacted: idempotent no-op
        version = (versions[-1] + 1) if versions else 0
        actions: list[dict] = []
        # a timestamp_ntz column is a reader+writer table feature
        # (incapable readers would parse the physical type wrong
        # instead of refusing); enabling column mapping likewise
        need_r, need_w = _ntz_features(schema_json)
        if cm_config is not None:  # mapped or being mapped
            need_r = need_r | {"columnMapping"}
            need_w = need_w | {"columnMapping"}
        if rt_on:
            # row ids need the domain-metadata HWM, so both features
            # land together; writers lacking them must refuse rather
            # than add files without baseRowId
            need_w = need_w | {"rowTracking", "domainMetadata"}
        if head is None:
            proto0 = dict(_PROTOCOL)
            pa0 = _merge_feature_protocol(proto0, need_r, need_w)
            actions.append({"protocol": pa0 or proto0})
            actions.append(
                _meta_action(schema_json, None, pcols, new_config)
            )
        elif mode == "overwrite":
            # overwrite may replace the schema/partitioning outright
            # (the spec's overwriteSchema path) — fresh metaData, but
            # the table's id is immutable: new schema, same identity.
            # A configuration change (enabling row tracking) also
            # needs the fresh metaData even when the schema is same.
            if head.schema != schema_json or \
                    head.partition_cols != tuple(pcols) or (
                        new_config is not None
                        and new_config != (head.configuration or {})
                    ):
                actions.append(
                    _meta_action(
                        schema_json, head.metadata_id, pcols,
                        new_config if new_config is not None
                        else head.configuration,
                    )
                )
        else:
            if partition_by is None and head.partition_cols:
                raise ValueError(
                    "append to a partitioned table must pass "
                    f"partition_by={list(head.partition_cols)}"
                )
            if tuple(pcols) != head.partition_cols:
                raise ValueError(
                    f"append partitioning {pcols} differs from table "
                    f"partitioning {list(head.partition_cols)}"
                )
            if not _files._schema_compatible(head.schema, schema_json):
                if merge_schema:
                    # additive evolution (mergeSchema): ADD-only,
                    # renames/drops/retypes stay loud errors (the
                    # validator shared with MERGE, in _files);
                    # old files null-fill the new columns because
                    # every read pins the metaData schema
                    schema_json = _files._merge_schemas(
                        head.schema, schema_json
                    )
                    actions.append(
                        _meta_action(
                            schema_json, head.metadata_id, pcols,
                            # mapped evolution carries the bumped
                            # maxColumnId computed pre-write
                            cm_config if cm_config is not None
                            else head.configuration,
                        )
                    )
                elif "typeWidening" in (
                    (head.protocol or {}).get("writerFeatures") or []
                ) and _schema_narrows_ok(head.schema, schema_json):
                    # a WIDENED table accepts narrower appends AS-IS
                    # (spec: data files may carry narrower physical
                    # types than the schema; readers upcast) — keep
                    # the table schema, write the narrow files
                    schema_json = head.schema
                else:
                    raise ValueError(
                        "append schema incompatible with table schema "
                        "(Delta appends never silently rename/retype; "
                        "pass merge_schema=True for add-only "
                        "evolution)"
                    )
            else:
                if not id_hwms:
                    schema_json = head.schema  # appends keep schema
        if id_specs and head is not None and [
            (s["name"], s["hwm"]) for s in _identity_fields(
                head.schema
            )
        ] != [(s["name"], s["hwm"]) for s in id_specs]:
            # a concurrent writer advanced an identity high-water
            # mark after we generated against it — our values could
            # collide; the caller must re-run against the new head
            raise _files.ConcurrentCommitError(
                f"identity high-water mark of {table_dir} moved "
                "while this write was generating values"
            )
        if id_hwms and not any("metaData" in a for a in actions):
            # the advanced high-water mark must land in THIS commit's
            # metaData (spec) — appends normally emit none
            actions.append(_meta_action(
                schema_json, head.metadata_id, pcols,
                head.configuration,
            ))
        if head is not None:
            # an overwrite/evolution may INTRODUCE timestamp_ntz or
            # column mapping to an existing table — the feature must
            # land in the same commit as the schema that uses it
            pa = _merge_feature_protocol(head.protocol, need_r, need_w)
            if pa:
                actions.insert(0, {"protocol": pa})
        if mode == "overwrite" and head is not None:
            ts = _now_ms()
            actions.extend(
                _remove_action(head.adds[p], ts, True)
                for p in head.files
            )
        actions.extend(adds)
        if rt_on or (head is not None and head.features.rt_active):
            # stamp fresh row ids (retries restamp against the fresh
            # head's high-water mark — ids are provisional until the
            # commit wins) and advance the domain-metadata HWM
            actions.extend(_stamp_row_ids(
                adds,
                head.domain_metadata if head is not None else None,
                version,
            ))
        if txn is not None:
            actions.append({
                "txn": {
                    "appId": txn[0],
                    "version": txn[1],
                    "lastUpdated": _now_ms(),
                }
            })
        try:
            return _commit(
                table_dir, version, actions,
                new_config if new_config is not None
                else (head.configuration if head else None),
                "WRITE",
                # caller-supplied params ride along (e.g. a streaming
                # sink's batch id for restart idempotency — the
                # txn/appId pattern); commit files stay immutable, so
                # stamping happens HERE
                {"mode": mode.upper(), **(operation_parameters or {})},
            )
        except _files.ConcurrentCommitError:
            continue  # re-read the head; our data files stay valid
    raise RuntimeError(f"delta commit to {table_dir} lost "
                       f"{_MAX_COMMIT_RETRIES} races")


# PROTOCOL.md "Type Widening": the allowed metadata-only widenings —
# every EXISTING data file keeps its narrow physical type and the
# reader upcasts (Spark's parquet reader does int32->long,
# float->double etc. natively, verified in tests), so ALTER COLUMN
# TYPE never rewrites data. Keys are (fromType, toType) in
# schema-JSON spelling.
_TYPE_WIDENINGS = {
    ("byte", "short"), ("byte", "integer"), ("byte", "long"),
    ("short", "integer"), ("short", "long"),
    ("integer", "long"),
    ("float", "double"),
    ("byte", "double"), ("short", "double"), ("integer", "double"),
}


def _schema_narrows_ok(table_json: str, incoming_json: str) -> bool:
    """Whether ``incoming_json`` is the table schema with some columns
    NARROWER along the widening matrix (same names, same order-free
    field set, every type equal or widenable to the table's). On a
    typeWidening table such appends are legal AS-IS — data files may
    carry narrower physical types than the schema; readers upcast."""
    try:
        tf = {
            f["name"]: f["type"]
            for f in json.loads(table_json)["fields"]
        }
        inf = {
            f["name"]: f["type"]
            for f in json.loads(incoming_json)["fields"]
        }
    except (ValueError, KeyError, TypeError):
        return False
    if set(tf) != set(inf):
        return False
    for name, t_type in tf.items():
        i_type = inf[name]
        if i_type == t_type:
            continue
        if not (
            isinstance(i_type, str)
            and isinstance(t_type, str)
            and (i_type, t_type) in _TYPE_WIDENINGS
        ):
            return False
    return True
