"""Reads: a ``DeltaState`` resolved to a DataFrame.

Deletion vectors are applied by a broadcast-descriptor row filter;
column-mapped tables are read by physical name (name mode) or parquet
field id (id mode); row-tracking reads add ``_row_id`` and
``_row_commit_version``. ``delta_scan`` skips files by their stats and
partition values, and ``read_delta_increment`` / ``read_delta_changes``
are the append feed and the row-level change data feed.
"""

from __future__ import annotations

import json
import os
from dataclasses import replace

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import dv as _dv
from .. import _files
from .log import DeltaState, _commit_path, replay, resolve_version_at


def read_delta(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    timestamp_ms: int | None = None,
    row_ids: bool = False,
) -> DataFrame:
    """Read a Delta table (ours or written by native Delta Lake) as of
    ``version`` — or ``timestamp_ms`` (native TIMESTAMP AS OF,
    resolved via :func:`resolve_version_at`). The read pins the log's
    schemaString (never samples a data file), so additive evolution
    null-fills pre-evolution files.

    Partitioned tables: per the spec, partition-column values live in
    each add action's ``partitionValues`` (as strings), NOT in the
    data files — the reader groups files by partition tuple, reads
    each group with the data-only schema, and restores the partition
    columns as casted literals. Group count = live partitions of the
    version being read; each group is one distributed parquet scan, so
    this stays a metadata-size concern (like any Delta reader), never
    a data shuffle.

    ``row_ids=True`` (row tracking) appends ``_row_id`` and
    ``_row_commit_version`` columns — stable logical-row identity
    surviving DV DELETE/UPDATE/MERGE and OPTIMIZE."""
    if timestamp_ms is not None:
        if version is not None:
            raise ValueError(
                "pass version OR timestamp_ms, not both"
            )
        version = resolve_version_at(table_dir, timestamp_ms)
    return _read_state(
        spark, table_dir, replay(table_dir, version),
        with_row_ids=row_ids,
    )


def _normalize_file_uri(p: str) -> str:
    """Spark's ``_metadata.file_path`` URI -> filesystem path."""
    from urllib.parse import unquote, urlparse

    return unquote(urlparse(p).path)


def _dv_live_filter(spark: SparkSession, table_dir: str, adds: dict):
    """A pandas-UDF filter dropping deleted row positions for every
    add carrying a deletionVector, or None when no file in ``adds``
    has one (the common case pays nothing). Only O(DV'd files)
    DESCRIPTORS are broadcast — each scan task resolves and decodes
    its own file's bitmap from table storage (cached per worker),
    exactly how a native Delta scan distributes DV work; membership
    is vectorized searchsorted per Arrow batch. Rows of files
    without a DV pass through untouched."""
    desc_map = {}
    for rel, a in adds.items():
        desc = a.get("deletionVector")
        if not desc:
            continue
        ap = os.path.abspath(os.path.join(table_dir, rel))
        desc_map[ap] = desc
    if not desc_map:
        return None
    bc = spark.sparkContext.broadcast((table_dir, desc_map))

    from pyspark.sql.functions import pandas_udf

    decoded: dict = {}  # per-worker positions cache

    @pandas_udf("boolean")
    def _live(paths, idxs):
        import pandas as pd

        tdir, descs = bc.value

        def positions(ap):
            # this filter is applied ONLY to the DV'd file group
            # (_scan_files), so every scan path must resolve to a
            # descriptor (a miss is path-normalization drift or a
            # symlinked tmp dir)
            if ap not in decoded and ap in descs:
                decoded[ap] = _dv.read_dv_positions(tdir, descs[ap])
            return decoded.get(ap)

        return pd.Series(~_position_hits(
            paths, idxs, positions, "deletion-vector filter",
            "resurrect deleted rows",
        ))

    return _live


def _position_hits(paths, idxs, positions, what: str, harm: str):
    """Per row of one Arrow batch of (``_metadata.file_path``,
    ``row_index``): whether the row index is in ``positions(abs
    path)``, a sorted int64 array. A null path, or a file
    ``positions`` answers None for, raises: ``what`` names the filter,
    ``harm`` what passing the row on would do.

    pd.factorize instead of a per-row Python lambda: one C-speed pass
    turns the path column into integer codes + the (tiny, O(files))
    unique list — normalization and row selection then run per FILE,
    not per row (the old .map(lambda)+string-mask body cost ~0.6s per
    150k-row scan; this is ~10ms)."""
    import numpy as np
    import pandas as pd

    out = np.zeros(len(paths), dtype=bool)
    vals = idxs.to_numpy(dtype=np.int64)
    codes, uniques = pd.factorize(paths)
    if (codes == -1).any():
        # factorize codes null/NaN paths -1 and omits them from
        # uniques — such a row would match no `codes == k` mask below
        # and silently keep its default, bypassing the loud miss
        raise ValueError(
            f"{what}: scan batch carries a null file path — cannot "
            f"resolve its positions; passing the row on would {harm}"
        )
    for k, raw in enumerate(uniques):
        ap = _normalize_file_uri(raw)
        pos = positions(ap)
        if pos is None:
            raise ValueError(
                f"{what}: scan file {ap!r} matches no known file — "
                f"path normalization drift would {harm}"
            )
        if not len(pos):
            continue
        rows = np.flatnonzero(codes == k)
        v = vals[rows]
        j = np.searchsorted(pos, v)
        hit = (j < len(pos)) & (pos[np.minimum(j, len(pos) - 1)] == v)
        out[rows[hit]] = True
    return out


# hidden row-provenance columns: file path + row index from Spark's
# parquet _metadata column, used to apply deletion vectors and to
# compute new ones in delta_delete
_DV_PATH = "__dv_path"


_DV_IDX = "__dv_idx"


# --- column mapping (PROTOCOL.md "Column Mapping") ------------------
# Name mode: every schema field carries its data file's PHYSICAL
# column name in field metadata; readers address parquet by physical
# name and expose logical names. Our reader supports name mode; id
# mode (match by parquet field id) refuses loudly at read time.

_CM_PHYS = "delta.columnMapping.physicalName"


def _physical_type(t):
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return {
                "type": "struct",
                "fields": [
                    _physical_field(f) for f in t.get("fields", [])
                ],
            }
        if kind == "array":
            return {
                **t, "elementType": _physical_type(t["elementType"])
            }
        if kind == "map":
            return {
                **t,
                "keyType": _physical_type(t["keyType"]),
                "valueType": _physical_type(t["valueType"]),
            }
    return t


def _physical_field(f: dict) -> dict:
    """A schema-JSON field renamed to its physical name (nested
    struct fields included — renames touch every level)."""
    meta = f.get("metadata") or {}
    return {
        "name": meta.get(_CM_PHYS, f["name"]),
        "type": _physical_type(f["type"]),
        "nullable": f.get("nullable", True),
        "metadata": {},
    }


def _physical_struct(read_schema):
    """StructType twin of ``read_schema`` with physical names."""
    from pyspark.sql.types import StructType

    sj = json.loads(read_schema.json())
    return StructType.fromJson(
        {
            "type": "struct",
            "fields": [_physical_field(f) for f in sj["fields"]],
        }
    )


def _relaxed(dt):
    """``dt`` with every nested containsNull/valueContainsNull/field
    nullable forced TRUE. The physical->logical rename casts a
    scanned struct to the logical type; when the table schema
    declares NOT NULL nested fields, a strict cast is a nullability
    TIGHTENING and Spark refuses it (CAST_WITHOUT_SUGGESTION) —
    nullability on a read is advisory, the data already satisfied
    the declaration at write time, so the cast target relaxes."""
    from pyspark.sql.types import StructField

    def walk(t):
        if isinstance(t, dict):
            kind = t.get("type")
            if kind == "struct":
                return {
                    "type": "struct",
                    "fields": [
                        {**f, "type": walk(f["type"]),
                         "nullable": True}
                        for f in t.get("fields", [])
                    ],
                }
            if kind == "array":
                return {
                    **t,
                    "elementType": walk(t["elementType"]),
                    "containsNull": True,
                }
            if kind == "map":
                return {
                    **t,
                    "keyType": walk(t["keyType"]),
                    "valueType": walk(t["valueType"]),
                    "valueContainsNull": True,
                }
        return t

    # DataType has no public fromJson; a single-field StructField
    # round-trip parses any type JSON
    return StructField.fromJson({
        "name": "x",
        "type": walk(json.loads(dt.json())),
        "nullable": True,
        "metadata": {},
    }).dataType


def _phys_col_name(read_schema, col: str) -> str:
    f = read_schema[col]
    return (f.metadata or {}).get(_CM_PHYS, col)


def _field_id_struct(read_schema):
    """StructType twin of ``read_schema`` for column-mapping ID mode:
    every field keeps its LOGICAL name but carries Spark's
    ``parquet.field.id`` metadata (from ``delta.columnMapping.id``),
    so the native vectorized parquet reader — with
    ``spark.sql.parquet.fieldId.read.enabled`` — matches data columns
    by the field ids the id-mode writer stamped into the files,
    ignoring physical names entirely (the spec's addressing rule;
    physical names in id mode are explicitly non-semantic). Each
    requested field is NAMED ``__fid_<id>`` rather than its logical
    name: Spark's name matching takes precedence over id matching
    when a requested name happens to collide with a DIFFERENT file
    column's name (the classic id-mode trap — a physical column named
    like another column's logical name), and placeholder names make
    such collisions impossible; the scan renames back to logical via
    the same positional cast name mode uses. Nested struct fields are
    walked too; a mapped field without an id is a protocol violation
    and refuses loudly."""
    from pyspark.sql.types import StructType

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
        cid = (f.get("metadata") or {}).get(_CM_ID)
        if cid is None:
            raise ValueError(
                f"id-mode column-mapping field {f.get('name')!r} "
                "carries no delta.columnMapping.id — the table's "
                "schema violates the spec; reading by name instead "
                "could misaddress columns"
            )
        return {
            "name": f"__fid_{int(cid)}",
            "type": walk_type(f["type"]),
            "nullable": f.get("nullable", True),
            "metadata": {"parquet.field.id": int(cid)},
        }

    sj = json.loads(read_schema.json())
    return StructType.fromJson(
        {
            "type": "struct",
            "fields": [walk_field(f) for f in sj["fields"]],
        }
    )


# --- column mapping WRITE support (name mode) -----------------------
# PROTOCOL.md "Column Mapping": a writer enabling the mode stamps
# every struct field (nested included) with a unique columnMapping.id
# and an immutable physicalName, tracks the high-water mark in
# delta.columnMapping.maxColumnId, keys partitionValues/stats by
# PHYSICAL name, and writes data files under physical column names.
# Renames then touch only metaData. Reference anchor: the reference
# persists curated tables in Delta (notebooks/20_analytics.ipynb:653)
# whose schema-evolution story is column mapping on current runtimes.

_CM_ID = "delta.columnMapping.id"


def _scan_files(
    spark: SparkSession,
    table_dir: str,
    rels: list[str],
    read_schema,
    adds: dict,
    live_udf,
    keep_rowmeta: bool = False,
    column_mapped: str = "none",
    mat_fields: list | None = None,
) -> DataFrame:
    """One distributed parquet scan over ``rels`` with deletion
    vectors applied; returns the columns of ``read_schema``
    (+ rowmeta when requested). Files without a DV take the plain
    scan — zero overhead on the common path. ``column_mapped``:
    ``'name'`` reads each field by its PHYSICAL name and renames
    back to logical — nested struct fields included, via a same-shape
    cast (field renames by position); ``'id'`` keeps logical names
    but stamps ``parquet.field.id`` metadata so Spark's native
    field-id matching addresses the data columns by the ids in the
    files (names ignored — the spec's id-mode rule). ``mat_fields``
    (row tracking) appends the table's materialized row-id/rcv
    columns to the parquet read schema — physical-only columns
    outside the logical schema, passed through by their own names
    (files predating materialization null-fill them)."""
    from pyspark.sql.types import StructType

    cm = column_mapped
    dv_set = {
        r for r in rels if adds[r].get("deletionVector")
    }
    plain = [r for r in rels if r not in dv_set]
    dvd = [r for r in rels if r in dv_set]
    if cm == "name":
        phys_schema = _physical_struct(read_schema)
    elif cm == "id":
        phys_schema = _field_id_struct(read_schema)
        # matching-by-field-id must be ON when the scan EXECUTES.
        # SCOPE: this is a session-wide conf and it stays set — the
        # scan is lazy, so set-here/unset-after would race execution.
        # It is a no-op for read schemas without field ids (every
        # name-matched scan, including all of this engine's non-delta
        # readers, which never attach parquet.field.id metadata), so
        # the only behavior it can change is a USER-supplied read
        # schema that itself carries parquet.field.id metadata — at
        # which point id-matching is what that metadata requests.
        # Engine-owned sessions also declare it at init
        # (session.py), making the setting explicit rather than a
        # first-id-read side effect.
        spark.conf.set(
            "spark.sql.parquet.fieldId.read.enabled", "true"
        )
    else:
        phys_schema = read_schema
    base = [
        F.col(pf.name).cast(_relaxed(lf.dataType)).alias(lf.name)
        if cm != "none" else F.col(lf.name)
        for pf, lf in zip(phys_schema.fields, read_schema.fields)
    ]
    extra: list = []
    if mat_fields:
        phys_schema = StructType(
            list(phys_schema.fields) + list(mat_fields)
        )
        extra = [F.col(f.name) for f in mat_fields]
    parts = []
    for group, need_meta in ((plain, keep_rowmeta), (dvd, True)):
        if not group:
            continue
        df = spark.read.schema(phys_schema).parquet(
            *[os.path.join(table_dir, f) for f in group]
        )
        if need_meta:
            df = df.select(
                *base,
                *extra,
                F.col("_metadata.file_path").alias(_DV_PATH),
                F.col("_metadata.row_index").alias(_DV_IDX),
            )
        elif cm != "none" or extra:
            df = df.select(*base, *extra)
        if group is dvd:
            df = df.where(
                live_udf(F.col(_DV_PATH), F.col(_DV_IDX))
            )
            if not keep_rowmeta:
                df = df.drop(_DV_PATH, _DV_IDX)
        parts.append(df)
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


def _with_partition_values(df, pcols, values, ptypes) -> DataFrame:
    """``df`` plus each partition column as its typed literal value;
    per the spec a null value is JSON null or, on disk,
    __HIVE_DEFAULT_PARTITION__."""
    for c, v in zip(pcols, values):
        lit = (
            F.lit(None)
            if v is None or v == "__HIVE_DEFAULT_PARTITION__"
            else F.lit(v)
        )
        df = df.withColumn(c, lit.cast(ptypes[c]))
    return df


def _read_state(
    spark: SparkSession,
    table_dir: str,
    state: DeltaState,
    keep_rowmeta: bool = False,
    with_row_ids: bool = False,
) -> DataFrame:
    """Resolve a DeltaState to a DataFrame. Files carrying deletion
    vectors are scanned with parquet ``_metadata.row_index`` and their
    deleted positions filtered out (broadcast bitmap membership);
    files without DVs take the plain scan, zero overhead. With
    ``keep_rowmeta`` every row keeps (__dv_path, __dv_idx) — the
    provenance delta_delete needs to build NEW deletion vectors.
    With ``with_row_ids`` every row carries ``_row_id`` and
    ``_row_commit_version`` per the row-tracking spec:
    coalesce(materialized column, baseRowId + row_index) resp.
    coalesce(materialized column, defaultRowCommitVersion) — the
    per-file metadata is a broadcast lookup, the position arithmetic
    stays in the distributed scan."""
    import itertools

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType.fromJson(json.loads(state.schema))
    # 'name' resolves physical column names, 'id' (round 10)
    # addresses parquet by field id via Spark's native fieldId.read
    # matching — both modes read-complete AND write-complete
    # (round 11: _physical_payload stamps the field ids)
    cm = state.features.cm_mode
    live_udf = _dv_live_filter(spark, table_dir, state.adds)
    mat_id = mat_rcv = None
    mat_fields: list | None = None
    if with_row_ids:
        cfg = state.configuration or {}
        mat_id = cfg.get(_RT_MAT_ID)
        mat_rcv = cfg.get(_RT_MAT_RCV)
        mat_fields = [
            StructField(c, LongType())
            for c in (mat_id, mat_rcv)
            if c
        ]
    if not state.files:
        empty = spark.createDataFrame([], schema)
        if with_row_ids:
            empty = empty.select(
                "*",
                F.lit(None).cast("long").alias(_ROW_ID),
                F.lit(None).cast("long").alias(_ROW_RCV),
            )
        if keep_rowmeta:
            empty = empty.select(
                "*",
                F.lit(None).cast("string").alias(_DV_PATH),
                F.lit(None).cast("long").alias(_DV_IDX),
            )
        return empty
    # row ids need per-row provenance regardless of the caller's ask
    scan_meta = keep_rowmeta or with_row_ids

    def scan(rels, read_schema):
        return _scan_files(
            spark, table_dir, rels, read_schema, state.adds,
            live_udf, scan_meta, column_mapped=cm,
            mat_fields=mat_fields,
        )

    def finish(out: DataFrame) -> DataFrame:
        if not with_row_ids:
            return out
        base_of, dcv_of = _rt_lookup_udfs(
            spark, table_dir, state.adds
        )
        rid = base_of(F.col(_DV_PATH)) + F.col(_DV_IDX)
        rcv = dcv_of(F.col(_DV_PATH))
        if mat_id:
            rid = F.coalesce(F.col(mat_id), rid)
        if mat_rcv:
            rcv = F.coalesce(F.col(mat_rcv), rcv)
        out = out.withColumn(_ROW_ID, rid).withColumn(_ROW_RCV, rcv)
        drop = [c for c in (mat_id, mat_rcv) if c]
        if not keep_rowmeta:
            drop += [_DV_PATH, _DV_IDX]
        return out.drop(*drop) if drop else out

    meta_cols = (
        [f.name for f in (mat_fields or [])]
        + [_DV_PATH, _DV_IDX]
    ) if scan_meta else []
    if not state.partition_cols:
        return finish(scan(list(state.files), schema))
    pcols = list(state.partition_cols)
    ptypes = {f.name: f.dataType for f in schema.fields}
    data_schema = StructType(
        [f for f in schema.fields if f.name not in pcols]
    )
    # spec: with column mapping (either mode), partitionValues keys
    # use PHYSICAL names while metaData.partitionColumns stay logical
    pphys = {
        c: (_phys_col_name(schema, c) if cm != "none" else c)
        for c in pcols
    }

    def pkey(rel):
        pv = state.adds[rel].get("partitionValues") or {}
        # None sorts before any string (null partitions group cleanly)
        return tuple(
            (v is not None, v or "")
            for v in (pv.get(pphys[c]) for c in pcols)
        )

    def pvals(rel):
        pv = state.adds[rel].get("partitionValues") or {}
        return tuple(pv.get(pphys[c]) for c in pcols)

    parts = []
    for _, group_iter in itertools.groupby(
        sorted(state.files, key=pkey), key=pkey
    ):
        group = list(group_iter)
        df = scan(group, data_schema)
        df = _with_partition_values(df, pcols, pvals(group[0]), ptypes)
        parts.append(
            df.select(
                *[f.name for f in schema.fields], *meta_cols
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return finish(out)


# --- change data files (PROTOCOL.md "Add CDC File") -----------------
# When delta.enableChangeDataFeed=true, commits whose row-level
# changes are NOT derivable from add/remove alone (DV deletes,
# updates, merges) carry ``cdc`` actions pointing at parquet files
# under _change_data/ holding the changed rows + a _change_type
# column. CDF readers use cdc files EXCLUSIVELY for such commits;
# plain appends/overwrites stay derivable and need none. cdc actions
# are per-commit only — never checkpointed, replay ignores them.

_CHANGE_TYPE = "_change_type"


def _read_cdc_files(
    spark: SparkSession,
    table_dir: str,
    cdc_actions: list[dict],
    end: DeltaState,
) -> DataFrame:
    """Resolve a commit's ``cdc`` actions to a DataFrame of the END
    schema's LOGICAL columns + ``_change_type`` — the exact rows the
    writer recorded (physical names renamed back, hive partition
    columns restored as typed literals, same composition rules as
    the normal read path)."""
    import itertools

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType.fromJson(json.loads(end.schema))
    cm = end.features.cm_mode
    pcols = list(end.partition_cols)
    ptypes = {f.name: f.dataType for f in schema.fields}
    data_fields = [f for f in schema.fields if f.name not in pcols]
    data_schema = StructType(data_fields)
    if cm == "id":
        # change files of an id-mode table are addressed by FIELD ID,
        # exactly like data files: the same __fid placeholder schema
        # the normal scan uses (collision-proof names, ids in
        # metadata), plus the id-less _change_type column which Spark
        # falls back to matching by name. Requires this writer's cdc
        # files to carry ids (_write_cdc_files stamps them) — a
        # foreign id-mode table's change files must per spec.
        phys = _field_id_struct(data_schema)
        spark.conf.set(
            "spark.sql.parquet.fieldId.read.enabled", "true"
        )
    elif cm == "name":
        phys = _physical_struct(data_schema)
    else:
        phys = data_schema
    read_schema = StructType(
        list(phys.fields)
        + [StructField(_CHANGE_TYPE, StringType(), True)]
    )
    base = [
        F.col(pf.name).cast(_relaxed(lf.dataType))
            .alias(lf.name)
        for pf, lf in zip(phys.fields, data_fields)
    ] + [F.col(_CHANGE_TYPE)]
    pphys = {
        c: (
            _phys_col_name(schema, c) if cm != "none" else c
        ) for c in pcols
    }

    def pkey(a):
        pv = a["cdc"].get("partitionValues") or {}
        return tuple(
            (v is not None, v or "")
            for v in (pv.get(pphys[c]) for c in pcols)
        )

    parts = []
    for _, group_iter in itertools.groupby(
        sorted(cdc_actions, key=pkey), key=pkey
    ):
        group = list(group_iter)
        df = spark.read.schema(read_schema).parquet(
            *[
                os.path.join(table_dir, a["cdc"]["path"])
                for a in group
            ]
        ).select(*base)
        pv = group[0]["cdc"].get("partitionValues") or {}
        df = _with_partition_values(
            df, pcols, [pv.get(pphys[c]) for c in pcols], ptypes
        )
        parts.append(
            df.select(
                *[f.name for f in schema.fields], _CHANGE_TYPE
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


_RT_MAT_ID = "delta.rowTracking.materializedRowIdColumnName"


_RT_MAT_RCV = (
    "delta.rowTracking.materializedRowCommitVersionColumnName"
)


_ROW_ID = "_row_id"


_ROW_RCV = "_row_commit_version"


def _rt_lookup_udfs(spark: SparkSession, table_dir: str, adds: dict):
    """Vectorized (baseRowId, defaultRowCommitVersion) lookups keyed
    by ``_metadata.file_path`` — same broadcast-descriptor design as
    _dv_live_filter: O(files) metadata ships once per executor, the
    scan stays fully distributed. Fails loudly when a live file was
    never assigned a baseRowId (a foreign table whose feature was
    enabled without backfill): inventing ids would silently break the
    stability contract."""
    import pandas as pd

    desc: dict = {}
    for rel, a in adds.items():
        ap = os.path.abspath(os.path.join(table_dir, rel))
        desc[ap] = (a.get("baseRowId"), a.get("defaultRowCommitVersion"))
    missing = sorted(
        os.path.basename(p)
        for p, (b, d) in desc.items()
        if b is None or d is None
    )
    if missing:
        raise ValueError(
            f"row-id read of {table_dir}: live files {missing[:5]} "
            "carry no baseRowId/defaultRowCommitVersion — the table's "
            "row tracking was enabled without backfilling existing "
            "files; re-enable via delta_alter_properties (which "
            "backfills) or rewrite the table"
        )
    bc = spark.sparkContext.broadcast(desc)

    from pyspark.sql.functions import pandas_udf

    def _mapped(paths, slot):
        m = bc.value
        cats = paths.astype("category")
        lut = {
            c: m[_normalize_file_uri(c)][slot]
            for c in cats.cat.categories
        }
        return cats.map(lut).astype("int64")

    @pandas_udf("long")
    def base_of(paths):
        return _mapped(paths, 0)

    @pandas_udf("long")
    def dcv_of(paths):
        return _mapped(paths, 1)

    return base_of, dcv_of


def _add_stats_view(add: dict) -> dict | None:
    """An add action's ``stats`` JSON reshaped to
    ``{col: {min, max, nulls}}`` so _file_may_match's conservative
    interval test (type-mismatch keeps, absence keeps) is shared."""
    raw = add.get("stats")
    if not raw:
        return None
    try:
        st = json.loads(raw) if isinstance(raw, str) else raw
    except ValueError:
        return None
    mins = st.get("minValues") or {}
    maxs = st.get("maxValues") or {}
    nulls = st.get("nullCount") or {}
    out = {
        c: {"min": mins[c], "max": maxs[c], "nulls": nulls.get(c, 0)}
        for c in mins
        if c in maxs
    }
    return out or None


def _partition_pruned(
    add: dict, pcols: tuple, ptypes: dict, prune: dict,
    phys: dict | None = None,
) -> bool:
    """True when a file's partitionValues PROVE no row can match: the
    partition value is the column's single value for every row, so a
    typed interval miss (or a null value against any bound) drops the
    file. Unparseable values keep the file — conservative, exact.
    ``phys`` maps logical -> physical names for column-mapped tables
    (partitionValues keys are physical per the spec)."""
    pv = add.get("partitionValues") or {}
    for col, (lo, hi) in prune.items():
        if col not in pcols:
            continue
        v = pv.get(phys.get(col, col) if phys else col)
        if v is None or v == "__HIVE_DEFAULT_PARTITION__":
            # all rows have NULL here; any bound excludes NULLs
            if lo is not None or hi is not None:
                return True
            continue
        t = ptypes.get(col, "").lower()
        try:
            if t in ("tinyint", "smallint", "int", "integer", "long",
                     "bigint"):
                tv = int(v)
            elif t in ("float", "double"):
                tv = float(v)
            else:
                tv = v
            if lo is not None and tv < lo:
                return True
            if hi is not None and tv > hi:
                return True
        except (ValueError, TypeError):
            continue  # cannot prove a miss
    return False


def delta_scan(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    prune: dict | None = None,
) -> DataFrame:
    """Data-skipping read over the delta log: drop every file whose
    add-action ``stats`` (min/max per column) or ``partitionValues``
    PROVE it cannot hold a row in ``prune`` = ``{col: (lo, hi)}``,
    scan the survivors, and re-apply the predicates row-level so
    straddling files stay exact.
    Missing/type-mismatched stats always scan. At 100 TB the skip
    decision runs over the log's metadata (KBs), never the storage
    listing — the same IO win any native Delta reader gets from the
    same stats."""
    import pyspark.sql.functions as F  # noqa: F811 (local clarity)

    state = replay(table_dir, version)
    prune = prune or {}
    sfields = json.loads(state.schema)["fields"]
    ptypes = {
        f["name"]: (
            f["type"] if isinstance(f["type"], str) else "complex"
        )
        for f in sfields
    }
    # column-mapped tables (either mode) key per-file stats and
    # partitionValues by PHYSICAL names; remap the prune columns for
    # the file-level tests (the row-level re-filter stays logical)
    cm = state.features.cm_mode != "none"
    phys = {
        f["name"]: (f.get("metadata") or {}).get(
            _CM_PHYS, f["name"]
        )
        for f in sfields
    } if cm else None
    prune_stats = (
        {phys.get(c, c): b for c, b in prune.items()}
        if phys else prune
    )
    keep = {
        p: a
        for p, a in state.adds.items()
        if _files._file_may_match(_add_stats_view(a), prune_stats)
        and not _partition_pruned(
            a, state.partition_cols, ptypes, prune, phys=phys
        )
    }
    df = _read_state(
        spark, table_dir, replace(state, files=tuple(keep), adds=keep)
    )
    for col, (lo, hi) in prune.items():
        if lo is not None:
            df = df.where(F.col(col) >= lo)
        if hi is not None:
            df = df.where(F.col(col) <= hi)
    return df


def read_delta_increment(
    spark: SparkSession,
    table_dir: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Append-only change feed: the rows ADDED between
    ``since_version`` (exclusive) and ``version`` (inclusive, default
    head), OPTIMIZE-aware like native CDF: ``dataChange: false`` actions
    (compaction rewrites of existing rows) are excluded from the feed
    instead of poisoning it. A ``dataChange: true`` remove in the
    range means an overwrite happened and the increment is not an
    append stream — refused loudly. Reads with the end version's
    schema pinned, same as read_delta."""
    from pyspark.sql.types import StructType

    end = replay(table_dir, version)
    if version is None:
        version = end.version
    if since_version > version:
        raise ValueError(
            f"since_version {since_version} is past version {version}"
        )
    if since_version == version:
        # no new commits: an empty increment, not an error —
        # pollers must not have to special-case it
        return spark.createDataFrame(
            [], StructType.fromJson(json.loads(end.schema))
        )
    added: dict = {}
    for cv in range(since_version + 1, version + 1):
        path = _commit_path(table_dir, cv)
        try:
            f = open(path)
        except FileNotFoundError:
            raise ValueError(
                f"delta increment ({since_version}, {version}] of "
                f"{table_dir} is not reconstructable: commit {cv} was "
                "garbage-collected"
            ) from None
        with f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    if action["add"].get("deletionVector") and \
                            action["add"].get("dataChange", True):
                        # a DV add means rows were DELETED from an
                        # existing file — that change cannot be
                        # expressed as appended rows (its remove in
                        # the same commit also raises below; this
                        # gate just names the cause)
                        raise ValueError(
                            f"commit {cv} of {table_dir} added a "
                            "deletion vector (DELETE) — the "
                            "increment is not an append stream; "
                            "read full versions instead"
                        )
                    if action["add"].get("dataChange", True):
                        added[action["add"]["path"]] = action["add"]
                    # dataChange=false (compaction) rewrites existing
                    # rows — not part of the change feed
                elif "remove" in action:
                    if action["remove"].get("dataChange", True):
                        raise ValueError(
                            f"commit {cv} of {table_dir} removed data "
                            "(overwrite) — the increment is not an "
                            "append stream; read full versions instead"
                        )
                    # a compaction's removes also drop its inputs from
                    # the feed if they were added IN this range: their
                    # rows live on in the dataChange=false rewrite,
                    # which the feed excludes — keep them
    schema = StructType.fromJson(json.loads(end.schema))
    if not added:
        return spark.createDataFrame([], schema)
    # route through _read_state (both layouts): the subset read must
    # honor the same column-mapping resolution as a full read
    return _read_state(
        spark, table_dir, replace(end, files=tuple(added), adds=added)
    )


def read_delta_changes(
    spark: SparkSession,
    table_dir: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Row-level change data feed over ``(since_version, version]`` —
    the native ``table_changes`` shape: every row of the table
    schema plus ``_change_type``, ``_commit_version`` and
    ``_commit_timestamp``. Commits carrying ``cdc`` actions (written
    by this module's DELETE/UPDATE/MERGE on CDF-enabled tables, or
    by any native writer) are read from their ``_change_data`` files
    EXCLUSIVELY, per the spec — update_preimage/update_postimage
    included. Commits without cdc are reconstructed from the log +
    deletion vectors. Where :func:`read_delta_increment` refuses
    non-append ranges, this reader resolves them:

    * a dataChange add of a NEW file -> its live rows as inserts;
    * a DV swap (remove+add of the same path) -> rows at the NEWLY
      dead positions as deletes (an UPDATE commit therefore yields
      its delete+insert pair, pre-image and post-image);
    * a dataChange remove without a re-add (overwrite/full-file
      delete) -> the file's then-live rows as deletes;
    * ``dataChange: false`` rewrites (OPTIMIZE / DV purge) are
      excluded — rows did not change, per the native CDF contract.

    Scale posture: one distributed scan per touched file-category
    per commit, each pinned to the END version's schema (old files
    null-fill evolved columns) and routed through the normal read
    path, so deletion vectors, hive partitions and column mapping
    all compose; positional deletes ride the same broadcast-bitmap
    row_index filter the scans use, inverted. The driver handles
    only log metadata and DV position arrays (bounded by deleted
    rows per touched file)."""
    import numpy as np

    end = replay(table_dir, version)
    if version is None:
        version = end.version
    if since_version > version:
        raise ValueError(
            f"since_version {since_version} is past version {version}"
        )
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(end.schema))

    def _empty():
        base = spark.createDataFrame([], schema)
        return base.select(
            "*",
            F.lit(None).cast("string").alias("_change_type"),
            F.lit(None).cast("long").alias("_commit_version"),
            F.lit(None).cast("long").alias("_commit_timestamp"),
        )

    if since_version == version:
        return _empty()
    # since_version == -1 reads the feed FROM TABLE CREATION
    # (native table_changes(startingVersion=0) semantics under this
    # exclusive-start API): the tracked state before version 0 is
    # empty, so the creation commit's adds read as inserts
    cur = (
        dict(replay(table_dir, since_version).adds)
        if since_version >= 0
        else {}
    )

    def _positions(add_action) -> np.ndarray:
        desc = (add_action or {}).get("deletionVector")
        if not desc:
            return np.empty(0, dtype=np.int64)
        return _dv.read_dv_positions(table_dir, desc)

    def _sub_state(adds: dict) -> DeltaState:
        return replace(end, files=tuple(adds), adds=adds)

    def _keep_positions(df, pos_map: dict):
        """Inverse of the live filter: KEEP only (file, row_index)
        pairs named in ``pos_map`` (abs path -> sorted positions)."""
        bc = spark.sparkContext.broadcast(pos_map)
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("boolean")
        def _hit(paths, idxs):
            import pandas as pd

            # the raw scan covers exactly pos_map's files (mirror image
            # of the live filter's resurrect hazard)
            return pd.Series(_position_hits(
                paths, idxs, bc.value.get, "change-feed diff filter",
                "drop changed rows",
            ))

        return df.where(
            _hit(F.col(_DV_PATH), F.col(_DV_IDX))
        ).drop(_DV_PATH, _DV_IDX)

    def _roll_forward(quiet, removes_v, adds_v):
        """Apply one commit to the tracked state ``cur``: its
        dataChange=false rewrites in log order, then its data removes
        (a path the commit re-adds is replaced instead), then its data
        adds. A remove cancels a live add only under the same (path,
        DV unique id) key, as in replay."""
        def cancel(r):
            live = cur.get(r["path"])
            if live is not None and _dv.dv_unique_id(
                r.get("deletionVector")
            ) == _dv.dv_unique_id(live.get("deletionVector")):
                cur.pop(r["path"])

        for action in quiet:
            if "add" in action:
                cur[action["add"]["path"]] = action["add"]
            else:
                cancel(action["remove"])
        for path, r in removes_v.items():
            if path not in adds_v:
                cancel(r)
        cur.update(adds_v)

    parts: list[DataFrame] = []

    def _stamp(df, change, cv, ts):
        parts.append(
            df.select(
                *[f.name for f in schema.fields],
                F.lit(change).alias("_change_type"),
                F.lit(cv).cast("long").alias("_commit_version"),
                F.lit(ts).cast("long").alias("_commit_timestamp"),
            )
        )

    for cv in range(since_version + 1, version + 1):
        try:
            f = open(_commit_path(table_dir, cv))
        except FileNotFoundError:
            raise ValueError(
                f"change feed ({since_version}, {version}] of "
                f"{table_dir} is not reconstructable: commit {cv} "
                "was garbage-collected"
            ) from None
        adds_v: dict = {}
        removes_v: dict = {}
        quiet: list[dict] = []  # dataChange=false bookkeeping
        cdc_v: list[dict] = []
        ts = None
        with f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "add" in action:
                    a = action["add"]
                    if a.get("dataChange", True):
                        adds_v[a["path"]] = a
                    else:
                        quiet.append(action)
                elif "remove" in action:
                    r = action["remove"]
                    if r.get("dataChange", True):
                        removes_v[r["path"]] = r
                    else:
                        quiet.append(action)
                elif "cdc" in action:
                    cdc_v.append(action)
                elif "commitInfo" in action:
                    # ICT spec: once enabled, inCommitTimestamp
                    # REPLACES commit-timestamp reporting — the CDF's
                    # _commit_timestamp must agree with
                    # resolve_version_at / TIMESTAMP AS OF for the
                    # same commit (mirrors _commit_ict's preference)
                    ci = action["commitInfo"]
                    ts = ci.get(
                        "inCommitTimestamp", ci.get("timestamp")
                    )
        if cdc_v:
            # spec: a commit carrying cdc actions is read from its
            # change-data files EXCLUSIVELY — its add/remove pairs
            # may be a whole-table rewrite whose semantic diff only
            # the cdc files record (e.g. a rewrite-strategy MERGE).
            # The tracked state still rolls forward below.
            cdf = _read_cdc_files(spark, table_dir, cdc_v, end)
            parts.append(
                cdf.select(
                    *[f.name for f in schema.fields],
                    F.col(_CHANGE_TYPE).alias("_change_type"),
                    F.lit(cv).cast("long").alias("_commit_version"),
                    F.lit(ts).cast("long").alias(
                        "_commit_timestamp"
                    ),
                )
            )
            _roll_forward(quiet, removes_v, adds_v)
            continue
        full_inserts: dict = {}
        full_deletes: dict = {}
        del_pos: dict = {}  # abs path -> newly dead positions
        ins_pos: dict = {}  # abs path -> resurrected positions
        diffed: set = set()
        for path, a in adds_v.items():
            old = cur.get(path)
            if old is None and path not in removes_v:
                full_inserts[path] = a  # brand-new file
                continue
            # DV swap (remove+add of the path, or silent replace):
            # rows dead in NEW but not OLD are deletes; the reverse
            # (a shrink — nonstandard but representable) re-inserts
            base = old if old is not None else removes_v.get(path)
            oldp = _positions(base)
            newp = _positions(a)
            ap = os.path.abspath(os.path.join(table_dir, path))
            dead = np.setdiff1d(newp, oldp)
            born = np.setdiff1d(oldp, newp)
            if len(dead):
                del_pos[ap] = dead
            if len(born):
                ins_pos[ap] = born
            diffed.add(path)
        for path, r in removes_v.items():
            if path in diffed:
                continue
            old = cur.get(path)
            # the file's live rows AT REMOVAL time are the deletes;
            # prefer the remove's own descriptor (spec carries it),
            # fall back to the tracked state's
            src = dict(old or {})
            src.setdefault("path", path)
            if r.get("deletionVector"):
                src["deletionVector"] = r["deletionVector"]
            full_deletes[path] = src
        if full_inserts:
            _stamp(
                _read_state(
                    spark, table_dir, _sub_state(full_inserts)
                ),
                "insert", cv, ts,
            )
        if full_deletes:
            _stamp(
                _read_state(
                    spark, table_dir, _sub_state(full_deletes)
                ),
                "delete", cv, ts,
            )
        for pos_map, change in ((del_pos, "delete"),
                                (ins_pos, "insert")):
            if not pos_map:
                continue
            # read the raw physical rows (no DV filter: dead rows
            # ARE the payload) with row_index, keep the diff set
            # add keys may be relative or (shallow clones) absolute;
            # map scanned absolute paths back through the same join
            # the forward direction uses instead of relpath()
            key_by_abs = {
                os.path.abspath(os.path.join(table_dir, k)): k
                for k in list(adds_v) + list(cur)
            }
            bare = {}
            for ap in pos_map:
                rel = key_by_abs.get(os.path.abspath(ap))
                src = (
                    (adds_v.get(rel) or cur.get(rel))
                    if rel is not None else None
                )
                if src is None:
                    raise RuntimeError(
                        f"change feed of {table_dir} commit {cv} "
                        f"references {ap}, which is in neither the "
                        "tracked state nor the commit"
                    )
                bare[rel] = {
                    k: v
                    for k, v in src.items()
                    if k != "deletionVector"
                }
            raw = _read_state(
                spark, table_dir, _sub_state(bare),
                keep_rowmeta=True,
            )
            _stamp(_keep_positions(raw, pos_map), change, cv, ts)
        _roll_forward(quiet, removes_v, adds_v)

    if not parts:
        return _empty()
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out
