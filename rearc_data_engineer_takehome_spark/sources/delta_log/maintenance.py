"""Table maintenance: OPTIMIZE (plain, per-partition and clustered,
sharing ``_optimize_rewrite`` and ``_optimize_commit``), CLUSTER BY,
SET/UNSET TBLPROPERTIES, RENAME/DROP COLUMN, the column-mapping
upgrade, type widening, shallow CLONE, CONVERT TO DELTA, RESTORE,
VACUUM and DESCRIBE HISTORY.
"""

from __future__ import annotations

import json
import os
import re
import uuid

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .. import dv as _dv
from .. import _files
from .log import (
    DeltaState, _CP_NAME, _CP_V2, _LOGDIR, _MAX_COMMIT_RETRIES, _SIDECAR_DIR,
    _check_protocol, _check_writer_protocol, _checkpoint_files, _commit_ict,
    _commit_path, _features, _log_dir, _merge_feature_protocol, _now_ms,
    _v2_sidecar_paths, _writable_head, list_delta_versions, replay,
    write_checkpoint,
)
from .scan import (
    _CM_PHYS, _DV_IDX, _DV_PATH, _ROW_ID, _ROW_RCV, _dv_live_filter,
    _phys_col_name, _read_state, _rt_lookup_udfs, _scan_files,
)
from .write import (
    _CM_MAX, _TYPE_WIDENINGS, _check_append_only, _column_invariants, _commit,
    _delta_stats_json, _enforce_row_rules, _file_adds, _generated_columns,
    _meta_action, _physical_payload, _remap_column_mapping, _remove_action,
    _rt_domain_action, _rt_fresh_config, _rt_hwm, _rt_mat_names,
    _stamp_row_ids, _table_constraints, _write_adds,
)


# --- clustered tables (PROTOCOL.md "Clustered Table") ----------------
# The clustering writer feature: clustering columns live in the
# ``delta.clustering`` domain-metadata domain ({"clusteringColumns":
# [["col"], ...]} — name-part arrays, PHYSICAL names under column
# mapping), and clustering OPTIMIZE rewrites carry
# ``clusteringProvider`` on their add actions. The physical layout
# here is a Morton (Z-order) range-partitioned sort
# (operators/layout.zorder_key), so per-file min/max stats prune on
# EVERY clustering dimension, not just a lead sort key.

_CLUSTER_DOMAIN = "delta.clustering"


def clustering_columns(state: DeltaState) -> list[str]:
    """The table's clustering columns (LOGICAL names), [] when the
    table is not clustered."""
    cfg = (state.domain_metadata or {}).get(_CLUSTER_DOMAIN)
    if not cfg:
        return []
    parts = json.loads(cfg).get("clusteringColumns") or []
    phys_to_logical = {}
    try:
        for f in json.loads(state.schema)["fields"]:
            p = (f.get("metadata") or {}).get(_CM_PHYS)
            if p:
                phys_to_logical[p] = f["name"]
    except ValueError:
        pass
    out = []
    for name_parts in parts:
        n = name_parts[0] if name_parts else ""
        out.append(phys_to_logical.get(n, n))
    return out


def delta_set_clustering(
    table_dir: str, cols: list[str]
) -> DeltaState:
    """ALTER TABLE CLUSTER BY: record ``cols`` as the table's
    clustering columns in the ``delta.clustering`` domain (spec
    shape) and upgrade the writer protocol with the ``clustering`` +
    ``domainMetadata`` features. Metadata-only — the next
    :func:`delta_cluster_optimize` produces the physical layout,
    exactly how native defers clustering work to OPTIMIZE."""
    head = _writable_head(table_dir)
    sj = json.loads(head.schema)
    by_name = {f["name"]: f for f in sj["fields"]}
    missing = [c for c in cols if c not in by_name]
    if missing:
        raise ValueError(
            f"clustering columns {missing} not in table schema "
            f"{sorted(by_name)}"
        )
    if set(cols) & set(head.partition_cols):
        raise ValueError(
            "clustering columns cannot overlap partition columns"
        )
    # spec: stored as name-part arrays, physical names under mapping
    stored = [
        [
            (by_name[c].get("metadata") or {}).get(_CM_PHYS, c)
        ]
        for c in cols
    ]
    actions: list[dict] = []
    pa = _merge_feature_protocol(
        head.protocol, set(), {"clustering", "domainMetadata"}
    )
    if pa:
        actions.append({"protocol": pa})
    actions.append({
        "domainMetadata": {
            "domain": _CLUSTER_DOMAIN,
            "configuration": json.dumps(
                {"clusteringColumns": stored},
                separators=(",", ":"),
            ),
            "removed": False,
        }
    })
    return _commit(
        table_dir, head.version + 1, actions, head.configuration,
        "CLUSTER BY", {"columns": list(cols)},
    )


def delta_cluster_optimize(
    spark: SparkSession,
    table_dir: str,
    target_files: int,
    stats_cols: list[str] | None = None,
    bits: int = 8,
) -> DeltaState:
    """OPTIMIZE of a clustered table: rewrite the live rows Z-ordered
    on the recorded clustering columns (Morton key, range-partitioned
    + sorted, so every output file covers a compact hyper-rectangle
    and footer stats prune on ANY clustering dimension) and commit
    remove+add with ``dataChange: false``; the new adds carry
    ``clusteringProvider`` per the spec. Row-tracking tables keep
    ids and commit versions via the materialized columns, same as
    plain OPTIMIZE. Unpartitioned tables only (clustering replaces
    hive partitioning — native's liquid-clustering posture)."""
    from ...operators.layout import zorder_key

    head = _writable_head(table_dir)
    cols = clustering_columns(head)
    if not cols:
        raise ValueError(
            f"{table_dir} has no clustering columns — run "
            "delta_set_clustering first"
        )
    if head.partition_cols:
        raise ValueError(
            "clustered OPTIMIZE supports unpartitioned tables only "
            "(clustering replaces hive partitioning)"
        )
    def layout(df):
        return (
            df.withColumn("__zkey", zorder_key(df, cols, bits))
            .repartitionByRange(target_files, "__zkey")
            .sortWithinPartitions("__zkey")
            .drop("__zkey")
        )

    return _optimize_rewrite(
        spark, table_dir, head, layout,
        list(stats_cols) if stats_cols else list(cols),
        {"targetFiles": target_files, "clusterBy": list(cols)},
        provider="liquid",
    )


def _optimize_commit(
    table_dir: str,
    head: DeltaState,
    removed: tuple[str, ...] | list[str],
    adds: list[dict],
    parameters: dict,
) -> DeltaState:
    """Commit an OPTIMIZE rewrite computed against ``head``: remove the
    ``removed`` paths, add ``adds``, both ``dataChange: false``. Race
    rule: a concurrent APPEND composes with a verbatim retry (its
    files are not in our remove set, so the retried commit yields the
    append's rows + the rewrite = exactly the right content), but any
    interleaved REMOVE (overwrite/another compact) raises
    ConcurrentCommitError — retrying verbatim would resurrect its
    removed rows. Each attempt restamps row ids against the CURRENT
    head's high-water mark, which a composed append advances."""
    rt = head.features.rt_active
    for _ in range(_MAX_COMMIT_RETRIES):
        version = list_delta_versions(table_dir)[-1] + 1
        # inspect commits that landed since we computed the rewrite
        for cv in range(head.version + 1, version):
            with open(_commit_path(table_dir, cv)) as f:
                if any("remove" in json.loads(line) for line in f):
                    raise _files.ConcurrentCommitError(
                        f"OPTIMIZE of {table_dir} computed against "
                        f"v{head.version} raced a remove in v{cv}; "
                        "re-run against the new head"
                    )
        ts = _now_ms()
        actions: list[dict] = [
            _remove_action(head.adds[p], ts, False) for p in removed
        ]
        actions.extend(adds)
        if rt:
            actions.extend(_stamp_row_ids(
                adds, replay(table_dir).domain_metadata, version
            ))
        try:
            return _commit(
                table_dir, version, actions, head.configuration,
                "OPTIMIZE", parameters, ts=ts,
            )
        except _files.ConcurrentCommitError:
            continue  # appends compose; removes raised above
    raise RuntimeError(
        f"OPTIMIZE of {table_dir} lost {_MAX_COMMIT_RETRIES} races"
    )


def delta_compact(
    spark: SparkSession,
    table_dir: str,
    target_files: int,
    stats_cols: list[str] | None = None,
) -> DeltaState:
    """OPTIMIZE: rewrite the head's content into ``target_files``
    files and commit remove+add with ``dataChange: false`` — history
    stays time-travelable, the change feed skips the rewrite (native
    semantics). A concurrent append composes with the commit, an
    interleaved remove raises ConcurrentCommitError
    (:func:`_optimize_commit`)."""
    if target_files < 1:
        raise ValueError("target_files must be >= 1")
    head = _writable_head(table_dir)
    if head.partition_cols:
        return _delta_compact_partitioned(
            spark, table_dir, head, target_files, stats_cols,
        )
    return _optimize_rewrite(
        spark, table_dir, head, lambda df: df.coalesce(target_files),
        stats_cols, {"targetFiles": target_files},
    )


def _optimize_rewrite(
    spark: SparkSession,
    table_dir: str,
    head: DeltaState,
    layout,
    stats_cols: list[str] | None,
    parameters: dict,
    provider: str | None = None,
) -> DeltaState:
    """The rewrite shared by plain and clustered OPTIMIZE of an
    unpartitioned table: read the head's live rows, lay them out with
    ``layout`` (DataFrame -> DataFrame), write them as ``dataChange:
    false`` adds (tagged ``clusteringProvider`` when ``provider``) and
    commit through :func:`_optimize_commit`. OPTIMIZE changes no rows,
    so on a row-tracking table the rewritten rows keep BOTH their ids
    and their original commit versions — materialized into the new
    files (fresh defaults can't represent rows drawn from many source
    commits)."""
    rt_on = head.features.rt_enabled
    mat_cols: list = []
    df = _read_state(spark, table_dir, head, with_row_ids=rt_on)
    if rt_on:
        mat_id, mat_rcv = _rt_mat_names(
            table_dir, head.configuration
        )
        df = df.withColumnRenamed(_ROW_ID, mat_id) \
               .withColumnRenamed(_ROW_RCV, mat_rcv)
        mat_cols = [mat_id, mat_rcv]
    df, _wp, pstat = _physical_payload(
        layout(df), head.schema, extra_cols=mat_cols
    )
    adds, _ = _write_adds(
        df, table_dir,
        stats_cols=[pstat(c) for c in stats_cols] if stats_cols
        else stats_cols,
        data_change=False,
    )
    if provider:
        for a in adds:
            a["add"]["clusteringProvider"] = provider
    return _optimize_commit(
        table_dir, head, head.files, adds, parameters
    )


def _hive_segment(col: str, value: str | None) -> str:
    """One ``col=value`` directory segment, the inverse of
    _hive_partition_values: URL-escape the value, null serializes as
    __HIVE_DEFAULT_PARTITION__ (the spec/Hive convention)."""
    from urllib.parse import quote

    if value is None:
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    return f"{col}={quote(value, safe='')}"


def _delta_compact_partitioned(
    spark: SparkSession,
    table_dir: str,
    head: DeltaState,
    target_files: int,
    stats_cols: list[str] | None,
) -> DeltaState:
    """Per-partition bin packing — how OPTIMIZE works on partitioned
    tables (files never combine across partition boundaries): every
    partition holding more than ``target_files`` files is rewritten to
    ``target_files`` within its own hive directory; partitions already
    at or below the target keep their files untouched (no needless
    churn, no stats loss). Removes cover ONLY the replaced files, so
    the same concurrency rule as the unpartitioned path holds: a
    concurrent append composes with a verbatim retry (even an append
    INTO a compacted partition — its files are not in the remove set),
    any interleaved remove raises. Work scales with the partitions
    that need packing, not table size; each partition rewrite is one
    distributed read+write of just that partition's files."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(json.loads(head.schema))
    pcols = list(head.partition_cols)
    data_schema = StructType(
        [f for f in schema.fields if f.name not in pcols]
    )
    # column-mapped tables (either mode) key partitionValues, hive
    # segments, and stats by PHYSICAL names (the reader's pphys,
    # mirrored here)
    cm = head.features.cm_mode
    pphys = {
        c: (_phys_col_name(schema, c) if cm != "none" else c)
        for c in pcols
    }
    groups: dict[tuple, list[str]] = {}
    for rel, a in head.adds.items():
        pv = a.get("partitionValues") or {}
        key = tuple(
            None if pv.get(pphys[c]) == "__HIVE_DEFAULT_PARTITION__"
            else pv.get(pphys[c])
            for c in pcols
        )
        groups.setdefault(key, []).append(rel)
    to_pack = {k: fs for k, fs in groups.items()
               if len(fs) > target_files}
    if not to_pack:
        return head  # nothing exceeds the target: no empty commit
    commit_id = uuid.uuid4().hex[:12]
    replaced: list[str] = []
    new_rels: list[str] = []
    # DV-aware rewrite: a direct parquet read here would resurrect
    # rows deleted by deletion vectors into the dataChange=false
    # rewrite — the purge must ride the same filtered scan as reads
    live_udf = _dv_live_filter(spark, table_dir, head.adds)
    rt_on = head.features.rt_enabled
    mat_cols: list = []
    mat_fields = None
    if rt_on:
        from pyspark.sql.types import LongType, StructField

        mat_id, mat_rcv = _rt_mat_names(
            table_dir, head.configuration
        )
        mat_cols = [mat_id, mat_rcv]
        mat_fields = [
            StructField(c, LongType()) for c in mat_cols
        ]
        base_of, dcv_of = _rt_lookup_udfs(
            spark, table_dir, head.adds
        )
    for key, fs in sorted(to_pack.items()):
        seg = os.path.join(
            *[
                _hive_segment(pphys[c], v)
                for c, v in zip(pcols, key)
            ]
        )
        out = os.path.join(table_dir, "data", commit_id, seg)
        df = _scan_files(
            spark, table_dir, fs, data_schema, head.adds, live_udf,
            keep_rowmeta=rt_on, column_mapped=cm,
            mat_fields=mat_fields,
        )
        if rt_on:
            # compacted rows keep ids AND original commit versions
            # (same materialization as the unpartitioned path)
            df = df.withColumn(
                mat_id,
                F.coalesce(
                    F.col(mat_id),
                    base_of(F.col(_DV_PATH)) + F.col(_DV_IDX),
                ),
            ).withColumn(
                mat_rcv,
                F.coalesce(F.col(mat_rcv), dcv_of(F.col(_DV_PATH))),
            ).drop(_DV_PATH, _DV_IDX)
        df, _wp, pstat = _physical_payload(
            df, data_schema.json(), extra_cols=mat_cols
        )
        df.coalesce(target_files).write.mode(
            "errorifexists"
        ).parquet(out)
        replaced.extend(fs)
        for root, _dirs, names in os.walk(out):
            for n in names:
                if n.endswith(".parquet"):
                    new_rels.append(os.path.relpath(
                        os.path.join(root, n), table_dir
                    ))
    phys_stats = (
        [pstat(c) for c in stats_cols] if stats_cols else stats_cols
    )
    adds, _ = _file_adds(
        table_dir, sorted(new_rels), phys_stats, False,
        [pphys[c] for c in pcols],
    )
    return _optimize_commit(
        table_dir, head, replaced, adds,
        {
            "targetFiles": target_files,
            "partitionsRewritten": len(to_pack),
        },
    )


def delta_alter_properties(
    spark: SparkSession,
    table_dir: str,
    set_props: dict | None = None,
    unset: list | tuple = (),
) -> DeltaState:
    """ALTER TABLE SET/UNSET TBLPROPERTIES as one metaData commit.
    Recognized behavior properties are ENFORCED from this commit on:
    ``delta.appendOnly`` ("true" blocks every dataChange remove) and
    ``delta.constraints.<name>`` (CHECK constraints — native ADD
    CONSTRAINT semantics: the expression is validated against every
    CURRENT row first, and the add refuses if any row violates it,
    so a constraint can never be born broken). Adding the first
    constraint upgrades the writer protocol so native writers that
    lack checkConstraints stop instead of inserting unvalidated
    rows.

    Concurrency: committed at head+1 over the state the validation
    scan read; a racing commit raises ConcurrentCommitError (a
    renumber could validate against rows that no longer exist)."""
    head = _writable_head(table_dir)
    config = dict(head.configuration or {})
    set_props = dict(set_props or {})
    touched_cm = [
        k for k in (*set_props, *unset)
        if k.startswith("delta.columnMapping.")
    ]
    if touched_cm:
        # mode/maxColumnId are maintained by the schema-rewriting
        # paths (write_delta column_mapping='name'); flipping them
        # as bare properties would desynchronize config from the
        # field metadata and misaddress every data column
        raise ValueError(
            f"column-mapping properties {touched_cm} cannot be set "
            "via ALTER TABLE properties; enable mapping with "
            "delta_upgrade_column_mapping (metadata-only, existing "
            "tables) or write_delta(column_mapping='name'|'id') on "
            "a create/overwrite"
        )
    new_constraints = {
        k: v
        for k, v in set_props.items()
        if k.startswith("delta.constraints.")
        and config.get(k) != v
    }
    if new_constraints:
        _enforce_row_rules(
            _read_state(spark, table_dir, head),
            new_constraints,
            "{}",
            "ADD CONSTRAINT",
        )
    for k in unset:
        config.pop(k, None)
    config.update(set_props)
    actions: list[dict] = []
    need_w: set = set()
    if _table_constraints(config):
        need_w.add("checkConstraints")
    new = _features(head.protocol, config)
    if new.cdf:
        # enabling the change data feed obliges every subsequent
        # writer to emit cdc actions — the protocol must say so, so
        # cdc-incapable native writers refuse instead of silently
        # corrupting table_changes()
        need_w.add("changeDataFeed")
    if int(config.get(
        "delta.requireCheckpointProtectionBeforeVersion", 0
    ) or 0) > 0:
        # pinning a protected version obliges every writer's
        # metadata cleanup to honor it — the protocol must say so,
        # so protection-unaware writers refuse instead of truncating
        # the log into the protected range
        need_w.add("checkpointProtection")
    ict0 = None
    if new.ict:
        need_w.add("inCommitTimestamp")
        if not head.features.ict:
            # spec: enabling ICT on an existing table records WHERE
            # the reliable clock starts — timestamp queries below the
            # enablement version fall back to file mtimes
            prev = _commit_ict(table_dir, head.version)
            ict0 = max((prev or 0) + 1, _now_ms())
            config["delta.inCommitTimestampEnablementVersion"] = str(
                head.version + 1
            )
            config["delta.inCommitTimestampEnablementTimestamp"] = (
                str(ict0)
            )
    rt_actions: list[dict] = []
    if new.rt_enabled and not head.features.rt_enabled:
        # enabling row tracking on an EXISTING table: stamp the
        # materialized-column names (unless the caller set them) and
        # BACKFILL — re-add every live file (dataChange=false, DV
        # descriptors preserved verbatim) with a freshly assigned
        # baseRowId, so pre-enablement rows get ids too; without the
        # backfill a row-id read would have to refuse the table
        need_w |= {"rowTracking", "domainMetadata"}
        for k, v in _rt_fresh_config().items():
            config.setdefault(k, v)
        backfill = [
            {"add": {**head.adds[p], "dataChange": False}}
            for p in head.files
        ]
        rt_actions = backfill + _stamp_row_ids(
            backfill, head.domain_metadata, head.version + 1,
            table_dir,
        )
        if not backfill:
            # empty table: still advance the domain so the first
            # append starts at id 0 with the HWM domain present
            rt_actions = [_rt_domain_action(_rt_hwm(
                head.domain_metadata
            ))]
    if need_w:
        pa = _merge_feature_protocol(head.protocol, set(), need_w)
        if pa:
            actions.append({"protocol": pa})
    actions.append(
        _meta_action(
            head.schema,
            head.metadata_id,
            list(head.partition_cols),
            config,
        )
    )
    actions.extend(rt_actions)
    return _commit(
        table_dir, head.version + 1, actions, config,
        "SET TBLPROPERTIES",
        {"properties": sorted(set_props), "unset": sorted(unset)},
        # the enablement commit's OWN ict must equal the recorded
        # enablement timestamp (pre-computed above); _commit_actions
        # keeps a pre-set value
        ict=ict0,
    )


def _check_unreferenced(head: DeltaState, col: str, what: str) -> None:
    """Refuse to ``what`` (rename, drop, widen) column ``col`` while a
    CHECK constraint, invariant or generated-column expression names
    it: the expressions store LOGICAL names and would dangle (native
    validates the same way)."""
    hit = [
        expr
        for _, expr in (
            list(_table_constraints(head.configuration).items())
            + _column_invariants(head.schema)
            + _generated_columns(head.schema)
        )
        if re.search(rf"\b{re.escape(col)}\b", expr)
    ]
    if hit:
        raise ValueError(
            f"cannot {what} {col!r}: referenced by table rule(s) "
            f"{hit} — drop or rewrite them first"
        )


def delta_rename_column(
    table_dir: str, old: str, new: str
) -> DeltaState:
    """ALTER TABLE RENAME COLUMN as a metaData-only commit — the
    operation column mapping exists for (PROTOCOL.md "Column
    Mapping"): the field keeps its id and physical name, so no data
    file is touched and every existing file still resolves. Refuses
    on unmapped tables (there the logical name IS the storage name —
    renaming would orphan every file's column) and when any CHECK
    constraint, invariant, or generated-column expression mentions
    the old name (native validates the same way: the expressions
    store LOGICAL names and would dangle)."""
    head = _writable_head(table_dir)
    if head.features.cm_mode not in ("name", "id"):
        raise ValueError(
            f"{table_dir} has no column mapping; RENAME COLUMN "
            "needs it (enable via "
            "write_delta(column_mapping='name')) — without mapping "
            "the logical name addresses the data files directly"
        )
    sj = json.loads(head.schema)
    names = [f["name"] for f in sj["fields"]]
    if old not in names:
        raise ValueError(
            f"no column {old!r} in {sorted(names)}"
        )
    if new in names:
        raise ValueError(f"column {new!r} already exists")
    _check_unreferenced(head, old, "rename")
    if old in head.partition_cols:
        pcols = [new if c == old else c for c in head.partition_cols]
    else:
        pcols = list(head.partition_cols)
    fields = [
        ({**f, "name": new} if f["name"] == old else f)
        for f in sj["fields"]
    ]
    meta = _meta_action(
        json.dumps({**sj, "fields": fields}),
        head.metadata_id,
        pcols,
        head.configuration,
    )
    return _commit(
        table_dir, head.version + 1, [meta], head.configuration,
        "RENAME COLUMN", {"from": old, "to": new},
    )


def delta_drop_column(table_dir: str, col: str) -> DeltaState:
    """ALTER TABLE DROP COLUMN as a metaData-only commit (PROTOCOL.md
    "Column Mapping" — the other operation the feature exists for):
    the field leaves the logical schema, its physical column stays in
    the immutable data files but is simply never addressed again.
    Mapped tables only; refuses partition columns and columns any
    CHECK constraint / invariant / generated-column expression
    mentions. A later re-ADD of the same logical name gets a FRESH id
    and physical name (_remap_column_mapping keys off the post-drop
    schema), so old values can never resurrect — native semantics."""
    head = _writable_head(table_dir)
    if head.features.cm_mode not in ("name", "id"):
        raise ValueError(
            f"{table_dir} has no column mapping; DROP COLUMN needs "
            "it — without mapping the reader cannot skip a physical "
            "column that is still in every data file"
        )
    sj = json.loads(head.schema)
    names = [f["name"] for f in sj["fields"]]
    if col not in names:
        raise ValueError(f"no column {col!r} in {sorted(names)}")
    if len(names) == 1:
        raise ValueError("cannot drop the only column")
    if col in head.partition_cols:
        raise ValueError(
            f"cannot drop partition column {col!r}"
        )
    _check_unreferenced(head, col, "drop")
    fields = [f for f in sj["fields"] if f["name"] != col]
    meta = _meta_action(
        json.dumps({**sj, "fields": fields}),
        head.metadata_id,
        list(head.partition_cols),
        head.configuration,
    )
    return _commit(
        table_dir, head.version + 1, [meta], head.configuration,
        "DROP COLUMNS", {"columns": [col]},
    )


def delta_upgrade_column_mapping(table_dir: str) -> DeltaState:
    """ALTER TABLE SET ``delta.columnMapping.mode = 'name'`` on an
    EXISTING unmapped table — the spec's metadata-only upgrade path
    (PROTOCOL.md "Column Mapping" writer requirements for enabling
    the mode on an existing table): every field, nested included,
    gets a fresh ``columnMapping.id`` and a physical name EQUAL to
    its current logical name, because every existing data file was
    written under logical names and must keep resolving without a
    rewrite. Columns added later get fresh ``col-<uuid>`` physical
    names, and RENAME/DROP become metaData-only from here on. The
    protocol gains the columnMapping reader+writer feature in the
    same commit (incapable readers must stop — physical addressing
    is now authoritative).

    none->'id' is NOT upgradable: the existing files carry no
    parquet field ids, so id-mode readers could never resolve them
    — enable id mode at creation (or whole-table overwrite) instead.
    Idempotent on an already-name-mapped table; refuses on id mode
    (a downgrade-to-name would flip addressing semantics)."""
    head = _writable_head(table_dir)
    mode = head.features.cm_mode
    if mode == "name":
        return head  # already enabled: no-op, like native
    if mode != "none":
        raise NotImplementedError(
            f"{table_dir} uses column mapping {mode!r}; changing "
            "modes is not implemented"
        )
    schema_json, mx = _remap_column_mapping(
        head.schema, None, 0, keep_names=True
    )
    config = {
        **(head.configuration or {}),
        "delta.columnMapping.mode": "name",
        _CM_MAX: str(mx),
    }
    actions: list[dict] = []
    pa = _merge_feature_protocol(
        head.protocol, {"columnMapping"}, {"columnMapping"}
    )
    if pa:
        actions.append({"protocol": pa})
    actions.append(
        _meta_action(
            schema_json, head.metadata_id,
            list(head.partition_cols), config,
        )
    )
    return _commit(
        table_dir, head.version + 1, actions, config,
        "SET TBLPROPERTIES",
        {"properties": '{"delta.columnMapping.mode":"name"}'},
    )


def delta_widen_column(
    table_dir: str, col: str, new_type: str
) -> DeltaState:
    """ALTER TABLE ... ALTER COLUMN ... TYPE as a metaData-only
    commit (PROTOCOL.md "Type Widening"): the field's logical type
    widens, a ``delta.typeWidening`` metadata entry records
    (fromType, toType, tableVersion), and the ``typeWidening``
    reader+writer features land so incapable readers refuse instead
    of failing on the narrow physical types still in the files.
    Decimal widenings accept precision growth at equal-or-grown
    scale with the integer part never shrinking."""
    head = _writable_head(table_dir)
    sj = json.loads(head.schema)
    by_name = {f["name"]: f for f in sj["fields"]}
    if col not in by_name:
        raise ValueError(
            f"no column {col!r} in {sorted(by_name)}"
        )
    if col in head.partition_cols:
        raise ValueError(
            f"cannot widen partition column {col!r} — partition "
            "values are path strings typed by the schema; widening "
            "them changes directory-name semantics"
        )
    old_type = by_name[col]["type"]
    ok = (old_type, new_type) in _TYPE_WIDENINGS
    if not ok and isinstance(old_type, str) and \
            old_type.startswith("decimal(") and \
            new_type.startswith("decimal("):
        po, so = map(int, re.findall(r"\d+", old_type))
        pn, sn = map(int, re.findall(r"\d+", new_type))
        ok = sn >= so and (pn - sn) >= (po - so) and pn > po
    if not ok:
        raise ValueError(
            f"{old_type!r} -> {new_type!r} is not an allowed type "
            "widening (spec matrix: byte/short/int -> wider ints or "
            "double, float -> double, decimal precision growth)"
        )
    _check_unreferenced(head, col, "widen")
    f = dict(by_name[col])
    meta = dict(f.get("metadata") or {})
    hist = list(meta.get("delta.typeWidening") or [])
    hist.append({
        "fromType": old_type,
        "toType": new_type,
        "tableVersion": head.version + 1,
    })
    meta["delta.typeWidening"] = hist
    f["type"] = new_type
    f["metadata"] = meta
    fields = [
        f if x["name"] == col else x for x in sj["fields"]
    ]
    actions: list[dict] = []
    pa = _merge_feature_protocol(
        head.protocol, {"typeWidening"}, {"typeWidening"}
    )
    if pa:
        actions.append({"protocol": pa})
    actions.append(
        _meta_action(
            json.dumps({**sj, "fields": fields}),
            head.metadata_id,
            list(head.partition_cols),
            head.configuration,
        )
    )
    return _commit(
        table_dir, head.version + 1, actions, head.configuration,
        "CHANGE COLUMN",
        {"column": col, "from": str(old_type), "to": str(new_type)},
    )


def delta_clone(
    source_dir: str,
    target_dir: str,
    version: int | None = None,
) -> DeltaState:
    """SHALLOW CLONE — create ``target_dir`` as a new Delta table
    whose version-0 commit re-references the SOURCE's live data
    files by ABSOLUTE path, copying zero bytes of data (PROTOCOL.md
    "Add File and Remove File": ``add.path`` is "a relative path
    ... or an absolute path" — absolute adds are exactly the spec
    mechanism behind zero-copy clones). ``version`` clones a
    historical snapshot (``CLONE ... VERSION AS OF``).

    What the clone commit carries, mirroring native semantics:

    * every live add verbatim (partitionValues, stats, baseRowId /
      defaultRowCommitVersion, tags) with ``path`` rewritten to the
      source-anchored absolute path and ``dataChange: true`` (the
      clone commit IS the table's creation, so its change feed
      reads as inserts);
    * deletion-vector descriptors converted from relative
      storageType ``u`` (which resolves against the TABLE root and
      would dangle under the clone) to absolute storageType ``p``;
      inline ``i`` descriptors copy verbatim;
    * a fresh ``metaData.id`` (a clone is a NEW table) with the
      source's schema, partitioning, and configuration;
    * the source's protocol verbatim — whoever reads the clone
      needs exactly the capabilities the source's files demand;
    * every live domainMetadata — dropping ``delta.rowTracking``
      would hand out duplicate row ids on the first append, and
      dropping ``delta.clustering`` would lose the layout contract.

    Divergence is free after the clone: new writes land relative
    files under the clone root; DV deletes on cloned files write
    bins in the CLONE's dir against the absolute data path; vacuum
    walks only the clone root, so cloned source bytes are physically
    untouchable from the clone side. The standing shallow-clone
    hazard is the same as native's: VACUUM on the SOURCE can remove
    files the clone still references — retention windows are the
    operator's contract across clones.

    At 100 TB a shallow clone is a metadata-only operation: one
    commit of O(files) JSON, no data motion — the way a large table
    gets a dev/staging fork."""
    src = replay(source_dir, version)
    _check_protocol(source_dir, [src.protocol])
    # the clone COMMITS a log whose protocol promises these writer
    # features to native readers of the TARGET — promising a contract
    # we cannot enforce on the clone's own future commits would be a
    # silent lie
    _check_writer_protocol(
        source_dir, src.protocol, src.configuration
    )
    if list_delta_versions(target_dir):
        raise ValueError(
            f"{target_dir} is already a Delta table — CLONE only "
            "creates new tables (native refuses too; REPLACE "
            "semantics would silently orphan the existing history)"
        )
    cfg = dict(src.configuration or {})
    ict0 = None
    if src.features.ict:
        # the source's ICT enablement properties describe the
        # SOURCE's history; copied verbatim they would claim the
        # clone's v0 (which carries an ICT) is below the enablement
        # version and mtime-resolved. Re-anchor: in the clone's
        # history the reliable clock starts at its own creation.
        ict0 = _now_ms()
        cfg["delta.inCommitTimestampEnablementVersion"] = "0"
        cfg["delta.inCommitTimestampEnablementTimestamp"] = str(
            ict0
        )
    actions: list[dict] = []
    if src.protocol:
        actions.append({"protocol": dict(src.protocol)})
    actions.append(
        _meta_action(
            src.schema, str(uuid.uuid4()),
            list(src.partition_cols), cfg,
        )
    )
    for domain, dom_cfg in (src.domain_metadata or {}).items():
        actions.append({
            "domainMetadata": {
                "domain": domain,
                "configuration": dom_cfg,
                "removed": False,
            }
        })
    for rel in src.files:
        a = dict(src.adds[rel])
        a["path"] = os.path.abspath(os.path.join(source_dir, rel))
        a["dataChange"] = True
        desc = a.get("deletionVector")
        if desc and desc.get("storageType") == "u":
            a["deletionVector"] = {
                **desc,
                "storageType": "p",
                "pathOrInlineDv": _dv.absolute_dv_path(
                    source_dir, desc
                ),
                # "p" addresses the bin file directly: the "u"
                # prefix is consumed by the path derivation and the
                # offset within the bin is unchanged
            }
        actions.append({"add": a})
    return _commit(
        target_dir, 0, actions, cfg, "CLONE",
        {
            "source": os.path.abspath(source_dir),
            "sourceVersion": src.version,
        },
        # pin the clone commit's ICT to the enablement timestamp
        # recorded in its own metaData (the alter path's invariant:
        # enablement properties == the enabling commit's own ict);
        # _commit_actions honors a pre-set value
        ts=ict0, ict=ict0,
    )


def convert_to_delta(
    spark: SparkSession,
    table_dir: str,
    partition_by: list[str] | None = None,
    stats_cols: list[str] | None = None,
) -> DeltaState:
    """CONVERT TO DELTA — upgrade a plain parquet directory to a
    Delta table IN PLACE: one version-0 commit referencing every
    existing ``*.parquet`` file by relative path, zero bytes
    rewritten (the standard zero-copy onboarding path; the on-disk
    result is indistinguishable from a table this module wrote).
    ``partition_by`` declares hive-layout partitioning — partition
    values are parsed from the ``name=value`` directory segments
    (URL-decoded, ``__HIVE_DEFAULT_PARTITION__`` = null) into the
    spec's ``partitionValues``, and the partition columns' TYPES
    come from Spark's directory-scan inference (pin them afterwards
    with an explicit overwrite if inference is not what you want —
    native CONVERT takes an explicit partition schema for the same
    reason).

    Scale posture: one storage listing + one Spark schema-merge
    pass on the driver (both O(files) metadata, the same work any
    engine's CONVERT does), while the per-file footer reads —
    numRecords + min/max/nullCount stats — run DISTRIBUTED via
    ``mapInPandas`` over the file list, so the expensive part
    scales with executors, not the driver. The commit itself is
    O(files) JSON.

    After conversion every operation works as if this module had
    written the table: appends, DV DELETE/UPDATE/MERGE, OPTIMIZE,
    checkpoints, time travel (history starts at the conversion),
    and ``delta_clone``."""
    if list_delta_versions(table_dir):
        raise ValueError(
            f"{table_dir} is already a Delta table — CONVERT "
            "upgrades plain parquet directories only"
        )
    pcols = list(partition_by or [])
    rels: list[str] = []
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if d != _LOGDIR]
        for f in files:
            if f.endswith(".parquet"):
                rels.append(os.path.relpath(
                    os.path.join(root, f), table_dir
                ))
    if not rels:
        raise ValueError(
            f"no parquet files under {table_dir} — nothing to "
            "convert (an empty table is created with write_delta)"
        )

    from urllib.parse import unquote

    def _pvals(rel: str) -> dict:
        got: dict = {}
        for seg in rel.split(os.sep)[:-1]:
            if "=" not in seg:
                continue
            k, _, v = seg.partition("=")
            got[unquote(k)] = (
                None if v == "__HIVE_DEFAULT_PARTITION__"
                else unquote(v)
            )
        if set(got) != set(pcols):
            raise ValueError(
                f"{rel}: hive segments {sorted(got)} do not match "
                f"partition_by {sorted(pcols)} — a mixed or "
                "mis-declared layout would silently misassign "
                "partition values"
            )
        return got

    pvals = {rel: _pvals(rel) for rel in rels}
    reader = spark.read
    if pcols:
        reader = reader.option("basePath", table_dir)
    schema = reader.parquet(table_dir).schema
    missing = [c for c in pcols if c not in schema.names]
    if missing:
        raise ValueError(
            f"partition columns {missing} not found by the "
            f"directory scan of {table_dir}"
        )

    # distributed footer reads: stats for O(files) runs on
    # executors; only (rel, stats json, size, mtime) rows — KBs per
    # file — come back to the driver that writes the commit
    def _footers(batches):
        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for rel in pdf["rel"]:
                full = os.path.join(table_dir, rel)
                md = pq.ParquetFile(full).metadata
                rows.append((
                    rel,
                    _delta_stats_json(md, stats_cols),
                    os.path.getsize(full),
                    int(os.path.getmtime(full) * 1000),
                ))
            yield pd.DataFrame(
                rows, columns=["rel", "stats", "size", "mtime"]
            )

    meta_rows = (
        spark.createDataFrame([(r,) for r in sorted(rels)], "rel string")
        .repartition(min(len(rels), 64))
        .mapInPandas(
            _footers, "rel string, stats string, size long, mtime long"
        )
        .collect()
    )
    actions: list[dict] = [
        _meta_action(schema.json(), str(uuid.uuid4()), pcols, {})
    ]
    for row in sorted(meta_rows, key=lambda r: r.rel):
        actions.append({
            "add": {
                "path": row.rel,
                "partitionValues": pvals[row.rel],
                "size": int(row.size),
                "modificationTime": int(row.mtime),
                "dataChange": True,
                "stats": row.stats,
            }
        })
    return _commit(
        table_dir, 0, actions, {}, "CONVERT",
        {"numFiles": len(rels), "partitionedBy": json.dumps(pcols)},
    )


def delta_restore(table_dir: str, version: int) -> DeltaState:
    """RESTORE TABLE ... TO VERSION AS OF — one commit that returns
    the table's CONTENT to ``version`` while history keeps moving
    forward (native semantics: the restore itself is a new version;
    nothing is rewritten, the old files are simply re-referenced).
    File identity is the spec's (path, deletionVector.uniqueId), so
    a file whose DV changed since ``version`` is re-added under its
    OLD descriptor and its current incarnation removed. Refuses when
    any file (or DV bin) the target version needs was vacuumed —
    silently restoring a partial table would be data loss dressed as
    success."""
    head = _writable_head(table_dir)
    _check_append_only(table_dir, head, "RESTORE")
    target = replay(table_dir, version)
    if target.version == head.version:
        return head  # restoring the head: nothing to do

    def _key(a):
        return (a["path"], _dv.dv_unique_id(a.get("deletionVector")))

    cur = {_key(a): a for a in head.adds.values()}
    tgt = {_key(a): a for a in target.adds.values()}
    # log order, not set order: the commit must not vary with the
    # string-hash seed
    to_add = [a for k, a in tgt.items() if k not in cur]
    to_remove = [a for k, a in cur.items() if k not in tgt]
    missing = []
    for a in to_add:
        if not os.path.exists(os.path.join(table_dir, a["path"])):
            missing.append(a["path"])
        desc = a.get("deletionVector")
        if desc and desc.get("storageType") == "u":
            dvp = _dv.absolute_dv_path(table_dir, desc)
            if dvp and not os.path.exists(dvp):
                missing.append(dvp)
    if missing:
        raise ValueError(
            f"cannot restore {table_dir} to version {version}: "
            f"{len(missing)} file(s) it references were vacuumed "
            f"(first few: {missing[:3]}) — a partial restore would "
            "be silent data loss"
        )
    ts = _now_ms()
    actions: list[dict] = []
    if (
        target.schema != head.schema
        or target.partition_cols != head.partition_cols
        or (target.configuration or {}) != (head.configuration or {})
    ):
        # content restore includes the schema/properties of the
        # target version (native RESTORE semantics); the table id is
        # immutable and the PROTOCOL never downgrades — readers that
        # could read the head can still read the restored state
        actions.append(
            _meta_action(
                target.schema,
                head.metadata_id,
                list(target.partition_cols),
                target.configuration,
            )
        )
    actions.extend(
        _remove_action(a, ts, True) for a in to_remove
    )
    readds: list[dict] = []
    for a in to_add:
        na = dict(a)
        na["dataChange"] = True
        readds.append({"add": na})
    actions.extend(readds)
    if head.features.rt_active:
        # a restore to a post-enablement version re-adds files that
        # already carry their baseRowId — ids survive verbatim. A
        # restore BELOW the enablement re-surfaces unstamped files
        # while the protocol feature stands: stamp them fresh (the
        # only spec-consistent choice) and advance the HWM, so a
        # later row-id read never refuses a table this writer built
        unstamped = [
            w for w in readds if w["add"].get("baseRowId") is None
        ]
        actions.extend(_stamp_row_ids(
            unstamped, head.domain_metadata, head.version + 1,
            table_dir,
        ))
    return _commit(
        table_dir, head.version + 1, actions, head.configuration,
        "RESTORE", {"version": version},
        {
            "numRestoredFiles": len(to_add),
            "numRemovedFiles": len(to_remove),
        },
        ts,
    )


def vacuum_delta(table_dir: str, retention_ms: int = 0) -> int:
    """VACUUM with a retention window, matching native
    ``VACUUM ... RETAIN N HOURS`` semantics: checkpoint the head, then

    * delete unreferenced DATA files only when their ``remove``
      tombstone's ``deletionTimestamp`` is older than ``retention_ms``
      (orphans with no tombstone — crashed writers — age by file
      mtime). Native Delta keeps tombstoned files for the window
      precisely so a concurrent reader holding an older DeltaState can
      finish its scan and the change feed stays reconstructable.
    * garbage-collect a JSON commit / old checkpoint only when the
      version was SUPERSEDED before the window (a later commit's
      timestamp is older than the cutoff) — a reader inside the window
      can still time-travel to the version it pinned.

    ``retention_ms=0`` is the documented aggressive trade (history
    ends at the checkpoint, every unreferenced file dies now); any
    ``retention_ms>0`` keeps both replayability and tombstoned data
    alive for the window. Returns the number of data files deleted.
    Single-writer maintenance op: run it from
    the table's owning process, not concurrently with writers.

    Checkpoint-then-GC is one guarded operation: GC refuses to run
    unless the just-written checkpoint is durably readable (complete
    part set on disk) — deleting JSON commits on the strength of a
    checkpoint that didn't land would destroy the only copy of the
    log."""
    if retention_ms < 0:
        raise ValueError("retention_ms must be >= 0")
    # PROTOCOL.md "Vacuum Protocol Check": vacuum must gate on the
    # table protocol BEFORE deleting anything — the feature exists so
    # future protocol changes can stop old vacuums from destroying
    # files they no longer understand. replay() runs the reader gate,
    # _writable_head the writer gate
    _head = _writable_head(table_dir)
    now = _now_ms()
    cutoff = now - retention_ms
    log = _log_dir(table_dir)
    # one metadata pass over the readable JSON commits BEFORE any
    # checkpoint/GC: tombstone ages for the data-file decision (newest
    # remove wins — a re-added then re-removed file ages from its LAST
    # removal) and per-version commit timestamps for the retention
    # floor. Per PROTOCOL.md both commitInfo and deletionTimestamp are
    # OPTIONAL; a missing timestamp defaults to NOW (keep), never 0 —
    # epoch-0 would be "infinitely old" and silently delete data a
    # concurrent in-window reader of a native-written log still holds
    tombstone_ms: dict[str, int] = {}
    dv_tombstone_ms: dict[str, int] = {}
    commit_ts: dict[int, int] = {}
    cdc_ref: dict[str, int] = {}  # change-data rel path -> commit v
    if os.path.isdir(log):
        for name in sorted(os.listdir(log)):
            if not (name.endswith(".json") and name[:-5].isdigit()):
                continue
            v = int(name[:-5])
            ts_v = None
            with open(os.path.join(log, name)) as f:
                for line in f:
                    if not line.strip():
                        continue
                    a = json.loads(line)
                    if "cdc" in a:
                        cdc_ref[a["cdc"]["path"]] = v
                    elif "remove" in a:
                        r = a["remove"]
                        dts = r.get("deletionTimestamp") or now
                        p = r["path"]
                        tombstone_ms[p] = max(
                            tombstone_ms.get(p, 0), dts
                        )
                        rdv = r.get("deletionVector")
                        if rdv:
                            # the remove also tombstones the DV file
                            # it referenced (keyed by abs path so the
                            # bin GC below can age it)
                            dvp = _dv.absolute_dv_path(table_dir, rdv)
                            if dvp:
                                dv_tombstone_ms[dvp] = max(
                                    dv_tombstone_ms.get(dvp, 0), dts
                                )
                    elif "commitInfo" in a:
                        ts_v = a["commitInfo"].get("timestamp")
            commit_ts[v] = ts_v if ts_v is not None else now
    # retention floor: the NEWEST commit already older than the window
    # — every version >= v_floor is retained (a reader inside the
    # window may still pin it), every commit < v_floor is GC-able.
    # Replay of a retained version w needs a complete checkpoint <= w
    # plus the commits (cp, w], so the floor itself gets a checkpoint
    # BEFORE any GC — the head checkpoint alone would leave retained
    # non-head versions unreconstructable the moment commit 0 dies.
    # (retention 0: cutoff=now, the head commit qualifies, v_floor =
    # head — the documented aggressive trade.)
    old_vs = [v for v, ts in commit_ts.items() if ts <= cutoff]
    v_floor = max(old_vs) if old_vs else None
    # PROTOCOL.md "Checkpoint Protection": a table may pin
    # delta.requireCheckpointProtectionBeforeVersion = V; metadata
    # cleanup must not truncate the log to a start INSIDE (0, V) —
    # either clean nothing or clean through at least V in one run.
    # A floor below V therefore suppresses log GC entirely (data-file
    # vacuum still follows normal tombstone rules — the feature
    # protects log metadata, not aged data files).
    cp_protect = int(
        (_head.configuration or {}).get(
            "delta.requireCheckpointProtectionBeforeVersion", 0
        ) or 0
    )
    if (
        v_floor is not None
        and cp_protect
        and v_floor < cp_protect
    ):
        v_floor = None
    if v_floor is not None and v_floor < max(commit_ts):
        fl = write_checkpoint(table_dir, v_floor)
        if not _checkpoint_files(table_dir, fl):
            raise RuntimeError(
                f"floor checkpoint {fl} of {table_dir} did not land "
                "readable; refusing to garbage-collect the JSON log"
            )
    # head checkpoint LAST so _last_checkpoint points at the head
    head = write_checkpoint(table_dir)
    if not _checkpoint_files(table_dir, head):
        # the GC below deletes JSON commits on the strength of the
        # checkpoints; if this one is not durably readable the log's
        # only copy would be destroyed
        raise RuntimeError(
            f"checkpoint {head} of {table_dir} did not land readable; "
            "refusing to garbage-collect the JSON log"
        )
    head_state = replay(table_dir, head)
    live = set(head_state.files)
    # DV bins referenced by the head's adds must survive — deleting
    # one would make every read of its file fail (or worse, a reader
    # tolerating the miss would resurrect the deleted rows)
    live_dv_bins = set()
    for a in head_state.adds.values():
        desc = a.get("deletionVector")
        if desc and desc.get("storageType") == "u":
            live_dv_bins.add(
                os.path.abspath(_dv.absolute_dv_path(table_dir, desc))
            )
    for name in os.listdir(log):
        v = None
        if name.endswith(".json") and name[:-5].isdigit():
            v = int(name[:-5])
        else:
            # shared naming authority: GC must recognize EVERY
            # checkpoint naming that list/read do — classic,
            # multi-part AND v2/uuid — or stale versions stay
            # advertised over deleted data files
            m = _CP_NAME.match(name) or _CP_V2.match(name)
            if m:
                v = int(m.group(1))
        if v is not None and v_floor is not None and v < v_floor:
            os.remove(os.path.join(log, name))
    # sidecar GC: keep exactly the files some SURVIVING v2 manifest
    # references; the rest (from GC'd checkpoints or crashed
    # writers) age out like data files
    sc_dir = os.path.join(log, _SIDECAR_DIR)
    if os.path.isdir(sc_dir):
        referenced: set[str] = set()
        for name in os.listdir(log):
            if _CP_V2.match(name):
                for p in _v2_sidecar_paths(
                    os.path.join(log, name)
                ) or []:
                    referenced.add(os.path.abspath(p))
        for name in os.listdir(sc_dir):
            full = os.path.abspath(os.path.join(sc_dir, name))
            if not name.endswith(".parquet") or full in referenced:
                continue
            if retention_ms:
                aged = int(os.path.getmtime(full) * 1000)
                if aged > cutoff:
                    continue
            os.remove(full)
    deleted = 0
    for root, _dirs, files in os.walk(os.path.join(table_dir, "data")):
        for f in files:
            full = os.path.join(root, f)
            rel = os.path.relpath(full, table_dir)
            if not f.endswith(".parquet") or rel in live:
                continue
            if retention_ms:
                aged = tombstone_ms.get(rel)
                if aged is None:  # orphan (no tombstone): file mtime
                    aged = int(os.path.getmtime(full) * 1000)
                if aged > cutoff:
                    continue  # inside the window: a reader may hold it
            os.remove(full)
            deleted += 1
    # deletion-vector bins: same lifecycle as data files — keep every
    # bin the head references, age unreferenced ones by their removes'
    # deletionTimestamp (mtime for orphans of crashed deletes)
    for root, dirs, files in os.walk(table_dir):
        dirs[:] = [d for d in dirs if d not in (_LOGDIR, "data")]
        for f in files:
            if not (f.startswith(_dv._BIN_PREFIX)
                    and f.endswith(".bin")):
                continue
            full = os.path.abspath(os.path.join(root, f))
            if full in live_dv_bins:
                continue
            if retention_ms:
                aged = dv_tombstone_ms.get(full)
                if aged is None:
                    aged = int(os.path.getmtime(full) * 1000)
                if aged > cutoff:
                    continue
            os.remove(full)
            deleted += 1
    # change-data files: needed exactly as long as their referencing
    # commit's JSON is still readable (CDF reads that commit from
    # them EXCLUSIVELY) — keep those; files whose commit was just
    # GC'd, or orphans of crashed writers, age like everything else
    cdc_root = os.path.join(table_dir, "_change_data")
    for root, _dirs, files in os.walk(cdc_root):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(root, f)
            rel = os.path.relpath(full, table_dir)
            ref = cdc_ref.get(rel)
            if ref is not None and (
                v_floor is None or ref >= v_floor
            ):
                continue  # its commit survives: the feed needs it
            if retention_ms:
                aged = (
                    commit_ts.get(ref)
                    if ref is not None
                    else int(os.path.getmtime(full) * 1000)
                )
                if aged is None:
                    aged = now
                if aged > cutoff:
                    continue
            os.remove(full)
            deleted += 1
    return deleted


def delta_history(spark: SparkSession, table_dir: str) -> DataFrame:
    """DESCRIBE HISTORY over the delta log: one row per
    still-reconstructable version from its commitInfo — version,
    timestamp, operation, operationParameters JSON. Versions whose
    JSON was vacuumed (only the checkpointed head remains) report
    operation 'CHECKPOINT'."""
    rows = []
    for v in list_delta_versions(table_dir):
        info = {"timestamp": None, "operation": "CHECKPOINT",
                "operationParameters": {}}
        path = _commit_path(table_dir, v)
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    a = json.loads(line)
                    if "commitInfo" in a:
                        info = a["commitInfo"]
        rows.append((
            v,
            info.get("timestamp"),
            info.get("operation", ""),
            json.dumps(info.get("operationParameters", {}),
                       sort_keys=True),
        ))
    return spark.createDataFrame(
        rows,
        "version long, timestamp long, operation string, "
        "operation_parameters string",
    )
