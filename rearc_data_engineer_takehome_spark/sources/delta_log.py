"""Clean-room native Delta Lake transaction-log interop.

The reference pipeline persists its curated tables in Delta format
(reference: notebooks/20_analytics.ipynb:653, 2200, 2561;
21_EDA.ipynb:33360). The ``delta-spark`` package is unavailable in
this environment, but the on-disk format needs no package: the Delta
transaction protocol is a public specification (delta-io/delta
PROTOCOL.md) — a ``_delta_log/`` directory of newline-delimited JSON
action files named ``<version:020d>.json``, optional parquet
checkpoints, and plain parquet data files. This module implements that
format directly from the public spec:

* ``write_delta`` / ``read_delta`` — a native-format writer/reader
  pair: versioned commits (protocol, metaData, add, remove,
  commitInfo actions), optimistic concurrency via atomic
  put-if-absent of the commit file (the same primitive the spec
  prescribes for filesystems with atomic create), time travel, and
  per-file ``stats`` JSON (numRecords/minValues/maxValues/nullCount)
  mined from parquet footers for data skipping by any Delta reader.
* ``write_checkpoint`` — a single-file parquet checkpoint of the
  replayed state plus ``_last_checkpoint``, so readers (ours or
  native) start from the checkpoint instead of replaying from 0 and
  old JSON commits become garbage-collectable.

Scale posture: the log is O(commits) driver-side metadata — data
files are written once by Spark executors and never rewritten;
reads hand Spark the resolved file list with the log's schema pinned
(additive evolution null-fills old files). Checkpoints bound replay
cost exactly as in native Delta. Interop with the real
``delta-spark`` reader is asserted by an env-gated test
(tests/test_delta_log.py) that runs wherever the package exists;
format conformance (action shapes, naming, relative paths, stats
encoding) is asserted unconditionally.

Commit path: every operation commits through one private helper,
``_commit``. It appends the commitInfo (one ``_ENGINE_INFO``
constant), commits with in-commit-timestamp stamping
(``_commit_actions`` -> ``_atomic_commit``), replays the new version
and applies the ``delta.checkpointInterval`` auto-checkpoint. Only
``write_checkpoint``'s own protocol-upgrade commit calls
``_commit_actions`` directly. The steps around a commit are shared
the same way: ``_write_adds`` / ``_file_adds`` (data files -> footers
-> add actions), ``_optimize_commit`` (the OPTIMIZE retry loop) and
``_dv_commit_actions`` (the action list of a deletion-vector commit).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from . import dv as _dv
from . import _files

_LOGDIR = "_delta_log"
_ENGINE_INFO = "rearc-takehome-spark-cleanroom"  # commitInfo.engineInfo
# attempts a writer makes to land a commit that composes with
# concurrent appends before giving up
_MAX_COMMIT_RETRIES = 20
_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
# table-features protocol stamped when deletion vectors first appear
# on a table (PROTOCOL.md: DVs require reader version 3 + the
# deletionVectors reader feature, writer version 7 + the matching
# writer feature)
_DV_PROTOCOL = {
    "minReaderVersion": 3,
    "minWriterVersion": 7,
    "readerFeatures": ["deletionVectors"],
    "writerFeatures": ["deletionVectors"],
}
# the table-feature sets this module actually implements; protocol
# gates admit exactly these and refuse everything else loudly.
# columnMapping is read AND write in BOTH modes: name since round 9
# (reads resolve physical column names, every mutating path
# translates logical->physical before touching parquet via
# _physical_payload, rename/drop are metaData-only commits), id
# reads since round 10 (parquet field-id matching) and id writes
# since round 11 (_physical_payload stamps parquet.field.id
# metadata, so written files carry the footer ids the mode
# addresses by). appendOnly / invariants /
# checkConstraints are ENFORCED on every mutating path (round 8), so
# legacy writer versions 2-3 and their feature forms are honest to
# accept; timestampNtz is just the type, which Spark handles.
_READER_FEATURES = {
    "deletionVectors", "columnMapping", "timestampNtz",
    "v2Checkpoint", "vacuumProtocolCheck", "typeWidening",
}
_WRITER_FEATURES = {
    "deletionVectors", "appendOnly", "invariants",
    "checkConstraints", "timestampNtz", "generatedColumns",
    "columnMapping", "changeDataFeed", "v2Checkpoint",
    "inCommitTimestamp", "domainMetadata", "rowTracking",
    "identityColumns", "clustering", "vacuumProtocolCheck",
    "typeWidening",
    # checkpointProtection only RESTRICTS metadata cleanup (no log
    # truncation into (0, requireCheckpointProtectionBeforeVersion));
    # vacuum_delta honors the restriction, ordinary commits are
    # unaffected — accepting the feature is honest
    "checkpointProtection",
}


@dataclass(frozen=True)
class DeltaState:
    """Replayed log state as of one version."""

    version: int
    files: tuple[str, ...]  # relative paths, replay order
    schema: str  # Spark StructType JSON (metaData.schemaString)
    metadata_id: str
    adds: dict  # rel path -> full add action dict
    partition_cols: tuple[str, ...] = ()  # metaData.partitionColumns
    # latest txn action per appId ({appId: version}) — the spec's
    # idempotent-writer mechanism: a streaming sink records its
    # (appId, batch version) with each commit and skips batches whose
    # version it has already transacted
    txns: dict | None = None
    # the table's latest protocol action — carried so WRITERS can gate
    # on minWriterVersion/writerFeatures before committing (the spec
    # requires writers to reject unsupported writer protocols, not
    # just readers)
    protocol: dict | None = None
    # metaData.configuration — carried because reader behavior depends
    # on it (delta.columnMapping.mode decides how data files are
    # addressed); dropping it at a checkpoint would silently misread
    # mapped tables
    configuration: dict | None = None
    # live domainMetadata actions ({domain: configuration JSON string},
    # PROTOCOL.md "Domain Metadata") — row tracking keeps its row-id
    # high-water mark in the delta.rowTracking domain, so dropping
    # these at a checkpoint would hand out duplicate row ids
    domain_metadata: dict | None = None


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOGDIR)


def _commit_path(table_dir: str, version: int) -> str:
    return os.path.join(_log_dir(table_dir), f"{version:020d}.json")


def _checkpoint_path(table_dir: str, version: int) -> str:
    return os.path.join(
        _log_dir(table_dir), f"{version:020d}.checkpoint.parquet"
    )


# single-file (<v>.checkpoint.parquet) or native multi-part
# (<v>.checkpoint.<i>.<n>.parquet) checkpoint names — the ONE naming
# authority; list/read/GC must never diverge on what counts as a
# checkpoint (a GC that misses a naming leaves stale versions
# advertised over deleted data)
_CP_NAME = re.compile(
    r"(\d{20})\.checkpoint(?:\.(\d+)\.(\d+))?\.parquet$"
)
# v2 ("uuid-named") checkpoints, PROTOCOL.md "V2 Spec": one manifest
# <v>.checkpoint.<uniqueStr>.{parquet,json} holding checkpointMetadata
# + protocol/metaData/txn, with file actions either INLINE or in
# sidecar parquet files under _delta_log/_sidecars/ referenced by
# ``sidecar`` actions
_CP_V2 = re.compile(
    r"(\d{20})\.checkpoint\.([0-9a-zA-Z-]+)\.(parquet|json)$"
)
_SIDECAR_DIR = "_sidecars"


def _manifest_rows(path: str) -> list[dict]:
    """Action rows of a v2 manifest — parquet or (ndjson) json."""
    if path.endswith(".json"):
        with open(path) as f:
            return [json.loads(x) for x in f if x.strip()]
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def _v2_sidecar_paths(path: str) -> list[str] | None:
    """Absolute sidecar paths a v2 manifest references ([] when its
    file actions are inline); None when the manifest is unreadable."""
    try:
        rows = _manifest_rows(path)
    except Exception:
        return None
    log = os.path.dirname(path)
    out = []
    for r in rows:
        sc = r.get("sidecar")
        if sc and sc.get("path"):
            p = sc["path"]
            if not os.path.isabs(p):
                p = os.path.join(log, _SIDECAR_DIR, p)
            out.append(p)
    return out


def _complete_checkpoint_parts(
    d: str, version: int
) -> list[str] | None:
    """The readable file set of the checkpoint at ``version``, or None
    when no COMPLETE checkpoint exists there. A native writer that
    crashed mid-multi-part leaves i-of-n parquet parts with no
    ``_last_checkpoint``; treating that partial set as a base state
    would silently drop every add action in the missing parts — the
    exact silent-base corruption _read_checkpoint_state's empty-set
    guard exists to prevent. A single-file checkpoint is complete by
    itself; a multi-part one only counts when parts 1..n are ALL
    present with a consistent n; a v2 manifest only counts when every
    sidecar it references is present (a vacuumed/torn sidecar set
    must not become a silent base either)."""
    single: list[str] = []
    parts: dict[int, str] = {}
    totals: set[int] = set()
    v2: list[str] = []
    for n in os.listdir(d):
        m = _CP_NAME.match(n)
        if m and int(m.group(1)) == version:
            if m.group(2) is None:
                single.append(os.path.join(d, n))
            else:
                parts[int(m.group(2))] = os.path.join(d, n)
                totals.add(int(m.group(3)))
            continue
        m2 = _CP_V2.match(n)
        if m2 and int(m2.group(1)) == version:
            v2.append(os.path.join(d, n))
    if single:
        return sorted(single)
    if parts and len(totals) == 1:
        total = totals.pop()
        if set(parts) == set(range(1, total + 1)):
            return [parts[i] for i in range(1, total + 1)]
    # several v2 manifests at one version are spec-equivalent; take
    # the first COMPLETE one deterministically
    for mf in sorted(v2):
        sidecars = _v2_sidecar_paths(mf)
        if sidecars is None:
            continue
        if all(os.path.exists(p) for p in sidecars):
            return [mf]
    return None


def _checkpoint_versions(table_dir: str) -> list[int]:
    """Versions with a COMPLETE checkpoint — partial multi-part sets
    are invisible here so replay's directory-scan fallback can never
    select one as its base."""
    d = _log_dir(table_dir)
    if not os.path.isdir(d):
        return []
    candidates = set()
    for n in os.listdir(d):
        m = _CP_NAME.match(n) or _CP_V2.match(n)
        if m:
            candidates.add(int(m.group(1)))
    return sorted(
        v for v in candidates
        if _complete_checkpoint_parts(d, v) is not None
    )


def list_delta_versions(table_dir: str) -> list[int]:
    """Every version the log can still serve: JSON commits plus
    checkpoint versions (after GC of old JSONs, the checkpoint IS the
    oldest readable version — forgetting this would make the next
    writer restart numbering at 0 and corrupt the table)."""
    d = _log_dir(table_dir)
    if not os.path.isdir(d):
        return []
    out = set(_checkpoint_versions(table_dir))
    for name in os.listdir(d):
        if name.endswith(".json") and name[:-5].isdigit():
            out.add(int(name[:-5]))
    return sorted(out)


def _checkpoint_files(table_dir: str, version: int) -> list[str]:
    """All parquet files of the checkpoint at ``version`` — one file
    for ours, N for a native multi-part checkpoint. Empty when the
    checkpoint is absent OR incomplete (crashed multi-part writer), so
    every caller's no-files path treats a partial checkpoint exactly
    like no checkpoint."""
    d = _log_dir(table_dir)
    if not os.path.isdir(d):
        return []
    return _complete_checkpoint_parts(d, version) or []


def _now_ms() -> int:
    return int(time.time() * 1000)


# --- in-commit timestamps (PROTOCOL.md "In-Commit Timestamps") -------
# With delta.enableInCommitTimestamps=true, every commit's commitInfo
# carries a MONOTONICALLY increasing inCommitTimestamp (max(prev+1,
# now)) and commitInfo must be the commit's FIRST action; timestamp
# time travel then resolves against ICTs instead of file mtimes,
# which clock skew and file copies can corrupt.


def _ict_enabled(configuration: dict | None) -> bool:
    return (configuration or {}).get(
        "delta.enableInCommitTimestamps", ""
    ).lower() == "true"


def _commit_ict(
    table_dir: str, version: int, ict_only: bool = False
) -> int | None:
    """The inCommitTimestamp (else, unless ``ict_only``,
    commitInfo.timestamp) of commit ``version``, or None when absent
    or the JSON is gone/unreadable. ``ict_only`` serves TIMESTAMP AS
    OF, where the spec's rule for non-ICT versions is the commit
    FILE's modification time, never the embedded wall-clock."""
    try:
        with open(_commit_path(table_dir, version)) as f:
            for line in f:
                if not line.strip():
                    continue
                a = json.loads(line)
                if "commitInfo" in a:
                    ci = a["commitInfo"]
                    ict = ci.get("inCommitTimestamp")
                    if ict is not None or ict_only:
                        return ict
                    return ci.get("timestamp")
    except (FileNotFoundError, ValueError):
        return None
    return None


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


def _commit_actions(
    table_dir: str,
    version: int,
    actions: list[dict],
    configuration: dict | None,
) -> int | None:
    """Commit ``actions`` at ``version``, stamping the spec's
    inCommitTimestamp when the table property enables it: monotonic
    over the previous commit's ICT, written into commitInfo, which
    then leads the commit file. Returns the ICT stamped (None when
    ICT is off)."""
    ict = None
    if _ict_enabled(configuration):
        prev = _commit_ict(table_dir, version - 1) if version else None
        if prev is None and version:
            # version-1's JSON may be GC'd below a checkpoint; a pure
            # wall-clock ICT could then step BELOW the table's last
            # ICT on a backwards clock jump, breaking the monotonicity
            # guarantee resolve_version_at relies on. Floor against
            # the strongest persisted watermarks instead: the ICT our
            # own checkpoints record in _last_checkpoint (exact when
            # version-1 IS the checkpointed version — the common GC
            # shape), else the enablement timestamp the enabling
            # commit wrote into the table config (every ICT since is
            # >= it). The +1 below keeps the new commit strictly
            # after whichever floor wins.
            floors = []
            try:
                with open(os.path.join(
                    _log_dir(table_dir), "_last_checkpoint"
                )) as f:
                    w = json.load(f).get("cleanroomLastIct")
                if w is not None:
                    floors.append(int(w))
            except (FileNotFoundError, ValueError, TypeError):
                pass
            try:
                floors.append(int(
                    (configuration or {}).get(
                        "delta.inCommitTimestampEnablementTimestamp"
                    )
                ))
            except (TypeError, ValueError):
                pass
            prev = max(floors) if floors else None
        ict = max((prev or 0) + 1, _now_ms())
        cis = [a for a in actions if "commitInfo" in a]
        if not cis:
            cis = [{"commitInfo": {"timestamp": ict}}]
        for a in cis:
            a["commitInfo"].setdefault("inCommitTimestamp", ict)
            ict = a["commitInfo"]["inCommitTimestamp"]
        actions = cis + [a for a in actions if "commitInfo" not in a]
    _atomic_commit(table_dir, version, actions)
    return ict


def _atomic_commit(table_dir: str, version: int, actions: list[dict]):
    """Put-if-absent of one commit file — the spec's concurrency
    primitive. Loses the race => ConcurrentCommitError (from _files,
    so callers handle one exception type); the caller
    rebases or renumbers, never blind-retries content computed against
    a stale head."""
    os.makedirs(_log_dir(table_dir), exist_ok=True)
    path = _commit_path(table_dir, version)
    body = "".join(json.dumps(a, separators=(",", ":")) + "\n"
                   for a in actions)
    # tmp + os.link: atomic fail-if-exists AND never observable
    # half-written (exclusive-create-then-write would let a
    # concurrent replay read a truncated commit)
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(body)
    try:
        os.link(tmp, path)
    except FileExistsError as e:
        raise _files.ConcurrentCommitError(
            f"delta version {version} of {table_dir} was committed by "
            "a concurrent writer"
        ) from e
    finally:
        os.unlink(tmp)


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


def _check_protocol(table_dir: str, protocols) -> None:
    """Honest-reader gate: a table whose protocol demands reader
    capabilities this module does not implement (column mapping, v2
    checkpoints, timestampNtz, ...) must FAIL LOUDLY — silently
    ignoring an unknown reader feature could misname columns or read
    the wrong base state. Deletion vectors (reader version 3 +
    ``deletionVectors`` feature) ARE implemented (sources/dv.py), so
    exactly that feature set passes; everything else still refuses.
    Writers bump minReaderVersion exactly so incapable readers stop;
    honoring that is part of the spec."""
    for p in protocols:
        if not p:
            continue
        mrv = p.get("minReaderVersion", 1) or 1
        feats = set(p.get("readerFeatures") or [])
        if mrv <= 1 and not feats:
            continue
        if mrv == 2 and not feats:
            # legacy column-mapping reader version: both name and id
            # modes are resolved at read time (round 10)
            continue
        if mrv == 3 and feats <= _READER_FEATURES:
            continue
        raise NotImplementedError(
            f"{table_dir} requires Delta minReaderVersion {mrv} "
            f"(readerFeatures={sorted(feats)}); this clean-room "
            f"reader implements reader protocol 1 plus "
            f"{sorted(_READER_FEATURES)} only — reading anyway could "
            "silently resurrect deleted rows or misname columns"
        )


def _check_writer_protocol(
    table_dir: str,
    protocol,
    configuration: dict | None = None,
    checkpoint_only: bool = False,
) -> None:
    """Honest-writer gate, symmetric with _check_protocol: a table
    whose protocol demands writer capabilities this module does not
    implement (minWriterVersion > 2: invariants, appendOnly, CDC,
    generated columns, ...) must refuse to commit — appending or
    overwriting anyway would silently violate those constraints for
    native readers (e.g. new rows into an appendOnly table's
    overwrite, unchecked invariants). Per the spec, writers reject
    unsupported writer protocols even when the READER protocol is
    satisfied.

    ``checkpoint_only`` relaxes exactly the refusals irrelevant to a
    checkpoint, which changes no rows and re-serializes protocol /
    metaData / add actions verbatim. Since round 11 the set is empty
    — id-mode column mapping (the one member through round 10)
    became fully writable when _physical_payload started stamping
    parquet field ids — but the parameter stays: any future
    data-touching refusal belongs behind it, and checkpoint call
    sites already declare their intent through it. Features that
    change the CHECKPOINT's own contract (e.g. v2Checkpoint) must
    never relax."""
    if configuration and (
        configuration.get("delta.columnMapping.mode") or "none"
    ) not in ("none", "name", "id"):
        # name AND id modes are fully writable (physical-name
        # bookkeeping + parquet field-id stamping in
        # _physical_payload); an unknown FUTURE mode still refuses —
        # files written under the wrong addressing scheme would be
        # unreadable for native readers of that mode
        raise NotImplementedError(
            f"{table_dir} uses column mapping mode "
            f"{configuration.get('delta.columnMapping.mode')!r}; "
            "this clean-room writer implements 'name' and 'id' "
            "modes only"
        )
    # changeDataFeed is a fully-implemented writer capability since
    # round 9: DV DELETE/UPDATE/MERGE emit spec cdc actions +
    # _change_data files whenever the table property enables it
    # (appends/overwrites stay derivable from add/remove per the
    # spec, so they owe none); accepting CDF-on tables is honest.
    if not protocol:
        return
    mwv = protocol.get("minWriterVersion", 2) or 2
    feats = set(protocol.get("writerFeatures") or [])
    ok_feats = _WRITER_FEATURES
    if mwv <= 6 and not feats:
        # writer v2 = appendOnly + invariants, v3 adds CHECK
        # constraints, v4 adds generated columns (+ CDF, gated
        # above), v5 adds column mapping (name AND id mode
        # bookkeeping implemented; unknown future modes refused by
        # the configuration gate above), v6 adds identity columns
        # (generated + HWM
        # bookkeeping implemented round 10) — all ENFORCED on every
        # mutating path (_enforce_row_rules / _check_append_only /
        # _physical_payload / _identity_fields), so accepting these
        # versions is honest, not a bypass
        return
    if mwv == 7 and feats <= ok_feats:
        # table-features writer protocol whose every listed feature
        # this module implements (deletionVectors: removes carry the
        # cancelled add's DV descriptor, delete/compact maintain them)
        return
    raise NotImplementedError(
        f"{table_dir} requires Delta minWriterVersion {mwv} "
        f"(writerFeatures={sorted(feats)}); this clean-room writer "
        f"implements writer protocol 5 plus {sorted(_WRITER_FEATURES)}"
        " only — committing anyway could silently violate the "
        "table's column-mapping/identity/row-tracking contracts for "
        "native readers"
    )


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
    table_dir: str, configuration: dict | None, operation: str
) -> None:
    """delta.appendOnly forbids any dataChange=true remove (writer
    protocol 2 contract this writer previously ignored); OPTIMIZE's
    dataChange=false rewrites stay legal."""
    if (configuration or {}).get(
        "delta.appendOnly", ""
    ).lower() == "true":
        raise ValueError(
            f"{table_dir} is delta.appendOnly=true: {operation} "
            "would remove live rows; only appends and dataChange="
            "false OPTIMIZE are allowed"
        )


# legacy minWriterVersion -> the features that version implies; when
# a table upgrades to writer protocol 7 the spec requires listing
# everything it could already be using
_IMPLIED_WRITER = {
    1: set(),
    2: {"appendOnly", "invariants"},
    3: {"appendOnly", "invariants", "checkConstraints"},
    4: {"appendOnly", "invariants", "checkConstraints",
        "generatedColumns", "changeDataFeed"},
    5: {"appendOnly", "invariants", "checkConstraints",
        "generatedColumns", "changeDataFeed", "columnMapping"},
    6: {"appendOnly", "invariants", "checkConstraints",
        "generatedColumns", "changeDataFeed", "columnMapping",
        "identityColumns"},
}


def _merge_feature_protocol(
    old: dict | None,
    reader_feats: set[str] = frozenset(),
    writer_feats: set[str] = frozenset(),
) -> dict | None:
    """The protocol action needed so the table also carries
    ``reader_feats``/``writer_feats`` — None when the current
    protocol already covers them. Upgrades PRESERVE existing
    features (a DV delete on a timestampNtz table must not drop the
    ntz feature) and list legacy-implied writer features per the
    spec."""
    old = dict(old or _PROTOCOL)
    mrv = old.get("minReaderVersion", 1) or 1
    mwv = old.get("minWriterVersion", 2) or 2
    cur_r = set(old.get("readerFeatures") or [])
    cur_w = set(old.get("writerFeatures") or [])
    have_r = cur_r if mrv >= 3 else set()
    have_w = cur_w if mwv >= 7 else _IMPLIED_WRITER.get(mwv, set())
    need_r = set(reader_feats) - have_r
    need_w = set(writer_feats) - have_w
    if not need_r and not need_w:
        return None
    new_r = have_r | set(reader_feats)
    new_w = (
        (cur_w if mwv >= 7 else _IMPLIED_WRITER.get(mwv, set()))
        | set(writer_feats)
    )
    return {
        "minReaderVersion": 3 if (new_r or mrv >= 3) else mrv,
        "minWriterVersion": 7,
        **(
            {"readerFeatures": sorted(new_r)}
            if (new_r or mrv >= 3) else {}
        ),
        "writerFeatures": sorted(new_w),
    }


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


def _last_checkpoint(table_dir: str) -> int | None:
    try:
        with open(os.path.join(_log_dir(table_dir),
                               "_last_checkpoint")) as f:
            return int(json.load(f)["version"])
    except (FileNotFoundError, ValueError, KeyError):
        return None


def _read_checkpoint_state(table_dir: str, version: int) -> DeltaState:
    import pyarrow.parquet as pq

    paths = _checkpoint_files(table_dir, version)
    if not paths:
        # a stale/corrupt _last_checkpoint or an unsupported naming
        # (e.g. v2 UUID checkpoints) must NOT silently become an empty
        # base state — replay would then return a table missing every
        # pre-checkpoint file
        raise ValueError(
            f"checkpoint {version} of {table_dir} has no readable "
            "parquet parts (stale _last_checkpoint, or an unsupported "
            "checkpoint naming)"
        )
    rows: list[dict] = []
    protocol: dict | None = None
    is_v2 = len(paths) == 1 and _CP_V2.match(
        os.path.basename(paths[0])
    )
    if is_v2:
        rows = _manifest_rows(paths[0])
        metas = [
            r["checkpointMetadata"]
            for r in rows
            if r.get("checkpointMetadata")
            and r["checkpointMetadata"].get("version") is not None
        ]
        if len(metas) != 1 or int(metas[0]["version"]) != version:
            raise ValueError(
                f"v2 checkpoint {paths[0]} carries "
                f"checkpointMetadata {metas!r}, expected exactly one "
                f"with version {version} — refusing a mislabeled "
                "base state"
            )
        sidecars = _v2_sidecar_paths(paths[0]) or []
        if sidecars and any(
            r.get("add") and r["add"].get("path") for r in rows
        ):
            raise ValueError(
                f"v2 checkpoint {paths[0]} mixes sidecar actions "
                "with inline file actions — the spec requires one "
                "or the other; reading both could double-count adds"
            )
        for sc in sidecars:
            rows.extend(pq.read_table(sc).to_pylist())
        for r in rows:
            if r.get("protocol") and r["protocol"].get(
                "minReaderVersion"
            ):
                protocol = r["protocol"]
        _check_protocol(
            table_dir, [protocol] if protocol else []
        )
    else:
        for path in paths:
            part_rows = pq.read_table(path).to_pylist()
            for r in part_rows:
                if r.get("protocol"):
                    protocol = r["protocol"]
            _check_protocol(table_dir, [
                r["protocol"] for r in part_rows if r.get("protocol")
            ])
            rows.extend(part_rows)
    adds: dict = {}
    schema = ""
    meta_id = ""
    pcols: tuple = ()
    txns: dict = {}
    config: dict = {}
    domains: dict = {}
    for row in rows:
        md = row.get("metaData")
        if md and md.get("id"):
            schema = md["schemaString"]
            meta_id = md["id"]
            pcols = tuple(md.get("partitionColumns") or ())
            cfg = md.get("configuration") or {}
            # pyarrow map columns round-trip as key/value tuple lists
            config = dict(cfg) if not isinstance(cfg, dict) else cfg
        add = row.get("add")
        if add and add.get("path"):
            add = {k: v for k, v in add.items() if v is not None}
            if isinstance(add.get("partitionValues"), list):
                add["partitionValues"] = dict(add["partitionValues"])
            if add.get("deletionVector"):
                # strip null offset so dv_unique_id and descriptor
                # round-trips match the JSON-commit representation
                add["deletionVector"] = {
                    k: v
                    for k, v in add["deletionVector"].items()
                    if v is not None
                }
            adds[add["path"]] = add
        txn = row.get("txn")
        if txn and txn.get("appId"):
            txns[txn["appId"]] = txn["version"]
        dm = row.get("domainMetadata")
        if dm and dm.get("domain"):
            # this writer's checkpoints carry only LIVE domains, but
            # a FOREIGN checkpoint may retain removed-domain
            # tombstones (the spec allows either) — honor the flag,
            # mirroring replay(), or a dropped domain (stale
            # clustering columns, a rowTracking HWM) would resurrect
            if dm.get("removed"):
                domains.pop(dm["domain"], None)
            else:
                domains[dm["domain"]] = dm.get("configuration")
    return DeltaState(
        version=version,
        files=tuple(adds),
        schema=schema,
        metadata_id=meta_id,
        adds=adds,
        partition_cols=pcols,
        txns=txns,
        protocol=protocol,
        configuration=config,
        domain_metadata=domains,
    )


def replay(table_dir: str, version: int | None = None) -> DeltaState:
    """Replay the log to ``version`` (default: head): start from the
    newest eligible checkpoint, then apply each JSON commit's actions
    in order — adds keyed by path, removes delete, metaData swaps the
    schema. O(commits since checkpoint), as in native Delta."""
    versions = list_delta_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no _delta_log at {table_dir}")
    v = versions[-1] if version is None else version
    if v not in versions:
        raise ValueError(
            f"delta version {v} not in {table_dir} "
            f"(have {versions[0]}...{versions[-1]})"
        )
    # newest checkpoint at or before v: prefer _last_checkpoint (one
    # stat, the fast path), but fall back to scanning the directory
    # whenever the hint overshoots v OR is absent/corrupt —
    # _last_checkpoint is a best-effort pointer per the spec (a writer
    # can crash between checkpoint and pointer), and time travel to an
    # old checkpointed version must survive GC of its JSON commits
    cp = _last_checkpoint(table_dir)
    if cp is None or cp > v or not _checkpoint_files(table_dir, cp):
        # pointer absent, overshooting, or pointing at vanished files:
        # scan for the newest real checkpoint at or before v; with
        # none, JSON replay from 0 (which fails loudly if GC'd)
        eligible = [c for c in _checkpoint_versions(table_dir)
                    if c <= v]
        cp = max(eligible) if eligible else None
    state = None
    start = 0
    if cp is not None and cp <= v:
        state = _read_checkpoint_state(table_dir, cp)
        start = cp + 1
    # adds is insertion-ordered (python dict), so it IS the file order
    # — a separate list would make every remove an O(n) scan and
    # overwrite-heavy replays O(n^2)
    adds = dict(state.adds) if state else {}
    schema = state.schema if state else ""
    meta_id = state.metadata_id if state else ""
    pcols = state.partition_cols if state else ()
    txns = dict(state.txns or {}) if state else {}
    protocol = state.protocol if state else None
    config = dict(state.configuration or {}) if state else {}
    domains = dict(state.domain_metadata or {}) if state else {}
    for cv in range(start, v + 1):
        try:
            f = open(_commit_path(table_dir, cv))
        except FileNotFoundError:
            raise ValueError(
                f"delta version {v} of {table_dir} is not "
                f"reconstructable: commit {cv} was garbage-collected "
                "and no checkpoint at or before it covers this read"
            ) from None
        with f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                if "protocol" in action:
                    _check_protocol(table_dir, [action["protocol"]])
                    protocol = action["protocol"]
                elif "metaData" in action:
                    schema = action["metaData"]["schemaString"]
                    meta_id = action["metaData"]["id"]
                    pcols = tuple(
                        action["metaData"].get("partitionColumns") or ()
                    )
                    config = (
                        action["metaData"].get("configuration") or {}
                    )
                elif "add" in action:
                    adds[action["add"]["path"]] = action["add"]
                elif "remove" in action:
                    # spec: the primary key of add/remove is (path,
                    # deletionVector.uniqueId). A DELETE that swaps a
                    # file's DV commits remove(path, oldDV) + add(path,
                    # newDV) in either order; matching the uid keeps
                    # the new add alive whichever lands second. A
                    # bare-path remove has uid "" and cancels only a
                    # DV-less add — legacy tables unchanged (every
                    # add there has uid ""), and our own writers
                    # always stamp the cancelled add's descriptor.
                    r = action["remove"]
                    live = adds.get(r["path"])
                    if live is not None and _dv.dv_unique_id(
                        r.get("deletionVector")
                    ) == _dv.dv_unique_id(
                        live.get("deletionVector")
                    ):
                        adds.pop(r["path"])
                elif "txn" in action:
                    txns[action["txn"]["appId"]] = \
                        action["txn"]["version"]
                elif "domainMetadata" in action:
                    dm = action["domainMetadata"]
                    if dm.get("removed"):
                        domains.pop(dm["domain"], None)
                    else:
                        domains[dm["domain"]] = dm.get(
                            "configuration"
                        )
    if not schema:
        raise ValueError(f"no metaData action found in {table_dir}")
    return DeltaState(
        version=v,
        files=tuple(adds),
        schema=schema,
        metadata_id=meta_id,
        adds=adds,
        partition_cols=pcols,
        txns=txns,
        protocol=protocol,
        configuration=config,
        domain_metadata=domains,
    )


def resolve_version_at(table_dir: str, timestamp_ms: int) -> int:
    """TIMESTAMP AS OF resolution: the newest version whose commit
    time is <= ``timestamp_ms``. Per the spec, a version's commit
    time is its inCommitTimestamp when the ICT feature covers it,
    else the commit file's modification time (native's rule), with
    the running maximum applied so a skewed clock or a copied file
    can never make history non-monotonic. Versions whose commit JSON
    was garbage-collected have NO commit time — a checkpoint file's
    mtime is when the CHECKPOINT was written (possibly long after the
    commit, e.g. a late manual ``write_checkpoint``), and feeding it
    into the monotonic adjustment would inflate every later version's
    effective time; native's rule is that timestamps below the
    earliest readable commit simply refuse. Raises when
    ``timestamp_ms`` predates the first version with a readable
    commit time."""
    versions = list_delta_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no _delta_log at {table_dir}")
    best = None
    running = None
    for v in versions:
        ts = _commit_ict(table_dir, v, ict_only=True)
        if ts is None:
            cp = _commit_path(table_dir, v)
            if os.path.exists(cp):
                # non-ICT version: the spec's commit time is the
                # FILE's modification time (never the embedded
                # wall-clock, which copies don't preserve either)
                ts = int(os.path.getmtime(cp) * 1000)
        if ts is None:
            continue
        # native's adjustment: a later version is always at least
        # 1 ms after its predecessor, so a skewed clock or a copied
        # commit file can neither reorder history nor collapse two
        # versions onto one instant
        running = ts if running is None else max(running + 1, ts)
        if running <= timestamp_ms:
            best = v
        else:
            break
    if best is None:
        raise ValueError(
            f"timestamp {timestamp_ms} predates the first version of "
            f"{table_dir} with a readable commit time (versions whose "
            "commit JSON was garbage-collected are addressable by "
            "VERSION AS OF only)"
        )
    return best


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
        import numpy as np
        import pandas as pd

        tdir, descs = bc.value
        out = np.ones(len(paths), dtype=bool)
        vals = idxs.to_numpy(dtype=np.int64)
        # factorize instead of a per-row Python lambda: one C-speed
        # pass turns the path column into integer codes + the (tiny,
        # O(files)) unique list — normalization and row selection then
        # run per FILE, not per row (optimization round, guide §4.2:
        # the old .map(lambda)+string-mask body cost ~0.6s per 150k-row
        # scan; this is ~10ms)
        codes, uniques = pd.factorize(paths)
        if (codes == -1).any():
            # factorize codes null/NaN paths -1 and omits them from
            # uniques — such a row would never match any `codes == k`
            # mask below and silently stay live, bypassing the loud
            # miss contract; a null _metadata.file_path cannot resolve
            # to a descriptor, so refuse exactly like a path miss
            raise ValueError(
                "deletion-vector filter: scan batch carries a null "
                "file path — cannot resolve a DV descriptor; passing "
                "the row through would resurrect deleted rows"
            )
        for k, raw in enumerate(uniques):
            ap = _normalize_file_uri(raw)
            desc = descs.get(ap)
            if desc is None:
                # this filter is applied ONLY to the DV'd file group
                # (_scan_files), so every scan path must resolve to a
                # descriptor; passing rows through on a miss would
                # silently resurrect deleted rows (path-normalization
                # drift, symlinked tmp dirs)
                raise ValueError(
                    f"deletion-vector filter: scan file {ap!r} from "
                    "the DV'd group matches no broadcast descriptor "
                    f"(known: {sorted(descs)[:3]}...) — path "
                    "normalization drift would resurrect deleted rows"
                )
            if ap not in decoded:
                decoded[ap] = _dv.read_dv_positions(tdir, desc)
            pos = decoded[ap]
            if not len(pos):
                continue
            rows = np.flatnonzero(codes == k)
            v = vals[rows]
            j = np.searchsorted(pos, v)
            hit = (j < len(pos)) & (
                pos[np.minimum(j, len(pos) - 1)] == v
            )
            out[rows[hit]] = False
        return pd.Series(out)

    return _live


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


def _cm_mode(state: DeltaState) -> str:
    return (
        (state.configuration or {}).get("delta.columnMapping.mode")
        or "none"
    )


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


def _scan_files(
    spark: SparkSession,
    table_dir: str,
    rels: list[str],
    read_schema,
    adds: dict,
    live_udf,
    keep_rowmeta: bool = False,
    column_mapped: str | bool = False,
    mat_fields: list | None = None,
) -> DataFrame:
    """One distributed parquet scan over ``rels`` with deletion
    vectors applied; returns the columns of ``read_schema``
    (+ rowmeta when requested). Files without a DV take the plain
    scan — zero overhead on the common path. ``column_mapped``:
    ``'name'``/True reads each field by its PHYSICAL name and renames
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

    cm = (
        column_mapped if isinstance(column_mapped, str)
        else ("name" if column_mapped else "none")
    )
    dv_set = {
        r for r in rels if adds[r].get("deletionVector")
    }
    plain = [r for r in rels if r not in dv_set]
    dvd = [r for r in rels if r in dv_set]
    if cm == "name":
        phys_schema = _physical_struct(read_schema)
        base = [
            F.col(pf.name).cast(_relaxed(lf.dataType))
            .alias(lf.name)
            for pf, lf in zip(
                phys_schema.fields, read_schema.fields
            )
        ]
    elif cm == "id":
        phys_schema = _field_id_struct(read_schema)
        base = [
            F.col(pf.name).cast(_relaxed(lf.dataType))
            .alias(lf.name)
            for pf, lf in zip(
                phys_schema.fields, read_schema.fields
            )
        ]
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
        base = [F.col(f.name) for f in read_schema.fields]
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
    cm = _cm_mode(state)
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
        for c, v in zip(pcols, pvals(group[0])):
            # spec: null partition value is serialized as JSON null /
            # __HIVE_DEFAULT_PARTITION__ on disk
            lit = (
                F.lit(None)
                if v is None or v == "__HIVE_DEFAULT_PARTITION__"
                else F.lit(v)
            )
            df = df.withColumn(c, lit.cast(ptypes[c]))
        parts.append(
            df.select(
                *[f.name for f in schema.fields], *meta_cols
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return finish(out)


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


# --- change data files (PROTOCOL.md "Add CDC File") -----------------
# When delta.enableChangeDataFeed=true, commits whose row-level
# changes are NOT derivable from add/remove alone (DV deletes,
# updates, merges) carry ``cdc`` actions pointing at parquet files
# under _change_data/ holding the changed rows + a _change_type
# column. CDF readers use cdc files EXCLUSIVELY for such commits;
# plain appends/overwrites stay derivable and need none. cdc actions
# are per-commit only — never checkpointed, replay ignores them.

_CHANGE_TYPE = "_change_type"


def _cdf_enabled(configuration: dict | None) -> bool:
    return (configuration or {}).get(
        "delta.enableChangeDataFeed", ""
    ).lower() == "true"


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
    from pyspark.sql.types import StructType

    branches = list(df) if isinstance(df, (list, tuple)) else [df]
    schema = StructType.fromJson(json.loads(schema_json))
    if _CM_PHYS in schema_json:
        phys = _physical_struct(schema)
        cols = [
            F.col(lf.name).cast(pf.dataType).alias(pf.name)
            for lf, pf in zip(schema.fields, phys.fields)
        ]
        pmap = {
            lf.name: pf.name
            for lf, pf in zip(schema.fields, phys.fields)
        }
    else:
        cols = [F.col(f.name) for f in schema.fields]
        pmap = {}

    def _branch_payload(b: DataFrame) -> DataFrame:
        p = b.select(*cols, F.col(_CHANGE_TYPE))
        if _CM_PHYS in schema_json:
            # change files carry field ids like data files do — the
            # id-mode cdc reader addresses them by id; _change_type
            # itself lives outside the table schema and rides id-less
            p = _stamp_field_ids(p, schema, (_CHANGE_TYPE,))
        return p

    payload = _branch_payload(branches[0])
    for b in branches[1:]:
        payload = payload.unionByName(_branch_payload(b))
    wpcols = [pmap.get(c, c) for c in pcols]
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
    cm = _cm_mode(end)
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
        for c in pcols:
            v = pv.get(pphys[c])
            lit = (
                F.lit(None)
                if v is None or v == "__HIVE_DEFAULT_PARTITION__"
                else F.lit(v)
            )
            df = df.withColumn(c, lit.cast(ptypes[c]))
        parts.append(
            df.select(
                *[f.name for f in schema.fields], _CHANGE_TYPE
            )
        )
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
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
    from ..operators.layout import zorder_key

    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
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
    rt_on = _rt_enabled(head.configuration)
    mat_cols: list = []
    df = _read_state(spark, table_dir, head, with_row_ids=rt_on)
    if rt_on:
        mat_id, mat_rcv = _rt_mat_names(
            table_dir, head.configuration
        )
        df = df.withColumnRenamed(_ROW_ID, mat_id) \
               .withColumnRenamed(_ROW_RCV, mat_rcv)
        mat_cols = [mat_id, mat_rcv]
    z = zorder_key(df, cols, bits)
    df = (
        df.withColumn("__zkey", z)
        .repartitionByRange(target_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )
    df, _wp, pstat = _physical_payload(
        df, head.schema, extra_cols=mat_cols
    )
    phys_stats = [
        pstat(c) for c in (
            list(stats_cols) if stats_cols else list(cols)
        )
    ]
    adds, _ = _write_adds(
        df, table_dir, stats_cols=phys_stats, data_change=False
    )
    for a in adds:
        a["add"]["clusteringProvider"] = "liquid"
    return _optimize_commit(
        table_dir, head, head.files, adds,
        {"targetFiles": target_files, "clusterBy": list(cols)},
    )


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
_RT_MAT_ID = "delta.rowTracking.materializedRowIdColumnName"
_RT_MAT_RCV = (
    "delta.rowTracking.materializedRowCommitVersionColumnName"
)
_ROW_ID = "_row_id"
_ROW_RCV = "_row_commit_version"


def _rt_enabled(configuration: dict | None) -> bool:
    return (configuration or {}).get(
        "delta.enableRowTracking", ""
    ).lower() == "true"


def _rt_active(protocol: dict | None, configuration: dict | None) -> bool:
    """Whether adds must carry row-id fields: per the spec, a writer
    assigns baseRowId/defaultRowCommitVersion whenever the TABLE
    FEATURE is supported — enablement only adds the stability
    guarantee (preservation across rewrites)."""
    return _rt_enabled(configuration) or "rowTracking" in (
        (protocol or {}).get("writerFeatures") or []
    )


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
        head0 = replay(table_dir)
        _check_writer_protocol(
            table_dir, head0.protocol, head0.configuration
        )
        if mode == "overwrite":
            _check_append_only(
                table_dir, head0.configuration, "overwrite"
            )
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
    head_mode = (
        ((head0.configuration or {}).get("delta.columnMapping.mode")
         or "none")
        if head0 is not None else "none"
    )
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
    # --- row-tracking resolution: rt_config carries the enablement
    # entries (flag + materialized column names) when THIS write turns
    # the feature on; rt_on means adds must be stamped ---
    head_cfg = (head0.configuration or {}) if head0 else {}
    if row_tracking and mode == "append" and head0 is not None \
            and not _rt_enabled(head_cfg):
        raise ValueError(
            "cannot enable row tracking on an append; overwrite the "
            "table with row_tracking=True (or use "
            "delta_alter_properties, which backfills existing files)"
        )
    rt_config: dict | None = None
    if row_tracking and not _rt_enabled(
        cm_config if cm_config is not None else head_cfg
    ):
        rt_config = {
            **(cm_config if cm_config is not None else head_cfg),
            **_rt_fresh_config(),
        }
    new_config = rt_config if rt_config is not None else cm_config
    rt_on = row_tracking or _rt_active(
        head0.protocol if head0 else None,
        new_config if new_config is not None else head_cfg,
    )
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
                    _check_append_only(
                        table_dir, head.configuration, "overwrite"
                    )
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
        if (cm_config or {}).get(
            "delta.columnMapping.mode"
        ) in ("name", "id"):
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
        if rt_on or (
            head is not None
            and _rt_active(head.protocol, head.configuration)
        ):
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


def write_checkpoint(
    table_dir: str,
    version: int | None = None,
    v2: bool | None = None,
    sidecar_files: int = 1,
    manifest_format: str = "parquet",
) -> int:
    """Write a checkpoint + ``_last_checkpoint``. Classic format:
    ``<v>.checkpoint.parquet`` (single file — pyarrow, since a Spark
    write would produce a directory), one row per action with sparse
    protocol/metaData/add columns. V2 format (PROTOCOL.md "V2
    Spec"): a ``<v>.checkpoint.<uuid>.parquet`` manifest holding
    checkpointMetadata/protocol/metaData/txn plus ``sidecar``
    actions referencing ``_delta_log/_sidecars/<uuid>.parquet``
    files that carry the add actions, split across
    ``sidecar_files`` (at cluster scale sidecars parallelize both
    the checkpoint write and the replay read).

    ``v2=None`` auto-selects: tables whose protocol lists the
    ``v2Checkpoint`` feature MUST be checkpointed in v2 form (the
    feature's writer requirement); others keep classic. Passing
    ``v2=True`` on a table without the feature upgrades the
    protocol in its own commit first (head checkpoints only —
    history cannot be retroactively upgraded). Readers then replay
    from the checkpoint; JSON commits <= v become
    garbage-collectable."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    state = replay(table_dir, version)
    has_v2_feat = "v2Checkpoint" in (
        (state.protocol or {}).get("writerFeatures") or []
    )
    if v2 is None:
        v2 = has_v2_feat
    if v2 and not has_v2_feat:
        if version is not None and version != replay(
            table_dir
        ).version:
            raise ValueError(
                "cannot write a v2 checkpoint for historical "
                f"version {version}: the table's protocol lacks "
                "the v2Checkpoint feature there, and upgrading "
                "applies only from the head forward"
            )
        pa_up = _merge_feature_protocol(
            state.protocol, {"v2Checkpoint"}, {"v2Checkpoint"}
        )
        if pa_up:
            # the one commit that bypasses _commit: the checkpoint
            # this function writes next covers it, so _commit's
            # auto-checkpoint could only write a duplicate
            _commit_actions(
                table_dir,
                state.version + 1,
                [
                    {"protocol": pa_up},
                    {"commitInfo": {
                        "timestamp": _now_ms(),
                        "operation": "UPGRADE PROTOCOL",
                        "operationParameters": {
                            "feature": "v2Checkpoint"
                        },
                        "engineInfo": _ENGINE_INFO,
                    }},
                ],
                state.configuration,
            )
            state = replay(table_dir)
    # checkpointing is a WRITER operation (native reader-only
    # processes never emit checkpoints): gate on the table's writer
    # protocol, and stamp the table's OWN protocol into the checkpoint
    # row — stamping this module's _PROTOCOL would silently DOWNGRADE
    # a stricter table's protocol the moment replay starts basing on
    # the checkpoint, disarming _check_writer_protocol for every
    # subsequent writer (and lying to native readers).
    # checkpoint_only: a checkpoint changes no rows, so id-mapped
    # tables (readable-metadata-wise) stay checkpointable
    _check_writer_protocol(
        table_dir, state.protocol, state.configuration,
        checkpoint_only=True,
    )
    proto = state.protocol or dict(_PROTOCOL)
    rows = [
        {"protocol": {
            "minReaderVersion": proto.get("minReaderVersion", 1) or 1,
            "minWriterVersion": proto.get("minWriterVersion", 2) or 2,
            # table-features lists must survive checkpointing — a
            # checkpoint that dropped readerFeatures would let naive
            # readers scan a DV table and resurrect deleted rows
            "readerFeatures": proto.get("readerFeatures"),
            "writerFeatures": proto.get("writerFeatures"),
        }, "metaData": None, "add": None,
         "txn": None},
        {
            "protocol": None,
            "txn": None,
            "metaData": {
                "id": state.metadata_id,
                "format": {"provider": "parquet", "options": {}},
                "schemaString": state.schema,
                "partitionColumns": list(state.partition_cols),
                # reader behavior depends on configuration
                # (delta.columnMapping.mode) — a checkpoint dropping
                # it would silently misaddress every data column
                "configuration": dict(state.configuration or {}),
                "createdTime": _now_ms(),
            },
            "add": None,
        },
    ]
    for app_id, tv in sorted((state.txns or {}).items()):
        rows.append({
            "protocol": None,
            "metaData": None,
            "add": None,
            "txn": {"appId": app_id, "version": tv,
                    "lastUpdated": None},
        })
    for dom, cfg in sorted((state.domain_metadata or {}).items()):
        # live domains must survive checkpointing — row tracking's
        # high-water mark lives in delta.rowTracking; dropping it
        # would hand duplicate row ids to post-GC writers
        rows.append({
            "protocol": None,
            "metaData": None,
            "add": None,
            "txn": None,
            "domainMetadata": {
                "domain": dom,
                "configuration": cfg,
                "removed": False,
            },
        })
    for p in state.files:
        a = dict(state.adds[p])
        a.setdefault("stats", None)
        dvd = a.get("deletionVector")
        rows.append({
            "protocol": None,
            "metaData": None,
            "txn": None,
            "add": {
                "path": a["path"],
                "partitionValues": a.get("partitionValues", {}),
                "size": a.get("size", 0),
                "modificationTime": a.get("modificationTime", 0),
                "dataChange": False,
                "stats": a.get("stats"),
                # a checkpoint that dropped the descriptor would
                # resurrect the file's deleted rows for every reader
                # that bases replay on it
                "deletionVector": {
                    "storageType": dvd["storageType"],
                    "pathOrInlineDv": dvd["pathOrInlineDv"],
                    "offset": dvd.get("offset"),
                    "sizeInBytes": dvd["sizeInBytes"],
                    "cardinality": dvd["cardinality"],
                } if dvd else None,
                # row tracking: a checkpoint dropping these would
                # reassign every row's id at the next replay base
                "baseRowId": a.get("baseRowId"),
                "defaultRowCommitVersion": a.get(
                    "defaultRowCommitVersion"
                ),
                "clusteringProvider": a.get("clusteringProvider"),
            },
        })
    schema = pa.schema([
        ("txn", pa.struct([
            ("appId", pa.string()),
            ("version", pa.int64()),
            ("lastUpdated", pa.int64()),
        ])),
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
            ("baseRowId", pa.int64()),
            ("defaultRowCommitVersion", pa.int64()),
            ("clusteringProvider", pa.string()),
        ])),
        ("domainMetadata", pa.struct([
            ("domain", pa.string()),
            ("configuration", pa.string()),
            ("removed", pa.bool_()),
        ])),
    ])
    cp_tmp = os.path.join(
        _log_dir(table_dir),
        f"checkpoint.tmp.{uuid.uuid4().hex[:8]}",
    )
    if v2:
        add_rows = [r for r in rows if r.get("add")]
        meta_rows = [r for r in rows if not r.get("add")]
        sc_dir = os.path.join(_log_dir(table_dir), _SIDECAR_DIR)
        os.makedirs(sc_dir, exist_ok=True)
        n_files = max(1, min(sidecar_files, max(1, len(add_rows))))
        sidecar_schema = pa.schema([schema.field("add")])
        for i in range(n_files):
            # round-robin split: every requested sidecar gets work
            # (adds are keyed by path — intra-checkpoint order is
            # meaningless), so replay parallelism matches the ask
            batch = add_rows[i::n_files]
            if i and not batch:
                break
            name = f"{uuid.uuid4()}.parquet"
            sc_path = os.path.join(sc_dir, name)
            sc_tmp = f"{sc_path}.tmp"
            pq.write_table(
                pa.Table.from_pylist(
                    [{"add": r["add"]} for r in batch],
                    schema=sidecar_schema,
                ),
                sc_tmp,
            )
            os.replace(sc_tmp, sc_path)
            meta_rows.append({
                "sidecar": {
                    "path": name,
                    "sizeInBytes": os.path.getsize(sc_path),
                    "modificationTime": _now_ms(),
                }
            })
        meta_rows.insert(0, {
            "checkpointMetadata": {
                "version": state.version, "tags": None,
            }
        })
        v2_schema = pa.schema(
            list(schema)
            + [
                pa.field("checkpointMetadata", pa.struct([
                    ("version", pa.int64()),
                    ("tags", pa.map_(pa.string(), pa.string())),
                ])),
                pa.field("sidecar", pa.struct([
                    ("path", pa.string()),
                    ("sizeInBytes", pa.int64()),
                    ("modificationTime", pa.int64()),
                ])),
            ]
        )
        # sidecars land BEFORE the manifest (readers discover them
        # through it), manifest BEFORE _last_checkpoint — a crash at
        # any point leaves only unreferenced garbage, never a
        # manifest with missing parts
        if manifest_format not in ("parquet", "json"):
            raise ValueError(
                f"manifest_format={manifest_format!r}: the v2 spec "
                "allows parquet or json manifests only"
            )
        cp_path = os.path.join(
            _log_dir(table_dir),
            f"{state.version:020d}.checkpoint."
            f"{uuid.uuid4()}.{manifest_format}",
        )
        if manifest_format == "json":
            # spec: a json manifest is ndjson of the same actions —
            # one action key per line, no sparse nulls (sidecars stay
            # parquet either way)
            with open(cp_tmp, "w") as f:
                for r in meta_rows:
                    f.write(json.dumps(
                        {k: v for k, v in r.items() if v is not None},
                        separators=(",", ":"),
                    ) + "\n")
        else:
            pq.write_table(
                pa.Table.from_pylist(meta_rows, schema=v2_schema),
                cp_tmp,
            )
        os.replace(cp_tmp, cp_path)
    else:
        cp_path = _checkpoint_path(table_dir, state.version)
        pq.write_table(
            pa.Table.from_pylist(rows, schema=schema), cp_tmp
        )
        os.replace(cp_tmp, cp_path)  # never observable half-written
    tmp = os.path.join(_log_dir(table_dir), "_last_checkpoint.tmp")
    lc = {"version": state.version, "size": len(rows)}
    # ICT tables: persist the checkpointed commit's ICT so a later
    # commit whose predecessor JSON was GC'd can still floor its own
    # ICT monotonically (_commit_actions). Readers ignore unknown
    # _last_checkpoint fields, so this stays format-compatible.
    if _ict_enabled(state.configuration):
        cp_ict = _commit_ict(table_dir, state.version, ict_only=True)
        if cp_ict is not None:
            lc["cleanroomLastIct"] = cp_ict
    with open(tmp, "w") as f:
        json.dump(lc, f)
    os.replace(tmp, os.path.join(_log_dir(table_dir),
                                 "_last_checkpoint"))
    return state.version


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
    cm = _cm_mode(state) != "none"
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
    sub = DeltaState(
        version=state.version,
        files=tuple(keep),
        schema=state.schema,
        metadata_id=state.metadata_id,
        adds=keep,
        partition_cols=state.partition_cols,
        txns=state.txns,
        configuration=state.configuration,
    )
    df = _read_state(spark, table_dir, sub)
    for col, (lo, hi) in prune.items():
        if lo is not None:
            df = df.where(F.col(col) >= lo)
        if hi is not None:
            df = df.where(F.col(col) <= hi)
    return df


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
    rt = _rt_active(head.protocol, head.configuration)
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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
    if head.partition_cols:
        return _delta_compact_partitioned(
            spark, table_dir, head, target_files, stats_cols,
        )
    rt_on = _rt_enabled(head.configuration)
    mat_cols: list = []
    df = _read_state(spark, table_dir, head, with_row_ids=rt_on)
    if rt_on:
        # OPTIMIZE changes no rows, so compacted rows keep BOTH their
        # ids and their original commit versions — materialize both
        # into the rewritten files (fresh defaults can't represent
        # rows drawn from many source commits)
        mat_id, mat_rcv = _rt_mat_names(
            table_dir, head.configuration
        )
        df = df.withColumnRenamed(_ROW_ID, mat_id) \
               .withColumnRenamed(_ROW_RCV, mat_rcv)
        mat_cols = [mat_id, mat_rcv]
    df, _wp, pstat = _physical_payload(
        df, head.schema, extra_cols=mat_cols
    )
    phys_stats = (
        [pstat(c) for c in stats_cols] if stats_cols else stats_cols
    )
    adds, _ = _write_adds(
        df.coalesce(target_files), table_dir,
        stats_cols=phys_stats, data_change=False,
    )
    return _optimize_commit(
        table_dir, head, head.files, adds,
        {"targetFiles": target_files},
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
    cm = _cm_mode(head) != "none"
    pphys = {
        c: (_phys_col_name(schema, c) if cm else c) for c in pcols
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
    rt_on = _rt_enabled(head.configuration)
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
    sub = DeltaState(
        version=version,
        files=tuple(added),
        schema=end.schema,
        metadata_id=end.metadata_id,
        adds=added,
        partition_cols=end.partition_cols,
        configuration=end.configuration,
    )
    return _read_state(spark, table_dir, sub)


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
        return DeltaState(
            version=version,
            files=tuple(adds),
            schema=end.schema,
            metadata_id=end.metadata_id,
            adds=adds,
            partition_cols=end.partition_cols,
            configuration=end.configuration,
        )

    def _keep_positions(df, pos_map: dict):
        """Inverse of the live filter: KEEP only (file, row_index)
        pairs named in ``pos_map`` (abs path -> sorted positions)."""
        bc = spark.sparkContext.broadcast(pos_map)
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("boolean")
        def _hit(paths, idxs):
            import pandas as pd

            m = bc.value
            out = np.zeros(len(paths), dtype=bool)
            vals = idxs.to_numpy(dtype=np.int64)
            # factorize: per-file selection at C speed instead of a
            # per-row lambda + per-file string masks (same fix as
            # _dv_live_filter, guide §4.2)
            codes, uniques = pd.factorize(paths)
            if (codes == -1).any():
                # a null path factorizes to code -1 (absent from
                # uniques) — the row would keep its default False and
                # silently vanish from the feed; refuse like a key miss
                raise ValueError(
                    "change-feed diff filter: scan batch carries a "
                    "null file path — cannot match a position-map "
                    "key; dropping the row would lose changed rows"
                )
            for k, raw in enumerate(uniques):
                ap = _normalize_file_uri(raw)
                pos = m.get(ap)
                if pos is None:
                    # the raw scan covers exactly pos_map's files, so
                    # a key miss is path-normalization drift; keeping
                    # the default False would silently DROP changed
                    # rows from the feed (mirror image of the live
                    # filter's resurrect hazard)
                    raise ValueError(
                        f"change-feed diff filter: scan file {ap!r} "
                        "matches no position-map key — path "
                        "normalization drift would drop changed rows"
                    )
                if not len(pos):
                    continue
                rows = np.flatnonzero(codes == k)
                v = vals[rows]
                j = np.searchsorted(pos, v)
                hit = (j < len(pos)) & (
                    pos[np.minimum(j, len(pos) - 1)] == v
                )
                out[rows[hit]] = True
            return pd.Series(out)

        return df.where(
            _hit(F.col(_DV_PATH), F.col(_DV_IDX))
        ).drop(_DV_PATH, _DV_IDX)

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
            for action in quiet:
                if "add" in action:
                    cur[action["add"]["path"]] = action["add"]
                else:
                    r = action["remove"]
                    live = cur.get(r["path"])
                    if live is not None and _dv.dv_unique_id(
                        r.get("deletionVector")
                    ) == _dv.dv_unique_id(
                        live.get("deletionVector")
                    ):
                        cur.pop(r["path"])
            for path, r in removes_v.items():
                live = cur.get(path)
                if live is not None and path not in adds_v and \
                        _dv.dv_unique_id(r.get("deletionVector")) \
                        == _dv.dv_unique_id(
                            live.get("deletionVector")):
                    cur.pop(path)
            cur.update(adds_v)
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
        # roll the tracked state forward (quiet rewrites included)
        for action in quiet:
            if "add" in action:
                cur[action["add"]["path"]] = action["add"]
            else:
                r = action["remove"]
                live = cur.get(r["path"])
                if live is not None and _dv.dv_unique_id(
                    r.get("deletionVector")
                ) == _dv.dv_unique_id(
                    live.get("deletionVector")
                ):
                    cur.pop(r["path"])
        for path, r in removes_v.items():
            live = cur.get(path)
            if live is not None and path not in adds_v and \
                    _dv.dv_unique_id(r.get("deletionVector")) == \
                    _dv.dv_unique_id(live.get("deletionVector")):
                cur.pop(path)
        cur.update(adds_v)

    if not parts:
        return _empty()
    out = parts[0]
    for df in parts[1:]:
        out = out.unionByName(df)
    return out


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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
    _check_append_only(table_dir, head.configuration, "MERGE")
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
    rt_on = _rt_enabled(head.configuration)
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
    if _cdf_enabled(head.configuration):
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
    if _rt_active(head.protocol, head.configuration):
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

    rt_on = _rt_enabled(head.configuration)
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
    if _cdf_enabled(head.configuration):
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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
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
    if _cdf_enabled(config):
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
    if _ict_enabled(config):
        need_w.add("inCommitTimestamp")
        if not _ict_enabled(head.configuration):
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
    if _rt_enabled(config) and not _rt_enabled(head.configuration):
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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
    if ((head.configuration or {}).get("delta.columnMapping.mode")
            or "none") not in ("name", "id"):
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
    rules = [
        expr
        for _, expr in (
            list(_table_constraints(head.configuration).items())
            + _column_invariants(head.schema)
            + _generated_columns(head.schema)
        )
    ]
    import re as _re

    hit = [
        r for r in rules
        if _re.search(rf"\b{_re.escape(old)}\b", r)
    ]
    if hit:
        raise ValueError(
            f"cannot rename {old!r}: referenced by table rule(s) "
            f"{hit} — drop or rewrite them first"
        )
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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
    if ((head.configuration or {}).get("delta.columnMapping.mode")
            or "none") not in ("name", "id"):
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
    rules = [
        expr
        for _, expr in (
            list(_table_constraints(head.configuration).items())
            + _column_invariants(head.schema)
            + _generated_columns(head.schema)
        )
    ]
    import re as _re

    hit = [
        r for r in rules
        if _re.search(rf"\b{_re.escape(col)}\b", r)
    ]
    if hit:
        raise ValueError(
            f"cannot drop {col!r}: referenced by table rule(s) "
            f"{hit} — drop or rewrite them first"
        )
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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
    mode = (
        (head.configuration or {}).get("delta.columnMapping.mode")
        or "none"
    )
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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
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
        import re as _re

        po, so = map(int, _re.findall(r"\d+", old_type))
        pn, sn = map(int, _re.findall(r"\d+", new_type))
        ok = sn >= so and (pn - sn) >= (po - so) and pn > po
    if not ok:
        raise ValueError(
            f"{old_type!r} -> {new_type!r} is not an allowed type "
            "widening (spec matrix: byte/short/int -> wider ints or "
            "double, float -> double, decimal precision growth)"
        )
    rules = [
        expr
        for _, expr in (
            list(_table_constraints(head.configuration).items())
            + _column_invariants(head.schema)
            + _generated_columns(head.schema)
        )
    ]
    import re as _re

    hit = [r for r in rules if _re.search(
        rf"\b{_re.escape(col)}\b", r
    )]
    if hit:
        raise ValueError(
            f"cannot widen {col!r}: referenced by table rule(s) "
            f"{hit} — drop or rewrite them first"
        )
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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
    _check_append_only(table_dir, head.configuration, "DELETE")
    live = _read_state(spark, table_dir, head, keep_rowmeta=True)
    cond = (
        F.expr(predicate) if isinstance(predicate, str) else predicate
    )
    cdf = _cdf_enabled(head.configuration)
    matched = live.where(cond)
    if cdf:
        # two consumers of the matched set under CDF (bitmap pass +
        # change-data file): materialize once instead of re-running
        # the scan and the per-file DV filter (optimization round,
        # guide §2.4) — this also makes the bitmap and cdc row sets
        # identical by construction, closing the documented
        # nondeterministic-predicate hazard
        matched = matched.persist()
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
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                f_marks = pool.submit(
                    _dv_mark_actions, spark, table_dir, head, hits
                )
                f_cdc = pool.submit(
                    _write_cdc_files,
                    matched
                    .drop(_DV_PATH, _DV_IDX)
                    .withColumn(_CHANGE_TYPE, F.lit("delete")),
                    table_dir,
                    head.schema,
                    head.partition_cols,
                )
            marks = _dv_marks_or_discard(table_dir, f_marks, f_cdc)
            # CDF contract: a DV delete is NOT derivable from
            # add/remove by readers that trust cdc files, so the
            # deleted rows ride a change-data file
            cdc_actions = f_cdc.result()
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


def _dv_marks_or_discard(table_dir: str, f_marks, f_cdc, f_write=None):
    """The bitmap leg's result once every concurrent DML leg has
    finished. If any leg raised, best-effort delete what the other
    legs wrote — the bitmap leg's ``deletion_vector_<uuid>.bin`` (named
    by its marks' descriptors) and the ``_change_data/<uuid>/`` and
    ``data/<uuid>/`` roots; no commit will ever reference them — and
    re-raise the first failed leg's error (bitmap, cdc, data order)."""
    import shutil

    legs = [f for f in (f_marks, f_cdc, f_write) if f is not None]
    errors = [f.exception() for f in legs]
    if not any(errors):
        return f_marks.result()
    ok = {f for f, e in zip(legs, errors) if e is None}
    marks = f_marks.result() if f_marks in ok else None
    dv_files = {
        _dv.absolute_dv_path(table_dir, a["add"]["deletionVector"])
        for a in (marks[1] if marks else ())
    }
    for path in dv_files - {None}:
        try:
            os.remove(path)
        except OSError:
            pass
    rels: list[str] = []
    if f_cdc in ok:
        rels += [a["cdc"]["path"] for a in f_cdc.result()]
    if f_write in ok:
        rels += list(f_write.result()[1])  # every written file
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
    if _rt_active(head.protocol, head.configuration):
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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
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
    _check_append_only(table_dir, head.configuration, "UPDATE")
    rt_on = _rt_enabled(head.configuration)
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
    # the single-scan DELETE on the same table). persist (not
    # localCheckpoint) keeps lineage recomputable; the working set is
    # bounded by the matched rows, which every one of those consumers
    # materializes anyway. It also closes the documented
    # nondeterministic-predicate hazard: the bitmaps and the
    # rewritten copies now come from the SAME materialized row set.
    matched = live.where(cond).persist()
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
    set (split out so the persist/unpersist lifecycle wraps it)."""
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
    from concurrent.futures import ThreadPoolExecutor

    wupdated, wpcols, _ = _physical_payload(
        updated, head.schema, pcols, extra_cols=mat_cols
    )
    with ThreadPoolExecutor(max_workers=3) as pool:
        f_marks = pool.submit(
            _dv_mark_actions, spark, table_dir, head,
            matched.select(_DV_PATH, _DV_IDX),
        )
        f_cdc = None
        if _cdf_enabled(head.configuration):
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
            f_cdc = pool.submit(
                _write_cdc_files,
                [pre, post], table_dir, head.schema, pcols,
            )
        f_write = pool.submit(_write_adds, wupdated, table_dir, wpcols)
    marks = _dv_marks_or_discard(table_dir, f_marks, f_cdc, f_write)
    if marks is None:  # unreachable with count > 0; keep the serial
        return head    # path's contract regardless
    removes, dv_adds, metrics, ts = marks
    cdc_actions = f_cdc.result() if f_cdc is not None else []
    new_adds, _ = f_write.result()
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
    # full writer gate, not checkpoint_only: the clone COMMITS a log
    # whose protocol promises these writer features to native readers
    # of the TARGET — promising a contract we cannot enforce on the
    # clone's own future commits would be a silent lie
    _check_writer_protocol(
        source_dir, src.protocol, src.configuration
    )
    if os.path.isdir(_log_dir(target_dir)) and any(
        n.endswith(".json") and n[:-5].isdigit()
        for n in os.listdir(_log_dir(target_dir))
    ):
        raise ValueError(
            f"{target_dir} is already a Delta table — CLONE only "
            "creates new tables (native refuses too; REPLACE "
            "semantics would silently orphan the existing history)"
        )
    cfg = dict(src.configuration or {})
    ict0 = None
    if _ict_enabled(cfg):
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
    if os.path.isdir(_log_dir(table_dir)) and any(
        n.endswith(".json") and n[:-5].isdigit()
        for n in os.listdir(_log_dir(table_dir))
    ):
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
    head = replay(table_dir)
    _check_writer_protocol(
        table_dir, head.protocol, head.configuration
    )
    _check_append_only(table_dir, head.configuration, "RESTORE")
    target = replay(table_dir, version)
    if target.version == head.version:
        return head  # restoring the head: nothing to do

    def _key(a):
        return (a["path"], _dv.dv_unique_id(a.get("deletionVector")))

    cur = {_key(a): a for a in head.adds.values()}
    tgt = {_key(a): a for a in target.adds.values()}
    to_add = [tgt[k] for k in tgt.keys() - cur.keys()]
    to_remove = [cur[k] for k in cur.keys() - tgt.keys()]
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
    if _rt_active(head.protocol, head.configuration):
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
    # files they no longer understand. replay() runs the reader gate;
    # the writer gate runs in maintenance form (checkpoint_only: a
    # vacuum writes no data, so e.g. id-mode tables stay vacuumable)
    _head = replay(table_dir)
    _check_writer_protocol(
        table_dir, _head.protocol, _head.configuration,
        checkpoint_only=True,
    )
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

