"""The Delta log itself: commit files, replay and checkpoints.

A commit is ``_delta_log/<version:020d>.json``, ndjson actions landed
by put-if-absent (``_atomic_commit``) with in-commit-timestamp stamping
(``_commit_actions``). ``replay`` rebuilds a ``DeltaState`` from the
newest complete checkpoint plus the JSON commits after it, and
``write_checkpoint`` writes classic single-file or v2 (manifest +
sidecars) checkpoints. The reader and writer protocol gates live here,
as does the table-feature record (``_features``): what a (protocol,
configuration) pair makes of a table, resolved once and exposed as
``DeltaState.features``.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from dataclasses import dataclass
from functools import cached_property

from .. import dv as _dv
from .. import _files


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

    @cached_property
    def features(self) -> _Features:
        """The table features of this version (:func:`_features`)."""
        return _features(self.protocol, self.configuration)


@dataclass(frozen=True)
class _Features:
    """What a (protocol, configuration) pair makes of a table — resolved
    once by :func:`_features` instead of re-read by every operation."""

    cm_mode: str  # delta.columnMapping.mode: "none", "name", "id", ...
    rt_enabled: bool  # delta.enableRowTracking: rewrites keep row ids
    # adds must carry row ids: per the spec a writer assigns them
    # whenever the TABLE FEATURE is supported — enablement only adds
    # the stability guarantee (preservation across rewrites)
    rt_active: bool
    cdf: bool  # delta.enableChangeDataFeed: DV DML writes cdc files
    ict: bool  # delta.enableInCommitTimestamps
    append_only: bool  # delta.appendOnly: no dataChange removes
    # why this writer must not commit to the table (the honest-writer
    # verdict of _check_writer_protocol), None when it may
    writer_refusal: str | None


def _features(protocol: dict | None, configuration: dict | None) -> _Features:
    """The :class:`_Features` of a table with ``protocol`` and
    ``configuration``."""
    cfg = configuration or {}

    def on(key):
        return cfg.get(key, "").lower() == "true"

    rt = on("delta.enableRowTracking")
    cm = cfg.get("delta.columnMapping.mode") or "none"
    return _Features(
        cm_mode=cm,
        rt_enabled=rt,
        rt_active=rt or "rowTracking" in (
            (protocol or {}).get("writerFeatures") or []
        ),
        cdf=on("delta.enableChangeDataFeed"),
        ict=on("delta.enableInCommitTimestamps"),
        append_only=on("delta.appendOnly"),
        writer_refusal=_writer_refusal(protocol, cm),
    )


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
    if _features(None, configuration).ict:
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


def _writer_refusal(protocol: dict | None, cm_mode: str) -> str | None:
    """Honest-writer verdict, symmetric with _check_protocol: a table
    whose protocol demands writer capabilities this module does not
    implement must refuse to commit — appending or overwriting anyway
    would silently violate those constraints for native readers (e.g.
    new rows into an appendOnly table's overwrite, unchecked
    invariants). Per the spec, writers reject unsupported writer
    protocols even when the READER protocol is satisfied. Returns the
    refusal (after the table name), or None. Features that change the
    CHECKPOINT's own contract (e.g. v2Checkpoint) are gated here too:
    checkpoints and vacuum take the same verdict as data writes."""
    if cm_mode not in ("none", "name", "id"):
        # name AND id modes are fully writable (physical-name
        # bookkeeping + parquet field-id stamping in
        # _physical_payload); an unknown FUTURE mode still refuses —
        # files written under the wrong addressing scheme would be
        # unreadable for native readers of that mode
        return (
            f"uses column mapping mode {cm_mode!r}; this clean-room "
            "writer implements 'name' and 'id' modes only"
        )
    # changeDataFeed is a fully-implemented writer capability since
    # round 9: DV DELETE/UPDATE/MERGE emit spec cdc actions +
    # _change_data files whenever the table property enables it
    # (appends/overwrites stay derivable from add/remove per the
    # spec, so they owe none); accepting CDF-on tables is honest.
    if not protocol:
        return None
    mwv = protocol.get("minWriterVersion", 2) or 2
    feats = set(protocol.get("writerFeatures") or [])
    if mwv <= 6 and not feats:
        # writer v2 = appendOnly + invariants, v3 adds CHECK
        # constraints, v4 adds generated columns (+ CDF, gated
        # above), v5 adds column mapping (name AND id mode
        # bookkeeping implemented; unknown future modes refused
        # above), v6 adds identity columns (generated + HWM
        # bookkeeping implemented round 10) — all ENFORCED on every
        # mutating path (_enforce_row_rules / _check_append_only /
        # _physical_payload / _identity_fields), so accepting these
        # versions is honest, not a bypass
        return None
    if mwv == 7 and feats <= _WRITER_FEATURES:
        # table-features writer protocol whose every listed feature
        # this module implements (deletionVectors: removes carry the
        # cancelled add's DV descriptor, delete/compact maintain them)
        return None
    return (
        f"requires Delta minWriterVersion {mwv} "
        f"(writerFeatures={sorted(feats)}); this clean-room writer "
        f"implements writer protocol 5 plus {sorted(_WRITER_FEATURES)}"
        " only — committing anyway could silently violate the "
        "table's column-mapping/identity/row-tracking contracts for "
        "native readers"
    )


def _check_writer_protocol(
    table_dir: str, protocol, configuration: dict | None = None
) -> None:
    """Raise NotImplementedError when this writer must not commit to a
    table with ``protocol`` and ``configuration`` (_writer_refusal)."""
    refusal = _features(protocol, configuration).writer_refusal
    if refusal:
        raise NotImplementedError(f"{table_dir} {refusal}")


def _writable_head(table_dir: str) -> DeltaState:
    """The head state of a table this writer may commit to — the
    replay + writer-gate pair that opens every operation on an
    existing table."""
    head = replay(table_dir)
    _check_writer_protocol(table_dir, head.protocol, head.configuration)
    return head


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
    new_w = have_w | set(writer_feats)
    return {
        "minReaderVersion": 3 if (new_r or mrv >= 3) else mrv,
        "minWriterVersion": 7,
        **(
            {"readerFeatures": sorted(new_r)}
            if (new_r or mrv >= 3) else {}
        ),
        "writerFeatures": sorted(new_w),
    }


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
    _check_writer_protocol(
        table_dir, state.protocol, state.configuration
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
        }},
        {
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
        },
    ]
    for app_id, tv in sorted((state.txns or {}).items()):
        rows.append({
            "txn": {"appId": app_id, "version": tv,
                    "lastUpdated": None},
        })
    for dom, cfg in sorted((state.domain_metadata or {}).items()):
        # live domains must survive checkpointing — row tracking's
        # high-water mark lives in delta.rowTracking; dropping it
        # would hand duplicate row ids to post-GC writers
        rows.append({
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
    if state.features.ict:
        cp_ict = _commit_ict(table_dir, state.version, ict_only=True)
        if cp_ict is not None:
            lc["cleanroomLastIct"] = cp_ict
    with open(tmp, "w") as f:
        json.dump(lc, f)
    os.replace(tmp, os.path.join(_log_dir(table_dir),
                                 "_last_checkpoint"))
    return state.version
