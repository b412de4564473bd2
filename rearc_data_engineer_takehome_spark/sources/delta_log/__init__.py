"""Clean-room native Delta Lake transaction-log interop.

The reference pipeline persists its curated tables in Delta format
(reference: notebooks/20_analytics.ipynb:653, 2200, 2561;
21_EDA.ipynb:33360). The ``delta-spark`` package is unavailable in
this environment, but the on-disk format needs no package: the Delta
transaction protocol is a public specification (delta-io/delta
PROTOCOL.md) — a ``_delta_log/`` directory of newline-delimited JSON
action files named ``<version:020d>.json``, optional parquet
checkpoints, and plain parquet data files. This package implements that
format directly from the public spec:

* ``write_delta`` / ``read_delta`` — a native-format writer/reader
  pair: versioned commits (protocol, metaData, add, remove,
  commitInfo actions), optimistic concurrency via atomic
  put-if-absent of the commit file (the same primitive the spec
  prescribes for filesystems with atomic create), time travel, and
  per-file ``stats`` JSON (numRecords/minValues/maxValues/nullCount)
  mined from parquet footers for data skipping by any Delta reader.
* ``write_checkpoint`` — a parquet checkpoint of the replayed state
  plus ``_last_checkpoint``, so readers (ours or native) start from
  the checkpoint instead of replaying from 0 and old JSON commits
  become garbage-collectable.

Scale posture: the log is O(commits) driver-side metadata — data
files are written once by Spark executors and never rewritten;
reads hand Spark the resolved file list with the log's schema pinned
(additive evolution null-fills old files). Checkpoints bound replay
cost exactly as in native Delta. Interop with the real
``delta-spark`` reader is asserted by an env-gated test
(tests/test_delta_log.py) that runs wherever the package exists;
format conformance (action shapes, naming, relative paths, stats
encoding) is asserted unconditionally, and tests/test_delta_golden.py
pins every operation's commit files.

Modules, each importing only the ones before it:

* ``log`` — commit files, replay, checkpoints, protocol gates and the
  table-feature record (``DeltaState.features``);
* ``scan`` — reads: DV filters, column mapping, row ids, data skipping,
  the append feed and the change data feed;
* ``write`` — the one commit path, add actions, table rules, column
  mapping / identity / row-id writes, change-data files, ``write_delta``;
* ``dml`` — MERGE, DELETE and UPDATE;
* ``maintenance`` — OPTIMIZE and clustering, schema and property
  changes, clone, convert, restore, vacuum, history.

Commit path: every operation commits through one private helper,
``write._commit``. It appends the commitInfo (one ``_ENGINE_INFO``
constant), commits with in-commit-timestamp stamping
(``log._commit_actions`` -> ``log._atomic_commit``), replays the new
version and applies the ``delta.checkpointInterval`` auto-checkpoint.
Only ``write_checkpoint``'s own protocol-upgrade commit calls
``_commit_actions`` directly. The steps around a commit are shared the
same way: ``_writable_head`` (replay + writer gate), ``_write_adds`` /
``_file_adds`` (data files -> footers -> add actions),
``_optimize_commit`` (the OPTIMIZE retry loop) and
``_dv_commit_actions`` (the action list of a deletion-vector commit).
"""

from .dml import delta_delete, delta_merge_upsert, delta_update
from .log import (
    DeltaState, list_delta_versions, replay, resolve_version_at,
    write_checkpoint,
)
from .maintenance import (
    clustering_columns, convert_to_delta, delta_alter_properties,
    delta_clone, delta_cluster_optimize, delta_compact,
    delta_drop_column, delta_history, delta_rename_column, delta_restore,
    delta_set_clustering, delta_upgrade_column_mapping, delta_widen_column,
    vacuum_delta,
)
from .scan import (
    delta_scan, read_delta, read_delta_changes, read_delta_increment,
)
from .write import delta_create_identity_table, write_delta

# private helpers that tests and the ICT scenario query read through
# the package; a monkeypatch must target the defining module instead
from .log import (
    _CP_NAME, _CP_V2, _DV_PROTOCOL, _SIDECAR_DIR, _atomic_commit,
    _check_protocol, _check_writer_protocol, _checkpoint_files,
    _checkpoint_path, _checkpoint_versions, _commit_ict, _commit_path,
    _last_checkpoint, _read_checkpoint_state,
)
from .scan import _add_stats_view, _dv_live_filter
from .write import _meta_action, _remap_column_mapping, _rt_hwm
