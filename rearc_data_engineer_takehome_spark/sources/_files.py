"""Data-file helpers shared by the Delta log (``delta_log/``) and
the queries that write scratch tables: immutable data-file writes,
parquet-footer statistics, structural schema compatibility and additive
schema merge, the conservative file-skipping interval test, the
commit-conflict error, and the per-process scratch table root."""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame

_DATADIR = "data"


class ConcurrentCommitError(RuntimeError):
    """A competing commit landed on the version this writer's content
    was computed against; the content must be rebuilt from the new
    head before retrying."""


def _write_data_files(df: DataFrame, table_dir: str) -> list[str]:
    """Materialize df as immutable files under a fresh data/<uuid>/
    prefix; returns their table-relative paths."""
    commit_id = uuid.uuid4().hex[:12]
    rel = os.path.join(_DATADIR, commit_id)
    out = os.path.join(table_dir, rel)
    df.write.mode("errorifexists").parquet(out)
    return sorted(
        os.path.join(rel, f)
        for f in os.listdir(out)
        if f.endswith(".parquet") and not f.startswith("_")
    )


def _stats_from_metadata(md, cols: list[str]) -> dict:
    """Column statistics ({col: {min, max, nulls}}) from ONE parquet
    footer's metadata object — split out so callers that already hold
    the footer (delta_log's writer) don't re-open the file."""
    per_col: dict = {}
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            if name not in cols:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                per_col[name] = None  # unknown somewhere: drop col
                continue
            mn, mx = st.min, st.max
            if isinstance(mn, bytes):
                try:
                    mn, mx = mn.decode(), mx.decode()
                except UnicodeDecodeError:
                    per_col[name] = None
                    continue
            if not isinstance(mn, (int, float, str, bool)):
                per_col[name] = None
                continue
            prev = per_col.get(name)
            if prev is None and name in per_col:
                continue  # already poisoned by an unknown row group
            nulls = st.null_count if st.null_count is not None else 0
            if prev is None:
                per_col[name] = {"min": mn, "max": mx, "nulls": nulls}
            else:
                per_col[name] = {
                    "min": min(prev["min"], mn),
                    "max": max(prev["max"], mx),
                    "nulls": prev["nulls"] + nulls,
                }
    return {k: v for k, v in per_col.items() if v is not None}


def _norm_type(t):
    """Structural normal form of a StructType-JSON type: nullability
    and field metadata stripped, struct fields sorted by name — the
    parquet-union compatibility relation (parquet resolves columns by
    NAME; nullability is advisory on read; metadata is not data)."""
    if isinstance(t, dict):
        kind = t.get("type")
        if kind == "struct":
            return (
                "struct",
                tuple(sorted(
                    (f["name"], _norm_type(f["type"]))
                    for f in t["fields"]
                )),
            )
        if kind == "array":
            return ("array", _norm_type(t["elementType"]))
        if kind == "map":
            return ("map", _norm_type(t["keyType"]), _norm_type(t["valueType"]))
    return t


def _schema_compatible(a_json: str, b_json: str) -> bool:
    return _norm_type(json.loads(a_json)) == _norm_type(json.loads(b_json))


def _merge_schemas(table_json: str, append_json: str) -> str:
    """Additive schema evolution (Delta's mergeSchema contract): the
    merged schema keeps every table field's original definition, then
    appends fields only the incoming batch has — forced nullable,
    because every pre-evolution file lacks them and reads null-fill.
    A field present in BOTH must be structurally identical (same
    normal-form type), and the batch must CARRY every existing table
    column: a missing column is a loud error, because it is
    indistinguishable from half of a rename — accepting it would turn
    `s -> s2` into a silent (k, s, s2) table with complementary null
    halves, exactly the read corruption this contract exists to
    prevent."""
    table = json.loads(table_json)
    append = json.loads(append_json)
    by_name = {f["name"]: f for f in append["fields"]}
    merged = []
    for f in table["fields"]:
        inc = by_name.pop(f["name"], None)
        if inc is None:
            raise ValueError(
                f"merge_schema batch is missing table column "
                f"{f['name']!r}: only ADDING columns is supported — a "
                "missing column reads as half of a rename, which would "
                "silently null-fill both halves"
            )
        if _norm_type(inc["type"]) != _norm_type(f["type"]):
            raise ValueError(
                f"merge_schema cannot change column {f['name']!r}'s "
                f"type ({f['type']} -> {inc['type']}); only ADDING "
                "columns is supported"
            )
        merged.append(f)
    for f in append["fields"]:  # preserve the batch's order for adds
        if f["name"] in by_name:
            merged.append({**f, "nullable": True})
    return json.dumps({**table, "fields": merged})


def _file_may_match(file_stats: dict | None, prune: dict) -> bool:
    """Interval test against a file's manifest stats: drop the file
    only when some pruned column's [min, max] range PROVABLY misses
    [lo, hi]. Missing stats (file committed without stats_cols, column
    unknown, or all-null footer) keep the file — row-level filtering
    downstream guarantees correctness either way; stats only save IO."""
    if not prune:
        return True
    for col, (lo, hi) in prune.items():
        cs = (file_stats or {}).get(col)
        if cs is None:
            continue  # unknown: cannot prove a miss
        try:
            if lo is not None and cs["max"] < lo:
                return False
            if hi is not None and cs["min"] > hi:
                return False
        except TypeError:
            # bound/stat type mismatch (e.g. int bound on a str
            # column): cannot prove a miss — keep the file and let the
            # row-level predicate decide (which will raise its own
            # typed analysis error if the comparison is truly illegal)
            continue
    return True


def scratch_table_dir(suffix: str) -> str:
    """Per-process scratch table path under a per-uid /tmp root, with
    hygiene: every call sweeps sibling lineages older than a day
    (dead processes' tables) so growth stays bounded no matter which
    scratch-table query runs. pid-scoping exists because two
    concurrent PROCESSES must not interleave overwrite/append commits
    on one log (the increment would be ill-defined by design); within
    one process, calls are sequential and versions just accumulate."""
    import shutil
    import tempfile
    import time

    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_snaptbl_{os.getuid()}"
    )
    tbl = os.path.join(root, f"{os.getpid()}_{suffix}")
    if os.path.isdir(root):
        now = time.time()
        for d in os.listdir(root):
            full = os.path.join(root, d)
            if full == tbl:
                continue
            # a dead owner's tables are garbage NOW, not in a day —
            # a driver/bench session spawning many processes was
            # observed to strand 1000+ dirs (2.3 GB) in hours
            pid_s = d.split("_", 1)[0]
            dead = False
            if pid_s.isdigit() and int(pid_s) != os.getpid():
                try:
                    os.kill(int(pid_s), 0)
                except ProcessLookupError:
                    dead = True
                except OSError:
                    pass
            try:
                if dead or now - os.stat(full).st_mtime > 86_400:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass
    return tbl

