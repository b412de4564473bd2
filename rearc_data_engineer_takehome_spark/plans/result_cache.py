"""Plan-fingerprint result cache (the Snowflake / Databricks
result-cache shape).

A repeated dashboard query on unchanged inputs should cost a cache
read, not a 100 TB scan. ``cached_result`` fingerprints a DataFrame by
its CANONICALIZED optimized logical plan (expression ids normalized, so
two identical queries built separately hash alike) plus the identity
and modification state of every input file; the first call
materializes the result as parquet under that fingerprint, and later
calls with the same fingerprint read the materialization back — any
change to the query OR to any input file changes the fingerprint and
recomputes.

Correctness stance: the fingerprint is a conservative key — plan
canonicalization is Spark's own equivalence relation, the plan is
rendered via ``toJSON()`` (full fidelity: ``toString()`` elides
expression lists past ``spark.sql.debug.maxToStringFields``, which
made 26-plus-aggregate twins collide), and file (path, size,
mtime_ns) triples over-approximate data change (a rewrite with
identical bytes still invalidates). False sharing is therefore
impossible; false invalidation only costs a recompute. Determinism
caveat: results are plan-level, so a nondeterministic query (rand(),
current_timestamp()) caches its FIRST materialization — same contract
as every production result cache.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

from ..sources.readers import read_parquet


def plan_fingerprint(df: DataFrame) -> str:
    """Stable hex fingerprint of (canonicalized plan, input file
    state). Input listing comes from ``df.inputFiles()`` (every file
    a scan in this plan would read); file state is (path, size,
    mtime_ns) via os.stat for local paths — on object storage, swap in
    the store's etag/version listing."""
    # toJSON, NOT toString: tree string rendering truncates wide
    # expression lists ("... N more fields"), which collapses
    # semantically different plans onto one fingerprint
    plan = (
        df._jdf.queryExecution().optimizedPlan().canonicalized().toJSON()
    )
    h = hashlib.sha256(plan.encode())
    for f in sorted(df.inputFiles()):
        # inputFiles() returns percent-encoded URIs — decode before
        # stat or any path with a space/unicode char silently falls
        # into the identity-only branch and misses in-place rewrites
        parsed = urlparse(f)
        local = unquote(parsed.path) if parsed.scheme in ("file", "") else None
        try:
            st = os.stat(local) if local else None
        except OSError:
            st = None
        if st is not None:
            h.update(f"{f}|{st.st_size}|{st.st_mtime_ns}".encode())
        else:  # non-local / unstat-able path: identity only
            h.update(f.encode())
    return h.hexdigest()[:32]


def cached_result(
    spark: SparkSession, df: DataFrame, cache_dir: str,
    max_bytes: int | None = None,
) -> DataFrame:
    """Return ``df``'s result, serving from the fingerprint cache when
    the same plan over the same input state was materialized before.

    The materialization keeps ``df``'s partitioning (a cache hit is a
    plain parquet scan — pruned, split, and parallelized like any
    other). Writers race safely: each builds under a unique temp dir
    and commits with a rename, so a killed writer never leaves a
    half-cache a reader would trust, and when two sessions build the
    same entry concurrently the loser discards its copy and serves the
    winner's (the two materializations are equivalent by key).

    ``max_bytes`` bounds the cache dir by pruning BEFORE serving, with
    the about-to-be-served fingerprint excluded from eviction — prune
    must never run between serving and the caller's action, or the
    returned lazy scan can point at files an eviction just deleted
    (lost-read, the ordering bug a post-serve prune had)."""
    fp = plan_fingerprint(df)
    if max_bytes is not None:
        prune_cache(cache_dir, max_bytes, keep={fp})
    path = os.path.join(cache_dir, fp)
    if not os.path.isdir(path):
        tmp = f"{path}._building.{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(tmp)
        try:
            os.replace(tmp, path)
        except OSError:
            # lost the commit race: another writer installed the same
            # fingerprint first — equivalent content, use theirs
            if not os.path.isdir(path):
                raise
            shutil.rmtree(tmp, ignore_errors=True)
    return read_parquet(spark, path)


def prune_cache(
    cache_dir: str,
    max_bytes: int,
    orphan_age_seconds: float = 6 * 3600,
    keep: frozenset[str] | set[str] = frozenset(),
) -> list[str]:
    """Size-bounded LRU eviction for the fingerprint cache: delete
    least-recently-READ entries (dir atime, falling back to mtime)
    until the total is under ``max_bytes``. Returns the evicted names.

    ``keep`` names fingerprints this PROCESS is still holding lazy
    DataFrames over — they are never evicted (but still count toward
    the size total, so everything else shrinks around them). Serving
    callers must prune BEFORE building/serving (or pass the served
    fingerprint here): evicting an entry an un-collected
    ``spark.read.parquet`` points at fails that reader with
    FileNotFound at action time instead of a recompute. A CONCURRENT
    process's prune can still do exactly that — cross-process pinning
    needs refcounts no filesystem LRU has; callers retry the query on
    a vanished-cache FileNotFound (the key recomputes correctly).

    ``._building.*`` temp dirs belong to an in-flight writer and are
    left alone — UNLESS they are older than ``orphan_age_seconds``
    (default 6h): a writer killed mid-build leaves its temp dir behind
    forever, and without the age sweep those orphans would accumulate
    outside the size accounting, silently unbounding the directory the
    max_bytes contract claims to bound.

    Concurrency: every per-entry stat tolerates the entry vanishing
    between the listing and the stat (another pruner or a manual
    cleanup racing this one) by skipping it — a prune must never abort
    half-way because someone else cleaned first. Evicting a live entry
    is always SAFE (the key encodes everything; the next call
    recomputes), so the policy only trades recompute cost."""
    import time

    now = time.time()
    entries = []
    total = 0
    evicted: list[str] = []
    if not os.path.isdir(cache_dir):  # nothing cached yet: nothing to prune
        return evicted
    for name in os.listdir(cache_dir):
        p = os.path.join(cache_dir, name)
        try:
            if name in keep:
                total += sum(
                    os.path.getsize(os.path.join(p, f))
                    for f in os.listdir(p)
                )
                continue
            if "._building." in name:
                if now - os.stat(p).st_mtime > orphan_age_seconds:
                    shutil.rmtree(p, ignore_errors=True)
                    evicted.append(name)
                continue
            if not os.path.isdir(p):
                continue
            size = sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
            )
            st = os.stat(p)
        except OSError:
            continue  # vanished mid-scan: someone else cleaned it
        entries.append((max(st.st_atime_ns, st.st_mtime_ns), size, name, p))
        total += size
    entries.sort()  # oldest first
    for _, size, name, p in entries:
        if total <= max_bytes:
            break
        shutil.rmtree(p, ignore_errors=True)
        total -= size
        evicted.append(name)
    return evicted
