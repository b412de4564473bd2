"""Relational analytics operators (reference inventory A*, W1, J1, O*).

These are the reference's three analytics requirements generalized into
reusable DataFrame transformations (reference: notebooks/20_analytics.ipynb
cells 8/10/12 — global mean+stddev, top-1-per-group via ranking window,
left broadcast join + sort). Each function is declarative: it returns a
lazy DataFrame so Catalyst plans pushdown/pruning/broadcast itself.

Scale notes (100 TB posture):
  * ``top1_per_group`` pre-aggregates BEFORE the window so the shuffled
    data is one row per (group, order-key) — the window then shuffles
    the *aggregate*, not the fact table.
  * ``left_enrich`` broadcasts the dimension side explicitly when told
    it is small; otherwise it leaves strategy to AQE.
  * Everything composes into one plan, except where a caller asks
    ``materialize`` to compute an intermediate once; its docstring
    holds the package's one materialization policy.
"""

from __future__ import annotations

import atexit
import os
import shutil
import uuid
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import broadcast

from ..sources._files import scratch_table_dir


def spread_compute(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow input so CPU-heavy work parallelizes. A
    single parquet file arrives as ONE partition regardless of cores —
    on local[32] that serializes hashing/sorting onto one task. At
    cluster scale inputs are already many-partitioned and this is a
    no-op by partition-count check."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# latest scratch path per ``reliable`` label; swept at process exit
_RELIABLE_SCRATCH: dict[str, str] = {}


def _sweep_reliable_scratch() -> None:
    for path in _RELIABLE_SCRATCH.values():
        shutil.rmtree(path, ignore_errors=True)
    _RELIABLE_SCRATCH.clear()


# the live copy per ``cache`` label
_CACHED: dict[str, DataFrame] = {}


def materialize(
    df: DataFrame,
    label: str,
    kind: str,
    *,
    max_rows: int | None = None,
    eager: bool = True,
) -> DataFrame:
    """Compute ``df`` once for several consumers (or to cut an
    iterative plan's lineage) and return a DataFrame over the result.
    This is the engine's one materialization policy; ``kind`` names
    what each site gives up:

    * ``"small"``: one driver ``collect()`` re-embedded as a local
      relation. Consumers keep a recomputable lineage (the rows ride
      in the plan). More than ``max_rows`` rows raises ``ValueError``
      instead of growing the driver. ``collect()``, not ``take``:
      limit's incremental execution re-runs stages on aggregates.
    * ``"reliable"``: written to scratch parquet and read back, so an
      executor loss costs a re-scan. The previous copy of the same
      ``label`` is deleted when the next call for it starts (a re-run
      must not read a superseded copy), and the last copies are swept
      at process exit: one copy per label at any time.
    * ``"local"``: ``localCheckpoint``. Blocks live in executor
      memory and the lineage is gone, so a lost executor fails the
      query ("RDD was locally checkpointed ... cannot be recomputed").
      Meant for lineage truncation inside iterative loops, whose plans
      would otherwise grow every round; the ``local`` sites outside a
      loop are listed in ROADMAP.md for reclassification one measured
      change at a time. ``eager=False`` defers the job to the first
      consumer's action.
    * ``"cache"``: a lazy ``persist()`` at Spark's default storage
      level. No job starts here; the first action that reads it fills
      it, and a lost or evicted block is recomputed from the lineage
      it keeps. The label's previous copy is unpersisted when the next
      call for it starts, the ``reliable`` rule: one copy per label.
      Spark's cache registry matches plans, not labels, and a scan of
      a file rewritten in place plans like the scan of its old
      content, so a live copy of the same plan under any label is
      dropped too: a copy is never served to a later call.

    A domain-bounded relation is ``small``; any other relation with
    several consumers is ``reliable``, unless all its consumers run in
    the plan or the scoped operation that built it: such a site picks
    ``cache``, which starts no job and no write, and whose early
    release costs a recompute, never a different result.

    Jobs started here carry the Spark job description
    ``materialize:<kind>:<label>``; the caller's description is
    restored afterwards.
    """
    if kind not in ("small", "reliable", "local", "cache"):
        raise ValueError(f"unknown materialize kind {kind!r}")
    if kind == "cache":
        prev = _CACHED.pop(label, None)
        if prev is not None:
            prev.unpersist()
        df.unpersist()
        _CACHED[label] = df.persist()
        return _CACHED[label]
    if kind == "small" and max_rows is None:
        raise ValueError("materialize(kind='small') needs max_rows")
    if kind == "local" and not eager:
        return df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(f"materialize:{kind}:{label}")
    try:
        if kind == "local":
            return df.localCheckpoint()
        if kind == "small":
            rows = df.collect()
            if len(rows) > max_rows:
                raise ValueError(
                    f"materialize {label!r}: {len(rows)} rows > "
                    f"max_rows={max_rows}; not driver-bounded, use "
                    "kind='reliable'"
                )
            return df.sparkSession.createDataFrame(rows, df.schema)
        if not _RELIABLE_SCRATCH:
            atexit.register(_sweep_reliable_scratch)
        prev = _RELIABLE_SCRATCH.pop(label, None)
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        path = os.path.join(
            scratch_table_dir(f"ckpt_{label}"), uuid.uuid4().hex[:12]
        )
        df.write.mode("errorifexists").parquet(path)
        _RELIABLE_SCRATCH[label] = path
        return df.sparkSession.read.schema(df.schema).parquet(path)
    finally:
        sc.setLocalProperty("spark.job.description", caller_desc)


def global_stats(
    df: DataFrame, value_col: str, extra_aggs: Sequence[Column] = ()
) -> DataFrame:
    """A1: global (no-group) mean + sample stddev of one column.

    Mirrors the reference's population_stats output schema
    (mean_<col>, stddev_<col>); ``F.stddev`` is sample stddev
    (stddev_samp) in both Spark and DuckDB, so oracles align.
    Executes as partial aggregates per partition + a single-row final
    combine — no full shuffle even at 100 TB.
    """
    return df.agg(
        F.mean(value_col).alias(f"mean_{value_col}"),
        F.stddev(value_col).alias(f"stddev_{value_col}"),
        *extra_aggs,
    )


def top1_per_group(
    df: DataFrame,
    group_col: str,
    sub_col: str,
    value_col: str,
    agg: str = "sum",
) -> DataFrame:
    """W1+A2: for each ``group_col``, the ``sub_col`` with the largest
    aggregated ``value_col``; ties break on the smallest ``sub_col``.

    This is the reference's "best year per series" (its deterministic
    tie-break 'if same summed_value, pick earliest year' is preserved —
    reference: notebooks/20_analytics.ipynb:2177,2186-2194).

    Plan shape: hash-aggregate (map-side partial combine) shrinks the
    fact table to one row per (group, sub), then top-1 is a SECOND
    hash-aggregate — argmax as max over struct(value, -sub), which
    compares lexicographically (largest value, then smallest sub).
    Both shuffles carry partially-combined rows; measured ~6× faster
    than the equivalent row_number ranking window, and the gap widens
    with group size (ranking sorts O(n log n) per group, max is O(n)
    and combines map-side). Struct max lowers to SortAggregate (structs
    aren't hash-aggregable) but that sort is keyed on the group column
    over already-combined rows, not a full per-group ordering.
    Non-numeric sub_cols can't be order-inverted inside a struct, so
    they keep the ranking-window plan.
    """
    agg_fn = getattr(F, agg)
    val = f"{agg}_{value_col}"
    aggregated = df.groupBy(group_col, sub_col).agg(agg_fn(value_col).alias(val))
    sub_type = dict(aggregated.dtypes)[sub_col]
    numeric = sub_type in {
        "tinyint", "smallint", "int", "bigint", "float", "double",
    } or sub_type.startswith("decimal")
    if numeric:
        return (
            aggregated.groupBy(group_col)
            .agg(
                F.max(
                    F.struct(F.col(val), (-F.col(sub_col)).alias("__nsub"))
                ).alias("__m")
            )
            .select(
                F.col(group_col),
                (-F.col("__m.__nsub"))
                .cast(sub_type)
                .alias(f"best_{sub_col}"),
                F.col(f"__m.{val}").alias(val),
            )
        )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(val).desc(), F.col(sub_col).asc())
    )
    return (
        aggregated.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
        .select(
            F.col(group_col),
            F.col(sub_col).alias(f"best_{sub_col}"),
            F.col(val),
        )
    )


def left_enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    dim_is_small: bool = True,
) -> DataFrame:
    """J1: left outer equi-join keeping every fact row (the reference
    keeps BLS rows whose year has no population — notebooks/
    20_analytics.ipynb:2541-2556).

    ``dim_is_small=True`` adds an explicit broadcast hint — at 100 TB
    the fact side must never shuffle for a dimension lookup. With
    ``False``, strategy is left to Catalyst/AQE (sort-merge or
    shuffled-hash, skew-split by AQE).
    """
    right = broadcast(dim) if dim_is_small else dim
    return fact.join(right, on=on, how="left")


def top_k(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """O1-O3: global sort + limit. Catalyst rewrites this to
    TakeOrderedAndProject — a per-partition heap + driver merge of k
    rows, NOT a full sort; safe at any scale for small k."""
    return df.orderBy(*order).limit(k)


def distinct_count(df: DataFrame, col: str, approx: bool = False) -> DataFrame:
    """A4/A5: distinct cardinality of one column. ``approx=True`` uses
    HyperLogLog++ (one pass, no shuffle of distinct values) — the right
    choice at 100 TB when ±2% is acceptable."""
    fn = F.approx_count_distinct if approx else F.countDistinct
    return df.agg(fn(col).alias(f"distinct_{col}"))


def skewed_grouped_agg(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for SKEWED group keys: salt → partial agg on
    (keys, salt) → final agg on keys. A hot key's rows spread over
    ``n_salts`` reducers in phase one; phase two combines ``n_salts``
    partial rows per key — trivially small.

    Only for decomposable aggregates (sum/count here; min/max/avg extend
    the same way). Spark's own partial aggregation usually suffices —
    reach for this when map-side partials don't collapse the skew (high
    cardinality per mapper) and AQE skew handling can't kick in (it only
    splits JOIN partitions, not aggregations).

    Emits ``sum_<col>`` per sum column plus ``n_rows``.
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(k) for k in keys],
                                    F.monotonically_increasing_id()),
                         F.lit(n_salts))
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.sum(c).alias(f"__s_{c}") for c in sum_cols],
    )
    return partial.groupBy(*keys).agg(
        F.sum("__n").alias("n_rows"),
        *[F.sum(f"__s_{c}").alias(f"sum_{c}") for c in sum_cols],
    )


def dense_row_numbers(
    df: DataFrame,
    order_cols: Sequence[str],
    n_partitions: int | None = None,
    out_col: str = "rn",
) -> DataFrame:
    """Contiguous global row numbers 1..n in ``order_cols`` order WITHOUT
    a single-reducer global sort — the scalable primitive behind every
    "global row_number / ntile / dense id" need at 100 TB.

    A plain ``row_number() OVER (ORDER BY ...)`` collapses the whole
    relation onto one reducer. Instead: (1) range-partition on the order
    key (Spark samples split points; boundaries are internal and may
    vary run-to-run), (2) sort WITHIN each partition — parallel,
    bounded-memory, (3) per-partition ``row_number`` over a
    ``spark_partition_id()``-keyed window — again parallel, (4) one
    tiny per-partition count aggregate (#partitions rows) yields each
    partition's cumulative OFFSET via a window over that tiny relation,
    broadcast back. Global number = offset + local number.

    The output is boundary-invariant, hence deterministic: whatever
    split points the range sampler picks, a total order (make
    ``order_cols`` end in a unique tie-break) assigns each row the same
    global rank. Every heavy stage is parallel; only the
    #partitions-row offset table is small, and it never leaves the
    plan.
    """
    cols = list(order_cols)
    if not cols:
        raise ValueError("dense_row_numbers needs at least one order column")
    n = n_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"
    )
    # pin the range boundaries: the rows and sizes branches below must
    # see ONE sample, which exchange reuse gives only as an optimization
    ranged = materialize(
        df.repartitionByRange(int(n), *cols)
        .sortWithinPartitions(*cols)
        .withColumn("__pid", F.spark_partition_id()),
        "dense_row_numbers", "local", eager=False,
    )
    local = ranged.withColumn(
        "__lrn",
        F.row_number().over(
            Window.partitionBy("__pid").orderBy(*[F.col(c) for c in cols])
        ),
    )
    # counts come off the same checkpointed RDD — no per-row window
    # work in this branch
    sizes = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    offsets = sizes.withColumn(
        "__off",
        F.coalesce(
            F.sum("__cnt").over(
                Window.orderBy("__pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ),
    ).select("__pid", "__off")
    return (
        local.join(broadcast(offsets), "__pid")
        .withColumn(out_col, (F.col("__off") + F.col("__lrn")).cast("bigint"))
        .drop("__pid", "__lrn", "__off")
    )
