"""Multi-dimensional data layout: Z-order (Morton) clustering.

``writers.write_sorted`` gives perfect skipping on ONE key; a linear
sort on (a, b) gives b no locality at all — every file spans b's full
range. Z-ordering interleaves the bits of several keys so each output
file covers a small hyper-rectangle of the key space, and parquet
footer min/max stats prune scans on ANY of the clustered columns
(the technique behind Delta/Iceberg OPTIMIZE ZORDER).

Everything is codegen'd JVM expressions — the Morton key is built from
shiftleft/bitwise-or over per-column quantile ranks, no UDF. One range
shuffle on the Morton key, identical cost to a plain sorted write.

:func:`table_file_audit` reports file counts, sizes and skew for any
parquet directory. Acting on it — bin-packing small files — is
``sources/delta_log.delta_compact``, which commits the rewrite
atomically on the Delta log.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _interleave_bits(ranks: Sequence[Column], bits: int) -> Column:
    """Morton key: bit j of rank i lands at position j*len(ranks)+i."""
    n = len(ranks)
    z = F.lit(0).cast("long")
    for i, r in enumerate(ranks):
        for j in range(bits):
            bit = F.shiftright(r, j).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * n + i))
    return z


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 8) -> Column:
    """Morton key over ``cols``: each column is min-max scaled to a
    ``bits``-bit integer grid, then bit-interleaved. Scaling bounds are
    one driver-side min/max aggregate (2·k scalars — constant size at
    any SF) inlined as plan literals, so the clustering pass itself
    stays a single scan + range shuffle.
    """
    bounds = df.agg(
        *[F.min(c).alias(f"__lo_{c}") for c in cols],
        *[F.max(c).alias(f"__hi_{c}") for c in cols],
    ).first()
    scale = (1 << bits) - 1
    ranks = []
    for c in cols:
        lo, hi = bounds[f"__lo_{c}"], bounds[f"__hi_{c}"]
        span = (hi - lo) or 1
        ranks.append(
            F.least(
                F.lit(scale),
                F.floor((F.col(c) - F.lit(lo)) / F.lit(span) * scale),
            ).cast("long")
        )
    return _interleave_bits(ranks, bits)


def write_zordered(
    df: DataFrame, path: str, cols: Sequence[str], n_files: int, bits: int = 8
) -> None:
    """Z-order-clustered write: range-partition + sort on the Morton key
    so every file covers a compact hyper-rectangle — footer stats then
    prune on any of ``cols``, not just the first sort key."""
    z = zorder_key(df, cols, bits)
    (
        df.withColumn("__zkey", z)
        .repartitionByRange(n_files, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
        .write.mode("overwrite")
        .parquet(path)
    )


def table_file_audit(
    spark,
    tables: dict[str, str],
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int = 32 * 1024 * 1024,
) -> DataFrame:
    """Physical-layout audit: per table, file count, row count, bytes,
    per-file row skew, and a recommended file count at
    ``target_file_bytes`` — the planning input for compaction and for
    sizing ``spark.sql.files.maxPartitionBytes`` before a 100 TB run
    (thousands of tiny files serialize scheduling; one giant file
    serializes the scan).

    File inventory comes from the ``binaryFile`` datasource with the
    ``content`` column pruned (a listing, not a read); per-file row
    counts come from one parquet scan grouped on
    ``input_file_name()``. The two path spellings are joined on the
    NORMALIZED FULL PATH (scheme stripped, percent-encoding decoded) —
    not the basename: dynamic-partition writes emit the same
    ``part-NNNNN-<task-uuid>`` basename into every partition
    subdirectory a task touches, so a basename join over a partitioned
    layout would go many-to-many and inflate n_rows/skew. Everything
    is metadata-or-one-scan; no data shuffles beyond the per-file
    count.
    """
    if not tables:
        raise ValueError("table_file_audit: no tables to audit")

    def _norm_path(col):
        # binaryFile's `path` and input_file_name() render the same
        # file as URIs with potentially different scheme spellings
        # (file:/ vs file:///) and percent-encoding (spaces, unicode).
        # Strip the scheme + slash run to one leading '/', then decode.
        # url_decode is FORM decoding ('+' -> space), but file URIs
        # never encode a space as '+' — protect literal '+' first, or
        # 'a+b' and 'a b' would collapse to one normalized path and
        # re-inflate the join this normalization exists to fix.
        bare = F.regexp_replace(col, r"^[a-zA-Z][a-zA-Z0-9+.-]*:/+", "/")
        protected = F.regexp_replace(bare, r"\+", "%2B")
        return F.coalesce(F.try_url_decode(protected), bare)

    audits = []
    for name, path in sorted(tables.items()):
        # pathGlobFilter: only data files — a stray sidecar (e.g. a
        # metadata.json another tool left behind) would otherwise
        # inflate n_files/total_bytes AND crash the parquet row scan
        files = (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", "*.parquet")
            .load(path)
            .select(
                _norm_path(F.col("path")).alias("fpath"),
                F.col("length").alias("bytes"),
            )
        )
        rows = (
            spark.read.option("pathGlobFilter", "*.parquet")
            .parquet(path)
            .groupBy(_norm_path(F.input_file_name()).alias("fpath"))
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        per_file = files.join(rows, "fpath", "left").select(
            "fpath", "bytes", F.coalesce("n_rows", F.lit(0)).alias("n_rows")
        )
        audits.append(
            per_file.agg(
                F.lit(name).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_files"),
                F.sum("n_rows").cast("bigint").alias("n_rows"),
                F.sum("bytes").cast("bigint").alias("total_bytes"),
                F.max("n_rows").cast("bigint").alias("max_file_rows"),
                F.when(
                    F.sum("n_rows") > 0,
                    F.round(F.max("n_rows") / F.avg("n_rows"), 2),
                )
                .otherwise(F.lit(1.0))  # all-empty files: no skew
                .alias("file_row_skew"),
                F.greatest(
                    F.ceil(F.sum("bytes") / F.lit(target_file_bytes)),
                    F.lit(1),
                )
                .cast("bigint")
                .alias("recommended_files"),
                (F.avg("bytes") < F.lit(small_file_bytes)).alias(
                    "small_file_problem"
                ),
            )
        )
    out = audits[0]
    for a in audits[1:]:
        out = out.unionByName(a)
    return out

