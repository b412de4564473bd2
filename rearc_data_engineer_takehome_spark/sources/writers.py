"""Table sinks (reference operators S13-S15, D1/D4).

The reference publishes three overwrite-mode curated tables and one
append-mode run log via ``saveAsTable`` on Delta
(notebooks/20_analytics.ipynb:653, 2200, 2561; 21_EDA.ipynb:33360-33367).
Here Delta is optional: ``format`` degrades to parquet behind one switch
so the engine runs anywhere (SURVEY.md §7.4 risk #6).

Scale notes: curated outputs accept ``partition_by`` — at 100 TB an
unpartitioned overwrite table is a full rewrite and an unprunable scan;
callers partition on the dominant filter key (e.g. date).

Row-level upserts and small-file compaction are table maintenance on
the Delta log: ``delta_merge_upsert`` and ``delta_compact`` in
``sources/delta_log`` commit each rewrite atomically.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def _table_format(spark: SparkSession) -> str:
    """delta if the runtime has it, else parquet."""
    try:
        spark._jvm.Class.forName("org.apache.spark.sql.delta.DeltaLog")  # type: ignore[union-attr]
        return "delta"
    except Exception:  # noqa: BLE001
        return "parquet"


def ensure_database(spark: SparkSession, name: str) -> None:
    """D1/D4: namespace setup — the OSS stand-in for the reference's
    Unity Catalog catalog/schema DDL (Unity Catalog Setup.ipynb cell-11)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {name}")


def publish_overwrite(
    df: DataFrame,
    table: str,
    partition_by: Sequence[str] = (),
    fmt: str | None = None,
) -> None:
    """S13: idempotent overwrite-mode publish (re-runs converge to the
    same state — the reference's core idempotency contract)."""
    writer = df.write.mode("overwrite").format(fmt or _table_format(df.sparkSession))
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(table)


def publish_append(df: DataFrame, table: str, fmt: str | None = None) -> None:
    """S14: append-mode accumulation (run logs / audit trails)."""
    df.write.mode("append").format(fmt or _table_format(df.sparkSession)).saveAsTable(
        table
    )


def publish_partition_overwrite(
    df: DataFrame,
    table: str,
    fmt: str | None = None,
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving all others untouched — the idempotent-rerun story
    at 100 TB, where a full-table overwrite (S13) would rewrite
    petabytes to refresh one day. Requires the table to already exist
    partitioned (create with publish_overwrite + partition_by).

    ``insertInto`` matches columns BY POSITION against the stored table
    schema (which moves partition columns last), so the frame is
    explicitly reordered to that schema first — otherwise a caller's
    natural column order would silently write values into the wrong
    columns.
    """
    spark = df.sparkSession
    table_cols = spark.table(table).columns
    missing = set(table_cols) - set(df.columns)
    if missing:
        raise ValueError(f"frame lacks table columns {sorted(missing)}")
    aligned = df.select(*table_cols)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        aligned.write.mode("overwrite").format(
            fmt or _table_format(spark)
        ).insertInto(table)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_parquet_dir(
    df: DataFrame, path: str, partition_by: Sequence[str] = (), mode: str = "overwrite"
) -> None:
    """Plain-directory sink for pipelines without a metastore."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_sorted(
    df: DataFrame, path: str, sort_cols: Sequence[str], n_files: int
) -> None:
    """Layout-optimized write: range-partition on ``sort_cols`` into
    ``n_files`` globally disjoint key ranges, sorted within each file.
    Parquet footers then carry tight, non-overlapping min/max stats per
    file and row group, so a point or range predicate on the sort key
    skips every non-matching file without reading it — the single
    biggest scan win at 100 TB (only ~1/n_files of data touched).
    """
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
