"""Readers (reference operators S1-S6).

The reference reads raw text lines, multiline nested JSON, local
collections, and managed tables (reference: notebooks/20_analytics.ipynb:335,
notebooks/11_ingest_population.ipynb:385, notebooks/21_EDA.ipynb:33362,
notebooks/20_analytics.ipynb:3127). Everything here is a thin declarative
wrapper over ``spark.read`` so Catalyst keeps pushdown/pruning; the one
behavioral improvement over the reference is that nested JSON is ALWAYS
read distributed (spark.read.json) — the reference's driver-side
``json.loads`` path (its 20_analytics.ipynb:511-519) is deliberately not
reproduced because it cannot scale past driver memory.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

#: Canonical fixture tables generated by the driver (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_multiline_json(spark: SparkSession, path: str) -> DataFrame:
    """S2: schema-inferred nested JSON document read.

    ``multiLine`` is required for pretty-printed single-document files
    (one JSON object spanning many lines). Note: multiline JSON files are
    NOT splittable — at scale, store one document per line (JSONL) or
    many small files so partitions parallelize.
    """
    return spark.read.option("multiLine", "true").json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-lines read — the scale-correct JSON format (splittable).

    Pass an explicit ``schema`` in production: schema inference costs a
    full extra pass over 100 TB.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


#: Session confs that change the schema parquet inference returns.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)

#: path -> ((file state, inference confs), inferred schema); one entry
#: per path, replaced when its key changes. Process-wide on purpose: the
#: key fixes the inferred schema, so every session and thread may share
#: an entry, and two threads racing on one path store equal values.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def _local_file_state(path: str) -> tuple | None:
    """Sorted (file, size, mtime_ns) of every file at or under a local
    ``path``; None for a non-local, missing or glob path, or when a file
    vanishes mid-listing."""
    parsed = urlparse(path)
    if parsed.scheme not in ("", "file"):
        return None
    local = unquote(parsed.path) if parsed.scheme else path
    if os.path.isfile(local):
        files = [local]
    elif os.path.isdir(local):
        files = [os.path.join(r, n) for r, _, ns in os.walk(local) for n in ns]
    else:
        return None
    state = []
    for f in files:
        try:
            st = os.stat(f)
        except OSError:
            return None
        state.append((f, st.st_size, st.st_mtime_ns))
    return tuple(sorted(state))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan; filters/projections applied downstream push into the
    scan (verify with ``plans.explain.scan_pushdown``).

    The one parquet-table reader. Schema inference is a Spark job (a
    footer read), so the inferred schema is memoized per path, keyed by
    the path's local file state and the session's inference confs: a
    repeat read of an unchanged table starts no job, and any rewrite,
    added or removed file, or conf change re-infers. Every read, cold
    or warm, scans with the explicit schema, so both build the same
    plan. A non-local path infers on every read."""
    state = _local_file_state(path)
    if state is None:
        return spark.read.parquet(path)
    key = (state, tuple(spark.conf.get(c, None) for c in _PARQUET_INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is None or hit[0] != key:
        hit = _SCHEMAS[path] = (key, spark.read.parquet(path).schema)
    return spark.read.schema(hit[1]).parquet(path)


def read_table(spark: SparkSession, name: str) -> DataFrame:
    """S5: managed/registered table scan."""
    return spark.table(name)


def sql(spark: SparkSession, query: str) -> DataFrame:
    """S6: SQL entry point (the reference's ``%sql`` cells)."""
    return spark.sql(query)


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every driver fixture table from ``sf_dir`` as a dict of
    DataFrames. Purely lazy — nothing is scanned until an action."""
    return {t: read_parquet(spark, f"{sf_dir}/{t}.parquet") for t in TESTDATA_TABLES}


def register_testdata_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each fixture table as a temp view so SQL-path queries and
    DataFrame-path queries see the same relations."""
    for name, df in load_testdata(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def read_csv_robust(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """CSV ingestion that survives dirty data: explicit schema (never
    inference — at 100 TB an inference pass is a full extra scan, and a
    sampled guess can silently mistype a column), PERMISSIVE mode with
    the raw text of unparseable rows quarantined in ``corrupt_col``
    instead of killing the job or silently dropping rows. Callers split
    on ``corrupt_col IS NULL`` to route good rows vs a dead-letter sink.
    """
    full_schema = f"{schema}, {corrupt_col} string"
    return (
        spark.read.schema(full_schema)
        .option("header", str(header).lower())
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .csv(path)
    )
