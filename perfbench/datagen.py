"""Deterministic input tables for the benchmark.

The base tables follow the schema and value domains of the engine's
sf0.1 test tables (TPC-H-like star schema plus ``events``, ``documents``
and ``embeddings``). They are drawn from a fixed generator seed, so every
query result — and every oracle result — is the same for every benchmark
seed. The benchmark seed only drives what may vary without changing a
result: the row order and the file split of the 10x scale tables.

Both layouts are cached under a directory the caller names; a finished
layout is marked by a ``_DONE`` file, so an interrupted write is redone.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_GENERATOR_SEED = 20240101
TABLES = (
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
# Fact tables and the id column shifted per replica in the scale layout,
# so join fan-outs and group cardinalities grow with the copies; the
# other tables are dimensions and are copied once.
FACT_OFFSETS = {
    "lineitem": "l_orderkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
N_NEAR_DUP_DOCS = 250
EMBED_DIM = 64
N_CLUSTERS = 10


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n) * np.timedelta64(86_400_000_000, "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator) -> pa.Table:
    n = N_ROWS["documents"]
    lengths = rng.integers(10, 101, n)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lengths]
    # near duplicates: a copy of another document with one extra token
    for d in rng.choice(n, N_NEAR_DUP_DOCS, replace=False):
        src = int(rng.integers(0, n))
        if src != d:
            texts[d] = texts[src] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = N_ROWS["embeddings"]
    centers = rng.normal(0.0, 1.0, (N_CLUSTERS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_CLUSTERS, n).astype(np.int32)
    vecs = centers[labels] + rng.normal(0.0, 0.12, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": labels,
        }
    )


def base_tables() -> dict[str, pa.Table]:
    """The sf0.1-shaped tables, identical on every call."""
    rng = np.random.default_rng(BASE_GENERATOR_SEED)
    n = N_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=np.int32) % 5,
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    pk = np.arange(n["part"], dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"])
                    )
                ]
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]
            ),
            "p_type": _pick(rng, PART_TYPES, n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n["orders"]),
            "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
        }
    )
    m = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n["orders"], m),
            "l_partkey": rng.integers(0, n["part"], m),
            "l_suppkey": rng.integers(0, n["supplier"], m),
            "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, m),
            "l_discount": np.round(rng.uniform(0.0, 0.1, m), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _days(rng, "1995-01-02", 2499, m),
        }
    )
    e = n["events"]
    offsets_us = np.sort(rng.integers(11_000_000, 30 * 86_400_000_000, e))
    t["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 1500, e),
            "event_type": _pick(rng, EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def _finish(path: str, write) -> str:
    """Run ``write(tmp_dir)`` and publish it at ``path`` once complete."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    write(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path


def ensure_base(cache_dir: str) -> str:
    """Write the base tables, one parquet file each, and return their dir."""

    def write(out: str) -> None:
        for name, table in base_tables().items():
            pq.write_table(table, os.path.join(out, f"{name}.parquet"))

    return _finish(os.path.join(cache_dir, "sf0.1"), write)


def ensure_scale(cache_dir: str, seed: int, factor: int = 10, layouts: int = 4) -> str:
    """Write the ``factor``-fold layout for ``seed`` and return its dir.

    Fact tables get ``factor`` key-offset replicas, shuffled and split
    into a number of files, both drawn from ``seed % layouts``; dimension
    tables are one file each. Seeds share ``layouts`` cached layouts, so
    a series of runs writes the 10x tables at most ``layouts`` times.
    """
    seed %= layouts
    path = os.path.join(cache_dir, f"scale{factor}x_layout{seed}")

    def write_fact(out: str, name: str, table: pa.Table) -> None:
        # one generator per table, so the layout does not depend on
        # which thread writes first
        rng = np.random.default_rng([seed, factor, TABLES.index(name)])
        key = FACT_OFFSETS[name]
        span = pc.max(table[key]).as_py() + 1
        col = table.schema.get_field_index(key)
        big = pa.concat_tables(
            table.set_column(col, key, pc.add(table[key], pa.scalar(r * span, pa.int64())))
            for r in range(factor)
        )
        big = big.take(pa.array(rng.permutation(big.num_rows)))
        n_files = int(rng.integers(4, 13))
        os.makedirs(os.path.join(out, f"{name}.parquet"))
        bounds = np.linspace(0, big.num_rows, n_files + 1).astype(int)
        for i in range(n_files):
            part = big.slice(bounds[i], bounds[i + 1] - bounds[i])
            pq.write_table(part, os.path.join(out, f"{name}.parquet", f"part-{i:05d}.parquet"))

    def write(out: str) -> None:
        tables = base_tables()
        with ThreadPoolExecutor(max_workers=4) as pool:
            futures = [
                pool.submit(write_fact, out, name, table)
                if name in FACT_OFFSETS
                else pool.submit(pq.write_table, table, os.path.join(out, f"{name}.parquet"))
                for name, table in tables.items()
            ]
            for f in futures:
                f.result()

    return _finish(path, write)
