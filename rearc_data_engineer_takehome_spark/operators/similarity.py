"""Similarity search over embedding columns (array<float>).

Two paths, mirroring production vector-search architecture:

  * ``bruteforce_topk`` — exact cosine top-k against a query vector; the
    correctness baseline. Scan + projection + TakeOrderedAndProject:
    distributed, one pass, no shuffle of vectors.
  * ``lsh_topk`` — sign-random-projection LSH (SimHash for vectors):
    bucket by hyperplane sign bits, search only matching buckets with
    multi-probe fallback. The 100 TB path: candidate set shrinks by
    ~2^bits while recall stays tunable via n_tables.

An IVF variant (``ivf_assign``/``ivf_topk``) uses the ``label`` column
(or any precomputed coarse quantizer) as the inverted-file cell.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions import hashing, vectors


def bruteforce_topk(
    df: DataFrame,
    query: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k by cosine against a literal query vector.

    Similarity is rounded to 6dp and ties broken by id so result sets
    are engine-deterministic. orderBy().limit(k) compiles to
    TakeOrderedAndProject — per-partition heaps, driver merges k rows.
    """
    qcol = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col),
        F.round(vectors.cosine(F.col(vec_col), qcol), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from the same LCG used for
    MinHash params — reproducible across runs without numpy state."""
    state = seed
    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def srp_bucket(vec_col: F.Column, planes: list[list[float]]) -> F.Column:
    """Sign-random-projection bucket id: bit b set iff v·plane_b > 0."""
    acc = F.lit(0).cast("bigint")
    for b, plane in enumerate(planes):
        p = F.array(*[F.lit(float(x)) for x in plane])
        acc = acc + F.when(
            vectors.dot(vec_col, p) > 0, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return acc


def lsh_index(
    df: DataFrame,
    dim: int,
    bits: int = 8,
    n_tables: int = 2,
    vec_col: str = "embedding",
    seed: int = 13,
) -> DataFrame:
    """Attach ``n_tables`` SRP bucket ids. Materialize/persist this once;
    every query then prunes to matching buckets.

    All tables' projections run in ONE Arrow-batched pandas UDF as a
    single (rows × dim)·(dim × tables·bits) BLAS matmul — the
    expression-level fold (vectors.dot per plane per table) is
    interpreted per element and measured ~1.5 ms/row even on tiny
    inputs. Bucket ids are bit-identical to :func:`srp_bucket` (same
    planes, same v·p > 0 signs; equivalence-tested), which remains the
    pure-JVM spec.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    all_planes = np.array(
        [
            plane
            for t in range(n_tables)
            for plane in _hyperplanes(dim, bits, seed + 101 * t)
        ],
        dtype=np.float64,
    )  # (n_tables*bits, dim)
    weights = 1 << np.arange(bits, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def buckets(batch):
        mat = np.stack(batch.apply(lambda v: np.asarray(v, dtype=np.float64)))
        signs = (mat @ all_planes.T) > 0  # (rows, n_tables*bits)
        per_table = signs.reshape(len(mat), n_tables, bits)
        ids = (per_table * weights).sum(axis=2)  # (rows, n_tables)
        return pd.Series(list(ids))

    out = df.withColumn("__b", buckets(F.col(vec_col)))
    for t in range(n_tables):
        out = out.withColumn(f"bucket_{t}", F.col("__b").getItem(t))
    return out.drop("__b")


def lsh_topk(
    indexed: DataFrame,
    query: list[float],
    k: int = 10,
    bits: int = 8,
    n_tables: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 13,
    probe_radius: int = 2,
) -> DataFrame:
    """Approximate top-k: score only rows whose bucket is within
    ``probe_radius`` Hamming bits of the query bucket in ANY table
    (multi-probe LSH — recovers the recall lost to near-boundary sign
    flips without adding tables). Candidate fraction per table is
    Σ_{i≤r} C(bits,i) / 2^bits (radius 2 on 8 bits → ~14%)."""
    preds = []
    for t in range(n_tables):
        planes = _hyperplanes(len(query), bits, seed + 101 * t)
        qb = 0
        for b, plane in enumerate(planes):
            if sum(q * p for q, p in zip(query, plane)) > 0:
                qb |= 1 << b
        preds.append(
            F.bit_count(F.col(f"bucket_{t}").bitwiseXOR(F.lit(qb))) <= probe_radius
        )
    mask = preds[0]
    for p in preds[1:]:
        mask = mask | p

    qcol = F.array(*[F.lit(float(x)) for x in query])
    scored = indexed.where(mask).select(
        F.col(id_col),
        F.round(vectors.cosine(F.col(vec_col), qcol), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def ivf_topk(
    df: DataFrame,
    query: list[float],
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """IVF-flat search: rank cells by centroid similarity to the query,
    scan only the best ``n_probe`` cells. ``centroids`` is a tiny
    (cell, centroid vector) table — computed once offline (e.g. by
    ``ivf_centroids``), broadcast at query time."""
    qcol = F.array(*[F.lit(float(x)) for x in query])
    best_cells = (
        centroids.select(
            F.col(cell_col),
            vectors.cosine(F.col(centroid_vec_col), qcol).alias("c_sim"),
        )
        .orderBy(F.col("c_sim").desc())
        .limit(n_probe)
        .select(cell_col)
    )
    pruned = df.join(F.broadcast(best_cells), cell_col)
    scored = pruned.select(
        F.col(id_col),
        F.round(vectors.cosine(F.col(vec_col), qcol), 6).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), F.col(id_col).asc()).limit(k)


def ivf_centroids(
    df: DataFrame, vec_col: str = "embedding", cell_col: str = "label"
) -> DataFrame:
    """Per-cell mean vector via elementwise aggregation: explode with
    posexplode → avg per (cell, position) → rebuild array ordered by
    position. One shuffle keyed by (cell, pos)."""
    exploded = df.select(
        F.col(cell_col), F.posexplode(F.col(vec_col)).alias("pos", "x")
    )
    means = exploded.groupBy(cell_col, "pos").agg(F.avg("x").alias("m"))
    return (
        means.groupBy(cell_col)
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            cell_col,
            F.transform(F.col("pm"), lambda s: s.getField("m")).alias("centroid"),
        )
    )


def all_pairs_topk(
    df: DataFrame,
    k: int = 5,
    block_col: str | None = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """k nearest neighbours for EVERY row (blocked): within each block,
    pairwise cosine + per-row ranking window keeps the top k."""
    # norms pre-join (see dedup.embedding_near_dup_pairs): per-pair work
    # is one dot + divide, norms fold once per input row pre-shuffle
    a = df.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        vectors.norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        *( [F.col(block_col)] if block_col else [] ),
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        vectors.norm(F.col(vec_col)).alias("nb"),
    )
    joined = a.join(b, on=block_col) if block_col else a.crossJoin(b)
    scored = joined.where(F.col("id_a") != F.col("id_b")).select(
        "id_a",
        "id_b",
        F.round(
            vectors.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("id_a").orderBy(F.col("cos_sim").desc(), F.col("id_b").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def all_pairs_topk_vectorized(
    df: DataFrame,
    k: int = 5,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_block: int | None = None,
) -> DataFrame:
    """Arrow-vectorized twin of :func:`all_pairs_topk`: one shuffle on the
    block key, then each block computes its full cosine matrix with a
    single BLAS matmul inside ``applyInPandas`` and keeps its own top-k
    per row — the pairwise rows and the ranking window never exist, so
    nothing O(block²) is shuffled or sorted by Spark. This is the scale
    path: per-task memory is O(block²) floats, so the block key must
    bound block size (an LSH/IVF bucket at 100 TB, a label here).

    ``max_block`` enforces that bound when the block key can't: blocks
    over the cap are salt-shard split (dedup._salt_block, deterministic
    md5 salt) and each row's top-k is found within its shard only — the
    same recall trade as multi-probe LSH bucketing, in exchange for a
    hard per-task memory/compute ceiling. Leave ``None`` when the block
    key is already bounded (the fixture labels are).

    Similarities are rounded to 6dp before ranking (same contract as the
    JVM twin, whose left-fold summation also differs from other engines
    in the last ulps); ties break on ascending neighbour id.
    """
    if max_block is not None:
        from .dedup import _salt_block

        df = _salt_block(df, block_col, id_col, max_block)
    import numpy as np
    import pandas as pd

    def block_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        n = len(pdf)
        kk = min(k, n - 1)
        if kk <= 0:
            return pd.DataFrame(
                {"id_a": pd.Series([], dtype="int64"),
                 "id_b": pd.Series([], dtype="int64"),
                 "cos_sim": pd.Series([], dtype="float64")}
            )
        ids = pdf[id_col].to_numpy(dtype="int64")
        mat = np.stack(
            pdf[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64))
        )
        norms = np.linalg.norm(mat, axis=1)
        sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        np.fill_diagonal(sims, -np.inf)
        # stable argsort on -sims after the id-asc pre-sort = rank by
        # (cos_sim desc, id_b asc), the window's exact order
        nbr = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(np.arange(n), kk)
        cols = nbr.ravel()
        return pd.DataFrame(
            {"id_a": ids[rows], "id_b": ids[cols], "cos_sim": sims[rows, cols]}
        )

    if max_block is not None:
        return (
            df.select(block_col, "__salt", id_col, vec_col)
            .groupBy(block_col, "__salt")
            .applyInPandas(
                block_topk, schema="id_a bigint, id_b bigint, cos_sim double"
            )
        )
    return df.select(block_col, id_col, vec_col).groupBy(block_col).applyInPandas(
        block_topk, schema="id_a bigint, id_b bigint, cos_sim double"
    )


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means as pure DataFrame transformations: deterministic
    init (the ``k`` lowest-id vectors), then ``iters`` rounds of
    assign (broadcast centroids × squared-L2 argmin) + update
    (elementwise mean via posexplode, the ivf_centroids shape).

    Determinism contract (what makes this oracle-able when nothing
    else about distributed k-means is): distances are ROUNDED to 6dp
    with a cluster-id tie-break before the argmin, and centroid
    components are rounded to 6dp after every mean — so both engines
    rank identical operands even though their double-summation orders
    differ. Returns (id, cluster) after the final assignment.

    Scale shape: centroids are k×dim scalars — always broadcast; each
    iteration is one fact pass + one (cluster, pos) shuffle of
    k×dim×partitions partial sums. Iteration count is fixed and small
    (mini-batch or k-means|| init are the knobs past that); the fact
    table is never shuffled.
    """
    if iters < 1:
        raise ValueError(f"kmeans_lloyd needs iters >= 1, got {iters}")
    v = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    w_init = Window.orderBy("id")
    # centroids as ONE broadcast row holding the cluster-sorted
    # array<struct(cluster, c)> (k×dim scalars): the per-row argmin is
    # then a pure projection — array_min over per-centroid (dist,
    # cluster) structs, the same lexicographic compare as the previous
    # min(struct(dist, cluster)) aggregate — so the k-way crossJoin
    # fan-out AND the groupBy(id) exchange that re-shuffled every
    # vector once per iteration are gone (optimization r12, guide
    # §2.4: the rows of an id never needed to move — they were already
    # co-located; only Spark couldn't see it).
    cents_row = (
        v.orderBy("id")
        .limit(k)
        .select(
            (F.row_number().over(w_init) - 1).alias("cluster"),
            F.col("v").alias("c"),
        )
        .agg(F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cs"))
    )

    # exact same arithmetic as the DuckDB oracle: sequential left-fold
    # of (x-y)*(x-y) — NOT pow(), whose libm path may differ; round 6dp
    # BEFORE the argmin, cluster-id tie-break via struct ordering
    def _dist(c):
        return F.round(
            F.aggregate(
                F.zip_with(F.col("v"), c, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        )

    best = F.array_min(
        F.transform(
            F.col("cs"),
            lambda s: F.struct(
                _dist(s.getField("c")).alias("dist"),
                s.getField("cluster").alias("cluster"),
            ),
        )
    ).getField("cluster")

    assign = None
    for _ in range(iters):
        assign = v.crossJoin(F.broadcast(cents_row)).select(
            "id", best.alias("cluster"), "v"
        )
        means = (
            assign.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.round(F.avg("x"), 6).alias("m"))
        )
        cents_row = (
            means.groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "cluster",
                F.transform(F.col("pm"), lambda s: s.getField("m")).alias("c"),
            )
            .agg(
                F.array_sort(F.collect_list(F.struct("cluster", "c"))).alias("cs")
            )
        )
    return assign.select(F.col("id").alias(id_col), "cluster")


def kmeans_oracle_ctes(
    table: str = "embeddings",
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[str, str]:
    """The unrolled-CTE body behind :func:`kmeans_oracle_sql`, for
    composition into larger oracles (e.g. semantic dedup). Returns
    (comma-joined CTE definitions, name of the final assignment CTE
    whose schema is (id, cluster, v))."""
    sq = f"list_sum(list_transform(range(1, {dim + 1}), i -> (a.v[i] - c.c[i]) * (a.v[i] - c.c[i])))"
    parts = [
        f"v AS (SELECT {id_col} AS id, list_transform({vec_col}, x -> x::DOUBLE) AS v FROM {table})",
        f"cents0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cluster, v AS c"
        f" FROM v ORDER BY id LIMIT {k})",
    ]
    prev = "cents0"
    for i in range(1, iters + 1):
        parts.append(
            f"assign{i} AS (SELECT id, cluster, v FROM ("
            f" SELECT a.id, a.v, c.cluster,"
            f" row_number() OVER (PARTITION BY a.id"
            f" ORDER BY round({sq}, 6), c.cluster) AS rn"
            f" FROM v a CROSS JOIN {prev} c) WHERE rn = 1)"
        )
        if i < iters:
            parts.append(
                f"means{i} AS (SELECT cluster, i AS pos, round(avg(v[i]), 6) AS m"
                f" FROM assign{i} CROSS JOIN unnest(range(1, {dim + 1})) AS t(i)"
                f" GROUP BY cluster, i)"
            )
            parts.append(
                f"cents{i} AS (SELECT cluster, list(m ORDER BY pos) AS c"
                f" FROM means{i} GROUP BY cluster)"
            )
            prev = f"cents{i}"
    return ", ".join(parts), f"assign{iters}"


def kmeans_oracle_sql(
    table: str = "embeddings",
    k: int = 8,
    iters: int = 3,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB SQL replaying :func:`kmeans_lloyd` — the iterations
    unrolled as CTE pairs (assign_i, cents_i). Same rounded distances,
    same tie-break, same rounded means, so the final (id, cluster)
    assignment value-hashes identically."""
    ctes, final = kmeans_oracle_ctes(table, k, iters, dim, vec_col, id_col)
    return f"WITH {ctes} SELECT id AS {id_col}, cluster FROM {final}"


def pq_train_encode(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """Product quantization: split each vector into ``m`` subvectors,
    k-means each subspace (keyed Lloyd — all subspaces iterate in the
    SAME jobs, no per-subspace loop), and encode every vector as its
    per-subspace nearest-centroid ids. Returns (codes, centroids):
    codes = (id, sub, cluster); centroids = (sub, cluster, c).

    The compression story at 100 TB: a 64-dim float vector (256 B)
    becomes m=8 one-byte codes — a 32× smaller scan for the ADC search
    in :func:`pq_topk`, and the codebook is m×k×(dim/m) scalars,
    always broadcastable. Same determinism contract as kmeans_lloyd
    (6dp-rounded distances/means, cluster-id tie-break).

    Init is a deterministic STRIDE sample over the id order (every
    n/k-th vector) — a first-k-ids init seeds correlated, often dead
    centroids (measured: candidate recall@100 0.6 → 1.0 on the
    fixture), while the stride spreads seeds across the corpus."""
    sub_len = dim // m
    assert m * sub_len == dim, f"dim {dim} not divisible by m {m}"
    if iters < 1:
        raise ValueError(f"pq_train_encode needs iters >= 1, got {iters}")
    subs = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("sub"),
                        F.slice(
                            F.col(vec_col).cast("array<double>"),
                            s * sub_len + 1,
                            sub_len,
                        ).alias("v"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("e"),
    ).select("id", F.col("e.sub").alias("sub"), F.col("e.v").alias("v"))

    n = df.count()
    stride = max(n // k, 1)
    w_init = Window.partitionBy("sub").orderBy("id")
    ranked = subs.withColumn("rn", F.row_number().over(w_init) - 1)
    cents = (
        ranked.where((F.col("rn") % stride == 0) & (F.col("rn") < stride * k))
        .select(
            "sub",
            (F.col("rn") / stride).cast("int").alias("cluster"),
            F.col("v").alias("c"),
        )
    )
    dist = F.expr(
        "round(aggregate(zip_with(v, c, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (acc, x) -> acc + x), 6)"
    )
    assign = None
    for it in range(iters):
        scored = subs.join(F.broadcast(cents), "sub").select(
            "id", "sub", "v", "cluster", dist.alias("dist")
        )
        # argmin via min(struct(dist, cluster)): same tie-break as the
        # ORDER BY dist, cluster window (lexicographic struct compare)
        # with map-side partial aggregation instead of a per-(id, sub)
        # sort — see kmeans_lloyd. v is constant within the group.
        assign = (
            scored.groupBy("id", "sub")
            .agg(
                F.min(F.struct("dist", "cluster")).alias("m"),
                F.first("v").alias("v"),
            )
            .select("id", "sub", F.col("m.cluster").alias("cluster"), "v")
        )
        if it < iters - 1:
            means = (
                assign.select("sub", "cluster", F.posexplode("v").alias("pos", "x"))
                .groupBy("sub", "cluster", "pos")
                .agg(F.round(F.avg("x"), 6).alias("mval"))
            )
            cents = (
                means.groupBy("sub", "cluster")
                .agg(
                    F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm")
                )
                .select(
                    "sub",
                    "cluster",
                    F.transform(F.col("pm"), lambda s: s.getField("mval")).alias(
                        "c"
                    ),
                )
            )
    return assign.select("id", "sub", "cluster"), cents


def pq_topk(
    codes: DataFrame,
    cents: DataFrame,
    query: list[float],
    k: int = 10,
    m: int = 8,
    rerank_with: DataFrame | None = None,
    candidates: int = 100,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query is
    sliced into subvectors, a (sub, cluster) → squared-L2 distance
    table is computed against the codebook (m×k rows, broadcast), and
    each encoded vector's approximate distance is the SUM of its m
    table lookups — codes join the table, one groupBy on id, heap
    top-k. The raw vectors are never touched during the scan.

    With ``rerank_with`` (the raw-vector table), PQ runs in its
    production role as CANDIDATE GENERATOR: ADC selects ``candidates``
    ids cheaply, then exact squared-L2 re-ranks ONLY those — at 100 TB
    the exact pass reads a few hundred vectors instead of the corpus.
    Quantization distortion is within-cluster-noise-scale, so ADC
    ranks between clusters well but inside a neighborhood poorly; the
    re-rank recovers exact order (recall@10 1.0 on the fixture vs 0.3
    ADC-only)."""
    sub_len = len(query) // m
    spark = codes.sparkSession
    qsubs = spark.createDataFrame(
        [(s, [float(x) for x in query[s * sub_len : (s + 1) * sub_len]]) for s in range(m)],
        ["sub", "q"],
    )
    dist = F.expr(
        "round(aggregate(zip_with(c, q, (x, y) -> (x - y) * (x - y)),"
        " 0.0D, (acc, x) -> acc + x), 6)"
    )
    dtable = cents.join(F.broadcast(qsubs), "sub").select(
        "sub", "cluster", dist.alias("d")
    )
    # Per-id ADC distance as an INTEGER sum of micro-unit lookups: each
    # 6dp-rounded table entry becomes an exact BIGINT, so the m-way sum
    # is order-insensitive — float summation order across shuffle
    # partitions can never flip a candidate ranking, which keeps the
    # whole search value-hash oracle-able (see pq_oracle_sql).
    adc = (
        codes.join(F.broadcast(dtable), ["sub", "cluster"])
        .groupBy("id")
        .agg(F.sum(F.round(F.col("d") * 1e6).cast("long")).alias("adc_micro"))
    )
    if rerank_with is None:
        return (
            adc.orderBy(F.col("adc_micro").asc(), F.col("id").asc())
            .limit(k)
            .select(
                "id", F.round(F.col("adc_micro") / 1e6, 6).alias("adc_dist")
            )
        )
    cand = adc.orderBy(F.col("adc_micro").asc(), F.col("id").asc()).limit(candidates)
    qlit = F.array(*[F.lit(float(x)) for x in query])
    exact = (
        rerank_with.join(
            F.broadcast(cand.select(F.col("id").alias(id_col))), id_col
        )
        .select(
            F.col(id_col).alias("id"),
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.col(vec_col).cast("array<double>"),
                        qlit,
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                6,
            ).alias("dist"),
        )
    )
    return exact.orderBy(F.col("dist").asc(), F.col("id").asc()).limit(k)


def ivf_pq_topk(
    df: DataFrame,
    codes: DataFrame,
    cents: DataFrame,
    query: list[float],
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    candidates: int = 50,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
    centroid_vec_col: str = "centroid",
) -> DataFrame:
    """IVF-PQ search — the production ANN architecture at corpus scale
    (FAISS ``IVFPQ``): IVF cell pruning picks ``n_probe`` cells by
    centroid similarity, the PQ ADC scan ranks ONLY those cells'
    codes, and the exact re-rank touches only the ``candidates`` ADC
    survivors. Composition of :func:`ivf_topk`'s pruning with
    :func:`pq_topk`'s scan: at 100 TB the ADC pass reads
    n_probe/n_cells of a 32×-compressed table and the exact pass reads
    a few hundred raw vectors.

    Cell ranking rounds the cosine to 6dp with a cell-id tie-break so
    both engines probe identical cells. The member restriction joins
    codes on id — in production, store the cell id IN the codes table
    (it is known at encode time) so the restriction is a partition
    prune instead of a join; here the join keeps the offline codebook
    artifact identical for plain-PQ and IVF-PQ search."""
    qcol = F.array(*[F.lit(float(x)) for x in query])
    best = (
        centroids.select(
            F.col(cell_col),
            F.round(
                vectors.cosine(F.col(centroid_vec_col), qcol), 6
            ).alias("c_sim"),
        )
        .orderBy(F.col("c_sim").desc(), F.col(cell_col).asc())
        .limit(n_probe)
        .select(cell_col)
    )
    members = df.join(F.broadcast(best), cell_col)
    codes_r = codes.join(
        members.select(F.col(id_col).alias("id")), "id"
    )
    return pq_topk(
        codes_r,
        cents,
        query,
        k=k,
        m=m,
        rerank_with=members,
        candidates=candidates,
        vec_col=vec_col,
        id_col=id_col,
    )


def pq_oracle_sql(
    table: str = "embeddings",
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    query_id: int = 0,
    candidates: int = 50,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook_only: bool = False,
) -> str:
    """DuckDB SQL replaying :func:`pq_train_encode` + :func:`pq_topk`
    (rerank path) end to end — subvector explode, deterministic stride
    init, ``iters`` unrolled Lloyd iterations per subspace, the ADC
    distance table in integer micro-units, candidate top-``candidates``
    and the exact re-rank top-``topk``. Every float the two engines
    compare is rounded 6dp at the same point, every cross-row sum is
    integer, and every ordering carries an id tie-break, so the final
    (id, dist) rows value-hash identically.

    NOTE ``//`` (floor div) everywhere — DuckDB ``/`` on integers is
    float division and ``::INT`` on a float ROUNDS, while Spark's
    ``cast("int")`` truncates; floor-div sidesteps both."""
    sub_len = dim // m
    parts, final_assign, prev = _pq_train_parts(
        table, m, k, iters, dim, query_id, vec_col, id_col
    )
    if codebook_only:
        # Training replay only: the (sub, cluster) code histogram —
        # the oracle for the offline pq_codebook build step.
        return (
            "WITH " + ", ".join(parts)
            + f" SELECT sub, cluster, count(*)::BIGINT AS n_codes"
            f" FROM {final_assign} GROUP BY sub, cluster"
        )
    parts += _pq_search_parts(
        table, m, dim, query_id, vec_col, id_col, prev, final_assign
    )
    parts += [
        f"cand AS (SELECT id FROM adc ORDER BY adc_micro, id LIMIT {candidates})",
        f"exact AS (SELECT b.id, round(list_sum(list_transform("
        f"range(1, {dim + 1}), i -> (b.v[i] - q.v[i]) * (b.v[i] - q.v[i]))),"
        f" 6) AS dist FROM base b JOIN cand USING (id) CROSS JOIN q)",
    ]
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT id, dist FROM exact ORDER BY dist, id LIMIT {topk}"
    )


def _pq_train_parts(
    table: str,
    m: int,
    k: int,
    iters: int,
    dim: int,
    query_id: int,
    vec_col: str,
    id_col: str,
) -> tuple[list[str], str, str]:
    """The training-replay CTE list shared by :func:`pq_oracle_sql` and
    :func:`ivf_pq_oracle_sql`. Returns (parts, final_assign_name,
    final_centroids_name)."""
    sub_len = dim // m
    sq = (
        f"round(list_sum(list_transform(range(1, {sub_len + 1}),"
        f" i -> (a.v[i] - c.c[i]) * (a.v[i] - c.c[i]))), 6)"
    )
    parts = [
        f"base AS (SELECT {id_col} AS id,"
        f" list_transform({vec_col}, x -> x::DOUBLE) AS v"
        f" FROM {table} WHERE {id_col} <> {query_id})",
        f"params AS (SELECT greatest(count(*) // {k}, 1) AS stride FROM base)",
        "ids AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS rn FROM base)",
        f"init AS (SELECT i.id, (i.rn // p.stride) AS cluster FROM ids i, params p"
        f" WHERE i.rn % p.stride = 0 AND i.rn < p.stride * {k})",
        f"subs AS (SELECT b.id, t.sub, b.v[t.sub * {sub_len} + 1 :"
        f" t.sub * {sub_len} + {sub_len}] AS v"
        f" FROM base b CROSS JOIN unnest(range(0, {m})) AS t(sub))",
        "cents0 AS (SELECT s.sub, i.cluster, s.v AS c"
        " FROM subs s JOIN init i ON s.id = i.id)",
    ]
    prev = "cents0"
    for it in range(1, iters + 1):
        parts.append(
            f"assign{it} AS (SELECT id, sub, cluster, v FROM ("
            f" SELECT a.id, a.sub, a.v, c.cluster,"
            f" row_number() OVER (PARTITION BY a.id, a.sub"
            f" ORDER BY {sq}, c.cluster) AS rn"
            f" FROM subs a JOIN {prev} c ON a.sub = c.sub) WHERE rn = 1)"
        )
        if it < iters:
            parts.append(
                f"means{it} AS (SELECT sub, cluster, i AS pos,"
                f" round(avg(v[i]), 6) AS mval"
                f" FROM assign{it} CROSS JOIN"
                f" unnest(range(1, {sub_len + 1})) AS t(i)"
                f" GROUP BY sub, cluster, i)"
            )
            parts.append(
                f"cents{it} AS (SELECT sub, cluster, list(mval ORDER BY pos)"
                f" AS c FROM means{it} GROUP BY sub, cluster)"
            )
            prev = f"cents{it}"
    return parts, f"assign{iters}", prev


def _pq_search_parts(
    table: str,
    m: int,
    dim: int,
    query_id: int,
    vec_col: str,
    id_col: str,
    cents_name: str,
    assign_name: str,
) -> list[str]:
    """Query slicing + ADC distance-table CTEs (q, qsubs, dtable, adc)
    shared by the plain-PQ and IVF-PQ oracles."""
    sub_len = dim // m
    return [
        f"q AS (SELECT list_transform({vec_col}, x -> x::DOUBLE) AS v"
        f" FROM {table} WHERE {id_col} = {query_id})",
        f"qsubs AS (SELECT t.sub, q.v[t.sub * {sub_len} + 1 :"
        f" t.sub * {sub_len} + {sub_len}] AS qv"
        f" FROM q CROSS JOIN unnest(range(0, {m})) AS t(sub))",
        "dtable AS (SELECT c.sub, c.cluster,"
        " CAST(round(round(list_sum(list_transform("
        f"range(1, {sub_len + 1}),"
        " i -> (c.c[i] - s.qv[i]) * (c.c[i] - s.qv[i]))), 6) * 1000000)"
        f" AS BIGINT) AS dmic FROM {cents_name} c JOIN qsubs s ON c.sub = s.sub)",
        f"adc AS (SELECT a.id, sum(d.dmic)::BIGINT AS adc_micro"
        f" FROM {assign_name} a JOIN dtable d"
        f" ON a.sub = d.sub AND a.cluster = d.cluster GROUP BY a.id)",
    ]


def ivf_pq_oracle_sql(
    table: str = "embeddings",
    m: int = 8,
    k: int = 16,
    iters: int = 2,
    dim: int = 64,
    query_id: int = 0,
    n_probe: int = 2,
    candidates: int = 50,
    topk: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "label",
) -> str:
    """DuckDB replay of :func:`ivf_pq_topk`: the PQ training CTEs
    (shared verbatim with :func:`pq_oracle_sql`), IVF cell centroids as
    per-cell coordinate means, cell ranking by 6dp-rounded cosine with
    a cell-id tie-break, then the ADC sum and exact re-rank both
    restricted to members of the probed cells."""
    parts, final_assign, prev = _pq_train_parts(
        table, m, k, iters, dim, query_id, vec_col, id_col
    )
    parts += _pq_search_parts(
        table, m, dim, query_id, vec_col, id_col, prev, final_assign
    )
    cos = (
        "list_dot_product(c.centroid, q.v)"
        " / (sqrt(list_dot_product(c.centroid, c.centroid))"
        " * sqrt(list_dot_product(q.v, q.v)))"
    )
    parts += [
        f"cells AS (SELECT {id_col} AS id, {cell_col} AS cell"
        f" FROM {table} WHERE {id_col} <> {query_id})",
        f"cent AS (SELECT cell, list(mval ORDER BY pos) AS centroid FROM ("
        f" SELECT s.cell, t.pos, avg(b.v[t.pos]) AS mval"
        f" FROM base b JOIN cells s USING (id)"
        f" CROSS JOIN unnest(range(1, {dim + 1})) AS t(pos)"
        f" GROUP BY s.cell, t.pos) GROUP BY cell)",
        f"best AS (SELECT c.cell FROM cent c CROSS JOIN q"
        f" ORDER BY round({cos}, 6) DESC, c.cell ASC LIMIT {n_probe})",
        "members AS (SELECT s.id FROM cells s JOIN best b ON s.cell = b.cell)",
        f"cand AS (SELECT id FROM adc JOIN members USING (id)"
        f" ORDER BY adc_micro, id LIMIT {candidates})",
        f"exact AS (SELECT b.id, round(list_sum(list_transform("
        f"range(1, {dim + 1}), i -> (b.v[i] - q.v[i]) * (b.v[i] - q.v[i]))),"
        f" 6) AS dist FROM base b JOIN cand USING (id) CROSS JOIN q)",
    ]
    return (
        "WITH " + ", ".join(parts)
        + f" SELECT id, dist FROM exact ORDER BY dist, id LIMIT {topk}"
    )


def pca_top_component(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    iters: int = 12,
    extra_cols: tuple[str, ...] = ("label",),
) -> DataFrame:
    """Project every vector onto the corpus's top principal component —
    the embedding-hygiene primitive behind whitening, drift monitoring,
    and SemDeDup-style "dominant direction" removal.

    Distributed shape (one fact pass, nothing wide): each partition
    accumulates its raw moments with BLAS — count, per-dimension sum,
    and the d×d Gram X'X flattened to d² doubles — via an Arrow-batched
    ``mapInPandas``; the partials are then tree-combined IN-PLAN (a
    fan-in-32 combine stage, then a final single-task combine), so the
    driver collects exactly ONE row of d²+d doubles regardless of the
    partition count — at d=4096 with 2,000 partitions that is 128 MB to
    the driver instead of ~250 GB. The driver forms the covariance
    C = (G - S·S'/n)/n and runs ``iters`` power-iteration steps on the
    d×d matrix. The resulting component is broadcast back as a literal
    and the projection is a JVM-side fold — the fact table is read
    exactly twice and never shuffled.

    Determinism contract (kmeans_lloyd:360 pattern): C rounds to 6dp,
    each normalized iterate to 9dp, and the mean and projection bias to
    6dp, so engine-specific double summation orders cannot drift the
    iteration or the projection offset; the sign is fixed by the
    largest-|u| component (first index on ties, matching both
    numpy argmax and ORDER BY abs DESC, i); projections round to 4dp.
    The DuckDB oracle replays the identical arithmetic with the Gram
    built by self-join and the power steps unrolled
    (:func:`pca_oracle_sql`).

    Output: (id_col, *extra_cols, pc1). Requires iters >= 1 and a
    non-empty input.
    """
    import numpy as np
    import pandas as pd

    if iters < 1:
        raise ValueError(f"pca_top_component needs iters >= 1, got {iters}")
    first = df.select(vec_col).first()
    if first is None:
        raise ValueError(
            f"pca_top_component: input DataFrame is empty — no '{vec_col}' "
            "vectors to decompose"
        )
    d = len(first[0])
    v = df.select(F.col(vec_col).cast("array<double>").alias("v"))

    moment_schema = "n bigint, s array<double>, g array<double>"

    def gram_parts(batches):
        n = 0
        s = np.zeros(d, dtype=np.float64)
        g = np.zeros((d, d), dtype=np.float64)
        for pdf in batches:
            if len(pdf):
                X = np.stack(pdf["v"].to_numpy())
                n += X.shape[0]
                s += X.sum(axis=0)
                g += X.T @ X
        yield pd.DataFrame(
            {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
        )

    def gram_combine(batches):
        n = 0
        s = np.zeros(d, dtype=np.float64)
        g = np.zeros(d * d, dtype=np.float64)
        for pdf in batches:
            for _, r in pdf.iterrows():
                n += int(r["n"])
                s += np.asarray(r["s"], dtype=np.float64)
                g += np.asarray(r["g"], dtype=np.float64)
        yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.tolist()]})

    # tree combine: P partition-partials -> <=32 -> 1; sums are
    # associative and the final covariance rounds 6dp, so the combine
    # grouping cannot affect the result past the rounding contract.
    # The fan-in stage only pays for itself when there are many
    # partials — below 32 partitions a single-task combine already
    # receives <=32 rows, so skip the extra shuffle+Arrow stage
    # (measured ~2x on the sf0.1 bench at 32 partitions).
    parts = v.mapInPandas(gram_parts, schema=moment_schema)
    if v.rdd.getNumPartitions() > 32:
        parts = parts.repartition(32).mapInPandas(
            gram_combine, schema=moment_schema
        )
    rows = (
        parts.repartition(1)
        .mapInPandas(gram_combine, schema=moment_schema)
        .collect()
    )
    assert len(rows) == 1, f"gram tree-combine returned {len(rows)} rows"
    n = int(rows[0]["n"])
    S = np.asarray(rows[0]["s"], dtype=np.float64)
    G = np.asarray(rows[0]["g"], dtype=np.float64).reshape(d, d)
    C = np.round((G - np.outer(S, S) / n) / n, 6)

    u = np.ones(d, dtype=np.float64)
    for _ in range(iters):
        v = C @ u
        n2 = float((v * v).sum())
        if n2 == 0.0:
            # degenerate covariance (all vectors identical, or u in its
            # null space): keep the previous iterate instead of dividing
            # by zero — the oracle replays the same keep-previous branch
            break
        u = np.round(v / np.sqrt(n2), 9)
    k = int(np.argmax(np.abs(u)))
    if u[k] < 0:
        u = -u
    # 6dp-round the mean and bias (kmeans contract): S carries engine-
    # specific summation order, and the oracle derives its bias from
    # DuckDB's own sum order — without the rounds an ulp drift in S can
    # flip a 4dp projection at a rounding boundary
    mean = np.round(S / n, 6)
    bias = round(float(np.dot(mean, u)), 6)

    u_lit = F.array(*[F.lit(float(x)) for x in u])
    return df.select(
        id_col,
        *extra_cols,
        F.round(
            vectors.dot(F.col(vec_col), u_lit) - F.lit(bias), 4
        ).alias("pc1"),
    )


def pca_oracle_sql(
    dim: int = 64,
    iters: int = 12,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = ("label",),
) -> str:
    """DuckDB replay of :func:`pca_top_component`: explode the vectors,
    build the Gram by self-join, form the 6dp-rounded covariance, unroll
    ``iters`` power steps (9dp-rounded normalized iterates), fix the
    sign on the largest-|u| component, and project. Purely mechanical —
    the unrolled-iteration oracle pattern established for PQ/k-means."""
    steps = []
    prev = "p0"
    for t in range(1, iters + 1):
        # MATERIALIZED is load-bearing: r{t} is referenced twice (matvec
        # + its norm) and p{t} feeds the next round twice — DuckDB
        # re-inlines unmaterialized CTEs, which doubles the plan per
        # round (2^iters scans = file-handle exhaustion at 12 rounds)
        steps.append(
            f"r{t} AS MATERIALIZED (SELECT c.i, sum(c.cv * {prev}.u) AS u "
            f"FROM cov c JOIN {prev} ON c.j = {prev}.i GROUP BY c.i), "
            # degenerate covariance: zero matvec norm keeps the previous
            # iterate (the operator's keep-previous break, replayed)
            f"p{t} AS MATERIALIZED (SELECT r.i, CASE WHEN t.s = 0 THEN p.u "
            f"ELSE round(r.u / sqrt(t.s), 9) END AS u "
            f"FROM r{t} r JOIN {prev} p ON r.i = p.i "
            f"CROSS JOIN (SELECT sum(u * u) AS s FROM r{t}) t)"
        )
        prev = f"p{t}"
    unrolled = ",\n    ".join(steps)
    extras = "".join(f"e.{c}, " for c in extra_cols)
    return f"""
    WITH x AS (
        SELECT {id_col}, i, {vec_col}[i]::DOUBLE AS v
        FROM {table} CROSS JOIN (SELECT unnest(generate_series(1, {dim})) AS i)
    ),
    stats AS (SELECT count(DISTINCT {id_col}) AS n FROM x),
    s AS (SELECT i, sum(v) AS s FROM x GROUP BY i),
    g AS (
        SELECT a.i AS i, b.i AS j, sum(a.v * b.v) AS g
        FROM x a JOIN x b USING ({id_col}) GROUP BY a.i, b.i
    ),
    cov AS (
        SELECT g.i, g.j,
               round((g.g - si.s * sj.s / stats.n) / stats.n, 6) AS cv
        FROM g JOIN s si ON g.i = si.i JOIN s sj ON g.j = sj.i, stats
    ),
    p0 AS (SELECT unnest(generate_series(1, {dim})) AS i, 1.0 AS u),
    {unrolled},
    sgn AS (SELECT CASE WHEN u < 0 THEN -1.0 ELSE 1.0 END AS s
            FROM {prev} ORDER BY abs(u) DESC, i LIMIT 1),
    vf AS (SELECT i, u * sgn.s AS u FROM {prev}, sgn),
    m AS (SELECT s.i, round(s.s / stats.n, 6) AS m FROM s, stats),
    bias AS (SELECT round(sum(m.m * vf.u), 6) AS b FROM m JOIN vf USING (i))
    SELECT e.{id_col}, {extras}
           round(sum(x.v * vf.u) - any_value(bias.b), 4) AS pc1
    FROM {table} e
    JOIN x ON x.{id_col} = e.{id_col}
    JOIN vf ON vf.i = x.i
    CROSS JOIN bias
    GROUP BY e.{id_col}{''.join(f', e.{c}' for c in extra_cols)}
    """


def hard_negatives(
    df: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training-pair construction:
    for every anchor vector, the ``k`` most-similar vectors carrying a
    DIFFERENT label — the negatives that sit closest to the decision
    boundary, the standard recipe for dense-retriever / embedding
    fine-tuning data.

    Scale shape: the anchor set is the broadcast side (a training batch
    or query sample — bounded by construction); candidates stream
    through a BroadcastNestedLoopJoin with the label-mismatch predicate
    applied before any shuffle, then one exchange keyed on anchor_id
    ranks the per-anchor top-k. The fact table is scanned once and
    never shuffled in full — only (anchor, candidate, sim) survivors.
    For anchor sets beyond broadcast size, shard the anchors and union
    the runs (each shard is this same plan).

    Determinism: cosine rounds to 6dp with candidate-id tie-break
    before ranking (the knn contract). Output: (anchor_id, rank,
    neg_id, neg_label, cos_sim).
    """
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        F.col(vec_col).alias("__qv"),
        F.col(label_col).alias("__alabel"),
    )
    c = df.select(
        F.col(id_col).alias("neg_id"),
        F.col(vec_col).alias("__cv"),
        F.col(label_col).alias("neg_label"),
    )
    sim = F.round(vectors.cosine(F.col("__cv"), F.col("__qv")), 6)
    scored = (
        c.join(F.broadcast(a), F.col("neg_label") != F.col("__alabel"))
        .select("anchor_id", "neg_id", "neg_label", sim.alias("cos_sim"))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("neg_id").asc()
    )
    return (
        scored.select(
            "anchor_id",
            F.row_number().over(w).alias("rank"),
            "neg_id",
            "neg_label",
            "cos_sim",
        )
        .where(F.col("rank") <= k)
    )
