"""Graph analytics as DataFrame transformations: co-occurrence graph
construction + PageRank power iteration.

The reference has no graph surface; this is extension tier next to
``dedup.cluster_pairs`` (connected components). The pattern shared by
both: iterate joins over the EDGE relation, never materialize anything
quadratic in the node count, and keep per-round lineage bounded.

Determinism contract (same one that makes k-means oracle-able,
operators/similarity.py): ranks are rounded to 8dp after every
iteration on both engines, so ranking/threshold decisions downstream
see identical operands despite engine-specific double-summation
order. The DuckDB oracle replays the iterations as unrolled CTEs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .relational import materialize


def copurchase_edges(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Directed edge list (both directions) between items co-occurring
    in an order — the simple graph (DISTINCT pairs, no self-loops).

    Scale shape: one groupBy folds each order into a sorted DISTINCT
    item set (collect_set dedups on the same exchange), then C(k,2)
    ordered pairs are generated IN-ROW from the sorted array — k is the
    per-order item count (single digits), so fan-out is bounded per
    order, never by the catalog. Only the src<dst half is shuffled
    through the pair distinct; the mirror direction is a map-side
    union. Replaces the round-1 basket self-join (distinct + two-sided
    order-key join): 2 exchanges instead of 4, measured 4.9 s -> ~2 s
    at sf0.1."""
    return mirror_edges(
        copurchase_edges_half(lineitem, order_col, item_col)
    )


def copurchase_edges_half(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """The src < dst half of :func:`copurchase_edges` — exposed so a
    caller that must MATERIALIZE the edge relation (reliable scratch
    for multi-consumer queries) can write half the bytes and mirror
    after the read-back (:func:`mirror_edges`), instead of persisting
    both directions (optimization r12, guide §6)."""
    sets = lineitem.groupBy(order_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("items")
    )
    pair_expr = (
        "flatten(transform(items, (x, i) ->"
        " transform(slice(items, i + 2, size(items)),"
        " y -> struct(x AS src, y AS dst))))"
    )
    return (
        sets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.src", "p.dst")
        .distinct()
    )


def mirror_edges(half: DataFrame) -> DataFrame:
    """Both directions of a src < dst half-edge relation (map-side
    union, no shuffle)."""
    return half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    round_to: int = 8,
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """PageRank power iteration over a directed edge list.

    Per iteration: contributions flow along edges (rank/out-degree,
    one shuffle keyed on dst), fold into the damped update, round. The
    node-count normalizer is a single driver scalar (one count — a
    bounded aggregate at any graph size). Nodes without in-edges keep
    the teleport mass. Returns (node, rank) after ``iters`` rounds
    from a uniform 1/N start.

    At 100 TB graph scale the edge relation dominates; each round is
    one join + one aggregate on it — O(iters) passes, no per-node
    state beyond the (node, rank) table. Dangling mass redistribution
    (nodes with NO out-edges) is deliberately omitted: co-occurrence
    graphs are symmetric so every node has out-degree ≥ 1; a directed
    web-style graph would add the dangling-sum scalar per round.
    """
    # edges feeds nodes, outdeg and every iteration's contribution
    # join; computing it once cut the plan from 55 exchanges to 13
    edges = materialize(edges, "pagerank_edges", "local")
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct(),
        "pagerank_nodes", "local",
    )
    # one row per node with out-edges: spares every iteration a
    # re-aggregation of the edge relation
    outdeg = materialize(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("outdeg")
        ),
        "pagerank_outdeg", "local",
    )
    n = nodes.count()
    # The rank table is exactly one row per node. While it fits a
    # broadcast (node catalog, not fact scale), ship it to the edge
    # partitions instead of shuffling the edge relation's join side —
    # each iteration then costs ONE exchange (the dst groupBy, inherent
    # to rank flow) plus small broadcast builds, and the weighted-edge
    # relation stays LAZY (a broadcast join over the checkpointed edge
    # blocks — materializing it costs more than re-reading). Past the
    # threshold the shuffle path takes over: weighted edges are
    # materialized hash(src)-partitioned ONCE, so every iteration
    # reuses that single exchange instead of re-shuffling edges.
    if broadcast_ranks is None:
        broadcast_ranks = n <= 2_000_000
    if broadcast_ranks:
        _b = F.broadcast
        wedges = edges.join(F.broadcast(outdeg), edges.src == outdeg.node).select(
            "src", "dst", "outdeg"
        )
    else:
        _b = lambda df: df  # noqa: E731
        shuffle_parts = edges.sparkSession.conf.get(
            "spark.sql.shuffle.partitions"
        )
        wedges = materialize(
            edges.join(outdeg, edges.src == outdeg.node)
            .select("src", "dst", "outdeg")
            .repartition(int(shuffle_parts), "src"),
            "pagerank_wedges", "local",
        )
    init = round(1.0 / n, round_to)
    ranks = nodes.select("node", F.lit(init).alias("rank"))
    teleport = (1.0 - damping) / n
    for _ in range(iters):
        contrib = (
            wedges.join(_b(ranks), wedges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                # division (not reciprocal multiply): bit-identical to
                # the oracle's r.rank / d.outdeg
                (F.col("rank") / F.col("outdeg")).alias("w"),
            )
            .groupBy("node")
            .agg(F.sum("w").alias("c"))
        )
        ranks = nodes.join(_b(contrib), "node", "left").select(
            "node",
            F.round(
                F.lit(teleport) + F.lit(damping) * F.coalesce("c", F.lit(0.0)),
                round_to,
            ).alias("rank"),
        )
    return ranks


def pagerank_oracle_sql(
    edges_cte: str,
    iters: int = 3,
    damping: float = 0.85,
    round_to: int = 8,
    node_alias: str = "node",
) -> str:
    """DuckDB SQL replaying :func:`pagerank` over ``edges_cte`` (a CTE
    body producing (src, dst)) — iterations unrolled, same rounding."""
    parts = [
        f"edges AS ({edges_cte})",
        "nodes AS (SELECT DISTINCT src AS node FROM edges"
        " UNION SELECT DISTINCT dst FROM edges)",
        "deg AS (SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY src)",
        "nn AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        f"r0 AS (SELECT node, round(1.0 / nn.n, {round_to}) AS rank"
        " FROM nodes CROSS JOIN nn)",
    ]
    # Interpolate the PRECOMPUTED Python double: DuckDB evaluates the
    # literal (1 - 0.85) in DECIMAL to exactly 0.15, while Spark adds
    # the Python double 1.0-0.85 = 0.15000000000000002 — a last-ulp
    # divergence that could flip an 8dp rounding boundary.
    teleport = 1.0 - damping
    for i in range(1, iters + 1):
        parts.append(
            f"r{i} AS (SELECT nd.node,"
            f" round({teleport!r}::DOUBLE / nn.n + {damping} * coalesce(s.c, 0),"
            f" {round_to}) AS rank"
            f" FROM nodes nd CROSS JOIN nn LEFT JOIN ("
            f" SELECT e.dst AS node, sum(r.rank / d.outdeg) AS c"
            f" FROM edges e JOIN r{i - 1} r ON r.node = e.src"
            f" JOIN deg d ON d.node = e.src GROUP BY e.dst"
            f" ) s ON s.node = nd.node)"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT node AS {node_alias}, rank FROM r{iters}"
    )


def copurchase_edges_support(
    lineitem: DataFrame,
    min_support: int = 2,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Support-filtered co-purchase edges: undirected (src < dst) item
    pairs co-occurring in at least ``min_support`` orders. The raw
    co-occurrence graph is near-clique noise (every order of size k
    contributes C(k,2) edges — avg degree ~120 on the sf0.1 fixture);
    the support filter keeps the repeated-affinity backbone, which is
    the graph whose triangles/clustering are MEANINGFUL and whose wedge
    volume stays bounded at scale. Same in-row pairing as
    :func:`copurchase_edges` (fan-out bounded by order size), plus one
    pair-keyed count."""
    sets = lineitem.groupBy(order_col).agg(
        F.array_sort(F.collect_set(item_col)).alias("items")
    )
    pair_expr = (
        "flatten(transform(items, (x, i) ->"
        " transform(slice(items, i + 2, size(items)),"
        " y -> struct(x AS src, y AS dst))))"
    )
    return (
        sets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.src", "p.dst")
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= min_support)
        .select("src", "dst")
    )


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Exact triangle count + global clustering coefficient over an
    undirected graph given as a (src, dst) edge relation (either or both
    directions; self-loops ignored).

    Scale shape — the degree-ordered orientation algorithm (node
    iterator family; the MapReduce formulation is Suri & Vassilvitskii
    2011): orient every undirected edge from its (degree, id)-smaller
    endpoint to the larger, which caps every node's OUT-degree at
    O(sqrt(m)); wedges are then a self-join of the oriented edges on
    their source (bounded per node by outdeg^2 <= m, never the
    quadratic in-degree of a hub), and each triangle is counted EXACTLY
    once where the wedge's closing edge exists in the same orientation.
    Join keys are node ids — broadcast-ineligible at graph scale but
    perfectly hash-partitionable; nothing quadratic in the node count
    is ever materialized.

    Returns one row: n_edges (undirected), n_wedges — the TOTAL
    (open + closed) wedge count over full undirected degrees,
    sum-over-nodes C(deg, 2); NOT the smaller oriented wedge count the
    self-join enumerates internally — n_triangles, and
    global_clustering = 3 * n_triangles / n_wedges over those same
    full-degree wedges — integer-exact operands, one 6dp round.
    """
    # und feeds the degree fold (twice, via the union), the orientation
    # join, and the edge count; orient feeds both wedge sides and the
    # closing-edge join. Without materialization each reference re-runs
    # the upstream edge GENERATOR (e.g. the co-purchase fold) — measured
    # 11.7s -> ~2s at sf0.1 with the two checkpoints.
    und = materialize(
        edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct(),
        "triangle_und", "local",
    )
    deg = (
        und.select(F.col("a").alias("n"))
        .unionByName(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("n").alias("b"), F.col("d").alias("db"))
    keyed = und.join(da, "a").join(db, "b")
    a_first = F.struct(F.col("da"), F.col("a")) < F.struct(
        F.col("db"), F.col("b")
    )
    orient = materialize(
        keyed.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("s"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("t"),
            F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dt"),
        ),
        "triangle_orient", "local",
    )
    e1 = orient.select(
        F.col("s"), F.col("t").alias("v"), F.col("dt").alias("dv")
    )
    e2 = orient.select(
        F.col("s"), F.col("t").alias("w"), F.col("dt").alias("dw")
    )
    wedges = e1.join(e2, "s").where(
        F.struct(F.col("dv"), F.col("v")) < F.struct(F.col("dw"), F.col("w"))
    )
    closing = orient.select(
        F.col("s").alias("v"), F.col("t").alias("w")
    )
    tri = wedges.join(closing, ["v", "w"])
    n_edges = und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    n_wedges_all = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("bigint").alias("n_wedges")
    )
    n_tri = tri.agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    return (
        n_edges.join(F.broadcast(n_wedges_all))
        .join(F.broadcast(n_tri))
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                F.lit(3.0)
                * F.col("n_triangles")
                / F.greatest(F.col("n_wedges"), F.lit(1)).cast("double"),
                6,
            ).alias("global_clustering"),
        )
    )


def triangle_oracle_sql(edges_cte: str) -> str:
    """DuckDB replay of :func:`triangle_stats` over an ``edges`` CTE
    producing (src, dst)."""
    return f"""
    WITH edges0 AS ({edges_cte}),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges0 WHERE src <> dst
    ),
    deg AS (
        SELECT n, count(*) AS d FROM (
            SELECT a AS n FROM und UNION ALL SELECT b FROM und
        ) GROUP BY n
    ),
    orient AS (
        SELECT CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.a ELSE u.b END AS s,
               CASE WHEN (da.d, u.a) < (db.d, u.b) THEN u.b ELSE u.a END AS t,
               CASE WHEN (da.d, u.a) < (db.d, u.b) THEN db.d ELSE da.d END AS dt
        FROM und u JOIN deg da ON da.n = u.a JOIN deg db ON db.n = u.b
    ),
    wedges AS (
        SELECT e1.s, e1.t AS v, e2.t AS w
        FROM orient e1 JOIN orient e2 ON e1.s = e2.s
        WHERE (e1.dt, e1.t) < (e2.dt, e2.t)
    ),
    tri AS (
        SELECT count(*)::BIGINT AS n_triangles
        FROM wedges JOIN orient o ON o.s = wedges.v AND o.t = wedges.w
    ),
    ne AS (SELECT count(*)::BIGINT AS n_edges FROM und),
    nw AS (SELECT sum(d * (d - 1) // 2)::BIGINT AS n_wedges FROM deg)
    SELECT ne.n_edges, nw.n_wedges, tri.n_triangles,
           round(3.0 * tri.n_triangles
                 / greatest(nw.n_wedges, 1)::DOUBLE, 6) AS global_clustering
    FROM ne CROSS JOIN nw CROSS JOIN tri
    """
