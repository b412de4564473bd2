"""Corpus-curation operators for pretraining-data pipelines.

Extends the LLM tier (dedup/similarity/text) with the selection and
balancing steps a training-data pipeline runs AFTER cleaning and
deduplication: model-based quality scoring (fasttext-style linear
classifier), DSIR-style importance weighting against a target
distribution, per-source corpus caps, sequence-length bucketing for
batch shaping, and corpus-level source similarity. Every operator is
deterministic and DuckDB-oracle-expressible; none uses Python UDFs.

Scale notes (100 TB): the classifier and length bucketing are pure
per-row projections (no shuffle). DSIR explodes one row per n-gram but
immediately folds into a BOUNDED bucket table (``n_buckets`` rows)
that broadcasts back — the heavy side shuffles once on doc_id for the
final fold. Source caps use a per-source window (source count is
catalog-sized). Source similarity reduces each source to a fixed-width
MinHash signature before the tiny pairwise join.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions.hashing import (
    MERSENNE_31,
    minhash_from_base,
    shingle_hashes,
    stable_hash64,
    stable_hash64_sql,
)
from ..functions.text import WS_PATTERN, word_shingles, ws_tokens
from .relational import materialize, spread_compute

#: Knuth's multiplicative-hash constant — maps a bucket id to a
#: deterministic pseudo-weight without shipping a model file. The
#: product stays < 2^44 for bucket < 2^12, safe in either engine's
#: BIGINT arithmetic.
KNUTH = 2654435761


def _lower_tokens(text_col: str) -> Column:
    toks = F.transform(ws_tokens(F.col(text_col)), F.lower)
    return F.filter(toks, lambda x: x != "")


def lower_tokens_sql(text_col: str = "text") -> str:
    """DuckDB rendering of :func:`_lower_tokens`."""
    toks = f"regexp_split_to_array(trim({text_col}), '{WS_PATTERN}')"
    return f"list_filter(list_transform({toks}, x -> lower(x)), x -> x <> '')"


# ---------------------------------------------------------------------------
# Model-based quality classification (fasttext-style linear scorer)
# ---------------------------------------------------------------------------


def classifier_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Hash-bucketed linear text classifier (fasttext architecture).

    Production quality filters (CCNet, DataComp-LM) score documents
    with a linear model over hashed token features: each token hashes
    to one of ``n_buckets`` weight slots, the document score is the
    sigmoid of the mean slot weight. Here the weight table is a
    deterministic function of the slot id (Knuth multiplicative mix →
    [-0.5, 0.5)) so the full scoring path — hash, lookup, mean,
    sigmoid — is exercised and oracle-verifiable without shipping
    trained weights; swap :data:`KNUTH` mixing for a broadcast weight
    array to deploy a real model.

    One projection per row: tokens → slot ids → weights → running sum
    via ``aggregate`` — no explode, no join, no shuffle. At 100 TB this
    is a map-only stage pipelined into whatever reads it.
    """
    toks = _lower_tokens(text_col)
    slot = lambda x: F.pmod(stable_hash64(x), F.lit(n_buckets))  # noqa: E731
    weight = lambda x: (  # noqa: E731
        F.pmod(slot(x) * F.lit(KNUTH), F.lit(n_buckets)) / F.lit(float(n_buckets))
        - F.lit(0.5)
    )
    wsum = F.aggregate(
        toks, F.lit(0.0), lambda acc, x: acc + weight(x)
    )
    n = F.size(toks)
    mean_w = F.round(wsum / F.greatest(n, F.lit(1)), 6)
    return df.select(
        id_col,
        n.cast("bigint").alias("n_tokens"),
        mean_w.alias("mean_weight"),
        F.round(
            F.lit(1.0) / (F.lit(1.0) + F.exp(F.lit(-4.0) * mean_w)), 4
        ).alias("clf_score"),
    )


def classifier_scores_sql(n_buckets: int = 4096) -> str:
    """DuckDB oracle for :func:`classifier_scores` over ``documents``."""
    toks = lower_tokens_sql("text")
    h = stable_hash64_sql("x")
    w = f"((({h}) % {n_buckets}) * {KNUTH} % {n_buckets}) / {float(n_buckets)} - 0.5"
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    s AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               round(coalesce(list_sum(list_transform(toks, x -> {w})), 0.0)
                     / greatest(len(toks), 1), 6) AS mean_weight
        FROM t
    )
    SELECT doc_id, n_tokens::BIGINT AS n_tokens, mean_weight,
           round(1.0 / (1.0 + exp(-4.0 * mean_weight)), 4) AS clf_score
    FROM s
    """


# ---------------------------------------------------------------------------
# DSIR-style importance weighting
# ---------------------------------------------------------------------------


def dsir_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    k: int = 2,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., 2023).

    Estimates per-document importance weights log(p_target/p_raw)
    under hashed n-gram bag-of-words models: n-grams hash into
    ``n_buckets`` slots, slot probabilities are Laplace-smoothed counts
    under the target subset (rows matching ``target_pred``) vs the
    whole corpus, and a document's weight is the mean log-ratio of its
    n-gram slots.

    Plan shape: two passes over the corpus, like the unigram LM. Pass 1
    explodes n-gram slots and folds them into a BOUNDED slot table
    (``n_buckets`` rows), which is materialized ``local`` — it is the
    trained model, kilobytes at any corpus size, and materializing it
    keeps the totals/log-ratio derivations (two more consumers) from
    re-running the explode. Pass 2 never shuffles at all: the log-ratio
    table folds into a ONE-ROW slot→ratio map, broadcasts, and each
    document's mean weight is an in-row array lookup + fold over its
    own slot array — scoring is a map-only stage, the shape a scorer
    should have when the model is kilobytes. The input is
    compute-spread first (hashing is CPU-bound, and a fresh parquet
    scan of a small table may arrive single-partition).
    """
    toks = F.transform(ws_tokens(F.col(text_col)), F.lower)
    grams = word_shingles(toks, k)
    slot_arr = F.transform(
        grams, lambda g: F.pmod(stable_hash64(g), F.lit(n_buckets))
    )
    spread = spread_compute(df)
    pairs = spread.select(
        target_pred.cast("int").alias("is_target"),
        F.explode(slot_arr).alias("slot"),
    )

    slots = materialize(
        pairs.groupBy("slot").agg(
            F.sum("is_target").alias("t_b"), F.count(F.lit(1)).alias("c_b")
        ),
        "dsir_slots", "local", eager=False,
    )
    totals = slots.agg(
        F.sum("t_b").alias("t_tot"), F.sum("c_b").alias("c_tot")
    )
    logr_map = (
        slots.join(F.broadcast(totals))
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("slot"),
                        (
                            F.log(
                                (F.col("t_b") + 1) / (F.col("t_tot") + n_buckets)
                            )
                            - F.log(
                                (F.col("c_b") + 1) / (F.col("c_tot") + n_buckets)
                            )
                        ).alias("logr"),
                    )
                )
            ).alias("lmap")
        )
    )
    slot_ratios = F.transform(
        F.col("slots"), lambda s: F.element_at(F.col("lmap"), s)
    )
    return (
        spread.select(id_col, slot_arr.alias("slots"))
        .join(F.broadcast(logr_map))
        .select(
            id_col,
            F.size("slots").cast("bigint").alias("n_grams"),
            F.round(
                F.aggregate(slot_ratios, F.lit(0.0), lambda a, x: a + x)
                / F.size("slots"),
                6,
            ).alias("dsir_logweight"),
        )
    )


def dsir_weights_sql(
    target_where: str, n_buckets: int = 1024, k: int = 2
) -> str:
    """DuckDB oracle for :func:`dsir_weights` over ``documents``."""
    from ..functions.text import word_shingles_sql

    toks = f"list_transform(regexp_split_to_array(trim(text), '{WS_PATTERN}'), x -> lower(x))"
    grams = word_shingles_sql("toks", k)
    h = stable_hash64_sql("gram")
    return f"""
    WITH t AS (
        SELECT doc_id, ({target_where})::INT AS is_target, {toks} AS toks
        FROM documents
    ),
    pairs AS (
        SELECT doc_id, is_target, ({h}) % {n_buckets} AS slot
        FROM (SELECT doc_id, is_target, unnest({grams}) AS gram FROM t)
    ),
    slots AS (
        SELECT slot, sum(is_target) AS t_b, count(*) AS c_b
        FROM pairs GROUP BY slot
    ),
    tot AS (SELECT sum(t_b) AS t_tot, sum(c_b) AS c_tot FROM slots),
    logr AS (
        SELECT slot,
               ln((t_b + 1) / (t_tot + {n_buckets}))
             - ln((c_b + 1) / (c_tot + {n_buckets})) AS logr
        FROM slots CROSS JOIN tot
    )
    SELECT doc_id,
           count(*)::BIGINT AS n_grams,
           round(avg(logr), 6) AS dsir_logweight
    FROM pairs JOIN logr USING (slot)
    GROUP BY doc_id
    """


# ---------------------------------------------------------------------------
# Sequence-length bucketing (batch shaping)
# ---------------------------------------------------------------------------

#: Power-of-two padding buckets; the final slot is an overflow catch-all.
LENGTH_BUCKETS = [8, 16, 32, 64, 128, 256, 1024]


def length_buckets(
    df: DataFrame, text_col: str = "text", buckets: list[int] | None = None
) -> DataFrame:
    """Padding-bucket histogram for fixed-shape batch assembly.

    Training batches pad every sequence to a bucket boundary; the
    padding waste per bucket (padded minus real tokens) tells you what
    the bucket layout costs. Bucket assignment is exact integer
    arithmetic — the smallest configured bucket >= the token count —
    never floating log2, so engines can't disagree at boundaries.
    Map-side projection + one bounded agg (|buckets| rows).
    """
    bks = buckets or LENGTH_BUCKETS
    n = F.size(ws_tokens(F.col(text_col)))
    arr = F.array(*[F.lit(b) for b in bks])
    bucket = F.coalesce(
        F.array_min(F.filter(arr, lambda b: b >= n)), F.lit(bks[-1])
    )
    return (
        df.select(n.alias("n_tok"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "real_tokens",
            (F.col("bucket") * F.col("n_docs")).cast("bigint").alias("padded_tokens"),
            F.round(
                F.lit(1.0)
                - F.col("real_tokens") / (F.col("bucket") * F.col("n_docs")),
                6,
            ).alias("pad_waste"),
        )
    )


def length_buckets_sql(buckets: list[int] | None = None) -> str:
    """DuckDB oracle for :func:`length_buckets` over ``documents``."""
    bks = buckets or LENGTH_BUCKETS
    lst = "[" + ", ".join(str(b) for b in bks) + "]"
    toks = f"regexp_split_to_array(trim(text), '{WS_PATTERN}')"
    return f"""
    WITH n AS (SELECT len({toks}) AS n_tok FROM documents),
    b AS (
        SELECT n_tok,
               coalesce(list_min(list_filter({lst}, b -> b >= n_tok)),
                        {bks[-1]}) AS bucket
        FROM n
    )
    SELECT bucket,
           count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS real_tokens,
           (bucket * count(*))::BIGINT AS padded_tokens,
           round(1.0 - sum(n_tok) / (bucket * count(*)), 6) AS pad_waste
    FROM b GROUP BY bucket
    """


# ---------------------------------------------------------------------------
# Per-source corpus caps
# ---------------------------------------------------------------------------


def source_caps(
    feat: DataFrame, cap: int, score_col: str = "quality_score"
) -> DataFrame:
    """Cap each source's contribution at its ``cap`` best documents.

    Web-scale corpora are dominated by a few crawl domains; capping
    per-source document counts (keeping the highest-quality ones) is
    the standard balancing defense. Input is a scored frame (e.g.
    ``text_ops.quality_features``); output is the per-source keep/drop
    accounting plus the admission threshold actually applied.

    The rank window partitions by source — at 100 TB a single hot
    source is one partition's sort, so for truly giant sources rank on
    a pre-aggregated (score-bucket, count) histogram instead and admit
    whole buckets; the windowed form here is exact and right whenever
    per-source rows fit a partition.
    """
    w = Window.partitionBy("source").orderBy(
        F.col(score_col).desc(), F.col("doc_id").asc()
    )
    ranked = feat.select(
        "source", "doc_id", F.col(score_col).alias("score"),
        F.row_number().over(w).alias("rn"),
    )
    kept = F.col("rn") <= cap
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum((~kept).cast("int")).cast("bigint").alias("n_dropped"),
        F.min(F.when(kept, F.col("score"))).alias("admit_threshold"),
    )


# ---------------------------------------------------------------------------
# Corpus-level source similarity (union-MinHash)
# ---------------------------------------------------------------------------


def source_signatures(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Per-group MinHash signature of the UNION of member shingle sets.

    MinHash's defining property: min over a union = min of mins — so
    folding per-document permutation minima with ``min`` per group
    yields exactly the signature of the group's combined shingle set,
    and signature agreement between two groups estimates the Jaccard
    similarity of their full vocabularies. Output is one fixed-width
    row per group regardless of corpus size.
    """
    shingles = word_shingles(ws_tokens(F.col(text_col)), k)
    base = df.select(
        group_col, shingle_hashes(shingles).alias("base_hashes")
    )
    sig = base.select(
        group_col, minhash_from_base(F.col("base_hashes"), n_perm, seed).alias("sig")
    )
    wide = sig.select(
        group_col, *[F.col("sig").getItem(j).alias(f"m{j}") for j in range(n_perm)]
    )
    return wide.groupBy(group_col).agg(
        *[F.min(f"m{j}").alias(f"m{j}") for j in range(n_perm)]
    )


def source_similarity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = 3,
    n_perm: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Pairwise estimated Jaccard between group vocabularies.

    Each group reduces to an ``n_perm``-slot signature first, so the
    pairwise stage touches |groups|² fixed-width rows — for
    catalog-sized group counts (crawl sources, languages, snapshots)
    that is a broadcast nested-loop over kilobytes, no matter how many
    documents fed it.
    """
    sigs = source_signatures(df, group_col, text_col, k, n_perm, seed)
    a = sigs.select(
        F.col(group_col).alias("source_a"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(n_perm)],
    )
    b = sigs.select(
        F.col(group_col).alias("source_b"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(n_perm)],
    )
    matches = sum(
        (F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(n_perm)
    )
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            matches.cast("bigint").alias("n_matches"),
            F.round(matches / F.lit(float(n_perm)), 6).alias("est_jaccard"),
        )
    )
