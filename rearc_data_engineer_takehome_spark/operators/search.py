"""Keyword search scoring: BM25 ranking over a document corpus.

Complements the vector tier (operators/similarity.py) with the lexical
half of hybrid retrieval. Everything is DataFrame-native:

  tokenize → explode → per-(doc,term) tf → tiny per-term df aggregate
  (broadcast) → score → top-k

Scale shape: the exploded token stream is filtered to the query terms
BEFORE the tf shuffle, so the shuffle carries |query| × matching-doc
rows, not the corpus token stream; per-term document frequencies are a
|query|-row aggregate broadcast back; corpus-level constants (N, avgdl)
are a 2-scalar driver aggregate. Top-k compiles to
TakeOrderedAndProject — no global sort.

Cross-engine determinism: ln() is the one libm-dependent step, so the
idf is rounded to 8 dp before entering the product — multiplication and
division are IEEE-deterministic given identical operands, and token
length sums are integer-exact in doubles, so avgdl is bit-identical in
any engine.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..functions.text import ws_tokens
from .relational import materialize, spread_compute

K1 = 1.2
B = 0.75


def bm25_topk(
    docs: DataFrame,
    terms: Sequence[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
) -> DataFrame:
    """Top-``k`` documents by BM25 score against a bag of query terms.

    Standard Okapi BM25 with the +1 idf smoothing (Lucene's variant):
    idf = ln((N - df + 0.5)/(df + 0.5) + 1), tf normalization
    tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)).
    """
    terms = [t.lower() for t in terms]
    # spread first: tokenization is CPU-bound and a single parquet file
    # is ONE input partition otherwise. The lowered token array is
    # aliased and referenced twice (size + explode) so CollapseProject
    # keeps a projection barrier — exploding the computed array directly
    # would inline it into Generate and re-evaluate the tokenize per
    # OUTPUT TOKEN (measured ~4× on this operator).
    arred = spread_compute(docs).select(
        F.col(id_col),
        F.transform(ws_tokens(text_col), F.lower).alias("arr"),
    ).select(F.col(id_col), F.size("arr").alias("dl"), F.col("arr"))
    toks = arred.select(
        F.col(id_col), F.col("dl"), F.explode("arr").alias("term")
    ).where(F.col("term").isin(terms))

    # tf feeds BOTH the per-term df aggregate and the scoring join; a
    # stopword-ish term can match most of the corpus, hence reliable
    tf = materialize(
        toks.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf")),
        "bm25_tf", "reliable",
    )

    n_docs, sum_dl = spread_compute(docs).agg(
        F.count(F.lit(1)), F.sum(F.size(ws_tokens(text_col)))
    ).first()
    avgdl = sum_dl / n_docs  # integer-exact sum → bit-identical anywhere

    df_t = tf.groupBy("term").agg(F.countDistinct(id_col).alias("df"))
    idf = F.round(
        F.log((F.lit(float(n_docs)) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
        8,
    )
    norm = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * F.col("dl") / F.lit(float(avgdl)))
    )
    scored = (
        tf.join(F.broadcast(df_t.select("term", idf.alias("idf"))), "term")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(F.col("idf") * norm), 4).alias("bm25"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    # orderBy+limit compiles to TakeOrderedAndProject (per-partition
    # heaps, no global sort); the rank window then runs over only k rows
    topk = scored.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("bm25").desc(), F.col(id_col).asc())
    return topk.withColumn("rank", F.row_number().over(w)).select(
        id_col, "bm25", "n_terms_hit", "rank"
    )


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top: int = 20,
) -> DataFrame:
    """Reciprocal rank fusion: combine N rankers into one list with
    score = Σ 1/(k + rank_i), the standard score-free hybrid-retrieval
    combiner (robust to incomparable score scales, e.g. BM25 vs cosine).
    Items missing from a ranker simply contribute nothing.

    Each input is (id, rank); inputs are top-m lists, so every join here
    runs over m-row frames — candidate generation did the heavy lifting,
    fusion is constant-size work regardless of corpus scale.
    """
    fused = None
    contribs = []
    for i, r in enumerate(rankings):
        c = f"c{i}"
        contribs.append(c)
        part = r.select(
            F.col(id_col), (1.0 / (F.lit(k) + F.col(rank_col))).alias(c)
        )
        fused = part if fused is None else fused.join(part, id_col, "full_outer")
    score = F.round(
        sum(F.coalesce(F.col(c), F.lit(0.0)) for c in contribs), 9
    ).alias("rrf_score")
    n_hit = sum(F.col(c).isNotNull().cast("int") for c in contribs).alias(
        "n_rankers"
    )
    return (
        fused.select(id_col, score, n_hit)
        .orderBy(F.col("rrf_score").desc(), F.col(id_col).asc())
        .limit(top)
    )
