"""Corpus-curation parity queries: the selection/balancing tier of a
pretraining-data pipeline (model-based quality filtering, DSIR
importance weighting, per-source caps, batch shaping, corpus-level
source similarity).

Registered after queries_llm / queries_analytics; the per-source-cap
and perplexity-band oracles COMPOSE the already-registered
``doc_quality_scores`` / ``doc_lm_perplexity`` oracle SQL as CTEs, so
the scoring formula is single-sourced and cannot drift between the
base query and its consumers.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .functions.hashing import (
    MERSENNE_31,
    _affine_params,
    stable_hash64,
    stable_hash64_sql,
)
from .functions.quantiles import spark_percentile_sql
from .functions.text import WS_PATTERN, word_shingles_sql
from .operators import curation
from .operators import dedup as dedup_ops
from .operators import similarity
from .operators import text as text_ops
from .operators.relational import materialize
from .queries import REGISTRY, _t, query

_TOKS = f"regexp_split_to_array(trim(text), '{WS_PATTERN}')"


@query(
    "doc_clf_quality",
    curation.classifier_scores_sql(n_buckets=4096),
    doc="fasttext-style hash-bucketed linear quality classifier "
    "(curation.classifier_scores): tokens hash into 4096 weight slots, "
    "score = sigmoid(mean slot weight). Slot weights are exact dyadic "
    "rationals (m/4096 - 1/2), so the fold is order-independent and "
    "bit-identical across engines. Map-only projection — no shuffle; "
    "swap the deterministic weight mix for a broadcast array to serve "
    "a trained model.",
)
def doc_clf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.classifier_scores(_t(spark, sf_dir, "documents"))


@query(
    "dsir_importance_weights",
    curation.dsir_weights_sql("lang = 'en'", n_buckets=1024, k=2),
    doc="DSIR importance weights (Xie et al. 2023, curation.dsir_weights): "
    "hashed-bigram bag-of-words models for the target slice (lang='en') "
    "vs the raw corpus; per-doc weight = mean log(p_target/p_raw) over "
    "its bigram slots. The n-gram explode folds straight into a "
    "1024-row slot table that broadcasts back — two bounded shuffles "
    "regardless of corpus size.",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return curation.dsir_weights(docs, F.col("lang") == "en")


@query(
    "doc_length_buckets",
    curation.length_buckets_sql(),
    doc="Padding-bucket histogram for batch shaping "
    "(curation.length_buckets): smallest power-of-two bucket >= token "
    "count, with per-bucket padding-waste accounting. Bucket assignment "
    "is exact integer arithmetic (array-min over a literal bucket "
    "list), never floating log2 — engines cannot disagree at bucket "
    "boundaries. Map-side projection + one |buckets|-row agg.",
)
def doc_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.length_buckets(_t(spark, sf_dir, "documents"))


_CAP = 10


@query(
    "source_cap_balancing",
    f"""
    WITH q AS ({{quality_oracle}}),
    j AS (
        SELECT d.source, q.doc_id, q.quality_score
        FROM q JOIN documents d USING (doc_id)
    ),
    r AS (
        SELECT source, doc_id, quality_score,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY quality_score DESC, doc_id ASC
               ) AS rn
        FROM j
    )
    SELECT source,
           count(*)::BIGINT AS n_total,
           sum((rn <= {_CAP})::INT)::BIGINT AS n_kept,
           sum((rn > {_CAP})::INT)::BIGINT AS n_dropped,
           min(CASE WHEN rn <= {_CAP} THEN quality_score END)
               AS admit_threshold
    FROM r GROUP BY source
    """,
    doc="Per-source corpus caps (curation.source_caps): keep each "
    "source's top-10 documents by quality_score (deterministic doc_id "
    "tie-break) and account kept/dropped plus the admission threshold "
    "actually applied — the standard balancing defense against crawl-"
    "domain domination. Oracle composes the registered "
    "doc_quality_scores SQL as a CTE so the scoring formula is "
    "single-sourced.",
)
def source_cap_balancing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feat = text_ops.quality_features(docs)
    return curation.source_caps(feat, cap=_CAP)


_SS_PERM = 16


def _source_similarity_sql(k: int = 3, n_perm: int = _SS_PERM, seed: int = 7) -> str:
    shingles = word_shingles_sql("t", k)
    base = f"{stable_hash64_sql('s')} % {MERSENNE_31}"
    mins = ", ".join(
        f"min(({a} * hm + {b}) % {MERSENNE_31}) AS m{j}"
        for j, (a, b) in enumerate(_affine_params(n_perm, seed))
    )
    matches = " + ".join(f"(a.m{j} = b.m{j})::INT" for j in range(n_perm))
    return f"""
    WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
    sh AS (SELECT source, unnest({shingles}) AS s FROM toks),
    hs AS (SELECT source, {base} AS hm FROM sh),
    sig AS (SELECT source, {mins} FROM hs GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           ({matches})::BIGINT AS n_matches,
           round(({matches}) / {float(n_perm)}, 6) AS est_jaccard
    FROM sig a JOIN sig b ON a.source < b.source
    """


@query(
    "source_similarity_minhash",
    _source_similarity_sql(),
    doc="Corpus-level source-vocabulary similarity via union-MinHash "
    "(curation.source_similarity): min-of-mins per permutation gives "
    "each source the exact MinHash signature of its combined shingle "
    "set, so signature agreement estimates vocabulary Jaccard between "
    "sources. Every source reduces to one fixed-width row before the "
    "pairwise stage — a broadcast nested-loop over kilobytes at any "
    "corpus size. Signatures are md5-affine, bit-identical to the "
    "DuckDB replay.",
)
def source_similarity_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return curation.source_similarity(docs, n_perm=_SS_PERM)


@query(
    "perplexity_bands",
    """
    WITH p AS ({ppl_oracle}),
    b AS (
        SELECT doc_id, n_tok, ppl,
               ntile(3) OVER (ORDER BY ppl ASC, doc_id ASC) AS t3
        FROM p
    )
    SELECT CASE t3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
               AS band,
           count(*)::BIGINT AS n_docs,
           round(min(ppl), 4) AS min_ppl,
           round(max(ppl), 4) AS max_ppl,
           round(avg(n_tok), 4) AS avg_n_tok
    FROM b GROUP BY band
    """,
    doc="CCNet-style perplexity banding: split the corpus into "
    "head/middle/tail terciles of unigram-LM perplexity (ties broken "
    "by doc_id) and profile each band — the standard staging signal "
    "for perplexity-filtered pretraining mixes. Oracle composes the "
    "registered doc_lm_perplexity SQL as a CTE. The global ntile is a "
    "single-partition sort over per-doc scores — fine for bounded "
    "outputs; at 100 TB band against quantile cutpoints instead "
    "(scalable_twin: perplexity_bands_scalable).",
)
def perplexity_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    ppl = text_ops.unigram_lm_scores(_t(spark, sf_dir, "documents"), "text")
    w = Window.orderBy(F.col("ppl").asc(), F.col("doc_id").asc())
    banded = ppl.select(
        "doc_id", "n_tok", "ppl", F.ntile(3).over(w).alias("t3")
    )
    band = (
        F.when(F.col("t3") == 1, "head")
        .when(F.col("t3") == 2, "middle")
        .otherwise("tail")
    )
    return banded.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.min("ppl"), 4).alias("min_ppl"),
        F.round(F.max("ppl"), 4).alias("max_ppl"),
        F.round(F.avg("n_tok"), 4).alias("avg_n_tok"),
    )


_SEL_CAP = 8
_SEL_THRESHOLD = 0.5


@query(
    "selection_pipeline",
    f"""
    WITH c AS ({{clf_oracle}}),
    j AS (
        SELECT d.source, c.doc_id, c.n_tokens, c.clf_score
        FROM c JOIN documents d USING (doc_id)
        WHERE c.clf_score >= {_SEL_THRESHOLD}
    ),
    r AS (
        SELECT source, doc_id, n_tokens, clf_score,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY clf_score DESC, doc_id ASC
               ) AS rn
        FROM j
    )
    SELECT source,
           count(*)::BIGINT AS n_pass,
           sum((rn <= {_SEL_CAP})::INT)::BIGINT AS n_kept,
           sum(CASE WHEN rn <= {_SEL_CAP} THEN n_tokens ELSE 0 END)::BIGINT
               AS kept_tokens,
           min(CASE WHEN rn <= {_SEL_CAP} THEN clf_score END)
               AS admit_score
    FROM r GROUP BY source
    """,
    doc="Composed selection pipeline — the end-to-end shape of the "
    "model-based selection stage: classifier scoring (map-only fold) → "
    "threshold filter → per-source cap ranked on classifier score → "
    "per-source yield and token-budget accounting. One plan: Catalyst "
    "fuses scoring into the scan, the filter prunes before the window "
    "shuffle, and the only exchange keys on source. Oracle composes "
    "the registered doc_clf_quality SQL as a CTE.",
)
def selection_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    clf = curation.classifier_scores(docs)
    passing = (
        clf.join(docs.select("doc_id", "source"), "doc_id")
        .where(F.col("clf_score") >= _SEL_THRESHOLD)
    )
    w = Window.partitionBy("source").orderBy(
        F.col("clf_score").desc(), F.col("doc_id").asc()
    )
    ranked = passing.select(
        "source", "doc_id", "n_tokens", "clf_score",
        F.row_number().over(w).alias("rn"),
    )
    kept = F.col("rn") <= _SEL_CAP
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pass"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
        F.min(F.when(kept, F.col("clf_score"))).alias("admit_score"),
    )


_BIGRAMS = word_shingles_sql("toks", 2)


@query(
    "doc_bigram_surprisal",
    f"""
    WITH t AS (
        SELECT doc_id,
               list_transform({_TOKS}, x -> lower(x)) AS toks
        FROM documents
        WHERE text IS NOT NULL AND len({_TOKS}) >= 2
    ),
    g AS (SELECT doc_id, unnest({_BIGRAMS}) AS bg FROM t),
    c2 AS (SELECT bg, count(*) AS c2 FROM g GROUP BY bg),
    c1 AS (
        SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1
        FROM c2 GROUP BY w1
    ),
    p AS (
        SELECT bg, c2, c1
        FROM c2 JOIN c1 ON string_split(c2.bg, ' ')[1] = c1.w1
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           round(avg(-ln(c2 / c1)), 6) AS avg_surprisal,
           round(exp(round(avg(-ln(c2 / c1)), 6)), 4) AS ppl2
    FROM g JOIN p USING (bg)
    GROUP BY doc_id
    """,
    doc="Per-document bigram surprisal under a corpus-trained bigram LM "
    "(text_ops.bigram_lm_scores) — one conditioning order above "
    "doc_lm_perplexity: p(w2|w1) = count(w1 w2)/count(w1 as context), "
    "context counts derived from the bigram relation itself so one "
    "explode feeds both vocab aggs. Sub-2-token documents are excluded "
    "(a bigram model has nothing to say about them). Rounding contract "
    "matches the unigram twin: 6dp mean before the exp.",
)
def doc_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.bigram_lm_scores(_t(spark, sf_dir, "documents"), "text")


_ALPHA = 0.3
_TEMP_BUDGET = 500_000


@query(
    "temperature_mixture_plan",
    f"""
    WITH avail AS (
        SELECT lang, sum(len({_TOKS}))::BIGINT AS avail_tokens
        FROM documents WHERE text IS NOT NULL GROUP BY lang
    ),
    tot AS (
        SELECT sum(avail_tokens)::DOUBLE AS n,
               sum(pow(avail_tokens, {_ALPHA})) AS z
        FROM avail
    )
    SELECT lang, avail_tokens,
           round(avail_tokens / tot.n, 6) AS p_raw,
           round(pow(avail_tokens, {_ALPHA}) / tot.z, 6) AS p_alpha,
           round((pow(avail_tokens, {_ALPHA}) / tot.z)
                 / (avail_tokens / tot.n), 4) AS boost,
           round({_TEMP_BUDGET} * round(pow(avail_tokens, {_ALPHA}) / tot.z, 6))
               ::BIGINT AS target_tokens
    FROM avail CROSS JOIN tot
    """,
    doc="Temperature-based mixture plan (mBERT/XLM-R alpha-sampling, "
    "alpha=0.3): sampling probabilities proportional to "
    "available_tokens^alpha flatten the language distribution — "
    "low-resource languages get boost > 1, high-resource < 1 — the "
    "standard alternative to corpus_mixture_plan's FIXED target "
    "weights. One hash agg to per-language counts, a 1-row broadcast "
    "of the normalizers; cost independent of corpus size past the "
    "first pass. target_tokens derives from the 6dp-ROUNDED p_alpha "
    "so both engines compute the identical integer.",
)
def temperature_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    avail = (
        docs.where(F.col("text").isNotNull())
        .groupBy("lang")
        .agg(
            F.sum(text_ops.token_count_ws("text"))
            .cast("bigint")
            .alias("avail_tokens")
        )
    )
    tot = avail.agg(
        F.sum("avail_tokens").cast("double").alias("n"),
        F.sum(F.pow("avail_tokens", F.lit(_ALPHA))).alias("z"),
    )
    p_alpha = F.round(F.pow("avail_tokens", F.lit(_ALPHA)) / F.col("z"), 6)
    p_raw = F.round(F.col("avail_tokens") / F.col("n"), 6)
    return avail.join(F.broadcast(tot)).select(
        "lang",
        "avail_tokens",
        p_raw.alias("p_raw"),
        p_alpha.alias("p_alpha"),
        F.round(
            (F.pow("avail_tokens", F.lit(_ALPHA)) / F.col("z"))
            / (F.col("avail_tokens") / F.col("n")),
            4,
        ).alias("boost"),
        F.round(F.lit(_TEMP_BUDGET) * p_alpha).cast("bigint").alias("target_tokens"),
    )


_BAND_P1 = "0.3333333333333333"
_BAND_P2 = "0.6666666666666666"


@query(
    "perplexity_bands_scalable",
    f"""
    WITH p AS ({{ppl_oracle}}),
    cuts AS (
        SELECT round(quantile_cont(ppl, {_BAND_P1}), 4) AS c1,
               round(quantile_cont(ppl, {_BAND_P2}), 4) AS c2
        FROM p
    ),
    b AS (
        SELECT CASE WHEN ppl <= c1 THEN 'head'
                    WHEN ppl <= c2 THEN 'middle'
                    ELSE 'tail' END AS band,
               n_tok, ppl
        FROM p CROSS JOIN cuts
    )
    SELECT band,
           count(*)::BIGINT AS n_docs,
           round(min(ppl), 4) AS min_ppl,
           round(max(ppl), 4) AS max_ppl,
           round(avg(n_tok), 4) AS avg_n_tok
    FROM b GROUP BY band
    """,
    doc="The 100 TB-shaped twin of perplexity_bands: instead of a "
    "global ntile sort, compute the two tercile CUTPOINTS (exact "
    "interpolated percentile — Spark percentile() and DuckDB "
    "quantile_cont share the (n-1)*p definition, rounded 4dp), "
    "broadcast them as a 1-row bound, and band by comparison — the "
    "same two-pass replace-the-global-sort pattern as "
    "iqr_outliers_price. Band populations may differ from ntile's "
    "row-balanced thirds when duplicate ppl values straddle a cut; "
    "that is the documented, deterministic semantics of value-based "
    "banding.",
)
def perplexity_bands_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    ppl = text_ops.unigram_lm_scores(_t(spark, sf_dir, "documents"), "text")
    cuts = ppl.agg(
        F.round(F.expr(f"percentile(ppl, {_BAND_P1})"), 4).alias("c1"),
        F.round(F.expr(f"percentile(ppl, {_BAND_P2})"), 4).alias("c2"),
    )
    band = (
        F.when(F.col("ppl") <= F.col("c1"), "head")
        .when(F.col("ppl") <= F.col("c2"), "middle")
        .otherwise("tail")
    )
    return (
        ppl.join(F.broadcast(cuts))
        .groupBy(band.alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.round(F.min("ppl"), 4).alias("min_ppl"),
            F.round(F.max("ppl"), 4).alias("max_ppl"),
            F.round(F.avg("n_tok"), 4).alias("avg_n_tok"),
        )
    )


_SPAN_W = 8
_SPAN_POS_BITS = 1 << 20


@query(
    "repeated_span_boilerplate",
    f"""
    WITH t AS (
        SELECT doc_id, list_transform({_TOKS}, x -> lower(x)) AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    g AS (
        SELECT doc_id, pos,
               {stable_hash64_sql(f"array_to_string(toks[pos:pos+{_SPAN_W - 1}], ' ')")} AS sh
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks) - {_SPAN_W - 1})) AS pos
              FROM t WHERE len(toks) >= {_SPAN_W})
    ),
    agg AS (
        SELECT sh,
               count(DISTINCT doc_id)::BIGINT AS n_docs,
               count(*)::BIGINT AS n_occ,
               min(doc_id * {_SPAN_POS_BITS} + pos) AS fk
        FROM g GROUP BY sh
        HAVING count(DISTINCT doc_id) >= 2
    ),
    top AS (SELECT * FROM agg ORDER BY n_occ DESC, sh ASC LIMIT 100)
    SELECT array_to_string(
               t.toks[(fk % {_SPAN_POS_BITS})::BIGINT
                      :(fk % {_SPAN_POS_BITS})::BIGINT + {_SPAN_W - 1}],
               ' ') AS span,
           n_docs, n_occ,
           (fk // {_SPAN_POS_BITS})::BIGINT AS first_doc,
           (fk % {_SPAN_POS_BITS})::BIGINT AS first_pos
    FROM top JOIN t ON t.doc_id = fk // {_SPAN_POS_BITS}
    ORDER BY n_occ DESC, first_doc, first_pos
    """,
    doc="Substring-level dedup (dedup.repeated_spans): top-100 8-token "
    "windows recurring across >= 2 documents — the Lee et al. 2022 "
    "exact-substring family, catching boilerplate that document-level "
    "dedup can't. Hash-only wide shuffle (span text recovered from the "
    "top-k exemplars via broadcast re-slice), packed-BIGINT argmin "
    "exemplar so both engines take an exact integer min.",
)
def repeated_span_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.repeated_spans(
        _t(spark, sf_dir, "documents"), w=_SPAN_W, min_docs=2, top_k=100
    )


@query(
    "embedding_pca_projection",
    similarity.pca_oracle_sql(dim=64, iters=12),
    doc="Per-vector projection onto the corpus top principal component "
    "(similarity.pca_top_component) — the whitening/drift-monitoring "
    "primitive. One Arrow-batched fact pass accumulates per-partition "
    "raw moments (count, sums, d*d Gram); the driver reduces bounded "
    "partials and power-iterates the 64x64 covariance (12 steps); the "
    "component broadcasts back as a literal fold. Determinism: 6dp "
    "covariance, 9dp iterates, 4dp projections — the kmeans_lloyd "
    "contract; oracle unrolls the identical arithmetic in SQL.",
)
def embedding_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.pca_top_component(
        _t(spark, sf_dir, "embeddings"), iters=12
    )


_HN_MOD = 100
_HN_K = 5
# Anchor sets are training BATCHES — bounded by construction. The id
# ceiling makes that contract explicit in the query: anchors stay <=100
# at ANY corpus size (the 30x probe showed the unbounded modulo set
# growing with the corpus, paying quadratic pair work).
_HN_MAX_ID = 10_000


@query(
    "hard_negative_mining",
    f"""
    WITH a AS (
        SELECT vec_id AS anchor_id, embedding AS qv, label AS alabel
        FROM embeddings WHERE vec_id % {_HN_MOD} = 0 AND vec_id < {_HN_MAX_ID}
    ),
    scored AS (
        SELECT a.anchor_id, e.vec_id AS neg_id, e.label AS neg_label,
               round(list_dot_product(e.embedding::DOUBLE[], a.qv::DOUBLE[]) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(a.qv::DOUBLE[], a.qv::DOUBLE[]))), 6) AS cos_sim
        FROM embeddings e JOIN a ON e.label <> a.alabel
    )
    SELECT anchor_id, rank, neg_id, neg_label, cos_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY anchor_id
                                     ORDER BY cos_sim DESC, neg_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {_HN_K}
    """,
    doc="Contrastive training-pair construction "
    "(similarity.hard_negatives): per-anchor top-5 nearest vectors with "
    "a DIFFERENT label — boundary-hugging negatives for dense-retriever "
    "fine-tuning. Anchors (id % 100 = 0, id < 10000 -- a bounded batch at any corpus size) broadcast through a "
    "BroadcastNestedLoopJoin with the label-mismatch predicate applied "
    "pre-shuffle; one anchor-keyed exchange ranks top-k. 6dp cosine + "
    "id tie-break (the knn determinism contract).",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.where(
        (F.col("vec_id") % _HN_MOD == 0) & (F.col("vec_id") < _HN_MAX_ID)
    )
    return similarity.hard_negatives(emb, anchors, k=_HN_K)


# (appId, sf_dir) → learned merge rows. The merge table is an OFFLINE
# artifact (train once, encode many) — the pq_codebook pattern: the
# build query retrains every call (honest build-cost accounting under
# bench's BUILDS section) while consumers encode with the cached table.
_BPE_MERGE_CACHE: dict[tuple[str, str], list[tuple]] = {}
_BPE_N_MERGES = 6


def _bpe_merges(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> list[tuple]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if rebuild or key not in _BPE_MERGE_CACHE:
        _BPE_MERGE_CACHE[key] = [
            (r.rank, r.lhs, r.rhs, r.merged, r.n)
            for r in text_ops.bpe_train_merges(
                _t(spark, sf_dir, "documents"), n_merges=_BPE_N_MERGES
            ).collect()
        ]
    return _BPE_MERGE_CACHE[key]


@query(
    "bpe_train_merge_table",
    text_ops.bpe_train_merges_oracle_sql(n_merges=6),
    doc="Full iterative BPE tokenizer training "
    "(text_ops.bpe_train_merges, Sennrich et al. 2016): 6 rounds of "
    "count-pairs -> argmax -> merge-everywhere, completing the story "
    "bpe_merge_candidates (one round's candidates) starts. The corpus "
    "folds ONCE into the Zipf-bounded distinct-word relation; every "
    "round then runs at vocab scale with a 1-row argmax to the driver "
    "(kmeans-centroid bound). Sentinel-framed segmentations make the "
    "merge a literal left-to-right replace with identical semantics in "
    "both engines; oracle unrolls all 6 rounds.",
)
def bpe_train_merge_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = _bpe_merges(spark, sf_dir, rebuild=True)
    return spark.createDataFrame(
        rows, "rank int, lhs string, rhs string, merged string, n bigint"
    )


@query(
    "tokenizer_fertility",
    text_ops.bpe_fertility_oracle_sql(n_merges=6),
    doc="Tokenizer APPLICATION at corpus scale "
    "(text_ops.bpe_segmentation_stats): encode every document with the "
    "learned merge table (cached offline artifact, the pq_codebook "
    "pattern) and fold per-language fertility (tokens/word) and "
    "chars/token — the standard multilingual tokenizer-budget metric. "
    "Encoding is chained literal replaces over sentinel-framed words "
    "(merges never cross the 0x1e word boundary); token counts fall "
    "out of sentinel arithmetic without re-splitting. Map-only until "
    "the per-language fold. Oracle replays train-then-apply unrolled.",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_merges(spark, sf_dir)
    stats = text_ops.bpe_segmentation_stats(
        _t(spark, sf_dir, "documents").where(F.col("text").isNotNull()),
        merges,
    )
    return stats.groupBy("lang").agg(
        F.sum("seg_words").cast("bigint").alias("n_words"),
        F.sum("seg_tokens").cast("bigint").alias("n_tokens"),
        F.round(
            F.sum("seg_tokens").cast("double") / F.sum("seg_words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("seg_chars").cast("double") / F.sum("seg_tokens"), 6
        ).alias("chars_per_token"),
    )


@query(
    "mixture_sample_manifest",
    f"""
    WITH plan AS ({{tmix_oracle}}),
    d AS (
        SELECT lang, doc_id, len({_TOKS})::BIGINT AS n_tok,
               {stable_hash64_sql("doc_id::VARCHAR")} AS h
        FROM documents WHERE text IS NOT NULL
    ),
    r AS (
        SELECT lang, doc_id, n_tok,
               sum(n_tok) OVER (PARTITION BY lang ORDER BY h, doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM d
    ),
    sel AS (
        SELECT r.lang, n_tok, plan.target_tokens
        FROM r JOIN plan ON r.lang = plan.lang
        WHERE cum - n_tok < plan.target_tokens
    )
    SELECT lang, count(*)::BIGINT AS n_docs,
           sum(n_tok)::BIGINT AS sampled_tokens,
           min(target_tokens) AS target_tokens,
           round(sum(n_tok)::DOUBLE / min(target_tokens), 6) AS fill_ratio
    FROM sel GROUP BY lang
    """,
    doc="Plan -> manifest: materialize the alpha-sampling targets "
    "(temperature_mixture_plan, whose oracle SQL composes in as a CTE) "
    "into an actual deterministic document selection — per language, "
    "docs are ordered by a portable content-independent hash (md5 of "
    "the id: a reshuffleable, seedable permutation) and admitted while "
    "the token budget is unexhausted; the last admitted doc may "
    "straddle the budget (greedy fill, identical in both engines). "
    "One lang-keyed window + a 5-row broadcast of targets. At 100 TB "
    "the per-language cumulative window becomes per-(lang, hash-range) "
    "buckets with sub-budgets — the seq_packing sharding note applies.",
)
def mixture_sample_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    plan = temperature_mixture_plan(spark, sf_dir).select(
        "lang", "target_tokens"
    )
    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    d = docs.select(
        "lang",
        "doc_id",
        text_ops.token_count_ws("text").cast("bigint").alias("n_tok"),
        stable_hash64(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = d.select("lang", "n_tok", F.sum("n_tok").over(w).alias("cum"))
    sel = r.join(F.broadcast(plan), "lang").where(
        F.col("cum") - F.col("n_tok") < F.col("target_tokens")
    )
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("sampled_tokens"),
        F.min("target_tokens").alias("target_tokens"),
        F.round(
            F.sum("n_tok").cast("double") / F.min("target_tokens"), 6
        ).alias("fill_ratio"),
    )


@query(
    "embedding_split_drift",
    f"""
    WITH s AS (
        SELECT CASE WHEN ({stable_hash64_sql("'split:' || vec_id::VARCHAR")}
                          % 10000) < 5000
                    THEN 'a' ELSE 'b' END AS split,
               embedding
        FROM embeddings
    ),
    x AS (
        SELECT split, i, embedding[i]::DOUBLE AS v
        FROM s CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i)
    ),
    m AS (SELECT split, i, round(avg(v), 6) AS m FROM x GROUP BY 1, 2),
    d AS (
        SELECT a.i, a.m - b.m AS dr
        FROM m a JOIN m b ON a.i = b.i AND a.split = 'a' AND b.split = 'b'
    ),
    c AS (
        SELECT sum((split = 'a')::INT)::BIGINT AS n_a,
               sum((split = 'b')::INT)::BIGINT AS n_b
        FROM s
    )
    SELECT c.n_a, c.n_b,
           round(sqrt(sum(dr * dr)), 6) AS l2_drift,
           round(max(abs(dr)), 6) AS max_abs_drift
    FROM d CROSS JOIN c
    GROUP BY c.n_a, c.n_b
    """,
    doc="Distribution-drift monitor between content-deterministic "
    "corpus halves (the hash_split convention): per-dimension mean "
    "deltas fold to an L2 drift norm and a max-|dim| drift — the "
    "standard train/val embedding-distribution check before a "
    "contrastive run, and a canary for ingestion skew. Per-dim means "
    "round 6dp before differencing (the kmeans determinism contract); "
    "one (split, dim)-keyed agg, everything after is 128 rows.",
)
def embedding_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    split = F.when(
        F.pmod(
            stable_hash64(
                F.concat(F.lit("split:"), F.col("vec_id").cast("string"))
            ),
            F.lit(10_000),
        )
        < 5_000,
        "a",
    ).otherwise("b")
    s = emb.select(split.alias("split"), "embedding")
    x = s.select(
        "split",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "v"),
    ).select("split", (F.col("i0") + 1).alias("i"), "v")
    m = x.groupBy("split", "i").agg(F.round(F.avg("v"), 6).alias("m"))
    d = (
        m.where(F.col("split") == "a")
        .select("i", F.col("m").alias("ma"))
        .join(
            m.where(F.col("split") == "b").select("i", F.col("m").alias("mb")),
            "i",
        )
        .select((F.col("ma") - F.col("mb")).alias("dr"))
    )
    c = s.groupBy().agg(
        F.sum((F.col("split") == "a").cast("int")).cast("bigint").alias("n_a"),
        F.sum((F.col("split") == "b").cast("int")).cast("bigint").alias("n_b"),
    )
    return (
        d.crossJoin(F.broadcast(c))
        .groupBy("n_a", "n_b")
        .agg(
            F.round(F.sqrt(F.sum(F.col("dr") * F.col("dr"))), 6).alias(
                "l2_drift"
            ),
            F.round(F.max(F.abs("dr")), 6).alias("max_abs_drift"),
        )
    )


_BOOT_B = 200
#: integer 1e4-scaled CDF of Poisson(1): P(0)=.3679, P(<=1)=.7358,
#: P(<=2)=.9197, P(<=3)=.9810, P(<=4)=.9963, else 5. Integer thresholds
#: on the portable hash make the weight a pure cross-engine function.
_POISSON_CUTS = (3679, 7358, 9197, 9810, 9963)


@query(
    "quality_bootstrap_ci",
    f"""
    WITH q AS ({{quality_oracle}}),
    rep AS (
        SELECT doc_id, quality_score, unnest(generate_series(1, {_BOOT_B})) AS b
        FROM q
    ),
    w AS (
        SELECT b, quality_score,
               CASE WHEN h < {_POISSON_CUTS[0]} THEN 0
                    WHEN h < {_POISSON_CUTS[1]} THEN 1
                    WHEN h < {_POISSON_CUTS[2]} THEN 2
                    WHEN h < {_POISSON_CUTS[3]} THEN 3
                    WHEN h < {_POISSON_CUTS[4]} THEN 4
                    ELSE 5 END AS w
        FROM (SELECT b, quality_score,
                     ({stable_hash64_sql("'boot:' || b::VARCHAR || ':' || doc_id::VARCHAR")}
                      % 10000) AS h
              FROM rep)
    ),
    mb AS (
        SELECT b, round(sum(w * quality_score) / nullif(sum(w), 0), 6) AS mb
        FROM w GROUP BY b
    ),
    mbs AS (
        SELECT list_sort(list(mb) FILTER (WHERE mb IS NOT NULL)) AS a,
               count(mb) AS n
        FROM mb
    )
    SELECT (SELECT count(*) FROM q)::BIGINT AS n_docs,
           (SELECT round(avg(quality_score), 6) FROM q) AS mean_score,
           round({spark_percentile_sql("a", "n", "0.025")}, 6) AS ci_lo,
           round({spark_percentile_sql("a", "n", "0.975")}, 6) AS ci_hi
    FROM mbs
    """,
    doc="Poisson bootstrap over the corpus quality score: per replicate "
    "b, every document draws a deterministic pseudo-Poisson(1) weight "
    "(integer CDF thresholds on the portable hash of (b, doc_id)), "
    "replicate means fold per b, and the 2.5/97.5 percentiles give the "
    "CI — the bootstrap that works at 100 TB because no resample is "
    "ever materialized per-row beyond a B-way explode with map-side "
    "partial aggregation (the Poisson approximation to multinomial "
    "resampling is the published at-scale substitute). Replicate means "
    "round 6dp before the percentile so both engines rank identical "
    "operands; the oracle composes the registered quality SQL and reads "
    "the CI bounds with functions.quantiles.spark_percentile_sql — "
    "Spark percentile()'s exact branch structure, not quantile_cont, "
    "whose one-sided interpolation drifts an ulp at rounding "
    "half-boundaries.",
)
def quality_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feat = text_ops.quality_features(docs).select("doc_id", "quality_score")
    rep = feat.select(
        "doc_id",
        "quality_score",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
    )
    h = F.pmod(
        stable_hash64(
            F.concat(
                F.lit("boot:"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
        F.lit(10_000),
    )
    w = (
        F.when(h < _POISSON_CUTS[0], 0)
        .when(h < _POISSON_CUTS[1], 1)
        .when(h < _POISSON_CUTS[2], 2)
        .when(h < _POISSON_CUTS[3], 3)
        .when(h < _POISSON_CUTS[4], 4)
        .otherwise(5)
    )
    mb = (
        rep.select("b", w.alias("w"), "quality_score")
        .groupBy("b")
        .agg(
            F.round(
                F.expr("sum(w * quality_score) / nullif(sum(w), 0)"), 6
            ).alias("mb")
        )
    )
    stats = mb.agg(
        F.round(F.expr("percentile(mb, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(mb, 0.975)"), 6).alias("ci_hi"),
    )
    overall = feat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("quality_score"), 6).alias("mean_score"),
    )
    return overall.join(F.broadcast(stats)).select(
        "n_docs", "mean_score", "ci_lo", "ci_hi"
    )


@query(
    "fk_integrity_audit",
    """
    SELECT 'lineitem->orders' AS relationship,
           (SELECT count(*) FROM lineitem)::BIGINT AS n_child,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))::BIGINT
               AS n_orphans,
           (SELECT count(DISTINCT o_orderkey) FROM orders)::BIGINT
               AS n_parents,
           (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders) p
            WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                              WHERE l.l_orderkey = p.o_orderkey))::BIGINT
               AS n_childless
    UNION ALL
    SELECT 'orders->customer',
           (SELECT count(*) FROM orders)::BIGINT,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::BIGINT,
           (SELECT count(DISTINCT c_custkey) FROM customer)::BIGINT,
           (SELECT count(*) FROM (SELECT DISTINCT c_custkey FROM customer) p
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = p.c_custkey))::BIGINT
    """,
    doc="Referential-integrity audit (quality.fk_integrity) over the "
    "schema's two FK chains: orphaned child rows (child key missing "
    "from the parent) and childless parent keys, per relationship. "
    "Anti-joins compare key SETS — the childless side aggregates the "
    "fact to distinct keys first, and catalog-sized parent key sets "
    "broadcast. The V-tier check the reference's notebook asserts "
    "implicitly by joining and counting nulls.",
)
def fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import fk_integrity

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    a = fk_integrity(li, orders, "l_orderkey", "o_orderkey", "lineitem->orders")
    b = fk_integrity(orders, cust, "o_custkey", "c_custkey", "orders->customer")
    return a.unionByName(b)


@query(
    "snapshot_table_diff",
    """
    WITH base AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus AS status
        FROM orders
    ),
    old AS (SELECT * FROM base WHERE k % 997 <> 0),
    new AS (
        SELECT k,
               CASE WHEN k % 13 = 0 THEN cents * 2 ELSE cents END AS cents,
               status
        FROM base WHERE k % 991 <> 0
    ),
    od AS (SELECT k, md5(concat_ws(chr(31), cents::VARCHAR, status)) AS d FROM old),
    nd AS (SELECT k, md5(concat_ws(chr(31), cents::VARCHAR, status)) AS d FROM new),
    j AS (
        SELECT od.k AS ok, nd.k AS nk, od.d AS odig, nd.d AS ndig
        FROM od FULL OUTER JOIN nd ON od.k = nd.k
    )
    SELECT CASE WHEN ok IS NULL THEN 'added'
                WHEN nk IS NULL THEN 'removed'
                WHEN odig <> ndig THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           count(*)::BIGINT AS n_rows
    FROM j GROUP BY 1
    """,
    doc="Snapshot reconciliation (quality.snapshot_diff): classify "
    "every key as added/removed/changed/unchanged between two table "
    "versions (derived here as deterministic modulo variants of "
    "orders, with prices integer-cent-encoded so the row digest is "
    "float-format-independent across engines). The full-outer join "
    "carries (key, 32-byte md5 digest) regardless of row width — the "
    "exact-dedup payload discipline applied to CDC validation.",
)
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.quality import snapshot_diff

    base = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        F.col("o_orderstatus").alias("status"),
    )
    old = base.where(F.col("o_orderkey") % 997 != 0)
    new = base.where(F.col("o_orderkey") % 991 != 0).withColumn(
        "cents",
        F.when(
            F.col("o_orderkey") % 13 == 0, F.col("cents") * 2
        ).otherwise(F.col("cents")),
    )
    return snapshot_diff(old, new, "o_orderkey", ["cents", "status"])


_NOV_SHINGLES = word_shingles_sql("t", 3)


@query(
    "doc_novelty_scores",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents
               WHERE text IS NOT NULL),
    sh AS (SELECT DISTINCT doc_id,
                  {stable_hash64_sql(f"unnest({_NOV_SHINGLES})")} AS h
           FROM t),
    df AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
    j AS (SELECT sh.doc_id, (df.df = 1)::INT AS uniq FROM sh JOIN df USING (h))
    SELECT doc_id,
           count(*)::BIGINT AS n_shingles,
           sum(uniq)::BIGINT AS n_unique,
           round(sum(uniq) / count(*)::DOUBLE, 6) AS novelty_ratio
    FROM j GROUP BY doc_id
    """,
    doc="Document novelty against the corpus: the fraction of a doc's "
    "distinct 3-shingles appearing in NO other document — high ratio = "
    "genuinely novel text, low = syndicated/boilerplate-dominated (the "
    "inverse signal of repeated_span_boilerplate, at doc granularity). "
    "Rides the inverted-index shape of the dedup tier: distinct "
    "(doc, shingle-hash) posting list, document frequencies, one "
    "hash-keyed join back — raw shingle text never shuffles twice.",
)
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import _shingle_posting

    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    posting = _shingle_posting(docs, "text", "doc_id", 3, None)
    # document frequency as a count window over the posting partitioned
    # by shingle hash — same number as the groupBy(sh) aggregate, but
    # ONE pass over the posting instead of two full
    # tokenize+shingle+distinct lineages feeding a hash-keyed join
    # (optimization r12, guide §2.4)
    j = posting.select(
        "doc_id",
        (F.count(F.lit(1)).over(Window.partitionBy("sh")) == 1)
        .cast("int")
        .alias("uniq"),
    )
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum("uniq").cast("bigint").alias("n_unique"),
        F.round(
            F.sum("uniq") / F.count(F.lit(1)).cast("double"), 6
        ).alias("novelty_ratio"),
    )


@query(
    "cross_source_duplication",
    """
    WITH d AS (
        SELECT DISTINCT md5(text) AS g, source
        FROM documents WHERE text IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*)::BIGINT AS n_shared_contents
    FROM d a JOIN d b ON a.g = b.g AND a.source < b.source
    GROUP BY 1, 2
    """,
    doc="Syndication overlap matrix: for every source pair, how many "
    "distinct CONTENTS (exact digests) appear in both — the signal "
    "that tells you which crawl sources republish each other, and "
    "therefore which per-source token counts double-count. Joins "
    "(digest, source) pairs deduplicated per source first, so the "
    "self-join compares content SETS — never row pairs — and output "
    "is bounded by sources² regardless of corpus size.",
)
def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        _t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(F.md5("text").alias("g"), "source")
        .distinct()
    )
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_contents"))
    )


_DECAY_HL_S = 86_400  # one-day half-life


@query(
    "events_decayed_user_value",
    f"""
    WITH m AS (SELECT max(epoch_us(ts)) AS t_ref FROM events),
    w AS (
        SELECT user_id,
               value * pow(0.5, (m.t_ref - epoch_us(ts))
                                / ({_DECAY_HL_S} * 1000000.0)) AS wv
        FROM events CROSS JOIN m
        WHERE value IS NOT NULL AND value >= 0
    )
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           round(sum(wv), 4) AS decayed_value
    FROM w GROUP BY user_id
    """,
    doc="Exponential time-decay aggregation (one-day half-life): each "
    "event contributes value * 0.5^(age/half_life) measured from the "
    "corpus max timestamp — the standard recency-weighted engagement "
    "score. Age arithmetic is exact integer microseconds (epoch_us / the NTZ-safe timestamp_diff twin) divided once; pow(0.5, x) with x from identical "
    "integers keeps engines in lockstep, and the sum rounds 4dp. One "
    "1-row broadcast (t_ref) + one user-keyed agg.",
)
def events_decayed_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.timeops import epoch_micros

    ev = _t(spark, sf_dir, "events")
    us = epoch_micros("ts")
    m = ev.agg(F.max(us).alias("t_ref"))
    wv = F.col("value") * F.pow(
        F.lit(0.5),
        (F.col("t_ref") - us) / F.lit(_DECAY_HL_S * 1_000_000.0),
    )
    return (
        ev.where(F.col("value").isNotNull() & (F.col("value") >= 0))
        .join(F.broadcast(m))
        .select("user_id", wv.alias("wv"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("wv"), 4).alias("decayed_value"),
        )
    )




@query(
    "source_score_calibration",
    f"""
    WITH q0 AS ({{quality_oracle}}),
    q AS (SELECT q0.doc_id, d.source, q0.quality_score AS s
          FROM q0 JOIN documents d USING (doc_id)),
    grid0 AS (
        SELECT list_sort(list(s) FILTER (WHERE s IS NOT NULL)) AS a,
               count(s) AS n
        FROM q
    ),
    grid AS (
        SELECT i,
               round({spark_percentile_sql("a", "n", "i::DOUBLE / 100.0")},
                     6) AS g
        FROM grid0 CROSS JOIN (SELECT unnest(generate_series(0, 100)) AS i)
    ),
    r AS (
        SELECT source, doc_id, s,
               round(percent_rank() OVER (PARTITION BY source
                                          ORDER BY s ASC, doc_id ASC), 6) AS p
        FROM q
    ),
    interp AS (
        SELECT r.source, r.s,
               round(lo.g + (hi.g - lo.g) * (r.p * 100.0 - floor(r.p * 100.0)),
                     6) AS cal
        FROM r
        JOIN grid lo ON lo.i = CAST(floor(r.p * 100.0) AS INT)
        JOIN grid hi ON hi.i = least(CAST(floor(r.p * 100.0) AS INT) + 1, 100)
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           round(avg(s), 6) AS avg_raw,
           round(avg(cal), 6) AS avg_calibrated,
           round(max(abs(cal - s)), 6) AS max_shift
    FROM interp GROUP BY source
    """,
    doc="Cross-source score calibration (quantile normalization): map "
    "every document's quality score to the GLOBAL score distribution's "
    "quantile at that document's within-source percent rank — the "
    "standard correction when a quality classifier is mis-scaled on "
    "some sources, so per-source thresholds select comparable mass. "
    "The global distribution compresses to a bounded 101-point exact "
    "quantile grid (broadcast), within-source ranks are one window, "
    "and calibration is linear interpolation between adjacent grid "
    "points — no global sort of the fact, no per-row percentile call. "
    "6dp rounding on ranks, grid, and outputs (kmeans contract); the "
    "oracle composes the registered quality SQL and builds the grid "
    "with functions.quantiles.spark_percentile_sql (Spark "
    "percentile()'s branch structure, not quantile_cont — the ulp "
    "divergence the exact_quantiles operators document).",
)
def source_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # cache: the quality-feature extraction (regexp-heavy) feeds BOTH
    # the percentile grid (broadcast build) and the per-source rank
    # pass — without it the text features are computed twice. The
    # cached relation is the 3-column projection, never raw text.
    q = materialize(
        text_ops.quality_features(docs).select(
            "doc_id", "source", F.col("quality_score").alias("s")
        ),
        "calibration_scores", "cache",
    )
    # ONE array-percentile aggregate (101 exact order statistics in a
    # single expression) instead of 101 separate percentile()
    # aggregates over the same rows — identical values, 100x less
    # aggregate-expression evaluation (optimization round, guide §1.2
    # step 2). posexplode yields (i, g) exactly like the old
    # struct-array explode.
    grid = q.agg(
        F.percentile(
            "s", F.array(*[F.lit(i / 100.0) for i in range(101)])
        ).alias("gs")
    ).select(F.posexplode("gs").alias("i", "g")).select(
        "i", F.round("g", 6).alias("g")
    )
    w = Window.partitionBy("source").orderBy(F.col("s").asc(), F.col("doc_id").asc())
    r = q.select(
        "source", "s", F.round(F.percent_rank().over(w), 6).alias("p")
    )
    lo_i = F.floor(F.col("p") * 100.0).cast("int")
    r2 = r.select("source", "s", "p", lo_i.alias("lo_i"))
    lo = grid.select(F.col("i").alias("lo_i"), F.col("g").alias("g_lo"))
    hi = grid.select(F.col("i").alias("hi_i"), F.col("g").alias("g_hi"))
    interp = (
        r2.join(F.broadcast(lo), "lo_i")
        .withColumn("hi_i", F.least(F.col("lo_i") + 1, F.lit(100)))
        .join(F.broadcast(hi), "hi_i")
        .select(
            "source",
            "s",
            F.round(
                F.col("g_lo")
                + (F.col("g_hi") - F.col("g_lo"))
                * (F.col("p") * 100.0 - F.floor(F.col("p") * 100.0)),
                6,
            ).alias("cal"),
        )
    )
    return interp.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("s"), 6).alias("avg_raw"),
        F.round(F.avg("cal"), 6).alias("avg_calibrated"),
        F.round(F.max(F.abs(F.col("cal") - F.col("s"))), 6).alias("max_shift"),
    )


_DEBOUNCE_S = 60


@query(
    "events_debounced_counts",
    f"""
    WITH o AS (
        SELECT user_id, event_type,
               epoch_us(ts) AS tus,
               lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts ASC, event_id ASC
               ) AS prev
        FROM events
    )
    SELECT user_id,
           count(*)::BIGINT AS n_raw,
           sum((prev IS NULL OR tus - prev > {_DEBOUNCE_S} * 1000000)::INT)
               ::BIGINT AS n_kept,
           sum((prev IS NOT NULL AND tus - prev <= {_DEBOUNCE_S} * 1000000)::INT)
               ::BIGINT AS n_bounced
    FROM o GROUP BY user_id
    """,
    doc="Event debouncing: drop repeats of the same (user, type) "
    "arriving within 60s of the PREVIOUS occurrence — the standard "
    "double-fire / retry-storm cleanup before engagement metrics. "
    "Lag-window semantics (each kept event resets nothing: the gap is "
    "measured to the immediately preceding raw event, the classic "
    "debounce rather than throttle); exact integer-microsecond gaps, "
    "event_id tie-break, one (user, type)-keyed window then a "
    "user-keyed fold.",
)
def events_debounced_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.timeops import epoch_micros

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    tus = epoch_micros("ts")
    o = ev.select(
        "user_id",
        tus.alias("tus"),
        F.lag(tus).over(w).alias("prev"),
    )
    kept = F.col("prev").isNull() | (
        F.col("tus") - F.col("prev") > _DEBOUNCE_S * 1_000_000
    )
    return o.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum((~kept).cast("int")).cast("bigint").alias("n_bounced"),
    )


@query(
    "multimodal_phash_dedup",
    """
    WITH img AS (
        SELECT doc_id AS asset_id, text FROM documents
        WHERE doc_id % 3 = 0 AND text IS NOT NULL
    ),
    grids AS (
        SELECT asset_id, sha256(text) AS h1, sha256(sha256(text)) AS h2
        FROM img
    ),
    pix AS (
        SELECT asset_id, i,
               CASE WHEN i < 32
                    THEN ('0x' || substr(h1, (i * 2 + 1)::INT, 2))::BIGINT
                    ELSE ('0x' || substr(h2, ((i - 32) * 2 + 1)::INT, 2))::BIGINT
               END AS p
        FROM grids CROSS JOIN (SELECT unnest(generate_series(0, 62)) AS i)
    ),
    ph AS (
        SELECT asset_id,
               sum(CASE WHEN p * 63 > tot THEN (1::BIGINT << i) ELSE 0 END)
                   ::BIGINT AS phash
        FROM (SELECT asset_id, i, p,
                     sum(p) OVER (PARTITION BY asset_id) AS tot
              FROM pix)
        GROUP BY asset_id
    ),
    banded AS (
        SELECT asset_id, phash, b,
               (phash >> (b * 9)) & 511 AS bv
        FROM ph CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS b)
    ),
    cand AS (
        SELECT DISTINCT a.asset_id AS id_a, b.asset_id AS id_b,
               bit_count(xor(a.phash, b.phash))::INT AS hamming
        FROM banded a JOIN banded b
          ON a.b = b.b AND a.bv = b.bv AND a.asset_id < b.asset_id
    )
    SELECT id_a, id_b, hamming FROM cand WHERE hamming <= 6
    """,
    doc="Image near-dup pairs via perceptual average-hash "
    "(multimodal.phash_near_dup_pairs): decode each image asset to a "
    "63-pseudo-pixel grid (stub codec = sha256 hex-chain, replayed "
    "byte-for-byte in SQL; production swaps a real thumbnail), "
    "threshold pixels against the grid mean with exact integer "
    "cross-multiplication, pack to a BIGINT, and pair via the SAME "
    "generic Hamming band-join as SimHash (7 nine-bit bands, "
    "pigeonhole-complete to hamming 6). The whole mapInPandas path "
    "stays value-hash oracle-gated.",
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    assets = multimodal.synthesize_assets(spark, docs)
    return multimodal.phash_near_dup_pairs(assets)


@query(
    "video_frame_overlap",
    """
    WITH vid AS (
        SELECT doc_id AS asset_id, text FROM documents
        WHERE doc_id % 3 = 2 AND text IS NOT NULL
    ),
    frames AS (
        SELECT asset_id,
               sha256(text || ':frame:' || (i * 2)::VARCHAR) AS fh
        FROM vid CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)
    )
    SELECT a.asset_id AS id_a, b.asset_id AS id_b,
           count(*)::BIGINT AS n_shared,
           round(count(*) / 4.0, 6) AS overlap_ratio
    FROM frames a JOIN frames b
      ON a.fh = b.fh AND a.asset_id < b.asset_id
    GROUP BY 1, 2
    """,
    doc="Frame-level video near-dup (multimodal.sample_frames): sample "
    "every video's frames (stub codec = deterministic sha256 of "
    "payload + ASCII frame tag, SQL-replayable), then join videos on "
    "shared frame hashes — the standard video-dedup architecture "
    "(frame fingerprints + set overlap), with the mapInPandas "
    "one-to-many expansion doing the sampling. The join carries "
    "64-char digests only; per-video frame count is fixed (4), so "
    "overlap_ratio is an exact frame-set Jaccard numerator.",
)
def video_frame_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import multimodal

    docs = _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    assets = multimodal.synthesize_assets(spark, docs)
    frames = multimodal.sample_frames(assets, every_n=2, max_frames=4)
    a = frames.select(F.col("asset_id").alias("id_a"), F.col("frame_sha256").alias("fh"))
    b = frames.select(F.col("asset_id").alias("id_b"), F.col("frame_sha256").alias("fh"))
    return (
        a.join(b, "fh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.round(F.count(F.lit(1)) / 4.0, 6).alias("overlap_ratio"),
        )
    )


@query(
    "corpus_health_dashboard",
    f"""
    WITH base AS (
        SELECT doc_id, text, lang, len({_TOKS}) AS n_tok, md5(text) AS g
        FROM documents WHERE text IS NOT NULL
    ),
    agg AS (
        SELECT count(*)::BIGINT AS n_docs,
               count(DISTINCT g)::BIGINT AS n_distinct,
               count(DISTINCT lang)::BIGINT AS n_langs,
               sum(n_tok)::BIGINT AS total_tokens,
               round(avg(n_tok), 4) AS avg_tokens,
               sum((n_tok < 8)::INT)::BIGINT AS n_short
        FROM base
    ),
    lent AS (
        SELECT round(-sum(p * ln(p)), 6) AS lang_entropy
        FROM (SELECT count(*) / sum(count(*)) OVER ()::DOUBLE AS p
              FROM base GROUP BY lang)
    ),
    nulls AS (
        SELECT count(*)::BIGINT AS n_null
        FROM documents WHERE text IS NULL
    )
    SELECT n_docs, n_distinct,
           round(1.0 - n_distinct / n_docs::DOUBLE, 6) AS dup_rate,
           n_langs, lang_entropy, total_tokens, avg_tokens,
           round(n_short / n_docs::DOUBLE, 6) AS short_doc_rate,
           n_null
    FROM agg CROSS JOIN lent CROSS JOIN nulls
    """,
    doc="One-row corpus health audit — the dashboard a training-data "
    "team checks before every run: volume (docs, tokens), exact-dup "
    "rate (distinct digests over docs), language balance (count + "
    "Shannon entropy of the language mix), degenerate-document rates "
    "(sub-8-token shorts, null texts). Two passes over documents "
    "(the multi-distinct agg and the language fold), everything else "
    "is 1-row broadcasts; every downstream stage of the curation tier "
    "keys off one of these numbers.",
)
def corpus_health_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    base = docs.where(F.col("text").isNotNull()).select(
        "lang",
        text_ops.token_count_ws("text").alias("n_tok"),
        F.md5("text").alias("g"),
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("g").cast("bigint").alias("n_distinct"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_tok"), 4).alias("avg_tokens"),
        F.sum((F.col("n_tok") < 8).cast("int")).cast("bigint").alias("n_short"),
    )
    lang_counts = base.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    tot = lang_counts.agg(F.sum("c").cast("double").alias("t"))
    p = F.col("c") / F.col("t")
    lent = (
        lang_counts.join(F.broadcast(tot))
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("lang_entropy"))
    )
    nulls = docs.where(F.col("text").isNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_null")
    )
    return (
        agg.join(F.broadcast(lent))
        .join(F.broadcast(nulls))
        .select(
            "n_docs",
            "n_distinct",
            F.round(
                1.0 - F.col("n_distinct") / F.col("n_docs").cast("double"), 6
            ).alias("dup_rate"),
            "n_langs",
            "lang_entropy",
            "total_tokens",
            "avg_tokens",
            F.round(
                F.col("n_short") / F.col("n_docs").cast("double"), 6
            ).alias("short_doc_rate"),
            "n_null",
        )
    )


_CUSUM_K = 50.0  # slack per observation
_CUSUM_H = 200.0  # detection threshold


@query(
    "events_cusum_drift",
    f"""
    WITH o AS (
        SELECT user_id, ts, event_id, value,
               sum(round(value - {_CUSUM_K}, 6)) OVER w AS p
        FROM events WHERE value IS NOT NULL AND value >= 0
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                     ROWS UNBOUNDED PRECEDING)
    ),
    s AS (
        SELECT user_id, ts, event_id,
               round(p - least(min(p) OVER (PARTITION BY user_id
                                            ORDER BY ts ASC, event_id ASC
                                            ROWS UNBOUNDED PRECEDING),
                               0), 6) AS cusum
        FROM o
    )
    SELECT user_id,
           round(max(cusum), 4) AS max_cusum,
           sum((cusum > {_CUSUM_H})::INT)::BIGINT AS n_over,
           min(CASE WHEN cusum > {_CUSUM_H}
                    THEN epoch_us(ts) END)::BIGINT AS first_drift_us
    FROM s GROUP BY user_id
    HAVING max(cusum) > {_CUSUM_H}
    """,
    doc="One-sided CUSUM drift detection per user (Page 1954): the "
    "reset-at-zero recurrence S_i = max(0, S_(i-1) + x_i - k) is NOT a "
    "plain window aggregate, but it equals P_i - min(0, running_min(P)) "
    "for P = cumsum(x - k) (the min is floored at the P_0 = 0 baseline, "
    "so a prefix sum that starts positive still counts from zero) — two "
    "stacked windows on one (user)-keyed "
    "exchange, no iteration, no UDF. Emits users whose statistic ever "
    "exceeds h, with exceedance count and first-drift time. Per-step "
    "increments round 6dp before accumulation so both engines fold "
    "identical operands (the kmeans contract applied to a recurrence).",
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.timeops import epoch_micros

    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    p = F.sum(F.round(F.col("value") - _CUSUM_K, 6)).over(w)
    o = ev.select("user_id", "ts", "event_id", p.alias("p"))
    cusum = F.round(
        F.col("p") - F.least(F.min("p").over(w), F.lit(0.0)), 6
    )
    s = o.select("user_id", "ts", cusum.alias("cusum"))
    return (
        s.groupBy("user_id")
        .agg(
            F.round(F.max("cusum"), 4).alias("max_cusum"),
            F.sum((F.col("cusum") > _CUSUM_H).cast("int"))
            .cast("bigint")
            .alias("n_over"),
            F.min(
                F.when(F.col("cusum") > _CUSUM_H, epoch_micros("ts"))
            )
            .cast("bigint")
            .alias("first_drift_us"),
        )
        .where(F.col("max_cusum") > _CUSUM_H)
    )


@query(
    "orders_benford_deviation",
    """
    WITH d AS (
        SELECT substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                           AS VARCHAR), 1, 1) AS digit
        FROM orders WHERE o_totalprice > 0
    ),
    c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit),
    t AS (SELECT sum(n)::DOUBLE AS tot FROM c)
    SELECT digit, n,
           round(n / t.tot, 6) AS p_obs,
           round(log10(1.0 + 1.0 / digit::INT), 6) AS p_benford,
           round(abs(n / t.tot - log10(1.0 + 1.0 / digit::INT)), 6)
               AS abs_dev
    FROM c CROSS JOIN t
    """,
    doc="Benford's-law first-digit audit over order totals — the "
    "classic forensic data-quality check for fabricated or truncated "
    "monetary columns. First digits come from the INTEGER-CENT string "
    "rendering (never float formatting or float log10 near power-of-10 "
    "boundaries, where engines could disagree); expected mass is "
    "log10(1 + 1/d). One digit-keyed aggregate + a 1-row total.",
)
def orders_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").where(F.col("o_totalprice") > 0)
    digit = F.substring(
        F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"), 1, 1
    )
    c = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    t = c.agg(F.sum("n").cast("double").alias("tot"))
    p_benford = F.round(
        F.log10(1.0 + 1.0 / F.col("digit").cast("int")), 6
    )
    return c.join(F.broadcast(t)).select(
        "digit",
        "n",
        F.round(F.col("n") / F.col("tot"), 6).alias("p_obs"),
        p_benford.alias("p_benford"),
        F.round(
            F.abs(
                F.col("n") / F.col("tot")
                - F.log10(1.0 + 1.0 / F.col("digit").cast("int"))
            ),
            6,
        ).alias("abs_dev"),
    )


@query(
    "ab_experiment_readout",
    f"""
    WITH assigned AS (
        SELECT CASE WHEN ({stable_hash64_sql("'exp1:' || user_id::VARCHAR")}
                          % 100) < 50 THEN 'A' ELSE 'B' END AS variant,
               value
        FROM events WHERE value IS NOT NULL AND value >= 0
    ),
    s AS (
        SELECT variant,
               count(*)::BIGINT AS n,
               avg(value) AS m,
               var_samp(value) AS v
        FROM assigned GROUP BY variant
    ),
    w AS (
        SELECT a.n AS n_a, b.n AS n_b,
               round(a.m, 6) AS mean_a, round(b.m, 6) AS mean_b,
               round(a.m - b.m, 6) AS lift,
               round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS z_score
        FROM s a, s b
        WHERE a.variant = 'A' AND b.variant = 'B'
    )
    SELECT * FROM w
    """,
    doc="A/B experiment readout with deterministic exposure: users "
    "hash-bucket into variants via the portable salted hash (the "
    "hash_split convention — stable under re-ingestion and engine "
    "changes, no assignment table to join), then one variant-keyed "
    "aggregate yields means, sample variances, lift, and the Welch "
    "z-score. Means round 6dp and z 4dp AFTER the fold (one shuffle "
    "of 2 keys; the two-row cross join is driver-trivial). The "
    "product-analytics twin of quality_bootstrap_ci's corpus CI.",
)
def ab_experiment_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & (F.col("value") >= 0)
    )
    variant = F.when(
        F.pmod(
            stable_hash64(
                F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))
            ),
            F.lit(100),
        )
        < 50,
        "A",
    ).otherwise("B")
    s = ev.select(variant.alias("variant"), "value").groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = s.where(F.col("variant") == "A").alias("a")
    b = s.where(F.col("variant") == "B").alias("b")
    return a.crossJoin(F.broadcast(b)).select(
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(F.col("a.m"), 6).alias("mean_a"),
        F.round(F.col("b.m"), 6).alias("mean_b"),
        F.round(F.col("a.m") - F.col("b.m"), 6).alias("lift"),
        F.round(
            (F.col("a.m") - F.col("b.m"))
            / F.sqrt(F.col("a.v") / F.col("a.n") + F.col("b.v") / F.col("b.n")),
            4,
        ).alias("z_score"),
    )


_CONT_SHINGLES = word_shingles_sql("t", 3)


@query(
    "dedup_ngram_containment",
    f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS t FROM documents
               WHERE text IS NOT NULL),
    s AS (SELECT doc_id, unnest({_CONT_SHINGLES}) AS sgl FROM t),
    p0 AS (SELECT DISTINCT doc_id, {stable_hash64_sql("sgl")} AS h FROM s),
    keep AS (SELECT h FROM (SELECT h, count(*) AS c FROM p0 GROUP BY h)
             WHERE c <= 64),
    p AS (SELECT p0.* FROM p0 JOIN keep USING (h)),
    sz AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
    com AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS nc
        FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    j AS (
        SELECT id_a, id_b, nc, sa.n AS na, sb.n AS nb
        FROM com JOIN sz sa ON sa.doc_id = id_a
                 JOIN sz sb ON sb.doc_id = id_b
    )
    SELECT CASE WHEN na <= nb THEN id_a ELSE id_b END AS id_inner,
           CASE WHEN na <= nb THEN id_b ELSE id_a END AS id_outer,
           round(nc / least(na, nb)::DOUBLE, 6) AS containment
    FROM j WHERE round(nc / least(na, nb)::DOUBLE, 6) >= 0.8
    """,
    doc="Asymmetric containment near-dup pairs "
    "(dedup.ngram_containment_pairs, Broder's containment): "
    "|shared shingles| / |smaller set| flags a short document wholly "
    "quoted inside a longer one at ~1.0 where symmetric Jaccard "
    "under-scores it — the excerpt-duplication signal resemblance "
    "misses. Same inverted-index + df-cap shape as the Jaccard "
    "operator; only the normalizer differs.",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_ops.ngram_containment_pairs(
        _t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    )


def _rfm_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer (recency_d, frequency, monetary) fold shared by the
    exact and scalable RFM twins: one customer-keyed exchange over
    orders, reference date = corpus max order date (broadcast 1-row)."""
    orders = _t(spark, sf_dir, "orders")
    m = orders.agg(F.max("o_orderdate").alias("ref"))
    return (
        orders.join(F.broadcast(m))
        .groupBy("o_custkey", "ref")
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .select(
            "o_custkey",
            F.datediff(F.col("ref"), F.col("last_d")).cast("bigint").alias(
                "recency_d"
            ),
            "frequency",
            "monetary",
        )
    )


@query(
    "customer_rfm_segments",
    """
    WITH m AS (SELECT max(o_orderdate) AS ref FROM orders),
    rfm AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate), m.ref)::BIGINT AS recency_d,
               count(*)::BIGINT AS frequency,
               round(sum(o_totalprice), 2) AS monetary
        FROM orders CROSS JOIN m
        GROUP BY o_custkey, m.ref
    ),
    scored AS (
        SELECT o_custkey,
               ntile(5) OVER (ORDER BY recency_d ASC, o_custkey ASC) AS r,
               ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f,
               ntile(5) OVER (ORDER BY monetary DESC, o_custkey ASC) AS mq
        FROM rfm
    )
    SELECT r, f, mq AS m,
           count(*)::BIGINT AS n_customers
    FROM scored GROUP BY r, f, mq
    """,
    doc="RFM customer segmentation: per-customer recency (days from "
    "the corpus max order date), frequency, and monetary fold, then "
    "quintile scores per dimension (ntile with customer-id tie-break "
    "— deterministic in both engines) and segment population counts. "
    "One customer-keyed aggregate; the ntiles rank the AGGREGATED "
    "per-customer rows, not the fact table (the window-over-aggregate "
    "pattern all ranking queries here use). Monetary rounds 2dp "
    "before ranking so both engines order identical operands. The "
    "three ntiles are UNPARTITIONED global sorts over the customer "
    "aggregate — exact row-balanced quintiles by construction, but a "
    "single-reducer sort x3 when the customer dimension itself is "
    "huge; customer_rfm_segments_scalable is the 100 TB twin "
    "(scalable_twin: customer_rfm_segments_scalable).",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    rfm = _rfm_aggregate(spark, sf_dir)
    scored = rfm.select(
        F.ntile(5)
        .over(Window.orderBy(F.col("recency_d").asc(), F.col("o_custkey").asc()))
        .alias("r"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").desc(), F.col("o_custkey").asc()))
        .alias("f"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary").desc(), F.col("o_custkey").asc()))
        .alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


_RFM_PROBS = (0.2, 0.4, 0.6, 0.8)


@query(
    "customer_rfm_segments_scalable",
    f"""
    WITH m AS (SELECT max(o_orderdate) AS ref FROM orders),
    rfm AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate), m.ref)::BIGINT AS recency_d,
               count(*)::BIGINT AS frequency,
               round(sum(o_totalprice), 2) AS monetary
        FROM orders CROSS JOIN m
        GROUP BY o_custkey, m.ref
    ),
    qs AS (
        SELECT
            list_sort(list(recency_d::DOUBLE)
                      FILTER (WHERE recency_d IS NOT NULL)) AS ar,
            count(recency_d) AS nr,
            list_sort(list(frequency::DOUBLE)
                      FILTER (WHERE frequency IS NOT NULL)) AS af,
            count(frequency) AS nf,
            list_sort(list(monetary)
                      FILTER (WHERE monetary IS NOT NULL)) AS am,
            count(monetary) AS nm
        FROM rfm
    ),
    cuts AS (
        SELECT
            {", ".join(
                f"round({spark_percentile_sql(arr, n, str(p))}, 4)"
                f" AS {pre}{i + 1}"
                for arr, n, pre in (
                    ("ar", "nr", "rc"), ("af", "nf", "fc"), ("am", "nm", "mc")
                )
                for i, p in enumerate(_RFM_PROBS)
            )}
        FROM qs
    ),
    scored AS (
        SELECT 1 + (recency_d > rc1)::INT + (recency_d > rc2)::INT
                 + (recency_d > rc3)::INT + (recency_d > rc4)::INT AS r,
               1 + (frequency < fc4)::INT + (frequency < fc3)::INT
                 + (frequency < fc2)::INT + (frequency < fc1)::INT AS f,
               1 + (monetary < mc4)::INT + (monetary < mc3)::INT
                 + (monetary < mc2)::INT + (monetary < mc1)::INT AS m
        FROM rfm CROSS JOIN cuts
    )
    SELECT r, f, m, count(*)::BIGINT AS n_customers
    FROM scored GROUP BY r, f, m
    """,
    doc="The 100 TB twin of customer_rfm_segments: instead of three "
    "unpartitioned ntile(5) global sorts over the per-customer "
    "aggregate (a single-reducer sort x3 when customers number in the "
    "billions), compute the four quintile CUTPOINTS per dimension with "
    "ONE grouped_exact_quantiles_scalable call over the melted "
    "(dim, value) relation (two bounded passes total for all twelve "
    "cutpoints, Spark-percentile-identical interpolation rendered in "
    "the oracle via spark_percentile_sql, 4dp-rounded), "
    "broadcast the 1-row cut table, and score by comparison: r counts "
    "cuts the recency EXCEEDS (quintile 1 = most recent), f/m count "
    "cuts the value falls BELOW (quintile 1 = top 20%%). Segment "
    "populations may differ from ntile's row-balanced fifths when "
    "duplicate values straddle a cut — the documented, deterministic "
    "semantics of value-based banding. The customer aggregate is "
    "materialized once so the quantile passes and the scoring "
    "scan all read the materialized fold instead of re-aggregating "
    "orders.",
)
def customer_rfm_segments_scalable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from .operators.quality import grouped_exact_quantiles_scalable

    rfm = materialize(
        _rfm_aggregate(spark, sf_dir), "rfm_aggregate", "reliable"
    )
    probs = list(_RFM_PROBS)
    # ONE grouped two-pass over the melted (dim, value) relation
    # computes all 12 cutpoints (was 3 separate exact_quantiles calls =
    # 6 passes; measured 3.3s -> ~1s at sf0.1). Integer dims cast to
    # double — exact below 2^53, and the oracle reads the same doubles.
    melted = rfm.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("r").alias("dim"),
                    F.col("recency_d").cast("double").alias("x"),
                ),
                F.struct(
                    F.lit("f").alias("dim"),
                    F.col("frequency").cast("double").alias("x"),
                ),
                F.struct(F.lit("m").alias("dim"), F.col("monetary").alias("x")),
            )
        ).alias("e")
    ).select("e.dim", "e.x")
    # 3 rows; the per-dim selects below must not each re-run the
    # two-pass plan
    gq = materialize(
        grouped_exact_quantiles_scalable(melted, "dim", "x", probs),
        "rfm_cuts", "local",
    )
    cuts = None
    for d, pre in (("r", "rc"), ("f", "fc"), ("m", "mc")):
        c = gq.where(F.col("dim") == d).select(
            *[
                F.round(f"q_{i}", 4).alias(f"{pre}{i + 1}")
                for i in range(len(probs))
            ]
        )
        # broadcast the 1-row side explicitly: without the hint the
        # post-checkpoint stats leave Spark planning a CartesianProduct
        cuts = c if cuts is None else cuts.join(F.broadcast(c))
    above = lambda col, pre: F.lit(1) + sum(  # noqa: E731
        (F.col(col) > F.col(f"{pre}{i + 1}")).cast("int")
        for i in range(len(probs))
    )
    below = lambda col, pre: F.lit(1) + sum(  # noqa: E731
        (F.col(col) < F.col(f"{pre}{i + 1}")).cast("int")
        for i in range(len(probs))
    )
    scored = rfm.join(F.broadcast(cuts)).select(
        above("recency_d", "rc").alias("r"),
        below("frequency", "fc").alias("f"),
        below("monetary", "mc").alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers")
    )


# Late-bind the composed oracles now that the base queries are
# guaranteed registered (this module imports after queries_llm).
def _compose_oracles() -> None:
    for name, base, key in (
        ("source_cap_balancing", "doc_quality_scores", "quality_oracle"),
        ("perplexity_bands", "doc_lm_perplexity", "ppl_oracle"),
        ("perplexity_bands_scalable", "doc_lm_perplexity", "ppl_oracle"),
        ("selection_pipeline", "doc_clf_quality", "clf_oracle"),
        ("mixture_sample_manifest", "temperature_mixture_plan", "tmix_oracle"),
        ("quality_bootstrap_ci", "doc_quality_scores", "quality_oracle"),
        ("source_score_calibration", "doc_quality_scores", "quality_oracle"),
    ):
        q = REGISTRY[name]
        REGISTRY[name] = type(q)(
            name=q.name,
            spark=q.spark,
            oracle=q.oracle.format(**{key: REGISTRY[base].oracle}),
            doc=q.doc,
        )


_compose_oracles()


# ---------------------------------------------------------------------------
# Round-5 additions: PMI collocations, leave-one-out source ablation
# ---------------------------------------------------------------------------

_PMI_MIN, _PMI_K = 5, 50


@query(
    "bigram_pmi_collocations",
    f"""
    WITH t AS (
        SELECT list_transform({_TOKS}, x -> lower(x)) AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    uni AS (
        SELECT tok, count(*)::BIGINT AS c
        FROM (SELECT unnest(toks) AS tok FROM t)
        WHERE tok <> '' GROUP BY tok
    ),
    nu AS (SELECT sum(c)::DOUBLE AS nu FROM uni),
    bi AS (
        SELECT bg, count(*)::BIGINT AS c_ab
        FROM (SELECT unnest({word_shingles_sql("toks", 2)}) AS bg
              FROM t WHERE len(toks) >= 2)
        GROUP BY bg HAVING count(*) >= {_PMI_MIN}
    ),
    nb AS (SELECT sum(c_ab)::DOUBLE AS nb FROM bi),
    j AS (
        SELECT bg, c_ab,
               ca.c AS c_a, cb.c AS c_b, nu.nu AS nu, nb.nb AS nb
        FROM bi
        JOIN uni ca ON string_split(bi.bg, ' ')[1] = ca.tok
        JOIN uni cb ON string_split(bi.bg, ' ')[2] = cb.tok
        CROSS JOIN nu CROSS JOIN nb
    )
    SELECT bg, c_ab, c_a, c_b,
           round(ln((c_ab / nb) / ((c_a / nu) * (c_b / nu))), 8) AS pmi
    FROM j
    ORDER BY pmi DESC, bg ASC
    LIMIT {_PMI_K}
    """,
    doc="Top-50 collocations by pointwise mutual information with a "
    "min-count-5 floor (text_ops.pmi_collocations, Church & Hanks "
    "1990) — the phrase extractor behind tokenizer-vocab seeding and "
    "phrase-aware shingling. One tokenize pass feeds both Zipf-bounded "
    "vocab folds; min_count prunes the bigram side BEFORE its two "
    "unigram-marginal joins; top-k is a TakeOrderedAndProject on the "
    "8dp-rounded pmi with the bigram string as tie-break.",
)
def bigram_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.pmi_collocations(
        _t(spark, sf_dir, "documents"), "text", _PMI_MIN, _PMI_K
    )


@query(
    "source_ablation_quality",
    """
    WITH per AS (
        SELECT source, count(*)::BIGINT AS n_docs,
               sum(n_chars)::BIGINT AS sum_chars
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT sum(n_docs)::BIGINT AS nn, sum(sum_chars)::BIGINT AS tt
        FROM per
    )
    SELECT source, n_docs,
           round(sum_chars::DOUBLE / n_docs::DOUBLE, 4) AS mean_chars,
           round((tt - sum_chars)::DOUBLE
                 / nullif(nn - n_docs, 0)::DOUBLE, 4) AS mean_chars_loo,
           round((tt - sum_chars)::DOUBLE / nullif(nn - n_docs, 0)::DOUBLE
                 - tt::DOUBLE / nn::DOUBLE, 4) AS loo_delta
    FROM per CROSS JOIN tot
    """,
    doc="Leave-one-out source ablation — the algebraic form of the "
    "data-attribution question 'what does dropping source S do to the "
    "corpus metric?': because the metric is a ratio of sums, every "
    "LOO readout derives from ONE grouped aggregate (mean_without_S = "
    "(T - t_S) / (N - n_S)) instead of |S| corpus re-scans — the same "
    "trick at 100 TB with millions of sources. loo_delta > 0 means "
    "removing the source RAISES mean document length. Integer sums "
    "exact, nullif guards the single-source corpus, final scalar "
    "ratios rounded 4dp.",
)
def source_ablation_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("bigint").alias("nn"),
        F.sum("sum_chars").cast("bigint").alias("tt"),
    )
    nd, sc = F.col("n_docs").cast("double"), F.col("sum_chars").cast("double")
    nn, tt = F.col("nn").cast("double"), F.col("tt").cast("double")
    loo_den = F.nullif(
        (F.col("nn") - F.col("n_docs")).cast("double"), F.lit(0.0)
    )
    loo = (tt - sc) / loo_den
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.round(sc / nd, 4).alias("mean_chars"),
        F.round(loo, 4).alias("mean_chars_loo"),
        F.round(loo - tt / nn, 4).alias("loo_delta"),
    )


@query(
    "events_cuped_lift",
    f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN ({stable_hash64_sql("'cuped:' || user_id::VARCHAR")}
                          % 100) < 50 THEN 'A' ELSE 'B' END AS variant,
               sum(CASE WHEN ts::DATE < DATE '2024-01-16'
                        THEN round(value * 100)::BIGINT ELSE 0
                   END)::BIGINT AS x,
               sum(CASE WHEN ts::DATE >= DATE '2024-01-16'
                        THEN round(value * 100)::BIGINT ELSE 0
                   END)::BIGINT AS y
        FROM events WHERE value IS NOT NULL
        GROUP BY user_id
    ),
    g AS (
        SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
               sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
               sum(x * x)::BIGINT AS sxx
        FROM u
    ),
    p AS (
        SELECT variant, count(*)::BIGINT AS ng, sum(x)::BIGINT AS sxg,
               sum(y)::BIGINT AS syg
        FROM u GROUP BY variant
    ),
    th AS (
        SELECT n, sx,
               (n * sxy - sx * sy)::DOUBLE
                   / nullif(n * sxx - sx * sx, 0)::DOUBLE AS theta
        FROM g
    )
    SELECT a.ng AS n_a, b.ng AS n_b,
           round(th.theta, 8) AS theta,
           round((b.syg::DOUBLE / b.ng - a.syg::DOUBLE / a.ng) / 100.0,
                 6) AS lift_raw,
           round(((b.syg::DOUBLE / b.ng
                   - th.theta * (b.sxg::DOUBLE / b.ng
                                 - th.sx::DOUBLE / th.n))
                  - (a.syg::DOUBLE / a.ng
                     - th.theta * (a.sxg::DOUBLE / a.ng
                                   - th.sx::DOUBLE / th.n))) / 100.0,
                 6) AS lift_cuped
    FROM p a, p b, th
    WHERE a.variant = 'A' AND b.variant = 'B'
    """,
    doc="CUPED variance-reduced experiment readout (Deng et al. 2013, "
    "the industry-standard pre-period adjustment): users hash-bucket "
    "into variants via the portable salted hash, each user's PRE-period "
    "spend (covariate X) and POST-period spend (metric Y) accumulate as "
    "exact integer cents in one user-keyed aggregate, theta = "
    "cov(X,Y)/var(X) comes from the same pass's global sums (all "
    "BIGINT; the only float math is final 1-row scalar arithmetic in "
    "fixed expression order, so no shuffle-order divergence), and the "
    "adjusted lift Y - theta*(X - mean(X)) is compared across variants. "
    "NULL-safe: a constant covariate makes theta NULL (nullif), never "
    "an ANSI divide-by-zero. At 100 TB: one user-keyed shuffle, then "
    "2-row + 1-row broadcast-joined aggregates.",
)
def events_cuped_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.to_date("ts") < F.lit("2024-01-16")
    u = (
        ev.select(
            "user_id",
            F.when(
                F.pmod(
                    stable_hash64(
                        F.concat(
                            F.lit("cuped:"),
                            F.col("user_id").cast("string"),
                        )
                    ),
                    F.lit(100),
                )
                < 50,
                "A",
            )
            .otherwise("B")
            .alias("variant"),
            F.when(pre, cents).otherwise(F.lit(0)).alias("xc"),
            F.when(~pre, cents).otherwise(F.lit(0)).alias("yc"),
        )
        .groupBy("user_id", "variant")
        .agg(
            F.sum("xc").cast("bigint").alias("x"),
            F.sum("yc").cast("bigint").alias("y"),
        )
    )
    g = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    ).select(
        "n",
        "sx",
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
                "double"
            )
            / F.nullif(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"),
                F.lit(0),
            ).cast("double")
        ).alias("theta"),
    )
    p = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("x").cast("bigint").alias("sxg"),
        F.sum("y").cast("bigint").alias("syg"),
    )
    a = p.where(F.col("variant") == "A").alias("a")
    b = p.where(F.col("variant") == "B").alias("b")

    def _adj(side: str):
        return (
            F.col(f"{side}.syg").cast("double") / F.col(f"{side}.ng")
            - F.col("theta")
            * (
                F.col(f"{side}.sxg").cast("double") / F.col(f"{side}.ng")
                - F.col("sx").cast("double") / F.col("n")
            )
        )

    return (
        a.crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(g))
        .select(
            F.col("a.ng").alias("n_a"),
            F.col("b.ng").alias("n_b"),
            F.round("theta", 8).alias("theta"),
            F.round(
                (
                    F.col("b.syg").cast("double") / F.col("b.ng")
                    - F.col("a.syg").cast("double") / F.col("a.ng")
                )
                / 100.0,
                6,
            ).alias("lift_raw"),
            F.round((_adj("b") - _adj("a")) / 100.0, 6).alias(
                "lift_cuped"
            ),
        )
    )


@query(
    "source_lang_js_divergence",
    """
    WITH c AS (
        SELECT source, lang, count(*)::BIGINT AS c
        FROM documents
        WHERE source IS NOT NULL AND lang IS NOT NULL
        GROUP BY source, lang
    ),
    ns AS (SELECT source, sum(c)::BIGINT AS n FROM c GROUP BY source),
    nl AS (SELECT lang, sum(c)::BIGINT AS cl FROM c GROUP BY lang),
    tot AS (SELECT sum(c)::BIGINT AS nt FROM c),
    f AS (
        SELECT g.source,
               coalesce(c.c, 0)::DOUBLE / g.n AS p,
               g.cl::DOUBLE / g.nt AS q
        FROM (SELECT s.source, s.n, l.lang, l.cl, t.nt
              FROM ns s CROSS JOIN nl l CROSS JOIN tot t) g
        LEFT JOIN c ON c.source = g.source AND c.lang = g.lang
    ),
    t2 AS (
        SELECT source,
               round((CASE WHEN p = 0 THEN 0.0
                           ELSE p * round(ln(p / ((p + q) / 2)), 8)
                      END
                      + q * round(ln(q / ((p + q) / 2)), 8))
                     * 1e12)::BIGINT AS term
        FROM f
    )
    SELECT source,
           round(0.5 * sum(term) / 1e12 / 0.69314718, 6) AS jsd_bits
    FROM t2 GROUP BY source
    """,
    doc="Jensen-Shannon divergence of each source's language "
    "distribution from the corpus-wide distribution, in bits — the "
    "bounded, symmetric drift score used to flag sources whose "
    "composition departs from the mixture plan (PSI's unbounded "
    "cousin; JSD in [0,1] bits ranks sources comparably). The fact "
    "scan reduces to the (source, lang) count grid once; zero cells "
    "come from a broadcast dimension cross join (p=0 terms are "
    "defined 0, q never 0 corpus-wide). Cross-engine determinism: "
    "libm-divergent ln is rounded to 8dp BEFORE any fold, each "
    "source's 5-term sum is quantized to integer e-12 units so "
    "addition order cannot matter, and ln(2) enters as the shared "
    "8dp literal. At 100 TB: one shuffle of |sources|*|langs| keys.",
)
def source_lang_js_divergence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").where(
        F.col("source").isNotNull() & F.col("lang").isNotNull()
    )
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    # |sources| x |langs| cells; feeds three derived dims + the fill join
    c = materialize(c, "js_cells", "local")
    ns = c.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    nl = c.groupBy("lang").agg(F.sum("c").cast("bigint").alias("cl"))
    tot = c.agg(F.sum("c").cast("bigint").alias("nt"))
    grid = ns.crossJoin(F.broadcast(nl)).crossJoin(F.broadcast(tot))
    f = grid.join(c, ["source", "lang"], "left").select(
        "source",
        (F.coalesce("c", F.lit(0)).cast("double") / F.col("n")).alias("p"),
        (F.col("cl").cast("double") / F.col("nt")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    term = (
        F.when(F.col("p") == 0, F.lit(0.0)).otherwise(
            F.col("p") * F.round(F.log(F.col("p") / m), 8)
        )
        + F.col("q") * F.round(F.log(F.col("q") / m), 8)
    )
    t2 = f.select(
        "source", F.round(term * 1e12).cast("bigint").alias("term")
    )
    return t2.groupBy("source").agg(
        F.round(
            0.5 * F.sum("term") / 1e12 / 0.69314718, 6
        ).alias("jsd_bits")
    )
