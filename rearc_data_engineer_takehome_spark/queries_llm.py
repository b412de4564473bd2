"""Extension-tier parity queries: text analysis, dedup, similarity
search, event windows, multimodal plumbing.

Registered into the same REGISTRY as the core relational queries. The
deterministic operators (token stats, quality scores, language ID,
fingerprints, exact/Jaccard/MinHash-signature dedup, blocked cosine,
brute-force kNN, tumbling/sliding/session windows, JSON extraction) all
carry full DuckDB oracles — including the MinHash signatures, which are
md5-derived and therefore bit-identical across engines. Only the
LSH-bucketed variants (probabilistic recall) and the mapInPandas
multimodal path (not SQL-expressible) are rows-only; pytest gates their
recall/shape instead (tests/test_llm_ops.py).
"""

from __future__ import annotations

import hashlib as _hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from .functions.hashing import (
    MERSENNE_31,
    _affine_params,
    stable_hash64,
    stable_hash64_sql,
)
from .functions.text import BPE_PATTERN, PUNCT_PATTERN, WS_PATTERN, word_shingles_sql
from .functions.timeops import epoch_seconds
from .operators import dedup, multimodal, quality, similarity
from .operators import text as text_ops
from .operators.relational import materialize
from .queries import _t, query
from .streaming import windows as win

# DuckDB expression fragments — single-sourced from functions/text.py so
# the Spark expression and its oracle can never drift apart.
_TOKS = f"regexp_split_to_array(trim(text), '{WS_PATTERN}')"
_SHINGLES3 = word_shingles_sql("t", 3)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "doc_token_stats",
    f"""
    WITH feat AS (
        SELECT lang,
               len({_TOKS}) AS ws,
               len(regexp_extract_all(text, '{BPE_PATTERN}'))  AS bpe,
               n_chars
        FROM documents
    )
    SELECT lang,
           count(*)                 AS n_docs,
           sum(ws)::BIGINT          AS total_tokens_ws,
           sum(bpe)::BIGINT         AS total_tokens_bpe,
           round(avg(ws), 4)        AS avg_tokens_ws,
           round(avg(n_chars), 4)   AS avg_chars
    FROM feat GROUP BY lang
    """,
    doc="Token counting (whitespace + BPE-ish regex) aggregated per "
    "language — single projection + one hash agg; regex dialect restricted "
    "to the Java∩RE2 intersection so both engines tokenize identically.",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            "n_chars",
            text_ops.token_count_ws(F.col("text")).alias("ws"),
            text_ops.token_count_bpe(F.col("text")).alias("bpe"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws").cast("bigint").alias("total_tokens_ws"),
            F.sum("bpe").cast("bigint").alias("total_tokens_bpe"),
            F.round(F.avg("ws"), 4).alias("avg_tokens_ws"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


_EN_STOP_SQL = "['the','and','of','to','in','is','it','that','for','was']"


@query(
    "doc_quality_scores",
    f"""
    WITH f AS (
        SELECT doc_id,
               length(text) AS n_char,
               len({_TOKS}) AS n_tok,
               len(list_filter(list_transform({_TOKS}, x -> lower(x)),
                               x -> list_contains({_EN_STOP_SQL}, x))) AS stop_hits,
               len(regexp_extract_all(text, '{PUNCT_PATTERN}')) AS n_punct,
               len(regexp_extract_all(text, '[0-9]'))           AS n_digit
        FROM documents
    )
    SELECT doc_id, n_char,
           n_tok AS n_tokens_ws,
           round(n_punct / greatest(n_char, 1), 6)  AS punct_ratio,
           round(stop_hits / greatest(n_tok, 1), 6) AS stopword_ratio,
           round(least(greatest(
               0.4 * least(n_tok / 64.0, 1.0)
             + 0.3 * (1.0 - round(n_punct / greatest(n_char, 1), 6))
             + 0.2 * least(round(stop_hits / greatest(n_tok, 1), 6) * 5.0, 1.0)
             + 0.1 * (1.0 - round(n_digit / greatest(n_char, 1), 6)), 0.0), 1.0), 6)
               AS quality_score
    FROM f
    """,
    doc="Gopher/C4-style quality heuristics (length, punctuation ratio, "
    "stopword ratio, digit ratio) blended into a clamped [0,1] score — one "
    "codegen'd projection per document, no shuffle.",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    feat = text_ops.quality_features(docs)
    return feat.select(
        "doc_id",
        "n_char",
        F.col("n_tokens_ws").cast("bigint").alias("n_tokens_ws"),
        "punct_ratio",
        "stopword_ratio",
        "quality_score",
    )


def _lang_scores_sql() -> str:
    toks_lower = f"list_transform({_TOKS}, x -> lower(x))"
    parts = []
    for lang, words in text_ops.STOPWORDS.items():
        lex = "[" + ",".join(f"'{w}'" for w in words) + "]"
        parts.append(
            f"len(list_filter({toks_lower}, x -> list_contains({lex}, x)))"
            f" / greatest(len({_TOKS}), 1) AS s_{lang}"
        )
    return ", ".join(parts)


@query(
    "doc_language_id",
    f"""
    WITH s AS (SELECT doc_id, {_lang_scores_sql()} FROM documents),
    m AS (SELECT doc_id, s_en, s_es, s_fr, s_de, s_zh,
                 greatest(s_en, s_es, s_fr, s_de, s_zh) AS best FROM s)
    SELECT doc_id,
           round(best, 6) AS lang_score,
           CASE WHEN best = 0 THEN 'und'
                WHEN s_en = best THEN 'en'
                WHEN s_es = best THEN 'es'
                WHEN s_fr = best THEN 'fr'
                WHEN s_de = best THEN 'de'
                ELSE 'zh' END AS lang_pred
    FROM m
    """,
    doc="Heuristic language ID: argmax of per-language stopword-hit ratios "
    "with deterministic tie-break by lexicon order; 'und' when all zero.",
)
def doc_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_ops.language_id(docs).select("doc_id", "lang_score", "lang_pred")


@query(
    "doc_fingerprints",
    f"""
    WITH toks AS (SELECT doc_id, text, {_TOKS} AS t FROM documents)
    SELECT doc_id,
           md5(text) AS content_md5,
           list_min(list_transform({word_shingles_sql("t", 5)},
                    s -> {stable_hash64_sql("s")})) AS min_shingle_hash
    FROM toks
    """,
    doc="Document fingerprinting: exact content digest + rolling-hash "
    "structural fingerprint (min 5-word-shingle hash, winnowing-lite). "
    "Both md5-derived → bit-identical across engines.",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return text_ops.fingerprint(docs, k=5).select(
        "doc_id", "content_md5", "min_shingle_hash"
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_docs",
    """
    SELECT min(doc_id) AS doc_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup via content-digest groupBy — shuffles 40-byte digests, "
    "never raw documents (the feasibility difference at 100 TB). Canonical "
    "representative = min id.",
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


@query(
    "dedup_incremental_batch",
    f"""
    WITH batch AS (SELECT * FROM documents WHERE doc_id % 10 = 0),
    corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 0),
    cdig AS (SELECT DISTINCT md5(text) AS g FROM corpus),
    alive AS (
        SELECT b.* FROM batch b
        WHERE md5(b.text) NOT IN (SELECT g FROM cdig)
    ),
    bt AS (SELECT doc_id, {_TOKS} AS t FROM alive),
    bs AS (SELECT doc_id, unnest({_SHINGLES3}) AS s FROM bt),
    bp AS (SELECT DISTINCT doc_id, {stable_hash64_sql("s")} AS h FROM bs),
    ct AS (SELECT doc_id, {_TOKS} AS t FROM corpus),
    cs AS (SELECT doc_id, unnest({_SHINGLES3}) AS s FROM ct),
    cp0 AS (SELECT DISTINCT doc_id, {stable_hash64_sql("s")} AS h FROM cs),
    ckeep AS (SELECT h FROM (SELECT h, count(*) AS c FROM cp0 GROUP BY h)
              WHERE c <= 64),
    cp AS (SELECT cp0.doc_id, cp0.h FROM cp0 JOIN ckeep USING (h)),
    bsizes AS (SELECT doc_id, count(*) AS n_b FROM bp GROUP BY doc_id),
    csizes AS (SELECT doc_id, count(*) AS n_c FROM cp GROUP BY doc_id),
    common AS (
        SELECT bp.doc_id AS id_b, cp.doc_id AS id_c, count(*) AS cmn
        FROM bp JOIN cp ON bp.h = cp.h GROUP BY 1, 2
    ),
    dup AS (
        SELECT DISTINCT id_b FROM common
        JOIN bsizes nb ON nb.doc_id = common.id_b
        JOIN csizes nc ON nc.doc_id = common.id_c
        WHERE round(cmn / (nb.n_b + nc.n_c - cmn), 6) >= 0.8
    )
    SELECT a.doc_id, a.lang FROM alive a
    WHERE a.doc_id NOT IN (SELECT id_b FROM dup)
    """,
    doc="Incremental ingest dedup — the production shape for continuous "
    "pretraining-data ingestion: a new batch (doc_id % 10 = 0 split) is "
    "deduped against the EXISTING corpus only (digest anti-join for "
    "exact kills, inverted-index batch-vs-corpus Jaccard >= 0.8 for "
    "near kills, corpus-side df<=64 cap) — the corpus is never "
    "self-paired, so each ingest costs O(batch x matched postings), "
    "not O(corpus^2). Returns surviving batch documents.",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    return dedup.incremental_dedup_filter(
        batch, corpus, k=3, threshold=0.8, max_df=64
    ).select("doc_id", "lang")


# Shared oracle staging CTEs: exact-dedup-first (digest groupBy -> one
# row per distinct content), shingle/Jaccard on representatives only
# with a df<=64 cap over distinct contents, then member expansion —
# replaying dedup.ngram_jaccard_pairs_staged exactly.
def _staged_jaccard_ctes(cap: int | None) -> str:
    """Oracle staging CTEs, parameterized on the posting df cap:
    exact-dedup-first (digest groupBy -> one row per distinct content),
    shingle/Jaccard on representatives only (df<=cap over distinct
    contents when cap is set; the full posting when None), then member
    expansion — replaying dedup.ngram_jaccard_pairs_staged (capped) or
    the lossless prefix-filtered operator (uncapped) exactly."""
    p_cte = (
        f"""keep AS (SELECT h FROM (SELECT h, count(*) AS c FROM p0 GROUP BY h)
             WHERE c <= {cap}),
    p AS (SELECT p0.doc_id, p0.h FROM p0 JOIN keep USING (h))"""
        if cap is not None
        else "p AS (SELECT doc_id, h FROM p0)"
    )
    return f"""
    dg AS (SELECT doc_id, md5(text) AS g FROM documents),
    reps AS (SELECT g, min(doc_id) AS rep FROM dg GROUP BY g),
    rdocs AS (SELECT d.doc_id, d.text FROM documents d
              JOIN reps r ON d.doc_id = r.rep),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM rdocs),
    sh AS (SELECT doc_id, unnest({_SHINGLES3}) AS s FROM toks),
    p0 AS (SELECT DISTINCT doc_id, {stable_hash64_sql("s")} AS h FROM sh),
    {p_cte},
    sizes AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    rpairs AS (
        SELECT id_a, id_b, round(c / (na.n + nb.n - c), 6) AS jaccard
        FROM common
        JOIN sizes na ON na.doc_id = common.id_a
        JOIN sizes nb ON nb.doc_id = common.id_b
        WHERE round(c / (na.n + nb.n - c), 6) >= 0.8
    ),
    mem AS (SELECT dg.g, dg.doc_id, r.rep FROM dg JOIN reps r ON dg.g = r.g)
"""


_STAGED_JACCARD_CTES = _staged_jaccard_ctes(64)


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {_STAGED_JACCARD_CTES},
    within AS (
        SELECT m1.doc_id AS id_a, m2.doc_id AS id_b,
               CAST(1.0 AS DOUBLE) AS jaccard
        FROM mem m1 JOIN mem m2 ON m1.g = m2.g AND m1.doc_id < m2.doc_id
        WHERE m1.rep IN (SELECT doc_id FROM sizes)
    ),
    crossg AS (
        SELECT least(ma.doc_id, mb.doc_id) AS id_a,
               greatest(ma.doc_id, mb.doc_id) AS id_b, rp.jaccard
        FROM rpairs rp
        JOIN mem ma ON ma.rep = rp.id_a
        JOIN mem mb ON mb.rep = rp.id_b
    )
    SELECT * FROM within UNION ALL SELECT * FROM crossg
    """,
    doc="EXACT n-gram (3-word shingle) Jaccard near-dup pairs, exact-"
    "dedup-STAGED: digest groupBy collapses exact copies first, the "
    "inverted-index self-join runs on distinct content only (df<=64 "
    "posting cap over distinct contents), and pairs expand back to "
    "members via equi-joins — within-group pairs are J=1.0 by "
    "identity, cross pairs inherit the rep pair's Jaccard. Identical "
    "output to the unstaged ground-truth operator (which the LSH "
    "variant is recall-tested against in pytest) when duplicate "
    "semantics agree; linear instead of quadratic in duplicate-cluster "
    "size. The fixtures contain planted near-dups (J≈0.98), so the "
    "result is non-trivial.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs_staged(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.8, max_df=64
    )


@query(
    "dedup_ngram_jaccard_prefix",
    f"""
    WITH {_staged_jaccard_ctes(None)},
    within AS (
        SELECT m1.doc_id AS id_a, m2.doc_id AS id_b,
               CAST(1.0 AS DOUBLE) AS jaccard
        FROM mem m1 JOIN mem m2 ON m1.g = m2.g AND m1.doc_id < m2.doc_id
        WHERE m1.rep IN (SELECT doc_id FROM sizes)
    ),
    crossg AS (
        SELECT least(ma.doc_id, mb.doc_id) AS id_a,
               greatest(ma.doc_id, mb.doc_id) AS id_b, rp.jaccard
        FROM rpairs rp
        JOIN mem ma ON ma.rep = rp.id_a
        JOIN mem mb ON mb.rep = rp.id_b
    )
    SELECT * FROM within UNION ALL SELECT * FROM crossg
    """,
    doc="PPJoin-style PREFIX-FILTERED exact Jaccard near-dup pairs "
    "(operators/dedup.py:ngram_jaccard_pairs_prefix): candidates come "
    "only from each distinct content's rarest (1-t) shingle prefix in "
    "df-ascending canonical order, then a size filter and an exact "
    "array_intersect verify. The ORACLE is the plain exact staged "
    "Jaccard with NO df cap — matching it end-to-end proves the prefix "
    "pruning is LOSSLESS (drops no qualifying pair), which is the "
    "advantage over dedup_ngram_jaccard's max_df heuristic: hot "
    "shingles are excluded from candidate generation by canonical "
    "order instead of being dropped from the similarity computation.",
)
def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs_prefix(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.8
    )


def _minhash_sig_sql(n_perm: int, seed: int = 7) -> str:
    base = f"{stable_hash64_sql('s')} % {MERSENNE_31}"
    mins = []
    for j, (a, b) in enumerate(_affine_params(n_perm, seed)):
        mins.append(
            f"list_min(list_transform(sh, s -> ({a} * ({base}) + {b}) % {MERSENNE_31})) AS m{j}"
        )
    return ", ".join(mins)


_N_PERM = 8


@query(
    "minhash_signatures",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES3} AS sh FROM toks),
    sig AS (SELECT doc_id, {_minhash_sig_sql(_N_PERM)} FROM sh)
    SELECT doc_id, u.perm::INT AS perm, u.minhash
    FROM sig, LATERAL (
        SELECT unnest(generate_series(0, {_N_PERM - 1})) AS perm,
               unnest([{", ".join(f"m{j}" for j in range(_N_PERM))}]) AS minhash
    ) u
    """,
    doc="MinHash signatures (md5-based affine permutations mod Mersenne-31) "
    "exploded to (doc_id, perm, minhash) — the deterministic core of "
    "MinHash-LSH, verified bit-identical against DuckDB. Computed as one "
    "array projection: transform + array_min, no explode/shuffle.",
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup.minhash_signatures(
        _t(spark, sf_dir, "documents"), n_perm=_N_PERM, seed=7
    )
    # PERF: never posexplode the computed array directly — Catalyst inlines
    # the whole signature lambda-expression into Generate, which then
    # evaluates it interpreted per OUTPUT row (45 s vs 2 s at sf0.1).
    # Referencing the alias 8× in a getItem projection makes CollapseProject
    # keep it as a real node (non-cheap expr, multiple refs), so the explode
    # only touches plain column refs.
    wide = sig.select(
        "doc_id",
        *[F.col("signature").getItem(i).alias(f"m{i}") for i in range(_N_PERM)],
    )
    return wide.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("int").alias("perm"),
                        F.col(f"m{i}").alias("minhash"),
                    )
                    for i in range(_N_PERM)
                ]
            )
        ).alias("pm"),
    ).select("doc_id", "pm.perm", "pm.minhash")


@query(
    "dedup_minhash_lsh",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shl AS (SELECT doc_id, {_SHINGLES3} AS sh FROM toks),
    sig AS (SELECT doc_id, {_minhash_sig_sql(8)} FROM shl),
    bands AS (
        SELECT doc_id, u.band, u.bh FROM sig, LATERAL (
            SELECT unnest([0, 1, 2, 3]) AS band,
                   unnest([md5(m0::VARCHAR || ',' || m1::VARCHAR),
                           md5(m2::VARCHAR || ',' || m3::VARCHAR),
                           md5(m4::VARCHAR || ',' || m5::VARCHAR),
                           md5(m6::VARCHAR || ',' || m7::VARCHAR)]) AS bh
        ) u
    ),
    bsz AS (
        SELECT band, bh, count(*) AS n, min(doc_id) AS mn
        FROM bands GROUP BY band, bh
    ),
    cand AS (
        SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        FROM bands x
        JOIN bsz s ON s.band = x.band AND s.bh = x.bh
        JOIN bands y
          ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
        WHERE s.n <= 16 OR x.doc_id = s.mn
    ),
    p AS (SELECT DISTINCT doc_id, {stable_hash64_sql("s")} AS h
          FROM (SELECT doc_id, unnest(sh) AS s FROM shl)),
    sizes AS (SELECT doc_id, count(*) AS n FROM p GROUP BY doc_id),
    common AS (
        SELECT c.id_a, c.id_b, count(*) AS cmn
        FROM cand c
        JOIN p a ON a.doc_id = c.id_a
        JOIN p b ON b.doc_id = c.id_b AND b.h = a.h
        GROUP BY c.id_a, c.id_b
    )
    SELECT id_a, id_b, round(cmn / (na.n + nb.n - cmn), 6) AS jaccard
    FROM common
    JOIN sizes na ON na.doc_id = common.id_a
    JOIN sizes nb ON nb.doc_id = common.id_b
    WHERE round(cmn / (na.n + nb.n - cmn), 6) >= 0.8
    """,
    doc="MinHash+LSH near-dup pairs (8 perms, 4 bands), exact-Jaccard "
    "verified candidates. Despite being 'approximate', the whole "
    "pipeline is DETERMINISTIC (md5-derived signatures, md5 band "
    "hashes, exact verification) so the oracle replays banding + "
    "verification in SQL and value-hashes must match; "
    "tests/test_llm_ops.py additionally gates recall ≥ 0.95 against "
    "the exact operator at J≥0.8. Band buckets over max_bucket=16 "
    "members fall back to star pairing against the bucket min "
    "(O(n) candidates per bucket, replayed in the oracle's bsz CTE) "
    "— the guardrail against boilerplate/dup-cluster quadratic "
    "candidate blowup at corpus scale.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        n_perm=_N_PERM,
        bands=4,
        threshold=0.8,
        max_bucket=16,
    )


_SIMHASH_BITS = 16


def _simhash_sql(bits: int) -> str:
    h = f"({stable_hash64_sql('tk')})"
    terms = []
    for j in range(bits):
        vote = (
            f"list_sum(list_transform(t, tk -> "
            f"CASE WHEN ({h} >> {j}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(terms)


@query(
    "dedup_simhash",
    f"""
    WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents)
    SELECT doc_id, ({_simhash_sql(_SIMHASH_BITS)})::BIGINT AS simhash
    FROM toks
    """,
    doc="SimHash fingerprints (16-bit, per-bit majority vote over token "
    "hashes) — packed bigint, bit-identical across engines. Near-dup pairs "
    "via byte-band buckets + Hamming verify are tested in pytest "
    "(pigeonhole guarantee: hamming ≤ bands-1 ⇒ shared band).",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_fingerprints(
        _t(spark, sf_dir, "documents"), bits=_SIMHASH_BITS
    )


from .functions.vectors import cosine_sql

_COS_SQL = cosine_sql("a.embedding", "b.embedding")


@query(
    "dedup_embedding_cosine",
    f"""
    WITH cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    s AS (
        SELECT e.*,
               {stable_hash64_sql("e.vec_id::VARCHAR")}
                 % CAST(ceil(n / 256.0) AS BIGINT) AS salt
        FROM embeddings e JOIN cnt USING (label)
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_COS_SQL}, 6) AS cos_sim
    FROM s a
    JOIN s b ON a.label = b.label AND a.salt = b.salt
            AND a.vec_id < b.vec_id
    WHERE round({_COS_SQL}, 6) >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs BLOCKED by label: one shuffle "
    "on the block key, per-block BLAS cosine matrix + 6dp-rounded "
    "threshold inside applyInPandas (the O(block²) candidates never "
    "become Spark rows). Blocks over max_block=256 rows are salt-"
    "sharded with a deterministic md5 salt (replayed in the oracle) so "
    "a skewed block key bounds both the BLAS matrix and the per-group "
    "Arrow batch. Threshold 0.4 chosen to be non-trivial on the "
    "fixture distribution (max within-label cosine ≈ 0.47). The "
    "pure-JVM twin (dedup.embedding_near_dup_pairs) is "
    "equivalence-tested against this one, capped path included.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_dup_pairs_vectorized(
        _t(spark, sf_dir, "embeddings"),
        block_col="label",
        threshold=0.4,
        max_block=256,
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    row = (
        _t(spark, sf_dir, "embeddings").where(F.col("vec_id") == vec_id).head()
    )
    return [float(x) for x in row["embedding"]]


@query(
    "knn_bruteforce",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
        SELECT e.vec_id,
               round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id ASC LIMIT 10
    """,
    doc="Exact cosine top-10 against a query vector (vec_id 0): scan + "
    "zip_with/aggregate dot product + TakeOrderedAndProject. The "
    "correctness baseline every ANN variant is recall-tested against.",
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vec(spark, sf_dir, 0)
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    return similarity.bruteforce_topk(emb, q, k=10)


@query(
    "knn_all_pairs_topk",
    f"""
    WITH cnt AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    s AS (
        SELECT e.*,
               {stable_hash64_sql("e.vec_id::VARCHAR")}
                 % CAST(ceil(n / 256.0) AS BIGINT) AS salt
        FROM embeddings e JOIN cnt USING (label)
    ),
    scored AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({_COS_SQL}, 6) AS cos_sim,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY round({_COS_SQL}, 6) DESC, b.vec_id ASC) AS rn
        FROM s a
        JOIN s b ON a.label = b.label AND a.salt = b.salt
                AND a.vec_id <> b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM scored WHERE rn <= 3
    """,
    doc="k-NN for EVERY vector (k=3), blocked by label: one shuffle on "
    "the block key, then each block computes its cosine matrix with one "
    "BLAS matmul and keeps top-k in-block (applyInPandas) — the O(block²) "
    "pair rows never reach a Spark shuffle or window. Blocks over "
    "max_block=256 are salt-shard split (md5 salt, replayed in the "
    "oracle) so per-task compute and memory are hard-bounded even when "
    "the block key goes hot; swap the block key for an LSH/IVF bucket "
    "at 100 TB. The pure-JVM twin (similarity.all_pairs_topk) is "
    "equivalence-tested against this one, capped path included.",
)
def knn_all_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.all_pairs_topk_vectorized(
        _t(spark, sf_dir, "embeddings"), k=3, block_col="label", max_block=256
    )


@query(
    "knn_lsh",
    """
    WITH q AS (
        SELECT qv, (CASE WHEN list_dot_product(qv, [-0.7471385487770168, 0.6076465357074066, -0.3408309999128166, -0.3494814709449052, -0.05075527656021295, 0.1053243053126236, 0.00734196271241605, -0.6852077505615384, -0.5083329434683264, -0.11684360657876058, -0.6187085885968235, -0.6698768368434248, -0.5831742201784632, 0.8158673075463638, -0.15956544662096328, 0.5061660854647034, 0.44112533587089464, -0.03429089641568872, -0.8422300732847382, -0.1333241293873232, -0.7827585830667187, -0.01822199598769736, -0.18139621975843523, 0.23531484984888484, -0.13196826319768273, 0.23500499347660075, -0.8048135993144471, 0.9910416951652163, -0.466980828386777, 0.28424036596836433, -0.2767294939140268, -0.2610787571079467, 0.0007377587024659515, 0.8635727497614367, 0.7035492299263681, -0.9724608433921685, -0.6714766462081694, 0.3764902580457212, -0.4436583873037907, 0.8192919250401891, 0.8387050555150894, 0.02929272308269537, 0.2661407996166347, -0.3516480681954106, 0.6135704727009101, -0.8661419265004131, 0.7189682959561372, 0.12152110831107565, 0.9511792450043217, -0.5357513674465006, 0.49282705435468777, 0.3927325385043272, -0.23991364520009795, 0.777960996104802, 0.1425049742271174, -0.3710325074663451, 0.03662856254881253, -0.005109522748866446, 0.6408939037602182, 0.78613463110268, -0.8008208471752827, 0.6061566852690201, 0.8157589323582326, -0.8572823060856664]::DOUBLE[]) > 0 THEN 1 ELSE 0 END + CASE WHEN list_dot_product(qv, [-0.20745834810599906, -0.389483236710645, 0.09849594102688197, 0.19520041017725087, 0.03706946625752172, 0.5202756474928452, 0.8916767552543166, 0.6148296275659453, 0.19727688069672, 0.07118289704747371, -0.40317223610507014, -0.5680336548955638, -0.14559000041036207, -0.22104804925729538, -0.9375820351601838, -0.5371487609809792, -0.36046800031536286, -0.9774874683981949, -0.08356903185857723, 0.0689355715153046, -0.08190771696458765, -0.25231692497518743, -0.13127419920463668, 0.7745717550379052, -0.6609472496561171, -0.27181933676443504, 0.9992951844554059, -0.7924212620811208, 0.5021423028837304, 0.08788451386351559, -0.6813328581099902, -0.46380941105766105, -0.7259171882271358, 0.9426553620042644, -0.4468454737419295, -0.8517753513295498, 0.6027313924771172, -0.5833186860990975, -0.23763386063336955, -0.7855823372553489, -0.5337984677700679, -0.8518136863886019, -0.005432690575310817, 0.5236238187463846, -0.1743299980827181, 0.5597182548530186, -0.28487216005771954, 0.39761079540993705, -0.10670789051145335, -0.10597689679002498, 0.5678333207472268, -0.07877382033843294, 0.385522202041787, 0.2197971459876198, -0.9526918481594588, -0.30659832391224495, 0.06288878592708635, -0.11010223590456514, 0.7427763011252346, 0.28750094048733743, 0.537205818030529, 0.40029118953538423, 0.27804481616038057, 0.42968064090524716]::DOUBLE[]) > 0 THEN 2 ELSE 0 END + CASE WHEN list_dot_product(qv, [0.3847903538527455, -0.965668950498978, 0.2940173476692045, 0.5186124234528517, -0.4793296127858804, -0.8821268975828916, 0.35327107608700214, -0.4870510254906063, -0.8029124065786999, -0.8948102072460526, 0.5810959269262217, -0.7248009048025896, -0.1899682236996698, 0.898659386769908, 0.4196806012458498, 0.5873808606566158, -0.040611415801856565, 0.5609563538059579, 0.6040580550737735, -0.40028933745825224, -0.07803701765924431, 0.14315461339207514, 0.6330306621725916, 0.9202686324273917, 0.9515581614421615, 0.26664638752146286, 0.174715490955188, -0.48485521918120467, 0.09678571135899805, -0.11818322819475202, 0.9255329237007961, -0.2255140302518055, -0.27649822588603545, -0.6845429850035811, 0.7543656800306495, 0.4265735435052591, 0.5156827356852409, -0.15369928743980354, 0.2364005243363776, 0.0871536324891522, 0.9589709129449855, -0.7472739375020292, 0.17442048247230613, 0.7066215192807668, 0.7208783577213131, -0.2561823469049487, 0.9968499446749828, 0.9006187991296131, 0.09386400818523954, 0.7112696072646654, -0.8249161574780918, 0.15319083686756274, -0.5968492388735145, -0.23087604570153886, -0.3349092200934525, 0.2682778265015322, -0.14837423259364846, -0.910271985703888, 0.9672965596359455, -0.09005802577297561, -0.15570155770144944, 0.941674342341206, -0.8561892172784363, -0.3363728969114782]::DOUBLE[]) > 0 THEN 4 ELSE 0 END + CASE WHEN list_dot_product(qv, [0.6569574785040742, 0.928231467295553, -0.4441271193523817, 0.8651268970658972, 0.2863517425584581, -0.8061009842755322, 0.9172529217673482, 0.9974896094327768, -0.7442453886478397, -0.7720106809848685, -0.40627795304153336, 0.5627075472913246, 0.4955838266611663, -0.6394506677424846, 0.5837018204811193, -0.6392640779608462, 0.967865507938398, -0.45523883470200843, 0.14280212741630027, 0.5467290652057668, -0.3225670168183342, -0.28803516877174606, 0.2427055399311473, -0.7905740755783012, 0.37856107479508294, -0.5035177379800582, -0.8780920031784885, -0.6413166749930286, 0.09901518899460027, 0.6650101537731556, 0.5919526105089581, -0.9036022317308828, 0.680430827651477, -0.024554241187474513, 0.1123553577121299, 0.9912022817105652, 0.06321344050978528, -0.5684179542051997, 0.1328414892157337, 0.03950813176834145, -0.9345483439839011, 0.3976963468052013, -0.9667159500096351, 0.735548304099801, -0.8073750094245331, 0.23396525412183888, 0.29449883515596587, 0.6873951485756931, -0.88484583062671, 0.8109245635632161, -0.46024702514888294, -0.23421573711521748, -0.7583084509523782, -0.5299039256360876, -0.22445660602770268, -0.17946674758056735, -0.7421550236173728, -0.2641184541741216, 0.7905128271372746, 0.7175519410783553, 0.5709085389782169, 0.08685101948916851, -0.009886274391412653, 0.42904644651197676]::DOUBLE[]) > 0 THEN 8 ELSE 0 END + CASE WHEN list_dot_product(qv, [-0.2842951215673202, 0.9808269734735833, 0.14268915945880445, 0.7624837448240229, 0.30140110622938465, -0.6891038820492525, 0.3275809872548292, 0.5211401365009996, 0.8710114986535646, 0.27889793527733464, -0.9526546070460695, 0.7114182526990058, -0.24932415989483514, 0.9101934106172329, 0.563593607888849, 0.742826758252259, -0.3682652884329978, -0.858383777682084, 0.970672169222343, 0.666861510019126, 0.9888327833390813, -0.7860478867731847, -0.4925692992329923, 0.6229102099895707, 0.049094406479368136, -0.20043800259047873, 0.22840545650361577, -0.3788120629521555, 0.2477926235155914, 0.4493225869920481, -0.7925021811893624, 0.637839909875112, 0.7073882540338099, 0.39201190233083083, 0.8369412563901126, 0.925640186415738, 0.31651492176764484, -0.2876452192621545, 0.502745153367937, -0.728743382347536, -0.6467064804368855, 0.9890015780614436, 0.7698104060338546, -0.6074227093547693, -0.5188735695875614, -0.2977246350339753, 0.8240281225837591, -0.05113341984829667, -0.7360115264430811, 0.901711540449512, -0.133085739287631, 0.5510241456047564, -0.9827688139057796, 0.868778687911473, 0.33130772986342727, -0.47693619207328863, 0.511658108206301, -0.05537024629638132, -0.5191969764593054, 0.8823600651429371, 0.00033897102793578604, 0.10427838739419082, 0.442087958952625, -0.47533378828407535]::DOUBLE[]) > 0 THEN 16 ELSE 0 END + CASE WHEN list_dot_product(qv, [0.05434382414701955, 0.8669055807146411, 0.3767958388367114, 0.4279952262331179, -0.3392556308881496, -0.032365443515739, -0.0952647017451902, -0.28623810455475995, 0.7175312727209482, -0.2285773086221986, 0.5747787839460745, -0.1642551621520968, 0.9787490880322958, 0.7841644770894711, 0.07008736645171343, 0.9943272147819846, 0.4474740208448049, -0.05891926829242766, 0.710847506992478, 0.7530234706384737, 0.7307951800506114, 0.24337491995413907, -0.5670597174373994, 0.44065648945799385, 0.9209181674473874, -0.14026202347516936, 0.23775001582003807, 0.8072259634706711, -0.6661683950275563, -0.42886419637111883, 0.9251552495552753, 0.4992408513641784, 0.08878512694240337, 0.4943338107528856, 0.9683872021184856, -0.10890541287464561, -0.475447804115935, -0.34453332485910215, -0.21306821021237, -0.5296149085652684, 0.9254127758749262, -0.8215621622070025, 0.46588988514987184, 0.1404307301606329, -0.7514839063694525, -0.7060497872309377, 0.24658679619406088, -0.0937808657573923, 0.7843409282467135, 0.2913719519670015, -0.9456520925911505, -0.6447925627855119, 0.1966043167377003, 0.17844507291394573, 0.32042428351757635, -0.9111643573246845, -0.8046868173796072, -0.988913785479092, -0.3761538392714463, -0.3074310389457112, 0.07880616157493292, 0.6073713499561386, 0.22809030230715943, -0.4241139162923112]::DOUBLE[]) > 0 THEN 32 ELSE 0 END) AS qb_0,
           (CASE WHEN list_dot_product(qv, [0.6330699129684112, -0.6780456991738522, -0.9542581792811867, 0.2359820014907148, 0.325313587522416, -0.2754093124046122, -0.1633536819866338, -0.0714898209204815, -0.3075809091322673, -0.36442540249828026, 0.816374739419673, 0.23815208229744633, 0.3744323564079066, -0.4079126230865573, -0.6198144735073811, -0.3976367841992159, 0.6112061395761073, -0.6684301973204133, 0.6903691858669534, 0.1525130231223979, 0.894326341007305, -0.902184182457243, 0.366844812969775, 0.8717393030505594, 0.4717693137396688, -0.4091126909936128, 0.15167537548546872, -0.4333318107666393, 0.7057901128650099, -0.1330988793073743, 0.2758761743424667, 0.9021333125613162, 0.9578257261604473, -0.37392706545205, 0.3816446045185986, -0.26553275902808426, 0.4870595716949204, 0.27766369935184243, -0.3471375488496805, -0.8258481251492384, -0.7535609677201682, -0.278872291875346, 0.3668880753304611, 0.02728256568498133, 0.2762245172014042, 0.23775356045632612, 0.4228891164813524, 0.388087490844262, -0.7383914514107579, -0.09860801690996412, 0.9502432452560379, 0.25972115058456824, 0.9343292708634767, -0.37783805223618083, -0.3386983455688539, -0.8616569773556327, -0.05453410763524458, -0.5231744556909375, 0.9666741814889552, -0.9773273345732763, -0.7717900484701874, -0.6205322834440165, -0.3636582046798721, 0.6889829448357434]::DOUBLE[]) > 0 THEN 1 ELSE 0 END + CASE WHEN list_dot_product(qv, [-0.4021030528632613, -0.7422055419275029, 0.7798993487143073, 0.5491786689697584, 0.339284274087404, -0.030632806317221095, -0.2196268253781929, -0.875003134001726, -0.0016472347143261512, -0.5863554831242881, -0.7080934313022743, -0.16757471013304082, -0.37104752719918277, -0.4663958710388896, 0.1448869806665023, -0.0445593964728529, -0.4710472987424328, 0.5579025824253903, 0.34659551323809246, -0.9662401757486918, 0.12449249782833327, -0.32397867892937626, 0.24312485656734895, 0.7485256892076522, -0.22992546372714506, 0.8803818879470624, 0.30910109018612575, -0.14530157293946444, 0.77417346756203, 0.5975238723854497, 0.31652685337435416, 0.20440539904542, -0.6645943567821857, -0.6477279931184099, 0.3631176480307836, -0.1252439345886418, -0.9265689215326555, 0.08246768717292619, -0.18718315189572377, -0.07380933560879877, 0.8049105088134003, -0.4695190635892079, -0.8478116257337298, 0.7450603883432656, 0.9383380006700643, -0.4166767041899241, 0.13433992092534797, -0.8586504167957636, -0.22905453569058143, -0.6019065870273491, 0.31557403778066595, -0.7487819887040574, 0.2500800693113159, -0.03336249135283509, 0.03218223430264322, -0.42528261384890886, 0.08449168600823964, 0.7183596300461994, -0.5886991077409418, -0.5879645959583726, 0.727862291320174, 0.19131254641625905, 0.10100360223839089, -0.5731220770812615]::DOUBLE[]) > 0 THEN 2 ELSE 0 END + CASE WHEN list_dot_product(qv, [0.8674309480381486, 0.6856910480365106, -0.924657192524205, 0.18934822074564184, -0.9554075776047287, 0.18829855417255925, -0.8602810662219144, 0.1515719454129425, -0.059718097871892195, 0.592789679102449, 0.21685434476836618, -0.9815857413437644, 0.7031273522974875, 0.2819708021987184, -0.5330470393959791, -0.7126687728031372, -0.03224739216051786, -0.7966355717247544, -0.8791205166543334, -0.7452513590899701, 0.5129501156916894, 0.11802305462854124, -0.7227078822908308, -0.22108895161848163, -0.3581694480576383, -0.21650126675422343, -0.043841898207699015, 0.16773827736295854, 0.03133249339283628, 0.23070481428771017, -0.1060497322576116, 0.09586759299057768, 0.2914855125407727, -0.7737505492161036, -0.7286146844056456, -0.6286802215000566, 0.7166174826268001, -0.5940206750632884, 0.41668639754699277, 0.6792627773681039, -0.9279574976914551, -0.1933851050744172, 0.5465966831369686, -0.36096498037913705, 0.6778431174652275, 0.3237638492662054, 0.4462508485850445, 0.38382900426066935, 0.006108950952148362, -0.47823702714580185, 0.2810075608163516, -0.7168736610730861, 0.986968059592952, -0.013818012831058768, -0.9191664247444513, -0.5942670064341269, -0.6380923300753152, 0.5020269458421491, 0.13658307907477418, 0.6823743921214851, 0.101222027672081, 0.3138234235262207, 0.7079379854823238, -0.005525521820973878]::DOUBLE[]) > 0 THEN 4 ELSE 0 END + CASE WHEN list_dot_product(qv, [0.046848517632651854, -0.6646594532601391, -0.26948498328708836, -0.9498679090255828, -0.9988094115647976, -0.255251107467908, 0.9907548602729002, -0.8215339023301542, -0.04788128893964272, 0.773695719331533, 0.47549508716583233, 0.31562456225923574, -0.3509176830725861, 0.8125423359661887, 0.4198635521396643, -0.9251201755373144, 0.8635141950421938, -0.831919559547143, -0.05423424104674868, -0.22213496015909573, -0.6760268053206577, 0.8185088603476434, -0.2057038697651925, -0.1442821074416455, 0.3402802934966238, -0.5550780998839957, 0.5491677796376309, 0.5814180347480653, 0.9207628256872114, 0.16732243208905273, -0.12452849831222912, 0.6294682684042174, -0.06443493704604664, -0.004931669957012441, -0.2687407502484621, -0.1626973709101064, -0.29497779144237113, -0.154516814847677, 0.5900010478539846, 0.984722633073253, -0.17752249218099447, 0.9770531940011993, 0.9807287166946499, -0.3547104520451825, -0.6688958682997074, -0.3369417281814018, 0.9740983498930937, 0.7427456852333307, -0.6504726158340811, -0.4879238838041906, 0.0951417699571453, 0.44706564223771394, 0.9888936046775645, 0.47382550855365246, 0.6114596441997437, 0.3070560012564105, -0.09067587537827893, 0.9445992837339818, 0.7101275846062054, 0.2537190529650255, 0.039794075402039386, 0.1193544251093317, -0.13436162638334836, -0.36813099698509355]::DOUBLE[]) > 0 THEN 8 ELSE 0 END + CASE WHEN list_dot_product(qv, [0.03832799621433369, 0.05150519786681973, 0.42171247118222777, -0.022121262595197755, -0.9467993925318815, -0.13675088951786818, -0.253310661025664, 0.3479107112203479, -0.14824638390451983, -0.6752837266321843, -0.8478714366026574, 0.7369049573422042, -0.6346430728325834, 0.03201148368304185, 0.09423138623079885, -0.2758235466410328, 0.5025791819558625, 0.7883792280526045, -0.7187427482827786, 0.011695123651773498, -0.19348935667314116, 0.5952979449895994, 0.0960512912338678, -0.38888827384881564, -0.0867528651148175, 0.6570234221152584, -0.04569808255582475, 0.7480050469870134, -0.15562053232121953, -0.8529619460170164, -0.3766223441949129, 0.28325378378840904, -0.9681355024506352, -0.423616118317527, -0.1825808702885544, 0.3573927753167865, 0.010658516680511765, -0.8414721712488847, 0.08337745935322971, 0.7443036607623763, -0.2645870199820597, -0.2267761201999947, -0.8038289467483778, -0.40918495655202136, 0.28750048020302654, -0.43146501430556217, -0.33689220152605126, 0.04200129268063346, -0.31787259546777746, 0.02490148299691053, -0.01820318067745952, 0.20402978086605317, 0.606280445960542, -0.19574291406447142, 0.29088279688603835, 0.14404384583804397, 0.42534147911589937, 0.897517859653725, -0.049357397831942595, 0.6139076104807604, 0.5865374436116995, -0.9989801080617817, -0.6159646914995223, 0.1550026072695312]::DOUBLE[]) > 0 THEN 16 ELSE 0 END + CASE WHEN list_dot_product(qv, [-0.39414401664977217, 0.06319646966199466, -0.6434521897349612, -0.3062030645353627, 0.3776154167843986, -0.10947833888229497, 0.7515626213221576, 0.15103074732498767, 0.9084576780224001, -0.7091787796642656, -0.8683300382320449, 0.053627792598289314, -0.29561443248325703, -0.6753853684984977, -0.04420422184784367, -0.13222250273542335, 0.837387498864105, 0.04987361325173323, -0.5190415915850697, -0.26747348832998596, -0.7444738065778584, -0.3412717675868028, 0.46562736559691986, 0.5538889607528195, -0.29781824661591927, -0.9331652223136204, 0.04027516811016851, 0.2035343497993818, -0.7065002740663677, 0.21050585022817891, -0.5489701853940647, 0.929727701214113, -0.6311738559802009, 0.2869546706130952, 0.03973091485364488, -0.8615927196538331, -0.6112377240827784, -0.468259809976041, 0.9726056575577431, 0.888318842581935, 0.6360836506455876, -0.841450172142201, -0.442920027943951, 0.18639024660877723, -0.19764067657730144, -0.2832910820512805, 0.5731961777016332, 0.2632567398102117, 0.37527590603372696, 0.4009007080113165, -0.4583725970385636, 0.5719173040913119, -0.6247789009807494, -0.703744509108486, 0.4705519704453862, -0.7004990066006259, -0.7641159006723799, 0.47232333709855934, -0.9241254436918294, 0.21913966000683782, -0.19518033230149157, -0.42708135091261257, -0.540392258535807, 0.05616199990281001]::DOUBLE[]) > 0 THEN 32 ELSE 0 END) AS qb_1,
           (CASE WHEN list_dot_product(qv, [0.013278374713839192, 0.03626206594488912, 0.4323146413504433, 0.8214454739263348, 0.7013824516050451, -0.6561429301218479, -0.33404932668568377, 0.5422281087205751, -0.10682887479620828, -0.6120071984177999, 0.2514580674361693, -0.8538189985616826, -0.6679610670057236, 0.36830744628052137, 0.9199364996062012, 0.6985603461368648, 0.7812869432813201, 0.6974305017748621, 0.22296844501864488, 0.4383501756321191, 0.5714112650813288, 0.21385363107321154, 0.9150858456979851, -0.491836243747766, -0.9244931093229799, 0.9467696245361736, -0.8918356497146154, 0.14229468330150508, -0.12143894588320292, -0.5504381245831129, 0.8284818425989604, 0.06534538223057895, -0.08508630638157133, 0.38857311933446326, 0.05973997911082907, 0.4413953253360001, -0.35440421040198977, 0.17883714065796363, -0.25061671039557043, -0.4709881753386659, -0.345826990955426, -0.5870373068333874, 0.46763535104428744, 0.40621319956537305, -0.061121438298101904, -0.6583509525869347, 0.12680993700656784, 0.6546538733774485, -0.42796214782583764, 0.3385353336265724, -0.5923405638426118, 0.1267097626648095, 0.10857218692705128, 0.4663628994228366, -0.8199016653648254, 0.6477185527550795, -0.14569677781930168, 0.9587606113669915, -0.7075455407823077, -0.7407893002492324, -0.7427592497650921, 0.15277874784294698, 0.4569246582820232, 0.23524819575715306]::DOUBLE[]) > 0 THEN 1 ELSE 0 END + CASE WHEN list_dot_product(qv, [-0.5967477576205236, 0.9050721528556394, -0.5386972435982675, 0.9031569277622662, 0.6414990819172863, -0.5815412601272874, 0.6690695939892977, -0.3648358955693972, -0.2005713501253723, 0.7561061367039501, 0.9869853735005216, 0.23288423462948216, -0.5965050539880035, -0.7117436928204837, -0.7726440035068114, 0.4480299680352735, -0.5816265971695027, 0.09329263324897541, 0.776760058334762, -0.001415923012688114, 0.33089271262125397, -0.3956404328835651, 0.6175239123393343, 0.7224796233773989, 0.20109632220182716, 0.03258311265855962, -0.3810930040831543, 0.501818116202192, -0.9537953677596704, -0.8928367690926162, -0.6856134351413012, 0.8726202091485011, -0.6032715253372358, -0.23811134824108415, -0.8269192301965033, 0.6012874821522662, -0.4558692355424282, 0.7482540604449501, -0.1367324431580781, 0.6379636660377512, 0.14361948539686864, -0.08722444078981395, 0.3098094391078512, 0.9664969579401466, 0.05100599942284689, 0.6069283367671332, 0.5535520019084157, -0.11491162900146423, -0.3514011808697096, 0.9021637227353267, 0.06331475481410531, 0.5812098429303181, 0.11463793658084498, -0.28652212869328997, -0.9829436832352548, -0.5439669037855729, 0.1060945860893927, -0.45317850400303594, 0.07982548339288176, 0.5365698675959174, 0.9185187646098187, -0.01766609670286623, -0.0760376116835989, 0.4240752049322296]::DOUBLE[]) > 0 THEN 2 ELSE 0 END + CASE WHEN list_dot_product(qv, [-0.6499284577764484, 0.33705104657199936, -0.14333173271761435, -0.13991598196156818, 0.5685144575764227, -0.7412759940719901, -0.07383320853083086, 0.7901949163164914, 0.6834762108349157, 0.08038956545095033, -0.14738723738948956, 0.7616294221150608, -0.40377707170535526, -0.3347177823724715, 0.514225319962192, -0.012718406262890225, -0.02388336851917905, -0.1542274972554667, -0.3622990883824405, 0.909786619278312, -0.8960627509573769, 0.09289149586500711, -0.07844642675425328, 0.6375534643356451, 0.33210294244256167, -0.6996489210299097, -0.26239928737058615, 0.8203317739071216, -0.03412072457332527, 0.5795928567701722, 0.8623676117839807, 0.41724921623296085, 0.859469250967581, -0.862958113428626, -0.2115950488419407, 0.3160660134946276, 0.9175522295683594, 0.9656579373132266, 0.596972270757608, -0.7286280777529445, -0.8148859083278956, 0.3605037273531946, 0.9187728838016314, 0.5714485199609591, 0.6348078772091419, 0.9037100454373592, -0.10434824750489391, -0.13296079060827437, -0.08164610628094271, 0.3322563384437309, -0.6130687208892049, 0.41306184098626497, 0.5707853580594184, 0.20324002003942132, 0.49657637060454984, 0.5431881606302142, 0.8721895724430182, -0.08567412261181384, -0.6941304014863972, -0.5451931899840543, 0.35814561304561154, -0.3140274952887644, 0.2720651882430838, 0.32532185326953034]::DOUBLE[]) > 0 THEN 4 ELSE 0 END + CASE WHEN list_dot_product(qv, [-0.5632604432387706, -0.25755037381583124, -0.09484284722179492, -0.7648627151170629, -0.28397056568805346, 0.2955987693397162, -0.9357432012215477, -0.6405574140930851, 0.6484828107685543, 0.31940211964793463, -0.6427318726268021, 0.06854157722714693, 0.8025808071936615, 0.264535339674862, 0.2560252837982093, 0.7890237268862175, 0.7591628821459899, 0.7913997156077224, -0.2512706095097976, -0.9909989855239582, 0.9705134061770186, -0.07494711053296721, -0.6541132794615323, 0.5020098606950103, 0.3019995121981649, -0.6066384617879332, -0.023572437546250047, -0.19584725551084103, -0.25748953762017757, -0.33036528959504996, -0.8410096071334163, 0.1625387685393176, -0.8093007017435703, 0.01469090127344952, -0.6498368582090543, 0.683402976469222, -0.6531690233945275, 0.2593843245098457, -0.9528393935077645, -0.0700628656218355, 0.5795033596219121, -0.44358995880280294, 0.928173383398935, 0.5550307918098341, -0.5304167271748816, -0.9078487104846424, -0.3463021353697786, 0.7980962218909682, -0.41609940104145227, 0.21322766882840272, 0.6505305650631734, -0.8716529784093547, 0.7360956603075071, -0.5224450572566075, -0.5526241055728098, 0.7935787500933884, 0.5608032728608152, 0.15331702164208538, 0.6297423420751362, -0.21011383514830417, -0.49132038817413815, 0.15185783072949466, -0.25883697837528397, 0.8346915595178359]::DOUBLE[]) > 0 THEN 8 ELSE 0 END + CASE WHEN list_dot_product(qv, [0.36095111399598756, -0.8778165777399438, 0.7007357829056511, -0.8067262700144184, -0.19499989129314765, 0.4156021030135164, -0.8342023093061572, 0.17468128593969645, 0.8324957335373955, 0.3705346114582968, -0.7430882661592454, 0.7623916619854025, 0.9800380142296685, -0.846170443251149, -0.37513083542725156, 0.7055261484656754, -0.6265763476552774, 0.4351422337872928, -0.40815766578790014, -0.6434712627155791, 0.6241885033146364, -0.023356223247616326, 0.6846718817007278, 0.599313242312798, -0.22260013670900314, -0.4855151531790045, -0.31980162161526515, -0.1251778430738174, -0.5590336881580302, -0.1552464790260809, 0.03925749279953661, -0.071332342298294, -0.6436592589350802, 0.7607558610341154, 0.7978970030327786, -0.21085463578216468, -0.2951978884066213, 0.6047008767643849, -0.3359902346614778, 0.21735070387228883, 0.11753244047276623, 0.5574461815385667, -0.37746829953061023, -0.21094720374927356, -0.9061254700063855, -0.5652053935771492, 0.5021874743641384, 0.13513600520956381, 0.10026633550752617, -0.8519085744556908, 0.09667937793271197, -0.14296458387264988, 0.1953297058268635, 0.7397354839595842, 0.25045786390864966, 0.7650238837493766, 0.33902485002549776, -0.14959403439616858, 0.4204821807954202, 0.3454551558185839, -0.8272640838045368, -0.10223860351775438, 0.32598265804833026, 0.785339002823138]::DOUBLE[]) > 0 THEN 16 ELSE 0 END + CASE WHEN list_dot_product(qv, [-0.8426318574465639, -0.7405126413906515, 0.33629978169336594, 0.9595986446961566, -0.9055135355430532, -0.18659123424885093, -0.4016100556104949, 0.5882995992047353, -0.9006159166761478, 0.8102197492936676, -0.31143886041016433, 0.2715107473486753, 0.4300220470011902, -0.13493521408646647, -0.15849581014740066, 0.7412277797471687, -0.7726990231165949, 0.15866649479589423, 0.25106930983738285, 0.7120295527015543, -0.2197427932063284, -0.9259184551277445, -0.5016855513687608, 0.6671214320476453, 0.48344533932077405, 0.2739315788479284, -0.15719967959970116, -0.4001572638719074, -0.746832153105179, 0.8498758968274767, -0.023095620343404843, -0.6397854489359526, 0.6488671610971946, 0.07957553047330479, -0.8889253724111956, 0.3857199735669794, -0.747027644049622, -0.5919862950929797, 0.15827952532785594, 0.3062525937291387, 0.34675452541624874, -0.8613381820773993, 0.6482700589622259, 0.23234976305692157, 0.3562025532148496, 0.13946762312837668, 0.8998055592092054, 0.6202943453778158, -0.03378911617925995, 0.5104294640556313, 0.028906898514023283, -0.21137282903186416, 0.5538378813008007, 0.4140659088690821, 0.6206796573731961, -0.48983365587656735, -0.7235449839651527, -0.06643954032378951, 0.5279029518877876, 0.745710358959387, -0.46916682617791594, 0.5384659482186362, 0.6911251806212266, 0.5364379160979313]::DOUBLE[]) > 0 THEN 32 ELSE 0 END) AS qb_2
        FROM (SELECT embedding::DOUBLE[] AS qv FROM embeddings
              WHERE vec_id = 0)
    ),
    c AS (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
           (CASE WHEN list_dot_product(e.embedding::DOUBLE[], [-0.7471385487770168, 0.6076465357074066, -0.3408309999128166, -0.3494814709449052, -0.05075527656021295, 0.1053243053126236, 0.00734196271241605, -0.6852077505615384, -0.5083329434683264, -0.11684360657876058, -0.6187085885968235, -0.6698768368434248, -0.5831742201784632, 0.8158673075463638, -0.15956544662096328, 0.5061660854647034, 0.44112533587089464, -0.03429089641568872, -0.8422300732847382, -0.1333241293873232, -0.7827585830667187, -0.01822199598769736, -0.18139621975843523, 0.23531484984888484, -0.13196826319768273, 0.23500499347660075, -0.8048135993144471, 0.9910416951652163, -0.466980828386777, 0.28424036596836433, -0.2767294939140268, -0.2610787571079467, 0.0007377587024659515, 0.8635727497614367, 0.7035492299263681, -0.9724608433921685, -0.6714766462081694, 0.3764902580457212, -0.4436583873037907, 0.8192919250401891, 0.8387050555150894, 0.02929272308269537, 0.2661407996166347, -0.3516480681954106, 0.6135704727009101, -0.8661419265004131, 0.7189682959561372, 0.12152110831107565, 0.9511792450043217, -0.5357513674465006, 0.49282705435468777, 0.3927325385043272, -0.23991364520009795, 0.777960996104802, 0.1425049742271174, -0.3710325074663451, 0.03662856254881253, -0.005109522748866446, 0.6408939037602182, 0.78613463110268, -0.8008208471752827, 0.6061566852690201, 0.8157589323582326, -0.8572823060856664]::DOUBLE[]) > 0 THEN 1 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [-0.20745834810599906, -0.389483236710645, 0.09849594102688197, 0.19520041017725087, 0.03706946625752172, 0.5202756474928452, 0.8916767552543166, 0.6148296275659453, 0.19727688069672, 0.07118289704747371, -0.40317223610507014, -0.5680336548955638, -0.14559000041036207, -0.22104804925729538, -0.9375820351601838, -0.5371487609809792, -0.36046800031536286, -0.9774874683981949, -0.08356903185857723, 0.0689355715153046, -0.08190771696458765, -0.25231692497518743, -0.13127419920463668, 0.7745717550379052, -0.6609472496561171, -0.27181933676443504, 0.9992951844554059, -0.7924212620811208, 0.5021423028837304, 0.08788451386351559, -0.6813328581099902, -0.46380941105766105, -0.7259171882271358, 0.9426553620042644, -0.4468454737419295, -0.8517753513295498, 0.6027313924771172, -0.5833186860990975, -0.23763386063336955, -0.7855823372553489, -0.5337984677700679, -0.8518136863886019, -0.005432690575310817, 0.5236238187463846, -0.1743299980827181, 0.5597182548530186, -0.28487216005771954, 0.39761079540993705, -0.10670789051145335, -0.10597689679002498, 0.5678333207472268, -0.07877382033843294, 0.385522202041787, 0.2197971459876198, -0.9526918481594588, -0.30659832391224495, 0.06288878592708635, -0.11010223590456514, 0.7427763011252346, 0.28750094048733743, 0.537205818030529, 0.40029118953538423, 0.27804481616038057, 0.42968064090524716]::DOUBLE[]) > 0 THEN 2 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [0.3847903538527455, -0.965668950498978, 0.2940173476692045, 0.5186124234528517, -0.4793296127858804, -0.8821268975828916, 0.35327107608700214, -0.4870510254906063, -0.8029124065786999, -0.8948102072460526, 0.5810959269262217, -0.7248009048025896, -0.1899682236996698, 0.898659386769908, 0.4196806012458498, 0.5873808606566158, -0.040611415801856565, 0.5609563538059579, 0.6040580550737735, -0.40028933745825224, -0.07803701765924431, 0.14315461339207514, 0.6330306621725916, 0.9202686324273917, 0.9515581614421615, 0.26664638752146286, 0.174715490955188, -0.48485521918120467, 0.09678571135899805, -0.11818322819475202, 0.9255329237007961, -0.2255140302518055, -0.27649822588603545, -0.6845429850035811, 0.7543656800306495, 0.4265735435052591, 0.5156827356852409, -0.15369928743980354, 0.2364005243363776, 0.0871536324891522, 0.9589709129449855, -0.7472739375020292, 0.17442048247230613, 0.7066215192807668, 0.7208783577213131, -0.2561823469049487, 0.9968499446749828, 0.9006187991296131, 0.09386400818523954, 0.7112696072646654, -0.8249161574780918, 0.15319083686756274, -0.5968492388735145, -0.23087604570153886, -0.3349092200934525, 0.2682778265015322, -0.14837423259364846, -0.910271985703888, 0.9672965596359455, -0.09005802577297561, -0.15570155770144944, 0.941674342341206, -0.8561892172784363, -0.3363728969114782]::DOUBLE[]) > 0 THEN 4 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [0.6569574785040742, 0.928231467295553, -0.4441271193523817, 0.8651268970658972, 0.2863517425584581, -0.8061009842755322, 0.9172529217673482, 0.9974896094327768, -0.7442453886478397, -0.7720106809848685, -0.40627795304153336, 0.5627075472913246, 0.4955838266611663, -0.6394506677424846, 0.5837018204811193, -0.6392640779608462, 0.967865507938398, -0.45523883470200843, 0.14280212741630027, 0.5467290652057668, -0.3225670168183342, -0.28803516877174606, 0.2427055399311473, -0.7905740755783012, 0.37856107479508294, -0.5035177379800582, -0.8780920031784885, -0.6413166749930286, 0.09901518899460027, 0.6650101537731556, 0.5919526105089581, -0.9036022317308828, 0.680430827651477, -0.024554241187474513, 0.1123553577121299, 0.9912022817105652, 0.06321344050978528, -0.5684179542051997, 0.1328414892157337, 0.03950813176834145, -0.9345483439839011, 0.3976963468052013, -0.9667159500096351, 0.735548304099801, -0.8073750094245331, 0.23396525412183888, 0.29449883515596587, 0.6873951485756931, -0.88484583062671, 0.8109245635632161, -0.46024702514888294, -0.23421573711521748, -0.7583084509523782, -0.5299039256360876, -0.22445660602770268, -0.17946674758056735, -0.7421550236173728, -0.2641184541741216, 0.7905128271372746, 0.7175519410783553, 0.5709085389782169, 0.08685101948916851, -0.009886274391412653, 0.42904644651197676]::DOUBLE[]) > 0 THEN 8 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [-0.2842951215673202, 0.9808269734735833, 0.14268915945880445, 0.7624837448240229, 0.30140110622938465, -0.6891038820492525, 0.3275809872548292, 0.5211401365009996, 0.8710114986535646, 0.27889793527733464, -0.9526546070460695, 0.7114182526990058, -0.24932415989483514, 0.9101934106172329, 0.563593607888849, 0.742826758252259, -0.3682652884329978, -0.858383777682084, 0.970672169222343, 0.666861510019126, 0.9888327833390813, -0.7860478867731847, -0.4925692992329923, 0.6229102099895707, 0.049094406479368136, -0.20043800259047873, 0.22840545650361577, -0.3788120629521555, 0.2477926235155914, 0.4493225869920481, -0.7925021811893624, 0.637839909875112, 0.7073882540338099, 0.39201190233083083, 0.8369412563901126, 0.925640186415738, 0.31651492176764484, -0.2876452192621545, 0.502745153367937, -0.728743382347536, -0.6467064804368855, 0.9890015780614436, 0.7698104060338546, -0.6074227093547693, -0.5188735695875614, -0.2977246350339753, 0.8240281225837591, -0.05113341984829667, -0.7360115264430811, 0.901711540449512, -0.133085739287631, 0.5510241456047564, -0.9827688139057796, 0.868778687911473, 0.33130772986342727, -0.47693619207328863, 0.511658108206301, -0.05537024629638132, -0.5191969764593054, 0.8823600651429371, 0.00033897102793578604, 0.10427838739419082, 0.442087958952625, -0.47533378828407535]::DOUBLE[]) > 0 THEN 16 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [0.05434382414701955, 0.8669055807146411, 0.3767958388367114, 0.4279952262331179, -0.3392556308881496, -0.032365443515739, -0.0952647017451902, -0.28623810455475995, 0.7175312727209482, -0.2285773086221986, 0.5747787839460745, -0.1642551621520968, 0.9787490880322958, 0.7841644770894711, 0.07008736645171343, 0.9943272147819846, 0.4474740208448049, -0.05891926829242766, 0.710847506992478, 0.7530234706384737, 0.7307951800506114, 0.24337491995413907, -0.5670597174373994, 0.44065648945799385, 0.9209181674473874, -0.14026202347516936, 0.23775001582003807, 0.8072259634706711, -0.6661683950275563, -0.42886419637111883, 0.9251552495552753, 0.4992408513641784, 0.08878512694240337, 0.4943338107528856, 0.9683872021184856, -0.10890541287464561, -0.475447804115935, -0.34453332485910215, -0.21306821021237, -0.5296149085652684, 0.9254127758749262, -0.8215621622070025, 0.46588988514987184, 0.1404307301606329, -0.7514839063694525, -0.7060497872309377, 0.24658679619406088, -0.0937808657573923, 0.7843409282467135, 0.2913719519670015, -0.9456520925911505, -0.6447925627855119, 0.1966043167377003, 0.17844507291394573, 0.32042428351757635, -0.9111643573246845, -0.8046868173796072, -0.988913785479092, -0.3761538392714463, -0.3074310389457112, 0.07880616157493292, 0.6073713499561386, 0.22809030230715943, -0.4241139162923112]::DOUBLE[]) > 0 THEN 32 ELSE 0 END) AS bucket_0,
           (CASE WHEN list_dot_product(e.embedding::DOUBLE[], [0.6330699129684112, -0.6780456991738522, -0.9542581792811867, 0.2359820014907148, 0.325313587522416, -0.2754093124046122, -0.1633536819866338, -0.0714898209204815, -0.3075809091322673, -0.36442540249828026, 0.816374739419673, 0.23815208229744633, 0.3744323564079066, -0.4079126230865573, -0.6198144735073811, -0.3976367841992159, 0.6112061395761073, -0.6684301973204133, 0.6903691858669534, 0.1525130231223979, 0.894326341007305, -0.902184182457243, 0.366844812969775, 0.8717393030505594, 0.4717693137396688, -0.4091126909936128, 0.15167537548546872, -0.4333318107666393, 0.7057901128650099, -0.1330988793073743, 0.2758761743424667, 0.9021333125613162, 0.9578257261604473, -0.37392706545205, 0.3816446045185986, -0.26553275902808426, 0.4870595716949204, 0.27766369935184243, -0.3471375488496805, -0.8258481251492384, -0.7535609677201682, -0.278872291875346, 0.3668880753304611, 0.02728256568498133, 0.2762245172014042, 0.23775356045632612, 0.4228891164813524, 0.388087490844262, -0.7383914514107579, -0.09860801690996412, 0.9502432452560379, 0.25972115058456824, 0.9343292708634767, -0.37783805223618083, -0.3386983455688539, -0.8616569773556327, -0.05453410763524458, -0.5231744556909375, 0.9666741814889552, -0.9773273345732763, -0.7717900484701874, -0.6205322834440165, -0.3636582046798721, 0.6889829448357434]::DOUBLE[]) > 0 THEN 1 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [-0.4021030528632613, -0.7422055419275029, 0.7798993487143073, 0.5491786689697584, 0.339284274087404, -0.030632806317221095, -0.2196268253781929, -0.875003134001726, -0.0016472347143261512, -0.5863554831242881, -0.7080934313022743, -0.16757471013304082, -0.37104752719918277, -0.4663958710388896, 0.1448869806665023, -0.0445593964728529, -0.4710472987424328, 0.5579025824253903, 0.34659551323809246, -0.9662401757486918, 0.12449249782833327, -0.32397867892937626, 0.24312485656734895, 0.7485256892076522, -0.22992546372714506, 0.8803818879470624, 0.30910109018612575, -0.14530157293946444, 0.77417346756203, 0.5975238723854497, 0.31652685337435416, 0.20440539904542, -0.6645943567821857, -0.6477279931184099, 0.3631176480307836, -0.1252439345886418, -0.9265689215326555, 0.08246768717292619, -0.18718315189572377, -0.07380933560879877, 0.8049105088134003, -0.4695190635892079, -0.8478116257337298, 0.7450603883432656, 0.9383380006700643, -0.4166767041899241, 0.13433992092534797, -0.8586504167957636, -0.22905453569058143, -0.6019065870273491, 0.31557403778066595, -0.7487819887040574, 0.2500800693113159, -0.03336249135283509, 0.03218223430264322, -0.42528261384890886, 0.08449168600823964, 0.7183596300461994, -0.5886991077409418, -0.5879645959583726, 0.727862291320174, 0.19131254641625905, 0.10100360223839089, -0.5731220770812615]::DOUBLE[]) > 0 THEN 2 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [0.8674309480381486, 0.6856910480365106, -0.924657192524205, 0.18934822074564184, -0.9554075776047287, 0.18829855417255925, -0.8602810662219144, 0.1515719454129425, -0.059718097871892195, 0.592789679102449, 0.21685434476836618, -0.9815857413437644, 0.7031273522974875, 0.2819708021987184, -0.5330470393959791, -0.7126687728031372, -0.03224739216051786, -0.7966355717247544, -0.8791205166543334, -0.7452513590899701, 0.5129501156916894, 0.11802305462854124, -0.7227078822908308, -0.22108895161848163, -0.3581694480576383, -0.21650126675422343, -0.043841898207699015, 0.16773827736295854, 0.03133249339283628, 0.23070481428771017, -0.1060497322576116, 0.09586759299057768, 0.2914855125407727, -0.7737505492161036, -0.7286146844056456, -0.6286802215000566, 0.7166174826268001, -0.5940206750632884, 0.41668639754699277, 0.6792627773681039, -0.9279574976914551, -0.1933851050744172, 0.5465966831369686, -0.36096498037913705, 0.6778431174652275, 0.3237638492662054, 0.4462508485850445, 0.38382900426066935, 0.006108950952148362, -0.47823702714580185, 0.2810075608163516, -0.7168736610730861, 0.986968059592952, -0.013818012831058768, -0.9191664247444513, -0.5942670064341269, -0.6380923300753152, 0.5020269458421491, 0.13658307907477418, 0.6823743921214851, 0.101222027672081, 0.3138234235262207, 0.7079379854823238, -0.005525521820973878]::DOUBLE[]) > 0 THEN 4 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [0.046848517632651854, -0.6646594532601391, -0.26948498328708836, -0.9498679090255828, -0.9988094115647976, -0.255251107467908, 0.9907548602729002, -0.8215339023301542, -0.04788128893964272, 0.773695719331533, 0.47549508716583233, 0.31562456225923574, -0.3509176830725861, 0.8125423359661887, 0.4198635521396643, -0.9251201755373144, 0.8635141950421938, -0.831919559547143, -0.05423424104674868, -0.22213496015909573, -0.6760268053206577, 0.8185088603476434, -0.2057038697651925, -0.1442821074416455, 0.3402802934966238, -0.5550780998839957, 0.5491677796376309, 0.5814180347480653, 0.9207628256872114, 0.16732243208905273, -0.12452849831222912, 0.6294682684042174, -0.06443493704604664, -0.004931669957012441, -0.2687407502484621, -0.1626973709101064, -0.29497779144237113, -0.154516814847677, 0.5900010478539846, 0.984722633073253, -0.17752249218099447, 0.9770531940011993, 0.9807287166946499, -0.3547104520451825, -0.6688958682997074, -0.3369417281814018, 0.9740983498930937, 0.7427456852333307, -0.6504726158340811, -0.4879238838041906, 0.0951417699571453, 0.44706564223771394, 0.9888936046775645, 0.47382550855365246, 0.6114596441997437, 0.3070560012564105, -0.09067587537827893, 0.9445992837339818, 0.7101275846062054, 0.2537190529650255, 0.039794075402039386, 0.1193544251093317, -0.13436162638334836, -0.36813099698509355]::DOUBLE[]) > 0 THEN 8 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [0.03832799621433369, 0.05150519786681973, 0.42171247118222777, -0.022121262595197755, -0.9467993925318815, -0.13675088951786818, -0.253310661025664, 0.3479107112203479, -0.14824638390451983, -0.6752837266321843, -0.8478714366026574, 0.7369049573422042, -0.6346430728325834, 0.03201148368304185, 0.09423138623079885, -0.2758235466410328, 0.5025791819558625, 0.7883792280526045, -0.7187427482827786, 0.011695123651773498, -0.19348935667314116, 0.5952979449895994, 0.0960512912338678, -0.38888827384881564, -0.0867528651148175, 0.6570234221152584, -0.04569808255582475, 0.7480050469870134, -0.15562053232121953, -0.8529619460170164, -0.3766223441949129, 0.28325378378840904, -0.9681355024506352, -0.423616118317527, -0.1825808702885544, 0.3573927753167865, 0.010658516680511765, -0.8414721712488847, 0.08337745935322971, 0.7443036607623763, -0.2645870199820597, -0.2267761201999947, -0.8038289467483778, -0.40918495655202136, 0.28750048020302654, -0.43146501430556217, -0.33689220152605126, 0.04200129268063346, -0.31787259546777746, 0.02490148299691053, -0.01820318067745952, 0.20402978086605317, 0.606280445960542, -0.19574291406447142, 0.29088279688603835, 0.14404384583804397, 0.42534147911589937, 0.897517859653725, -0.049357397831942595, 0.6139076104807604, 0.5865374436116995, -0.9989801080617817, -0.6159646914995223, 0.1550026072695312]::DOUBLE[]) > 0 THEN 16 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [-0.39414401664977217, 0.06319646966199466, -0.6434521897349612, -0.3062030645353627, 0.3776154167843986, -0.10947833888229497, 0.7515626213221576, 0.15103074732498767, 0.9084576780224001, -0.7091787796642656, -0.8683300382320449, 0.053627792598289314, -0.29561443248325703, -0.6753853684984977, -0.04420422184784367, -0.13222250273542335, 0.837387498864105, 0.04987361325173323, -0.5190415915850697, -0.26747348832998596, -0.7444738065778584, -0.3412717675868028, 0.46562736559691986, 0.5538889607528195, -0.29781824661591927, -0.9331652223136204, 0.04027516811016851, 0.2035343497993818, -0.7065002740663677, 0.21050585022817891, -0.5489701853940647, 0.929727701214113, -0.6311738559802009, 0.2869546706130952, 0.03973091485364488, -0.8615927196538331, -0.6112377240827784, -0.468259809976041, 0.9726056575577431, 0.888318842581935, 0.6360836506455876, -0.841450172142201, -0.442920027943951, 0.18639024660877723, -0.19764067657730144, -0.2832910820512805, 0.5731961777016332, 0.2632567398102117, 0.37527590603372696, 0.4009007080113165, -0.4583725970385636, 0.5719173040913119, -0.6247789009807494, -0.703744509108486, 0.4705519704453862, -0.7004990066006259, -0.7641159006723799, 0.47232333709855934, -0.9241254436918294, 0.21913966000683782, -0.19518033230149157, -0.42708135091261257, -0.540392258535807, 0.05616199990281001]::DOUBLE[]) > 0 THEN 32 ELSE 0 END) AS bucket_1,
           (CASE WHEN list_dot_product(e.embedding::DOUBLE[], [0.013278374713839192, 0.03626206594488912, 0.4323146413504433, 0.8214454739263348, 0.7013824516050451, -0.6561429301218479, -0.33404932668568377, 0.5422281087205751, -0.10682887479620828, -0.6120071984177999, 0.2514580674361693, -0.8538189985616826, -0.6679610670057236, 0.36830744628052137, 0.9199364996062012, 0.6985603461368648, 0.7812869432813201, 0.6974305017748621, 0.22296844501864488, 0.4383501756321191, 0.5714112650813288, 0.21385363107321154, 0.9150858456979851, -0.491836243747766, -0.9244931093229799, 0.9467696245361736, -0.8918356497146154, 0.14229468330150508, -0.12143894588320292, -0.5504381245831129, 0.8284818425989604, 0.06534538223057895, -0.08508630638157133, 0.38857311933446326, 0.05973997911082907, 0.4413953253360001, -0.35440421040198977, 0.17883714065796363, -0.25061671039557043, -0.4709881753386659, -0.345826990955426, -0.5870373068333874, 0.46763535104428744, 0.40621319956537305, -0.061121438298101904, -0.6583509525869347, 0.12680993700656784, 0.6546538733774485, -0.42796214782583764, 0.3385353336265724, -0.5923405638426118, 0.1267097626648095, 0.10857218692705128, 0.4663628994228366, -0.8199016653648254, 0.6477185527550795, -0.14569677781930168, 0.9587606113669915, -0.7075455407823077, -0.7407893002492324, -0.7427592497650921, 0.15277874784294698, 0.4569246582820232, 0.23524819575715306]::DOUBLE[]) > 0 THEN 1 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [-0.5967477576205236, 0.9050721528556394, -0.5386972435982675, 0.9031569277622662, 0.6414990819172863, -0.5815412601272874, 0.6690695939892977, -0.3648358955693972, -0.2005713501253723, 0.7561061367039501, 0.9869853735005216, 0.23288423462948216, -0.5965050539880035, -0.7117436928204837, -0.7726440035068114, 0.4480299680352735, -0.5816265971695027, 0.09329263324897541, 0.776760058334762, -0.001415923012688114, 0.33089271262125397, -0.3956404328835651, 0.6175239123393343, 0.7224796233773989, 0.20109632220182716, 0.03258311265855962, -0.3810930040831543, 0.501818116202192, -0.9537953677596704, -0.8928367690926162, -0.6856134351413012, 0.8726202091485011, -0.6032715253372358, -0.23811134824108415, -0.8269192301965033, 0.6012874821522662, -0.4558692355424282, 0.7482540604449501, -0.1367324431580781, 0.6379636660377512, 0.14361948539686864, -0.08722444078981395, 0.3098094391078512, 0.9664969579401466, 0.05100599942284689, 0.6069283367671332, 0.5535520019084157, -0.11491162900146423, -0.3514011808697096, 0.9021637227353267, 0.06331475481410531, 0.5812098429303181, 0.11463793658084498, -0.28652212869328997, -0.9829436832352548, -0.5439669037855729, 0.1060945860893927, -0.45317850400303594, 0.07982548339288176, 0.5365698675959174, 0.9185187646098187, -0.01766609670286623, -0.0760376116835989, 0.4240752049322296]::DOUBLE[]) > 0 THEN 2 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [-0.6499284577764484, 0.33705104657199936, -0.14333173271761435, -0.13991598196156818, 0.5685144575764227, -0.7412759940719901, -0.07383320853083086, 0.7901949163164914, 0.6834762108349157, 0.08038956545095033, -0.14738723738948956, 0.7616294221150608, -0.40377707170535526, -0.3347177823724715, 0.514225319962192, -0.012718406262890225, -0.02388336851917905, -0.1542274972554667, -0.3622990883824405, 0.909786619278312, -0.8960627509573769, 0.09289149586500711, -0.07844642675425328, 0.6375534643356451, 0.33210294244256167, -0.6996489210299097, -0.26239928737058615, 0.8203317739071216, -0.03412072457332527, 0.5795928567701722, 0.8623676117839807, 0.41724921623296085, 0.859469250967581, -0.862958113428626, -0.2115950488419407, 0.3160660134946276, 0.9175522295683594, 0.9656579373132266, 0.596972270757608, -0.7286280777529445, -0.8148859083278956, 0.3605037273531946, 0.9187728838016314, 0.5714485199609591, 0.6348078772091419, 0.9037100454373592, -0.10434824750489391, -0.13296079060827437, -0.08164610628094271, 0.3322563384437309, -0.6130687208892049, 0.41306184098626497, 0.5707853580594184, 0.20324002003942132, 0.49657637060454984, 0.5431881606302142, 0.8721895724430182, -0.08567412261181384, -0.6941304014863972, -0.5451931899840543, 0.35814561304561154, -0.3140274952887644, 0.2720651882430838, 0.32532185326953034]::DOUBLE[]) > 0 THEN 4 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [-0.5632604432387706, -0.25755037381583124, -0.09484284722179492, -0.7648627151170629, -0.28397056568805346, 0.2955987693397162, -0.9357432012215477, -0.6405574140930851, 0.6484828107685543, 0.31940211964793463, -0.6427318726268021, 0.06854157722714693, 0.8025808071936615, 0.264535339674862, 0.2560252837982093, 0.7890237268862175, 0.7591628821459899, 0.7913997156077224, -0.2512706095097976, -0.9909989855239582, 0.9705134061770186, -0.07494711053296721, -0.6541132794615323, 0.5020098606950103, 0.3019995121981649, -0.6066384617879332, -0.023572437546250047, -0.19584725551084103, -0.25748953762017757, -0.33036528959504996, -0.8410096071334163, 0.1625387685393176, -0.8093007017435703, 0.01469090127344952, -0.6498368582090543, 0.683402976469222, -0.6531690233945275, 0.2593843245098457, -0.9528393935077645, -0.0700628656218355, 0.5795033596219121, -0.44358995880280294, 0.928173383398935, 0.5550307918098341, -0.5304167271748816, -0.9078487104846424, -0.3463021353697786, 0.7980962218909682, -0.41609940104145227, 0.21322766882840272, 0.6505305650631734, -0.8716529784093547, 0.7360956603075071, -0.5224450572566075, -0.5526241055728098, 0.7935787500933884, 0.5608032728608152, 0.15331702164208538, 0.6297423420751362, -0.21011383514830417, -0.49132038817413815, 0.15185783072949466, -0.25883697837528397, 0.8346915595178359]::DOUBLE[]) > 0 THEN 8 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [0.36095111399598756, -0.8778165777399438, 0.7007357829056511, -0.8067262700144184, -0.19499989129314765, 0.4156021030135164, -0.8342023093061572, 0.17468128593969645, 0.8324957335373955, 0.3705346114582968, -0.7430882661592454, 0.7623916619854025, 0.9800380142296685, -0.846170443251149, -0.37513083542725156, 0.7055261484656754, -0.6265763476552774, 0.4351422337872928, -0.40815766578790014, -0.6434712627155791, 0.6241885033146364, -0.023356223247616326, 0.6846718817007278, 0.599313242312798, -0.22260013670900314, -0.4855151531790045, -0.31980162161526515, -0.1251778430738174, -0.5590336881580302, -0.1552464790260809, 0.03925749279953661, -0.071332342298294, -0.6436592589350802, 0.7607558610341154, 0.7978970030327786, -0.21085463578216468, -0.2951978884066213, 0.6047008767643849, -0.3359902346614778, 0.21735070387228883, 0.11753244047276623, 0.5574461815385667, -0.37746829953061023, -0.21094720374927356, -0.9061254700063855, -0.5652053935771492, 0.5021874743641384, 0.13513600520956381, 0.10026633550752617, -0.8519085744556908, 0.09667937793271197, -0.14296458387264988, 0.1953297058268635, 0.7397354839595842, 0.25045786390864966, 0.7650238837493766, 0.33902485002549776, -0.14959403439616858, 0.4204821807954202, 0.3454551558185839, -0.8272640838045368, -0.10223860351775438, 0.32598265804833026, 0.785339002823138]::DOUBLE[]) > 0 THEN 16 ELSE 0 END + CASE WHEN list_dot_product(e.embedding::DOUBLE[], [-0.8426318574465639, -0.7405126413906515, 0.33629978169336594, 0.9595986446961566, -0.9055135355430532, -0.18659123424885093, -0.4016100556104949, 0.5882995992047353, -0.9006159166761478, 0.8102197492936676, -0.31143886041016433, 0.2715107473486753, 0.4300220470011902, -0.13493521408646647, -0.15849581014740066, 0.7412277797471687, -0.7726990231165949, 0.15866649479589423, 0.25106930983738285, 0.7120295527015543, -0.2197427932063284, -0.9259184551277445, -0.5016855513687608, 0.6671214320476453, 0.48344533932077405, 0.2739315788479284, -0.15719967959970116, -0.4001572638719074, -0.746832153105179, 0.8498758968274767, -0.023095620343404843, -0.6397854489359526, 0.6488671610971946, 0.07957553047330479, -0.8889253724111956, 0.3857199735669794, -0.747027644049622, -0.5919862950929797, 0.15827952532785594, 0.3062525937291387, 0.34675452541624874, -0.8613381820773993, 0.6482700589622259, 0.23234976305692157, 0.3562025532148496, 0.13946762312837668, 0.8998055592092054, 0.6202943453778158, -0.03378911617925995, 0.5104294640556313, 0.028906898514023283, -0.21137282903186416, 0.5538378813008007, 0.4140659088690821, 0.6206796573731961, -0.48983365587656735, -0.7235449839651527, -0.06643954032378951, 0.5279029518877876, 0.745710358959387, -0.46916682617791594, 0.5384659482186362, 0.6911251806212266, 0.5364379160979313]::DOUBLE[]) > 0 THEN 32 ELSE 0 END) AS bucket_2
        FROM embeddings e WHERE e.vec_id <> 0
    )
    SELECT c.vec_id,
           round(list_dot_product(c.v, q.qv)
                 / (sqrt(list_dot_product(c.v, c.v))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
    FROM c, q
    WHERE bit_count(xor(c.bucket_0, q.qb_0)) <= 2 OR bit_count(xor(c.bucket_1, q.qb_1)) <= 2 OR bit_count(xor(c.bucket_2, q.qb_2)) <= 2
    ORDER BY cos_sim DESC, c.vec_id ASC LIMIT 10
    """,
    doc="Sign-random-projection LSH top-k (6 bits × 3 tables, multi-probe "
    "radius 2): near-boundary sign flips are recovered by probing adjacent "
    "buckets instead of adding tables. The buckets are DETERMINISTIC "
    "(fixed LCG hyperplanes, sign tests), so the oracle replays the "
    "projections with the plane literals inlined and the driver "
    "value-hashes the result; pytest additionally asserts recall vs "
    "brute force (tests/test_llm_ops.py).",
)
def knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vec(spark, sf_dir, 0)
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    indexed = similarity.lsh_index(emb, dim=len(q), bits=6, n_tables=3)
    return similarity.lsh_topk(indexed, q, k=10, bits=6, n_tables=3, probe_radius=2)


@query(
    "knn_ivf",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
               WHERE vec_id = 0),
    cent AS (
        SELECT label, list(m ORDER BY pos) AS centroid
        FROM (
            SELECT e.label, u.pos, avg(e.embedding[u.pos]::DOUBLE) AS m
            FROM embeddings e
            CROSS JOIN (SELECT unnest(range(1, 65)) AS pos) u
            WHERE e.vec_id <> 0
            GROUP BY e.label, u.pos
        ) GROUP BY label
    ),
    best AS (
        SELECT c.label
        FROM cent c, q
        ORDER BY list_dot_product(c.centroid, q.qv)
                 / (sqrt(list_dot_product(c.centroid, c.centroid))
                    * sqrt(list_dot_product(q.qv, q.qv))) DESC
        LIMIT 2
    )
    SELECT e.vec_id,
           round(list_dot_product(e.embedding::DOUBLE[], q.qv)
                 / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos_sim
    FROM embeddings e JOIN best b ON e.label = b.label, q
    WHERE e.vec_id <> 0
    ORDER BY cos_sim DESC, e.vec_id ASC LIMIT 10
    """,
    doc="IVF-flat search: label column as the coarse quantizer cell, "
    "centroids from elementwise aggregation, probe the best 2 cells "
    "only. The whole pipeline is deterministic on real data (centroid "
    "cosines separate cells by far more than float-fold ulps), so the "
    "oracle replays quantizer construction + probing + scoring in SQL; "
    "pytest additionally asserts the probed-cell results equal brute "
    "force restricted to those cells.",
)
def knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = _query_vec(spark, sf_dir, 0)
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    cents = similarity.ivf_centroids(emb, cell_col="label")
    return similarity.ivf_topk(emb, q, cents, k=10, n_probe=2, cell_col="label")


# ---------------------------------------------------------------------------
# Event-time windows + JSON props
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events fixture. ``ts`` is parquet TIMESTAMP (µs), which
    Spark reads as TIMESTAMP_NTZ and DuckDB as naive TIMESTAMP —
    identical wall-clock values on both sides. All downstream window
    bounds are emitted as absolute naive-epoch seconds
    (functions/timeops.py) — tz-independent in both engines."""
    return _t(spark, sf_dir, "events")


@query(
    "events_hourly",
    """
    SELECT floor(epoch(time_bucket(INTERVAL 1 HOUR, ts)))::BIGINT AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling 1-hour event-time windows per type (batch F.window). "
    "In Structured Streaming the same transformation runs with a watermark "
    "(streaming/windows.py, tested against this batch result).",
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.tumbling_agg(_events(spark, sf_dir), "ts", "1 hour", keys=["event_type"])


@query(
    "events_sliding",
    """
    WITH grid AS (
        SELECT floor(epoch(time_bucket(INTERVAL 1 HOUR, ts)))::BIGINT AS window_start,
               value FROM events
        UNION ALL
        SELECT floor(epoch(time_bucket(INTERVAL 1 HOUR, ts, INTERVAL 30 MINUTE)))::BIGINT
               AS window_start,
               value FROM events
    )
    SELECT window_start, count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM grid GROUP BY 1
    """,
    doc="Sliding windows (1 h window, 30 min slide): every event lands in "
    "two windows. Oracle reconstructs the overlap as a union of two offset "
    "tumbling grids — semantics identical to Spark's window(ts, 1h, 30m).",
)
def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.sliding_agg(_events(spark, sf_dir), "ts", "1 hour", "30 minutes")


@query(
    "events_sessionize",
    """
    WITH g AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > 1800
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
        SELECT user_id, ts, value,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING)::BIGINT AS session_seq
        FROM g
    )
    SELECT user_id, session_seq, count(*) AS n_events,
           floor(epoch(min(ts)))::BIGINT AS session_start,
           floor(epoch(max(ts)))::BIGINT AS session_end,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, session_seq
    """,
    doc="Gap-based sessionization (30 min) via lag + running sum — the "
    "batch twin of Structured Streaming session windows; custom stateful "
    "logic expressed relationally so it stays oracle-verifiable. Gaps are "
    "measured on second-truncated epochs (identical semantics in both "
    "engines, unlike timestampdiff/date_diff).",
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.sessionize(_events(spark, sf_dir), "ts", "user_id", 30)


@query(
    "events_props_typed",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) > 80
    """,
    doc="Typed semi-structured parse: from_json with a DECLARED schema "
    "(struct<k:int>) instead of per-path string extraction — one parse "
    "per row regardless of field count, the scale-correct shape when "
    "many fields are read.",
)
def events_props_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    parsed = ev.select(
        "event_id", F.from_json("props", "k INT").alias("p")
    ).select("event_id", F.col("p.k").alias("k"))
    return parsed.where(F.col("k") > 80)


@query(
    "events_hypertable_rollup",
    """
    WITH hourly AS (
        SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS bucket_start,
               count(*) AS n_events, sum(value) AS sum_value
        FROM events GROUP BY 1
    )
    SELECT 'hour' AS granularity, bucket_start, n_events,
           round(sum_value, 2) AS sum_value
    FROM hourly
    UNION ALL
    SELECT 'day', (floor(bucket_start / 86400) * 86400)::BIGINT,
           sum(n_events)::BIGINT, round(sum(sum_value), 2)
    FROM hourly GROUP BY 2
    UNION ALL
    SELECT 'week', (floor(bucket_start / 604800) * 604800)::BIGINT,
           sum(n_events)::BIGINT, round(sum(sum_value), 2)
    FROM hourly GROUP BY 2
    """,
    doc="Hypertable-style multi-granularity rollup (continuous-aggregate "
    "pattern): hour buckets aggregate the raw events ONCE; day and week "
    "buckets re-aggregate FROM the hourly rollup — coarse granularities "
    "never rescan raw data (one fact pass instead of three at 100 TB). "
    "Buckets are floor-epoch aligned in both engines (time_bucket's week "
    "origin differs between engines, so it is avoided).",
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.hypertable_rollup(_events(spark, sf_dir), "ts")


@query(
    "events_range_join_errors_signups",
    """
    SELECT e.event_id, s.event_id AS event_id_right,
           e.user_id,
           (floor(epoch(e.ts)) - floor(epoch(s.ts)))::BIGINT AS gap_s
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
    JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id
     AND abs(floor(epoch(e.ts)) - floor(epoch(s.ts))) <= 3600
    """,
    doc="Range/interval join (Spark has no primitive): error events "
    "paired with same-user signups within ±1 h. Time-bucket blocking "
    "turns the range predicate into an equi-join on (key, bucket) with "
    "±1-bucket probes — bounded per-task pairs even under key skew, "
    "never a per-key cartesian. Gap computed on second-truncated epochs "
    "for exact cross-engine agreement.",
)
def events_range_join_errors_signups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import range_join

    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", "user_id", epoch_seconds("ts").alias("tsec"), "event_type"
    )
    errors = base.where(F.col("event_type") == "error").drop("event_type")
    signups = base.where(F.col("event_type") == "signup").drop("event_type")
    out = range_join(
        errors, signups, on="user_id", left_ts="tsec", right_ts="tsec",
        max_gap=3600,
    )
    return out.select(
        "event_id",
        "event_id_right",
        "user_id",
        (F.col("tsec") - F.col("tsec_right")).alias("gap_s"),
    )


@query(
    "salted_event_user_deviation",
    """
    WITH prof AS (
        SELECT user_id,
               round(avg(value), 6) AS avg_v,
               count(*)::BIGINT AS n_user_events
        FROM events WHERE value IS NOT NULL
        GROUP BY user_id
    )
    SELECT e.event_type,
           count(*)::BIGINT AS n_events,
           sum((e.value > p.avg_v)::INT)::BIGINT AS n_above_user_avg,
           round(sum(e.value - p.avg_v), 4) AS total_deviation
    FROM (SELECT event_type, user_id, value FROM events
          WHERE value IS NOT NULL) e
    JOIN prof p USING (user_id)
    GROUP BY e.event_type
    """,
    doc="Skew-mitigated fact-to-profile enrichment via "
    "operators/joins.salted_join: each fact row draws a deterministic "
    "salt in [0, 8), the per-user profile replicates 8x, and the join "
    "runs on (user_id, salt) — a hot user's events spread over 8 tasks "
    "instead of one straggler, the standard defense when AQE skew "
    "splitting can't reach (broadcast-ineligible dim, Python stages "
    "downstream). Result set is salt-invariant BY CONSTRUCTION, so the "
    "oracle is the plain unsalted join — driver-gating the claim that "
    "salting changes the schedule, never the semantics. Profile means "
    "round 6dp before comparison so both engines compare identical "
    "operands.",
)
def salted_event_user_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import salted_join

    ev = _events(spark, sf_dir).where(F.col("value").isNotNull())
    prof = ev.groupBy("user_id").agg(
        F.round(F.avg("value"), 6).alias("avg_v"),
        F.count(F.lit(1)).cast("bigint").alias("n_user_events"),
    )
    j = salted_join(
        ev.select("event_type", "user_id", "value"), prof, on="user_id",
        n_salts=8,
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum((F.col("value") > F.col("avg_v")).cast("int"))
        .cast("bigint")
        .alias("n_above_user_avg"),
        F.round(F.sum(F.col("value") - F.col("avg_v")), 4).alias(
            "total_deviation"
        ),
    )


@query(
    "events_json_props",
    """
    SELECT event_type,
           count(*) AS n,
           sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured JSON property extraction (get_json_object) + "
    "aggregation — the schema-on-read path for event payloads.",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.round(F.avg(k), 4).alias("avg_k"),
    )


@query(
    "corpus_split_sizes",
    f"""
    WITH b AS (
        SELECT lang,
               {stable_hash64_sql("'split:' || CAST(doc_id AS VARCHAR)")} % 10000 AS bucket
        FROM documents
    )
    SELECT lang,
           sum(CASE WHEN bucket < 8000 THEN 1 ELSE 0 END)::BIGINT AS n_train,
           sum(CASE WHEN bucket >= 8000 AND bucket < 9000 THEN 1 ELSE 0 END)::BIGINT AS n_val,
           sum(CASE WHEN bucket >= 9000 THEN 1 ELSE 0 END)::BIGINT AS n_test
    FROM b GROUP BY lang
    """,
    doc="Content-deterministic train/val/test split (operators/sampling."
    "hash_split): bucket = md5('split:'||key) mod 10000 → 80/10/10 "
    "ranges. Pure function of the key, so assignment survives "
    "re-ingestion, repartitioning, and engine changes (no leakage) — "
    "and is therefore fully oracle-verifiable, unlike Bernoulli sampling.",
)
def corpus_split_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    train, val, test = hash_split(docs, "doc_id", [0.8, 0.1, 0.1])
    parts = [
        train.select("lang").withColumn("part", F.lit("n_train")),
        val.select("lang").withColumn("part", F.lit("n_val")),
        test.select("lang").withColumn("part", F.lit("n_test")),
    ]
    unioned = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return (
        unioned.groupBy("lang")
        .pivot("part", ["n_train", "n_val", "n_test"])
        .agg(F.count(F.lit(1)))
        .select(
            "lang",
            *[F.coalesce(F.col(c), F.lit(0)).cast("bigint").alias(c)
              for c in ("n_train", "n_val", "n_test")],
        )
    )


@query(
    "dedup_clusters",
    f"""
    WITH RECURSIVE {_STAGED_JACCARD_CTES},
    star AS (
        SELECT rep AS id_a, doc_id AS id_b FROM mem
        WHERE doc_id <> rep AND rep IN (SELECT doc_id FROM sizes)
    ),
    pairs AS (
        SELECT id_a, id_b FROM rpairs
        UNION ALL SELECT id_a, id_b FROM star
    ),
    sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    )
    SELECT s AS doc_id, least(s, min(d)) AS cluster_id
    FROM reach GROUP BY s
    """,
    doc="Near-dup clustering, exact-dedup-STAGED: digest groupBy "
    "collapses exact copies, exact-Jaccard pairs (J≥0.8, df<=64 cap) "
    "run over distinct content only, STAR edges (rep→member) re-attach "
    "copies — then connected components via iterative min-label "
    "propagation (O(diameter) join rounds) → (doc_id, cluster_id). "
    "Star edges give the same components as quadratic member-pair "
    "expansion with linear edge count — the 100 TB defense against "
    "duplicate-heavy corpora. The fixpoint is SQL-expressible as a "
    "recursive transitive closure (min reachable id ≡ min-label "
    "fixpoint), so even this iterative operator carries a full "
    "value-hash oracle; union-find equivalence is additionally tested "
    "in tests/test_llm_ops.py. The closure is O(component²) rows — "
    "fine for an oracle at sf0.01, not the 100 TB plan (label "
    "propagation is).",
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.staged_near_dup_clusters(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.8, max_df=64
    )


@query(
    "dedup_clusters_star",
    f"""
    WITH RECURSIVE {_STAGED_JACCARD_CTES},
    star AS (
        SELECT rep AS id_a, doc_id AS id_b FROM mem
        WHERE doc_id <> rep AND rep IN (SELECT doc_id FROM sizes)
    ),
    pairs AS (
        SELECT id_a, id_b FROM rpairs
        UNION ALL SELECT id_a, id_b FROM star
    ),
    sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    )
    SELECT s AS doc_id, least(s, min(d)) AS cluster_id
    FROM reach GROUP BY s
    """,
    doc="Same staged near-dup pipeline as dedup_clusters, but connected "
    "components run as alternating large-star / small-star contraction "
    "(dedup.cluster_pairs_star, Kiveris et al. 2014): O(log n) rounds "
    "on ANY component shape, where min-label propagation needs "
    "O(diameter) — the algorithm to reach for when duplication chains "
    "(A~B~C~...~Z with no direct A~Z similarity) make components deep. "
    "Output contract is identical (cluster_id = component min), so the "
    "oracle is the same recursive transitive closure, and the two "
    "algorithms hash-gate each other through it.",
)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.staged_near_dup_clusters(
        _t(spark, sf_dir, "documents"), k=3, threshold=0.8, max_df=64,
        cc="star",
    )


@query(
    "curation_pipeline",
    f"""
    WITH q AS (
        SELECT doc_id, lang,
               len({_TOKS}) AS n_tok,
               len(regexp_extract_all(text, '{PUNCT_PATTERN}')) AS n_punct,
               length(text) AS n_char,
               md5(text) AS digest
        FROM documents
    ), scored AS (
        SELECT doc_id, lang, digest,
               0.5 * least(n_tok / 64.0, 1.0)
             + 0.5 * (1.0 - round(n_punct / greatest(n_char, 1), 6)) AS score
        FROM q
    ), kept AS (
        SELECT min(doc_id) AS doc_id, min_by(lang, doc_id) AS lang,
               max(score) AS score
        FROM scored
        WHERE score >= 0.6
        GROUP BY digest
    )
    SELECT lang, count(*) AS n_docs, round(avg(score), 6) AS avg_score
    FROM kept GROUP BY lang
    """,
    doc="Composed curation pipeline — the end-to-end shape of a training-"
    "data filter: quality-score → threshold filter → exact dedup "
    "(canonical min-id per digest) → per-language yield stats. One plan; "
    "Catalyst fuses the scoring projection into the scan and the dedup "
    "shuffles digests only.",
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), WS_PATTERN)
    n_tok = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(F.col("text"), F.lit(PUNCT_PATTERN), 0))
    score = 0.5 * F.least(n_tok / 64.0, F.lit(1.0)) + 0.5 * (
        1.0 - F.round(n_punct / F.greatest(F.length("text"), F.lit(1)), 6)
    )
    scored = docs.select(
        "doc_id", "lang", F.md5("text").alias("digest"), score.alias("score")
    ).where(F.col("score") >= 0.6)
    kept = scored.groupBy("digest").agg(
        F.min("doc_id").alias("doc_id"),
        # min_by, not any_value: the lang feeds the final GROUP BY key,
        # so a nondeterministic pick could diverge between engines when
        # identical texts carry different lang labels
        F.min_by("lang", "doc_id").alias("lang"),
        F.max("score").alias("score"),
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("score"), 6).alias("avg_score"),
    )


# ---------------------------------------------------------------------------
# As-of join (events: each error matched to the user's latest prior signup)
# ---------------------------------------------------------------------------


@query(
    "events_asof_last_signup",
    """
    SELECT e.event_id, e.user_id, s.event_id AS signup_event_id
    FROM (SELECT event_id, user_id, epoch_us(ts) AS tus
          FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT event_id, user_id, epoch_us(ts) AS tus
                    FROM events WHERE event_type = 'signup') s
      ON e.user_id = s.user_id AND e.tus >= s.tus
    """,
    doc="As-of join (Spark lacks the primitive): for each error event, "
    "the user's most recent signup at or before it. Implemented as "
    "union-and-carry — tag both sides, one shuffle on the key, sort "
    "within partitions, last(ignorenulls) over an unbounded-preceding "
    "window. Same cost as one sort-merge join; never a range cross-join. "
    "Verified against DuckDB's native ASOF LEFT JOIN on the raw "
    "microsecond timestamps (no truncation on either side).",
)
def events_asof_last_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.joins import asof_join

    raw = _t(spark, sf_dir, "events")  # naive µs timestamps: exact order
    errors = raw.where(F.col("event_type") == "error").select(
        "event_id", "user_id", F.col("ts").alias("tus")
    )
    signups = raw.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"), "user_id", F.col("ts").alias("tus")
    )
    out = asof_join(
        errors, signups, on="user_id", left_ts="tus", right_ts="tus", suffix=""
    )
    return out.select("event_id", "user_id", "signup_event_id")


# ---------------------------------------------------------------------------
# Remaining DQ/profiling parity (V7-V9, A9-A10) + set operations
# ---------------------------------------------------------------------------


@query(
    "cardinality_sketch",
    """
    SELECT count(DISTINCT l_orderkey) AS exact_orders,
           count(DISTINCT l_partkey) AS exact_parts,
           TRUE AS orders_within_bounds,
           TRUE AS parts_within_bounds,
           TRUE AS median_within_bounds,
           TRUE AS p99_within_bounds
    FROM lineitem
    """,
    doc="Approximate profiling, hash-certified — the 100 TB variants "
    "of A4/A10: approx_count_distinct (HyperLogLog++, one pass, no "
    "distinct shuffle) and percentile_approx (Greenwald-Khanna "
    "sketch). Sketch VALUES are engine-private, so the query emits "
    "the exact counts plus deterministic within-bounds booleans: "
    "|approx-exact|/exact <= 5*rsd for the HLLs (deterministic — "
    "register merge is a commutative max; rsd is a standard "
    "deviation not a guarantee, so the margin is generous — a "
    "bounds-break at a new scale factor means re-tuning the "
    "threshold, not an engine bug), and the GK rank guarantee "
    "for the percentiles (rank(value) within target +/- 2/accuracy; "
    "holds for ANY merge order, so the boolean is stable even though "
    "the picked value may vary). The oracle emits the exact counts "
    "and literal TRUE — the sketches' accuracy claims are themselves "
    "the hash-gated facts. Exact aggregates ride along for "
    "certification; the EXACT product twins are cardinality_profile "
    "and iqr_outliers_price.",
)
def cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    # each cardinality rides its own two-stage distinct (partial
    # aggregation, no multi-distinct EXPAND — the naive single agg
    # with two countDistincts triples the scan via Expand); the HLL
    # estimate over the pre-distinct values is identical to one over
    # the raw column (duplicate values never change HLL registers)
    d_orders = li.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("exact_orders"),
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("ao"),
    )
    d_parts = li.select("l_partkey").distinct().agg(
        F.count(F.lit(1)).alias("exact_parts"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("ap"),
    )
    sk = li.agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("am"),
        F.percentile_approx("l_extendedprice", 0.99, 1000).alias(
            "a99"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    # one more codegen pass ranks the picked percentile values against
    # the full column — the GK guarantee is a RANK bound, so the
    # certification measures exactly what the sketch promises
    ranked = (
        li.join(F.broadcast(sk))
        .groupBy("am", "a99", "n")
        .agg(
            F.sum(
                (F.col("l_extendedprice") <= F.col("am")).cast("long")
            ).alias("le_m"),
            F.sum(
                (F.col("l_extendedprice") < F.col("am")).cast("long")
            ).alias("lt_m"),
            F.sum(
                (F.col("l_extendedprice") <= F.col("a99")).cast("long")
            ).alias("le_99"),
            F.sum(
                (F.col("l_extendedprice") < F.col("a99")).cast("long")
            ).alias("lt_99"),
        )
        .join(F.broadcast(d_orders))
        .join(F.broadcast(d_parts))
    )
    eps = 0.002  # 2x the 1/accuracy rank guarantee, margin for ties
    return ranked.select(
        "exact_orders",
        "exact_parts",
        (
            F.abs(F.col("ao") - F.col("exact_orders"))
            / F.col("exact_orders")
            <= F.lit(0.10)
        ).alias("orders_within_bounds"),
        (
            F.abs(F.col("ap") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= F.lit(0.10)
        ).alias("parts_within_bounds"),
        (
            (F.col("le_m") / F.col("n") >= F.lit(0.5) - F.lit(eps))
            & (F.col("lt_m") / F.col("n") <= F.lit(0.5) + F.lit(eps))
        ).alias("median_within_bounds"),
        (
            (F.col("le_99") / F.col("n") >= F.lit(0.99) - F.lit(eps))
            & (F.col("lt_99") / F.col("n") <= F.lit(0.99) + F.lit(eps))
        ).alias("p99_within_bounds"),
    )


@query(
    "iqr_outliers_price",
    """
    WITH b AS (
        SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
               quantile_cont(l_extendedprice, 0.75) AS q3
        FROM lineitem
    )
    SELECT l.l_orderkey, l.l_linenumber,
           round(l.l_extendedprice, 2) AS price
    FROM lineitem l, b
    WHERE l.l_extendedprice < b.q1 - 1.5 * (b.q3 - b.q1)
       OR l.l_extendedprice > b.q3 + 1.5 * (b.q3 - b.q1)
    """,
    doc="V9/A10: IQR outlier detection with quantiles computed IN-PLAN "
    "(EXACT, quantile_cont semantics) by the two-pass "
    "exact_quantiles_scalable: a KLL sketch brackets each rank, then one "
    "scan counts rows per in-bracket distinct value and per gap between "
    "brackets, and exact rank arithmetic reads the answer out — never an "
    "O(distinct) value-count map, no driver round-trip, unlike the "
    "reference's collected approxQuantile (21_EDA.ipynb:2309-2319). "
    "operators/quality.iqr_outliers is the pure-sketch variant when "
    "exactness isn't required.",
)
def iqr_outliers_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    bounds = quality.exact_quantiles_scalable(
        li, "l_extendedprice", [0.25, 0.75]
    ).select(
        (F.col("q_0") - 1.5 * (F.col("q_1") - F.col("q_0"))).alias("lower"),
        (F.col("q_1") + 1.5 * (F.col("q_1") - F.col("q_0"))).alias("upper"),
    )
    return (
        li.join(F.broadcast(bounds))
        .where(
            (F.col("l_extendedprice") < F.col("lower"))
            | (F.col("l_extendedprice") > F.col("upper"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


@query(
    "events_user_completeness",
    """
    SELECT user_id,
           count(DISTINCT floor(epoch(ts) / 86400)::BIGINT) AS n_active_days,
           count(DISTINCT floor(epoch(ts) / 86400)::BIGINT) >= 30 AS is_complete
    FROM events GROUP BY user_id
    """,
    doc="V8 completeness: per-user distinct active epoch-days vs the "
    "expected 30-day span (the reference checks quarters-per-series-year "
    "vs 4, 21_EDA.ipynb:1875-1890). Epoch-day arithmetic keeps it "
    "tz-independent.",
)
def events_user_completeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    epoch_day = F.floor(epoch_seconds("ts") / 86400)
    return ev.groupBy("user_id").agg(
        F.countDistinct(epoch_day).alias("n_active_days"),
        (F.countDistinct(epoch_day) >= 30).alias("is_complete"),
    )


@query(
    "orders_priority_union",
    """
    WITH tagged AS (
        SELECT 'urgent' AS tier, o_totalprice FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        UNION ALL
        SELECT 'normal' AS tier, o_totalprice FROM orders
        WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    )
    SELECT tier, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM tagged GROUP BY tier
    """,
    doc="Set operation (unionByName) composing two filtered branches — "
    "absent from the reference (SURVEY §2.7) but required for pipeline "
    "composition; Catalyst pushes each branch's filter to its own scan.",
)
def orders_priority_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.lit("urgent").alias("tier"), "o_totalprice")
    normal = orders.where(
        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.lit("normal").alias("tier"), "o_totalprice")
    return (
        urgent.unionByName(normal)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "describe_lineitem",
    """
    SELECT count(l_quantity)                  AS qty_count,
           round(avg(l_quantity), 4)          AS qty_mean,
           round(stddev(l_quantity), 4)       AS qty_stddev,
           round(min(l_quantity), 2)          AS qty_min,
           round(max(l_quantity), 2)          AS qty_max,
           round(avg(l_extendedprice), 4)     AS price_mean,
           round(stddev(l_extendedprice), 4)  AS price_stddev,
           round(median(l_extendedprice), 4)  AS price_median
    FROM lineitem
    """,
    doc="A9: describe()-style descriptive statistics as explicit "
    "aggregates (count/mean/stddev/min/max/median) — the reference's "
    "df.describe() profiling (21_EDA.ipynb:2121-2124) with deterministic "
    "aliases and an exact median both engines agree on.",
)
def describe_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("l_quantity").alias("qty_count"),
        F.round(F.avg("l_quantity"), 4).alias("qty_mean"),
        F.round(F.stddev("l_quantity"), 4).alias("qty_stddev"),
        F.round(F.min("l_quantity"), 2).alias("qty_min"),
        F.round(F.max("l_quantity"), 2).alias("qty_max"),
        F.round(F.avg("l_extendedprice"), 4).alias("price_mean"),
        F.round(F.stddev("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.expr("median(l_extendedprice)"), 4).alias("price_median"),
    )


@query(
    "events_value_domain",
    """
    SELECT event_type,
           sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)::BIGINT AS n_negative,
           sum(CASE WHEN value = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value
    FROM events GROUP BY event_type
    """,
    doc="V7 domain/sign checks per event type (the reference's "
    "negative-value and sign-constraint profiling, 21_EDA.ipynb:1376).",
)
def events_value_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.sum((F.col("value") < 0).cast("int")).alias("n_negative"),
        F.sum((F.col("value") == 0).cast("int")).alias("n_zero"),
        F.round(F.min("value"), 2).alias("min_value"),
        F.round(F.max("value"), 2).alias("max_value"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas — rows-only)
# ---------------------------------------------------------------------------


@query(
    "multimodal_inventory",
    """
    SELECT (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT] AS modality,
           count(*) AS n_assets,
           sum(strlen(text))::BIGINT AS total_bytes,
           count(DISTINCT lang) AS n_langs
    FROM documents
    GROUP BY 1
    """,
    doc="Multimodal asset inventory: the deterministic (non-UDF) half of "
    "the multimodal path — binary payload synthesis, typed metadata, "
    "per-modality accounting — oracle-gated; the mapInPandas decode half "
    "is multimodal_features (rows-only). Spark element_at and DuckDB list "
    "indexing are both 1-based, so the modality cycles align verbatim.",
)
def multimodal_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(spark, docs)
    meta = assets.join(
        docs.select("doc_id", "lang"),
        assets.asset_id == F.col("doc_id"),
    )
    return meta.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.countDistinct("lang").alias("n_langs"),
    )


@query(
    "doc_metadata_consistency",
    """
    SELECT count(*) AS n_rows,
           sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)::BIGINT AS n_chars_mismatch,
           sum(CASE WHEN doc_id IS NULL OR text IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_critical,
           count(DISTINCT doc_id) AS n_distinct_ids
    FROM documents
    """,
    doc="Cross-field DQ validation (V-battery extension): stored metadata "
    "(n_chars) must agree with the recomputed value; critical fields "
    "non-null; id uniqueness — one aggregation pass.",
)
def doc_metadata_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("n_chars") != F.length("text")).cast("int")).alias(
            "n_chars_mismatch"
        ),
        F.sum(
            (F.col("doc_id").isNull() | F.col("text").isNull()).cast("int")
        ).alias("n_null_critical"),
        F.countDistinct("doc_id").alias("n_distinct_ids"),
    )


@query(
    "multimodal_features",
    """
    WITH f AS (
        SELECT (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT]
                   AS modality,
               CASE WHEN text IS NULL THEN 0 ELSE strlen(text) END
                   AS n_bytes,
               CASE WHEN text IS NULL THEN NULL ELSE
                   round(list_sum(list_transform(range(0, 16),
                         i -> ('0x' || substr(sha256(text),
                                              (i * 2 + 1)::INT, 2))::BIGINT))
                         / 16.0 / 255.0, 6) END AS feature_mean,
               CASE WHEN text IS NULL THEN 1 ELSE 0 END AS err
        FROM documents
    )
    SELECT modality, count(*) AS n_assets, sum(n_bytes)::BIGINT AS total_bytes,
           round(avg(feature_mean), 6) AS avg_feature,
           sum(err)::BIGINT AS n_errors
    FROM f GROUP BY modality
    """,
    doc="Binary-column multimodal pipeline: documents → synthetic assets "
    "(binary payload + typed metadata) → Arrow-batched mapInPandas feature "
    "extraction with per-asset error isolation → per-modality stats. The "
    "decode step is a deterministic stub (no media libs in container) "
    "derived from the payload's sha256 digest — which DuckDB can replay "
    "byte-for-byte, so even the mapInPandas path carries a value-hash "
    "oracle; the Spark plumbing (schema, batching, error isolation) is "
    "the part under test.",
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(spark, docs)
    feats = multimodal.extract_features(assets, decoder="fake")
    return feats.groupBy("modality").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("feature_mean"), 6).alias("avg_feature"),
        F.sum((F.col("decode_error").isNotNull()).cast("int")).alias("n_errors"),
    )


@query(
    "multimodal_resize_audit",
    """
    WITH a AS (
        SELECT (['image', 'audio', 'video'])[(doc_id % 3 + 1)::INT]
                   AS modality,
               text
        FROM documents
    ),
    r AS (
        SELECT modality,
               CASE WHEN modality = 'image' AND text IS NOT NULL
                    THEN sha256(text || ':resize:64x64') END AS thumb,
               CASE WHEN modality <> 'image' THEN 1 ELSE 0 END AS skipped,
               CASE WHEN modality = 'image' AND text IS NULL
                    THEN 1 ELSE 0 END AS err
        FROM a
    )
    SELECT modality,
           count(*)::BIGINT AS n_assets,
           count(thumb)::BIGINT AS n_resized,
           sum(skipped)::BIGINT AS n_skipped_non_image,
           sum(err)::BIGINT AS n_errors,
           count(DISTINCT thumb)::BIGINT AS n_distinct_thumbs
    FROM r GROUP BY modality
    """,
    doc="Image resize/thumbnail stage (multimodal.resize_assets) — the "
    "third leg of the multimodal battery next to decode and frame "
    "sampling: Arrow-batched mapInPandas over binary payloads, "
    "non-image modalities and null payloads isolated into "
    "resize_error rows (one bad asset never kills the job). The fake "
    "resizer emits the sha256 of (payload || ':resize:WxH') — DuckDB "
    "replays it byte-for-byte, so the resize plumbing (schema, "
    "batching, error taxonomy, distinct-thumbnail accounting) is "
    "value-hash gated; production registers a real Pillow thumbnailer "
    "in RESIZERS without touching the plan.",
)
def multimodal_resize_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    assets = multimodal.synthesize_assets(spark, docs)
    rs = multimodal.resize_assets(assets, w=64, h=64, decoder="fake")
    return rs.groupBy("modality").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_assets"),
        F.count("thumb_sha256").cast("bigint").alias("n_resized"),
        F.sum((F.col("modality") != "image").cast("int"))
        .cast("bigint")
        .alias("n_skipped_non_image"),
        F.sum(
            (
                (F.col("modality") == "image")
                & F.col("resize_error").isNotNull()
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_errors"),
        F.countDistinct("thumb_sha256").cast("bigint").alias(
            "n_distinct_thumbs"
        ),
    )


@query(
    "doc_chunks",
    """
    WITH exploded AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(0, greatest(CAST(floor((length(text) - 1) / 96.0)
                                          AS BIGINT), 0) + 1),
                   i -> struct_pack(
                       chunk_id := i,
                       chunk_text := substring(text, CAST(i * 96 + 1 AS INT), 128)
                   ))) AS ch
        FROM documents
    )
    SELECT doc_id, CAST(ch.chunk_id AS INT) AS chunk_id,
           ch.chunk_text AS chunk_text,
           length(ch.chunk_text) AS chunk_len
    FROM exploded
    """,
    doc="Fixed-window document chunking (text_ops.chunk_fixed): 128-char "
    "windows every 96 chars (overlapping) — the pre-tokenization shape for "
    "LLM training/embedding pipelines. sequence→transform→posexplode, all "
    "codegen, no shuffle; oracle is a correlated generate_series.",
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = text_ops.chunk_fixed(docs, "text", size=128, stride=96)
    return out.select(
        "doc_id", "chunk_id", "chunk_text", F.length("chunk_text").alias("chunk_len")
    )


@query(
    "doc_pii_redaction",
    """
    WITH enriched AS (
        SELECT doc_id,
               text || ' contact user' || doc_id || '@example.com or 10.0.'
                    || doc_id % 256 || '.7 tel 555-867-5309' AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             '(?:\\+?\\d{1,3}[-. ])?(?:\\(\\d{3}\\)|\\b\\d{3})[-. ]\\d{3}[-. ]\\d{4}\\b',
             '<PHONE>', 'g') AS redacted,
           length(raw) AS raw_len
    FROM enriched
    """,
    doc="PII redaction (text_ops.redact_pii): email/IPv4/phone scrubbing via "
    "chained regexp_replace in the Java∩RE2 dialect intersection. The query "
    "plants synthetic PII (the corpus has none) so the patterns provably "
    "fire; oracle applies the identical patterns with DuckDB's 'g' flag.",
)
def doc_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7 tel 555-867-5309"),
    )
    return docs.select(
        "doc_id",
        text_ops.redact_pii(raw).alias("redacted"),
        F.length(raw).alias("raw_len"),
    )


@query(
    "events_gapfill_daily",
    """
    WITH daily AS (
        SELECT event_type,
               floor(epoch(time_bucket(INTERVAL 1 DAY, ts)))::BIGINT AS day_start,
               round(avg(value), 4) AS val
        FROM events WHERE value > 220
        GROUP BY 1, 2
    ), bounds AS (
        SELECT min(day_start) AS lo, max(day_start) AS hi FROM daily
    ), grid AS (
        SELECT k.event_type,
               unnest(generate_series(b.lo, b.hi, 86400)) AS day_start
        FROM (SELECT DISTINCT event_type FROM daily) k, bounds b
    ), dense AS (
        SELECT g.event_type, g.day_start, d.val
        FROM grid g LEFT JOIN daily d
          ON g.event_type = d.event_type AND g.day_start = d.day_start
    )
    SELECT event_type, day_start,
           last_value(val IGNORE NULLS)
               OVER (PARTITION BY event_type ORDER BY day_start
                     ROWS UNBOUNDED PRECEDING) AS val_filled,
           (val IS NULL) AS is_gap
    FROM dense
    """,
    doc="Time-series gap filling + forward fill (win.gapfill_daily — "
    "TimescaleDB time_bucket_gapfill/locf analog): sparse daily series "
    "densified onto the full epoch-aligned day grid, last observation "
    "carried forward, filled rows flagged. Filter value>220 creates real "
    "gaps (12-23 of 30 days present per type at sf0.01). Day buckets are "
    "epoch-second longs — tz-independent in both engines.",
)
def events_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(F.col("value") > 220)
    return win.gapfill_daily(ev, "event_type", "ts", "value")


@query(
    "doc_bm25_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, len({_TOKS}) AS dl,
               unnest(list_transform({_TOKS}, x -> lower(x))) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM toks WHERE term IN ('spark', 'join', 'merge')
        GROUP BY doc_id, dl, term
    ), corpus AS (
        SELECT count(*) AS n, sum(len({_TOKS})) AS sumdl FROM documents
    ), dft AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), scored AS (
        SELECT t.doc_id,
               round(sum(
                   round(ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0), 8)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / (c.sumdl / c.n)))
               ), 4) AS bm25,
               count(*) AS n_terms_hit
        FROM tf t JOIN dft d USING (term), corpus c
        GROUP BY t.doc_id
    )
    SELECT doc_id, bm25, n_terms_hit,
           CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS INT) AS rank
    FROM scored
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 20
    """,
    doc="BM25 keyword-search top-k (operators/search.bm25_topk): the "
    "lexical half of hybrid retrieval next to the kNN tier. Token stream "
    "filtered to query terms BEFORE the tf shuffle; |query|-row df "
    "aggregate broadcast back; N/avgdl are 2 driver scalars (integer-exact "
    "sums, so bit-identical); idf rounded 8dp to neutralize libm ln() "
    "differences; top-k via TakeOrderedAndProject.",
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.search import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, ["spark", "join", "merge"], k=20)


@query(
    "sample_weighted_docs",
    """
    WITH keyed AS (
        SELECT doc_id, n_chars,
               round(ln(((('0x' || substr(md5('wsample:' || doc_id::VARCHAR),
                                          1, 15))::BIGINT)::DOUBLE + 0.5)
                         / 1152921504606846976.0) / n_chars, 8) AS wkey
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, wkey
    FROM keyed ORDER BY wkey DESC, doc_id ASC LIMIT 50
    """,
    doc="Weighted sampling without replacement (sampling.weighted_sample, "
    "Efraimidis-Spirakis A-ES): rank by ln(u)/w with u from the portable "
    "md5 hash — P(selected) ∝ n_chars, one distributed pass, reproducible "
    "across engines (key rounded 8dp + id tie-break to absorb libm "
    "differences). Top-m via TakeOrderedAndProject, no global sort.",
)
def sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_sample(docs, "n_chars", m=50, key_col="doc_id")


@query(
    "hybrid_retrieval_rrf",
    f"""
    WITH toks AS (
        SELECT doc_id, len({_TOKS}) AS dl,
               unnest(list_transform({_TOKS}, x -> lower(x))) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, dl, term, count(*) AS tf
        FROM toks WHERE term IN ('spark', 'join', 'merge')
        GROUP BY doc_id, dl, term
    ), corpus AS (
        SELECT count(*) AS n, sum(len({_TOKS})) AS sumdl FROM documents
    ), dft AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), bm25 AS (
        SELECT t.doc_id,
               round(sum(
                   round(ln((c.n - d.df + 0.5) / (d.df + 0.5) + 1.0), 8)
                   * (t.tf * 2.2)
                   / (t.tf + 1.2 * (1 - 0.75 + 0.75 * t.dl / (c.sumdl / c.n)))
               ), 4) AS s
        FROM tf t JOIN dft d USING (term), corpus c
        GROUP BY t.doc_id
    ), lex AS (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
        FROM bm25 ORDER BY s DESC, doc_id ASC LIMIT 50
    ), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cos AS (
        SELECT e.vec_id AS doc_id,
               round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
                     (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                      sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS s
        FROM embeddings e, q WHERE e.vec_id <> 0
    ), vec AS (
        SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rank
        FROM cos ORDER BY s DESC, doc_id ASC LIMIT 50
    ), fused AS (
        SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
               round(coalesce(1.0 / (60 + l.rank), 0)
                     + coalesce(1.0 / (60 + v.rank), 0), 9) AS rrf_score,
               ((l.rank IS NOT NULL)::INT + (v.rank IS NOT NULL)::INT) AS n_rankers
        FROM lex l FULL OUTER JOIN vec v USING (doc_id)
    )
    SELECT doc_id, rrf_score, n_rankers
    FROM fused ORDER BY rrf_score DESC, doc_id ASC LIMIT 20
    """,
    doc="Hybrid retrieval: BM25 lexical top-50 + exact-cosine vector "
    "top-50 (query vec_id 0) fused by reciprocal rank fusion "
    "(search.rrf_fuse, score = Σ 1/(60+rank)) — the standard score-free "
    "combiner for incomparable scales. Candidate generation does the "
    "distributed work; fusion joins two 50-row lists.",
)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.search import bm25_topk, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    lex = bm25_topk(docs, ["spark", "join", "merge"], k=50).select("doc_id", "rank")

    q = _query_vec(spark, sf_dir, 0)
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    cos = similarity.bruteforce_topk(emb, q, k=50)
    vw = Window.orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    vec = cos.withColumn("rank", F.row_number().over(vw)).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, vec], id_col="doc_id", k=60, top=20)


@query(
    "events_gapfill_interpolated",
    """
    WITH daily AS (
        SELECT event_type,
               floor(epoch(time_bucket(INTERVAL 1 DAY, ts)))::BIGINT AS day_start,
               round(avg(value), 4) AS val
        FROM events WHERE value > 220
        GROUP BY 1, 2
    ), bounds AS (
        SELECT min(day_start) AS lo, max(day_start) AS hi FROM daily
    ), grid AS (
        SELECT k.event_type,
               unnest(generate_series(b.lo, b.hi, 86400)) AS day_start
        FROM (SELECT DISTINCT event_type FROM daily) k, bounds b
    ), dense AS (
        SELECT g.event_type, g.day_start, d.val
        FROM grid g LEFT JOIN daily d
          ON g.event_type = d.event_type AND g.day_start = d.day_start
    ), w AS (
        SELECT event_type, day_start, val,
               last_value(val IGNORE NULLS) OVER
                   (PARTITION BY event_type ORDER BY day_start
                    ROWS UNBOUNDED PRECEDING) AS pv,
               first_value(val IGNORE NULLS) OVER
                   (PARTITION BY event_type ORDER BY day_start
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               last_value(CASE WHEN val IS NOT NULL THEN day_start END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY day_start
                         ROWS UNBOUNDED PRECEDING) AS pt,
               first_value(CASE WHEN val IS NOT NULL THEN day_start END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY day_start
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM dense
    )
    SELECT event_type, day_start,
           round(coalesce(val,
               CASE WHEN pv IS NOT NULL AND nv IS NOT NULL AND nt != pt
                    THEN pv + (nv - pv) * (day_start - pt) / (nt - pt)
                    ELSE coalesce(pv, nv) END), 4) AS val_interp,
           (val IS NULL) AS is_gap
    FROM w
    """,
    doc="Gap filling by linear interpolation between nearest observed "
    "neighbours (win.gapfill_daily_interpolate) — the smooth counterpart "
    "to events_gapfill_daily's step-function locf; edge gaps extend the "
    "single available neighbour. Same epoch-long day grid.",
)
def events_gapfill_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(F.col("value") > 220)
    return win.gapfill_daily_interpolate(ev, "event_type", "ts", "value")


@query(
    "events_rolling_7d",
    """
    WITH daily AS (
        SELECT event_type,
               floor(epoch(time_bucket(INTERVAL 1 DAY, ts)))::BIGINT AS day_start,
               count(*) AS n,
               round(sum(value), 2) AS day_value
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day_start,
           (sum(n) OVER w)::BIGINT AS n_7d,
           round(sum(day_value) OVER w, 2) AS sum_7d,
           round(avg(day_value) OVER w, 4) AS avg_7d
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day_start
                 RANGE BETWEEN 518400 PRECEDING AND CURRENT ROW)
    """,
    doc="Rolling 7-day aggregates per type over the daily series using a "
    "RANGE frame on epoch-long day buckets (6×86400 preceding + current "
    "day) — frames follow TIME distance, not row count, so missing days "
    "shrink the window honestly. Daily pre-aggregation first: the window "
    "runs over days×types rows, never the fact table. Inner sums rounded "
    "2dp so both engines window identical inputs.",
)
def events_rolling_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("day_value"),
        )
        .select(
            epoch_seconds(F.col("w.start")).alias("day_start"), "event_type", "n",
            "day_value",
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_start")
        .rangeBetween(-6 * 86400, 0)
    )
    return daily.select(
        "event_type",
        "day_start",
        F.sum("n").over(w).alias("n_7d"),
        F.round(F.sum("day_value").over(w), 2).alias("sum_7d"),
        F.round(F.avg("day_value").over(w), 4).alias("avg_7d"),
    )


@query(
    "events_funnel",
    """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    )
    SELECT 'signup' AS step, 1 AS step_n, (SELECT count(*) FROM s1) AS n_users
    UNION ALL
    SELECT 'signup>click', 2, (SELECT count(*) FROM s2)
    UNION ALL
    SELECT 'signup>click>purchase', 3, (SELECT count(*) FROM s3)
    """,
    doc="Ordered funnel analysis: users completing signup → click → "
    "purchase with strictly increasing event times. Each stage is a "
    "conditional min-aggregate joined to the previous stage's completion "
    "times — stage tables shrink monotonically, so every join after the "
    "first runs on survivors only. Raw µs timestamps compare exactly; no "
    "timestamp arithmetic.",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # each stage table feeds BOTH the next stage's join and its own
    # count; materialized once per stage or stage N re-runs stages 1..N
    # (the funnel re-read the events scan 6x instead of 3x)
    s1 = materialize(
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1")),
        "funnel_s1", "reliable",
    )
    s2 = materialize(
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2")),
        "funnel_s2", "reliable",
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def stage_count(df: DataFrame, step: str, step_n: int) -> DataFrame:
        return df.agg(
            F.lit(step).alias("step"),
            F.lit(step_n).alias("step_n"),
            F.count(F.lit(1)).alias("n_users"),
        )

    return (
        stage_count(s1, "signup", 1)
        .unionByName(stage_count(s2, "signup>click", 2))
        .unionByName(stage_count(s3, "signup>click>purchase", 3))
    )


@query(
    "events_zscore_anomalies",
    """
    WITH stats AS (
        SELECT event_type,
               round(avg(value), 6) AS mu,
               round(stddev_samp(value), 6) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_anomalies,
           round(min(e.value), 2) AS min_anomalous_value,
           round(max(e.value), 2) AS max_anomalous_value
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE abs((e.value - s.mu) / s.sigma) > 3
    GROUP BY e.event_type
    """,
    doc="Z-score anomaly detection per group: per-type mean/stddev "
    "computed in-plan (rounded 6dp so both engines threshold identical "
    "z values) and broadcast back; |z|>3 rows summarized per type. The "
    "two-pass shape (tiny stats aggregate + full scan filter) is the "
    "standard distributed anomaly sweep — no per-row window needed.",
)
def events_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 6).alias("mu"),
        F.round(F.stddev_samp("value"), 6).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) > 3)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_anomalies"),
            F.round(F.min("value"), 2).alias("min_anomalous_value"),
            F.round(F.max("value"), 2).alias("max_anomalous_value"),
        )
    )


@query(
    "doc_repetition_scores",
    f"""
    WITH sh AS (
        SELECT doc_id, lang, {_SHINGLES3} AS s
        FROM (SELECT doc_id, lang, {_TOKS} AS t FROM documents)
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(1.0 - len(list_distinct(s)) / len(s)), 6)
               AS avg_repetition,
           sum(CASE WHEN 1.0 - len(list_distinct(s)) / len(s) > 0.2
                    THEN 1 ELSE 0 END)::BIGINT AS n_repetitive
    FROM sh GROUP BY lang
    """,
    doc="Gopher-style repetition scoring: 1 − distinct/total 3-gram "
    "shingles per document (high ratio ⇒ looping/boilerplate text, a "
    "standard pre-training quality filter), aggregated per language "
    "with a >0.2 flag count. Pure array projections — size + "
    "array_distinct on the in-row shingle list, no explode, no "
    "shuffle before the final groupBy.",
)
def doc_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import word_shingles, ws_tokens

    docs = _t(spark, sf_dir, "documents")
    s = word_shingles(ws_tokens(F.col("text")), 3)
    rep = 1.0 - F.size(F.array_distinct(s)) / F.size(s)
    return (
        docs.select("lang", rep.alias("rep"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("rep"), 6).alias("avg_repetition"),
            F.sum((F.col("rep") > 0.2).cast("long")).alias("n_repetitive"),
        )
    )


@query(
    "eval_contamination",
    f"""
    WITH bucketed AS (
        SELECT doc_id, text,
               ({stable_hash64_sql("'split:' || doc_id::VARCHAR")}) % 10000
                   AS bucket
        FROM documents
    ),
    train_sh AS (
        SELECT DISTINCT {stable_hash64_sql("s")} AS h
        FROM (SELECT unnest({_SHINGLES3}) AS s
              FROM (SELECT {_TOKS} AS t FROM bucketed WHERE bucket < 8000))
    ),
    eval_sh AS (
        SELECT DISTINCT doc_id, {stable_hash64_sql("s")} AS h
        FROM (SELECT doc_id, unnest({_SHINGLES3}) AS s
              FROM (SELECT doc_id, {_TOKS} AS t FROM bucketed
                    WHERE bucket >= 8000))
    )
    SELECT e.doc_id,
           count(*) AS n_shingles,
           sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_overlap,
           round(sum(CASE WHEN t.h IS NOT NULL THEN 1 ELSE 0 END)
                 / count(*), 6) AS contamination
    FROM eval_sh e LEFT JOIN train_sh t ON e.h = t.h
    GROUP BY e.doc_id
    """,
    doc="Benchmark decontamination: the held-out split's documents "
    "scored by the fraction of their 3-gram shingles that appear "
    "ANYWHERE in the training split — the standard n-gram-overlap "
    "contamination check run before evaluating on a benchmark. The "
    "split is the content-deterministic hash_split (so both engines "
    "and any re-ingestion agree on membership); the join runs on "
    "distinct shingle HASHES per side (bounded by vocabulary, not "
    "corpus size).",
)
def eval_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.text import word_shingles, ws_tokens
    from .operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train, eval_ = hash_split(docs, "doc_id", [0.8, 0.2])
    sh = lambda df: df.select(  # noqa: E731
        "doc_id",
        F.explode(word_shingles(ws_tokens(F.col("text")), 3)).alias("s"),
    ).select("doc_id", stable_hash64(F.col("s")).alias("h"))
    train_sh = sh(train).select("h").distinct()
    eval_sh = sh(eval_).distinct()
    return (
        eval_sh.join(
            train_sh.withColumn("hit", F.lit(1)).withColumnRenamed("h", "th"),
            eval_sh.h == F.col("th"),
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_overlap"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))) / F.count(F.lit(1)), 6
            ).alias("contamination"),
        )
    )


@query(
    "bpe_merge_candidates",
    f"""
    WITH vocab AS (
        SELECT w, count(*) AS wc FROM (
            SELECT unnest(regexp_extract_all(text, '{BPE_PATTERN}')) AS w
            FROM documents
        ) WHERE length(w) >= 2 GROUP BY w
    ), pairs AS (
        SELECT unnest(list_transform(range(1, length(w)),
                                     i -> substr(w, i::INT, 2))) AS pair,
               wc
        FROM vocab
    ), c AS (SELECT pair, sum(wc)::BIGINT AS n FROM pairs GROUP BY pair)
    SELECT pair, n, rank FROM (
        SELECT pair, n,
               row_number() OVER (ORDER BY n DESC, pair ASC) AS rank
        FROM c
    ) WHERE rank <= 20
    """,
    doc="One round of BPE tokenizer training (text_ops.bpe_pair_counts): "
    "adjacent-character-pair frequencies inside pre-tokenized words, "
    "top-20 merge candidates. Scale-correct shape: the corpus folds to "
    "its (word, count) VOCABULARY first (Heaps' law: vocab ~ sqrt of "
    "corpus), so the pair explosion and every subsequent merge round "
    "run over distinct words, never raw tokens. The final ranking "
    "windows the tiny pair-count table with a (count, pair) tie-break "
    "so both engines pick identical top-20 sets.",
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.bpe_pair_counts(
        _t(spark, sf_dir, "documents"), "text", top_n=20
    )


_SD_CTES, _SD_FINAL = similarity.kmeans_oracle_ctes(
    table="embeddings", k=8, iters=2, dim=64
)


@query(
    "semantic_dedup_embeddings",
    f"""
    WITH {_SD_CTES},
    e AS (
        SELECT em.vec_id, em.embedding, a.cluster
        FROM embeddings em JOIN {_SD_FINAL} a ON a.id = em.vec_id
    ),
    cnt AS (SELECT cluster, count(*) AS n FROM e GROUP BY cluster),
    es AS (
        SELECT e.*,
               {stable_hash64_sql("e.vec_id::VARCHAR")}
                 % CAST(ceil(n / 256.0) AS BIGINT) AS salt
        FROM e JOIN cnt USING (cluster)
    ),
    losers AS (
        SELECT DISTINCT b.vec_id
        FROM es a JOIN es b
          ON a.cluster = b.cluster AND a.salt = b.salt
         AND a.vec_id < b.vec_id
        WHERE round({_COS_SQL}, 6) >= 0.4
    )
    SELECT e.vec_id, e.cluster FROM e
    WHERE e.vec_id NOT IN (SELECT vec_id FROM losers)
    """,
    doc="SemDeDup-shaped semantic dedup: k-means the embedding space "
    "(deterministic Lloyd, 2 iterations, k=8 — unrolled in the "
    "oracle's CTEs), then within each LEARNED cluster drop every "
    "vector with a lower-id neighbour at cosine >= 0.4 "
    "(keep-first-by-id, the deterministic parallel variant of "
    "SemDeDup's greedy keep). The pair pass is the blocked BLAS "
    "operator keyed on the cluster with max_block=256 salt-sharding "
    "(salt replayed in the oracle), so a hot cluster bounds both "
    "compute and Arrow batch. Returns surviving (vec_id, cluster).",
)
def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        k=8,
        iters=2,
        threshold=0.4,
        max_block=256,
    )


@query(
    "kmeans_embeddings",
    similarity.kmeans_oracle_sql(table="embeddings", k=8, iters=3, dim=64),
    doc="Distributed k-means (Lloyd, 3 iterations, k=8) over the "
    "embedding column as pure DataFrame ops (similarity.kmeans_lloyd): "
    "deterministic lowest-id init, broadcast centroids, rounded-distance "
    "argmin with cluster-id tie-break, elementwise-mean update rounded "
    "6dp. The rounding contract makes even an ITERATIVE clustering "
    "algorithm value-hash oracle-able — the DuckDB side replays all "
    "three iterations as unrolled CTEs. At 100 TB the fact table is "
    "never shuffled: each iteration broadcasts k×dim scalars and "
    "shuffles only k×dim×partitions partial sums.",
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_lloyd(emb, k=8, iters=3)


@query(
    "doc_lm_perplexity",
    f"""
    WITH toks AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id,
                   unnest(list_transform({_TOKS}, x -> lower(x))) AS tok
            FROM documents WHERE text IS NOT NULL
        ) WHERE tok <> ''
    ),
    c AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    tot AS (SELECT sum(c)::DOUBLE AS t FROM c)
    SELECT doc_id, count(*) AS n_tok,
           round(avg(ln(c.c / tot.t)), 6) AS avg_logp,
           round(exp(-round(avg(ln(c.c / tot.t)), 6)), 4) AS ppl
    FROM toks JOIN c USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
    doc="Per-document perplexity under a corpus-trained unigram LM "
    "(text_ops.unigram_lm_scores): the statistical quality signal next "
    "to the heuristic doc_quality_scores. Two passes — Zipf-bounded "
    "token distribution, then a token-keyed join folding mean log-prob "
    "per doc. avg_logp rounds 6dp (cross-engine libm ulps) and ppl "
    "derives from the rounded mean, so the oracle hashes exactly.",
)
def doc_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.unigram_lm_scores(_t(spark, sf_dir, "documents"), "text")


# (appId, sf_dir) → scratch-parquet (codes, cents).  PQ's codebook is
# an OFFLINE artifact (train once, search many) — caching it here keeps
# knn_pq measuring what a production query pays: the ADC scan + re-rank,
# not the Lloyd training that round 1 mislabeled as query latency.
# The cache outlives the building query, so its copies must survive
# executor loss for the whole process: ``reliable``.
_PQ_CODEBOOK_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _pq_codebook(
    spark: SparkSession, sf_dir: str, rebuild: bool = False
) -> tuple[DataFrame, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if rebuild or key not in _PQ_CODEBOOK_CACHE:
        emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
        codes, cents = similarity.pq_train_encode(
            emb, m=8, k=16, iters=2, dim=64
        )
        tag = _hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        _PQ_CODEBOOK_CACHE[key] = (
            materialize(codes, f"pq_codes_{tag}", "reliable"),
            materialize(cents, f"pq_cents_{tag}", "reliable"),
        )
    return _PQ_CODEBOOK_CACHE[key]


@query(
    "pq_codebook",
    similarity.pq_oracle_sql(
        table="embeddings", m=8, k=16, iters=2, dim=64, query_id=0,
        codebook_only=True,
    ),
    doc="PQ codebook TRAINING + encode as the explicit offline build "
    "step (similarity.pq_train_encode): m=8 subspaces k-means'd in one "
    "keyed Lloyd (all subspaces iterate in the same Spark jobs), every "
    "vector encoded as its per-subspace nearest-centroid id. Output is "
    "the (sub, cluster) code histogram — the full 2-iteration training "
    "replayed by the DuckDB oracle, so codebook determinism is hash-"
    "gated, not just pytest-gated. Always trains FRESH and then "
    "refreshes the cache knn_pq searches against — a benched run of "
    "this query reports the honest offline build cost, never a cache "
    "hit.",
)
def pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes, cents = _pq_codebook(spark, sf_dir, rebuild=True)
    return codes.groupBy("sub", "cluster").agg(
        F.count(F.lit(1)).alias("n_codes")
    )


@query(
    "knn_pq",
    similarity.pq_oracle_sql(
        table="embeddings",
        m=8,
        k=16,
        iters=2,
        dim=64,
        query_id=0,
        candidates=50,
        topk=10,
    ),
    doc="Product-quantization ANN in its production role (similarity."
    "pq_topk, rerank path): vectors compress to m=8 one-byte centroid "
    "codes (32x smaller than raw floats); the query scans the CODES "
    "with a broadcast asymmetric-distance table (m x k lookups, "
    "INTEGER micro-unit sums so candidate ranking is order-exact), "
    "takes 50 candidates, then exact squared-L2 re-ranks only those — "
    "at 100 TB the exact pass reads 50 vectors instead of the corpus. "
    "The DuckDB oracle replays training + ADC + re-rank end to end "
    "(pq_oracle_sql), making an iterative-trained ANN value-hash "
    "verifiable. Codebook comes from the offline pq_codebook cache.",
)
def knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    q = _query_vec(spark, sf_dir, 0)
    codes, cents = _pq_codebook(spark, sf_dir)
    return similarity.pq_topk(
        codes, cents, q, k=10, m=8, rerank_with=emb, candidates=50
    )


@query(
    "knn_ivf_pq",
    similarity.ivf_pq_oracle_sql(
        table="embeddings",
        m=8,
        k=16,
        iters=2,
        dim=64,
        query_id=0,
        n_probe=2,
        candidates=50,
        topk=10,
    ),
    doc="IVF-PQ fused ANN (similarity.ivf_pq_topk) — the FAISS-IVFPQ "
    "architecture that serves billion-vector search: IVF cell pruning "
    "(6dp-rounded centroid cosine, cell tie-break) restricts the "
    "corpus to n_probe=2 cells, the PQ ADC scan ranks only those "
    "cells' 32x-compressed codes, exact re-rank touches 50 raw "
    "vectors. Shares the offline pq_codebook cache with knn_pq — one "
    "encode artifact serves both search modes. The DuckDB oracle "
    "replays training, centroid means, cell probe, restricted ADC, "
    "and re-rank end to end.",
)
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").where(F.col("vec_id") != 0)
    q = _query_vec(spark, sf_dir, 0)
    codes, cents = _pq_codebook(spark, sf_dir)
    centroids = similarity.ivf_centroids(emb, cell_col="label")
    return similarity.ivf_pq_topk(
        emb, codes, cents, q, centroids, k=10, n_probe=2, candidates=50
    )


# ---------------------------------------------------------------------------
# Sequence packing + data-mixture planning (pretraining batch assembly)
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512


@query(
    "doc_seq_packing",
    f"""
    WITH f AS (
        SELECT lang, doc_id, len({_TOKS})::BIGINT AS n_tok
        FROM documents WHERE text IS NOT NULL
    ), c AS (
        SELECT lang, n_tok,
               sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS end_tok
        FROM f
    ), spans AS (
        SELECT lang, n_tok, end_tok - n_tok AS start_tok,
               (end_tok - n_tok) // {_PACK_BUDGET} AS seq_first,
               (end_tok - 1) // {_PACK_BUDGET} AS seq_last
        FROM c
    ), x AS (
        SELECT lang, start_tok, n_tok,
               unnest(generate_series(seq_first, seq_last)) AS seq_id
        FROM spans
    ), per_seq AS (
        SELECT lang, seq_id,
               count(*) AS n_docs_in_seq,
               sum(least(start_tok + n_tok, (seq_id + 1) * {_PACK_BUDGET})
                   - greatest(start_tok, seq_id * {_PACK_BUDGET}))::BIGINT
                   AS n_tok_in_seq
        FROM x GROUP BY lang, seq_id
    ), b AS (
        SELECT lang, count(*)::BIGINT AS n_docs,
               sum(CASE WHEN seq_last > seq_first THEN 1 ELSE 0 END)::BIGINT
                   AS n_boundary_docs
        FROM spans GROUP BY lang
    )
    SELECT s.lang, n_docs, n_boundary_docs,
           count(*)::BIGINT AS n_seqs,
           sum(n_tok_in_seq)::BIGINT AS total_tokens,
           max(n_docs_in_seq)::BIGINT AS max_docs_per_seq,
           round(avg(n_docs_in_seq), 4) AS avg_docs_per_seq,
           sum(CASE WHEN n_tok_in_seq = {_PACK_BUDGET} THEN 1 ELSE 0 END)::BIGINT
               AS n_full_seqs
    FROM per_seq s JOIN b USING (lang)
    GROUP BY s.lang, n_docs, n_boundary_docs
    """,
    doc="Concat-and-chunk sequence packing (text.seq_packing): per "
    "language the document token stream is chunked into 512-token "
    "training sequences (GPT-style packing, docs straddle boundaries). "
    "Each doc's sequence span explodes via F.sequence (fan-out bounded "
    "by doc length / budget), then per-sequence manifests aggregate to "
    "a per-language packing report: sequence count, full-sequence "
    "count, boundary-straddling docs, docs-per-sequence stats. The "
    "cumulative-sum window partitions by language, so parallelism is "
    "the shard count — at 100 TB the part_col becomes (source, bucket) "
    "so no window partition exceeds a task.",
)
def doc_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    spans = text_ops.seq_packing(docs, budget=_PACK_BUDGET)
    b = _PACK_BUDGET
    exploded = spans.select(
        "lang",
        "start_tok",
        "n_tok",
        F.explode(F.sequence("seq_first", "seq_last")).alias("seq_id"),
    )
    tok_in = F.least(
        F.col("start_tok") + F.col("n_tok"), (F.col("seq_id") + 1) * b
    ) - F.greatest(F.col("start_tok"), F.col("seq_id") * b)
    per_seq = exploded.groupBy("lang", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs_in_seq"),
        F.sum(tok_in).alias("n_tok_in_seq"),
    )
    bounds = spans.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            F.when(F.col("seq_last") > F.col("seq_first"), 1).otherwise(0)
        ).alias("n_boundary_docs"),
    )
    return (
        per_seq.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_seqs"),
            F.sum("n_tok_in_seq").alias("total_tokens"),
            F.max("n_docs_in_seq").alias("max_docs_per_seq"),
            F.round(F.avg("n_docs_in_seq"), 4).alias("avg_docs_per_seq"),
            F.sum(
                F.when(F.col("n_tok_in_seq") == b, 1).otherwise(0)
            ).alias("n_full_seqs"),
        )
        .join(F.broadcast(bounds), "lang")
    )


#: Target corpus mixture for the sampling plan — the public data-mixing
#: recipe shape (weights sum to 1.0; en upweighted). Fixed so the oracle
#: replays the identical plan.
_MIXTURE_WEIGHTS: dict[str, float] = {
    "en": 0.40, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.15,
}
_MIXTURE_BUDGET = 20_000


@query(
    "corpus_mixture_plan",
    f"""
    WITH avail AS (
        SELECT lang, sum(len({_TOKS}))::BIGINT AS avail_tokens
        FROM documents WHERE text IS NOT NULL GROUP BY lang
    ), w AS (
        -- weight must be DOUBLE, not the DECIMAL a bare literal parses
        -- to: the driver stringifies Decimal('0.40') != float 0.4, and
        -- decimal arithmetic downstream diverges from Spark's doubles
        SELECT lang, weight::DOUBLE AS weight
        FROM (VALUES {", ".join(f"('{k}', {v!r})" for k, v in _MIXTURE_WEIGHTS.items())})
             t(lang, weight)
    )
    SELECT a.lang, weight, avail_tokens,
           round({_MIXTURE_BUDGET} * weight)::BIGINT AS target_tokens,
           round(least(1.0, round({_MIXTURE_BUDGET} * weight) / avail_tokens), 6)
               AS sampling_rate,
           round(round({_MIXTURE_BUDGET} * weight) / avail_tokens, 4) AS epochs,
           greatest(round({_MIXTURE_BUDGET} * weight)::BIGINT - avail_tokens, 0)
               AS deficit_tokens
    FROM avail a JOIN w USING (lang)
    """,
    doc="Data-mixture sampling plan (LLaMA/Pile-style domain "
    "reweighting): per-language available tokens vs a fixed target "
    "mixture over a global token budget -> sampling rate (capped at "
    "1.0), epoch multiplier (>1 means upsampling), and the deficit the "
    "budget cannot fill. One hash agg over documents plus a broadcast "
    "join against the 5-row weight dim; at 100 TB the plan costs one "
    "pass regardless of corpus size.",
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    avail = (
        docs.where(F.col("text").isNotNull())
        .groupBy("lang")
        .agg(F.sum(text_ops.token_count_ws("text")).alias("avail_tokens"))
    )
    weights = docs.sparkSession.createDataFrame(
        list(_MIXTURE_WEIGHTS.items()), "lang string, weight double"
    )
    target = F.round(F.lit(float(_MIXTURE_BUDGET)) * F.col("weight"))
    return avail.join(F.broadcast(weights), "lang").select(
        "lang",
        "weight",
        "avail_tokens",
        target.cast("bigint").alias("target_tokens"),
        F.round(
            F.least(F.lit(1.0), target / F.col("avail_tokens")), 6
        ).alias("sampling_rate"),
        F.round(target / F.col("avail_tokens"), 4).alias("epochs"),
        F.greatest(
            target.cast("bigint") - F.col("avail_tokens"), F.lit(0).cast("bigint")
        ).alias("deficit_tokens"),
    )


@query(
    "source_zipf_slope",
    f"""
    WITH tok AS (
        SELECT source, lower(t) AS term
        FROM documents, unnest({_TOKS}) AS u(t)
        WHERE t <> ''
    ),
    tf AS (
        SELECT source, term, count(*)::BIGINT AS cnt
        FROM tok GROUP BY 1, 2
    ),
    rk AS (
        SELECT source, cnt,
               row_number() OVER (PARTITION BY source
                                  ORDER BY cnt DESC, term) AS rnk
        FROM tf
    ),
    pts AS (
        SELECT source,
               CAST(round(ln(rnk::DOUBLE) * 1000000, 0) AS BIGINT) AS xi,
               CAST(round(ln(cnt::DOUBLE) * 1000000, 0) AS BIGINT) AS yi
        FROM rk WHERE rnk <= 100
    ),
    s AS (
        SELECT source, count(*)::BIGINT AS n, sum(xi)::BIGINT AS sx,
               sum(yi)::BIGINT AS sy, sum(xi * yi)::BIGINT AS sxy,
               sum(xi * xi)::BIGINT AS sxx
        FROM pts GROUP BY source HAVING count(*) >= 10
    )
    SELECT source, n AS n_points,
           round((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 6) AS zipf_slope
    FROM s
    """,
    doc="Zipf-law slope per source: OLS fit of ln(frequency) ~ "
    "ln(rank) over each source's top-100 terms — natural text sits "
    "near -1; corpora that deviate hard (template spam, boilerplate, "
    "generated text) flag for curation review. The token stream "
    "shuffles once into (source, term) counts; the per-source rank "
    "window runs over the vocabulary-sized aggregate (never the "
    "fact), and the regression consumes 100 points per source. "
    "Cross-engine float hazard (shuffle-order-dependent double "
    "sums) is eliminated by quantizing ln values to 1e-6 on BIGINTs: "
    "every OLS sum and the slope's numerator/denominator are exact "
    "64-bit integers (max |term| ~6.4e17 < 2^63), so both engines "
    "divide identical operands.",
)
def source_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import spread_compute

    docs = spread_compute(_t(spark, sf_dir, "documents"))
    tok = docs.select(
        "source",
        F.explode(F.split(F.trim("text"), WS_PATTERN)).alias("t"),
    ).where(F.col("t") != "").select("source", F.lower("t").alias("term"))
    tf = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    w = Window.partitionBy("source").orderBy(F.col("cnt").desc(), "term")
    pts = (
        tf.select("source", "cnt", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= 100)
        .select(
            "source",
            F.round(F.log(F.col("rnk").cast("double")) * 1e6, 0)
            .cast("bigint")
            .alias("xi"),
            F.round(F.log(F.col("cnt").cast("double")) * 1e6, 0)
            .cast("bigint")
            .alias("yi"),
        )
    )
    s = (
        pts.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xi").cast("bigint").alias("sx"),
            F.sum("yi").cast("bigint").alias("sy"),
            F.sum(F.col("xi") * F.col("yi")).cast("bigint").alias("sxy"),
            F.sum(F.col("xi") * F.col("xi")).cast("bigint").alias("sxx"),
        )
        .where(F.col("n") >= 10)
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    return s.select(
        "source",
        F.col("n").alias("n_points"),
        F.round(num / den, 6).alias("zipf_slope"),
    )


@query(
    "doc_tfidf_topk",
    f"""
    WITH d AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)),
                           '{WS_PATTERN}'), t -> t <> '') AS arr
        FROM documents
    ),
    tok AS (
        SELECT doc_id, len(arr)::BIGINT AS dl, t AS term
        FROM d, unnest(arr) AS u(t)
    ),
    tf AS (
        SELECT doc_id, term, max(dl) AS dl, count(*)::BIGINT AS tf
        FROM tok GROUP BY doc_id, term
    ),
    df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
    n AS (SELECT count(*)::BIGINT AS n FROM d),
    sc AS (
        SELECT doc_id, tf.term, dl,
               round(round(ln((n + 1.0) / (df + 1.0)) + 1.0, 8)
                     * 1000000)::BIGINT * tf AS num_e6
        FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    rk AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY num_e6 DESC, term) AS rnk
        FROM sc
    )
    SELECT doc_id, term, (num_e6 // dl) AS score_e6, rnk
    FROM rk WHERE rnk <= 3
    """,
    doc="TF-IDF keyword extraction: top-3 characteristic terms per "
    "document by smoothed tf-idf (ln((N+1)/(df+1))+1, length- "
    "normalized tf) — the per-document complement to corpus-level "
    "BM25 retrieval (operators/search.py), used for topic tagging "
    "and cluster labeling. One token-stream shuffle builds (doc, "
    "term) tfs; document frequencies are a vocabulary-keyed "
    "aggregate joined back on the same key; the top-3 window is "
    "bounded by per-document vocabulary. Determinism (r7 fix, "
    "caught by the full-registry sf0.1 parity sweep): dl is "
    "CONSTANT within a document partition, so ranking on the exact "
    "integer idf_e6 * tf orders identically to tf-idf itself, and "
    "the displayed score is the exact integer micro-unit quotient "
    "num_e6 DIV dl — the old round(score, 6) double hit a 6dp "
    "half-tie at sf0.1 where the engines' round() disagree. idf "
    "still rounds 8dp after ln (the libm step) before the e6 "
    "quantization (safe even on an exact .5: idf is positive and "
    "both engines round positive halves AWAY from zero — the "
    "divergent case is only scaled round() of sums landing between "
    "representable doubles).",
)
def doc_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import spread_compute

    docs = spread_compute(_t(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        F.filter(
            F.split(F.trim(F.lower("text")), WS_PATTERN),
            lambda t: t != F.lit(""),
        ).alias("arr"),
    )
    tok = d.select(
        "doc_id",
        F.size("arr").cast("bigint").alias("dl"),
        F.explode("arr").alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.max("dl").alias("dl"),
        F.count(F.lit(1)).cast("bigint").alias("tf"),
    )
    # document frequency as a COUNT WINDOW over the (doc, term) tf
    # relation partitioned by term — same number (rows per term ==
    # docs containing the term) without the vocabulary aggregate +
    # term-keyed join, whose two consumers of tf re-ran the whole
    # tokenize+explode+aggregate lineage (optimization r12, guide
    # §2.4: ReusedExchange never fired across the aggregate/join pair)
    wterm = Window.partitionBy("term")
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    idf8 = F.round(
        F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0, 8
    )
    sc = (
        tf.withColumn(
            "df", F.count(F.lit(1)).over(wterm).cast("bigint")
        )
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "dl",
            (
                F.round(idf8 * 1000000).cast("bigint") * F.col("tf")
            ).alias("num_e6"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("num_e6").desc(), "term"
    )
    return (
        sc.select("*", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= 3)
        .select(
            "doc_id",
            "term",
            F.expr("num_e6 div dl").alias("score_e6"),
            "rnk"
        )
    )


@query(
    "dedup_drop_manifest",
    f"""
    WITH RECURSIVE {_STAGED_JACCARD_CTES},
    star AS (
        SELECT rep AS id_a, doc_id AS id_b FROM mem
        WHERE doc_id <> rep AND rep IN (SELECT doc_id FROM sizes)
    ),
    pairs AS (
        SELECT id_a, id_b FROM rpairs
        UNION ALL SELECT id_a, id_b FROM star
    ),
    sym AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ),
    reach(s, d) AS (
        SELECT s, d FROM sym
        UNION
        SELECT r.s, e.d FROM reach r JOIN sym e ON r.d = e.s
    ),
    clusters AS (
        SELECT s AS doc_id, least(s, min(d)) AS cluster_id
        FROM reach GROUP BY s
    ),
    lab AS (
        SELECT a.doc_id, a.source, a.n_chars,
               coalesce(c.cluster_id, a.doc_id) AS cluster_id
        FROM documents a LEFT JOIN clusters c ON a.doc_id = c.doc_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY n_chars DESC, doc_id) AS rk
        FROM lab
    )
    SELECT source, count(*)::BIGINT AS n_docs,
           sum((rk > 1)::INT)::BIGINT AS n_dropped,
           sum(CASE WHEN rk > 1 THEN n_chars ELSE 0 END)::BIGINT
               AS reclaimed_chars,
           round(sum((rk > 1)::INT)::DOUBLE / count(*), 4) AS drop_rate
    FROM ranked GROUP BY source
    """,
    doc="The dedup pipeline's decision artifact: near-dup clusters "
    "(same staged exact-dedup -> Jaccard -> star-edge components as "
    "dedup_clusters) reduced to a KEEP/DROP manifest — canonical doc "
    "per cluster by (n_chars DESC, doc_id) — and rolled up per source "
    "into dropped-doc counts and reclaimed character volume, the "
    "numbers a curation run reports before deleting anything. "
    "Unclustered docs are singletons via left-join coalesce, so the "
    "manifest covers the WHOLE corpus. The canonical-selection window "
    "is bounded by cluster size; the rollup is one grouped aggregate. "
    "Demonstrates operator composition: the component oracle's "
    "recursive closure extends three CTEs further without touching "
    "the Spark side's plan shape.",
)
def dedup_drop_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    clusters = dedup.staged_near_dup_clusters(
        docs, k=3, threshold=0.8, max_df=64
    )
    lab = (
        docs.select("doc_id", "source", "n_chars")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    keep = lab.select("*", F.row_number().over(w).alias("rk"))
    dropped = (F.col("rk") > 1).cast("int")
    return keep.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(dropped).cast("bigint").alias("n_dropped"),
        F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("reclaimed_chars"),
        F.round(
            F.sum(dropped).cast("double") / F.count(F.lit(1)), 4
        ).alias("drop_rate"),
    )


@query(
    "doc_language_confusion",
    f"""
    WITH s AS (SELECT doc_id, lang, {_lang_scores_sql()} FROM documents),
    m AS (SELECT doc_id, lang, s_en, s_es, s_fr, s_de, s_zh,
                 greatest(s_en, s_es, s_fr, s_de, s_zh) AS best FROM s),
    p AS (
        SELECT lang AS declared,
               CASE WHEN best = 0 THEN 'und'
                    WHEN s_en = best THEN 'en'
                    WHEN s_es = best THEN 'es'
                    WHEN s_fr = best THEN 'fr'
                    WHEN s_de = best THEN 'de'
                    ELSE 'zh' END AS detected
        FROM m
    )
    SELECT declared, detected, count(*)::BIGINT AS n_docs,
           round(count(*)::DOUBLE
                 / sum(count(*)) OVER (PARTITION BY declared), 4)
               AS declared_share
    FROM p GROUP BY declared, detected
    """,
    doc="Detector audit: confusion matrix of the declared lang column "
    "vs the n-gram language-ID prediction (same scoring expression as "
    "doc_language_id, single-sourced), with per-declared-language "
    "share — the calibration readout run before trusting lang-based "
    "curation filters. Map-side scoring, one (declared, detected) "
    "aggregate; the share window runs over the language-pair domain "
    "(<=36 cells), never the fact.",
)
def doc_language_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pred = text_ops.language_id(docs).select(
        F.col("lang").alias("declared"),
        F.col("lang_pred").alias("detected"),
    )
    cells = pred.groupBy("declared", "detected").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    wd = Window.partitionBy("declared")
    return cells.select(
        "declared",
        "detected",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(wd), 4
        ).alias("declared_share"),
    )


@query(
    "doc_lang_agreement_kappa",
    f"""
    WITH s AS (SELECT doc_id, lang, {_lang_scores_sql()} FROM documents),
    m AS (SELECT doc_id, lang, s_en, s_es, s_fr, s_de, s_zh,
                 greatest(s_en, s_es, s_fr, s_de, s_zh) AS best FROM s),
    p AS (
        SELECT lang AS la,
               CASE WHEN best = 0 THEN 'und'
                    WHEN s_en = best THEN 'en'
                    WHEN s_es = best THEN 'es'
                    WHEN s_fr = best THEN 'fr'
                    WHEN s_de = best THEN 'de'
                    ELSE 'zh' END AS lb
        FROM m
    ),
    cells AS (SELECT la, lb, count(*)::BIGINT AS cnt FROM p GROUP BY la, lb),
    tot AS (
        SELECT sum(cnt)::BIGINT AS n,
               sum(CASE WHEN la = lb THEN cnt ELSE 0 END)::BIGINT AS agree
        FROM cells
    ),
    ma AS (SELECT la, sum(cnt)::BIGINT AS ra FROM cells GROUP BY la),
    mb AS (SELECT lb, sum(cnt)::BIGINT AS rb FROM cells GROUP BY lb),
    pe AS (
        SELECT coalesce(sum(ra * rb), 0)::BIGINT AS pe_num
        FROM ma JOIN mb ON ma.la = mb.lb
    )
    SELECT n AS n_items,
           round(agree::DOUBLE / n::DOUBLE, 6) AS po,
           round(pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE), 6) AS pe,
           CASE WHEN pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE) < 1.0
                THEN round((agree::DOUBLE / n::DOUBLE
                            - pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE))
                           / (1.0 - pe_num::DOUBLE
                                    / (n::DOUBLE * n::DOUBLE)), 6)
           END AS kappa
    FROM tot CROSS JOIN pe
    """,
    doc="Cohen's kappa between the declared lang column and the n-gram "
    "language-ID prediction — the chance-corrected scalar summary of "
    "doc_language_confusion's matrix (raw agreement flatters a "
    "detector when one language dominates; kappa discounts what the "
    "marginals alone would get right). operators/evaluation."
    "cohens_kappa: one fact aggregate to the <=36-cell label-pair "
    "domain (checkpointed — it feeds the agreement total and both "
    "marginals), exact bigint counts into three final double ratios.",
)
def doc_lang_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.evaluation import cohens_kappa

    docs = _t(spark, sf_dir, "documents")
    pred = text_ops.language_id(docs).select(
        F.col("lang").alias("declared"), F.col("lang_pred").alias("detected")
    )
    return cohens_kappa(pred, "declared", "detected")
