"""Text analysis for training-data pipelines: token counting, quality
scoring, language identification, document fingerprinting.

Extension tier beyond the reference's surface (BASELINE.json north
star). Everything is a single codegen'd projection over the
``documents`` table — no UDFs, no shuffles except where an aggregate is
requested. Each operator has a DuckDB-expressible twin in queries.py so
correctness is oracle-gated.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ..functions import hashing
from ..functions.text import (
    BPE_PATTERN,
    PUNCT_PATTERN,
    bpe_tokens,
    word_shingles,
    ws_tokens,
)
from .relational import materialize, spread_compute

#: Tiny per-language stopword lexicons for the n-gram/stopword heuristic
#: language ID. Deliberately small + hardcoded: the point is the Spark
#: plumbing (argmax over per-language token-hit ratios), not lexical
#: coverage. Order fixed → deterministic tie-break.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "that", "for", "was"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "los"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "les"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "zh": ("的", "了", "是", "在", "我", "有", "和", "就", "不", "人"),
}


def token_count_ws(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(ws_tokens(text))


def token_count_bpe(text: Column | str) -> Column:
    """BPE-ish token count (letters runs + digit runs + symbols)."""
    return F.size(bpe_tokens(text))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + composite score.

    Features follow the public Gopher/C4-style heuristics: length,
    token count, mean word length, punctuation ratio, stopword ratio,
    digit ratio. The composite ``quality_score`` is a fixed linear blend
    clamped to [0, 1] — deterministic, documented, oracle-expressible.
    """
    t = F.col(text_col)
    toks = ws_tokens(t)
    n_tok = F.size(toks)
    n_char = F.length(t)
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_hits = F.size(F.filter(toks, lambda x: F.array_contains(en_stop, F.lower(x))))
    n_punct = F.size(F.regexp_extract_all(t, F.lit(PUNCT_PATTERN), 0))
    n_digit = F.size(F.regexp_extract_all(t, F.lit("[0-9]"), 0))
    mean_word_len = (n_char - (n_tok - 1)) / n_tok  # chars net of single spaces

    punct_ratio = F.round(n_punct / F.greatest(n_char, F.lit(1)), 6)
    stop_ratio = F.round(stop_hits / F.greatest(n_tok, F.lit(1)), 6)
    digit_ratio = F.round(n_digit / F.greatest(n_char, F.lit(1)), 6)

    score = (
        F.lit(0.4) * F.least(n_tok / F.lit(64.0), F.lit(1.0))
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.2) * F.least(stop_ratio * 5.0, F.lit(1.0))
        + F.lit(0.1) * (F.lit(1.0) - digit_ratio)
    )
    return df.select(
        "*",
        n_char.alias("n_char"),
        n_tok.alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        digit_ratio.alias("digit_ratio"),
        F.round(F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0)), 6).alias(
            "quality_score"
        ),
    )


def language_scores(text: Column | str) -> dict[str, Column]:
    """Per-language stopword-hit ratio."""
    toks = F.transform(ws_tokens(text), F.lower)
    n = F.greatest(F.size(toks), F.lit(1))
    out = {}
    for lang, words in STOPWORDS.items():
        lex = F.array(*[F.lit(w) for w in words])
        out[lang] = F.size(F.filter(toks, lambda x: F.array_contains(lex, x))) / n
    return out


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of per-language stopword ratios,
    'und' (undetermined) when every score is zero. Deterministic
    tie-break by lexicon declaration order.

    The stopword regexp battery is CPU-bound, so the input spreads
    across cores first (single-file inputs arrive as ONE partition;
    no-op on already-split inputs)."""

    df = spread_compute(df)
    scores = language_scores(F.col(text_col))
    langs = list(scores)
    best_score = F.greatest(*[scores[lang] for lang in langs])
    pred: Column = F.lit("und")
    for lang in reversed(langs):  # earlier langs win ties → build backwards
        pred = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(pred)
    pred = F.when(best_score > 0, pred).otherwise(F.lit("und"))
    return df.select(
        "*",
        F.round(best_score, 6).alias("lang_score"),
        pred.alias("lang_pred"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", k: int = 5) -> DataFrame:
    """Document fingerprints: exact content hash (md5) + a rolling-window
    structural fingerprint (minimum k-word shingle hash — winnowing's
    'min sample' in one expression). Equal fingerprints → near-identical
    prefix-structure; used for cheap first-pass dedup bucketing."""
    toks = ws_tokens(F.col(text_col))
    shingle_hashes = F.transform(word_shingles(toks, k), hashing.stable_hash64)
    return df.select(
        "*",
        F.md5(F.col(text_col)).alias("content_md5"),
        F.array_min(shingle_hashes).alias("min_shingle_hash"),
    )


def chunk_fixed(
    df: DataFrame,
    text_col: str = "text",
    size: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Fixed-window document chunking: split each document into
    ``size``-char chunks starting every ``stride`` chars (stride < size
    → overlapping context windows, the standard pre-tokenization shape
    for LLM training / embedding pipelines).

    Pure codegen: sequence → transform → posexplode, no UDF and no
    shuffle — chunking is embarrassingly parallel, so a 100 TB corpus
    chunks at full scan speed with output partitioning inherited from
    the input. Empty/null texts yield one empty chunk (row preserved).
    """
    n_windows = F.greatest(
        F.floor((F.length(F.col(text_col)) - 1) / F.lit(stride)).cast("int"),
        F.lit(0),
    )
    windows = F.transform(
        F.sequence(F.lit(0), n_windows),
        lambda i: F.substring(F.col(text_col), i * stride + 1, size),
    )
    others = [c for c in df.columns if c != text_col]
    return df.select(
        *others, F.posexplode(windows).alias("chunk_id", "chunk_text")
    )


#: PII patterns valid in both Java regex (Spark) and RE2 (DuckDB) — the
#: oracle runs the same patterns, so stay inside the common subset
#: (no lookbehind, no possessive quantifiers).
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # paren'd area code is an alternation, not \(? — an optional paren
    # would let the match start INSIDE "(212)" and leave "(" behind
    (r"(?:\+?\d{1,3}[-. ])?(?:\(\d{3}\)|\b\d{3})[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def redact_pii(col: Column | str) -> Column:
    """Scrub emails, IPv4 addresses, and phone numbers from a text
    column — the minimum-viable PII pass every training-data pipeline
    runs before publication. Chained regexp_replace stays inside
    whole-stage codegen (no UDF)."""
    out = F.col(col) if isinstance(col, str) else col
    for pattern, token in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 20
) -> DataFrame:
    """One round of BPE merge-candidate counting — the inner loop of
    tokenizer training: frequency of every adjacent character pair
    inside pre-tokenized words, ranked; the argmax is the pair a BPE
    trainer would merge next.

    Scale shape (the part that matters at 100 TB): the corpus is first
    folded to its VOCABULARY ``(word, count)`` — natural-language vocab
    grows ~O(corpus^0.5) (Heaps' law), so pair explosion runs over
    millions of distinct words, not trillions of tokens, and every
    later merge round would reuse the same vocab table. Pair counts are
    then word-count-weighted sums. All codegen expressions; the only
    shuffles are the two groupBys (vocab, pairs).
    """
    vocab = (
        df.select(F.explode(bpe_tokens(text_col)).alias("w"))
        .where(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = vocab.select(
        "wc",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair"),
    )
    counts = pairs.groupBy("pair").agg(F.sum("wc").alias("n"))
    w = Window.orderBy(F.col("n").desc(), F.col("pair").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_n)
        .select("pair", "n", "rank")
    )


def unigram_lm_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Statistical quality scoring: per-document perplexity under a
    unigram language model trained on the corpus itself — the classic
    two-pass signal for surfacing out-of-distribution documents
    (gibberish, boilerplate, wrong language) that heuristic ratios
    (quality_features) miss.

    Pass 1 aggregates the corpus token distribution (vocab-sized, like
    BPE's vocab fold); pass 2 joins token log-probs back and folds a
    per-doc mean. MLE probabilities — train and score corpora are the
    same, so every token is in-vocab and no smoothing mass is needed.
    Output: (doc_id, n_tok, avg_logp, ppl); higher ppl = less typical.

    Scale shape: two shuffles (token counts, doc fold) + one join keyed
    on the token — at 100 TB the vocab side is Zipf-bounded and the
    join benefits from the skew handling AQE provides (stop words are
    the heavy keys). Rounding contract: avg_logp rounds to 6dp (libm
    ln() may differ in the last ulp across engines) and ppl derives
    from the ROUNDED mean, so both engines expose identical values.
    """
    from ..functions.text import ws_tokens

    # single-file inputs arrive as ONE partition; tokenization is
    # CPU-bound, so spread before the explode
    toks = (
        spread_compute(df.where(F.col(text_col).isNotNull()))
        .select(
            "doc_id",
            F.explode(
                F.transform(ws_tokens(text_col), lambda x: F.lower(x))
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").cast("double").alias("t"))
    logp = F.log(F.col("c") / F.col("t"))
    avg_logp = F.round(F.avg(logp), 6)
    return (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            avg_logp.alias("avg_logp"),
            F.round(F.exp(-avg_logp), 4).alias("ppl"),
        )
    )


def bigram_lm_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean bigram surprisal under a corpus-trained bigram
    LM — one order up from :func:`unigram_lm_scores`: p(w2|w1) =
    count(w1 w2) / count(w1 as a bigram context), MLE (train == score
    corpus, so every bigram is in-vocab). Documents shorter than two
    tokens have no bigrams and are excluded — a bigram model has
    nothing to say about them.

    Scale shape mirrors the unigram scorer: the bigram vocabulary is
    the Zipf-bounded join key (heavier-tailed than unigrams but still
    sublinear in corpus size), the context counts derive from the SAME
    bigram relation (one extra bounded agg, no second corpus pass),
    and the per-doc fold keys on doc_id. Rounding contract: avg
    surprisal rounds 6dp before the exp, like the unigram twin.

    Output: (doc_id, n_bigrams, avg_surprisal, ppl2)."""
    from ..functions.text import word_shingles, ws_tokens

    toks = F.transform(ws_tokens(text_col), lambda x: F.lower(x))
    # spread before the shingle explode (same rationale as the unigram
    # scorer: single-file input = one CPU for the whole token fold)
    grams = (
        spread_compute(df.where(F.col(text_col).isNotNull()))
        .where(F.size(ws_tokens(text_col)) >= 2)
        .select("doc_id", F.explode(word_shingles(toks, 2)).alias("bg"))
    )
    c2 = grams.groupBy("bg").agg(F.count(F.lit(1)).alias("c2"))
    # context count = how often w1 opens a bigram — derived from the
    # bigram relation itself (split on the joining space), so both
    # counts come from one explode
    c1 = (
        c2.select(F.split(F.col("bg"), " ").getItem(0).alias("w1"), "c2")
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    probs = c2.select(
        "bg", F.split(F.col("bg"), " ").getItem(0).alias("w1"), "c2"
    ).join(c1, "w1")
    surprisal = -F.log(F.col("c2") / F.col("c1"))
    avg_s = F.round(F.avg(surprisal), 6)
    return (
        grams.join(probs.select("bg", "c2", "c1"), "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            avg_s.alias("avg_surprisal"),
            F.round(F.exp(avg_s), 4).alias("ppl2"),
        )
    )


def seq_packing(
    df: DataFrame,
    budget: int = 512,
    part_col: str = "lang",
    order_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing: assign every document its span
    of fixed-``budget`` training sequences.

    Semantics are the standard GPT-style pretraining packer: within each
    ``part_col`` shard, documents are concatenated in ``order_col`` order
    and the token stream is chunked into sequences of exactly ``budget``
    tokens (documents straddle boundaries rather than padding). Output is
    one row per document: token count, stream start offset, and the first/
    last sequence ids it occupies — downstream aggregation or an explode
    over ``F.sequence(seq_first, seq_last)`` yields per-sequence manifests.

    Scale shape: the cumulative token sum is a window partitioned by
    ``part_col`` — each shard sorts independently, so parallelism equals
    the shard count. At 100 TB you shard by (source, bucket) rather than
    bare language so no single window partition exceeds a task (the
    packer is agnostic: pass any composite key as ``part_col``). Tokens
    are counted, never materialized — the packer shuffles (key, int)
    pairs only; the sort is the one inherent to deterministic packing.

    PRECONDITION: ``(part_col, order_col)`` must be a unique key.
    Deterministic packing (and Spark/DuckDB oracle agreement) depends on
    a total order within each shard; with duplicate order keys the
    cumulative-sum window order is engine-nondeterministic. Holds for
    the fixtures (doc_id is unique); pass a composite order key if
    yours is not.

    The reference has no packing surface (extension tier next to
    chunk_fixed, text.py:134); oracle replays the same window arithmetic
    in DuckDB (queries_llm.doc_seq_packing).
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n_tok = token_count_ws(text_col)
    base = df.where(F.col(text_col).isNotNull()).select(
        part_col, order_col, n_tok.cast("bigint").alias("n_tok")
    )
    return base.withColumn("end_tok", F.sum("n_tok").over(w)).select(
        part_col,
        order_col,
        "n_tok",
        (F.col("end_tok") - F.col("n_tok")).alias("start_tok"),
        # integer `div`, not floor(double /): exact at any stream length
        F.expr(f"(end_tok - n_tok) div {budget}").alias("seq_first"),
        F.expr(f"(end_tok - 1) div {budget}").alias("seq_last"),
    )


def bpe_train_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 6,
) -> DataFrame:
    """Full iterative BPE tokenizer training (Sennrich et al. 2016):
    ``n_merges`` rounds of count-adjacent-pairs → pick the most frequent
    → merge it everywhere — the complete trainer, where
    :func:`bpe_pair_counts` is one round's candidate table.

    Scale shape (the standard trainer trick): the corpus is touched
    exactly ONCE — the first pass folds it into the distinct-word
    relation (word, count), which is Zipf-bounded (vocabulary grows
    ~O(corpus^0.5), not linearly), and every merge round runs on that
    vocab-sized relation: one pair-count aggregation + a 1-row argmax
    to the driver (the kmeans-centroid bound) + a literal string
    replace, lineage truncated per round. At 100 TB the rounds cost the
    same as at 100 GB; only the first fold scales with the corpus.

    Segmentations are strings of individually sentinel-wrapped tokens
    ("\\x1f" + tok + "\\x1f" per token, concatenated): merging pair
    (a,b) is then a literal replace of "\\x1fa\\x1f\\x1fb\\x1f" with
    "\\x1fab\\x1f", which both Spark and DuckDB apply left-to-right
    non-overlapping — exactly BPE's within-round merge semantics
    ("aaa" + merge(a,a) → ["aa","a"], while "abab" + merge(a,b) →
    ["ab","ab"]). Each token owning BOTH its sentinels is load-bearing:
    with tokens SHARING one sentinel, two adjacent disjoint pair
    occurrences overlap in string space and the second one is skipped
    (the property test's 'abab' counterexample).
    Words containing the sentinel byte are dropped (documented edge;
    0x1f never occurs in text corpora that survive quality filtering).

    Determinism: ties on pair count break lexicographically on (lhs,
    rhs) — both engines compare ASCII strings identically. Rounds
    after the pair space is exhausted emit nothing (loop breaks; the
    unrolled oracle's LEFT JOIN replay preserves the same tail).

    Output: (rank, lhs, rhs, merged, n) — the merge table, one row per
    learned merge, rank 1-based in learning order.
    """
    from ..functions.text import bpe_tokens

    sep = "\x1f"
    words = materialize(
        df.where(F.col(text_col).isNotNull())
        .select(F.explode(bpe_tokens(text_col)).alias("w"))
        .where((F.length("w") >= 2) & (~F.col("w").contains(sep)))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(
            F.regexp_replace("w", "(.)", sep + "$1" + sep).alias("s"),
            "c",
        ),
        "bpe_words", "local",
    )
    toks = F.filter(F.split("s", sep), lambda x: x != "")
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        t = words.select("c", toks.alias("t")).where(F.size("t") >= 2)
        n = F.size("t")
        zipped = F.arrays_zip(
            F.slice("t", 1, n - 1), F.slice("t", 2, n - 1)
        )
        best = (
            t.select("c", F.explode(zipped).alias("p"))
            .select(F.col("p.0").alias("lhs"), F.col("p.1").alias("rhs"), "c")
            .groupBy("lhs", "rhs")
            .agg(F.sum("c").cast("bigint").alias("n"))
            .orderBy(F.col("n").desc(), F.col("lhs").asc(), F.col("rhs").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["lhs"], best[0]["rhs"], best[0]["n"]
        merges.append((rank, a, b, a + b, cnt))
        words = materialize(
            words.select(
                F.replace(
                    F.col("s"),
                    F.lit(sep + a + sep + sep + b + sep),
                    F.lit(sep + a + b + sep),
                ).alias("s"),
                "c",
            ),
            "bpe_merge_round", "local",
        )
    return df.sparkSession.createDataFrame(
        merges, "rank int, lhs string, rhs string, merged string, n bigint"
    )


def bpe_merge_ctes(n_merges: int = 6, pattern: str | None = None) -> str:
    """The shared unrolled-training CTE block (w0, s0, then p{r}/b{r}/
    s{r} per round) used by both the merge-table oracle and any oracle
    that APPLIES the learned merges (tokenizer fertility). All CTEs are
    MATERIALIZED: s{r} and b{r} are each referenced more than once, and
    DuckDB re-inlines plain CTEs — doubling the plan per round
    (2^n_merges corpus scans by round n otherwise)."""
    from ..functions.text import BPE_PATTERN

    pat = pattern or BPE_PATTERN
    rounds = []
    for r in range(1, n_merges + 1):
        prev = f"s{r - 1}"
        rounds.append(
            f"""p{r} AS MATERIALIZED (
        SELECT t[i] AS lhs, t[i+1] AS rhs, sum(c)::BIGINT AS n
        FROM (SELECT t, c, unnest(generate_series(1, len(t) - 1)) AS i
              FROM (SELECT list_filter(string_split(s, chr(31)), x -> x <> '') AS t, c
                    FROM {prev}) WHERE len(t) >= 2)
        GROUP BY 1, 2
    ),
    b{r} AS MATERIALIZED (SELECT lhs, rhs, n FROM p{r}
             ORDER BY n DESC, lhs ASC, rhs ASC LIMIT 1),
    s{r} AS MATERIALIZED (
        SELECT replace(s, chr(31) || coalesce(lhs, '') || chr(31) ||
                          chr(31) || coalesce(rhs, '') || chr(31),
                       chr(31) || coalesce(lhs, '') ||
                          coalesce(rhs, '') || chr(31)) AS s, c
        FROM {prev} LEFT JOIN b{r} ON TRUE
    )"""
        )
    return f"""w0 AS MATERIALIZED (
        SELECT w, count(*)::BIGINT AS c FROM (
            SELECT unnest(regexp_extract_all(text, '{pat}')) AS w
            FROM documents WHERE text IS NOT NULL
        ) WHERE length(w) >= 2 AND NOT contains(w, chr(31))
        GROUP BY w
    ),
    s0 AS MATERIALIZED (
        SELECT regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g') AS s, c
        FROM w0
    ),
    {','.join(rounds)}"""


def bpe_train_merges_oracle_sql(n_merges: int = 6, pattern: str | None = None) -> str:
    """DuckDB replay of :func:`bpe_train_merges` with the merge rounds
    unrolled: w0 folds the corpus to the word relation, each round r
    derives pair counts p{r}, the 1-row argmax b{r}, and the merged
    segmentation s{r} (LEFT JOIN ON TRUE so an exhausted pair space
    leaves segmentations unchanged instead of deleting them)."""
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS rank, lhs, rhs, lhs || rhs AS merged, n FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return f"""
    WITH {bpe_merge_ctes(n_merges, pattern)}
    {unions}
    """


def bpe_segmentation_stats(
    df: DataFrame,
    merges: list[tuple],
    text_col: str = "text",
) -> DataFrame:
    """APPLY a learned merge table (:func:`bpe_train_merges` output
    rows) to every document and report per-document segmentation
    stats — the second half of the tokenizer lifecycle (train once,
    encode the corpus many times).

    Pure codegen: per document, pre-tokenize, wrap every word's chars
    in their own sentinel pairs, join words with a DIFFERENT boundary
    byte (0x1e — merges must never cross word boundaries), then chain
    one literal replace per merge in rank order. Token count falls out
    arithmetically (each surviving token owns exactly two sentinel
    bytes), so segmented text is never exploded or re-split: count =
    (len(s) - len(strip-sentinels(s))) / 2. No shuffle — encoding is
    embarrassingly parallel, like chunking.

    Adds (seg_words, seg_chars, seg_tokens) — seg-prefixed so they
    never collide with source-table columns (documents already carries
    n_chars); words containing the sentinel byte are excluded (the
    trainer's documented edge).
    """
    sep, us = "\x1f", "\x1e"
    words = F.filter(
        bpe_tokens(F.col(text_col)), lambda w: ~w.contains(sep)
    )
    wrapped = F.transform(
        words, lambda w: F.regexp_replace(w, "(.)", sep + "$1" + sep)
    )
    s = F.array_join(wrapped, us)
    for _rank, a, b, _merged, _n in merges:
        s = F.replace(
            s, F.lit(sep + a + sep + sep + b + sep), F.lit(sep + a + b + sep)
        )
    n_tok = (
        (F.length(s) - F.length(F.replace(s, F.lit(sep), F.lit("")))) / 2
    ).cast("bigint")
    return df.select(
        "*",
        F.size(words).cast("bigint").alias("seg_words"),
        F.length(F.array_join(words, "")).cast("bigint").alias("seg_chars"),
        n_tok.alias("seg_tokens"),
    )


def bpe_fertility_oracle_sql(n_merges: int = 6, pattern: str | None = None) -> str:
    """DuckDB replay of train-then-apply: the shared
    :func:`bpe_merge_ctes` training block, then an a{r} apply chain
    (one replace per learned merge, LEFT JOIN ON TRUE so missing
    merges no-op) and the per-language fertility fold."""
    from ..functions.text import BPE_PATTERN

    pat = pattern or BPE_PATTERN
    chain = []
    for r in range(1, n_merges + 1):
        chain.append(
            f"""a{r} AS MATERIALIZED (
        SELECT lang, n_words, n_chars,
               replace(s, chr(31) || coalesce(lhs, '') || chr(31) ||
                          chr(31) || coalesce(rhs, '') || chr(31),
                       chr(31) || coalesce(lhs, '') ||
                          coalesce(rhs, '') || chr(31)) AS s
        FROM a{r - 1} LEFT JOIN b{r} ON TRUE
    )"""
        )
    return f"""
    WITH {bpe_merge_ctes(n_merges, pattern)},
    a0 AS MATERIALIZED (
        SELECT lang,
               len(ws)::BIGINT AS n_words,
               length(array_to_string(ws, ''))::BIGINT AS n_chars,
               array_to_string(list_transform(ws,
                   w -> regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g')),
                   chr(30)) AS s
        FROM (SELECT lang,
                     list_filter(regexp_extract_all(text, '{pat}'),
                                 w -> NOT contains(w, chr(31))) AS ws
              FROM documents WHERE text IS NOT NULL)
    ),
    {','.join(chain)},
    f AS (
        SELECT lang, n_words, n_chars,
               ((length(s) - length(replace(s, chr(31), ''))) // 2)::BIGINT AS n_tok
        FROM a{n_merges}
    )
    SELECT lang,
           sum(n_words)::BIGINT AS n_words,
           sum(n_tok)::BIGINT AS n_tokens,
           round(sum(n_tok)::DOUBLE / sum(n_words), 6) AS fertility,
           round(sum(n_chars)::DOUBLE / sum(n_tok), 6) AS chars_per_token
    FROM f GROUP BY lang
    """


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information — the
    corpus-level phrase extractor (Church & Hanks 1990) behind
    tokenizer-vocabulary seeding and phrase-aware dedup shingling:
    PMI(a, b) = ln( p(ab) / (p(a) p(b)) ) with p(ab) over the bigram
    stream and p(a), p(b) over the token stream. The ``min_count``
    floor removes the classic PMI pathology (hapax pairs score
    highest); ranking is on the 8dp-ROUNDED pmi with the bigram string
    as tie-break so both engines pick identical winners.

    Returns k rows: (bigram, c_ab, c_a, c_b, pmi), pmi descending.

    Scale shape: one tokenize pass feeds both the unigram and bigram
    vocab folds (Zipf-bounded relations); the probe side joins the two
    unigram marginals onto the FILTERED bigram vocabulary (min_count
    prunes before the join), and the top-k is a TakeOrderedAndProject,
    never a global sort.
    """
    from ..functions.text import word_shingles, ws_tokens

    toks_arr = F.transform(ws_tokens(text_col), lambda x: F.lower(x))
    base = spread_compute(
        df.where(F.col(text_col).isNotNull())
    ).select(toks_arr.alias("toks"))
    # the vocab relations feed the total AND two probes each; Zipf
    # bounds them, but no constant does, hence reliable
    # ONE tokenize pass feeds BOTH vocab folds (optimization round,
    # guide §1.2 step 1 — was two scans, each re-running the regexp
    # tokenizer): every doc emits its tagged unigram and bigram
    # streams from the same token array, one explode + one grouped
    # count, and the two vocabularies are tag-slices of a single
    # scratch relation. Counts are unchanged: filter('' ) matches the
    # old post-explode where, and the size>=2 guard reproduces the
    # old row filter (word_shingles' whole-text fallback must not
    # fire for 1-token docs).
    one = F.filter(F.col("toks"), lambda x: x != F.lit(""))
    two = F.when(
        F.size("toks") >= 2, word_shingles(F.col("toks"), 2)
    ).otherwise(F.array().cast("array<string>"))
    tagged = F.concat(
        F.transform(
            one, lambda x: F.struct(F.lit("u").alias("tag"), x.alias("g"))
        ),
        F.transform(
            two, lambda x: F.struct(F.lit("b").alias("tag"), x.alias("g"))
        ),
    )
    grams = materialize(
        base.select(F.explode(tagged).alias("e"))
        .groupBy(F.col("e.tag").alias("tag"), F.col("e.g").alias("g"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
        "npmi_grams", "reliable",
    )
    uni = grams.where(F.col("tag") == "u").select(
        F.col("g").alias("tok"), "c"
    )
    n_uni = uni.agg(F.sum("c").cast("double").alias("nu"))
    bi = grams.where(
        (F.col("tag") == "b") & (F.col("c") >= min_count)
    ).select(F.col("g").alias("bg"), F.col("c").alias("c_ab"))
    n_bi = bi.agg(F.sum("c_ab").cast("double").alias("nb"))
    split = F.split(F.col("bg"), " ")
    keyed = bi.select(
        "bg",
        "c_ab",
        split.getItem(0).alias("w1"),
        split.getItem(1).alias("w2"),
    )
    ca = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    cb = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    joined = (
        keyed.join(ca, "w1")
        .join(cb, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    # NOTE n_bi sums the FILTERED bigram mass (post-min_count): the
    # normalizer must match the oracle exactly, and pruning first
    # keeps the probe-side join small; PMI rank order within the
    # filtered set is unaffected (constant shift of every score).
    pmi = F.round(
        F.log(
            (F.col("c_ab") / F.col("nb"))
            / ((F.col("c_a") / F.col("nu")) * (F.col("c_b") / F.col("nu")))
        ),
        8,
    )
    return (
        joined.select("bg", "c_ab", "c_a", "c_b", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("bg").asc())
        .limit(k)
    )
