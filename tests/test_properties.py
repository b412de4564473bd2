"""Property-based tests (hypothesis) for the math the dedup/similarity
operators rely on: MinHash estimates Jaccard, the portable hash matches
a pure-Python md5 reimplementation, SimHash Hamming distance tracks
similarity, and the as-of join matches a brute-force reference."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from rearc_data_engineer_takehome_spark.functions.hashing import (
    MERSENNE_31,
    _affine_params,
)

# ---------------------------------------------------------------------------
# Pure-Python reimplementations (the spec the Spark expressions must match)
# ---------------------------------------------------------------------------


def py_stable_hash64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def py_minhash(shingles: set[str], n_perm: int, seed: int = 7) -> list[int]:
    out = []
    for a, b in _affine_params(n_perm, seed):
        out.append(
            min((a * (py_stable_hash64(s) % MERSENNE_31) + b) % MERSENNE_31
                for s in shingles)
        )
    return out


def py_shingles(text: str, k: int = 3) -> list[str]:
    toks = text.split()
    if len(toks) >= k:
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    return [" ".join(toks)]


words = st.sampled_from(
    "the quick brown fox jumps over lazy dog table scan hash join sort".split()
)
texts = st.lists(words, min_size=1, max_size=30).map(" ".join)


@settings(max_examples=30, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts)
def test_spark_hash_matches_python_spec(spark_session_holder, text):
    spark = spark_session_holder
    from rearc_data_engineer_takehome_spark.functions.hashing import stable_hash64

    got = spark.createDataFrame([(text,)], ["t"]).select(
        stable_hash64(F.col("t")).alias("h")
    ).collect()[0]["h"]
    assert got == py_stable_hash64(text)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(texts, min_size=1, max_size=5, unique=True))
def test_spark_minhash_matches_python_spec(spark_session_holder, docs):
    spark = spark_session_holder
    from rearc_data_engineer_takehome_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], ["doc_id", "text"]
    )
    got = {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(df, n_perm=4, seed=7).collect()
    }
    for i, t in enumerate(docs):
        # Spark shingles are positional (list) but minhash is over the set
        assert got[i] == py_minhash(set(py_shingles(t)), 4, 7)


def test_minhash_estimates_jaccard(spark):
    """Statistical property: P(sig_i(A) == sig_i(B)) = J(A, B). With 64
    perms the estimate should land within ±0.15 of the true Jaccard for
    a pair around J≈0.5."""
    from rearc_data_engineer_takehome_spark.operators.dedup import minhash_signatures

    a = "a b c d e f g h i j k l m n o p"
    b = "a b c d e f g h i j x y z w v u"  # ~50% shingle overlap region
    sa, sb = set(py_shingles(a)), set(py_shingles(b))
    true_j = len(sa & sb) / len(sa | sb)
    df = spark.createDataFrame([(0, a), (1, b)], ["doc_id", "text"])
    sigs = {
        r.doc_id: list(r.signature)
        for r in minhash_signatures(df, n_perm=64, seed=7).collect()
    }
    est = sum(x == y for x, y in zip(sigs[0], sigs[1])) / 64
    assert abs(est - true_j) <= 0.15, f"estimate {est} vs true {true_j}"


def test_simhash_hamming_tracks_similarity(spark):
    """Near-identical docs must have smaller SimHash Hamming distance
    than unrelated docs."""
    from rearc_data_engineer_takehome_spark.functions.hashing import hamming64
    from rearc_data_engineer_takehome_spark.operators.dedup import (
        simhash_fingerprints,
    )

    base = "the quick brown fox jumps over the lazy dog " * 4
    near = base.replace("lazy", "sleepy")
    far = "entirely different content about spark catalyst optimizer plans " * 4
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], ["doc_id", "text"]
    )
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(df, bits=32).collect()}
    d_near = bin(fps[0] ^ fps[1]).count("1")
    d_far = bin(fps[0] ^ fps[2]).count("1")
    assert d_near < d_far


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(  # left events: (key, ts)
        st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 50)),
        min_size=1, max_size=8,
    ),
    st.lists(  # right events: (key, ts, payload)
        st.tuples(st.sampled_from(["k1", "k2"]), st.integers(0, 50)),
        min_size=0, max_size=8,
    ),
)
def test_asof_join_matches_bruteforce(spark_session_holder, lefts, rights):
    spark = spark_session_holder
    from rearc_data_engineer_takehome_spark.operators.joins import asof_join

    # dedupe right (key, ts) — as-of requires unique right timestamps per key
    rights = list({(k, t): (k, t) for k, t in rights}.values())
    left_df = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)], ["key", "lt", "lid"]
    )
    right_df = spark.createDataFrame(
        [(k, t, 1000 + i) for i, (k, t) in enumerate(rights)],
        ["key", "rt", "rid"],
    ) if rights else spark.createDataFrame([], "key string, rt long, rid long")

    out = {
        r.lid: r.rid_right
        for r in asof_join(
            left_df, right_df, on="key", left_ts="lt", right_ts="rt"
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        cand = [(rt, 1000 + j) for j, (rk, rt) in enumerate(rights)
                if rk == k and rt <= t]
        expected = max(cand)[1] if cand else None
        assert out[i] == expected, f"left {i} ({k},{t}): {out[i]} != {expected}"


@pytest.fixture(scope="module")
def spark_session_holder(spark):
    """Indirection so @given-wrapped tests reuse the session fixture
    without hypothesis complaining about function-scoped fixtures."""
    return spark


def test_ws_tokenization_cross_engine_on_vertical_tab(spark):
    """Java's \\s includes \\x0B, RE2's does not — the explicit WS class
    must tokenize identically in both engines (the reason WS_PATTERN is
    spelled out instead of using \\s)."""
    import duckdb

    from rearc_data_engineer_takehome_spark.functions.text import WS_PATTERN
    from rearc_data_engineer_takehome_spark.operators.text import token_count_ws

    tricky = "a b\x0bc\td  e\nf"
    n_spark = (
        spark.createDataFrame([(tricky,)], ["text"])
        .select(token_count_ws("text").alias("n"))
        .collect()[0]["n"]
    )
    con = duckdb.connect()
    n_duck = con.execute(
        f"SELECT len(regexp_split_to_array(trim(?), '{WS_PATTERN}'))", [tricky]
    ).fetchone()[0]
    assert n_spark == n_duck == 6


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0, max_size=400),
    st.integers(min_value=2, max_value=50),   # stride
    st.integers(min_value=0, max_value=60),   # extra: size = stride + extra
)
def test_chunk_fixed_covers_text_without_loss(spark, text, stride, extra):
    """Property: for any text and any size >= stride, stitching the
    stride-prefix of every chunk plus the final chunk reconstructs the
    document exactly — chunking never loses or duplicates content."""
    from rearc_data_engineer_takehome_spark.operators.text import chunk_fixed

    size = stride + extra
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    chunks = sorted(
        chunk_fixed(df, "text", size=size, stride=stride).collect(),
        key=lambda r: r.chunk_id,
    )
    assert chunks[0].chunk_id == 0
    assert [r.chunk_id for r in chunks] == list(range(len(chunks)))
    rebuilt = "".join(r.chunk_text[:stride] for r in chunks[:-1]) + chunks[-1].chunk_text
    assert rebuilt == text
    # every chunk is the exact substring at its offset
    for r in chunks:
        assert r.chunk_text == text[r.chunk_id * stride : r.chunk_id * stride + size]


# ---------------------------------------------------------------------------
# Relational / analytics operators vs brute-force Python references
# ---------------------------------------------------------------------------

kv_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),   # group
        st.integers(min_value=0, max_value=6),   # sub
        st.integers(min_value=-50, max_value=50) # value
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(kv_rows)
def test_top1_per_group_matches_bruteforce(spark, rows):
    """Property: the argmax-aggregate top-1 equals the brute-force
    (max summed value, min sub on ties) reference for any input."""
    from collections import defaultdict

    from rearc_data_engineer_takehome_spark.operators.relational import (
        top1_per_group,
    )

    rows = [(g, sub, float(v)) for g, sub, v in rows]
    df = spark.createDataFrame(rows, "g long, sub long, v double")
    got = {
        r.g: (r.best_sub, r.sum_v)
        for r in top1_per_group(df, "g", "sub", "v").collect()
    }
    sums: dict = defaultdict(float)
    for g, sub, v in rows:
        sums[(g, sub)] += v
    expect = {}
    for (g, sub), s in sums.items():
        cur = expect.get(g)
        if cur is None or (s, -sub) > (cur[1], -cur[0]):
            expect[g] = (sub, s)
    assert got == {g: (sub, s) for g, (sub, s) in expect.items()}


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(0, 3)),
        min_size=1,
        max_size=40,
    )
)
def test_entropy_from_long_matches_per_column(spark, pairs):
    """Property: the single-pipeline multi-column entropy equals the
    per-column operator for any (col_name, value) distribution."""
    from rearc_data_engineer_takehome_spark.operators.quality import (
        column_entropy,
        entropy_from_long,
    )

    long_df = spark.createDataFrame(pairs, "col_name string, v string")
    got = {
        r.col_name: (r.entropy, r.n_distinct, r.n_rows)
        for r in entropy_from_long(long_df).collect()
    }
    for name in {c for c, _ in pairs}:
        one = column_entropy(
            long_df.where(F.col("col_name") == name).select("v"), "v"
        ).collect()[0]
        assert got[name] == (one.entropy, one.n_distinct, one.n_rows)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_streak_grouping_constant_matches_bruteforce(spark, user_days):
    """Property: the day-minus-row_number islands grouping yields the
    true longest consecutive run and run count per user."""
    from pyspark.sql import Window

    df = spark.createDataFrame(user_days, "user_id long, d long").distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    runs = (
        df.select("user_id", "d", (F.col("d") - F.row_number().over(w)).alias("grp"))
        .groupBy("user_id", "grp")
        .agg(F.count(F.lit(1)).alias("len"))
    )
    got = {
        r.user_id: (r.longest, r.n_streaks)
        for r in runs.groupBy("user_id")
        .agg(F.max("len").alias("longest"), F.count(F.lit(1)).alias("n_streaks"))
        .collect()
    }
    by_user: dict = {}
    for u, d in user_days:
        by_user.setdefault(u, set()).add(d)
    for u, days in by_user.items():
        ds = sorted(days)
        runs_py, best, cur = 1, 1, 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                cur += 1
            else:
                runs_py += 1
                cur = 1
            best = max(best, cur)
        assert got[u] == (best, runs_py)


# Two-pass quantile inputs: integer values plus both signed zeros, and
# probability lists spanning 0.0..1.0 — including lists whose brackets
# overlap or coincide (repeated and near-equal probabilities). Results
# compare with ==, under which -0.0 == 0.0: percentile() keeps the two
# zeros as separate map keys and returns whichever its hash-map order
# puts first, so the sign of a zero answer is not a function of the
# values. Every nonzero answer must match bit for bit.
_QUANTILE_VALUES = st.one_of(
    st.integers(min_value=-100, max_value=100).map(float),
    st.sampled_from([-0.0, 0.0]),
)
_QUANTILE_PROBS = st.one_of(
    st.lists(st.integers(0, 20).map(lambda p20: p20 / 20.0), min_size=1, max_size=4),
    st.sampled_from([[0.5, 0.5, 0.50001], [0.0, 1e-05, 0.99999, 1.0], [0.45, 0.5, 0.55]]),
)


def _percentile_array(probs) -> str:
    return f"percentile(x, array({', '.join(map(repr, probs))}))"


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(_QUANTILE_VALUES, min_size=2, max_size=60), _QUANTILE_PROBS)
def test_exact_quantiles_scalable_matches_percentile(spark, vals, probs):
    """Property: the two-pass bracketed quantile equals the single-pass
    exact percentile for any value multiset (duplicates and signed
    zeros included) and any probability list (0.0 and 1.0, overlapping
    brackets included)."""
    from rearc_data_engineer_takehome_spark.operators.quality import (
        exact_quantiles_scalable,
    )

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    ref = df.agg(F.expr(_percentile_array(probs))).collect()[0][0]
    got = exact_quantiles_scalable(df, "x", probs).collect()[0]
    assert list(got) == list(ref)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(0, 2),          # user
            st.integers(0, 1000),       # ts (us)
            st.integers(-50, 50),       # value
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda r: (r[0], r[1]),
    )
)
def test_twap_shape_matches_bruteforce(spark, rows):
    """Property: the lead-window TWAP equals the brute-force
    duration-weighted mean per user (users with <2 events drop out)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(u, t, float(v), i) for i, (u, t, v) in enumerate(rows)],
        "user_id long, ts long, value double, event_id long",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = df.select(
        "user_id", "value", (F.lead("ts").over(w) - F.col("ts")).alias("dt")
    ).where(F.col("dt").isNotNull())
    got = {
        r.user_id: (r.total, r.twap)
        for r in seq.groupBy("user_id")
        .agg(
            F.sum("dt").alias("total"),
            (F.sum(F.col("value") * F.col("dt")) / F.sum("dt")).alias("twap"),
        )
        .collect()
    }
    by_user: dict = {}
    for u, t, v in rows:
        by_user.setdefault(u, []).append((t, float(v)))
    for u, evs in by_user.items():
        evs.sort()
        if len(evs) < 2:
            assert u not in got
            continue
        num = den = 0.0
        for (t0, v0), (t1, _) in zip(evs, evs[1:]):
            num += v0 * (t1 - t0)
            den += t1 - t0
        if den == 0:
            # zero-duration users still emit a row with NULL-ish twap in
            # Spark (0/0) — the real query orders by distinct nano ts so
            # this degenerate case cannot occur there; skip comparing
            continue
        assert got[u][0] == den
        assert abs(got[u][1] - num / den) < 1e-9


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.tuples(st.integers(0, 2), _QUANTILE_VALUES), min_size=2, max_size=40),
    _QUANTILE_PROBS,
)
def test_grouped_exact_quantiles_scalable_property(spark, rows, probs):
    """Property: per-group bracketed quantiles equal grouped
    percentile() on any grouped multiset and probability list (bit for
    bit up to the sign of a zero answer, see above)."""
    from rearc_data_engineer_takehome_spark.operators.quality import (
        grouped_exact_quantiles_scalable,
    )

    df = spark.createDataFrame(rows, "g long, x double")
    ref = {
        r.g: list(r.q)
        for r in df.groupBy("g").agg(F.expr(_percentile_array(probs)).alias("q")).collect()
    }
    got = {
        r.g: list(r)[1:]
        for r in grouped_exact_quantiles_scalable(
            df, "g", "x", probs
        ).collect()
    }
    assert got == ref


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.integers(min_value=-100, max_value=100), min_size=2, max_size=60
    ),
    st.integers(min_value=0, max_value=20),
)
def test_exact_quantiles_bracketed_matches_percentile(spark, vals, p20):
    """Property: the two-pass quantile at a coarse sketch accuracy equals
    the single-pass exact percentile for any value multiset (duplicates
    included) and any probability, boundary 0.0/1.0 included."""
    from rearc_data_engineer_takehome_spark.operators.quality import (
        exact_quantiles_scalable,
    )

    prob = p20 / 20.0
    df = spark.createDataFrame([(float(v),) for v in vals], "x double")
    ref = df.agg(F.expr(f"percentile(x, {prob})")).collect()[0][0]
    got = exact_quantiles_scalable(df, "x", [prob], accuracy=1000).first()["q_0"]
    assert got == ref


# ---------------------------------------------------------------------------
# BPE trainer vs a pure-Python reference implementation
# ---------------------------------------------------------------------------


def py_bpe_merges(texts, n_merges):
    """Textbook BPE trainer (Sennrich et al.): the spec
    operators.text.bpe_train_merges must match — including the
    left-to-right non-overlapping within-round merge and the
    (count desc, pair lexicographic asc) tie-break."""
    import collections
    import re

    from rearc_data_engineer_takehome_spark.functions.text import BPE_PATTERN

    words: collections.Counter = collections.Counter()
    for t in texts:
        for w in re.findall(BPE_PATTERN, t):
            if len(w) >= 2:
                words[w] += 1
    segs = {w: list(w) for w in words}
    merges = []
    for rank in range(1, n_merges + 1):
        pc: collections.Counter = collections.Counter()
        for w, c in words.items():
            s = segs[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, a, b, a + b, cnt))
        for w, s in segs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    return merges


bpe_words = st.sampled_from(
    ["ab", "aba", "abab", "bab", "bb", "aabb", "low", "lower", "lowest", "a1b"]
)
bpe_texts = st.lists(bpe_words, min_size=1, max_size=20).map(" ".join)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(bpe_texts)
def test_bpe_trainer_matches_python_spec(spark_session_holder, text):
    spark = spark_session_holder
    from rearc_data_engineer_takehome_spark.operators.text import bpe_train_merges

    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    got = [
        (r.rank, r.lhs, r.rhs, r.merged, r.n)
        for r in bpe_train_merges(df, n_merges=3).collect()
    ]
    assert got == py_bpe_merges([text], 3)


# ---------------------------------------------------------------------------
# Repeated spans vs brute force
# ---------------------------------------------------------------------------


def py_repeated_spans(docs, w, min_docs, top_k):
    spans: dict = {}
    for doc_id, text in docs:
        toks = [t.lower() for t in text.split()]
        if len(toks) < w:
            continue
        for pos in range(len(toks) - w + 1):
            sp = " ".join(toks[pos : pos + w])
            e = spans.setdefault(sp, [0, set(), None])
            e[0] += 1
            e[1].add(doc_id)
            key = (doc_id, pos + 1)
            if e[2] is None or key < e[2]:
                e[2] = key
    rows = [
        (sp, len(ds), occ, fk[0], fk[1])
        for sp, (occ, ds, fk) in spans.items()
        if len(ds) >= min_docs
    ]
    # top-k cut uses (n_occ desc, span-hash asc) — replicate with the
    # portable hash, then present in (n_occ desc, first_doc, first_pos)
    rows.sort(key=lambda r: (-r[2], py_stable_hash64(r[0])))
    rows = rows[:top_k]
    rows.sort(key=lambda r: (-r[2], r[3], r[4]))
    return rows


span_words = st.sampled_from("red green blue cat dog run".split())
span_doc = st.lists(span_words, min_size=0, max_size=10).map(" ".join)
span_corpus = st.lists(span_doc, min_size=2, max_size=5)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(span_corpus)
def test_repeated_spans_matches_bruteforce(spark_session_holder, texts):
    spark = spark_session_holder
    from rearc_data_engineer_takehome_spark.operators.dedup import repeated_spans

    docs = list(enumerate(texts))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = [
        (r.span, r.n_docs, r.n_occ, r.first_doc, r.first_pos)
        for r in repeated_spans(df, w=3, min_docs=2, top_k=5).collect()
    ]
    assert got == py_repeated_spans(docs, 3, 2, 5)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 50), st.integers(0, 10**6)),
        min_size=1,
        max_size=120,
        unique_by=lambda t: t[1],
    ),
    st.sampled_from([1, 3, 8]),
)
def test_dense_row_numbers_match_global_window(spark, rows, n_parts):
    """Property: range-partitioned dense_row_numbers assigns exactly the
    global row_number() ranking (contiguous 1..n, same order) for any
    input and ANY partition count — boundary-invariance is the whole
    claim."""
    from rearc_data_engineer_takehome_spark.operators.relational import (
        dense_row_numbers,
    )

    df = spark.createDataFrame(rows, "k long, uid long")
    got = {
        (r.k, r.uid): r.rn
        for r in dense_row_numbers(df, ["k", "uid"], n_partitions=n_parts).collect()
    }
    expect = {
        (k, uid): i + 1
        for i, (k, uid) in enumerate(sorted(rows))
    }
    assert got == expect


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # duration
            st.integers(min_value=0, max_value=1),  # event flag
        ),
        min_size=1,
        max_size=40,
    )
)
def test_kaplan_meier_properties(spark_session_holder, subjects):
    """For ANY censoring pattern: S is in [0, 1], non-increasing in t,
    equals 1 until the first event, and n_risk telescopes exactly
    (n_risk[i+1] = n_risk[i] - d[i] - c[i])."""
    from rearc_data_engineer_takehome_spark.operators.quality import (
        kaplan_meier,
    )

    spark = spark_session_holder
    df = spark.createDataFrame(subjects, "duration int, event int")
    rows = sorted(
        kaplan_meier(df, "duration", "event").collect(),
        key=lambda r: r["duration"],
    )
    assert rows[0]["n_risk"] == len(subjects)
    prev_s = 1.0
    seen_event = False
    for i, r in enumerate(rows):
        assert 0.0 <= r["survival"] <= 1.0
        assert r["survival"] <= prev_s + 1e-9
        if not seen_event and r["d"] == 0:
            assert r["survival"] == 1.0
        seen_event = seen_event or r["d"] > 0
        if i + 1 < len(rows):
            assert (
                rows[i + 1]["n_risk"] == r["n_risk"] - r["d"] - r["c"]
            )
        prev_s = r["survival"]


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=8),  # score (ties likely)
            st.integers(min_value=0, max_value=1),  # label
        ),
        min_size=2,
        max_size=60,
    ).filter(
        lambda rows: len({y for _, y in rows}) == 2  # both classes present
    )
)
def test_roc_auc_matches_bruteforce_pairs(spark_session_holder, rows):
    """For ANY scored sample with both classes: the grouped rank-sum
    AUC equals the brute-force pair statistic
    (wins + 0.5 * ties) / (n_pos * n_neg)."""
    from rearc_data_engineer_takehome_spark.operators.evaluation import (
        roc_auc,
    )

    spark = spark_session_holder
    df = spark.createDataFrame(
        [(float(s), y) for s, y in rows], "score double, y int"
    )
    got = roc_auc(df, "score", "y").collect()[0]

    pos = [s for s, y in rows if y == 1]
    neg = [s for s, y in rows if y == 0]
    wins = sum(1 for p in pos for n in neg if p > n)
    ties = sum(1 for p in pos for n in neg if p == n)
    expect = (wins + 0.5 * ties) / (len(pos) * len(neg))
    assert got["n_pos"] == len(pos) and got["n_neg"] == len(neg)
    assert abs(got["auc"] - round(expect, 6)) < 1e-9


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_cohens_kappa_matches_direct_formula(spark_session_holder, pairs):
    """For ANY pair of labelings over a shared vocabulary: kappa equals
    the direct (po - pe) / (1 - pe) computed from raw counts — or po
    and pe coincide when pe == 1 (both annotators constant and equal),
    where kappa is undefined and the operator returns NULL/NaN-free
    po == pe == 1."""
    from rearc_data_engineer_takehome_spark.operators.evaluation import (
        cohens_kappa,
    )

    spark = spark_session_holder
    df = spark.createDataFrame(pairs, "x string, y string")
    got = cohens_kappa(df, "x", "y").collect()[0]

    n = len(pairs)
    po = sum(1 for a, b in pairs if a == b) / n
    ma = {k: sum(1 for a, _ in pairs if a == k) for k in "abc"}
    mb = {k: sum(1 for _, b in pairs if b == k) for k in "abc"}
    pe = sum(ma[k] * mb[k] for k in "abc") / (n * n)
    assert got["n_items"] == n
    assert abs(got["po"] - round(po, 6)) < 1e-9
    assert abs(got["pe"] - round(pe, 6)) < 1e-9
    if pe < 1.0:
        assert abs(got["kappa"] - round((po - pe) / (1 - pe), 6)) < 1e-5


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),   # quantity
            st.integers(min_value=0, max_value=10),   # discount (hundredths)
            st.integers(min_value=100, max_value=10_000_000),  # price cents
        ),
        min_size=8,
        max_size=60,
    )
)
def test_ols_cramer_matches_numpy_on_random_data(
    spark_session_holder, rows
):
    """The closed-form normal-equation solution must track numpy's
    least squares for ANY integer-moment input whose design matrix is
    full rank (degenerate inputs — a constant regressor or perfectly
    collinear pair — are skipped: Cramer and lstsq legitimately
    diverge there)."""
    import numpy as np
    from hypothesis import assume

    # import through the registry entry point: queries.py finishes the
    # cross-module registration (importing queries_analytics directly
    # first would hit the deliberate circular registration order)
    from rearc_data_engineer_takehome_spark.queries import REGISTRY

    ols_price_on_qty_discount = REGISTRY["ols_price_on_qty_discount"].spark

    x1 = np.array([r[0] for r in rows], dtype="float64")
    x2 = np.array([r[1] for r in rows], dtype="float64")
    y = np.array([r[2] for r in rows], dtype="float64")
    a = np.column_stack([np.ones_like(x1), x1, x2])
    # full-rank guard: condition of the centered Gram must be sane
    gram = a.T @ a
    assume(np.linalg.matrix_rank(gram) == 3)
    assume(np.linalg.cond(gram) < 1e10)

    spark = spark_session_holder
    import os
    import tempfile

    import shutil

    sf_dir = tempfile.mkdtemp(prefix="ols_prop_")
    try:
        spark.createDataFrame(
            [
                (float(q), float(d) / 100.0, float(c) / 100.0)
                for q, d, c in rows
            ],
            "l_quantity double, l_discount double, l_extendedprice double",
        ).write.mode("overwrite").parquet(
            os.path.join(sf_dir, "lineitem.parquet")
        )
        got = ols_price_on_qty_discount(spark, sf_dir).collect()[0]
    finally:
        shutil.rmtree(sf_dir, ignore_errors=True)
    coef, *_ = np.linalg.lstsq(a, y, rcond=None)
    assert got["n_rows"] == len(rows)
    scale = max(1.0, abs(coef[1]))
    assert abs(got["beta_qty"] - coef[1] / 100) < 1e-4 * scale
    assert abs(got["beta_discount"] - coef[2]) < 1e-3 * max(1.0, abs(coef[2]))
    assert abs(got["intercept"] - coef[0] / 100) < 1e-3 * max(
        1.0, abs(coef[0] / 100)
    )


# ---------------------------------------------------------------------------
# snapshot schema evolution: _merge_schemas algebraic properties
# ---------------------------------------------------------------------------

_FIELD_TYPES = st.sampled_from(["long", "double", "string", "boolean", "date"])


def _schema_json(names_types):
    import json as _json

    return _json.dumps(
        {
            "type": "struct",
            "fields": [
                {"name": n, "type": t, "nullable": bool(i % 2),
                 "metadata": {}}
                for i, (n, t) in enumerate(names_types)
            ],
        }
    )


@settings(max_examples=200, deadline=None)
@given(
    base=st.lists(
        st.tuples(
            st.text("abcdefgh", min_size=1, max_size=4), _FIELD_TYPES
        ),
        min_size=1,
        max_size=6,
        unique_by=lambda ft: ft[0],
    ),
    adds=st.lists(
        st.tuples(
            st.text("ijklmnop", min_size=1, max_size=4), _FIELD_TYPES
        ),
        min_size=0,
        max_size=4,
        unique_by=lambda ft: ft[0],
    ),
)
def test_merge_schemas_add_only_properties(base, adds):
    """For any table schema and any add-only batch (disjoint new
    names): the merge keeps every table field's definition and order,
    appends exactly the new fields as nullable, is idempotent, and a
    batch that drops or retypes a table column always raises."""
    import json as _json

    import pytest as _pytest

    from rearc_data_engineer_takehome_spark.sources._files import (
        _merge_schemas,
    )

    table = _schema_json(base)
    batch = _schema_json(base + adds)
    merged = _merge_schemas(table, batch)
    mf = _json.loads(merged)["fields"]
    tf = _json.loads(table)["fields"]
    assert mf[: len(tf)] == tf  # table fields verbatim, in order
    assert [f["name"] for f in mf[len(tf):]] == [n for n, _ in adds]
    assert all(f["nullable"] for f in mf[len(tf):])
    # idempotent: merging the widened batch into the merged schema is
    # a no-op
    assert _merge_schemas(merged, batch) == merged

    if base:
        # dropping the first table column (rename half) raises
        dropped = _schema_json(base[1:] + adds)
        with _pytest.raises(ValueError, match="missing table column"):
            _merge_schemas(table, dropped)
        # retyping the first table column raises
        n0, t0 = base[0]
        other = "double" if t0 != "double" else "string"
        with _pytest.raises(ValueError, match="cannot change"):
            _merge_schemas(
                table, _schema_json([(n0, other)] + base[1:] + adds)
            )
