"""Portable deterministic hashing for dedup/fingerprint operators.

The engine's similarity/dedup operators must be verifiable against a
DuckDB oracle, so they cannot use engine-private hashes (Spark's
``hash``/``xxhash64`` don't exist in DuckDB). Instead every content hash
derives from md5 — identical in both engines:

  Spark :  conv(substring(md5(s), 1, 15), 16, 10)  → bigint in [0, 2^60)
  DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT

MinHash permutations are affine maps over that base hash modulo a
Mersenne prime, with the multiply kept under 2^62 to avoid bigint
overflow in either engine.

At 100 TB this stays fully distributed: one md5 per shingle (cheap,
JVM-side), then P affine transforms — no per-row Python.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

#: Mersenne prime 2^31 - 1; permutation arithmetic stays < 2^62.
MERSENNE_31 = (1 << 31) - 1


def stable_hash64(col: Column | str) -> Column:
    """60-bit stable content hash from md5 — portable across engines."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def stable_hash64_sql(expr: str) -> str:
    """DuckDB rendering of :func:`stable_hash64` for oracle SQL."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def _affine_params(n_perm: int, seed: int = 7) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for MinHash permutations — a simple LCG
    expansion of the seed so Spark and any re-implementation agree
    without shipping a table."""
    params = []
    state = seed
    for _ in range(n_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_31 - 1)) + 1  # a ∈ [1, p-1]
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_31  # b ∈ [0, p-1]
        params.append((a, b))
    return params


def minhash_perm(base_hash: Column, a: int, b: int) -> Column:
    """One MinHash permutation: (a * (h mod p) + b) mod p."""
    reduced = F.pmod(base_hash, F.lit(MERSENNE_31))
    return F.pmod(F.lit(a) * reduced + F.lit(b), F.lit(MERSENNE_31))


def minhash_perm_sql(hash_expr: str, a: int, b: int) -> str:
    """DuckDB rendering of :func:`minhash_perm`."""
    return f"(({a} * (({hash_expr}) % {MERSENNE_31}) + {b}) % {MERSENNE_31})"


def shingle_hashes(shingles: Column) -> Column:
    """Base content-hash array (one md5+conv per shingle). Materialize
    this ONCE as an aliased column and derive every permutation from it:
    if it stays an inline subexpression, Catalyst re-evaluates the md5s
    per permutation (measured 8× slower at sf0.1)."""
    return F.transform(shingles, lambda s: stable_hash64(s))


def minhash_from_base(base: Column, n_perm: int, seed: int = 7) -> Column:
    """MinHash signature from a precomputed base-hash array column:
    n_perm affine transforms + array_min — pure arithmetic, no hashing."""
    sig = []
    for a, b in _affine_params(n_perm, seed):
        reduced = F.transform(
            base, lambda h: F.pmod(F.lit(a) * F.pmod(h, F.lit(MERSENNE_31)) + F.lit(b),
                                   F.lit(MERSENNE_31))
        )
        sig.append(F.array_min(reduced))
    return F.array(*sig)


def simhash_from_base(base: Column, bits: int = 32) -> Column:
    """SimHash fingerprint from a precomputed token-hash array column:
    per bit, sum +1/-1 votes, take the sign, pack into a bigint.

    For each bit j: bit_j = 1 iff Σ_tokens (h>>j & 1 ? +1 : -1) > 0.
    Derive from an ALIASED base column (see shingle_hashes) — the bit
    votes reference it ``bits`` times.
    """

    def bit_vote(j: int):
        # factory closure: pyspark inspects lambda arity, so the merge
        # lambda must take exactly (acc, x) — no default-arg captures
        return lambda s, h: s + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
        ).otherwise(F.lit(-1))

    acc = F.lit(0).cast("bigint")
    for j in range(bits):
        contrib = F.aggregate(base, F.lit(0).cast("bigint"), bit_vote(j))
        acc = acc + F.when(contrib > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
    return acc


def simhash(tokens: Column, bits: int = 32) -> Column:
    """SimHash as a single Column expression (recomputes token hashes per
    bit — prefer dedup.simhash_fingerprints' two-projection shape)."""
    return simhash_from_base(shingle_hashes(tokens), bits)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two packed fingerprints (bit_count(xor))."""
    return F.bit_count(a.bitwiseXOR(b))
