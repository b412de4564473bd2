"""DuckDB-SQL rendering of Spark ``percentile()``'s exact semantics.

Spark's exact percentile aggregate and DuckDB's ``quantile_cont`` agree
on the order statistics but differ in interpolation BRANCH STRUCTURE:
Spark returns the distinct value exactly when both bracketing ranks
land on it and otherwise uses the two-sided weighted form
``(ceil(h) - h) * lo + (h - floor(h)) * hi`` (h = (n-1)*p), while
``quantile_cont`` uses the one-sided ``lo + frac * (hi - lo)``.  The
forms drift an ulp apart in both directions (see the interpolation in
``operators/quality._quantiles_in_brackets`` for the hypothesis
counterexamples), which flips a post-round comparison whenever a value
lands within an ulp of a rounding half-boundary.  Oracles that gate a
Spark-side ``percentile()`` therefore render THIS structure instead of
calling ``quantile_cont``.
"""

from __future__ import annotations


def spark_percentile_sql(arr: str, n: str, p: str) -> str:
    """Scalar DuckDB SQL expression: Spark ``percentile(x, p)`` read out
    of a pre-sorted list.

    ``arr``
        SQL expression for the ASCENDING-sorted, NULL-free DuckDB list
        of values (build with
        ``list_sort(list(x) FILTER (WHERE x IS NOT NULL))``).
    ``n``
        SQL expression for the non-null value count (``count(x)``).
    ``p``
        SQL expression for the probability in [0, 1]; cast to DOUBLE
        here so ``h`` multiplies the same operands Spark does.
    """
    h = f"(({n}) - 1)::DOUBLE * ({p})::DOUBLE"
    lo = f"({arr})[floor({h})::BIGINT + 1]"
    hi = f"({arr})[ceil({h})::BIGINT + 1]"
    return (
        f"(CASE WHEN floor({h}) = ceil({h}) THEN {lo} "
        f"WHEN {lo} = {hi} THEN {lo} "
        f"ELSE (floor({h}) + 1.0 - ({h})) * {lo} "
        f"+ (({h}) - floor({h})) * {hi} END)"
    )
