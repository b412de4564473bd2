"""Model- and feature-evaluation aggregates: ROC-AUC, Cohen's kappa,
WOE/IV feature screening.

A training-data pipeline doesn't just produce corpora — it grades the
heuristics that curate them (quality classifiers, language detectors,
filter rules). These operators are the standard graders, each expressed
as plain DataFrame aggregations that reduce the fact table to a
label/score-domain relation in ONE pass and finish the arithmetic over
that bounded domain — the same scale shape as the sketch and
Kaplan-Meier families (operators/sketch.py, quality.kaplan_meier):
nothing downstream of the first aggregate ever grows with corpus size.

Cross-engine determinism follows the repo conventions: counts stay
exact integers through every sum, ln() rounds 8dp before any further
arithmetic, and the only float divisions are final scalar ratios of
exact integers, rounded on output.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .relational import materialize


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    *,
    max_distinct_scores: int | None = 100_000,
) -> DataFrame:
    """Exact ROC-AUC of ``score_col`` ranking ``label_col`` (1 =
    positive), computed as the Mann-Whitney U statistic with the
    standard tie correction (tied scores contribute half) — one row:
    ``n_pos``, ``n_neg``, ``auc``.

    Scale shape: one grouped aggregate reduces the fact to the
    DISTINCT-SCORE domain; the cumulative-negative window then runs
    over that domain only. Like :func:`..quality.kaplan_meier`, the
    bound is enforced, not assumed: ``max_distinct_scores`` raises
    with a remediation (bucket/round the score upstream) when a
    continuous score would drag the fact through the single-partition
    window; pass ``None`` to skip the guard and its eager count.

    Exactness: per-score (n_pos, n_neg) and the cumulative sums are
    integers; 2x the AUC numerator (n_pos * (2*cum_neg + n_neg)) stays
    an exact bigint, so the only float op is the final division —
    identical in any engine, rounded 6dp.

    Edge semantics: NULL scores are dropped (AUC is undefined for an
    unscored row, and engines disagree on NULL ordering — any oracle
    must filter identically). A single-class input (no positives or no
    negatives) raises LOUDLY when the guard is on; with
    ``max_distinct_scores=None`` there is no eager action to host that
    check, so the division is made NULL-safe instead: a single-class
    input then returns a deterministic NULL ``auc`` on every engine
    (never an ANSI divide-by-zero) — the documented trade for skipping
    the guard's extra pass.
    """
    lab = F.col(label_col).cast("bigint")
    g = df.where(F.col(score_col).isNotNull()).groupBy(
        F.col(score_col).alias("score")
    ).agg(
        F.sum(lab).cast("bigint").alias("n_pos"),
        F.sum(F.lit(1) - lab).cast("bigint").alias("n_neg"),
    )
    if max_distinct_scores is not None:
        # one tiny action over the aggregated relation answers both
        # guards; the windows then reuse the same blocks
        g = materialize(g, "roc_auc_scores", "local", eager=False)
        guard = g.agg(
            F.count(F.lit(1)).alias("nd"),
            F.sum("n_pos").alias("tp"),
            F.sum("n_neg").alias("tn"),
        ).first()
        if (guard["nd"] or 0) > max_distinct_scores:
            raise ValueError(
                f"roc_auc: {guard['nd']} distinct scores exceed "
                f"max_distinct_scores={max_distinct_scores}; the "
                "rank-sum window runs single-partition over this "
                "domain. Bucket or round the score upstream, or "
                "raise/disable the guard if the domain is known "
                "bounded."
            )
        if not guard["tp"] or not guard["tn"]:
            raise ValueError(
                "roc_auc: input has a single label class "
                f"(n_pos={guard['tp']}, n_neg={guard['tn']}) — AUC is "
                "undefined; a ranking cannot be graded without both "
                "classes."
            )
    wprev = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum_neg = F.coalesce(F.sum("n_neg").over(wprev), F.lit(0))
    ranked = g.select(
        "n_pos",
        "n_neg",
        (F.col("n_pos") * (2 * cum_neg + F.col("n_neg"))).alias("num2"),
    )
    # NULL-safe denominator: with the guard disabled the single-class
    # case reaches this division, which must yield NULL deterministically
    # rather than trip ANSI DIVIDE_BY_ZERO (see docstring edge semantics)
    return ranked.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        F.round(
            F.sum("num2").cast("double")
            / F.nullif(
                F.lit(2.0)
                * F.sum("n_pos").cast("double")
                * F.sum("n_neg").cast("double"),
                F.lit(0.0),
            ),
            6,
        ).alias("auc"),
    )


def cohens_kappa(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Cohen's kappa — chance-corrected agreement between two
    categorical labelings (annotators, or a heuristic vs declared
    truth). One row: ``n_items``, ``po`` (observed agreement), ``pe``
    (chance agreement from the marginals), ``kappa`` =
    (po - pe) / (1 - pe), each rounded 6dp.

    Scale shape: ONE fact aggregate reduces to the label-pair domain
    (|A-labels| x |B-labels| cells, materialized because it feeds the
    agreement total and both marginals); everything after is
    arithmetic over that tiny relation. Counts are exact bigints; the
    pe numerator sums products of marginals as bigints (label domains
    are small, so row_a * col_b fits easily); po/pe/kappa are final
    scalar double ratios.
    """
    cells = materialize(
        df.groupBy(F.col(col_a).alias("la"), F.col(col_b).alias("lb")).agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        ),
        "kappa_cells", "local", eager=False,
    )
    totals = cells.agg(
        F.sum("cnt").cast("bigint").alias("n"),
        F.sum(F.when(F.col("la") == F.col("lb"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("agree"),
    )
    ma = cells.groupBy("la").agg(F.sum("cnt").cast("bigint").alias("ra"))
    mb = cells.groupBy("lb").agg(F.sum("cnt").cast("bigint").alias("rb"))
    # disjoint label vocabularies (detector never emits a declared
    # label) leave the marginal join empty: chance agreement is 0,
    # not NULL
    pe_num = (
        ma.join(mb, ma.la == mb.lb)
        .agg(
            F.coalesce(F.sum(F.col("ra") * F.col("rb")), F.lit(0))
            .cast("bigint")
            .alias("pe_num")
        )
    )
    n, agree, pn = F.col("n"), F.col("agree"), F.col("pe_num")
    po = agree.cast("double") / n.cast("double")
    pe = pn.cast("double") / (n.cast("double") * n.cast("double"))
    # pe == 1 (both annotators constant AND identical) makes kappa the
    # undefined 0/0 — return NULL rather than trip ANSI divide-by-zero
    # (found by the hypothesis property sweep)
    kappa = F.when(
        pe < F.lit(1.0), F.round((po - pe) / (F.lit(1.0) - pe), 6)
    )
    return totals.crossJoin(F.broadcast(pe_num)).select(
        n.alias("n_items"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        kappa.alias("kappa"),
    )


def woe_iv(
    df: DataFrame, feature_col: str, label_col: str
) -> DataFrame:
    """Weight-of-evidence / information-value feature screening — the
    credit-scoring standard for ranking a categorical feature's power
    to separate a binary outcome (``label_col`` 1 = event/"bad").
    One row per feature value: exact ``n_good``/``n_bad``, ``woe`` =
    ln(dist_good / dist_bad), ``iv_term`` = (dist_good - dist_bad) *
    woe, and the feature-level ``iv_total`` replicated per row.

    Scale shape: one fact aggregate to the feature-value domain; the
    totals and the IV sum run over that bounded domain (windows over
    dozens of rows). Determinism: distributions are integer-ratio
    doubles, woe rounds 8dp straight off the ln (repo BM25-idf
    convention, with the 1e-12 clamp for empty classes), and iv_total
    sums 1e-8-quantized integer terms so no float accumulation order
    can move the last bit.
    """
    lab = F.col(label_col).cast("bigint")
    per = df.groupBy(F.col(feature_col).alias("feature")).agg(
        F.sum(F.lit(1) - lab).cast("bigint").alias("n_good"),
        F.sum(lab).cast("bigint").alias("n_bad"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tg = F.sum("n_good").over(wall)
    tb = F.sum("n_bad").over(wall)
    dg = F.col("n_good").cast("double") / tg.cast("double")
    db = F.col("n_bad").cast("double") / tb.cast("double")
    woe = F.round(
        F.log(
            F.greatest(dg, F.lit(1e-12)) / F.greatest(db, F.lit(1e-12))
        ),
        8,
    )
    scored = per.select(
        "feature",
        "n_good",
        "n_bad",
        woe.alias("woe"),
        ((dg - db) * woe).alias("iv_term_raw"),
    )
    ivq = F.round(F.col("iv_term_raw") * 1e8).cast("bigint")
    return scored.select(
        "feature",
        "n_good",
        "n_bad",
        "woe",
        F.round("iv_term_raw", 8).alias("iv_term"),
        F.round(F.sum(ivq).over(wall) / 1e8, 6).alias("iv_total"),
    )
