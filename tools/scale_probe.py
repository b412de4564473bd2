"""Empirical scale probe: run the flagship operators at sf0.1 and at a
synthesized 10x of it, and record the wall-clock ratio per operator.

The 100 TB argument in SCALE.md is a design argument; this probe is the
measurement behind it at the scales this box can hold. An operator whose
plan is scale-linear should cost <= ~10x at 10x rows on a fixed core
count (sub-linear when the small scale under-utilizes cores); anything
super-linear indicates a shuffle/skew/driver bottleneck that would only
get worse on a cluster. Each time is the min over SCALE_PROBE_RUNS samples
of bench.py's ``time_query`` (plan build plus a noop write), after
bench.py's ``warm_up``.

Synthesis: each fact table is replicated REPLICAS times with key offsets
(order/doc/event/vec ids shifted per replica) so join fan-outs and group
cardinalities scale honestly; dimension tables keep their catalog role
and are copied as-is. Text/embedding payloads repeat across replicas,
which leaves dedup semantics representative (near-dup groups grow with
scale, as they do in real crawl corpora).

Usage:
    python tools/scale_probe.py            # writes SCALE_PROBE.md
    SCALE_PROBE_REPLICAS=5 python tools/scale_probe.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from bench import seconds, time_query, warm_up  # noqa: E402
from rearc_data_engineer_takehome_spark.queries import REGISTRY  # noqa: E402
from rearc_data_engineer_takehome_spark.session import get_spark, usable_cpus  # noqa: E402

BASE_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PROBE_DIR = os.environ.get("SCALE_PROBE_DIR", "/tmp/spark_graft_scale_probe")
REPLICAS = int(os.environ.get("SCALE_PROBE_REPLICAS", "10"))
CPUS = usable_cpus()

# (table, id columns to offset per replica) — offsets keep keys unique
# across replicas while preserving intra-replica join relationships.
FACT_OFFSETS: dict[str, list[str]] = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["region", "nation", "customer", "supplier", "part"]

PROBE_QUERIES = [
    "pricing_summary",  # scan -> filter -> grouped agg
    "best_part_by_supplier",  # two-stage agg (flagship)
    "lineitem_part_report",  # broadcast dim join
    "top_customers_by_revenue",  # join + agg + top-k
    "null_profile_orders",  # full-scan conditional counts
    "dedup_exact_docs",  # digest groupBy dedup
    "dedup_minhash_lsh",  # shingle -> minhash -> band join (max_bucket star cap)
    "dedup_ngram_jaccard",  # exact-dedup-staged shingle self-join
    "dedup_clusters",  # staged pairs + star edges -> label propagation
    "doc_quality_scores",  # pure codegen text battery
    "corpus_split_sizes",  # deterministic hash split
    "events_hourly",  # event-time tumbling windows
    "events_sessionize",  # gap sessionization windows
    "knn_bruteforce",  # vector scan top-k
    "kmeans_embeddings",  # iterative broadcast Lloyd
    "knn_pq",  # PQ train (per-dir cache) + ADC + rerank
    "multimodal_features",  # Arrow-batched mapInPandas decode
    "part_pagerank",  # graph build + power iteration
    "part_pair_affinity",  # in-row basket pairing
    "doc_seq_packing",  # partitioned cumulative-sum window + span explode
    "doc_clf_quality",  # map-only hashed linear classifier
    "dsir_importance_weights",  # two-pass bounded slot-table model
    "source_cap_balancing",  # per-source rank window + cap accounting
    "source_similarity_minhash",  # union-minhash source signatures
    "perplexity_bands",  # unigram LM + global tercile banding
    "doc_bigram_surprisal",  # bigram LM (zip-sliced shingler)
    "repeated_span_boilerplate",  # substring-level dedup, hash-only shuffle
    "embedding_pca_projection",  # moment fold + driver power iteration
    "hard_negative_mining",  # broadcast anchors + anchor-keyed top-k
    "bpe_train_merge_table",  # corpus fold once + vocab-scale rounds
    "doc_novelty_scores",  # inverted index + df join-back
    "source_score_calibration",  # 101-point grid + per-source rank window
    "dedup_ngram_containment",  # asymmetric containment, same index shape
    "quality_bootstrap_ci",  # B-way explode + map-side partials
    "events_cusum_drift",  # stacked windows, one user-keyed exchange
    # round-4 additions: remaining audit tier + the new families
    "multimodal_phash_dedup",  # avg-hash banding near-dup
    "video_frame_overlap",  # sampled frame-fingerprint overlap
    "orders_benford_deviation",  # first-digit audit
    "ab_experiment_readout",  # deterministic hash exposure + readout
    "customer_rfm_segments_scalable",  # quintile cuts + broadcast scoring
    "corpus_health_dashboard",  # multi-metric corpus fold
    "events_hll_daily_users",  # mergeable HLL register rollup
    "customer_k_anonymity",  # QI-class audit
    "dedup_ngram_jaccard_prefix",  # PPJoin prefix-filtered lossless jaccard
    "lineitem_numeric_correlations",  # one-pass co-moment correlation matrix
    "priority_status_mutual_info",  # contingency-table MI + entropies
    "events_last_touch_attribution",  # conditional fill-forward window
    "events_user_skew_profile",  # per-key counts + two-pass quantiles
    "orders_global_rownum_sample",  # range-partitioned dense numbering
    "order_value_distribution_scalable",  # closed-form rank battery on rn
    "orders_constraint_suite",  # single-pass DQ counters
    "customer_revenue_gini",  # dense-rank Gini, integer-cent sums
    "order_price_psi_by_year",  # broadcast-decile PSI drift
]

# Optional override: probe exactly these queries (comma-separated).
_env_queries = os.environ.get("SCALE_PROBE_QUERIES")
if _env_queries:
    PROBE_QUERIES = [q.strip() for q in _env_queries.split(",") if q.strip()]


def synthesize(spark) -> int:
    """Write REPLICAS-fold copies of the fact tables (key-offset) and
    pass-through dims into PROBE_DIR. Returns total rows written."""
    os.makedirs(PROBE_DIR, exist_ok=True)
    total = 0
    for t in DIMS:
        df = spark.read.parquet(f"{BASE_SF}/{t}.parquet")
        df.write.mode("overwrite").parquet(f"{PROBE_DIR}/{t}.parquet")
        total += df.count()
    for t, keys in FACT_OFFSETS.items():
        base = spark.read.parquet(f"{BASE_SF}/{t}.parquet")
        # offset stride: well past the base key range so replicas never
        # collide (base ids are < 10^9 in every fixture)
        stride = 1_000_000_000
        parts = []
        for r in range(REPLICAS):
            rep = base
            for k in keys:
                rep = rep.withColumn(k, F.col(k) + F.lit(r * stride))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{PROBE_DIR}/{t}.parquet")
        total += base.count() * REPLICAS
    return total


def main() -> None:
    spark = get_spark(
        app_name="scale-probe",
        master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    spark.sparkContext.setLogLevel("ERROR")

    fresh = not os.path.isdir(f"{PROBE_DIR}/lineitem.parquet")
    if fresh:
        t0 = time.perf_counter()
        n = synthesize(spark)
        print(
            f"synthesized {REPLICAS}x probe data ({n} rows) "
            f"in {time.perf_counter() - t0:.1f}s -> {PROBE_DIR}",
            file=sys.stderr,
        )

    warm_up(spark, BASE_SF)
    # min over N samples per (query, scale), bench.py's estimator
    n_runs = int(os.environ.get("SCALE_PROBE_RUNS", "2"))

    rows = []
    for name in PROBE_QUERIES:
        q = REGISTRY[name]
        t_base, t_big = (
            min(seconds(time_query(spark, q, path)) for _ in range(n_runs))
            for path in (BASE_SF, PROBE_DIR)
        )
        ratio = t_big / t_base if t_base > 0 else float("inf")
        rows.append((name, t_base, t_big, ratio))
        print(
            f"{name}: base {t_base:.2f}s  {REPLICAS}x {t_big:.2f}s  "
            f"ratio {ratio:.1f}",
            file=sys.stderr,
        )

    out_name = os.environ.get("SCALE_PROBE_OUT", "SCALE_PROBE.md")
    with open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), out_name),
        "w",
    ) as f:
        f.write(
            "# SCALE_PROBE — measured operator scaling, "
            f"sf0.1 vs {REPLICAS}x (local[{CPUS}])\n\n"
            "Generated by `python tools/scale_probe.py`. Fact tables "
            f"replicated {REPLICAS}x with per-replica key offsets "
            "(join fan-outs and group cardinalities scale honestly); "
            f"dims kept catalog-sized. On a fixed {CPUS} cores a "
            "scale-linear operator costs <= ~Nx at Nx rows — sub-linear "
            "when the small scale under-utilized cores; super-linear "
            "flags a shuffle/skew/driver bottleneck that a cluster "
            "would amplify.\n\n"
            f"Replication makes every document a {REPLICAS}-way exact "
            "duplicate — the dup-heavy worst case for near-dup "
            "operators, whose candidate pairs would grow "
            f"~{REPLICAS * REPLICAS}x (quadratic in copies). "
            "Since round 3 the operators defend in-plan: "
            "dedup_ngram_jaccard / dedup_clusters stage exact dedup "
            "first (digest groupBy, shingle join on distinct content, "
            "member expansion / star edges), and dedup_minhash_lsh "
            "caps band buckets at max_bucket=16 with star pairing — "
            "so dup-heavy ratios should now track the linear "
            "operators. NOTE dedup_ngram_jaccard's OUTPUT is itself "
            "quadratic in copy count (every member pair is emitted), "
            "so perfectly linear runtime is not expected — bounded "
            "candidate GENERATION is.\n\n"
            f"## Full-battery run at {REPLICAS}x\n\n"
            f"`SPARK_GRAFT_SF_DIR={PROBE_DIR} python "
            "bench.py` runs ALL registered queries at this scale — "
            f"per-query detail in `BENCH_DETAIL_{REPLICAS}x.json` when "
            "recorded.\n\n"
            f"| query | t(sf0.1) s | t({REPLICAS}x) s | ratio | verdict |\n"
            "|---|---|---|---|---|\n"
        )
        for name, tb, tg, r in rows:
            verdict = (
                "sub-linear"
                if r <= REPLICAS * 0.8
                else ("~linear" if r <= REPLICAS * 1.3 else "SUPER-LINEAR")
            )
            f.write(
                f"| {name} | {tb:.2f} | {tg:.2f} | {r:.1f}x | {verdict} |\n"
            )
    print(f"wrote {out_name}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
