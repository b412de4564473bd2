"""Clustered tables (sources/delta_log/): clean-room PROTOCOL.md
"Clustered Table" — clustering columns recorded in the
``delta.clustering`` domain-metadata domain (physical names under
column mapping), the ``clustering`` writer feature, and a clustering
OPTIMIZE that rewrites live rows Z-ordered (Morton key from
operators/layout) so per-file stats prune on EVERY clustering
dimension; its adds carry ``clusteringProvider`` per spec.

Reference anchor: the reference persists curated tables in Delta
(notebooks/20_analytics.ipynb:653); liquid clustering is the layout
surface current runtimes apply to those tables.
"""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from rearc_data_engineer_takehome_spark.sources import _files
from rearc_data_engineer_takehome_spark.sources import delta_log as dl


def _mk(spark, t, n=20_000, files=8, **kw):
    df = spark.range(0, n).select(
        (F.col("id") % 100).alias("x"),
        (F.col("id") * 7 % 100).alias("y"),
        F.col("id").alias("v"),
    )
    return dl.write_delta(
        df.repartition(files), t, stats_cols=["x", "y"], **kw
    )


def _kept(state, prune):
    """Files delta_scan's stats test would keep — the skip decision
    itself, exposed for assertions."""
    return [
        p for p, a in state.adds.items()
        if _files._file_may_match(dl._add_stats_view(a), prune)
    ]


def test_set_clustering_records_domain(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t)
    st = dl.delta_set_clustering(t, ["x", "y"])
    assert dl.clustering_columns(st) == ["x", "y"]
    feats = set(st.protocol["writerFeatures"])
    assert {"clustering", "domainMetadata"} <= feats
    cfg = json.loads(st.domain_metadata["delta.clustering"])
    assert cfg == {"clusteringColumns": [["x"], ["y"]]}
    with pytest.raises(ValueError, match="not in table schema"):
        dl.delta_set_clustering(t, ["zzz"])


def test_cluster_optimize_prunes_both_dimensions(spark, tmp_path):
    """The point of Z-order: after the clustering rewrite a 2-d box
    predicate must PRUNE files on BOTH dimensions — a plain lead-key
    sort can only prune on the first. Values stay exact."""
    t = str(tmp_path / "t")
    _mk(spark, t)
    dl.delta_set_clustering(t, ["x", "y"])
    st = dl.delta_cluster_optimize(spark, t, 8)
    assert len(st.files) == 8
    assert all(
        a.get("clusteringProvider") == "liquid"
        for a in st.adds.values()
    )
    box = {"x": (10, 19), "y": (10, 19)}
    kept = _kept(st, box)
    assert 0 < len(kept) < len(st.files), (
        f"no pruning: kept {len(kept)}/{len(st.files)}"
    )
    got = sorted(
        r.v
        for r in dl.delta_scan(spark, t, prune=box)
        .where(
            "x between 10 and 19 and y between 10 and 19"
        )
        .collect()
    )
    want = sorted(
        r.v
        for r in dl.read_delta(spark, t)
        .where("x between 10 and 19 and y between 10 and 19")
        .collect()
    )
    assert got == want and len(got) > 0


def test_cluster_optimize_is_datachange_false(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=2_000, files=3)
    dl.delta_set_clustering(t, ["x"])
    st = dl.delta_cluster_optimize(spark, t, 2)
    with open(dl._commit_path(t, st.version)) as f:
        acts = [json.loads(x) for x in f if x.strip()]
    assert all(
        not a["add"]["dataChange"] for a in acts if "add" in a
    )
    assert all(
        not a["remove"]["dataChange"] for a in acts if "remove" in a
    )
    # history stays time-travelable; the feed excludes the rewrite
    assert dl.read_delta(spark, t, version=0).count() == 2_000
    assert dl.read_delta_increment(spark, t, 1).count() == 0


def test_cluster_optimize_preserves_row_ids_and_dvs(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=5_000, files=4, row_tracking=True)
    dl.delta_delete(spark, t, "v % 17 = 0")
    dl.delta_set_clustering(t, ["x", "y"])
    before = {
        r.v: (r._row_id, r._row_commit_version)
        for r in dl.read_delta(spark, t, row_ids=True).collect()
    }
    dl.delta_cluster_optimize(spark, t, 4)
    after = {
        r.v: (r._row_id, r._row_commit_version)
        for r in dl.read_delta(spark, t, row_ids=True).collect()
    }
    assert after == before  # ids, versions, and the DV purge all hold


def test_clustering_survives_checkpoint_gc(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=2_000, files=2)
    dl.delta_set_clustering(t, ["x"])
    dl.delta_cluster_optimize(spark, t, 2)
    v = dl.write_checkpoint(t)
    for i in range(v + 1):
        p = dl._commit_path(t, i)
        if os.path.exists(p):
            os.remove(p)
    st = dl.replay(t)
    assert dl.clustering_columns(st) == ["x"]
    assert all(
        a.get("clusteringProvider") == "liquid"
        for a in st.adds.values()
    )
    # still optimizable post-GC (domain + feature both survived)
    dl.delta_cluster_optimize(spark, t, 1)
    assert dl.read_delta(spark, t).count() == 2_000


def test_cluster_refusals(spark, tmp_path):
    t = str(tmp_path / "t")
    _mk(spark, t, n=500, files=1)
    with pytest.raises(ValueError, match="no clustering columns"):
        dl.delta_cluster_optimize(spark, t, 1)
    t2 = str(tmp_path / "p")
    df = spark.range(0, 100).select(
        F.col("id").alias("x"),
        (F.col("id") % 2).cast("string").alias("p"),
    )
    dl.write_delta(df, t2, partition_by=["p"])
    with pytest.raises(ValueError, match="overlap partition"):
        dl.delta_set_clustering(t2, ["p"])
    dl.delta_set_clustering(t2, ["x"])
    with pytest.raises(ValueError, match="unpartitioned"):
        dl.delta_cluster_optimize(spark, t2, 1)
