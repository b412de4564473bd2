"""The benchmark's workloads: which queries run, over which inputs, and why.

Each workload stresses one layer of the engine and bypasses the others,
so a change to one layer should move one workload and leave the rest
flat (see README.md for the layer map).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    data: str  # "base" (sf0.1) or "scale10x"
    # seconds one timed pass took on the commit that defined the workload;
    # sets how many passes ``--seconds`` buys
    nominal_pass_s: float
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "delta_dml",
            (
                "orders_dv_update_scan",
                "orders_snapshot_increment",
                "revenue_by_region_cached",
            ),
            "base",
            5.0,
            "write paths at sf0.1: Delta commits, deletion vectors, snapshot "
            "appends, log replay and the result cache; scale_10x bypasses them",
        ),
        Workload(
            "scale_10x",
            (
                "price_quantiles_scalable",
                "returnflag_price_deciles_scalable",
            ),
            "scale10x",
            9.0,
            "lineitem replicated 10x: in-job volume, shuffle and the >1M-row "
            "two-pass exact-quantile plans, which sf0.1 never reaches; no writes",
        ),
    )
}
