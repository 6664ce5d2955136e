"""The benchmark's workloads: fixed query lists from ``registry.QUERIES``.

Each list is sized so that one run (session start, a cold pass and warm
passes) fits the benchmark's time budget on a 4-core host at local[4]; see
README.md for the sizing table and the queries left out.
"""

from __future__ import annotations

WORKLOADS: dict[str, list[str]] = {
    # Reference-class ETL: small inputs, 1-8 fixture loads per query, so the
    # driver-side layers (session confs, loader, Catalyst) are a large share
    # of each query's wall. The snapshot round trip writes and re-reads files
    # between loads, so a stale source-metadata cache fails its check here.
    "etl_tpch": [
        "complex_market_share",
        "complex_shipping_priority",
        "agg_sum_groupby",
        "join_broadcast_dims",
        "stream_session",
        "incr_snapshot_time_travel",
    ],
    # LLM-data pipeline operators: Spark actions (shuffles, broadcasts, pinned
    # diamond frames, the Arrow/Python workers) take most of the wall; the
    # loader is a small share.
    "llm_neardup": [
        "sim_containment_prefix",
        "dedup_simhash_pairs",
        "pack_bins_nextfit",
    ],
}
