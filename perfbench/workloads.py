"""The benchmark's workloads: which ops run, in which order, on which corpus.

Each workload is a closed loop of one caller: its ops run one after the
other, each after the previous one has returned, on one SparkSession. The
op order is part of the workload, because ops share what earlier ops left
behind (``registry.plan_memo`` entries, files in the page cache).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    ops: tuple[str, ...]
    why: str


WORKLOADS = {
    "headline_sf0.1": Workload(
        sf=0.1,
        ops=(
            "agg_scan_group", "win_rownum_topk",
            "topk_global", "json_extract", "ts_hourly_rollup",
            "llm_exact_dedup", "llm_sim_topk", "llm_text_stats",
            "llm_minhash_banding",
        ),
        why="9 of the 10 bench.py headline ops at sf0.1: mid-size scans, "
        "windows and aggregates where fixed per-query costs show and only "
        "llm_minhash_banding stages caches",
    ),
    "surface_sf0.01": Workload(
        sf=0.01,
        ops=(
            "stream_tumbling", "udf_map_in_arrow", "udtf_python",
            "src_json_lines", "agg_market_basket_lift", "win_moving_median",
            "join_asof", "sql_order_by_all", "str_regexp2",
        ),
        why="9 small ops from the streaming, Python UDF, source, staging, "
        "window, join and string modules at sf0.01, where per-query fixed "
        "costs dominate",
    ),
}

#: Ops left out of a workload because their output moved with the seed
#: (an order dependence in the op), with the reason. Every op kept above
#: matched its oracle on seeds 0-7.
DROPPED = {
    "headline_sf0.1": {
        "join_multiway": "revenue is round(sum(price * (1 - discount)), 2) "
        "over doubles; on this corpus one nation's exact sum ends in 5 at "
        "the third decimal, so the float summation order decides the last "
        "cent and the op mismatched its oracle on seeds 1 and 4",
    },
}
