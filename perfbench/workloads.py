"""The benchmark's workloads: which registry queries each one runs, and why.

Every workload is a single-client closed loop over its query list: the
client issues one query, waits for ``collect()``, checks the rows, and only
then issues the next. The list is fixed; the seed only permutes the order
of each pass. The input corpus is the same for every seed.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    why: str
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    "scan_agg": Workload(
        why=(
            "read-only single-pass relational and statistics queries: time goes to "
            "scans, shuffles, Catalyst and codegen, with no pools, writes or streams"
        ),
        queries=(
            "pricing_summary_report",
            "part_pair_cooccurrence",
            "customer_running_spend",
            "order_priority_islands",
            "asof_last_event_before_order",
        ),
    ),
    "session_mix": Workload(
        why=(
            "iterative driver-side loops, pooled corpus artifacts, file round trips "
            "and streaming replays in one session: the layers scan_agg bypasses"
        ),
        queries=(
            "huber_regression_daily_revenue",
            "iqr_capped_price_stats",
            "hard_negative_mining",
            "jsonl_roundtrip_part_stats",
            "streaming_sliding_rollup_replay",
        ),
    ),
}
