"""The benchmark's pinned workloads.

Each workload is an explicit list of query names, so queries added to
a module later do not change it. Each list is a subset of the query
population the workload stands for, picked by ``subsets.py select``
from the measured profile in ``profiles/<workload>.json``: ``picks``
queries, at least one per stratum, whose warm pass fits ``budget_s``
and whose build / execute / jobs / shuffle profile is nearest the
population's (see README.md, "How the subsets were chosen").
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str
    queries: tuple[str, ...]
    why: str
    # The subset's warm pass time in benchmark runs on a 4-core
    # machine. A run of S seconds makes round(S / pass_s) passes: a
    # fixed count, so two commits compared on one machine do the same
    # work.
    pass_s: float
    # How ``subsets.py select`` picks ``queries`` from the population:
    # this many queries, summing to at most ``budget_s`` seconds.
    picks: int
    budget_s: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="fts-interactive",
            sf="0.01",
            queries=(
                # event_analytics
                "q_burstiness_hourly",
                "q_fifo_view_purchase_pairing",
                "q_funnel_view_click_purchase",
                "q_interval_scheduling_users",
                "q_time_hierarchy_rollup",
                # relational_core
                "q2_order_window_slice",
                # tpch_suite
                "q6_forecast_revenue",
            ),
            pass_s=4.0,
            picks=7,
            budget_s=3.3,
            why=(
                "FTS-analysis queries at sf0.01, the parity-test scale, where fixed "
                "per-query cost (plan building, catalog, job launch) dominates"
            ),
        ),
        Workload(
            name="graph-dedup",
            sf="0.1",
            queries=(
                # count-gated single-task kernels
                "q_hits_quantized_exact",
                "q_pagerank_quantized_exact",
                # similarity / dedup pairs
                "q_weighted_jaccard_pairs",
            ),
            pass_s=4.8,
            picks=3,
            budget_s=6.0,
            why=(
                "execution-bound LLM-curation work: eager gate counts and "
                "single-task kernels in build, pair joins and shuffles in execute"
            ),
        ),
        Workload(
            name="lake-ingest",
            sf="0.01",
            queries=(
                # cdc_history
                "q_cdc_merge_customers",
                # lakehouse_ops
                "q_occ_conflict_audit",
                "q_snapshot_diff_orders",
                # streaming_sources
                "q_binary_file_ingest",
                "q_partitioned_sink_reread",
                "q_user_topk_state_batch",
            ),
            pass_s=5.7,
            picks=6,
            budget_s=5.0,
            why=(
                "the lakehouse, streaming-source and CDC surface: the only workload "
                "that writes files and reads back files that are new each pass"
            ),
        ),
    )
}
