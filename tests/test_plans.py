"""Plan-shape audit over every declared query (SURVEY.md §4).

Value checks at sf0.01 can't see scale hazards; these assertions can:
a cartesian product, a row-at-a-time Python UDF, or Python evaluation
sneaking outside the declared UDF surface all fail here even though
the small-SF answers would still be right.
"""

from __future__ import annotations

import pytest

from fts_analysis_datalake_spark.plans import (
    explain_text,
    pushed_filters,
    python_eval_nodes,
)
from fts_analysis_datalake_spark.registry import REGISTRY, _load_all
from tests.conftest import SF_DIR

_load_all()

# Queries whose DECLARED surface is Python evaluation (X1-X4 / D14
# multimodal plumbing). Everything else must stay JVM-side.
PYTHON_SURFACE = {
    "q_user_value_trend_udf",  # X2 applyInPandas
    "q_value_mad_udaf",  # X3 grouped-agg pandas UDAF
    "q_token_positions_udtf",  # X4 Python UDTF
    "q_media_decode_meta",  # D14 mapInPandas decode
    "q_media_resize_thumbs",  # D14 mapInPandas decode+resize
    "q_media_frame_sample",  # D14 mapInPandas row fan-out
    "q_embedding_near_dup_pairs",  # E11 vectorized-UDF LSH signature build
    "q_srp_topk_ann",  # E1 vectorized-UDF bucket assignment (r5: replaced
    # the bits*dim-term Catalyst fold whose one-time Janino compile cost
    # ~1.2 s per single-shot bench run)
    "q_son_frequent_tokens",  # E37 SON phase-1 per-partition mapInPandas
    "q_holt_forecast_hourly",  # E54 X2 per-series smoothing recursion
    "q_embedding_norms_arrow",  # E60 mapInArrow vector kernel
    "q_embedding_qsum_arrow",  # X5 mapInArrow exact-oracle twin
    "q_orderkey_lcg_pandas_udf",  # X1 scalar pandas UDF exact-oracle twin
    "q_isotonic_calibration",  # E155 X2 PAVA pooling loop
    "q_isotonic_binned_exact",  # E155 X2 PAVA twin (minimax-oracle-checked)
    "q_dbscan_grid_clusters",  # E235 single-task union-find finisher on
    # the seed-contracted eps-graph (r6: replaces ~8 star rounds of
    # fixed per-stage scheduling on a ~1.3k-edge remainder)
    "q_semantic_dedup_report",  # E103 same union-find finisher on the
    # quasi-random cos>=0.3 pair graph
    "q_dedup_pipeline_report",  # E57 union-find finisher on the
    # bounded verified-pair graph
    "q_dedup_pipeline_md5_report",  # E293 same finisher, md5 twin
    "q_dedup_clusters",  # E15 union-find finisher on the blocked
    # verified-pair graph
    "q_mmr_diversified_topk",  # E190 greedy on the bounded 20-row
    # shortlist in one mapInPandas task (corpus stage stays JVM-side)
    "q_diversification_audit",  # E197 reuses the E190 subplan
    "q_markov_removal_attribution",  # E241 24 integer absorption
    # rounds on the ~150-row scenario frame in one bounded task
    "q_bradley_terry_ratings",  # E202 MM rounds on the 20-cell duel
    # matrix in one bounded task
    "q_pca_power_iteration",  # E207 matvec rounds on the 64x64
    # scatter matrix in one bounded task
    "q_ipf_raking_weights",  # E234 scaling rounds on the lang x
    # source contingency table in one bounded task
    "q_kcore_suppliers",  # E221 6 peel rounds on the O(nodes)
    # sparsified edge list in one bounded task (count-gated); the
    # degree count runs in Spark on either branch's surviving edges
    "q_clamped_running_balance",  # E310 X2 per-user saturating-ledger
    # recursion (two-sided clamp has no window closed form)
    "q_polymorphic_udtf",  # E313 analyze()-time dynamic-schema UDTF
    # (the polymorphic sibling of the X4 static UDTF)
    "q_viterbi_regime_decode",  # E322 X2 per-series sequential DP
    # (min-cost path has no window closed form)
    "q_kalman_level_hourly",  # E326 X2 per-series filter recursion
    # (adaptive gain depends on the running posterior variance)
    "q_dtw_band_alignment",  # E327 bounded 20x20 banded DP in one
    # Arrow task (the unit a per-pair grouped map fans out at scale)
    "q_rouge_l_pairs",  # E328 bucketed per-pair LCS DP kernel
    "q_optimal_changepoints",  # E334 X2 per-series penalized
    # segmentation DP (F(b) depends on all F(a<b) — no window form)
    "q_elo_league_ratings",  # E335 X2 per-league sequential rating
    # walk (each match update depends on both players' running state)
    "q_huffman_code_audit",  # E339 bounded <=4097-symbol heap merge
    # in one Arrow task (sequential two-smallest merges)
    "q_kmeans_quantized_exact",  # E289 count-gated single-task BIGINT
    # Lloyd replay (r10: the inlined k x dim fold chain paid ~20
    # scheduled stages + Janino codegen; distributed loop stays the
    # else-branch)
    "q_logistic_newton_purchase",  # E229 Newton rounds on the <= 10-row
    # binned sufficient-statistics frame in one bounded task (r10;
    # data-sized scan + binning stay distributed)
    "q_knapsack_part_budget",  # E344 capacity-indexed DP in one bounded
    # Arrow task over the 24-row TakeOrdered shortlist
    "q_interval_scheduling_users",  # E345 count-gated bucketed greedy
    # sweep; pointer-doubled join walk is the else-branch
    "q_stable_matching_panel",  # E351 Gale-Shapley walk in one bounded
    # Arrow task over the 8x8 panel cents matrix
    "q_functional_graph_rho",  # E333 count-gated numpy doubling replay
    # (structure is a pure function of n); rerooted self-join loop is
    # the else-branch
    "q_betweenness_centrality",  # E340 node-gated Brandes replay over
    # the collected degree-bounded backbone; the 5-join level pipeline
    # is the else-branch
    "q_lof_hourly_anomalies",  # E317 count-gated per-series 1-D k-NN
    # + lrd/lof integer algebra in one bounded task (r11); the
    # pair-join + window + three keyed joins stay the else-branch
    "q_bellman_ford_nearest",  # E301 edge-gated single-task minimum.at
    # relaxation (r12) returning reached distances; the self-loop join
    # loop is the else-branch
    "q_lpa_communities",  # E299 edge-gated single-task LPA rounds
    # (r12) returning node labels; the join + argmax-window loop is the
    # else-branch
    "q_harmonic_centrality",  # E316 edge/node/seed-gated single-task
    # multi-source BFS; the join-frontier loop is the else-branch. Its
    # kernel shows in the plan since the eager checkpoint on its output
    # was dropped (the top-20 now runs in the kernel's task)
    "q_katz_centrality",  # E354 edge-gated single-task bincount/add.at
    # path counts over the backbone (r12); the join+agg rounds are the
    # else-branch; the kq score runs in Spark on either
    "q_personalized_pagerank",  # E290 graphs.pagerank_exact with a
    # seed set: edge-gated single-task integer replay; the full-outer
    # frontier loop is the else-branch
    "q_pagerank_quantized_exact",  # E289 graphs.pagerank_exact, every
    # node a seed: edge-gated single-task integer replay; the full-outer
    # join loop is the else-branch
    "q_hits_quantized_exact",  # E298 edge-gated single-task integer
    # HITS replay (r12); the checkpointed half-round loop is the
    # else-branch
    "q_textrank_keywords",  # E224 graphs.pagerank_exact over the
    # vocab graph: edge-gated single-task integer replay; the full-outer
    # join loop is the else-branch
    "q_quantile_regression_grid",  # E233 count-gated single-task
    # 21-slope exact-median sweep (r12); the crossJoin fan + window is
    # the else-branch
    "q_ransac_price_line",  # E337 count-gated single-task 64-trial
    # scorer (r12): sample via TakeOrdered + tagged union, numpy
    # integer inlier counts; the BNLJ expansion is the else-branch
    "q_pagerank_parts_suppliers",  # E47 count-gated numpy power-iteration
    # finisher (operators/graphs.pagerank, r6) — ALWAYS ran through this
    # kernel; its trailing eager checkpoint used to truncate the lineage
    # so the MapInPandas node was invisible to this audit. r11 dropped
    # that single-reference checkpoint (one fewer materialization job),
    # so the kernel now shows in the plan and is declared here.
}

ALL_QUERIES = sorted(REGISTRY)


@pytest.fixture(scope="module")
def plans(spark):
    """One plan text per declared query (simple physical plan)."""
    out = {}
    for name in ALL_QUERIES:
        out[name] = explain_text(REGISTRY[name].fn(spark, SF_DIR), "simple")
    return out


def test_no_cartesian_product_anywhere(spark, plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, offenders


def test_no_row_at_a_time_python_udf(spark, plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython [" in p or "BatchEvalPython(" in p]
    assert not offenders, offenders


def test_python_eval_only_on_declared_udf_surface(spark, plans):
    offenders = {}
    for name in ALL_QUERIES:
        if name in PYTHON_SURFACE:
            continue
        nodes = python_eval_nodes(plans[name])
        if nodes:
            offenders[name] = nodes
    assert not offenders, offenders


def test_flagship_filters_reach_the_scan(spark):
    """q1/q2/q3: the time-window predicates must appear as
    PushedFilters on the parquet scan, not as post-scan Filter-only."""
    for name, frag in [
        ("q1_pricing_summary", "l_shipdate"),
        ("q2_order_window_slice", "o_orderdate"),
        ("q3_shipping_priority", "o_orderdate"),
    ]:
        pf = pushed_filters(REGISTRY[name].fn(spark, SF_DIR))
        assert any(frag in f for f in pf), (name, pf)


def test_star_join_broadcasts_every_dimension(spark):
    p = explain_text(REGISTRY["q5_revenue_by_nation"].fn(spark, SF_DIR), "simple")
    # customer/nation/region are hinted broadcasts; the lineitem⋈orders
    # fact join may legitimately be SMJ at larger scale factors.
    assert p.count("BroadcastHashJoin") >= 3, p


def test_broadcast_hint_is_size_gated(spark, monkeypatch):
    """broadcast_dim must apply the hint below the cap (the sf0.1
    customer case — q5's plan test above depends on it) and must NOT
    hint once the dim outgrows the cap: at 100x an unconditional hint
    overrides AQE's size check and OOMs executors. The 'grown' dim is
    simulated by shrinking the cap rather than writing GBs of
    fixture."""
    from pyspark.sql import functions as F

    from fts_analysis_datalake_spark import catalog
    from fts_analysis_datalake_spark.catalog import broadcast_dim, load_table

    c = load_table(spark, SF_DIR, "customer")
    o = load_table(spark, SF_DIR, "orders")
    hinted = o.join(broadcast_dim(c, "customer"), o.o_custkey == c.c_custkey)
    assert "BroadcastHashJoin" in explain_text(hinted, "simple")

    monkeypatch.setattr(catalog, "_BROADCAST_BYTES_CAP", 1)
    # Disable the planner's own auto-broadcast so the plan shows what
    # the HINT (not the threshold) decided.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = o.join(broadcast_dim(c, "customer"), o.o_custkey == c.c_custkey)
        assert "BroadcastHashJoin" not in explain_text(gated, "simple")
        # non-candidate names never get the hint either
        other = o.join(broadcast_dim(c, "not_a_dim"), o.o_custkey == c.c_custkey)
        assert "BroadcastHashJoin" not in explain_text(other, "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def test_topk_uses_limit_pushdown_not_full_sort(spark):
    for name in ["q3_shipping_priority", "q_topk_similar_bruteforce"]:
        p = explain_text(REGISTRY[name].fn(spark, SF_DIR), "simple")
        assert "TakeOrderedAndProject" in p, (name, p)


def test_minhash_band_join_is_hash_join_not_nlj(spark):
    """The LSH candidate self-join must be an equi join on the band
    key (hash-partitioned or broadcast), never a nested loop over
    all signature pairs."""
    p = explain_text(REGISTRY["q_minhash_near_dups"].fn(spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p, p


def test_tpch_suite_plan_shapes(spark):
    """The adapted TPC-H suite must keep its canonical physical
    patterns: top-k via TakeOrderedAndProject (q10/q21), semi/anti
    joins for EXISTS stacks (q4/q21/q22 — equi key + residual, no
    nested loop over facts), and q6 as a pure pushed-down scan-agg."""
    p10 = explain_text(REGISTRY["q10_returned_item_revenue"].fn(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in p10, p10
    p21 = explain_text(REGISTRY["q21_last_shipper_per_order"].fn(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in p21, p21
    assert "LeftSemi" in p21 and "LeftAnti" in p21, p21
    assert "CartesianProduct" not in p21, p21
    p6 = pushed_filters(REGISTRY["q6_forecast_revenue"].fn(spark, SF_DIR))
    assert any("l_shipdate" in f for f in p6), p6
    p22 = explain_text(REGISTRY["q22_sales_opportunity"].fn(spark, SF_DIR), "simple")
    assert "LeftAnti" in p22, p22


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection must not read the whole lineitem schema."""
    plan = explain_text(REGISTRY["q_orders_offset_page"].fn(spark, SF_DIR), "formatted")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read and all("o_totalprice" in ln and "o_comment" not in ln for ln in read), read


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """A filter on a hive-partition column must prune at planning
    time (PartitionFilters on the scan), not post-scan — at 100 TB
    the difference is reading one day vs the whole dataset."""
    from pyspark.sql import functions as F

    from fts_analysis_datalake_spark.catalog import load_table

    path = str(tmp_path / "events_by_day")
    (
        load_table(spark, SF_DIR, "events")
        .withColumn("day", F.to_date("ts"))
        .write.partitionBy("day")
        .mode("overwrite")
        .parquet(path)
    )
    df = spark.read.parquet(path).filter(F.col("day") == "2024-01-05")
    txt = explain_text(df, "formatted")
    assert "PartitionFilters" in txt
    # the partition predicate must appear inside PartitionFilters, and
    # the pruned read must return exactly that day's rows
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", txt)
    assert m and "day" in m.group(1), txt
    want = (
        load_table(spark, SF_DIR, "events")
        .filter(F.to_date("ts") == "2024-01-05")
        .count()
    )
    assert df.count() == want > 0


def test_curation_passes_are_map_side(spark, plans):
    """E39/E41 are per-row scrub/score passes — no hash-partitioned
    shuffle may appear (they'd shuffle 100 TB for a map-side job).
    E41 is allowed its ROUND-ROBIN rebalance: that exchange exists
    only because the small fixture file yields one partition
    (ensure_parallelism), and vanishes on well-partitioned input."""
    assert "Exchange" not in plans["q_pii_redaction"]
    assert "hashpartitioning" not in plans["q_repetition_filter"], plans[
        "q_repetition_filter"
    ]


def test_bloom_prefilter_is_broadcast_only(spark, plans):
    """E36: the Bloom row must reach the fact scan via broadcast —
    no shuffle Exchange may appear upstream of the prefilter (the
    only shuffles allowed are the dim-side bloom build's own tiny
    single-row aggregate and the final group-by)."""
    p = plans["q_bloom_semijoin_orders"]
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_rank_filter_uses_window_group_limit(spark, plans):
    """Spark 3.5+ pushes rank()<=k filters into the window sort
    (WindowGroupLimit): per-partition top-k never materializes the
    full ranked set. The top-k-per-group query must keep that
    shape — losing it means a full sort per group at 100 TB."""
    assert "WindowGroupLimit" in plans["q_top_orders_per_priority"], plans[
        "q_top_orders_per_priority"
    ]


def test_shuffle_hash_hint_controls_strategy(spark):
    """E108: the SHUFFLE_HASH hint must override the planner's
    broadcast preference — the declared query plans a ShuffledHashJoin
    and the unhinted twin broadcasts."""
    p = explain_text(REGISTRY["q_shuffle_hash_hint_join"].fn(spark, SF_DIR), "simple")
    assert "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p


def test_sketch_probes_ride_broadcasts(spark, plans):
    """E175/E179/E186: the sketch/filter/codebook side of each probe
    join is tiny by construction (256 counters, 4096 bits, 64
    codebook rows) and must arrive via broadcast — a shuffled probe
    would move the full fact side for a constant-size lookup."""
    for name in [
        "q_countmin_heavy_hitters",
        "q_bloom_semi_join_prune",
        "q_pq_adc_topk_ann",
    ]:
        assert "BroadcastHashJoin" in plans[name], (name, plans[name])


def test_kmv_topk_compiles_to_window_group_limit(spark, plans):
    """E176: the per-group k-smallest-hash stage must keep the
    WindowGroupLimit shape (per-partition heaps of k=64) — losing it
    means fully sorting every group's distinct hashes at scale."""
    assert "WindowGroupLimit" in plans["q_kmv_distinct_custkeys"], plans[
        "q_kmv_distinct_custkeys"
    ]


def test_negative_sampling_fanout_is_spread(spark, plans):
    """E156: the sampled panel must be explicitly repartitioned before
    the panel x catalog fan-out — without it the filtered dim arrives
    as one partition and the whole 3M-row candidate stage (and its
    md5 draws) runs in a single task."""
    p = plans["q_negative_item_samples"]
    assert "REPARTITION_BY_NUM" in p, p


def test_rle_audit_runs_one_window_pass(spark, plans):
    """ADVICE r10: the six per-column RLE audits must share ONE
    per-order lag window and ONE lineitem scan (the old six-way union
    of separate aggregates relied on exchange reuse to avoid 6x the
    window work)."""
    p = plans["q_rle_compression_audit"]
    # physical plan prints one "Window [" node per window pass
    assert p.count("Window [") == 1, p
    # r11: exactly TWO scans by design — the run-count aggregate reads
    # the lag window's output (Expand-free), and the multi-countDistinct
    # Expand reads its own raw 6-column scan instead of multiplying the
    # window's 12-column output 7x (measured x0.81). The Expand must
    # stay BELOW a plain scan, never above the Window.
    assert p.count("Scan parquet") <= 2, p
    assert "Expand" in p, p
    w = p.index("Window [")
    x = p.index("Expand")
    assert x > w, "Expand must sit in the raw-scan branch, not above the window"


def test_no_data_dependent_limit_k():
    """VERDICT r10 #2: a global top-k whose k is computed from the
    data (e.g. the old backbone `orderBy(w).limit(4 * n_nodes)`) is a
    driver-side merge that grows with the corpus. Every `.limit(...)`
    in the queries package must be STATIC: an int literal, a
    module-level int constant, or arithmetic over those."""
    import ast
    import pathlib

    root = (
        pathlib.Path(__file__).resolve().parents[1]
        / "fts_analysis_datalake_spark"
        / "queries"
    )

    def is_static(node: ast.AST, consts: set[str]) -> bool:
        if isinstance(node, ast.Constant) and isinstance(node.value, int):
            return True
        if isinstance(node, ast.Name):
            return node.id in consts
        if isinstance(node, ast.BinOp):
            return is_static(node.left, consts) and is_static(
                node.right, consts
            )
        if isinstance(node, ast.UnaryOp):
            return is_static(node.operand, consts)
        return False

    offenders = []
    for f in sorted(root.glob("*.py")):
        tree = ast.parse(f.read_text())
        consts = {
            t.targets[0].id
            for t in tree.body
            if isinstance(t, ast.Assign)
            and len(t.targets) == 1
            and isinstance(t.targets[0], ast.Name)
            and isinstance(t.value, ast.Constant)
            and isinstance(t.value.value, int)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "limit"
                and node.args
                and not is_static(node.args[0], consts)
            ):
                offenders.append(f"{f.name}:{node.lineno}")
    assert not offenders, offenders


def test_no_oversized_global_limit_in_plans(spark, plans):
    """Belt for the SQL-text surface the AST audit can't see: every
    TakeOrdered / CollectLimit / GlobalLimit k that reaches a physical
    plan must be a bounded constant."""
    import re

    offenders = {}
    pat = re.compile(
        r"(?:TakeOrderedAndProject\s*\(limit=|CollectLimit\s+|GlobalLimit\s+)(\d+)"
    )
    for name, p in plans.items():
        big = [int(k) for k in pat.findall(p) if int(k) > 100_000]
        if big:
            offenders[name] = big
    assert not offenders, offenders


def test_count_gated_tails_add_no_shuffle(spark, plans):
    """A count-gated kernel returns the table its distributed loop ends
    with, and the query's one Spark tail (top-k, community count, degree
    count) ranks it. probe.single_task's output is one partition, so
    that tail must run in the kernel's own task: no Exchange may sit
    between the MapInPandas node and the root of the plan."""
    import re

    def indent(line: str) -> int:
        return re.search(r"[A-Za-z*(]", line).start()

    for name in [
        "q_lpa_communities",
        "q_bellman_ford_nearest",
        "q_harmonic_centrality",
        "q_betweenness_centrality",
        "q_katz_centrality",
        "q_kcore_suppliers",
    ]:
        lines = [ln for ln in plans[name].splitlines() if ln.strip()]
        at = next(
            (i for i, ln in enumerate(lines) if "MapInPandas" in ln), None
        )
        assert at is not None, (name, plans[name])
        depth = indent(lines[at])
        ancestors = []
        for ln in reversed(lines[:at]):
            if ln.startswith("=="):
                break
            if indent(ln) < depth:
                ancestors.append(ln.strip())
                depth = indent(ln)
        assert ancestors, (name, plans[name])
        assert not any("Exchange" in a for a in ancestors), (name, ancestors)
