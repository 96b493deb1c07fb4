"""Graph operators (E15 connected components, PageRank, BFS) —
semantics that the oracle-parity test can't isolate: multi-hop chains,
multiple components, the round-cap guard, cluster/survivor labeling,
and the agreement of each operator's single-task kernel with its
distributed branch (the 100 TB path, reached by setting
``probe.FORCE_DISTRIBUTED`` or patching the operator's gate)."""

import pytest
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.catalog import load_table
from fts_analysis_datalake_spark.operators import graphs
from fts_analysis_datalake_spark.operators.graphs import (
    bfs_hops,
    connected_components,
    dedup_clusters,
    pagerank,
)
from tests.conftest import SF_DIR_SMALL, union_find_components


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")


def _both_branches(monkeypatch, run):
    """``run()`` on the default (kernel) branch, then again with every
    gate forced to its distributed branch."""
    kernel = run()
    with monkeypatch.context() as m:
        m.setattr(probe, "FORCE_DISTRIBUTED", True)
        dist = run()
    return kernel, dist


def _cc(edges):
    return {(r.node, r.comp) for r in connected_components(edges).collect()}


def _part_supplier_edges(spark):
    li = load_table(spark, SF_DIR_SMALL, "lineitem")
    return li.select(
        F.concat(F.lit("p"), F.col("l_partkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    ).distinct()


def _chains(spark):
    # 8 chains of 500 nodes each: node k belongs to component (k//500)*500
    return (
        spark.range(3999)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        .filter((F.col("id") % 500) != 499)
    )


def test_chain_converges_to_min_label(spark, monkeypatch):
    # Path graph 1-2-3-4-5-6: diameter 5 forces several contraction
    # rounds; every node must end with comp = 1 on both branches.
    e = _edges(spark, [(i, i + 1) for i in range(1, 6)])
    for got in _both_branches(monkeypatch, lambda: _cc(e)):
        assert got == {(i, 1) for i in range(1, 7)}


def test_multiple_components_and_edge_direction(spark, monkeypatch):
    # Direction of the input pair must not matter (graph is undirected).
    # Node 20's only edge is a self-loop, which carries no connectivity:
    # it is dropped, so 20 gets no row.
    e = _edges(spark, [(2, 1), (3, 2), (10, 11), (20, 20)])
    for got in _both_branches(monkeypatch, lambda: dict(_cc(e))):
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_max_iter_guard_raises(spark, monkeypatch):
    """The 400-edge chain needs a round cap of 10 (see
    test_star_cc_converges_exactly_at_cap), so a cap of 9 must raise
    rather than return partial components."""
    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
    monkeypatch.setattr(graphs, "_CC_MAX_ROUNDS", 9)
    edges = spark.range(400).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges)


def test_dedup_clusters_sizes_and_canonicals(spark, monkeypatch):
    e = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "id_a BIGINT, id_b BIGINT")

    def rows():
        return {
            (r.member, r.cluster_id, r.cluster_size, r.is_canonical)
            for r in dedup_clusters(e).collect()
        }

    for got in _both_branches(monkeypatch, rows):
        assert got == {
            (1, 1, 3, True), (2, 1, 3, False), (3, 1, 3, False),
            (7, 7, 2, True), (8, 7, 2, False),
        }


def test_pagerank_conserves_rank_mass(spark, monkeypatch):
    """Undirected graph => no dangling mass: after the fixed rounds,
    sum(rank) of the distributed loop must equal the node count (up to
    float noise), and every rank must be positive."""
    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
    ranks = pagerank(_part_supplier_edges(spark))
    n = ranks.count()
    total, mn = ranks.agg(F.sum("rank"), F.min("rank")).first()
    assert abs(total - n) < 1e-6 * n, (total, n)
    assert mn > 0


def test_pagerank_degree_correlates_with_rank(spark, monkeypatch):
    """On a bipartite co-occurrence graph, the top-ranked node must
    have above-median degree — a sanity check that contributions
    flow along edges rather than being uniform."""
    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
    edges = _part_supplier_edges(spark)
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    top = pagerank(edges).orderBy(F.desc("rank"), "node").limit(1)
    top_deg = top.join(deg, top.node == deg.src).first().deg
    med_deg = deg.agg(F.median("deg")).first()[0]
    assert top_deg >= med_deg, (top_deg, med_deg)


def test_star_cc_matches_min_label_on_chains(spark, monkeypatch):
    """The star loop must reach the ground-truth min-id labeling on
    long chains (diameter 499, the regime star contraction exists for:
    label propagation would need ~diameter rounds there)."""
    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
    rows = connected_components(_chains(spark)).collect()
    assert len(rows) == 4000
    assert all(r.comp == (r.node // 500) * 500 for r in rows)


def test_star_cc_converges_exactly_at_cap(spark, monkeypatch):
    """Cap-edge regression (round-5 verdict): a graph whose star-CC
    fixpoint is first detectable at the pair (cap-2, cap-1) with an
    EVEN round cap. The old schedule fingerprinted only odd rounds
    plus the final one, so `fp` at the final check was two rounds
    stale and the converged graph raised RuntimeError. The 400-node
    chain stabilizes at round 8 (measured: cap 9 raises — see
    test_max_iter_guard_raises — and cap 10 returns); cap 10 is even,
    so round 9's check used to compare against round 7's stale
    fingerprint. With the last-two-rounds schedule it returns.
    """
    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
    monkeypatch.setattr(graphs, "_CC_MAX_ROUNDS", 10)
    edges = spark.range(400).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    rows = connected_components(edges).collect()
    assert len(rows) == 401
    assert all(r.comp == 0 for r in rows)


def test_star_cc_small_finish_matches_star_path(spark, monkeypatch):
    """The single-task union-find finisher (and the extra composed
    seed passes before it) must produce the identical labeling to the
    pure star loop — checked on the 8x500-chain graph with three gate
    values: huge (finish immediately), small (forces extra composed
    seed passes first), and 1 (passes can never get below it -> falls
    through to the star loop with a composed expansion map)."""
    edges = _chains(spark)
    with monkeypatch.context() as m:
        m.setattr(probe, "FORCE_DISTRIBUTED", True)
        expect = _cc(edges)
    assert len(expect) == 4000
    for gate in (10_000_000, 100, 1):
        monkeypatch.setattr(graphs, "_CC_GATE", gate)
        assert _cc(edges) == expect, gate


def test_star_cc_small_finish_string_nodes(spark):
    """The union-find finisher must support non-numeric orderable node
    ids (comp = lexicographic min)."""
    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("z", "y")], ["src", "dst"]
    )
    assert _cc(edges) == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"), ("z", "x"),
    }


def test_bfs_unrolled_and_frontier_paths_agree(spark, monkeypatch):
    """Ground truth for both BFS branches — the dict-walk kernel and
    the single-job unrolled plan — on a 30-node path graph whose
    diameter (29) exceeds the fixed 6-hop cap, from an interior
    source: node n is reached at hop |n - 5| iff that is <= 6."""
    edges = spark.range(29).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    want = {(n, abs(n - 5)) for n in range(30) if abs(n - 5) <= graphs._BFS_HOPS}

    def hops():
        return {(r.node, r.hop) for r in bfs_hops(edges, 5).collect()}

    for got in _both_branches(monkeypatch, hops):
        assert got == want


def _lcg_pairs(n_nodes, n_edges, seed):
    rows, x = [], seed
    for _ in range(n_edges):
        x = (x * 1103515245 + 12345) % (2**31)
        u = x % n_nodes
        x = (x * 1103515245 + 12345) % (2**31)
        v = x % n_nodes
        rows.append((u, v))
    return rows


def test_cc_three_algorithms_agree_on_seeded_random_graphs(spark, monkeypatch):
    """Three independent answers must emit the IDENTICAL (node, comp)
    labeling: the union-find kernel branch, the forced-distributed
    star loop, and a plain Python union-find that shares no code with
    either. Graphs: seeded LCG edge lists spanning sparse forests,
    quasi-random blobs and dense near-cliques (possibly with
    self-loops and duplicates, which must be handled identically).
    Deterministic — fixed LCG, no RNG."""
    for n_nodes, n_edges, seed in [(60, 30, 1), (80, 120, 2), (25, 200, 3)]:
        rows = _lcg_pairs(n_nodes, n_edges, seed)
        edges = _edges(spark, rows)
        want = set(union_find_components(rows).items())
        kernel, dist = _both_branches(monkeypatch, lambda: _cc(edges))
        assert kernel == want, rows[:5]
        assert dist == want, rows[:5]


def test_pagerank_finisher_branches_agree(spark, monkeypatch):
    """The pagerank numpy kernel and the distributed join loop (the
    100 TB path) must agree per node on the SAME fixture —
    tolerance-based, since the float operator's declared contract
    allows summation-order ulp drift (np.bincount vs partial-sum
    aggregation)."""
    edges = _part_supplier_edges(spark)
    kernel, dist = _both_branches(
        monkeypatch, lambda: {r.node: r.rank for r in pagerank(edges).collect()}
    )
    assert set(kernel) == set(dist)
    assert len(kernel) > 0
    for node, rk in dist.items():
        assert abs(kernel[node] - rk) <= 1e-9 * max(1.0, abs(rk)), node


def test_bfs_finisher_branches_agree(spark, monkeypatch):
    """bfs_hops: the dict-walk kernel and the unrolled plan must
    produce identical (node, hop) sets — min-hop is
    expansion-order-independent, so equality is exact."""
    edges = _part_supplier_edges(spark)
    src = edges.orderBy("src").first().src
    kernel, unrolled = _both_branches(
        monkeypatch,
        lambda: {(r.node, r.hop) for r in bfs_hops(edges, src).collect()},
    )
    assert kernel == unrolled and len(kernel) > 1


def test_finisher_battery_random_graphs(spark, monkeypatch):
    """Kernel-vs-distributed equivalence beyond the bench fixture:
    seeded LCG graphs in the three regimes the dispatch notes care
    about (sparse forest, quasi-random blob, dense near-clique).
    bfs_hops must agree EXACTLY on the raw edge list (duplicates and
    both orientations included); pagerank, fed each undirected edge
    once as it requires, to float tolerance (its declared rows-only
    contract). Deterministic — fixed LCG, no RNG."""
    for n_nodes, n_edges, seed in [(60, 30, 11), (80, 120, 12), (25, 200, 13)]:
        rows = [(u, v) for u, v in _lcg_pairs(n_nodes, n_edges, seed) if u != v]
        edges = _edges(spark, rows)
        once = _edges(spark, sorted({(min(u, v), max(u, v)) for u, v in rows}))
        src = rows[0][0]
        k_bfs, d_bfs = _both_branches(
            monkeypatch,
            lambda: {(r.node, r.hop) for r in bfs_hops(edges, src).collect()},
        )
        assert k_bfs == d_bfs and len(k_bfs) >= 1, (n_nodes, n_edges, seed)
        k_pr, d_pr = _both_branches(
            monkeypatch, lambda: {r.node: r.rank for r in pagerank(once).collect()}
        )
        assert set(k_pr) == set(d_pr), (n_nodes, n_edges, seed)
        for node, rk in d_pr.items():
            assert abs(k_pr[node] - rk) <= 1e-9 * max(1.0, abs(rk)), (
                seed,
                node,
            )
