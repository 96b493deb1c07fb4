"""Graph operators (SURVEY.md §2.12): connected components for dedup
clustering (E15), float and integer PageRank, and bounded-hop BFS over
an edge table.

A near-dup pipeline ends with CLUSTERS, not pairs: LSH emits candidate
pairs, exact verify confirms them, and transitive closure groups them
so one canonical survivor per component can be kept. This module
closes that last step.

Every operator is count-gated: under a module-constant gate
(``_CC_GATE``, ``_PAGERANK_GATE``, ``_PAGERANK_EXACT_GATE``,
``_BFS_GATE``; tests patch them to 0 or set ``probe.FORCE_DISTRIBUTED``)
one bounded task replays the whole loop, and above it the distributed
form below is the 100 TB path.

Scale notes (100 TB / billions of edges):

- Connected components contract stars (large-star / small-star,
  Kiveris et al.): O(log^2 n) rounds whatever the graph's diameter,
  each a constant number of node-key shuffles, no driver-side graph
  state, nothing ever collected.
- Lineage is truncated every round (``reroot`` / ``localCheckpoint``)
  — without it the plan doubles per round and the driver OOMs on plan
  size long before data is a problem.
- The convergence test is an action every other round; that is
  intrinsic to fixpoint algorithms (Spark has no whole-plan loop
  operator). The fixpoint itself is unique — every node's label is
  the min node id reachable from it — so results are deterministic
  regardless of how many rounds convergence took.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import (
    fixpoint_confs,
    reroot,
    tracked_persist,
)
from fts_analysis_datalake_spark.probe import mul_i64


def dedup_clusters(pairs: DataFrame) -> DataFrame:
    """Turn verified duplicate pairs ``(id_a, id_b)`` into clusters:
    (member, cluster_id, cluster_size, is_canonical) where cluster_id
    is the minimum member id (the deterministic survivor) — the
    keep/drop decision of a dedup pipeline falls out as
    ``is_canonical``. Components come from :func:`connected_components`,
    whose seed contraction and union-find finisher also handle
    quasi-random or chainy pair graphs (e.g. low-threshold semantic
    similarity) without a scheduled round per diameter hop."""
    cc = connected_components(pairs, "id_a", "id_b")
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        cc.join(F.broadcast(sizes), "comp")
        .select(
            F.col("node").alias("member"),
            F.col("comp").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("comp")).alias("is_canonical"),
        )
    )


_DAMPING = 0.85
_PAGERANK_ITERS = 10
# Kernel gate in directed edges (patchable; tests force the distributed
# branch). The numpy power iteration holds a few float64/int64 arrays
# per directed edge.
_PAGERANK_GATE = 4_000_000


def pagerank(edges: DataFrame) -> DataFrame:
    """PageRank over the undirected graph ``edges`` -> (node, rank).

    ``edges`` (columns ``src``, ``dst``) must list each undirected
    edge once: the operator adds the reverse orientation itself and
    does not deduplicate, and PageRank, unlike BFS, is sensitive to
    parallel edges (multiplicity changes contributions).

    Each iteration is one hash join (ranks onto edges) plus one
    groupBy-sum of contributions — two shuffles on the node key, no
    driver-side state. Degrees are precomputed once; an undirected
    graph has no dangling nodes, so total rank mass is conserved at
    exactly N (asserted in tests/test_graphs.py). Fixed iteration
    count (no convergence action): the residual contracts by the
    damping factor per round (0.85^10 ≈ 0.20 of the initial gap after
    10) — accepted because rank ORDERING stabilizes much earlier than
    the values, the standard fixed-round batch tradeoff instead of a
    fixpoint loop with per-round convergence actions.

    Caller contract (ADVICE r11): the returned rank table is NOT
    checkpointed/persisted — reference it ONCE per action. A caller
    that consumes it from two places (both join sides, repeated
    actions) re-executes the whole kernel per reference and must
    checkpoint/persist at the call site."""
    # The gate's count would otherwise recompute the caller's
    # (typically distinct-ed) edge build a second time for the sym
    # feed — materialize it once; the join loop below was going to
    # checkpoint the annotated edge table anyway.
    edges = edges.localCheckpoint(eager=True)
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).union(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )

    # Count-gated single-task finisher (the kcore/ktruss/bfs
    # discipline): a bounded edge table runs all rounds as one
    # vectorized numpy power iteration in one Arrow task — identical
    # recursion, same per-edge contribution semantics, float
    # summation order differs only within np.bincount, which is why
    # the float operator is declared rows-only and the BIGINT twin
    # (E289) carries the hash check. Above the gate the join loop
    # below is the 100 TB path.
    if probe.gate("pagerank", edges.count() * 2 <= _PAGERANK_GATE):
        n_iters, d_factor = _PAGERANK_ITERS, _DAMPING

        def pr(pdf):
            import numpy as np
            import pandas as pd

            codes, uniq = pd.factorize(
                pd.concat([pdf["a"], pdf["b"]], ignore_index=True)
            )
            m = len(pdf)
            ai, bi = codes[:m], codes[m:]
            n_nodes = len(uniq)
            deg = np.bincount(ai, minlength=n_nodes).astype("float64")
            r = np.ones(n_nodes)
            for _ in range(n_iters):
                contrib = r[ai] / deg[ai]
                r = (1.0 - d_factor) + d_factor * np.bincount(
                    bi, weights=contrib, minlength=n_nodes
                )
            return pd.DataFrame({"node": uniq, "rank": r})

        out_type = dict(sym.dtypes)["a"]
        # No trailing checkpoint (r11): every caller references the
        # rank table exactly once, so the eager materialization job
        # bought nothing — the consumer's own action runs the kernel
        # directly (single-reference loop discipline, r6 lesson).
        return probe.single_task(sym, pr, f"node {out_type}, rank double")

    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    # Hoist the loop-invariant degree join OUT of the iteration: the
    # edge list annotated with its source degree never changes, so it
    # is joined once and checkpointed; each round joins the
    # materialized edge+degree table with the (node, rank) frontier
    # and reduces contributions. At billions of edges, add
    # .repartition(join_key) before the checkpoint so the preserved
    # partitioning confines every round's shuffle to the rank table
    # (broadcasting ranks would not hold at that node count); at
    # bench scale the extra exchange costs more than it saves, so
    # the default keeps the plain form.
    sym_deg = sym.join(deg, "a").localCheckpoint()
    ranks = deg.select(F.col("a").alias("node")).withColumn("rank", F.lit(1.0))

    def hop(r: DataFrame) -> DataFrame:
        contribs = sym_deg.join(r.withColumnRenamed("node", "a"), "a").select(
            F.col("b").alias("node"), (F.col("rank") / F.col("deg")).alias("c")
        )
        return (
            contribs.groupBy("node")
            .agg(F.sum("c").alias("in_rank"))
            .select(
                "node",
                (F.lit(1.0 - _DAMPING) + F.lit(_DAMPING) * F.col("in_rank")).alias(
                    "rank"
                ),
            )
        )

    # NO mid-loop checkpoints: each hop references `ranks` exactly
    # ONCE, so the lineage stays LINEAR (the plan-doubling pathology
    # needs a self-join) and a 10-hop join+agg chain is well inside
    # Catalyst's comfort zone — the whole loop compiles into a single
    # job. Measured on the sf0.1 part-supplier graph: 4.4 s with a
    # checkpoint every 5 hops vs 4.0 s warm / 4.9 vs 9.2 s cold
    # without (each checkpoint is a full materialization job plus a
    # second codegen pass over the same plan shapes). Raising
    # _PAGERANK_ITERS far beyond ~20 would need a periodic checkpoint
    # again, for plan depth, not for correctness.
    # NOTE: this loop deliberately KEEPS AQE on (unlike
    # connected_components' fixpoint_confs): each hop's
    # edge x rank join benefits from AQE's runtime broadcast
    # conversion of the small rank side — measured 5.6 s with AQE vs
    # 7.3 s without on the sf0.1 part-supplier graph. The star loop's
    # groupBy-heavy phases have no broadcast opportunity, which is
    # why the same tuning wins there and loses here.
    for _ in range(_PAGERANK_ITERS):
        ranks = hop(ranks)
    return ranks


# Integer PageRank: ranks are 1e-9 BIGINT rationals, so every round maps
# integers to integers and replays bit-identically in a SQL oracle.
PAGERANK_EXACT_ONE = 1_000_000_000  # rank unit
PAGERANK_EXACT_BASE = 150_000_000  # (1 - damping) teleport mass per seed
# Kernel gate in directed edges (patchable; tests force the distributed
# branch). The single-task replay holds O(directed edges) int64 arrays,
# ~30 MB at the gate.
_PAGERANK_EXACT_GATE = 2_000_000


def pagerank_exact(
    edges: DataFrame, rounds: int, seed: Column | None = None
) -> DataFrame:
    """Integer PageRank over the undirected graph ``edges`` (columns
    ``u``, ``v``, each edge once) -> ``(node, r_q)`` for every node in
    the final state.

    Seeds start at ``PAGERANK_EXACT_ONE`` and receive the teleport mass
    ``PAGERANK_EXACT_BASE`` each round; ``seed`` is a boolean
    expression over the column ``node`` (``None``: every node is a
    seed). A round sends ``r_q DIV deg`` along every edge out of each
    state node, and a node's new rank is its teleport mass plus
    ``(85 * sum) DIV 100``. The state after a round is the nodes that
    received a contribution plus the seeds, so with a seed set the
    rank frontier stays the reached neighbourhood (personalized
    PageRank) and without one it is every node. No labelling or top-k:
    callers order the result themselves."""
    sym = tracked_persist(
        edges.select(F.col("u").alias("node"), "v").unionAll(
            edges.select(F.col("v").alias("node"), F.col("u").alias("v"))
        )
    )
    one, base_ = PAGERANK_EXACT_ONE, PAGERANK_EXACT_BASE

    # Under the gate all rounds replay in one task. The state set is
    # carried as an explicit reached mask: a reached node passes on
    # its rank even at 0, exactly as a 0-valued row does in the join.
    # No int64 guard is needed beyond mul_i64: a round never grows the
    # total rank mass past nodes * 1e9 <= 2e15 under the gate, and no
    # contribution sum exceeds that total.
    if probe.gate(
        "pagerank_quantized", 0 < sym.count() <= _PAGERANK_EXACT_GATE
    ):

        def pagerank_exact_kernel(pdf):
            import numpy as np
            import pandas as pd

            nodes, ui = np.unique(pdf["node"].to_numpy(), return_inverse=True)
            vi = np.searchsorted(nodes, pdf["v"].to_numpy())  # symmetric
            n = len(nodes)
            deg = np.bincount(ui, minlength=n).astype(np.int64)
            seeds = np.ones(n, dtype=bool)
            if "seed" in pdf:
                seeds[ui] = pdf["seed"].to_numpy(dtype=bool)
            base = np.where(seeds, np.int64(base_), np.int64(0))
            r = np.where(seeds, np.int64(one), np.int64(0))
            reached = seeds
            for _ in range(rounds):
                am = reached[ui]
                contrib = np.zeros(n, dtype=np.int64)
                np.add.at(contrib, vi[am], r[ui[am]] // deg[ui[am]])
                reached = seeds.copy()
                reached[vi[am]] = True
                r = np.where(reached, base + mul_i64(contrib, 85) // 100, 0)
            return pd.DataFrame({"node": nodes[reached], "r_q": r[reached]})

        feed = sym if seed is None else sym.withColumn("seed", seed)
        schema = StructType(
            [
                StructField("node", sym.schema["node"].dataType),
                StructField("r_q", LongType()),
            ]
        )
        return probe.single_task(feed, pagerank_exact_kernel, schema)

    # The distributed form: the edge+degree table is checkpointed once;
    # each round joins the rank state onto it and full-outer-joins the
    # contribution aggregate with the checkpointed seed table. No
    # per-round checkpoint: the state is referenced once per round, so
    # the lineage stays linear and all rounds compile into one job.
    edges_ = sym.localCheckpoint()
    deg = edges_.groupBy("node").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    edges_deg = edges_.join(deg, "node").localCheckpoint()
    seeds = deg.select("node")
    if seed is not None:
        seeds = seeds.filter(seed)
    seeds = seeds.localCheckpoint(eager=True)
    r = seeds.withColumn("r_q", F.lit(one).cast("bigint"))
    base = seeds.withColumn("base", F.lit(base_).cast("bigint"))
    for _ in range(rounds):
        contrib = (
            edges_deg.join(
                r.withColumnsRenamed({"node": "ru", "r_q": "prev_q"}),
                F.col("ru") == F.col("node"),
            )
            .groupBy(F.col("v").alias("cnode"))
            .agg(F.expr("85 * sum(prev_q div deg) div 100").alias("contrib"))
        )
        r = contrib.join(base, F.col("cnode") == F.col("node"), "full_outer").select(
            F.coalesce("cnode", "node").alias("node"),
            (F.coalesce("base", F.lit(0)) + F.coalesce("contrib", F.lit(0)))
            .cast("bigint")
            .alias("r_q"),
        )
    return r


_BFS_HOPS = 6
# Kernel gate in input edges (patchable; tests force the distributed
# branch). The walk holds a Python adjacency dict of the edge table.
_BFS_GATE = 4_000_000


def bfs_hops(edges: DataFrame, source) -> DataFrame:
    """Breadth-first minimum-hop distances from ``source`` over the
    undirected graph ``edges`` (columns ``src``, ``dst``) ->
    (node, hop) for every node within ``_BFS_HOPS`` hops, source
    included at 0.

    Under the gate the whole BFS runs in one bounded Arrow task as an
    in-memory adjacency walk (the kcore/ktruss/dbscan discipline):
    even the unrolled one-job form below pays ~13 scheduled shuffles
    of fixed local cost on a 6-hop query, and the kernel replaces them
    with one scan + one task. Min-hop is expansion-order-independent,
    so both branches return identical rows.

    The symmetrized edge table is deliberately NOT deduplicated:
    min-hop is insensitive to parallel edges (each hop's candidate
    set goes through its own ``distinct`` anyway), so a global
    edge-table dedup would be one full shuffle spent shaving
    duplicates the per-hop dedup absorbs for free — measured ~2 s of
    the sf0.1 bench query. It is not MATERIALIZED either: the union
    is a pure map-side projection of the source scan, so each hop
    re-derives it with column pruning pushed to parquet — cheaper
    than writing the doubled edge table out once and reading it back
    per hop (measured 7.8 -> 4.0 s cold, 3.9 -> 3.6 warm at sf0.1;
    the same tradeoff holds on a cluster, where the checkpoint costs
    executor memory/disk proportional to the edge table while hops
    are few)."""
    sym = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).union(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )

    if probe.gate("bfs_hops", 0 < edges.count() <= _BFS_GATE):
        hops_cap = _BFS_HOPS
        src_node = source

        def walk(pdf):
            import pandas as pd

            adj: dict = {}
            for a, b in zip(pdf["a"].to_list(), pdf["b"].to_list()):
                adj.setdefault(a, []).append(b)
            dist = {src_node: 0}
            frontier = [src_node]
            for h in range(1, hops_cap + 1):
                nxt = []
                for u in frontier:
                    for v in adj.get(u, ()):
                        if v not in dist:
                            dist[v] = h
                            nxt.append(v)
                if not nxt:
                    break
                frontier = nxt
            return pd.DataFrame(sorted(dist.items()), columns=["node", "hop"])

        out_type = dict(sym.dtypes)["a"]
        return probe.single_task(
            sym, walk, f"node {out_type}, hop int"
        ).localCheckpoint(eager=True)

    # Unroll every hop into ONE lazy plan (no per-hop actions,
    # checkpoints, or empty-frontier count jobs) and take min(hop) per
    # node at the end — the driver round-trips, not the data, dominate
    # a 6-hop blast-radius query (measured 3.9 -> 2.4 s warm, 8.1 ->
    # 3.4 s cold at sf0.1 against an early-terminating frontier loop).
    # The frontier deliberately skips the anti-join against visited:
    # min(hop) absorbs re-reached nodes, and the fixed hop count caps
    # the re-expansion at _BFS_HOPS x |E| — exchange reuse collapses
    # the doubled cand references. Both that bound and the 2^h
    # logical-subtree growth keep _BFS_HOPS small (at most ~8).
    levels = [edges.sparkSession.createDataFrame([(source, 0)], ["node", "hop"])]
    frontier = levels[0].select("node")
    for h in range(1, _BFS_HOPS + 1):
        cand = (
            frontier.join(sym, frontier["node"] == sym["a"])
            .select(F.col("b").alias("node"))
            .distinct()
        )
        levels.append(cand.withColumn("hop", F.lit(h)))
        frontier = cand
    allv = levels[0]
    for lvl in levels[1:]:
        allv = allv.unionByName(lvl)
    return allv.groupBy("node").agg(F.min("hop").alias("hop"))


def _union_find_one_task(e: DataFrame) -> DataFrame:
    """(node, comp=component min) for a SMALL canonical edge set
    ``(u, v)`` via single-task union-find: :func:`probe.single_task`
    pulls every edge into one partition (never the driver) and the
    kernel runs path-compressed union-find
    with union-by-min, so each tree's root is always its minimum
    member. O(E alpha(E)) in one bounded task — the right finisher
    once contraction has shrunk the graph below a row threshold,
    where any scheduled round would cost more than the whole
    remainder. Works for any orderable node type (ints, strings)."""
    import pyspark.sql.types as T

    node_t = e.schema["u"].dataType
    out_schema = T.StructType(
        [T.StructField("node", node_t), T.StructField("comp", node_t)]
    )

    def union_find(pdf):
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        nodes = set()
        for u, v in zip(pdf["u"], pdf["v"]):
            nodes.add(u)
            nodes.add(v)
            ru, rv = find(u), find(v)
            if ru != rv:
                if rv < ru:
                    ru, rv = rv, ru
                parent[rv] = ru
        ns = sorted(nodes)
        return pd.DataFrame({"node": ns, "comp": [find(n) for n in ns]})

    return probe.single_task(e, union_find, out_schema)


# Union-find finisher gate in canonical edges (patchable; tests force
# the star loop). The finisher holds a Python dict per edge-incident
# node, tens of MB at the gate.
_CC_GATE = 2_000_000
_CC_MAX_ROUNDS = 25


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Connected components of the undirected graph ``edges`` ->
    (node, comp), comp = the minimum node id of the component.

    Only nodes incident to an edge between two distinct nodes appear:
    self-loops are dropped, and callers union isolated nodes back if
    they need them (for dedup clustering, un-paired docs are their own
    survivors and never need a cluster row).

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): star contraction
    rewires edges toward local minima and converges in O(log^2 n)
    rounds whatever the diameter — measured 8-9 rounds on both a
    15k-node eps-graph and 500-long chains, where label propagation
    would need a round per diameter hop. Each round is two phases of
    (neighborhood-min aggregate + edge join + distinct), i.e. a
    constant number of node-key shuffles, no driver graph state;
    per-round frames are rerooted (see caching.reroot) to dodge the
    self-join re-execution pathology. Convergence is detected by an
    order-free xxhash64 bit_xor fingerprint of the edge set. A
    fingerprint collision between two DISTINCT consecutive edge sets
    would stop the loop on a non-converged graph and return wrong
    components; the probability is ~2^-64 per compared round (the
    count is also compared, so the sets must additionally be
    equal-sized), which this operator accepts in exchange for
    skipping an exact set-difference job per round — callers needing
    certainty can verify the returned labeling (one semi-join: no
    edge may cross components). Raises ``RuntimeError`` if
    ``_CC_MAX_ROUNDS`` rounds don't reach the fixpoint, rather than
    silently returning partial components.

    Once the edge set fits ``_CC_GATE`` rows — at once, or after seed
    contraction — a SINGLE-TASK union-find (:func:`probe.single_task`)
    finishes instead of the star loop. Locally the star loop's cost
    is rounds x fixed per-stage scheduling regardless of data size
    (~0.5 s/round on a 1.3k-edge graph), so an O(edges alpha(edges))
    one-task finisher beats ~8 scheduled rounds outright; at cluster
    scale the same pattern holds — seed passes (each a constant
    number of node-key shuffles, halving-or-better per pass) run
    until the remainder fits one bounded task, the way production
    graph engines finish small remainders. Extra seed passes compose
    into the expansion label map, so the returned labeling is
    identical to the star loop's.
    """
    # Normalize to the undirected canonical form (u < v) BEFORE the
    # dedup: an input carrying both orientations (typical for
    # grid-cover neighbor joins, which emit every ordered pair)
    # otherwise enters round 0 at twice the size for identical
    # components.
    edges0 = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    # Fast path (r11): if the CANONICAL edge set already fits the
    # one-task finisher, skip seed contraction outright — the seed
    # pass costs two checkpointed shuffle subtrees plus a fingerprint
    # job, pure per-job scheduling floor on a graph the union-find
    # kernel finishes in one bounded task anyway. The count is one
    # cheap job over the already-checkpointed blocks. Output is
    # identical: the kernel emits (node, comp=component min) for
    # exactly the edge-incident nodes, the same contract expand(memb)
    # reconstructs on the contracted path.
    if probe.gate("cc_star", edges0.count() <= _CC_GATE):
        return _union_find_one_task(edges0)

    def sym_of(e: DataFrame) -> DataFrame:
        return e.select("u", "v").union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )

    def star(e: DataFrame, large: bool) -> DataFrame:
        s = sym_of(e)
        m = s.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        j = s.join(m, "u")
        if large:
            out = j.filter(F.col("v") > F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        else:
            out = j.filter(F.col("v") <= F.col("u")).select(
                F.col("v").alias("u"), F.col("m").alias("v")
            ).union(m.select(F.col("u"), F.col("m").alias("v")))
        out = out.filter(F.col("u") != F.col("v"))
        # Dedupe only at the end of a round (the small-star phase):
        # duplicate edges don't change any min aggregate, and within
        # one round the dup blow-up is bounded by the phase fan-out,
        # so skipping the intermediate shuffle is pure savings.
        return out.distinct() if not large else out

    def fingerprint(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["n"], row["h"])

    # Seed contraction: merge every node into min(self, min neighbor)
    # — ONE grouped aggregate + two label joins, strictly cheaper per
    # row than a star round, and component-preserving (each merge
    # follows an edge). The star loop then runs on the contracted
    # graph (nodes = local minima only; the DBSCAN eps-graph drops
    # 15k nodes / 161k edges -> ~1.5k nodes, and one round of work
    # on the full graph is saved). The component min survives
    # contraction: the minimum node m of a component has lbl(m) = m.
    lbl = (
        sym_of(edges0)
        .groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("l"))
        .localCheckpoint()
    )
    contracted = (
        edges0.join(lbl.select(F.col("u"), F.col("l").alias("lu")), "u")
        .join(
            lbl.select(F.col("u").alias("v"), F.col("l").alias("lv")),
            "v",
        )
        .select(
            F.least(F.col("lu"), F.col("lv")).alias("u"),
            F.greatest(F.col("lu"), F.col("lv")).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def expand(memb: DataFrame) -> DataFrame:
        # Map every ORIGINAL incident node through its seed label to
        # the contracted component; labels whose contracted node is
        # edge-free (the whole component collapsed in the seed pass)
        # are their own component id.
        return lbl.join(
            memb.withColumnRenamed("node", "l"), "l", "left"
        ).select(
            F.col("u").alias("node"),
            F.coalesce(F.col("comp"), F.col("l")).alias("comp"),
        )

    fp = fingerprint(contracted)
    if fp[0] == 0:
        # Every component collapsed into its minimum in the seed pass.
        probe.record_branch("cc_star", "seed_collapsed")
        return lbl.select(F.col("u").alias("node"), F.col("l").alias("comp"))

    e, n_edges = contracted, fp[0]
    # Extra seed passes (same contraction as above, composed into the
    # expansion map) until the remainder fits one task. Each pass at
    # least halves a path graph and collapses dense blobs outright, so
    # the pass count is log-bounded; the cap is a safety net, after
    # which the star loop takes over.
    for _ in range(8):
        if n_edges <= _CC_GATE:
            break
        l2 = (
            sym_of(e)
            .groupBy("u")
            .agg(F.least(F.min("v"), F.first("u")).alias("l"))
            .localCheckpoint()
        )
        e = (
            e.join(l2.select(F.col("u"), F.col("l").alias("lu")), "u")
            .join(
                l2.select(F.col("u").alias("v"), F.col("l").alias("lv")),
                "v",
            )
            .select(
                F.least(F.col("lu"), F.col("lv")).alias("u"),
                F.greatest(F.col("lu"), F.col("lv")).alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        lbl = reroot(
            lbl.join(
                l2.select(F.col("u").alias("l"), F.col("l").alias("l2")),
                "l",
                "left",
            ).select("u", F.coalesce("l2", "l").alias("l"))
        )
        n_edges = e.count()
    # A remainder the extra passes emptied (possible only with the gate
    # patched below the contracted size) skips the kernel: the star
    # loop returns the expansion at its first fingerprint check.
    if probe.gate("cc_star", 0 < n_edges <= _CC_GATE):
        return expand(_union_find_one_task(e))
    if e is not contracted:
        fp = fingerprint(e)

    # Per-round cost in the fixpoint loop is dominated by FIXED
    # per-stage scheduling, not data: with AQE on, each exchange
    # becomes its own re-planned job (measured 97 jobs / 207 stages
    # for 9 rounds over a 322k-edge graph — ~10 s of overhead on
    # ~milliseconds of actual work). For SMALL edge sets, run the
    # loop with AQE off and few shuffle partitions, restoring the
    # session confs after; a genuinely large graph (where AQE's skew
    # splitting and coalescing earn their keep) keeps the session
    # settings. The threshold is rows, known free from the initial
    # fingerprint's count.
    spark = edges0.sparkSession
    with fixpoint_confs(spark, enabled=fp[0] < 5_000_000):
        for rnd in range(_CC_MAX_ROUNDS):
            # One reroot per round: the two star phases chain within a
            # round (bounded re-execution), and the reroot severs the
            # cross-round id lineage that triggers the re-execution
            # pathology. (Rerooting every OTHER round was measured 2x
            # SLOWER on the sf0.1 DBSCAN eps-graph — the four chained
            # phases re-execute their doubly-referenced inputs;
            # exchange reuse does not cover the fingerprint +
            # next-round actions.)
            e = reroot(star(star(e, True), False))
            # Fingerprint every other round: a converged forest is a
            # fixpoint of the round operator, so at worst one redundant
            # round runs before detection — cheaper than a per-round
            # job. The LAST TWO rounds are always checked (even when
            # one falls on an unchecked parity): checking only the
            # final round left `fp` two rounds stale when the cap
            # landed on even parity, so a graph converging exactly at
            # round _CC_MAX_ROUNDS-1 raised despite being converged.
            if rnd % 2 == 0 and rnd < _CC_MAX_ROUNDS - 2:
                continue
            fp_new = fingerprint(e)
            if fp_new == fp:
                memb = (
                    sym_of(e)
                    .groupBy("u")
                    .agg(F.min("v").alias("mn"))
                    .select(
                        F.col("u").alias("node"),
                        F.least("u", "mn").alias("comp"),
                    )
                )
                return expand(memb)
            fp = fp_new
        raise RuntimeError(
            f"connected_components did not converge in {_CC_MAX_ROUNDS} rounds"
        )
