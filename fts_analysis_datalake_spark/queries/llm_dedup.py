"""LLM-pipeline dedup declared queries (SURVEY.md §2.10 D1-D4;
exact dedup D1/D2 live in windows_dedup.py).

The PRODUCTION MinHash-LSH and SimHash operators use JVM xxhash64 and
are declared rows-only + property-tested (tests/test_minhash.py).
Since round 5, each also has a fully hash-checkable twin built on the
md5-derived 52-bit hash both engines compute identically
(q_minhash_lsh_md5_pairs E275, q_simhash_md5_candidates E287) — the
algorithm is driver-verified there; the xxhash64 form carries the
scale. The exact-Jaccard pass (D4) is SQL-expressible and
oracle-checked on blocked candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import ensure_parallelism, load_table
from fts_analysis_datalake_spark.operators.dedup import (
    exact_jaccard_for_pairs,
    near_dup_pairs,
    prefix_filter_candidates,
    simhash_candidate_pairs,
    simhash_table,
)
from fts_analysis_datalake_spark.operators.graphs import (
    PAGERANK_EXACT_BASE,
    PAGERANK_EXACT_ONE,
    pagerank,
    pagerank_exact,
)
from fts_analysis_datalake_spark.operators.text import (
    ngrams,
    sql_ngrams,
    sql_normalize_text,
    sql_tokens,
    tokens,
)
from fts_analysis_datalake_spark.queries.sketches_search import _h52, _sql_h52
from fts_analysis_datalake_spark.registry import query

# --------------------------------------------------------------------------
# D4: exact Jaccard on (lang, n_chars)-blocked candidate pairs — oracle ✅
# --------------------------------------------------------------------------


@query(
    "q_jaccard_blocked_pairs",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, substr(text, 1, 12) AS pfx,
                      list_distinct({sql_tokens('text')}) AS toks
               FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(a.toks || b.toks)) AS jaccard
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.pfx = b.pfx
     AND a.doc_id < b.doc_id
    """,
    tags=("D4", "J11", "F7"),
)
def q_jaccard_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for candidate pairs blocked on
    (lang, 12-char text prefix) — the verify pass that would follow
    LSH; here the blocking key doubles as a cheap candidate generator
    so the oracle can reproduce the exact pair set.

    The prefix component makes the block key CONTENT-DERIVED: the
    first-cut (lang, n_chars) key was a fixed domain, so in-block
    pair fan-out grew as corpus^2/|domain| (r8 8x probe: slope 20 vs
    linear 8) while pairing mostly unrelated same-length docs; a
    content prefix grows block cardinality with the corpus and keeps
    candidates ~ shared-prefix clusters (the near-dup regime). Recall
    is a non-goal here by design — the complete candidate generator
    is MinHash-LSH (q_minhash_near_dups); this row exercises the
    blocked exact-verify join shape."""
    d = load_table(spark, sf_dir, "documents")
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.substring(F.col("a.text"), 1, 12) == F.substring(F.col("b.text"), 1, 12))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return exact_jaccard_for_pairs(d, "doc_id", "text", pairs)


# --------------------------------------------------------------------------
# D3: MinHash-LSH near-dup mining — rows-only (property-tested)
# --------------------------------------------------------------------------


@query(
    "q_minhash_near_dups",
    oracle=None,  # xxhash64-based; verified by tests/test_minhash.py
    tags=("D3", "D4", "J11", "W1"),
)
def q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: 3-gram shingles -> 32-perm MinHash ->
    8-band LSH candidates -> exact-Jaccard >= 0.8 confirm. At 100 TB
    only LSH-bucket collisions ever pay the exact-Jaccard cost."""
    d = load_table(spark, sf_dir, "documents")
    return near_dup_pairs(d, "doc_id", "text", threshold=0.8)


# --------------------------------------------------------------------------
# SimHash near-dup candidates — rows-only (pandas-UDF surface, X1)
# --------------------------------------------------------------------------


@query(
    "q_simhash_candidates",
    oracle=None,  # xxhash64 bit votes; verified by tests/test_minhash.py
    tags=("D3", "X1"),
)
def q_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 64-bit signatures (pure Catalyst bit votes) ->
    16-bit-chunk blocking -> candidate pairs with Hamming distance.

    The signature table (one long per doc) is persisted so the
    chunk self-join's two sides read it instead of re-running the
    tokenize+vote lineage (AQE broadcasts one join side, so the
    sides don't canonicalize to a reusable exchange). Round 1 ran a
    pandas-UDF signature three times — slowest query in the suite;
    now codegen'd end-to-end and computed once. Same persist
    lifecycle note as near_dup_pairs (bench clears cache per query)."""
    d = load_table(spark, sf_dir, "documents")
    sim = tracked_persist(simhash_table(d, "doc_id", "text"))
    return simhash_candidate_pairs(sim, "doc_id").filter(F.col("hamming") <= 16)


# --------------------------------------------------------------------------
# E15: dedup clustering — connected components over verified pairs
# --------------------------------------------------------------------------

_CLUSTER_J = 0.4


def _sql_blocked_edges() -> str:
    """Blocked token-Jaccard edges >= threshold — the q_jaccard_blocked_pairs
    pair generator with a filter, shared by the CC oracle."""
    return f"""
    t AS (SELECT doc_id, lang, n_chars,
                 list_distinct({sql_tokens('text')}) AS toks
          FROM documents),
    edges AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM t a JOIN t b
        ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
              / len(list_distinct(a.toks || b.toks)) >= {_CLUSTER_J})
    """


@query(
    "q_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_sql_blocked_edges()},
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(node, comp) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.b, r.comp FROM reach r JOIN sym s ON s.a = r.node),
    cc AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
    SELECT cc.node AS member, cc.comp AS cluster_id, cnt.cluster_size,
           cc.node = cc.comp AS is_canonical
    FROM cc JOIN (SELECT comp, COUNT(*) AS cluster_size FROM cc GROUP BY comp) cnt
      USING (comp)
    """,
    tags=("E15", "D4", "J11", "A1"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup pipeline: verified duplicate PAIRS ->
    transitive CLUSTERS -> per-cluster canonical survivor. Pairs are
    the (lang, n_chars)-blocked exact-Jaccard >= 0.4 edges (the same
    SQL-expressible candidate generator as q_jaccard_blocked_pairs);
    components come from star contraction with a single-task
    union-find finisher (operators/graphs.connected_components),
    whose unique fixpoint (comp = min member id) the oracle reproduces
    with a recursive CTE."""
    from fts_analysis_datalake_spark.operators.graphs import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    verified = exact_jaccard_for_pairs(d, "doc_id", "text", pairs).filter(
        F.col("jaccard") >= _CLUSTER_J
    )
    # The verified dup graph fits the one-task union-find finisher
    # outright, skipping per-round reroot + convergence-count jobs.
    return dedup_clusters(verified.select("id_a", "id_b"))

# --------------------------------------------------------------------------
# E47: PageRank centrality over the part-supplier bipartite graph
# --------------------------------------------------------------------------


def _ps_label(node: str) -> Column:
    """Display label of a part/supplier node id: part k is node 2k and
    reads 'p{k}', supplier k is node 2k+1 and reads 's{k}'."""
    return F.expr(
        f"CASE WHEN {node} % 2 = 0 THEN concat('p', {node} div 2)"
        f" ELSE concat('s', ({node} - 1) div 2) END"
    )


def _parts_suppliers_third(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The undirected part/supplier graph over a third of the parts,
    each edge once as (u = part node, v = supplier node). The integer
    PageRank rows prove bit-exact replay, which does not depend on
    graph size; the float operator covers the full graph."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_partkey") % 3 == 0)
        .select(
            (F.col("l_partkey") * 2).alias("u"),
            (F.col("l_suppkey") * 2 + 1).alias("v"),
        )
        .distinct()
    )


@query(
    "q_pagerank_parts_suppliers",
    oracle=None,  # iterative; rank-mass conservation tested (test_graphs)
    tags=("E47", "E15", "A1", "O3"),
)
def q_pagerank_parts_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected bipartite graph whose edges are
    the distinct (part, supplier) relationships in lineitem — the
    entity-importance score used to prioritize curation/review
    queues. Same iterative shape as the CC dedup clustering (E15):
    per round one hash join + one partial-agg shuffle on the node
    key, localCheckpoint lineage truncation, no driver-side graph.
    Top-20 via TakeOrderedAndProject with node-id tiebreak.

    Node ids iterate as LONGS (part k -> 2k, supplier k -> 2k+1) and
    are relabeled to the 'p{k}'/'s{k}' display form only at output:
    every per-round shuffle then hashes/compares 8-byte integers
    instead of strings — measured ~25% off the whole loop, and at
    real scale the narrower key also halves shuffle bytes."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    ).distinct()
    # Each undirected edge once, as pagerank requires: edges is
    # distinct, and the even/odd id encoding makes the two
    # orientations disjoint.
    ranks = pagerank(edges)
    return (
        ranks.select(_ps_label("node").alias("node"), "rank")
        .orderBy(F.desc("rank"), "node")
        .limit(20)
    )

# --------------------------------------------------------------------------
# E57: the full near-dup pipeline as one report — LSH -> verify -> CC
# --------------------------------------------------------------------------


@query(
    "q_dedup_pipeline_report",
    oracle=None,  # MinHash-LSH path is engine-hash-dependent; identity-checked in tests
    tags=("E57", "D3", "D4", "E15", "A2"),
)
def q_dedup_pipeline_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline end-to-end in one plan:
    MinHash signatures -> banded LSH candidates -> exact-Jaccard
    verify (>= 0.8) -> connected components -> survivor accounting.
    Output is the one-row corpus report an operator reads after each
    ingest: document count, verified duplicate pairs, clusters,
    clustered members, and documents KEPT (survivors = corpus minus
    members plus one canonical per cluster). Every stage is the
    bucketed/banded form — nothing all-pairs — so the report costs
    the same pipeline the dedup itself costs. The keep-count
    identity (kept = n_docs - n_members + n_clusters) is asserted in
    tests/test_minhash.py."""
    from fts_analysis_datalake_spark.operators.graphs import dedup_clusters

    d = load_table(spark, sf_dir, "documents")
    # The verified-pair set is consumed TWICE (the CC edge checkpoint
    # and the pair-count aggregate); persisting it keeps the whole
    # MinHash->LSH->verify lineage to ONE execution. Same lifecycle
    # contract as near_dup_pairs' signature persist
    # (caching.release_tracked releases it after the query).
    pairs = tracked_persist(near_dup_pairs(d, "doc_id", "text", threshold=0.8))
    # Verified pairs are bounded-size by construction (LSH + exact
    # verify ≪ corpus), so they take the union-find finisher.
    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    cstats = clusters.agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )
    pstats = pairs.agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    dstats = d.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        dstats.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(cstats))
        .select(
            "n_docs",
            "n_dup_pairs",
            "n_clusters",
            "n_members",
            (F.col("n_docs") - F.col("n_members") + F.col("n_clusters")).alias(
                "n_kept"
            ),
        )
    )

# --------------------------------------------------------------------------
# E68: PPJoin prefix-filtered similarity join — lossless, no sketches
# --------------------------------------------------------------------------

_PPJ_T = 0.8


@query(
    "q_prefix_filtered_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct({sql_ngrams(sql_tokens('text'), 3)}) AS s
      FROM documents)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= {_PPJ_T}
    """,
    tags=("E68", "D3", "D4", "J11"),
)
def q_prefix_filtered_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact similarity join, no sketches: PPJoin prefix filtering
    generates candidates (rarest-first prefixes must intersect when
    J >= 0.8 — pigeonhole, lossless), exact Jaccard verifies. Where
    MinHash-LSH (D3) trades recall for speed, this path is
    guaranteed-complete — the oracle is the brute-force all-pairs
    join, and the results match EXACTLY, which is the point. Prefix
    postings are keyed on rare shingles, so the candidate join stays
    near the true pair count instead of |docs|^2."""
    from fts_analysis_datalake_spark.caching import tracked_persist
    from fts_analysis_datalake_spark.operators.dedup import shingle_table

    d = load_table(spark, sf_dir, "documents")
    # ONE persisted shingle table feeds both the prefix filter and the
    # exact verify (r6): previously each stage rebuilt the
    # normalize->tokenize->ngram lineage independently.
    sh = tracked_persist(shingle_table(d, "doc_id", "text", 3).distinct())
    cands = prefix_filter_candidates(
        d, "doc_id", "text", _PPJ_T, shingle_n=3, shingles=sh
    )
    return exact_jaccard_for_pairs(
        d,
        "doc_id",
        "text",
        cands,
        shingle_n=3,
        elem_rows=sh.withColumnRenamed("shingle", "elem"),
    ).filter(F.col("jaccard") >= _PPJ_T)

# --------------------------------------------------------------------------
# E93: containment detection — asymmetric overlap (excerpt mining)
# --------------------------------------------------------------------------

_CONTAIN_T = 0.9


@query(
    "q_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, list_distinct({sql_ngrams(sql_tokens('text'), 3)}) AS s
      FROM documents
      WHERE len({sql_tokens('text')}) >= 3)
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id,
           CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
             AS containment
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s)
            >= {_CONTAIN_T}
    """,
    tags=("E93", "E68", "D4"),
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-duplicate detection: containment
    |A∩B| / |A| >= 0.9 finds documents that are EXCERPTS or subsets
    of another — invisible to Jaccard (a paragraph quoted inside a
    long doc has tiny J but containment ~1), and exactly what
    quote/boilerplate mining needs. Candidates use the directional
    prefix bound (a pair at containment t must share one of A's
    ceil((1-t)|A|)+1 rarest shingles, joined against B's FULL
    posting rows — lossless); exact verify divides by |A| only.
    Oracle is the directed brute-force join; results match
    exactly."""
    from fts_analysis_datalake_spark.operators.dedup import shingle_table

    d = load_table(spark, sf_dir, "documents")
    # sh feeds freq, sizes, the prefix ranking, the posting join AND
    # the collect_set verify — five consumers; persist runs the
    # shingle lineage once (release_tracked lifecycle).
    sh = tracked_persist(shingle_table(d, "doc_id", "text", 3).distinct())
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    from pyspark.sql import Window as W

    wr = W.partitionBy("doc_id").orderBy("freq", "shingle")
    prefix = (
        sh.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(wr))
        .join(sizes, "doc_id")
        .where(
            F.col("rn")
            <= F.col("sz") - F.ceil(F.lit(_CONTAIN_T) * F.col("sz")) + 1
        )
        .select(F.col("doc_id").alias("contained_id"), "shingle")
    )
    cands = (
        prefix.join(sh.withColumnRenamed("doc_id", "container_id"), "shingle")
        .where(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s"))
    return (
        cands.join(
            sets.withColumnsRenamed({"doc_id": "contained_id", "s": "s_a"}),
            "contained_id",
        )
        .join(
            sets.withColumnsRenamed({"doc_id": "container_id", "s": "s_b"}),
            "container_id",
        )
        .select(
            "contained_id",
            "container_id",
            (
                F.size(F.array_intersect("s_a", "s_b")).cast("double")
                / F.size("s_a")
            ).alias("containment"),
        )
        .where(F.col("containment") >= _CONTAIN_T)
    )


# --------------------------------------------------------------------------
# E113: sorted-neighborhood blocking — the sort-based LSH alternative
# --------------------------------------------------------------------------


@query(
    "q_sorted_neighborhood_pairs",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             substring({sql_normalize_text('text')}, 1, 24) AS sort_key
      FROM documents),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY sort_key, doc_id) AS rn
      FROM keyed),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ranked a JOIN ranked b
        ON a.lang = b.lang AND b.rn - a.rn BETWEEN 1 AND 3),
    toks AS (SELECT doc_id, list_distinct({sql_tokens('text')}) AS t FROM documents)
    SELECT c.id_a, c.id_b,
           CAST(len(list_intersect(ta.t, tb.t)) AS DOUBLE)
             / len(list_distinct(ta.t || tb.t)) AS jaccard
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.id_a
    JOIN toks tb ON tb.doc_id = c.id_b
    """,
    tags=("E113", "D3", "D4", "W1", "W3"),
)
def q_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood method (SNM): the record-linkage blocking
    strategy that needs no hashing at all — sort each language block
    by a fuzzy key (first 24 chars of the normalized text, so docs
    sharing a prefix land adjacent), then emit only pairs within a
    window of w=3 following neighbors and verify those with exact
    token-set Jaccard. The candidate step is ONE window shuffle plus
    three `lead` columns exploded into pairs — no self-join, no
    signature computation — making it the cheap first pass before
    MinHash-LSH (D3) when duplicates cluster under a sortable key.
    At 100 TB the sort is a range-partitioned exchange (Spark's sort
    machinery); the within-partition window is what we express here,
    with the partition key (lang) as the block boundary."""
    d = load_table(spark, sf_dir, "documents")
    from fts_analysis_datalake_spark.operators.text import normalize_text
    from pyspark.sql import Window

    keyed = d.select(
        "doc_id",
        "lang",
        F.substring(normalize_text(F.col("text")), 1, 24).alias("sort_key"),
    )
    w = Window.partitionBy("lang").orderBy("sort_key", "doc_id")
    # Window functions can't nest inside a generator expression, so
    # the three lead columns materialize first, then explode.
    leads = keyed.select(
        F.col("doc_id").alias("id_a"),
        F.array(*[F.lead("doc_id", k).over(w) for k in (1, 2, 3)]).alias("nbrs"),
    )
    pairs = leads.select("id_a", F.explode("nbrs").alias("id_b")).filter(
        F.col("id_b").isNotNull()
    )
    return exact_jaccard_for_pairs(d, "doc_id", "text", pairs)


# --------------------------------------------------------------------------
# E124: BFS shortest hops — frontier expansion vs recursive-CTE oracle
# --------------------------------------------------------------------------


@query(
    "q_bfs_hops_from_supplier",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT DISTINCT 'p' || l_partkey AS a, 's' || l_suppkey AS b FROM lineitem),
    sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
    walk(node, hop) AS (
      SELECT 's1', 0
      UNION
      SELECT sym.b, walk.hop + 1
      FROM walk JOIN sym ON walk.node = sym.a
      WHERE walk.hop < 6)
    SELECT node, CAST(MIN(hop) AS BIGINT) AS hop
    FROM walk GROUP BY node
    """,
    tags=("E124", "E47", "J4", "A1"),
)
def q_bfs_hops_from_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-hop distance from supplier s1 to every reachable node
    of the part-supplier bipartite graph (the "blast radius" /
    impact-analysis query: which parts and peers does one supplier
    touch within N relationship hops).

    Spark side is operators/graphs.bfs_hops: a single-task adjacency
    walk under its edge gate, else all 6 frontier-edge join hops
    unrolled into one plan with min(hop) per node. The
    oracle is DuckDB's WITH RECURSIVE walk capped at 6 hops with
    MIN(hop) — declarative iteration checking the imperative loop,
    same pairing as the Spark-4 recursive-CTE surface (E105). The
    min-hop fixpoint is order-independent, so both engines agree
    exactly.

    Same long-id encoding as the PageRank twin (part k -> 2k,
    supplier k -> 2k+1, relabeled at output): the frontier joins and
    anti-joins hash integers, not strings."""
    from fts_analysis_datalake_spark.operators.graphs import bfs_hops

    li = load_table(spark, sf_dir, "lineitem")
    # No edge dedup: BFS min-hop is insensitive to parallel edges
    # (bfs_hops documents the same for its symmetrization), so the
    # distinct would be a full lineitem-sized shuffle for nothing —
    # unlike the PageRank twin, where multiplicity changes the answer.
    edges = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    hops = bfs_hops(edges, 2 * 1 + 1)
    label = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("p"), (F.col("node") / 2).cast("long"))
    ).otherwise(F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("long")))
    return hops.select(label.alias("node"), F.col("hop").cast("bigint").alias("hop"))


# --------------------------------------------------------------------------
# E168: weighted (bag) Jaccard — multiset similarity for dedup verify
# --------------------------------------------------------------------------


@query(
    "q_weighted_jaccard_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents),
    bags AS (
      SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY doc_id, token),
    meta AS (SELECT doc_id, lang, substr(text, 1, 12) AS pfx FROM documents),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM meta a JOIN meta b
        ON a.lang = b.lang AND a.pfx = b.pfx AND a.doc_id < b.doc_id),
    joined AS (
      SELECT cand.id_a, cand.id_b, ba.c AS ca, bb.c AS cb
      FROM cand
      JOIN bags ba ON ba.doc_id = cand.id_a
      JOIN bags bb ON bb.doc_id = cand.id_b AND bb.token = ba.token),
    mins AS (
      SELECT id_a, id_b,
             SUM(LEAST(ca, cb)) AS inter
      FROM joined GROUP BY id_a, id_b),
    sizes AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS sz FROM bags GROUP BY doc_id)
    SELECT m.id_a, m.id_b,
           CAST(m.inter AS DOUBLE) / (sa.sz + sb.sz - m.inter) AS weighted_jaccard
    FROM mins m
    JOIN sizes sa ON sa.doc_id = m.id_a
    JOIN sizes sb ON sb.doc_id = m.id_b
    """,
    tags=("E168", "D4", "J11", "A1"),
)
def q_weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics Jaccard for the blocked candidate pairs:
    sum(min(count_a, count_b)) / sum(max) over token MULTISETS — the
    variant set-Jaccard (D4) is blind to ('the the the the' vs one
    'the' look identical as sets), and what count-sensitive dedup
    (boilerplate with repeated slugs, templated spam) actually needs.

    Plan: token bags are one groupBy; the pair intersection is a join
    of bag rows on (pair, token) with min() aggregated per pair —
    only candidate pairs' tokens are ever joined, and
    |union| = sz_a + sz_b - |intersection| comes from per-doc totals
    instead of a second join. Pairs sharing NO token drop out (inner
    join on the token key) — a zero-similarity pair carries no
    information for a verify pass."""
    d = load_table(spark, sf_dir, "documents")
    from fts_analysis_datalake_spark.operators.text import normalize_text

    tok = ensure_parallelism(d).select(
        "doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("token")
    )
    bags = tracked_persist(tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("c")))
    meta = d.select("doc_id", "lang", F.substring("text", 1, 12).alias("pfx"))
    cand = (
        meta.alias("a")
        .join(
            meta.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.pfx") == F.col("b.pfx"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    ba = bags.withColumnsRenamed({"doc_id": "id_a", "c": "ca"})
    bb = bags.withColumnsRenamed({"doc_id": "id_b", "c": "cb"})
    inter = (
        cand.join(ba, "id_a")
        .join(bb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("ca", "cb")).alias("inter"))
    )
    sizes = bags.groupBy("doc_id").agg(F.sum("c").cast("bigint").alias("sz"))
    return (
        inter.join(sizes.withColumnsRenamed({"doc_id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"doc_id": "id_b", "sz": "sz_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("weighted_jaccard"),
        )
    )


# --------------------------------------------------------------------------
# E195: Fellegi-Sunter record linkage — probabilistic match scoring
# --------------------------------------------------------------------------

_FS_Q = 1000000000


def _fs_dirty_sql() -> str:
    """The deterministic corruption applied to build the dirty copy:
    md5-parity field noise (20% truncated names, 30% wiped segments,
    40% perturbed balances)."""
    h = lambda tag: (  # noqa: E731
        f"CAST(('0x' || substring(md5('{tag}:' || CAST(c_custkey AS VARCHAR)), 1, 13))"
        f" AS BIGINT) % 10"
    )
    return f"""
      SELECT c_custkey AS d_key, c_nationkey AS d_nation,
             CASE WHEN {h('nm')} < 2 THEN substring(c_name, 1, 12)
                  ELSE c_name END AS d_name,
             CASE WHEN {h('sg')} < 3 THEN 'UNKNOWN'
                  ELSE c_mktsegment END AS d_seg,
             CASE WHEN {h('bl')} < 4
                  THEN CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 7
                  ELSE CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) END AS d_bal
      FROM customer"""


@query(
    "q_fellegi_sunter_linkage",
    oracle=f"""
    WITH dirty AS ({_fs_dirty_sql()}),
    cand AS (
      SELECT d.d_key, c.c_custkey,
             CASE WHEN d.d_name = c.c_name THEN 1 ELSE 0 END AS a_name,
             CASE WHEN d.d_seg = c.c_mktsegment THEN 1 ELSE 0 END AS a_seg,
             CASE WHEN d.d_bal = CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT)
                  THEN 1 ELSE 0 END AS a_bal,
             CASE WHEN d.d_key = c.c_custkey THEN 1 ELSE 0 END AS is_match
      FROM dirty d JOIN customer c
        ON c.c_nationkey = d.d_nation
       AND CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) // 1000
           = d.d_bal // 1000),
    cells AS MATERIALIZED (
      SELECT a_name, a_seg, a_bal, is_match, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cand GROUP BY a_name, a_seg, a_bal, is_match),
    mu AS (
      SELECT
        CAST(SUM(a_name * is_match * cnt) + 1 AS DOUBLE) / (SUM(is_match * cnt) + 2) AS m_name,
        CAST(SUM(a_name * (1 - is_match) * cnt) + 1 AS DOUBLE) / (SUM((1 - is_match) * cnt) + 2) AS u_name,
        CAST(SUM(a_seg * is_match * cnt) + 1 AS DOUBLE) / (SUM(is_match * cnt) + 2) AS m_seg,
        CAST(SUM(a_seg * (1 - is_match) * cnt) + 1 AS DOUBLE) / (SUM((1 - is_match) * cnt) + 2) AS u_seg,
        CAST(SUM(a_bal * is_match * cnt) + 1 AS DOUBLE) / (SUM(is_match * cnt) + 2) AS m_bal,
        CAST(SUM(a_bal * (1 - is_match) * cnt) + 1 AS DOUBLE) / (SUM((1 - is_match) * cnt) + 2) AS u_bal
      FROM cells),
    scored AS (
      SELECT is_match, cnt,
             ( CASE WHEN a_name = 1
                    THEN FLOOR(ln(m_name / u_name) * {_FS_Q} + 0.5)
                    ELSE FLOOR(ln((1 - m_name) / (1 - u_name)) * {_FS_Q} + 0.5) END
             + CASE WHEN a_seg = 1
                    THEN FLOOR(ln(m_seg / u_seg) * {_FS_Q} + 0.5)
                    ELSE FLOOR(ln((1 - m_seg) / (1 - u_seg)) * {_FS_Q} + 0.5) END
             + CASE WHEN a_bal = 1
                    THEN FLOOR(ln(m_bal / u_bal) * {_FS_Q} + 0.5)
                    ELSE FLOOR(ln((1 - m_bal) / (1 - u_bal)) * {_FS_Q} + 0.5) END
             ) / {_FS_Q}.0 AS score
      FROM cells, mu)
    SELECT CAST(FLOOR(score) AS BIGINT) AS score_band,
           CAST(SUM(cnt) AS BIGINT) AS n_pairs,
           CAST(SUM(is_match * cnt) AS BIGINT) AS n_true,
           CAST(FLOOR(CAST(SUM(is_match * cnt) AS DOUBLE) / SUM(cnt) * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS precision_in_band
    FROM scored
    GROUP BY score_band
    ORDER BY score_band
    """,
    tags=("E195", "E23", "J6", "A1", "F11", "F6"),
)
def q_fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage, end-to-end: a
    dirty copy of every customer is derived with deterministic
    md5-parity corruption (20% truncated names, 30% wiped segments,
    40% perturbed balances), candidates are blocked on the COMPOUND
    key (nation, $10 balance band), per-field m/u probabilities are
    ESTIMATED FROM THE CANDIDATE SET ITSELF (m from true pairs, u
    from cross pairs, both add-one smoothed — u_name is exactly 0
    unsmoothed), and each candidate scores the classic sum of
    log-likelihood ratios — positive evidence log(m/u) on agreement,
    negative log((1-m)/(1-u)) on disagreement. The score-band
    histogram with per-band precision IS the linkage quality curve a
    threshold gets picked from. Blocking choice is the scale lever:
    pair space is sum-of-block-sizes squared, and a 25-value key
    (nation alone) makes block sizes — and therefore pairs —
    QUADRATIC in the data (the 8x scale probe measured a 72x
    wall-clock slope; SURVEY §6 annex). The banded compound key's
    cardinality grows with the data, so block occupancy and pair
    count stay ~linear — the textbook Fellegi-Sunter blocking move.
    Cost: true pairs whose corrupted balance (+7 cents, 40% of
    records) crosses a $10 boundary fall out of the candidate set
    (~0.3% of matches, deterministic on both engines — the standard
    blocking recall trade). ln terms are 1e-9-quantized, so the
    whole curve is engine-exact."""
    c = load_table(spark, sf_dir, "customer")
    h = lambda tag: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{tag}:"), F.col("c_custkey").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    balc = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("bigint")
    # Persist the dirty copy: Catalyst otherwise collapses these
    # projections past the block join and re-evaluates the three
    # md5+conv corruption expressions PER CANDIDATE PAIR (27M md5 at
    # sf0.1) instead of per record (45k).
    dirty = tracked_persist(
        c.select(
            F.col("c_custkey").alias("d_key"),
            F.col("c_nationkey").alias("d_nation"),
            F.when(h("nm") < 2, F.substring(F.col("c_name"), 1, 12))
            .otherwise(F.col("c_name"))
            .alias("d_name"),
            F.when(h("sg") < 3, F.lit("UNKNOWN"))
            .otherwise(F.col("c_mktsegment"))
            .alias("d_seg"),
            F.when(h("bl") < 4, balc + 7).otherwise(balc).alias("d_bal"),
        )
    )
    # Compound block key (nation, d_bal DIV 1000): cardinality grows
    # with the data, so the plain two-column equi join parallelizes
    # naturally (no salting needed — the old 25-value nation-only key
    # required a 16-way salted join just to spread its quadratic
    # fan-out, and still blew up 72x at 8x data).
    cand = (
        dirty.withColumn("blk_band", F.expr("d_bal DIV 1000"))
        .join(
            c.select(
                "c_custkey",
                "c_name",
                "c_mktsegment",
                F.col("c_nationkey").alias("d_nation"),
                balc.alias("c_balc"),
            ).withColumn("blk_band", F.expr("c_balc DIV 1000")),
            ["d_nation", "blk_band"],
        ).select(
            (F.col("d_name") == F.col("c_name")).cast("int").alias("a_name"),
            (F.col("d_seg") == F.col("c_mktsegment")).cast("int").alias("a_seg"),
            (F.col("d_bal") == F.col("c_balc")).cast("int").alias("a_bal"),
            (F.col("d_key") == F.col("c_custkey")).cast("int").alias("is_match"),
        )
    )
    # Sufficient statistics: the agreement vector has only 2^4 = 16
    # distinct cells, so ONE pass over the salted pair fan-out
    # collapses it to a 16-row table and both the m/u estimation and
    # the band scoring run on that — the pair frame is built exactly
    # once (it previously fed two aggregation passes).
    cells = (
        cand.groupBy("a_name", "a_seg", "a_bal", "is_match")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    mu = cells.agg(
        *[
            expr
            # Add-one (Laplace) smoothing: u_name is EXACTLY 0 without
            # it (names are unique, non-matches never agree), and
            # log(m/0) is undefined — smoothing is the standard fix.
            for f in ("name", "seg", "bal")
            for expr in (
                (
                    (F.sum(F.col(f"a_{f}") * F.col("is_match") * F.col("cnt")) + 1).cast("double")
                    / (F.sum(F.col("is_match") * F.col("cnt")) + 2)
                ).alias(f"m_{f}"),
                (
                    (F.sum(F.col(f"a_{f}") * (1 - F.col("is_match")) * F.col("cnt")) + 1).cast(
                        "double"
                    )
                    / (F.sum((1 - F.col("is_match")) * F.col("cnt")) + 2)
                ).alias(f"u_{f}"),
            )
        ]
    )
    def term(f: str):
        return F.when(
            F.col(f"a_{f}") == 1,
            F.floor(F.log(F.col(f"m_{f}") / F.col(f"u_{f}")) * _FS_Q + F.lit(0.5)),
        ).otherwise(
            F.floor(
                F.log((1 - F.col(f"m_{f}")) / (1 - F.col(f"u_{f}"))) * _FS_Q
                + F.lit(0.5)
            )
        )

    scored = cells.crossJoin(F.broadcast(mu)).select(
        "is_match",
        "cnt",
        ((term("name") + term("seg") + term("bal")) / float(_FS_Q)).alias("score"),
    )
    return (
        scored.groupBy(F.floor(F.col("score")).cast("bigint").alias("score_band"))
        .agg(
            F.sum("cnt").cast("bigint").alias("n_pairs"),
            F.sum(F.col("is_match") * F.col("cnt")).cast("bigint").alias("n_true"),
            (
                F.floor(
                    F.sum(F.col("is_match") * F.col("cnt")).cast("double")
                    / F.sum("cnt")
                    * 1e6
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("precision_in_band"),
        )
        .orderBy("score_band")
    )


# --------------------------------------------------------------------------
# E275: md5-deterministic MinHash-LSH — the driver-hash-checkable D3 twin
# --------------------------------------------------------------------------

_MH_SEEDS = 12  # minhash functions
_MH_BANDS = 3  # bands of _MH_SEEDS/_MH_BANDS rows each
_MH_ROWS = _MH_SEEDS // _MH_BANDS
_MH_JACC = 0.5  # exact-verify threshold
_MH_P = 4503599627370449  # prime < 2^52: (a*h+b) % p stays in int64


def _mh_oracle() -> str:
    # ONE md5 base hash per shingle, then 12 universal-hash
    # derivations (odd multiplier, additive offset, prime modulus) —
    # integer arithmetic identical in both engines, 12x fewer md5s.
    mins = ",\n             ".join(
        f"MIN(({2 * i + 1} * h + {7919 * i}) % {_MH_P}) AS m{i}"
        for i in range(_MH_SEEDS)
    )
    bands = "\n      UNION ALL\n      ".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sig".format(
            b=b,
            key="||'_'||".join(
                f"CAST(m{b * _MH_ROWS + r} AS VARCHAR)" for r in range(_MH_ROWS)
            ),
        )
        for b in range(_MH_BANDS)
    )
    h = _sql_h52("mh", "s")
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' zz zz' AS text
      FROM documents WHERE doc_id % 10 = 0),
    sh AS MATERIALIZED (
      SELECT doc_id, list_distinct({sql_ngrams(sql_tokens('text'), 3)}) AS sh
      FROM corpus),
    ex AS (SELECT doc_id, {h} AS h
           FROM (SELECT doc_id, unnest(sh) AS s FROM sh)),
    sig AS MATERIALIZED (
      SELECT doc_id,
             {mins}
      FROM ex GROUP BY doc_id),
    bands AS (
      {bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    jac AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(list_distinct(x.sh || y.sh)) AS j
      FROM cand c
      JOIN sh x ON x.doc_id = c.id_a
      JOIN sh y ON y.doc_id = c.id_b)
    SELECT id_a, id_b,
           CAST(FLOOR(j * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS jaccard_q
    FROM jac WHERE j >= {_MH_JACC}e0
    """


@query("q_minhash_lsh_md5_pairs", oracle=_mh_oracle(), tags=("E275", "D3", "D4", "J11", "F11"))
def q_minhash_lsh_md5_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs with EVERY stage hash-checkable:
    signatures use the repo's md5-derived 52-bit hash (E175
    discipline) instead of xxhash64, so the DuckDB oracle reproduces
    the exact signature matrix, band keys, candidate set, and
    verified pairs — closing SURVEY D3's 'banding is not
    SQL-expressible' gap for the driver record (the xxhash64 operator
    path, operators/dedup.near_dup_pairs, stays the production form:
    JVM-side hashing is ~10x cheaper than md5-over-py-expression at
    100 TB; THIS query proves the algorithm, that one carries the
    scale).

    Shape is the scale shape: signatures via one explode + grouped
    MIN per seed (map-side combinable), band keys via posexplode,
    candidates via band-key equi self-join (hash join, never
    all-pairs), exact 3-gram Jaccard verify on candidates only.
    Planted near-dups (every 10th doc re-delivered with a 2-token
    suffix) guarantee a non-trivial pair set on the synthetic corpus.
    Measured scaling: a 10x replicated corpus (50k docs, every doc in
    a 10-copy duplicate group — 400x the qualifying pairs) ran 1.77x
    the 1x wall-clock on local[32]; cost tracks bucket-group pair
    counts, never corpus^2.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz zz")).alias("text"),
        )
    )
    sh = tracked_persist(
        corpus.select(
            "doc_id",
            F.array_distinct(ngrams(tokens(F.col("text")), 3)).alias("sh"),
        )
    )
    ex = sh.select("doc_id", F.explode("sh").alias("s"))
    exh = ex.select("doc_id", _h52("mh", F.col("s")).alias("h"))
    sig = exh.groupBy("doc_id").agg(
        *[
            F.min((F.lit(2 * i + 1) * F.col("h") + F.lit(7919 * i)) % F.lit(_MH_P)).alias(
                f"m{i}"
            )
            for i in range(_MH_SEEDS)
        ]
    )
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        *[
                            F.col(f"m{b * _MH_ROWS + r}").cast("string")
                            for r in range(_MH_ROWS)
                        ],
                    )
                    for b in range(_MH_BANDS)
                ]
            )
        ).alias("band", "bkey"),
    )
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    jac = (
        cand.join(sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sha")), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("shb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sha", "shb")).cast("double")
                / F.size(F.array_distinct(F.concat("sha", "shb")))
            ).alias("j"),
        )
    )
    return jac.filter(F.col("j") >= _MH_JACC).select(
        "id_a",
        "id_b",
        (F.floor(F.col("j") * 1000000 + F.lit(0.5)).cast("bigint") / 1000000.0).alias(
            "jaccard_q"
        ),
    )


# --------------------------------------------------------------------------
# E276: duplicate n-gram span coverage — exact-substring dedup telemetry
# --------------------------------------------------------------------------


@query(
    "q_dup_ngram_coverage",
    oracle=f"""
    WITH sh AS MATERIALIZED (
      SELECT doc_id, source, list_distinct({sql_ngrams(sql_tokens('text'), 3)}) AS sh
      FROM documents),
    ex AS MATERIALIZED (SELECT doc_id, source, unnest(sh) AS s FROM sh),
    df AS MATERIALIZED (
      SELECT s, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS docs FROM ex GROUP BY s),
    per_doc AS (
      SELECT e.doc_id, e.source,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN d.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      FROM ex e JOIN df d ON d.s = e.s
      GROUP BY e.doc_id, e.source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_dup) AS BIGINT) AS dup_shingles,
           CAST(SUM(n_shingles) AS BIGINT) AS total_shingles,
           CAST(FLOOR(CAST(SUM(n_dup) AS DOUBLE) / SUM(n_shingles) * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS dup_coverage,
           CAST(SUM(CASE WHEN n_dup * 2 > n_shingles THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_majority_dup
    FROM per_doc GROUP BY source ORDER BY source
    """,
    tags=("E276", "D11", "A1", "A3"),
)
def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication telemetry (the Lee et al.
    'Deduplicating Training Data' signal, shingle-granular): for each
    document, the fraction of its distinct 3-gram spans that occur in
    at least one OTHER document, rolled up per source — the metric
    that decides whether a source needs span-level dedup before
    training, which doc-level near-dup (D3/E275) cannot see.

    Scale shape (r11 form): one explode to distinct (doc, shingle)
    rows, ONE count window over the shingle key (each row sees its
    shingle's corpus document frequency with a single exchange on s —
    rows are distinct by construction, so the count IS the df; no
    df-build + join-back), one rollup — no pairwise anything."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(ngrams(tokens(F.col("text")), 3))).alias("s"),
    )
    # r11: (doc, shingle) rows are DISTINCT by construction
    # (array_distinct explode), so docs-per-shingle is a plain count —
    # and the df-build + join-back collapses into ONE count window
    # over the shingle key (one exchange instead of persist + agg
    # exchange + join-back; measured x0.49).
    wdf = Window.partitionBy("s")
    flagged = sh.select(
        "doc_id",
        "source",
        (F.count(F.lit(1)).over(wdf) >= 2).cast("bigint").alias("is_dup"),
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum("is_dup").cast("bigint").alias("n_dup"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_dup").cast("bigint").alias("dup_shingles"),
            F.sum("n_shingles").cast("bigint").alias("total_shingles"),
            (
                F.floor(
                    F.sum("n_dup").cast("double") / F.sum("n_shingles") * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1000000.0
            ).alias("dup_coverage"),
            F.sum((F.col("n_dup") * 2 > F.col("n_shingles")).cast("bigint"))
            .cast("bigint")
            .alias("docs_majority_dup"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# E287: md5-deterministic 32-bit SimHash — the hash-checkable SimHash twin
# --------------------------------------------------------------------------

_SH_BITS = 32
_SH_HAM = 6  # exact-verify Hamming threshold


def _simhash_oracle() -> str:
    h = _sql_h52("sh", "t")
    bit_sums = ",\n             ".join(
        f"CAST(SUM(({h} >> {i}) & 1) AS BIGINT) AS b{i}" for i in range(_SH_BITS)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN b{i} * 2 > n THEN {1 << i} ELSE 0 END)" for i in range(_SH_BITS)
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text || ' zz zz' AS text
      FROM documents WHERE doc_id % 10 = 0),
    toks AS (
      SELECT doc_id, unnest({sql_tokens('text')}) AS t FROM corpus),
    votes AS MATERIALIZED (
      SELECT doc_id,
             {bit_sums},
             CAST(COUNT(*) AS BIGINT) AS n
      FROM toks GROUP BY doc_id),
    sigs AS MATERIALIZED (
      SELECT doc_id, CAST({sig_terms} AS BIGINT) AS sig FROM votes),
    chunks AS (
      SELECT doc_id, sig, 0 AS idx, sig & 65535 AS chunk FROM sigs
      UNION ALL
      SELECT doc_id, sig, 1 AS idx, (sig >> 16) & 65535 AS chunk FROM sigs),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sa, b.sig AS sb
      FROM chunks a JOIN chunks b
        ON a.idx = b.idx AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
    SELECT id_a, id_b,
           CAST(bit_count(CAST(xor(sa, sb) AS BIGINT)) AS BIGINT) AS hamming
    FROM cand
    WHERE bit_count(CAST(xor(sa, sb) AS BIGINT)) <= {_SH_HAM}
    """


@query(
    "q_simhash_md5_candidates",
    oracle=_simhash_oracle(),
    tags=("E287", "D3", "F11", "J11"),
)
def q_simhash_md5_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash with EVERY stage hash-checkable (the SimHash
    sibling of E275's MinHash twin): token hashes come from the
    md5-derived 52-bit hash (low 32 bits voted), signatures are a
    64-way... here 32-way majority vote in one grouped aggregate,
    candidates block on the two 16-bit signature chunks (equi
    self-join — a random pair shares a chunk with p ~ 2^-16), and
    the exact Hamming verify keeps pairs <= 6 bits apart. The DuckDB
    oracle reproduces hashes, votes, signatures, blocking and
    Hamming bit-for-bit. The xxhash64 64-bit operator
    (operators/dedup.simhash_table) stays the production path; this
    query proves the algorithm end-to-end in the driver record.
    Planted near-dups (E275's scheme) guarantee non-trivial output."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = d.unionByName(
        d.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zz zz")).alias("text"),
        )
    )
    toks = corpus.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    ).select("doc_id", _h52("sh", F.col("t")).alias("h"))
    # r11: SWAR vote (same as operators/dedup.simhash_table) — bits i
    # and i+16 share one accumulator with two 32-bit lanes (exact: a
    # string cell < 2^31 bytes bounds tokens/doc < 2^31, no lane
    # carry), halving the aggregate width and its codegen unit. The
    # reconstructed per-bit counts — and therefore every signature —
    # are bit-identical to the oracle's per-bit SUM form.
    half = _SH_BITS // 2
    votes = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1))
                + F.shiftleft(
                    F.shiftrightunsigned(F.col("h"), i + half).bitwiseAND(
                        F.lit(1)
                    ),
                    32,
                )
            )
            .cast("bigint")
            .alias(f"b{i}")
            for i in range(half)
        ],
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    sig = None
    for i in range(half):
        lo = F.col(f"b{i}").bitwiseAND(F.lit(0xFFFFFFFF))
        hi = F.shiftrightunsigned(F.col(f"b{i}"), 32)
        term = F.when(lo * 2 > F.col("n"), F.lit(1 << i)).otherwise(0) + F.when(
            hi * 2 > F.col("n"), F.lit(1 << (i + half))
        ).otherwise(0)
        sig = term if sig is None else sig + term
    sigs = tracked_persist(
        votes.select("doc_id", sig.cast("bigint").alias("sig"))
    )
    chunks = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(
                F.col("sig").bitwiseAND(F.lit(65535)),
                F.shiftrightunsigned(F.col("sig"), 16).bitwiseAND(F.lit(65535)),
            )
        ).alias("idx", "chunk"),
    )
    cand = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.idx") == F.col("b.idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.sig").alias("sa"),
            F.col("b.sig").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return cand.select(
        "id_a", "id_b", ham.cast("bigint").alias("hamming")
    ).filter(F.col("hamming") <= _SH_HAM)


# --------------------------------------------------------------------------
# E289: integer-exact PageRank twin — the hash-checked iterative-graph row
# --------------------------------------------------------------------------

_PRQ_ROUNDS = 4
_PRQ_TOPK = 20


def _pagerank_q_oracle() -> str:
    base = """
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
      FROM lineitem WHERE l_partkey % 3 = 0),
    edges AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS MATERIALIZED (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY u),
    r0 AS MATERIALIZED (
      SELECT u AS node, CAST(1000000000 AS BIGINT) AS r_q FROM deg)"""
    prev = "r0"
    for i in range(1, _PRQ_ROUNDS + 1):
        base += f""",
    r{i} AS MATERIALIZED (
      SELECT e.v AS node,
             CAST({PAGERANK_EXACT_BASE} + (85 * SUM(r.r_q // d.deg)) // 100 AS BIGINT)
               AS r_q
      FROM {prev} r
      JOIN deg d ON d.u = r.node
      JOIN edges e ON e.u = r.node
      GROUP BY e.v)"""
        prev = f"r{i}"
    return base + f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'p' || CAST(node // 2 AS VARCHAR)
                ELSE 's' || CAST((node - 1) // 2 AS VARCHAR) END AS node,
           r_q / 1000000000.0 AS rank
    FROM {prev}
    ORDER BY r_q DESC, node LIMIT {_PRQ_TOPK}
    """


@query(
    "q_pagerank_quantized_exact",
    oracle=_pagerank_q_oracle(),
    tags=("E289", "E47", "A1", "O3"),
)
def q_pagerank_quantized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank in PURE INTEGER arithmetic — the driver-hash-checked
    twin of the float operator (q_pagerank_parts_suppliers stays the
    production path): ranks live as 1e-9 BIGINT rationals, each
    round's contribution is a floor division r_q DIV deg, the damping
    update is 0.15e9 + (85 * sum) DIV 100, and every operation maps
    integers to integers — so all 4 rounds replay bit-identically in
    the oracle's unrolled MATERIALIZED CTE chain (the E241 markov
    discipline applied to the E47 graph). Fixed 4 rounds on both
    engines; top-20 with label tiebreak. Quantization bias per
    round is < 1e-9 x degree — ordering-irrelevant, and exactness is
    the point: this row upgrades the iterative-graph family from
    rows-only to value-verified in the driver record."""
    ranks = pagerank_exact(_parts_suppliers_third(spark, sf_dir), _PRQ_ROUNDS)
    return (
        ranks.select(_ps_label("node").alias("node"), "r_q")
        .orderBy(F.desc("r_q"), "node")
        .limit(_PRQ_TOPK)
        .select("node", (F.col("r_q") / 1e9).alias("rank"))
    )


# --------------------------------------------------------------------------
# E291: incremental LSH index probe — dedup a NEW batch against the corpus
# --------------------------------------------------------------------------


def _ilp_oracle() -> str:
    mins = ",\n             ".join(
        f"MIN(({2 * i + 1} * h + {7919 * i}) % {_MH_P}) AS m{i}"
        for i in range(_MH_SEEDS)
    )

    def bands(src: str) -> str:
        return "\n      UNION ALL\n      ".join(
            "SELECT doc_id, {b} AS band, {key} AS bkey FROM {src}".format(
                b=b,
                src=src,
                key="||'_'||".join(
                    f"CAST(m{b * _MH_ROWS + r} AS VARCHAR)" for r in range(_MH_ROWS)
                ),
            )
            for b in range(_MH_BANDS)
        )

    h = _sql_h52("ilp", "s")
    return f"""
    WITH corpus_sh AS MATERIALIZED (
      SELECT doc_id, list_distinct({sql_ngrams(sql_tokens('text'), 3)}) AS sh
      FROM documents),
    batch_sh AS MATERIALIZED (
      SELECT doc_id + 2000000 AS doc_id,
             list_distinct({sql_ngrams(sql_tokens("text || ' qq'"), 3)}) AS sh
      FROM documents WHERE doc_id % 7 = 0),
    corpus_sig AS MATERIALIZED (
      SELECT doc_id, {mins}
      FROM (SELECT doc_id, {h} AS h
            FROM (SELECT doc_id, unnest(sh) AS s FROM corpus_sh))
      GROUP BY doc_id),
    batch_sig AS MATERIALIZED (
      SELECT doc_id, {mins}
      FROM (SELECT doc_id, {h} AS h
            FROM (SELECT doc_id, unnest(sh) AS s FROM batch_sh))
      GROUP BY doc_id),
    corpus_bands AS (
      {bands('corpus_sig')}),
    batch_bands AS (
      {bands('batch_sig')}),
    cand AS (
      SELECT DISTINCT n.doc_id AS new_doc_id, c.doc_id AS index_doc_id
      FROM batch_bands n JOIN corpus_bands c
        ON n.band = c.band AND n.bkey = c.bkey),
    jac AS (
      SELECT cd.new_doc_id, cd.index_doc_id,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
               / len(list_distinct(x.sh || y.sh)) AS j
      FROM cand cd
      JOIN batch_sh x ON x.doc_id = cd.new_doc_id
      JOIN corpus_sh y ON y.doc_id = cd.index_doc_id)
    SELECT new_doc_id, index_doc_id,
           CAST(FLOOR(j * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS jaccard_q
    FROM jac WHERE j >= {_MH_JACC}e0
    ORDER BY new_doc_id, index_doc_id
    """


@query(
    "q_incremental_lsh_probe",
    oracle=_ilp_oracle(),
    tags=("E291", "E275", "D3", "D4", "J11", "F11"),
)
def q_incremental_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup detection — the production shape a corpus
    pipeline actually runs day to day: the existing corpus already
    has a banded MinHash INDEX; a NEW ingest batch (every 7th doc
    re-delivered with a suffix, ids offset) computes signatures for
    ITS documents only and PROBES the index with a band-key equi-join
    — never a self-join over old+new, and nothing about the existing
    corpus is recomputed per ingest in a real deployment (the band
    table is the persisted index; it is derived in-plan here because
    the sandbox has no cross-query state). Matches are
    exact-Jaccard-verified against the stored shingle sets, J >= 0.5.

    md5-derived 52-bit hashes (E275 discipline) make every stage —
    signature matrix, band keys, probe candidates, verified matches —
    bit-reproducible by the DuckDB oracle. Scale shape: batch-sized
    signature work, probe join keyed on rare band keys, verify on
    candidates only; at 100 TB the corpus side is a bucketed parquet
    index and the probe shuffles only the batch."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qq")).alias("text"),
    )

    def shingles(df: DataFrame) -> DataFrame:
        return tracked_persist(
            df.select(
                "doc_id",
                F.array_distinct(ngrams(tokens(F.col("text")), 3)).alias("sh"),
            )
        )

    def sig_bands(sh: DataFrame) -> DataFrame:
        exh = sh.select("doc_id", F.explode("sh").alias("s")).select(
            "doc_id", _h52("ilp", F.col("s")).alias("h")
        )
        sig = exh.groupBy("doc_id").agg(
            *[
                F.min(
                    (F.lit(2 * i + 1) * F.col("h") + F.lit(7919 * i)) % F.lit(_MH_P)
                ).alias(f"m{i}")
                for i in range(_MH_SEEDS)
            ]
        )
        return sig.select(
            "doc_id",
            F.posexplode(
                F.array(
                    *[
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"m{b * _MH_ROWS + r}").cast("string")
                                for r in range(_MH_ROWS)
                            ],
                        )
                        for b in range(_MH_BANDS)
                    ]
                )
            ).alias("band", "bkey"),
        )

    sh_corpus = shingles(d)
    sh_batch = shingles(batch)
    cand = (
        sig_bands(sh_batch)
        .alias("n")
        .join(
            sig_bands(sh_corpus).alias("c"),
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bkey") == F.col("c.bkey")),
        )
        .select(
            F.col("n.doc_id").alias("new_doc_id"),
            F.col("c.doc_id").alias("index_doc_id"),
        )
        .distinct()
    )
    j = F.size(F.array_intersect("sha", "shb")).cast("double") / F.size(
        F.array_union("sha", "shb")
    )
    return (
        cand.join(
            sh_batch.select(F.col("doc_id").alias("new_doc_id"), F.col("sh").alias("sha")),
            "new_doc_id",
        )
        .join(
            sh_corpus.select(
                F.col("doc_id").alias("index_doc_id"), F.col("sh").alias("shb")
            ),
            "index_doc_id",
        )
        .select(
            "new_doc_id",
            "index_doc_id",
            (F.floor(j * 1e6 + F.lit(0.5)).cast("bigint") / 1e6).alias("jaccard_q"),
            j.alias("_j"),
        )
        .filter(F.col("_j") >= _MH_JACC)
        .drop("_j")
        .orderBy("new_doc_id", "index_doc_id")
    )


# --------------------------------------------------------------------------
# E293: md5 dedup-pipeline report — the E57 accounting, value-verified
# --------------------------------------------------------------------------


@query(
    "q_dedup_pipeline_md5_report",
    oracle=f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT id_a, id_b FROM ({_mh_oracle()})),
    corpus_n AS (
      SELECT CAST(COUNT(*) AS BIGINT)
             + (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
                WHERE doc_id % 10 = 0) AS n_docs
      FROM documents),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs
            UNION SELECT id_b, id_a FROM pairs),
    reach(node, comp) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.b, r.comp FROM reach r JOIN sym s ON s.a = r.node),
    cc AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
    SELECT (SELECT n_docs FROM corpus_n) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_dup_pairs,
           (SELECT CAST(COUNT(DISTINCT comp) AS BIGINT) FROM cc) AS n_clusters,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cc) AS n_members,
           (SELECT n_docs FROM corpus_n)
             - (SELECT CAST(COUNT(*) AS BIGINT) FROM cc)
             + (SELECT CAST(COUNT(DISTINCT comp) AS BIGINT) FROM cc) AS n_kept
    """,
    tags=("E293", "E57", "E275", "E15", "D3", "D4", "A2"),
)
def q_dedup_pipeline_md5_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The E57 pipeline REPORT with every number value-verified (r6):
    md5 MinHash-LSH verified pairs (the E275 twin, reused as a
    subplan — composability pinned the same way E190's MMR feeds the
    diversification audit) -> connected components -> the
    one-row survivor accounting (docs, pairs, clusters, members,
    kept = docs - members + clusters). The xxhash64
    q_dedup_pipeline_report stays the production path; THIS row makes
    the end-to-end accounting identity driver-hash-checkable, with
    the oracle recomputing signatures, banding, verification, the CC
    fixpoint (recursive CTE), and the arithmetic from scratch."""
    from fts_analysis_datalake_spark.operators.graphs import dedup_clusters

    pairs = tracked_persist(
        q_minhash_lsh_md5_pairs(spark, sf_dir).select("id_a", "id_b")
    )
    # Verified pairs are bounded-size: the union-find finisher runs.
    clusters = dedup_clusters(pairs)
    d = load_table(spark, sf_dir, "documents")
    dstats = d.agg(
        (
            F.count(F.lit(1))
            + F.sum((F.col("doc_id") % 10 == 0).cast("bigint"))
        )
        .cast("bigint")
        .alias("n_docs")
    )
    cstats = clusters.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
    )
    pstats = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
    return (
        dstats.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(cstats))
        .select(
            "n_docs",
            "n_dup_pairs",
            "n_clusters",
            "n_members",
            (F.col("n_docs") - F.col("n_members") + F.col("n_clusters"))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


# --------------------------------------------------------------------------
# E296: per-source MinHash sketch — corpus-affinity matrix by mergeable mins
# --------------------------------------------------------------------------


def _src_affinity_oracle() -> str:
    h = _sql_h52("mh", "s")
    mins = ",\n             ".join(
        f"MIN(({2 * i + 1} * h + {7919 * i}) % {_MH_P}) AS m{i}"
        for i in range(_MH_SEEDS)
    )
    matches = " + ".join(
        f"CASE WHEN a.m{i} = b.m{i} THEN 1 ELSE 0 END" for i in range(_MH_SEEDS)
    )
    return f"""
    WITH ex AS MATERIALIZED (
      SELECT source, {h} AS h, s
      FROM (SELECT source, unnest({sql_ngrams(sql_tokens('text'), 3)}) AS s
            FROM documents)),
    sig AS MATERIALIZED (
      SELECT source, {mins} FROM ex GROUP BY source),
    ds AS MATERIALIZED (SELECT DISTINCT source, s FROM ex),
    nsh AS MATERIALIZED (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM ds GROUP BY source),
    est AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST({matches} AS BIGINT) AS n_sig_matches
      FROM sig a JOIN sig b ON a.source < b.source),
    inter AS (
      SELECT x.source AS src_a, y.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM ds x JOIN ds y ON y.s = x.s AND x.source < y.source
      GROUP BY 1, 2)
    SELECT e.src_a, e.src_b, e.n_sig_matches,
           (e.n_sig_matches * 1000000 // {_MH_SEEDS}) / 1000000.0
             AS est_jaccard,
           COALESCE(i.n_common, 0) AS n_common_shingles,
           CAST(FLOOR(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                      / (na.n + nb.n - COALESCE(i.n_common, 0))
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS exact_jaccard
    FROM est e
    LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b
    JOIN nsh na ON na.source = e.src_a
    JOIN nsh nb ON nb.source = e.src_b
    ORDER BY e.src_a, e.src_b
    """


@query(
    "q_source_minhash_affinity",
    oracle=_src_affinity_oracle(),
    tags=("E296", "D3", "A2", "J2", "E17"),
)
def q_source_minhash_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level source-affinity matrix from MERGEABLE MinHash
    sketches — the data-mixing diagnostic a pretraining pipeline runs
    before weighting sources (how much does source A's shingle space
    overlap source B's?). The load-bearing property is MERGEABILITY:
    a source's signature is the element-wise MIN over its docs'
    shingle hashes, and MIN is associative/commutative/duplicate-
    insensitive, so the sketch needs NO per-doc dedup and partial-
    aggregates map-side — at 100 TB each executor folds its split
    into 12 BIGINTs per source and the shuffle carries only
    |sources| x 12 values (the same mergeability contract as E17's
    HLL rollup). The estimated Jaccard (matching signature
    coordinates / 12) is reported NEXT TO the exact shingle-set
    Jaccard (distinct-shingle equi-join — the audit half, corpus-
    bounded), the E161/D6 honest-baseline discipline. md5-derived
    52-bit hashes (E175) make every value hash-exact across
    engines."""
    d = load_table(spark, sf_dir, "documents")
    ex = d.select(
        "source",
        F.explode(ngrams(tokens(F.col("text")), 3)).alias("s"),
    )
    # r11 (guide §2.3/§2.4): ONE (shingle)-keyed collect_set aggregate
    # replaces {the corpus-sized (source, h, s) persist, the
    # (source, s) distinct, the posting self-join on s}. The per-shingle
    # source set is domain-bounded, and signatures (min over permuted
    # h(s) — duplicate-insensitive, so distinct-per-source and
    # all-occurrences minima agree), per-source set sizes AND pairwise
    # intersection counts all derive from it with in-array pair
    # expansion (the _copurchase_pairs idiom). The only corpus-sized
    # shuffle left is the (s, source) partial-aggregated collect_set.
    # Measured 3.15 → 2.98 s isolated at sf0.1; the structural win is
    # the removed posting equi-join + two corpus materializations.
    bysh = tracked_persist(
        ex.groupBy("s").agg(F.collect_set("source").alias("srcs"))
    )
    exp = bysh.select(
        _h52("mh", F.col("s")).alias("h"), F.explode("srcs").alias("source")
    )
    stats = tracked_persist(
        exp.groupBy("source").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            *[
                F.min(
                    (F.lit(2 * i + 1) * F.col("h") + F.lit(7919 * i)) % F.lit(_MH_P)
                ).alias(f"m{i}")
                for i in range(_MH_SEEDS)
            ],
        )
    )
    matches = None
    for i in range(_MH_SEEDS):
        t = F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
        matches = t if matches is None else matches + t
    est = (
        stats.alias("a")
        .join(F.broadcast(stats.alias("b")), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            matches.cast("bigint").alias("n_sig_matches"),
        )
    )
    pair = F.filter(
        F.flatten(
            F.transform(
                "srcs",
                lambda x: F.transform(
                    "srcs", lambda y: F.struct(x.alias("sa"), y.alias("sb"))
                ),
            )
        ),
        lambda p: p["sa"] < p["sb"],
    )
    inter = (
        bysh.select(F.explode(pair).alias("p"))
        .groupBy(F.col("p.sa").alias("src_a"), F.col("p.sb").alias("src_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    na = stats.select(F.col("source").alias("src_a"), F.col("n").alias("na"))
    nb = stats.select(F.col("source").alias("src_b"), F.col("n").alias("nb"))
    return (
        est.join(F.broadcast(inter), ["src_a", "src_b"], "left")
        .join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_sig_matches",
            (
                F.expr(f"n_sig_matches * 1000000 DIV {_MH_SEEDS}") / 1000000.0
            ).alias("est_jaccard"),
            F.coalesce(F.col("n_common"), F.lit(0))
            .cast("bigint")
            .alias("n_common_shingles"),
            (
                F.floor(
                    F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                    / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_common"), F.lit(0)))
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1000000.0
            ).alias("exact_jaccard"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# E302: edit-distance entity resolution — blocked levenshtein fuzzy match
# --------------------------------------------------------------------------

_ED_MAX = 2  # verify threshold: unit-cost edits


@query(
    "q_edit_distance_entities",
    oracle=f"""
    WITH names AS MATERIALIZED (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name),
    keyed AS MATERIALIZED (
      SELECT p_name, n_parts,
             regexp_extract(p_name, '([^ ]+)$', 1) AS blk
      FROM names)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS edit_dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b,
           least(a.p_name, b.p_name) AS canonical
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= {_ED_MAX}
    WHERE levenshtein(a.p_name, b.p_name) <= {_ED_MAX}
    ORDER BY name_a, name_b
    """,
    tags=("E302", "D3", "J2", "A1", "F2"),
)
def q_edit_distance_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level fuzzy entity resolution: the classic blocked
    edit-distance matcher (dedupe/record-linkage style) that the
    set/shingle/vector dedup family doesn't cover — typo-grade
    variants ("cold anvil" vs "old anvil") that share almost no
    shingles at n=3 and hash to different MinHash buckets. Shape for
    100 TB: names are deduplicated TO THEIR DOMAIN first (with
    per-name part counts kept as weights), candidates come from an
    equi-join on a blocking key (the trailing token — the head noun
    of the product phrase) plus a length-difference prune (a length
    gap > the threshold already exceeds it: each unit edit changes
    length by at most 1), and the O(len^2) ``levenshtein`` verify
    runs ONLY on blocked candidates — never an all-pairs product.
    Blocking recall is the standard tradeoff: a pair whose edits fall
    in the blocking token is missed (on this fixture every
    distance-<= 2 pair shares its noun, so the block is lossless —
    measured, not assumed). Both engines evaluate unit-cost
    insert/delete/substitute Levenshtein natively JVM-/C-side as an
    exact INTEGER, so the hash check is bit-exact with no
    quantization. Emits matched name pairs with their distance,
    part-row weights, and the lexicographic-min canonical survivor."""
    names = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
    )
    keyed = names.select(
        "p_name",
        "n_parts",
        F.regexp_extract("p_name", r"([^ ]+)$", 1).alias("blk"),
    )
    a = keyed.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "blk",
    )
    b = keyed.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "blk",
    )
    return (
        a.join(b, "blk")
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b")) <= _ED_MAX
            )
        )
        .withColumn(
            "edit_dist", F.levenshtein("name_a", "name_b").cast("int")
        )
        .filter(F.col("edit_dist") <= _ED_MAX)
        .select(
            "name_a",
            "name_b",
            "edit_dist",
            "n_parts_a",
            "n_parts_b",
            F.least("name_a", "name_b").alias("canonical"),
        )
        .orderBy("name_a", "name_b")
    )


# --------------------------------------------------------------------------
# E315: personalized PageRank — seed-teleport proximity in BIGINT rationals
# --------------------------------------------------------------------------

_PPR_ROUNDS = 4
_PPR_TOPK = 20
# Every 7th supplier (odd node ids) is a seed.
_PPR_SEED = "node % 2 = 1 AND ((node - 1) div 2) % 7 = 0"


def _ppr_oracle() -> str:
    base = f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT l_partkey * 2 AS u, l_suppkey * 2 + 1 AS v
      FROM lineitem WHERE l_partkey % 3 = 0),
    edges AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS MATERIALIZED (
      SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY u),
    seeds AS MATERIALIZED (
      SELECT DISTINCT v AS node FROM e0 WHERE ((v - 1) // 2) % 7 = 0),
    r0 AS MATERIALIZED (
      SELECT node, CAST({PAGERANK_EXACT_ONE} AS BIGINT) AS r_q FROM seeds)"""
    prev = "r0"
    for i in range(1, _PPR_ROUNDS + 1):
        base += f""",
    c{i} AS MATERIALIZED (
      SELECT e.v AS node,
             CAST((85 * SUM(r.r_q // d.deg)) // 100 AS BIGINT) AS contrib
      FROM {prev} r
      JOIN deg d ON d.u = r.node
      JOIN edges e ON e.u = r.node
      GROUP BY e.v),
    r{i} AS MATERIALIZED (
      SELECT COALESCE(c.node, s.node) AS node,
             CAST(COALESCE(s.base, 0) + COALESCE(c.contrib, 0) AS BIGINT)
               AS r_q
      FROM c{i} c
      FULL JOIN (SELECT node, CAST({PAGERANK_EXACT_BASE} AS BIGINT) AS base
                 FROM seeds) s ON s.node = c.node)"""
        prev = f"r{i}"
    return base + f""",
    topk AS (
      SELECT node AS nid, r_q FROM {prev}
      ORDER BY r_q DESC, nid LIMIT {_PPR_TOPK})
    SELECT CASE WHEN nid % 2 = 0 THEN 'p' || CAST(nid // 2 AS VARCHAR)
                ELSE 's' || CAST((nid - 1) // 2 AS VARCHAR) END AS node,
           nid IN (SELECT node FROM seeds) AS is_seed,
           r_q / 1000000000.0 AS rank
    FROM topk ORDER BY r_q DESC, nid
    """


@query(
    "q_personalized_pagerank",
    oracle=_ppr_oracle(),
    tags=("E315", "E289", "E47", "A1", "J7"),
)
def q_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank — random walk WITH RESTART to a seed
    set (every 7th supplier), the similar-entity / recommendation
    primitive global PageRank (E47/E289) can't express: teleport
    mass returns to the SEEDS each round, so rank decays with
    walk distance from them and the top-20 is a proximity ranking
    around the panel. Same 1e-9 BIGINT-rational discipline as E289
    (floor-div contributions, integer damping), with one new shape:
    the per-round update is a FULL OUTER join between the
    contribution aggregate and the (domain-sized, broadcastable)
    seed teleport table — a node keeps rank only while walks reach
    it or it is a seed, so the rank frontier stays SPARSE (locality
    is the whole point of PPR at 100 TB: state is proportional to
    the reached neighborhood, never the graph). All 4 rounds replay
    bit-identically in the unrolled MATERIALIZED-CTE oracle."""
    ranks = pagerank_exact(
        _parts_suppliers_third(spark, sf_dir), _PPR_ROUNDS, seed=F.expr(_PPR_SEED)
    )
    return (
        ranks.orderBy(F.desc("r_q"), "node")
        .limit(_PPR_TOPK)
        .select(
            _ps_label("node").alias("node"),
            F.expr(_PPR_SEED).alias("is_seed"),
            (F.col("r_q") / 1e9).alias("rank"),
        )
    )
