"""Similarity-search operators over embedding columns (SURVEY.md
§2.10 D5-D7 + ANN extension).

- brute-force cosine top-k: the 100 TB-honest baseline — a single
  scan + per-row built-in vector math + TakeOrderedAndProject (no
  global sort materializes);
- label-blocked all-pairs: bounded self-join for near-dup mining;
- IVF (inverted-file) bucketed ANN: the scale path — assign every
  vector to its nearest coarse centroid once (broadcast centroids,
  argmin over an array fold), then probe only the nprobe nearest
  buckets per query. At 1000 executors the probe touches
  nprobe/ncentroids of the data instead of all of it.

All distance math uses functions/vector.py built-ins (no UDFs in the
hot path); a pandas-UDF cosine twin exists as the X1 surface demo.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.functions.vector import dot, norm


def _vec_sql(vec) -> str:
    """A literal array<double> as ONE SQL text fragment. Building
    literal vectors element-by-element with ``F.lit`` costs a py4j
    round trip per element — ~7 s of driver time for a 64x64 plane
    matrix (measured) — while one ``F.expr`` parse is milliseconds.
    ``repr(float)`` round-trips exactly, so values are bit-preserved."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in vec) + ")"


def _dot_sql(col_name: str, vec) -> str:
    """Sequential-fold dot of a column against a literal vector —
    textually the same fold as functions.vector.dot, so the result is
    bit-identical to the Column form."""
    return (
        f"aggregate(zip_with({col_name}, {_vec_sql(vec)}, "
        f"(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
    )


def _cosine_to_query(vec_col_name: str, query_vec: list[float]) -> Column:
    """cosine(row_vec, literal_query) with the query's norm computed
    driver-side — bit-identical to ``cosine(col, _vec_lit(q))``
    (Python floats are IEEE doubles, the sum runs in the same
    left-to-right order over the same float->double-exact values, and
    sqrt is correctly rounded in both runtimes), but the per-row plan
    pays one dot fold + one row-norm fold instead of re-folding the
    constant query array for every row."""
    acc = 0.0
    for x in query_vec:
        acc += float(x) * float(x)
    qn = math.sqrt(acc)
    return F.expr(_dot_sql(vec_col_name, query_vec)) / (norm(F.col(vec_col_name)) * F.lit(qn))


def cosine_topk(
    emb: DataFrame, query_vec: list[float], k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Brute-force top-k by cosine to a literal query vector.

    orderBy+limit compiles to TakeOrderedAndProject: per-partition
    heap of k, then a k*partitions merge on the driver side of the
    exchange — no full sort, no full shuffle."""
    cos = _cosine_to_query(vec_col, query_vec)
    return (
        emb.select(F.col(id_col), cos.alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


def allpairs_above_threshold(
    emb: DataFrame,
    threshold: float,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold, blocked by ``block_col`` so
    the self-join is an equi hash join per block, not a cartesian.

    Norms are computed once per ROW before the join, so each of the
    O(pairs) outputs pays one dot fold + a divide instead of three
    folds. Values are bit-identical to the naive per-pair
    ``cosine()``: the same IEEE ops run on the same inputs — only
    their multiplicity changes (the oracle's per-pair ``sql_cosine``
    still matches exactly).

    The stream side gets a parallelism floor first: this operator is
    WORK-AMPLIFYING — output pairs, not input rows, are the workload
    — while Spark sizes scan partitions by input BYTES. The r8 8x
    scale probe caught the mismatch: 16k vectors -> a 4 MB scan -> 2
    tasks carrying 13M pair evaluations on a 32-core machine (76 s);
    with the floor the same probe runs in ~8 s (and sf0.1 in ~1 s).
    Well-partitioned inputs — the 100 TB case — pass through
    untouched. (A bit-identical unrolled straight-line dot was tried
    first and measured 6x SLOWER than the fold per pair even inside
    whole-stage codegen — a 64-term inline chain defeats JIT — so the
    fold stays; parallelism, not the per-pair constant, was the real
    lever.)"""
    from fts_analysis_datalake_spark.catalog import ensure_parallelism

    emb = ensure_parallelism(emb)
    a = emb.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm(F.col(vec_col)).alias("na"),
        F.col(block_col).alias("blk"),
    )
    b = emb.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm(F.col(vec_col)).alias("nb"),
        F.col(block_col).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "blk",
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# --------------------------------------------------------------------------
# IVF bucketed ANN
# --------------------------------------------------------------------------


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id: str = "cent_id",
    cent_vec: str = "cent_vec",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid — fully MAP-SIDE:
    the centroid table is collapsed to ONE row holding a sorted
    array<struct> (a Spark-side aggregation, nothing on the driver),
    broadcast-crossed onto the vectors, and the argmax is a
    higher-order fold over that array. NO exchange of the vector
    table at all (the previous row_number-over-window form shuffled
    every vector by id just to rank a k-row fan-out — at 100 TB that
    shuffle IS the assignment cost; this form is one scan).

    Ranking uses ``dot(v,c)/|c|`` — cosine times the per-vector
    constant ``|v|``, which cannot change the per-vector argmax (or
    its ties); ties break to the LOWEST cent_id via an explicit
    array_sort comparator on (score desc, cent_id asc) — no numeric
    negation, so cent_id may be any orderable type (ints, strings).
    An empty centroid table yields an empty result (matching the old
    rank form). Centroid norms are computed once on the tiny side
    before the collapse."""
    cents_arr = (
        centroids.select(
            F.struct(
                F.col(cent_id).alias("cid"),
                norm(F.col(cent_vec)).alias("cn"),
                F.col(cent_vec).alias("cv"),
            ).alias("c")
        )
        .agg(F.array_sort(F.collect_list("c")).alias("_cents"))
        .where(F.size("_cents") > 0)
    )
    # The fold runs WHERE THE ROWS SIT — a single-row-group parquet
    # input would pin every centroid dot to one core (the old
    # window form's shuffle incidentally fanned the work out), so
    # rebalance small scans first; well-partitioned inputs (the
    # 100 TB case) pass through untouched.
    from fts_analysis_datalake_spark.catalog import ensure_parallelism

    emb = ensure_parallelism(emb)
    # argmax as transform -> comparator sort: ONE dot per centroid
    # (the transform runs once), then a (score desc, cid asc)
    # comparator sort whose head is the argmax — ties resolve to the
    # lowest cent_id exactly like the old rank form, without the
    # numeric negation that would bar string centroid ids. k log k
    # comparisons over the (small, broadcast) centroid count.
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (dot(F.col(vec_col), c["cv"]) / c["cn"]).alias("score"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.element_at(
        F.array_sort(
            scored,
            lambda a, b: F.when(a["score"] > b["score"], F.lit(-1))
            .when(a["score"] < b["score"], F.lit(1))
            .when(a["cid"] < b["cid"], F.lit(-1))
            .when(a["cid"] > b["cid"], F.lit(1))
            .otherwise(F.lit(0)),
        ),
        1,
    )
    return (
        emb.crossJoin(F.broadcast(cents_arr))
        .select(
            F.col(id_col),
            F.col(vec_col),
            best["cid"].alias(cent_id),
        )
    )


def deterministic_centroids(
    emb: DataFrame, every: int = 53, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Seed centroids deterministically (every Nth vector) — a stand-in
    for a k-means fit; the IVF plumbing is identical either way."""
    return emb.filter((F.col(id_col) % every) == 0).select(
        F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec")
    )


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    nprobe: int = 3,
    every: int = 53,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """ANN top-k: probe only the ``nprobe`` centroids nearest the
    query, scan only their buckets. Recall vs brute force is checked
    by tests/test_similarity.py. ``centroids`` (cent_id, cent_vec)
    overrides the seeded stand-in — pass ``kmeans_train`` output for
    the trained coarse quantizer (tighter buckets, better recall at
    the same nprobe)."""
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(emb, every, id_col, vec_col)
    )
    assigned = ivf_assign(emb, cents, id_col, vec_col)
    probe = (
        cents.select("cent_id", _cosine_to_query("cent_vec", query_vec).alias("qc"))
        .orderBy(F.col("qc").desc(), F.col("cent_id"))
        .limit(nprobe)
        .select("cent_id")
    )
    return (
        assigned.join(F.broadcast(probe), "cent_id")
        .select(F.col(id_col), _cosine_to_query(vec_col, query_vec).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# SRP-LSH bucketed ANN (random-hyperplane signatures, multiprobe)
# --------------------------------------------------------------------------


def _srp_planes(dim: int, bits: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes (fixed seed — index build and
    query probe MUST agree on the planes at any scale)."""
    return np.random.RandomState(seed).standard_normal((bits, dim))


def _srp_band_buckets_udf(planes: np.ndarray, bands: int, band_bits: int):
    """Vectorized (Arrow-batched) band-bucket signatures: one numpy
    matmul per batch instead of bands*band_bits interpreted Catalyst
    folds per row. Measured on the 4000-vector corpus: the fold form
    spent ~5 s in lambda interpretation; the matmul is milliseconds.

    This is the sanctioned Python surface for embedding math (a
    vectorized pandas UDF, never row-at-a-time): the planes matrix
    ships in the UDF closure (~32 KB), the batch crosses the JVM
    boundary once via Arrow, and the work is a (n x dim) @ (dim x
    bits) BLAS call. Alternatives measured and rejected: per-element
    F.lit literals (~7 s py4j), one 4096-node array literal (~3.5 s
    analysis+codegen per plan), per-plane fold expressions (seconds of
    Janino per stage)."""
    from pyspark.sql.functions import pandas_udf

    P = planes.astype(np.float64)
    weights = 1 << np.arange(band_bits)

    @pandas_udf("array<int>")
    def band_buckets(vecs: pd.Series) -> pd.Series:
        M = np.vstack(vecs.to_numpy()).astype(np.float64)
        signs = (M @ P.T) > 0  # (n, bands*band_bits) sign bits
        B = signs.reshape(len(M), bands, band_bits) @ weights
        return pd.Series(list(B.astype(np.int32)))

    return band_buckets


def srp_bucket(vec_col_name: str, planes: np.ndarray) -> Column:
    """Pack sign(v·h_i) bits into an int bucket id — pure Catalyst
    folds (one zip_with/aggregate per plane), no UDF. Built as one
    SQL expression parse (see _vec_sql on why not per-element lits)."""
    terms = " + ".join(
        f"IF({_dot_sql(vec_col_name, plane)} > 0D, {1 << i}, 0)" for i, plane in enumerate(planes)
    )
    return F.expr(terms)


def _probe_buckets(query_vec: list[float], planes: np.ndarray, radius: int) -> list[int]:
    """Query bucket + every bucket within Hamming ``radius`` —
    computed driver-side with numpy (no Spark job: the planes and the
    query vector are both local)."""
    from itertools import combinations

    q = np.asarray(query_vec, dtype=np.float64)
    base = sum(1 << i for i, plane in enumerate(planes) if float(plane @ q) > 0)
    out = [base]
    for r in range(1, radius + 1):
        for flips in combinations(range(len(planes)), r):
            b = base
            for i in flips:
                b ^= 1 << i
            out.append(b)
    return out


def srp_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int,
    bits: int = 8,
    radius: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k via sign-random-projection LSH: every vector gets an
    ``bits``-bit bucket once (a map-side projection — at 100 TB this
    is the precomputed index column you'd persist); the query scans
    only buckets within Hamming ``radius`` of its own bucket.

    With bits=8, radius=3 the probe covers ~36% of bucket space —
    comparable data touched to IVF nprobe=3/10 but with NO training
    pass (no centroids); recall vs brute force is property-tested in
    tests/test_similarity.py. The bucket filter is an IN-list on a
    computed column, so Catalyst evaluates it map-side with no
    shuffle before the final top-k."""
    planes = _srp_planes(64, bits)
    probes = _probe_buckets(query_vec, planes, radius)
    # Bucket via the same vectorized Arrow matmul as the banded path
    # (1 band of ``bits`` bits). The pure-Catalyst srp_bucket() form is
    # semantically identical but Janino-compiles a bits*dim-term
    # expression (~1.2 s one-time codegen, BENCH r4's only regression);
    # the numpy matmul also matches _probe_buckets' plane@q sign
    # arithmetic exactly, so index and probe can't disagree on a
    # borderline dot's last ulp.
    bucket_udf = _srp_band_buckets_udf(planes, 1, bits)
    return (
        emb.withColumn("_bucket", bucket_udf(F.col(vec_col))[0])
        .filter(F.col("_bucket").isin(probes))
        .select(F.col(id_col), _cosine_to_query(vec_col, query_vec).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col(id_col))
        .limit(k)
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-duplicate pairs (banded SRP-LSH, global —
# the embedding-space analogue of dedup.near_dup_pairs' MinHash banding)
# --------------------------------------------------------------------------


def embedding_near_dups(
    emb: DataFrame,
    threshold: float,
    bands: int = 4,
    band_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All vector pairs with cosine >= ``threshold``, found via banded
    sign-random-projection LSH — no label blocking, no all-pairs.

    Index build (map-side, once per vector): ``bands * band_bits``
    hyperplane sign bits, packed into one small int bucket per band —
    computed by a vectorized Arrow pandas UDF (numpy matmul; see
    _srp_band_buckets_udf for the measured alternatives).
    Candidate generation: posexplode the band buckets and self-join on
    ``(band_idx, bucket)`` — vectors agreeing on ANY band meet; the
    join is a bucketed equi hash join exactly like the MinHash LSH
    path (operators/dedup.py), so at 100 TB the cost is per-bucket
    group sizes, never n². Verification: exact Catalyst cosine on the
    deduplicated candidates only.

    Recall is probabilistic: a pair at cosine c collides per band with
    p = (1 - arccos(c)/pi)^band_bits, overall 1-(1-p)^bands. The
    defaults target genuine near-duplicates: recall ~0.93 at c=0.99
    and exactly 1.0 for byte-identical re-deliveries (every sign bit
    agrees), while an unrelated pair passes a band with only 2^-16 —
    on a random-vector corpus (the adversarial case: no cluster
    structure) candidates stay ~linear instead of the ~3% of ALL n²
    pairs that 8-bit bands admit. Size band_bits ~ log2(corpus) +
    margin at larger scale; LSH cannot cheaply separate
    weakly-correlated pairs (c ~ 0.4) — tuning for that regime
    degenerates toward all-pairs. Precision is exact (=1) because
    every emitted pair passed the exact cosine filter —
    property-tested against numpy brute force in
    tests/test_similarity.py. Declared rows-only for the same reason
    as MinHash-LSH (D3): the banding is not SQL-expressible in the
    oracle dialect.
    """
    planes = _srp_planes(64, bands * band_bits)
    band_buckets = _srp_band_buckets_udf(planes, bands, band_bits)
    # reused by both join sides; lifecycle owned by caching.release_tracked
    banded = tracked_persist(
        emb.withColumn("_bands", band_buckets(F.col(vec_col)))
        .select(
            F.col(id_col),
            F.col(vec_col),
            norm(F.col(vec_col)).alias("_vnorm"),  # once per row, not per pair
            F.posexplode(F.col("_bands")).alias("band_idx", "band_bucket"),
        )
    )
    a = banded.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("_vnorm").alias("na"),
        "band_idx",
        "band_bucket",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("_vnorm").alias("nb"),
        "band_idx",
        "band_bucket",
    )
    candidates = (
        a.join(b, ["band_idx", "band_bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "na", "nb")
        .dropDuplicates(["id_a", "id_b"])  # same pair may meet in several bands
    )
    return candidates.select(
        "id_a",
        "id_b",
        (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos_sim"),
    ).filter(F.col("cos_sim") >= threshold)


# --------------------------------------------------------------------------
# X1: pandas-UDF cosine twin (UDF surface demo; built-in is the hot path)
# --------------------------------------------------------------------------


def cosine_pandas_udf(query_vec: list[float]):
    """Arrow-batched scalar pandas UDF computing cosine to a fixed
    query — numpy dot over the batch. ~10-100x faster than row-at-a-
    time Python UDFs; still slower than the built-in fold, which is
    why the engine defaults to functions/vector.py."""
    from pyspark.sql.functions import pandas_udf

    q = np.asarray(query_vec, dtype=np.float64)
    qn = np.linalg.norm(q)

    @pandas_udf("double")
    def cos_udf(vecs: pd.Series) -> pd.Series:
        m = np.vstack(vecs.to_numpy()).astype(np.float64)  # float32 accumulation loses ~1e-7
        return pd.Series((m @ q) / (np.linalg.norm(m, axis=1) * qn))

    return cos_udf


# Lloyd kernel gate in vectors (patchable; tests force the distributed
# branch). The kernel holds the (rows x dim) float64 matrix.
_KMEANS_GATE = 500_000


def kmeans_train(
    emb: DataFrame,
    k: int = 8,
    iters: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means (Lloyd) centroid training, pure DataFrame:
    assignment is the existing broadcast argmax (``ivf_assign``), the
    update is one groupBy with ``dim`` partial-mean aggregates (one
    shuffle of k x dim partials per iteration — map-side combined,
    never the vectors themselves). Seeds are the first k vectors by
    id (deterministic — no RNG, reproducible across runs/cluster
    sizes); lineage is truncated per iteration with localCheckpoint
    on the tiny (k, dim) centroid table — see the in-loop comment
    for the measured codegen rationale. Clusters that lose every member drop out
    (standard Lloyd handling). Upgrades ``deterministic_centroids``
    seeding into a trained IVF coarse quantizer.

    Count-gated single-task finisher (the bfs/pagerank/kcore
    discipline): under ``_KMEANS_GATE`` rows the vector table trains
    all rounds as one vectorized numpy Lloyd in one Arrow task: same
    seeding, same (score desc, cent_id asc) assignment tiebreak,
    same empty-cluster drop; centroid floats may differ from the
    DataFrame loop in the last ulp (numpy mean vs partial-avg
    summation order), which is inside the float operator's declared
    rows-only contract. Above the gate the per-round loop below is
    the 100 TB path."""
    if probe.gate("kmeans", emb.count() <= _KMEANS_GATE):
        n_iters, n_k = iters, k

        def lloyd(pdf):
            import numpy as np
            import pandas as pd

            ids = pdf[id_col]
            order = ids.argsort(kind="stable").to_numpy()
            vecs = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )[order]
            ids = ids.to_numpy()[order]
            cvecs = vecs[:n_k].copy()
            cids = ids[:n_k].copy()
            for _ in range(n_iters):
                cn = np.sqrt((cvecs * cvecs).sum(axis=1))
                scores = vecs @ cvecs.T / cn  # (n, k'), ids ascending
                best = scores.argmax(axis=1)  # first max = lowest cid
                keep = np.unique(best)
                cvecs = np.stack(
                    [vecs[best == c].mean(axis=0) for c in keep]
                )
                cids = cids[keep]
            return pd.DataFrame(
                {"cent_id": cids, "cent_vec": [list(v) for v in cvecs]}
            )

        id_type = dict(emb.dtypes)[id_col]
        return probe.single_task(
            emb.select(id_col, vec_col),
            lloyd,
            f"cent_id {id_type}, cent_vec array<double>",
        ).localCheckpoint(eager=True)

    cents = (
        emb.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_vec"))
        .localCheckpoint()
    )
    # NOT under fixpoint_confs: ivf_assign is now fully map-side
    # (broadcast centroids + argmax fold — no vector shuffle), but
    # each round still shuffles a data-sized stage: the per-vector
    # assignment groupBy that feeds the centroid recompute (k x dim
    # partial means over ALL vectors). Cutting shuffle partitions
    # serializes that big stage (measured 3.9 -> 4.4 s).
    # fixpoint_confs is for loops whose state is domain-sized
    # (markov, Bradley-Terry, PCA matvec, star contraction).
    # Per-iteration checkpoints are a measured choice, not just
    # lineage hygiene: the lineage IS linear (one `cents` reference
    # per round via the broadcast collapse), so a checkpoint-free
    # loop compiles into one job and wins in a COLD JVM (7.4 vs
    # 4.4 s) — but in the bench modality (warm JVM, cold plan) the
    # per-iteration form wins (4.4 vs 5.3 s in-suite): every round
    # re-uses the SAME plan shape, so codegen is compiled once,
    # while the fused form's nesting-depth-unique stages each pay
    # Janino. Training runs once either way; the repeated-shape
    # form is the better default.
    for _ in range(iters):
        assigned = ivf_assign(emb, cents, id_col, vec_col)
        cents = (
            assigned.groupBy("cent_id")
            .agg(
                F.array(*[F.avg(F.col(vec_col)[i]) for i in range(dim)]).alias(
                    "cent_vec"
                )
            )
            .localCheckpoint()
        )
    return cents


def semantic_dedup_pairs(
    emb: DataFrame,
    threshold: float,
    centroids: DataFrame | None = None,
    every: int = 53,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: cluster-scoped
    cosine >= ``threshold`` -> (id_a, id_b, cos_sim).

    The defining move (Abbas et al. 2023, SemDeDup): candidate
    generation is scoped to a coarse k-means CLUSTER — vectors are
    assigned to their nearest centroid and only same-cluster pairs
    are compared, so the pairwise cost is sum of cluster sizes
    squared instead of corpus squared, and each cluster's pairs are
    an independent (embarrassingly parallel) block. Near-identical
    vectors land in the same cluster with overwhelming probability,
    which is why the recall loss vs all-pairs is negligible in
    practice (cross-cluster misses are property-measured in
    tests/test_similarity.py, not hidden).

    ``centroids`` takes kmeans_train output; default is the seeded
    deterministic stand-in (same contract as ivf_topk). Row norms are
    computed once per vector before the self-join, so each candidate
    pair costs one dot-product fold.

    NOT LAZY: construction runs one eager Spark job (a ``.first()``
    on the cluster-size aggregate over the persisted assignment) to
    read the pair workload that floors the block join's partition
    count (catalog.ensure_shuffle_parallelism; the r8 32x spill
    knee). Deliberate house style — the same count-gated-finisher
    discipline every graph/ML kernel uses — but callers that only
    build or EXPLAIN the plan pay that probe job up front."""
    cents = (
        centroids
        if centroids is not None
        else deterministic_centroids(emb, every, id_col, vec_col)
    )
    # Persist the assignment: both self-join sides read it, and since
    # ivf_assign became a pure map-side expression (no exchange to
    # reuse) an unpersisted frame would recompute every centroid fold
    # twice. Lifecycle owned by caching.release_tracked.
    assigned = tracked_persist(
        ivf_assign(emb, cents, id_col, vec_col).select(
            F.col(id_col), F.col(vec_col), F.col("cent_id"), norm(F.col(vec_col)).alias("_n")
        )
    )
    # Floor the block join's partition count by the MEASURED pair
    # workload (sum of cluster sizes squared, a domain-sized scalar
    # read off the persisted assignment): the cluster-block shuffle is
    # byte-tiny, so AQE coalesces it onto a handful of tasks that hit
    # the spill knee once per-task pair blocks outgrow memory (the r8
    # 32x probe; see catalog.ensure_shuffle_parallelism).
    from fts_analysis_datalake_spark.catalog import ensure_shuffle_parallelism

    csizes = assigned.groupBy("cent_id").agg(F.count(F.lit(1)).alias("c"))
    wl = csizes.agg(
        F.sum(F.col("c") * F.col("c")).alias("w"),
        F.count(F.lit(1)).alias("k"),
        F.max(F.col("c") * F.col("c")).alias("m"),
    ).first()
    blocked = ensure_shuffle_parallelism(
        assigned,
        int(wl["w"] or 0),
        ["cent_id"],
        n_keys=int(wl["k"]),
        max_key_workload=int(wl["m"] or 0),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cent_id") == F.col("b.cent_id"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            (
                dot(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}"))
                / (F.col("a._n") * F.col("b._n"))
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )
