"""LLM-pipeline vector/similarity declared queries (SURVEY.md §7
step 7; §2.10 D5-D7, D14 + ANN extension).

Cosine determinism: both engines fold the 64-dim arrays sequentially
with identical float->double casts, so values are bit-equal (see
functions/vector.py). The IVF ANN variant is rows-only (recall vs
brute force is property-tested in tests/test_similarity.py).
"""

from __future__ import annotations

import pandas as pd  # module-level so pandas_udf type hints resolve

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import load_table
from fts_analysis_datalake_spark.functions.deterministic import dsum, sql_dsum
from fts_analysis_datalake_spark.functions.vector import (
    cosine,
    dot,
    norm,
    sql_cosine,
    sql_dot,
    sql_norm,
)
from fts_analysis_datalake_spark.operators.multimodal import (
    bundle_multimodal,
    decode_media,
    frame_sample,
    resize_media,
    with_binary_payload,
)
from fts_analysis_datalake_spark.operators.similarity import (
    allpairs_above_threshold,
    cosine_topk,
    embedding_near_dups,
    ivf_assign,
    ivf_topk,
    kmeans_train,
    srp_topk,
)
from fts_analysis_datalake_spark.registry import query

QUERY_VEC_ID = 0
PAIR_OFFSET = 250
COS_THRESHOLD = 0.35

# --------------------------------------------------------------------------
# D5: pairwise cosine on aligned pairs
# --------------------------------------------------------------------------


@query(
    "q_cosine_offset_pairs",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {sql_cosine('a.embedding', 'b.embedding')} AS cos_sim,
           {sql_norm('a.embedding')} AS norm_a
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + {PAIR_OFFSET}
    """,
    tags=("D5", "F8", "J1"),
)
def q_cosine_offset_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between (i, i+250) vector pairs — the D5
    primitive on a deterministic pairing, pure higher-order exprs."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return a.join(b, F.col("id_b") == F.col("id_a") + PAIR_OFFSET).select(
        "id_a",
        "id_b",
        cosine(F.col("va"), F.col("vb")).alias("cos_sim"),
        norm(F.col("va")).alias("norm_a"),
    )


# --------------------------------------------------------------------------
# D6: brute-force top-k similarity search
# --------------------------------------------------------------------------


@query(
    "q_topk_similar_bruteforce",
    oracle=f"""
    SELECT e.vec_id, {sql_cosine('e.embedding', 'q.embedding')} AS cos_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
    WHERE e.vec_id <> {QUERY_VEC_ID}
    ORDER BY cos_sim DESC, e.vec_id
    LIMIT 10
    """,
    tags=("D6", "J10", "O3", "F8"),
)
def q_topk_similar_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 to the vec_id=0 query vector. The
    query row is joined in (no driver collect); orderBy+limit becomes
    TakeOrderedAndProject — per-partition top-k heaps, no full sort."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qv"))
    return (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("embedding"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# D7: all-pairs above threshold (label-blocked)
# --------------------------------------------------------------------------


@query(
    "q_allpairs_high_cosine",
    oracle=f"""
    SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
           {sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {COS_THRESHOLD}
    """,
    tags=("D7", "J11", "F8"),
)
def q_allpairs_high_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level near-dup pairs above cosine 0.35, blocked by
    label so the self-join stays an equi hash join per block."""
    e = load_table(spark, sf_dir, "embeddings")
    return allpairs_above_threshold(e, COS_THRESHOLD).select("blk", "id_a", "id_b", "cos_sim")


# --------------------------------------------------------------------------
# norms / stats
# --------------------------------------------------------------------------


@query(
    "q_embedding_norm_stats",
    oracle=f"""
    SELECT label, COUNT(*) AS n,
           MIN({sql_norm('embedding')}) AS min_norm,
           MAX({sql_norm('embedding')}) AS max_norm,
           SUM(CAST(FLOOR({sql_norm('embedding')} * 1000000 + 0.5) AS BIGINT)) / 1000000.0
               AS total_norm
    FROM embeddings
    GROUP BY label
    """,
    tags=("D5", "A1", "F8"),
)
def q_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label norm profile (embedding-health audit); the norm sum
    uses the scaled deterministic form."""
    e = load_table(spark, sf_dir, "embeddings")
    n = norm(F.col("embedding"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(n).alias("min_norm"),
        F.max(n).alias("max_norm"),
        dsum(n, 6).alias("total_norm"),
    )


# --------------------------------------------------------------------------
# D14: multimodal struct bundle
# --------------------------------------------------------------------------


@query(
    "q_multimodal_bundle",
    oracle=f"""
    SELECT doc_id, lang, label,
           CAST(len(embedding) AS INTEGER) AS dim,
           {sql_norm('embedding')} AS emb_norm,
           CAST(length(text) AS INTEGER) AS text_len
    FROM documents JOIN embeddings ON doc_id = vec_id
    WHERE doc_id % 13 = 0
    """,
    tags=("D14", "J1", "F8"),
)
def q_multimodal_bundle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ⋈ embeddings bundled into a struct column, then leaf
    projections — the multimodal-row pattern (text + vector + typed
    metadata travel together; Catalyst prunes unaccessed leaves)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    m = bundle_multimodal(docs, emb).filter((F.col("doc_id") % 13) == 0)
    return m.select(
        "doc_id",
        F.col("m.lang").alias("lang"),
        F.col("m.label").alias("label"),
        F.size("m.embedding").alias("dim"),
        norm(F.col("m.embedding")).alias("emb_norm"),
        F.length("m.text").alias("text_len"),
    )


# --------------------------------------------------------------------------
# D14 media pipeline stages: the mapInPandas kernels are deterministic
# arithmetic over the payload bytes (decode/resize/frame-sample are
# honest FAKEs — no codecs in this container), which makes the Arrow
# round-trip itself value-verifiable: the oracle recomputes the same
# numbers in SQL.
# --------------------------------------------------------------------------


@query(
    "q_media_decode_meta",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS INTEGER) AS n_bytes,
           CAST(strlen(text) % 640 + 1 AS INTEGER) AS width,
           CAST(strlen(text) % 480 + 1 AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           md5(text) AS checksum
    FROM documents
    """,
    tags=("D14", "X2"),
)
def q_media_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binary payload -> mapInPandas 'decode' -> typed metadata; every
    output value is recomputed by the oracle, so the Arrow batch
    plumbing (not just the schema) is hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    return decode_media(with_binary_payload(docs))


@query(
    "q_media_resize_thumbs",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             strlen(text) % 640 + 1 AS w,
             strlen(text) % 480 + 1 AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(CASE WHEN greatest(w, h) > 256 THEN (w * 256) // greatest(w, h) ELSE w END
                AS INTEGER) AS rs_width,
           CAST(CASE WHEN greatest(w, h) > 256 THEN (h * 256) // greatest(w, h) ELSE h END
                AS INTEGER) AS rs_height
    FROM d
    """,
    tags=("D14", "X2"),
)
def q_media_resize_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode -> resize chain (two mapInPandas stages): cap the longer
    side at 256 preserving aspect ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return resize_media(decode_media(with_binary_payload(docs)), max_side=256)


@query(
    "q_media_frame_sample",
    oracle="""
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           md5(text || CAST(i AS VARCHAR)) AS frame_checksum
    FROM (SELECT doc_id, text, strlen(text) % 7 + 1 AS nf FROM documents),
         unnest(generate_series(0, nf - 1, 3)) t(i)
    """,
    tags=("D14", "X2", "X4"),
)
def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: mapInPandas with 1->N row fan-out
    (every 3rd of n_bytes%7+1 'frames'), per-frame checksums."""
    docs = load_table(spark, sf_dir, "documents")
    return frame_sample(with_binary_payload(docs), every_n=3)


# --------------------------------------------------------------------------
# ANN: IVF-bucketed top-k (rows-only; recall property-tested)
# --------------------------------------------------------------------------

_QUERY_VEC: dict[str, list[float]] = {}


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    """The vec_id=0 embedding as a literal, cached PER sf_dir — the
    vec_id=0 row differs between scale dirs, so a dir-less cache
    would silently reuse the wrong query vector when one process
    touches two scale factors (round-1 latent bug). The scale story
    is a broadcast literal query batch, so a one-row lookup is fair."""
    key = sf_dir.rstrip("/")
    if key not in _QUERY_VEC:
        row = (
            load_table(spark, sf_dir, "embeddings")
            .filter(F.col("vec_id") == QUERY_VEC_ID)
            .select("embedding")
            .head()
        )
        _QUERY_VEC[key] = [float(x) for x in row[0]]
    return _QUERY_VEC[key]


@query(
    "q_ivf_topk_ann",
    oracle=None,  # ANN result depends on centroid seeding; recall vs
    # brute force is asserted in tests/test_similarity.py.
    tags=("D6", "ANN"),
)
def q_ivf_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-10: probe the 3 nearest of ~10 coarse
    buckets — the scan touches ~30% of vectors instead of 100%."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)
    return ivf_topk(e, _query_vec(spark, sf_dir), k=10, nprobe=3)


@query(
    "q_srp_topk_ann",
    oracle=None,  # ANN result depends on hyperplane seeding; recall vs
    # brute force is asserted in tests/test_similarity.py.
    tags=("D6", "ANN"),
)
def q_srp_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH approximate top-10 — the
    training-free ANN path (no centroid fit): 8-bit bucket per vector
    map-side, Hamming<=3 multiprobe filters before the cosine top-k."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)
    return srp_topk(e, _query_vec(spark, sf_dir), k=10, bits=8, radius=3)


@query(
    "q_embedding_near_dup_pairs",
    oracle=f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings),
    cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.embedding AS ea, b.embedding AS eb
      FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.99)
    SELECT id_a, id_b, {sql_cosine('ea', 'eb')} AS cos_sim
    FROM cand WHERE {sql_cosine('ea', 'eb')} >= 0.999
    """,
    tags=("D3", "D5", "D7", "ANN"),
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate mining, global (no label
    blocking): banded SRP-LSH candidate join + exact cosine verify —
    the embedding-space twin of q_minhash_near_dups.

    The fixture has no natural high-cosine pairs (max ~0.51), so the
    corpus is unioned with a re-keyed copy of itself (vec_id+10000 —
    the re-ingested-batch scenario dedup exists for). Every planted
    duplicate has identical sign bits in every band, so LSH recall on
    them is exactly 1; unrelated pairs pass a band with p=1/256 —
    which is why the LSH result set EQUALS brute force at this
    threshold (also asserted vs numpy in tests/test_similarity.py),
    making an honest oracle possible for the approximate path: the
    DuckDB twin is a literal all-pairs brute force (the n^2 the LSH
    exists to avoid — fine at oracle scale), prefiltered by DuckDB's
    native cosine at a 0.009 margin so the exact sequential-fold
    cosine (bit-identical to the Spark verify stage, functions/
    vector.py) only runs on survivors."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    redelivered = e.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    return embedding_near_dups(e.unionByName(redelivered), threshold=0.999).orderBy(
        "id_a", "id_b"
    )

# --------------------------------------------------------------------------
# E46: k-means centroid training — trained IVF coarse quantizer
# --------------------------------------------------------------------------


@query(
    "q_kmeans_embeddings",
    oracle=None,  # iterative training; objective monotonicity tested
    tags=("E46", "D6", "X5"),
)
def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spherical k-means over the embedding table (k=8, 5 Lloyd
    rounds, deterministic first-k seeds): the trained coarse
    quantizer that replaces the seeded stand-in centroids the IVF
    path uses. Output is the cluster profile — member count and mean
    cosine-to-centroid per cluster (the compactness metric a recall
    tuner watches). Training shuffles only k x dim partial means per
    round; vectors are never re-shuffled. Objective monotonicity is
    asserted in tests/test_similarity.py."""
    # Persist the training set: every Lloyd round plus the final
    # assignment scans it (6 passes) — the canonical cache-the-
    # training-frame move; at 100 TB this is the difference between
    # 6 parquet scans and 6 memory scans.
    emb = tracked_persist(load_table(spark, sf_dir, "embeddings"))
    cents = kmeans_train(emb, k=8, iters=5)
    assigned = ivf_assign(emb, cents)
    cos = cosine(F.col("embedding"), F.col("cent_vec"))
    return (
        assigned.join(F.broadcast(cents), "cent_id")
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.avg(cos).alias("mean_cos_to_centroid"),
        )
        .orderBy("cent_id")
    )

_KMQ_K = 4  # centroids in the integer-exact twin
_KMQ_ROUNDS = 3  # fixed Lloyd rounds (unrolled in the oracle)
# Single-task finisher gate: bounds the n x _KMQ_DIM int64 matrix the
# numpy kernel allocates (1M rows x 16 dims x 8 B = 128 MB, plus one
# same-shape diff transient per centroid pass). Patchable for the
# forced branch-equivalence test.
_KMQ_FINISH_ROWS = 1_000_000
# 16-dim slice of the 64-dim embeddings: the bit-exact-replay proof
# is independent of dimensionality (the E289 "third of the parts"
# discipline), while the 64-wide per-dimension sum/floor-div
# expressions cost ~4 s of one-time Janino codegen per single-shot
# bench run. The float production path (q_kmeans_embeddings) trains
# on all 64 dims.
_KMQ_DIM = 16


def _kmq_fdiv(s: str, n: str) -> str:
    """Portable FLOOR division of integers (negative-safe): DuckDB //
    truncates and Spark DIV truncates, so both get the same explicit
    (s - nonneg_mod(s, n)) / n form instead."""
    return f"((({s}) - (((({s}) % ({n})) + ({n})) % ({n}))) // ({n}))"


def _kmq_oracle() -> str:
    dist = (
        "CAST(list_sum(list_transform(generate_series(1, {d}),"
        " i -> (v.q[i] - c.c[i]) * (v.q[i] - c.c[i]))) AS BIGINT)"
    ).format(d=_KMQ_DIM)
    rounds = []
    for r in range(_KMQ_ROUNDS):
        rounds.append(
            f"""
    a{r + 1} AS MATERIALIZED (
      SELECT vec_id, q, cid FROM (
        SELECT v.vec_id, v.q, c.cid,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM q v CROSS JOIN c{r} c) WHERE rn = 1),
    c{r + 1} AS MATERIALIZED (
      SELECT cid, list(s ORDER BY i) AS c
      FROM (
        SELECT a.cid, g.i,
               {_kmq_fdiv('CAST(SUM(a.q[g.i]) AS BIGINT)', 'COUNT(*)')} AS s
        FROM a{r + 1} a CROSS JOIN generate_series(1, {_KMQ_DIM}) AS g(i)
        GROUP BY a.cid, g.i)
      GROUP BY cid)"""
        )
    return f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding[1:{_KMQ_DIM}],
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
               AS q
      FROM embeddings),
    c0 AS MATERIALIZED (
      SELECT vec_id AS cid, q AS c FROM q WHERE vec_id < {_KMQ_K}),
    {','.join(rounds)},
    fin AS (
      SELECT vec_id, cid, dist FROM (
        SELECT v.vec_id, c.cid, {dist} AS dist,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY {dist}, c.cid) AS rn
        FROM q v CROSS JOIN c{_KMQ_ROUNDS} c) WHERE rn = 1)
    SELECT f.cid,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(f.dist) AS BIGINT) AS total_qdist,
           CAST(ANY_VALUE(cs.cent_sum) AS BIGINT) AS cent_sum
    FROM fin f
    JOIN (SELECT cid, CAST(list_sum(c) AS BIGINT) AS cent_sum
          FROM c{_KMQ_ROUNDS}) cs USING (cid)
    GROUP BY f.cid ORDER BY f.cid
    """


def _kmq_single_task(q: DataFrame) -> DataFrame:
    """One bounded Arrow task replaying the distributed BIGINT Lloyd
    bit-exactly: first-k seeds (vec_id < _KMQ_K, centroid id = the
    vec_id), per-round argmin of integer squared-L2 with ties to the
    LOWEST cid, centroid update by negative-safe floor division
    (Python // == (s - pmod(s, n)) / n for n > 0), and clusters that
    lose all members DROP from the next round exactly as the groupBy
    update loses their key. int64 bounds inside the gate: |q| <= ~2e6
    so diff^2 * dim <= ~2.6e14 per ROW and centroid-component sums
    are <= gate * 2e6 << 2^63 — but the per-cluster DISTANCE sum can
    reach ~2.6e20 at the gate bound, so it is summed in exact Python
    ints with a loud OverflowError guard (matching Spark's ANSI SUM
    error and DuckDB's HUGEINT->BIGINT cast error, instead of numpy's
    silent wrap)."""

    def lloyd(pdf):
        import numpy as np
        import pandas as pd

        idarr = np.asarray([int(x) for x in pdf["vec_id"]], dtype=np.int64)
        mat = np.asarray([[int(v) for v in vec] for vec in pdf["q"]], dtype=np.int64)
        seed_ids = np.sort(idarr[idarr < _KMQ_K])
        if seed_ids.size == 0:
            return None
        cids = [int(c) for c in seed_ids]
        cents = np.stack(
            [mat[np.flatnonzero(idarr == c)[0]] for c in cids]
        ).astype(np.int64)

        def assign_to(cent_mat: np.ndarray) -> np.ndarray:
            # dists column-per-centroid; argmin's first-match rule ==
            # lowest-cid tie-break because rows are cid-ascending.
            d = np.empty((mat.shape[0], cent_mat.shape[0]), dtype=np.int64)
            for j in range(cent_mat.shape[0]):
                diff = mat - cent_mat[j]
                d[:, j] = np.einsum("ij,ij->i", diff, diff)
            return d

        for _ in range(_KMQ_ROUNDS):
            d = assign_to(cents)
            a = np.argmin(d, axis=1)
            nxt_ids: list[int] = []
            nxt: list[np.ndarray] = []
            for j, cid in enumerate(cids):
                m = a == j
                nj = int(m.sum())
                if nj == 0:
                    continue  # empty cluster drops, like the groupBy
                s = mat[m].sum(axis=0)
                nxt_ids.append(cid)
                nxt.append((s - np.mod(s, nj)) // nj)
            cids = nxt_ids
            cents = np.stack(nxt).astype(np.int64)

        d = assign_to(cents)
        a = np.argmin(d, axis=1)
        best = d[np.arange(d.shape[0]), a]
        out = []
        for j, cid in enumerate(cids):
            m = a == j
            nj = int(m.sum())
            if nj == 0:
                continue
            # Loud overflow guard (the _BC_SIG_CAP pattern): the
            # per-row distance fits int64 inside the gate (~2.6e14
            # max) but the PER-CLUSTER SUM can reach ~2.6e20 at the
            # 1e6-row gate bound — numpy would wrap silently where
            # Spark's ANSI SUM and DuckDB's HUGEINT->BIGINT cast both
            # raise. Sum in exact Python ints and raise to match.
            tot = sum(int(x) for x in best[m])
            if not (-(2**63) <= tot < 2**63):
                raise OverflowError(
                    f"q_kmeans_quantized_exact: cluster {cid} total_qdist "
                    f"{tot} exceeds int64 — quantized magnitudes too large "
                    "for the BIGINT contract"
                )
            out.append((cid, nj, tot, int(cents[j].sum())))
        out.sort()
        return pd.DataFrame(
            out, columns=["cid", "n_vectors", "total_qdist", "cent_sum"]
        )

    return probe.single_task(
        q,
        lloyd,
        "cid bigint, n_vectors bigint, total_qdist bigint, cent_sum bigint",
    )


@query(
    "q_kmeans_quantized_exact",
    oracle=_kmq_oracle(),
    tags=("E46", "E289", "A1", "O3", "X5"),
)
def q_kmeans_quantized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means in PURE INTEGER arithmetic — the hash-checked
    twin that upgrades the E46 family from property-tested to
    value-verified (q_kmeans_embeddings stays the production float
    path). The E289 discipline applied to clustering: a 16-dim
    slice of each embedding is 1e-6 BIGINT-quantized once (see the
    _KMQ_DIM note), distances are integer squared-L2,
    assignment ties break to the lowest centroid id, and each
    centroid update is a per-dimension FLOOR division (negative-safe
    nonneg-mod form, since Spark DIV and DuckDB // both truncate) —
    so all 3 rounds replay bit-identically in the
    oracle's unrolled MATERIALIZED CTE chain. k=4 first-k
    seeds; output is the cluster report (members, total quantized
    distance, centroid-component sum). Same scale shape as
    kmeans_train: per round the vectors are scanned map-side against
    broadcast centroids and only k x dim partial sums shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            F.slice("embedding", 1, _KMQ_DIM),
            lambda x: F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("long"),
        ).alias("q"),
    ).localCheckpoint()

    # Count-gated single-task finisher (r10): the distributed loop
    # below compiles all rounds into one linear-lineage job, but its
    # inlined assign() expression (k x dim folds nested 4 deep) pays
    # ~20 scheduled stages + heavy Janino codegen — ~6 s at sf0.1 on
    # a slow-scheduler container for what is integer arithmetic over
    # a <= n x 16 int64 matrix. When the vector count fits one task's
    # memory (the gate bounds exactly the n x dim matrix the kernel
    # allocates, ~128 MB at the gate plus per-centroid transients),
    # replay the identical BIGINT Lloyd in numpy int64 — same seeds,
    # same lowest-cid tie-break, same floor-division update, same
    # drop-empty-cluster semantics, so the outputs are bit-identical
    # (forced branch-equivalence: tests/test_algorithms.py). The
    # distributed loop stays the else-branch and the 100 TB path.
    if probe.gate("kmeans_quantized", 0 < q.count() <= _KMQ_FINISH_ROWS):
        return _kmq_single_task(q)

    cents = q.filter(F.col("vec_id") < _KMQ_K).select(
        F.col("vec_id").alias("cid"), F.col("q").alias("c")
    ).localCheckpoint()

    def assign(cents_df: DataFrame) -> DataFrame:
        # Fully MAP-SIDE assignment (the ivf_assign shape): centroids
        # collapse to one broadcast row holding a cid-sorted
        # array<struct>, and argmin is array_min over per-centroid
        # integer distances — struct comparison on (dist, cid) IS the
        # lowest-cid tie-break. No vector shuffle per round; the only
        # shuffle left is the k x dim partial-sum update aggregate.
        carr = cents_df.agg(
            F.array_sort(F.collect_list(F.struct("cid", "c"))).alias("_cs")
        )
        scored = F.transform(
            F.col("_cs"),
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with("q", c["c"], lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                c["cid"].alias("cid"),
            ),
        )
        best = F.array_min(scored)
        return q.crossJoin(F.broadcast(carr)).select(
            "vec_id",
            "q",
            best["cid"].alias("cid"),
            best["dist"].alias("dist"),
        )

    def fdiv(s: F.Column, n: F.Column) -> F.Column:
        return ((s - F.pmod(s, n)) / n).cast("long")

    for _ in range(_KMQ_ROUNDS):
        a = assign(cents)
        upd = a.groupBy("cid").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col("q")[i]).alias(f"s{i}") for i in range(_KMQ_DIM)],
        )
        # No per-round checkpoint: each round references `cents`
        # exactly once (the broadcast collapse), so the lineage is
        # LINEAR and all rounds compile into one job — the same
        # insight as the r6 pagerank loop. Only the `q` table (read
        # every round) is materialized.
        cents = upd.select(
            "cid",
            F.array(
                *[fdiv(F.col(f"s{i}"), F.col("n")) for i in range(_KMQ_DIM)]
            ).alias("c"),
        )

    # The final centroid table IS referenced twice (assignment +
    # component sums), so materialize once — one checkpoint job for
    # the whole training chain instead of one per round.
    cents = cents.localCheckpoint()
    fin = assign(cents)
    cent_sums = cents.select(
        "cid",
        F.aggregate("c", F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "cent_sum"
        ),
    )
    return (
        fin.groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.sum("dist").cast("bigint").alias("total_qdist"),
        )
        .join(F.broadcast(cent_sums), "cid")
        .select("cid", "n_vectors", "total_qdist", "cent_sum")
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# E60: mapInArrow — zero-copy Arrow batch path for vector math
# --------------------------------------------------------------------------


@query(
    "q_embedding_norms_arrow",
    oracle="""
    SELECT vec_id,
           sqrt(CAST(list_aggregate(
                  list_transform(embedding,
                    x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                                    * 1000000000000 + 0.5) AS BIGINT)),
                  'sum') AS DOUBLE) / 1000000000000) AS l2_norm
    FROM embeddings
    """,
    tags=("E60", "X1", "X5", "D5"),
)
def q_embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms computed in an Arrow-native batch stage (mapInArrow):
    record batches cross the Python boundary zero-copy, numpy reduces
    each batch vectorized, and nothing is ever row-at-a-time — the
    remaining UDF surface beside pandas UDFs (X1) and grouped-map
    (X2). This is the escape hatch for kernels that want raw Arrow
    buffers (quantization, packing, custom distance kernels).

    Exact-oracle discipline (rows-only until round 5): each squared
    element is quantized independently to int64 (float->double cast
    exact; square, *1e12, +0.5, floor are single IEEE ops identical
    in numpy and DuckDB), the int64 sum is order-free, and the final
    /1e12 + sqrt are one correctly-rounded op each — so the norm is
    bit-identical across engines, unlike a float dot whose reduction
    order differs (numpy pairwise vs SQL sequential). Agreement with
    the unquantized Catalyst `norm` stays asserted in
    tests/test_udfs.py (quantization error ~1e-7)."""
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def norms(batches):
        for batch in batches:
            tbl = pa.table(batch)
            vecs = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float64)
            q = np.floor(vecs * vecs * 1e12 + 0.5).astype(np.int64).sum(axis=1)
            out = pa.record_batch(
                [
                    tbl["vec_id"].combine_chunks(),
                    pa.array(np.sqrt(q.astype(np.float64) / 1e12)),
                ],
                names=["vec_id", "l2_norm"],
            )
            yield out

    return emb.mapInArrow(norms, "vec_id long, l2_norm double")


@query(
    "q_embedding_qsum_arrow",
    oracle="""
    SELECT vec_id,
           CAST(list_aggregate(
             list_transform(embedding,
                            x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)),
             'sum') AS BIGINT) AS qsum,
           CAST(len(embedding) AS BIGINT) AS dims
    FROM embeddings
    """,
    tags=("X5", "F8", "D8"),
)
def q_embedding_qsum_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5 (mapInArrow) with an EXACT oracle — the driver-verifiable
    twin of q_embedding_norms_arrow. Each element is quantized
    independently (FLOOR(x*1e6+0.5): float->double cast is exact, the
    multiply and floor are single IEEE ops identical in numpy and
    DuckDB), then summed as int64 — associative, order-independent,
    so the Arrow kernel's value hash-matches SQL bit-for-bit, unlike
    a float norm whose reduction order differs between numpy pairwise
    summation and a SQL fold. This is the per-vector integer
    fingerprint a quantized-embedding pipeline (int8 PQ codes,
    checksum columns) computes at ingest; zero-copy record batches,
    vectorized numpy, nothing row-at-a-time."""
    import numpy as np
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def qsums(batches):
        for batch in batches:
            tbl = pa.table(batch)
            vecs = np.asarray(tbl["embedding"].to_pylist(), dtype=np.float64)
            q = np.floor(vecs * 1e6 + 0.5).astype(np.int64)
            yield pa.record_batch(
                [
                    tbl["vec_id"].combine_chunks(),
                    pa.array(q.sum(axis=1)),
                    pa.array(np.full(len(q), q.shape[1], dtype=np.int64)),
                ],
                names=["vec_id", "qsum", "dims"],
            )

    return emb.mapInArrow(qsums, "vec_id long, qsum long, dims long")


@query(
    "q_orderkey_lcg_pandas_udf",
    oracle="""
    SELECT o_orderkey % 8 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((o_orderkey * 1103515245 + 12345) % 2147483648) AS BIGINT) AS lcg_sum,
           CAST(MAX((o_orderkey * 1103515245 + 12345) % 2147483648) AS BIGINT) AS lcg_max
    FROM orders
    GROUP BY o_orderkey % 8
    """,
    tags=("X1", "A1", "F11"),
)
def q_orderkey_lcg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 (Arrow scalar pandas UDF) with an EXACT oracle: a
    deterministic LCG hash of the order key computed in a vectorized
    pandas UDF (int64 arithmetic — no float reduction, so both
    engines agree bit-for-bit), then aggregated JVM-side per bucket.
    This is the custom-hash / feature-hashing shape when the hash the
    pipeline needs isn't one of Spark's built-ins; the plan shows one
    ArrowEvalPython stage feeding a codegen'd HashAggregate — the
    sanctioned fast path across the Python boundary (batch Arrow
    transfer), never BatchEvalPython."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def lcg(keys: pd.Series) -> pd.Series:
        return (keys * 1103515245 + 12345) % 2147483648

    o = load_table(spark, sf_dir, "orders")
    return (
        o.select((F.col("o_orderkey") % 8).alias("bucket"), lcg("o_orderkey").alias("h"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("h").alias("lcg_sum"),
            F.max("h").alias("lcg_max"),
        )
    )

# --------------------------------------------------------------------------
# E62: IVF ANN with TRAINED centroids — kmeans feeds the index
# --------------------------------------------------------------------------


@query(
    "q_ivf_trained_ann",
    oracle=None,  # ANN path; recall floor vs brute force tested
    tags=("E62", "E46", "D6"),
)
def q_ivf_trained_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained IVF path end-to-end: spherical k-means (3 Lloyd
    rounds) fits the coarse quantizer, then the probe plan is
    identical to the seeded IVF (broadcast centroids, nprobe bucket
    scan). Trained centroids track the data distribution, so buckets
    are tighter and the same nprobe recovers more of the true
    neighborhood — the recall floor against brute force is asserted
    in tests/test_similarity.py. At index-build scale, training cost
    is k x dim partial means per round; query cost is unchanged."""
    e = tracked_persist(
        load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") != QUERY_VEC_ID
        )
    )
    cents = kmeans_train(e, k=8, iters=3)
    return ivf_topk(e, _query_vec(spark, sf_dir), k=10, nprobe=3, centroids=cents)


# --------------------------------------------------------------------------
# E103: SemDeDup — cluster-scoped semantic dedup with survivor accounting
# --------------------------------------------------------------------------

_SEMDEDUP_T = 0.3  # fixture embeddings are near-orthogonal randoms
# (max pairwise cosine ~0.51); real corpora use ~0.95+. The threshold
# is a parameter of the operator — the PLAN (cluster-scoped pairwise,
# CC, survivor accounting) is what this query declares.


@query(
    "q_semantic_dedup_report",
    oracle=None,  # cluster assignment is engine-side; property-tested
    tags=("E103", "E15", "E46", "D5", "A2"),
)
def q_semantic_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup end-to-end: coarse clusters scope the pairwise cosine
    search, connected components group transitive duplicates, and the
    one-row report accounts for survivors (kept = vectors - members +
    clusters) — the embedding-space twin of the MinHash dedup
    pipeline report (E57). Candidate generation never leaves a
    cluster, so the pairwise stage is sum-of-cluster-sizes-squared,
    not corpus-squared — the property that makes semantic dedup
    feasible at billions of embeddings. Pair correctness, planted-
    duplicate recall, and the accounting identity are asserted in
    tests/test_similarity.py."""
    from fts_analysis_datalake_spark.operators.graphs import dedup_clusters
    from fts_analysis_datalake_spark.operators.similarity import semantic_dedup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    # Pairs feed BOTH the CC edge set and the pair count — persist to
    # run the assign+self-join lineage once (same contract as E57).
    pairs = tracked_persist(semantic_dedup_pairs(e, _SEMDEDUP_T))
    # The cos>=0.3 graph over near-orthogonal fixtures is
    # quasi-random, not near-clique; seed contraction + the bounded
    # union-find finisher handle it without a round per diameter hop.
    clusters = dedup_clusters(pairs.select("id_a", "id_b"))
    cstats = clusters.agg(
        F.count(F.lit(1)).alias("n_members"),
        F.countDistinct("cluster_id").alias("n_clusters"),
    )
    pstats = pairs.agg(F.count(F.lit(1)).alias("n_dup_pairs"))
    vstats = e.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        vstats.crossJoin(F.broadcast(pstats))
        .crossJoin(F.broadcast(cstats))
        .select(
            "n_vectors",
            "n_dup_pairs",
            "n_clusters",
            "n_members",
            (F.col("n_vectors") - F.col("n_members") + F.col("n_clusters")).alias(
                "n_kept"
            ),
        )
    )


# --------------------------------------------------------------------------
# E122: binary sign quantization + Hamming shortlist + exact rerank
# --------------------------------------------------------------------------


@query(
    "q_hamming_shortlist_rerank",
    oracle=f"""
    WITH sigs AS (
      SELECT vec_id, embedding,
             CAST(list_sum(list_transform(embedding,
               (x, i) -> CASE WHEN x > 0 AND i - 1 < 32
                         THEN 1::BIGINT << (i - 1) ELSE 0::BIGINT END)) AS BIGINT) AS sig_lo,
             CAST(list_sum(list_transform(embedding,
               (x, i) -> CASE WHEN x > 0 AND i - 1 >= 32
                         THEN 1::BIGINT << (i - 33) ELSE 0::BIGINT END)) AS BIGINT) AS sig_hi
      FROM embeddings),
    q AS (SELECT sig_lo AS q_lo, sig_hi AS q_hi, embedding AS qv
          FROM sigs WHERE vec_id = {QUERY_VEC_ID}),
    shortlist AS (
      SELECT s.vec_id, s.embedding, qv,
             CAST(bit_count(xor(s.sig_lo, q_lo))
                  + bit_count(xor(s.sig_hi, q_hi)) AS BIGINT) AS hamming
      FROM sigs s, q
      WHERE s.vec_id <> {QUERY_VEC_ID}
      ORDER BY hamming, s.vec_id
      LIMIT 50)
    SELECT vec_id, hamming, {sql_cosine('embedding', 'qv')} AS cos_sim
    FROM shortlist
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
    tags=("E122", "D6", "F8", "O3", "F11"),
)
def q_hamming_shortlist_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memory-bound ANN scale path: quantize every embedding to
    its 64 sign bits packed in two 32-bit words (16x smaller than the
    float vector), shortlist the 50 nearest by Hamming distance
    (xor + popcount — integer ops, no float math), then rerank the
    shortlist by exact cosine for the top 10.

    Plan: the signature is a per-row Catalyst fold (map-side, no
    shuffle); the query signature is a 1-row broadcast; both top-k
    stages are TakeOrderedAndProject (per-partition heaps). At 100 TB
    the Hamming scan touches 8 bytes/vector instead of 256 — the
    shortlist stage is bandwidth-, not compute-, bound, and the
    expensive cosine runs on exactly 50 rows. Ties at the shortlist
    boundary and in the final rank break on vec_id in both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    lo = "aggregate(transform(embedding, (x, i) -> IF(x > 0D AND i < 32, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"
    hi = "aggregate(transform(embedding, (x, i) -> IF(x > 0D AND i >= 32, shiftleft(1L, i - 32), 0L)), 0L, (a, b) -> a + b)"
    sigs = e.select(
        "vec_id", "embedding", F.expr(lo).alias("sig_lo"), F.expr(hi).alias("sig_hi")
    )
    q = sigs.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
        F.col("embedding").alias("qv"),
    )
    shortlist = (
        sigs.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            "qv",
            (
                F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("q_lo")))
                + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("q_hi")))
            )
            .cast("bigint")
            .alias("hamming"),
        )
        .orderBy("hamming", "vec_id")
        .limit(50)
    )
    return (
        shortlist.select("vec_id", "hamming", cosine(F.col("embedding"), F.col("qv")).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# E186: product quantization + ADC — the memory-budget ANN family
# --------------------------------------------------------------------------

_PQ_M = 8  # subspaces
_PQ_SUB = 8  # dims per subspace (8 x 8 = 64)
_PQ_K = 8  # centroids per subspace
_PQ_STRIDE = 59  # codebook rows: vec_id = 1 + 59c (deterministic, skips query 0)
_PQ_IDS = tuple(1 + _PQ_STRIDE * c for c in range(_PQ_K))
_PQ_Q = 1000000000  # 1e9 quantization of per-subspace query distances


def _subdist_spark(a: str, b: str, j: int):
    """Squared L2 between subspace ``j`` of two vector columns — the
    same sequential fold shape as functions.vector.dot."""
    s = j * _PQ_SUB + 1
    return F.expr(
        f"aggregate(zip_with(slice({a}, {s}, {_PQ_SUB}), slice({b}, {s}, {_PQ_SUB}),"
        f" (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        f" * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
        f" 0.0D, (acc, v) -> acc + v)"
    )


def _subdist_sql(a: str, b: str, j: int) -> str:
    s, t = j * _PQ_SUB + 1, (j + 1) * _PQ_SUB
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(list_zip(list_slice({a}, {s}, {t}), list_slice({b}, {s}, {t})), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        f" * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), "
        f"(acc, v) -> acc + v)"
    )


_PQ_DLIST_SQL = "[" + ", ".join(
    _subdist_sql("e.embedding", "cb.cvec", j) for j in range(_PQ_M)
) + "]"
_PQ_QLIST_SQL = "[" + ", ".join(
    _subdist_sql("q.embedding", "cb.cvec", j) for j in range(_PQ_M)
) + "]"


@query(
    "q_pq_adc_topk_ann",
    oracle=f"""
    WITH cb AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS c, embedding AS cvec
      FROM embeddings WHERE vec_id IN {tuple(_PQ_IDS)}),
    enc_d AS (
      SELECT e.vec_id, cb.c, {_PQ_DLIST_SQL} AS ds
      FROM embeddings e, cb WHERE e.vec_id <> {QUERY_VEC_ID}),
    enc_long AS (
      SELECT vec_id, c, generate_subscripts(ds, 1) AS j, unnest(ds) AS d
      FROM enc_d),
    codes AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT vec_id, j, c, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
        FROM enc_long) WHERE rn = 1),
    qd_wide AS (
      SELECT cb.c, {_PQ_QLIST_SQL} AS ds
      FROM (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q, cb),
    qd AS (
      SELECT c, generate_subscripts(ds, 1) AS j,
             CAST(FLOOR(unnest(ds) * {_PQ_Q} + 0.5) AS BIGINT) AS qd_q
      FROM qd_wide)
    SELECT codes.vec_id, SUM(qd.qd_q) / {_PQ_Q}.0 AS adc_dist
    FROM codes JOIN qd ON qd.j = codes.j AND qd.c = codes.code
    GROUP BY codes.vec_id
    ORDER BY adc_dist, codes.vec_id
    LIMIT 10
    """,
    tags=("E186", "E46", "D6", "W1", "J6", "F8"),
)
def q_pq_adc_topk_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance computation —
    the memory-budget ANN family beside IVF (E46/E62), SRP (E1) and
    sign-bit Hamming (E122): each vector is encoded as 8 subspace
    codes (3 bits each here — 64 dims compress to 24 bits), and
    query distance is the SUM of precomputed query-to-centroid
    subspace distances looked up by code. Expressed relationally so
    it is value-checked end-to-end in both engines: encode = argmin
    window over the vector x codebook cross join (codebook rows are
    a deterministic stride of the corpus — a trained k-means
    codebook plugs in exactly like IVF's trained/seeded pair), ADC =
    an equi-join against the 64-row query distance table with
    1e-9-quantized terms so the 8-term sum is order-independent. At
    scale the codebook and distance table are broadcasts; encoding
    is one map-side pass and codes are 16x smaller than the floats —
    the re-scan for top-k reads 3-byte codes, not 256-byte vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    cb = (
        e.filter(F.col("vec_id").isin(*_PQ_IDS))
        .select(
            F.row_number().over(Window.orderBy("vec_id")).alias("c"),
            F.col("embedding").alias("cvec"),
        )
    )
    base = e.filter(F.col("vec_id") != QUERY_VEC_ID).select("vec_id", "embedding")
    enc_d = base.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        "c",
        F.posexplode(
            F.array(*[_subdist_spark("embedding", "cvec", j) for j in range(_PQ_M)])
        ).alias("j0", "d"),
    )
    codes = (
        enc_d.select(
            "vec_id",
            (F.col("j0") + 1).alias("j"),
            "c",
            "d",
            F.row_number()
            .over(Window.partitionBy("vec_id", F.col("j0")).orderBy("d", "c"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "j", F.col("c").alias("code"))
    )
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding")
    qd = (
        q.crossJoin(F.broadcast(cb))
        .select(
            "c",
            F.posexplode(
                F.array(
                    *[_subdist_spark("embedding", "cvec", j) for j in range(_PQ_M)]
                )
            ).alias("j0", "d"),
        )
        .select(
            "c",
            (F.col("j0") + 1).alias("j"),
            F.floor(F.col("d") * _PQ_Q + F.lit(0.5)).cast("bigint").alias("qd_q"),
        )
    )
    return (
        codes.join(
            F.broadcast(qd), (qd["j"] == codes["j"]) & (qd["c"] == codes["code"])
        )
        .groupBy("vec_id")
        .agg((F.sum("qd_q") / float(_PQ_Q)).alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )


# --------------------------------------------------------------------------
# E190: MMR diversified re-ranking — unrolled greedy selection
# --------------------------------------------------------------------------

_MMR_LAM = 0.7
_MMR_POOL = 20  # candidate shortlist (top-N by relevance)
_MMR_K = 5  # selections, unrolled


def _mmr_oracle() -> str:
    """Generate the unrolled DuckDB twin: sel1..selK CTEs, each the
    argmax of lam*rel - (1-lam)*max-sim-to-already-selected."""
    lam = f"{_MMR_LAM!r}e0"
    parts = [
        f"""cand AS (
      SELECT e.vec_id, e.embedding, {sql_dot('e.embedding', 'q.embedding')} AS rel
      FROM embeddings e,
           (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
      WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY rel DESC, e.vec_id LIMIT {_MMR_POOL})"""
    ]
    for t in range(1, _MMR_K + 1):
        prev = [f"sel{i}" for i in range(1, t)]
        if prev:
            sims = ", ".join(
                sql_cosine("c.embedding", f"{s}.embedding") for s in prev
            )
            max_sim = f"GREATEST({sims})" if len(prev) > 1 else sims
            excl = " AND ".join(f"c.vec_id <> {s}.vec_id" for s in prev)
            frm = "cand c, " + ", ".join(prev)
            where = f"WHERE {excl}"
        else:
            max_sim = "0.0e0"
            frm = "cand c"
            where = ""
        parts.append(
            f"""sel{t} AS (
      SELECT c.vec_id, c.embedding,
             {lam} * c.rel - (1.0e0 - {lam}) * {max_sim} AS score
      FROM {frm} {where}
      ORDER BY score DESC, c.vec_id LIMIT 1)"""
        )
    finals = "\n      UNION ALL ".join(
        f"SELECT {t} AS step, vec_id, CAST(FLOOR(score * 1000000000 + 0.5) AS BIGINT)"
        f" / 1000000000.0 AS mmr_score FROM sel{t}"
        for t in range(1, _MMR_K + 1)
    )
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT CAST(step AS BIGINT) AS step, vec_id, mmr_score FROM ({finals})
    ORDER BY step
    """
    )


@query(
    "q_mmr_diversified_topk",
    oracle=_mmr_oracle(),
    tags=("E190", "D6", "O3", "F8", "J10"),
)
def q_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking: from the top-20
    relevance shortlist, greedily pick 5 results maximizing
    lam*relevance - (1-lam)*max-similarity-to-already-picked — the
    standard diversification pass between retrieval and a RAG
    context window. Only the shortlist stage touches the corpus
    (crossJoin-broadcast of the 1-row query vector, then
    TakeOrderedAndProject — no shuffle of the vector table); the
    greedy recursion then runs on the BOUNDED 20-row shortlist in
    ONE mapInPandas task, the same small-finish discipline as
    dedup_clusters' union-find finisher. The kernel replays the
    engines' shared IEEE sequence exactly — sequential-fold dot
    (functions/vector.py), correctly-rounded sqrt, lam*rel -
    (1-lam)*max_sim in the same op order — so the full trajectory
    stays bit-identical to the DuckDB unrolled-CTE oracle. (The
    previous declarative unroll was value-identical but paid ~k
    sequential broadcast-materialization jobs: 2.9 s vs 0.75 s
    warm at sf0.01.)"""
    lam, k = _MMR_LAM, _MMR_K

    # Defined locally so cloudpickle ships it by value (workers don't
    # have the repo on sys.path).
    def greedy(batches):
        import math

        import pandas as pd

        rows = pd.concat(list(batches), ignore_index=True)

        def dotp(a, b):
            acc = 0.0
            for x, y in zip(a, b):
                acc += x * y
            return acc

        vecs = {}
        rels = {}
        for vid, emb, rel in zip(rows["vec_id"], rows["embedding"], rows["rel"]):
            # float32 -> exact double, same cast the JVM fold applies
            vecs[int(vid)] = [float(v) for v in emb]
            rels[int(vid)] = float(rel)
        norms = {i: math.sqrt(dotp(v, v)) for i, v in vecs.items()}
        selected: list[int] = []
        out = []
        for t in range(1, k + 1):
            best_id, best_score = None, None
            # ascending vec_id + strict > == ORDER BY score DESC, vec_id
            for vid in sorted(vecs):
                if vid in selected:
                    continue
                if selected:
                    max_sim = max(
                        dotp(vecs[vid], vecs[s]) / (norms[vid] * norms[s])
                        for s in selected
                    )
                else:
                    max_sim = 0.0
                score = lam * rels[vid] - (1.0 - lam) * max_sim
                if best_score is None or score > best_score:
                    best_id, best_score = vid, score
            if best_id is None:  # shortlist exhausted (tiny fixtures)
                break
            selected.append(best_id)
            out.append((t, best_id, math.floor(best_score * 1e9 + 0.5) / 1e9))
        yield pd.DataFrame(out, columns=["step", "vec_id", "mmr_score"])

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    cand = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            dot(F.col("embedding"), F.col("qv")).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
    )
    return cand.mapInPandas(
        greedy, schema="step bigint, vec_id bigint, mmr_score double"
    ).orderBy("step")


# --------------------------------------------------------------------------
# E197: diversification audit — MMR top-5 vs plain top-5
# --------------------------------------------------------------------------


@query(
    "q_diversification_audit",
    oracle=f"""
    WITH mmr_ids AS (SELECT vec_id FROM ({_mmr_oracle()}) m),
    plain_ids AS (
      SELECT e.vec_id
      FROM embeddings e,
           (SELECT embedding FROM embeddings WHERE vec_id = {QUERY_VEC_ID}) q
      WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY {sql_dot('e.embedding', 'q.embedding')} DESC, e.vec_id
      LIMIT {_MMR_K}),
    both_lists AS (
      SELECT 'mmr' AS list_name, vec_id FROM mmr_ids
      UNION ALL SELECT 'plain', vec_id FROM plain_ids),
    joined AS (
      SELECT b.list_name, b.vec_id, e.embedding, e.label
      FROM both_lists b JOIN embeddings e USING (vec_id)),
    pairs AS (
      SELECT a.list_name,
             CAST(FLOOR({sql_cosine('a.embedding', 'b.embedding')}
                        * 1000000000 + 0.5) AS BIGINT) AS cos_q
      FROM joined a JOIN joined b
        ON a.list_name = b.list_name AND a.vec_id < b.vec_id)
    SELECT p.list_name,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(FLOOR(CAST(SUM(p.cos_q) AS DOUBLE) / COUNT(*) / 1000000000.0
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS avg_pairwise_cos,
           ANY_VALUE(l.n_labels) AS n_labels
    FROM pairs p
    JOIN (SELECT list_name, CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
          FROM joined GROUP BY list_name) l USING (list_name)
    GROUP BY p.list_name
    ORDER BY p.list_name
    """,
    tags=("E197", "E190", "D5", "A1", "J11"),
)
def q_diversification_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did diversification WORK? The audit recommender evals run
    after an MMR pass: average pairwise cosine (intra-list
    redundancy) and distinct label coverage for the MMR top-5 vs
    the plain relevance top-5 over the same corpus — MMR should
    show lower redundancy at equal-or-better coverage. Reuses the
    declared MMR trajectory (E190) as a subplan, so this query also
    pins MMR's composability; both lists are 5 rows, so every join
    here is a broadcast and the pairwise stage is 10 pairs per
    list."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qv")
    )
    mmr_ids = q_mmr_diversified_topk(spark, sf_dir).select("vec_id")
    plain_ids = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", dot(F.col("embedding"), F.col("qv")).alias("rel"))
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_K)
        .select("vec_id")
    )
    both = mmr_ids.select(F.lit("mmr").alias("list_name"), "vec_id").unionAll(
        plain_ids.select(F.lit("plain").alias("list_name"), "vec_id")
    )
    joined = both.join(e.select("vec_id", "embedding", "label"), "vec_id")
    a = joined.select(
        F.col("list_name"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("va"),
    )
    b = joined.select(
        F.col("list_name").alias("list_b"),
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("vb"),
    )
    pairs = a.join(
        b,
        (F.col("list_name") == F.col("list_b")) & (F.col("id_a") < F.col("id_b")),
    ).select(
        "list_name",
        F.floor(cosine(F.col("va"), F.col("vb")) * 1e9 + F.lit(0.5))
        .cast("bigint")
        .alias("cos_q"),
    )
    labels = joined.groupBy("list_name").agg(
        F.count_distinct("label").cast("bigint").alias("n_labels")
    )
    return (
        pairs.groupBy("list_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            (
                F.floor(
                    F.sum("cos_q").cast("double") / F.count(F.lit(1)) / 1e9 * 1e6
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("avg_pairwise_cos"),
        )
        .join(F.broadcast(labels), "list_name")
        .select("list_name", "n_pairs", "avg_pairwise_cos", "n_labels")
        .orderBy("list_name")
    )


# --------------------------------------------------------------------------
# E207: power-iteration PCA — top principal component, fully relational
# --------------------------------------------------------------------------

_PCA_ITERS = 5
_PCA_Q = 1000000000
_PCA_TOPD = 8


def _pca_oracle() -> str:
    parts = [
        """elem AS MATERIALIZED (
      SELECT vec_id, generate_subscripts(embedding, 1) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings),
    mu AS MATERIALIZED (
      SELECT i, CAST(SUM(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / COUNT(*) AS mu
      FROM elem GROUP BY i),
    cent AS MATERIALIZED (
      SELECT e.vec_id, e.i, e.x - mu.mu AS c
      FROM elem e JOIN mu ON mu.i = e.i),
    cov AS MATERIALIZED (
      SELECT a.i, b.i AS j,
             SUM(CAST(FLOOR(a.c * b.c * 1000000000 + 0.5) AS BIGINT)) AS aq
      FROM cent a JOIN cent b ON b.vec_id = a.vec_id
      GROUP BY a.i, b.i),
    v0 AS (SELECT r.range AS j, 1.0e0 AS v FROM range(1, 65) r)"""
    ]
    for t in range(1, _PCA_ITERS + 1):
        parts.append(
            f"""w{t} AS MATERIALIZED (
      SELECT cov.i,
             SUM(CAST(FLOOR(CAST(aq AS DOUBLE) * v.v + 0.5) AS BIGINT)) AS wq
      FROM cov JOIN v{t-1} v ON v.j = cov.j GROUP BY cov.i),
    n{t} AS MATERIALIZED (
      SELECT SUM(CAST(FLOOR((CAST(wq AS DOUBLE) / 1000000000.0)
                            * (CAST(wq AS DOUBLE) / 1000000000.0)
                            * 1000000000 + 0.5) AS BIGINT)) AS n2q FROM w{t}),
    v{t} AS MATERIALIZED (
      SELECT i AS j,
             CAST(FLOOR((CAST(wq AS DOUBLE) / 1000000000.0)
                        / SQRT(CAST(n2q AS DOUBLE) / 1000000000.0)
                        * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS v
      FROM w{t}, n{t})"""
        )
    vt = f"v{_PCA_ITERS}"
    parts.append(
        f"""wf AS MATERIALIZED (
      SELECT cov.i,
             SUM(CAST(FLOOR(CAST(aq AS DOUBLE) * v.v + 0.5) AS BIGINT)) AS wq
      FROM cov JOIN {vt} v ON v.j = cov.j GROUP BY cov.i),
    ray AS MATERIALIZED (
      SELECT CAST(SUM(CAST(FLOOR(v.v * (CAST(wf.wq AS DOUBLE) / 1000000000.0)
                                 * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
               AS num_q,
             CAST(SUM(CAST(FLOOR(v.v * v.v * 1000000000 + 0.5) AS BIGINT))
                  AS DOUBLE) AS den_q
      FROM {vt} v JOIN wf ON wf.i = v.j)"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(v.j AS BIGINT) AS dim,
           v.v AS loading,
           CAST(FLOOR(ray.num_q / ray.den_q / 1000000000.0 * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS eigenvalue
    FROM {vt} v, ray
    ORDER BY ABS(v.v) DESC, v.j
    LIMIT {_PCA_TOPD}
    """
    )


@query(
    "q_pca_power_iteration",
    oracle=_pca_oracle(),
    tags=("E207", "F7", "J6", "A1", "W1", "F6"),
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding cloud by POWER
    ITERATION, fully relational: the 64x64 scatter matrix comes from
    a posexplode self-join (per-element products, integer-quantized
    before the sum), and five matvec+normalize rounds run on the
    4096-row matrix joined with the 64-row vector — the distributed
    PCA recipe where the data-sized work is ONE pass to build the
    scatter matrix and every iteration is constant-size. Each
    round's vector is quantized and localCheckpoint'd (lineage
    doubles per round otherwise); the oracle mirrors with
    MATERIALIZED CTEs. Output: top-8 loadings + the Rayleigh
    eigenvalue of the scatter matrix — the embedding-health check
    (a dominant component means the embedding space collapsed)."""
    e = load_table(spark, sf_dir, "embeddings")
    elem = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("i0", "x")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), F.col("x").cast("double").alias("x"))
    mu = elem.groupBy("i").agg(
        (
            F.sum(F.floor(F.col("x") * 1e6 + F.lit(0.5)).cast("bigint")).cast("double")
            / 1e6
            / F.count(F.lit(1))
        ).alias("mu")
    )
    cent = elem.join(F.broadcast(mu), "i").select(
        "vec_id", "i", (F.col("x") - F.col("mu")).alias("c")
    )
    a = cent.select("vec_id", "i", F.col("c").alias("ca"))
    b = cent.select(
        F.col("vec_id").alias("vb"), F.col("i").alias("j"), F.col("c").alias("cb")
    )
    # no persist: the scatter matrix is consumed exactly once (by the
    # single-task power-iteration kernel below)
    cov = (
        a.join(b, F.col("vb") == F.col("vec_id"))
        .groupBy("i", "j")
        .agg(
            F.sum(
                F.floor(F.col("ca") * F.col("cb") * _PCA_Q + F.lit(0.5)).cast("bigint")
            ).alias("aq")
        )
    )
    # The matvec rounds move the 64x64 scatter matrix against a
    # 64-row vector — pure domain-sized state regardless of corpus
    # size. Run all 5 rounds + the Rayleigh quotient in ONE bounded
    # Arrow task (the dedup_clusters/MMR small-finish discipline)
    # instead of 5 scheduled join+agg+checkpoint rounds. Bit-exact vs
    # the unrolled-CTE oracle: every matvec term is floor-quantized
    # to a BIGINT before the order-free integer sum, the normalize
    # divides the same doubles through the same correctly-rounded
    # sqrt, and the per-round re-quantization pins v to 1e-9 grid
    # points — identical IEEE sequences in Python, the JVM, and
    # DuckDB.
    q_scale = float(_PCA_Q)
    iters = _PCA_ITERS

    def power_iter(pdf):
        import math

        import pandas as pd

        cells = [
            (int(i), int(j), float(aq))
            for i, j, aq in zip(pdf["i"], pdf["j"], pdf["aq"])
        ]
        dims = sorted({i for i, _, _ in cells})
        v = {j: 1.0 for j in dims}

        def matvec(vec):
            wq = {i: 0 for i in dims}
            for i, j, aq in cells:
                wq[i] += int(math.floor(aq * vec[j] + 0.5))
            return wq

        for _ in range(iters):
            wq = matvec(v)
            n2q = 0
            for i in dims:
                w1 = float(wq[i]) / q_scale
                n2q += int(math.floor(w1 * w1 * q_scale + 0.5))
            nrm = math.sqrt(float(n2q) / q_scale)
            v = {
                i: math.floor(float(wq[i]) / q_scale / nrm * q_scale + 0.5)
                / q_scale
                for i in dims
            }
        wf = matvec(v)
        num_q = den_q = 0
        for i in dims:
            num_q += int(
                math.floor(v[i] * (float(wf[i]) / q_scale) * q_scale + 0.5)
            )
            den_q += int(math.floor(v[i] * v[i] * q_scale + 0.5))
        eig = (
            math.floor(float(num_q) / float(den_q) / q_scale * 1e6 + 0.5) / 1e6
        )
        out = [(j, v[j], eig) for j in dims]
        return pd.DataFrame(out, columns=["dim", "loading", "eigenvalue"])

    return (
        probe.single_task(
            cov, power_iter, "dim bigint, loading double, eigenvalue double"
        )
        .orderBy(F.abs(F.col("loading")).desc(), "dim")
        .limit(_PCA_TOPD)
    )


# --------------------------------------------------------------------------
# E297: SQ8 scalar quantization audit — int8 codes + reconstruction error
# --------------------------------------------------------------------------


@query(
    "q_sq8_quantization_audit",
    oracle="""
    WITH elem AS MATERIALIZED (
      SELECT vec_id,
             unnest(generate_series(1, len(embedding))) AS i,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings),
    stats AS MATERIALIZED (
      SELECT i, MIN(x) AS mn, MAX(x) AS mx FROM elem GROUP BY i),
    coded AS (
      SELECT e.x, s.mn, (s.mx - s.mn) / 255.0e0 AS sc,
             CASE WHEN s.mx = s.mn THEN 0
                  ELSE LEAST(CAST(255 AS BIGINT),
                             CAST(FLOOR((e.x - s.mn)
                                        / ((s.mx - s.mn) / 255.0e0)
                                        + 0.5) AS BIGINT))
             END AS code
      FROM elem e JOIN stats s ON s.i = e.i),
    errs AS (
      SELECT code,
             CAST(FLOOR(ABS(x - (mn + code * sc)) * 1000000000 + 0.5)
                  AS BIGINT) AS err_q
      FROM coded)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM stats) AS n_dims,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           (CAST(SUM(err_q) AS BIGINT) // COUNT(*)) / 1000000000.0
             AS mean_abs_err,
           CAST(MAX(err_q) AS BIGINT) / 1000000000.0 AS max_abs_err,
           CAST(SUM(CASE WHEN code IN (0, 255) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_saturated
    FROM errs
    """,
    tags=("E297", "D5", "F8", "A1", "E186"),
)
def q_sq8_quantization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 SCALAR QUANTIZATION of the embedding table (FAISS
    ScalarQuantizer-style): per-dimension [min, max] trained over the
    corpus, each float mapped to an 8-bit code on that dim's 255-step
    grid, and the audit a vector store runs before switching its
    index to int8 storage — mean/max reconstruction error and the
    saturation count (values pinned at code 0/255, the clipping
    diagnostic). Two corpus passes, both map-side combinable: the
    per-dim MIN/MAX training aggregate, then code+error formation
    against the broadcast 64-row stats table. Every emitted number is
    exact: codes are integer floors of one shared double sequence,
    per-element errors are 1e-9-quantized BIGINTs before the
    order-free integer sum, and the means are integer floor
    divisions. PQ-ADC (E186) is the product-quantizer sibling; SQ8 is
    what production stores default to at 4x compression."""
    e = load_table(spark, sf_dir, "embeddings")
    elem = e.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("i0", "xf")
    ).select((F.col("i0") + 1).alias("i"), F.col("xf").cast("double").alias("x"))
    stats = elem.groupBy("i").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    sc = (F.col("mx") - F.col("mn")) / 255.0
    code = F.when(F.col("mx") == F.col("mn"), F.lit(0).cast("bigint")).otherwise(
        F.least(
            F.lit(255).cast("bigint"),
            F.floor((F.col("x") - F.col("mn")) / sc + F.lit(0.5)).cast("bigint"),
        )
    )
    coded = elem.join(F.broadcast(stats), "i").select(
        "x", "mn", sc.alias("sc"), code.alias("code")
    )
    errs = coded.select(
        "code",
        F.floor(
            F.abs(F.col("x") - (F.col("mn") + F.col("code") * F.col("sc")))
            * 1000000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("err_q"),
    )
    n_dims = stats.agg(F.count(F.lit(1)).cast("bigint").alias("n_dims"))
    return (
        errs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            (F.expr("CAST(SUM(err_q) AS BIGINT) DIV COUNT(*)") / 1000000000.0).alias(
                "mean_abs_err"
            ),
            (F.max("err_q").cast("bigint") / 1000000000.0).alias("max_abs_err"),
            F.sum(F.when(F.col("code").isin(0, 255), 1).otherwise(0))
            .cast("bigint")
            .alias("n_saturated"),
        )
        .crossJoin(F.broadcast(n_dims))
        .select("n_dims", "n_values", "mean_abs_err", "max_abs_err", "n_saturated")
    )


# --------------------------------------------------------------------------
# E304: Matryoshka truncation audit — does dim-16 retrieval agree with
# dim-64?
# --------------------------------------------------------------------------

_MAT_STRIDE = 53  # query panel: vec_id % 53 == 1
# Panel cap (same discipline as ml_eval._PANEL_CAP): freezes the panel
# at its sf0.1 size — bit-inert at every driver SF (vec_id ends at
# 1999 there), and above that it keeps the panel x corpus window pass
# linear in corpus size instead of quadratic (r8 probe slope 30.6
# before the cap).
_MAT_CAP = 2000
_MAT_DIM = 16  # truncated prefix dimensionality
_MAT_K = 10  # retrieval depth audited


@query(
    "q_matryoshka_truncation_audit",
    oracle=f"""
    WITH qs AS (
      SELECT vec_id AS q_id, embedding AS qv
      FROM embeddings WHERE vec_id % {_MAT_STRIDE} = 1 AND vec_id < {_MAT_CAP}),
    ranked AS (
      SELECT qs.q_id, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY qs.q_id
               ORDER BY {sql_dot('e.embedding', 'qs.qv')} DESC, e.vec_id)
               AS rk_full,
             ROW_NUMBER() OVER (
               PARTITION BY qs.q_id
               ORDER BY {sql_dot(f'list_slice(e.embedding, 1, 16)',
                                 f'list_slice(qs.qv, 1, 16)')} DESC,
                        e.vec_id) AS rk_trunc
      FROM embeddings e JOIN qs ON e.vec_id <> qs.q_id)
    SELECT q_id,
           CAST(SUM(CASE WHEN rk_full <= 10 AND rk_trunc <= 10
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_common_at_k,
           CAST(SUM(CASE WHEN rk_full <= 10 AND rk_trunc <= 10
                         THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS overlap_frac,
           MAX(CASE WHEN rk_full = 1 THEN vec_id END)
             = MAX(CASE WHEN rk_trunc = 1 THEN vec_id END) AS top1_same
    FROM ranked GROUP BY q_id ORDER BY q_id
    """,
    tags=("E304", "D6", "D7", "W1", "A1"),
)
def q_matryoshka_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: if retrieval ran on only
    the first 16 dimensions of each embedding (the MRL trick that
    cuts index memory 4x), how much of the full-dimension top-10
    would it still return? Per panel query (every 53rd vector), the
    corpus is ranked twice inside ONE broadcast query x corpus pass
    — raw-dot at all 64 dims and at the 16-dim prefix (two window
    functions over the same partitioning, one WindowExec) — and the
    audit reports top-10 overlap, overlap fraction, and whether the
    top-1 neighbor survives truncation. Both dots are the
    deterministic sequential fold (functions/vector.py), so ranks
    and hence every emitted value are bit-exact across engines; the
    vec_id tiebreak pins boundary ties. Scale shape: the panel is
    broadcast, the corpus is scanned once, ranking is a per-query
    window — the same contract as the MRR panel (E205), with the
    prefix slice pushed into the project stage (no second scan, no
    Python)."""
    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(
        (F.col("vec_id") % _MAT_STRIDE == 1) & (F.col("vec_id") < _MAT_CAP)
    ).select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv"))
    wq = Window.partitionBy("q_id")
    ranked = (
        e.crossJoin(F.broadcast(qs))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.row_number()
            .over(
                wq.orderBy(
                    dot(F.col("embedding"), F.col("qv")).desc(), F.col("vec_id")
                )
            )
            .alias("rk_full"),
            F.row_number()
            .over(
                wq.orderBy(
                    dot(
                        F.slice(F.col("embedding"), 1, _MAT_DIM),
                        F.slice(F.col("qv"), 1, _MAT_DIM),
                    ).desc(),
                    F.col("vec_id"),
                )
            )
            .alias("rk_trunc"),
        )
    )
    both = (F.col("rk_full") <= _MAT_K) & (F.col("rk_trunc") <= _MAT_K)
    return (
        ranked.groupBy("q_id")
        .agg(
            F.sum(F.when(both, 1).otherwise(0)).cast("bigint").alias(
                "n_common_at_k"
            ),
            (
                F.sum(F.when(both, 1).otherwise(0)).cast("double") / _MAT_K
            ).alias("overlap_frac"),
            (
                F.max(F.when(F.col("rk_full") == 1, F.col("vec_id")))
                == F.max(F.when(F.col("rk_trunc") == 1, F.col("vec_id")))
            ).alias("top1_same"),
        )
        .orderBy("q_id")
    )


# --------------------------------------------------------------------------
# E329: linear-kernel MMD — embedding-space drift between cohorts
# --------------------------------------------------------------------------


@query(
    "q_embedding_mmd_drift",
    oracle="""
    WITH comp AS (
      SELECT vec_id % 2 AS cohort,
             unnest(generate_series(1, len(embedding))) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000000
                        + 0.5) AS BIGINT) AS v_q
      FROM embeddings),
    dims AS MATERIALIZED (
      SELECT dim,
             SUM(CASE WHEN cohort = 0 THEN v_q ELSE 0 END) AS s0,
             SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN cohort = 1 THEN v_q ELSE 0 END) AS s1,
             SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS n1
      FROM comp GROUP BY dim),
    d2 AS (
      SELECT dim, n0, n1,
             CAST(FLOOR(
               (CAST(s0 AS DOUBLE) / 1e9 / n0 - CAST(s1 AS DOUBLE) / 1e9 / n1)
               * (CAST(s0 AS DOUBLE) / 1e9 / n0 - CAST(s1 AS DOUBLE) / 1e9 / n1)
               * 1e12 + 0.5) AS BIGINT) AS d2_q
      FROM dims)
    SELECT CAST(MAX(n0) AS BIGINT) AS n_even,
           CAST(MAX(n1) AS BIGINT) AS n_odd,
           CAST(SUM(d2_q) AS DOUBLE) / 1e12 AS mmd2_linear,
           CAST(128 - MAX(d2_q * 128 + (128 - dim)) % 128 AS BIGINT)
             AS top_dim,
           CAST(MAX(d2_q * 128 + (128 - dim)) // 128 AS DOUBLE) / 1e12
             AS top_dim_diff_sq
    FROM d2
    """,
    tags=("E329", "E137", "E103", "F7", "A1"),
)
def q_embedding_mmd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel MMD^2 between the even/odd vec_id embedding
    cohorts — the EMBEDDING-SPACE drift test beside the token-space
    divergences (JS E137, PSI): with the linear kernel, MMD^2
    collapses to the squared distance between MEAN EMBEDDINGS, so the
    whole two-sample test is one aggregate over exploded components —
    no pairwise kernel matrix, the reason this form (Gretton's
    witness-mean shortcut) is the one that runs at corpus scale.
    Determinism: each float32 component quantizes to a 1e-9 BIGINT
    before the per-dimension sums (summation-order guard), the
    per-dim mean gap is a fixed-order double expression over those
    exact integers, and its square quantizes to 1e-12 before the
    64-term total — order-free end to end. The most-drifted dimension
    rides along via an integer-encoded argmax (d2*128 + (128-dim):
    max picks the largest gap, ties to the LOWEST dim — identical
    arithmetic both engines). On this isotropic fixture MMD^2 ~ 1/n
    (no real drift) — the null-calibration reading, not vacuous:
    the value is hash-pinned. One explode + one 64-row reduce at any
    scale."""
    e = load_table(spark, sf_dir, "embeddings")
    comp = e.select(
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode("embedding").alias("dim0", "v"),
    ).select(
        "cohort",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("v").cast("double") * 1000000000 + F.lit(0.5))
        .cast("long")
        .alias("v_q"),
    )
    dims = comp.groupBy("dim").agg(
        F.sum(F.when(F.col("cohort") == 0, F.col("v_q")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("cohort") == 1, F.col("v_q")).otherwise(0)).alias("s1"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("n1"),
    )
    gap = (
        F.col("s0").cast("double") / 1e9 / F.col("n0")
        - F.col("s1").cast("double") / 1e9 / F.col("n1")
    )
    d2 = dims.select(
        "dim",
        "n0",
        "n1",
        F.floor(gap * gap * F.lit(1e12) + F.lit(0.5)).cast("long").alias("d2_q"),
    )
    key = F.col("d2_q") * 128 + (128 - F.col("dim"))
    return d2.agg(
        F.max("n0").cast("bigint").alias("n_even"),
        F.max("n1").cast("bigint").alias("n_odd"),
        (F.sum("d2_q").cast("double") / 1e12).alias("mmd2_linear"),
        (128 - F.max(key) % 128).cast("bigint").alias("top_dim"),
        (F.floor(F.max(key) / 128).cast("double") / 1e12).alias(
            "top_dim_diff_sq"
        ),
    )
