"""Property tests for similarity search (SURVEY.md §2.10 D6 + ANN):
IVF recall vs brute force, and the pandas-UDF cosine twin vs the
built-in expression.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fts_analysis_datalake_spark.catalog import load_table
from tests.conftest import SF_DIR_SMALL
from fts_analysis_datalake_spark.functions.vector import cosine
from fts_analysis_datalake_spark.operators.similarity import (
    cosine_pandas_udf,
    cosine_topk,
    ivf_topk,
    srp_topk,
)

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMALL, "embeddings").cache()


def _qvec(emb, vid):
    row = emb.filter(F.col("vec_id") == vid).select("embedding").head()
    return [float(x) for x in row[0]]


def test_ivf_recall_vs_bruteforce(spark, emb):
    recalls = []
    for vid in [0, 17, 101, 256, 499]:
        q = _qvec(emb, vid)
        exact = {r.vec_id for r in cosine_topk(emb, q, 10).collect()}
        approx = {r.vec_id for r in ivf_topk(emb, q, 10, nprobe=3).collect()}
        recalls.append(len(exact & approx) / 10)
    avg = sum(recalls) / len(recalls)
    # probing 3/10 buckets of near-random vectors: recall well above
    # the ~0.3 random-scan floor demonstrates the index works.
    assert avg >= 0.5, recalls


def test_srp_recall_vs_bruteforce(spark, emb):
    recalls = []
    for vid in [0, 17, 101, 256, 499]:
        q = _qvec(emb, vid)
        exact = {r.vec_id for r in cosine_topk(emb, q, 10).collect()}
        approx = {r.vec_id for r in srp_topk(emb, q, 10, bits=8, radius=3).collect()}
        recalls.append(len(exact & approx) / 10)
    avg = sum(recalls) / len(recalls)
    # 8-bit SRP probing Hamming<=3 (~36% of bucket space) on
    # near-random vectors: well above the random-scan floor.
    assert avg >= 0.4, recalls


def test_ivf_query_vec_not_stale_across_sf_dirs(spark):
    """Regression (round-1 bug): the q_ivf_topk_ann query-vector cache
    was keyed by nothing, so running at a second scale dir reused the
    first dir's vec_id=0 embedding. Run the declared query at sf0.001
    then sf0.01 in one process and require the sf0.01 result to hit
    the sf0.01 brute-force top-10 (a stale vector scores ~0 recall on
    near-random embeddings)."""
    from fts_analysis_datalake_spark.queries.llm_vectors import (
        QUERY_VEC_ID,
        q_ivf_topk_ann,
    )

    q_ivf_topk_ann(spark, SF_SMALL).collect()  # poison a dir-less cache

    sf_mid = "/root/testdata/sf0.01"
    emb_mid = load_table(spark, sf_mid, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)
    q_mid = _qvec(load_table(spark, sf_mid, "embeddings"), QUERY_VEC_ID)
    exact = {r.vec_id for r in cosine_topk(emb_mid, q_mid, 10).collect()}
    approx = {r.vec_id for r in q_ivf_topk_ann(spark, sf_mid).collect()}
    assert len(exact & approx) / 10 >= 0.5, (exact, approx)


def test_embedding_near_dups_precision_and_recall(spark, emb):
    """Banded SRP-LSH near-dup pairs vs numpy brute force on the
    planted-duplicate corpus (original ∪ re-keyed copy): exact dups
    share every sign bit, so recall must be exactly 1.0; precision is
    exactly 1.0 because the verify step is exact cosine math. The
    result must therefore EQUAL the brute-force pair set."""
    import numpy as np

    from fts_analysis_datalake_spark.operators.similarity import embedding_near_dups

    threshold = 0.999
    dup = emb.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    corpus = emb.select("vec_id", "embedding").unionByName(dup)

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = Vn @ Vn.T
    # natural pairs >= threshold (none expected on this fixture) +
    # the 500 planted (i, i+10000) exact-duplicate pairs
    iu = np.triu_indices(len(ids), 1)
    true_pairs = {
        (int(min(ids[i], ids[j])), int(max(ids[i], ids[j])))
        for i, j in zip(*iu)
        if S[i, j] >= threshold
    } | {(int(i), int(i) + 10000) for i in ids}
    got = {(r.id_a, r.id_b) for r in embedding_near_dups(corpus, threshold).collect()}
    assert got == true_pairs, (
        len(got - true_pairs),
        len(true_pairs - got),
        len(true_pairs),
    )


def test_pandas_udf_cosine_matches_builtin(spark, emb):
    q = _qvec(emb, 42)
    udf = cosine_pandas_udf(q)
    both = emb.select(
        "vec_id",
        cosine(F.col("embedding"), F.array(*[F.lit(float(x)).cast("float") for x in q])).alias(
            "cos_builtin"
        ),
        udf(F.col("embedding")).alias("cos_udf"),
    )
    bad = both.filter(F.abs(F.col("cos_builtin") - F.col("cos_udf")) > 1e-9).count()
    assert bad == 0


def test_kmeans_objective_improves_monotonically(spark, monkeypatch):
    """Spherical k-means with mean-centroid updates must not decrease
    the summed cosine objective as rounds progress (Lloyd guarantee);
    check 1 round vs 5 rounds of the distributed loop from the same
    deterministic seeds."""
    from pyspark.sql import functions as F

    from fts_analysis_datalake_spark import probe
    from fts_analysis_datalake_spark.catalog import load_table
    from fts_analysis_datalake_spark.functions.vector import cosine
    from fts_analysis_datalake_spark.operators.similarity import ivf_assign, kmeans_train

    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")

    def objective(iters: int) -> float:
        cents = kmeans_train(emb, k=8, iters=iters)
        assigned = ivf_assign(emb, cents)
        return (
            assigned.join(cents, "cent_id")
            .agg(F.sum(cosine(F.col("embedding"), F.col("cent_vec"))))
            .first()[0]
        )

    o1, o5 = objective(1), objective(5)
    assert o5 >= o1 - 1e-9, (o1, o5)


def test_kmeans_every_cluster_nonempty(spark, monkeypatch):
    from pyspark.sql import functions as F

    from fts_analysis_datalake_spark import probe
    from fts_analysis_datalake_spark.catalog import load_table
    from fts_analysis_datalake_spark.operators.similarity import ivf_assign, kmeans_train

    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    cents = kmeans_train(emb, k=8, iters=3)
    sizes = ivf_assign(emb, cents).groupBy("cent_id").count()
    assert sizes.count() == cents.count()
    assert sizes.agg(F.min("count")).first()[0] >= 1


def test_trained_ivf_recall_floor(spark):
    """The kmeans-trained IVF must recover most of the brute-force
    top-10 at nprobe=3 (recall >= 0.6 on the fixture)."""
    from fts_analysis_datalake_spark.queries.llm_vectors import (
        q_ivf_trained_ann,
        q_topk_similar_bruteforce,
    )

    exact = {r.vec_id for r in q_topk_similar_bruteforce(spark, SF_DIR_SMALL).collect()}
    approx = {r.vec_id for r in q_ivf_trained_ann(spark, SF_DIR_SMALL).collect()}
    assert len(exact & approx) >= 6, (exact, approx)


# ------------------------------------------------------------------ SemDeDup


def test_semantic_dedup_planted_duplicates(spark):
    """Exact duplicates MUST be found: identical vectors get identical
    (deterministic) cluster assignments, so no planted pair can be
    lost to a cluster boundary — and their cosine is 1."""
    import numpy as np

    from fts_analysis_datalake_spark.operators.similarity import semantic_dedup_pairs

    rng = np.random.RandomState(7)
    base = rng.standard_normal((120, 16)).astype("float32")
    rows = [(i, [float(x) for x in base[i]]) for i in range(120)]
    # plant: ids 200..219 duplicate ids 0..19 exactly
    rows += [(200 + i, [float(x) for x in base[i]]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = semantic_dedup_pairs(df, 0.999, every=29).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    for i in range(20):
        assert (i, 200 + i) in found, f"planted dup {i} lost"
    for r in pairs:
        assert r.cos_sim >= 0.999


def test_semantic_dedup_precision_and_cluster_completeness(spark):
    """Every returned pair really clears the threshold (numpy
    recompute), and WITHIN a cluster no qualifying pair is missed —
    the only sanctioned loss is cross-cluster."""
    import numpy as np

    from fts_analysis_datalake_spark.operators.similarity import (
        deterministic_centroids,
        ivf_assign,
        semantic_dedup_pairs,
    )

    emb = load_table(spark, SF_SMALL, "embeddings")
    t = 0.25
    got = {(r.id_a, r.id_b): r.cos_sim for r in semantic_dedup_pairs(emb, t).collect()}

    rows = emb.select("vec_id", "embedding").collect()
    V = {r.vec_id: np.array(r.embedding, dtype="float64") for r in rows}
    assign = {
        r.vec_id: r.cent_id
        for r in ivf_assign(emb, deterministic_centroids(emb)).collect()
    }
    for (a, b), cs in got.items():
        v, w = V[a], V[b]
        ref = float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w)))
        assert ref >= t - 1e-6
        assert abs(ref - cs) < 1e-5
    # completeness within clusters
    ids = sorted(V)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if assign[a] != assign[b]:
                continue
            v, w = V[a], V[b]
            if float(v @ w / (np.linalg.norm(v) * np.linalg.norm(w))) >= t + 1e-6:
                assert (a, b) in got, f"missed same-cluster pair {(a, b)}"


def test_semantic_dedup_report_accounting(spark):
    """Report identity: kept = vectors - members + clusters, and the
    member/cluster counts agree with the CC over the pair set."""
    from fts_analysis_datalake_spark.queries.llm_vectors import (
        q_semantic_dedup_report,
    )

    row = q_semantic_dedup_report(spark, SF_SMALL).collect()[0]
    assert row.n_kept == row.n_vectors - row.n_members + row.n_clusters
    assert row.n_clusters <= row.n_members
    assert row.n_members <= row.n_vectors


def test_kmeans_finisher_branches_agree(spark, monkeypatch):
    """kmeans_train: the numpy Lloyd kernel and the per-round
    DataFrame loop (the 100 TB path) must agree on the SAME fixture —
    identical surviving centroid ids (assignment ties break the same
    way: score desc, cent_id asc) and centroid vectors equal to
    tolerance (numpy mean vs partial-avg summation order is inside
    the float operator's declared rows-only contract). Forces BOTH
    branches explicitly."""
    import numpy as np

    from fts_analysis_datalake_spark import probe
    from fts_analysis_datalake_spark.catalog import load_table
    from fts_analysis_datalake_spark.operators.similarity import kmeans_train

    emb = load_table(spark, SF_DIR_SMALL, "embeddings")
    kernel = {
        r.cent_id: np.asarray(r.cent_vec)
        for r in kmeans_train(emb, k=8, iters=3).collect()
    }
    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
    dist = {
        r.cent_id: np.asarray(r.cent_vec)
        for r in kmeans_train(emb, k=8, iters=3).collect()
    }
    assert set(kernel) == set(dist) and len(kernel) > 1
    for cid, vec in dist.items():
        assert np.allclose(kernel[cid], vec, rtol=1e-9, atol=1e-12), cid
