"""Scale-technique verification (operators/scale.py): bucketed joins
really skip their shuffle, and salting returns bit-identical results
to the plain forms it replaces.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fts_analysis_datalake_spark.catalog import load_table
from fts_analysis_datalake_spark.operators.scale import (
    bucketed_join,
    salted_aggregate,
    salted_equi_join,
    write_bucketed,
)
from fts_analysis_datalake_spark.plans import explain_text
from tests.conftest import SF_DIR_SMALL


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    li = load_table(spark, SF_DIR_SMALL, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    o = load_table(spark, SF_DIR_SMALL, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus"
    )
    write_bucketed(li, "t_li_bucketed", "l_orderkey", 8, str(root / "li"))
    write_bucketed(o, "t_o_bucketed", "l_orderkey", 8, str(root / "o"))
    yield "t_li_bucketed", "t_o_bucketed"
    spark.sql("DROP TABLE IF EXISTS t_li_bucketed")
    spark.sql("DROP TABLE IF EXISTS t_o_bucketed")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    left, right = bucketed_tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # Force the join strategy decision (tiny test tables would
        # broadcast, hiding the property being tested).
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = explain_text(bucketed_join(spark, left, right, "l_orderkey"), "simple")
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_matches_plain_join(spark, bucketed_tables):
    left, right = bucketed_tables
    n_bucketed = bucketed_join(spark, left, right, "l_orderkey").count()
    li = load_table(spark, SF_DIR_SMALL, "lineitem")
    o = load_table(spark, SF_DIR_SMALL, "orders")
    n_plain = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert n_bucketed == n_plain > 0


def test_salted_aggregate_matches_plain_groupby(spark):
    e = load_table(spark, SF_DIR_SMALL, "events")
    salted = salted_aggregate(
        e,
        ["event_type"],
        {"n": F.count(F.lit(1)), "qty": F.sum(F.floor("value"))},
        salts=16,
        salt_src=F.col("event_id"),
    ).toPandas()
    plain = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.floor("value")).alias("qty"))
        .toPandas()
    )
    s = salted.sort_values("event_type").reset_index(drop=True)
    p = plain.sort_values("event_type").reset_index(drop=True)
    assert (s["event_type"] == p["event_type"]).all()
    assert (s["n"] == p["n"]).all()
    assert (s["qty"] == p["qty"]).all()


def test_salted_join_matches_plain_join(spark):
    e = load_table(spark, SF_DIR_SMALL, "events").select("event_id", "user_id", "event_type")
    dim = (
        load_table(spark, SF_DIR_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_n"))
    )
    salted = salted_equi_join(e, dim, "user_id", salts=8, salt_src=F.col("event_id"))
    plain = e.join(dim, "user_id")
    assert salted.count() == plain.count()
    a = sorted(tuple(r) for r in salted.select("event_id", "user_n").collect())
    b = sorted(tuple(r) for r in plain.select("event_id", "user_n").collect())
    assert a == b


def test_bloom_prefilter_no_false_negatives(spark):
    """Every true member must survive the Bloom prefilter (false
    positives allowed, false negatives never) — checked by comparing
    the prefilter+exact-semi-join pipeline against the plain
    semi-join on a real key column."""
    from fts_analysis_datalake_spark.operators.scale import bloom_build, bloom_prefilter

    c = (
        load_table(spark, SF_DIR_SMALL, "customer")
        .where(F.col("c_mktsegment") == "MACHINERY")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    o = load_table(spark, SF_DIR_SMALL, "orders")
    surv = bloom_prefilter(o, "o_custkey", bloom_build(c, "o_custkey"))
    expected = o.join(c, "o_custkey", "left_semi")
    # prefilter output is a superset of the true matches...
    assert surv.join(expected, "o_orderkey", "left_semi").count() == expected.count()
    # ...and the exact pass lands exactly on the plain semi-join.
    got = surv.join(expected.select("o_custkey").distinct(), "o_custkey", "left_semi")
    assert got.count() == expected.count()


def test_son_candidates_superset_of_global_frequents(spark):
    """SON phase-1 candidates must contain EVERY globally frequent
    item (pigeonhole guarantee), under a forced multi-partition
    layout so the per-partition thresholds actually differ."""
    from fts_analysis_datalake_spark.operators.scale import son_candidates

    li = (
        load_table(spark, SF_DIR_SMALL, "lineitem")
        .select(F.col("l_suppkey").cast("string").alias("item"))
        .repartition(8)
    )
    frac = 0.01
    total = li.count()
    cands = {r.item for r in son_candidates(li, "item", frac).collect()}
    exact = {
        r.item
        for r in li.groupBy("item").count().where(F.col("count") >= frac * total).collect()
    }
    assert exact <= cands
    assert exact, "test would be vacuous with no frequent items"


def test_zorder_balances_skipping_across_dimensions(spark):
    """The Z-ordered layout must enable file skipping on BOTH box
    dimensions, while the linear layout (sorted by partkey) skips
    nothing for a suppkey-only predicate. The assertion is on the
    worst dimension: z-order's min(skip_p, skip_s) must strictly
    beat linear's (which is 0 by construction)."""
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    rows = {
        r.layout: r
        for r in REGISTRY["q_zorder_skipping_audit"].fn(spark, SF_DIR_SMALL).collect()
    }
    z, lin = rows["zorder"], rows["linear"]
    assert min(z.skip_p_band, z.skip_s_band) > min(lin.skip_p_band, lin.skip_s_band)
    assert z.skip_s_band > lin.skip_s_band


def test_compaction_reduces_file_count_preserves_rows(spark):
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    rows = {
        r.layout: r
        for r in REGISTRY["q_compaction_audit"].fn(spark, SF_DIR_SMALL).collect()
    }
    frag, comp = rows["fragmented"], rows["compacted"]
    assert comp.n_files < frag.n_files
    assert comp.total_rows == frag.total_rows
    assert comp.avg_rows_per_file > frag.avg_rows_per_file


def test_source_minhash_signature_is_mergeable(spark):
    """E296's scale contract: the per-source MinHash signature is an
    elementwise MIN, so partial signatures computed on disjoint
    corpus splits and merged with MIN must equal the signature of
    the whole corpus — the property that makes the sketch map-side
    combinable at 100 TB."""
    from fts_analysis_datalake_spark.operators.text import ngrams, tokens
    from fts_analysis_datalake_spark.queries.llm_dedup import _MH_P, _MH_SEEDS
    from fts_analysis_datalake_spark.queries.sketches_search import _h52

    d = load_table(spark, SF_DIR_SMALL, "documents")
    ex = d.select(
        "source", F.explode(ngrams(tokens(F.col("text")), 3)).alias("s")
    ).select(
        "source",
        _h52("mh", F.col("s")).alias("h"),
        F.crc32(F.col("s")).alias("splitkey"),
    )
    mins = [
        F.min(
            (F.lit(2 * i + 1) * F.col("h") + F.lit(7919 * i)) % F.lit(_MH_P)
        ).alias(f"m{i}")
        for i in range(_MH_SEEDS)
    ]
    whole = {
        r["source"]: tuple(r[f"m{i}"] for i in range(_MH_SEEDS))
        for r in ex.groupBy("source").agg(*mins).collect()
    }
    # two disjoint splits -> partial signatures -> MIN-merge
    partial = (
        ex.withColumn("split", (F.col("splitkey") % 2).cast("int"))
        .groupBy("source", "split")
        .agg(*mins)
        .groupBy("source")
        .agg(*[F.min(f"m{i}").alias(f"m{i}") for i in range(_MH_SEEDS)])
    )
    merged = {
        r["source"]: tuple(r[f"m{i}"] for i in range(_MH_SEEDS))
        for r in partial.collect()
    }
    assert merged == whole


def test_bpe_pair_counts_scale_linearly_with_duplication(spark):
    """E294's weighting contract: duplicating every document 3x must
    leave the chosen merge pairs identical and scale every
    pair_count by exactly 3 — pair statistics are linear in word
    frequency, which is why ONE map-side word-count pass is the only
    corpus-sized stage."""
    import pandas as pd

    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    base = [
        (r.round, r.left_sym, r.right_sym, r.pair_count)
        for r in REGISTRY["q_bpe_merge_rounds"].fn(spark, SF_DIR_SMALL).collect()
    ]

    d = load_table(spark, SF_DIR_SMALL, "documents")
    trip = d.unionAll(d).unionAll(d)
    trip.createOrReplaceTempView("_bpe_trip_docs")
    import fts_analysis_datalake_spark.queries.llm_text as lt

    # rebuild the same pipeline over the tripled corpus
    from pyspark.sql import functions as FF

    wc = trip.select(
        FF.explode(
            lt.tokens(lt.normalize_text(FF.col("text")))
        ).alias("w")
    ).groupBy("w").agg(FF.count(FF.lit(1)).cast("bigint").alias("cnt"))
    state = wc.select(
        "w", "cnt", FF.regexp_replace("w", "(.)", "<$1>").alias("seq")
    ).localCheckpoint(eager=True)
    got = []
    for i in range(1, 4):
        syms = FF.split(FF.regexp_replace("seq", "^<|>$", ""), "><")
        pairs = (
            state.select("cnt", syms.alias("syms"))
            .select(
                "cnt",
                FF.explode(
                    FF.zip_with(
                        FF.slice("syms", 1, FF.size("syms") - 1),
                        FF.slice("syms", 2, FF.size("syms") - 1),
                        lambda x, y: FF.struct(x.alias("l"), y.alias("r")),
                    )
                ).alias("p"),
            )
            .select("cnt", "p.l", "p.r")
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(FF.sum("cnt").cast("bigint").alias("pc"))
            .orderBy(FF.col("pc").desc(), "l", "r")
            .limit(1)
        ).localCheckpoint(eager=True)
        row = top.collect()[0]
        got.append((i, row["l"], row["r"], row["pc"]))
        if i < 3:
            state = (
                state.crossJoin(FF.broadcast(top))
                .select(
                    "w",
                    "cnt",
                    FF.expr(
                        "replace(seq, '<' || l || '><' || r || '>',"
                        " '<' || l || r || '>')"
                    ).alias("seq"),
                )
                .localCheckpoint(eager=True)
            )
    assert [(r, l, rr, pc * 3) for r, l, rr, pc in base] == got


def test_ensure_shuffle_parallelism_gates(spark, monkeypatch):
    """The workload-partition floor (r9, VERDICT r8 task #2) applies
    exactly when (a) the pair workload exceeds the default-parallelism
    budget, (b) there are at least as many keys as target partitions
    (hash partitioning cannot use more), and (c) no single key exceeds
    a task budget (a pinned partitioning cannot split a key and blocks
    AQE's skew split). Values are never changed, only partitioning."""
    from fts_analysis_datalake_spark import catalog
    from fts_analysis_datalake_spark.catalog import ensure_shuffle_parallelism

    df = spark.range(1000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v")
    )
    dp = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(catalog, "_ROWS_PER_TASK", 1_000)

    floored = ensure_shuffle_parallelism(
        df, 10_000_000, ["k"], n_keys=100_000, max_key_workload=10
    )
    assert floored is not df
    assert floored.rdd.getNumPartitions() == min(10_000, 32_768)

    # key-cardinality gate: fewer keys than target -> unchanged
    assert (
        ensure_shuffle_parallelism(
            df, 10_000_000, ["k"], n_keys=50, max_key_workload=10
        )
        is df
    )
    # skew gate: one key over the task budget -> unchanged
    assert (
        ensure_shuffle_parallelism(
            df, 10_000_000, ["k"], n_keys=100_000, max_key_workload=2_000
        )
        is df
    )
    # small workload -> floor to default parallelism (still a valid
    # co-partitioning for the join; values identical)
    small = ensure_shuffle_parallelism(
        df, 1, ["k"], n_keys=100_000, max_key_workload=1
    )
    assert small.rdd.getNumPartitions() == dp
    assert sorted(r.v for r in small.collect()) == list(range(1000))
