"""Deduplication operators for the LLM-data pipeline (SURVEY.md §2.10
D1-D4): exact, keyed, MinHash-LSH near-dup candidate generation,
exact-Jaccard verification, and SimHash.

Scale design (the whole point of these at 100 TB):
- exact dedup shuffles 16-byte md5 keys, never full texts (D1);
- MinHash reduces each document to a fixed k-longs signature before
  any pairwise work; LSH banding turns all-pairs O(n^2) into a
  self-join on (band_idx, band_hash) buckets — only probable
  near-dups ever meet;
- the exact-Jaccard pass (D4) runs ONLY on LSH candidates, so the
  expensive token-set intersection touches a vanishing fraction of
  pairs;
- everything is DataFrame ops: shingle explode -> min-hash groupBy
  (map-side partial min) -> band explode -> bucket self-join.

xxhash64(seed, value) provides the k independent hash families
in-JVM; these are Spark-specific values, so MinHash/SimHash queries
are declared rows-only and verified by property tests
(tests/test_minhash.py) + the SQL-expressible Jaccard pass.
"""

from __future__ import annotations

import hashlib

import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import ensure_parallelism
from fts_analysis_datalake_spark.operators.text import ngrams, normalize_text, tokens


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs — word n-gram shingles of the normalized
    text. Duplicates are NOT removed: every consumer (min-agg,
    set-jaccard via array_distinct) is dup-tolerant, and skipping the
    distinct saves a full shuffle of shingle strings.

    Implementation: posexplode tokens to rows, then window lead() to
    assemble n-grams — fully codegen'd, ~8x faster than the
    interpreted transform/slice/array_join fold (higher-order lambdas
    never enter WholeStageCodegen). One shuffle on id (the window),
    which downstream per-id aggregations reuse.

    Small single-file inputs are rebalanced to the cluster's default
    parallelism first — a 1-row-group parquet file would otherwise
    pin the tokenize stage to one core. Well-partitioned inputs (the
    100 TB case) are left alone.
    """
    from pyspark.sql import Window

    df = ensure_parallelism(df)
    tok_rows = df.select(
        F.col(id_col), F.posexplode(tokens(normalize_text(F.col(text_col)))).alias("pos", "t")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.col("t")] + [F.lead("t", i).over(w) for i in range(1, n)]
    guard = F.lead("t", n - 1).over(w) if n > 1 else F.col("t")
    return (
        tok_rows.select(
            F.col(id_col), F.concat_ws(" ", *leads).alias("shingle"), guard.alias("_guard")
        )
        .filter(F.col("_guard").isNotNull())
        .drop("_guard")
    )


# (a_i * x + b_i) mod MERSENNE_P universal-hash families: one xxhash64
# per shingle, then k cheap integer ops — vs k string-concat+xxhash64
# per shingle (32x the hashing cost and allocation churn at scale).
MERSENNE_P = (1 << 31) - 1
_MIX_A = 0x9E3779B1  # golden-ratio odd constants; any fixed odd ints work
_MIX_B = 0x85EBCA77


def _hash_params(num_hashes: int) -> list[tuple[int, int]]:
    return [
        (1 + (_MIX_A * (i + 1)) % (MERSENNE_P - 1), (_MIX_B * (i + 1)) % MERSENNE_P)
        for i in range(num_hashes)
    ]


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 32, shingle_n: int = 3
) -> DataFrame:
    """(id, sig: array<bigint>) — k-permutation MinHash signature.

    One shuffle: groupBy(id) with k partial-min aggregates. The k
    families are (a_i * x + b_i) mod p over a single base xxhash64
    (p = 2^31-1, so a_i * x < 2^62 never overflows ANSI bigints).
    """
    sh = shingle_table(df, id_col, text_col, shingle_n)
    x = F.pmod(F.xxhash64(F.col("shingle")), F.lit(MERSENNE_P)).alias("x")
    based = sh.select(F.col(id_col), x)
    mins = [
        F.min(F.pmod(F.col("x") * a + b, F.lit(MERSENNE_P))).alias(f"h{i}")
        for i, (a, b) in enumerate(_hash_params(num_hashes))
    ]
    sigs = based.groupBy(id_col).agg(*mins)
    return sigs.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sig_df: DataFrame, id_col: str, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(id_a, id_b) candidate pairs: documents sharing >=1 LSH band.

    Bands the signature into ``bands`` slices of r = k/bands rows;
    band key = xxhash64 of the slice. Self-join per bucket with
    id_a < id_b, then distinct. With b=8, r=4 the collision
    probability is ~1-(1-j^4)^8 — steep around Jaccard ~0.6.
    """
    r = num_hashes // bands
    band_rows = sig_df.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.xxhash64(
                            F.lit(b), F.concat_ws(",", *[F.col("sig")[b * r + j].cast("string") for j in range(r)])
                        ).alias("band_hash"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def exact_jaccard_for_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    shingle_n: int | None = None,
    elem_rows: DataFrame | None = None,
) -> DataFrame:
    """D4: exact set-Jaccard for given (id_a, id_b) pairs —
    array_intersect/array_union on pre-deduped element arrays; only
    candidate pairs pay the cost.

    ``shingle_n=None`` compares token sets; an integer compares n-gram
    shingle sets — use the same granularity as the candidate
    generator (MinHash signatures hash shingles, so near_dup_pairs
    verifies in shingle space; token sets are too coarse on
    small-vocabulary corpora where every doc shares most words).

    Element sets are assembled row-wise (explode/shingle rows ->
    collect_set) instead of via array-fold expressions — same
    codegen-vs-interpreted reasoning as shingle_table.

    ``elem_rows``: an already-built (id, elem) table to reuse — a
    candidate generator that materialized the same shingle rows
    (prefix filter, containment) passes its persisted table here so
    the normalize->tokenize->ngram lineage does not run a second
    time; duplicates are fine (collect_set dedups).
    """
    if elem_rows is not None:
        rows = elem_rows
    elif shingle_n is None:
        rows = ensure_parallelism(df).select(
            F.col(id_col), F.explode(tokens(normalize_text(F.col(text_col)))).alias("elem")
        )
    else:
        rows = shingle_table(df, id_col, text_col, shingle_n).withColumnRenamed("shingle", "elem")
    # The element-set table feeds BOTH sides of the pair join; persist
    # so the tokenize/shingle + collect_set lineage runs once (same
    # lifecycle contract as minhash_signatures — released by
    # caching.release_tracked after the query).
    tok = tracked_persist(rows.groupBy(id_col).agg(F.collect_set("elem").alias("toks")))
    return (
        pairs.join(tok.withColumnsRenamed({id_col: "id_a", "toks": "toks_a"}), "id_a")
        .join(tok.withColumnsRenamed({id_col: "id_b", "toks": "toks_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
                / F.size(F.array_union("toks_a", "toks_b"))
            ).alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Full D3+D4 pipeline: MinHash -> LSH candidates -> exact-Jaccard
    filter at ``threshold``.

    Signatures are persisted for the duration of the plan: the DAG
    uses them twice (band explode + both sides of the bucket
    self-join), and without a persist Spark recomputes the whole
    shingle+hash lineage for each use — at any scale that's 3x the
    dominant cost (SURVEY.md §4 caching row).

    Lifecycle note: the persist cannot be released inside this
    function (the returned plan is lazy and still references the
    cached blocks). The persist is tracked: long-lived sessions
    invoking this repeatedly call ``caching.release_tracked()``
    between queries, as bench.py does after every query.

    r11 (guide §5 cache-on-reuse): the SHINGLE table is persisted
    and shared between the signature aggregate and the exact-verify
    collect_set (via ``exact_jaccard_for_pairs``'s ``elem_rows``) —
    before, the verify stage re-ran the whole normalize->tokenize->
    shingle window lineage from the raw corpus. Both downstream
    aggregations groupBy(id), riding the shingle window's existing
    id-partitioning (no new exchange). Interleaved A/B:
    q_minhash_near_dups x0.81, q_dedup_pipeline_report x0.62
    (5.58 -> 3.45 s best), outputs row-identical.
    """
    sh = tracked_persist(shingle_table(df, id_col, text_col, shingle_n))
    x = F.pmod(F.xxhash64(F.col("shingle")), F.lit(MERSENNE_P)).alias("x")
    mins = [
        F.min(F.pmod(F.col("x") * a + b, F.lit(MERSENNE_P))).alias(f"h{i}")
        for i, (a, b) in enumerate(_hash_params(num_hashes))
    ]
    sigs = tracked_persist(
        sh.select(F.col(id_col), x)
        .groupBy(id_col)
        .agg(*mins)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )
    cands = lsh_candidate_pairs(sigs, id_col, num_hashes, bands)
    return exact_jaccard_for_pairs(
        df,
        id_col,
        text_col,
        cands,
        shingle_n,
        elem_rows=sh.withColumnRenamed("shingle", "elem"),
    ).filter(F.col("jaccard") >= threshold)


# --------------------------------------------------------------------------
# SimHash (pandas-UDF surface: the X1/X2 vectorized-Python example)
# --------------------------------------------------------------------------


def simhash_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash: bigint 64-bit-as-signed) via pure Catalyst
    expressions — the D3-alternative hot path, fully codegen'd.

    Per document: whitespace tokens (multiplicity kept), one
    xxhash64 per token, then a 64-way majority bit vote — bit i of
    the signature is set iff more than half the token hashes have
    bit i set (identical to summing ±1 votes and testing > 0). The
    vote is a groupBy(id) with 64 conditional sums + a count: all
    map-side-combined long aggregates, so the shuffle carries one
    65-long row per (id, partition) — no Python worker, no Arrow
    transfer, no per-row interpreted loop (the round-1 pandas-UDF
    version was the slowest query in the suite; see
    simhash_table_pandas for the retained X1 surface demo).

    Token-less documents get signature 0 (left join + coalesce),
    matching the UDF twin's convention.
    """
    base = ensure_parallelism(df)
    toks = base.select(
        F.col(id_col),
        F.explode(
            F.filter(F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != "")
        ).alias("t"),
    )
    h = F.xxhash64(F.col("t"))
    # r11 (guide §2.3 "narrower types" applied to aggregate WIDTH):
    # SWAR vote — bits i and i+32 share ONE long accumulator with two
    # 32-bit lanes, so the groupBy carries 32 sums instead of 64 and
    # the codegen unit (the dominant cold-plan cost: 8.7 s first
    # execution vs 2.1 s warm before) halves. EXACT, not approximate:
    # a string cell is < 2^31 bytes, so tokens/doc < 2^31 and a lane
    # can never carry into its neighbor. Values identical (A/B
    # --verify row-identical; per-bit counts reconstructed exactly).
    bit_sums = [
        F.sum(
            F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1))
            + F.shiftleft(
                F.shiftrightunsigned(h, i + 32).bitwiseAND(F.lit(1)), 32
            )
        ).alias(f"b{i}")
        for i in range(32)
    ]
    votes = toks.groupBy(id_col).agg(*bit_sums, F.count(F.lit(1)).alias("n"))
    sig = None
    one = F.lit(1).cast("long")
    for i in range(32):
        lo = F.col(f"b{i}").bitwiseAND(F.lit(0xFFFFFFFF))
        hi = F.shiftrightunsigned(F.col(f"b{i}"), 32)
        term = F.when(lo * 2 > F.col("n"), F.shiftleft(one, i)).otherwise(
            F.lit(0).cast("long")
        ).bitwiseOR(
            F.when(hi * 2 > F.col("n"), F.shiftleft(one, i + 32)).otherwise(
                F.lit(0).cast("long")
            )
        )
        sig = term if sig is None else sig.bitwiseOR(term)
    sigs = votes.select(F.col(id_col), sig.alias("simhash"))
    return (
        base.select(id_col)
        .join(sigs, id_col, "left")
        .select(F.col(id_col), F.coalesce(F.col("simhash"), F.lit(0).cast("long")).alias("simhash"))
    )


def simhash_table_pandas(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash) via an Arrow-batched pandas UDF — retained as
    the X1 vectorized-Python surface demo (md5-prefix bit votes).
    The declared query path uses the Catalyst ``simhash_table``;
    this twin exists to prove the pandas-UDF plumbing and is
    property-tested the same way (tests/test_minhash.py)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash_udf(texts: pd.Series) -> pd.Series:
        import numpy as np

        out = []
        for t in texts:
            toks = [w for w in (t or "").lower().split() if w]
            if not toks:
                out.append(0)
                continue
            votes = np.zeros(64, dtype=np.int64)
            for w in toks:
                digest = hashlib.md5(w.encode()).digest()[:8]
                bits = np.unpackbits(np.frombuffer(digest, dtype=np.uint8))
                votes += 2 * bits.astype(np.int64) - 1
            sig = int.from_bytes(np.packbits((votes > 0).astype(np.uint8)).tobytes(), "big")
            out.append(sig - (1 << 64) if sig >= 1 << 63 else sig)  # to signed
        return pd.Series(out, dtype="int64")

    return ensure_parallelism(df).select(
        F.col(id_col), simhash_udf(F.col(text_col)).alias("simhash")
    )


def simhash_candidate_pairs(sim_df: DataFrame, id_col: str) -> DataFrame:
    """(id_a, id_b, hamming): docs sharing any of the four 16-bit
    simhash chunks (Hamming-distance blocking).

    The full signature is carried through the chunk explode so the
    Hamming distance is computed inside the same self-join — no
    third scan of ``sim_df``. Callers should persist ``sim_df``:
    AQE typically broadcasts one join side, so the two sides do NOT
    canonicalize to a reusable exchange and an unpersisted input is
    computed twice."""
    chunks = sim_df.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("chunk"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", "c.chunk_idx", "c.chunk")
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )


def prefix_filter_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """PPJoin-style prefix filtering: LOSSLESS candidate generation
    for set-Jaccard >= ``threshold`` without MinHash and without
    all-pairs.

    Order each document's shingle set by global rarity (rarest
    first); if J(a,b) >= t, the first ``|x| - ceil(t*|x|) + 1``
    elements of a and b MUST intersect (pigeonhole on the overlap
    bound), so an equi-join on prefix elements finds every
    qualifying pair — unlike MinHash-LSH this can never miss one.
    The join key is a rare element by construction, so prefix
    postings are short and the candidate fan-out stays near the true
    pair count. Returns distinct (id_a, id_b) with id_a < id_b."""
    from pyspark.sql import Window

    # The deduped shingle table is read FOUR times below (freq, sizes,
    # ranked, both posting sides); persist so the normalize->tokenize->
    # ngram->explode lineage executes once (release_tracked lifecycle).
    # ``shingles``: a caller that ALSO needs the shingle rows (the
    # exact-verify stage) builds and persists the deduped (id,
    # shingle) table once and shares it here.
    sh = (
        shingles
        if shingles is not None
        else tracked_persist(shingle_table(df, id_col, text_col, shingle_n).distinct())
    )
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    w = Window.partitionBy(id_col).orderBy("freq", "shingle")
    ranked = (
        sh.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .join(sizes, id_col)
        .where(F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select(F.col(id_col), "shingle", "sz")
    )
    # NO workload-partition floor here, by measurement (r9): the
    # candidate rows this join emits are two ids (~20 B), so AQE's
    # byte-based sizing is ADEQUATE — unlike the wide-row pair joins
    # (resource-allocation links, SemDeDup blocks) where the r8 32x
    # spill knee lives and catalog.ensure_shuffle_parallelism measured
    # 187 s -> 51 s. Here the same floor measured 148 s -> 309 s at
    # the v1 32x probe (pinning the partitioning blocks AQE's runtime
    # choices and buys nothing), and persisting `ranked` to measure
    # the exact posting workload was worse still (422 s: the window
    # sort otherwise pipelines straight into the join's shuffle
    # write). On the Zipfian v2 fixture the floor is within variance
    # either way. Both join sides read the identical `ranked` subplan,
    # so the exchange is planned once and reused.
    # r12 (guide §3, PPJoin length filter): J(a,b) >= t forces
    # min(|a|,|b|) >= t * max(|a|,|b|) (|A∩B| <= min, |A∪B| >= max), so
    # posting rows carry sz and the equi-join drops length-incompatible
    # pairs BEFORE the distinct and the verify joins. Lossless: every
    # dropped pair has exact J < t (the 1e-9 slack errs keep-side on
    # float boundaries, so no true pair is ever cut). A/B x0.78 on
    # q_prefix_filtered_pairs, outputs row-identical.
    a = ranked.withColumnsRenamed({id_col: "id_a", "sz": "sz_a"})
    b = ranked.withColumnsRenamed({id_col: "id_b", "sz": "sz_b"})
    return (
        a.join(b, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("sz_a") >= F.ceil(F.lit(threshold) * F.col("sz_b") - F.lit(1e-9)))
            & (F.col("sz_b") >= F.ceil(F.lit(threshold) * F.col("sz_a") - F.lit(1e-9)))
        )
        .select("id_a", "id_b")
        .distinct()
    )
