"""Training-data curation declared queries (SURVEY.md §2.12 E39-E42):
PII redaction, benchmark-contamination detection, repetition
filtering, and temperature-based mixture allocation — the four
curation passes a 100 TB pretraining pipeline runs between raw
ingest and tokenization.

All four are pure Catalyst plans; every one is oracle-checked. The
documents fixture is clean synthetic prose (no real PII), so the
redaction query derives a deterministic PII-bearing column from
(doc_id, text) first — identically on both engines — and then
scrubs it; the scrub patterns stay in the Spark/DuckDB common regex
subset (SURVEY.md §2.8 F2 dialect warning).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import ensure_parallelism, load_table
from fts_analysis_datalake_spark.operators.text import (
    ngrams,
    normalize_text,
    sql_ngrams,
    sql_tokens,
    tokens,
)
from fts_analysis_datalake_spark.registry import query

# --------------------------------------------------------------------------
# E39: PII redaction — regex scrub of emails / phone numbers / long ids
# --------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "\\+?[0-9]{1,3}-[0-9]{3}-[0-9]{4}"
_LONGNUM_RE = "[0-9]{7,}"


@query(
    "q_pii_redaction",
    oracle=f"""
    WITH seeded AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' reach me at user' || doc_id ||
             '@mail.example or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
             ' acct ' || CAST(10000000 + doc_id AS VARCHAR) AS raw
      FROM documents)
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(raw,
             '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g'),
             '{_LONGNUM_RE}', '<ID>', 'g') AS redacted,
           length(raw) - length(regexp_replace(regexp_replace(regexp_replace(raw,
             '{_EMAIL_RE}', '', 'g'),
             '{_PHONE_RE}', '', 'g'),
             '{_LONGNUM_RE}', '', 'g')) AS n_chars_redacted
    FROM seeded
    """,
    tags=("E39", "F1", "F2"),
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: email / phone / long-account-number patterns
    replaced by typed placeholder tokens, plus a per-doc count of
    scrubbed characters (the audit metric a compliance report needs).
    The fixture corpus is clean, so a deterministic PII-bearing
    column is derived from (doc_id, text) first — same construction
    in the oracle. Pure map-side regexp_replace chain: no shuffle at
    all, trivially scan-parallel at 100 TB. (No rebalance here: the
    regex chain is cheap enough that a single small-file partition
    beats paying an exchange — and the plan stays Exchange-free, as
    tests/test_plans.py asserts.)"""
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.substring("text", 1, 40),
        F.lit(" reach me at user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" acct "),
        (F.lit(10000000) + F.col("doc_id")).cast("string"),
    )

    def scrub(c, repl_email, repl_phone, repl_num):
        out = F.regexp_replace(c, _EMAIL_RE, repl_email)
        out = F.regexp_replace(out, _PHONE_RE, repl_phone)
        return F.regexp_replace(out, _LONGNUM_RE, repl_num)

    seeded = d.select("doc_id", raw.alias("raw"))
    return seeded.select(
        "doc_id",
        scrub(F.col("raw"), "<EMAIL>", "<PHONE>", "<ID>").alias("redacted"),
        (
            F.length("raw") - F.length(scrub(F.col("raw"), "", "", ""))
        ).alias("n_chars_redacted"),
    )


# --------------------------------------------------------------------------
# E40: benchmark contamination — shared-shingle join against an eval set
# --------------------------------------------------------------------------

_CONTAM_N = 3  # fixture vocab is ~30 words, so 3-grams collide often
# enough to keep the check non-vacuous; a real corpus uses 8-13-gram
# shingles with the identical plan.


@query(
    "q_benchmark_contamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct({sql_ngrams('toks', _CONTAM_N)}))
               AS shingle
      FROM tok),
    bench AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
    SELECT s.doc_id, COUNT(*) AS n_shared
    FROM sh s JOIN bench b USING (shingle)
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
    tags=("E40", "D11", "J3", "A1"),
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: training docs sharing any n-token
    shingle with the benchmark split (doc_id % 97 == 0 stands in for
    the held-out set) are flagged with their shared-shingle count.
    Per-doc shingles are deduped BEFORE the join (array_distinct on
    the unexploded list — no shuffle), the benchmark side collapses
    to a distinct shingle set small enough to broadcast, and the
    join key is the md5 of the shingle, so the exchange carries
    16-byte digests instead of 8-token strings. This is the n-gram
    overlap pass every pretraining corpus runs against its eval
    suites."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # Both the bench side and the corpus side consume this lineage;
    # without a persist the tokenize+shingle chain runs twice.
    sh = tracked_persist(
        d.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    ngrams(tokens(normalize_text(F.col("text"))), _CONTAM_N)
                )
            ).alias("shingle"),
        )
        .select("doc_id", F.md5("shingle").alias("sig"))
    )
    bench = sh.where(F.col("doc_id") % 97 == 0).select("sig").distinct()
    return (
        sh.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "sig", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


# --------------------------------------------------------------------------
# E41: repetition filter — duplicate-shingle ratio per document
# --------------------------------------------------------------------------


@query(
    "q_repetition_filter",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {sql_ngrams(sql_tokens('text'), 3)} AS shingles
      FROM documents)
    SELECT doc_id,
           len(shingles) AS n_shingles,
           1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
               / len(shingles) AS rep_ratio,
           1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
               / len(shingles) > 0.5 AS is_repetitive
    FROM sh
    WHERE len(shingles) > 0
    """,
    tags=("E41", "D11", "D13", "F8"),
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition scoring: the fraction of 3-token
    shingles that are duplicates within their own document. Entirely
    per-row higher-order expressions — shingle list, distinct count,
    ratio — so the pass is map-side with NO shuffle and no explode:
    the quality gate every corpus applies before tokenization.

    Expression hygiene: Catalyst's CollapseProject substitutes a
    projected column into every downstream reference, so naively
    deriving n/ distinct/ ratio/ flag from a ``shingles`` column
    re-evaluates the whole normalize->tokenize->shingle chain per
    reference (6x; measured 22 s at sf0.1). The rewrite reduces the
    expensive chain to exactly TWO evaluations (the two int stats);
    the ratio and flag are derived from the ints, and the emptiness
    filter tests the cheap token count instead of the shingle list."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh_expr = ngrams(tokens(normalize_text(F.col("text"))), 3)
    stats = d.select(
        "doc_id",
        F.size(sh_expr).alias("n_shingles"),
        F.size(F.array_distinct(sh_expr)).alias("n_distinct"),
    ).where(F.size(tokens(normalize_text(F.col("text")))) >= 3)
    rep = F.lit(1.0) - F.col("n_distinct").cast("double") / F.col("n_shingles")
    return stats.select(
        "doc_id",
        "n_shingles",
        rep.alias("rep_ratio"),
        (rep > 0.5).alias("is_repetitive"),
    )


# --------------------------------------------------------------------------
# E42: mixture allocation — temperature-weighted per-bucket sampling rates
# --------------------------------------------------------------------------

_BUDGET_FRAC = 0.25  # target corpus size as a fraction of total tokens
_W_SCALE = 1000  # sqrt weights quantized to integers for exact sums


@query(
    "q_mixture_allocation",
    oracle=f"""
    WITH buckets AS (
      SELECT lang, source, CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang, source),
    weighted AS (
      SELECT lang, source, n_tokens,
             CAST(FLOOR(sqrt(n_tokens) * {_W_SCALE} + 0.5) AS BIGINT) AS w
      FROM buckets)
    SELECT lang, source, n_tokens,
           CAST(FLOOR({_BUDGET_FRAC} * (SELECT SUM(n_tokens) FROM weighted) * w
                / (SELECT SUM(w) FROM weighted)) AS BIGINT) AS token_budget,
           LEAST({_BUDGET_FRAC} * (SELECT SUM(n_tokens) FROM weighted) * w
                 / (SELECT SUM(w) FROM weighted) / n_tokens, 1.0) AS sample_rate
    FROM weighted
    """,
    tags=("E42", "A1", "F6"),
)
def q_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture planning: distribute a 25%-of-total token
    budget across (lang, source) buckets by temperature-flattened
    weights (w = sqrt(tokens), i.e. tau = 2) so low-resource buckets
    are upsampled relative to their share; emit each bucket's token
    budget and the per-row sampling rate that realizes it (capped at
    1.0). Weights are quantized to integers so the global weight sum
    is order-independent; the totals ride a 1-row broadcast back
    onto the (tiny) bucket table. This plan's cost is ONE scan of
    the corpus regardless of bucket count."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    buckets = d.groupBy("lang", "source").agg(
        F.sum(F.size(tokens(normalize_text(F.col("text"))))).alias("n_tokens")
    )
    weighted = buckets.withColumn(
        "w", F.floor(F.sqrt("n_tokens") * _W_SCALE + F.lit(0.5)).cast("long")
    )
    totals = weighted.agg(
        F.sum("n_tokens").alias("tot_tokens"), F.sum("w").alias("tot_w")
    )
    budget = F.lit(_BUDGET_FRAC) * F.col("tot_tokens") * F.col("w") / F.col("tot_w")
    return (
        weighted.crossJoin(F.broadcast(totals))
        .select(
            "lang",
            "source",
            "n_tokens",
            F.floor(budget).cast("long").alias("token_budget"),
            F.least(budget / F.col("n_tokens"), F.lit(1.0)).alias("sample_rate"),
        )
    )


# --------------------------------------------------------------------------
# E69: feature-hashing vectorizer — fixed-dim hashed TF vectors
# --------------------------------------------------------------------------

_FH_DIM = 64


@query(
    "q_feature_hashed_vectors",
    oracle=None,  # xxhash64 bucketing is engine-specific; properties tested
    tags=("E69", "D9", "F9", "F8"),
)
def q_feature_hashed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: every document becomes a fixed 64-dim
    vector with vec[xxhash(token) % 64] += sign(token) — no
    vocabulary, no fit step, merge-free, which is why it scales to
    any corpus (the classic hashing-vectorizer used for cheap
    classifiers and dedup features). Explode -> two-level aggregate
    (map-side combined) -> map_from_entries -> dense array; the only
    shuffle carries (doc, bucket) partials. Determinism, dimension,
    and norm properties are asserted in tests/test_udfs.py."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("token")
    )
    h = F.xxhash64("token")
    cells = tok.select(
        "doc_id",
        F.pmod(h, F.lit(_FH_DIM)).cast("int").alias("bucket"),
        F.when(F.pmod(h, F.lit(2)) == 0, 1).otherwise(-1).alias("sign"),
    ).groupBy("doc_id", "bucket").agg(F.sum("sign").alias("w"))
    vec = (
        cells.groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "w"))
            ).alias("m")
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(_FH_DIM - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("m"), i.cast("int")), F.lit(0).cast("long")
                ).cast("double"),
            ).alias("vec"),
        )
    )
    nrm = F.sqrt(F.aggregate("vec", F.lit(0.0), lambda a, x: a + x * x))
    # r11: bind the norm ONCE per row (array-binding trick) — HOF
    # lambdas have no CSE, so referencing `nrm` inside the unit_vec
    # transform re-evaluated the 64-element fold per ELEMENT (64
    # interpreted folds/row; measured x0.57 after binding).
    packed = F.element_at(
        F.transform(
            F.array(nrm),
            lambda n: F.struct(
                n.alias("l2_norm"),
                F.transform(
                    "vec", lambda x: x / F.greatest(n, F.lit(1e-12))
                ).alias("unit_vec"),
            ),
        ),
        1,
    )
    return vec.select(
        "doc_id",
        F.size(F.filter("vec", lambda x: x != 0)).alias("nnz"),
        packed["l2_norm"].alias("l2_norm"),
        packed["unit_vec"].alias("unit_vec"),
    )


@query(
    "q_feature_hashed_md5_cells",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({sql_tokens('text')}) AS token FROM documents),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5('fh:' || token), 1, 13)) AS BIGINT) AS h
      FROM tok),
    cells AS (
      SELECT doc_id, h % {_FH_DIM} AS bucket,
             CASE WHEN h % 2 = 0 THEN 1 ELSE -1 END AS sign
      FROM h)
    SELECT doc_id, CAST(bucket AS INTEGER) AS bucket,
           CAST(SUM(sign) AS BIGINT) AS w
    FROM cells GROUP BY doc_id, bucket
    HAVING SUM(sign) <> 0
    """,
    tags=("E69", "D9", "A1", "F8"),
)
def q_feature_hashed_md5_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hash-checkable E69 twin (r6): same hashing-trick semantics
    as q_feature_hashed_vectors — vec[h(token) % 64] += sign(token) —
    but with the repo's md5-derived 52-bit hash (E175 discipline)
    instead of xxhash64, and emitted as EXACT integer (doc, bucket,
    weight) cells rather than a double array (the driver's sort-based
    canonicalizer can't hash arrays; the cells ARE the sparse vector,
    losslessly). The DuckDB oracle replays hash, bucket, sign, and
    sum bit-identically, upgrading the feature-hashing row from
    property-tested to value-verified. The xxhash64 form stays the
    production path (JVM-side hashing, no md5 cost). Same scale
    shape: explode -> one map-side-combined aggregate on (doc,
    bucket); the 52-bit hash is non-negative, so % and pmod agree."""
    from fts_analysis_datalake_spark.queries.sketches_search import _h52

    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("token")
    )
    h = _h52("fh", F.col("token"))
    return (
        tok.select(
            "doc_id",
            F.pmod(h, F.lit(_FH_DIM)).cast("int").alias("bucket"),
            F.when(F.pmod(h, F.lit(2)) == 0, F.lit(1)).otherwise(F.lit(-1)).alias(
                "sign"
            ),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sign").cast("bigint").alias("w"))
        .filter(F.col("w") != 0)
    )


# --------------------------------------------------------------------------
# E70: corpus filter funnel — first-failing-rule drop accounting
# --------------------------------------------------------------------------


@query(
    "q_corpus_filter_funnel",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             1.0 - CAST(len(list_distinct({sql_ngrams(sql_tokens('text'), 3)}))
                        AS DOUBLE)
                 / greatest(len({sql_ngrams(sql_tokens('text'), 3)}), 1)
               AS rep_ratio
      FROM documents),
    labeled AS (
      SELECT CASE
               WHEN lang NOT IN ('en', 'es', 'fr', 'de') THEN 'drop_lang'
               WHEN n_chars < 160 THEN 'drop_too_short'
               WHEN rep_ratio > 0.01 THEN 'drop_repetitive'
               ELSE 'keep'
             END AS outcome
      FROM scored)
    SELECT outcome, COUNT(*) AS n_docs
    FROM labeled GROUP BY outcome
    """,
    tags=("E70", "D13", "E41", "A1"),
)
def q_corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation decision, end-to-end: every document gets exactly
    one outcome — the FIRST failing rule (language allowlist, length
    floor, repetition ceiling, tuned so every gate fires on the
    fixtures) or 'keep' — and the funnel reports
    how much each gate costs. First-fail semantics (vs independent
    rule counts) is what an operator needs to re-order or relax
    gates; the whole pass is one scan + a 4-row aggregate."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = ngrams(tokens(normalize_text(F.col("text"))), 3)
    rep = F.lit(1.0) - F.size(F.array_distinct(sh)).cast("double") / F.greatest(
        F.size(sh), F.lit(1)
    )
    outcome = (
        F.when(~F.col("lang").isin("en", "es", "fr", "de"), "drop_lang")
        .when(F.col("n_chars") < 160, "drop_too_short")
        .when(rep > 0.01, "drop_repetitive")
        .otherwise("keep")
    )
    return d.select(outcome.alias("outcome")).groupBy("outcome").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --------------------------------------------------------------------------
# E71: deterministic train/val/test split — content-hash ranges
# --------------------------------------------------------------------------


@query(
    "q_hash_split_assignment",
    oracle="""
    WITH b AS (
      SELECT doc_id, n_chars, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hx
      FROM documents)
    SELECT CASE WHEN hx <= 'cb' THEN 'train'
                WHEN hx <= 'e5' THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM b GROUP BY 1
    """,
    tags=("E71", "O4", "F11", "A1"),
)
def q_hash_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible train/val/test assignment by hashing the
    document KEY into hex ranges (~80/10/10) — engine- and
    run-independent (the property RNG splits lack), stable under
    corpus growth (a document's split never changes when others are
    added), and shuffle-free: the split is a map-side expression.
    The report shows realized sizes; the same expression applied at
    write time partitions the corpus physically."""
    d = load_table(spark, sf_dir, "documents")
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(hx <= "cb", "train").when(hx <= "e5", "val").otherwise("test")
    )
    return d.select(split.alias("split"), "n_chars").groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --------------------------------------------------------------------------
# E72: sequence packing — concat-then-chunk token bins
# --------------------------------------------------------------------------

_PACK_WINDOW = 2048


@query(
    "q_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, len({sql_tokens('text')}) AS n_tok FROM documents),
    c AS (
      SELECT doc_id, n_tok,
             SUM(n_tok) OVER (ORDER BY doc_id) - n_tok AS prev_cum
      FROM t)
    SELECT CAST(FLOOR(prev_cum / {_PACK_WINDOW}) AS BIGINT) AS bin,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS bin_tokens
    FROM c GROUP BY 1
    """,
    tags=("E72", "W4", "A1", "D9"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining sequence packing, concat-then-chunk form: documents
    are laid out in a deterministic order (doc_id), the running token
    offset assigns each to its context-window bin (floor(offset/2048))
    and the report shows docs-per-bin and fill. The cumulative sum is
    ONE window over per-doc token counts (tiny vs the corpus scan);
    at 100 TB the same offsets come from per-partition subtotals + a
    scan-partition prefix (two-phase cumsum), same math."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id", F.size(tokens(normalize_text(F.col("text")))).alias("n_tok")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    c = t.select(
        "doc_id", "n_tok", (F.sum("n_tok").over(w) - F.col("n_tok")).alias("prev_cum")
    )
    return c.groupBy(
        F.floor(F.col("prev_cum") / _PACK_WINDOW).cast("long").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("bin_tokens"),
    )


# --------------------------------------------------------------------------
# E100: the curation pipeline, end to end — staged survivor counts
# --------------------------------------------------------------------------


@query(
    "q_curation_pipeline_stages",
    oracle=f"""
    WITH raw AS (SELECT doc_id, text, lang, n_chars FROM documents),
    s1 AS (SELECT * FROM raw WHERE lang IN ('en', 'es', 'fr', 'de')),
    s2 AS (SELECT * FROM s1 WHERE n_chars >= 160),
    s3 AS (
      SELECT doc_id, lang, n_chars FROM (
        SELECT doc_id, lang, n_chars,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS rn
        FROM s2)
      WHERE rn = 1),
    s4 AS (
      SELECT doc_id, n_chars,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb'
                    THEN 'train'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5'
                    THEN 'val'
                  ELSE 'test' END AS split
      FROM s3)
    SELECT 'raw' AS stage, CAST(1 AS BIGINT) AS stage_idx,
           COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM raw
    UNION ALL SELECT 'lang_filter', 2, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
    FROM s1
    UNION ALL SELECT 'length_filter', 3, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
    FROM s2
    UNION ALL SELECT 'exact_dedup', 4, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
    FROM s3
    UNION ALL SELECT 'split_' || split, 5, COUNT(*), CAST(SUM(n_chars) AS BIGINT)
    FROM s4 GROUP BY split
    """,
    tags=("E100", "E70", "E71", "D1", "A1"),
)
def q_curation_pipeline_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation pipeline as ONE lineage with per-stage
    accounting: raw -> language allowlist -> length floor -> exact
    dedup (deterministic min-id survivor per content hash) -> split
    assignment — the end-to-end run a data team ships, with the
    stage table an auditor reads. Every stage is the operator
    declared individually elsewhere (E70/E71/D1); composing them in
    one DataFrame lineage means Catalyst sees ONE plan and the scan
    happens once per emitted stage row-set, not once per rule."""
    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    s1 = raw.where(F.col("lang").isin("en", "es", "fr", "de"))
    s2 = s1.where(F.col("n_chars") >= 160)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    s3 = (
        s2.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "n_chars")
    )
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    s4 = s3.select(
        "doc_id",
        "n_chars",
        F.when(hx <= "cb", "train").when(hx <= "e5", "val").otherwise("test").alias(
            "split"
        ),
    )

    def stage(df, name, idx):
        return df.agg(
            F.lit(name).alias("stage"),
            F.lit(idx).cast("long").alias("stage_idx"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("n_chars"),
        )

    splits = s4.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    ).select(
        F.concat(F.lit("split_"), F.col("split")).alias("stage"),
        F.lit(5).cast("long").alias("stage_idx"),
        "n_docs",
        "n_chars",
    )
    return (
        stage(raw, "raw", 1)
        .unionByName(stage(s1, "lang_filter", 2))
        .unionByName(stage(s2, "length_filter", 3))
        .unionByName(stage(s3, "exact_dedup", 4))
        .unionByName(splits)
    )


# --------------------------------------------------------------------------
# E101: segment-level boilerplate dedup — drop repeated spans, rebuild docs
# --------------------------------------------------------------------------

_SEG_W = 8  # tokens per segment
_SEG_MIN_DOCS = 2  # a segment in >= this many distinct docs is boilerplate


@query(
    "q_segment_dedup_rebuild",
    oracle=f"""
    WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
    segs AS (
      SELECT doc_id, i AS seg_idx,
             array_to_string(list_slice(toks, (i-1)*{_SEG_W}+1, i*{_SEG_W}), ' ') AS seg
      FROM t, unnest(generate_series(1, CAST(ceil(len(toks)/{_SEG_W}.0) AS BIGINT))) u(i)),
    boiler AS (
      SELECT seg FROM segs GROUP BY seg
      HAVING COUNT(DISTINCT doc_id) >= {_SEG_MIN_DOCS}),
    kept AS (SELECT * FROM segs WHERE seg NOT IN (SELECT seg FROM boiler)),
    rebuilt AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
      FROM kept GROUP BY doc_id),
    totals AS (SELECT doc_id, COUNT(*) AS n_segs FROM segs GROUP BY doc_id)
    SELECT totals.doc_id, n_segs,
           n_segs - COALESCE(n_kept, 0) AS n_dropped,
           COALESCE(clean_text, '') AS clean_text
    FROM totals LEFT JOIN rebuilt ON totals.doc_id = rebuilt.doc_id
    """,
    tags=("E101", "D1", "F7", "A9"),
)
def q_segment_dedup_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (segment-level) exact dedup — the boilerplate
    remover that document-level dedup cannot express: chunk each doc
    into fixed 8-token segments, drop every segment that occurs
    in >= 2 distinct documents (repeated header/footer/
    quoted content), and REBUILD the surviving document in original
    segment order. At 100 TB this is the RefinedWeb/CCNet line-dedup
    pass re-expressed: the only wide ops are a segment-frequency
    aggregate over md5-sized keys and a per-doc ordered reassembly,
    both map-side-combinable; texts shuffle once for the rebuild
    (segment strings, never full docs, cross the wire for the
    frequency count). Output is per-doc accounting + the cleaned
    text, so the pass is auditable (chars in vs chars out)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens(normalize_text(F.col("text"))).alias("toks"))
    # Segment list built over indices with the token array bound as a
    # column attribute on a separate projection — the lambda slices a
    # materialized array; the tokenizer chain runs once per row (the
    # E41 O(tokens^2) lesson).
    seg_arr = F.transform(
        F.sequence(F.lit(1), F.ceil(F.size("toks") / F.lit(float(_SEG_W))).cast("int")),
        lambda i: F.array_join(
            F.slice(F.col("toks"), (i - F.lit(1)) * _SEG_W + F.lit(1), _SEG_W), " "
        ),
    )
    segs = toks.select("doc_id", F.posexplode(seg_arr).alias("seg_idx", "seg"))
    boiler = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= _SEG_MIN_DOCS)
        .select("seg")
    )
    kept = segs.join(F.broadcast(boiler), "seg", "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
    )
    totals = segs.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        "n_segs",
        (F.col("n_segs") - F.coalesce("n_kept", F.lit(0))).alias("n_dropped"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# --------------------------------------------------------------------------
# E102: unigram LM negative-log-likelihood quality scoring (CCNet-style)
# --------------------------------------------------------------------------


@query(
    "q_unigram_logprob_quality",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents),
    vocab AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
    tot AS (SELECT SUM(c) AS t FROM vocab),
    q AS (SELECT term,
                 CAST(FLOOR(-ln(CAST(c AS DOUBLE) / t) * 1e9 + 0.5) AS BIGINT) AS qnll
          FROM vocab, tot),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_tokens,
             SUM(qnll) AS snll
      FROM tok JOIN q USING (term) GROUP BY doc_id)
    SELECT doc_id, n_tokens,
           CAST(snll AS DOUBLE) / (n_tokens * 1e9) AS mean_nll,
           ntile(10) OVER (ORDER BY snll * 1.0 / n_tokens, doc_id) AS nll_decile
    FROM per_doc
    """,
    tags=("E102", "D13", "A1", "W2"),
)
def q_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM quality scoring, CCNet-style with a unigram
    model: train token frequencies on the corpus itself (one
    aggregate over the exploded token stream), score every document
    by mean negative log-likelihood, and decile-bucket the corpus —
    high-NLL documents are the weird tail (rare-token soup) a
    perplexity filter drops before pretraining. The ln terms are
    1e-9-quantized integers (the established cross-engine libm
    guard), so the per-doc sums are exact and the single final
    division is bit-identical in both engines. At 100 TB the vocab
    aggregate is a map-side-combined shuffle of terms (bounded by
    vocabulary, not corpus) and the score join broadcasts the
    vocabulary."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("term")
    )
    vocab = tok.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    tot = vocab.agg(F.sum("c").alias("t"))
    q = vocab.crossJoin(F.broadcast(tot)).select(
        "term",
        F.floor(-F.log(F.col("c").cast("double") / F.col("t")) * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("qnll"),
    )
    per_doc = (
        tok.join(F.broadcast(q), "term")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("qnll").alias("snll"))
    )
    w = Window.orderBy(F.col("snll") * 1.0 / F.col("n_tokens"), "doc_id")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        (F.col("snll").cast("double") / (F.col("n_tokens") * F.lit(1e9))).alias(
            "mean_nll"
        ),
        F.ntile(10).over(w).alias("nll_decile"),
    )


# --------------------------------------------------------------------------
# E141: train/test split leakage audit — near-dups crossing the split
# --------------------------------------------------------------------------

_LEAK_J = 0.4


@query(
    "q_split_leakage_audit",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, n_chars,
                      list_distinct({sql_tokens('text')}) AS toks,
                      CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'cb'
                           THEN 'train'
                           WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <= 'e5'
                           THEN 'val' ELSE 'test' END AS split
               FROM documents)
    SELECT a.doc_id AS id_a, a.split AS split_a,
           b.doc_id AS id_b, b.split AS split_b,
           CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(a.toks || b.toks)) AS jaccard
    FROM t a JOIN t b
      ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
    WHERE a.split <> b.split
      AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
            / len(list_distinct(a.toks || b.toks)) >= 0.4
    """,
    tags=("E141", "E41", "D4", "J11"),
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: near-duplicate pairs (blocked exact
    Jaccard >= 0.4, the q_dedup_clusters edge set) whose two
    members landed in DIFFERENT hash splits — the eval-contamination
    every training pipeline must check BEFORE publishing a benchmark
    number, because an 80/10/10 split of an un-deduplicated corpus
    leaks ~duplicate-rate of the test set into train.

    Composes two declared ops unchanged: the md5-prefix split
    assignment (E41, a map-side expression) annotates each side of
    the blocked-Jaccard candidate join (D4); the cross-split filter
    is map-side after the verify. The fix when this returns rows is
    cluster-aware splitting: assign by the dedup CLUSTER's canonical
    id instead of the member id."""
    from fts_analysis_datalake_spark.operators.dedup import exact_jaccard_for_pairs

    d = load_table(spark, sf_dir, "documents")
    hx = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(hx <= "cb", "train").when(hx <= "e5", "val").otherwise("test")
    )
    ds = d.withColumn("split", split)
    pairs = (
        ds.alias("a")
        .join(
            ds.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.split") != F.col("b.split"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("a.split").alias("split_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("b.split").alias("split_b"),
        )
    )
    verified = exact_jaccard_for_pairs(d, "doc_id", "text", pairs.select("id_a", "id_b"))
    return (
        verified.filter(F.col("jaccard") >= _LEAK_J)
        .join(pairs, ["id_a", "id_b"])
        .select("id_a", "split_a", "id_b", "split_b", "jaccard")
    )


# --------------------------------------------------------------------------
# E142: shingle novelty — how much of each doc is new to the corpus
# --------------------------------------------------------------------------


@query(
    "q_shingle_novelty_scores",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id, unnest({sql_ngrams(sql_tokens('text'), 3)}) AS shingle
      FROM documents),
    owner AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN owner.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(SUM(CASE WHEN owner.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) AS novelty
    FROM sh JOIN owner USING (shingle)
    GROUP BY sh.doc_id
    HAVING CAST(SUM(CASE WHEN owner.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*) < 1.0
    """,
    tags=("E142", "D11", "A1", "J1"),
)
def q_shingle_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty scoring for incremental ingest: per document, the
    fraction of its distinct 3-gram shingles whose FIRST owner (min
    doc_id across the corpus) is the document itself — a doc full of
    shingles first seen elsewhere is boilerplate/quotation; curation
    samplers upweight high-novelty docs. Output keeps only docs with
    some repeated content (novelty < 1), the review queue.

    One shingle explode + one groupBy(shingle) for first owners +
    one groupBy(doc) for the score — the same two-shuffle shape as
    TF-IDF's docfreq pass, and the first-owner table is exactly the
    incremental state a daily ingest would checkpoint and merge
    (MIN is associative across batches)."""
    from fts_analysis_datalake_spark.operators.dedup import shingle_table

    d = load_table(spark, sf_dir, "documents")
    sh = tracked_persist(shingle_table(d, "doc_id", "text", 3).distinct())
    owner = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    ).cast("bigint")
    return (
        sh.join(owner, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            novel.alias("n_novel"),
            (novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
        )
        .filter(F.col("novelty") < 1.0)
    )


# --------------------------------------------------------------------------
# E143: cross-language fingerprint collisions — copied/mislabeled docs
# --------------------------------------------------------------------------


@query(
    "q_cross_lingual_fingerprints",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {sql_tokens('text')} AS toks FROM documents),
         f AS (SELECT doc_id, lang,
                      list_min(list_transform({sql_ngrams('toks', 3)}, s -> md5(s))) AS fp
               FROM t WHERE len(toks) >= 3)
    SELECT fp,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
           string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs
    FROM f
    GROUP BY fp
    HAVING COUNT(DISTINCT lang) > 1
    """,
    tags=("E143", "D1", "D11", "F11", "A3"),
)
def q_cross_lingual_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language duplicate detection: min-shingle fingerprints
    shared by documents carrying DIFFERENT language tags — each hit
    is either a mislabeled language id or the same content ingested
    under two language routes, both of which corrupt per-language
    mixture accounting (E42) if left in. The langs column is the
    sorted distinct tag list for triage.

    Same one-explode + min-agg fingerprint pass as E14's cluster
    query, with a countDistinct(lang) filter on top — at 100 TB the
    fingerprint groupBy shuffles one 32-char key per doc, nothing
    text-sized."""
    from fts_analysis_datalake_spark.operators.dedup import shingle_table

    d = load_table(spark, sf_dir, "documents")
    fp = (
        shingle_table(d, "doc_id", "text", 3)
        .join(d.select("doc_id", "lang"), "doc_id")
        .groupBy("doc_id", "lang")
        .agg(F.min(F.md5("shingle")).alias("fp"))
    )
    return (
        fp.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.min("doc_id").cast("bigint").alias("canonical_doc"),
            F.array_join(F.array_sort(F.collect_set("lang")), ",").alias("langs"),
        )
        .filter(F.col("n_langs") > 1)
    )


# --------------------------------------------------------------------------
# E151: blocklist category profile — multi-list policy tagging
# --------------------------------------------------------------------------

_BLOCKLISTS = {
    "contact": "(email|phone|address|contact)",
    "legal": "(copyright|license|terms|policy)",
    "promo": "(sale|discount|offer|free|deal)",
}


@query(
    "q_blocklist_category_profile",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {", ".join(
               f"CAST(SUM(CASE WHEN regexp_matches(lower(text), '{pat}') "
               f"THEN 1 ELSE 0 END) AS BIGINT) AS n_{cat}"
               for cat, pat in _BLOCKLISTS.items()
           )},
           CAST(SUM(CASE WHEN {" OR ".join(
               f"regexp_matches(lower(text), '{pat}')" for pat in _BLOCKLISTS.values()
           )} THEN 1 ELSE 0 END) AS BIGINT) AS n_any
    FROM documents
    GROUP BY lang
    """,
    tags=("E151", "D13", "F2", "A7"),
)
def q_blocklist_category_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy-filter planning pass: per language, how many documents
    trip each blocklist CATEGORY (contact-info, legal boilerplate,
    promotional copy) and how many trip any — the report that sizes a
    filter's blast radius BEFORE it runs, so a category that would
    delete half a language's corpus gets reviewed, not deployed.

    All categories are evaluated in ONE scan as parallel conditional
    sums (not one pass per list — the difference between 3 and 1
    corpus reads at 100 TB); patterns stay in the Spark/DuckDB common
    regex subset. The keyword lists are deliberately tame demo lists;
    the operator is the multi-list tagging shape, not the lists."""
    d = load_table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    hits = {cat: lower.rlike(pat) for cat, pat in _BLOCKLISTS.items()}
    any_hit = None
    for h in hits.values():
        any_hit = h if any_hit is None else (any_hit | h)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_docs")]
    aggs += [
        F.sum(F.when(h, 1).otherwise(0)).cast("bigint").alias(f"n_{cat}")
        for cat, h in hits.items()
    ]
    aggs.append(F.sum(F.when(any_hit, 1).otherwise(0)).cast("bigint").alias("n_any"))
    return d.groupBy("lang").agg(*aggs)


# --------------------------------------------------------------------------
# E164: leave-one-slice-out ablation — cheap data-valuation deltas
# --------------------------------------------------------------------------


@query(
    "q_slice_ablation_impact",
    oracle="""
    WITH slices AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY lang),
    tot AS (SELECT SUM(n) AS tn, SUM(chars) AS tc FROM slices)
    SELECT lang, n,
           CAST(tc AS DOUBLE) / tn AS corpus_mean_chars,
           CAST(tc - chars AS DOUBLE) / (tn - n) AS ablated_mean_chars,
           CAST(tc - chars AS DOUBLE) / (tn - n) - CAST(tc AS DOUBLE) / tn
             AS mean_shift
    FROM slices, tot
    """,
    tags=("E164", "D12", "A1", "A2"),
)
def q_slice_ablation_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-slice-out ablation by COMPLEMENT ARITHMETIC: the
    corpus statistic with each language slice removed, computed as
    (total - slice)/(n_total - n_slice) from one scan's per-slice
    sums — the cheap first pass of data valuation (which slice moves
    the corpus profile most if dropped), done without re-scanning the
    corpus once per slice. The same trick turns ANY associative
    corpus statistic into |slices| ablation deltas for free; a model-
    based valuation would rank slices by these shifts before paying
    for retraining runs. All arithmetic divides exact integer sums."""
    d = load_table(spark, sf_dir, "documents")
    slices = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    tot = slices.agg(F.sum("n").alias("tn"), F.sum("chars").alias("tc"))
    s = slices.crossJoin(F.broadcast(tot))
    corpus_mean = F.col("tc").cast("double") / F.col("tn")
    ablated_mean = (F.col("tc") - F.col("chars")).cast("double") / (
        F.col("tn") - F.col("n")
    )
    return s.select(
        "lang",
        "n",
        corpus_mean.alias("corpus_mean_chars"),
        ablated_mean.alias("ablated_mean_chars"),
        (ablated_mean - corpus_mean).alias("mean_shift"),
    )


# --------------------------------------------------------------------------
# E270: top-k drift — vocabulary churn between corpus halves
# --------------------------------------------------------------------------


@query(
    "q_topk_term_drift",
    oracle=f"""
    WITH halves AS (
      SELECT doc_id % 2 AS half, unnest({sql_tokens('text')}) AS term
      FROM documents),
    counts AS (
      SELECT half, term, CAST(COUNT(*) AS BIGINT) AS n
      FROM halves GROUP BY half, term),
    ranked AS (
      SELECT half, term, n,
             ROW_NUMBER() OVER (PARTITION BY half ORDER BY n DESC, term) AS rk
      FROM counts),
    tops AS (SELECT half, term, rk FROM ranked WHERE rk <= 20),
    a AS (SELECT term, rk FROM tops WHERE half = 0),
    b AS (SELECT term, rk FROM tops WHERE half = 1),
    joined AS (SELECT a.term, a.rk AS rk_a, b.rk AS rk_b
               FROM a JOIN b USING (term))
    SELECT CAST((SELECT COUNT(*) FROM joined) AS BIGINT) AS n_common,
           CAST(FLOOR(CAST((SELECT COUNT(*) FROM joined) AS DOUBLE)
                      / (40 - (SELECT COUNT(*) FROM joined))
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS jaccard_topk,
           CAST((SELECT COALESCE(SUM(ABS(rk_a - rk_b)), 0) FROM joined)
                AS BIGINT) AS rank_displacement
    """,
    tags=("E270", "E84", "W1", "A1", "U3"),
)
def q_topk_term_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k drift monitor: the top-20 term lists of the two corpus
    halves (doc_id parity as the before/after stand-in), summarized
    as top-k Jaccard, common-term count, and total rank displacement
    — the cheap production alarm for 'did the corpus composition
    move' that full-distribution tests (PSI, E84-family) are
    overkill for (monitoring systems track exactly this triple for
    trending dashboards and feed-quality checks). Two partitioned
    rank windows over the term-count frame, one 20x20 join — all
    vocabulary-sized; the fact table is scanned once."""
    d = load_table(spark, sf_dir, "documents")
    halves = d.select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(tokens(normalize_text(F.col("text")))).alias("term"),
    )
    counts = halves.groupBy("half", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rk = F.row_number().over(
        Window.partitionBy("half").orderBy(F.col("n").desc(), "term")
    )
    tops = counts.withColumn("rk", rk).filter(F.col("rk") <= 20)
    a = tops.filter(F.col("half") == 0).select("term", F.col("rk").alias("rk_a"))
    b = tops.filter(F.col("half") == 1).select("term", F.col("rk").alias("rk_b"))
    joined = a.join(b, "term")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        (
            F.floor(
                F.count(F.lit(1)).cast("double")
                / (40 - F.count(F.lit(1)))
                * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000.0
        ).alias("jaccard_topk"),
        F.coalesce(F.sum(F.abs(F.col("rk_a") - F.col("rk_b"))), F.lit(0))
        .cast("bigint")
        .alias("rank_displacement"),
    )


# --------------------------------------------------------------------------
# E277: URL canonicalization dedup — crawl-frontier hygiene
# --------------------------------------------------------------------------


@query(
    "q_url_canonical_dedup",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'http' END)
             || '://'
             || (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END)
             || source || '.Example.COM'
             || '/docs/' || CAST(doc_id % 50 AS VARCHAR)
             || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 5 = 0
                      THEN '?utm_source=feed&id=' || CAST(doc_id % 7 AS VARCHAR)
                      WHEN doc_id % 5 = 1
                      THEN '?id=' || CAST(doc_id % 7 AS VARCHAR)
                      ELSE '' END)
             || (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
      FROM documents),
    canon AS (
      SELECT doc_id, url,
             regexp_replace(
               replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(lower(url), '#.*$', ''),
                       'utm_[a-z]+=[^&#]*&?', ''),
                     '[?&]$', ''),
                   '://www\\.', '://'),
                 '/?', '?'),
               '/$', '') AS curl
      FROM raw)
    SELECT regexp_extract(curl, '://([^/?]+)', 1) AS host,
           CAST(COUNT(*) AS BIGINT) AS n_urls,
           CAST(COUNT(DISTINCT curl) AS BIGINT) AS n_canonical,
           CAST(COUNT(*) - COUNT(DISTINCT curl) AS BIGINT) AS n_dup_fetches
    FROM canon GROUP BY host ORDER BY host
    """,
    tags=("E277", "F2", "F3", "A3", "A1"),
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the crawl-frontier hygiene pass
    every web-scale corpus runs before fetch/dedup: scheme+host
    lowercasing, www-stripping, tracking-parameter (utm_*) removal,
    fragment removal, trailing-slash normalization, then canonical-
    form dedup counts per host. Messy-but-deterministic URL variants
    are derived from (doc_id, source) identically on both engines
    (the fixture has no URL column — same derivation discipline as
    E39's PII and F3's transfer URLs); the regex chain stays in the
    Java/RE2 common subset. At 100 TB the canonicalizer is a
    map-side expression and the dedup one count-distinct per host —
    no shuffle beyond the final rollup."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.lit(".Example.COM"),
        F.lit("/docs/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (F.col("doc_id") % 7).cast("string")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("?id="), (F.col("doc_id") % 7).cast("string")),
        )
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    # Slash normalization avoids regex lookahead on purpose: RE2
    # (DuckDB) silently treats '(?=...)' as unmatchable while Java
    # honors it — a literal '/?'->'?' replace plus a '/$' strip is
    # the portable form (SURVEY F2 dialect warning).
    curl = F.regexp_replace(
        F.replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.regexp_replace(F.lower(url), "#.*$", ""),
                        "utm_[a-z]+=[^&#]*&?",
                        "",
                    ),
                    "[?&]$",
                    "",
                ),
                "://www\\.",
                "://",
            ),
            F.lit("/?"),
            F.lit("?"),
        ),
        "/$",
        "",
    )
    canon = d.select(F.col("doc_id"), curl.alias("curl"))
    return (
        canon.groupBy(F.regexp_extract("curl", "://([^/?]+)", 1).alias("host"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct("curl").cast("bigint").alias("n_canonical"),
            (F.count(F.lit(1)) - F.countDistinct("curl"))
            .cast("bigint")
            .alias("n_dup_fetches"),
        )
        .orderBy("host")
    )


# --------------------------------------------------------------------------
# E288: right-to-erasure audit — takedown/opt-out purge with verification
# --------------------------------------------------------------------------


@query(
    "q_erasure_audit",
    oracle="""
    WITH dels AS (SELECT DISTINCT user_id FROM events WHERE user_id % 97 = 0),
    ev AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
             CAST(SUM(CASE WHEN user_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS purged_rows
      FROM events),
    survivors AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS surviving_rows,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS surviving_users
      FROM events e WHERE NOT EXISTS
        (SELECT 1 FROM dels d WHERE d.user_id = e.user_id)),
    leak AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS leaked_rows
      FROM events e JOIN dels d ON d.user_id = e.user_id
      WHERE NOT EXISTS (SELECT 1 FROM dels x WHERE x.user_id = e.user_id))
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM dels) AS n_requests,
           ev.total_rows, ev.purged_rows,
           s.surviving_rows, s.surviving_users,
           l.leaked_rows,
           ev.total_rows - ev.purged_rows = s.surviving_rows AS accounting_ok
    FROM ev, survivors s, leak l
    """,
    tags=("E288", "J4", "A3", "A2"),
)
def q_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure (takedown/opt-out) purge audit — the
    compliance pass a training-data platform runs after a deletion
    batch: the deletion list (here the deterministic user_id % 97
    cohort standing in for an opt-out table) anti-joins the event
    store to produce the surviving view, and the report carries the
    three numbers an auditor asks for — rows purged, rows surviving,
    and a LEAK CHECK (deleted users still present post-purge — zero
    by construction, and the oracle proves the accounting identity
    total = purged + surviving). At 100 TB the purge is one
    broadcast anti-join per table (the deletion list is tiny) and
    the audit is the same scan that writes the purged copy."""
    e = load_table(spark, sf_dir, "events")
    dels = e.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    purged_view = e.join(F.broadcast(dels), "user_id", "left_anti")
    leaked = purged_view.join(F.broadcast(dels), "user_id", "left_semi")
    totals = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("total_rows"),
        F.sum((F.col("user_id") % 97 == 0).cast("bigint"))
        .cast("bigint")
        .alias("purged_rows"),
    )
    surv = purged_view.agg(
        F.count(F.lit(1)).cast("bigint").alias("surviving_rows"),
        F.countDistinct("user_id").cast("bigint").alias("surviving_users"),
    )
    return (
        dels.agg(F.count(F.lit(1)).cast("bigint").alias("n_requests"))
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(surv))
        .crossJoin(
            F.broadcast(
                leaked.agg(F.count(F.lit(1)).cast("bigint").alias("leaked_rows"))
            )
        )
        .select(
            "n_requests",
            "total_rows",
            "purged_rows",
            "surviving_rows",
            "surviving_users",
            "leaked_rows",
            (F.col("total_rows") - F.col("purged_rows") == F.col("surviving_rows")).alias(
                "accounting_ok"
            ),
        )
    )


# --------------------------------------------------------------------------
# E292: training-mixture token-budget planner — per-source sampling plan
# --------------------------------------------------------------------------

_MIX_BUDGET = 1_000_000  # total training-token budget for the plan
# class weights in ppm (sources are classed by numeric suffix % 3 —
# a stand-in for web/code/books tiers on the synthetic fixture)
_MIX_W_PPM = (500_000, 300_000, 200_000)


@query(
    "q_mixture_token_plan",
    oracle=f"""
    WITH tok AS (
      SELECT source,
             CAST(substring(source, 4) AS INTEGER) % 3 AS cls,
             CAST(len({sql_tokens('text')}) AS BIGINT) AS n_tok
      FROM documents),
    per_src AS (
      SELECT source, cls, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS avail_tokens
      FROM tok GROUP BY source, cls),
    per_cls AS (
      SELECT cls, CAST(SUM(avail_tokens) AS BIGINT) AS cls_tokens
      FROM per_src GROUP BY cls),
    w(cls, w_ppm) AS (VALUES (0, {_MIX_W_PPM[0]}), (1, {_MIX_W_PPM[1]}),
                             (2, {_MIX_W_PPM[2]})),
    plan AS (
      SELECT s.source, s.cls, s.n_docs, s.avail_tokens, w.w_ppm,
             (CAST({_MIX_BUDGET} AS BIGINT) * w.w_ppm * s.avail_tokens)
               // (CAST(1000000 AS BIGINT) * c.cls_tokens) AS planned_tokens
      FROM per_src s JOIN per_cls c USING (cls) JOIN w USING (cls))
    SELECT source, CAST(cls AS BIGINT) AS cls, n_docs, avail_tokens,
           CAST(w_ppm AS BIGINT) AS class_weight_ppm,
           CAST(planned_tokens AS BIGINT) AS planned_tokens,
           CAST((planned_tokens * 1000000) // avail_tokens AS BIGINT)
             AS sampling_rate_ppm,
           CAST((planned_tokens + avail_tokens - 1) // avail_tokens AS BIGINT)
             AS epochs
    FROM plan ORDER BY source
    """,
    tags=("E292", "E71", "A1", "A2", "J5"),
)
def q_mixture_token_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing computation every LLM training run starts
    with: given per-source available tokens, tier weights (web/code/
    books stand-ins via source-suffix classes), and a total token
    budget, emit the per-source plan — planned tokens (budget x tier
    weight, allocated within a tier proportional to availability),
    the sampling rate in ppm (> 1e6 means the source must repeat),
    and the epoch count ceil(planned/available) that flags
    repetition. PURE INTEGER arithmetic end to end (ppm weights,
    floor divisions on non-negative operands, ceil via the
    (a+b-1) DIV b identity), so the driver hash is exact. Scale
    shape: one token-count aggregate over the corpus (map-side
    combined), a tiny per-class rollup broadcast back — the plan
    itself is catalog-sized."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    tok = d.select(
        "source",
        (F.substring("source", 4, 10).cast("int") % 3).alias("cls"),
        F.size(tokens(normalize_text(F.col("text")))).cast("bigint").alias("n_tok"),
    )
    per_src = tok.groupBy("source", "cls").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("avail_tokens"),
    )
    per_cls = per_src.groupBy("cls").agg(
        F.sum("avail_tokens").cast("bigint").alias("cls_tokens")
    )
    w = spark.createDataFrame(
        [(i, _MIX_W_PPM[i]) for i in range(3)], "cls int, w_ppm bigint"
    )
    plan = (
        per_src.join(F.broadcast(per_cls), "cls")
        .join(F.broadcast(w), "cls")
        .select(
            "source",
            F.col("cls").cast("bigint").alias("cls"),
            "n_docs",
            "avail_tokens",
            F.col("w_ppm").alias("class_weight_ppm"),
            F.expr(
                f"({_MIX_BUDGET} * w_ppm * avail_tokens)"
                " DIV (1000000 * cls_tokens)"
            ).alias("planned_tokens"),
        )
    )
    return plan.select(
        "source",
        "cls",
        "n_docs",
        "avail_tokens",
        "class_weight_ppm",
        "planned_tokens",
        F.expr("(planned_tokens * 1000000) DIV avail_tokens").alias(
            "sampling_rate_ppm"
        ),
        F.expr("(planned_tokens + avail_tokens - 1) DIV avail_tokens").alias(
            "epochs"
        ),
    ).orderBy("source")


# --------------------------------------------------------------------------
# E295: multiplicative-weights domain reweighting — DoReMi-flavored
# --------------------------------------------------------------------------

_DRW_ETA_DEN = 10  # eta = 1/10 per excess nat, as a rational


@query(
    "q_domain_reweighting",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT source, unnest({sql_tokens('text')}) AS t FROM documents),
    lm AS MATERIALIZED (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM lm),
    scored AS MATERIALIZED (
      SELECT k.source,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(SUM(CAST(FLOOR(-ln(CAST(l.c AS DOUBLE) / t.total)
                                 * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS sq
      FROM tok k JOIN lm l ON l.t = k.t CROSS JOIN tot t
      GROUP BY k.source),
    gstats AS (
      SELECT CAST(SUM(n_tok) AS BIGINT) AS total_n,
             CAST(SUM(sq) AS BIGINT) // CAST(SUM(n_tok) AS BIGINT) AS gavg_q
      FROM scored),
    upd AS MATERIALIZED (
      SELECT s.source, s.n_tok,
             s.sq // s.n_tok AS avg_q,
             GREATEST(CAST(0 AS BIGINT), s.sq // s.n_tok - g.gavg_q)
               AS excess_q,
             (s.n_tok * 1000000) // g.total_n AS baseline_ppm,
             ((s.n_tok * 1000000) // g.total_n)
               * (1000000 + GREATEST(CAST(0 AS BIGINT),
                                     s.sq // s.n_tok - g.gavg_q)
                              // (1000 * {_DRW_ETA_DEN})) AS w_raw
      FROM scored s CROSS JOIN gstats g)
    SELECT source,
           n_tok AS n_tokens,
           avg_q / 1000000000.0 AS avg_nats,
           excess_q / 1000000000.0 AS excess_nats,
           baseline_ppm,
           CAST((w_raw * 1000000) // (SELECT SUM(w_raw) FROM upd) AS BIGINT)
             AS reweighted_ppm
    FROM upd ORDER BY source
    """,
    tags=("E295", "E230", "E42", "A1", "J2", "D13"),
)
def q_domain_reweighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-flavored DOMAIN REWEIGHTING by multiplicative weights:
    sources whose tokens are harder than the corpus average under
    the in-engine unigram LM (E279's surprisal, the excess-loss
    stand-in) get their mixture share multiplied up by one
    exponentiated-gradient step, here in its integer-rational form
    w' = w * (1 + eta * excess) so the whole update is exact BIGINT
    arithmetic (the E289 discipline) — no solver, no RNG, and the
    only libm call (ln) is 1e-9-quantized at formation exactly as
    E279 does. Data-sized work is ONE token scan + the vocab-bounded
    LM join; the update runs on |sources| rows. Output: per-source
    token counts, average/excess nats, baseline share, and the
    reweighted ppm share a mixture planner (E292) would consume."""
    d = load_table(spark, sf_dir, "documents")
    tok = tracked_persist(
        d.select(
            "source", F.explode(tokens(normalize_text(F.col("text")))).alias("t")
        )
    )
    lm = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = lm.agg(F.sum("c").cast("bigint").alias("total"))
    scored = (
        tok.join(lm, "t")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tok"),
            F.sum(
                F.floor(
                    -F.log(F.col("c").cast("double") / F.col("total"))
                    * 1000000000
                    + F.lit(0.5)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("sq"),
        )
    )
    glob = scored.agg(
        F.sum("n_tok").cast("bigint").alias("total_n"),
        F.expr("CAST(SUM(sq) AS BIGINT) DIV CAST(SUM(n_tok) AS BIGINT)").alias(
            "gavg_q"
        ),
    )
    upd = tracked_persist(
        scored.crossJoin(F.broadcast(glob)).select(
            "source",
            "n_tok",
            F.expr("sq DIV n_tok").alias("avg_q"),
            F.greatest(F.lit(0).cast("bigint"), F.expr("sq DIV n_tok - gavg_q")).alias(
                "excess_q"
            ),
            F.expr("(n_tok * 1000000) DIV total_n").alias("baseline_ppm"),
            F.expr(
                f"((n_tok * 1000000) DIV total_n)"
                f" * (1000000 + GREATEST(CAST(0 AS BIGINT),"
                f" sq DIV n_tok - gavg_q) DIV (1000 * {_DRW_ETA_DEN}))"
            ).alias("w_raw"),
        )
    )
    wsum = upd.agg(F.sum("w_raw").alias("wsum"))
    return (
        upd.crossJoin(F.broadcast(wsum))
        .select(
            "source",
            F.col("n_tok").alias("n_tokens"),
            (F.col("avg_q") / 1000000000.0).alias("avg_nats"),
            (F.col("excess_q") / 1000000000.0).alias("excess_nats"),
            "baseline_ppm",
            F.expr("(w_raw * 1000000) DIV wsum").cast("bigint").alias(
                "reweighted_ppm"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# E300: greedy set-cover corpus selection — submodular data subset choice
# --------------------------------------------------------------------------

_COVER_ROUNDS = 8
_COVER_N = 3  # shingle order for the coverage universe
_COVER_GATE = 5_000_000  # doc-shingle rows; tests patch to 0 for the round-loop branch


def _set_cover_oracle() -> str:
    base = f"""
    WITH dt AS MATERIALIZED (
      SELECT DISTINCT doc_id, t FROM (
        SELECT doc_id, unnest({sql_ngrams(sql_tokens('text'), _COVER_N)}) AS t
        FROM documents)),
    g1 AS MATERIALIZED (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM dt GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1),
    c1 AS MATERIALIZED (SELECT DISTINCT t FROM dt JOIN g1 USING (doc_id))"""
    for i in range(2, _COVER_ROUNDS + 1):
        base += f""",
    g{i} AS MATERIALIZED (
      SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM dt d WHERE NOT EXISTS (SELECT 1 FROM c{i - 1} c WHERE c.t = d.t)
      GROUP BY d.doc_id ORDER BY gain DESC, doc_id LIMIT 1),
    c{i} AS MATERIALIZED (
      SELECT t FROM c{i - 1} UNION SELECT t FROM dt JOIN g{i} USING (doc_id))"""
    picks = " UNION ALL ".join(
        f"SELECT {i} AS rnd, doc_id, gain FROM g{i}"
        for i in range(1, _COVER_ROUNDS + 1)
    )
    return base + f""",
    picks AS ({picks}),
    u AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS n_universe FROM dt)
    SELECT CAST(rnd AS INTEGER) AS round, doc_id, gain,
           CAST(SUM(gain) OVER (ORDER BY rnd) AS BIGINT) AS covered_cum,
           CAST(FLOOR(CAST(SUM(gain) OVER (ORDER BY rnd) AS DOUBLE)
                      / u.n_universe * 10000 + 0.5) AS BIGINT) / 10000.0
             AS covered_frac
    FROM picks CROSS JOIN u ORDER BY round"""


@query(
    "q_greedy_cover_selection",
    oracle=_set_cover_oracle(),
    tags=("E300", "D11", "A1", "W1", "J6"),
)
def q_greedy_cover_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage corpus selection: pick
    ``_COVER_ROUNDS`` documents one at a time, each round taking the
    document that covers the most not-yet-covered word-3-gram
    shingles (min doc_id tiebreak) — the classic 1-1/e-approximate
    submodular facility-location selection that coverage-based
    training-data curation (and k-center-style subset distillation)
    runs over a corpus. Fully deterministic integers, so the oracle
    replays every round in an unrolled CTE chain. Round shape at
    100 TB: the doc-shingle table is corpus-sized but each round
    touches it with ONE anti-join against the covered set (which is
    bounded by the shingles of the <= 8 picked docs — broadcastable
    forever) + one map-side-combinable count + a top-1
    TakeOrderedAndProject. The ONLY carried round state is the
    picked-docs frame (<= 8 rows, localCheckpoint'd since it is
    referenced twice per round): the covered set is always
    re-derived from the persisted doc-shingle table by a semi-join
    against the picks, so there is no growing covered-state
    materialization — one scheduled job per greedy round total.
    Locally the rounds are pure scheduling overhead, so the
    count-gated SMALL-FINISH discipline applies (the dbscan/MMR
    pattern): when the doc-shingle table is bounded, ONE Arrow task
    replays the identical integer greedy over per-doc shingle sets —
    bit-exact because every gain is a set-difference cardinality and
    the tiebreak is the same (gain DESC, doc_id ASC); the
    distributed round loop remains the gate's else-branch and the
    100 TB path. Reports pick order, marginal gain, and cumulative
    coverage of the shingle universe (1e-4-quantized fraction)."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    # r11 (guide §2.4 "a distinct on data that is already unique" —
    # here, a distinct the CONSUMER re-does): the gated kernel builds
    # per-doc Python sets, which dedup for free, so the (doc_id, t)
    # distinct shuffle is skipped entirely on that branch and the raw
    # explode feeds it directly. The distributed else-branch still
    # derives the distinct table it needs below. Gating on the RAW
    # row count only tightens the bound (raw >= distinct), and
    # universe/gains are dup-insensitive — output identical (A/B
    # --verify; x0.74).
    dt = tracked_persist(
        d.select(
            "doc_id",
            F.explode(ngrams(tokens(F.col("text")), _COVER_N)).alias("t"),
        )
    )
    universe = dt.agg(F.countDistinct("t").cast("bigint").alias("n_universe"))
    n_dt = dt.count()
    if probe.gate("set_cover", n_dt < _COVER_GATE):
        rounds = _COVER_ROUNDS

        def greedy(pdf):
            import pandas as pd

            docs: dict[int, set] = {}
            for did, t in zip(pdf["doc_id"], pdf["t"]):
                docs.setdefault(int(did), set()).add(t)
            covered: set = set()
            out = []
            for i in range(1, rounds + 1):
                best_id, best_gain = None, 0
                for did in sorted(docs):
                    g = len(docs[did] - covered)
                    if g > best_gain:
                        best_id, best_gain = did, g
                if best_id is None:
                    # mirrors the oracle: a round where every doc has
                    # zero uncovered shingles produces no pick row
                    break
                covered |= docs[best_id]
                out.append((i, best_id, best_gain))
            return pd.DataFrame(out, columns=["rnd", "doc_id", "gain"])

        allp = probe.single_task(dt, greedy, "rnd int, doc_id bigint, gain bigint")
        allp = allp.select(
            "rnd", "doc_id", F.col("gain").cast("bigint").alias("gain")
        ).localCheckpoint(eager=True)
    else:
        # The round loop counts gains as distinct-shingle cardinalities
        # — build the distinct table this branch always used.
        dt = dt.distinct()
        allp = None
        for i in range(1, _COVER_ROUNDS + 1):
            if allp is None:
                uncov = dt
            else:
                covered = dt.join(
                    F.broadcast(allp.select("doc_id")), "doc_id", "leftsemi"
                ).select("t")
                uncov = dt.join(F.broadcast(covered), "t", "left_anti")
            pick = (
                uncov.groupBy("doc_id")
                .agg(F.count(F.lit(1)).cast("bigint").alias("gain"))
                .orderBy(F.desc("gain"), "doc_id")
                .limit(1)
                .select(F.lit(i).cast("int").alias("rnd"), "doc_id", "gain")
            )
            allp = (
                pick if allp is None else allp.unionAll(pick)
            ).localCheckpoint(eager=True)
    cum_w = Window.orderBy("rnd")
    return (
        allp.crossJoin(F.broadcast(universe))
        .select(
            F.col("rnd").cast("int").alias("round"),
            "doc_id",
            "gain",
            F.sum("gain").over(cum_w).cast("bigint").alias("covered_cum"),
            (
                F.floor(
                    F.sum("gain").over(cum_w).cast("double")
                    / F.col("n_universe")
                    * 10000
                    + F.lit(0.5)
                ).cast("bigint")
                / 10000.0
            ).alias("covered_frac"),
        )
        .orderBy("round")
    )


# --------------------------------------------------------------------------
# E314: k-anonymity audit — quasi-identifier re-identification risk
# --------------------------------------------------------------------------

_KA_K = 5  # groups smaller than this count as re-identification risk


def _kanon_oracle() -> str:
    levels = [
        ("L0_len100", "CAST(n_chars // 100 AS BIGINT)"),
        ("L1_len500", "CAST(n_chars // 500 AS BIGINT)"),
        ("L2_nolen", "CAST(0 AS BIGINT)"),
    ]
    parts = []
    for name, expr in levels:
        parts.append(f"""
    SELECT '{name}' AS level,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(c) AS BIGINT) AS k_min,
           CAST(SUM(CASE WHEN c < {_KA_K} THEN c ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(FLOOR(CAST(SUM(CASE WHEN c < {_KA_K} THEN c ELSE 0 END)
                           AS DOUBLE) / SUM(c) * 1000000 + 0.5) AS BIGINT)
             / 1e6 AS risk_frac
    FROM (SELECT COUNT(*) AS c FROM (
            SELECT lang, source, {expr} AS len_b FROM documents)
          GROUP BY lang, source, len_b)""")
    return " UNION ALL ".join(parts) + " ORDER BY level"


@query(
    "q_k_anonymity_audit",
    oracle=_kanon_oracle(),
    tags=("E314", "E39", "E288", "A1", "P2"),
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the corpus's quasi-identifiers — the
    privacy-compliance sibling of PII redaction (E39) and the
    erasure audit (E288): a row whose (lang, source, length-bucket)
    combination is shared by fewer than k others is
    re-identifiable by joining those attributes alone, so the audit
    reports, per GENERALIZATION level of the Mondrian-style lattice
    (length bucketed at 100, at 500, dropped entirely), the group
    count, the k floor, and the row mass at risk. Releasing/
    retaining decisions then pick the coarsest level whose utility
    is acceptable — on this fixture the risk mass halves per
    generalization step (measured). One exact groupBy per level
    over a 3-column projection (map-side combinable, stacked
    unionByName); pure integers with a 1e-6-quantized risk share."""
    d = load_table(spark, sf_dir, "documents")
    levels = [
        ("L0_len100", (F.col("n_chars") / 100).cast("bigint")),
        ("L1_len500", (F.col("n_chars") / 500).cast("bigint")),
        ("L2_nolen", F.lit(0).cast("bigint")),
    ]
    parts = []
    for name, expr in levels:
        groups = (
            d.select("lang", "source", expr.alias("len_b"))
            .groupBy("lang", "source", "len_b")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        at_risk = F.sum(
            F.when(F.col("c") < _KA_K, F.col("c")).otherwise(0)
        )
        parts.append(
            groups.agg(
                F.lit(name).alias("level"),
                F.count(F.lit(1)).cast("bigint").alias("n_groups"),
                F.min("c").cast("bigint").alias("k_min"),
                at_risk.cast("bigint").alias("n_rows_at_risk"),
                (
                    F.floor(
                        at_risk.cast("double") / F.sum("c") * 1000000
                        + F.lit(0.5)
                    ).cast("bigint")
                    / 1e6
                ).alias("risk_frac"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("level")


# --------------------------------------------------------------------------
# E321: code-vs-prose heuristic router — corpus composition audit
# --------------------------------------------------------------------------

# Integer density thresholds, cross-multiplied so no division happens
# before the final quantized shares: symbol chars >= 2% of chars,
# digits >= 5% of chars, indented lines >= 25% of lines, snake_case
# tokens >= 4% of whitespace tokens. A doc is routed "code" when >= 2
# of the 4 heuristics fire — the cheap pre-filter pipelines run before
# an expensive learned classifier to route code into its own mixture
# domain (E292) and tokenizer (E294).
_CP_SYM_PCT = 2
_CP_DIG_PCT = 5
_CP_IND_PCT = 25
_CP_US_PCT = 4
_CP_VOTES = 2

_CP_SYM_CLASS = "[{}();=<>\\[\\]]"


_CP_SEED_MOD = 17  # every 17th doc gets a deterministic code-ified body


def _code_prose_oracle() -> str:
    return f"""
    WITH coded AS (
      SELECT lang, source,
             CASE WHEN doc_id % {_CP_SEED_MOD} = 0 THEN
               '  def f_' || CAST(doc_id AS VARCHAR) || '():' || chr(10)
               || '  x_1 = len("' || substr(text, 1, 40) || '");' || chr(10)
               || '  return x_1 == 42;'
             ELSE text END AS text
      FROM documents),
    feats AS (
      SELECT lang, source,
             length(text) AS n_chars_t,
             length(text) - length(regexp_replace(text,
               '{_CP_SYM_CLASS}', '', 'g')) AS sym_cnt,
             length(text) - length(regexp_replace(text,
               '[0-9]', '', 'g')) AS dig_cnt,
             len(str_split(text, chr(10))) AS n_lines,
             len(list_filter(str_split(text, chr(10)),
                             l -> l LIKE '  %')) AS ind_lines,
             len(list_filter(str_split(text, ' '), t -> t <> ''))
               AS n_toks,
             len(list_filter(str_split(text, ' '),
                             t -> t LIKE '%\\_%' ESCAPE '\\')) AS us_toks
      FROM coded),
    scored AS (
      SELECT lang, source, n_chars_t, sym_cnt, dig_cnt, ind_lines, us_toks,
             (CASE WHEN n_chars_t > 0
                    AND sym_cnt * 100 >= n_chars_t * {_CP_SYM_PCT}
                   THEN 1 ELSE 0 END)
             + (CASE WHEN n_chars_t > 0
                      AND dig_cnt * 100 >= n_chars_t * {_CP_DIG_PCT}
                     THEN 1 ELSE 0 END)
             + (CASE WHEN ind_lines * 100 >= n_lines * {_CP_IND_PCT}
                     THEN 1 ELSE 0 END)
             + (CASE WHEN n_toks > 0
                      AND us_toks * 100 >= n_toks * {_CP_US_PCT}
                     THEN 1 ELSE 0 END) AS votes
      FROM feats)
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN votes >= {_CP_VOTES} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_code,
           CAST(FLOOR(CAST(SUM(CASE WHEN votes >= {_CP_VOTES} THEN 1
                                    ELSE 0 END) AS DOUBLE)
                      / COUNT(*) * 1000000 + 0.5) AS BIGINT) / 1e6
             AS code_share,
           CAST(SUM(sym_cnt) AS BIGINT) AS total_sym,
           CAST(SUM(dig_cnt) AS BIGINT) AS total_digits,
           CAST(FLOOR(CAST(SUM(sym_cnt) AS DOUBLE) / SUM(n_chars_t)
                      * 1000000 + 0.5) AS BIGINT) / 1e6 AS sym_density,
           CAST(MAX(votes) AS BIGINT) AS max_votes
    FROM scored GROUP BY lang, source ORDER BY lang, source
    """


@query(
    "q_code_prose_router",
    oracle=_code_prose_oracle(),
    tags=("E321", "E42", "F1", "F2", "A1", "P8"),
)
def q_code_prose_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic router — the corpus-composition audit
    a pretraining pipeline runs before mixture planning (E292/E295):
    code wants its own sampling weight and tokenizer, and a learned
    classifier is too expensive for a first pass over 100 TB, so the
    router votes 4 cheap surface heuristics (symbol-char density,
    digit density, indented-line share, snake_case token share) and
    routes a doc to "code" on >= 2 votes. All features are
    exact integer counts (length-after-strip deltas, LIKE-filtered
    line/token lists — the Spark/DuckDB common regex subset per the
    F2 dialect contract), thresholds are cross-multiplied integer
    comparisons (no division, no epsilon), and only the final
    per-(lang, source) shares quantize to 1e-6 — bit-exact parity on
    any corpus, including zero-length and whitespace-only documents
    (guarded to score 0, not trip 0*k >= 0). One map-side projection
    + one exact groupBy: linear, shuffle-minimal, scale-indifferent.
    The fixture is pure synthetic prose (the router would flag 0 and
    the vote arithmetic would go untested), so — the E39 PII-fixture
    pattern — every 17th doc first gets a DETERMINISTIC
    code-ified body derived from (doc_id, text) with identical string
    ops on both engines: indented def/assign/return lines whose digit
    density rides the doc_id digits, putting it right AT the 5%
    threshold boundary so the vote flips per doc, not per fixture.
    max_votes rides along per group to show how close each slice gets
    to the thresholds."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    nl = F.lit("\n")
    txt = F.when(
        F.col("doc_id") % _CP_SEED_MOD == 0,
        F.concat(
            F.lit("  def f_"), F.col("doc_id").cast("string"), F.lit("():"),
            nl,
            F.lit('  x_1 = len("'), F.substring(F.col("text"), 1, 40),
            F.lit('");'), nl,
            F.lit("  return x_1 == 42;"),
        ),
    ).otherwise(F.col("text"))
    feats = d.select(
        "lang",
        "source",
        F.length(txt).alias("n_chars_t"),
        (
            F.length(txt)
            - F.length(F.regexp_replace(txt, _CP_SYM_CLASS, ""))
        ).alias("sym_cnt"),
        (
            F.length(txt) - F.length(F.regexp_replace(txt, "[0-9]", ""))
        ).alias("dig_cnt"),
        F.size(F.split(txt, "\n", -1)).alias("n_lines"),
        F.size(
            F.filter(F.split(txt, "\n", -1), lambda l: l.startswith("  "))
        ).alias("ind_lines"),
        F.size(
            F.filter(F.split(txt, " ", -1), lambda t: t != "")
        ).alias("n_toks"),
        F.size(
            F.filter(F.split(txt, " ", -1), lambda t: t.contains("_"))
        ).alias("us_toks"),
    )
    vote = (
        F.when(
            (F.col("n_chars_t") > 0)
            & (F.col("sym_cnt") * 100 >= F.col("n_chars_t") * _CP_SYM_PCT),
            1,
        ).otherwise(0)
        + F.when(
            (F.col("n_chars_t") > 0)
            & (F.col("dig_cnt") * 100 >= F.col("n_chars_t") * _CP_DIG_PCT),
            1,
        ).otherwise(0)
        + F.when(
            F.col("ind_lines") * 100 >= F.col("n_lines") * _CP_IND_PCT, 1
        ).otherwise(0)
        + F.when(
            (F.col("n_toks") > 0)
            & (F.col("us_toks") * 100 >= F.col("n_toks") * _CP_US_PCT),
            1,
        ).otherwise(0)
    )
    scored = feats.withColumn("votes", vote)
    is_code = F.when(F.col("votes") >= _CP_VOTES, 1).otherwise(0)
    return (
        scored.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(is_code).cast("bigint").alias("n_code"),
            (
                F.floor(
                    F.sum(is_code).cast("double")
                    / F.count(F.lit(1))
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("code_share"),
            F.sum("sym_cnt").cast("bigint").alias("total_sym"),
            F.sum("dig_cnt").cast("bigint").alias("total_digits"),
            (
                F.floor(
                    F.sum("sym_cnt").cast("double")
                    / F.sum("n_chars_t")
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("sym_density"),
            F.max("votes").cast("bigint").alias("max_votes"),
        )
        .orderBy("lang", "source")
    )


# --------------------------------------------------------------------------
# E336: l-diversity audit — attribute disclosure, the risk k-anonymity misses
# --------------------------------------------------------------------------

_LD_L = 3  # groups whose sensitive attribute takes < 3 values are at risk


@query(
    "q_l_diversity_audit",
    oracle=f"""
    WITH rows_ AS (
      SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_b,
             COALESCE(({sql_tokens('text')})[1], '') AS sens
      FROM documents),
    grp AS (
      SELECT lang, source, len_b,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(COUNT(DISTINCT sens) AS BIGINT) AS l
      FROM rows_ GROUP BY 1, 2, 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(l) AS BIGINT) AS l_min,
           CAST(SUM(CASE WHEN l < {_LD_L} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_groups_low_l,
           CAST(SUM(CASE WHEN l < {_LD_L} THEN c ELSE 0 END) AS BIGINT)
             AS n_rows_at_risk,
           CAST(FLOOR(CAST(SUM(CASE WHEN l < {_LD_L} THEN c ELSE 0 END)
                           AS DOUBLE) / SUM(c) * 1000000 + 0.5) AS BIGINT)
             / 1e6 AS risk_frac
    FROM grp
    """,
    tags=("E336", "E314", "E39", "A3", "A1"),
)
def q_l_diversity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala) over the E314 k-anonymity
    quasi-identifier grouping (lang, source, 100-char length bucket)
    — the ATTRIBUTE-DISCLOSURE risk k-anonymity cannot see: a group
    can hold k >= 5 rows (safe by E314's count test) and still leak
    its members' sensitive value if all k agree on it; l-diversity
    requires each QI group's sensitive attribute to take at least l
    distinct values. The sensitive stand-in is the document's leading
    normalized token (deterministic in both engines; empty docs
    coalesce to ''). Output: group count, worst-group l, low-l group
    and row mass, risk fraction. Scale shape: one groupBy over the
    QI key with a per-group COUNT DISTINCT — map-side combinable,
    one shuffle; the audit an erasure/PII pipeline (E39/E288) runs
    before release, beside the E314 count test."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        (F.col("n_chars") / 100).cast("bigint").alias("len_b"),
        F.coalesce(
            # try_element_at: ANSI element_at(arr, 1) RAISES on an empty
            # array (punctuation-only doc -> zero tokens), so the
            # coalesce branch would never fire; try_ yields NULL -> ''
            # exactly like the oracle's DuckDB [1] indexing (ADVICE r9).
            F.try_element_at(tokens(normalize_text(F.col("text"))), F.lit(1)),
            F.lit(""),
        ).alias("sens"),
    )
    grp = d.groupBy("lang", "source", "len_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.countDistinct("sens").cast("bigint").alias("l"),
    )
    low = F.when(F.col("l") < _LD_L, 1).otherwise(0)
    low_rows = F.when(F.col("l") < _LD_L, F.col("c")).otherwise(0)
    return grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.min("l").cast("bigint").alias("l_min"),
        F.sum(low).cast("bigint").alias("n_groups_low_l"),
        F.sum(low_rows).cast("bigint").alias("n_rows_at_risk"),
        (
            F.floor(
                F.sum(low_rows).cast("double")
                / F.sum("c")
                * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1e6
        ).alias("risk_frac"),
    )
