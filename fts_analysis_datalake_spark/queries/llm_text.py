"""LLM-pipeline text-analysis declared queries (SURVEY.md §7 step 7;
§2.10 D8-D13 + F7 explode pipelines).

Oracle strategy: every op here is SQL-expressible, so each query has
a DuckDB twin built from the sql_* helpers in operators/text.py (kept
in lockstep with the Spark expressions). MinHash/SimHash (engine-hash
dependent) live in llm_dedup.py as rows-only + property-tested.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import (
    ensure_parallelism,
    load_table,
    register_views,
)
from fts_analysis_datalake_spark.functions.vector import dot, sql_dot
from fts_analysis_datalake_spark.operators.text import (
    BPE_ISH_PATTERN,
    LID_PROFILES,
    language_id,
    min_shingle_fingerprint,
    normalize_text,
    ngrams,
    quality_score,
    sql_ngrams,
    sql_normalize_text,
    sql_tokens,
    tf_idf,
    token_count_bpe_ish,
    tokens,
)
from fts_analysis_datalake_spark.registry import query

# --------------------------------------------------------------------------
# D8/D9: normalize + tokenize + token counting
# --------------------------------------------------------------------------


@query(
    "q_normalize_tokenize",
    oracle=f"""
    SELECT doc_id,
           {sql_normalize_text('text')} AS norm_text,
           CAST(len({sql_tokens('text')}) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS INTEGER) AS n_bpe_tokens,
           array_to_string(list_slice({sql_tokens('text')}, 1, 3), ' ') AS first_tokens
    FROM documents
    WHERE doc_id % 7 = 0
    """,
    tags=("D8", "D9", "F1", "F7"),
)
def q_normalize_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization + whitespace tokens + BPE-ish regex token count
    (the pre-tokenizer cost estimate used for corpus budgeting)."""
    d = load_table(spark, sf_dir, "documents").filter((F.col("doc_id") % 7) == 0)
    toks = tokens(normalize_text(F.col("text")))
    return d.select(
        "doc_id",
        normalize_text(F.col("text")).alias("norm_text"),
        F.size(toks).alias("n_tokens"),
        token_count_bpe_ish(F.col("text")).alias("n_bpe_tokens"),
        F.array_join(F.slice(toks, 1, 3), " ").alias("first_tokens"),
    )


# --------------------------------------------------------------------------
# D9: corpus vocabulary — top terms
# --------------------------------------------------------------------------


@query(
    "q_vocab_top_terms",
    oracle=f"""
    SELECT term, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents)
    GROUP BY term
    ORDER BY n_occurrences DESC, term
    LIMIT 25
    """,
    tags=("D9", "F7", "A1", "O1", "O2"),
)
def q_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-25 terms by occurrence (explode ->
    two-level count; map-side combine keeps the shuffle tiny)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("term"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# D10: TF-IDF
# --------------------------------------------------------------------------


@query(
    "q_tfidf_sample",
    oracle=f"""
    WITH toks AS (SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           tf.tf * (FLOOR(ln(CAST(n_docs AS DOUBLE) / dfreq.df) * 1000000000 + 0.5) / 1000000000.0)
               AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    WHERE tf.doc_id % 100 = 0
    """,
    tags=("D10", "D9", "J5", "F6"),
)
def q_tfidf_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights (idf = ln(N/df), quantized 1e-9 for libm
    agreement); df/idf computed over the whole corpus, output sampled
    to doc_id%100 docs. The docfreq join is broadcast — at 100 TB the
    vocabulary is millions of rows vs billions of (doc, term) pairs."""
    d = load_table(spark, sf_dir, "documents")
    out = tf_idf(d, "doc_id", "text")
    return out.filter((F.col("doc_id") % 100) == 0).select("doc_id", "term", "tf", "df", "tfidf")


# --------------------------------------------------------------------------
# D11: n-gram shingles + fingerprint
# --------------------------------------------------------------------------


@query(
    "q_shingle_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents WHERE doc_id % 11 = 0),
         s AS (SELECT doc_id, unnest({sql_ngrams('toks', 3)}) AS shingle FROM t)
    SELECT doc_id, COUNT(*) AS n_shingles, COUNT(DISTINCT shingle) AS n_distinct,
           MIN(md5(shingle)) AS fingerprint
    FROM s
    GROUP BY doc_id
    """,
    tags=("D11", "F7", "F11", "A1"),
)
def q_shingle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram shingle counts + min-md5 fingerprint per doc (the
    1-permutation MinHash used as a cheap near-dup blocking key)."""
    d = load_table(spark, sf_dir, "documents").filter((F.col("doc_id") % 11) == 0)
    sh = d.select(
        "doc_id", F.explode(ngrams(tokens(normalize_text(F.col("text"))), 3)).alias("shingle")
    )
    return sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct"),
        F.min(F.md5("shingle")).alias("fingerprint"),
    )


@query(
    "q_fingerprint_clusters",
    oracle=f"""
    WITH t AS (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
         f AS (SELECT doc_id, list_min(list_transform({sql_ngrams('toks', 3)}, s -> md5(s))) AS fp
               FROM t WHERE len(toks) >= 3)
    SELECT fp, COUNT(*) AS cluster_size, CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM f
    GROUP BY fp
    HAVING COUNT(*) > 1
    """,
    tags=("D11", "D1", "F11"),
)
def q_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate clusters: docs sharing a min-shingle
    fingerprint (exact-dup clusters plus shingle-collision cousins).

    Uses the explode+min-agg path (shingle_table) rather than the
    array-fold expression (min_shingle_fingerprint): higher-order
    lambdas run interpreted, so the fold costs ~5 ms/doc on one core,
    while explode+md5+min is codegen'd and parallel. Docs with <3
    tokens produce no shingles and drop out, matching the fold's
    null-fp filter."""
    from fts_analysis_datalake_spark.operators.dedup import shingle_table

    d = load_table(spark, sf_dir, "documents")
    fp = (
        shingle_table(d, "doc_id", "text", 3)
        .groupBy("doc_id")
        .agg(F.min(F.md5("shingle")).alias("fp"))
    )
    return (
        fp.groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").cast("bigint").alias("canonical_doc"),
        )
        .filter(F.col("cluster_size") > 1)
    )


# --------------------------------------------------------------------------
# D12/D13: language-ID heuristic + quality scoring + corpus slice stats
# --------------------------------------------------------------------------


def _sql_language_id() -> str:
    """DuckDB twin of operators.text.language_id, generated from the
    same LID_PROFILES so the two can't drift apart."""
    toks = sql_tokens("text")
    scores = {}
    for lang, words in sorted(LID_PROFILES.items()):
        if not words:
            continue
        lst = ", ".join(f"'{w}'" for w in words)
        scores[lang] = (
            f"(CAST(len(list_filter({toks}, t -> list_contains([{lst}], t))) AS DOUBLE)"
            f" / greatest(len({toks}), 1))"
        )
    m = "greatest(" + ", ".join(scores.values()) + ")"
    cases = " ".join(
        f"WHEN {expr} = __m THEN '{lang}'" for lang, expr in sorted(scores.items())
    )
    cjk = (
        "(CAST(length(regexp_replace(text, '[^一-鿿]', '', 'g')) AS DOUBLE)"
        " / greatest(length(text), 1))"
    )
    return (
        f"CASE WHEN {cjk} > 0.3 THEN 'zh' ELSE "
        f"(SELECT CASE WHEN __m <= 0 THEN 'und' {cases} END FROM (SELECT {m} AS __m)) END"
    )


@query(
    "q_language_id_confusion",
    oracle=f"""
    SELECT lang AS labeled_lang, {_sql_language_id()} AS predicted_lang, COUNT(*) AS n
    FROM documents
    GROUP BY 1, 2
    """,
    tags=("D12", "F2", "F8"),
)
def q_language_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic LID (CJK-ratio + stopword-profile argmax) vs the
    labeled lang column — the corpus-audit confusion matrix."""
    d = load_table(spark, sf_dir, "documents")
    with_toks = d.select(
        "lang", "text", tokens(normalize_text(F.col("text"))).alias("toks")
    )
    return (
        with_toks.select(
            F.col("lang").alias("labeled_lang"),
            language_id(F.col("text"), F.col("toks")).alias("predicted_lang"),
        )
        .groupBy("labeled_lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_quality_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             (CASE WHEN n_chars >= 50 AND n_chars <= 5000 THEN 1.0 ELSE 0.0 END
              + CASE WHEN CAST(n_chars AS DOUBLE) / greatest(len({sql_tokens('text')}), 1) >= 3.0
                      AND CAST(n_chars AS DOUBLE) / greatest(len({sql_tokens('text')}), 1) <= 12.0
                     THEN 1.0 ELSE 0.0 END
              + CAST(length(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')) AS DOUBLE)
                / greatest(length(text), 1)) / 3.0 AS quality
      FROM documents
    )
    SELECT doc_id, lang, n_chars, quality
    FROM scored
    WHERE quality >= 0.5 AND lang IN ('en', 'de', 'fr') AND n_chars BETWEEN 80 AND 2000
    """,
    tags=("D13", "P2", "P5", "F6"),
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate: composite score + length band + lang whitelist —
    the corpus-filter stage of a training-data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select("doc_id", "lang", "n_chars", quality_score(F.col("text")).alias("quality"))
    return scored.filter(
        (F.col("quality") >= 0.5)
        & F.col("lang").isin("en", "de", "fr")
        & F.col("n_chars").between(80, 2000)
    )


@query(
    "q_corpus_slice_stats",
    oracle=f"""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len({sql_tokens('text')})) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
    tags=("D12", "A1"),
)
def q_corpus_slice_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus inventory — the slice report that
    drives sampling ratios in a data pipeline."""
    d = load_table(spark, sf_dir, "documents")
    n_toks = F.size(tokens(normalize_text(F.col("text"))))
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(n_toks).cast("bigint").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )

# --------------------------------------------------------------------------
# E44: BM25 relevance scoring — retrieval ranking over the corpus
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "vector", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_Q = 1000000000  # 1e9 per-term quantization (idf + score)


@query(
    "q_bm25_scoring",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
      FROM tok),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
      WHERE term IN ('spark', 'vector', 'stream')
      GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               (FLOOR(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                      * {_BM25_Q} + 0.5) / {_BM25_Q})
               * (tf.tf * ({_BM25_K1} + 1.0))
               / (tf.tf + {_BM25_K1}
                  * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
               * {_BM25_Q} + 0.5) AS BIGINT) AS qscore
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats)
    SELECT doc_id, SUM(qscore) / {_BM25_Q}.0 AS bm25
    FROM scored
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id
    LIMIT 20
    """,
    tags=("E44", "D10", "A1", "O3"),
)
def q_bm25_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking of the corpus against a fixed query term set —
    the lexical-retrieval scorer a RAG/data-selection pipeline pairs
    with the ANN path (llm_vectors). Per-term idf and scores are
    quantized to 1e-9 integers (libm ln last-ulp guard, same pattern
    as tf_idf) so the per-doc sum is order-independent. ONE
    tokenization feeds doc lengths, tf, and df; the 3-row df table
    and 1-row corpus stats ride broadcasts — the only shuffle
    carries (doc, term) partial counts. Top-20 with doc_id tiebreak
    is TakeOrderedAndProject, never a full sort."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    return (
        _bm25_scores(d)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


def _bm25_scores(d: DataFrame) -> DataFrame:
    """Full BM25 ranking (doc_id, bm25) of ``d`` against _BM25_TERMS —
    shared by the top-k scorer (E44) and the RRF fusion (E182).

    r11 rewrite (guide §2.3/§2.4): the query-term set is FIXED, so
    per-doc tf for each term is a map-side array count — no explode,
    no (doc, term) shuffle, no tf⋈dl join. One tokenization pass
    builds the persisted narrow base (doc_id + dl + k tf ints,
    ~5 ints/doc — the struct lambda binds the token array once, the
    ngrams() no-CSE trick); corpus stats + per-term df come from ONE
    1-row broadcast aggregate; scores evaluate map-side over the base.
    Value-identical: tf/df/dl/avgdl are the same integers, the per-term
    qscore expression is operand-for-operand the old one (a term with
    tf=0 contributes exactly qscore 0 = floor(0.0*Q+0.5)), and the
    any-term filter reproduces the old tf row set. Measured 2.44 →
    1.38 s isolated at sf0.1 (rrf consumer 2.85 → 1.56 s); plan: 8
    parquet scans → 1, the (doc,term) Exchange pair and the doc_id
    SMJ gone."""

    def eq_term(w):
        # NB: a default-arg capture (lambda t, w=term) would change the
        # lambda's arity and pyspark would treat it as an
        # (element, index) HOF lambda — capture via closure instead.
        return lambda t: t == F.lit(w)

    def stats_struct(ts):
        cols = [F.size(ts).alias("dl")]
        for i, term in enumerate(_BM25_TERMS):
            cols.append(F.size(F.filter(ts, eq_term(term))).alias(f"tf{i}"))
        return F.struct(*cols)

    toks_expr = tokens(normalize_text(F.col("text")))
    s = F.element_at(F.transform(F.array(toks_expr), stats_struct), 1)
    base = tracked_persist(d.select("doc_id", s.alias("s")))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(F.col("s.dl")).cast("double") / F.count(F.lit(1))).alias("avgdl"),
    ]
    for i in range(len(_BM25_TERMS)):
        aggs.append(F.sum((F.col(f"s.tf{i}") > 0).cast("long")).alias(f"df{i}"))
    g = base.agg(*aggs)
    any_hit = None
    for i in range(len(_BM25_TERMS)):
        c = F.col(f"s.tf{i}") > 0
        any_hit = c if any_hit is None else (any_hit | c)
    scored = base.filter(any_hit).crossJoin(F.broadcast(g))
    total = None
    for i in range(len(_BM25_TERMS)):
        idf = (
            F.floor(
                F.log(
                    (F.col("n_docs") - F.col(f"df{i}") + 0.5)
                    / (F.col(f"df{i}") + 0.5)
                    + 1.0
                )
                * _BM25_Q
                + F.lit(0.5)
            )
            / _BM25_Q
        )
        score = (
            idf
            * (F.col(f"s.tf{i}") * (_BM25_K1 + 1.0))
            / (
                F.col(f"s.tf{i}")
                + _BM25_K1
                * (1.0 - _BM25_B + _BM25_B * F.col("s.dl") / F.col("avgdl"))
            )
        )
        qscore = F.floor(score * _BM25_Q + F.lit(0.5)).cast("long")
        total = qscore if total is None else total + qscore
    return scored.select("doc_id", (total / float(_BM25_Q)).alias("bm25"))


# --------------------------------------------------------------------------
# E182: reciprocal-rank fusion — hybrid lexical + vector retrieval
# --------------------------------------------------------------------------

_RRF_C = 60  # the standard RRF dampening constant
_RRF_TOPK = 15

_SQL_BM25_RANKED = f"""
    tok AS (
      SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
    stats AS (
      SELECT COUNT(*) AS n_docs,
             CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avgdl
      FROM tok),
    tf AS (
      SELECT doc_id, term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
      WHERE term IN ('spark', 'vector', 'stream')
      GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
             CAST(FLOOR(
               (FLOOR(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                      * {{q}} + 0.5) / {{q}})
               * (tf.tf * ({{k1}} + 1.0))
               / (tf.tf + {{k1}}
                  * (1.0 - {{b}} + {{b}} * dl.dl / stats.avgdl))
               * {{q}} + 0.5) AS BIGINT) AS qscore
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats),
    lex AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY SUM(qscore) DESC, doc_id) AS lex_rank
      FROM scored WHERE doc_id <> 0
      GROUP BY doc_id)
"""


@query(
    "q_rrf_hybrid_fusion",
    oracle="WITH "
    + _SQL_BM25_RANKED.format(q=_BM25_Q, k1=_BM25_K1, b=_BM25_B)
    + f""",
    sem AS (
      SELECT e.vec_id AS doc_id,
             ROW_NUMBER() OVER (
               ORDER BY {sql_dot('e.embedding', 'q.embedding')} DESC,
                        e.vec_id) AS sem_rank
      FROM embeddings e,
           (SELECT embedding FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0)
    SELECT sem.doc_id,
           CAST(sem.sem_rank AS BIGINT) AS sem_rank,
           CAST(lex.lex_rank AS BIGINT) AS lex_rank,
           CAST(FLOOR((1.0 / ({_RRF_C} + sem.sem_rank)
                       + COALESCE(1.0 / ({_RRF_C} + lex.lex_rank), 0.0))
                      * 1000000000000 + 0.5) AS BIGINT) / 1000000000000.0
             AS rrf_q
    FROM sem LEFT JOIN lex ON lex.doc_id = sem.doc_id
    ORDER BY rrf_q DESC, sem.doc_id
    LIMIT {_RRF_TOPK}
    """,
    tags=("E182", "D6", "D10", "W1", "J2", "O3"),
)
def q_rrf_hybrid_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    ranking and the cosine vector ranking (to the doc-0 query
    embedding) are fused as sum of 1/(60+rank) — the score-free
    combiner RAG stacks use because it needs no calibration between
    incomparable scores. Docs missing from the lexical list (no
    query term) contribute only their vector rank. Both rankings are
    window ranks over deterministic scores (quantized BM25,
    bit-exact dot folds), so the fused ranking is hash-checked.
    Since cosine to a fixed query shares one norm factor, ranking by
    the raw dot fold is equivalent and saves the per-row norm."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    e = load_table(spark, sf_dir, "embeddings")
    lex = (
        _bm25_scores(d)
        .filter(F.col("doc_id") != 0)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("bm25"), "doc_id"))
            .cast("bigint")
            .alias("lex_rank"),
        )
    )
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    sem = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            dot(F.col("embedding"), F.col("qv")).alias("score"),
        )
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), "doc_id"))
            .cast("bigint")
            .alias("sem_rank"),
        )
    )
    rrf = F.lit(1.0) / (_RRF_C + F.col("sem_rank")) + F.coalesce(
        F.lit(1.0) / (_RRF_C + F.col("lex_rank")), F.lit(0.0)
    )
    return (
        sem.join(lex, "doc_id", "left")
        .select(
            "doc_id",
            "sem_rank",
            "lex_rank",
            (F.floor(rrf * 1e12 + F.lit(0.5)).cast("bigint") / 1e12).alias("rrf_q"),
        )
        .orderBy(F.col("rrf_q").desc(), "doc_id")
        .limit(_RRF_TOPK)
    )


# --------------------------------------------------------------------------
# E115: inverted-index construction — the search-index build operator
# --------------------------------------------------------------------------


@query(
    "q_inverted_index_postings",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, t.tok
      FROM documents, unnest({sql_tokens('text')}) AS t(tok)),
    postings AS (
      SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS n_docs,
             array_to_string(list_slice(list(doc_id ORDER BY doc_id), 1, 16),
                             ',') AS first_postings
      FROM pairs GROUP BY tok)
    SELECT token, n_docs, first_postings FROM postings
    """,
    tags=("E115", "D9", "F7", "A9"),
)
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token -> (document frequency, sorted
    posting list) over the whole corpus — the materialization step
    behind BM25 (E44) and containment mining (E93), here produced as
    a first-class table. Per-doc dedup happens INSIDE the token array
    (array_distinct before explode, map-side) so the shuffle carries
    one row per (doc, term), and the posting arrays are sorted and
    capped at 16 entries (the skip-list head) so output width is
    bounded no matter how common the token — at 100 TB full posting
    lists would be written as their own partitioned table, but the
    per-token head+count is what serves index statistics. The
    posting head is emitted as a CSV string (E82 listagg pattern):
    the correctness harness canonicalizes with a pandas sort that
    cannot hash array cells, so an array column would error out of
    the check entirely."""
    d = load_table(spark, sf_dir, "documents")
    rows = ensure_parallelism(d).select(
        "doc_id",
        F.explode(F.array_distinct(tokens(normalize_text(F.col("text"))))).alias(
            "token"
        ),
    )
    return rows.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 16), ","
        ).alias("first_postings"),
    )


# --------------------------------------------------------------------------
# E132: Zipf power-law fit — log-log OLS over the frequency head
# --------------------------------------------------------------------------


@query(
    "q_zipf_exponent_fit",
    oracle=f"""
    WITH freq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({sql_tokens('text')}) AS term FROM documents)
      GROUP BY term),
    ranked AS (
      SELECT CAST(FLOOR(ln(CAST(ROW_NUMBER() OVER (ORDER BY n DESC, term) AS DOUBLE))
                        * 1000000000 + 0.5) AS DECIMAL(19,0)) AS xi,
             CAST(FLOOR(ln(CAST(n AS DOUBLE)) * 1000000000 + 0.5) AS DECIMAL(19,0)) AS yi
      FROM freq
      QUALIFY ROW_NUMBER() OVER (ORDER BY n DESC, term) <= 1000),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS cnt,
             CAST(SUM(xi) AS DOUBLE) AS sx, CAST(SUM(yi) AS DOUBLE) AS sy,
             CAST(SUM(xi * yi) AS DOUBLE) AS sxy,
             CAST(SUM(xi * xi) AS DOUBLE) AS sxx,
             CAST(SUM(yi * yi) AS DOUBLE) AS syy,
             CAST(COUNT(*) AS BIGINT) AS n_terms
      FROM ranked)
    SELECT n_terms,
           (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx) AS zipf_slope,
           ((cnt * sxy - sx * sy) * (cnt * sxy - sx * sy))
             / ((cnt * sxx - sx * sx) * (cnt * syy - sy * sy)) AS r2
    FROM m
    """,
    tags=("E132", "E109", "D9", "F6", "W1"),
)
def q_zipf_exponent_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does the corpus vocabulary follow Zipf's law? OLS slope of
    ln(freq) on ln(rank) over the top-1000 terms (slope near -1 =
    healthy natural-language distribution; far off flags synthetic or
    boilerplate-heavy corpora — a standard LLM-corpus diagnostic).

    Determinism recipe is E109 + the TF-IDF libm rule combined: each
    ln is quantized to 1e-9 (identical floor in both engines), the
    five moment sums run in DECIMAL (exact, order-free), and
    slope/R^2 are single fixed-order double expressions. One token
    explode + hash agg, one rank window over the (tiny) vocabulary,
    one global moment agg."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens(normalize_text(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    from pyspark.sql import Window

    rk = Window.orderBy(F.col("n").desc(), "term")
    q9 = 1000000000
    ranked = (
        freq.withColumn("rnk", F.row_number().over(rk))
        .filter(F.col("rnk") <= 1000)
        .select(
            F.floor(F.log(F.col("rnk").cast("double")) * q9 + F.lit(0.5))
            .cast("decimal(19,0)")
            .alias("xi"),
            F.floor(F.log(F.col("n").cast("double")) * q9 + F.lit(0.5))
            .cast("decimal(19,0)")
            .alias("yi"),
        )
    )
    m = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.sum("xi").cast("double").alias("sx"),
        F.sum("yi").cast("double").alias("sy"),
        F.sum(F.col("xi") * F.col("yi")).cast("double").alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).cast("double").alias("sxx"),
        F.sum(F.col("yi") * F.col("yi")).cast("double").alias("syy"),
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
    )
    num = F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("cnt") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "n_terms",
        (num / denx).alias("zipf_slope"),
        ((num * num) / (denx * deny)).alias("r2"),
    )


# --------------------------------------------------------------------------
# E193: vocabulary coverage — Good-Turing unseen mass + Heaps exponent
# --------------------------------------------------------------------------

_VOCAB_Q = 1000000000


@query(
    "q_vocab_coverage_estimate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({sql_tokens('text')}) AS term FROM documents),
    full_counts AS (
      SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    full_stats AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(COUNT(*) FILTER (WHERE n = 1) AS BIGINT) AS hapax
      FROM full_counts),
    half_stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens_h,
             CAST(COUNT(DISTINCT term) AS BIGINT) AS vocab_h
      FROM toks WHERE doc_id % 2 = 0)
    SELECT f.n_tokens, f.vocab, f.hapax,
           CAST(FLOOR(CAST(f.hapax AS DOUBLE) / f.n_tokens * {_VOCAB_Q} + 0.5)
                AS BIGINT) / {_VOCAB_Q}.0 AS gt_unseen_mass,
           CAST(FLOOR(
             (FLOOR(ln(CAST(f.vocab AS DOUBLE) / h.vocab_h) * {_VOCAB_Q} + 0.5)
              / FLOOR(ln(CAST(f.n_tokens AS DOUBLE) / h.n_tokens_h) * {_VOCAB_Q} + 0.5))
             * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS heaps_beta
    FROM full_stats f, half_stats h
    """,
    tags=("E193", "D9", "D12", "A1", "F6"),
)
def q_vocab_coverage_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary coverage: the Good-Turing unseen-species
    mass N1/N (hapax share — the probability the NEXT token is a
    never-seen type, i.e. how much more scraping will still surface
    new vocabulary) and the Heaps'-law exponent fitted from the
    half-vs-full corpus growth ratio ln(V/V_half)/ln(N/N_half).
    Together they answer the curation question 'is this corpus
    lexically saturated?'. One tokenize feeds both: term counts for
    GT, and the doc_id-parity half for the growth point. The ln
    ratios are 1e-9-quantized before dividing so the exponent is
    engine-exact."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(tokens(normalize_text(F.col("text")))).alias("term"))
    full_counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n"))
    full_stats = full_counts.agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum((F.col("n") == 1).cast("long")).cast("bigint").alias("hapax"),
    )
    half_stats = toks.filter(F.col("doc_id") % 2 == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_h"),
        F.count_distinct("term").cast("bigint").alias("vocab_h"),
    )
    qln = lambda c: F.floor(F.log(c) * _VOCAB_Q + F.lit(0.5))  # noqa: E731
    return full_stats.crossJoin(F.broadcast(half_stats)).select(
        "n_tokens",
        "vocab",
        "hapax",
        (
            F.floor(
                F.col("hapax").cast("double") / F.col("n_tokens") * _VOCAB_Q
                + F.lit(0.5)
            ).cast("bigint")
            / float(_VOCAB_Q)
        ).alias("gt_unseen_mass"),
        (
            F.floor(
                (
                    qln(F.col("vocab").cast("double") / F.col("vocab_h"))
                    / qln(F.col("n_tokens").cast("double") / F.col("n_tokens_h"))
                )
                * 1e6
                + F.lit(0.5)
            ).cast("bigint")
            / 1e6
        ).alias("heaps_beta"),
    )


# --------------------------------------------------------------------------
# E256: KWIC concordance — keyword-in-context windows
# --------------------------------------------------------------------------


@query(
    "q_kwic_concordance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
    hits AS (
      SELECT doc_id, t, unnest(list_filter(
               list_transform(generate_series(1, len(t)),
                              i -> CASE WHEN t[i] = 'data' THEN i END),
               p -> p IS NOT NULL)) AS pos
      FROM toks),
    kwic AS (
      SELECT doc_id, pos,
             COALESCE(array_to_string(
               list_slice(t, greatest(pos - 3, 1), pos - 1), ' '), '')
               AS left_ctx,
             COALESCE(array_to_string(
               list_slice(t, pos + 1, least(pos + 3, len(t))), ' '), '')
               AS right_ctx
      FROM hits)
    SELECT doc_id, CAST(pos AS BIGINT) AS pos, left_ctx, right_ctx
    FROM kwic ORDER BY doc_id, pos LIMIT 100
    """,
    tags=("E256", "D9", "F7", "F8", "O2"),
)
def q_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context (KWIC) concordance for the term 'data':
    every occurrence with its +-3-token context windows — the corpus
    QA operator an annotation or curation team uses to eyeball how a
    term is actually used before writing filter rules (the classic
    concordancer, as an engine query). Positions come from
    higher-order array functions (transform + filter over the token
    array — no explode until one row per HIT, never per token), and
    the context slices are pure array arithmetic with the same
    clamped bounds on both engines. First 100 hits in (doc, pos)
    order; at scale the ordering key makes the LIMIT a
    TakeOrdered, not a full sort."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(normalize_text(F.col("text"))).alias("t"))
    hits = toks.select(
        "doc_id",
        "t",
        F.explode(
            F.expr(
                "filter(transform(sequence(1, size(t)),"
                " i -> CASE WHEN t[i - 1] = 'data' THEN i END),"
                " p -> p IS NOT NULL)"
            )
        ).alias("pos"),
    )
    kwic = hits.select(
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        F.array_join(
            F.expr("slice(t, greatest(pos - 3, 1),"
                   " pos - greatest(pos - 3, 1))"),
            " ",
        ).alias("left_ctx"),
        F.array_join(
            F.expr("slice(t, pos + 1, least(3, size(t) - pos))"), " "
        ).alias("right_ctx"),
    )
    return kwic.orderBy("doc_id", "pos").limit(100)


# --------------------------------------------------------------------------
# E257: winnowing fingerprints — MOSS-style local-minimum selection
# --------------------------------------------------------------------------


@query(
    "q_winnowing_overlap",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
    shingles AS MATERIALIZED (
      SELECT doc_id,
             unnest(generate_series(1, len(t) - 2)) AS pos
      FROM toks WHERE len(t) >= 3),
    hashed AS MATERIALIZED (
      SELECT s.doc_id, s.pos,
             CAST(('0x' || substring(md5(
               array_to_string(list_slice(tk.t, s.pos, s.pos + 2), ' ')),
               1, 13)) AS BIGINT) AS h
      FROM shingles s JOIN toks tk ON tk.doc_id = s.doc_id),
    winnowed AS MATERIALIZED (
      SELECT DISTINCT doc_id, mh AS fp FROM (
        SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS mh,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        FROM hashed)
      WHERE rn >= 4),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fps
      FROM winnowed a JOIN winnowed b
        ON b.fp = a.fp AND a.doc_id < b.doc_id
      GROUP BY doc_a, doc_b),
    ranked AS (
      SELECT doc_a, doc_b, shared_fps,
             ROW_NUMBER() OVER (ORDER BY shared_fps DESC, doc_a, doc_b) AS rn
      FROM pairs)
    SELECT doc_a, doc_b, shared_fps FROM ranked WHERE rn <= 20 ORDER BY rn
    """,
    tags=("E257", "D11", "D3", "F11", "W4", "O3"),
)
def q_winnowing_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (the MOSS algorithm): hash every
    3-token shingle, keep each sliding window's MINIMUM hash, dedup —
    a fingerprint set with a POSITIONAL GUARANTEE MinHash lacks (any
    shared run of >= window+shingle tokens must share a fingerprint,
    so matches can't fall between samples; that's why it's the
    plagiarism-detection standard). Selection is one rolling-min
    window over per-doc shingle hashes; candidate generation is the
    equi-join on fingerprint values (work bounded by bucket sizes,
    the LSH shape); output is the top-20 most-overlapping doc pairs.
    md5-derived shingle hashes keep both engines' fingerprints
    identical."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(normalize_text(F.col("text"))).alias("t"))
    shingled = toks.filter(F.size("t") >= 3).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("t") - 2)).alias("pos"),
        "t",
    )
    hashed = shingled.select(
        "doc_id",
        "pos",
        F.conv(
            F.substring(
                F.md5(F.array_join(F.expr("slice(t, pos, 3)"), " ")), 1, 13
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    winnowed = (
        hashed.select(
            "doc_id",
            F.min("h").over(w.rowsBetween(-3, 0)).alias("mh"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") >= 4)
        .select("doc_id", F.col("mh").alias("fp"))
        .distinct()
    )
    a = winnowed.select(F.col("doc_id").alias("doc_a"), "fp")
    b = winnowed.select(F.col("doc_id").alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
    )
    rn = F.row_number().over(
        Window.orderBy(F.col("shared_fps").desc(), "doc_a", "doc_b")
    )
    return (
        pairs.withColumn("rn", rn)
        .filter(F.col("rn") <= 20)
        .select("doc_a", "doc_b", "shared_fps")
        .orderBy("rn")
    )


# --------------------------------------------------------------------------
# E261: Dunning log-likelihood-ratio collocations
# --------------------------------------------------------------------------


@query(
    "q_dunning_llr_collocations",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
    bg AS MATERIALIZED (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                    i -> {{'a': t[i], 'b': t[i + 1]}})) AS s
      FROM toks),
    pairs AS MATERIALIZED (
      SELECT s.a AS w1, s.b AS w2, CAST(COUNT(*) AS BIGINT) AS k11
      FROM bg GROUP BY w1, w2),
    margins AS MATERIALIZED (
      SELECT w1, CAST(SUM(k11) AS BIGINT) AS c1 FROM pairs GROUP BY w1),
    margins2 AS MATERIALIZED (
      SELECT w2, CAST(SUM(k11) AS BIGINT) AS c2 FROM pairs GROUP BY w2),
    tot AS (SELECT CAST(SUM(k11) AS BIGINT) AS n FROM pairs),
    cells AS (
      SELECT p.w1, p.w2, p.k11,
             m1.c1 - p.k11 AS k12,
             m2.c2 - p.k11 AS k21,
             t.n - m1.c1 - m2.c2 + p.k11 AS k22,
             t.n
      FROM pairs p
      JOIN margins m1 ON m1.w1 = p.w1
      JOIN margins2 m2 ON m2.w2 = p.w2
      CROSS JOIN tot t),
    llr AS (
      SELECT w1, w2, k11,
             CAST(FLOOR(2.0e0 * (
               (CASE WHEN k11 > 0 THEN k11 * ln(CAST(k11 AS DOUBLE) * n
                 / (CAST(k11 + k12 AS DOUBLE) * (k11 + k21))) ELSE 0 END)
             + (CASE WHEN k12 > 0 THEN k12 * ln(CAST(k12 AS DOUBLE) * n
                 / (CAST(k11 + k12 AS DOUBLE) * (k12 + k22))) ELSE 0 END)
             + (CASE WHEN k21 > 0 THEN k21 * ln(CAST(k21 AS DOUBLE) * n
                 / (CAST(k21 + k22 AS DOUBLE) * (k11 + k21))) ELSE 0 END)
             + (CASE WHEN k22 > 0 THEN k22 * ln(CAST(k22 AS DOUBLE) * n
                 / (CAST(k21 + k22 AS DOUBLE) * (k12 + k22))) ELSE 0 END)
             ) * 10000 + 0.5) AS BIGINT) / 10000.0 AS llr
      FROM cells),
    ranked AS (
      SELECT w1, w2, k11, llr,
             ROW_NUMBER() OVER (ORDER BY llr DESC, w1, w2) AS rn
      FROM llr)
    SELECT w1, w2, k11 AS n_cooccur, llr FROM ranked WHERE rn <= 15
    ORDER BY rn
    """,
    tags=("E261", "E198", "D11", "A1", "O3"),
)
def q_dunning_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood-ratio collocations: rank adjacent-token
    bigrams by the G^2 statistic of their 2x2 contingency table
    against independence — THE collocation test for text (unlike
    E198's PMI it doesn't explode on rare pairs, because expected
    counts enter through the likelihood, not a ratio). The table
    cells come from the bigram count frame and its two margins
    (vocab-bounded joins); each of the four k*ln(kN/(rowcol)) terms
    guards k=0 and the total G^2 is quantized to 1e-4 before the
    deterministic (llr, w1, w2) top-15. One corpus scan; everything
    after is vocabulary-sized."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(tokens(normalize_text(F.col("text"))).alias("t"))
    bg = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i - 1] AS a, t[i] AS b))"
            )
        ).alias("s")
    )
    pairs = bg.groupBy(
        F.col("s.a").alias("w1"), F.col("s.b").alias("w2")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("k11"))
    m1 = pairs.groupBy("w1").agg(F.sum("k11").cast("bigint").alias("c1"))
    m2 = pairs.groupBy("w2").agg(F.sum("k11").cast("bigint").alias("c2"))
    tot = pairs.agg(F.sum("k11").cast("bigint").alias("n"))
    cells = (
        pairs.join(F.broadcast(m1), "w1")
        .join(F.broadcast(m2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "k11",
            (F.col("c1") - F.col("k11")).alias("k12"),
            (F.col("c2") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("c1") - F.col("c2") + F.col("k11")).alias("k22"),
            "n",
        )
    )

    def term(k, row, col):
        return F.when(
            k > 0,
            k
            * F.log(
                k.cast("double") * F.col("n") / (row.cast("double") * col)
            ),
        ).otherwise(F.lit(0.0))

    k11, k12 = F.col("k11"), F.col("k12")
    k21, k22 = F.col("k21"), F.col("k22")
    g2 = 2.0 * (
        term(k11, k11 + k12, k11 + k21)
        + term(k12, k11 + k12, k12 + k22)
        + term(k21, k21 + k22, k11 + k21)
        + term(k22, k21 + k22, k12 + k22)
    )
    llr = cells.select(
        "w1",
        "w2",
        "k11",
        (F.floor(g2 * 10000 + F.lit(0.5)).cast("bigint") / 10000.0).alias("llr"),
    )
    rn = F.row_number().over(Window.orderBy(F.col("llr").desc(), "w1", "w2"))
    return (
        llr.withColumn("rn", rn)
        .filter(F.col("rn") <= 15)
        .select("w1", "w2", F.col("k11").alias("n_cooccur"), "llr")
        .orderBy("rn")
    )


# --------------------------------------------------------------------------
# E278: context-window chunking with overlap — tokenizer-feed geometry
# --------------------------------------------------------------------------

_CHUNK_W = 32  # window tokens
_CHUNK_S = 24  # stride (W - S = 8 tokens of overlap)


@query(
    "q_context_window_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, len({sql_tokens('text')}) AS n
      FROM documents),
    chunks AS (
      SELECT doc_id, source, n,
             unnest(range(0, 1 + (GREATEST(n - {_CHUNK_W}, 0) + {_CHUNK_S} - 1)
                                 // {_CHUNK_S})) AS i
      FROM t WHERE n > 0),
    sized AS (
      SELECT doc_id, source, n, i,
             LEAST({_CHUNK_W}, n - i * {_CHUNK_S}) AS chunk_tokens
      FROM chunks)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(SUM(chunk_tokens) AS BIGINT) AS chunk_token_sum,
           CAST(SUM(CASE WHEN chunk_tokens = {_CHUNK_W} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_full,
           CAST(FLOOR(CAST(SUM(chunk_tokens) AS DOUBLE)
                      / SUM(CASE WHEN i = 0 THEN n ELSE 0 END)
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS expansion
    FROM sized GROUP BY source ORDER BY source
    """,
    tags=("E278", "F7", "F8", "D9", "A1"),
)
def q_context_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding context-window chunking (W=32 tokens, stride 24 — 8
    tokens of overlap): the geometry of feeding documents to a
    fixed-context tokenizer, reported per source as chunk counts,
    full-window share, and the token EXPANSION factor the overlap
    costs (chunk tokens emitted / raw tokens — the number that sizes
    the tokenized dataset a pipeline actually pays to store). Chunk
    fan-out is a per-row sequence explode (1->N, partition-local, no
    shuffle until the rollup) — at 100 TB this is a map stage; the
    expansion denominator counts each doc once via its i=0 chunk
    row."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n")
    ).filter(F.col("n") > 0)
    n_chunks = 1 + F.floor(
        (F.greatest(F.col("n") - _CHUNK_W, F.lit(0)) + _CHUNK_S - 1) / _CHUNK_S
    ).cast("int")
    sized = t.select(
        "doc_id",
        "source",
        "n",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
    ).select(
        "doc_id",
        "source",
        "n",
        "i",
        F.least(F.lit(_CHUNK_W), F.col("n") - F.col("i") * _CHUNK_S).alias(
            "chunk_tokens"
        ),
    )
    return (
        sized.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.sum("chunk_tokens").cast("bigint").alias("chunk_token_sum"),
            F.sum((F.col("chunk_tokens") == _CHUNK_W).cast("bigint"))
            .cast("bigint")
            .alias("n_full"),
            (
                F.floor(
                    F.sum("chunk_tokens").cast("double")
                    / F.sum(F.when(F.col("i") == 0, F.col("n")).otherwise(0))
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1000000.0
            ).alias("expansion"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# E279: unigram-LM surprisal scoring — the CCNet-style quality signal
# --------------------------------------------------------------------------


@query(
    "q_unigram_surprisal_scores",
    oracle=f"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, unnest({sql_tokens('text')}) AS t FROM documents),
    lm AS MATERIALIZED (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM lm),
    scored AS (
      SELECT k.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(FLOOR(-ln(CAST(l.c AS DOUBLE) / t.total)
                                 * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS sq
      FROM tok k JOIN lm l ON l.t = k.t CROSS JOIN tot t
      GROUP BY k.doc_id)
    SELECT doc_id, n_tokens,
           CAST(FLOOR(CAST(sq AS DOUBLE) / 1000000000.0 / n_tokens * 10000 + 0.5)
                AS BIGINT) / 10000.0 AS nats_per_token
    FROM scored
    """,
    tags=("E279", "D13", "A1", "F6"),
)
def q_unigram_surprisal_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM surprisal (mean -ln p(token) in nats)
    — the CCNet-style quality score: documents far from the corpus
    distribution (rare-token soup) score high, formulaic ones low;
    thresholding these buckets is the classic perplexity filter with
    the LM trained ON the corpus itself in one groupBy. Per-token
    surprisals are 1e-9-quantized to int64 BEFORE the per-doc sum
    (unordered-sum discipline); the LM join is token-keyed — at
    100 TB the unigram table is vocabulary-sized and broadcastable.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = tracked_persist(
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("t"))
    )
    lm = tok.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    total = lm.agg(F.sum("c").cast("bigint").alias("total"))
    surprisal_q = F.floor(
        -F.log(F.col("c").cast("double") / F.col("total")) * 1000000000 + F.lit(0.5)
    ).cast("bigint")
    scored = (
        tok.join(F.broadcast(lm), "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(surprisal_q).cast("bigint").alias("sq"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        (
            F.floor(
                F.col("sq").cast("double") / 1000000000.0 / F.col("n_tokens") * 10000
                + F.lit(0.5)
            ).cast("bigint")
            / 10000.0
        ).alias("nats_per_token"),
    )


# --------------------------------------------------------------------------
# E294: BPE merge-step training rounds — tokenizer induction in-engine
# --------------------------------------------------------------------------

_BPE_ROUNDS = 3


def _bpe_oracle() -> str:
    """Unrolled BPE rounds: symbol sequences are '<sym>' wrapped
    strings (wrappers make replace() boundary-safe without regex
    lookahead, which DuckDB's RE2 silently treats as unmatchable);
    pair counting unnests parallel list slices (overlap-inclusive,
    like Sennrich's get_stats); the merge is one plain replace(),
    whose left-to-right non-overlapping semantics ARE the greedy
    BPE merge application."""
    base = rf"""
    WITH wc AS MATERIALIZED (
      SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({sql_tokens('text')}) AS t FROM documents)
      GROUP BY t),
    s0 AS MATERIALIZED (
      SELECT w, cnt, regexp_replace(w, '(.)', '<\1>', 'g') AS seq FROM wc)"""
    for i in range(1, _BPE_ROUNDS + 1):
        base += f""",
    ex{i} AS (
      SELECT cnt, str_split(regexp_replace(seq, '^<|>$', '', 'g'), '><') AS syms
      FROM s{i-1}),
    p{i} AS MATERIALIZED (
      SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pc FROM (
        SELECT cnt, unnest(syms[1:len(syms)-1]) AS l,
               unnest(syms[2:len(syms)]) AS r
        FROM ex{i})
      GROUP BY l, r),
    t{i} AS MATERIALIZED (
      SELECT l, r, pc FROM p{i} ORDER BY pc DESC, l, r LIMIT 1),
    s{i} AS MATERIALIZED (
      SELECT w, cnt,
             replace(seq, '<' || t.l || '><' || t.r || '>',
                     '<' || t.l || t.r || '>') AS seq
      FROM s{i-1}, t{i} t)"""
    finals = "\n      UNION ALL ".join(
        f"SELECT {i} AS round, l AS left_sym, r AS right_sym,"
        f" l || r AS merged, pc AS pair_count FROM t{i}"
        for i in range(1, _BPE_ROUNDS + 1)
    )
    return (
        base
        + f"""
    SELECT CAST(round AS BIGINT) AS round, left_sym, right_sym, merged,
           pair_count
    FROM ({finals}) ORDER BY round"""
    )


@query(
    "q_bpe_merge_rounds",
    oracle=_bpe_oracle(),
    tags=("E294", "D9", "A2", "F8", "J10"),
)
def q_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding TOKENIZER TRAINING, first 3 merge rounds —
    the vocabulary-induction step every LLM data pipeline runs before
    token counting (Sennrich et al. 2016). The corpus is touched ONCE
    (word-frequency aggregate, map-side combinable); every round then
    runs on the DISTINCT-WORD vocabulary, which is domain-sized at
    any corpus scale. Pair counting is overlap-inclusive over
    adjacent symbol pairs weighted by word frequency (zip_with of the
    two shifted slices — exactly get_stats); the winning pair (max
    count, lexicographic tie-break) is broadcast back and APPLIED
    with one plain replace() on the '<sym>' wrapped sequence string:
    string replace is left-to-right non-overlapping, which is
    precisely the greedy BPE merge semantics ('<a><a><a>' ->
    '<aa><a>'), and the wrappers make it boundary-safe without regex
    lookahead. Output: the merge table (round, pair, merged symbol,
    exact pair count) — all integer arithmetic, hash-exact."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    wc = d.select(
        F.explode(tokens(normalize_text(F.col("text")))).alias("w")
    ).groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # state = (word, cnt, wrapped symbol sequence); referenced twice
    # per round (pair counting + merge application), so checkpoint
    # each round to keep the analyzed plan linear — the frame is
    # vocab-sized, not corpus-sized.
    state = wc.select(
        "w", "cnt", F.regexp_replace("w", "(.)", "<$1>").alias("seq")
    ).localCheckpoint(eager=True)
    outs: list[DataFrame] = []
    for i in range(1, _BPE_ROUNDS + 1):
        syms = F.split(F.regexp_replace("seq", "^<|>$", ""), "><")
        pairs = (
            state.select("cnt", syms.alias("syms"))
            .select(
                "cnt",
                F.explode(
                    F.zip_with(
                        F.slice("syms", 1, F.size("syms") - 1),
                        F.slice("syms", 2, F.size("syms") - 1),
                        lambda x, y: F.struct(x.alias("l"), y.alias("r")),
                    )
                ).alias("p"),
            )
            .select("cnt", "p.l", "p.r")
        )
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("cnt").cast("bigint").alias("pc"))
            .orderBy(F.col("pc").desc(), "l", "r")
            .limit(1)
        ).localCheckpoint(eager=True)
        outs.append(
            top.select(
                F.lit(i).cast("bigint").alias("round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged"),
                F.col("pc").alias("pair_count"),
            )
        )
        if i < _BPE_ROUNDS:
            state = (
                state.crossJoin(F.broadcast(top))
                .select(
                    "w",
                    "cnt",
                    F.expr(
                        "replace(seq, '<' || l || '><' || r || '>',"
                        " '<' || l || r || '>')"
                    ).alias("seq"),
                )
                .localCheckpoint(eager=True)
            )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionAll(o)
    return result.orderBy("round")


# --------------------------------------------------------------------------
# E306: greedy longest-match segmentation — runtime dictionary tokenizer
# --------------------------------------------------------------------------

_GLM_PREFIX = 40  # chars of de-spaced text segmented per doc (recursion bound)
_GLM_GATE = 1_000_000  # docs; tests patch to 0 to drive the doubled-join branch

_GLM_ORACLE = f"""
WITH RECURSIVE chars AS MATERIALIZED (
  SELECT doc_id, substring(replace(text, ' ', ''), 1, {_GLM_PREFIX}) AS s
  FROM documents),
vocab AS MATERIALIZED (
  SELECT DISTINCT w, CAST(length(w) AS INTEGER) AS wl FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0),
lens AS MATERIALIZED (SELECT DISTINCT wl FROM vocab),
cpos AS MATERIALIZED (
  SELECT c.doc_id, c.s, CAST(p.pos AS INTEGER) AS pos
  FROM chars c, (SELECT unnest(generate_series(1, {_GLM_PREFIX})) AS pos) p
  WHERE p.pos <= length(c.s)),
matches AS MATERIALIZED (
  SELECT cp.doc_id, cp.pos, MAX(v.wl) AS mwl
  FROM cpos cp JOIN lens l ON true
  JOIN vocab v ON v.wl = l.wl AND v.w = substring(cp.s, cp.pos, l.wl)
  GROUP BY cp.doc_id, cp.pos),
steps AS MATERIALIZED (
  SELECT cp.doc_id, cp.pos,
         CAST(COALESCE(m.mwl, 1) AS INTEGER) AS adv,
         CASE WHEN m.mwl IS NULL THEN 1 ELSE 0 END AS fb
  FROM cpos cp LEFT JOIN matches m
    ON m.doc_id = cp.doc_id AND m.pos = cp.pos),
walk AS (
  SELECT doc_id, CAST(1 AS INTEGER) AS pos, CAST(0 AS BIGINT) AS n_tok,
         CAST(0 AS BIGINT) AS n_fb
  FROM chars WHERE length(s) >= 1
  UNION ALL
  SELECT w.doc_id, CAST(w.pos + st.adv AS INTEGER), w.n_tok + 1,
         w.n_fb + st.fb
  FROM walk w JOIN steps st ON st.doc_id = w.doc_id AND st.pos = w.pos),
final AS (
  SELECT w.doc_id, w.n_tok, w.n_fb
  FROM walk w JOIN chars c ON c.doc_id = w.doc_id
  WHERE w.pos > length(c.s))
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(f.n_tok) AS BIGINT) AS total_tokens,
       CAST(SUM(f.n_fb) AS BIGINT) AS total_fallbacks,
       CAST(FLOOR(CAST(SUM(f.n_tok) AS DOUBLE) / COUNT(*) * 10000 + 0.5)
            AS BIGINT) / 10000.0 AS avg_tokens_per_doc
FROM final f JOIN documents d ON d.doc_id = f.doc_id
GROUP BY d.source ORDER BY d.source
"""

_GLM_STEPS_SPARK = f"""
WITH chars AS (
  SELECT doc_id, substring(replace(text, ' ', ''), 1, {_GLM_PREFIX}) AS s
  FROM documents),
vocab AS (
  SELECT DISTINCT w, CAST(length(w) AS INT) AS wl FROM (
    SELECT explode(split(text, ' ')) AS w FROM documents)
  WHERE length(w) > 0),
lens AS (SELECT DISTINCT wl FROM vocab),
cpos AS (
  SELECT doc_id, s, CAST(pos AS INT) AS pos
  FROM chars LATERAL VIEW explode(sequence(1, {_GLM_PREFIX})) t AS pos
  WHERE pos <= length(s)),
matches AS (
  SELECT /*+ BROADCAST(l), BROADCAST(v) */ cp.doc_id, cp.pos, MAX(v.wl) AS mwl
  FROM cpos cp JOIN lens l ON true
  JOIN vocab v ON v.wl = l.wl AND v.w = substring(cp.s, cp.pos, l.wl)
  GROUP BY cp.doc_id, cp.pos)
SELECT cp.doc_id, cp.pos,
       CAST(cp.pos + COALESCE(m.mwl, 1) AS INT) AS nxt,
       CAST(1 AS BIGINT) AS n_tok,
       CAST(CASE WHEN m.mwl IS NULL THEN 1 ELSE 0 END AS BIGINT) AS n_fb
FROM cpos cp LEFT JOIN matches m
  ON m.doc_id = cp.doc_id AND m.pos = cp.pos
"""


@query(
    "q_greedy_segmentation",
    oracle=_GLM_ORACLE,
    tags=("E306", "E280", "E294", "D8", "A1"),
)
def q_greedy_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy longest-match dictionary segmentation — the RUNTIME
    half of subword tokenization (BPE training is E294): de-spaced
    document prefixes are re-segmented against the corpus vocabulary
    by always taking the longest matching token, with a
    single-character fallback where nothing matches (the WordPiece
    inference rule). The sequential-looking greedy walk is made
    engine-parallel in two moves. (1) PRECOMPUTE the advance table:
    every (doc, position) gets its greedy step in ONE hash-join pass
    (positions x distinct-token-LENGTHS explode -> substring ->
    equi-join the broadcast vocabulary -> MAX length per position).
    (2) POINTER-DOUBLE the walk: instead of chasing the chain one
    step per scheduled round (a 40-step WITH RECURSIVE
    measured 18.9 s at sf0.1 — pure per-round scheduling), compose
    the jump table with itself log2(40) times, carrying
    (token, fallback) path sums through each composition; after 6
    doublings every position jumps >= 64 >= 40 steps, so
    row pos=1 holds the whole segmentation. Each doubling is one
    equi-join of the jump table with itself on (doc, landing
    position) — 6 hash joins total, localCheckpoint'd because both
    sides reference the same frame. The oracle replays the plain
    one-step recursion (WITH RECURSIVE), proving the doubled walk
    IS the sequential greedy. Scale shape: the advance/jump table
    is linear in corpus chars x #distinct lengths (never chars x
    vocab), the vocabulary join is broadcast, and the walk costs a
    LOGARITHMIC number of joins regardless of prefix length.
    Locally the 6 composition joins are pure scheduling overhead, so
    the count-gated SMALL-FINISH discipline applies (the
    dbscan/kcore/set-cover pattern): when the corpus is bounded, ONE
    Arrow task replays the identical greedy over the de-spaced
    prefixes against the collected (domain-sized) vocabulary —
    bit-exact because every step is the same longest-match integer
    rule; the doubled-join path remains the gate's else-branch and
    the 100 TB path."""
    register_views(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    if probe.gate("greedy_segmentation", docs.count() <= _GLM_GATE):
        prefix = _GLM_PREFIX

        def seg(pdf):
            import pandas as pd

            # Single bounded task sees the whole corpus, so the
            # vocabulary is built here too (one in-memory pass)
            # instead of a separate Spark scan+distinct+collect.
            vset: set = set()
            for text in pdf["text"]:
                vset.update(text.split(" "))
            vset.discard("")
            by_len = sorted({len(w) for w in vset}, reverse=True)
            max_wl = by_len[0] if by_len else 1
            # The greedy advance is a pure function of the next
            # max_wl chars, and the tiny vocabulary means those
            # lookahead windows repeat massively across the corpus —
            # memoize (window -> (advance, is_fallback)) so the hot
            # loop is one slice + one dict hit per TOKEN.
            memo: dict = {}
            out = []
            for did, text, source in zip(pdf["doc_id"], pdf["text"], pdf["source"]):
                s = text.replace(" ", "")[:prefix]
                if not s:
                    # mirror the walk's length(s) >= 1 anchor and the
                    # doubled-join branch (no pos=1 row): an empty
                    # de-spaced prefix contributes no doc
                    continue
                pos, n_tok, n_fb = 0, 0, 0
                while pos < len(s):
                    win = s[pos : pos + max_wl]
                    hit = memo.get(win)
                    if hit is None:
                        hit = (1, 1)
                        for wl in by_len:
                            cand = win[:wl]
                            if len(cand) == wl and cand in vset:
                                hit = (wl, 0)
                                break
                        memo[win] = hit
                    pos += hit[0]
                    n_tok += 1
                    n_fb += hit[1]
                out.append((source, int(did), n_tok, n_fb))
            return pd.DataFrame(out, columns=["source", "doc_id", "n_tok", "n_fb"])

        per_doc = probe.single_task(
            docs.select("doc_id", "text", "source"),
            seg,
            "source string, doc_id bigint, n_tok long, n_fb long",
        ).localCheckpoint(eager=True)
        return (
            per_doc.groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_tok").cast("bigint").alias("total_tokens"),
                F.sum("n_fb").cast("bigint").alias("total_fallbacks"),
                (
                    F.floor(
                        F.sum("n_tok").cast("double")
                        / F.count(F.lit(1))
                        * 10000
                        + F.lit(0.5)
                    ).cast("bigint")
                    / 1e4
                ).alias("avg_tokens_per_doc"),
            )
            .orderBy("source")
        )
    jump = spark.sql(_GLM_STEPS_SPARK).localCheckpoint(eager=True)
    n_doublings = max(1, math.ceil(math.log2(_GLM_PREFIX)))
    for _ in range(n_doublings):
        nxt = jump.select(
            F.col("doc_id").alias("j_doc"),
            F.col("pos").alias("j_pos"),
            F.col("nxt").alias("j_nxt"),
            F.col("n_tok").alias("j_tok"),
            F.col("n_fb").alias("j_fb"),
        )
        jump = (
            jump.join(
                nxt,
                (F.col("j_doc") == F.col("doc_id"))
                & (F.col("j_pos") == F.col("nxt")),
                "left",
            )
            .select(
                "doc_id",
                "pos",
                F.coalesce(F.col("j_nxt"), F.col("nxt")).alias("nxt"),
                (
                    F.col("n_tok") + F.coalesce(F.col("j_tok"), F.lit(0))
                ).alias("n_tok"),
                (F.col("n_fb") + F.coalesce(F.col("j_fb"), F.lit(0))).alias(
                    "n_fb"
                ),
            )
            .localCheckpoint(eager=True)
        )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        jump.filter(F.col("pos") == 1)
        .join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum("n_fb").cast("bigint").alias("total_fallbacks"),
            (
                F.floor(
                    F.sum("n_tok").cast("double") / F.count(F.lit(1)) * 10000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e4
            ).alias("avg_tokens_per_doc"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# E331: character-entropy quality score — the repetition-junk screen
# --------------------------------------------------------------------------

_CE_ALPHABET = "abcdefghijklmnopqrstuvwxyz0123456789 "  # normalize_text's range
_CE_LOW_Q = 2_720_000_000  # "low-diversity" cut, 1e-9-quantized nats (~p05)


def _ce_oracle() -> str:
    chars = ", ".join(f"'{c}'" for c in _CE_ALPHABET)
    return f"""
    WITH base AS (
      SELECT doc_id, lang, t, len(t) AS L FROM (
        SELECT doc_id, lang, {sql_normalize_text('text')} AS t
        FROM documents) WHERE len(t) > 0),
    ent AS (
      SELECT doc_id, lang,
             CAST(list_sum(list_transform([{chars}],
               ch -> CASE WHEN len(t) - len(replace(t, ch, '')) > 0
                     THEN CAST(FLOOR(
                       -(CAST(len(t) - len(replace(t, ch, '')) AS DOUBLE) / L)
                       * ln(CAST(len(t) - len(replace(t, ch, '')) AS DOUBLE) / L)
                       * 1000000000 + 0.5) AS BIGINT)
                     ELSE 0 END)) AS BIGINT) AS ent_q
      FROM base)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(FLOOR(CAST(SUM(ent_q) AS DOUBLE) / COUNT(*) / 1000 + 0.5)
                AS BIGINT) / 1e6 AS avg_char_entropy,
           MIN(ent_q) / 1e9 AS min_char_entropy,
           CAST(SUM(CASE WHEN ent_q < {_CE_LOW_Q} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_entropy
    FROM ent GROUP BY lang ORDER BY lang
    """


@query(
    "q_char_entropy_quality",
    oracle=_ce_oracle(),
    tags=("E331", "D13", "F1", "F6", "F8", "A1"),
)
def q_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy as a quality signal — the
    repetition-junk screen curation pipelines run beside the
    token-level filters (D13 length/stopword ratios, E60 repetition):
    machine-generated spam, padding runs, and template boilerplate
    collapse to low CHARACTER diversity even when their token stats
    look plausible, and char entropy is the cheapest proxy for the
    compression-ratio filters (zlib-ratio) production pipelines use.
    Entropy is computed WITHOUT exploding characters: per doc, one
    higher-order fold over the fixed 37-char alphabet (normalize_text
    guarantees the range), each count via the length-delta trick
    len(t) - len(replace(t, ch)) — an entirely MAP-SIDE expression, so
    the only shuffle in the whole plan is the final language-grain
    aggregate (at 100 TB: scan + one 5-row-out shuffle; no doc-grain
    exchange at all). Each -p*ln(p) term is 1e-9 BIGINT-quantized
    before the per-doc sum (the libm guard: ln is the one
    implementation-defined call), per-language means quantize to 1e-6,
    and the low-diversity count compares quantized integers so the
    threshold can't straddle an ulp."""
    d = ensure_parallelism(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", normalize_text(F.col("text")).alias("t")
    )
    base = d.select("doc_id", "lang", "t", F.length("t").alias("L")).filter(
        F.col("L") > 0
    )

    def term(acc, ch):
        cnt = F.length(F.col("t")) - F.length(
            F.replace(F.col("t"), ch, F.lit(""))
        )
        p = cnt.cast("double") / F.col("L")
        q = F.floor((-p) * F.log(p) * 1000000000 + F.lit(0.5)).cast("long")
        return acc + F.when(cnt > 0, q).otherwise(F.lit(0).cast("long"))

    ent = base.select(
        "lang",
        F.aggregate(
            F.array(*[F.lit(c) for c in _CE_ALPHABET]),
            F.lit(0).cast("long"),
            term,
        ).alias("ent_q"),
    )
    return (
        ent.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (
                F.floor(
                    F.sum("ent_q").cast("double") / F.count(F.lit(1)) / 1000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("avg_char_entropy"),
            (F.min("ent_q") / 1e9).alias("min_char_entropy"),
            F.sum(
                F.when(F.col("ent_q") < F.lit(_CE_LOW_Q), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_low_entropy"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# E339: Huffman code audit — optimal prefix-code cost of the token dist
# --------------------------------------------------------------------------

_HUF_TOPK = 4096  # symbols beyond the top-K collapse into one escape symbol


def _huf_oracle() -> str:
    return f"""
    WITH RECURSIVE tok AS (
      SELECT unnest({sql_tokens('text')}) AS t FROM documents),
    cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY t),
    top AS (SELECT t, f FROM cnt ORDER BY f DESC, t LIMIT {_HUF_TOPK}),
    tail AS (
      SELECT (SELECT COALESCE(SUM(f), 0) FROM cnt)
             - (SELECT COALESCE(SUM(f), 0) FROM top) AS tf),
    syms AS (
      SELECT f FROM top
      UNION ALL SELECT tf FROM tail WHERE tf > 0),
    base AS (
      SELECT list(f ORDER BY f) AS fs,
             CAST(SUM(f) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(CAST(FLOOR(f * log2(CAST((SELECT SUM(f) FROM syms)
                                               AS DOUBLE) / f)
                                 * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS ent_q
      -- HAVING without GROUP BY: an empty corpus yields ZERO rows
      -- (matching the Spark kernel, which emits nothing when the
      -- symbol frame is empty) instead of one NULL-list row with an
      -- ill-defined CEIL(log2(0)) (ADVICE r9).
      FROM syms HAVING COUNT(*) > 0),
    rec(fs, bits) AS (
      SELECT fs, CAST(0 AS BIGINT) FROM base
      UNION ALL
      SELECT list_sort(list_append(fs[3:], fs[1] + fs[2])),
             bits + fs[1] + fs[2]
      FROM rec WHERE len(fs) > 1)
    SELECT b.v AS n_symbols, b.n AS total_tokens,
           (SELECT bits FROM rec WHERE len(fs) = 1) AS huffman_bits,
           b.ent_q / 1e6 AS entropy_bits,
           CAST(CEIL(log2(CAST(b.v AS DOUBLE))) AS BIGINT) * b.n
             AS fixed_bits,
           CAST(FLOOR(CAST((SELECT bits FROM rec WHERE len(fs) = 1)
                           AS DOUBLE) / b.n * 1000000 + 0.5) AS BIGINT)
             / 1e6 AS bits_per_token
    FROM base b
    """


@query(
    "q_huffman_code_audit",
    oracle=_huf_oracle(),
    tags=("E339", "E294", "E309", "D9", "A1"),
)
def q_huffman_code_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal prefix-code (Huffman) cost of the corpus token
    distribution — the compression-efficiency audit beside BPE
    training (E294: merges grow the vocab; this prices a FIXED vocab)
    and the Gorilla storage audit (E309): huffman_bits is the exact
    integer-coded floor any entropy coder can reach with whole-bit
    codes, bracketed by the Shannon bound below and fixed-length
    coding above — the bits-per-token headline tokenizer and storage
    teams compare. Symbols = the top-4096 tokens by frequency plus
    ONE escape symbol carrying the tail mass (the real-coder pattern
    that also bounds the kernel state by a constant at any corpus
    size — no count gate needed). The Huffman total is computed by
    the classic two-smallest merge; the TOTAL cost is invariant
    across optimal tie-breaks (all Huffman trees are optimal), so
    only tie-invariant aggregates are emitted. The oracle replays
    the merge as a sorted-LIST-carrying WITH RECURSIVE (E334
    discipline); Spark runs the identical integer heap in ONE bounded
    Arrow task over the <= 4097-row symbol frame. Scale shape: one
    map-side-combinable token count, one TakeOrdered top-K, one
    constant-size kernel; entropy terms are per-symbol
    1e-6-quantized before the exact BIGINT sum (log2 libm guard)."""
    import heapq

    import pandas as pd

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select(
            F.explode(tokens(normalize_text(F.col("text")))).alias("t")
        )
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    cnt = tracked_persist(cnt)
    top = cnt.orderBy(F.col("f").desc(), "t").limit(_HUF_TOPK).select("f")
    totals = cnt.agg(F.sum("f").cast("bigint").alias("all_f"))
    tail = (
        top.agg(F.sum("f").cast("bigint").alias("top_f"))
        .crossJoin(F.broadcast(totals))
        .select((F.col("all_f") - F.col("top_f")).alias("f"))
        .filter(F.col("f") > 0)
    )
    syms = top.unionAll(tail)

    def huff(pdf):
        import math

        fs = [int(x) for x in pdf["f"]]

        n = sum(fs)
        v = len(fs)
        ent_q = sum(
            math.floor(f * math.log2(n / f) * 1000000 + 0.5) for f in fs
        )
        heapq.heapify(fs)
        bits = 0
        while len(fs) > 1:
            a = heapq.heappop(fs)
            b = heapq.heappop(fs)
            bits += a + b
            heapq.heappush(fs, a + b)
        return pd.DataFrame(
            {
                "n_symbols": [v],
                "total_tokens": [n],
                "huffman_bits": [bits],
                "entropy_bits": [ent_q / 1e6],
                "fixed_bits": [math.ceil(math.log2(v)) * n],
                "bits_per_token": [
                    math.floor(bits / n * 1000000 + 0.5) / 1e6
                ],
            }
        )

    return probe.single_task(
        syms,
        huff,
        "n_symbols bigint, total_tokens bigint, huffman_bits bigint, "
        "entropy_bits double, fixed_bits bigint, bits_per_token double",
    )


# --------------------------------------------------------------------------
# E347: Good-Turing frequency smoothing — frequency-of-frequencies
# --------------------------------------------------------------------------


@query(
    "q_good_turing_smoothing",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({sql_tokens('text')}) AS t FROM documents),
    cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS r FROM tok GROUP BY t),
    fof AS MATERIALIZED (
      SELECT r, CAST(COUNT(*) AS BIGINT) AS nr FROM cnt GROUP BY r),
    tot AS (SELECT CAST(SUM(r * nr) AS BIGINT) AS n,
                   CAST(SUM(nr) AS BIGINT) AS v
            FROM fof)
    SELECT f.r,
           f.nr,
           f1.nr AS nr_plus_1,
           CAST(FLOOR((f.r + 1) * CAST(f1.nr AS DOUBLE) / f.nr * 1000000
                      + 0.5) AS BIGINT) / 1e6 AS r_star,
           CAST(FLOOR((f.r + 1) * CAST(f1.nr AS DOUBLE) / f.nr
                      / t.n * 1000000000 + 0.5) AS BIGINT) / 1e9
             AS p_smoothed,
           CAST(FLOOR(CAST((SELECT nr FROM fof WHERE r = 1) AS DOUBLE)
                      / t.n * 1000000000 + 0.5) AS BIGINT) / 1e9
             AS p_unseen_mass
    FROM fof f
    JOIN fof f1 ON f1.r = f.r + 1
    CROSS JOIN tot t
    ORDER BY f.r
    """,
    tags=("E347", "E132", "D9", "A1", "J6"),
)
def q_good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing over the token unigram counts
    — the count-of-counts estimator under every held-out-likelihood
    and unseen-mass computation in language modeling (and the
    Zipf-fit E132's inferential sibling): N_r = how many types occur
    exactly r times; the smoothed count r* = (r+1) N_(r+1)/N_r, the
    smoothed probability r*/N, and the total unseen mass P_0 = N_1/N
    (Good 1953). Emitted for every r that has a successor N_(r+1) > 0
    (the raw estimator's domain — no fitted tail, stated); P_0 is
    NULL when the corpus has no singletons (the closed driver vocab
    has none — the Zipf/Heaps probe regime does), identically in
    both engines via the 1-row aggregate / scalar-subquery NULL. All counts
    are exact BIGINTs; the estimates are single fixed-shape double
    divisions quantized at output. Scale shape: token counts are one
    map-side-combinable groupBy; the frequency-of-frequencies table
    is tiny (hundreds of distinct r at any corpus size — it grows
    like the max count's log), and the r+1 self-join runs on it, not
    on the vocabulary."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    cnt = (
        docs.select(F.explode(tokens(normalize_text(F.col("text")))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    )
    fof = cnt.groupBy("r").agg(F.count(F.lit(1)).cast("bigint").alias("nr"))
    fof = tracked_persist(fof)
    tot = fof.agg(
        F.sum(F.col("r") * F.col("nr")).cast("bigint").alias("n"),
        F.sum("nr").cast("bigint").alias("v"),
    )
    # 1-row aggregate, NULL when no r=1 bucket exists — mirrors the
    # oracle's scalar subquery (which yields NULL, not zero rows)
    n1 = fof.agg(
        F.sum(F.when(F.col("r") == 1, F.col("nr"))).cast("bigint").alias("n1")
    )
    fa = fof.alias("fa")
    fb = fof.alias("fb")
    joined = (
        fa.join(fb, F.col("fa.r") + 1 == F.col("fb.r"))
        .select(
            F.col("fa.r").alias("r"),
            F.col("fa.nr").alias("nr"),
            F.col("fb.nr").alias("nr_plus_1"),
        )
    )
    est = (F.col("r") + 1) * F.col("nr_plus_1").cast("double") / F.col("nr")
    return (
        joined
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(n1))
        .select(
            "r",
            "nr",
            "nr_plus_1",
            (
                F.floor(est * 1000000 + F.lit(0.5)).cast("bigint") / 1e6
            ).alias("r_star"),
            (
                F.floor(est / F.col("n") * 1000000000 + F.lit(0.5)).cast(
                    "bigint"
                )
                / 1e9
            ).alias("p_smoothed"),
            (
                F.floor(
                    F.col("n1").cast("double") / F.col("n") * 1000000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e9
            ).alias("p_unseen_mass"),
        )
        .orderBy("r")
    )
