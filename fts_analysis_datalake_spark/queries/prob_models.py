"""Probabilistic-model queries (SURVEY.md §2.12 E226-E231): AR(1)
diagnostics with Ljung-Box, smoothed bigram language models, naive
Bayes classification, logistic regression by quantized Newton steps,
DSIR-style importance weighting, and doubly-robust treatment effects.

These are the "learn a model inside the engine" tranche: every fit
runs on SUFFICIENT STATISTICS (binned trial counts, token count
tables, stratum means) so the O(rows) work is one partial-aggregated
scan and the iterative algebra runs on domain-sized frames. Cross-
engine determinism follows the repo recipe: libm outputs (ln, exp)
are quantized to 1e-9 BIGINTs the moment they are produced, rational
series terms are floor-divided to integers BEFORE any sum, and model
parameters are re-quantized after every iteration so both engines
feed identical doubles into the next round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import load_table
from fts_analysis_datalake_spark.functions.deterministic import dcorr, sql_dcorr
from fts_analysis_datalake_spark.operators.text import (
    normalize_text,
    sql_tokens,
    tokens,
)
from fts_analysis_datalake_spark.registry import query

# --------------------------------------------------------------------------
# E226: AR(1) Yule-Walker fit + Ljung-Box portmanteau test
# --------------------------------------------------------------------------


def _lb_oracle() -> str:
    lag_cols = ",\n             ".join(
        f"lag(cnt, {k}) OVER w AS l{k}" for k in range(1, 7)
    )
    accs = ",\n           ".join(
        f"CAST(FLOOR({sql_dcorr(f'CASE WHEN l{k} IS NULL THEN NULL ELSE cnt END', f'l{k}', 0, 0)}"
        f" * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS r{k}"
        for k in range(1, 7)
    )
    terms = " + ".join(f"(r{k} * r{k}) / (n - {k})" for k in range(1, 7))
    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS c FROM events GROUP BY h),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    spine AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds),
    serie AS (
      SELECT s.h, COALESCE(hy.c, 0) AS cnt
      FROM spine s LEFT JOIN hourly hy ON s.h = hy.h),
    lagd AS (
      SELECT cnt, {lag_cols}
      FROM serie WINDOW w AS (ORDER BY h)),
    acfs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
           {accs}
      FROM lagd)
    SELECT n AS n_hours, r1 AS phi_ar1,
           CAST(FLOOR(n * (n + 2.0e0) * ({terms}) * 1000000 + 0.5) AS BIGINT)
             / 1000000.0 AS ljung_box_q
    FROM acfs
    """


@query(
    "q_ar1_ljung_box",
    oracle=_lb_oracle(),
    tags=("E226", "E110", "W3", "A1", "F4"),
)
def q_ar1_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) Yule-Walker fit plus the Ljung-Box portmanteau test on
    the global hourly arrival-count series: phi-hat = r1 (the
    Yule-Walker solution at order 1), and Q = n(n+2) * sum_{k=1..6}
    r_k^2/(n-k) — the is-there-any-autocorrelation-at-all test a
    forecasting pipeline (E54 Holt, E160 seasonal-naive) runs before
    trusting residuals. The series is regularized on a complete
    hourly spine (missing hours = 0), all six lags come off ONE
    ordered window, and each lag's Pearson r uses the exact-moment
    dcorr with the paired-null trick. Each r_k is quantized to 1e-9
    the moment it is formed, and Q is one fixed-order expression over
    those quantized values — hash-exact. The spine is time-bounded
    (~720 rows), so the window never scales with event volume."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).alias("c")
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    serie = spine.join(hourly, "h", "left").select(
        "h", F.coalesce(F.col("c"), F.lit(0)).alias("cnt")
    )
    w = Window.orderBy("h")
    lagd = serie.select(
        "cnt", *[F.lag("cnt", k).over(w).alias(f"l{k}") for k in range(1, 7)]
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n")]
    for k in range(1, 7):
        pair = F.when(F.col(f"l{k}").isNotNull(), F.col("cnt"))
        aggs.append(
            (
                F.floor(dcorr(pair, F.col(f"l{k}"), 0, 0) * 1000000000 + F.lit(0.5))
                .cast("bigint")
                / 1000000000.0
            ).alias(f"r{k}")
        )
    acfs = lagd.agg(*aggs)
    n = F.col("n")
    q_terms = None
    for k in range(1, 7):
        t = (F.col(f"r{k}") * F.col(f"r{k}")) / (n - k)
        q_terms = t if q_terms is None else q_terms + t
    return acfs.select(
        n.alias("n_hours"),
        F.col("r1").alias("phi_ar1"),
        (
            F.floor(n * (n + 2.0) * q_terms * 1000000 + F.lit(0.5)).cast("bigint")
            / 1000000.0
        ).alias("ljung_box_q"),
    )


# --------------------------------------------------------------------------
# E227: add-one-smoothed bigram language model — held-out cross entropy
# --------------------------------------------------------------------------


@query(
    "q_bigram_lm_heldout",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, doc_id % 5 < 4 AS is_train,
             {sql_tokens('text')} AS t
      FROM documents),
    bg AS MATERIALIZED (
      SELECT doc_id, lang, is_train,
             unnest(list_transform(generate_series(1, len(t) - 1),
                    i -> {{'a': t[i], 'b': t[i + 1]}})) AS s
      FROM toks),
    c2 AS MATERIALIZED (
      SELECT s.a AS w1, s.b AS w2, COUNT(*) AS c2
      FROM bg WHERE is_train GROUP BY w1, w2),
    c1 AS MATERIALIZED (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1 FROM c2 GROUP BY w1),
    vocab AS (
      SELECT COUNT(DISTINCT u.tok) AS v FROM (
        SELECT unnest(t) AS tok FROM toks WHERE is_train) u),
    scored AS (
      SELECT b.lang, b.doc_id,
             FLOOR(ln((COALESCE(p2.c2, 0) + 1.0e0)
                      / (COALESCE(p1.c1, 0) + (SELECT v FROM vocab)))
                   * 1000000000 + 0.5) AS term_q
      FROM bg b
      LEFT JOIN c2 p2 ON p2.w1 = b.s.a AND p2.w2 = b.s.b
      LEFT JOIN c1 p1 ON p1.w1 = b.s.a
      WHERE NOT b.is_train)
    SELECT lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           -(CAST(SUM(term_q) AS BIGINT) / 1000000000.0) / COUNT(*)
             AS avg_nll
    FROM scored GROUP BY lang ORDER BY lang
    """,
    tags=("E227", "D9", "D11", "E132", "J2", "A1"),
)
def q_bigram_lm_heldout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-one-smoothed bigram language model trained on the 80%
    doc_id-modulo split and evaluated as held-out cross entropy per
    language — the n-gram upgrade of E132's unigram quality score
    (per-token avg negative log p(w2|w1); lower = the corpus is
    predictable from local context). The model IS two count tables
    (bigram c2, context c1 = its per-w1 rollup) plus the train vocab
    size; scoring is two LEFT JOINs from held-out bigrams into those
    tables with missing counts coalesced to 0 — the pure
    Laplace-smoothing fallback, no special cases. Each ln term is
    1e-9-quantized at formation and summed as exact BIGINTs. At
    100 TB the count tables are vocab-bounded, the joins are
    broadcastable, and the scan is one pass."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 5 < 4).alias("is_train"),
        tokens(normalize_text(F.col("text"))).alias("t"),
    )
    bg = toks.select(
        "doc_id",
        "lang",
        "is_train",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i - 1] AS a, t[i] AS b))"
            )
        ).alias("s"),
    )
    c2 = (
        bg.filter("is_train")
        .groupBy(F.col("s.a").alias("w1"), F.col("s.b").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab = (
        toks.filter("is_train")
        .select(F.explode("t").alias("tok"))
        .agg(F.countDistinct("tok").alias("v"))
    )
    scored = (
        bg.filter(~F.col("is_train"))
        .join(
            F.broadcast(c2),
            (F.col("s.a") == F.col("w1")) & (F.col("s.b") == F.col("w2")),
            "left",
        )
        .drop("w1", "w2")
        .join(F.broadcast(c1), F.col("s.a") == F.col("w1"), "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "lang",
            "doc_id",
            F.floor(
                F.log(
                    (F.coalesce(F.col("c2"), F.lit(0)) + 1.0)
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"))
                )
                * 1000000000
                + F.lit(0.5)
            ).alias("term_q"),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            (
                -(F.sum("term_q").cast("bigint") / 1000000000.0)
                / F.count(F.lit(1))
            ).alias("avg_nll"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# E228: multinomial naive Bayes language classifier — train/test confusion
# --------------------------------------------------------------------------


@query(
    "q_naive_bayes_lang",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, doc_id % 5 < 4 AS is_train,
             unnest({sql_tokens('text')}) AS tok
      FROM documents),
    counts AS MATERIALIZED (
      SELECT lang, tok, COUNT(*) AS c FROM toks WHERE is_train GROUP BY lang, tok),
    totals AS MATERIALIZED (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS tot FROM counts GROUP BY lang),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM toks WHERE is_train),
    docs_train AS (
      SELECT COUNT(DISTINCT doc_id) AS n_train FROM toks WHERE is_train),
    priors AS MATERIALIZED (
      SELECT lang,
             CAST(FLOOR(ln(CAST(COUNT(DISTINCT doc_id) AS DOUBLE)
                           / (SELECT n_train FROM docs_train))
                        * 1000000000 + 0.5) AS BIGINT) AS prior_q
      FROM toks WHERE is_train GROUP BY lang),
    test_toks AS MATERIALIZED (
      SELECT doc_id, lang AS true_lang, tok FROM toks WHERE NOT is_train),
    scored AS MATERIALIZED (
      SELECT t.doc_id, t.true_lang, tl.lang AS cand,
             CAST(SUM(CAST(FLOOR(ln((COALESCE(c.c, 0) + 1.0e0)
                                    / (tl.tot + (SELECT v FROM vocab)))
                                 * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS like_q
      FROM test_toks t
      CROSS JOIN totals tl
      LEFT JOIN counts c ON c.lang = tl.lang AND c.tok = t.tok
      GROUP BY t.doc_id, t.true_lang, tl.lang),
    best AS (
      SELECT doc_id, true_lang, cand,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY like_q + p.prior_q DESC, cand) AS rn
      FROM scored JOIN priors p ON p.lang = scored.cand)
    SELECT true_lang, cand AS pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM best WHERE rn = 1
    GROUP BY true_lang, pred_lang ORDER BY true_lang, pred_lang
    """,
    tags=("E228", "E44", "D9", "J2", "J10", "W1", "A1"),
)
def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier trained inside the
    engine: per-(lang, token) Laplace-smoothed log likelihoods + doc
    priors from the 80% modulo split, argmax over the 5 candidate
    langs for each held-out doc, reported as the confusion matrix —
    the trainable upgrade of E44's fixed marker-token language ID.
    The model is three count tables (counts, totals, priors); scoring
    cross-joins each test token against the 5-row totals table and
    LEFT JOINs the count table so unseen (token, lang) pairs fall
    back to the pure-smoothing term. Every ln is 1e-9-quantized at
    formation, so each doc's log posterior is an exact BIGINT and the
    argmax (ties broken by lang) is hash-exact. At 100 TB: counts are
    vocab x langs (broadcastable), the only big shuffle is the
    per-(doc, lang) partial-aggregated sum."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 5 < 4).alias("is_train"),
        F.explode(tokens(normalize_text(F.col("text")))).alias("tok"),
    )
    train = toks.filter("is_train")
    counts = train.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.groupBy("lang").agg(F.sum("c").cast("bigint").alias("tot"))
    vocab = train.agg(F.countDistinct("tok").alias("v"))
    n_train = train.agg(F.countDistinct("doc_id").alias("n_train"))
    priors = (
        train.groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            F.floor(
                F.log(F.col("nd").cast("double") / F.col("n_train"))
                * 1000000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("prior_q"),
        )
    )
    test_toks = toks.filter(~F.col("is_train")).select(
        "doc_id", F.col("lang").alias("true_lang"), "tok"
    )
    scored = (
        test_toks.crossJoin(
            F.broadcast(totals.select(F.col("lang").alias("cand"), "tot"))
        )
        .join(
            F.broadcast(
                counts.select(F.col("lang").alias("cand"), "tok", "c")
            ),
            ["cand", "tok"],
            "left",
        )
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "true_lang", "cand")
        .agg(
            F.sum(
                F.floor(
                    F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                        / (F.col("tot") + F.col("v"))
                    )
                    * 1000000000
                    + F.lit(0.5)
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("like_q")
        )
    )
    best = scored.join(
        F.broadcast(priors.select(F.col("lang").alias("cand"), "prior_q")), "cand"
    ).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy(
                (F.col("like_q") + F.col("prior_q")).desc(), "cand"
            )
        ),
    )
    return (
        best.filter(F.col("rn") == 1)
        .groupBy("true_lang", F.col("cand").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# --------------------------------------------------------------------------
# E229: logistic regression by quantized Newton steps on binned trials
# --------------------------------------------------------------------------


def _logistic_oracle() -> str:
    base = """
    WITH binned AS MATERIALIZED (
      SELECT CAST(LEAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 4900, 9)
                  AS DOUBLE) AS x,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s
      FROM events GROUP BY 1),
    beta0 AS (SELECT 0.0e0 AS b0, 0.0e0 AS b1)"""
    prev = "beta0"
    for i in range(1, 5):
        base += f""",
    sums{i} AS MATERIALIZED (
      SELECT
        CAST(SUM(CAST(FLOOR((s - m * p) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS g0,
        CAST(SUM(CAST(FLOOR(x * (s - m * p) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS g1,
        CAST(SUM(CAST(FLOOR(m * p * (1.0e0 - p) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS h00,
        CAST(SUM(CAST(FLOOR(x * m * p * (1.0e0 - p) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS h01,
        CAST(SUM(CAST(FLOOR(x * x * m * p * (1.0e0 - p) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS h11
      FROM (
        SELECT x, m, s,
               1.0e0 / (1.0e0 + exp(-(b.b0 + b.b1 * x))) AS p
        FROM binned CROSS JOIN {prev} b)),
    beta{i} AS MATERIALIZED (
      SELECT
        CAST(FLOOR((b.b0 + (CAST(h11 AS DOUBLE) * g0 - CAST(h01 AS DOUBLE) * g1)
             / (CAST(h00 AS DOUBLE) * h11 - CAST(h01 AS DOUBLE) * h01))
             * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS b0,
        CAST(FLOOR((b.b1 + (CAST(h00 AS DOUBLE) * g1 - CAST(h01 AS DOUBLE) * g0)
             / (CAST(h00 AS DOUBLE) * h11 - CAST(h01 AS DOUBLE) * h01))
             * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS b1
      FROM sums{i} CROSS JOIN {prev} b)"""
        prev = f"beta{i}"
    base += """
    SELECT b0 AS beta0, b1 AS beta1,
           CAST(FLOOR(1.0e0 / (1.0e0 + exp(-(b0 + b1 * 9.0e0))) * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS p_at_top_decile
    FROM beta4"""
    return base


@query(
    "q_logistic_newton_purchase",
    oracle=_logistic_oracle(),
    tags=("E229", "E109", "A1", "F6", "J10"),
)
def q_logistic_newton_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (purchase ~ value decile) fit INSIDE the
    engine by 4 Newton-Raphson steps on binned sufficient statistics
    — the GLM counterpart of E109's closed-form OLS, and the honest
    way to run an iterative fit at 100 TB: the raw scan collapses to
    10 (trials, successes) bins ONCE, and every Newton round is
    algebra on that 10-row frame (gradient + 2x2 Hessian solved in
    closed form), never a second data pass. Determinism: each bin's
    gradient/Hessian contribution is 1e-6-quantized BEFORE the
    cross-bin sum, and the updated (b0, b1) are re-quantized to 1e-9
    after every round, so both engines enter each exp() with
    bit-identical arguments (the libm-quantization recipe applied to
    an optimizer loop). r10: the four Newton rounds run in ONE
    bounded Arrow task over the <= 10-row binned frame (the
    E202/E241 small-finish discipline for domain-sized state — the
    previous per-round eager-localCheckpoint chain paid ~5 scheduled
    jobs of fixed cost for 40 rows of algebra); the data-sized scan
    and binning stay fully distributed, and the kernel's C-libm exp
    is the SAME libm the DuckDB oracle calls, so the quantized
    contributions agree bit-for-bit by construction."""
    import math

    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    binned = e.groupBy(
        F.least(
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DIV 4900"),
            F.lit(9),
        )
        .cast("double")
        .alias("x")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum((F.col("event_type") == "purchase").cast("bigint"))
        .cast("bigint")
        .alias("s"),
    )

    def newton(pdf):
        bins = [
            (float(x), int(m), int(s))
            for x, m, s in zip(pdf["x"], pdf["m"], pdf["s"])
        ]

        def q6(v: float) -> int:
            return int(math.floor(v * 1000000 + 0.5))

        b0, b1 = 0.0, 0.0
        for _ in range(4):
            g0 = g1 = h00 = h01 = h11 = 0
            for x, m, s in bins:
                p = 1.0 / (1.0 + math.exp(-(b0 + b1 * x)))
                g0 += q6(s - m * p)
                g1 += q6(x * (s - m * p))
                h00 += q6(m * p * (1.0 - p))
                h01 += q6(x * m * p * (1.0 - p))
                h11 += q6(x * x * m * p * (1.0 - p))
            det = float(h00) * float(h11) - float(h01) * float(h01)
            d0 = (float(h11) * float(g0) - float(h01) * float(g1)) / det
            d1 = (float(h00) * float(g1) - float(h01) * float(g0)) / det
            b0 = math.floor((b0 + d0) * 1000000000 + 0.5) / 1000000000.0
            b1 = math.floor((b1 + d1) * 1000000000 + 0.5) / 1000000000.0
        p_top = (
            math.floor(
                1.0 / (1.0 + math.exp(-(b0 + b1 * 9.0))) * 1000000 + 0.5
            )
            / 1000000.0
        )
        return pd.DataFrame(
            {"beta0": [b0], "beta1": [b1], "p_at_top_decile": [p_top]}
        )

    return probe.single_task(
        binned, newton, "beta0 double, beta1 double, p_at_top_decile double"
    )


# --------------------------------------------------------------------------
# E230: DSIR-style hashed-n-gram importance weights for domain matching
# --------------------------------------------------------------------------


@query(
    "q_dsir_importance_weights",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang,
             CAST(('0x' || substring(md5(unnest({sql_tokens('text')})), 1, 8))
                  AS BIGINT) % 64 AS bucket
      FROM documents),
    raw AS MATERIALIZED (
      SELECT bucket, COUNT(*) AS cr FROM toks GROUP BY bucket),
    tgt AS MATERIALIZED (
      SELECT bucket, COUNT(*) AS ct FROM toks WHERE lang = 'en' GROUP BY bucket),
    masses AS (
      SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS tot_r,
             (SELECT CAST(SUM(ct) AS BIGINT) FROM tgt) AS tot_t),
    weights AS MATERIALIZED (
      SELECT r.bucket,
             CAST(FLOOR((ln((COALESCE(t.ct, 0) + 1.0e0) / (m.tot_t + 64))
                         - ln((r.cr + 1.0e0) / (m.tot_r + 64)))
                        * 1000000000 + 0.5) AS BIGINT) AS w_q
      FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket CROSS JOIN masses m),
    docw AS (
      SELECT tk.doc_id, MIN(tk.lang) AS lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.w_q) AS BIGINT) AS dw_q
      FROM toks tk JOIN weights w ON w.bucket = tk.bucket
      GROUP BY tk.doc_id),
    ranked AS (
      SELECT doc_id, lang, n_tokens,
             dw_q // n_tokens AS avg_q,
             ROW_NUMBER() OVER (ORDER BY dw_q // n_tokens DESC, doc_id) AS rn
      FROM docw)
    SELECT doc_id, lang, n_tokens,
           CAST(avg_q AS BIGINT) / 1000000000.0 AS importance_logratio
    FROM ranked WHERE rn <= 20 ORDER BY rn
    """,
    tags=("E230", "D9", "F11", "J2", "O3", "A1"),
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection: score every document by the hashed
    n-gram importance log-ratio log p_target(x) - log p_raw(x), with
    unigram features hashed into 64 md5-derived buckets and both
    distributions Laplace-smoothed — the Xie et al. recipe for
    selecting raw data that looks like a target domain (here: the
    'en' slice as the target), reduced to its engine shape. The two
    "models" are 64-row bucket histograms; per-bucket log-ratios are
    1e-9-quantized at formation, each doc's score is an exact BIGINT
    sum over its tokens (normalized per token via integer DIV so long
    docs don't win by length), and the top-20 selection orders by the
    integer key. The hash is md5-substring (engine-portable, unlike
    xxhash) — at 100 TB this is one token scan, a 64-row broadcast
    join, and a TakeOrdered."""
    d = load_table(spark, sf_dir, "documents")
    # r11: the exploded md5-bucket stream fed raw, tgt AND docw as
    # three separate subtree executions — persist it once, and fuse
    # the raw/target histograms into ONE conditional aggregate (the
    # 64-row left join disappears; the conditional count reproduces
    # COALESCE(ct, 0) exactly). Measured x0.62.
    toks = tracked_persist(
        d.select(
            "doc_id",
            "lang",
            F.explode(tokens(normalize_text(F.col("text")))).alias("tok"),
        ).select(
            "doc_id",
            "lang",
            (
                F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
                % 64
            ).alias("bucket"),
        )
    )
    hist = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cr"),
        F.count(F.when(F.col("lang") == "en", F.lit(1))).alias("ct"),
    )
    masses = hist.agg(
        F.sum("cr").cast("bigint").alias("tot_r"),
        F.sum("ct").cast("bigint").alias("tot_t"),
    )
    weights = hist.crossJoin(F.broadcast(masses)).select(
        "bucket",
        F.floor(
            (
                F.log((F.col("ct") + 1.0) / (F.col("tot_t") + 64))
                - F.log((F.col("cr") + 1.0) / (F.col("tot_r") + 64))
            )
            * 1000000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("w_q"),
    )
    docw = (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("w_q").cast("bigint").alias("dw_q"),
        )
    )
    ranked = docw.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.expr("dw_q DIV n_tokens").alias("avg_q"),
    ).withColumn(
        "rn",
        F.row_number().over(Window.orderBy(F.col("avg_q").desc(), "doc_id")),
    )
    return (
        ranked.filter(F.col("rn") <= 20)
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            (F.col("avg_q").cast("bigint") / 1000000000.0).alias(
                "importance_logratio"
            ),
        )
        .orderBy("rn")
    )


# --------------------------------------------------------------------------
# E231: doubly-robust (AIPW) average treatment effect
# --------------------------------------------------------------------------


@query(
    "q_doubly_robust_ate",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                  AS INTEGER) AS t,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS y_q,
             CAST(FLOOR(COUNT(*) / 10) AS BIGINT) AS stratum
      FROM events GROUP BY user_id),
    strata AS (
      SELECT stratum,
             CAST(SUM(t) AS DOUBLE) / COUNT(*) AS e,
             CAST(SUM(CASE WHEN t = 1 THEN y_q ELSE 0 END) AS BIGINT) AS y1_q,
             CAST(SUM(t) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN t = 0 THEN y_q ELSE 0 END) AS BIGINT) AS y0_q,
             CAST(SUM(1 - t) AS BIGINT) AS n0
      FROM users GROUP BY stratum),
    usable AS (
      SELECT u.t, u.y_q / 1000000.0 AS y, s.e,
             s.y1_q / 1000000.0 / s.n1 AS m1,
             s.y0_q / 1000000.0 / s.n0 AS m0
      FROM users u JOIN strata s USING (stratum)
      WHERE s.e > 0 AND s.e < 1),
    contribs AS (
      SELECT t,
             CAST(FLOOR((t * (y - m1) / e - (1 - t) * (y - m0) / (1.0e0 - e)
                         + (m1 - m0)) * 1000000 + 0.5) AS BIGINT) AS phi_q,
             CAST(FLOOR((m1 - m0) * 1000000 + 0.5) AS BIGINT) AS reg_q
      FROM usable)
    SELECT CAST(SUM(t) AS BIGINT) AS n_treated,
           CAST(SUM(1 - t) AS BIGINT) AS n_control,
           (CAST(SUM(phi_q) AS BIGINT) / 1000000.0) / COUNT(*) AS ate_dr,
           (CAST(SUM(reg_q) AS BIGINT) / 1000000.0) / COUNT(*) AS ate_outcome_model
    FROM contribs
    """,
    tags=("E231", "E158", "A1", "A7", "J1"),
)
def q_doubly_robust_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doubly-robust (AIPW) average treatment effect of 'signed up'
    on per-user engagement value — the estimator that stays
    consistent if EITHER the propensity model or the outcome model is
    right, shown next to the pure outcome-model estimate (the gap is
    the residual-confounding correction IPW contributes). Reuses
    E158's stratified design (activity-decile strata; propensity e =
    within-stratum treated share; positivity-violating strata
    dropped) and adds the stratum outcome means m1/m0. Unlike E158's
    raw double sums, every per-user AIPW contribution phi is
    1e-6-quantized BEFORE the final sum, so the estimate is exact
    integer arithmetic after one per-user shuffle plus a broadcast
    stratum join — order-free at any partition layout."""
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("int")
        .alias("t"),
        F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("y_q"),
        F.floor(F.count(F.lit(1)) / 10).cast("bigint").alias("stratum"),
    )
    strata = users.groupBy("stratum").agg(
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("e"),
        F.sum(F.when(F.col("t") == 1, F.col("y_q")).otherwise(0))
        .cast("bigint")
        .alias("y1_q"),
        F.sum("t").cast("bigint").alias("n1"),
        F.sum(F.when(F.col("t") == 0, F.col("y_q")).otherwise(0))
        .cast("bigint")
        .alias("y0_q"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n0"),
    )
    usable = (
        users.join(F.broadcast(strata), "stratum")
        .filter((F.col("e") > 0) & (F.col("e") < 1))
        .select(
            "t",
            (F.col("y_q") / 1000000.0).alias("y"),
            "e",
            (F.col("y1_q") / 1000000.0 / F.col("n1")).alias("m1"),
            (F.col("y0_q") / 1000000.0 / F.col("n0")).alias("m0"),
        )
    )
    t, y, ps = F.col("t"), F.col("y"), F.col("e")
    m1, m0 = F.col("m1"), F.col("m0")
    phi = t * (y - m1) / ps - (1 - t) * (y - m0) / (1.0 - ps) + (m1 - m0)
    contribs = usable.select(
        "t",
        F.floor(phi * 1000000 + F.lit(0.5)).cast("bigint").alias("phi_q"),
        F.floor((m1 - m0) * 1000000 + F.lit(0.5)).cast("bigint").alias("reg_q"),
    )
    return contribs.agg(
        F.sum("t").cast("bigint").alias("n_treated"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_control"),
        ((F.sum("phi_q").cast("bigint") / 1000000.0) / F.count(F.lit(1))).alias(
            "ate_dr"
        ),
        ((F.sum("reg_q").cast("bigint") / 1000000.0) / F.count(F.lit(1))).alias(
            "ate_outcome_model"
        ),
    )


# --------------------------------------------------------------------------
# E241: Markov removal-effect attribution — absorbing-chain conversion
# --------------------------------------------------------------------------

_MRK_CHANNELS = ("click", "error", "signup", "view")


def _markov_attr_oracle() -> str:
    scen_rows = ", ".join(f"('{c}')" for c in ("full", *_MRK_CHANNELS))
    base = f"""
    WITH ordered AS MATERIALIZED (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
      FROM events),
    firstbuy AS (
      SELECT user_id, MIN(rn) AS pr FROM ordered
      WHERE event_type = 'purchase' GROUP BY user_id),
    journey AS MATERIALIZED (
      SELECT o.user_id, o.event_type, o.rn,
             MAX(o.rn) OVER (PARTITION BY o.user_id) AS last_rn,
             f.pr
      FROM ordered o LEFT JOIN firstbuy f USING (user_id)
      WHERE f.pr IS NULL OR o.rn <= f.pr),
    trans AS MATERIALIZED (
      SELECT s, t, COUNT(*) AS c FROM (
        SELECT 'start' AS s, event_type AS t FROM journey WHERE rn = 1
        UNION ALL
        SELECT j1.event_type, j2.event_type
        FROM journey j1 JOIN journey j2
          ON j2.user_id = j1.user_id AND j2.rn = j1.rn + 1
        UNION ALL
        SELECT event_type, 'null' FROM journey
        WHERE pr IS NULL AND rn = last_rn)
      GROUP BY s, t),
    probs AS MATERIALIZED (
      SELECT s, t, (c * 1000000000) // SUM(c) OVER (PARTITION BY s) AS p_q
      FROM trans),
    scen(x) AS (VALUES {scen_rows}),
    sp AS MATERIALIZED (
      SELECT scen.x AS sc, probs.s,
             CASE WHEN probs.t = scen.x THEN 'null' ELSE probs.t END AS t,
             CAST(SUM(p_q) AS BIGINT) AS p_q
      FROM probs CROSS JOIN scen
      WHERE probs.s <> scen.x
      GROUP BY sc, probs.s, t),
    conv0 AS MATERIALIZED (
      SELECT DISTINCT sc, s, CAST(0 AS BIGINT) AS v FROM sp)"""
    prev = "conv0"
    for i in range(1, 25):
        base += f""",
    conv{i} AS MATERIALIZED (
      SELECT sp.sc, sp.s,
             CAST(SUM(CASE WHEN sp.t = 'purchase' THEN sp.p_q
                           WHEN sp.t = 'null' THEN 0
                           ELSE (sp.p_q * COALESCE(pv.v, 0)) // 1000000000
                      END) AS BIGINT) AS v
      FROM sp LEFT JOIN {prev} pv ON pv.sc = sp.sc AND pv.s = sp.t
      GROUP BY sp.sc, sp.s)"""
        prev = f"conv{i}"
    base += f"""
    , final AS (
      SELECT sc, v FROM conv24 WHERE s = 'start'),
    eff AS (
      SELECT c.sc AS channel,
             CAST(f.v AS BIGINT) AS conv_full_q,
             CAST(c.v AS BIGINT) AS conv_removed_q,
             CAST(f.v - c.v AS BIGINT) AS effect_q
      FROM final c CROSS JOIN (SELECT v FROM final WHERE sc = 'full') f
      WHERE c.sc <> 'full')
    SELECT channel,
           conv_full_q / 1000000000.0 AS conv_full,
           conv_removed_q / 1000000000.0 AS conv_removed,
           CAST(FLOOR(CAST(effect_q AS DOUBLE) / conv_full_q * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS removal_effect,
           CAST(FLOOR(CAST(effect_q AS DOUBLE)
                      / (SELECT SUM(effect_q) FROM eff) * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS attribution_share
    FROM eff ORDER BY channel"""
    return base


@query(
    "q_markov_removal_attribution",
    oracle=_markov_attr_oracle(),
    tags=("E241", "E117", "W1", "J11", "A1"),
)
def q_markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: model each user's journey
    (start -> events -> first purchase | null) as an absorbing Markov
    chain, compute the start-to-purchase absorption probability, then
    re-compute it with each channel REMOVED (its inbound transitions
    redirected to the null sink, its outbound dropped) — the channel's
    removal effect is the conversion it was load-bearing for, and the
    normalized effects are the attribution shares (Anderl et al.'s
    framework; the causal-structure alternative to E116 position
    rules and E186's Shapley). Absorption probabilities come from 24
    fixed power-iteration rounds in PURE INTEGER arithmetic:
    transition probabilities are 1e-9 BIGINT rationals, each round
    maps integers to integers via floor division, and all five
    scenarios (full + 4 removals) iterate together on one
    scenario-keyed frame of ~30 rows. The only data-sized work is the
    journey window + one self-join for consecutive pairs; everything
    after is domain-sized."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    firstbuy = (
        ordered.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("pr"))
    )
    journey = (
        ordered.join(F.broadcast(firstbuy), "user_id", "left")
        .filter(F.col("pr").isNull() | (F.col("rn") <= F.col("pr")))
        .select(
            "user_id",
            "event_type",
            "rn",
            F.max("rn").over(Window.partitionBy("user_id")).alias("last_rn"),
            "pr",
        )
        .localCheckpoint(eager=True)
    )
    starts = journey.filter(F.col("rn") == 1).select(
        F.lit("start").alias("s"), F.col("event_type").alias("t")
    )
    nxt = journey.select("user_id", F.col("rn").alias("rn2"), F.col("event_type").alias("t"))
    steps = (
        journey.join(
            nxt,
            (journey["user_id"] == nxt["user_id"])
            & (nxt["rn2"] == journey["rn"] + 1),
        )
        .select(F.col("event_type").alias("s"), "t")
    )
    drops = journey.filter(
        F.col("pr").isNull() & (F.col("rn") == F.col("last_rn"))
    ).select(F.col("event_type").alias("s"), F.lit("null").alias("t"))
    trans = (
        starts.unionAll(steps).unionAll(drops).groupBy("s", "t").agg(
            F.count(F.lit(1)).alias("c")
        )
    )
    probs = trans.select(
        "s", "t", F.expr("(c * 1000000000) DIV SUM(c) OVER (PARTITION BY s)").alias("p_q")
    )
    scen = spark.createDataFrame(
        [(x,) for x in ("full", *_MRK_CHANNELS)], "x string"
    )
    sp = (
        probs.crossJoin(F.broadcast(scen))
        .filter(F.col("s") != F.col("x"))
        .select(
            F.col("x").alias("sc"),
            "s",
            F.when(F.col("t") == F.col("x"), F.lit("null")).otherwise(F.col("t")).alias("t"),
            "p_q",
        )
        .groupBy("sc", "s", "t")
        .agg(F.sum("p_q").cast("bigint").alias("p_q"))
        .localCheckpoint(eager=True)
    )
    # The 24 power-iteration rounds move a DOMAIN-sized frame: ~5
    # scenarios x |states|^2 transition rows (~150 total) regardless
    # of corpus size — everything data-sized already collapsed into
    # `sp`. Run all 24 rounds in ONE bounded Arrow task (the same
    # small-finish discipline as dedup_clusters / MMR): Python ints
    # replay BIGINT arithmetic exactly (p_q*v <= 1e18 < 2^63, and //
    # matches DIV on the non-negative operands here), so the result
    # stays bit-identical to the unrolled-CTE oracle while replacing
    # 24 scheduled join+agg rounds (~5 s of pure stage overhead
    # locally) with one task.
    def absorb(pdf):
        import pandas as pd

        edges: dict[str, list[tuple[str, str, int]]] = {}
        states: dict[str, set[str]] = {}
        for sc, s, t, p_q in zip(pdf["sc"], pdf["s"], pdf["t"], pdf["p_q"]):
            edges.setdefault(sc, []).append((s, t, int(p_q)))
            states.setdefault(sc, set()).add(s)
        out = []
        for sc, es in edges.items():
            v = {s: 0 for s in states[sc]}
            for _ in range(24):
                nv = {s: 0 for s in states[sc]}
                for s, t, p_q in es:
                    if t == "purchase":
                        nv[s] += p_q
                    elif t != "null":
                        nv[s] += (p_q * v.get(t, 0)) // 1_000_000_000
                v = nv
            out.extend((sc, s, val) for s, val in v.items())
        return pd.DataFrame(out, columns=["sc", "s", "v"])

    conv = probe.single_task(sp, absorb, "sc string, s string, v bigint")
    final = conv.filter(F.col("s") == "start").select("sc", "v")
    full = final.filter(F.col("sc") == "full").select(
        F.col("v").alias("v_full")
    )
    eff = (
        final.filter(F.col("sc") != "full")
        .crossJoin(F.broadcast(full))
        .select(
            F.col("sc").alias("channel"),
            F.col("v_full").cast("bigint").alias("conv_full_q"),
            F.col("v").cast("bigint").alias("conv_removed_q"),
            (F.col("v_full") - F.col("v")).cast("bigint").alias("effect_q"),
        )
    )
    tot_eff = eff.agg(F.sum("effect_q").alias("sum_eff"))

    def q6(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1000000.0

    return (
        eff.crossJoin(F.broadcast(tot_eff))
        .select(
            "channel",
            (F.col("conv_full_q") / 1000000000.0).alias("conv_full"),
            (F.col("conv_removed_q") / 1000000000.0).alias("conv_removed"),
            q6(F.col("effect_q").cast("double") / F.col("conv_full_q")).alias(
                "removal_effect"
            ),
            q6(F.col("effect_q").cast("double") / F.col("sum_eff")).alias(
                "attribution_share"
            ),
        )
        .orderBy("channel")
    )
