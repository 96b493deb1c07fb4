"""Advanced model-evaluation and inference queries (SURVEY.md §2.12
E216-E225): ranked-retrieval AP, threshold sweeps with MCC, one-way
ANOVA, Mann-Whitney U, Nelson-Aalen hazard, AR(1) Yule-Walker with
Ljung-Box, and their kin.

Design rules shared by every query here:

- **Exact-integer determinism.** Every statistic that sums a rational
  series (precision@k terms, d/n hazard increments) quantizes each
  term with BIGINT floor-division *before* the sum, so both engines
  add identical integers in any order (the functions/deterministic.py
  recipe extended from sums to series).
- **Moments, not rows.** ANOVA/U/AR(1) reduce the fact table to
  per-group DECIMAL moment sums or distinct-value count frames first;
  the O(rows) stage is one partial-aggregated scan, and everything
  after runs on frames bounded by the attribute domain — the 100 TB
  shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark.caching import fixpoint_confs, tracked_persist
from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.catalog import (
    ensure_shuffle_parallelism,
    load_table,
)
from fts_analysis_datalake_spark.operators.graphs import pagerank_exact
from fts_analysis_datalake_spark.registry import query

# --------------------------------------------------------------------------
# E216: average precision (area under the PR curve, step interpolation)
# --------------------------------------------------------------------------


@query(
    "q_average_precision",
    oracle="""
    WITH scored AS (
      SELECT CAST(event_type = 'purchase' AS BIGINT) AS pos,
             ROW_NUMBER() OVER (
               ORDER BY CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DESC,
                        event_id) AS rnk,
             SUM(CAST(event_type = 'purchase' AS BIGINT)) OVER (
               ORDER BY CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DESC,
                        event_id) AS cumpos
      FROM events),
    terms AS (
      SELECT pos, cumpos, rnk,
             (cumpos * 1000000000) // rnk AS prec_q
      FROM scored)
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN pos = 1 THEN prec_q ELSE 0 END) AS BIGINT)
             / 1000000000.0 / SUM(pos) AS average_precision,
           CAST(SUM(pos) AS BIGINT) * 1.0 / COUNT(*) AS base_rate
    FROM terms
    """,
    tags=("E216", "W4", "W1", "A1"),
)
def q_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision — the area under the precision-recall curve
    under step interpolation: AP = mean over positives of
    precision@rank, ranking events by `value` as a purchase score.
    The PR complement of E135's ROC AUC: on a 20%-positive base rate
    the two disagree exactly when a ranker piles false positives at
    the head, which ROC under-penalizes. Ranking ties are broken by
    event_id on BOTH sides (scores first quantized to cents so the
    double sort key is identical cross-engine), and each
    precision@rank term is floor-quantized to 1e-9 via BIGINT
    division before the sum, so the engine-side accumulation adds
    exact integers in any order. One global-sort window over the
    scored scan — at 100 TB the ranked prefix sum is a single
    range-partitioned window, no per-rank shuffle."""
    e = load_table(spark, sf_dir, "events")
    score = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    pos = (F.col("event_type") == "purchase").cast("bigint")
    w = Window.orderBy(score.desc(), "event_id")
    scored = e.select(
        pos.alias("pos"),
        F.row_number().over(w).alias("rnk"),
        F.sum(pos).over(w).alias("cumpos"),
    )
    terms = scored.select(
        "pos",
        F.expr("(cumpos * 1000000000) DIV rnk").alias("prec_q"),
    )
    return terms.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.sum(F.when(F.col("pos") == 1, F.col("prec_q")).otherwise(F.lit(0)))
            .cast("bigint")
            / 1000000000.0
            / F.sum("pos")
        ).alias("average_precision"),
        (F.sum("pos").cast("bigint") * 1.0 / F.count(F.lit(1))).alias("base_rate"),
    )


# --------------------------------------------------------------------------
# E217: threshold sweep — confusion matrix, F1 and MCC per cutoff
# --------------------------------------------------------------------------


@query(
    "q_threshold_sweep_mcc",
    oracle="""
    WITH labeled AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             CAST(event_type = 'purchase' AS BIGINT) AS pos
      FROM events),
    grid AS (SELECT 4900 * g AS thr FROM generate_series(1, 9) t(g)),
    conf AS (
      SELECT g.thr,
             SUM(CASE WHEN l.cents >= g.thr THEN l.pos ELSE 0 END) AS tp,
             SUM(CASE WHEN l.cents >= g.thr THEN 1 - l.pos ELSE 0 END) AS fp,
             SUM(CASE WHEN l.cents <  g.thr THEN l.pos ELSE 0 END) AS fn,
             SUM(CASE WHEN l.cents <  g.thr THEN 1 - l.pos ELSE 0 END) AS tn
      FROM labeled l CROSS JOIN grid g
      GROUP BY g.thr)
    SELECT thr,
           CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           CAST(FLOOR(2.0e0 * tp / NULLIF(2.0e0 * tp + fp + fn, 0)
                * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS f1,
           CAST(FLOOR(
             (tp * tn - fp * fn) /
             NULLIF(sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE)
                         * CAST((tn + fp) * (tn + fn) AS DOUBLE)), 0)
             * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS mcc,
           CAST(FLOOR(
             (1.0e0 * tp / NULLIF(tp + fn, 0)
              + 1.0e0 * tn / NULLIF(tn + fp, 0) - 1.0e0)
             * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS youden_j
    FROM conf ORDER BY thr
    """,
    tags=("E217", "A1", "J10", "F6"),
)
def q_threshold_sweep_mcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier operating-point sweep: confusion matrix, F1,
    Matthews correlation and Youden's J at nine fixed cutoffs of the
    value score (a 49-unit grid over the score range) — the table a
    deployment picks its threshold from, with MCC as the
    prevalence-robust summary and J as the ROC-optimal pick. The
    9-row grid is CROSS JOINed against the labeled scan and reduced
    in ONE partial aggregate (each event contributes to every
    threshold's counters map-side), so the full sweep costs one scan
    and a 9-row shuffle regardless of data size. Counts are exact
    integers; each derived ratio is floor-quantized to 1e-6
    identically on both engines."""
    e = load_table(spark, sf_dir, "events")
    labeled = e.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (F.col("event_type") == "purchase").cast("bigint").alias("pos"),
    )
    grid = spark.range(1, 10).select((F.col("id") * 4900).alias("thr"))
    hit = F.col("cents") >= F.col("thr")
    conf = (
        labeled.crossJoin(F.broadcast(grid))
        .groupBy("thr")
        .agg(
            F.sum(F.when(hit, F.col("pos")).otherwise(0)).alias("tp"),
            F.sum(F.when(hit, 1 - F.col("pos")).otherwise(0)).alias("fp"),
            F.sum(F.when(~hit, F.col("pos")).otherwise(0)).alias("fn"),
            F.sum(F.when(~hit, 1 - F.col("pos")).otherwise(0)).alias("tn"),
        )
    )
    tp, fp, fn, tn = [F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn")]

    def q6(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1000000.0

    return conf.select(
        "thr",
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        # try_divide: an empty confusion cell (possible at tiny SFs or
        # extreme thresholds) makes a denominator 0 — both engines
        # emit NULL for that metric instead of erroring (Spark ANSI
        # raises on /0; the oracle uses NULLIF identically).
        q6(F.try_divide(2.0 * tp, 2.0 * tp + fp + fn)).alias("f1"),
        q6(
            F.try_divide(
                tp * tn - fp * fn,
                F.sqrt((tp + fp) * (tp + fn) * ((tn + fp) * (tn + fn))),
            )
        ).alias("mcc"),
        q6(
            F.try_divide(tp, tp + fn) + F.try_divide(tn, tn + fp) - 1.0
        ).alias("youden_j"),
    ).orderBy("thr")


# --------------------------------------------------------------------------
# E218: one-way ANOVA — F statistic across event-type groups
# --------------------------------------------------------------------------


@query(
    "q_anova_value_by_type",
    oracle="""
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0)))
                  AS BIGINT) AS s1,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0))
                      * CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0)))
                  AS BIGINT) AS s2
      FROM events GROUP BY event_type),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(s1) AS BIGINT) AS s1,
             CAST(SUM(s2) AS BIGINT) AS s2,
             CAST(SUM(CAST(FLOOR(CAST(s1 AS DOUBLE) * s1 / n) AS BIGINT))
                  AS BIGINT) AS sg
      FROM g)
    SELECT k AS n_groups, n AS n_rows,
           CAST(FLOOR((sg - CAST(s1 AS DOUBLE) * s1 / n) / 10000.0 * 10000 + 0.5)
                AS BIGINT) / 10000.0 AS ss_between,
           CAST(FLOOR((s2 - CAST(sg AS DOUBLE)) / 10000.0 * 10000 + 0.5)
                AS BIGINT) / 10000.0 AS ss_within,
           CAST(FLOOR(((sg - CAST(s1 AS DOUBLE) * s1 / n) / (k - 1))
                      / ((s2 - CAST(sg AS DOUBLE)) / (n - k))
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS f_stat
    FROM tot
    """,
    tags=("E218", "A1", "A6", "F6"),
)
def q_anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across the five event types on `value`: the
    between/within sum-of-squares decomposition and the F statistic —
    the k-group generalization of E130's two-sample z test (F near 1
    = the type means are indistinguishable). Everything derives from
    per-group exact integer moments (n, sum, sum-of-squares over
    cents), so the partial aggregation is one scan with map-side
    combine; the k-row algebra after it quantizes each group's
    s1^2/n contribution to BIGINT before the cross-group sum, so no
    double is accumulated in data-dependent order — hash-exact. At
    100 TB the shuffle carries k rows of three numbers."""
    e = load_table(spark, sf_dir, "events")
    xi = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xi).cast("bigint").alias("s1"),
        F.sum(xi * xi).cast("bigint").alias("s2"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("s1"),
        F.sum("s2").cast("bigint").alias("s2"),
        F.sum(
            F.floor(
                F.col("s1").cast("double") * F.col("s1") / F.col("n")
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("sg"),
    )
    k, n = F.col("k"), F.col("n")
    ssb = F.col("sg") - F.col("s1").cast("double") * F.col("s1") / n
    ssw = F.col("s2") - F.col("sg").cast("double")

    def q4(c):
        return F.floor(c * 10000 + F.lit(0.5)).cast("bigint") / 10000.0

    return tot.select(
        k.alias("n_groups"),
        n.alias("n_rows"),
        q4(ssb / 10000.0).alias("ss_between"),
        q4(ssw / 10000.0).alias("ss_within"),
        (
            F.floor((ssb / (k - 1)) / (ssw / (n - k)) * 1000000 + F.lit(0.5)).cast(
                "bigint"
            )
            / 1000000.0
        ).alias("f_stat"),
    )


# --------------------------------------------------------------------------
# E219: Mann-Whitney U — rank-sum test with tie correction
# --------------------------------------------------------------------------


@query(
    "q_mann_whitney_value",
    oracle="""
    WITH pool AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             CAST(event_type = 'purchase' AS BIGINT) AS in_a
      FROM events WHERE event_type IN ('purchase', 'view')),
    byval AS (
      SELECT cents, COUNT(*) AS cnt, SUM(in_a) AS cnt_a
      FROM pool GROUP BY cents),
    ranked AS (
      SELECT cents, cnt, cnt_a,
             COALESCE(SUM(cnt) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM byval),
    sums AS (
      SELECT SUM(cnt_a) AS n1, SUM(cnt - cnt_a) AS n2, SUM(cnt) AS n,
             SUM(cnt_a * (2 * below + cnt + 1)) AS two_r1,
             SUM(cnt * cnt * cnt - cnt) AS tie_term
      FROM ranked)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(two_r1 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST(FLOOR(
             ((two_r1 - n1 * (n1 + 1)) / 2.0e0 - n1 * n2 / 2.0e0)
             / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0e0
                    * ((n + 1) - CAST(tie_term AS DOUBLE) / (n * (n - 1.0e0))))
             * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS z_stat
    FROM sums
    """,
    tags=("E219", "W4", "A1", "F6"),
)
def q_mann_whitney_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing purchase vs view
    values — the nonparametric two-sample test that E130's z test
    can't replace when the distributions are skewed. Classic
    distributed formulation: collapse to the distinct-value count
    frame (bounded by the cents domain, not row count), get each
    value's midrank from a prefix sum over counts, and form the rank
    sum R1 as an exact integer by carrying 2*R1 (midranks are
    half-integers). Tie correction uses the same frame's cnt^3-cnt
    sum. The z statistic is one fixed-order double expression off
    five exact integers, floor-quantized at 1e-6. One scan + one
    domain-sized window — no per-row ranking shuffle."""
    e = load_table(spark, sf_dir, "events")
    pool = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (F.col("event_type") == "purchase").cast("bigint").alias("in_a"),
    )
    byval = pool.groupBy("cents").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("in_a").alias("cnt_a")
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    ranked = byval.select(
        "cents",
        "cnt",
        "cnt_a",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("below"),
    )
    sums = ranked.agg(
        F.sum("cnt_a").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_a")).alias("n2"),
        F.sum("cnt").alias("n"),
        F.sum(F.col("cnt_a") * (2 * F.col("below") + F.col("cnt") + 1)).alias(
            "two_r1"
        ),
        F.sum(
            F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie_term"),
    )
    n1, n2, n = [F.col(c).cast("double") for c in ("n1", "n2", "n")]
    u1 = (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1)) / 2
    mu = n1 * n2 / 2.0
    sigma = F.sqrt(
        n1 * n2 / 12.0 * ((n + 1) - F.col("tie_term").cast("double") / (n * (n - 1.0)))
    )
    return sums.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        (F.col("two_r1") - F.col("n1") * (F.col("n1") + 1))
        .cast("bigint")
        .alias("u1_x2"),
        (
            F.floor((u1.cast("double") - mu) / sigma * 1000000 + F.lit(0.5)).cast(
                "bigint"
            )
            / 1000000.0
        ).alias("z_stat"),
    )


# --------------------------------------------------------------------------
# E220: Nelson-Aalen cumulative hazard over user lifetimes
# --------------------------------------------------------------------------


@query(
    "q_nelson_aalen_hazard",
    oracle="""
    WITH span AS (
      SELECT CAST(FLOOR(epoch(MAX(l_shipdate))) AS BIGINT) AS end_s
      FROM lineitem),
    lifetimes AS (
      SELECT l_orderkey,
             (CAST(FLOOR(epoch(MAX(l_shipdate))) AS BIGINT)
              - CAST(FLOOR(epoch(MIN(l_shipdate))) AS BIGINT)) // 86400
               AS life_days,
             CAST(CAST(FLOOR(epoch(MAX(l_shipdate))) AS BIGINT)
                  < (SELECT end_s FROM span) - 5184000 AS BIGINT) AS died
      FROM lineitem GROUP BY l_orderkey),
    risk AS (
      SELECT life_days AS t, SUM(died) AS d, COUNT(*) AS ended,
             SUM(COUNT(*)) OVER (ORDER BY life_days
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ended_before,
             (SELECT COUNT(*) FROM lifetimes) AS n_total
      FROM lifetimes GROUP BY life_days),
    steps AS (
      SELECT t, d, n_total - COALESCE(ended_before, 0) AS at_risk,
             (d * 1000000000) // (n_total - COALESCE(ended_before, 0)) AS dh_q
      FROM risk WHERE d > 0)
    SELECT t AS life_days, CAST(d AS BIGINT) AS deaths,
           CAST(at_risk AS BIGINT) AS at_risk,
           CAST(SUM(dh_q) OVER (ORDER BY t) AS BIGINT) / 1000000000.0
             AS cum_hazard
    FROM steps ORDER BY t
    """,
    tags=("E220", "W4", "A8", "F4"),
)
def q_nelson_aalen_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator over order shipping
    spans (first-to-last lineitem shipdate, whole days — always >= 0
    in this fixture, unlike orderdate-based spans), the
    counting-process sibling of E158's Kaplan-Meier:
    H(t) = sum_{t_i<=t} d_i/n_i. Orders whose last shipment falls in
    the final 60 days of the global ship horizon are right-censored
    (more shipments could still arrive). Spans reduce the lineitem
    scan to one row per order; the at-risk set n_i comes from a
    prefix sum over the day-granular span histogram (domain-sized,
    ~100 rows), and each hazard increment d/n is floor-quantized to
    1e-9 via BIGINT division BEFORE the cumulative sum, so both
    engines accumulate identical integers. Censored spans contribute
    to n_i but emit no step, matching the estimator's definition."""
    li = load_table(spark, sf_dir, "lineitem")
    t_end = li.agg(F.max(F.unix_timestamp("l_shipdate")).alias("end_s"))
    lifetimes = (
        li.groupBy("l_orderkey")
        .agg(
            F.min(F.unix_timestamp("l_shipdate")).alias("s0"),
            F.max(F.unix_timestamp("l_shipdate")).alias("s1"),
        )
        .crossJoin(F.broadcast(t_end))
        .select(
            F.expr("(s1 - s0) DIV 86400").alias("life_days"),
            (F.col("s1") < F.col("end_s") - 5184000).cast("bigint").alias("died"),
        )
    )
    n_total = lifetimes.agg(F.count(F.lit(1)).alias("n_total"))
    risk = (
        lifetimes.groupBy("life_days")
        .agg(F.sum("died").alias("d"), F.count(F.lit(1)).alias("ended"))
        .crossJoin(F.broadcast(n_total))
    )
    wprev = Window.orderBy("life_days").rowsBetween(Window.unboundedPreceding, -1)
    steps = (
        risk.select(
            F.col("life_days").alias("t"),
            "d",
            (
                F.col("n_total") - F.coalesce(F.sum("ended").over(wprev), F.lit(0))
            ).alias("at_risk"),
        )
        .filter(F.col("d") > 0)
        .select(
            "t",
            "d",
            "at_risk",
            F.expr("(d * 1000000000) DIV at_risk").alias("dh_q"),
        )
    )
    wcum = Window.orderBy("t")
    return steps.select(
        F.col("t").alias("life_days"),
        F.col("d").cast("bigint").alias("deaths"),
        F.col("at_risk").cast("bigint").alias("at_risk"),
        (F.sum("dh_q").over(wcum).cast("bigint") / 1000000000.0).alias(
            "cum_hazard"
        ),
    ).orderBy("life_days")


# --------------------------------------------------------------------------
# E221: k-core decomposition — fixed-round iterative peeling
# --------------------------------------------------------------------------


def _kcore_oracle() -> str:
    base = """
    WITH w AS MATERIALIZED (
      SELECT u, v, COUNT(*) AS c FROM (
        SELECT DISTINCT a.l_orderkey, a.l_suppkey AS u, b.l_suppkey AS v
        FROM lineitem a JOIN lineitem b
          ON b.l_orderkey = a.l_orderkey AND a.l_suppkey < b.l_suppkey)
      GROUP BY u, v),
    nn AS (SELECT COUNT(DISTINCT l_suppkey) AS n_nodes FROM lineitem),
    whist AS (
      SELECT c, COUNT(*) AS cnt,
             SUM(COUNT(*)) OVER (ORDER BY c DESC) AS cum_ge
      FROM w GROUP BY c),
    cstar AS (
      SELECT COALESCE(MAX(c), 0) AS cs FROM whist
      WHERE cum_ge >= 5 * (SELECT n_nodes FROM nn)),
    e0 AS MATERIALIZED (
      SELECT u, v FROM w WHERE c >= GREATEST((SELECT cs FROM cstar), 1))"""
    prev = "e0"
    for i in range(1, 7):
        base += f""",
    d{i} AS MATERIALIZED (
      SELECT node, COUNT(*) AS deg FROM (
        SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
      GROUP BY node),
    n{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= 5),
    e{i} AS MATERIALIZED (
      SELECT u, v FROM {prev}
      WHERE u IN (SELECT node FROM n{i}) AND v IN (SELECT node FROM n{i}))"""
        prev = f"e{i}"
    base += """
    SELECT node, CAST(COUNT(*) AS BIGINT) AS core_degree FROM (
      SELECT u AS node FROM e6 UNION ALL SELECT v FROM e6)
    GROUP BY node ORDER BY node"""
    return base


_KCORE_GATE = 2_000_000  # edges; tests patch to 0 to drive the scheduled peel loop


@query(
    "q_kcore_suppliers",
    oracle=_kcore_oracle(),
    tags=("E221", "J3", "A1", "W1", "E189"),
)
def q_kcore_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k=5) of the co-supplier graph by
    iterative peeling: drop every node of degree < 5, recompute
    degrees, repeat — the standard dense-subgraph primitive (the
    5-core is where every member keeps >= 5 strong ties even after
    weak nodes leave; cliques/communities live inside it). The graph
    is the co-supplier graph sparsified by a weight threshold chosen
    FROM THE WEIGHT HISTOGRAM: the largest shared-order count c* whose
    cumulative pair count reaches 5*|V| (ties at c* all kept). That
    keeps average degree ~10 at every scale factor without any global
    ranking pass — the histogram is domain-sized (distinct weights),
    so no single-partition row_number window ever sees the pair list
    (a fixed weight cutoff saturates to a complete graph as volume
    grows; a fixed edge count starves the core as nodes grow).
    Peeling runs a FIXED 6 rounds on both engines, so the result is
    well-defined parity even if the fixpoint needs more; each Spark
    round localCheckpoints (eager) because the edge frame feeds both
    the degree aggregate and two semi-joins — without it the logical
    plan doubles per round (the 2^k analyzer blow-up documented in
    the verify notes; DuckDB twin marks the same CTEs MATERIALIZED).
    At 100 TB: degrees are one shuffle per round on an edge list
    already sparsified to O(nodes)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup_lists = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("ss")
    )
    w = (
        sup_lists.select(
            F.explode(
                F.expr(
                    "flatten(transform(ss, (x, i) ->"
                    " transform(slice(ss, i + 2, size(ss)),"
                    " y -> struct(x AS u, y AS v))))"
                )
            ).alias("p")
        )
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    nn = li.agg(F.countDistinct("l_suppkey").alias("n_nodes"))
    whist = (
        w.groupBy("c")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "c",
            F.sum("cnt").over(
                Window.orderBy(F.col("c").desc()).rowsBetween(
                    Window.unboundedPreceding, 0
                )
            ).alias("cum_ge"),
        )
    )
    cstar = (
        whist.crossJoin(F.broadcast(nn))
        .filter(F.col("cum_ge") >= 5 * F.col("n_nodes"))
        .agg(F.coalesce(F.max("c"), F.lit(0)).alias("cs"))
    )
    edges = (
        w.crossJoin(F.broadcast(cstar))
        .filter(F.col("c") >= F.greatest(F.col("cs"), F.lit(1)))
        .select("u", "v")
    ).localCheckpoint(eager=True)
    # The sparsified edge list is O(nodes) by construction (the c*
    # cutoff pins average degree ~10), so route it the same way as
    # connected_components' finisher: when it fits one bounded
    # task, run all 6 peel rounds in a single mapInPandas kernel
    # (pure integer counting — identical result to the scheduled
    # loop); above the threshold, the scheduled broadcast-semi-join
    # rounds take over. Either branch ends with the surviving (u, v)
    # edges; the degree count below runs once, reading them once
    # (explode, not a union of two projections, which would run the
    # kernel twice). Measured 2.3 -> ~1.2 s in-suite at sf0.01.
    if probe.gate("kcore", edges.count() <= _KCORE_GATE):

        def peel(pdf):
            import pandas as pd

            es = list(zip((int(x) for x in pdf["u"]), (int(x) for x in pdf["v"])))
            for _ in range(6):
                deg: dict[int, int] = {}
                for u, v in es:
                    deg[u] = deg.get(u, 0) + 1
                    deg[v] = deg.get(v, 0) + 1
                keep = {n for n, d in deg.items() if d >= 5}
                es = [(u, v) for u, v in es if u in keep and v in keep]
            return pd.DataFrame(es, columns=["u", "v"])

        edges = probe.single_task(edges, peel, "u bigint, v bigint")
    else:
        with fixpoint_confs(spark):
            for _ in range(6):
                deg = (
                    edges.select(F.col("u").alias("node"))
                    .unionAll(edges.select(F.col("v").alias("node")))
                    .groupBy("node")
                    .agg(F.count(F.lit(1)).alias("deg"))
                )
                nodes = deg.filter(F.col("deg") >= 5).select("node")
                edges = (
                    edges.join(
                        F.broadcast(nodes.withColumnRenamed("node", "u")),
                        "u",
                        "leftsemi",
                    )
                    .join(
                        F.broadcast(nodes.withColumnRenamed("node", "v")),
                        "v",
                        "leftsemi",
                    )
                    .select("u", "v")
                    .localCheckpoint(eager=True)
                )
    return (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_degree"))
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# E222: resource-allocation link prediction over the bipartite graph
# --------------------------------------------------------------------------


@query(
    "q_resource_allocation_links",
    oracle="""
    WITH sp AS (
      SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
    pd AS (SELECT p, COUNT(*) AS d FROM sp GROUP BY p),
    scores AS (
      SELECT a.s AS u, b.s AS v,
             CAST(COUNT(*) AS BIGINT) AS common_parts,
             CAST(SUM(1000000000 // pd.d) AS BIGINT) AS score_q
      FROM sp a JOIN sp b ON a.p = b.p AND a.s < b.s
      JOIN pd ON pd.p = a.p
      GROUP BY u, v),
    ranked AS (
      SELECT u, v, common_parts, score_q / 1000000000.0 AS ra_score,
             ROW_NUMBER() OVER (ORDER BY score_q DESC, u, v) AS rn
      FROM scores)
    SELECT u, v, common_parts, ra_score FROM ranked WHERE rn <= 20
    ORDER BY rn
    """,
    tags=("E222", "J1", "J11", "A1", "O3"),
)
def q_resource_allocation_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (Zhou-Lu-Zhang's RA index,
    the exactly-computable sibling of Adamic-Adar): for supplier
    pairs, score = sum over commonly-supplied parts of 1/deg(part) —
    parts supplied by few suppliers are strong evidence the two
    suppliers occupy the same niche. Each 1/deg term is BIGINT
    floor-division-quantized to 1e-9 (RA's rational weights make the
    whole score exact integer arithmetic — the reason to prefer it
    over AA's 1/ln(deg) when hash-exact parity matters). The pair
    generation is the bipartite self-join on part — candidate pairs
    are bounded by sum-over-parts of deg^2, NOT suppliers^2, which is
    the scale story: hub parts (deg ~ thousands) would be capped or
    salted in a 100 TB deployment, exactly like the LSH band-bucket
    joins. The pair join's partition count is floored by the MEASURED
    pair workload (sum of deg^2 — a gate-style scalar read off the
    persisted degree table), not input bytes: the r8 32x probe showed
    AQE coalescing this byte-tiny shuffle onto a handful of tasks
    that spill the moment the per-task pair block outgrows memory
    (13 s -> 187 s for exactly-linear pair growth; see
    catalog.ensure_shuffle_parallelism). Top-20 by (score, u, v) via
    one TakeOrdered."""
    # r11 (guide §2.4, same rewrite as the co-purchase graph preamble):
    # ONE groupBy(p) collects each part's sorted supplier list; the
    # in-array i<j expansion emits exactly the self-join's u<v pairs
    # (sp is distinct, the array is sorted, so ss[i] < ss[j] iff i<j),
    # and deg(part) comes free as size(ss) — the former plan's
    # bipartite self-join (two scans of the persisted pair table) and
    # the separate degree join are gone. The per-part k^2 expansion has
    # the same hub-part workload as the join had (both materialize
    # deg^2 pairs per part); the workload-floored repartition spreads
    # parts over tasks identically. Top-20 via orderBy().limit(20)
    # (TakeOrderedAndProject, a distributed literal-k top-k) replaces
    # the former single-task row_number window over every score — same
    # (score_q desc, u, v) total order, same 20 rows.
    li = load_table(spark, sf_dir, "lineitem")
    sp = li.select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")).distinct()
    parts = tracked_persist(
        sp.groupBy("p").agg(F.sort_array(F.collect_list("s")).alias("ss"))
    )
    dcol = F.size("ss")
    wl = parts.agg(
        F.sum(dcol.cast("bigint") * dcol).alias("w"),
        F.count(F.lit(1)).alias("k"),
        F.max(dcol.cast("bigint") * dcol).alias("m"),
    ).first()
    partsb = ensure_shuffle_parallelism(
        parts,
        int(wl["w"] or 0),
        ["p"],
        n_keys=int(wl["k"]),
        max_key_workload=int(wl["m"] or 0),
    )
    pair = F.filter(
        F.flatten(
            F.transform(
                "ss",
                lambda x: F.transform(
                    "ss", lambda y: F.struct(x.alias("u"), y.alias("v"))
                ),
            )
        ),
        lambda q: q["u"] < q["v"],
    )
    scores = (
        partsb.select(
            F.explode(pair).alias("q"),
            F.expr("1000000000 DIV size(ss)").alias("term"),
        )
        .select("q.u", "q.v", "term")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_parts"),
            F.sum("term").cast("bigint").alias("score_q"),
        )
    )
    return (
        scores.orderBy(F.col("score_q").desc(), "u", "v")
        .limit(20)
        .select(
            "u", "v", "common_parts", (F.col("score_q") / 1000000000.0).alias("ra_score")
        )
    )


# --------------------------------------------------------------------------
# E223: grid-bucketed spatial within-radius join (the scale path of E172)
# --------------------------------------------------------------------------

_GRID_HAVERSINE = (
    "2 * 6371.0 * asin(sqrt("
    "pow(sin(radians(({blat}) - ({alat})) / 2), 2)"
    " + cos(radians({alat})) * cos(radians({blat}))"
    " * pow(sin(radians(({blon}) - ({alon})) / 2), 2)))"
)


@query(
    "q_grid_spatial_pairs",
    oracle=f"""
    WITH sc AS (
      SELECT CAST(CEIL(COUNT(*) / 15000.0) AS BIGINT) AS s FROM customer),
    pts AS (
      SELECT c_custkey AS k,
             40.0 + ((c_custkey * 7919) % 1000) / 100.0 AS lat,
             ((c_custkey * 104729) % (2000 * s)) / 100.0 AS lon,
             40 + ((c_custkey * 7919) % 1000) // 100 AS cell_lat,
             ((c_custkey * 104729) % (2000 * s)) // 100 AS cell_lon
      FROM customer CROSS JOIN sc),
    offsets AS (
      SELECT dlat, dlon
      FROM generate_series(-1, 1) t1(dlat), generate_series(-1, 1) t2(dlon)),
    cand AS (
      SELECT a.k AS a_key, b.k AS b_key,
             CAST(FLOOR({_GRID_HAVERSINE.format(alat='a.lat', alon='a.lon',
                                                blat='b.lat', blon='b.lon')}
                        * 1000 + 0.5) AS BIGINT) AS dist_m
      FROM pts a
      JOIN offsets o ON TRUE
      JOIN pts b
        ON b.cell_lat = a.cell_lat + o.dlat
       AND b.cell_lon = a.cell_lon + o.dlon
       AND a.k < b.k),
    hits AS (
      SELECT a_key, b_key, dist_m,
             ROW_NUMBER() OVER (ORDER BY dist_m, a_key, b_key) AS rn
      FROM cand WHERE dist_m <= 25000)
    SELECT a_key, b_key, dist_m / 1000.0 AS dist_km FROM hits
    WHERE rn <= 50 ORDER BY rn
    """,
    tags=("E223", "J7", "J6", "F6", "O3", "E172"),
)
def q_grid_spatial_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial within-radius join — the scale path E172's
    brute-force haversine kNN documents: bucket each point into a
    1-degree grid cell (integer arithmetic on the deterministic
    synthetic coordinates, derived from c_custkey because the fixture
    has no geo columns), equi-join each cell against its 3x3 neighbor
    block via a 9-row broadcast offset table, and verify candidates
    with the exact haversine. 25 km < 1 degree of latitude, so the
    neighbor block is a correct cover — no pair is missed. Candidate
    work is sum-over-cells of |cell| * |3x3 block|, NOT points^2; at
    100 TB cell granularity tracks the radius so each bucket stays
    executor-sized (skewed megacity cells would be salted like any
    hot key). Distances are quantized to 1 m before ranking and
    output (E172's trig-ulp rule); top-50 closest pairs returned.

    The synthetic lon domain SCALES with the corpus (s =
    ceil(n/15000) stretches the region s-fold): a fixed box means
    point density — and with it in-cell pair fan-out — grows
    quadratically with row count, which no geo deployment exhibits
    (data growth adds coverage, not unbounded density of one box).
    The r8 8x probe measured the fixed-box form at slope 89.5; with
    density held constant the candidate count is linear. s = 1 at
    every driver SF (n <= 15000), so test values are unchanged."""
    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    sc_ = c.agg(F.ceil(F.count(F.lit(1)) / F.lit(15000.0)).cast("bigint").alias("s"))
    pts = c.crossJoin(F.broadcast(sc_)).select(
        key.alias("k"),
        (40.0 + ((key * 7919) % 1000) / 100.0).alias("lat"),
        (((key * 104729) % (2000 * F.col("s"))) / 100.0).alias("lon"),
        (40 + F.expr("((c_custkey * 7919) % 1000) DIV 100")).alias("cell_lat"),
        F.expr("((c_custkey * 104729) % (2000 * s)) DIV 100").alias("cell_lon"),
    )
    offsets = spark.range(0, 9).select(
        (F.col("id") % 3 - 1).cast("int").alias("dlat"),
        (F.col("id") / 3).cast("int").alias("dlon_raw"),
    ).select("dlat", (F.col("dlon_raw") - 1).alias("dlon"))
    a = pts.select(
        F.col("k").alias("a_key"),
        F.col("lat").alias("alat"),
        F.col("lon").alias("alon"),
        "cell_lat",
        "cell_lon",
    ).crossJoin(F.broadcast(offsets))
    b = pts.select(
        F.col("k").alias("b_key"),
        F.col("lat").alias("blat"),
        F.col("lon").alias("blon"),
        F.col("cell_lat").alias("bcl"),
        F.col("cell_lon").alias("bco"),
    )
    hav = (
        2.0
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("blat") - F.col("alat")) / 2), 2)
                + F.cos(F.radians("alat"))
                * F.cos(F.radians("blat"))
                * F.pow(F.sin(F.radians(F.col("blon") - F.col("alon")) / 2), 2)
            )
        )
    )
    cand = a.join(
        b,
        (F.col("bcl") == F.col("cell_lat") + F.col("dlat"))
        & (F.col("bco") == F.col("cell_lon") + F.col("dlon"))
        & (F.col("a_key") < F.col("b_key")),
    ).select(
        "a_key",
        "b_key",
        F.floor(hav * 1000 + F.lit(0.5)).cast("bigint").alias("dist_m"),
    )
    rn = F.row_number().over(Window.orderBy("dist_m", "a_key", "b_key"))
    return (
        cand.filter(F.col("dist_m") <= 25000)
        .withColumn("rn", rn)
        .filter(F.col("rn") <= 50)
        .select("a_key", "b_key", (F.col("dist_m") / 1000.0).alias("dist_km"))
        .orderBy("rn")
    )


# --------------------------------------------------------------------------
# E224: TextRank keywords — quantized power iteration on the word graph
# --------------------------------------------------------------------------


def _textrank_oracle() -> str:
    from fts_analysis_datalake_spark.operators.text import sql_tokens

    base = f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, {sql_tokens('text')} AS t FROM documents),
    pairs AS MATERIALIZED (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                    i -> {{'a': t[i], 'b': t[i + 1]}})) AS s
      FROM toks),
    adj AS MATERIALIZED (
      SELECT least(s.a, s.b) AS w1, greatest(s.a, s.b) AS w2
      FROM pairs WHERE s.a <> s.b),
    edges AS MATERIALIZED (
      SELECT w1, w2 FROM (
        SELECT w1, w2, COUNT(*) AS c FROM adj GROUP BY w1, w2)
      WHERE c >= 3),
    dir AS MATERIALIZED (
      SELECT w1 AS src, w2 AS dst FROM edges
      UNION ALL SELECT w2, w1 FROM edges),
    deg AS MATERIALIZED (SELECT src AS node, COUNT(*) AS d FROM dir GROUP BY src),
    pr0 AS MATERIALIZED (SELECT node, CAST(1000000000 AS BIGINT) AS pr_q FROM deg)"""
    prev = "pr0"
    for i in range(1, 6):
        base += f""",
    pr{i} AS MATERIALIZED (
      SELECT d.node,
             CAST(150000000 + (17 * COALESCE(s.contrib, 0)) // 20 AS BIGINT)
               AS pr_q
      FROM deg d LEFT JOIN (
        SELECT dir.dst AS node, SUM(p.pr_q // dg.d) AS contrib
        FROM dir JOIN {prev} p ON p.node = dir.src
        JOIN deg dg ON dg.node = dir.src
        GROUP BY dir.dst) s ON s.node = d.node)"""
        prev = f"pr{i}"
    base += """
    SELECT node AS keyword, pr_q / 1000000000.0 AS textrank
    FROM pr5 ORDER BY pr_q DESC, node LIMIT 15"""
    return base


@query(
    "q_textrank_keywords",
    oracle=_textrank_oracle(),
    tags=("E224", "D9", "D11", "F7", "E107", "W1"),
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over the word
    co-occurrence graph (adjacent normalized tokens, undirected,
    edges kept at count >= 3) for 5 damped power-iteration rounds —
    the graph-centrality alternative to TF-IDF (E106) that surfaces
    words *connecting* many contexts rather than merely frequent
    ones. Determinism is full-integer: ranks live as 1e-9-scaled
    BIGINTs, each neighbor contribution is pr_q DIV deg, and the
    0.85 damping is the exact rational 17/20 — every round maps
    integers to integers identically on both engines, so no float is
    ever accumulated. The rounds run in the shared integer PageRank
    operator (17/20 damping == its 85/100) and the DuckDB twin
    MATERIALIZEs its round CTEs. The vocabulary graph is
    corpus-size-free (vocab nodes, not doc rows) — at 100 TB only
    the one adjacency aggregate scans data."""
    from fts_analysis_datalake_spark.operators.text import normalize_text, tokens

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(normalize_text(F.col("text"))).alias("t"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i - 1] AS x, t[i] AS y))"
            )
        ).alias("pr")
    ).select(
        F.least("pr.x", "pr.y").alias("w1"), F.greatest("pr.x", "pr.y").alias("w2")
    ).filter(F.col("w1") != F.col("w2"))
    edges = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 3)
        .select(F.col("w1").alias("u"), F.col("w2").alias("v"))
    )
    return (
        pagerank_exact(edges, 5)
        .orderBy(F.desc("r_q"), "node")
        .limit(15)
        .select(
            F.col("node").alias("keyword"), (F.col("r_q") / 1e9).alias("textrank")
        )
    )


# --------------------------------------------------------------------------
# E225: compaction bin-packing plan — next-fit over the file manifest
# --------------------------------------------------------------------------


@query(
    "q_compaction_binpack_plan",
    oracle="""
    WITH manifest AS (
      SELECT source, doc_id, n_chars,
             COALESCE(SUM(n_chars) OVER (
               ORDER BY source, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM documents),
    binned AS (
      SELECT CAST(prior // 16384 AS BIGINT) AS bin_id, source, n_chars
      FROM manifest)
    SELECT bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(n_chars) AS BIGINT) AS bytes,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(FLOOR(SUM(n_chars) * 1000000.0 / 16384 + 0.5) AS BIGINT)
             / 1000000.0 AS fill_ratio
    FROM binned GROUP BY bin_id ORDER BY bin_id
    """,
    tags=("E225", "W4", "A1", "E65"),
)
def q_compaction_binpack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: treat the documents table as a
    file manifest (n_chars = file size) and assign files to
    target-sized output bins by NEXT-FIT over the (source, doc_id)
    order — bin = prefix-sum-before-me DIV target. Next-fit (not
    first-fit-decreasing) is the deliberate choice: it's the only
    classic bin-packing heuristic expressible as one window prefix
    sum, it preserves source/key locality in the rewritten files, and
    its 2x-of-optimal bound is fine when sizes are far below the
    target. This is the planning half of E65's compaction audit:
    output = the per-bin manifest (file count, bytes, source spread,
    fill ratio vs the 16 KiB demo target). At 100 TB the manifest is
    metadata (one row per FILE, not per data row) — the prefix sum
    runs on millions of rows, not billions."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.orderBy("source", "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    manifest = d.select(
        "source",
        "n_chars",
        F.coalesce(F.sum("n_chars").over(w), F.lit(0)).alias("prior"),
    )
    binned = manifest.select(
        F.expr("prior DIV 16384").alias("bin_id"), "source", "n_chars"
    )
    return (
        binned.groupBy("bin_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_chars").cast("bigint").alias("bytes"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            (
                F.floor(
                    F.sum("n_chars") * 1000000.0 / 16384 + F.lit(0.5)
                ).cast("bigint")
                / 1000000.0
            ).alias("fill_ratio"),
        )
        .orderBy("bin_id")
    )


# --------------------------------------------------------------------------
# E240: decision-stump split finder — histogram-based Gini optimization
# --------------------------------------------------------------------------


@query(
    "q_decision_stump_split",
    oracle="""
    WITH hist AS (
      SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 100 AS bucket,
             COUNT(*) AS m,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
      FROM events GROUP BY bucket),
    cum AS (
      SELECT bucket,
             CAST(SUM(m) OVER w AS BIGINT) AS nl,
             CAST(SUM(s) OVER w AS BIGINT) AS pl,
             (SELECT CAST(SUM(m) AS BIGINT) FROM hist) AS n,
             (SELECT CAST(SUM(s) AS BIGINT) FROM hist) AS p
      FROM hist WINDOW w AS (ORDER BY bucket)),
    gains AS (
      SELECT bucket AS thr,
             nl, n - nl AS nr,
             CAST(FLOOR(
               ((nl - (CAST(pl AS DOUBLE) * pl + CAST(nl - pl AS DOUBLE)
                       * (nl - pl)) / nl)
                + ((n - nl) - (CAST(p - pl AS DOUBLE) * (p - pl)
                               + CAST((n - nl) - (p - pl) AS DOUBLE)
                               * ((n - nl) - (p - pl))) / (n - nl)))
               / n * 1000000000 + 0.5) AS BIGINT) AS gini_q
      FROM cum WHERE nl > 0 AND n - nl > 0),
    base AS (
      SELECT CAST(FLOOR(
               (1.0e0 - (CAST(p AS DOUBLE) / n) * (CAST(p AS DOUBLE) / n)
                - (CAST(n - p AS DOUBLE) / n) * (CAST(n - p AS DOUBLE) / n))
               * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS gini_root
      FROM (SELECT MAX(n) AS n, MAX(p) AS p FROM cum)),
    best AS (
      SELECT thr, nl, nr, gini_q,
             ROW_NUMBER() OVER (ORDER BY gini_q, thr) AS rn
      FROM gains)
    SELECT b.thr AS split_bucket, b.nl AS n_left, b.nr AS n_right,
           b.gini_q / 1000000000.0 AS gini_split, base.gini_root
    FROM best b CROSS JOIN base WHERE b.rn = 1
    """,
    tags=("E240", "W4", "A1", "O3"),
)
def q_decision_stump_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split finder: the best threshold on the value
    feature for predicting purchases, by minimizing weighted Gini
    impurity over ALL candidate splits at once — the inner loop of
    every histogram-based tree learner (XGBoost/LightGBM's 'hist'
    mode) expressed as one prefix-sum window: bucket the feature
    (one scan, domain-sized histogram), cumulative (count, positives)
    per boundary, then each candidate's impurity is closed-form
    algebra on four exact integers. The weighted Gini is
    floor-quantized to 1e-9 per candidate and the argmin tie-breaks
    on the threshold, so the chosen split is hash-exact. Reported
    next to the root impurity so the gain is visible. At 100 TB the
    histogram is the only data pass — identical to how distributed
    GBDT implementations scale their split search."""
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT) DIV 100").alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("m"),
        F.sum((F.col("event_type") == "purchase").cast("bigint")).alias("s"),
    )
    tot = hist.agg(
        F.sum("m").cast("bigint").alias("n"), F.sum("s").cast("bigint").alias("p")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.select(
            "bucket",
            F.sum("m").over(w).cast("bigint").alias("nl"),
            F.sum("s").over(w).cast("bigint").alias("pl"),
        )
        .crossJoin(F.broadcast(tot))
    )
    nl, pl = F.col("nl").cast("double"), F.col("pl").cast("double")
    n, p = F.col("n").cast("double"), F.col("p").cast("double")
    nr, pr = F.col("n") - F.col("nl"), F.col("p") - F.col("pl")
    nrd, prd = nr.cast("double"), pr.cast("double")
    gini = (
        (F.col("nl") - (pl * pl + (nl - pl) * (nl - pl)) / F.col("nl"))
        + (nr - (prd * prd + (nrd - prd) * (nrd - prd)) / nr)
    ) / F.col("n")
    gains = cum.filter((F.col("nl") > 0) & (nr > 0)).select(
        F.col("bucket").alias("thr"),
        "nl",
        nr.cast("bigint").alias("nr"),
        F.floor(gini * 1000000000 + F.lit(0.5)).cast("bigint").alias("gini_q"),
    )
    base = tot.select(
        (
            F.floor(
                (1.0 - (p / n) * (p / n) - ((n - p) / n) * ((n - p) / n))
                * 1000000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000000.0
        ).alias("gini_root")
    )
    rn = F.row_number().over(Window.orderBy("gini_q", "thr"))
    return (
        gains.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .crossJoin(F.broadcast(base))
        .select(
            F.col("thr").alias("split_bucket"),
            F.col("nl").alias("n_left"),
            F.col("nr").alias("n_right"),
            (F.col("gini_q") / 1000000000.0).alias("gini_split"),
            "gini_root",
        )
    )


# --------------------------------------------------------------------------
# E245: permutation test — resampling null via md5 label reassignment
# --------------------------------------------------------------------------


def _perm_oracle() -> str:
    perm_cols = ",\n             ".join(
        "CAST(('0x' || substring(md5('perm{i}:' || CAST(event_id AS VARCHAR)),"
        " 1, 8)) AS BIGINT) % 2 AS g{i}".format(i=i)
        for i in range(20)
    )
    diffs = ",\n           ".join(
        f"""ABS(CAST(SUM(CASE WHEN g{i} = 1 THEN cents ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN g{i} = 1 THEN 1 ELSE 0 END)
           - CAST(SUM(CASE WHEN g{i} = 0 THEN cents ELSE 0 END) AS DOUBLE)
             / SUM(CASE WHEN g{i} = 0 THEN 1 ELSE 0 END)) AS pd{i}"""
        for i in range(20)
    )
    exceeds = " + ".join(
        f"CASE WHEN pd{i} >= obs THEN 1 ELSE 0 END" for i in range(20)
    )
    return f"""
    WITH pool AS MATERIALIZED (
      SELECT event_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             CAST(event_type = 'purchase' AS BIGINT) AS grp,
             {perm_cols}
      FROM events WHERE event_type IN ('purchase', 'view')),
    stats AS (
      SELECT ABS(CAST(SUM(CASE WHEN grp = 1 THEN cents ELSE 0 END) AS DOUBLE)
                 / SUM(grp)
               - CAST(SUM(CASE WHEN grp = 0 THEN cents ELSE 0 END) AS DOUBLE)
                 / SUM(1 - grp)) AS obs,
             {diffs}
      FROM pool)
    SELECT CAST(FLOOR(obs * 10000 + 0.5) AS BIGINT) / 10000.0
             AS observed_abs_diff_cents,
           CAST(1 + {exceeds} AS BIGINT) AS n_as_extreme,
           CAST(FLOOR((1.0e0 + ({exceeds})) / 21.0e0 * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS p_value
    FROM stats
    """


@query(
    "q_permutation_test_value",
    oracle=_perm_oracle(),
    tags=("E245", "E130", "F11", "A1"),
)
def q_permutation_test_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test for the purchase-vs-view mean-value gap: the
    group labels are reassigned 20 times by independent md5 coin
    flips, the |mean difference| is recomputed under each null
    relabeling, and the p-value is the add-one-smoothed fraction of
    permutations at least as extreme — distribution-free inference
    that needs no normality or variance model (the resampling
    complement of E130's z test and the bootstrap CI). ALL 21
    statistics (observed + 20 permuted) reduce in ONE
    partial-aggregated scan — each row carries its 20 md5-derived
    null labels as columns, so the permutation sweep costs one pass
    regardless of data size. Means are exact-integer ratios; each
    |diff| is a fixed-order double expression, compared exactly on
    both engines."""
    e = load_table(spark, sf_dir, "events")
    pool = e.filter(F.col("event_type").isin("purchase", "view")).select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
        (F.col("event_type") == "purchase").cast("bigint").alias("grp"),
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(f"perm{i}:"),
                                F.col("event_id").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias(f"g{i}")
            for i in range(20)
        ],
    )

    def absdiff(flag):
        m1 = F.sum(F.when(flag == 1, F.col("cents")).otherwise(0)).cast(
            "double"
        ) / F.sum(flag)
        m0 = F.sum(F.when(flag == 0, F.col("cents")).otherwise(0)).cast(
            "double"
        ) / F.sum(1 - flag)
        return F.abs(m1 - m0)

    aggs = [absdiff(F.col("grp")).alias("obs")] + [
        absdiff(F.col(f"g{i}")).alias(f"pd{i}") for i in range(20)
    ]
    stats = pool.agg(*aggs)
    n_ext = None
    for i in range(20):
        t = F.when(F.col(f"pd{i}") >= F.col("obs"), 1).otherwise(0)
        n_ext = t if n_ext is None else n_ext + t
    return stats.select(
        (
            F.floor(F.col("obs") * 10000 + F.lit(0.5)).cast("bigint") / 10000.0
        ).alias("observed_abs_diff_cents"),
        (1 + n_ext).cast("bigint").alias("n_as_extreme"),
        (
            F.floor((1.0 + n_ext) / 21.0 * 1000000 + F.lit(0.5)).cast("bigint")
            / 1000000.0
        ).alias("p_value"),
    )


# --------------------------------------------------------------------------
# E246: log-rank test — comparing survival curves across two arms
# --------------------------------------------------------------------------


@query(
    "q_logrank_shipping_arms",
    oracle="""
    WITH lifetimes AS MATERIALIZED (
      SELECT l_orderkey % 2 AS arm,
             (CAST(FLOOR(epoch(MAX(l_shipdate))) AS BIGINT)
              - CAST(FLOOR(epoch(MIN(l_shipdate))) AS BIGINT)) // 86400
               AS t,
             CAST(CAST(FLOOR(epoch(MAX(l_shipdate))) AS BIGINT)
                  < (SELECT CAST(FLOOR(epoch(MAX(l_shipdate))) AS BIGINT)
                     FROM lineitem) - 5184000 AS BIGINT) AS died
      FROM lineitem GROUP BY l_orderkey),
    totals AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1_all
      FROM lifetimes),
    byday AS (
      SELECT t,
             CAST(SUM(died) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN arm = 1 THEN died ELSE 0 END) AS BIGINT) AS d1,
             CAST(COUNT(*) AS BIGINT) AS ended,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ended1
      FROM lifetimes GROUP BY t),
    risk AS (
      SELECT t, d, d1,
             tt.n_all - COALESCE(SUM(ended) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n,
             tt.n1_all - COALESCE(SUM(ended1) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1
      FROM byday CROSS JOIN totals tt),
    terms AS (
      SELECT CAST(FLOOR((d1 - CAST(d AS DOUBLE) * n1 / n) * 1000000000 + 0.5)
                  AS BIGINT) AS oe_q,
             CASE WHEN n > 1 THEN
               CAST(FLOOR(CAST(d AS DOUBLE) * (CAST(n1 AS DOUBLE) / n)
                          * (1.0e0 - CAST(n1 AS DOUBLE) / n)
                          * (n - d) / (n - 1.0e0) * 1000000000 + 0.5) AS BIGINT)
             ELSE 0 END AS v_q
      FROM risk WHERE d > 0)
    SELECT CAST(SUM(oe_q) AS BIGINT) / 1000000000.0 AS observed_minus_expected,
           CAST(SUM(v_q) AS BIGINT) / 1000000000.0 AS variance,
           CAST(FLOOR(
             (CAST(SUM(oe_q) AS DOUBLE) / 1000000000.0)
             / sqrt(CAST(SUM(v_q) AS DOUBLE) / 1000000000.0)
             * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS logrank_z
    FROM terms
    """,
    tags=("E246", "E220", "W4", "A1", "F4"),
)
def q_logrank_shipping_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing the shipping-span survival curves of
    the two orderkey-parity arms — the hypothesis test that belongs
    NEXT TO the Kaplan-Meier/Nelson-Aalen estimators (E158/E220): at
    each death time, observed arm-1 deaths vs the expected count
    under the shared-hazard null (hypergeometric mean d*n1/n), summed
    into the O-E statistic with its variance; Z near 0 = the arms'
    curves are indistinguishable. At-risk counts per arm come from
    prefix sums over the day-granular span histogram (domain-sized),
    and every O-E and variance term is 1e-9-quantized BEFORE its sum
    — the same exact-series discipline as the estimators it tests."""
    li = load_table(spark, sf_dir, "lineitem")
    t_end = li.agg(F.max(F.unix_timestamp("l_shipdate")).alias("end_s"))
    lifetimes = (
        li.groupBy("l_orderkey")
        .agg(
            F.min(F.unix_timestamp("l_shipdate")).alias("s0"),
            F.max(F.unix_timestamp("l_shipdate")).alias("s1"),
        )
        .crossJoin(F.broadcast(t_end))
        .select(
            (F.col("l_orderkey") % 2).alias("arm"),
            F.expr("(s1 - s0) DIV 86400").alias("t"),
            (F.col("s1") < F.col("end_s") - 5184000).cast("bigint").alias("died"),
        )
    )
    totals = lifetimes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_all"),
        F.sum((F.col("arm") == 1).cast("bigint")).cast("bigint").alias("n1_all"),
    )
    byday = lifetimes.groupBy("t").agg(
        F.sum("died").cast("bigint").alias("d"),
        F.sum(F.when(F.col("arm") == 1, F.col("died")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.count(F.lit(1)).cast("bigint").alias("ended"),
        F.sum((F.col("arm") == 1).cast("bigint")).cast("bigint").alias("ended1"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = byday.crossJoin(F.broadcast(totals)).select(
        "t",
        "d",
        "d1",
        (F.col("n_all") - F.coalesce(F.sum("ended").over(wprev), F.lit(0))).alias(
            "n"
        ),
        (
            F.col("n1_all") - F.coalesce(F.sum("ended1").over(wprev), F.lit(0))
        ).alias("n1"),
    )
    dd, nn, n1 = (
        F.col("d").cast("double"),
        F.col("n").cast("double"),
        F.col("n1").cast("double"),
    )
    terms = risk.filter(F.col("d") > 0).select(
        F.floor((F.col("d1") - dd * F.col("n1") / F.col("n")) * 1000000000 + F.lit(0.5))
        .cast("bigint")
        .alias("oe_q"),
        F.when(
            F.col("n") > 1,
            F.floor(
                dd * (n1 / nn) * (1.0 - n1 / nn) * (F.col("n") - F.col("d"))
                / (F.col("n") - 1.0)
                * 1000000000
                + F.lit(0.5)
            ).cast("bigint"),
        )
        .otherwise(F.lit(0))
        .alias("v_q"),
    )
    return terms.agg(
        (F.sum("oe_q").cast("bigint") / 1000000000.0).alias(
            "observed_minus_expected"
        ),
        (F.sum("v_q").cast("bigint") / 1000000000.0).alias("variance"),
        (
            F.floor(
                (F.sum("oe_q").cast("double") / 1000000000.0)
                / F.sqrt(F.sum("v_q").cast("double") / 1000000000.0)
                * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000.0
        ).alias("logrank_z"),
    )


# --------------------------------------------------------------------------
# E247: Little's law audit — L = lambda * W over the session process
# --------------------------------------------------------------------------


@query(
    "q_littles_law_audit",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
             CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                       - lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS MATERIALIZED (
      SELECT user_id, sid, MIN(s) AS t0, MAX(s) + 1 AS t1
      FROM (
        -- sid window tie-broken by event_id: a session-opening event
        -- sharing its second with a prior-session event must not make
        -- the cumulative sum order-dependent.
        SELECT user_id, s,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered)
      GROUP BY user_id, sid),
    bounds AS (SELECT MIN(t0) AS w0, MAX(t1) AS w1,
                      CAST(COUNT(*) AS BIGINT) AS n_sessions,
                      CAST(SUM(t1 - t0) AS BIGINT) AS total_dur
               FROM sess),
    deltas AS (
      SELECT t0 AS tick, 1 AS delta FROM sess
      UNION ALL SELECT t1, -1 FROM sess),
    sweep AS (
      SELECT tick, SUM(delta) AS d FROM deltas GROUP BY tick),
    active AS (
      SELECT tick,
             SUM(d) OVER (ORDER BY tick ROWS UNBOUNDED PRECEDING) AS conc,
             LEAD(tick) OVER (ORDER BY tick) - tick AS span
      FROM sweep)
    SELECT b.n_sessions,
           CAST(FLOOR(CAST(b.total_dur AS DOUBLE) / b.n_sessions * 10000 + 0.5)
                AS BIGINT) / 10000.0 AS w_avg_duration_s,
           CAST(FLOOR(CAST(b.n_sessions AS DOUBLE) / (b.w1 - b.w0) * 3600.0e0
                      * 10000 + 0.5) AS BIGINT) / 10000.0
             AS lambda_per_hour,
           CAST(FLOOR(CAST((SELECT SUM(conc * span) FROM active
                            WHERE span IS NOT NULL) AS DOUBLE)
                      / (b.w1 - b.w0) * 10000 + 0.5) AS BIGINT) / 10000.0
             AS l_time_avg_concurrency,
           CAST(FLOOR(CAST(b.n_sessions AS DOUBLE) / (b.w1 - b.w0)
                      * (CAST(b.total_dur AS DOUBLE) / b.n_sessions)
                      * 10000 + 0.5) AS BIGINT) / 10000.0 AS lambda_times_w
    FROM bounds b
    """,
    tags=("E247", "W8", "W4", "A1", "F4"),
)
def q_littles_law_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law audit over the user-session process: L (time-
    averaged concurrent sessions, computed exactly by a sweep line —
    +1/-1 boundary deltas, running sum, weighted by the span to the
    next boundary) must equal lambda x W (arrival rate x mean
    duration) over the observation window — the queueing identity an
    SRE uses to sanity-check load metrics, and it holds EXACTLY here
    because the window spans the whole process (no edge truncation:
    sum of durations = integral of concurrency). Sessions are the
    repo-standard 30-min-gap sessionization (whole-second spans,
    +1 s so zero-length sessions still occupy their second). All
    terms are exact integers until the final quantized ratios; the
    identity surviving the hash check on BOTH engines is itself the
    correctness proof of the sweep-line integral."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = F.unix_timestamp("ts")
    ordered = e.select(
        "user_id",
        "event_id",
        s.alias("s"),
        F.when(
            F.lag(F.col("ts")).over(w).isNull()
            | ((s - F.lag(s).over(w)) > 1800),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    # Tie-break the cumulative-sum window by event_id (same in the
    # oracle): with epoch-second ties, ordering by s alone would make
    # session bounds nondeterministic.
    wsid = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = (
        ordered.select(
            "user_id", "s", F.sum("is_new").over(wsid).alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(F.min("s").alias("t0"), (F.max("s") + 1).alias("t1"))
        .localCheckpoint(eager=True)
    )
    bounds = sess.agg(
        F.min("t0").alias("w0"),
        F.max("t1").alias("w1"),
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.col("t1") - F.col("t0")).cast("bigint").alias("total_dur"),
    )
    deltas = sess.select(F.col("t0").alias("tick"), F.lit(1).alias("delta")).unionAll(
        sess.select(F.col("t1").alias("tick"), F.lit(-1).alias("delta"))
    )
    sweep = deltas.groupBy("tick").agg(F.sum("delta").alias("d"))
    wt = Window.orderBy("tick")
    active = sweep.select(
        "tick",
        F.sum("d").over(wt.rowsBetween(Window.unboundedPreceding, 0)).alias("conc"),
        (F.lead("tick").over(wt) - F.col("tick")).alias("span"),
    )
    integral = active.filter(F.col("span").isNotNull()).agg(
        F.sum(F.col("conc") * F.col("span")).alias("area")
    )

    def q4(c):
        return F.floor(c * 10000 + F.lit(0.5)).cast("bigint") / 10000.0

    win = F.col("w1") - F.col("w0")
    return (
        bounds.crossJoin(F.broadcast(integral))
        .select(
            "n_sessions",
            q4(F.col("total_dur").cast("double") / F.col("n_sessions")).alias(
                "w_avg_duration_s"
            ),
            q4(
                F.col("n_sessions").cast("double") / win * 3600.0
            ).alias("lambda_per_hour"),
            q4(F.col("area").cast("double") / win).alias(
                "l_time_avg_concurrency"
            ),
            q4(
                F.col("n_sessions").cast("double")
                / win
                * (F.col("total_dur").cast("double") / F.col("n_sessions"))
            ).alias("lambda_times_w"),
        )
    )


# --------------------------------------------------------------------------
# E268: Holm-Bonferroni step-down — FWER control beside BH's FDR
# --------------------------------------------------------------------------


@query(
    "q_holm_stepdown_slices",
    oracle="""
    WITH slices AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS hits
      FROM events GROUP BY event_type),
    pooled AS (
      SELECT CAST(SUM(hits) AS DOUBLE) / SUM(n) AS p0 FROM slices),
    zstats AS (
      SELECT s.event_type, s.n, s.hits,
             ABS((CAST(s.hits AS DOUBLE) / s.n - p.p0)
                 / sqrt(p.p0 * (1.0e0 - p.p0) / s.n)) AS z
      FROM slices s CROSS JOIN pooled p),
    pvals AS (
      SELECT event_type, n, hits,
             CAST(FLOOR(2.0e0 * exp(-0.717e0 * z - 0.416e0 * z * z)
                        * 1000000000 + 0.5) AS BIGINT) AS p_q
      FROM zstats),
    ranked AS (
      SELECT event_type, n, hits, p_q,
             ROW_NUMBER() OVER (ORDER BY p_q, event_type) AS i,
             COUNT(*) OVER () AS m
      FROM pvals),
    holm AS (
      SELECT event_type, n, hits, p_q, i,
             MAX(p_q * (m - i + 1)) OVER (ORDER BY i
               ROWS UNBOUNDED PRECEDING) AS adj_q
      FROM ranked)
    SELECT event_type, n, hits,
           CAST(p_q AS BIGINT) / 1000000000.0 AS p_raw,
           CAST(LEAST(adj_q, 1000000000) AS BIGINT) / 1000000000.0 AS p_holm,
           adj_q < 50000000 AS reject_at_5pct
    FROM holm ORDER BY i
    """,
    tags=("E268", "E134", "W1", "W4", "A1"),
)
def q_holm_stepdown_slices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-down over the per-event-type
    high-value-rate tests: p-values sorted ascending, the i-th
    multiplied by (m-i+1), then a running MAX enforces monotonicity —
    family-wise error control, the stricter sibling of E134's BH FDR
    (Holm bounds the chance of ANY false positive; BH bounds the
    false fraction). The two-sided p uses the same closed-form normal
    tail bound both engines evaluate identically (2*exp(-0.717z -
    0.416z^2), the standard Lin approximation — exact tail CDFs
    aren't available as builtins in either engine), quantized to
    1e-9 BEFORE ranking so order and adjustment are integer-exact.
    The running max is one tiny ordered window over m rows."""
    e = load_table(spark, sf_dir, "events")
    slices = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("value") >= 100.0).cast("bigint")).cast("bigint").alias("hits"),
    )
    pooled = slices.agg(
        (F.sum("hits").cast("double") / F.sum("n")).alias("p0")
    )
    z = F.abs(
        (F.col("hits").cast("double") / F.col("n") - F.col("p0"))
        / F.sqrt(F.col("p0") * (1.0 - F.col("p0")) / F.col("n"))
    )
    pvals = slices.crossJoin(F.broadcast(pooled)).select(
        "event_type",
        "n",
        "hits",
        F.floor(
            2.0 * F.exp(-0.717 * z - 0.416 * z * z) * 1000000000 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("p_q"),
    )
    wr = Window.orderBy("p_q", "event_type")
    ranked = pvals.select(
        "event_type",
        "n",
        "hits",
        "p_q",
        F.row_number().over(wr).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    adj = F.max(F.col("p_q") * (F.col("m") - F.col("i") + 1)).over(
        Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ranked.select(
            "event_type",
            "n",
            "hits",
            (F.col("p_q").cast("bigint") / 1000000000.0).alias("p_raw"),
            adj.alias("adj_q"),
            "i",
        )
        .select(
            "event_type",
            "n",
            "hits",
            "p_raw",
            (
                F.least(F.col("adj_q"), F.lit(1000000000)).cast("bigint")
                / 1000000000.0
            ).alias("p_holm"),
            (F.col("adj_q") < 50000000).alias("reject_at_5pct"),
            "i",
        )
        .orderBy("i")
        .drop("i")
    )


# --------------------------------------------------------------------------
# E269: DFT periodogram — spectral power at candidate cycles
# --------------------------------------------------------------------------


def _dft_oracle() -> str:
    rows = []
    for label, period in (("24h", 24), ("12h", 12), ("168h", 168)):
        rows.append(f"""
      SELECT '{label}' AS cycle, {period} AS period_hours,
             CAST(SUM(cos_q) AS BIGINT) AS c_q, CAST(SUM(sin_q) AS BIGINT) AS s_q,
             CAST(MAX(n) AS BIGINT) AS n
      FROM (
        SELECT CAST(FLOOR(cnt * cos(2 * pi() * (hidx % {period}) / {period})
                          * 1000000 + 0.5) AS BIGINT) AS cos_q,
               CAST(FLOOR(cnt * sin(2 * pi() * (hidx % {period}) / {period})
                          * 1000000 + 0.5) AS BIGINT) AS sin_q,
               COUNT(*) OVER () AS n
        FROM serie)""")
    sel = "\n      UNION ALL".join(rows)
    return f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY h),
    h0 AS (SELECT MIN(h) AS start_h FROM hourly),
    serie AS (
      SELECT (CAST(FLOOR(epoch(hy.h)) AS BIGINT)
              - CAST(FLOOR(epoch(z.start_h)) AS BIGINT)) // 3600 AS hidx,
             hy.cnt
      FROM hourly hy CROSS JOIN h0 z),
    spectra AS ({sel})
    SELECT cycle, period_hours,
           CAST(FLOOR(
             (CAST(c_q AS DOUBLE) / 1000000.0 * (CAST(c_q AS DOUBLE) / 1000000.0)
              + CAST(s_q AS DOUBLE) / 1000000.0 * (CAST(s_q AS DOUBLE) / 1000000.0))
             / n * 10000 + 0.5) AS BIGINT) / 10000.0 AS power
    FROM spectra ORDER BY period_hours
    """


@query(
    "q_dft_periodogram",
    oracle=_dft_oracle(),
    tags=("E269", "E110", "E97", "A1", "F6"),
)
def q_dft_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram of the hourly arrival series at
    three candidate cycles (24 h, 12 h, weekly): power =
    (sum cnt*cos(2*pi*t/T))^2 + (sum cnt*sin(...))^2, normalized by
    series length — the frequency-domain answer to 'which seasonality
    dominates', complementary to E110's lag-domain ACF (ACF needs the
    lag guessed; the periodogram scores each candidate period
    directly). Each cos/sin term is evaluated at t mod T (so both
    engines feed small identical arguments to libm) and
    1e-6-quantized per row before the exact integer sums; three
    frequencies = three aggregates over one domain-sized hourly
    frame, unioned."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    h0 = hourly.agg(F.min("h").alias("start_h"))
    serie = hourly.crossJoin(F.broadcast(h0)).select(
        F.expr(
            "(unix_timestamp(h) - unix_timestamp(start_h)) DIV 3600"
        ).alias("hidx"),
        "cnt",
    ).localCheckpoint(eager=True)
    import math

    parts = []
    for label, period in (("24h", 24), ("12h", 12), ("168h", 168)):
        ang = 2 * math.pi * (F.col("hidx") % period) / period
        part = serie.agg(
            F.sum(
                F.floor(F.col("cnt") * F.cos(ang) * 1000000 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("c_q"),
            F.sum(
                F.floor(F.col("cnt") * F.sin(ang) * 1000000 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("s_q"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        ).select(
            F.lit(label).alias("cycle"),
            F.lit(period).alias("period_hours"),
            "c_q",
            "s_q",
            "n",
        )
        parts.append(part)
    spectra = parts[0].unionAll(parts[1]).unionAll(parts[2])
    cd = F.col("c_q").cast("double") / 1000000.0
    sd = F.col("s_q").cast("double") / 1000000.0
    return spectra.select(
        "cycle",
        "period_hours",
        (
            F.floor((cd * cd + sd * sd) / F.col("n") * 10000 + F.lit(0.5)).cast(
                "bigint"
            )
            / 10000.0
        ).alias("power"),
    ).orderBy("period_hours")


# --------------------------------------------------------------------------
# E305: Welch's t-test — the unequal-variance A/B test over all group pairs
# --------------------------------------------------------------------------


@query(
    "q_welch_ttest_pairs",
    oracle="""
    WITH m AS MATERIALIZED (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                      * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS q
      FROM events GROUP BY event_type HAVING COUNT(*) >= 2),
    v AS (
      SELECT event_type, n, CAST(s AS DOUBLE) / n AS mean,
             (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n) / (n - 1) AS var
      FROM m)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           CAST(FLOOR((a.mean - b.mean) / 100.0 * 1000000 + 0.5) AS BIGINT)
             / 1000000.0 AS mean_diff,
           CASE WHEN a.var / a.n + b.var / b.n = 0 THEN 0.0e0 ELSE
           CAST(FLOOR((a.mean - b.mean)
                      / sqrt(a.var / a.n + b.var / b.n) * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 END AS t_stat,
           CASE WHEN a.var / a.n + b.var / b.n = 0 THEN 0.0e0 ELSE
           CAST(FLOOR((a.var / a.n + b.var / b.n)
                      * (a.var / a.n + b.var / b.n)
                      / ((a.var / a.n) * (a.var / a.n) / (a.n - 1)
                         + (b.var / b.n) * (b.var / b.n) / (b.n - 1))
                      * 10000 + 0.5) AS BIGINT) / 10000.0 END AS welch_df
    FROM v a JOIN v b ON a.event_type < b.event_type
    ORDER BY type_a, type_b
    """,
    tags=("E305", "E219", "A1", "J2", "F4"),
)
def q_welch_ttest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test over every event-type pair —
    the parametric A/B test completing the two-sample family
    (Mann-Whitney E219 is the rank twin, chi-square the categorical
    one): t = (m1-m2)/sqrt(s1^2/n1 + s2^2/n2) with the
    Welch-Satterthwaite df. Sufficient statistics only: ONE pass
    collapses each group to exact-integer (n, sum-of-cents,
    sum-of-squared-cents) — map-side combinable, shuffle carries 5
    rows — and the 10 pairwise tests are arithmetic over the
    broadcast 5-row moment table. Every emitted value is a fixed
    IEEE-op sequence over identical BIGINT moments on both engines
    (means/variances are single divisions; numerator/denominator
    shapes written identically in the oracle), quantized at 1e-6/1e-4
    on output. Groups need n >= 2 (the variance divisor); a zero
    pooled SE degenerates to t=0/df=0 identically on both engines.
    The squared-cents sum stays below 2^63 up to ~1e14
    cents^2 per group — document-scale safe; at true 100 TB revenue
    scale switch s/q to DECIMAL(38,0) sums, same plan shape."""
    e = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(cents).cast("bigint").alias("s"),
        F.sum(cents * cents).cast("bigint").alias("q"),
    ).filter(F.col("n") >= 2)
    v = m.select(
        "event_type",
        "n",
        (F.col("s").cast("double") / F.col("n")).alias("mean"),
        (
            (
                F.col("q").cast("double")
                - F.col("s").cast("double") * F.col("s") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("var"),
    )
    a = v.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a"),
        F.col("var").alias("var_a"),
    )
    b = v.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b"),
        F.col("var").alias("var_b"),
    )
    se_a = F.col("var_a") / F.col("n_a")
    se_b = F.col("var_b") / F.col("n_b")
    q6 = lambda c, s: F.floor(c * s + F.lit(0.5)).cast("bigint") / s  # noqa: E731
    return (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            q6((F.col("mean_a") - F.col("mean_b")) / 100.0, 1000000.0).alias(
                "mean_diff"
            ),
            # zero pooled SE (both groups constant after quantization)
            # guards to 0 on BOTH engines: Spark NULLs a double
            # division by zero where DuckDB yields inf — the one
            # degenerate case where identical arithmetic diverges
            F.when(se_a + se_b == 0, F.lit(0.0))
            .otherwise(
                q6(
                    (F.col("mean_a") - F.col("mean_b")) / F.sqrt(se_a + se_b),
                    1000000.0,
                )
            )
            .alias("t_stat"),
            F.when(se_a + se_b == 0, F.lit(0.0))
            .otherwise(
                q6(
                    (se_a + se_b)
                    * (se_a + se_b)
                    / (
                        se_a * se_a / (F.col("n_a") - 1)
                        + se_b * se_b / (F.col("n_b") - 1)
                    ),
                    10000.0,
                )
            )
            .alias("welch_df"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# E344: 0/1 knapsack — optimal selection under a capacity budget
# --------------------------------------------------------------------------

_KS_ITEMS = 24  # fixed shortlist size (panel-cap discipline)
_KS_CAP = 100  # capacity budget in p_size units


def _ks_oracle() -> str:
    w = _KS_CAP
    return f"""
    WITH RECURSIVE top AS MATERIALIZED (
      SELECT CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS v,
             CAST(p_size AS BIGINT) AS wt
      FROM part ORDER BY v DESC, p_partkey LIMIT {_KS_ITEMS}),
    items AS MATERIALIZED (
      SELECT v, wt, ROW_NUMBER() OVER (ORDER BY v DESC, wt) AS rn
      FROM top),
    rec(i, best) AS (
      SELECT CAST(0 AS BIGINT),
             list_transform(generate_series(0, {w}),
                            x -> CAST(0 AS BIGINT))
      FROM (SELECT 1)
      UNION ALL
      SELECT r.i + 1,
             list_transform(generate_series(0, {w}), x ->
               GREATEST(r.best[x + 1],
                        CASE WHEN x >= it.wt
                             THEN r.best[x - it.wt + 1] + it.v
                             ELSE r.best[x + 1] END))
      FROM rec r JOIN items it ON it.rn = r.i + 1)
    SELECT CAST((SELECT COUNT(*) FROM items) AS BIGINT) AS n_items,
           CAST({w} AS BIGINT) AS capacity,
           best[{w // 4} + 1] AS best_at_quarter,
           best[{w // 2} + 1] AS best_at_half,
           best[{3 * w // 4} + 1] AS best_at_three_quarters,
           best[{w} + 1] AS best_at_full
    FROM rec WHERE i = (SELECT COUNT(*) FROM items)
    """


@query(
    "q_knapsack_part_budget",
    oracle=_ks_oracle(),
    tags=("E344", "E334", "E292", "O3", "A1", "X2"),
)
def q_knapsack_part_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """0/1 knapsack over the part shortlist — exact COMBINATORIAL
    budgeting the greedy planners (set-cover E301, mixture E292)
    approximate: from the top-{_KS_ITEMS} parts by price, pick the
    subset maximizing total price under a p_size capacity budget,
    reporting the optimal value at 1/4, 1/2, 3/4 and full capacity
    (the value-of-budget curve a curation planner reads to set the
    budget itself). All-integer DP (cents values, integer weights):
    best[w] after item i = max(best[w], best[w - w_i] + v_i) — the
    classic capacity-indexed recurrence; the oracle replays it as a
    {_KS_CAP + 1}-slot list-carrying WITH RECURSIVE (the E334/E335
    list-carry discipline), Spark runs the identical loop in ONE
    bounded Arrow task over the {_KS_ITEMS}-row shortlist (panel-cap
    rule: the DP state is (items x capacity), domain-sized, never
    data-sized). Scale shape: the corpus-sized work is the top-k
    shortlist (TakeOrderedAndProject — no global sort); the DP cost
    is a constant."""
    import pandas as pd

    p = load_table(spark, sf_dir, "part")
    cents = F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
    top = (
        p.select(cents.alias("v"), F.col("p_size").cast("long").alias("wt"))
        .orderBy(F.col("v").desc(), "p_partkey")
        .limit(_KS_ITEMS)
    )
    cap = _KS_CAP

    def solve(pdf):
        items = [(int(v), int(w)) for v, w in zip(pdf["v"], pdf["wt"])]
        # replay the oracle's processing order (v DESC, wt ASC)
        items.sort(key=lambda t: (-t[0], t[1]))
        best = [0] * (cap + 1)
        for v, wt in items:
            for w in range(cap, int(wt) - 1, -1):
                cand = best[w - wt] + v
                if cand > best[w]:
                    best[w] = cand
        return pd.DataFrame(
            {
                "n_items": [len(items)],
                "capacity": [cap],
                "best_at_quarter": [best[cap // 4]],
                "best_at_half": [best[cap // 2]],
                "best_at_three_quarters": [best[3 * cap // 4]],
                "best_at_full": [best[cap]],
            }
        )

    return probe.single_task(
        top,
        solve,
        "n_items bigint, capacity bigint, best_at_quarter bigint, "
        "best_at_half bigint, best_at_three_quarters bigint, "
        "best_at_full bigint",
    )


# --------------------------------------------------------------------------
# E351: Gale-Shapley stable matching — suppliers x customers
# --------------------------------------------------------------------------

_GS_N = 8  # panel size per side (fixed — the DP state is domain-sized)


def _gs_oracle() -> str:
    n = _GS_N
    return f"""
    WITH RECURSIVE inter AS MATERIALIZED (
      SELECT l.l_suppkey AS sk, o.o_custkey AS ck,
             CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2),
    sup AS MATERIALIZED (
      SELECT sk, ROW_NUMBER() OVER (ORDER BY tot DESC, sk) AS si
      FROM (SELECT sk, SUM(cents) AS tot FROM inter GROUP BY 1)
      ORDER BY tot DESC, sk LIMIT {n}),
    cus AS MATERIALIZED (
      SELECT ck, ROW_NUMBER() OVER (ORDER BY tot DESC, ck) AS ci
      FROM (SELECT ck, SUM(cents) AS tot FROM inter GROUP BY 1)
      ORDER BY tot DESC, ck LIMIT {n}),
    mat AS MATERIALIZED (
      SELECT s.si, c.ci, s.sk, c.ck,
             CAST(COALESCE(i.cents, 0) AS BIGINT) AS cents
      FROM sup s CROSS JOIN cus c
      LEFT JOIN inter i ON i.sk = s.sk AND i.ck = c.ck),
    prefs AS MATERIALIZED (
      SELECT si, list(ci ORDER BY cents DESC, ci) AS pl
      FROM mat GROUP BY si),
    packed AS MATERIALIZED (
      -- panel dims derived from the ACTUAL panel (a corpus with fewer
      -- than {n} distinct suppliers/customers yields a short panel;
      -- fixed literals would index pp/cl out of bounds -> NULL c and a
      -- silently corrupted walk)
      SELECT (SELECT list(pl ORDER BY si) FROM prefs) AS pp,
             (SELECT list(cents ORDER BY
                            (si - 1) * (SELECT COUNT(*) FROM cus) + ci)
              FROM mat) AS cl,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM sup) AS ns,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cus) AS nc),
    gs(step, nxt, cur) AS (
      SELECT CAST(0 AS BIGINT),
             list_transform(generate_series(1, ns), x -> CAST(1 AS BIGINT)),
             list_transform(generate_series(1, nc), x -> CAST(0 AS BIGINT))
      FROM packed
      UNION ALL
      SELECT step + 1,
             list_transform(nxt, (v, i) ->
               CASE WHEN i = s THEN v + 1 ELSE v END),
             list_transform(cur, (v, i) ->
               CASE
                 WHEN i <> c THEN v
                 WHEN v = 0 THEN s
                 WHEN cl[(s - 1) * nc + c] > cl[(v - 1) * nc + c]
                   OR (cl[(s - 1) * nc + c] = cl[(v - 1) * nc + c]
                       AND s < v)
                   THEN s
                 ELSE v
               END)
      FROM (
        SELECT q1.*, CAST(q1.pp[q1.s][q1.nxt[q1.s]] AS BIGINT) AS c
        FROM (
          SELECT g.step, g.nxt, g.cur, p.cl, p.pp, p.ns, p.nc,
                 list_min(list_filter(generate_series(1, p.ns), i ->
                   g.nxt[i] <= p.nc
                   AND NOT list_contains(g.cur, CAST(i AS BIGINT)))) AS s
          FROM gs g CROSS JOIN packed p) q1
        WHERE q1.s IS NOT NULL) q),
    fin AS MATERIALIZED (
      SELECT cur, step FROM gs
      ORDER BY step DESC LIMIT 1),
    pairs AS (
      SELECT unnest(f.cur) AS s_of_c,
             unnest(generate_series(1, p.nc)) AS ci_pos,
             f.step
      FROM fin f CROSS JOIN packed p)
    SELECT m.sk AS s_suppkey, m.ck AS c_custkey, m.cents,
           CAST(t.step AS BIGINT) AS n_proposals
    FROM pairs t
    JOIN mat m ON m.si = t.s_of_c AND m.ci = t.ci_pos
    ORDER BY m.si
    """


@query(
    "q_stable_matching_panel",
    oracle=_gs_oracle(),
    tags=("E351", "E335", "E292", "J6", "A1", "X2"),
)
def q_stable_matching_panel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale-Shapley stable matching of the top-{_GS_N} suppliers to
    the top-{_GS_N} customers, preferences = exact interaction cents
    (both sides prefer heavier trading partners; ties to the lower
    panel index) — the ASSIGNMENT operator the ranking family lacks:
    a matching is STABLE when no supplier-customer pair prefers each
    other over their assigned partners, the guarantee marketplace /
    resource-pairing systems actually need (an unstable assignment
    unravels). Supplier-proposing GS, ONE proposal per step with the
    LOWEST-index free supplier moving (fully deterministic walk,
    <= {_GS_N}^2 steps, supplier-optimal by the classic theorem).
    The oracle replays the identical walk as a WITH RECURSIVE
    carrying (next-proposal, current-match) lists (E334/E335
    discipline); Spark runs it in ONE bounded Arrow task over the
    {_GS_N}x{_GS_N} cents matrix. Scale shape: the corpus-sized work
    is the interaction aggregate + two top-k panels; the walk is
    constant-size domain state."""
    import pandas as pd

    # r11: no corpus-sized (sk, ck) interaction materialization — at
    # sf0.1 that groupBy barely reduced lineitem (587k rows persisted
    # to feed two top-8 panels and an 8x8 matrix). Supplier totals are
    # a straight lineitem aggregate (each line belongs to exactly one
    # customer, so the ck-marginal is the plain sk sum); customer
    # totals aggregate per-order cents BEFORE the orders join (guide
    # §2.3 aggregate-before-shuffle); the panel's own interactions come
    # from broadcast-semi-pruned lineitem x orders (hundreds of rows).
    # Every sum is BIGINT — grouping order cannot change a value.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_suppkey").alias("sk"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("ck")
    )
    # Data contract (ADVICE r11): supplier totals aggregate lineitem
    # WITHOUT the orders join — correct because every l_orderkey has a
    # matching order in the TPC-H-shaped generator (FK integrity; the
    # r11 rewrite dropped the join on that guarantee). Orphan
    # lineitems would shift totals and the top-8 panel.
    sup = (
        li.groupBy("sk")
        .agg(F.sum("cents").cast("bigint").alias("tot"))
        .orderBy(F.col("tot").desc(), "sk")
        .limit(_GS_N)
        .select("sk", F.row_number().over(
            Window.orderBy(F.col("tot").desc(), "sk")).alias("si"))
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.sum("cents").cast("bigint").alias("ocents")
    )
    cus = (
        per_order.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("ck")
        .agg(F.sum("ocents").cast("bigint").alias("tot"))
        .orderBy(F.col("tot").desc(), "ck")
        .limit(_GS_N)
        .select("ck", F.row_number().over(
            Window.orderBy(F.col("tot").desc(), "ck")).alias("ci"))
    )
    pan_o = o.join(F.broadcast(cus.select("ck")), "ck")
    pan_inter = (
        li.join(F.broadcast(sup.select("sk")), "sk")
        .join(F.broadcast(pan_o), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("sk", "ck")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    mat = (
        sup.crossJoin(cus)
        .join(F.broadcast(pan_inter), ["sk", "ck"], "left")
        .select(
            "si",
            "ci",
            "sk",
            "ck",
            F.coalesce(F.col("cents"), F.lit(0)).cast("long").alias("cents"),
        )
    )
    def gale_shapley(pdf):
        rows = [
            (int(si), int(ci), int(sk), int(ck), int(c))
            for si, ci, sk, ck, c in zip(
                pdf["si"], pdf["ci"], pdf["sk"], pdf["ck"], pdf["cents"]
            )
        ]
        cents = {}
        keys = {}
        for si, ci, sk, ck, c in rows:
            cents[(si, ci)] = c
            keys[(si, ci)] = (sk, ck)
        # Panel dims from the ACTUAL panel: a corpus with fewer than
        # _GS_N distinct suppliers/customers yields a short panel and
        # fixed range(1, _GS_N + 1) bounds would KeyError on cents —
        # mirror the oracle's (SELECT COUNT(*) FROM sup/cus) bounds.
        ns = max(si for si, _ in cents)
        nc = max(ci for _, ci in cents)
        prefs = {
            si: sorted(
                range(1, nc + 1), key=lambda ci: (-cents[(si, ci)], ci)
            )
            for si in range(1, ns + 1)
        }
        nxt = {si: 0 for si in range(1, ns + 1)}
        cur = {ci: 0 for ci in range(1, nc + 1)}
        steps = 0
        while True:
            free = [
                si
                for si in range(1, ns + 1)
                if si not in cur.values() and nxt[si] < nc
            ]
            if not free:
                break
            s = min(free)
            c = prefs[s][nxt[s]]
            nxt[s] += 1
            steps += 1
            v = cur[c]
            if v == 0:
                cur[c] = s
            elif cents[(s, c)] > cents[(v, c)] or (
                cents[(s, c)] == cents[(v, c)] and s < v
            ):
                cur[c] = s
        out = []
        for ci in range(1, nc + 1):
            s = cur[ci]
            if s == 0:
                continue
            sk, ck = keys[(s, ci)]
            out.append((s, sk, ck, cents[(s, ci)], steps))
        out.sort()
        return pd.DataFrame(
            [(sk, ck, c, st) for _, sk, ck, c, st in out],
            columns=["s_suppkey", "c_custkey", "cents", "n_proposals"],
        )

    return probe.single_task(
        mat,
        gale_shapley,
        "s_suppkey bigint, c_custkey bigint, cents bigint, n_proposals bigint",
    )
