"""Statistical-modeling declared queries (SURVEY.md §2.12 E109-E112):
distributed closed-form OLS, autocorrelation functions, Pareto
(skyline) frontiers, and largest-remainder integer apportionment.

These are the "model the data, don't just aggregate it" operators an
analytics engine grows next: regression and autocorrelation as pure
Catalyst moment sums (the scale path next to the per-entity pandas-UDF
fits, X2/E54), the skyline operator for multi-objective selection, and
Hamilton apportionment for exact integer budget splits (the
total-preserving sibling of E42's mixture allocation).

Determinism: every statistic is computed from exact integer/DECIMAL
moment sums (functions/deterministic.py recipe) with doubles entering
only in a final fixed-order expression evaluated identically by both
engines — order-free, hash-exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import ensure_parallelism, load_table
from fts_analysis_datalake_spark.functions.deterministic import dcorr, sql_dcorr
from fts_analysis_datalake_spark.operators.text import (
    normalize_text,
    sql_tokens,
    tokens,
)
from fts_analysis_datalake_spark.probe import mul_i64
from fts_analysis_datalake_spark.registry import query

# --------------------------------------------------------------------------
# E109: distributed closed-form OLS — normal equations from exact moments
# --------------------------------------------------------------------------


def _ols_moments(x: Column, y: Column) -> dict[str, Column]:
    """Exact DECIMAL moment sums for simple linear regression.

    x and y must already be integer-valued Columns (pre-scaled); the
    five sums are exact (DECIMAL(38,0) accumulation) and identical in
    any partial-aggregation order, so slope/intercept/R^2 derived from
    them are bit-reproducible across engines and cluster layouts —
    unlike the built-in ``regr_slope``/``corr``, whose double partials
    depend on accumulation order.
    """
    xi = x.cast("decimal(19,0)")
    yi = y.cast("decimal(19,0)")
    return {
        "n": F.count(x).cast("double"),
        "sx": F.sum(xi).cast("double"),
        "sy": F.sum(yi).cast("double"),
        "sxy": F.sum(xi * yi).cast("double"),
        "sxx": F.sum(xi * xi).cast("double"),
        "syy": F.sum(yi * yi).cast("double"),
    }


@query(
    "q_ols_price_on_quantity",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(xi) AS DOUBLE) AS sx, CAST(SUM(yi) AS DOUBLE) AS sy,
             CAST(SUM(xi * yi) AS DOUBLE) AS sxy,
             CAST(SUM(xi * xi) AS DOUBLE) AS sxx,
             CAST(SUM(yi * yi) AS DOUBLE) AS syy,
             COUNT(*) AS n_lines
      FROM (SELECT l_returnflag,
                   CAST(FLOOR(l_quantity + 0.5) AS DECIMAL(19,0)) AS xi,
                   CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0)) AS yi
            FROM lineitem)
      GROUP BY l_returnflag)
    SELECT l_returnflag, n_lines,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope_cents,
           (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
             AS intercept_cents,
           ((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
    FROM m
    """,
    tags=("E109", "A1", "A6", "F6"),
)
def q_ols_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag simple linear regression of extended price
    (cents) on quantity, solved in closed form from the normal
    equations: slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2), intercept,
    and R^2 — all from five exact integer moment sums in ONE hash
    aggregate (map-side partials combine; nothing but six numbers per
    group crosses the shuffle). This is the distributed scale path
    for regression: at 100 TB it costs exactly one scan + one tiny
    shuffle regardless of row count, while the per-entity pandas-UDF
    OLS (q_user_value_trend_udf, X2 surface) stays the right tool
    only when each ENTITY's series needs its own fit."""
    li = load_table(spark, sf_dir, "lineitem")
    m = _ols_moments(
        F.floor(F.col("l_quantity") + F.lit(0.5)),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)),
    )
    agg = li.groupBy("l_returnflag").agg(
        m["n"].alias("n"),
        m["sx"].alias("sx"),
        m["sy"].alias("sy"),
        m["sxy"].alias("sxy"),
        m["sxx"].alias("sxx"),
        m["syy"].alias("syy"),
        F.count(F.lit(1)).alias("n_lines"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return agg.select(
        "l_returnflag",
        "n_lines",
        slope.alias("slope_cents"),
        ((sy - slope * sx) / n).alias("intercept_cents"),
        (
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        ).alias("r2"),
    )


# --------------------------------------------------------------------------
# E110: autocorrelation function — lag-1h / lag-24h ACF per series
# --------------------------------------------------------------------------


@query(
    "q_hourly_acf",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
               FROM hourly GROUP BY 1),
    spine AS (
      SELECT event_type,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds),
    serie AS (
      SELECT s.event_type, s.h, COALESCE(hy.c, 0) AS cnt
      FROM spine s LEFT JOIN hourly hy
        ON s.event_type = hy.event_type AND s.h = hy.h),
    lagd AS (
      SELECT event_type, cnt,
             lag(cnt, 1)  OVER w AS l1,
             lag(cnt, 24) OVER w AS l24
      FROM serie WINDOW w AS (PARTITION BY event_type ORDER BY h))
    SELECT event_type, COUNT(*) AS n_hours,
           {sql_dcorr('CASE WHEN l1 IS NULL THEN NULL ELSE cnt END', 'l1', 0, 0)}
             AS acf_1h,
           {sql_dcorr('CASE WHEN l24 IS NULL THEN NULL ELSE cnt END', 'l24', 0, 0)}
             AS acf_24h
    FROM lagd GROUP BY event_type
    """,
    tags=("E110", "W3", "A1", "F4", "E29"),
)
def q_hourly_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each event type's hourly arrival-count
    series at lags 1 h and 24 h — the diagnostic that separates
    bursty from daily-seasonal traffic (complements E97's
    hour-of-day R^2). The series is regularized on a complete hourly
    spine (missing hours count 0, E22 recipe) so "lag k rows" means
    "lag k hours"; both ACFs come off ONE window shuffle and one
    aggregate, with pairs where the lag predates the series excluded
    on both sides via the paired-null trick. Counts are integers, so
    the Pearson moments are exact (dcorr at scale 0) and the
    statistic is hash-exact cross-engine. The spine grows with
    time x types, never with event volume — at 100 TB the window
    runs over ~thousands of rows per type."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    serie = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce(F.col("c"), F.lit(0)).alias("cnt")
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagd = serie.select(
        "event_type",
        "cnt",
        F.lag("cnt", 1).over(w).alias("l1"),
        F.lag("cnt", 24).over(w).alias("l24"),
    )
    pair1 = F.when(F.col("l1").isNotNull(), F.col("cnt"))
    pair24 = F.when(F.col("l24").isNotNull(), F.col("cnt"))
    return lagd.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        dcorr(pair1, F.col("l1"), 0, 0).alias("acf_1h"),
        dcorr(pair24, F.col("l24"), 0, 0).alias("acf_24h"),
    )


# --------------------------------------------------------------------------
# E111: Pareto frontier (skyline) — non-dominated (price, size) parts
# --------------------------------------------------------------------------


@query(
    "q_pareto_frontier_parts",
    oracle="""
    WITH combos AS (
      SELECT CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
             p_size, COUNT(*) AS n_parts
      FROM part GROUP BY 1, 2)
    SELECT price_cents, p_size, n_parts
    FROM combos c
    WHERE NOT EXISTS (
      SELECT 1 FROM combos d
      WHERE d.price_cents <= c.price_cents AND d.p_size >= c.p_size
        AND (d.price_cents < c.price_cents OR d.p_size > c.p_size))
    """,
    tags=("E111", "O1", "W4", "A1"),
)
def q_pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline operator: the set of (price, size) points no other
    point dominates (cheaper-or-equal AND bigger-or-equal with one
    strict) — multi-objective shortlisting that top-k on any single
    score can't express. Computed as the classic sort-scan: dedupe to
    distinct value combos first (bounded by the attribute domain, NOT
    row count — this is the 100 TB move), sort by (price asc, size
    desc), and keep a combo iff its size exceeds the running max size
    over all strictly-preceding combos. The oracle is the O(n^2)
    NOT-EXISTS definition; the scan is O(n log n) and the global-order
    window runs over the deduped combos only. Domination is decided
    on exact integer cents."""
    p = load_table(spark, sf_dir, "part")
    combos = p.groupBy(
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
        "p_size",
    ).agg(F.count(F.lit(1)).alias("n_parts"))
    # Global-order window over the DEDUPED combo set (domain-bounded,
    # tiny); the raw table never sees a single-partition exchange.
    w = (
        Window.orderBy(F.col("price_cents").asc(), F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        combos.withColumn("run_max_size", F.max("p_size").over(w))
        .filter(
            F.col("run_max_size").isNull()
            | (F.col("p_size") > F.col("run_max_size"))
        )
        .select("price_cents", "p_size", "n_parts")
    )


# --------------------------------------------------------------------------
# E112: largest-remainder apportionment — exact total-preserving split
# --------------------------------------------------------------------------

_SEATS = 10_000


@query(
    "q_seat_apportionment",
    oracle=f"""
    WITH counts AS (
      SELECT lang, source, COUNT(*) AS docs FROM documents GROUP BY 1, 2),
    quotas AS (
      SELECT lang, source, docs,
             CAST(10000 * docs AS BIGINT) AS num,
             CAST(SUM(docs) OVER () AS BIGINT) AS total
      FROM counts),
    parts AS (
      SELECT lang, source, docs,
             num // total AS base, num % total AS rem
      FROM quotas),
    ranked AS (
      SELECT lang, source, docs, base,
             row_number() OVER (ORDER BY rem DESC, lang, source) AS rn,
             CAST(10000 - SUM(base) OVER () AS BIGINT) AS k
      FROM parts)
    SELECT lang, source, docs,
           CAST(base + CASE WHEN rn <= k THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_seats
    FROM ranked
    """,
    tags=("E112", "A1", "W1", "W4"),
)
def q_seat_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamilton (largest-remainder) apportionment: split an integer
    budget of 10000 sample slots across (lang, source) buckets
    proportionally to doc counts such that the allocations are
    integers and sum EXACTLY to the budget — floors of the exact
    rational quotas plus one bonus seat to the largest remainders
    (deterministic (remainder, lang, source) tiebreak). Pure integer
    arithmetic end to end (num DIV total / num MOD total), so both
    engines agree bit-for-bit; the complement of E42's
    temperature-weighted mixture (which reweights shares) and E106's
    floor-division credit (which drops remainders). The global
    windows run over the GROUPED bucket table (~|langs x sources|
    rows), never the raw corpus."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("docs"))
    quotas = counts.select(
        "lang",
        "source",
        "docs",
        (F.lit(_SEATS) * F.col("docs")).cast("long").alias("num"),
        F.sum("docs").over(Window.partitionBy()).cast("long").alias("total"),
    )
    parts = quotas.select(
        "lang",
        "source",
        "docs",
        F.expr("num DIV total").alias("base"),
        (F.col("num") % F.col("total")).alias("rem"),
    )
    ranked = parts.select(
        "lang",
        "source",
        "docs",
        "base",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), "lang", "source"))
        .alias("rn"),
        (F.lit(_SEATS) - F.sum("base").over(Window.partitionBy()))
        .cast("long")
        .alias("k"),
    )
    return ranked.select(
        "lang",
        "source",
        "docs",
        (F.col("base") + F.when(F.col("rn") <= F.col("k"), 1).otherwise(0))
        .cast("long")
        .alias("alloc_seats"),
    )


# --------------------------------------------------------------------------
# E117: revenue bridge — MoM change decomposed into new / expansion /
# contraction / churned components, exact cents
# --------------------------------------------------------------------------


@query(
    "q_revenue_bridge_monthly",
    oracle="""
    WITH monthly AS (
      SELECT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS mi,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS rev_c
      FROM orders GROUP BY 1, 2),
    bridge AS (
      SELECT COALESCE(c.mi, p.mi + 1) AS mi,
             CASE WHEN p.o_custkey IS NULL THEN c.rev_c ELSE 0 END AS new_c,
             CASE WHEN c.o_custkey IS NULL THEN p.rev_c ELSE 0 END AS churn_c,
             CASE WHEN c.o_custkey IS NOT NULL AND p.o_custkey IS NOT NULL
                       AND c.rev_c > p.rev_c THEN c.rev_c - p.rev_c ELSE 0 END AS exp_c,
             CASE WHEN c.o_custkey IS NOT NULL AND p.o_custkey IS NOT NULL
                       AND c.rev_c < p.rev_c THEN p.rev_c - c.rev_c ELSE 0 END AS con_c
      FROM monthly c FULL OUTER JOIN monthly p
        ON c.o_custkey = p.o_custkey AND c.mi = p.mi + 1)
    SELECT CAST(mi // 12 AS BIGINT) AS yr, CAST(mi % 12 + 1 AS BIGINT) AS mon,
           CAST(SUM(new_c) AS BIGINT) / 100.0 AS new_rev,
           CAST(SUM(exp_c) AS BIGINT) / 100.0 AS expansion_rev,
           CAST(SUM(con_c) AS BIGINT) / 100.0 AS contraction_rev,
           CAST(SUM(churn_c) AS BIGINT) / 100.0 AS churned_rev,
           CAST(SUM(new_c) + SUM(exp_c) - SUM(con_c) - SUM(churn_c) AS BIGINT)
             / 100.0 AS net_change,
           CAST(COUNT(*) FILTER (new_c > 0) AS BIGINT) AS n_new,
           CAST(COUNT(*) FILTER (churn_c > 0) AS BIGINT) AS n_churned
    FROM bridge
    WHERE mi <= (SELECT MAX(mi) FROM monthly)
    GROUP BY 1, 2
    """,
    tags=("E117", "J2", "A1", "A7", "F4"),
)
def q_revenue_bridge_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SaaS-finance waterfall: month-over-month revenue change
    split into new / expansion / contraction / churned customer
    components, with net_change = new + expansion - contraction -
    churned holding exactly (all arithmetic in integer cents until the
    final unscale; BIGINT sums are order-free, so the bridge is
    hash-exact).

    Plan: one hash agg to (custkey, month-index) cents, then a single
    FULL OUTER self-join aligning month m with m+1 on the customer key
    — both sides shuffle once on (custkey, mi); no window over the raw
    orders. Phantom months past the data's end (churn rows from the
    final month) are cut by comparing against the broadcast 1-row max
    month. At 100 TB the monthly aggregate is |customers| x |months|,
    orders-of-magnitude smaller than the fact table, and the self-join
    is sort-merge on exact keys with no expansion."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).cast("bigint").alias("mi"),
    ).agg(F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))).cast("bigint").alias("rev_c"))
    c = monthly.alias("c")
    p = monthly.alias("p")
    both = F.col("c.o_custkey").isNotNull() & F.col("p.o_custkey").isNotNull()
    bridge = c.join(
        p,
        (F.col("c.o_custkey") == F.col("p.o_custkey")) & (F.col("c.mi") == F.col("p.mi") + 1),
        "full_outer",
    ).select(
        F.coalesce(F.col("c.mi"), F.col("p.mi") + 1).alias("mi"),
        F.when(F.col("p.o_custkey").isNull(), F.col("c.rev_c")).otherwise(F.lit(0)).alias("new_c"),
        F.when(F.col("c.o_custkey").isNull(), F.col("p.rev_c")).otherwise(F.lit(0)).alias("churn_c"),
        F.when(both & (F.col("c.rev_c") > F.col("p.rev_c")), F.col("c.rev_c") - F.col("p.rev_c"))
        .otherwise(F.lit(0))
        .alias("exp_c"),
        F.when(both & (F.col("c.rev_c") < F.col("p.rev_c")), F.col("p.rev_c") - F.col("c.rev_c"))
        .otherwise(F.lit(0))
        .alias("con_c"),
    )
    max_mi = monthly.agg(F.max("mi").alias("max_mi"))
    return (
        bridge.join(F.broadcast(max_mi), F.col("mi") <= F.col("max_mi"))
        .groupBy(
            (F.col("mi") / 12).cast("bigint").alias("yr"),
            (F.col("mi") % 12 + 1).cast("bigint").alias("mon"),
        )
        .agg(
            (F.sum("new_c").cast("bigint") / 100.0).alias("new_rev"),
            (F.sum("exp_c").cast("bigint") / 100.0).alias("expansion_rev"),
            (F.sum("con_c").cast("bigint") / 100.0).alias("contraction_rev"),
            (F.sum("churn_c").cast("bigint") / 100.0).alias("churned_rev"),
            (
                (F.sum("new_c") + F.sum("exp_c") - F.sum("con_c") - F.sum("churn_c")).cast("bigint")
                / 100.0
            ).alias("net_change"),
            F.count(F.when(F.col("new_c") > 0, 1)).cast("bigint").alias("n_new"),
            F.count(F.when(F.col("churn_c") > 0, 1)).cast("bigint").alias("n_churned"),
        )
    )


# --------------------------------------------------------------------------
# E120: Kaplan-Meier survival — product-limit churn curve, fold-exact
# --------------------------------------------------------------------------


@query(
    "q_kaplan_meier_retention",
    oracle="""
    WITH u AS (
      SELECT user_id, MIN(ts) AS f, MAX(ts) AS l FROM events GROUP BY user_id),
    mx AS (SELECT MAX(ts) AS m FROM events),
    lt AS (
      SELECT date_diff('day', CAST(f AS DATE), CAST(l AS DATE)) AS dur,
             CASE WHEN l < m - INTERVAL 7 DAY THEN 1 ELSE 0 END AS ev
      FROM u, mx),
    byd AS (
      SELECT CAST(dur AS BIGINT) AS dur,
             CAST(SUM(ev) AS BIGINT) AS n_churned,
             CAST(SUM(1 - ev) AS BIGINT) AS n_censored
      FROM lt GROUP BY 1),
    km AS (
      SELECT dur, n_churned, n_censored,
             (SELECT SUM(n_churned + n_censored) FROM byd)
               - COALESCE(SUM(n_churned + n_censored) OVER (
                   ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM byd),
    terms AS (
      SELECT dur, n_churned, n_censored, CAST(n_risk AS BIGINT) AS n_risk,
             LIST(1.0 - CAST(n_churned AS DOUBLE) / CAST(n_risk AS DOUBLE)) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tl
      FROM km)
    SELECT dur, n_risk, n_churned, n_censored,
           list_reduce(tl, (x, y) -> x * y) AS survival
    FROM terms
    """,
    tags=("E120", "A1", "W4", "F8"),
)
def q_kaplan_meier_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit retention curve over user lifetimes
    (days between first and last event; users still active in the
    final 7 days of the dataset are right-censored). Output per
    distinct lifetime: risk-set size, churn/censor counts, and the
    survival probability S(t) = prod_{u<=t} (1 - d_u/n_u).

    Determinism without libm: neither engine has an order-free product
    aggregate, so the cumulative product is an ordered-list Fold —
    collect the per-step factors over an ordered running window and
    left-fold multiplication (Spark ``F.aggregate``, DuckDB
    ``list_reduce``). Every factor is an identical IEEE division and
    the fold multiplies in identical sequence, so survival is
    bit-exact across engines — no exp/ln quantization needed.

    Scale: the per-user agg is the only big shuffle; the curve table
    is |distinct lifetimes| rows (tiny), so the single-partition
    ordered window and the O(T^2) fold are on hundreds of rows, not
    the fact table."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(F.min("ts").alias("f"), F.max("ts").alias("l"))
    mx = e.agg(F.max("ts").alias("m"))
    lt = u.join(F.broadcast(mx)).select(
        F.datediff(F.to_date("l"), F.to_date("f")).alias("dur"),
        F.when(F.col("l") < F.col("m") - F.expr("INTERVAL 7 DAYS"), 1).otherwise(0).alias("ev"),
    )
    byd = lt.groupBy(F.col("dur").cast("bigint").alias("dur")).agg(
        F.sum("ev").cast("bigint").alias("n_churned"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("n_censored"),
    )
    w = Window.orderBy("dur")
    total = F.sum(F.col("n_churned") + F.col("n_censored")).over(Window.partitionBy())
    before = F.coalesce(
        F.sum(F.col("n_churned") + F.col("n_censored")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    km = byd.select("dur", "n_churned", "n_censored", (total - before).cast("bigint").alias("n_risk"))
    terms = km.withColumn(
        "tl",
        F.collect_list(
            F.lit(1.0) - F.col("n_churned").cast("double") / F.col("n_risk").cast("double")
        ).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return terms.select(
        "dur",
        "n_risk",
        "n_churned",
        "n_censored",
        F.aggregate("tl", F.lit(1.0), lambda acc, x: acc * x).alias("survival"),
    )


# --------------------------------------------------------------------------
# E123: ABC inventory classification — cumulative-share classes
# --------------------------------------------------------------------------


@query(
    "q_abc_part_classes",
    oracle="""
    WITH pr AS (
      SELECT l_partkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 10000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS rev_c
      FROM lineitem GROUP BY 1),
    ranked AS (
      SELECT rev_c,
             CAST(SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c,
             CAST((SELECT SUM(rev_c) FROM pr) AS BIGINT) AS total_c
      FROM pr),
    classed AS (
      SELECT CASE WHEN cum_c * 100 <= total_c * 80 THEN 'A'
                  WHEN cum_c * 100 <= total_c * 95 THEN 'B'
                  ELSE 'C' END AS abc_class,
             rev_c, total_c
      FROM ranked)
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(rev_c) AS BIGINT) / 10000.0 AS class_rev,
           CAST(CAST(SUM(rev_c) AS BIGINT) AS DOUBLE) / CAST(MAX(total_c) AS DOUBLE)
             AS rev_share
    FROM classed GROUP BY abc_class
    """,
    tags=("E123", "W4", "A1", "O1"),
)
def q_abc_part_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (80/95) inventory classification: parts ranked by revenue,
    class A = parts covering the first 80% of cumulative revenue,
    B to 95%, C the tail — the warehouse sibling of the Pareto
    frontier (E111) and Gini (E59) reports.

    All share math is exact-integer: revenue in 1e-4-scaled cents,
    cumulative and total sums as BIGINT, and the class boundaries
    compared as cum*100 <= total*80 — no double division until the
    final report columns, so class assignment is hash-exact. The
    cumulative window runs over the per-part aggregate (|parts| rows,
    single ordered partition); at 100 TB that's the relation a
    range-partitioned prefix sum would take over, while the lineitem
    scan/agg stays fully parallel. cum*100 bounds: safe while total
    revenue < 9e16 scaled units (~9e11 currency)."""
    li = load_table(spark, sf_dir, "lineitem")
    pr = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)))
        .cast("bigint")
        .alias("rev_c")
    )
    cum = Window.orderBy(F.col("rev_c").desc(), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = pr.select(
        "rev_c",
        F.sum("rev_c").over(cum).cast("bigint").alias("cum_c"),
        F.sum("rev_c").over(Window.partitionBy()).cast("bigint").alias("total_c"),
    )
    classed = ranked.select(
        F.when(F.col("cum_c") * 100 <= F.col("total_c") * 80, "A")
        .when(F.col("cum_c") * 100 <= F.col("total_c") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_c",
        "total_c",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        (F.sum("rev_c").cast("bigint") / 10000.0).alias("class_rev"),
        (F.sum("rev_c").cast("bigint").cast("double") / F.max("total_c").cast("double")).alias(
            "rev_share"
        ),
    )


# --------------------------------------------------------------------------
# E130: Kolmogorov-Smirnov uniformity test — arrival-time ECDF distance
# --------------------------------------------------------------------------


@query(
    "q_ks_uniform_arrivals",
    oracle="""
    WITH spanned AS (
      SELECT event_type,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             event_id,
             CAST(MIN(FLOOR(epoch(ts))) OVER () AS BIGINT) AS lo,
             CAST(MAX(FLOOR(epoch(ts))) OVER () AS BIGINT) AS hi
      FROM events),
    ranked AS (
      SELECT event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts_s, event_id)
                  AS DOUBLE) AS i,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS DOUBLE) AS n,
             CAST(ts_s - lo AS DOUBLE) / CAST(hi - lo AS DOUBLE) AS x
      FROM spanned)
    SELECT event_type, CAST(n AS BIGINT) AS n_events,
           MAX(CASE WHEN i / n - x > (x - (i - 1) / n) THEN i / n - x
                    ELSE x - (i - 1) / n END) AS ks_stat
    FROM ranked GROUP BY event_type, n
    """,
    tags=("E130", "W1", "A2", "F6", "E43"),
)
def q_ks_uniform_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov one-sample test of each event type's
    arrival times against the uniform distribution over the dataset's
    global time span: KS = sup |ECDF - x| evaluated at both step
    edges (i/n above, (i-1)/n below). Large values flag bursty or
    trending types; the E43 chi-square's continuous sibling.

    Deterministic without tolerance: the uniform CDF is linear, so
    every quantity is a subtraction/division of exact integers —
    same IEEE result in both engines — and the final sup is an
    order-free MAX. One window shuffle on event_type ranks arrivals;
    the global span is a frameless window (computed once per
    partition map-side at scale via the broadcast twin)."""
    e = load_table(spark, sf_dir, "events")
    spanned = e.select(
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("ts_s"),
        "event_id",
        F.min(F.unix_timestamp("ts").cast("bigint")).over(Window.partitionBy()).alias("lo"),
        F.max(F.unix_timestamp("ts").cast("bigint")).over(Window.partitionBy()).alias("hi"),
    )
    w = Window.partitionBy("event_type").orderBy("ts_s", "event_id")
    ranked = spanned.select(
        "event_type",
        F.row_number().over(w).cast("double").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).cast("double").alias("n"),
        (
            (F.col("ts_s") - F.col("lo")).cast("double")
            / (F.col("hi") - F.col("lo")).cast("double")
        ).alias("x"),
    )
    above = F.col("i") / F.col("n") - F.col("x")
    below = F.col("x") - (F.col("i") - 1) / F.col("n")
    return ranked.groupBy("event_type", "n").agg(
        F.max(F.when(above > below, above).otherwise(below)).alias("ks_stat")
    ).select("event_type", F.col("n").cast("bigint").alias("n_events"), "ks_stat")


# --------------------------------------------------------------------------
# E150: Theil-Sen robust trend — median of pairwise slopes
# --------------------------------------------------------------------------


@query(
    "q_theil_sen_hourly_trend",
    oracle="""
    WITH pts AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) / 3600 AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    slopes AS (
      SELECT CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS s
      FROM pts a JOIN pts b ON b.x > a.x),
    ranked AS (
      SELECT s, row_number() OVER (ORDER BY s) AS rn,
             COUNT(*) OVER () AS cnt
      FROM slopes)
    SELECT CAST((SELECT COUNT(*) FROM pts) AS BIGINT) AS n_points,
           CAST(MAX(cnt) AS BIGINT) AS n_pairs,
           SUM(CASE WHEN rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
                    THEN s ELSE 0 END)
             / SUM(CASE WHEN rn = (cnt + 1) // 2 OR rn = cnt // 2 + 1
                        THEN 1 ELSE 0 END) AS slope_per_hour
    FROM ranked
    """,
    tags=("E150", "E96", "A1", "J7", "W1"),
)
def q_theil_sen_hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the hourly event-volume trend: the
    MEDIAN of all pairwise slopes between (hour, count) points —
    robust to ~29% outliers where the OLS slope (E48) is dragged by a
    single traffic spike, and the natural companion to Mann-Kendall
    (E96), which tests the same monotonicity the Theil-Sen slope
    quantifies.

    The pairwise self-join is over the HOURLY AGGREGATE (a few
    hundred rows however large the corpus — n(n-1)/2 slope pairs of
    integer counts), never the event table, so the O(n^2) stays
    bounded; the median is the exact middle order statistic (mean of
    the two middles when even — identical doubles in both engines
    since each slope is a ratio of exact integers)."""
    e = load_table(spark, sf_dir, "events")
    pts = e.groupBy(
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("bigint")
        .alias("x")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    a = pts.select(F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = pts.select(F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = a.join(b, F.col("xb") > F.col("xa")).select(
        ((F.col("yb") - F.col("ya")).cast("double") / (F.col("xb") - F.col("xa"))).alias("s")
    )
    w = Window.orderBy("s")
    ranked = slopes.select(
        "s",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("cnt"),
    )
    n_points = pts.agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    med = ranked.agg(
        F.max("cnt").cast("bigint").alias("n_pairs"),
        (
            F.sum(
                F.when(
                    (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
                    | (F.col("rn") == F.floor(F.col("cnt") / 2) + 1),
                    F.col("s"),
                ).otherwise(0.0)
            )
            / F.sum(
                F.when(
                    (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
                    | (F.col("rn") == F.floor(F.col("cnt") / 2) + 1),
                    1,
                ).otherwise(0)
            )
        ).alias("slope_per_hour"),
    )
    return n_points.crossJoin(F.broadcast(med))


# --------------------------------------------------------------------------
# E152: rolling-origin backtest folds — time-series eval splits
# --------------------------------------------------------------------------

_BT_FOLDS = 4
_BT_H_DAYS = 2


@query(
    "q_backtest_fold_plan",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('day', MIN(ts)) AS d0, date_trunc('day', MAX(ts)) AS d1
      FROM events),
    folds AS (
      SELECT k,
             d1 - to_days(CAST((4 - k + 1) * 2 AS INTEGER))
               AS train_end,
             d1 - to_days(CAST((4 - k) * 2 AS INTEGER))
               AS test_end
      FROM bounds, unnest(generate_series(1, 4)) t(k))
    SELECT CAST(k AS BIGINT) AS fold, train_end, test_end,
           CAST((SELECT COUNT(*) FROM events e WHERE e.ts < f.train_end) AS BIGINT)
             AS train_n,
           CAST((SELECT COUNT(*) FROM events e
                 WHERE e.ts >= f.train_end AND e.ts < f.test_end) AS BIGINT)
             AS test_n
    FROM folds f
    """,
    tags=("E152", "J8", "A7", "F4"),
)
def q_backtest_fold_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin (expanding-window) backtest plan: 4
    folds anchored to the data's own last day, each training on
    everything before its cut and testing on the next 2
    days — the split discipline that keeps time-series evaluation
    honest (no future leakage, every fold's test window disjoint).
    Emits each fold's boundaries and realized row counts, the sanity
    report read before any expensive per-fold model fit.

    Plan: the bounds are a 1-row aggregate broadcast onto a generated
    fold spine; fold populations come from ONE conditional-sum pass
    over events against the broadcast fold table — events are scanned
    once for all folds, not once per fold."""
    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("day", F.max("ts")).alias("d1")
    )
    folds = bounds.select(
        F.explode(F.sequence(F.lit(1), F.lit(_BT_FOLDS))).alias("fold"), "d1"
    ).select(
        "fold",
        (
            F.col("d1")
            - F.make_interval(days=(F.lit(_BT_FOLDS) - F.col("fold") + 1) * _BT_H_DAYS)
        ).alias("train_end"),
        (
            F.col("d1")
            - F.make_interval(days=(F.lit(_BT_FOLDS) - F.col("fold")) * _BT_H_DAYS)
        ).alias("test_end"),
    )
    joined = e.crossJoin(F.broadcast(folds))
    return (
        joined.groupBy("fold", "train_end", "test_end")
        .agg(
            F.sum(F.when(F.col("ts") < F.col("train_end"), 1).otherwise(0))
            .cast("bigint")
            .alias("train_n"),
            F.sum(
                F.when(
                    (F.col("ts") >= F.col("train_end"))
                    & (F.col("ts") < F.col("test_end")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("test_n"),
        )
        .select(
            F.col("fold").cast("bigint").alias("fold"),
            "train_end",
            "test_end",
            "train_n",
            "test_n",
        )
    )


# --------------------------------------------------------------------------
# E153: seasonal-naive forecast + MASE — the forecast-quality floor
# --------------------------------------------------------------------------


@query(
    "q_seasonal_naive_mase",
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS y
      FROM events GROUP BY 1),
    lagged AS (
      SELECT y,
             lag(y, 168) OVER (ORDER BY h) AS y_season,
             lag(y, 1) OVER (ORDER BY h) AS y_prev
      FROM hourly)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(SUM(abs(y - y_season)) AS DOUBLE) / COUNT(*) AS mae_seasonal,
           CAST(SUM(abs(y - y_prev)) AS DOUBLE) / COUNT(*) AS mae_naive,
           CAST(SUM(abs(y - y_season)) AS DOUBLE) / SUM(abs(y - y_prev)) AS mase
    FROM lagged
    WHERE y_season IS NOT NULL AND y_prev IS NOT NULL
    """,
    tags=("E153", "E50", "W3", "A2"),
)
def q_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The forecast-quality floor every model must beat: seasonal
    naive (this hour = same hour last week, lag 168) scored with MASE
    — seasonal MAE over one-step-naive MAE, the scale-free metric
    that makes forecast errors comparable across series. MASE < 1
    means weekly seasonality carries real signal (Holt/ETS models
    (E50) are judged against exactly this number).

    Both lags ride ONE ordered window over the hourly aggregate
    (hundreds of rows at any corpus size); every sum is exact integer
    arithmetic, so the emitted ratios are bit-equal across engines."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("h")).agg(
        F.count(F.lit(1)).cast("bigint").alias("y")
    )
    w = Window.orderBy("h")
    lagged = hourly.select(
        "y",
        F.lag("y", 168).over(w).alias("y_season"),
        F.lag("y", 1).over(w).alias("y_prev"),
    ).filter(F.col("y_season").isNotNull() & F.col("y_prev").isNotNull())
    sa = F.sum(F.abs(F.col("y") - F.col("y_season")))
    na = F.sum(F.abs(F.col("y") - F.col("y_prev")))
    return lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        (sa.cast("double") / F.count(F.lit(1))).alias("mae_seasonal"),
        (na.cast("double") / F.count(F.lit(1))).alias("mae_naive"),
        (sa.cast("double") / na).alias("mase"),
    )


# --------------------------------------------------------------------------
# E158: inverse-propensity-weighted treatment effect
# --------------------------------------------------------------------------


@query(
    "q_ipw_treatment_effect",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CAST(MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS INTEGER)
               AS t,
             SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS y,
             CAST(FLOOR(COUNT(*) / 10) AS BIGINT) AS stratum
      FROM events GROUP BY user_id),
    strata AS (
      SELECT stratum,
             CAST(SUM(t) AS DOUBLE) / COUNT(*) AS e
      FROM users GROUP BY stratum),
    usable AS (
      SELECT u.t, u.y, s.e
      FROM users u JOIN strata s USING (stratum)
      WHERE s.e > 0 AND s.e < 1)
    SELECT CAST(SUM(t) AS BIGINT) AS n_treated,
           CAST(SUM(1 - t) AS BIGINT) AS n_control,
           SUM(t * y / e) / COUNT(*) - SUM((1 - t) * y / (1 - e)) / COUNT(*)
             AS ate_ipw,
           SUM(t * y) / SUM(t) - SUM((1 - t) * y) / SUM(1 - t) AS naive_diff
    FROM usable
    """,
    tags=("E158", "E98", "A1", "A7", "J1"),
)
def q_ipw_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect of
    'signed up' on per-user total engagement value, stratified by
    activity decile — the observational-causal estimate shown NEXT TO
    the naive mean difference, so confounding by activity level is
    visible as the gap between the two numbers. Strata without both
    arms are excluded (the positivity requirement, applied
    deterministically).

    Plan: one per-user aggregate (the only corpus shuffle), a tiny
    stratum propensity table joined back (broadcast), one final
    1-row aggregate. Per-user value totals are scaled-integer sums;
    the propensity e is an exact count ratio, so both engines emit
    identical doubles end-to-end."""
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0))
        .cast("int")
        .alias("t"),
        (F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")) / 1e6).alias(
            "y"
        ),
        F.floor(F.count(F.lit(1)) / 10).cast("bigint").alias("stratum"),
    )
    strata = users.groupBy("stratum").agg(
        (F.sum("t").cast("double") / F.count(F.lit(1))).alias("e")
    )
    usable = users.join(F.broadcast(strata), "stratum").filter(
        (F.col("e") > 0) & (F.col("e") < 1)
    )
    t, y, ps = F.col("t"), F.col("y"), F.col("e")
    return usable.agg(
        F.sum(t).cast("bigint").alias("n_treated"),
        F.sum(1 - t).cast("bigint").alias("n_control"),
        (
            F.sum(t * y / ps) / F.count(F.lit(1))
            - F.sum((1 - t) * y / (1 - ps)) / F.count(F.lit(1))
        ).alias("ate_ipw"),
        (F.sum(t * y) / F.sum(t) - F.sum((1 - t) * y) / F.sum(1 - t)).alias(
            "naive_diff"
        ),
    )


# --------------------------------------------------------------------------
# E159: difference-in-differences
# --------------------------------------------------------------------------


@query(
    "q_did_value_estimate",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid_us FROM events),
    cells AS (
      SELECT CAST(user_id % 2 AS INTEGER) AS grp,
             CAST(CASE WHEN epoch_us(ts) >= mid_us THEN 1 ELSE 0 END AS INTEGER) AS post,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS total
      FROM events, bounds
      GROUP BY 1, 2)
    SELECT
      CAST(SUM(n) AS BIGINT) AS n_events,
      SUM(CASE WHEN grp = 1 AND post = 1 THEN total / n END) AS treat_post_mean,
      SUM(CASE WHEN grp = 1 AND post = 0 THEN total / n END) AS treat_pre_mean,
      SUM(CASE WHEN grp = 0 AND post = 1 THEN total / n END) AS ctrl_post_mean,
      SUM(CASE WHEN grp = 0 AND post = 0 THEN total / n END) AS ctrl_pre_mean,
      (SUM(CASE WHEN grp = 1 AND post = 1 THEN total / n END)
         - SUM(CASE WHEN grp = 1 AND post = 0 THEN total / n END))
        - (SUM(CASE WHEN grp = 0 AND post = 1 THEN total / n END)
           - SUM(CASE WHEN grp = 0 AND post = 0 THEN total / n END)) AS did
    FROM cells
    """,
    tags=("E159", "E98", "A2", "A7", "F4"),
)
def q_did_value_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (treatment post - pre) minus
    (control post - pre) mean event value, with the period split at
    the data's own temporal midpoint and group assignment by user-id
    parity — the parallel-trends estimator that corrects a naive
    before/after comparison with the control group's drift. All four
    cell means ride ONE scan into a 4-row cell table; the estimate
    is arithmetic over scaled-integer cell sums."""
    e = load_table(spark, sf_dir, "events")
    # Midpoint in epoch-MICROSECOND integer space: halving an
    # INTERVAL diverges between engines (Spark's day-time interval is
    # total microseconds; DuckDB halves the day and micro components
    # separately — 12h apart on a 29-day span), while integer epoch
    # arithmetic is identical everywhere.
    bounds = e.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias("mid_us")
    )
    cells = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy(
            (F.col("user_id") % 2).cast("int").alias("grp"),
            F.when(F.unix_micros(F.col("ts")) >= F.col("mid_us"), 1)
            .otherwise(0)
            .cast("int")
            .alias("post"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.sum(F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")) / 1e6
            ).alias("total"),
        )
    )
    cell = lambda g, p: F.sum(  # noqa: E731 — 4-cell pivot shorthand
        F.when((F.col("grp") == g) & (F.col("post") == p), F.col("total") / F.col("n"))
    )
    return cells.agg(
        F.sum("n").cast("bigint").alias("n_events"),
        cell(1, 1).alias("treat_post_mean"),
        cell(1, 0).alias("treat_pre_mean"),
        cell(0, 1).alias("ctrl_post_mean"),
        cell(0, 0).alias("ctrl_pre_mean"),
        (
            (cell(1, 1) - cell(1, 0)) - (cell(0, 1) - cell(0, 0))
        ).alias("did"),
    )


# --------------------------------------------------------------------------
# E160: CUPED variance reduction
# --------------------------------------------------------------------------


@query(
    "q_cuped_variance_reduction",
    oracle="""
    WITH bounds AS (
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid_us FROM events),
    users AS (
      SELECT user_id,
             SUM(CASE WHEN epoch_us(ts) < mid_us
                 THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS xi,
             SUM(CASE WHEN epoch_us(ts) >= mid_us
                 THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS yi
      FROM events, bounds GROUP BY user_id),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(xi AS DECIMAL(19,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(yi AS DECIMAL(19,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(xi AS DECIMAL(19,0)) * CAST(xi AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(yi AS DECIMAL(19,0)) * CAST(yi AS DECIMAL(19,0))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(xi AS DECIMAL(19,0)) * CAST(yi AS DECIMAL(19,0))) AS DOUBLE) AS sxy
      FROM users)
    SELECT CAST(n AS BIGINT) AS n_users,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS theta,
           (n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS corr_xy,
           POWER((n * sxy - sx * sy)
             / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)), 2)
             AS var_reduction
    FROM m
    """,
    tags=("E160", "E98", "E48", "A2", "A6"),
)
def q_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED pre-experiment covariate adjustment, the experimentation
    platform's variance-reduction workhorse: theta = cov(pre, post) /
    var(pre) over per-user pre/post period value totals (split at the
    temporal midpoint), and the fraction of post-period metric
    variance CUPED removes (= corr^2) — the number that tells you how
    much smaller your A/B test can be. Same-scale integer moments in
    DECIMAL make every sum exact and identical across engines (the
    dstddev/dcorr recipe); theta's scale factors cancel because pre
    and post use the same quantization."""
    e = load_table(spark, sf_dir, "events")
    # Same epoch-integer midpoint as E159 (interval halving diverges
    # between engines).
    bounds = e.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias("mid_us")
    )
    q = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    us = F.unix_micros(F.col("ts"))
    users = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(us < F.col("mid_us"), q).otherwise(0)).alias("xi"),
            F.sum(F.when(us >= F.col("mid_us"), q).otherwise(0)).alias("yi"),
        )
    )
    xd = F.col("xi").cast("decimal(19,0)")
    yd = F.col("yi").cast("decimal(19,0)")
    m = users.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        n.cast("bigint").alias("n_users"),
        ((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("theta"),
        corr.alias("corr_xy"),
        F.pow(corr, 2).alias("var_reduction"),
    )


# --------------------------------------------------------------------------
# E170: multiple-testing-corrected slice scan
# --------------------------------------------------------------------------

# Two-sided normal critical values for alpha/m with alpha = 0.05 and
# m = number of slices tested (Bonferroni). Fixed literals so both
# engines compare against the identical threshold (no erf needed).
_Z_CRIT_BONF_5 = 2.5758293035489004  # alpha/m = 0.01  (m = 5)
_Z_CRIT_RAW = 1.959963984540054  # alpha = 0.05, uncorrected


@query(
    "q_corrected_slice_scan",
    oracle=f"""
    WITH arms AS (
      SELECT event_type,
             CAST(user_id % 2 AS INTEGER) AS arm,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS s,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0))
                      * CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0))) AS DOUBLE)
               AS s2
      FROM events GROUP BY 1, 2),
    wide AS (
      SELECT event_type,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 1 THEN s END) AS s_1,
             MAX(CASE WHEN arm = 1 THEN s2 END) AS s2_1,
             MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN s END) AS s_0,
             MAX(CASE WHEN arm = 0 THEN s2 END) AS s2_0
      FROM arms GROUP BY event_type),
    z AS (
      SELECT event_type, CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
             (s_1 / n1 - s_0 / n0)
               / SQRT( (s2_1 / 10000.0 / n1 - (s_1 / n1) * (s_1 / n1)) / n1
                     + (s2_0 / 10000.0 / n0 - (s_0 / n0) * (s_0 / n0)) / n0 )
               AS z_stat
      FROM wide)
    SELECT event_type, n1, n0, z_stat,
           ABS(z_stat) > {_Z_CRIT_RAW} AS naive_significant,
           ABS(z_stat) > {_Z_CRIT_BONF_5} AS bonferroni_significant
    FROM z
    """,
    tags=("E170", "E98", "A6", "A12"),
)
def q_corrected_slice_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The metrics-alerting trap, instrumented: a two-sample z
    statistic of mean value between user-parity arms PER event-type
    slice, flagged at both the naive 1.96 threshold and the
    Bonferroni-corrected one — scanning m slices at alpha=0.05
    false-alarms ~1-in-4 experiments somewhere, which is why every
    slice-scanning dashboard needs the corrected column. The gap
    between the two flag columns IS the lesson.

    Means and second moments come from the scaled-integer forms; the
    per-slice wide pivot is a 2-row-per-slice aggregate, and the
    thresholds are identical double literals in both engines."""
    e = load_table(spark, sf_dir, "events")
    qi6 = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
    qi2 = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    arms = e.groupBy("event_type", (F.col("user_id") % 2).cast("int").alias("arm")).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(qi6) / 1e6).alias("s"),
        F.sum(qi2 * qi2).cast("double").alias("s2"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    wide = arms.groupBy("event_type").agg(
        pick(1, "n").alias("n1"),
        pick(1, "s").alias("s_1"),
        pick(1, "s2").alias("s2_1"),
        pick(0, "n").alias("n0"),
        pick(0, "s").alias("s_0"),
        pick(0, "s2").alias("s2_0"),
    )
    m1 = F.col("s_1") / F.col("n1")
    m0 = F.col("s_0") / F.col("n0")
    v1 = (F.col("s2_1") / 1e4 / F.col("n1") - m1 * m1) / F.col("n1")
    v0 = (F.col("s2_0") / 1e4 / F.col("n0") - m0 * m0) / F.col("n0")
    z = (m1 - m0) / F.sqrt(v1 + v0)
    return wide.select(
        "event_type",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n0").cast("bigint").alias("n0"),
        z.alias("z_stat"),
        (F.abs(z) > _Z_CRIT_RAW).alias("naive_significant"),
        (F.abs(z) > _Z_CRIT_BONF_5).alias("bonferroni_significant"),
    )


# --------------------------------------------------------------------------
# E171: two-sample Kolmogorov-Smirnov — distribution equality across arms
# --------------------------------------------------------------------------


@query(
    "q_ks_two_sample_arms",
    oracle="""
    WITH pts AS (
      SELECT value,
             CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0
      FROM events GROUP BY value),
    cum AS (
      SELECT SUM(c1) OVER (ORDER BY value) AS f1,
             SUM(c0) OVER (ORDER BY value) AS f0,
             SUM(c1) OVER () AS n1, SUM(c0) OVER () AS n0
      FROM pts)
    SELECT CAST(MAX(n1) AS BIGINT) AS n1,
           CAST(MAX(n0) AS BIGINT) AS n0,
           MAX(ABS(CAST(f1 AS DOUBLE) / n1 - CAST(f0 AS DOUBLE) / n0)) AS ks_stat,
           MAX(ABS(CAST(f1 AS DOUBLE) / n1 - CAST(f0 AS DOUBLE) / n0))
             / SQRT((CAST(MAX(n1) AS DOUBLE) + MAX(n0))
                    / (CAST(MAX(n1) AS DOUBLE) * MAX(n0)))
             AS ks_scaled
    FROM cum
    """,
    tags=("E171", "E130", "E98", "W4", "A2"),
)
def q_ks_two_sample_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov between the user-parity arms'
    value distributions: sup |ECDF_1 - ECDF_0|, the nonparametric
    WHOLE-DISTRIBUTION check that catches what a mean z-test (E98)
    misses — equal means with different shapes (variance inflation,
    bimodality from a broken variant). ks_scaled divides by
    sqrt((n1+n0)/(n1*n0)), the statistic compared against fixed
    critical values (1.358 for alpha=0.05).

    Both ECDFs ride ONE ordered window over the per-distinct-value
    conditional counts (the score histogram, not the event table —
    the same scale argument as the AUC query, E135); at step points
    of either ECDF the sup is attained on these rows, so the grouped
    form is exact, and every ratio divides exact integer counts."""
    e = load_table(spark, sf_dir, "events")
    pts = e.groupBy("value").agg(
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c0"),
    )
    wc = Window.orderBy("value").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = pts.select(
        F.sum("c1").over(wc).alias("f1"),
        F.sum("c0").over(wc).alias("f0"),
        F.sum("c1").over(wt).alias("n1"),
        F.sum("c0").over(wt).alias("n0"),
    )
    d = F.abs(F.col("f1").cast("double") / F.col("n1") - F.col("f0").cast("double") / F.col("n0"))
    return cum.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n0").cast("bigint").alias("n0"),
        F.max(d).alias("ks_stat"),
        (
            F.max(d)
            / F.sqrt(
                (F.max("n1").cast("double") + F.max("n0"))
                / (F.max("n1").cast("double") * F.max("n0"))
            )
        ).alias("ks_scaled"),
    )


# --------------------------------------------------------------------------
# E183: Benjamini-Hochberg FDR — step-up correction over a slice scan
# --------------------------------------------------------------------------

import math as _math


def _z_crit(p: float) -> float:
    """Two-sided normal critical value for tail probability ``p``,
    by bisection on erfc — computed ONCE driver-side so both engines
    compare against the same double literal (no erf in either
    engine's plan, hence no libm-divergence risk)."""
    lo, hi = 0.0, 10.0
    for _ in range(200):
        mid = (lo + hi) / 2
        if _math.erfc(mid / _math.sqrt(2)) > p:
            lo = mid
        else:
            hi = mid
    return (lo + hi) / 2


_BH_M = 30  # designed slice grid: 5 event types x 6 hour buckets
_BH_Q = 0.05  # FDR level
# BH compares p_(i) <= i*q/m with p ascending == |z| descending, so the
# rank-i threshold in z-space is the critical value for i*q/m.
_BH_CRITS = tuple(_z_crit((i + 1) * _BH_Q / _BH_M) for i in range(_BH_M))
_BH_BONF = _z_crit(_BH_Q / _BH_M)
# 'e0' suffix forces DuckDB to parse each value as DOUBLE; a plain
# decimal literal infers DECIMAL(16,15) and the decimal->double cast
# can land one ulp off the Python/Spark double.
_SQL_BH_CRITS = "[" + ", ".join(f"{c!r}e0" for c in _BH_CRITS) + "]"


@query(
    "q_bh_fdr_slice_scan",
    oracle=f"""
    WITH arms AS (
      SELECT event_type || ':' || CAST(hour(ts) % 6 AS VARCHAR) AS slice,
             CAST(user_id % 2 AS INTEGER) AS arm,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) / 1000000.0 AS s,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0))
                      * CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0))) AS DOUBLE)
               AS s2
      FROM events GROUP BY 1, 2),
    wide AS (
      SELECT slice,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 1 THEN s END) AS s_1,
             MAX(CASE WHEN arm = 1 THEN s2 END) AS s2_1,
             MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN s END) AS s_0,
             MAX(CASE WHEN arm = 0 THEN s2 END) AS s2_0
      FROM arms GROUP BY slice),
    z AS (
      SELECT slice,
             (s_1 / n1 - s_0 / n0)
               / SQRT( (s2_1 / 10000.0 / n1 - (s_1 / n1) * (s_1 / n1)) / n1
                     + (s2_0 / 10000.0 / n0 - (s_0 / n0) * (s_0 / n0)) / n0 )
               AS z_stat
      FROM wide),
    ranked AS (
      SELECT slice, z_stat,
             ROW_NUMBER() OVER (ORDER BY ABS(z_stat) DESC, slice) AS rnk
      FROM z),
    crit AS (
      SELECT slice, z_stat, rnk,
             ({_SQL_BH_CRITS})[rnk] AS z_crit
      FROM ranked),
    kstar AS (
      SELECT slice, z_stat, rnk, z_crit,
             MAX(CASE WHEN ABS(z_stat) >= z_crit THEN rnk END) OVER () AS k_star
      FROM crit)
    SELECT slice, z_stat, CAST(rnk AS BIGINT) AS rnk, z_crit,
           rnk <= COALESCE(k_star, 0) AS bh_significant,
           ABS(z_stat) > {_BH_BONF!r}e0 AS bonferroni_significant
    FROM kstar
    ORDER BY rnk
    """,
    tags=("E183", "E170", "W1", "A6", "F6"),
)
def q_bh_fdr_slice_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR over a 30-slice scan (5 event types x 6
    hour buckets, two-sample z per slice): rank slices by |z|, find
    the largest rank whose |z| clears the rank's critical value, and
    flag everything at-or-above it — the step-up procedure that
    controls the EXPECTED false-discovery fraction instead of
    Bonferroni's family-wise error, i.e. what a slice-scanning
    metrics dashboard should actually use at scale (Bonferroni's
    power collapses as m grows; BH's doesn't).

    Determinism: the procedure runs entirely in z-space against 30
    critical-value double literals bisected driver-side from erfc —
    neither engine evaluates erf/exp, so there is nothing to
    quantize. The slice aggregate is one shuffle; the ranking and
    step-up max are windows over 30 rows."""
    e = load_table(spark, sf_dir, "events")
    qi6 = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
    qi2 = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    slice_c = F.concat(
        F.col("event_type"), F.lit(":"), (F.hour("ts") % 6).cast("string")
    )
    arms = e.groupBy(
        slice_c.alias("slice"), (F.col("user_id") % 2).cast("int").alias("arm")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(qi6) / 1e6).alias("s"),
        F.sum(qi2 * qi2).cast("double").alias("s2"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    wide = arms.groupBy("slice").agg(
        pick(1, "n").alias("n1"),
        pick(1, "s").alias("s_1"),
        pick(1, "s2").alias("s2_1"),
        pick(0, "n").alias("n0"),
        pick(0, "s").alias("s_0"),
        pick(0, "s2").alias("s2_0"),
    )
    m1 = F.col("s_1") / F.col("n1")
    m0 = F.col("s_0") / F.col("n0")
    v1 = (F.col("s2_1") / 1e4 / F.col("n1") - m1 * m1) / F.col("n1")
    v0 = (F.col("s2_0") / 1e4 / F.col("n0") - m0 * m0) / F.col("n0")
    z = wide.select("slice", ((m1 - m0) / F.sqrt(v1 + v0)).alias("z_stat"))
    ranked = z.select(
        "slice",
        "z_stat",
        F.row_number()
        .over(Window.orderBy(F.abs(F.col("z_stat")).desc(), "slice"))
        .alias("rnk"),
    ).withColumn(
        # F.lit floats ship IEEE bits over py4j; a SQL-text double
        # literal can parse one ulp off (observed on these values).
        "z_crit",
        F.element_at(F.array(*[F.lit(c) for c in _BH_CRITS]), F.col("rnk")),
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    k_star = F.max(
        F.when(F.abs(F.col("z_stat")) >= F.col("z_crit"), F.col("rnk"))
    ).over(w_all)
    return (
        ranked.select(
            "slice",
            "z_stat",
            F.col("rnk").cast("bigint").alias("rnk"),
            "z_crit",
            (F.col("rnk") <= F.coalesce(k_star, F.lit(0))).alias("bh_significant"),
            (F.abs(F.col("z_stat")) > _BH_BONF).alias("bonferroni_significant"),
        )
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# E184: mutual information — dependence between two categorical columns
# --------------------------------------------------------------------------

_MI_Q = 1000000000  # 1e9 quantization of each ln term


@query(
    "q_event_mutual_information",
    oracle=f"""
    WITH joint AS (
      SELECT event_type AS x, hour(ts) % 6 AS y, COUNT(*) AS nxy
      FROM events GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(nxy) AS DOUBLE) AS n FROM joint),
    marg AS (
      SELECT x, y, nxy,
             SUM(nxy) OVER (PARTITION BY x) AS nx,
             SUM(nxy) OVER (PARTITION BY y) AS ny
      FROM joint),
    terms AS (
      SELECT CAST(FLOOR(nxy / tot.n
                        * ln(nxy * tot.n / (nx * ny))
                        * {_MI_Q} + 0.5) AS BIGINT) AS mi_t,
             CAST(FLOOR(CASE WHEN y = 0 THEN nx / tot.n * ln(tot.n / nx) END
                        * {_MI_Q} + 0.5) AS BIGINT) AS hx_t,
             CAST(FLOOR(CASE WHEN x = 'click' THEN ny / tot.n * ln(tot.n / ny) END
                        * {_MI_Q} + 0.5) AS BIGINT) AS hy_t
      FROM marg, tot)
    SELECT SUM(mi_t) / {_MI_Q}.0 AS mi_nats,
           SUM(hx_t) / {_MI_Q}.0 AS h_x,
           SUM(hy_t) / {_MI_Q}.0 AS h_y,
           CAST(FLOOR(CAST(SUM(mi_t) AS DOUBLE) / LEAST(SUM(hx_t), SUM(hy_t))
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS nmi
    FROM terms
    """,
    tags=("E184", "A1", "W4", "F6"),
)
def q_event_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day bucket —
    the model-free dependence screen feature selection runs over
    every categorical pair: MI = sum p(x,y) ln(p(x,y)/(p(x)p(y))),
    with marginal entropies and normalized MI (MI/min(Hx,Hy))
    alongside so the number is comparable across pairs. One
    aggregate builds the joint table; marginals are window sums over
    it (30 cells — no second scan); each ln term is 1e-9-quantized
    before the final integer sum so the result is order-independent
    and engine-exact. The entropy terms reuse the same 30-cell frame
    (picked off one representative row per marginal) instead of
    separate scans."""
    e = load_table(spark, sf_dir, "events")
    joint = e.groupBy(
        F.col("event_type").alias("x"), (F.hour("ts") % 6).alias("y")
    ).agg(F.count(F.lit(1)).alias("nxy"))
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    marg = joint.select(
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(Window.partitionBy("x")).alias("nx"),
        F.sum("nxy").over(Window.partitionBy("y")).alias("ny"),
        F.sum("nxy").over(w_all).cast("double").alias("n"),
    )
    mi_t = F.floor(
        F.col("nxy") / F.col("n")
        * F.log(F.col("nxy") * F.col("n") / (F.col("nx") * F.col("ny")))
        * _MI_Q
        + F.lit(0.5)
    ).cast("bigint")
    hx_t = F.floor(
        F.when(F.col("y") == 0, F.col("nx") / F.col("n") * F.log(F.col("n") / F.col("nx")))
        * _MI_Q
        + F.lit(0.5)
    ).cast("bigint")
    hy_t = F.floor(
        F.when(
            F.col("x") == "click", F.col("ny") / F.col("n") * F.log(F.col("n") / F.col("ny"))
        )
        * _MI_Q
        + F.lit(0.5)
    ).cast("bigint")
    terms = marg.select(
        mi_t.alias("mi_t"), hx_t.alias("hx_t"), hy_t.alias("hy_t")
    )
    return terms.agg(
        (F.sum("mi_t") / float(_MI_Q)).alias("mi_nats"),
        (F.sum("hx_t") / float(_MI_Q)).alias("h_x"),
        (F.sum("hy_t") / float(_MI_Q)).alias("h_y"),
        (
            F.floor(
                F.sum("mi_t").cast("double")
                / F.least(F.sum("hx_t"), F.sum("hy_t"))
                * 1e6
                + F.lit(0.5)
            ).cast("bigint")
            / 1e6
        ).alias("nmi"),
    )


# --------------------------------------------------------------------------
# E191: group-sequential interim monitoring with alpha spending
# --------------------------------------------------------------------------

_GS_LOOKS = 5
# Equal Bonferroni spending: alpha/K at each look. Conservative but
# exactly computable driver-side (no multivariate-normal integration),
# and the monitoring MECHANICS — cumulative z at interim looks vs a
# pre-registered boundary — are identical to O'Brien-Fleming use.
_GS_BOUND = _z_crit(0.05 / _GS_LOOKS)


@query(
    "q_group_sequential_looks",
    oracle=f"""
    WITH ordered AS (
      SELECT value, CAST(user_id % 2 AS INTEGER) AS arm,
             CAST(CEIL(CAST(ROW_NUMBER() OVER (ORDER BY ts, event_id) AS DOUBLE)
                       * {_GS_LOOKS} / COUNT(*) OVER ()) AS INTEGER) AS look
      FROM events),
    per_look AS (
      SELECT look, arm, COUNT(*) AS n,
             SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS sq,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0))
                 * CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0))) AS s2q
      FROM ordered GROUP BY look, arm),
    cum AS (
      SELECT look, arm,
             SUM(n) OVER w AS n,
             CAST(SUM(sq) OVER w AS DOUBLE) / 1000000.0 AS s,
             CAST(SUM(s2q) OVER w AS DOUBLE) AS s2
      FROM per_look
      WINDOW w AS (PARTITION BY arm ORDER BY look ROWS UNBOUNDED PRECEDING)),
    wide AS (
      SELECT look,
             MAX(CASE WHEN arm = 1 THEN n END) AS n1,
             MAX(CASE WHEN arm = 1 THEN s END) AS s_1,
             MAX(CASE WHEN arm = 1 THEN s2 END) AS s2_1,
             MAX(CASE WHEN arm = 0 THEN n END) AS n0,
             MAX(CASE WHEN arm = 0 THEN s END) AS s_0,
             MAX(CASE WHEN arm = 0 THEN s2 END) AS s2_0
      FROM cum GROUP BY look)
    SELECT CAST(look AS BIGINT) AS look,
           CAST(n1 + n0 AS BIGINT) AS n_cum,
           (s_1 / n1 - s_0 / n0)
             / SQRT( (s2_1 / 10000.0 / n1 - (s_1 / n1) * (s_1 / n1)) / n1
                   + (s2_0 / 10000.0 / n0 - (s_0 / n0) * (s_0 / n0)) / n0 )
             AS z_stat,
           {_GS_BOUND!r}e0 AS z_boundary,
           ABS((s_1 / n1 - s_0 / n0)
             / SQRT( (s2_1 / 10000.0 / n1 - (s_1 / n1) * (s_1 / n1)) / n1
                   + (s2_0 / 10000.0 / n0 - (s_0 / n0) * (s_0 / n0)) / n0 ))
             > {_GS_BOUND!r}e0 AS crossed
    FROM wide ORDER BY look
    """,
    tags=("E191", "E98", "W4", "W1", "A6"),
)
def q_group_sequential_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential experiment monitoring: the two-sample z is
    recomputed at 5 interim looks (event-count quintiles of the
    stream) against a pre-registered alpha-spending boundary, so the
    experiment can stop early without inflating false positives —
    the sequential sibling of the one-shot z test (E98) and the
    slice corrections (E170/E183). Spending is equal Bonferroni per
    look (exactly computable driver-side; the boundary is one double
    literal in both plans). Cumulative per-arm moments come from ONE
    pass: per-look partial sums then a running window over 5 rows —
    the stream never rescans."""
    e = load_table(spark, sf_dir, "events")
    qi6 = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
    qi2 = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    w_seq = Window.orderBy("ts", "event_id")
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ordered = e.select(
        "value",
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.ceil(
            F.row_number().over(w_seq).cast("double")
            * _GS_LOOKS
            / F.count(F.lit(1)).over(w_all)
        )
        .cast("int")
        .alias("look"),
    )
    # Cumulative moments stay INTEGER through the running window —
    # windowed double sums are engine-internal reduction trees, not
    # guaranteed sequential (the Simpson's-scan lesson).
    per_look = ordered.groupBy("look", "arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qi6).alias("sq"),
        F.sum(qi2 * qi2).alias("s2q"),
    )
    w_cum = Window.partitionBy("arm").orderBy("look").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_look.select(
        "look",
        "arm",
        F.sum("n").over(w_cum).alias("n"),
        (F.sum("sq").over(w_cum).cast("double") / 1e6).alias("s"),
        F.sum("s2q").over(w_cum).cast("double").alias("s2"),
    )
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    wide = cum.groupBy("look").agg(
        pick(1, "n").alias("n1"),
        pick(1, "s").alias("s_1"),
        pick(1, "s2").alias("s2_1"),
        pick(0, "n").alias("n0"),
        pick(0, "s").alias("s_0"),
        pick(0, "s2").alias("s2_0"),
    )
    m1 = F.col("s_1") / F.col("n1")
    m0 = F.col("s_0") / F.col("n0")
    v1 = (F.col("s2_1") / 1e4 / F.col("n1") - m1 * m1) / F.col("n1")
    v0 = (F.col("s2_0") / 1e4 / F.col("n0") - m0 * m0) / F.col("n0")
    z = (m1 - m0) / F.sqrt(v1 + v0)
    return (
        wide.select(
            F.col("look").cast("bigint").alias("look"),
            (F.col("n1") + F.col("n0")).cast("bigint").alias("n_cum"),
            z.alias("z_stat"),
            F.lit(_GS_BOUND).alias("z_boundary"),
            (F.abs(z) > F.lit(_GS_BOUND)).alias("crossed"),
        )
        .orderBy("look")
    )


# --------------------------------------------------------------------------
# E192: quantile treatment effects — distributional lift by decile
# --------------------------------------------------------------------------


@query(
    "q_quantile_treatment_effects",
    oracle="""
    WITH vals AS (
      SELECT CAST(user_id % 2 AS INTEGER) AS arm,
             CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT) AS vq,
             event_id
      FROM events),
    ranked AS (
      SELECT arm, vq,
             ROW_NUMBER() OVER (PARTITION BY arm ORDER BY vq, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY arm) AS n
      FROM vals),
    deciles AS (
      SELECT d.range AS decile, r.arm, r.vq / 1000000.0 AS q
      FROM range(1, 11) d
      JOIN ranked r
        ON r.rn = CAST(CEIL(d.range / 10.0 * r.n) AS BIGINT))
    SELECT a1.decile AS decile, a1.q AS q_treat, a0.q AS q_control,
           CAST(FLOOR((a1.q - a0.q) * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS qte
    FROM (SELECT * FROM deciles WHERE arm = 1) a1
    JOIN (SELECT * FROM deciles WHERE arm = 0) a0 USING (decile)
    ORDER BY decile
    """,
    tags=("E192", "A5", "W1", "J1"),
)
def q_quantile_treatment_effects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: the per-decile gap between the two
    arms' value distributions — the distributional view a mean-only
    z test cannot give (a treatment can move the p90 while leaving
    the mean flat). Deciles are exact type-1 order statistics
    (ceil(d/10*n)-th smallest, event_id tie-break) over
    integer-quantized values, so every decile is engine-identical;
    per-arm ranking is one window, and the decile extraction joins
    rank = target instead of sorting twice."""
    e = load_table(spark, sf_dir, "events")
    vals = e.select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint").alias("vq"),
        "event_id",
    )
    w_rank = Window.partitionBy("arm").orderBy("vq", "event_id")
    ranked = vals.select(
        "arm",
        "vq",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("arm")).alias("n"),
    )
    deciles = (
        spark.range(1, 11)
        .select(F.col("id").cast("int").alias("decile"))
        .join(
            ranked,
            F.col("rn")
            == F.ceil(F.col("decile") / 10.0 * F.col("n")).cast("bigint"),
        )
        .select("decile", "arm", (F.col("vq") / 1e6).alias("q"))
    )
    a1 = deciles.filter(F.col("arm") == 1).select("decile", F.col("q").alias("q_treat"))
    a0 = deciles.filter(F.col("arm") == 0).select(
        "decile", F.col("q").alias("q_control")
    )
    return (
        a1.join(a0, "decile")
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            "q_treat",
            "q_control",
            (
                F.floor((F.col("q_treat") - F.col("q_control")) * 1e6 + F.lit(0.5))
                .cast("bigint")
                / 1e6
            ).alias("qte"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# E196: sample-ratio mismatch — the experiment-validity tripwire
# --------------------------------------------------------------------------

# SRM convention: a very strict alpha (1e-3) so a flag means broken
# randomization, not noise.
_SRM_BOUND = _z_crit(0.001)


@query(
    "q_sample_ratio_mismatch",
    oracle=f"""
    WITH arms AS (
      SELECT event_type,
             COUNT(*) FILTER (WHERE user_id % 2 = 1) AS n1,
             COUNT(*) FILTER (WHERE user_id % 2 = 0) AS n0
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 'ALL',
             COUNT(*) FILTER (WHERE user_id % 2 = 1),
             COUNT(*) FILTER (WHERE user_id % 2 = 0)
      FROM events)
    SELECT event_type AS slice, CAST(n1 AS BIGINT) AS n1, CAST(n0 AS BIGINT) AS n0,
           (n1 - n0) / SQRT(CAST(n1 + n0 AS DOUBLE)) AS srm_z,
           ABS((n1 - n0) / SQRT(CAST(n1 + n0 AS DOUBLE))) > {_SRM_BOUND!r}e0
             AS srm_flag
    FROM arms ORDER BY slice
    """,
    tags=("E196", "E98", "A1", "U1"),
)
def q_sample_ratio_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check — the first gate every experiment
    readout must pass: under a 50/50 split the arm-count imbalance
    z = (n1-n0)/sqrt(n) should be noise, so |z| beyond the strict
    1e-3 boundary means the RANDOMIZATION is broken (biased
    assignment, lossy logging) and every downstream metric is
    untrustworthy. Checked per event-type slice and overall in one
    scan (conditional counts + a union'd total row)."""
    e = load_table(spark, sf_dir, "events")
    n1 = F.sum((F.col("user_id") % 2 == 1).cast("long")).alias("n1")
    n0 = F.sum((F.col("user_id") % 2 == 0).cast("long")).alias("n0")
    per = e.groupBy(F.col("event_type").alias("slice")).agg(n1, n0)
    overall = e.agg(n1, n0).select(F.lit("ALL").alias("slice"), "n1", "n0")
    arms = per.unionByName(overall)
    z = (F.col("n1") - F.col("n0")) / F.sqrt((F.col("n1") + F.col("n0")).cast("double"))
    return arms.select(
        "slice",
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n0").cast("bigint").alias("n0"),
        z.alias("srm_z"),
        (F.abs(z) > F.lit(_SRM_BOUND)).alias("srm_flag"),
    ).orderBy("slice")


# --------------------------------------------------------------------------
# E200: Simpson's paradox detector — aggregate vs per-slice sign flips
# --------------------------------------------------------------------------


@query(
    "q_simpsons_paradox_scan",
    oracle="""
    WITH cells AS (
      SELECT event_type, CAST(user_id % 2 AS INTEGER) AS arm,
             COUNT(*) AS n,
             SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS sq
      FROM events GROUP BY 1, 2),
    slice_diff AS (
      SELECT event_type,
             CAST(MAX(CASE WHEN arm = 1 THEN sq END) AS DOUBLE) / 1000000.0
               / MAX(CASE WHEN arm = 1 THEN n END)
             - CAST(MAX(CASE WHEN arm = 0 THEN sq END) AS DOUBLE) / 1000000.0
               / MAX(CASE WHEN arm = 0 THEN n END) AS d_slice
      FROM cells GROUP BY event_type),
    overall AS (
      SELECT CAST(SUM(CASE WHEN arm = 1 THEN sq END) AS DOUBLE) / 1000000.0
               / SUM(CASE WHEN arm = 1 THEN n END)
             - CAST(SUM(CASE WHEN arm = 0 THEN sq END) AS DOUBLE) / 1000000.0
               / SUM(CASE WHEN arm = 0 THEN n END) AS d_all
      FROM cells)
    SELECT s.event_type AS slice, s.d_slice, o.d_all,
           SIGN(s.d_slice) <> SIGN(o.d_all) AS reversed
    FROM slice_diff s, overall o
    ORDER BY slice
    """,
    tags=("E200", "A1", "A12", "P5"),
)
def q_simpsons_paradox_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox scan: the arm effect on mean value computed
    overall AND within each event-type slice, flagging slices whose
    effect sign disagrees with the aggregate — the confounding
    tripwire that should run before any segmented readout is
    trusted (the aggregate can flip when slice sizes differ across
    arms). One pass builds the (slice, arm) cells; both the slice
    and overall effects reuse those 10 rows, so detection is free
    beyond the base aggregate."""
    e = load_table(spark, sf_dir, "events")
    q6 = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
    # The per-cell value sums stay INTEGER until after every cross-cell
    # sum: summing the per-cell doubles first diverges in the last ulp
    # between engines (order-dependent double reduction — caught by the
    # bit-exact suite, not the isolated run).
    cells = e.groupBy(
        "event_type", (F.col("user_id") % 2).cast("int").alias("arm")
    ).agg(F.count(F.lit(1)).alias("n"), F.sum(q6).alias("sq"))
    pick = lambda a, c: F.max(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    slice_diff = cells.groupBy("event_type").agg(
        (
            pick(1, "sq").cast("double") / 1e6 / pick(1, "n")
            - pick(0, "sq").cast("double") / 1e6 / pick(0, "n")
        ).alias("d_slice")
    )
    tot = lambda a, c: F.sum(F.when(F.col("arm") == a, F.col(c)))  # noqa: E731
    overall = cells.agg(
        (
            tot(1, "sq").cast("double") / 1e6 / tot(1, "n")
            - tot(0, "sq").cast("double") / 1e6 / tot(0, "n")
        ).alias("d_all")
    )
    return (
        slice_diff.crossJoin(F.broadcast(overall))
        .select(
            F.col("event_type").alias("slice"),
            "d_slice",
            "d_all",
            (F.signum("d_slice") != F.signum("d_all")).alias("reversed"),
        )
        .orderBy("slice")
    )


# --------------------------------------------------------------------------
# E206: feature correlation matrix — all pairs in one aggregate
# --------------------------------------------------------------------------

_CM_COLS = [  # (name, scale) — lineitem numeric feature set
    ("l_quantity", 0),
    ("l_extendedprice", 2),
    ("l_discount", 2),
    ("l_tax", 2),
]


def _cm_pairs():
    cols = _CM_COLS
    return [
        (cols[a][0], cols[a][1], cols[b][0], cols[b][1])
        for a in range(len(cols))
        for b in range(a + 1, len(cols))
    ]


@query(
    "q_feature_correlation_matrix",
    oracle="SELECT "
    + ", ".join(
        f"{sql_dcorr(x, y, sx, sy)} AS corr_{x.split('_', 1)[1]}_{y.split('_', 1)[1]}"
        for x, sx, y, sy in _cm_pairs()
    )
    + " FROM lineitem",
    tags=("E206", "E29", "A6", "A1"),
)
def q_feature_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pairwise Pearson correlation matrix over the lineitem
    numeric features, ALL SIX pairs from ONE aggregate pass — the
    multicollinearity screen run before any feature set ships. Each
    pair uses the deterministic DECIMAL-moment form (E29's dcorr);
    because every pair's moments ride the same hash aggregate, the
    full matrix costs one scan + one reduce regardless of how many
    features are crossed (moment count grows quadratically, data
    passes don't)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        *[
            dcorr(F.col(x), F.col(y), sx, sy).alias(
                f"corr_{x.split('_', 1)[1]}_{y.split('_', 1)[1]}"
            )
            for x, sx, y, sy in _cm_pairs()
        ]
    )


# --------------------------------------------------------------------------
# E208: multiple linear regression — normal equations via Cramer's rule
# --------------------------------------------------------------------------


@query(
    "q_multiple_regression_price",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,0))) AS DOUBLE) AS sx1,
             CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS DECIMAL(19,0)))
                  AS DOUBLE) AS sx2,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0)))
                  AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,0))
                      * CAST(l_quantity AS DECIMAL(19,0))) AS DOUBLE) AS sx11,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,0))
                      * CAST(FLOOR(l_discount * 100 + 0.5) AS DECIMAL(19,0)))
                  AS DOUBLE) AS sx12,
             CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS DECIMAL(19,0))
                      * CAST(FLOOR(l_discount * 100 + 0.5) AS DECIMAL(19,0)))
                  AS DOUBLE) AS sx22,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,0))
                      * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0)))
                  AS DOUBLE) AS sx1y,
             CAST(SUM(CAST(FLOOR(l_discount * 100 + 0.5) AS DECIMAL(19,0))
                      * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0)))
                  AS DOUBLE) AS sx2y,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(28,0))
                      * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(28,0)))
                  AS DOUBLE) AS syy
      FROM lineitem),
    sol AS (
      SELECT n, sy, sx1y, sx2y, syy,
             (n * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx12 - sx11 * sx2)) AS det,
             (sy * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1y * sx22 - sx12 * sx2y)
              + sx2 * (sx1y * sx12 - sx11 * sx2y)) AS det0,
             (n * (sx1y * sx22 - sx12 * sx2y)
              - sy * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx2y - sx1y * sx2)) AS det1,
             (n * (sx11 * sx2y - sx1y * sx12)
              - sx1 * (sx1 * sx2y - sx1y * sx2)
              + sy * (sx1 * sx12 - sx11 * sx2)) AS det2
      FROM m)
    SELECT CAST(FLOOR(det0 / det / 100.0 * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS b0,
           CAST(FLOOR(det1 / det / 100.0 * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS b1_per_qty,
           CAST(FLOOR(det2 / det * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS b2_per_discount,
           CAST(FLOOR(
             (1.0e0 - (syy - (det0 / det) * sy - (det1 / det) * sx1y
                           - (det2 / det) * sx2y)
                      / (syy - sy * sy / n)) * 1000000 + 0.5) AS BIGINT)
             / 1000000.0 AS r2
    FROM sol
    """,
    tags=("E208", "E109", "A6", "F6"),
)
def q_multiple_regression_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression (price ~ quantity + discount) by
    the NORMAL EQUATIONS, solved in closed form with Cramer's rule —
    the multivariate extension of the single-feature OLS (E109): all
    nine moment sums are exact DECIMAL integers from one aggregate
    pass, the 3x3 determinants are fixed-order double expressions,
    and no iteration or solver library appears anywhere. b0/b1 are
    reported in price units (cents scale divided back out), b2 per
    unit discount, plus in-sample R^2 from the same moments. At any
    scale this is one scan + a 1-row solve."""
    li = load_table(spark, sf_dir, "lineitem")
    x1 = F.col("l_quantity").cast("decimal(19,0)")
    x2 = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    y28 = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("decimal(28,0)")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x1).cast("double").alias("sx1"),
        F.sum(x2).cast("double").alias("sx2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * x1).cast("double").alias("sx11"),
        F.sum(x1 * x2).cast("double").alias("sx12"),
        F.sum(x2 * x2).cast("double").alias("sx22"),
        F.sum(x1 * y).cast("double").alias("sx1y"),
        F.sum(x2 * y).cast("double").alias("sx2y"),
        F.sum(y28 * y28).cast("double").alias("syy"),
    )
    n, sx1, sx2 = F.col("n"), F.col("sx1"), F.col("sx2")
    sy, sx11, sx12 = F.col("sy"), F.col("sx11"), F.col("sx12")
    sx22, sx1y, sx2y, syy = F.col("sx22"), F.col("sx1y"), F.col("sx2y"), F.col("syy")
    det = (
        n * (sx11 * sx22 - sx12 * sx12)
        - sx1 * (sx1 * sx22 - sx12 * sx2)
        + sx2 * (sx1 * sx12 - sx11 * sx2)
    )
    det0 = (
        sy * (sx11 * sx22 - sx12 * sx12)
        - sx1 * (sx1y * sx22 - sx12 * sx2y)
        + sx2 * (sx1y * sx12 - sx11 * sx2y)
    )
    det1 = (
        n * (sx1y * sx22 - sx12 * sx2y)
        - sy * (sx1 * sx22 - sx12 * sx2)
        + sx2 * (sx1 * sx2y - sx1y * sx2)
    )
    det2 = (
        n * (sx11 * sx2y - sx1y * sx12)
        - sx1 * (sx1 * sx2y - sx1y * sx2)
        + sy * (sx1 * sx12 - sx11 * sx2)
    )
    q6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)).cast("bigint") / 1e6  # noqa: E731
    sse = syy - (det0 / det) * sy - (det1 / det) * sx1y - (det2 / det) * sx2y
    sst = syy - sy * sy / n
    return m.select(
        q6(det0 / det / 100.0).alias("b0"),
        q6(det1 / det / 100.0).alias("b1_per_qty"),
        q6(det2 / det).alias("b2_per_discount"),
        q6(F.lit(1.0) - sse / sst).alias("r2"),
    )


# --------------------------------------------------------------------------
# E209: Mahalanobis outlier ranking — covariance-aware anomaly distance
# --------------------------------------------------------------------------


@query(
    "q_mahalanobis_outliers",
    oracle="""
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0)))
                  AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,0))
                      * CAST(l_quantity AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_quantity AS DECIMAL(19,0))
                      * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(19,0)))
                  AS DOUBLE) AS sxy,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(28,0))
                      * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DECIMAL(28,0)))
                  AS DOUBLE) AS syy
      FROM lineitem),
    cov AS (
      SELECT sx / n AS mx, sy / n AS my,
             (sxx - sx * sx / n) / (n - 1) AS vxx,
             (sxy - sx * sy / n) / (n - 1) AS vxy,
             (syy - sy * sy / n) / (n - 1) AS vyy
      FROM m),
    scored AS (
      SELECT l_orderkey, l_linenumber,
             (  vyy * (l_quantity - mx) * (l_quantity - mx)
              - 2.0e0 * vxy * (l_quantity - mx)
                * (CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) - my)
              + vxx * (CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) - my)
                * (CAST(FLOOR(l_extendedprice * 100 + 0.5) AS DOUBLE) - my))
             / (vxx * vyy - vxy * vxy) AS d2
      FROM lineitem, cov)
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(d2 * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS maha_d2
    FROM scored
    ORDER BY maha_d2 DESC, l_orderkey, l_linenumber
    LIMIT 10
    """,
    tags=("E209", "A6", "F6", "O3"),
)
def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mahalanobis outlier ranking over (quantity, price): the
    covariance-AWARE anomaly distance — a point can be unremarkable
    on each axis yet wildly off the joint distribution (high
    quantity at a low price), which per-column z-scores (E32) and
    p99 bands miss. The 2x2 covariance comes from exact DECIMAL
    moments, its inverse is closed-form inside the quadratic form,
    and the top-10 is TakeOrderedAndProject — one scan for moments,
    one broadcast-join scan to score."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(19,0)")
    y = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    y28 = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("decimal(28,0)")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(y28 * y28).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    cov = m.select(
        (sx / n).alias("mx"),
        (sy / n).alias("my"),
        ((F.col("sxx") - sx * sx / n) / (n - 1)).alias("vxx"),
        ((F.col("sxy") - sx * sy / n) / (n - 1)).alias("vxy"),
        ((F.col("syy") - sy * sy / n) / (n - 1)).alias("vyy"),
    )
    xd = F.col("l_quantity") - F.col("mx")
    yd = (
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("double")
        - F.col("my")
    )
    d2 = (
        F.col("vyy") * xd * xd
        - F.lit(2.0) * F.col("vxy") * xd * yd
        + F.col("vxx") * yd * yd
    ) / (F.col("vxx") * F.col("vyy") - F.col("vxy") * F.col("vxy"))
    return (
        li.crossJoin(F.broadcast(cov))
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.floor(d2 * 1e6 + F.lit(0.5)).cast("bigint") / 1e6).alias("maha_d2"),
        )
        .orderBy(F.col("maha_d2").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


# --------------------------------------------------------------------------
# E211: VaR / CVaR — tail-risk order statistics
# --------------------------------------------------------------------------

_VAR_ALPHA = 0.95


@query(
    "q_value_at_risk",
    oracle=f"""
    WITH vals AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v, o_orderkey
      FROM orders),
    ranked AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM vals),
    var AS (
      SELECT v AS var_c, n FROM ranked
      WHERE rn = CAST(CEIL({_VAR_ALPHA!r}e0 * n) AS BIGINT)),
    tail AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_tail,
             CAST(SUM(r.v) AS DOUBLE) / COUNT(*) / 100.0 AS cvar
      FROM ranked r, var
      WHERE r.rn > CAST(CEIL({_VAR_ALPHA!r}e0 * var.n) AS BIGINT))
    SELECT var.var_c / 100.0 AS var95,
           CAST(FLOOR(tail.cvar * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS cvar95,
           tail.n_tail
    FROM var, tail
    """,
    tags=("E211", "A5", "W1", "O1"),
)
def q_value_at_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-at-risk and conditional VaR (expected shortfall) of the
    order-value distribution: VaR95 is the exact ceil(0.95n) order
    statistic, CVaR95 the mean of everything beyond it — the
    coherent tail-risk pair (CVaR sees HOW BAD the tail is, VaR only
    where it starts). Exact order statistics over integer cents with
    orderkey tie-break; the tail mean sums integers before the one
    division."""
    o = load_table(spark, sf_dir, "orders")
    vals = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("v"),
        "o_orderkey",
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    ranked = vals.select(
        "v",
        F.row_number().over(Window.orderBy("v", "o_orderkey")).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    k = F.ceil(F.lit(_VAR_ALPHA) * F.col("n")).cast("bigint")
    var = ranked.filter(F.col("rn") == k).select(
        F.col("v").alias("var_c"), F.col("n")
    )
    tail = (
        ranked.crossJoin(F.broadcast(var.select(F.col("n").alias("n_v"))))
        .filter(F.col("rn") > F.ceil(F.lit(_VAR_ALPHA) * F.col("n_v")).cast("bigint"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tail"),
            (F.sum("v").cast("double") / F.count(F.lit(1)) / 100.0).alias("cvar"),
        )
    )
    return var.crossJoin(F.broadcast(tail)).select(
        (F.col("var_c") / 100.0).alias("var95"),
        (F.floor(F.col("cvar") * 1e6 + F.lit(0.5)).cast("bigint") / 1e6).alias(
            "cvar95"
        ),
        "n_tail",
    )


# --------------------------------------------------------------------------
# E212: James-Stein / empirical-Bayes shrinkage of per-user means
# --------------------------------------------------------------------------


@query(
    "q_james_stein_user_means",
    oracle="""
    WITH per_user AS (
      SELECT user_id, COUNT(*) AS n_i,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / COUNT(*) AS mean_i
      FROM events GROUP BY user_id),
    g AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000.0 / COUNT(*) AS mu,
             (CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0))
                       * CAST(FLOOR(value * 100 + 0.5) AS DECIMAL(19,0)))
                   AS DOUBLE) / 10000.0
              - CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                / 1000000.0
                * (CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 1000000.0) / COUNT(*))
             / (COUNT(*) - 1) AS s2
      FROM events),
    tau AS (
      SELECT g.mu, g.s2,
             GREATEST(
               (CAST(SUM(CAST(FLOOR((p.mean_i - g.mu) * (p.mean_i - g.mu)
                                    * 1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
                / 1000000000.0 / COUNT(*))
               - g.s2 * CAST(SUM(CAST(FLOOR(1000000000.0 / p.n_i + 0.5) AS BIGINT))
                             AS DOUBLE) / 1000000000.0 / COUNT(*),
               0.0e0) AS tau2
      FROM per_user p, g
      GROUP BY g.mu, g.s2)
    SELECT p.user_id, CAST(p.n_i AS BIGINT) AS n_i,
           CAST(FLOOR(p.mean_i * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS raw_mean,
           CAST(FLOOR(
             (t.tau2 / (t.tau2 + t.s2 / p.n_i) * p.mean_i
              + (t.s2 / p.n_i) / (t.tau2 + t.s2 / p.n_i) * t.mu)
             * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS shrunk_mean
    FROM per_user p, tau t
    ORDER BY p.user_id
    """,
    tags=("E212", "A1", "A6", "F6"),
)
def q_james_stein_user_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (James-Stein-style) shrinkage of per-user mean
    values: each user's noisy mean is pulled toward the global mean
    with weight s2/n_i / (tau2 + s2/n_i), where the between-user
    variance tau2 is method-of-moments estimated from the spread of
    user means minus the sampling noise — the partial-pooling move
    that beats raw per-key means whenever keys are thin (every
    per-user dashboard at 100 TB has thin keys). Within-user
    variance and tau2 come from quantized moment sums; shrinkage
    itself is a per-row closed form."""
    e = load_table(spark, sf_dir, "events")
    q6 = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
    q2 = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("decimal(19,0)")
    per_user = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_i"),
        (F.sum(q6).cast("double") / 1e6 / F.count(F.lit(1))).alias("mean_i"),
    )
    g = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum(q6).cast("double") / 1e6 / F.count(F.lit(1))).alias("mu"),
        (
            (
                F.sum(q2 * q2).cast("double") / 1e4
                - (F.sum(q6).cast("double") / 1e6)
                * (F.sum(q6).cast("double") / 1e6)
                / F.count(F.lit(1))
            )
            / (F.count(F.lit(1)) - 1)
        ).alias("s2"),
    )
    tau = (
        per_user.crossJoin(F.broadcast(g))
        .groupBy("mu", "s2")
        .agg(
            F.greatest(
                (
                    F.sum(
                        F.floor(
                            (F.col("mean_i") - F.col("mu"))
                            * (F.col("mean_i") - F.col("mu"))
                            * 1e9
                            + F.lit(0.5)
                        ).cast("bigint")
                    ).cast("double")
                    / 1e9
                    / F.count(F.lit(1))
                )
                - F.col("s2")
                * F.sum(
                    F.floor(F.lit(1e9) / F.col("n_i") + F.lit(0.5)).cast("bigint")
                ).cast("double")
                / 1e9
                / F.count(F.lit(1)),
                F.lit(0.0),
            ).alias("tau2")
        )
    )
    b_num = F.col("tau2")
    b_noise = F.col("s2") / F.col("n_i")
    shrunk = (
        b_num / (b_num + b_noise) * F.col("mean_i")
        + b_noise / (b_num + b_noise) * F.col("mu")
    )
    return (
        per_user.crossJoin(F.broadcast(tau))
        .select(
            "user_id",
            F.col("n_i").cast("bigint").alias("n_i"),
            (F.floor(F.col("mean_i") * 1e6 + F.lit(0.5)).cast("bigint") / 1e6).alias(
                "raw_mean"
            ),
            (F.floor(shrunk * 1e6 + F.lit(0.5)).cast("bigint") / 1e6).alias(
                "shrunk_mean"
            ),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# E213: capture-recapture population estimate (Chapman)
# --------------------------------------------------------------------------


@query(
    "q_capture_recapture_users",
    oracle="""
    WITH sample1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE CAST(('0x' || substring(md5('cr1:' || CAST(event_id AS VARCHAR)), 1, 13))
                 AS BIGINT) % 10 < 3),
    sample2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE CAST(('0x' || substring(md5('cr2:' || CAST(event_id AS VARCHAR)), 1, 13))
                 AS BIGINT) % 10 < 3),
    counts AS (
      SELECT (SELECT COUNT(*) FROM sample1) AS n1,
             (SELECT COUNT(*) FROM sample2) AS n2,
             (SELECT COUNT(*) FROM sample1 WHERE user_id IN
               (SELECT user_id FROM sample2)) AS m,
             (SELECT COUNT(DISTINCT user_id) FROM events) AS truth)
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           CAST(m AS BIGINT) AS n_both,
           CAST(FLOOR(CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1.0e0)
                AS BIGINT) AS chapman_estimate,
           CAST(truth AS BIGINT) AS true_population
    FROM counts
    """,
    tags=("E213", "A4", "J3", "F11"),
)
def q_capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation (Chapman estimator):
    two independent md5-derived 30% event samples 'capture' users,
    and N-hat = (n1+1)(n2+1)/(m+1) - 1 estimates the total
    population from the overlap — the ecology/census method that
    answers 'how many distinct entities exist beyond what any one
    sample saw', a different question than counting distinct in
    data you HAVE (A4). Both samples, the overlap semi-join, and
    the truth column are deterministic, so the estimate itself is
    hash-checked."""
    e = load_table(spark, sf_dir, "events")
    h = lambda tag: (  # noqa: E731
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{tag}:"), F.col("event_id").cast("string"))),
                1,
                13,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    s1 = e.filter(h("cr1") < 3).select("user_id").distinct()
    s2 = e.filter(h("cr2") < 3).select("user_id").distinct()
    n1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    m = s1.join(s2, "user_id", "left_semi").agg(F.count(F.lit(1)).alias("m"))
    truth = e.agg(F.count_distinct("user_id").alias("truth"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(truth))
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            F.col("m").cast("bigint").alias("n_both"),
            F.floor(
                ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
                / (F.col("m") + 1)
                - F.lit(1.0)
            )
            .cast("bigint")
            .alias("chapman_estimate"),
            F.col("truth").cast("bigint").alias("true_population"),
        )
    )


# --------------------------------------------------------------------------
# E254: one-way fixed-effects (within) regression
# --------------------------------------------------------------------------


@query(
    "q_fixed_effects_within",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS x,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
      FROM events),
    per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM pts GROUP BY user_id),
    within AS (
      SELECT
        CAST(SUM(CAST(FLOOR(sxy - CAST(sx AS DOUBLE) * sy / n) AS BIGINT))
             AS BIGINT) AS wxy_q,
        CAST(SUM(CAST(FLOOR(sxx - CAST(sx AS DOUBLE) * sx / n) AS BIGINT))
             AS BIGINT) AS wxx_q,
        CAST(SUM(n) AS BIGINT) AS n_rows,
        CAST(COUNT(*) AS BIGINT) AS n_users
      FROM per_user),
    pooled AS (
      SELECT
        CAST(FLOOR((CAST(COUNT(*) AS DOUBLE) * SUM(x * y)
                    - CAST(SUM(x) AS DOUBLE) * SUM(y))
                   / (CAST(COUNT(*) AS DOUBLE) * SUM(x * x)
                      - CAST(SUM(x) AS DOUBLE) * SUM(x))
                   * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS b_pooled
      FROM pts)
    SELECT w.n_rows, w.n_users,
           CAST(FLOOR(CAST(w.wxy_q AS DOUBLE) / w.wxx_q * 1000000000 + 0.5)
                AS BIGINT) / 1000000000.0 AS beta_within,
           p.b_pooled
    FROM within w CROSS JOIN pooled p
    """,
    tags=("E254", "E109", "E159", "A1", "F10"),
)
def q_fixed_effects_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way fixed-effects (within) regression of event value on
    the props k feature, absorbing a PER-USER intercept — the panel
    estimator that removes all time-invariant user heterogeneity,
    shown against the pooled OLS slope so the confounding the fixed
    effects absorb is visible (E159's diff-in-diff is the two-period
    special case). The within moments are computed WITHOUT
    materializing any demeaned rows: sum_u [Sxy_u - Sx_u*Sy_u/n_u]
    from per-user exact integer moments, each user's correction term
    floor-quantized to an integer before the cross-user sum (the
    units are cents x k, so integer granularity is far below any
    meaningful digit). One per-user aggregate + one k-row reduction
    — the 100 TB panel shape, no row-level demeaning pass."""
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "user_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("y"),
    ).localCheckpoint(eager=True)
    per_user = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    within = per_user.agg(
        F.sum(
            F.floor(
                F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n")
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("wxy_q"),
        F.sum(
            F.floor(
                F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("wxx_q"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    pooled = pts.agg(
        (
            F.floor(
                (
                    F.count(F.lit(1)).cast("double") * F.sum(F.col("x") * F.col("y"))
                    - F.sum("x").cast("double") * F.sum("y")
                )
                / (
                    F.count(F.lit(1)).cast("double") * F.sum(F.col("x") * F.col("x"))
                    - F.sum("x").cast("double") * F.sum("x")
                )
                * 1000000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000000.0
        ).alias("b_pooled")
    )
    return within.crossJoin(F.broadcast(pooled)).select(
        "n_rows",
        "n_users",
        (
            F.floor(
                F.col("wxy_q").cast("double") / F.col("wxx_q") * 1000000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000000.0
        ).alias("beta_within"),
        "b_pooled",
    )


# --------------------------------------------------------------------------
# E255: event study — relative-time outcome profile around signup
# --------------------------------------------------------------------------


@query(
    "q_event_study_signup",
    oracle="""
    WITH first_signup AS (
      SELECT user_id, CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS s0
      FROM events WHERE event_type = 'signup' GROUP BY user_id),
    rel AS (
      SELECT CASE
               WHEN (CAST(FLOOR(epoch(e.ts)) AS BIGINT) - f.s0) >= 0
               THEN (CAST(FLOOR(epoch(e.ts)) AS BIGINT) - f.s0) // 86400
               ELSE -(1 + (f.s0 - 1 - CAST(FLOOR(epoch(e.ts)) AS BIGINT))
                      // 86400)
             END AS rel_day,
             CAST(FLOOR(e.value * 1000000 + 0.5) AS BIGINT) AS v_q
      FROM events e JOIN first_signup f USING (user_id)
      WHERE e.event_type <> 'signup')
    SELECT rel_day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v_q) AS BIGINT) / 1000000.0 / COUNT(*) AS mean_value
    FROM rel WHERE rel_day BETWEEN -3 AND 3
    GROUP BY rel_day ORDER BY rel_day
    """,
    tags=("E255", "E159", "J1", "A1", "F4"),
)
def q_event_study_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-study profile around each user's FIRST signup: mean
    event value by day relative to the signup (-3..+3), the panel
    view that shows pre-trends and dynamic effects where E159's
    diff-in-diff collapses everything to one before/after number (a
    flat pre-period is the identifying assumption made VISIBLE).
    Relative days use explicit floor-toward-negative-infinity
    arithmetic on epoch seconds (integer division semantics for
    negative offsets differ between engines, so the negative branch
    is spelled out identically on both). One broadcast join of the
    first-signup frame onto the event scan, values quantized 1e-6
    before the per-bucket sums."""
    e = load_table(spark, sf_dir, "events")
    first_signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_timestamp("ts")).alias("s0"))
    )
    delta = F.unix_timestamp("ts") - F.col("s0")
    rel_day = F.when(delta >= 0, F.expr("(unix_timestamp(ts) - s0) DIV 86400")).otherwise(
        -(1 + F.expr("(s0 - 1 - unix_timestamp(ts)) DIV 86400"))
    )
    rel = (
        e.filter(F.col("event_type") != "signup")
        .join(F.broadcast(first_signup), "user_id")
        .select(
            rel_day.alias("rel_day"),
            F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint").alias("v_q"),
        )
    )
    return (
        rel.filter(F.col("rel_day").between(-3, 3))
        .groupBy("rel_day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            (F.sum("v_q").cast("bigint") / 1000000.0 / F.count(F.lit(1))).alias(
                "mean_value"
            ),
        )
        .orderBy("rel_day")
    )


# --------------------------------------------------------------------------
# E258: partial correlation — controlling for a third variable
# --------------------------------------------------------------------------


@query(
    "q_partial_correlation",
    oracle=f"""
    WITH m AS (
      SELECT {sql_dcorr('l_quantity', 'l_extendedprice', 0, 2)} AS rxy,
             {sql_dcorr('l_quantity', 'l_discount', 0, 4)} AS rxz,
             {sql_dcorr('l_extendedprice', 'l_discount', 2, 4)} AS ryz
      FROM lineitem),
    q AS (
      SELECT CAST(FLOOR(rxy * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS rxy,
             CAST(FLOOR(rxz * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS rxz,
             CAST(FLOOR(ryz * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS ryz
      FROM m)
    SELECT rxy AS r_qty_price, rxz AS r_qty_disc, ryz AS r_price_disc,
           CAST(FLOOR((rxy - rxz * ryz)
                      / sqrt((1.0e0 - rxz * rxz) * (1.0e0 - ryz * ryz))
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS partial_r_qty_price_given_disc
    FROM q
    """,
    tags=("E258", "E28", "E206", "A1", "F6"),
)
def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and price CONTROLLING for
    discount: r_xy.z = (r_xy - r_xz*r_yz) / sqrt((1-r_xz^2)(1-r_yz^2))
    — the statistic that says whether a pairwise correlation survives
    once a common driver is held fixed (the first-order version of
    what E208's multiple regression does with coefficients; shown
    with all three raw correlations so the adjustment is auditable).
    The three Pearson terms come from ONE exact-moment aggregate pass
    (dcorr at per-column scales); each r is 1e-9-quantized before
    entering the closed-form combination, which is a fixed-order
    expression — hash-exact."""
    li = load_table(spark, sf_dir, "lineitem")

    def q9(c):
        return F.floor(c * 1000000000 + F.lit(0.5)).cast("bigint") / 1000000000.0

    m = li.agg(
        q9(dcorr(F.col("l_quantity"), F.col("l_extendedprice"), 0, 2)).alias("rxy"),
        q9(dcorr(F.col("l_quantity"), F.col("l_discount"), 0, 4)).alias("rxz"),
        q9(dcorr(F.col("l_extendedprice"), F.col("l_discount"), 2, 4)).alias("ryz"),
    )
    rxy, rxz, ryz = F.col("rxy"), F.col("rxz"), F.col("ryz")
    return m.select(
        rxy.alias("r_qty_price"),
        rxz.alias("r_qty_disc"),
        ryz.alias("r_price_disc"),
        (
            F.floor(
                (rxy - rxz * ryz)
                / F.sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
                * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000.0
        ).alias("partial_r_qty_price_given_disc"),
    )


# --------------------------------------------------------------------------
# E259: Cronbach's alpha — internal-consistency reliability
# --------------------------------------------------------------------------


@query(
    "q_cronbach_alpha",
    oracle="""
    WITH items AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS i1,
             CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                  AS BIGINT) AS i2,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS i3,
             CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                  AS BIGINT) AS i4,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS i5
      FROM events GROUP BY user_id),
    moments AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(i1) AS DOUBLE) AS s1, CAST(SUM(i1 * i1) AS DOUBLE) AS ss1,
             CAST(SUM(i2) AS DOUBLE) AS s2, CAST(SUM(i2 * i2) AS DOUBLE) AS ss2,
             CAST(SUM(i3) AS DOUBLE) AS s3, CAST(SUM(i3 * i3) AS DOUBLE) AS ss3,
             CAST(SUM(i4) AS DOUBLE) AS s4, CAST(SUM(i4 * i4) AS DOUBLE) AS ss4,
             CAST(SUM(i5) AS DOUBLE) AS s5, CAST(SUM(i5 * i5) AS DOUBLE) AS ss5,
             CAST(SUM(i1 + i2 + i3 + i4 + i5) AS DOUBLE) AS st,
             CAST(SUM((i1 + i2 + i3 + i4 + i5) * (i1 + i2 + i3 + i4 + i5))
                  AS DOUBLE) AS sst
      FROM items)
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(FLOOR(
             ((ss1 - s1 * s1 / n) + (ss2 - s2 * s2 / n) + (ss3 - s3 * s3 / n)
              + (ss4 - s4 * s4 / n) + (ss5 - s5 * s5 / n))
             / (sst - st * st / n) * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS item_to_total_var_ratio,
           CAST(FLOOR(
             1.25e0 * (1.0e0
               - ((ss1 - s1 * s1 / n) + (ss2 - s2 * s2 / n)
                  + (ss3 - s3 * s3 / n) + (ss4 - s4 * s4 / n)
                  + (ss5 - s5 * s5 / n)) / (sst - st * st / n))
             * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS cronbach_alpha
    FROM moments
    """,
    tags=("E259", "A12", "A6", "A1"),
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over the five per-user event-type counts
    treated as scale items: alpha = k/(k-1) * (1 - sum item variance
    / total-score variance) — the internal-consistency statistic that
    says whether the five activity counters measure ONE underlying
    engagement trait (alpha near 0/negative = independent behaviors;
    near 1 = redundant items). The per-user item matrix is one
    pivoted aggregate; every variance comes from exact integer
    moment sums (counts, so no scaling needed), and the final alpha
    is a fixed-order expression with k/(k-1) = 1.25 written
    identically on both sides."""
    e = load_table(spark, sf_dir, "events")
    items = e.groupBy("user_id").agg(
        *[
            F.sum((F.col("event_type") == t).cast("bigint"))
            .cast("bigint")
            .alias(f"i{j + 1}")
            for j, t in enumerate(("click", "view", "purchase", "signup", "error"))
        ]
    )
    tot = sum(F.col(f"i{j}") for j in range(1, 6))
    maggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for j in range(1, 6):
        maggs.append(F.sum(F.col(f"i{j}")).cast("double").alias(f"s{j}"))
        maggs.append(
            F.sum(F.col(f"i{j}") * F.col(f"i{j}")).cast("double").alias(f"ss{j}")
        )
    maggs.append(F.sum(tot).cast("double").alias("st"))
    maggs.append(F.sum(tot * tot).cast("double").alias("sst"))
    m = items.agg(*maggs)
    n = F.col("n")
    item_var = None
    for j in range(1, 6):
        v = F.col(f"ss{j}") - F.col(f"s{j}") * F.col(f"s{j}") / n
        item_var = v if item_var is None else item_var + v
    tot_var = F.col("sst") - F.col("st") * F.col("st") / n

    def q6(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1000000.0

    return m.select(
        n.cast("bigint").alias("n_users"),
        q6(item_var / tot_var).alias("item_to_total_var_ratio"),
        q6(1.25 * (1.0 - item_var / tot_var)).alias("cronbach_alpha"),
    )


# --------------------------------------------------------------------------
# E260: Anderson-Darling uniformity test — tail-weighted EDF statistic
# --------------------------------------------------------------------------


@query(
    "q_anderson_darling_uniform",
    oracle="""
    WITH pts AS (
      SELECT CAST(FLOOR(epoch(ts)) AS BIGINT) AS s, event_id FROM events),
    bounds AS (
      SELECT MIN(s) AS t0, MAX(s) AS t1, CAST(COUNT(*) AS BIGINT) AS n
      FROM pts),
    ranked AS (
      SELECT (CAST(p.s - b.t0 + 1 AS DOUBLE)) / (b.t1 - b.t0 + 2) AS u,
             ROW_NUMBER() OVER (ORDER BY p.s, p.event_id) AS j,
             b.n
      FROM pts p CROSS JOIN bounds b),
    terms AS (
      SELECT n,
             CAST(FLOOR(((2 * j - 1) * ln(u)
                         + (2 * (n - j) + 1) * ln(1.0e0 - u)) * 1000000 + 0.5)
                  AS BIGINT) AS t_q
      FROM ranked)
    SELECT CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(FLOOR((-CAST(MAX(n) AS DOUBLE)
                       - (CAST(SUM(t_q) AS DOUBLE) / 1000000.0) / MAX(n))
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS anderson_darling_a2
    FROM terms
    """,
    tags=("E260", "E131", "W1", "A1", "F4"),
)
def q_anderson_darling_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson-Darling test of arrival-time uniformity over the
    observation window: A^2 = -n - (1/n) sum (2i-1)[ln u_(i) +
    ln(1-u_(n+1-i))] — the tail-weighted sibling of E131's KS test
    (KS sees only the single largest EDF gap; AD's 1/[F(1-F)] weight
    makes it sharp exactly where KS is blind, at the window edges).
    Times are normalized with add-one smoothing ((s-t0+1)/(t1-t0+2))
    so no u touches 0 or 1 and every ln is finite. The reversed-rank
    term is folded into the same row by the substitution j = n+1-i,
    so ONE ranked pass computes both series; each row's combined term
    is 1e-6-quantized before the exact BIGINT sum."""
    e = load_table(spark, sf_dir, "events")
    pts = e.select(F.unix_timestamp("ts").alias("s"), "event_id")
    bounds = pts.agg(
        F.min("s").alias("t0"),
        F.max("s").alias("t1"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    ranked = pts.crossJoin(F.broadcast(bounds)).select(
        (
            (F.col("s") - F.col("t0") + 1).cast("double")
            / (F.col("t1") - F.col("t0") + 2)
        ).alias("u"),
        F.row_number().over(Window.orderBy("s", "event_id")).alias("j"),
        "n",
    )
    t_q = F.floor(
        (
            (2 * F.col("j") - 1) * F.log("u")
            + (2 * (F.col("n") - F.col("j")) + 1) * F.log(1.0 - F.col("u"))
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    terms = ranked.select("n", t_q.alias("t_q"))
    return terms.agg(
        F.max("n").cast("bigint").alias("n_events"),
        (
            F.floor(
                (
                    -F.max("n").cast("double")
                    - (F.sum("t_q").cast("double") / 1000000.0) / F.max("n")
                )
                * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000.0
        ).alias("anderson_darling_a2"),
    )


# --------------------------------------------------------------------------
# E262: Mantel-Haenszel pooled odds ratio across strata
# --------------------------------------------------------------------------


@query(
    "q_mantel_haenszel_or",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CAST(FLOOR(COUNT(*) / 20) AS BIGINT) AS stratum,
             CAST(arg_min(event_type,
                          CAST(FLOOR(epoch(ts)) AS BIGINT) * 1000000 + event_id)
                  = 'signup' AS BIGINT) AS exposed,
             CAST(MAX(CASE WHEN event_type = 'purchase' AND value >= 200.0
                           THEN 1 ELSE 0 END) AS BIGINT) AS outcome
      FROM events GROUP BY user_id),
    strata AS (
      SELECT stratum,
             CAST(SUM(exposed * outcome) AS BIGINT) AS a,
             CAST(SUM(exposed * (1 - outcome)) AS BIGINT) AS b,
             CAST(SUM((1 - exposed) * outcome) AS BIGINT) AS c,
             CAST(SUM((1 - exposed) * (1 - outcome)) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM users GROUP BY stratum),
    terms AS (
      SELECT CAST(FLOOR(CAST(a AS DOUBLE) * d / n * 1000000000 + 0.5)
                  AS BIGINT) AS num_q,
             CAST(FLOOR(CAST(b AS DOUBLE) * c / n * 1000000000 + 0.5)
                  AS BIGINT) AS den_q,
             CAST(a AS BIGINT) AS a_obs,
             CAST(FLOOR(CAST(a + b AS DOUBLE) * (a + c) / n * 1000000000 + 0.5)
                  AS BIGINT) AS exp_q
      FROM strata WHERE n > 0),
    sums AS (
      SELECT CAST(SUM(num_q) AS BIGINT) AS num,
             CAST(SUM(den_q) AS BIGINT) AS den,
             CAST(SUM(a_obs) AS BIGINT) AS a_tot,
             CAST(SUM(exp_q) AS BIGINT) AS e_tot
      FROM terms)
    SELECT CAST(FLOOR(CAST(num AS DOUBLE) / den * 1000000 + 0.5) AS BIGINT)
             / 1000000.0 AS mh_odds_ratio,
           a_tot AS observed_exposed_cases,
           CAST(e_tot AS BIGINT) / 1000000000.0 AS expected_exposed_cases
    FROM sums
    """,
    tags=("E262", "E200", "A1", "F6"),
)
def q_mantel_haenszel_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled odds ratio of starts-with-signup
    exposure on high-value purchasing, stratified by user activity — the
    stratified 2x2 estimator that gives ONE confounder-adjusted
    effect where E200's Simpson's-paradox scan only flags that
    pooling flips the sign: OR_MH = sum(a_i d_i / n_i) /
    sum(b_i c_i / n_i), shown with observed vs expected exposed
    cases (the CMH test's ingredients). Strata reduce to exact 2x2
    integer counts; each stratum's numerator, denominator, and
    expected-count terms are 1e-9-quantized before the cross-stratum
    sums — order-free at any partitioning."""
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.floor(F.count(F.lit(1)) / 20).cast("bigint").alias("stratum"),
        (
            F.min_by(
                "event_type",
                F.unix_timestamp("ts") * 1000000 + F.col("event_id"),
            )
            == "signup"
        )
        .cast("bigint")
        .alias("exposed"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 200.0),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("outcome"),
    )
    strata = users.groupBy("stratum").agg(
        F.sum(F.col("exposed") * F.col("outcome")).cast("bigint").alias("a"),
        F.sum(F.col("exposed") * (1 - F.col("outcome"))).cast("bigint").alias("b"),
        F.sum((1 - F.col("exposed")) * F.col("outcome")).cast("bigint").alias("c"),
        F.sum((1 - F.col("exposed")) * (1 - F.col("outcome")))
        .cast("bigint")
        .alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )

    def q9i(c):
        return F.floor(c * 1000000000 + F.lit(0.5)).cast("bigint")

    terms = strata.filter(F.col("n") > 0).select(
        q9i(F.col("a").cast("double") * F.col("d") / F.col("n")).alias("num_q"),
        q9i(F.col("b").cast("double") * F.col("c") / F.col("n")).alias("den_q"),
        F.col("a").alias("a_obs"),
        q9i(
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("c"))
            / F.col("n")
        ).alias("exp_q"),
    )
    return terms.agg(
        (
            F.floor(
                F.sum("num_q").cast("double") / F.sum("den_q") * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000.0
        ).alias("mh_odds_ratio"),
        F.sum("a_obs").cast("bigint").alias("observed_exposed_cases"),
        (F.sum("exp_q").cast("bigint") / 1000000000.0).alias(
            "expected_exposed_cases"
        ),
    )


# --------------------------------------------------------------------------
# E263: McNemar's test — paired comparison of two classifiers
# --------------------------------------------------------------------------


@query(
    "q_mcnemar_paired_rules",
    oracle="""
    WITH scored AS (
      SELECT CASE WHEN value >= 98.0 THEN 1 ELSE 0 END AS rule_a,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 80
                  THEN 1 ELSE 0 END AS rule_b,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS actual
      FROM events),
    cells AS (
      SELECT
        CAST(SUM(CASE WHEN rule_a = actual AND rule_b <> actual
                      THEN 1 ELSE 0 END) AS BIGINT) AS b,
        CAST(SUM(CASE WHEN rule_a <> actual AND rule_b = actual
                      THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN rule_a = actual AND rule_b = actual
                      THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
        CAST(SUM(CASE WHEN rule_a <> actual AND rule_b <> actual
                      THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
      FROM scored)
    SELECT b AS a_only_correct, c AS b_only_correct, both_right, both_wrong,
           CAST(FLOOR((CAST(b - c AS DOUBLE) * (b - c)) / (b + c)
                      * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS mcnemar_chi2
    FROM cells
    """,
    tags=("E263", "E154", "A1", "F10"),
)
def q_mcnemar_paired_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test comparing two purchase-prediction rules (value
    threshold vs props-k threshold) on the SAME events: only the
    DISCORDANT pairs — rows where exactly one rule is right — carry
    information about which rule is better, and chi^2 = (b-c)^2/(b+c)
    tests their symmetry. This is the correct paired-classifier test
    where comparing two independent accuracy numbers (E148/E154
    style) ignores that both rules saw identical rows. One scan to
    four exact counters; the statistic is one quantized fixed-order
    expression."""
    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        F.when(F.col("value") >= 98.0, 1).otherwise(0).alias("rule_a"),
        F.when(
            F.get_json_object("props", "$.k").cast("bigint") >= 80, 1
        )
        .otherwise(0)
        .alias("rule_b"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("actual"),
    )
    cells = scored.agg(
        F.sum(
            F.when(
                (F.col("rule_a") == F.col("actual"))
                & (F.col("rule_b") != F.col("actual")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("b"),
        F.sum(
            F.when(
                (F.col("rule_a") != F.col("actual"))
                & (F.col("rule_b") == F.col("actual")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("c"),
        F.sum(
            F.when(
                (F.col("rule_a") == F.col("actual"))
                & (F.col("rule_b") == F.col("actual")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("both_right"),
        F.sum(
            F.when(
                (F.col("rule_a") != F.col("actual"))
                & (F.col("rule_b") != F.col("actual")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("both_wrong"),
    )
    b, c = F.col("b"), F.col("c")
    return cells.select(
        b.alias("a_only_correct"),
        c.alias("b_only_correct"),
        "both_right",
        "both_wrong",
        (
            F.floor(
                ((b - c).cast("double") * (b - c)) / (b + c) * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000.0
        ).alias("mcnemar_chi2"),
    )


# --------------------------------------------------------------------------
# E264: Theil index — decomposable inequality, within + between nations
# --------------------------------------------------------------------------


@query(
    "q_theil_decomposition",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey,
             CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS r
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY nation, l.l_suppkey),
    tot AS (SELECT CAST(SUM(r) AS BIGINT) AS rt,
                   CAST(COUNT(*) AS BIGINT) AS n FROM rev),
    terms AS (
      SELECT CAST(FLOOR((CAST(r AS DOUBLE) / t.rt)
                        * ln(CAST(r AS DOUBLE) / t.rt * t.n)
                        * 1000000000 + 0.5) AS BIGINT) AS t_q
      FROM rev CROSS JOIN tot t WHERE r > 0),
    grp AS (
      SELECT nation, CAST(SUM(r) AS BIGINT) AS rg,
             CAST(COUNT(*) AS BIGINT) AS ng
      FROM rev GROUP BY nation),
    between_terms AS (
      SELECT CAST(FLOOR((CAST(g.rg AS DOUBLE) / t.rt)
                        * ln((CAST(g.rg AS DOUBLE) / t.rt)
                             / (CAST(g.ng AS DOUBLE) / t.n))
                        * 1000000000 + 0.5) AS BIGINT) AS b_q
      FROM grp g CROSS JOIN tot t WHERE g.rg > 0)
    SELECT CAST((SELECT SUM(t_q) FROM terms) AS BIGINT) / 1000000000.0
             AS theil_total,
           CAST((SELECT SUM(b_q) FROM between_terms) AS BIGINT) / 1000000000.0
             AS theil_between,
           CAST((SELECT SUM(t_q) FROM terms)
                - (SELECT SUM(b_q) FROM between_terms) AS BIGINT)
             / 1000000000.0 AS theil_within
    """,
    tags=("E264", "E101", "A1", "F6", "J1"),
)
def q_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of supplier revenue, decomposed into
    BETWEEN-nation and WITHIN-nation components — the property that
    makes Theil the inequality measure for drill-downs (Gini, E101,
    does not decompose additively: a Gini gap can't be attributed to
    groups). T = sum (r_i/R) ln(r_i/R * n); between = group shares
    vs population shares; within = the exact remainder. Every ln
    term is 1e-9-quantized at formation and the three sums are exact
    BIGINTs, so total = between + within holds EXACTLY in the output
    — an identity the hash check certifies on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("r")
        )
    )
    tot = rev.agg(
        F.sum("r").cast("bigint").alias("rt"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    share = F.col("r").cast("double") / F.col("rt")
    terms = (
        rev.crossJoin(F.broadcast(tot))
        .filter(F.col("r") > 0)
        .select(
            F.floor(
                share * F.log(share * F.col("n")) * 1000000000 + F.lit(0.5)
            )
            .cast("bigint")
            .alias("t_q")
        )
    )
    grp = rev.groupBy("nation").agg(
        F.sum("r").cast("bigint").alias("rg"),
        F.count(F.lit(1)).cast("bigint").alias("ng"),
    )
    gshare = F.col("rg").cast("double") / F.col("rt")
    nshare = F.col("ng").cast("double") / F.col("n")
    between = (
        grp.crossJoin(F.broadcast(tot))
        .filter(F.col("rg") > 0)
        .select(
            F.floor(gshare * F.log(gshare / nshare) * 1000000000 + F.lit(0.5))
            .cast("bigint")
            .alias("b_q")
        )
    )
    t_sum = terms.agg(F.sum("t_q").cast("bigint").alias("ts"))
    b_sum = between.agg(F.sum("b_q").cast("bigint").alias("bs"))
    return t_sum.crossJoin(F.broadcast(b_sum)).select(
        (F.col("ts") / 1000000000.0).alias("theil_total"),
        (F.col("bs") / 1000000000.0).alias("theil_between"),
        ((F.col("ts") - F.col("bs")) / 1000000000.0).alias("theil_within"),
    )


# --------------------------------------------------------------------------
# E265: Chao1 richness — how much vocabulary remains unseen
# --------------------------------------------------------------------------


@query(
    "q_chao1_vocab_richness",
    oracle=f"""
    WITH freq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT unnest({sql_tokens('text')}) AS term FROM documents)
      GROUP BY term),
    counts AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN n = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM freq)
    SELECT v AS observed_vocab, f1 AS singletons, f2 AS doubletons,
           CAST(FLOOR(
             v + CAST(f1 AS DOUBLE) * f1 / (2.0e0 * (f2 + 1)) * 1.0e0
             + 0.5) AS BIGINT) AS chao1_estimate
    FROM counts
    """,
    tags=("E265", "E193", "A1", "F6"),
)
def q_chao1_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of the TRUE vocabulary size:
    V + F1^2 / (2(F2+1)) from the singleton and doubleton counts (the
    bias-corrected form, defined even when doubletons are absent) —
    the abundance-based companion to E193's Good-Turing unseen MASS:
    Good-Turing says how much probability the unseen words carry,
    Chao1 says HOW MANY of them exist, the number a vocabulary-size
    or coverage plan actually needs. One token scan to the frequency
    frame, three exact counters, one closed-form expression rounded
    to an integer estimate identically on both engines."""
    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(tokens(normalize_text(F.col("text")))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    counts = freq.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum((F.col("n") == 1).cast("bigint")).cast("bigint").alias("f1"),
        F.sum((F.col("n") == 2).cast("bigint")).cast("bigint").alias("f2"),
    )
    return counts.select(
        F.col("v").alias("observed_vocab"),
        F.col("f1").alias("singletons"),
        F.col("f2").alias("doubletons"),
        F.floor(
            F.col("v")
            + F.col("f1").cast("double") * F.col("f1") / (2.0 * (F.col("f2") + 1)) * 1.0
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("chao1_estimate"),
    )


# --------------------------------------------------------------------------
# E266: Gumbel block-maxima fit — extreme value theory panel
# --------------------------------------------------------------------------


@query(
    "q_gumbel_block_maxima",
    oracle="""
    WITH blocks AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(MAX(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS mx
      FROM events GROUP BY d),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mx) AS BIGINT) AS s1,
             CAST(SUM(mx * mx) AS BIGINT) AS s2
      FROM blocks),
    fit AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n / 100.0 AS mean_max,
             sqrt((CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
                  / (CAST(n AS DOUBLE) * (n - 1))) / 100.0 AS sd_max
      FROM m)
    SELECT n AS n_blocks,
           CAST(FLOOR(mean_max * 10000 + 0.5) AS BIGINT) / 10000.0
             AS mean_block_max,
           CAST(FLOOR((sd_max * 0.7796968012336609e0) * 10000 + 0.5) AS BIGINT)
             / 10000.0 AS gumbel_beta,
           CAST(FLOOR((mean_max - 0.5772156649015329e0
                       * (sd_max * 0.7796968012336609e0)) * 10000 + 0.5)
                AS BIGINT) / 10000.0 AS gumbel_mu,
           CAST(FLOOR((mean_max - 0.5772156649015329e0
                       * (sd_max * 0.7796968012336609e0)
                       - (sd_max * 0.7796968012336609e0)
                         * ln(-ln(1.0e0 - 1.0e0 / 30.0e0)))
                      * 10000 + 0.5) AS BIGINT) / 10000.0
             AS return_level_30_blocks
    FROM fit
    """,
    tags=("E266", "E96", "A6", "A8", "F4"),
)
def q_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on daily block maxima of event value
    (method of moments: beta = s*sqrt(6)/pi written as the exact
    double constant 0.7796..., mu = m - gamma*beta with
    Euler-Mascheroni spelled out identically on both sides), plus
    the 30-block return level mu - beta*ln(-ln(1-1/30)) — the EVT
    answer to 'how big a daily spike should we provision for per
    month', which P99-style order statistics (E96) can't extrapolate
    beyond the observed window. Block maxima come from one
    day-grouped aggregate (domain-sized frame); mean/sd from exact
    integer moments; the fit is a fixed-order expression quantized
    to 1e-4."""
    e = load_table(spark, sf_dir, "events")
    blocks = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.max(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("mx")
    )
    m = blocks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mx").cast("bigint").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("bigint").alias("s2"),
    )
    n = F.col("n")
    mean_max = F.col("s1").cast("double") / n / 100.0
    sd_max = (
        F.sqrt(
            (n.cast("double") * F.col("s2") - F.col("s1").cast("double") * F.col("s1"))
            / (n.cast("double") * (n - 1))
        )
        / 100.0
    )
    beta = sd_max * 0.7796968012336609
    mu = mean_max - 0.5772156649015329 * beta

    def q4(c):
        return F.floor(c * 10000 + F.lit(0.5)).cast("bigint") / 10000.0

    import math

    rl = mu - beta * math.log(-math.log(1.0 - 1.0 / 30.0))
    return m.select(
        n.alias("n_blocks"),
        q4(mean_max).alias("mean_block_max"),
        q4(beta).alias("gumbel_beta"),
        q4(mu).alias("gumbel_mu"),
        q4(rl).alias("return_level_30_blocks"),
    )


# --------------------------------------------------------------------------
# E267: propensity-score-style 1-NN matching — ATT with replacement
# --------------------------------------------------------------------------


@query(
    "q_psm_att_matching",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(arg_min(event_type,
                          printf('%019d%019d',
                                 CAST(FLOOR(epoch(ts)) AS BIGINT), event_id))
                  = 'signup' AS BIGINT) AS treated,
             CAST(SUM(CAST(FLOOR(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS y_q
      FROM events GROUP BY user_id),
    controls_by_x AS (
      SELECT x, MIN(user_id) AS rep_id FROM users WHERE treated = 0 GROUP BY x),
    rep_outcome AS (
      SELECT c.x, c.rep_id, u.y_q AS y_ctrl_q
      FROM controls_by_x c JOIN users u ON u.user_id = c.rep_id),
    matched AS (
      SELECT t.user_id, t.y_q, r.y_ctrl_q,
             ROW_NUMBER() OVER (
               PARTITION BY t.user_id
               ORDER BY ABS(t.x - r.x), r.x, r.rep_id) AS rn
      FROM users t JOIN rep_outcome r ON ABS(t.x - r.x) <= 5
      WHERE t.treated = 1),
    pairs AS (SELECT y_q, y_ctrl_q FROM matched WHERE rn = 1),
    naive AS (
      SELECT CAST(SUM(CASE WHEN treated = 1 THEN y_q ELSE 0 END) AS BIGINT)
               AS yt,
             CAST(SUM(treated) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN treated = 0 THEN y_q ELSE 0 END) AS BIGINT)
               AS yc,
             CAST(SUM(1 - treated) AS BIGINT) AS nc
      FROM users)
    SELECT CAST((SELECT nt FROM naive) AS BIGINT) AS n_treated,
           CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST(SUM(y_q - y_ctrl_q) AS BIGINT) / 1000000.0 / COUNT(*)
             AS att_matched,
           (SELECT CAST(yt AS DOUBLE) / 1000000.0 / nt
                   - CAST(yc AS DOUBLE) / 1000000.0 / nc
            FROM naive) AS naive_diff
    FROM pairs
    """,
    tags=("E267", "E158", "E231", "J7", "W1", "A1"),
)
def q_psm_att_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-nearest-neighbor matching ATT (with replacement, caliper 5)
    of starts-with-signup treatment on per-user total value, matched
    on the activity-count covariate — the third member of the causal
    toolbox next to IPW (E158) and AIPW (E231): matching makes the
    counterfactual EXPLICIT (each treated user's matched control is
    inspectable) where weighting buries it in a formula. The
    matching join is treated x DISTINCT CONTROL COVARIATE VALUES
    (domain-sized, one deterministic representative per value — min
    user id), not treated x controls, with the (distance, x, rep)
    ordering fixing every tie; unmatched-beyond-caliper treated drop
    out and are accounted in n_treated vs n_matched. Naive mean gap
    shown for the confounding reveal."""
    e = load_table(spark, sf_dir, "events")
    users = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        (
            # Zero-padded (s, event_id) string key: tuple-order exact
            # at any id magnitude (s*1e6+event_id drifts once
            # event_id >= 1e6; DuckDB's arg_min takes no struct key).
            F.min_by(
                "event_type",
                F.format_string(
                    "%019d%019d", F.unix_timestamp("ts"), F.col("event_id")
                ),
            )
            == "signup"
        )
        .cast("bigint")
        .alias("treated"),
        F.sum(F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint"))
        .cast("bigint")
        .alias("y_q"),
    ).localCheckpoint(eager=True)
    controls_by_x = (
        users.filter(F.col("treated") == 0)
        .groupBy("x")
        .agg(F.min("user_id").alias("rep_id"))
    )
    rep_outcome = controls_by_x.join(
        users.select(F.col("user_id").alias("rep_id"), F.col("y_q").alias("y_ctrl_q")),
        "rep_id",
    ).select(F.col("x").alias("cx"), "rep_id", "y_ctrl_q")
    treated = users.filter(F.col("treated") == 1).select(
        "user_id", F.col("x").alias("tx"), "y_q"
    )
    cand = treated.join(
        F.broadcast(rep_outcome), F.abs(F.col("tx") - F.col("cx")) <= 5
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id").orderBy(
            F.abs(F.col("tx") - F.col("cx")), "cx", "rep_id"
        )
    )
    pairs = cand.withColumn("rn", rn).filter(F.col("rn") == 1)
    naive = users.agg(
        F.sum(F.when(F.col("treated") == 1, F.col("y_q")).otherwise(0))
        .cast("bigint")
        .alias("yt"),
        F.sum("treated").cast("bigint").alias("nt"),
        F.sum(F.when(F.col("treated") == 0, F.col("y_q")).otherwise(0))
        .cast("bigint")
        .alias("yc"),
        F.sum(1 - F.col("treated")).cast("bigint").alias("nc"),
    )
    return (
        pairs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_matched"),
            F.sum(F.col("y_q") - F.col("y_ctrl_q")).cast("bigint").alias("gap_q"),
        )
        .crossJoin(F.broadcast(naive))
        .select(
            F.col("nt").alias("n_treated"),
            "n_matched",
            (F.col("gap_q") / 1000000.0 / F.col("n_matched")).alias("att_matched"),
            (
                F.col("yt").cast("double") / 1000000.0 / F.col("nt")
                - F.col("yc").cast("double") / 1000000.0 / F.col("nc")
            ).alias("naive_diff"),
        )
    )


# --------------------------------------------------------------------------
# E272: negative-binomial fit — overdispersed count model by moments
# --------------------------------------------------------------------------


@query(
    "q_negbin_user_counts",
    oracle="""
    WITH counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM counts),
    fit AS (
      SELECT n,
             CAST(s1 AS DOUBLE) / n AS mean_c,
             (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
               / (CAST(n AS DOUBLE) * (n - 1)) AS var_c
      FROM m)
    SELECT n AS n_users,
           CAST(FLOOR(mean_c * 10000 + 0.5) AS BIGINT) / 10000.0 AS mean_count,
           CAST(FLOOR(var_c * 10000 + 0.5) AS BIGINT) / 10000.0 AS var_count,
           CAST(FLOOR(var_c / mean_c * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS dispersion_index,
           CAST(FLOOR(CASE WHEN var_c > mean_c
                           THEN mean_c * mean_c / (var_c - mean_c)
                           ELSE -1.0e0 END * 10000 + 0.5) AS BIGINT) / 10000.0
             AS nb_r,
           CAST(FLOOR(CASE WHEN var_c > mean_c THEN mean_c / var_c
                           ELSE -1.0e0 END * 1000000 + 0.5) AS BIGINT)
             / 1000000.0 AS nb_p
    FROM fit
    """,
    tags=("E272", "E103", "A6", "A1"),
)
def q_negbin_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial fit of per-user event counts by method of
    moments: r = m^2/(v-m), p = m/v — the overdispersed count model a
    Poisson assumption silently gets wrong whenever users are
    heterogeneous (dispersion index v/m > 1 is the tell, reported
    alongside; a Poisson fit would force it to 1 and misprice every
    tail probability). Sentinel -1 values when the data is actually
    UNDER-dispersed and NB is undefined — an explicit signal, not a
    NaN. Per-user counts then exact integer moments; the fit is one
    fixed-order quantized expression."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    m = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
    )
    n = F.col("n")
    mean_c = F.col("s1").cast("double") / n
    var_c = (n.cast("double") * F.col("s2") - F.col("s1").cast("double") * F.col("s1")) / (
        n.cast("double") * (n - 1)
    )

    def q4(c):
        return F.floor(c * 10000 + F.lit(0.5)).cast("bigint") / 10000.0

    def q6(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1000000.0

    return m.select(
        n.alias("n_users"),
        q4(mean_c).alias("mean_count"),
        q4(var_c).alias("var_count"),
        q6(var_c / mean_c).alias("dispersion_index"),
        q4(
            F.when(var_c > mean_c, mean_c * mean_c / (var_c - mean_c)).otherwise(
                F.lit(-1.0)
            )
        ).alias("nb_r"),
        q6(F.when(var_c > mean_c, mean_c / var_c).otherwise(F.lit(-1.0))).alias(
            "nb_p"
        ),
    )


# --------------------------------------------------------------------------
# E273: Herfindahl-Hirschman concentration index per nation
# --------------------------------------------------------------------------


@query(
    "q_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey AS nation, l.l_suppkey,
             CAST(SUM(CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS r
      FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
      GROUP BY nation, l.l_suppkey),
    tot AS (SELECT nation, CAST(SUM(r) AS BIGINT) AS rt,
                   CAST(COUNT(*) AS BIGINT) AS n_sup
            FROM rev GROUP BY nation),
    hhi AS (
      SELECT r.nation, t.n_sup,
             CAST(SUM(CAST(FLOOR((CAST(r.r AS DOUBLE) / t.rt)
                                 * (CAST(r.r AS DOUBLE) / t.rt)
                                 * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS h_q
      FROM rev r JOIN tot t ON t.nation = r.nation
      GROUP BY r.nation, t.n_sup)
    SELECT nation, n_sup AS n_suppliers,
           CAST(h_q AS BIGINT) / 1000000000.0 AS hhi,
           CAST(FLOOR(1000000000.0e0 / h_q * 10000 + 0.5) AS BIGINT) / 10000.0
             AS effective_competitors
    FROM hhi ORDER BY nation
    """,
    tags=("E273", "E101", "E264", "A1", "J1"),
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue within
    each nation: HHI = sum of squared revenue shares, plus its
    reciprocal — the 'effective number of competitors' (the
    antitrust/market-structure number; 1/HHI = how many EQUAL-sized
    suppliers would look like this market, the interpretable form
    Gini/Theil lack). Per-(nation, supplier) revenue, per-nation
    totals broadcast back, each squared share 1e-9-quantized before
    the per-nation sum — exact at any partitioning."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nation"), "l_suppkey")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("r")
        )
    )
    tot = rev.groupBy("nation").agg(
        F.sum("r").cast("bigint").alias("rt"),
        F.count(F.lit(1)).cast("bigint").alias("n_sup"),
    )
    share = F.col("r").cast("double") / F.col("rt")
    hhi = (
        rev.join(F.broadcast(tot), "nation")
        .groupBy("nation", "n_sup")
        .agg(
            F.sum(
                F.floor(share * share * 1000000000 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("h_q")
        )
    )
    return hhi.select(
        "nation",
        F.col("n_sup").alias("n_suppliers"),
        (F.col("h_q") / 1000000000.0).alias("hhi"),
        (
            F.floor(1000000000.0 / F.col("h_q") * 10000 + F.lit(0.5)).cast(
                "bigint"
            )
            / 10000.0
        ).alias("effective_competitors"),
    ).orderBy("nation")


# --------------------------------------------------------------------------
# E317: local outlier factor — k-NN density anomalies, all-integer
# --------------------------------------------------------------------------

_LOF_K = 5
_LOF_LRD = 5_000_000  # lrd scale: k * 1e6 (bounds the lof numerator in int64)
_LOF_TOPK = 15
# Kernel gates (patchable; tests force the distributed branch): the
# single-task kernel allocates chunked n_series x n_series distance
# blocks, so both the TOTAL profile-point count and the largest single
# series must be bounded before routing to it.
_LOF_KERNEL_PTS = 200_000
_LOF_KERNEL_SERIES = 8_192


@query(
    "q_lof_hourly_anomalies",
    oracle=f"""
    WITH pts AS MATERIALIZED (
      SELECT event_type AS et, date_trunc('hour', ts) AS h,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2),
    pairs AS MATERIALIZED (
      SELECT a.et, a.h AS ha, b.h AS hb, abs(a.x - b.x) AS d
      FROM pts a JOIN pts b ON b.et = a.et AND b.h <> a.h),
    k5 AS MATERIALIZED (
      SELECT et, ha, hb, d FROM (
        SELECT et, ha, hb, d,
               ROW_NUMBER() OVER (PARTITION BY et, ha ORDER BY d, hb) AS rk
        FROM pairs) WHERE rk <= {_LOF_K}),
    kdist AS MATERIALIZED (
      SELECT et, ha, MAX(d) AS kd FROM k5 GROUP BY et, ha),
    reach AS MATERIALIZED (
      SELECT k.et, k.ha, GREATEST(k.d, kb.kd) AS r
      FROM k5 k JOIN kdist kb ON kb.et = k.et AND kb.ha = k.hb),
    lrd AS MATERIALIZED (
      SELECT et, ha,
             CAST(CAST({_LOF_LRD} AS BIGINT) // GREATEST(SUM(r), 1)
                  AS BIGINT) AS lrd
      FROM reach GROUP BY et, ha),
    lof AS (
      SELECT k.et, k.ha,
             CAST((CAST(1000000000 AS BIGINT) * CAST(SUM(ln.lrd) AS BIGINT))
                  // ({_LOF_K} * GREATEST(la.lrd, 1)) AS BIGINT) AS lof_q
      FROM k5 k
      JOIN lrd ln ON ln.et = k.et AND ln.ha = k.hb
      JOIN lrd la ON la.et = k.et AND la.ha = k.ha
      GROUP BY k.et, k.ha, la.lrd)
    SELECT et AS event_type, CAST(FLOOR(epoch(ha)) AS BIGINT) AS hour_s,
           lof_q / 1000000000.0 AS lof
    FROM lof ORDER BY lof_q DESC, et, ha LIMIT {_LOF_TOPK}
    """,
    tags=("E317", "E220", "W1", "J2", "A1"),
)
def q_lof_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local Outlier Factor over each series' hourly revenue profile
    — the k-NN DENSITY anomaly detector beside the parametric
    Mahalanobis (E220) and robust-MAD z-scores: a point is anomalous
    when its local reachability density is low RELATIVE to its
    neighbors' (global thresholds miss outliers inside sparse
    regions and flag dense-cluster members; LOF's ratio form
    adapts). Entirely INTEGER: 1-D distances are |cents - cents|
    BIGINTs, k-dist is a window max, reachability is
    GREATEST(d, kdist(neighbor)), lrd and the final LOF are scaled
    floor divisions — both engines replay the identical arithmetic,
    no float anywhere until the display division. Cost shape: pairs
    are per-SERIES (hours_per_series^2, never corpus^2 — the
    per-group k-NN contract), one window for the k-NN cut, two
    broadcast-sized joins for kdist/lrd lookups. Top-15 anomalies
    with deterministic (lof desc, series, hour) order.

    r11: the (et, hour) profile is DOMAIN-sized (series x hours), so
    the per-series k-NN + lrd + lof algebra runs in ONE bounded Arrow
    task when the gates admit it (chunked |x_a - x_b| blocks, stable
    argsort = the window's (d, hb) order since columns are pre-sorted
    by hour) — replacing a pair-expansion join, a 2.6M-row window and
    three keyed joins with a single small task. The distributed
    pipeline below stays the 100 TB else-branch; forced
    branch-equivalence is tested (integer-exact). Hours ride as epoch
    seconds (unix_timestamp is monotonic, so every ordering and join
    key is unchanged)."""
    e = load_table(spark, sf_dir, "events")
    pts = tracked_persist(
        e.groupBy(
            F.col("event_type").alias("et"),
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hs"),
        ).agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "x"
            )
        )
    )
    sizes = pts.groupBy("et").agg(F.count(F.lit(1)).alias("c")).agg(
        F.sum("c").alias("n"), F.max("c").alias("m")
    ).first()
    n_pts, max_series = int(sizes["n"] or 0), int(sizes["m"] or 0)
    if probe.gate(
        "lof_kernel",
        0 < n_pts <= _LOF_KERNEL_PTS and max_series <= _LOF_KERNEL_SERIES,
    ):
        kk, lrd_scale, chunk = _LOF_K, _LOF_LRD, 1024

        def lof_kernel(pdf):
            import numpy as np
            import pandas as pd

            et_all = pdf["et"].to_numpy()
            hs_all = pdf["hs"].to_numpy(dtype=np.int64)
            x_all = pdf["x"].to_numpy(dtype=np.int64)
            out = []
            sentinel = np.iinfo(np.int64).max
            for g in np.unique(et_all):
                m = et_all == g
                gh, gx = hs_all[m], x_all[m]
                n = len(gh)
                if n < 2:
                    continue
                o = np.argsort(gh)  # column order = hb order -> stable
                gh, gx = gh[o], gx[o]  # argsort below ties on hb exactly
                k = min(kk, n - 1)
                idx_parts, dnb_parts = [], []
                for s in range(0, n, chunk):
                    dc = np.abs(gx[s : s + chunk, None] - gx[None, :])
                    for i in range(dc.shape[0]):
                        dc[i, s + i] = sentinel  # exclude self
                    ic = np.argsort(dc, axis=1, kind="stable")[:, :k]
                    idx_parts.append(ic)
                    dnb_parts.append(np.take_along_axis(dc, ic, axis=1))
                idx = np.vstack(idx_parts)  # (n, k) neighbors by (d, hb)
                dnb = np.vstack(dnb_parts)  # their distances
                kd = dnb[:, -1]  # k-distance per point
                reach = np.maximum(dnb, kd[idx])
                lrd = lrd_scale // np.maximum(reach.sum(axis=1), 1)
                lof_q = mul_i64(lrd[idx].sum(axis=1), 10**9) // (
                    kk * np.maximum(lrd, 1)
                )
                out.append(
                    pd.DataFrame({"et": g, "hs": gh, "lof_q": lof_q})
                )
            return pd.concat(out) if out else None

        lof = probe.single_task(pts, lof_kernel, "et string, hs bigint, lof_q bigint")
    else:
        a = pts.select("et", F.col("hs").alias("ha"), F.col("x").alias("xa"))
        b = pts.select("et", F.col("hs").alias("hb"), F.col("x").alias("xb"))
        pairs = (
            a.join(b, "et")
            .filter(F.col("ha") != F.col("hb"))
            .select(
                "et", "ha", "hb", F.abs(F.col("xa") - F.col("xb")).alias("d")
            )
        )
        wk = Window.partitionBy("et", "ha").orderBy("d", "hb")
        k5 = (
            pairs.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= _LOF_K)
            .select("et", "ha", "hb", "d")
            .localCheckpoint(eager=True)
        )
        kdist = k5.groupBy("et", "ha").agg(F.max("d").alias("kd")).select(
            F.col("et").alias("kb_et"), F.col("ha").alias("kb_h"), "kd"
        )
        reach = k5.join(
            kdist,
            (F.col("kb_et") == F.col("et")) & (F.col("kb_h") == F.col("hb")),
        ).select("et", "ha", F.greatest(F.col("d"), F.col("kd")).alias("r"))
        lrd = reach.groupBy("et", "ha").agg(
            F.expr(
                f"CAST({_LOF_LRD} AS BIGINT) div greatest(sum(r), 1)"
            ).alias("lrd")
        )
        ln = lrd.select(
            F.col("et").alias("n_et"), F.col("ha").alias("n_h"),
            F.col("lrd").alias("lrd_n"),
        )
        la = lrd.select(
            F.col("et").alias("a_et"), F.col("ha").alias("a_h"),
            F.col("lrd").alias("lrd_a"),
        )
        lof = (
            k5.join(
                ln,
                (F.col("n_et") == F.col("et")) & (F.col("n_h") == F.col("hb")),
            )
            .join(
                la,
                (F.col("a_et") == F.col("et")) & (F.col("a_h") == F.col("ha")),
            )
            .groupBy("et", "ha", "lrd_a")
            .agg(
                F.expr(
                    f"CAST(1000000000 AS BIGINT) * sum(lrd_n)"
                    f" div ({_LOF_K} * greatest(lrd_a, 1))"
                )
                .cast("bigint")
                .alias("lof_q")
            )
            .select("et", F.col("ha").alias("hs"), "lof_q")
        )
    return (
        lof.select(
            F.col("et").alias("event_type"),
            F.col("hs").alias("hour_s"),
            (F.col("lof_q") / 1000000000.0).alias("lof"),
            "lof_q",
            "hs",
        )
        .orderBy(F.desc("lof_q"), "event_type", "hs")
        .limit(_LOF_TOPK)
        .select("event_type", "hour_s", "lof")
    )


# --------------------------------------------------------------------------
# E323: Granger lead-lag test — nested-model F on lagged hourly series
# --------------------------------------------------------------------------

_GR_DIRS = [  # (label, y/own series, cross-lag series)
    ("view_to_purchase", "purchase", "view"),
    ("purchase_to_view", "view", "purchase"),
]


def _granger_dir_sql(i: int, label: str, a: str, b: str) -> str:
    return f"""
    rows_{i} AS (
      SELECT y.cents AS yv, l1.cents AS x1v, l2.cents AS x2v
      FROM hourly y
      JOIN hourly l1 ON l1.event_type = '{a}' AND l1.hs = y.hs - 1
      JOIN hourly l2 ON l2.event_type = '{b}' AND l2.hs = y.hs - 1
      WHERE y.event_type = '{a}'),
    m_{i} AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(x1v AS DECIMAL(19,0))) AS DOUBLE) AS sx1,
             CAST(SUM(CAST(x2v AS DECIMAL(19,0))) AS DOUBLE) AS sx2,
             CAST(SUM(CAST(yv AS DECIMAL(19,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x1v AS DECIMAL(28,0))
                      * CAST(x1v AS DECIMAL(28,0))) AS DOUBLE) AS sx11,
             CAST(SUM(CAST(x1v AS DECIMAL(19,0))
                      * CAST(x2v AS DECIMAL(19,0))) AS DOUBLE) AS sx12,
             CAST(SUM(CAST(x2v AS DECIMAL(28,0))
                      * CAST(x2v AS DECIMAL(28,0))) AS DOUBLE) AS sx22,
             CAST(SUM(CAST(x1v AS DECIMAL(19,0))
                      * CAST(yv AS DECIMAL(19,0))) AS DOUBLE) AS sx1y,
             CAST(SUM(CAST(x2v AS DECIMAL(19,0))
                      * CAST(yv AS DECIMAL(19,0))) AS DOUBLE) AS sx2y,
             CAST(SUM(CAST(yv AS DECIMAL(28,0))
                      * CAST(yv AS DECIMAL(28,0))) AS DOUBLE) AS syy
      FROM rows_{i}),
    sol_{i} AS (
      SELECT n, sy, sx1, sx1y, sx2y, syy,
             (n * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx12 - sx11 * sx2)) AS det,
             (sy * (sx11 * sx22 - sx12 * sx12)
              - sx1 * (sx1y * sx22 - sx12 * sx2y)
              + sx2 * (sx1y * sx12 - sx11 * sx2y)) AS det0,
             (n * (sx1y * sx22 - sx12 * sx2y)
              - sy * (sx1 * sx22 - sx12 * sx2)
              + sx2 * (sx1 * sx2y - sx1y * sx2)) AS det1,
             (n * (sx11 * sx2y - sx1y * sx12)
              - sx1 * (sx1 * sx2y - sx1y * sx2)
              + sy * (sx1 * sx12 - sx11 * sx2)) AS det2,
             (n * sx1y - sx1 * sy) / NULLIF(n * sx11 - sx1 * sx1, 0e0) AS br
      FROM m_{i}),
    fin_{i} AS (
      SELECT n, det, det1, det2,
             syy - (det0 / NULLIF(det, 0e0)) * sy
                 - (det1 / NULLIF(det, 0e0)) * sx1y
                 - (det2 / NULLIF(det, 0e0)) * sx2y AS rss_u,
             syy - ((sy - br * sx1) / n) * sy - br * sx1y AS rss_r,
             syy - sy * sy / n AS sst
      FROM sol_{i}),
    out_{i} AS (
      SELECT '{label}' AS direction,
             CAST(n AS BIGINT) AS n_obs,
             CAST(FLOOR(det1 / NULLIF(det, 0e0) * 1000000 + 0.5) AS BIGINT)
               / 1e6 AS b_own,
             CAST(FLOOR(det2 / NULLIF(det, 0e0) * 1000000 + 0.5) AS BIGINT)
               / 1e6 AS b_cross,
             CAST(FLOOR((rss_r - rss_u) * (n - 3e0) / NULLIF(rss_u, 0e0)
                        * 1000000 + 0.5) AS BIGINT) / 1e6 AS f_stat,
             CAST(FLOOR((1e0 - rss_u / NULLIF(sst, 0e0)) * 1000000 + 0.5)
                  AS BIGINT) / 1e6 AS r2_u
      FROM fin_{i})"""


@query(
    "q_granger_lead_lag",
    oracle="WITH hourly AS MATERIALIZED (\n"
    "      SELECT event_type,\n"
    "             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hs,\n"
    "             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents\n"
    "      FROM events GROUP BY 1, 2),"
    + ",".join(
        _granger_dir_sql(i, label, a, b)
        for i, (label, a, b) in enumerate(_GR_DIRS)
    )
    + "\n    SELECT * FROM out_0 UNION ALL SELECT * FROM out_1"
    + "\n    ORDER BY direction",
    tags=("E323", "E208", "E110", "A6", "J6", "F4"),
)
def q_granger_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger lead-lag test between the view and purchase hourly
    series, BOTH directions — the temporal-causality screen beside
    ACF (E110, one series' own memory) and multiple regression
    (E208, cross-sectional): does adding LAST hour's view volume to a
    purchase autoregression reduce residual variance more than chance
    (nested-model F with 1 and n-3 df)? Restricted model y~1+y_lag,
    unrestricted y~1+y_lag+x_lag solved by the E208 Cramer
    normal-equation idiom: hourly cents are exact BIGINTs, lag
    alignment is an integer epoch-hour equi-join (hs-1; the interval-
    arithmetic house rule — consecutive-hour triples only, so gaps
    drop out identically in both engines), all ten moment sums are
    exact DECIMAL integers from one aggregate pass per direction, and
    doubles appear only in a final fixed-order expression, 1e-6
    output-quantized (the dcorr/dstddev DECIMAL38->double contract).
    Degenerate series (constant, collinear, n<=3) yield NULLs via
    NULLIF guards, not errors. Scale: the hourly table is series-
    length-bounded; each direction is one scan + a 1-row solve."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("long")
        .alias("hs"),
    ).agg(
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("cents")
    )
    # r11 (guide §2.4): pivot the two series onto ONE hour-keyed frame
    # (max-when over the unique (event_type, hs) grouping), so the lag
    # alignment is ONE hs+1 self-join and BOTH directions' ten moment
    # sums come from ONE conditional aggregate — vs 3 filters + 2 joins
    # + 1 aggregate per direction over a persisted hourly table (the
    # per-direction inner joins become the all-three-columns-present
    # guards). Value-identical: the moment sums run over exactly the
    # rows the inner joins kept, in the same DECIMAL casts; count(when)
    # preserves the count-of-empty = 0 semantics. Measured 1.88 →
    # 1.50 s isolated at sf0.1 (plan: 6 reads of hourly → 2, one join).
    hp = (
        hourly.filter(F.col("event_type").isin([a for _, a, _ in _GR_DIRS]))
        .groupBy("hs")
        .agg(
            *[
                F.max(
                    F.when(F.col("event_type") == t, F.col("cents"))
                ).alias(f"c_{t}")
                for t in sorted({a for _, a, _ in _GR_DIRS})
            ]
        )
    )
    prev = hp.select(
        (F.col("hs") + 1).alias("hs"),
        *[
            F.col(f"c_{t}").alias(f"l_{t}")
            for t in sorted({a for _, a, _ in _GR_DIRS})
        ],
    )
    j = hp.join(prev, "hs")

    q6 = lambda c: F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1e6  # noqa: E731

    aggs = []
    for label, a, b in _GR_DIRS:
        yv, x1v, x2v = F.col(f"c_{a}"), F.col(f"l_{a}"), F.col(f"l_{b}")
        cond = yv.isNotNull() & x1v.isNotNull() & x2v.isNotNull()
        d19 = lambda c: c.cast("decimal(19,0)")  # noqa: E731
        d28 = lambda c: c.cast("decimal(28,0)")  # noqa: E731
        aggs += [
            F.count(F.when(cond, F.lit(1))).cast("double").alias(f"n_{label}"),
            F.sum(F.when(cond, d19(x1v))).cast("double").alias(f"sx1_{label}"),
            F.sum(F.when(cond, d19(x2v))).cast("double").alias(f"sx2_{label}"),
            F.sum(F.when(cond, d19(yv))).cast("double").alias(f"sy_{label}"),
            F.sum(F.when(cond, d28(x1v) * d28(x1v))).cast("double").alias(f"sx11_{label}"),
            F.sum(F.when(cond, d19(x1v) * d19(x2v))).cast("double").alias(f"sx12_{label}"),
            F.sum(F.when(cond, d28(x2v) * d28(x2v))).cast("double").alias(f"sx22_{label}"),
            F.sum(F.when(cond, d19(x1v) * d19(yv))).cast("double").alias(f"sx1y_{label}"),
            F.sum(F.when(cond, d19(x2v) * d19(yv))).cast("double").alias(f"sx2y_{label}"),
            F.sum(F.when(cond, d28(yv) * d28(yv))).cast("double").alias(f"syy_{label}"),
        ]
    moments = j.agg(*aggs)

    def direction(label: str, a: str, b: str) -> DataFrame:
        m = moments
        n, sx1, sx2, sy = (
            F.col(f"n_{label}"),
            F.col(f"sx1_{label}"),
            F.col(f"sx2_{label}"),
            F.col(f"sy_{label}"),
        )
        sx11, sx12, sx22 = (
            F.col(f"sx11_{label}"),
            F.col(f"sx12_{label}"),
            F.col(f"sx22_{label}"),
        )
        sx1y, sx2y, syy = (
            F.col(f"sx1y_{label}"),
            F.col(f"sx2y_{label}"),
            F.col(f"syy_{label}"),
        )
        z = F.lit(0.0)
        det = (
            n * (sx11 * sx22 - sx12 * sx12)
            - sx1 * (sx1 * sx22 - sx12 * sx2)
            + sx2 * (sx1 * sx12 - sx11 * sx2)
        )
        det0 = (
            sy * (sx11 * sx22 - sx12 * sx12)
            - sx1 * (sx1y * sx22 - sx12 * sx2y)
            + sx2 * (sx1y * sx12 - sx11 * sx2y)
        )
        det1 = (
            n * (sx1y * sx22 - sx12 * sx2y)
            - sy * (sx1 * sx22 - sx12 * sx2)
            + sx2 * (sx1 * sx2y - sx1y * sx2)
        )
        det2 = (
            n * (sx11 * sx2y - sx1y * sx12)
            - sx1 * (sx1 * sx2y - sx1y * sx2)
            + sy * (sx1 * sx12 - sx11 * sx2)
        )
        detn = F.nullif(det, z)
        br = (n * sx1y - sx1 * sy) / F.nullif(n * sx11 - sx1 * sx1, z)
        rss_u = (
            syy
            - (det0 / detn) * sy
            - (det1 / detn) * sx1y
            - (det2 / detn) * sx2y
        )
        rss_r = syy - ((sy - br * sx1) / n) * sy - br * sx1y
        sst = syy - sy * sy / n
        return m.select(
            F.lit(label).alias("direction"),
            n.cast("bigint").alias("n_obs"),
            q6(det1 / detn).alias("b_own"),
            q6(det2 / detn).alias("b_cross"),
            q6(
                (rss_r - rss_u) * (n - F.lit(3.0)) / F.nullif(rss_u, z)
            ).alias("f_stat"),
            q6(F.lit(1.0) - rss_u / F.nullif(sst, z)).alias("r2_u"),
        )

    out = None
    for label, a, b in _GR_DIRS:
        part = direction(label, a, b)
        out = part if out is None else out.unionByName(part)
    return out.orderBy("direction")


# --------------------------------------------------------------------------
# E324: Hill tail-index — power-law heaviness of the value distribution
# --------------------------------------------------------------------------

_HILL_K = 200  # top-k order statistics per series


@query(
    "q_hill_tail_index",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value DESC, event_id) AS rk
      FROM events WHERE value > 0),
    agg AS (
      SELECT event_type,
             SUM(CASE WHEN rk < 200 THEN
                   CAST(FLOOR(ln(value) * 1000000000 + 0.5) AS BIGINT)
                 ELSE 0 END) AS s_q,
             SUM(CASE WHEN rk < 200 THEN 1 ELSE 0 END) AS cnt,
             MAX(CASE WHEN rk = 200 THEN
                   CAST(FLOOR(ln(value) * 1000000000 + 0.5) AS BIGINT)
                 END) AS xk_q
      FROM ranked WHERE rk <= 200 GROUP BY 1)
    SELECT event_type,
           CAST(cnt AS BIGINT) AS k_used,
           CAST(FLOOR(CAST(s_q - cnt * xk_q AS DOUBLE) / 1000000000e0 / cnt
                      * 1000000 + 0.5) AS BIGINT) / 1e6 AS hill_gamma,
           CAST(FLOOR(1e0 / NULLIF(
                 CAST(FLOOR(CAST(s_q - cnt * xk_q AS DOUBLE) / 1000000000e0
                            / cnt * 1000000 + 0.5) AS BIGINT)
                 / 1e6, 0e0) * 1000000 + 0.5) AS BIGINT) / 1e6
             AS alpha
    FROM agg WHERE xk_q IS NOT NULL ORDER BY event_type
    """,
    tags=("E324", "E110", "W1", "A1", "F6"),
)
def q_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimate of each event type's value
    distribution — the heavy-tail screen run before choosing
    mean-based vs quantile-based monitoring (a finite-mean Pareto
    needs alpha > 1, finite variance alpha > 2; the fixture's
    exponential values have gamma -> 0 as the effective index, which
    the estimator reports faithfully): gamma_Hill = mean over the
    top-200 order statistics of ln(x_i) - ln(x_k). Each ln is
    1e-9-quantized BEFORE the sum (libm house guard, E74/E76
    pattern), so the per-series total is an exact BIGINT and the
    only doubles are two final fixed-order ops (mean, reciprocal),
    1e-6-quantized. alpha = 1/gamma is derived FROM the quantized
    gamma (one division on identical inputs). Order statistics come
    from one per-series top-k window — rank ties broken by event_id,
    value-identical so the sum is tie-insensitive; WindowGroupLimit
    prunes the scan at any scale."""
    e = ensure_parallelism(load_table(spark, sf_dir, "events")).filter(
        F.col("value") > 0
    )
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.col("event_id")
    )
    lnq = lambda c: F.floor(  # noqa: E731
        F.log(c) * 1000000000 + F.lit(0.5)
    ).cast("long")
    top = (
        e.select("event_type", "value", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _HILL_K)
    )
    agg = (
        top.groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("rk") < _HILL_K, lnq(F.col("value"))).otherwise(0)
            ).alias("s_q"),
            F.sum(F.when(F.col("rk") < _HILL_K, 1).otherwise(0)).alias("cnt"),
            F.max(
                F.when(F.col("rk") == _HILL_K, lnq(F.col("value")))
            ).alias("xk_q"),
        )
        .filter(F.col("xk_q").isNotNull())
    )
    gamma = (
        F.floor(
            (F.col("s_q") - F.col("cnt") * F.col("xk_q")).cast("double")
            / 1000000000.0
            / F.col("cnt")
            * 1000000
            + F.lit(0.5)
        ).cast("bigint")
        / 1e6
    )
    return agg.select(
        "event_type",
        F.col("cnt").cast("bigint").alias("k_used"),
        gamma.alias("hill_gamma"),
        (
            F.floor(
                F.lit(1.0) / F.nullif(gamma, F.lit(0.0)) * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1e6
        ).alias("alpha"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# E342: Jarque-Bera normality test — exact small-integer power sums
# --------------------------------------------------------------------------


@query(
    "q_jarque_bera_quantity",
    oracle="""
    WITH sums AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s2,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                  AS BIGINT) AS s4
      FROM lineitem GROUP BY 1),
    cm AS (
      SELECT l_returnflag, n,
             CAST(s1 AS DOUBLE) / n AS m,
             CAST(s2 AS DOUBLE) / n AS r2,
             CAST(s3 AS DOUBLE) / n AS r3,
             CAST(s4 AS DOUBLE) / n AS r4
      FROM sums),
    mom AS (
      SELECT l_returnflag, n, m,
             r2 - m * m AS m2,
             r3 - 3.0e0 * m * r2 + 2.0e0 * m * m * m AS m3,
             r4 - 4.0e0 * m * r3 + 6.0e0 * m * m * r2
                - 3.0e0 * m * m * m * m AS m4
      FROM cm),
    stat AS (
      SELECT l_returnflag, n,
             m3 / (m2 * sqrt(m2)) AS s,
             m4 / (m2 * m2) AS k
      FROM mom),
    jb AS (
      SELECT l_returnflag, n, s, k,
             n / 6.0e0 * (s * s + (k - 3.0e0) * (k - 3.0e0) / 4.0e0) AS jb
      FROM stat)
    SELECT l_returnflag, n AS n_rows,
           CAST(FLOOR(s * 1000000 + 0.5) AS BIGINT) / 1e6 AS skewness,
           CAST(FLOOR(k * 1000000 + 0.5) AS BIGINT) / 1e6 AS kurtosis,
           CAST(FLOOR(jb * 1000000 + 0.5) AS BIGINT) / 1e6 AS jb_stat,
           CAST(FLOOR(exp(-jb / 2.0e0) * 1000000 + 0.5) AS BIGINT) / 1e6
             AS p_value
    FROM jb ORDER BY l_returnflag
    """,
    tags=("E342", "E112", "A6", "A1", "F6"),
)
def q_jarque_bera_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test of l_quantity per return flag — the
    moment-based goodness-of-fit the drift family (PSI E104, MMD E329)
    lacks: JB = n/6 (S^2 + (K-3)^2/4) rejects normality from exact
    skewness and kurtosis alone, and its null distribution is
    chi-square(2), whose survival function is the CLOSED FORM
    exp(-JB/2) — no incomplete-gamma needed. Determinism: quantity is
    integer-valued 1..50, so all four raw power sums are exact BIGINTs
    (q^4 * rows stays far under 2^63 through the 32x probe); central
    moments, S and K are then ONE fixed-shape double expression over
    those integers written identically in both engines, and the only
    libm call (exp) is output-quantized at 1e-6 (the r6 recipe).
    Scale shape: one map-side-combinable groupBy over a 3-value key —
    the whole test is a single aggregate pass at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    qv = F.col("l_quantity").cast("bigint")
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(qv).cast("bigint").alias("s1"),
        F.sum(qv * qv).cast("bigint").alias("s2"),
        F.sum(qv * qv * qv).cast("bigint").alias("s3"),
        F.sum(qv * qv * qv * qv).cast("bigint").alias("s4"),
    )
    n = F.col("n")
    m = F.col("s1").cast("double") / n
    r2 = F.col("s2").cast("double") / n
    r3 = F.col("s3").cast("double") / n
    r4 = F.col("s4").cast("double") / n
    cm = sums.select(
        "l_returnflag",
        "n",
        m.alias("m"),
        (r2 - m * m).alias("m2"),
        (r3 - F.lit(3.0) * m * r2 + F.lit(2.0) * m * m * m).alias("m3"),
        (
            r4
            - F.lit(4.0) * m * r3
            + F.lit(6.0) * m * m * r2
            - F.lit(3.0) * m * m * m * m
        ).alias("m4"),
    )
    s = F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
    k = F.col("m4") / (F.col("m2") * F.col("m2"))
    stat = cm.select("l_returnflag", "n", s.alias("s"), k.alias("k"))
    jb = (
        F.col("n") / F.lit(6.0)
        * (
            F.col("s") * F.col("s")
            + (F.col("k") - F.lit(3.0)) * (F.col("k") - F.lit(3.0)) / F.lit(4.0)
        )
    )

    def q6(c: Column) -> Column:
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1e6

    return (
        stat.select(
            "l_returnflag",
            F.col("n").alias("n_rows"),
            q6(F.col("s")).alias("skewness"),
            q6(F.col("k")).alias("kurtosis"),
            jb.alias("_jb"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "skewness",
            "kurtosis",
            q6(F.col("_jb")).alias("jb_stat"),
            q6(F.exp(-F.col("_jb") / F.lit(2.0))).alias("p_value"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# E343: Durbin-Watson — serial correlation of OLS residuals over time
# --------------------------------------------------------------------------


@query(
    "q_durbin_watson_daily",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT event_type, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                  AS BIGINT) AS x
      FROM daily),
    mo AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM seq GROUP BY 1),
    fit AS (
      SELECT event_type, n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             sx, sy
      FROM mo),
    fit2 AS (
      SELECT event_type, n, b,
             (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n AS a
      FROM fit),
    resid AS (
      SELECT s.event_type, s.x,
             CAST(s.y AS DOUBLE) - (f.a + f.b * CAST(s.x AS DOUBLE)) AS e
      FROM seq s JOIN fit2 f USING (event_type)),
    lagd AS (
      SELECT event_type, e,
             lag(e) OVER (PARTITION BY event_type ORDER BY x) AS ep
      FROM resid),
    terms AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN ep IS NULL THEN 0
                           ELSE CAST(FLOOR((e - ep) * (e - ep) * 0.01e0 + 0.5)
                                     AS BIGINT) END) AS BIGINT) AS num_q,
             CAST(SUM(CAST(FLOOR(e * e * 0.01e0 + 0.5) AS BIGINT)) AS BIGINT)
               AS den_q,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM lagd GROUP BY 1)
    SELECT t.event_type, t.n_days,
           CAST(FLOOR(f.b * 1000000 + 0.5) AS BIGINT) / 1e6 AS slope_cents,
           CAST(FLOOR(CAST(t.num_q AS DOUBLE) / t.den_q * 1000000 + 0.5)
                AS BIGINT) / 1e6 AS dw_stat
    FROM terms t JOIN fit2 f USING (event_type)
    ORDER BY t.event_type
    """,
    tags=("E343", "E109", "E110", "W3", "A1", "F4"),
)
def q_durbin_watson_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson serial-correlation test of detrended daily
    revenue per event type — the regression DIAGNOSTIC the closed-form
    OLS family (E109) reports nothing about: DW = sum((e_t -
    e_{t-1})^2) / sum(e_t^2) over the TIME-ORDERED residuals of the
    day-index trend fit (~2 means independent errors; toward 0,
    positive autocorrelation — i.e. the trend line is NOT capturing
    the series dynamics and the E110 ACF family should be consulted).
    Determinism: the fit comes from exact BIGINT moments; residuals
    are one fixed-shape double expression; and because double sums
    are summation-order-dependent, each residual TERM is quantized to
    a BIGINT (at 1e-2 scale for 32x headroom) BEFORE the order-free
    integer sum (the r6 recipe). Scale shape: events collapse to the
    day grain in one map-side-combinable pass; everything after runs
    on day-count-bounded state (one small window shuffle)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type",
        "y",
        F.row_number().over(w).cast("bigint").alias("x"),
    )
    x, y = F.col("x"), F.col("y")
    mo = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    b = (n * F.col("sxy") - sx * sy).cast("double") / (
        n * F.col("sxx") - sx * sx
    ).cast("double")
    fit2 = mo.select(
        "event_type", "n", b.alias("b"), "sx", "sy"
    ).select(
        "event_type",
        "n",
        "b",
        (
            (F.col("sy").cast("double") - F.col("b") * F.col("sx").cast("double"))
            / F.col("n")
        ).alias("a"),
    )
    resid = seq.join(F.broadcast(fit2), "event_type").select(
        "event_type",
        "x",
        (y.cast("double") - (F.col("a") + F.col("b") * x.cast("double"))).alias(
            "e"
        ),
    )
    lw = Window.partitionBy("event_type").orderBy("x")
    lagd = resid.select(
        "event_type", "e", F.lag("e").over(lw).alias("ep")
    )
    diff2 = (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep"))
    terms = lagd.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("ep").isNull(), F.lit(0)).otherwise(
                F.floor(diff2 * F.lit(0.01) + F.lit(0.5)).cast("bigint")
            )
        )
        .cast("bigint")
        .alias("num_q"),
        F.sum(
            F.floor(F.col("e") * F.col("e") * F.lit(0.01) + F.lit(0.5)).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("den_q"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    return (
        terms.join(F.broadcast(fit2.select("event_type", "b")), "event_type")
        .select(
            "event_type",
            "n_days",
            (
                F.floor(F.col("b") * 1000000 + F.lit(0.5)).cast("bigint") / 1e6
            ).alias("slope_cents"),
            (
                F.floor(
                    F.col("num_q").cast("double") / F.col("den_q") * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("dw_stat"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E346: Lorenz curve — cumulative revenue share at customer deciles
# --------------------------------------------------------------------------


@query(
    "q_lorenz_customer_revenue",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS v
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT v,
             CAST(ROW_NUMBER() OVER (ORDER BY v, o_custkey) AS BIGINT) AS rn,
             CAST(SUM(v) OVER (ORDER BY v, o_custkey
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(v) OVER () AS BIGINT) AS total,
             CAST(SUM(rnv_q6) OVER () AS BIGINT) AS a_sum
      FROM (SELECT o_custkey, v,
                   -- rank x cents quantized per term at 1e-6 BEFORE the
                   -- sum: the exact BIGINT product overflows int64 at
                   -- 32x (caught by the r11 probe — Spark ANSI raised
                   -- where DuckDB silently widened to HUGEINT); the
                   -- 1e-6 scale keeps the SUM inside int64 to ~1e9
                   -- customers and both engines run the identical
                   -- double->floor shape
                   CAST(FLOOR(CAST(ROW_NUMBER() OVER (ORDER BY v, o_custkey)
                                   AS DOUBLE) * v * 1e-6 + 0.5) AS BIGINT)
                     AS rnv_q6
            FROM per_cust)),
    pts AS (
      SELECT d.d, r.rn, r.cum, r.n, r.total, r.a_sum
      FROM ranked r
      JOIN (SELECT unnest(generate_series(1, 10)) AS d) d
        ON r.rn = r.n * d.d // 10)
    SELECT CAST(d AS BIGINT) AS decile,
           rn AS n_customers,
           cum AS cum_cents,
           CAST(FLOOR(CAST(cum AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)
             / 1e6 AS cum_share,
           CAST(FLOOR((2.0e0 * a_sum * 1e6 - (n + 1.0e0) * total)
                      / (n * 1.0e0 * total) * 1000000 + 0.5) AS BIGINT)
             / 1e6 AS gini
    FROM pts ORDER BY decile
    """,
    tags=("E346", "E111", "W4", "W1", "A1"),
)
def q_lorenz_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue concentration — the
    distributional PICTURE behind a scalar inequality index: sort
    customers by exact lifetime cents ascending, and report the
    cumulative revenue share held by the bottom d/10 of customers at
    each decile cut (rank floor(n*d/10)), plus the rank-based Gini
    cross-check gini = (2*sum(rank*v) - (n+1)*total) / (n*total)
    derived from the SAME ranking. The rank-x-cents terms are
    1e-6-quantized to BIGINT BEFORE the sum (the E343 recipe): the
    exact product sum overflows int64 at 32x — Spark's ANSI SUM
    raised where DuckDB silently widened to HUGEINT (caught by the
    r11 probe) — while the quantized sum fits int64 to ~1e9 customers
    and runs the identical double->floor shape in both engines.
    The training-data-curation use is
    source/contributor concentration auditing: "the top 10% of
    customers carry 1 - L(9) of revenue" is the same audit as "the
    top 10% of domains carry X% of the corpus" (E42/E292 planners).
    Scale shape: one groupBy to customer grain, one global sort of
    the customer-grain frame (domain-sized, not event-sized), decile
    rows selected by rank equality — no self-join, no explode."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("v")
    )
    wo = Window.orderBy("v", "o_custkey")
    # rank x cents quantized per term at 1e-6 BEFORE the sum (r11 32x
    # probe: the exact BIGINT product sum overflowed int64 — Spark ANSI
    # raised where DuckDB silently widened to HUGEINT; the quantized
    # form fits int64 to ~1e9 customers, identical shape both engines).
    ranked = per_cust.select(
        "v",
        F.row_number().over(wo).cast("bigint").alias("rn"),
    ).select(
        "v",
        "rn",
        F.floor(
            F.col("rn").cast("double") * F.col("v") * F.lit(1e-6) + F.lit(0.5)
        )
        .cast("long")
        .alias("rnv_q6"),
    )
    wall = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.orderBy("rn").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    curve = ranked.select(
        "rn",
        F.sum("v").over(wall).cast("bigint").alias("cum"),
        F.count(F.lit(1)).over(wtot).cast("bigint").alias("n"),
        F.sum("v").over(wtot).cast("bigint").alias("total"),
        F.sum("rnv_q6").over(wtot).cast("bigint").alias("a_sum"),
    )
    deciles = spark.range(1, 11).select(F.col("id").alias("d"))
    pts = curve.join(
        F.broadcast(deciles),
        F.col("rn") == F.expr("n * d DIV 10"),
    )
    gini = (
        F.lit(2.0) * F.col("a_sum") * F.lit(1e6)
        - (F.col("n") + F.lit(1.0)) * F.col("total")
    ) / (F.col("n") * F.lit(1.0) * F.col("total"))
    return pts.select(
        F.col("d").cast("bigint").alias("decile"),
        F.col("rn").alias("n_customers"),
        F.col("cum").alias("cum_cents"),
        (
            F.floor(
                F.col("cum").cast("double") / F.col("total") * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1e6
        ).alias("cum_share"),
        (
            F.floor(gini * 1000000 + F.lit(0.5)).cast("bigint") / 1e6
        ).alias("gini"),
    ).orderBy("decile")


# --------------------------------------------------------------------------
# E348: weekly seasonal decomposition — MA trend, dow seasonal, strength
# --------------------------------------------------------------------------


@query(
    "q_seasonal_decomposition_weekly",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1, 2),
    win AS MATERIALIZED (
      SELECT event_type, d, y,
             CAST(isodow(d) AS BIGINT) AS dow,
             CAST(SUM(y) OVER w AS BIGINT) AS s7,
             CAST(COUNT(*) OVER w AS BIGINT) AS c7
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY d
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS MATERIALIZED (
      SELECT event_type, dow, 7 * y - s7 AS d7
      FROM win WHERE c7 = 7),
    seas AS MATERIALIZED (
      SELECT event_type, dow,
             CAST(SUM(d7) AS BIGINT) AS num,
             CAST(COUNT(*) AS BIGINT) AS den
      FROM det GROUP BY 1, 2),
    ss AS (
      SELECT t.event_type,
             CAST(SUM(CAST(FLOOR(CAST(t.d7 AS DOUBLE) * t.d7 * 0.0001e0
                                 + 0.5) AS BIGINT)) AS BIGINT) AS ssd,
             CAST(SUM(CAST(FLOOR((t.d7 - CAST(s.num AS DOUBLE) / s.den)
                                 * (t.d7 - CAST(s.num AS DOUBLE) / s.den)
                                 * 0.0001e0 + 0.5) AS BIGINT)) AS BIGINT)
               AS ssr,
             CAST(COUNT(*) AS BIGINT) AS n_complete
      FROM det t JOIN seas s
        ON s.event_type = t.event_type AND s.dow = t.dow
      GROUP BY 1)
    SELECT s.event_type,
           s.dow,
           s.den AS n_days,
           CAST(FLOOR(CAST(s.num AS DOUBLE) / (s.den * 7.0e0) * 1000000
                      + 0.5) AS BIGINT) / 1e6 AS seasonal_cents,
           x.n_complete,
           CAST(FLOOR((1.0e0 - CAST(x.ssr AS DOUBLE) / x.ssd) * 1000000
                      + 0.5) AS BIGINT) / 1e6 AS seasonal_strength
    FROM seas s JOIN ss x ON x.event_type = s.event_type
    ORDER BY s.event_type, s.dow
    """,
    tags=("E348", "E110", "E34", "W5", "A1", "F4"),
)
def q_seasonal_decomposition_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical weekly seasonal decomposition of each event type's
    daily revenue — trend = centered 7-day moving average (complete
    windows only), seasonal = day-of-week mean of the detrended
    series, plus the STL-style strength-of-seasonality statistic
    1 - SS_resid/SS_detrended that says whether the weekly pattern
    is signal or noise (the planning decision behind E97/E110).
    Integer-exact detrending: the detrended value is carried as
    d7 = 7*y - sum7 (exact BIGINT in 1/7-cents units — no division,
    no doubles, until the final readout), the seasonal mean is an
    exact (num, den) rational, and the two sums of squares quantize
    each term to BIGINT before the order-free sum (the E343 recipe;
    1e-4 scale for 32x headroom). Day-of-week is ISO (isodow /
    weekday+1 — identical in both engines). Scale shape: one
    map-side day-grain collapse, one day-count-bounded window, one
    7-row-per-type broadcast join back."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("y")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    win = daily.select(
        "event_type",
        (F.weekday(F.col("d")) + 1).cast("bigint").alias("dow"),
        "y",
        F.sum("y").over(w).cast("bigint").alias("s7"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("c7"),
    )
    det = win.filter(F.col("c7") == 7).select(
        "event_type", "dow", (F.lit(7) * F.col("y") - F.col("s7")).alias("d7")
    )
    det = tracked_persist(det)
    seas = det.groupBy("event_type", "dow").agg(
        F.sum("d7").cast("bigint").alias("num"),
        F.count(F.lit(1)).cast("bigint").alias("den"),
    )
    seas = tracked_persist(seas)
    smean = F.col("num").cast("double") / F.col("den")
    joined = det.join(F.broadcast(seas), ["event_type", "dow"])
    resid = F.col("d7") - smean
    ss = joined.groupBy("event_type").agg(
        F.sum(
            F.floor(
                F.col("d7").cast("double") * F.col("d7") * F.lit(0.0001)
                + F.lit(0.5)
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("ssd"),
        F.sum(
            F.floor(resid * resid * F.lit(0.0001) + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("ssr"),
        F.count(F.lit(1)).cast("bigint").alias("n_complete"),
    )
    return (
        seas.join(ss, "event_type")
        .select(
            "event_type",
            "dow",
            F.col("den").alias("n_days"),
            (
                F.floor(
                    F.col("num").cast("double") / (F.col("den") * F.lit(7.0))
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("seasonal_cents"),
            "n_complete",
            (
                F.floor(
                    (
                        F.lit(1.0)
                        - F.col("ssr").cast("double") / F.col("ssd")
                    )
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("seasonal_strength"),
        )
        .orderBy("event_type", "dow")
    )


# --------------------------------------------------------------------------
# E349: partial autocorrelation (PACF) via unrolled Durbin-Levinson
# --------------------------------------------------------------------------


def _pacf_oracle() -> str:
    gam = {}
    for k in range(4):
        gam[k] = (
            f"(CAST(s{k} AS DOUBLE) - (CAST(s1t AS DOUBLE) / n)"
            f" * (a{k} + b{k}) + (n - {k}) * (CAST(s1t AS DOUBLE) / n)"
            f" * (CAST(s1t AS DOUBLE) / n)) / n"
        )
    return f"""
    WITH hourly AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
               FROM hourly GROUP BY 1),
    spine AS (
      SELECT event_type,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds),
    serie AS MATERIALIZED (
      SELECT s.event_type, s.h,
             CAST(COALESCE(hy.c, 0) AS BIGINT) AS y
      FROM spine s LEFT JOIN hourly hy
        ON s.event_type = hy.event_type AND s.h = hy.h),
    lagd AS (
      SELECT event_type, y,
             lag(y, 1) OVER w AS l1,
             lag(y, 2) OVER w AS l2,
             lag(y, 3) OVER w AS l3
      FROM serie WINDOW w AS (PARTITION BY event_type ORDER BY h)),
    mo AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS s1t,
             CAST(SUM(y * y) AS BIGINT) AS s0,
             CAST(SUM(y) AS BIGINT) AS a0,
             CAST(SUM(y) AS BIGINT) AS b0,
             CAST(SUM(y * l1) AS BIGINT) AS s1,
             CAST(SUM(CASE WHEN l1 IS NULL THEN NULL ELSE y END) AS BIGINT) AS b1,
             CAST(SUM(l1) AS BIGINT) AS a1,
             CAST(SUM(y * l2) AS BIGINT) AS s2,
             CAST(SUM(CASE WHEN l2 IS NULL THEN NULL ELSE y END) AS BIGINT) AS b2,
             CAST(SUM(l2) AS BIGINT) AS a2,
             CAST(SUM(y * l3) AS BIGINT) AS s3,
             CAST(SUM(CASE WHEN l3 IS NULL THEN NULL ELSE y END) AS BIGINT) AS b3,
             CAST(SUM(l3) AS BIGINT) AS a3
      FROM lagd GROUP BY 1),
    gam AS (
      SELECT event_type, n,
             {gam[0]} AS g0, {gam[1]} AS g1, {gam[2]} AS g2, {gam[3]} AS g3
      FROM mo),
    rho AS (
      SELECT event_type, n,
             g1 / g0 AS r1, g2 / g0 AS r2, g3 / g0 AS r3
      FROM gam),
    dl AS (
      SELECT event_type, n, r1, r2, r3,
             (r2 - r1 * r1) / (1.0e0 - r1 * r1) AS p2
      FROM rho),
    dl2 AS (
      SELECT event_type, n, r1, r2, r3, p2,
             r1 - p2 * r1 AS c21
      FROM dl),
    dl3 AS (
      SELECT event_type, n, r1, r2, r3, p2,
             (r3 - c21 * r2 - p2 * r1)
               / (1.0e0 - c21 * r1 - p2 * r2) AS p3
      FROM dl2)
    SELECT event_type, n AS n_hours,
           CAST(FLOOR(r1 * 1000000 + 0.5) AS BIGINT) / 1e6 AS acf_1,
           CAST(FLOOR(r2 * 1000000 + 0.5) AS BIGINT) / 1e6 AS acf_2,
           CAST(FLOOR(r3 * 1000000 + 0.5) AS BIGINT) / 1e6 AS acf_3,
           CAST(FLOOR(r1 * 1000000 + 0.5) AS BIGINT) / 1e6 AS pacf_1,
           CAST(FLOOR(p2 * 1000000 + 0.5) AS BIGINT) / 1e6 AS pacf_2,
           CAST(FLOOR(p3 * 1000000 + 0.5) AS BIGINT) / 1e6 AS pacf_3
    FROM dl3 ORDER BY event_type
    """


@query(
    "q_pacf_hourly",
    oracle=_pacf_oracle(),
    tags=("E349", "E110", "E343", "W3", "A1", "F4"),
)
def q_pacf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of each event type's hourly arrival
    series at lags 1-3, via the Durbin-Levinson recursion UNROLLED to
    closed form — the AR-order diagnostic the raw ACF (E110) cannot
    give (ACF of an AR(1) decays forever; its PACF cuts off at 1 —
    the cutoff lag is how Box-Jenkins picks p). Stationary-convention
    autocovariances: gamma_k = (S_k - m(A_k + B_k) + (n-k) m^2)/n
    where S_k, A_k, B_k are EXACT BIGINT lag-product/truncated sums
    over the zero-filled hourly spine and m = s1/n enters once as a
    double; rho_k = gamma_k/gamma_0, then phi11 = rho1, phi22 =
    (rho2 - rho1^2)/(1 - rho1^2), phi33 from the second DL step with
    phi21 = rho1 - phi22*rho1 — one fixed-shape double expression
    written identically in both engines (the E342 recipe), outputs
    quantized at 1e-6. Scale shape: one hour-grain collapse, one
    keyed window for the three lags, one per-type aggregate — the
    spine is time-bounded, never event-bounded."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias(
            "h"
        ),
    )
    serie = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        "h",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("y"),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    lagd = serie.select(
        "event_type",
        "y",
        F.lag("y", 1).over(w).alias("l1"),
        F.lag("y", 2).over(w).alias("l2"),
        F.lag("y", 3).over(w).alias("l3"),
    )
    y = F.col("y")
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(y).cast("bigint").alias("s1t"),
        F.sum(y * y).cast("bigint").alias("s0"),
        F.sum(y).cast("bigint").alias("a0"),
        F.sum(y).cast("bigint").alias("b0"),
    ]
    for k in (1, 2, 3):
        lk = F.col(f"l{k}")
        aggs += [
            F.sum(y * lk).cast("bigint").alias(f"s{k}"),
            F.sum(F.when(lk.isNotNull(), y)).cast("bigint").alias(f"b{k}"),
            F.sum(lk).cast("bigint").alias(f"a{k}"),
        ]
    mo = lagd.groupBy("event_type").agg(*aggs)
    n = F.col("n")
    m = F.col("s1t").cast("double") / n

    def gamma(k: int):
        return (
            F.col(f"s{k}").cast("double")
            - m * (F.col(f"a{k}") + F.col(f"b{k}"))
            + (n - F.lit(k)) * m * m
        ) / n

    rho = mo.select(
        "event_type",
        "n",
        (gamma(1) / gamma(0)).alias("r1"),
        (gamma(2) / gamma(0)).alias("r2"),
        (gamma(3) / gamma(0)).alias("r3"),
    )
    r1, r2, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    dl = rho.select(
        "event_type",
        "n",
        "r1",
        "r2",
        "r3",
        ((r2 - r1 * r1) / (F.lit(1.0) - r1 * r1)).alias("p2"),
    )
    dl2 = dl.select(
        "*", (r1 - F.col("p2") * r1).alias("c21")
    )
    p3 = (
        (r3 - F.col("c21") * r2 - F.col("p2") * r1)
        / (F.lit(1.0) - F.col("c21") * r1 - F.col("p2") * r2)
    )
    dl3 = dl2.select("event_type", "n", "r1", "r2", "r3", "p2", p3.alias("p3"))

    def q6(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1e6

    return dl3.select(
        "event_type",
        F.col("n").alias("n_hours"),
        q6(r1).alias("acf_1"),
        q6(r2).alias("acf_2"),
        q6(r3).alias("acf_3"),
        q6(r1).alias("pacf_1"),
        q6(F.col("p2")).alias("pacf_2"),
        q6(F.col("p3")).alias("pacf_3"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# E353: Wald-Wolfowitz runs test — randomness of detrended residual signs
# --------------------------------------------------------------------------


@query(
    "q_runs_test_daily",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT event_type, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                  AS BIGINT) AS x
      FROM daily),
    mo AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM seq GROUP BY 1),
    fit AS (
      SELECT event_type, n,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b, sx, sy
      FROM mo),
    fit2 AS (
      SELECT event_type, n, b,
             (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n AS a
      FROM fit),
    sgn AS (
      SELECT s.event_type, s.x,
             CASE WHEN CAST(s.y AS DOUBLE)
                       - (f.a + f.b * CAST(s.x AS DOUBLE)) >= 0
                  THEN 1 ELSE 0 END AS pos
      FROM seq s JOIN fit2 f USING (event_type)),
    runs AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN prev IS NULL OR prev <> pos
                           THEN 1 ELSE 0 END) AS BIGINT) AS r,
             CAST(SUM(pos) AS BIGINT) AS np,
             CAST(SUM(1 - pos) AS BIGINT) AS nm,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT event_type, pos,
                   lag(pos) OVER (PARTITION BY event_type ORDER BY x)
                     AS prev
            FROM sgn)
      GROUP BY 1),
    stat AS (
      SELECT event_type, r, np, nm, n,
             2.0e0 * np * nm / n + 1.0e0 AS mu,
             (2.0e0 * np * nm) * (2.0e0 * np * nm - n)
               / (CAST(n AS DOUBLE) * n * (n - 1)) AS var
      FROM runs)
    SELECT event_type, n AS n_days, r AS n_runs, np AS n_pos, nm AS n_neg,
           CAST(FLOOR(mu * 1000000 + 0.5) AS BIGINT) / 1e6 AS expected_runs,
           CAST(FLOOR((r - mu) / NULLIF(sqrt(var), 0.0e0) * 1000000 + 0.5)
                AS BIGINT) / 1e6 AS z_stat
    FROM stat ORDER BY event_type
    """,
    tags=("E353", "E343", "E110", "W3", "A1"),
)
def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the SIGNS of the detrended daily
    revenue residuals — the nonparametric randomness check that
    complements Durbin-Watson (E343): DW measures the magnitude of
    lag-1 correlation, the runs test asks only whether +/- residuals
    CLUSTER (too few runs) or alternate (too many) versus the
    exchangeable null, so it catches regime-switching behavior a
    near-2 DW can hide. Same exact-moment trend fit as E343;
    residual signs (>= 0 is positive, a pinned deterministic
    convention), runs counted as sign-change boundaries via one
    keyed window lag, then the classic mu = 2 n+ n-/n + 1 and
    variance in one fixed-shape double expression, z quantized at
    1e-6 with a NULLIF guard for the all-one-sign degenerate case.
    Scale shape: day-grain collapse + one keyed window — identical
    to the E343 plan."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("y")
    )
    w = Window.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type", "y", F.row_number().over(w).cast("bigint").alias("x")
    )
    x, y = F.col("x"), F.col("y")
    mo = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    b = (n * F.col("sxy") - sx * sy).cast("double") / (
        n * F.col("sxx") - sx * sx
    ).cast("double")
    fit2 = mo.select("event_type", "n", b.alias("b"), "sx", "sy").select(
        "event_type",
        "n",
        "b",
        (
            (F.col("sy").cast("double") - F.col("b") * F.col("sx").cast("double"))
            / F.col("n")
        ).alias("a"),
    )
    sgn = seq.join(F.broadcast(fit2.select("event_type", "a", "b")), "event_type").select(
        "event_type",
        "x",
        F.when(
            y.cast("double") - (F.col("a") + F.col("b") * x.cast("double"))
            >= 0,
            1,
        )
        .otherwise(0)
        .alias("pos"),
    )
    lw = Window.partitionBy("event_type").orderBy("x")
    lagd = sgn.select(
        "event_type", "pos", F.lag("pos").over(lw).alias("prev")
    )
    runs = lagd.groupBy("event_type").agg(
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("prev") != F.col("pos")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("r"),
        F.sum("pos").cast("bigint").alias("np"),
        F.sum(F.lit(1) - F.col("pos")).cast("bigint").alias("nm"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    mu = F.lit(2.0) * F.col("np") * F.col("nm") / F.col("n") + F.lit(1.0)
    var = (
        (F.lit(2.0) * F.col("np") * F.col("nm"))
        * (F.lit(2.0) * F.col("np") * F.col("nm") - F.col("n"))
        / (F.col("n").cast("double") * F.col("n") * (F.col("n") - 1))
    )
    return runs.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("r").alias("n_runs"),
        F.col("np").alias("n_pos"),
        F.col("nm").alias("n_neg"),
        (F.floor(mu * 1000000 + F.lit(0.5)).cast("bigint") / 1e6).alias(
            "expected_runs"
        ),
        (
            F.floor(
                (F.col("r") - mu) / F.nullif(F.sqrt(var), F.lit(0.0)) * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1e6
        ).alias("z_stat"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# E355: Hurst exponent — aggregated-variance method over hourly arrivals
# --------------------------------------------------------------------------


def _hurst_oracle() -> str:
    aggs = []
    for k, m in enumerate((1, 2, 4, 8)):
        aggs.append(
            f"""
    v{k} AS (
      SELECT event_type,
             (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nb)
               / NULLIF(nb - 1, 0) / ({m} * {m}.0e0) AS vm
      FROM (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM(bs) AS BIGINT) AS s1,
               CAST(SUM(bs * bs) AS BIGINT) AS s2
        FROM (
          SELECT event_type, (x - 1) // {m} AS blk,
                 CAST(SUM(y) AS BIGINT) AS bs
          FROM serie GROUP BY 1, 2 HAVING COUNT(*) = {m})
        GROUP BY 1))"""
        )
    return f"""
    WITH hourly AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, MIN(h) AS h0, MAX(h) AS h1
               FROM hourly GROUP BY 1),
    spine AS (
      SELECT event_type,
             unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
      FROM bounds),
    serie AS MATERIALIZED (
      SELECT s.event_type,
             CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type
                                     ORDER BY s.h) AS BIGINT) AS x,
             CAST(COALESCE(hy.c, 0) AS BIGINT) AS y
      FROM spine s LEFT JOIN hourly hy
        ON s.event_type = hy.event_type AND s.h = hy.h),
    {','.join(aggs)},
    lv AS (
      SELECT v0.event_type,
             CAST(FLOOR(ln(v0.vm) * 1000000000 + 0.5) AS BIGINT) / 1e9 AS y0,
             CAST(FLOOR(ln(v1.vm) * 1000000000 + 0.5) AS BIGINT) / 1e9 AS y1,
             CAST(FLOOR(ln(v2.vm) * 1000000000 + 0.5) AS BIGINT) / 1e9 AS y2,
             CAST(FLOOR(ln(v3.vm) * 1000000000 + 0.5) AS BIGINT) / 1e9 AS y3
      FROM v0 JOIN v1 USING (event_type) JOIN v2 USING (event_type)
              JOIN v3 USING (event_type)),
    fit AS (
      SELECT event_type, y0, y3,
             (4.0e0 * (y1 + 2.0e0 * y2 + 3.0e0 * y3)
              - 6.0e0 * (y0 + y1 + y2 + y3)) / 20.0e0 AS slope_k
      FROM lv)
    SELECT event_type,
           CAST(FLOOR((1.0e0 + slope_k / (2.0e0 * 0.6931471805599453e0))
                      * 1000000 + 0.5) AS BIGINT) / 1e6 AS hurst,
           CAST(FLOOR(slope_k * 1000000 + 0.5) AS BIGINT) / 1e6 AS var_slope,
           CAST(FLOOR(y0 * 1000000 + 0.5) AS BIGINT) / 1e6 AS ln_var_m1,
           CAST(FLOOR(y3 * 1000000 + 0.5) AS BIGINT) / 1e6 AS ln_var_m8
    FROM fit ORDER BY event_type
    """


@query(
    "q_hurst_aggregated_variance",
    oracle=_hurst_oracle(),
    tags=("E355", "E350", "E110", "A6", "A1", "F4"),
)
def q_hurst_aggregated_variance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hurst exponent of each event type's hourly arrival process by
    the AGGREGATED-VARIANCE method — the long-range-dependence
    diagnostic beyond lag-k ACF (E110) and dispersion (E350): for a
    self-similar process the variance of the m-aggregated series
    decays like m^(2H-2), so H > 0.5 (persistent/bursty-at-all-
    scales) vs H = 0.5 (short-memory) falls out of the slope of
    ln var(block mean) against ln m over m in (1, 2, 4, 8)
    (complete blocks only). Block-sum moments are exact BIGINTs;
    each ln(var) is quantized at 1e-9 straight after the ONLY libm
    call (the r6 recipe), and the 4-point OLS reduces to the closed
    form (4*Sxy - 6*Sy)/20 since x = k in 0..3 — one fixed-shape
    double expression per type. Scale shape: one hour-grain
    collapse, four block aggregates over the time-bounded spine,
    one 4-column join — never event-sized state."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias(
            "h"
        ),
    )
    w = Window.partitionBy("event_type").orderBy("h")
    serie = spine.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        F.row_number().over(w).cast("bigint").alias("x"),
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("y"),
    )
    serie = tracked_persist(serie)
    vs = []
    for k, m in enumerate((1, 2, 4, 8)):
        blocks = (
            serie.groupBy(
                "event_type",
                ((F.col("x") - 1) / m).cast("long").alias("blk"),
            )
            .agg(
                F.sum("y").cast("bigint").alias("bs"),
                F.count(F.lit(1)).alias("cnt"),
            )
            .filter(F.col("cnt") == m)
        )
        mo = blocks.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("nb"),
            F.sum("bs").cast("bigint").alias("s1"),
            F.sum(F.col("bs") * F.col("bs")).cast("bigint").alias("s2"),
        )
        # NULLIF guard (ADVICE r10): a single complete block (nb = 1)
        # yields NULL variance on both engines instead of DuckDB's
        # IEEE Inf vs Spark's /0 NULL divergence.
        vm = (
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("nb")
            )
            / F.when(F.col("nb") > 1, F.col("nb") - 1)
            / F.lit(float(m * m))
        )
        lnq = (
            F.floor(F.log(vm) * 1000000000 + F.lit(0.5)).cast("bigint") / 1e9
        )
        vs.append(mo.select("event_type", lnq.alias(f"y{k}")))
    lv = vs[0]
    for v in vs[1:]:
        lv = lv.join(v, "event_type")
    slope = (
        F.lit(4.0)
        * (F.col("y1") + F.lit(2.0) * F.col("y2") + F.lit(3.0) * F.col("y3"))
        - F.lit(6.0)
        * (F.col("y0") + F.col("y1") + F.col("y2") + F.col("y3"))
    ) / F.lit(20.0)
    fit = lv.select("event_type", "y0", "y3", slope.alias("slope_k"))

    def q6(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1e6

    return fit.select(
        "event_type",
        q6(
            F.lit(1.0)
            + F.col("slope_k") / (F.lit(2.0) * F.lit(0.6931471805599453))
        ).alias("hurst"),
        q6(F.col("slope_k")).alias("var_slope"),
        q6(F.col("y0")).alias("ln_var_m1"),
        q6(F.col("y3")).alias("ln_var_m8"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# E356: 1-D Wasserstein (earth mover's) distance between value distributions
# --------------------------------------------------------------------------


@query(
    "q_wasserstein_value_pairs",
    oracle="""
    WITH hist AS MATERIALIZED (
      SELECT event_type AS t, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    types AS (SELECT DISTINCT t FROM hist),
    sup AS MATERIALIZED (
      SELECT x, LEAD(x) OVER (ORDER BY x) - x AS dx
      FROM (SELECT DISTINCT x FROM hist)),
    grid AS (SELECT ty.t, s.x, s.dx FROM types ty CROSS JOIN sup s),
    cum AS MATERIALIZED (
      SELECT g.t, g.x, g.dx,
             CAST(SUM(COALESCE(h.c, 0)) OVER (PARTITION BY g.t ORDER BY g.x)
                  AS BIGINT) AS cum
      FROM grid g LEFT JOIN hist h ON h.t = g.t AND h.x = g.x),
    tot AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY 1),
    terms AS (
      SELECT a.t AS type_a, b.t AS type_b,
             CAST(SUM(CAST(FLOOR(ABS(CAST(a.cum AS DOUBLE) / na.n
                                     - CAST(b.cum AS DOUBLE) / nb.n)
                                 * a.dx * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS sq
      FROM cum a JOIN cum b ON b.x = a.x AND a.t < b.t
      JOIN tot na ON na.t = a.t
      JOIN tot nb ON nb.t = b.t
      WHERE a.dx IS NOT NULL
      GROUP BY 1, 2)
    -- anchor on the pair list so a single-point support (identical
    -- distributions, no gap terms) still emits its pair with W1 = 0
    SELECT pa.t AS type_a, pb.t AS type_b, na.n AS n_a, nb.n AS n_b,
           CAST(COALESCE(t.sq, 0) AS BIGINT) / 1e6 AS w1_cents
    FROM types pa JOIN types pb ON pa.t < pb.t
    JOIN tot na ON na.t = pa.t
    JOIN tot nb ON nb.t = pb.t
    LEFT JOIN terms t ON t.type_a = pa.t AND t.type_b = pb.t
    ORDER BY 1, 2
    """,
    tags=("E356", "E219", "E135", "W4", "J6", "A1"),
)
def q_wasserstein_value_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """1-D Wasserstein-1 (earth mover's) distance between every pair
    of event types' value distributions — the distribution-shift
    metric with UNITS (cents of work to morph one distribution into
    the other) that KS (sup of CDF gap, unitless) and JS divergence
    (bits, support-sensitive) cannot give; the drift number a
    data-mixture planner can budget with. W1 on the line is the
    integral of |CDF_a - CDF_b|: computed over the merged distinct-
    cents support as sum |cum_a/n_a - cum_b/n_b| * gap-to-next-point,
    each term floor-quantized at 1e-6 to BIGINT before the order-free
    sum (the E343 recipe — both engines run the identical
    double->floor shape). Scale shape: the only corpus-sized work is
    the (type, cents) histogram groupBy (map-side combinable); all
    windows run on the distinct-cents support, which is bounded by
    the VALUE DOMAIN (~56k cents here), not the corpus — the E135
    score-histogram discipline; the pair fan-out is types^2 x
    support, with the type domain a fixed categorical."""
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    hist = tracked_persist(hist)
    types = hist.select("t").distinct()
    ws = Window.orderBy("x")
    sup = (
        hist.select("x")
        .distinct()
        .select("x", (F.lead("x").over(ws) - F.col("x")).alias("dx"))
    )
    grid = F.broadcast(types).crossJoin(sup)
    wt = Window.partitionBy("t").orderBy("x")
    cum = (
        grid.join(hist, ["t", "x"], "left")
        .select(
            "t",
            "x",
            "dx",
            F.coalesce(F.col("c"), F.lit(0)).alias("c0"),
        )
        .select(
            "t",
            "x",
            "dx",
            F.sum("c0").over(wt).cast("bigint").alias("cum"),
        )
    )
    cum = tracked_persist(cum)
    tot = hist.groupBy("t").agg(F.sum("c").cast("bigint").alias("n"))
    a = cum.alias("a")
    b = cum.alias("b")
    na = tot.select(F.col("t").alias("ta"), F.col("n").alias("n_a"))
    nb = tot.select(F.col("t").alias("tb"), F.col("n").alias("n_b"))
    q = F.floor(
        F.abs(
            F.col("a.cum").cast("double") / F.col("n_a")
            - F.col("b.cum").cast("double") / F.col("n_b")
        )
        * F.col("a.dx")
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    terms = (
        a.join(b, (F.col("b.x") == F.col("a.x")) & (F.col("a.t") < F.col("b.t")))
        .join(F.broadcast(na), F.col("a.t") == F.col("ta"))
        .join(F.broadcast(nb), F.col("b.t") == F.col("tb"))
        .filter(F.col("a.dx").isNotNull())
        .select(
            F.col("a.t").alias("type_a"),
            F.col("b.t").alias("type_b"),
            q.alias("q"),
        )
        .groupBy("type_a", "type_b")
        .agg(F.sum("q").cast("bigint").alias("sq"))
    )
    # Anchor on the pair list so a single-point support (identical
    # distributions, no gap terms) still emits its pair with W1 = 0.
    pa = types.select(F.col("t").alias("pa"))
    pb = types.select(F.col("t").alias("pb"))
    pairs = (
        pa.join(F.broadcast(pb), F.col("pa") < F.col("pb"))
        .join(F.broadcast(na), F.col("pa") == F.col("ta"))
        .join(F.broadcast(nb), F.col("pb") == F.col("tb"))
    )
    return (
        pairs.join(
            F.broadcast(terms),
            (F.col("pa") == F.col("type_a")) & (F.col("pb") == F.col("type_b")),
            "left",
        )
        .select(
            F.col("pa").alias("type_a"),
            F.col("pb").alias("type_b"),
            "n_a",
            "n_b",
            (
                F.coalesce(F.col("sq"), F.lit(0)).cast("bigint") / 1e6
            ).alias("w1_cents"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# E360: Cliff's delta — ordinal effect size between value distributions
# --------------------------------------------------------------------------


@query(
    "q_cliffs_delta_pairs",
    oracle="""
    WITH hist AS MATERIALIZED (
      SELECT event_type AS t, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    types AS (SELECT DISTINCT t FROM hist),
    sup AS (SELECT DISTINCT x FROM hist),
    grid AS (SELECT ty.t, s.x FROM types ty CROSS JOIN sup s),
    cum AS MATERIALIZED (
      SELECT g.t, g.x, CAST(COALESCE(h.c, 0) AS BIGINT) AS c,
             CAST(SUM(COALESCE(h.c, 0)) OVER (PARTITION BY g.t ORDER BY g.x)
                  AS BIGINT) AS cum
      FROM grid g LEFT JOIN hist h ON h.t = g.t AND h.x = g.x),
    tot AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM hist GROUP BY 1),
    pairs AS (
      SELECT a.t AS type_a, b.t AS type_b, na.n AS n_a, nb.n AS n_b,
             CAST(SUM(a.c * (b.cum - b.c)) AS BIGINT) AS n_greater,
             CAST(SUM(a.c * (nb.n - b.cum)) AS BIGINT) AS n_less
      FROM cum a JOIN cum b ON b.x = a.x AND a.t < b.t
      JOIN tot na ON na.t = a.t
      JOIN tot nb ON nb.t = b.t
      GROUP BY 1, 2, 3, 4)
    SELECT type_a, type_b, n_a, n_b, n_greater, n_less,
           CAST(FLOOR((CAST(n_greater AS DOUBLE) - n_less)
                      / (CAST(n_a AS DOUBLE) * n_b) * 1000000 + 0.5)
                AS BIGINT) / 1e6 AS cliffs_delta
    FROM pairs ORDER BY type_a, type_b
    """,
    tags=("E360", "E219", "E305", "W4", "J6", "A1"),
)
def q_cliffs_delta_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta between every pair of event types' values — the
    ORDINAL effect size behind Mann-Whitney (E219): delta =
    (#(a > b) - #(a < b)) / (n_a n_b) over all cross pairs, the
    robust 'how often does one group dominate' number a significance
    test (which only says the shift is nonzero) cannot give. Computed
    WITHOUT the quadratic cross join: on the merged distinct-cents
    support, #(a > b) = sum_v c_a(v) * cumB(< v) and #(a < b) =
    sum_v c_a(v) * (n_b - cumB(<= v)) — exact BIGINT pair counts from
    histogram prefix sums (documented bound: pair counts fit int64 to
    ~3e9 rows per group). One double division quantized at 1e-6.
    Scale shape: identical to E356 — map-side histogram, value-
    domain-bounded support windows, fixed-categorical pair fan-out."""
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    hist = tracked_persist(hist)
    types = hist.select("t").distinct()
    sup = hist.select("x").distinct()
    grid = F.broadcast(types).crossJoin(sup)
    wt = Window.partitionBy("t").orderBy("x")
    cum = (
        grid.join(hist, ["t", "x"], "left")
        .select("t", "x", F.coalesce(F.col("c"), F.lit(0)).alias("c"))
        .select(
            "t",
            "x",
            F.col("c").cast("bigint").alias("c"),
            F.sum("c").over(wt).cast("bigint").alias("cum"),
        )
    )
    cum = tracked_persist(cum)
    tot = hist.groupBy("t").agg(F.sum("c").cast("bigint").alias("n"))
    a = cum.alias("a")
    b = cum.alias("b")
    na = tot.select(F.col("t").alias("ta"), F.col("n").alias("n_a"))
    nb = tot.select(F.col("t").alias("tb"), F.col("n").alias("n_b"))
    pairs = (
        a.join(b, (F.col("b.x") == F.col("a.x")) & (F.col("a.t") < F.col("b.t")))
        .join(F.broadcast(na), F.col("a.t") == F.col("ta"))
        .join(F.broadcast(nb), F.col("b.t") == F.col("tb"))
        .groupBy(
            F.col("a.t").alias("type_a"),
            F.col("b.t").alias("type_b"),
            F.col("n_a"),
            F.col("n_b"),
        )
        .agg(
            F.sum(F.col("a.c") * (F.col("b.cum") - F.col("b.c")))
            .cast("bigint")
            .alias("n_greater"),
            F.sum(F.col("a.c") * (F.col("n_b") - F.col("b.cum")))
            .cast("bigint")
            .alias("n_less"),
        )
    )
    delta = (
        (F.col("n_greater").cast("double") - F.col("n_less"))
        / (F.col("n_a").cast("double") * F.col("n_b"))
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_greater",
        "n_less",
        (F.floor(delta * 1000000 + F.lit(0.5)).cast("bigint") / 1e6).alias(
            "cliffs_delta"
        ),
    ).orderBy("type_a", "type_b")


# --------------------------------------------------------------------------
# E357: Kruskal-Wallis H — k-group rank test on the value histogram
# --------------------------------------------------------------------------

# Loud cap on a single distinct value's multiplicity: the tie term
# t^3 - t must stay inside int64 (2e6^3 = 8e18 < 2^63).
_KW_TIE_CAP = 2_000_000


@query(
    "q_kruskal_wallis_value",
    oracle=f"""
    WITH hist AS MATERIALIZED (
      SELECT event_type AS t, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    mv AS MATERIALIZED (
      SELECT x, CAST(SUM(c) AS BIGINT) AS m,
             CAST(SUM(SUM(c)) OVER (ORDER BY x) AS BIGINT) AS cum
      FROM hist GROUP BY x),
    ranked AS (
      SELECT h.t, h.c,
             2 * (mv.cum - mv.m) + mv.m + 1 AS mr2
      FROM hist h JOIN mv ON mv.x = h.x),
    grp AS MATERIALIZED (
      SELECT t, CAST(SUM(c) AS BIGINT) AS n_g,
             CAST(SUM(c * mr2) AS BIGINT) AS r2
      FROM ranked GROUP BY t),
    ties AS (
      SELECT CAST(SUM(CASE WHEN m <= {_KW_TIE_CAP} THEN m * m * m - m
                           ELSE CAST(error('kruskal: tie cap') AS BIGINT)
                      END) AS BIGINT) AS tt
      FROM mv),
    gl AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             SUM(CAST(r2 AS DOUBLE) * r2 / n_g) AS s
      FROM grp),
    stat AS (
      SELECT g.n,
             3.0e0 / (CAST(g.n AS DOUBLE) * (g.n + 1)) * g.s / 4.0e0 * 4.0e0
               - 3.0e0 * (g.n + 1) AS h0,
             1.0e0 - CAST(t.tt AS DOUBLE)
               / (CAST(g.n AS DOUBLE) * g.n * g.n - g.n) AS corr
      FROM gl g CROSS JOIN ties t)
    SELECT p.t AS event_type, p.n_g AS n_obs, p.r2 AS rank_sum_x2,
           s.n AS n_total,
           CAST(FLOOR(s.h0 * 1000000 + 0.5) AS BIGINT) / 1e6 AS h_stat,
           CAST(FLOOR(s.h0 / NULLIF(s.corr, 0.0e0) * 1000000 + 0.5)
                AS BIGINT) / 1e6 AS h_corrected
    FROM grp p CROSS JOIN stat s
    ORDER BY p.t
    """,
    tags=("E357", "E219", "E218", "W4", "A1", "J6"),
)
def q_kruskal_wallis_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the k event types' value distributions
    — the k-group NONPARAMETRIC one-way test between Mann-Whitney
    (E219, two groups) and parametric ANOVA (E218): H = 12/(N(N+1))
    sum_g R_g^2/n_g - 3(N+1) with the standard tie correction
    1 - sum(t^3 - t)/(N^3 - N). Midranks come from the distinct-value
    histogram (the E219 discipline — no event-row ranking): for value
    v, 2*midrank = 2*C(<v) + m_v + 1 stays an exact BIGINT, so every
    rank sum is exact; doubles enter only in the final fixed-shape H
    expression (R^2 in double — it exceeds int64 by design), quantized
    at 1e-6. A LOUD cap raises in both engines if a single value's
    multiplicity could overflow the t^3 tie term. Scale shape:
    map-side histogram groupBy, one value-domain-bounded prefix-sum
    window, one k-row aggregate."""
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    hist = tracked_persist(hist)
    ws = Window.orderBy("x")
    mv = (
        hist.groupBy("x")
        .agg(F.sum("c").cast("bigint").alias("m"))
        .select(
            "x", "m", F.sum("m").over(ws).cast("bigint").alias("cum")
        )
    )
    ranked = hist.join(F.broadcast(mv), "x").select(
        "t",
        "c",
        (F.lit(2) * (F.col("cum") - F.col("m")) + F.col("m") + 1).alias(
            "mr2"
        ),
    )
    grp = ranked.groupBy("t").agg(
        F.sum("c").cast("bigint").alias("n_g"),
        F.sum(F.col("c") * F.col("mr2")).cast("bigint").alias("r2"),
    )
    grp = tracked_persist(grp)
    tie_term = F.when(
        F.col("m") <= _KW_TIE_CAP,
        F.col("m") * F.col("m") * F.col("m") - F.col("m"),
    ).otherwise(
        F.raise_error(F.lit("kruskal: tie cap")).cast("long")
    )
    ties = mv.agg(F.sum(tie_term).cast("bigint").alias("tt"))
    gl = grp.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum(
            F.col("r2").cast("double") * F.col("r2") / F.col("n_g")
        ).alias("s"),
    )
    n = F.col("n")
    h0 = (
        F.lit(3.0) / (n.cast("double") * (n + 1)) * F.col("s") / F.lit(4.0)
        * F.lit(4.0)
        - F.lit(3.0) * (n + 1)
    )
    corr = F.lit(1.0) - F.col("tt").cast("double") / (
        n.cast("double") * n * n - n
    )
    stat = gl.crossJoin(F.broadcast(ties)).select(
        "n", h0.alias("h0"), corr.alias("corr")
    )
    return (
        grp.crossJoin(F.broadcast(stat))
        .select(
            F.col("t").alias("event_type"),
            F.col("n_g").alias("n_obs"),
            F.col("r2").alias("rank_sum_x2"),
            F.col("n").alias("n_total"),
            (
                F.floor(F.col("h0") * 1000000 + F.lit(0.5)).cast("bigint")
                / 1e6
            ).alias("h_stat"),
            (
                F.floor(
                    F.col("h0") / F.nullif(F.col("corr"), F.lit(0.0))
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("h_corrected"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E358: Friedman test — k treatments ranked within day blocks
# --------------------------------------------------------------------------


@query(
    "q_friedman_daily_types",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type AS t, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1, 2),
    kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM daily),
    full_days AS MATERIALIZED (
      SELECT d FROM daily GROUP BY d
      HAVING COUNT(*) = (SELECT k FROM kk)),
    r AS MATERIALIZED (
      SELECT dl.t, dl.d,
             2 * RANK() OVER (PARTITION BY dl.d ORDER BY dl.y)
               + COUNT(*) OVER (PARTITION BY dl.d, dl.y) - 1 AS r2
      FROM daily dl JOIN full_days fd ON fd.d = dl.d),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM full_days),
    sq AS (SELECT CAST(SUM(r2 * r2) AS BIGINT) AS ssq FROM r),
    grp AS MATERIALIZED (
      SELECT t, CAST(SUM(r2) AS BIGINT) AS rs2 FROM r GROUP BY t),
    stat AS (
      SELECT n.n, k.k,
             (k.k - 1) * CAST((SELECT SUM((g.rs2 - n.n * (k.k + 1))
                                          * (g.rs2 - n.n * (k.k + 1)))
                               FROM grp g) AS DOUBLE)
               / NULLIF(s.ssq - n.n * k.k * (k.k + 1) * (k.k + 1), 0)
               AS chi2
      FROM nb n CROSS JOIN kk k CROSS JOIN sq s)
    SELECT g.t AS event_type, s.n AS n_blocks, g.rs2 AS rank_sum_x2,
           s.k AS k_types, s.k - 1 AS df,
           CAST(FLOOR(s.chi2 * 1000000 + 0.5) AS BIGINT) / 1e6
             AS chi2_friedman
    FROM grp g CROSS JOIN stat s
    ORDER BY g.t
    """,
    tags=("E358", "E218", "E219", "W1", "A1", "F4"),
)
def q_friedman_daily_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test of whether the k event types keep a consistent
    revenue ORDERING across days — the repeated-measures (blocked)
    rank test Kruskal-Wallis (E357) is not: KW pools all observations
    (a busy day inflates every type), Friedman ranks types WITHIN each
    complete day block, so day-level volume cancels and only the
    ordering signal remains. Midranks stay exact integers as 2r =
    2*RANK + |ties| - 1; the tie-general statistic chi2 = (k-1) *
    sum_j (2R_j - n(k+1))^2 / (sum(2r)^2 - n k (k+1)^2) is ALL-INTEGER
    (the x4 scaling cancels between numerator and denominator) until
    one final double division, NULLIF-guarded for the all-tied
    degenerate block set; quantized at 1e-6. Scale shape: map-side
    day-grain collapse; every window runs on the (day x type) frame,
    which is bounded by the date domain times a fixed categorical —
    never event-sized."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("y")
    )
    daily = tracked_persist(daily)
    kk = daily.agg(F.countDistinct("t").cast("bigint").alias("k"))
    full_days = (
        daily.groupBy("d")
        .agg(F.count(F.lit(1)).alias("ct"))
        .crossJoin(F.broadcast(kk))
        .filter(F.col("ct") == F.col("k"))
        .select("d")
    )
    wd = Window.partitionBy("d").orderBy("y")
    wdy = Window.partitionBy("d", "y")
    r = (
        daily.join(F.broadcast(full_days), "d")
        .select(
            "t",
            "d",
            (
                F.lit(2) * F.rank().over(wd)
                + F.count(F.lit(1)).over(wdy)
                - 1
            )
            .cast("bigint")
            .alias("r2"),
        )
    )
    r = tracked_persist(r)
    # r11: ONE fused scalar aggregate over the ranked frame replaces
    # three separate 1-row probes (n = countDistinct(d) over r equals
    # the full-day count — every full day contributes exactly k rows;
    # k = countDistinct(t) over r equals daily's when any full day
    # exists, and both paths emit empty output when none does). Fewer
    # 1-row broadcast jobs on identical integer algebra (x0.82).
    scal = r.agg(
        F.sum(F.col("r2") * F.col("r2")).cast("bigint").alias("ssq"),
        F.countDistinct("d").cast("bigint").alias("n"),
        F.countDistinct("t").cast("bigint").alias("k"),
    )
    grp = r.groupBy("t").agg(F.sum("r2").cast("bigint").alias("rs2"))
    grp = tracked_persist(grp)
    dev = grp.crossJoin(F.broadcast(scal)).select(
        (
            (F.col("rs2") - F.col("n") * (F.col("k") + 1))
            * (F.col("rs2") - F.col("n") * (F.col("k") + 1))
        ).alias("dd")
    )
    num = dev.agg(F.sum("dd").cast("bigint").alias("sdev"))
    stat = (
        scal.crossJoin(F.broadcast(num))
        .select(
            "n",
            "k",
            (
                (F.col("k") - 1) * F.col("sdev").cast("double")
                / F.nullif(
                    (
                        F.col("ssq")
                        - F.col("n")
                        * F.col("k")
                        * (F.col("k") + 1)
                        * (F.col("k") + 1)
                    ).cast("double"),
                    F.lit(0.0),
                )
            ).alias("chi2"),
        )
    )
    return (
        grp.crossJoin(F.broadcast(stat))
        .select(
            F.col("t").alias("event_type"),
            F.col("n").alias("n_blocks"),
            F.col("rs2").alias("rank_sum_x2"),
            F.col("k").alias("k_types"),
            (F.col("k") - 1).alias("df"),
            (
                F.floor(F.col("chi2") * 1000000 + F.lit(0.5)).cast("bigint")
                / 1e6
            ).alias("chi2_friedman"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E359: Kaplan-Meier survival of customer order-activity lifetimes
# --------------------------------------------------------------------------

# Right-censoring horizon: customers whose LAST order falls within this
# many days of the corpus's max order date are still-active (censored).
_KM_CENSOR_DAYS = 365


@query(
    "q_kaplan_meier_customers",
    oracle=f"""
    WITH life AS MATERIALIZED (
      SELECT o_custkey,
             CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) + 1
                  AS BIGINT) AS t,
             MAX(o_orderdate) AS last_d
      FROM orders GROUP BY 1),
    mx AS (SELECT MAX(last_d) AS m FROM life),
    lab AS (
      SELECT l.t,
             CASE WHEN l.last_d < x.m - INTERVAL {_KM_CENSOR_DAYS} DAY
                  THEN 1 ELSE 0 END AS died
      FROM life l CROSS JOIN mx x),
    per_t AS MATERIALIZED (
      SELECT t, CAST(SUM(died) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM lab GROUP BY t),
    risk AS MATERIALIZED (
      SELECT t, d,
             CAST(SUM(tot) OVER (ORDER BY t DESC) AS BIGINT) AS n_risk
      FROM per_t),
    ev AS MATERIALIZED (
      SELECT t, d, n_risk,
             CASE WHEN n_risk > d
                  THEN CAST(FLOOR(ln(CAST(n_risk - d AS DOUBLE) / n_risk)
                                  * 1000000000 + 0.5) AS BIGINT)
                  ELSE NULL END AS lnq,
             n_risk - d AS alive
      FROM risk WHERE d > 0),
    km AS (
      SELECT t, d, n_risk,
             CAST(SUM(lnq) OVER (ORDER BY t) AS BIGINT) AS cln,
             CAST(MIN(alive) OVER (ORDER BY t) AS BIGINT) AS zmin
      FROM ev)
    SELECT t AS t_days, n_risk, d AS n_deaths,
           CASE WHEN zmin = 0 AND cln IS NULL THEN 0.0e0
                WHEN zmin = 0 THEN 0.0e0
                ELSE CAST(FLOOR(exp(CAST(cln AS DOUBLE) / 1e9) * 1000000
                                + 0.5) AS BIGINT) / 1e6 END AS survival
    FROM km ORDER BY t_days
    """,
    tags=("E359", "E110", "E346", "W4", "W3", "A1", "F4"),
)
def q_kaplan_meier_customers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier survival curve of customer order-activity
    lifetimes — the right-censoring-aware estimator the engine's
    retention/churn rows (E34 weekly churn, E110 ACF) cannot give:
    lifetime = days from a customer's first to last order; customers
    still ordering within the final {_KM_CENSOR_DAYS} days are
    CENSORED (alive), not churned — dropping them (naive survival)
    biases lifetimes down, which is the whole reason KM exists.
    S(t) = prod over event times t_i <= t of (1 - d_i/n_i) with
    n_i = customers whose lifetime >= t_i (a reverse prefix sum over
    the distinct-duration frame). Each log-factor is 1e-9-quantized
    straight after the ONLY libm call (the r6 recipe), the prefix sum
    of quantized logs is exact BIGINT, exp at readout quantized 1e-6;
    a duration where everyone at risk dies drives S to exactly 0.0
    via the prefix-min guard in both engines. Scale shape: one
    customer-grain aggregate (map-side combinable); every window runs
    on the distinct-duration frame, bounded by the DATE domain
    (~2,400 rows), never the customer count."""
    o = load_table(spark, sf_dir, "orders")
    life = o.groupBy("o_custkey").agg(
        (F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) + 1)
        .cast("bigint")
        .alias("t"),
        F.max("o_orderdate").alias("last_d"),
    )
    mx = life.agg(F.max("last_d").alias("m"))
    lab = life.crossJoin(F.broadcast(mx)).select(
        "t",
        F.when(
            F.col("last_d") < F.col("m") - F.expr(
                f"INTERVAL {_KM_CENSOR_DAYS} DAY"
            ),
            1,
        )
        .otherwise(0)
        .alias("died"),
    )
    per_t = lab.groupBy("t").agg(
        F.sum("died").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("tot"),
    )
    wdesc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_t.select(
        "t", "d", F.sum("tot").over(wdesc).cast("bigint").alias("n_risk")
    )
    ev = risk.filter(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.when(
            F.col("n_risk") > F.col("d"),
            F.floor(
                F.log(
                    (F.col("n_risk") - F.col("d")).cast("double")
                    / F.col("n_risk")
                )
                * 1000000000
                + F.lit(0.5)
            ).cast("bigint"),
        ).alias("lnq"),
        (F.col("n_risk") - F.col("d")).alias("alive"),
    )
    wasc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = ev.select(
        "t",
        "d",
        "n_risk",
        F.sum("lnq").over(wasc).cast("bigint").alias("cln"),
        F.min("alive").over(wasc).cast("bigint").alias("zmin"),
    )
    surv = F.when(F.col("zmin") == 0, F.lit(0.0)).otherwise(
        F.floor(
            F.exp(F.col("cln").cast("double") / F.lit(1e9)) * 1000000
            + F.lit(0.5)
        ).cast("bigint")
        / 1e6
    )
    return km.select(
        F.col("t").alias("t_days"),
        "n_risk",
        F.col("d").alias("n_deaths"),
        surv.alias("survival"),
    ).orderBy("t_days")


# --------------------------------------------------------------------------
# E361: log-rank test — do two customer segments churn at the same rate?
# --------------------------------------------------------------------------


@query(
    "q_logrank_segment_churn",
    oracle=f"""
    WITH ol AS (
      SELECT o_custkey,
             CAST(date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) + 1
                  AS BIGINT) AS t,
             MAX(o_orderdate) AS last_d
      FROM orders GROUP BY 1),
    life AS MATERIALIZED (
      SELECT ol.t,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g,
             ol.last_d
      FROM ol JOIN customer c ON c.c_custkey = ol.o_custkey),
    mx AS (SELECT MAX(last_d) AS m FROM life),
    lab AS MATERIALIZED (
      SELECT t, g,
             CASE WHEN last_d < x.m - INTERVAL {_KM_CENSOR_DAYS} DAY
                  THEN 1 ELSE 0 END AS died
      FROM life CROSS JOIN mx x),
    per_tg AS MATERIALIZED (
      SELECT t, g, CAST(SUM(died) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM lab GROUP BY 1, 2),
    grid AS (
      SELECT s.t, gg.g
      FROM (SELECT DISTINCT t FROM per_tg) s
      CROSS JOIN (SELECT DISTINCT g FROM per_tg) gg),
    risk AS MATERIALIZED (
      SELECT gr.t, gr.g, CAST(COALESCE(p.d, 0) AS BIGINT) AS d,
             CAST(SUM(COALESCE(p.tot, 0))
                  OVER (PARTITION BY gr.g ORDER BY gr.t DESC) AS BIGINT)
               AS nr
      FROM grid gr LEFT JOIN per_tg p ON p.t = gr.t AND p.g = gr.g),
    ev AS (
      SELECT t, CAST(SUM(d) AS BIGINT) AS dt,
             CAST(SUM(CASE WHEN g = 1 THEN d ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(nr) AS BIGINT) AS nt,
             CAST(SUM(CASE WHEN g = 1 THEN nr ELSE 0 END) AS BIGINT) AS n1
      FROM risk GROUP BY t HAVING SUM(d) > 0),
    terms AS (
      SELECT d1,
             CAST(FLOOR(CAST(dt AS DOUBLE) * n1 / nt * 1e9 + 0.5) AS BIGINT)
               AS e1q,
             CAST(FLOOR(CAST(dt AS DOUBLE) * n1 / nt
                        * (1.0e0 - CAST(n1 AS DOUBLE) / nt)
                        * (nt - dt) / NULLIF(nt - 1, 0) * 1e9 + 0.5)
                  AS BIGINT) AS vq
      FROM ev),
    agg AS (
      -- COALESCE: zero observed deaths must yield E = V = 0 (and a
      -- NULL z via the sqrt guard), not a NULL expected_deaths
      SELECT CAST(COALESCE(SUM(e1q), 0) AS BIGINT) AS e1,
             CAST(COALESCE(SUM(vq), 0) AS BIGINT) AS v
      FROM terms),
    cnt AS (
      SELECT CAST(SUM(g) AS BIGINT) AS nc1,
             CAST(SUM(1 - g) AS BIGINT) AS nc0,
             CAST(SUM(CASE WHEN g = 1 THEN died ELSE 0 END) AS BIGINT)
               AS od1,
             CAST(SUM(CASE WHEN g = 0 THEN died ELSE 0 END) AS BIGINT)
               AS od0,
             CAST(SUM(died) AS BIGINT) AS dd
      FROM lab),
    z AS (
      SELECT c.*, a.e1,
             CAST(FLOOR((c.od1 - CAST(a.e1 AS DOUBLE) / 1e9)
                        / NULLIF(sqrt(CAST(a.v AS DOUBLE) / 1e9), 0.0e0)
                        * 1000000 + 0.5) AS BIGINT) / 1e6 AS zz
      FROM agg a CROSS JOIN cnt c)
    SELECT 'BUILDING' AS segment_group, nc1 AS n_customers,
           od1 AS n_deaths,
           CAST(FLOOR(CAST(e1 AS DOUBLE) / 1e9 * 1000000 + 0.5) AS BIGINT)
             / 1e6 AS expected_deaths,
           zz AS logrank_z
    FROM z
    UNION ALL
    SELECT 'OTHER', nc0, od0,
           CAST(FLOOR((dd - CAST(e1 AS DOUBLE) / 1e9) * 1000000 + 0.5)
                AS BIGINT) / 1e6,
           zz
    FROM z
    ORDER BY segment_group
    """,
    tags=("E361", "E359", "E305", "W4", "A7", "J1"),
)
def q_logrank_segment_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing the BUILDING segment's churn curve
    against everyone else — the two-sample SIGNIFICANCE companion to
    Kaplan-Meier (E359): KM draws each curve, the log-rank asks
    whether they differ beyond chance, correctly crediting censored
    customers for their time at risk (a naive churned-fraction z-test
    throws that information away). At every distinct lifetime with
    deaths, observed group-1 deaths are compared to the
    hypergeometric expectation d*n1/n with variance
    d*(n1/n)(1-n1/n)(n-d)/(n-1); each expectation/variance term is
    floor-quantized to BIGINT at 1e-9 before the order-free sum (E343
    recipe), z = (O-E)/sqrt(V) quantized at 1e-6 with NULLIF guards
    for the one-at-risk and zero-variance degenerate cases. Scale
    shape: one customer-grain aggregate + one segment hash join;
    every window runs on the (group x distinct-duration) frame,
    bounded by 2 x the DATE domain."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_mktsegment") == "BUILDING", 1)
        .otherwise(0)
        .alias("g"),
    )
    ol = o.groupBy("o_custkey").agg(
        (F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) + 1)
        .cast("bigint")
        .alias("t"),
        F.max("o_orderdate").alias("last_d"),
    )
    life = ol.join(c, ol["o_custkey"] == c["c_custkey"]).select(
        "t", "g", "last_d"
    )
    mx = life.agg(F.max("last_d").alias("m"))
    lab = life.crossJoin(F.broadcast(mx)).select(
        "t",
        "g",
        F.when(
            F.col("last_d") < F.col("m") - F.expr(
                f"INTERVAL {_KM_CENSOR_DAYS} DAY"
            ),
            1,
        )
        .otherwise(0)
        .alias("died"),
    )
    lab = tracked_persist(lab)
    per_tg = lab.groupBy("t", "g").agg(
        F.sum("died").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("tot"),
    )
    per_tg = tracked_persist(per_tg)
    sup = per_tg.select("t").distinct()
    gg = per_tg.select("g").distinct()
    grid = sup.crossJoin(F.broadcast(gg))
    wg = Window.partitionBy("g").orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = (
        grid.join(per_tg, ["t", "g"], "left")
        .select(
            "t",
            "g",
            F.coalesce(F.col("d"), F.lit(0)).cast("bigint").alias("d"),
            F.coalesce(F.col("tot"), F.lit(0)).alias("tot0"),
        )
        .select(
            "t",
            "g",
            "d",
            F.sum("tot0").over(wg).cast("bigint").alias("nr"),
        )
    )
    ev = (
        risk.groupBy("t")
        .agg(
            F.sum("d").cast("bigint").alias("dt"),
            F.sum(F.when(F.col("g") == 1, F.col("d")).otherwise(0))
            .cast("bigint")
            .alias("d1"),
            F.sum("nr").cast("bigint").alias("nt"),
            F.sum(F.when(F.col("g") == 1, F.col("nr")).otherwise(0))
            .cast("bigint")
            .alias("n1"),
        )
        .filter(F.col("dt") > 0)
    )
    dt, n1, nt = F.col("dt"), F.col("n1"), F.col("nt")
    e1q = F.floor(
        dt.cast("double") * n1 / nt * F.lit(1e9) + F.lit(0.5)
    ).cast("bigint")
    vq = F.floor(
        dt.cast("double")
        * n1
        / nt
        * (F.lit(1.0) - n1.cast("double") / nt)
        * (nt - dt)
        / F.nullif((nt - 1).cast("double"), F.lit(0.0))
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("bigint")
    # COALESCE: zero observed deaths must yield E = V = 0 (and a NULL
    # z via the sqrt guard), not a NULL expected_deaths.
    agg = ev.agg(
        F.coalesce(F.sum(e1q), F.lit(0)).cast("bigint").alias("e1"),
        F.coalesce(F.sum(vq), F.lit(0)).cast("bigint").alias("v"),
    )
    cnt = lab.agg(
        F.sum("g").cast("bigint").alias("nc1"),
        F.sum(F.lit(1) - F.col("g")).cast("bigint").alias("nc0"),
        F.sum(F.when(F.col("g") == 1, F.col("died")).otherwise(0))
        .cast("bigint")
        .alias("od1"),
        F.sum(F.when(F.col("g") == 0, F.col("died")).otherwise(0))
        .cast("bigint")
        .alias("od0"),
        F.sum("died").cast("bigint").alias("dd"),
    )
    zz = (
        F.floor(
            (F.col("od1") - F.col("e1").cast("double") / F.lit(1e9))
            / F.nullif(
                F.sqrt(F.col("v").cast("double") / F.lit(1e9)), F.lit(0.0)
            )
            * 1000000
            + F.lit(0.5)
        ).cast("bigint")
        / 1e6
    )
    z = agg.crossJoin(F.broadcast(cnt)).select(
        "e1", "nc1", "nc0", "od1", "od0", "dd", zz.alias("zz")
    )
    exp1 = (
        F.floor(
            F.col("e1").cast("double") / F.lit(1e9) * 1000000 + F.lit(0.5)
        ).cast("bigint")
        / 1e6
    )
    exp0 = (
        F.floor(
            (F.col("dd") - F.col("e1").cast("double") / F.lit(1e9)) * 1000000
            + F.lit(0.5)
        ).cast("bigint")
        / 1e6
    )
    return z.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("BUILDING").alias("segment_group"),
                    F.col("nc1").alias("n_customers"),
                    F.col("od1").alias("n_deaths"),
                    exp1.alias("expected_deaths"),
                    F.col("zz").alias("logrank_z"),
                ),
                F.struct(
                    F.lit("OTHER").alias("segment_group"),
                    F.col("nc0").alias("n_customers"),
                    F.col("od0").alias("n_deaths"),
                    exp0.alias("expected_deaths"),
                    F.col("zz").alias("logrank_z"),
                ),
            )
        ).alias("r")
    ).select("r.*").orderBy("segment_group")


# --------------------------------------------------------------------------
# E362: Jonckheere-Terpstra ordered-alternative trend across order priorities
# --------------------------------------------------------------------------


@query(
    "q_jonckheere_priority_trend",
    oracle="""
    WITH hist AS MATERIALIZED (
      SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS g,
             CAST(FLOOR(o_totalprice) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2),
    spine AS (SELECT DISTINCT x FROM hist),
    grps AS (SELECT DISTINCT g FROM hist),
    grid AS MATERIALIZED (
      SELECT gr.g, s.x, COALESCE(h.c, 0) AS c0,
             CAST(SUM(COALESCE(h.c, 0))
                  OVER (PARTITION BY gr.g ORDER BY s.x) AS BIGINT) AS cum
      FROM spine s CROSS JOIN grps gr
      LEFT JOIN hist h ON h.g = gr.g AND h.x = s.x),
    terms AS (
      SELECT i.g AS gi, h.g AS gj,
             h.c * (2 * (i.cum - i.c0) + i.c0) AS t
      FROM hist h JOIN grid i ON i.x = h.x AND i.g < h.g),
    pairs AS MATERIALIZED (
      SELECT gi, gj, CAST(SUM(t) AS BIGINT) AS u_x2
      FROM terms GROUP BY 1, 2),
    sizes AS MATERIALIZED (
      SELECT g, CAST(SUM(c) AS BIGINT) AS n_g FROM hist GROUP BY 1),
    gl AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(n_g * n_g) AS BIGINT) AS sn2,
             SUM(CAST(n_g AS DOUBLE) * n_g * (2 * n_g + 3)) AS sn23
      FROM sizes),
    tot AS (SELECT CAST(SUM(u_x2) AS BIGINT) AS jt2 FROM pairs),
    z AS (
      SELECT t.jt2,
             (0.5e0 * t.jt2
              - 0.25e0 * (CAST(g.n AS DOUBLE) * g.n - g.sn2))
             / NULLIF(sqrt((CAST(g.n AS DOUBLE) * g.n * (2 * g.n + 3)
                            - g.sn23) / 72.0e0), 0.0e0) AS zz
      FROM tot t CROSS JOIN gl g)
    SELECT p.gi AS g_low, p.gj AS g_high,
           si.n_g AS n_low, sj.n_g AS n_high, p.u_x2 AS u_x2,
           z.jt2 AS jt_x2_total,
           CAST(FLOOR(z.zz * 1000000 + 0.5) AS BIGINT) / 1e6 AS jt_z
    FROM pairs p
    JOIN sizes si ON si.g = p.gi
    JOIN sizes sj ON sj.g = p.gj
    CROSS JOIN z
    ORDER BY g_low, g_high
    """,
    tags=("E362", "E357", "E219", "W4", "A1", "J6"),
)
def q_jonckheere_priority_trend(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative trend test: does order
    value INCREASE along the o_orderpriority ordering (1-URGENT <
    2-HIGH < ... < 5-LOW)? Kruskal-Wallis (E357) only asks "are the
    groups different"; JT pools the k(k-1)/2 pairwise Mann-Whitney
    counts IN THE HYPOTHESIZED DIRECTION, gaining power for monotone
    alternatives. 2*U_ij per ordered pair is exact BIGINT via the
    E219/E360 histogram discipline — no cross join: for each distinct
    whole-dollar value v held by the higher group j, the lower group's
    prefix count gives 2*U += c_j(v) * (2*C_i(<v) + c_i(v)) (ties
    count half). The spine x groups grid is value-domain x k bounded,
    never order-sized; the only windows run per-group over that grid.
    z uses the untied normal approximation (whole-dollar ties are
    sparse; documented) with mu = (N^2 - sum n^2)/4 and
    sigma^2 = (N^2(2N+3) - sum n^2(2n+3))/72 evaluated in one
    fixed-shape double expression, quantized 1e-6. int64 bound:
    2U <= 2 n_i n_j, exact below ~2.1e9 rows/group (the E360
    documented-bound pattern)."""
    # r12 (guide §2.4, VERDICT #2 mid-band job-floor): o_orderpriority's
    # domain is the FIXED TPC-H '1-URGENT'..'5-LOW' set, so the per-group
    # histogram pivots to 5 conditional-count columns on ONE (x)-keyed
    # aggregate; the 10 pairwise U statistics, group sizes and z moments
    # all come out of one wide aggregate over the cumulative grid, and
    # the output rows are an explode of a literal struct array — a single
    # linear plan (scan -> agg -> window -> agg -> explode) replacing the
    # spine/grps/pairs/sizes/tot/z probe fan (7 jobs -> 2). Pairs whose
    # group is absent from the data are filtered (n_low/n_high > 0),
    # matching the data-derived-groups semantics of the previous form
    # and the oracle. Interleaved A/B x0.57, outputs row-identical.
    o = load_table(spark, sf_dir, "orders")
    gs = list(range(1, 6))
    g = F.substring(F.col("o_orderpriority"), 1, 1).cast("int")
    hist = o.groupBy(
        F.floor(F.col("o_totalprice")).cast("long").alias("x")
    ).agg(
        *[
            F.sum(F.when(g == i, 1).otherwise(0)).cast("bigint").alias(f"c{i}")
            for i in gs
        ]
    )
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    grid = hist.select(
        "x",
        *[F.col(f"c{i}") for i in gs],
        *[F.sum(f"c{i}").over(wcum).cast("bigint").alias(f"cum{i}") for i in gs],
    )
    aggs = [F.sum(F.col(f"c{i}")).cast("bigint").alias(f"n{i}") for i in gs]
    for i in gs:
        for j in gs:
            if i < j:
                aggs.append(
                    F.sum(
                        F.col(f"c{j}")
                        * (
                            F.lit(2) * (F.col(f"cum{i}") - F.col(f"c{i}"))
                            + F.col(f"c{i}")
                        )
                    )
                    .cast("bigint")
                    .alias(f"u{i}{j}")
                )
    wide = grid.agg(*aggs)
    n = sum((F.col(f"n{i}") for i in gs[1:]), F.col(f"n{gs[0]}")).cast("bigint")
    sn2 = sum(
        (F.col(f"n{i}") * F.col(f"n{i}") for i in gs[1:]),
        F.col(f"n{gs[0]}") * F.col(f"n{gs[0]}"),
    ).cast("bigint")
    sn23_terms = [
        F.col(f"n{i}").cast("double")
        * F.col(f"n{i}")
        * (F.lit(2) * F.col(f"n{i}") + 3)
        for i in gs
    ]
    sn23 = sum(sn23_terms[1:], sn23_terms[0])
    jt2 = sum(
        (F.col(f"u{i}{j}") for i in gs for j in gs if i < j and (i, j) != (1, 2)),
        F.col("u12"),
    ).cast("bigint")
    scal = wide.select(
        *[F.col(f"n{i}") for i in gs],
        *[F.col(f"u{i}{j}") for i in gs for j in gs if i < j],
        n.alias("n"),
        sn2.alias("sn2"),
        sn23.alias("sn23"),
        jt2.alias("jt2"),
    )
    zz = (
        F.lit(0.5) * F.col("jt2")
        - F.lit(0.25)
        * (F.col("n").cast("double") * F.col("n") - F.col("sn2"))
    ) / F.nullif(
        F.sqrt(
            (
                F.col("n").cast("double")
                * F.col("n")
                * (F.lit(2) * F.col("n") + 3)
                - F.col("sn23")
            )
            / F.lit(72.0)
        ),
        F.lit(0.0),
    )
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(i).alias("g_low"),
                F.lit(j).alias("g_high"),
                F.col(f"n{i}").alias("n_low"),
                F.col(f"n{j}").alias("n_high"),
                F.col(f"u{i}{j}").alias("u_x2"),
            )
            for i in gs
            for j in gs
            if i < j
        ]
    )
    return (
        scal.select(
            F.explode(pair_structs).alias("p"),
            F.col("jt2").alias("jt_x2_total"),
            (
                F.floor(zz * 1000000 + F.lit(0.5)).cast("bigint") / 1e6
            ).alias("jt_z"),
        )
        .filter((F.col("p.n_low") > 0) & (F.col("p.n_high") > 0))
        .select(
            F.col("p.g_low").alias("g_low"),
            F.col("p.g_high").alias("g_high"),
            F.col("p.n_low").alias("n_low"),
            F.col("p.n_high").alias("n_high"),
            F.col("p.u_x2").alias("u_x2"),
            "jt_x2_total",
            "jt_z",
        )
        .orderBy("g_low", "g_high")
    )


# --------------------------------------------------------------------------
# E363: Page's trend test — ordered alternative over the Friedman blocks
# --------------------------------------------------------------------------


@query(
    "q_page_trend_daily_types",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type AS t, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1, 2),
    kk AS (SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS k FROM daily),
    full_days AS MATERIALIZED (
      SELECT d FROM daily GROUP BY d
      HAVING COUNT(*) = (SELECT k FROM kk)),
    r AS MATERIALIZED (
      SELECT dl.t, dl.d,
             2 * RANK() OVER (PARTITION BY dl.d ORDER BY dl.y)
               + COUNT(*) OVER (PARTITION BY dl.d, dl.y) - 1 AS r2
      FROM daily dl JOIN full_days fd ON fd.d = dl.d),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM full_days),
    idx AS MATERIALIZED (
      SELECT t, CAST(RANK() OVER (ORDER BY t) AS BIGINT) AS j
      FROM (SELECT DISTINCT t FROM r)),
    grp AS MATERIALIZED (
      SELECT r.t, i.j, CAST(SUM(r.r2) AS BIGINT) AS rs2
      FROM r JOIN idx i ON i.t = r.t GROUP BY 1, 2),
    l2 AS (SELECT CAST(SUM(j * rs2) AS BIGINT) AS lx2 FROM grp),
    stat AS (
      SELECT l.lx2, n.n, k.k,
             (CAST(l.lx2 AS DOUBLE)
              - CAST(n.n AS DOUBLE) * k.k * (k.k + 1) * (k.k + 1) / 2.0e0)
             / NULLIF(sqrt(CAST(n.n AS DOUBLE) * k.k * k.k * (k.k + 1)
                           * (k.k + 1) * (k.k - 1) / 36.0e0), 0.0e0) AS zz
      FROM l2 l CROSS JOIN nb n CROSS JOIN kk k)
    SELECT g.t AS event_type, g.j AS hyp_rank, g.rs2 AS rank_sum_x2,
           s.n AS n_blocks, s.lx2 AS page_l_x2,
           CAST(FLOOR(s.zz * 1000000 + 0.5) AS BIGINT) / 1e6 AS page_z
    FROM grp g CROSS JOIN stat s
    ORDER BY g.t
    """,
    tags=("E363", "E358", "E357", "W1", "A1", "F4"),
)
def q_page_trend_daily_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Page's L trend test over the Friedman day blocks (E358): does
    daily revenue rank MONOTONICALLY along the lexicographic event-type
    order (the declared a-priori ordering: click < error < purchase <
    signup < view)? Friedman is an omnibus "any ordering difference";
    Page weights each type's within-day midrank by its hypothesized
    position j, L = sum_j j * R_j, gaining power for monotone trends —
    the repeated-measures sibling of Jonckheere (E362). Midranks stay
    exact BIGINT as 2r = 2*RANK + |ties| - 1 (the E358 recipe), so
    2L = sum j * rs2 is exact; E[2L] = n k(k+1)^2 / 2 and the untied
    sigma(2L) = sqrt(n k^2 (k+1)^2 (k-1) / 36) enter one fixed-shape
    double z expression, quantized 1e-6 (tie correction omitted;
    documented, matching the JT/Page textbook normal form). Scale
    shape identical to E358: map-side day collapse, windows only on
    the (day x type) date-domain x fixed-categorical frame."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("day", F.col("ts")).alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("y")
    )
    daily = tracked_persist(daily)
    kk = daily.agg(F.countDistinct("t").cast("bigint").alias("k"))
    full_days = (
        daily.groupBy("d")
        .agg(F.count(F.lit(1)).alias("ct"))
        .crossJoin(F.broadcast(kk))
        .filter(F.col("ct") == F.col("k"))
        .select("d")
    )
    wd = Window.partitionBy("d").orderBy("y")
    wdy = Window.partitionBy("d", "y")
    r = daily.join(F.broadcast(full_days), "d").select(
        "t",
        "d",
        (
            F.lit(2) * F.rank().over(wd)
            + F.count(F.lit(1)).over(wdy)
            - 1
        )
        .cast("bigint")
        .alias("r2"),
    )
    r = tracked_persist(r)
    # r11: same fused-scalar move as q_friedman_daily_types — n and k
    # come from ONE aggregate over the ranked frame (n =
    # countDistinct(d) == the full-day count, k = countDistinct(t);
    # both paths emit empty output when no full day exists).
    scal = r.agg(
        F.countDistinct("d").cast("bigint").alias("n"),
        F.countDistinct("t").cast("bigint").alias("k"),
    )
    wi = Window.orderBy("t")
    idx = (
        r.select("t")
        .distinct()
        .select("t", F.rank().over(wi).cast("bigint").alias("j"))
    )
    grp = (
        r.join(F.broadcast(idx), "t")
        .groupBy("t", "j")
        .agg(F.sum("r2").cast("bigint").alias("rs2"))
    )
    grp = tracked_persist(grp)
    l2 = grp.agg(
        F.sum(F.col("j") * F.col("rs2")).cast("bigint").alias("lx2")
    )
    k = F.col("k")
    n = F.col("n")
    zz = (
        F.col("lx2").cast("double")
        - n.cast("double") * k * (k + 1) * (k + 1) / F.lit(2.0)
    ) / F.nullif(
        F.sqrt(
            n.cast("double")
            * k
            * k
            * (k + 1)
            * (k + 1)
            * (k - 1)
            / F.lit(36.0)
        ),
        F.lit(0.0),
    )
    stat = (
        l2.crossJoin(F.broadcast(scal))
        .select("lx2", "n", "k", zz.alias("zz"))
    )
    return (
        grp.crossJoin(F.broadcast(stat))
        .select(
            F.col("t").alias("event_type"),
            F.col("j").alias("hyp_rank"),
            F.col("rs2").alias("rank_sum_x2"),
            F.col("n").alias("n_blocks"),
            F.col("lx2").alias("page_l_x2"),
            (
                F.floor(F.col("zz") * 1000000 + F.lit(0.5)).cast("bigint")
                / 1e6
            ).alias("page_z"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E364: Cochran's Q — k matched binary treatments per user block
# --------------------------------------------------------------------------


@query(
    "q_cochran_q_event_types",
    oracle="""
    WITH pres AS MATERIALIZED (
      SELECT DISTINCT user_id, event_type FROM events),
    kk AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
           FROM pres),
    cj AS MATERIALIZED (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM pres GROUP BY 1),
    ri AS MATERIALIZED (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS r
      FROM pres GROUP BY 1),
    mc AS (
      SELECT CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(c * c) AS BIGINT) AS sc2
      FROM cj),
    mr AS (
      SELECT CAST(SUM(r) AS BIGINT) AS sr,
             CAST(SUM(r * r) AS BIGINT) AS sr2,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM ri),
    stat AS (
      SELECT k.k, r.n_users,
             (k.k - 1)
               * CAST(k.k * c.sc2 - c.sc * c.sc AS DOUBLE)
               / NULLIF(CAST(k.k * r.sr - r.sr2 AS DOUBLE), 0.0e0) AS q
      FROM kk k CROSS JOIN mc c CROSS JOIN mr r)
    SELECT j.event_type, j.c AS n_users_with, s.n_users, s.k AS k_types,
           s.k - 1 AS df,
           CAST(FLOOR(s.q * 1000000 + 0.5) AS BIGINT) / 1e6 AS cochran_q
    FROM cj j CROSS JOIN stat s
    ORDER BY j.event_type
    """,
    tags=("E364", "E358", "E221", "A3", "A1", "J6"),
)
def q_cochran_q_event_types(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cochran's Q: do the k event types have equal per-user reach?
    Each user is a matched block of k binary outcomes ("ever performed
    type t"), the k-treatment generalization of McNemar (E221) and the
    binary sibling of Friedman (E358) — a plain per-type rate z-test
    ignores that the SAME users underlie every column. Q = (k-1)
    (k sum C_j^2 - (sum C_j)^2) / (k sum R_i - sum R_i^2) with column
    totals C_j and user row totals R_i is ALL-INTEGER until one
    NULLIF-guarded division (all-k users zero the denominator term by
    term; Q is provably invariant to all-0/all-1 blocks so the
    distinct-pair collapse loses nothing), quantized 1e-6. Scale
    shape: one distinct over (user, type) — map-side combine on the
    pair key — then two user/type-grain aggregates; no windows, no
    joins beyond k-row broadcasts. int64 bound: sum C_j^2 <= k N^2,
    exact below ~1.3e9 users at k=5 (documented-bound pattern)."""
    e = load_table(spark, sf_dir, "events")
    pres = e.select("user_id", "event_type").distinct()
    pres = tracked_persist(pres)
    kk = pres.agg(
        F.countDistinct("event_type").cast("bigint").alias("k")
    )
    cj = pres.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    cj = tracked_persist(cj)
    ri = pres.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    mc = cj.agg(
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    mr = ri.agg(
        F.sum("r").cast("bigint").alias("sr"),
        F.sum(F.col("r") * F.col("r")).cast("bigint").alias("sr2"),
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
    )
    k = F.col("k")
    q = (
        (k - 1)
        * (k * F.col("sc2") - F.col("sc") * F.col("sc")).cast("double")
        / F.nullif(
            (k * F.col("sr") - F.col("sr2")).cast("double"), F.lit(0.0)
        )
    )
    stat = (
        kk.crossJoin(F.broadcast(mc))
        .crossJoin(F.broadcast(mr))
        .select("k", "n_users", q.alias("q"))
    )
    return (
        cj.crossJoin(F.broadcast(stat))
        .select(
            "event_type",
            F.col("c").alias("n_users_with"),
            "n_users",
            F.col("k").alias("k_types"),
            (F.col("k") - 1).alias("df"),
            (
                F.floor(F.col("q") * 1000000 + F.lit(0.5)).cast("bigint")
                / 1e6
            ).alias("cochran_q"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E365: Brown-Forsythe — variance homogeneity via deviations from the median
# --------------------------------------------------------------------------


@query(
    "q_brown_forsythe_value",
    oracle="""
    WITH hist AS MATERIALIZED (
      SELECT event_type AS t,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    cm AS MATERIALIZED (
      SELECT t, x, c,
             CAST(SUM(c) OVER (PARTITION BY t ORDER BY x) AS BIGINT)
               AS cum
      FROM hist),
    sz AS MATERIALIZED (
      SELECT t, CAST(SUM(c) AS BIGINT) AS n_g FROM hist GROUP BY 1),
    med AS MATERIALIZED (
      SELECT c.t,
             MIN(CASE WHEN c.cum >= (s.n_g + 1) // 2 THEN c.x END)
             + MIN(CASE WHEN c.cum >= s.n_g // 2 + 1 THEN c.x END)
               AS m2
      FROM cm c JOIN sz s ON s.t = c.t GROUP BY c.t),
    dev AS (
      SELECT h.t, h.c, abs(2 * h.x - m.m2) AS d
      FROM hist h JOIN med m ON m.t = h.t),
    grp AS MATERIALIZED (
      SELECT t, CAST(SUM(c * d) AS BIGINT) AS s_d,
             CAST(SUM(c * CAST(FLOOR(CAST(d * d AS DOUBLE) * 0.0001e0
                                     + 0.5) AS BIGINT)) AS BIGINT) AS q_d
      FROM dev GROUP BY t),
    gl AS (
      SELECT CAST(SUM(s.n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(g.s_d) AS BIGINT) AS s_tot,
             SUM(CAST(g.s_d AS DOUBLE) * g.s_d * 0.0001e0 / s.n_g)
               AS ssb_part,
             CAST(SUM(g.q_d) AS BIGINT) AS q_tot
      FROM grp g JOIN sz s ON s.t = g.t),
    stat AS (
      SELECT n, k,
             CAST(n - k AS DOUBLE) / (k - 1)
               * (ssb_part
                  - CAST(s_tot AS DOUBLE) * s_tot * 0.0001e0 / n)
               / NULLIF(CAST(q_tot AS DOUBLE) - ssb_part, 0.0e0) AS f
      FROM gl)
    SELECT g.t AS event_type, s2.n_g AS n_obs, m.m2 AS median_cents_x2,
           g.s_d AS absdev_sum_x2,
           CAST(FLOOR(CAST(g.s_d AS DOUBLE) / (2 * s2.n_g) / 100.0e0
                      * 1000000 + 0.5) AS BIGINT) / 1e6 AS mean_absdev,
           st.k - 1 AS df_between, st.n - st.k AS df_within,
           CAST(FLOOR(st.f * 1000000 + 0.5) AS BIGINT) / 1e6 AS bf_f
    FROM grp g
    JOIN sz s2 ON s2.t = g.t
    JOIN med m ON m.t = g.t
    CROSS JOIN stat st
    ORDER BY g.t
    """,
    tags=("E365", "E218", "E357", "W4", "A5", "A6"),
)
def q_brown_forsythe_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brown-Forsythe test: do the k event types have equal value
    SPREAD? ANOVA (E218) compares means and Kruskal-Wallis (E357)
    locations; BF runs the one-way F on absolute deviations from each
    group's MEDIAN — the robust variance-homogeneity test (Levene with
    median centers). The exact per-group median comes from the
    cents-histogram prefix sums (low+high mid in m2 = x_lo + x_hi, so
    2*median stays BIGINT even for even n); deviations d = |2x - m2|
    are exact half-cent integers, the within sum quantizes each d^2
    term to the 1e-4 grid BEFORE the BIGINT sum (the E343
    per-term-quantize recipe; keeps sum(c*d^2) under int64 past 1e10
    rows/group at a $10k value domain), and the k-term between/within
    combination runs in one fixed-shape double expression, F quantized
    1e-6. Scale shape: map-side histogram, one per-group prefix-sum
    window on the value-domain-bounded frame, k-row broadcasts."""
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    hist = tracked_persist(hist)
    wt = Window.partitionBy("t").orderBy("x")
    cm = hist.select(
        "t", "x", "c", F.sum("c").over(wt).cast("bigint").alias("cum")
    )
    sz = hist.groupBy("t").agg(F.sum("c").cast("bigint").alias("n_g"))
    sz = tracked_persist(sz)
    med = (
        cm.join(F.broadcast(sz), "t")
        .groupBy("t")
        .agg(
            (
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.floor((F.col("n_g") + 1) / 2).cast("long"),
                        F.col("x"),
                    )
                )
                + F.min(
                    F.when(
                        F.col("cum")
                        >= F.floor(F.col("n_g") / 2).cast("long") + 1,
                        F.col("x"),
                    )
                )
            ).alias("m2")
        )
    )
    dev = hist.join(F.broadcast(med), "t").select(
        "t",
        "c",
        F.abs(F.lit(2) * F.col("x") - F.col("m2")).alias("d"),
    )
    qterm = F.floor(
        (F.col("d") * F.col("d")).cast("double") * F.lit(0.0001)
        + F.lit(0.5)
    ).cast("bigint")
    grp = dev.groupBy("t").agg(
        F.sum(F.col("c") * F.col("d")).cast("bigint").alias("s_d"),
        F.sum(F.col("c") * qterm).cast("bigint").alias("q_d"),
    )
    grp = tracked_persist(grp)
    gl = (
        grp.join(F.broadcast(sz), "t")
        .agg(
            F.sum("n_g").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.sum("s_d").cast("bigint").alias("s_tot"),
            F.sum(
                F.col("s_d").cast("double")
                * F.col("s_d")
                * F.lit(0.0001)
                / F.col("n_g")
            ).alias("ssb_part"),
            F.sum("q_d").cast("bigint").alias("q_tot"),
        )
    )
    f_stat = (
        (F.col("n") - F.col("k")).cast("double")
        / (F.col("k") - 1)
        * (
            F.col("ssb_part")
            - F.col("s_tot").cast("double")
            * F.col("s_tot")
            * F.lit(0.0001)
            / F.col("n")
        )
        / F.nullif(
            F.col("q_tot").cast("double") - F.col("ssb_part"),
            F.lit(0.0),
        )
    )
    stat = gl.select("n", "k", f_stat.alias("f"))
    return (
        grp.join(F.broadcast(sz), "t")
        .join(F.broadcast(med), "t")
        .crossJoin(F.broadcast(stat))
        .select(
            F.col("t").alias("event_type"),
            F.col("n_g").alias("n_obs"),
            F.col("m2").alias("median_cents_x2"),
            F.col("s_d").alias("absdev_sum_x2"),
            (
                F.floor(
                    F.col("s_d").cast("double")
                    / (F.lit(2) * F.col("n_g"))
                    / F.lit(100.0)
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("mean_absdev"),
            (F.col("k") - 1).alias("df_between"),
            (F.col("n") - F.col("k")).alias("df_within"),
            (
                F.floor(F.col("f") * 1000000 + F.lit(0.5)).cast("bigint")
                / 1e6
            ).alias("bf_f"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E366: Breusch-Pagan — heteroskedasticity of the daily OLS residuals
# --------------------------------------------------------------------------


@query(
    "q_breusch_pagan_daily",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS d,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS y
      FROM events GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT event_type, y,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                  AS BIGINT) AS x
      FROM daily),
    mo AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM seq GROUP BY 1),
    fit AS (
      SELECT event_type, n, sx, sxx,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS b,
             sy
      FROM mo),
    fit2 AS (
      SELECT event_type, n, sx, sxx, b,
             (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / n AS a
      FROM fit),
    tq AS MATERIALIZED (
      SELECT s.event_type, s.x,
             CAST(FLOOR((CAST(s.y AS DOUBLE) - (f.a + f.b * s.x))
                        * (CAST(s.y AS DOUBLE) - (f.a + f.b * s.x))
                        * 0.01e0 + 0.5) AS BIGINT) AS t
      FROM seq s JOIN fit2 f USING (event_type)),
    tt AS (
      SELECT event_type, CAST(SUM(t) AS BIGINT) AS sse_q
      FROM tq GROUP BY 1),
    u AS MATERIALIZED (
      SELECT q.event_type, q.x,
             CAST(FLOOR(CAST(q.t AS DOUBLE) * 1000000.0e0
                        / NULLIF(CAST(w.sse_q AS DOUBLE), 0.0e0) + 0.5)
                  AS BIGINT) AS u
      FROM tq q JOIN tt w USING (event_type)),
    aux AS (
      SELECT event_type,
             CAST(SUM(u) AS BIGINT) AS su,
             CAST(SUM(x * u) AS BIGINT) AS sxu,
             CAST(SUM(u * u) AS BIGINT) AS suu
      FROM u GROUP BY 1),
    stat AS (
      SELECT f.event_type, f.n, w.sse_q,
             (CAST(f.n AS DOUBLE) * a.sxu
              - CAST(f.sx AS DOUBLE) * a.su)
             * (CAST(f.n AS DOUBLE) * a.sxu
                - CAST(f.sx AS DOUBLE) * a.su)
             / NULLIF((CAST(f.n AS DOUBLE) * f.sxx
                       - CAST(f.sx AS DOUBLE) * f.sx)
                      * (CAST(f.n AS DOUBLE) * a.suu
                         - CAST(a.su AS DOUBLE) * a.su), 0.0e0) AS r2
      FROM fit2 f JOIN aux a USING (event_type)
      JOIN tt w USING (event_type))
    SELECT event_type, n AS n_days, sse_q,
           CAST(1 AS BIGINT) AS df,
           CAST(FLOOR(n * r2 * 1000000 + 0.5) AS BIGINT) / 1e6 AS bp_lm
    FROM stat
    ORDER BY event_type
    """,
    tags=("E366", "E343", "E109", "W3", "A1", "F4"),
)
def q_breusch_pagan_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Breusch-Pagan heteroskedasticity test on each event type's
    daily-revenue-vs-day-index OLS — the variance diagnostic the
    Durbin-Watson row (E343) is not: DW asks "are residuals
    autocorrelated", BP asks "does residual VARIANCE grow along the
    regressor", i.e. is the trend fit's error fanning out over time.
    LM = n * R^2 of the auxiliary regression of squared residuals on
    x. Determinism recipe extends E343: each squared residual is
    floor-quantized to BIGINT on the 0.01 grid (t), then NORMALIZED by
    the group's quantized SSE via one fixed-order double
    multiply-divide (u = floor(t * 1e6 / sse + 0.5) <= 1e6, making
    every aux moment an exact BIGINT regardless of scale — the
    normalization cancels in R^2, which is scale-invariant, so no
    precision is lost and sum(u^2) stays under int64 forever); R^2
    itself is one fixed-shape double expression over the six BIGINT
    moments, NULLIF-guarded for the zero-SSE and constant-u
    degenerates, quantized 1e-6. Scale shape identical to E343:
    map-side day collapse, per-type windows on the date-domain-bounded
    frame, k-row joins."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("d")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("bigint")
        .alias("y")
    )
    wseq = Window.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type",
        "y",
        F.row_number().over(wseq).cast("bigint").alias("x"),
    )
    seq = tracked_persist(seq)
    mo = seq.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    b = (
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "double"
        )
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
    )
    fit = mo.select("event_type", "n", "sx", "sxx", b.alias("b"), "sy")
    fit2 = fit.select(
        "event_type",
        "n",
        "sx",
        "sxx",
        "b",
        (
            (F.col("sy").cast("double") - F.col("b") * F.col("sx").cast("double"))
            / F.col("n")
        ).alias("a"),
    )
    resid = F.col("y").cast("double") - (
        F.col("a") + F.col("b") * F.col("x")
    )
    tq = seq.join(F.broadcast(fit2), "event_type").select(
        "event_type",
        "x",
        F.floor(resid * resid * F.lit(0.01) + F.lit(0.5))
        .cast("bigint")
        .alias("t"),
    )
    tq = tracked_persist(tq)
    tt = tq.groupBy("event_type").agg(
        F.sum("t").cast("bigint").alias("sse_q")
    )
    u = tq.join(F.broadcast(tt), "event_type").select(
        "event_type",
        "x",
        F.floor(
            F.col("t").cast("double")
            * F.lit(1000000.0)
            / F.nullif(F.col("sse_q").cast("double"), F.lit(0.0))
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("u"),
    )
    aux = u.groupBy("event_type").agg(
        F.sum("u").cast("bigint").alias("su"),
        F.sum(F.col("x") * F.col("u")).cast("bigint").alias("sxu"),
        F.sum(F.col("u") * F.col("u")).cast("bigint").alias("suu"),
    )
    num = (
        F.col("n").cast("double") * F.col("sxu")
        - F.col("sx").cast("double") * F.col("su")
    )
    den = (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    ) * (
        F.col("n").cast("double") * F.col("suu")
        - F.col("su").cast("double") * F.col("su")
    )
    stat = (
        fit2.join(aux, "event_type")
        .join(F.broadcast(tt), "event_type")
        .select(
            "event_type",
            "n",
            "sse_q",
            (num * num / F.nullif(den, F.lit(0.0))).alias("r2"),
        )
    )
    return stat.select(
        "event_type",
        F.col("n").alias("n_days"),
        "sse_q",
        F.lit(1).cast("bigint").alias("df"),
        (
            F.floor(F.col("n") * F.col("r2") * 1000000 + F.lit(0.5))
            .cast("bigint")
            / 1e6
        ).alias("bp_lm"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# E367: Mood's median test — above/below the grand median, per group
# --------------------------------------------------------------------------


@query(
    "q_mood_median_value",
    oracle="""
    WITH hist AS MATERIALIZED (
      SELECT event_type AS t,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    mv AS MATERIALIZED (
      SELECT x, CAST(SUM(c) AS BIGINT) AS m,
             CAST(SUM(SUM(c)) OVER (ORDER BY x) AS BIGINT) AS cum
      FROM hist GROUP BY x),
    nn AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM mv),
    gm AS (
      SELECT MIN(CASE WHEN v.cum >= (w.n + 1) // 2 THEN v.x END)
             + MIN(CASE WHEN v.cum >= w.n // 2 + 1 THEN v.x END) AS m2
      FROM mv v CROSS JOIN nn w),
    cl AS MATERIALIZED (
      SELECT h.t,
             CAST(SUM(CASE WHEN 2 * h.x > g.m2 THEN h.c ELSE 0 END)
                  AS BIGINT) AS above,
             CAST(SUM(CASE WHEN 2 * h.x < g.m2 THEN h.c ELSE 0 END)
                  AS BIGINT) AS below
      FROM hist h CROSS JOIN gm g GROUP BY h.t),
    tot AS (
      SELECT CAST(SUM(above) AS BIGINT) AS ta,
             CAST(SUM(below) AS BIGINT) AS tb,
             CAST(SUM(above + below) AS BIGINT) AS tn,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cl),
    chi AS (
      SELECT t.k, t.tn,
             SUM(
               (c.above - CAST(c.above + c.below AS DOUBLE) * t.ta / t.tn)
               * (c.above - CAST(c.above + c.below AS DOUBLE) * t.ta / t.tn)
               / NULLIF(CAST(c.above + c.below AS DOUBLE) * t.ta / t.tn,
                        0.0e0)
               + (c.below - CAST(c.above + c.below AS DOUBLE) * t.tb / t.tn)
               * (c.below - CAST(c.above + c.below AS DOUBLE) * t.tb / t.tn)
               / NULLIF(CAST(c.above + c.below AS DOUBLE) * t.tb / t.tn,
                        0.0e0)
             ) AS chi2
      FROM cl c CROSS JOIN tot t GROUP BY t.k, t.tn)
    SELECT c.t AS event_type, c.above AS n_above, c.below AS n_below,
           h.k - 1 AS df,
           CAST(FLOOR(h.chi2 * 1000000 + 0.5) AS BIGINT) / 1e6
             AS mood_chi2
    FROM cl c CROSS JOIN chi h
    ORDER BY c.t
    """,
    tags=("E367", "E365", "E357", "W4", "A1", "F6"),
)
def q_mood_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do the k event types straddle the GRAND
    median of value equally? The coarsest, most outlier-proof of the
    k-group location tests (KW E357 uses full ranks; this uses one
    bit per row), exactly the 2 x k Pearson chi2 on above/below
    counts. The grand median comes from the pooled cents-histogram
    prefix sums (m2 = x_lo + x_hi, the E365 recipe — 2*median stays
    BIGINT); rows AT the median (2x = m2) are excluded, the standard
    convention, so every cell count is an exact BIGINT and chi2 is a
    k-term fixed-shape double sum over the k-row frame (E357
    precedent), quantized 1e-6, NULLIF-guarded for empty margins.
    Scale shape: map-side histogram, ONE global prefix-sum window on
    the value-domain-bounded spine, k-row aggregates."""
    e = load_table(spark, sf_dir, "events")
    hist = e.groupBy(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("x"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    hist = tracked_persist(hist)
    # r12 (guide §2.4, VERDICT #2): the pooled total n rides a
    # full-frame window on the same single-partition pass as the
    # prefix sum (no separate nn aggregate + broadcast build), and the
    # chi2 margins/total below ride full-frame windows over the k-row
    # class table (no tot/chi probe jobs) — 6 jobs -> 3, interleaved
    # A/B x0.67, outputs row-identical.
    ws = Window.orderBy("x")
    wfull = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mv = (
        hist.groupBy("x")
        .agg(F.sum("c").cast("bigint").alias("m"))
        .select(
            "x",
            F.sum("m").over(ws).cast("bigint").alias("cum"),
            F.sum("m").over(wfull).cast("bigint").alias("n"),
        )
    )
    gm = (
        mv
        .agg(
            (
                F.min(
                    F.when(
                        F.col("cum")
                        >= F.floor((F.col("n") + 1) / 2).cast("long"),
                        F.col("x"),
                    )
                )
                + F.min(
                    F.when(
                        F.col("cum")
                        >= F.floor(F.col("n") / 2).cast("long") + 1,
                        F.col("x"),
                    )
                )
            ).alias("m2")
        )
    )
    cl = (
        hist.crossJoin(F.broadcast(gm))
        .groupBy("t")
        .agg(
            F.sum(
                F.when(F.lit(2) * F.col("x") > F.col("m2"), F.col("c"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("above"),
            F.sum(
                F.when(F.lit(2) * F.col("x") < F.col("m2"), F.col("c"))
                .otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("below"),
        )
    )
    clw = cl.select(
        "t",
        "above",
        "below",
        F.sum("above").over(wfull).cast("bigint").alias("ta"),
        F.sum("below").over(wfull).cast("bigint").alias("tb"),
        F.sum(F.col("above") + F.col("below")).over(wfull).cast("bigint").alias("tn"),
        F.count(F.lit(1)).over(wfull).cast("bigint").alias("k"),
    )
    ea = (F.col("above") + F.col("below")).cast("double") * F.col("ta") / F.col("tn")
    eb = (F.col("above") + F.col("below")).cast("double") * F.col("tb") / F.col("tn")
    cell = (F.col("above") - ea) * (F.col("above") - ea) / F.nullif(
        ea, F.lit(0.0)
    ) + (F.col("below") - eb) * (F.col("below") - eb) / F.nullif(
        eb, F.lit(0.0)
    )
    return (
        clw.withColumn("chi2", F.sum(cell).over(wfull))
        .select(
            F.col("t").alias("event_type"),
            F.col("above").alias("n_above"),
            F.col("below").alias("n_below"),
            (F.col("k") - 1).alias("df"),
            (
                F.floor(F.col("chi2") * 1000000 + F.lit(0.5)).cast("bigint")
                / 1e6
            ).alias("mood_chi2"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E368: Mood's dispersion test — exact permutation moments with ties
# --------------------------------------------------------------------------

# The two a-priori arms being compared for dispersion (declared, not
# data-derived): purchase values vs view values.
_MD_ARM_A = "purchase"
_MD_ARM_B = "view"


@query(
    "q_mood_dispersion_value",
    oracle=f"""
    WITH hist AS MATERIALIZED (
      SELECT event_type AS t,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS x,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events
      WHERE event_type IN ('{_MD_ARM_A}', '{_MD_ARM_B}')
      GROUP BY 1, 2),
    mv AS MATERIALIZED (
      SELECT x, CAST(SUM(c) AS BIGINT) AS m,
             CAST(SUM(SUM(c)) OVER (ORDER BY x) AS BIGINT) AS cum
      FROM hist GROUP BY x),
    nn AS (SELECT CAST(SUM(m) AS BIGINT) AS n FROM mv),
    sc AS MATERIALIZED (
      SELECT v.x, v.m,
             CAST(FLOOR(
               CAST((2 * (v.cum - v.m) + v.m + 1 - (w.n + 1))
                    * (2 * (v.cum - v.m) + v.m + 1 - (w.n + 1)) AS DOUBLE)
               / ((w.n + 1) * CAST(w.n + 1 AS DOUBLE))
               * 1000000000 + 0.5) AS BIGINT) AS s2q
      FROM mv v CROSS JOIN nn w),
    pop AS (
      SELECT CAST(SUM(m * s2q) AS BIGINT) AS sum_s2,
             CAST(SUM(m * CAST(FLOOR(CAST(s2q AS DOUBLE) * s2q * 1e-9
                                     + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_s4
      FROM sc),
    arm AS (
      SELECT CAST(SUM(h.c) AS BIGINT) AS n_a,
             CAST(SUM(h.c * s.s2q) AS BIGINT) AS t_a
      FROM hist h JOIN sc s ON s.x = h.x
      WHERE h.t = '{_MD_ARM_A}'),
    stat AS (
      SELECT a.n_a, w.n, a.t_a,
             CAST(a.n_a AS DOUBLE) * p.sum_s2 / w.n AS mean_t,
             CAST(a.n_a AS DOUBLE) * (w.n - a.n_a) / (w.n - 1)
               * (CAST(p.sum_s4 AS DOUBLE) / w.n * 1e9
                  - (CAST(p.sum_s2 AS DOUBLE) / w.n)
                    * (CAST(p.sum_s2 AS DOUBLE) / w.n))
               AS var_t
      FROM arm a CROSS JOIN nn w CROSS JOIN pop p)
    SELECT '{_MD_ARM_A}' AS arm_a, '{_MD_ARM_B}' AS arm_b,
           n_a, n - n_a AS n_b, t_a AS t_q,
           CAST(FLOOR(mean_t * 1000000 + 0.5) AS BIGINT) / 1e6
             AS expected_t_q,
           CAST(FLOOR((t_a - mean_t)
                      / NULLIF(sqrt(var_t), 0.0e0) * 1000000 + 0.5)
                AS BIGINT) / 1e6 AS mood_z
    FROM stat
    """,
    tags=("E368", "E357", "E219", "E365", "W4", "A1"),
)
def q_mood_dispersion_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mood's dispersion (squared-rank) test between the purchase and
    view value distributions: are purchases more SPREAD than views,
    rank-wise? The two-sample scale test next to Brown-Forsythe
    (E365, k-group, deviation-based): score each observation by its
    squared centered midrank s^2 = ((2r - (N+1))/(N+1))^2 in [0,1]
    and compare arm A's score sum against its permutation moments.
    Rather than the untied textbook E/Var, BOTH engines compute the
    EXACT finite-population permutation moments from the observed
    midrank multiset — E[T] = n_a * mean(s^2), Var[T] = n_a (N-n_a)
    / (N-1) * var(s^2) — so ties are handled exactly, not
    approximated. Midranks come from the pooled cents-histogram
    (E219 discipline); the NORMALIZED s^2 is floor-quantized to the
    1e-9 grid per DISTINCT VALUE before any sum, keeping every
    aggregate an exact BIGINT at any corpus size (sum <= N * 1e9 —
    the E366 normalize-then-quantize recipe; the s^4 term quantizes
    the product of two quantized factors, identical in both
    engines), and z is one fixed-shape double expression, quantized
    1e-6. Scale shape: map-side histogram, ONE prefix-sum window on
    the value-domain-bounded spine, two scalar aggregates."""
    e = load_table(spark, sf_dir, "events")
    hist = (
        e.filter(F.col("event_type").isin(_MD_ARM_A, _MD_ARM_B))
        .groupBy(
            F.col("event_type").alias("t"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("x"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    hist = tracked_persist(hist)
    ws = Window.orderBy("x")
    mv = (
        hist.groupBy("x")
        .agg(F.sum("c").cast("bigint").alias("m"))
        .select("x", "m", F.sum("m").over(ws).cast("bigint").alias("cum"))
    )
    nn = mv.agg(F.sum("m").cast("bigint").alias("n"))
    dev = (
        F.lit(2) * (F.col("cum") - F.col("m"))
        + F.col("m")
        + 1
        - (F.col("n") + 1)
    )
    s2q = F.floor(
        (dev * dev).cast("double")
        / ((F.col("n") + 1) * (F.col("n") + 1).cast("double"))
        * 1000000000
        + F.lit(0.5)
    ).cast("bigint")
    sc = mv.crossJoin(F.broadcast(nn)).select(
        "x", "m", s2q.alias("s2q")
    )
    sc = tracked_persist(sc)
    s4q = F.floor(
        F.col("s2q").cast("double") * F.col("s2q") * F.lit(1e-9)
        + F.lit(0.5)
    ).cast("bigint")
    pop = sc.agg(
        F.sum(F.col("m") * F.col("s2q")).cast("bigint").alias("sum_s2"),
        F.sum(F.col("m") * s4q).cast("bigint").alias("sum_s4"),
    )
    arm = (
        hist.filter(F.col("t") == _MD_ARM_A)
        .join(sc.select("x", "s2q"), "x")
        .agg(
            F.sum("c").cast("bigint").alias("n_a"),
            F.sum(F.col("c") * F.col("s2q")).cast("bigint").alias("t_a"),
        )
    )
    mean_t = F.col("n_a").cast("double") * F.col("sum_s2") / F.col("n")
    var_t = (
        F.col("n_a").cast("double")
        * (F.col("n") - F.col("n_a"))
        / (F.col("n") - 1)
        * (
            F.col("sum_s4").cast("double") / F.col("n") * F.lit(1e9)
            - (F.col("sum_s2").cast("double") / F.col("n"))
            * (F.col("sum_s2").cast("double") / F.col("n"))
        )
    )
    stat = (
        arm.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(pop))
        .select(
            "n_a",
            "n",
            "t_a",
            mean_t.alias("mean_t"),
            var_t.alias("var_t"),
        )
    )
    return stat.select(
        F.lit(_MD_ARM_A).alias("arm_a"),
        F.lit(_MD_ARM_B).alias("arm_b"),
        "n_a",
        (F.col("n") - F.col("n_a")).alias("n_b"),
        F.col("t_a").alias("t_q"),
        (
            F.floor(F.col("mean_t") * 1000000 + F.lit(0.5)).cast("bigint")
            / 1e6
        ).alias("expected_t_q"),
        (
            F.floor(
                (F.col("t_a") - F.col("mean_t"))
                / F.nullif(F.sqrt(F.col("var_t")), F.lit(0.0))
                * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1e6
        ).alias("mood_z"),
    )


# --------------------------------------------------------------------------
# E369: Theil's U — directional uncertainty coefficient U(type | weekday)
# --------------------------------------------------------------------------


@query(
    "q_theil_u_type_weekday",
    oracle="""
    WITH cells AS MATERIALIZED (
      SELECT CAST(date_part('dow', ts) AS BIGINT) AS dw,
             event_type AS t, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    mx AS MATERIALIZED (
      SELECT dw, CAST(SUM(c) AS BIGINT) AS n_x FROM cells GROUP BY 1),
    my AS MATERIALIZED (
      SELECT t, CAST(SUM(c) AS BIGINT) AS n_y FROM cells GROUP BY 1),
    nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
    mi AS (
      SELECT CAST(SUM(cl.c * CAST(FLOOR(
               ln(CAST(cl.c AS DOUBLE) * w.n
                  / (CAST(x.n_x AS DOUBLE) * y.n_y))
               * 1000000000 + 0.5) AS BIGINT)) AS BIGINT) AS mi_q
      FROM cells cl
      JOIN mx x ON x.dw = cl.dw
      JOIN my y ON y.t = cl.t
      CROSS JOIN nn w),
    hy AS (
      SELECT CAST(-SUM(y.n_y * CAST(FLOOR(
               ln(CAST(y.n_y AS DOUBLE) / w.n) * 1000000000 + 0.5)
               AS BIGINT)) AS BIGINT) AS hy_q
      FROM my y CROSS JOIN nn w)
    SELECT y.t AS event_type, y.n_y,
           CAST(FLOOR(CAST(h.hy_q AS DOUBLE) / w.n / 1e9 * 1000000
                      + 0.5) AS BIGINT) / 1e6 AS h_y_nats,
           CAST(FLOOR(CAST(m.mi_q AS DOUBLE) / w.n / 1e9 * 1000000
                      + 0.5) AS BIGINT) / 1e6 AS mi_nats,
           CAST(FLOOR(CAST(m.mi_q AS DOUBLE)
                      / NULLIF(CAST(h.hy_q AS DOUBLE), 0.0e0)
                      * 1000000 + 0.5) AS BIGINT) / 1e6 AS theil_u
    FROM my y CROSS JOIN mi m CROSS JOIN hy h CROSS JOIN nn w
    ORDER BY y.t
    """,
    tags=("E369", "E125", "E221", "A1", "F4", "J6"),
)
def q_theil_u_type_weekday(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil's uncertainty coefficient U(event_type | weekday): what
    FRACTION of event-type entropy does knowing the weekday remove?
    The directional, [0,1]-normalized sibling of mutual information
    (E125) and chi-square association (E221): U = I(X;Y)/H(Y), so 0
    = weekday tells nothing, 1 = weekday determines the type.
    Determinism recipe: each ln output is floor-quantized to the
    1e-9 grid straight after the libm call (the E359/E361
    discipline — ln arguments are identical fixed-order double
    ratios of exact BIGINT counts in both engines), so I*N and
    H(Y)*N become exact BIGINT-weighted sums over the (weekday x
    type) cell frame — 7 x k cells, categorically bounded — and U
    is ONE BIGINT/BIGINT double division, quantized 1e-6, NULLIF-
    guarded for the single-type degenerate. Scale shape: map-side
    cell collapse, marginal broadcasts, no windows at all."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        (F.dayofweek(F.col("ts")) - 1).cast("bigint").alias("dw"),
        F.col("event_type").alias("t"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    cells = tracked_persist(cells)
    mx = cells.groupBy("dw").agg(
        F.sum("c").cast("bigint").alias("n_x")
    )
    my = cells.groupBy("t").agg(F.sum("c").cast("bigint").alias("n_y"))
    my = tracked_persist(my)
    nn = cells.agg(F.sum("c").cast("bigint").alias("n"))
    lnq_cell = F.floor(
        F.log(
            F.col("c").cast("double")
            * F.col("n")
            / (F.col("n_x").cast("double") * F.col("n_y"))
        )
        * 1000000000
        + F.lit(0.5)
    ).cast("bigint")
    mi = (
        cells.join(F.broadcast(mx), "dw")
        .join(F.broadcast(my), "t")
        .crossJoin(F.broadcast(nn))
        .agg(F.sum(F.col("c") * lnq_cell).cast("bigint").alias("mi_q"))
    )
    lnq_y = F.floor(
        F.log(F.col("n_y").cast("double") / F.col("n"))
        * 1000000000
        + F.lit(0.5)
    ).cast("bigint")
    hy = (
        my.crossJoin(F.broadcast(nn))
        .agg((-F.sum(F.col("n_y") * lnq_y)).cast("bigint").alias("hy_q"))
    )
    return (
        my.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("t").alias("event_type"),
            "n_y",
            (
                F.floor(
                    F.col("hy_q").cast("double")
                    / F.col("n")
                    / F.lit(1e9)
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("h_y_nats"),
            (
                F.floor(
                    F.col("mi_q").cast("double")
                    / F.col("n")
                    / F.lit(1e9)
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("mi_nats"),
            (
                F.floor(
                    F.col("mi_q").cast("double")
                    / F.nullif(F.col("hy_q").cast("double"), F.lit(0.0))
                    * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e6
            ).alias("theil_u"),
        )
        .orderBy("event_type")
    )
