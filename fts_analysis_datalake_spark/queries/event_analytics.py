"""Event/product-analytics declared queries (SURVEY.md §2.12 E19-E22):
funnel conversion, retention cohorts, transition matrix, hourly
gap-fill with LOCF — the standard event-stream analyses a reference
user runs over the FTS-style events table.

All four are pure Catalyst plans (windows + aggregations + one
broadcast spine join); every one is oracle-checked. Per repo
convention, raw ns-precision ``ts`` values never cross the oracle
boundary — outputs carry epoch seconds / dates; internal comparisons
stay within one engine.

E23 adds edit-distance fuzzy matching on customer names via the
SymSpell deletion-neighborhood join (complete candidate generation
for lev <= 2 within a segment) — entity resolution's
candidate-then-verify shape, with ``levenshtein`` on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import ensure_parallelism, load_table
from fts_analysis_datalake_spark.functions.deterministic import dsum, sql_dsum
from fts_analysis_datalake_spark.registry import query

# --------------------------------------------------------------------------
# E19: ordered funnel — first view -> first later click -> first later
# purchase, per user; stage reach counts
# --------------------------------------------------------------------------


@query(
    "q_funnel_view_click_purchase",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
          JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
          WHERE e.event_type = 'click' GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
          JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
          WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 1 AS stage_idx, 'view' AS stage, COUNT(*) AS n_users FROM v
    UNION ALL
    SELECT 2, 'click', COUNT(*) FROM c
    UNION ALL
    SELECT 3, 'purchase', COUNT(*) FROM p
    """,
    tags=("E19", "A1", "J1", "U1"),
)
def q_funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered three-stage funnel: a user reaches stage N only via an
    event strictly after their stage-N-1 time. Each stage is one
    groupBy(user) min + one equi-join on user_id with a post-join
    time filter — at 100 TB the stage frontier (one row per surviving
    user) is tiny next to the event table, so AQE broadcasts it."""
    e = load_table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str, tcol: str, prev_t: str) -> DataFrame:
        return (
            e.filter(F.col("event_type") == etype)
            .join(prev, "user_id")
            .filter(F.col("ts") > F.col(prev_t))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = first_after(v, "click", "t2", "t1")
    p = first_after(c, "purchase", "t3", "t2")
    rows = [
        v.agg(F.lit(1).alias("stage_idx"), F.lit("view").alias("stage"),
              F.count(F.lit(1)).alias("n_users")),
        c.agg(F.lit(2).alias("stage_idx"), F.lit("click").alias("stage"),
              F.count(F.lit(1)).alias("n_users")),
        p.agg(F.lit(3).alias("stage_idx"), F.lit("purchase").alias("stage"),
              F.count(F.lit(1)).alias("n_users")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --------------------------------------------------------------------------
# E20: weekly retention cohorts — cohort = week of first event
# --------------------------------------------------------------------------


@query(
    "q_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events
      GROUP BY user_id),
    activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             datediff('week', f.cohort_week, date_trunc('week', e.ts)) AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_week, week_offset,
           COUNT(*) AS n_active FROM activity
    GROUP BY 1, 2
    """,
    tags=("E20", "A1", "A3", "J1", "F4"),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic retention triangle: users grouped by first-seen week,
    counted once per (cohort, week-offset) they were active in. The
    per-user first-week frontier is an aggregation (one shuffle) that
    AQE broadcasts back onto the event scan; distinct-per-cell is a
    second shuffle on the (user, cohort, offset) key."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            ).cast("bigint").alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )


# --------------------------------------------------------------------------
# E21: event transition matrix — per-user consecutive pairs
# --------------------------------------------------------------------------


@query(
    "q_event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           COUNT(*) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY event_type) AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    tags=("E21", "W3", "A1", "W4"),
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + row-normalized
    probabilities over each user's event sequence (lead window on the
    (ts, event_id) total order; FIXTURES.md determinism note). One
    window shuffle on user_id, one agg shuffle on the pair key; the
    per-from_type normalizer is a window over the (tiny) 5x5 result."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    norm = Window.partitionBy("from_type")
    return counts.withColumn(
        "p", F.col("n").cast("double") / F.sum("n").over(norm)
    )


# --------------------------------------------------------------------------
# E22: hourly gap-fill + LOCF — complete time spine, carried-forward value
# --------------------------------------------------------------------------


@query(
    "q_gapfill_hourly_locf",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             {sql_dsum('value')} AS hour_value
      FROM events WHERE event_type IN ('purchase', 'signup', 'error')
      GROUP BY 1, 2),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    spine AS (
      SELECT t.event_type, g.h
      FROM (SELECT DISTINCT event_type FROM hourly) t
      CROSS JOIN (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
                  FROM bounds) g)
    SELECT s.event_type, CAST(FLOOR(epoch(s.h)) AS BIGINT) AS hour_s,
           COALESCE(hy.hour_value,
                    LAST_VALUE(hy.hour_value IGNORE NULLS) OVER
                      (PARTITION BY s.event_type ORDER BY s.h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    0.0) AS filled_value,
           hy.hour_value IS NULL AS is_gap
    FROM spine s LEFT JOIN hourly hy ON s.event_type = hy.event_type AND s.h = hy.h
    """,
    tags=("E22", "F4", "W7", "J2", "F7"),
)
def q_gapfill_hourly_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: build the complete hourly spine
    (sequence over the observed bound, exploded — the bound row is a
    1-row broadcast), left-join the sparse hourly aggregate, and fill
    gaps by carrying the last observed value forward (last() with
    ignoreNulls over an unbounded-preceding frame); leading gaps fall
    back to 0. The spine grows with time x keys, not with event
    volume, so at 100 TB it stays negligible next to the scan."""
    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.filter(F.col("event_type").isin("purchase", "signup", "error"))
        .groupBy("event_type", F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(dsum(F.col("value")).alias("hour_value"))
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = (
        hourly.select("event_type").distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.unix_timestamp("h").alias("hour_s"),
            F.coalesce(
                F.col("hour_value"),
                F.last("hour_value", ignorenulls=True).over(w),
                F.lit(0.0),
            ).alias("filled_value"),
            F.col("hour_value").isNull().alias("is_gap"),
        )
    )


# --------------------------------------------------------------------------
# E23: fuzzy edit-distance matching — entity resolution's verify step
# --------------------------------------------------------------------------


@query(
    "q_fuzzy_name_pairs",
    oracle="""
    WITH base AS (SELECT c_custkey, c_mktsegment AS seg, substr(c_name, 10) AS d
                  FROM customer),
    v AS (
      SELECT DISTINCT c_custkey, seg, d, var FROM (
        SELECT c_custkey, seg, d, d AS var FROM base
        UNION ALL
        SELECT c_custkey, seg, d, substr(d,1,j-1) || substr(d,j+1,9) FROM base,
             (SELECT unnest(range(1,10)) AS j)
        UNION ALL
        SELECT c_custkey, seg, d, substr(d,1,i-1) || substr(d,i+1,j-i-1) || substr(d,j+1,9)
        FROM base, (SELECT unnest(range(1,10)) AS i), (SELECT unnest(range(1,10)) AS j)
        WHERE i < j)),
    cand AS (
      SELECT DISTINCT a.c_custkey AS key_a, b.c_custkey AS key_b,
             a.d AS d_a, b.d AS d_b
      FROM v a JOIN v b ON a.var = b.var AND a.seg = b.seg
                       AND a.c_custkey < b.c_custkey)
    SELECT key_a, key_b, levenshtein(d_a, d_b) AS dist
    FROM cand WHERE levenshtein(d_a, d_b) <= 2
    """,
    tags=("E23", "J11", "F1", "F7"),
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL customer-name pairs within edit distance 2, via the
    SymSpell deletion-neighborhood join: each 9-digit name key emits
    its 46 delete-<=2 variants (1 identity + 9 single + 36 double),
    and lev(a,b) <= 2 guarantees the neighborhoods intersect (delete
    a's substituted+deleted positions and b's substituted+inserted
    positions from an optimal alignment — the remainders are equal),
    so the variant equi-join is a COMPLETE candidate generator within
    a segment — unlike aligned-substring blocking, which degenerates
    on the zero-padded sequential keys (every name shares the '000'
    prefix block: 112M candidates at sf0.1). Variants are DEDUPED
    PER ROW before the join (zero-heavy keys emit the same variant
    through many deletion-position choices; without the dedup each
    logical candidate is joined multiplicity² times — measured 8x
    blow-up). Cost is linear in rows (<=46 variants each) plus
    output-sized verify; the first-cut nation-blocked all-pairs form
    was O(n^2/25) and the slowest query in the suite at sf0.1."""
    # ensure_parallelism: the probe side's variant explode AND the
    # per-candidate levenshtein evaluate where the rows sit — a
    # 1-partition parquet scan would pin the whole verify to one core.
    c = ensure_parallelism(load_table(spark, sf_dir, "customer"))
    base = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("seg"),
        F.substring("c_name", 10, 9).alias("d"),
    )
    variants = [F.col("d")]
    for j in range(1, 10):
        variants.append(
            F.concat(F.expr(f"substr(d, 1, {j - 1})"), F.expr(f"substr(d, {j + 1}, 9)"))
        )
    for i in range(1, 10):
        for j in range(i + 1, 10):
            variants.append(
                F.concat(
                    F.expr(f"substr(d, 1, {i - 1})"),
                    F.expr(f"substr(d, {i + 1}, {j - i - 1})"),
                    F.expr(f"substr(d, {j + 1}, 9)"),
                )
            )
    v = base.select(
        "c_custkey", "seg", "d", F.explode(F.array_distinct(F.array(*variants))).alias("var")
    )
    # Verify (levenshtein) runs MAP-SIDE on the raw join output, before
    # the dedup shuffle: the shuffle then carries only surviving
    # (key_a, key_b, dist) triples (~20 B/row) instead of wide digit
    # strings — measured 2x faster than distinct-then-verify at sf0.1.
    return (
        v.alias("a")
        .join(
            v.alias("b"),
            (F.col("a.var") == F.col("b.var"))
            & (F.col("a.seg") == F.col("b.seg"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("key_a"),
            F.col("b.c_custkey").alias("key_b"),
            F.levenshtein(F.col("a.d"), F.col("b.d")).alias("dist"),
        )
        .filter(F.col("dist") <= 2)
        .distinct()
    )


# --------------------------------------------------------------------------
# E24: week-over-week churn / retention / new-user decomposition
# --------------------------------------------------------------------------


@query(
    "q_weekly_churn",
    oracle="""
    WITH wk AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events),
    pairs AS (
      SELECT COALESCE(a.w + INTERVAL 7 DAY, b.w) AS week,
             COUNT(*) FILTER (a.user_id IS NOT NULL AND b.user_id IS NOT NULL)
               AS retained,
             COUNT(*) FILTER (b.user_id IS NULL) AS churned,
             COUNT(*) FILTER (a.user_id IS NULL) AS gained
      FROM wk a FULL OUTER JOIN wk b
        ON a.user_id = b.user_id AND a.w + INTERVAL 7 DAY = b.w
      GROUP BY 1)
    SELECT week, retained, churned, gained FROM pairs
    """,
    tags=("E24", "J2", "A3", "F4"),
)
def q_weekly_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week user movement: for each week W, users active in
    both W-1 and W (retained), active in W-1 but not W (churned out
    of W), and active in W but not W-1 (gained). One FULL OUTER
    self-join of the distinct (user, week) activity set on
    (user, consecutive-week) — the anti-join and semi-join fall out
    of the null sides, so all three measures come from ONE shuffle
    instead of three separate joins."""
    e = load_table(spark, sf_dir, "events")
    wk = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    a = wk.alias("a")
    b = wk.alias("b")
    nxt = F.col("a.w") + F.expr("INTERVAL 7 DAY")
    joined = a.join(
        b,
        (F.col("a.user_id") == F.col("b.user_id")) & (nxt == F.col("b.w")),
        "full_outer",
    )
    return (
        joined.groupBy(F.coalesce(nxt, F.col("b.w")).alias("week"))
        .agg(
            F.count(
                F.when(
                    F.col("a.user_id").isNotNull() & F.col("b.user_id").isNotNull(), 1
                )
            ).alias("retained"),
            F.count(F.when(F.col("b.user_id").isNull(), 1)).alias("churned"),
            F.count(F.when(F.col("a.user_id").isNull(), 1)).alias("gained"),
        )
    )


# --------------------------------------------------------------------------
# E30: strict-adjacency sequence pattern over per-user event strings
# --------------------------------------------------------------------------


@query(
    "q_strict_sequence_users",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(event_type, ',' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id)
    SELECT COUNT(*) AS n_users,
           COUNT(*) FILTER (seq LIKE '%view,click,purchase%') AS n_matched
    FROM seqs
    """,
    tags=("E30", "A9", "F8", "F1"),
)
def q_strict_sequence_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral pattern matching with STRICT adjacency: users whose
    event stream contains view -> click -> purchase as consecutive
    events (the funnel query allows gaps; this does not). Each user's
    ordered type sequence is assembled via sort_array over
    (ts, event_id, type) structs — collect_list alone has no
    deterministic order — then joined to a string and matched. One
    groupBy(user) shuffle; the per-user state is one small array."""
    e = load_table(spark, sf_dir, "events")
    seq = (
        e.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("ts", "event_id", "event_type"))
                    ),
                    lambda s: s.event_type,
                ),
                ",",
            ).alias("seq")
        )
    )
    return seq.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("seq").contains("view,click,purchase"), 1)).alias(
            "n_matched"
        ),
    )


# --------------------------------------------------------------------------
# E31: percentile-threshold anomaly detection — p99 band per key
# --------------------------------------------------------------------------


@query(
    "q_value_anomaly_p99",
    oracle="""
    WITH bands AS (
      SELECT event_type, quantile_cont(value, 0.99) AS p99
      FROM events GROUP BY event_type)
    SELECT e.event_type, b.p99,
           COUNT(*) FILTER (e.value > b.p99) AS n_anomalies,
           COUNT(*) AS n
    FROM events e JOIN bands b ON e.event_type = b.event_type
    GROUP BY e.event_type, b.p99
    """,
    tags=("E31", "A5", "J5", "A7"),
)
def q_value_anomaly_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold anomaly detection: exact interpolated p99 of value
    per event type (percentile sorts — order-independent, so it
    hash-matches quantile_cont), broadcast back onto the scan, and
    rows above the band counted. The two-pass shape (tiny aggregate
    -> broadcast join -> conditional count) is the 100 TB pattern:
    the percentile pass shuffles only (type, value), the flag pass
    is map-side."""
    e = load_table(spark, sf_dir, "events")
    bands = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.99)).alias("p99")
    )
    return (
        e.join(F.broadcast(bands), "event_type")
        .groupBy("event_type", "p99")
        .agg(
            F.count(F.when(F.col("value") > F.col("p99"), 1)).alias("n_anomalies"),
            F.count(F.lit(1)).alias("n"),
        )
    )

# --------------------------------------------------------------------------
# E34: exponentially weighted moving average per user
# --------------------------------------------------------------------------


@query(
    "q_ewma_user_value",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 31 PRECEDING AND CURRENT ROW)
               AS vals
      FROM events)
    SELECT user_id, event_id,
           list_sum(list_transform(range(len(vals)),
                    i -> vals[i + 1] * pow(0.5, len(vals) - 1 - i)))
           / (2 - pow(0.5, len(vals) - 1)) AS ewma
    FROM w
    """,
    tags=("E34", "W5", "F8"),
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of each user's value stream — the trend feature
    a training pipeline derives per entity. alpha = 0.5 makes every
    weight an exact power of two, so the weighted products round
    identically in both engines and the fixed fold order (frame order
    = ORDER BY ts, event_id) makes the sum deterministic. The frame
    is truncated at 32 rows: weights below 2^-31 are noise, and the
    bounded frame keeps state O(1) per row at 100 TB (vs an
    unbounded running form whose rescaling overflows). One window
    shuffle on user_id; everything after is map-side."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-31, 0)
    df = e.select(
        "user_id", "event_id", F.collect_list("value").over(w).alias("vals")
    )
    k = F.size("vals")
    num = F.aggregate(
        F.transform("vals", lambda x, i: x * F.pow(F.lit(0.5), k - 1 - i)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    den = F.lit(2.0) - F.pow(F.lit(0.5), k - 1)
    return df.select("user_id", "event_id", (num / den).alias("ewma"))


# --------------------------------------------------------------------------
# E35: sliding-window distinct users (3h) via mergeable hourly sets
# --------------------------------------------------------------------------


@query(
    "q_sliding_distinct_users",
    oracle="""
    WITH hours AS (
      SELECT DISTINCT date_trunc('hour', ts) AS h FROM events)
    SELECT CAST(FLOOR(epoch(hours.h)) AS BIGINT) AS hour_s,
           COUNT(DISTINCT e.user_id) AS users_3h
    FROM hours JOIN events e
      ON date_trunc('hour', e.ts)
         BETWEEN hours.h - INTERVAL 2 HOUR AND hours.h
    GROUP BY hours.h
    """,
    tags=("E35", "A3", "W6", "F7"),
)
def q_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 3-hour distinct-user count per hour. COUNT(DISTINCT)
    isn't a window aggregate in Spark, and re-joining raw events per
    hour rescans the fact 3x (the oracle does exactly that — fine for
    DuckDB, wrong at 100 TB). Instead: ONE scan builds per-hour user
    sets (shuffle carries distinct (hour, user) pairs only), then a
    range-frame window over the tiny hour spine merges 3 sets
    (flatten -> array_distinct). The window table has one row per
    HOUR — ~10^5 rows for a decade — so the single-task sort is
    trivial; for hot hours whose sets outgrow memory, swap the sets
    for HLL sketches (q_hll_user_rollup shows the merge)."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.collect_set("user_id").alias("us")
    )
    hourly = hourly.withColumn("hn", (F.unix_timestamp("h") / 3600).cast("long"))
    w = Window.orderBy("hn").rangeBetween(-2, 0)
    return hourly.select(
        F.unix_timestamp("h").alias("hour_s"),
        F.size(F.array_distinct(F.flatten(F.collect_list("us").over(w)))).alias(
            "users_3h"
        ),
    )


# --------------------------------------------------------------------------
# E53: population stability index — distribution drift between cohorts
# --------------------------------------------------------------------------


@query(
    "q_psi_value_drift",
    oracle="""
    WITH bucketed AS (
      SELECT event_type,
             CAST(event_id % 2 AS BIGINT) AS cohort,
             CAST(FLOOR(value / 50) AS BIGINT) AS bucket
      FROM events),
    cells AS (
      SELECT event_type, bucket,
             COUNT(*) FILTER (cohort = 0) AS na,
             COUNT(*) FILTER (cohort = 1) AS nb
      FROM bucketed GROUP BY event_type, bucket),
    tot AS (
      SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb,
             COUNT(*) AS k
      FROM cells GROUP BY event_type),
    terms AS (
      SELECT cells.event_type,
             CAST(FLOOR(
               (((na + 0.5) / (ta + 0.5 * k)) - ((nb + 0.5) / (tb + 0.5 * k)))
               * ln(((na + 0.5) / (ta + 0.5 * k)) / ((nb + 0.5) / (tb + 0.5 * k)))
               * 1000000000 + 0.5) AS BIGINT) AS q
      FROM cells JOIN tot ON cells.event_type = tot.event_type)
    SELECT event_type, SUM(q) / 1000000000.0 AS psi
    FROM terms GROUP BY event_type
    """,
    tags=("E53", "A1", "F6", "J5"),
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event_type between two cohorts
    (even/odd event ids standing in for reference vs current batch)
    over fixed-width value buckets — the drift alarm a production
    corpus monitor evaluates per ingest. Laplace-smoothed shares
    ((n+0.5)/(N+0.5K)) keep empty buckets finite; per-bucket terms
    are 1e-9-quantized before the sum (ln libm guard + order
    independence, house pattern). One scan builds the cells; the
    per-type totals re-aggregate the tiny cell table and broadcast
    back."""
    e = load_table(spark, sf_dir, "events")
    bucketed = e.select(
        "event_type",
        (F.col("event_id") % 2).cast("long").alias("cohort"),
        F.floor(F.col("value") / 50).cast("long").alias("bucket"),
    )
    cells = bucketed.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("nb"),
    )
    tot = cells.groupBy("event_type").agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb"), F.count(F.lit(1)).alias("k")
    )
    pa = (F.col("na") + 0.5) / (F.col("ta") + 0.5 * F.col("k"))
    pb = (F.col("nb") + 0.5) / (F.col("tb") + 0.5 * F.col("k"))
    q = F.floor((pa - pb) * F.log(pa / pb) * 1000000000 + F.lit(0.5)).cast("long")
    return (
        cells.join(F.broadcast(tot), "event_type")
        .groupBy("event_type")
        .agg((F.sum(q) / 1000000000.0).alias("psi"))
    )


# --------------------------------------------------------------------------
# E54: Holt linear-trend forecast per event_type (applyInPandas)
# --------------------------------------------------------------------------


_HOLT_ORACLE = """
WITH RECURSIVE hourly AS MATERIALIZED (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY event_type, h),
idx AS MATERIALIZED (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly),
rec(event_type, t, n, level_q, trend_q, abs_q, n_err) AS (
  SELECT event_type, CAST(1 AS BIGINT), n,
         CAST(FLOOR(y * 1000000000 + 0.5) AS BIGINT),
         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  FROM idx WHERE t = 1
  UNION ALL
  SELECT event_type, t + 1, n, nl_q,
         CAST(FLOOR((0.3e0 * (nl_q / 1.0e9 - level_q / 1.0e9)
                     + 0.7e0 * (trend_q / 1.0e9)) * 1.0e9 + 0.5) AS BIGINT),
         abs_q + CAST(FLOOR(ABS(y - (level_q / 1.0e9 + trend_q / 1.0e9))
                            * 1.0e9 + 0.5) AS BIGINT),
         n_err + 1
  FROM (
    SELECT r.event_type, r.t, r.n, r.level_q, r.trend_q, r.abs_q, r.n_err,
           i.y,
           CAST(FLOOR((0.5e0 * i.y
                       + 0.5e0 * (r.level_q / 1.0e9 + r.trend_q / 1.0e9))
                      * 1.0e9 + 0.5) AS BIGINT) AS nl_q
    FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1))
SELECT event_type, n AS n_hours,
       level_q / 1.0e9 AS level,
       trend_q / 1.0e9 AS trend,
       (level_q + trend_q) / 1.0e9 AS f1,
       (level_q + 2 * trend_q) / 1.0e9 AS f2,
       (level_q + 3 * trend_q) / 1.0e9 AS f3,
       CAST(FLOOR(abs_q / 1.0e9 / GREATEST(n_err, 1) * 1000000 + 0.5) AS BIGINT)
         / 1000000.0 AS mae
FROM rec WHERE t = n
"""


@query(
    "q_holt_forecast_hourly",
    oracle=_HOLT_ORACLE,
    tags=("E54", "X2", "T1"),
)
def q_holt_forecast_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly volume forecast by Holt double exponential
    smoothing (alpha=0.5, beta=0.3): the level/trend recursion is
    inherently sequential per series, so it runs as a grouped-map
    pandas stage — the X2 contract (per-entity model fit), same
    shape as the per-user OLS. The hourly aggregation shrinks each
    group to O(hours) rows BEFORE Python ever sees data, so the
    pandas stage is tiny regardless of event volume. Output: fitted
    level/trend, 3-step-ahead forecasts, in-sample MAE.

    Rows-only until round 5; now the first HASH-CHECKED
    applyInPandas query: level and trend are quantized to 1e-9 int64
    after every smoothing step (each intra-step expression is a
    fixed sequence of single IEEE ops written identically in the
    kernel and in the oracle's recursive CTE), so the whole fit
    trajectory — and therefore the forecasts and MAE — is
    bit-identical to DuckDB's WITH RECURSIVE replay of the same
    recursion."""
    import math

    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    hourly = (
        e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        y = pdf["y"].to_list()
        level_q = math.floor(y[0] * 1000000000 + 0.5)
        trend_q = 0
        abs_q, n_err = 0, 0
        for t in range(1, len(y)):
            pred = level_q / 1.0e9 + trend_q / 1.0e9
            abs_q += math.floor(abs(y[t] - pred) * 1.0e9 + 0.5)
            n_err += 1
            nl_q = math.floor((0.5 * y[t] + 0.5 * pred) * 1.0e9 + 0.5)
            trend_q = math.floor(
                (0.3 * (nl_q / 1.0e9 - level_q / 1.0e9) + 0.7 * (trend_q / 1.0e9))
                * 1.0e9
                + 0.5
            )
            level_q = nl_q
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [len(y)],
                "level": [level_q / 1.0e9],
                "trend": [trend_q / 1.0e9],
                "f1": [(level_q + trend_q) / 1.0e9],
                "f2": [(level_q + 2 * trend_q) / 1.0e9],
                "f3": [(level_q + 3 * trend_q) / 1.0e9],
                "mae": [
                    math.floor(abs_q / 1.0e9 / max(n_err, 1) * 1000000 + 0.5)
                    / 1000000.0
                ],
            }
        )

    schema = (
        "event_type string, n_hours long, level double, trend double, "
        "f1 double, f2 double, f3 double, mae double"
    )
    return hourly.groupBy("event_type").applyInPandas(fit, schema)


# --------------------------------------------------------------------------
# E55: cumulative unique users — the first-seen rewrite of running
# COUNT(DISTINCT)
# --------------------------------------------------------------------------


@query(
    "q_cumulative_unique_users",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(date_trunc('day', ts)) AS first_day FROM events
      GROUP BY user_id),
    days AS (SELECT DISTINCT date_trunc('day', ts) AS day FROM events),
    new_per_day AS (
      SELECT first_day AS day, COUNT(*) AS n_new FROM firsts GROUP BY first_day)
    SELECT days.day,
           CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY days.day) AS BIGINT)
             AS cum_users,
           CAST(COALESCE(n.n_new, 0) AS BIGINT) AS new_users
    FROM days LEFT JOIN new_per_day n ON days.day = n.day
    """,
    tags=("E55", "A3", "W4", "J2"),
)
def q_cumulative_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running count of distinct users ever seen, per day. The naive
    form — COUNT(DISTINCT) over a growing window — does not exist as
    a Spark window aggregate and would rescan history per day
    anyway; the scale rewrite is: (1) one groupBy finds each user's
    FIRST day (shuffle carries one row per user), (2) per-day
    new-user counts, (3) a running sum over the tiny day spine.
    Growth-accounting identity: cumulative distinct = cumulative sum
    of first-appearances. The only window runs over O(days) rows."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("first_day")
    )
    days = e.select(F.date_trunc("day", "ts").alias("day")).distinct()
    new_per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(new_per_day, "day", "left")
        .select("day", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            "day",
            F.sum("n_new").over(w).cast("long").alias("cum_users"),
            F.col("n_new").cast("long").alias("new_users"),
        )
    )


# --------------------------------------------------------------------------
# E56: multi-set overlap (Venn) — one-scan bitmask membership rollup
# --------------------------------------------------------------------------


@query(
    "q_user_type_venn",
    oracle="""
    WITH m AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'purchase' THEN 4 ELSE 0 END)
               AS mask
      FROM events WHERE event_id % 13 = 0 GROUP BY user_id)
    SELECT CAST(mask AS BIGINT) AS mask,
           mask % 2 = 1 AS has_view,
           (mask // 2) % 2 = 1 AS has_click,
           (mask // 4) % 2 = 1 AS has_purchase,
           COUNT(*) AS n_users
    FROM m WHERE mask > 0 GROUP BY mask
    """,
    tags=("E56", "U3", "A1", "F6"),
)
def q_user_type_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Venn decomposition of three behavior sets (viewers,
    clickers, purchasers) in ONE scan: per-user membership collapses
    to a 3-bit mask (conditional MAX aggregates), then the mask
    distribution IS every intersection/exclusion cardinality at
    once. The multi-pass INTERSECT/EXCEPT formulation scans the
    fact 2^k times; this is the 100 TB single-pass form (one
    user-key shuffle, then a few-row rollup). The 1-in-13 slice
    keeps per-user coverage sparse enough that several mask
    combinations actually occur in the fixtures."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_id") % 13 == 0)
    m = e.groupBy("user_id").agg(
        (
            F.max(F.when(F.col("event_type") == "view", 1).otherwise(0))
            + F.max(F.when(F.col("event_type") == "click", 2).otherwise(0))
            + F.max(F.when(F.col("event_type") == "purchase", 4).otherwise(0))
        ).alias("mask")
    )
    return (
        m.where(F.col("mask") > 0)
        .groupBy(F.col("mask").cast("long").alias("mask"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            "mask",
            (F.col("mask") % 2 == 1).alias("has_view"),
            ((F.col("mask") / 2).cast("long") % 2 == 1).alias("has_click"),
            ((F.col("mask") / 4).cast("long") % 2 == 1).alias("has_purchase"),
            "n_users",
        )
    )


# --------------------------------------------------------------------------
# E63: hour-of-week seasonality profile
# --------------------------------------------------------------------------


@query(
    "q_hourofweek_seasonality",
    oracle=f"""
    SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("E63", "F4", "A1"),
)
def q_hourofweek_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7x24 seasonality grid (day-of-week x hour-of-day volume
    and value) that baselines anomaly detection and capacity
    planning. Day-of-week conventions differ: Spark's dayofweek is
    1=Sunday..7, DuckDB's is 0=Sunday..6 — the Spark side subtracts
    1 so both emit 0=Sunday (verified bit-exact). One scan, one
    168-row aggregate."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        (F.dayofweek("ts") - 1).alias("dow"), F.hour("ts").alias("hod")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# E64: market-basket affinity — co-occurrence support and lift
# --------------------------------------------------------------------------


@query(
    "q_basket_category_lift",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 10 AS cat FROM lineitem),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    cat_n AS (SELECT cat, COUNT(*) AS n_cat FROM items GROUP BY cat),
    pairs AS (
      SELECT a.cat AS cat_a, b.cat AS cat_b, COUNT(*) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.cat < b.cat
      GROUP BY a.cat, b.cat)
    SELECT cat_a, cat_b, n_both,
           CAST(n_both AS DOUBLE) * n_orders.n / (ca.n_cat * cb.n_cat) AS lift
    FROM pairs
    JOIN cat_n ca ON pairs.cat_a = ca.cat
    JOIN cat_n cb ON pairs.cat_b = cb.cat, n_orders
    """,
    tags=("E64", "J11", "A1", "A3"),
)
def q_basket_category_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over order contents: support count and
    lift (P(a,b) / P(a)P(b)) for every co-occurring category pair —
    the association signal behind recommendations and bundle
    analysis. The basket table is deduped to DISTINCT (order, cat)
    FIRST so the self-join fans out over categories-per-order (<=10)
    rather than raw line items; category marginals and the order
    count ride broadcasts back onto the (tiny) pair table. Lift
    arithmetic is one double expression from exact ints — identical
    both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 10).alias("cat")
    ).distinct()
    n_orders = items.agg(F.countDistinct("l_orderkey").alias("n"))
    cat_n = items.groupBy("cat").agg(F.count(F.lit(1)).alias("n_cat"))
    a, b = items.alias("a"), items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.cat") < F.col("b.cat")),
        )
        .groupBy(F.col("a.cat").alias("cat_a"), F.col("b.cat").alias("cat_b"))
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        pairs.join(F.broadcast(cat_n.withColumnRenamed("cat", "cat_a").withColumnRenamed("n_cat", "na")), "cat_a")
        .join(F.broadcast(cat_n.withColumnRenamed("cat", "cat_b").withColumnRenamed("n_cat", "nb")), "cat_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "cat_a",
            "cat_b",
            "n_both",
            (F.col("n_both").cast("double") * F.col("n") / (F.col("na") * F.col("nb"))).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# E65: conversion latency percentiles — funnel timing distribution
# --------------------------------------------------------------------------


@query(
    "q_conversion_latency_percentiles",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
          JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
          WHERE e.event_type = 'purchase' GROUP BY e.user_id),
    lat AS (
      SELECT CAST(FLOOR(epoch(p.t2)) - FLOOR(epoch(v.t1)) AS BIGINT) AS sec
      FROM p JOIN v USING (user_id))
    SELECT COUNT(*) AS n_converted,
           quantile_cont(sec, 0.50) AS p50_s,
           quantile_cont(sec, 0.90) AS p90_s,
           CAST(MAX(sec) AS BIGINT) AS max_s
    FROM lat
    """,
    tags=("E65", "E19", "A5", "F4"),
)
def q_conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How long conversion takes: per converting user, the gap from
    first view to first later purchase, summarized as p50/p90/max —
    the funnel-timing metric next to the stage-reach counts (E19).
    Latencies are integral epoch seconds, so percentile interpolation
    is bit-equal across engines (A5 precedent). The two stage
    frontiers are one-row-per-user aggregates; everything downstream
    of the scan is tiny."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    lat = p.join(v, "user_id").select(
        (F.unix_timestamp("t2") - F.unix_timestamp("t1")).alias("sec")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.percentile("sec", F.lit(0.50)).alias("p50_s"),
        F.percentile("sec", F.lit(0.90)).alias("p90_s"),
        F.max("sec").cast("long").alias("max_s"),
    )


# --------------------------------------------------------------------------
# E67: RFM segmentation — recency/frequency/monetary quintile codes
# --------------------------------------------------------------------------


@query(
    "q_rfm_segments",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS last_s,
             COUNT(*) AS freq,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY user_id),
    scored AS (
      SELECT user_id, cents,
             ntile(5) OVER (ORDER BY last_s DESC, user_id) AS r,
             ntile(5) OVER (ORDER BY freq DESC, user_id) AS f,
             ntile(5) OVER (ORDER BY cents DESC, user_id) AS m
      FROM per_user)
    SELECT r, f, m,
           CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
             AS rfm_code,
           COUNT(*) AS n_users,
           SUM(cents) / 100.0 AS total_value
    FROM scored GROUP BY r, f, m
    """,
    tags=("E67", "W2", "A1", "F4"),
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per-user recency (last activity),
    frequency (event count), monetary (value cents) quintiled into
    the classic 555-style code, rolled up to segment sizes and
    value. Quintile boundaries come from ntile over total orders
    with user_id tiebreaks (floor distribution identical across
    engines); money stays in integer cents until the final display
    division. One shuffle builds the per-user table; the three
    window passes run over that (small) table, not the events."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.unix_timestamp(F.max("ts")).alias("last_s"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"),
    )
    scored = per_user.select(
        "user_id",
        "cents",
        F.ntile(5).over(Window.orderBy(F.desc("last_s"), F.asc("user_id"))).alias("r"),
        F.ntile(5).over(Window.orderBy(F.desc("freq"), F.asc("user_id"))).alias("f"),
        F.ntile(5).over(Window.orderBy(F.desc("cents"), F.asc("user_id"))).alias("m"),
    )
    return scored.groupBy("r", "f", "m").agg(
        F.concat(
            F.col("r").cast("string"), F.col("f").cast("string"), F.col("m").cast("string")
        ).alias("rfm_code"),
        F.count(F.lit(1)).alias("n_users"),
        (F.sum("cents") / 100.0).alias("total_value"),
    )


# --------------------------------------------------------------------------
# E75: CUSUM change-point — where did the hourly level shift?
# --------------------------------------------------------------------------


@query(
    "q_cusum_changepoint",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, SUM(cents) AS tot, COUNT(*) AS k
      FROM hourly GROUP BY event_type),
    cusum AS (
      SELECT hourly.event_type, h, k,
             SUM(k * cents - tot)
               OVER (PARTITION BY hourly.event_type ORDER BY h) AS ck
      FROM hourly JOIN stats ON hourly.event_type = stats.event_type)
    SELECT event_type,
           CAST(FLOOR(epoch(MIN(h) FILTER (rnk = 1))) AS BIGINT)
             AS changepoint_hour_s,
           CAST(MAX(abs_ck) AS DOUBLE) / MAX(k) / 100.0 AS max_cusum
    FROM (
      SELECT event_type, h, k, abs(ck) AS abs_ck,
             rank() OVER (PARTITION BY event_type ORDER BY abs(ck) DESC, h)
               AS rnk
      FROM cusum)
    GROUP BY event_type
    """,
    tags=("E75", "W4", "A1", "F4"),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event type: the cumulative
    sum of (hourly value - series mean) peaks in magnitude at the
    most likely level-shift hour — the classic single-change locator
    that needs just two passes (mean, then cumsum) over the already
    tiny hourly table. Hourly values are exact integer cents; the
    cusum subtracts an identical double mean both engines, and the
    arg-max hour uses a rank-1 filter with the hour itself as the
    deterministic tiebreak."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents"))
    stats = hourly.groupBy("event_type").agg(
        F.sum("cents").alias("tot"), F.count(F.lit(1)).alias("k")
    )
    wc = Window.partitionBy("event_type").orderBy("h")
    cusum = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "h",
        "k",
        F.sum(F.col("k") * F.col("cents") - F.col("tot")).over(wc).alias("ck"),
    )
    wr = Window.partitionBy("event_type").orderBy(F.desc(F.abs("ck")), "h")
    ranked = cusum.select(
        "event_type", "h", "k", F.abs("ck").alias("abs_ck"), F.rank().over(wr).alias("rnk")
    )
    return ranked.groupBy("event_type").agg(
        F.unix_timestamp(F.min(F.when(F.col("rnk") == 1, F.col("h"))))
        .alias("changepoint_hour_s"),
        (F.max("abs_ck").cast("double") / F.max("k") / 100.0).alias("max_cusum"),
    )


# --------------------------------------------------------------------------
# E76: behavioral entropy — per-user event-type diversity
# --------------------------------------------------------------------------


@query(
    "q_user_behavior_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n FROM events
      GROUP BY user_id, event_type),
    t AS (SELECT user_id, SUM(n) AS tot FROM c GROUP BY user_id),
    terms AS (
      SELECT c.user_id,
             CAST(FLOOR(-(CAST(n AS DOUBLE) / tot)
                        * ln(CAST(n AS DOUBLE) / tot)
                        * 1000000000 + 0.5) AS BIGINT) AS q
      FROM c JOIN t ON c.user_id = t.user_id),
    ent AS (
      SELECT user_id, SUM(q) / 1000000000.0 AS entropy FROM terms
      GROUP BY user_id)
    SELECT CAST(FLOOR(entropy * 10) AS BIGINT) AS entropy_decile_bucket,
           COUNT(*) AS n_users,
           MIN(entropy) AS min_entropy, MAX(entropy) AS max_entropy
    FROM ent GROUP BY 1
    """,
    tags=("E76", "A1", "F6"),
)
def q_user_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral
    diversity feature (bots are low-entropy, explorers high),
    histogrammed into 0.1-nat buckets. Shares are exact ratios of
    counts, each -p*ln(p) term is 1e-9-quantized before summing
    (order-free, libm-guarded), and the bucket floor is exact. Two
    aggregates over the (user, type) table; no window, no explode."""
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("user_id").agg(F.sum("n").alias("tot"))
    p = F.col("n").cast("double") / F.col("tot")
    q = F.floor(-p * F.log(p) * 1000000000 + F.lit(0.5)).cast("long")
    ent = (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg((F.sum(q) / 1000000000.0).alias("entropy"))
    )
    return ent.groupBy(
        F.floor(F.col("entropy") * 10).cast("long").alias("entropy_decile_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.min("entropy").alias("min_entropy"),
        F.max("entropy").alias("max_entropy"),
    )


# --------------------------------------------------------------------------
# E79: time-decayed engagement score — half-life weighted rollup
# --------------------------------------------------------------------------


@query(
    "q_decayed_user_scores",
    oracle="""
    WITH anchor AS (SELECT MAX(date_trunc('day', ts)) AS a FROM events),
    terms AS (
      SELECT user_id,
             CAST(FLOOR(
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               * pow(0.5, LEAST(datediff('day', date_trunc('day', ts), anchor.a),
                                40))
               * 1048576 + 0.5) AS BIGINT) AS q
      FROM events, anchor)
    SELECT user_id,
           SUM(q) / 1048576.0 / 100.0 AS decayed_score,
           COUNT(*) AS n_events
    FROM terms GROUP BY user_id
    """,
    tags=("E79", "F4", "F6", "A1"),
)
def q_decayed_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement: each event contributes
    value * 0.5^(age_days) — a 1-day half-life feature-store rollup
    that never needs the raw history again (today's score = yesterday's
    * 0.5 + today's events, a mergeable recurrence). Determinism:
    integer cents x 0.5^k (exact dyadic scaling, age capped at 40 so
    terms stay representable) quantized to 2^-20 before the integer
    sum — order-free on both engines. The day anchor is a 1-row
    broadcast."""
    e = load_table(spark, sf_dir, "events")
    anchor = e.agg(F.max(F.date_trunc("day", "ts")).alias("a"))
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    age = F.least(
        F.datediff(F.col("a"), F.date_trunc("day", F.col("ts"))), F.lit(40)
    )
    term = F.floor(
        cents * F.pow(F.lit(0.5), age) * 1048576 + F.lit(0.5)
    ).cast("long")
    return (
        e.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            (F.sum(term) / 1048576.0 / 100.0).alias("decayed_score"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --------------------------------------------------------------------------
# E86: week-over-week growth — lag-based KPI deltas
# --------------------------------------------------------------------------


@query(
    "q_weekly_value_growth",
    oracle=f"""
    WITH weekly AS (
      -- CAST to TIMESTAMP (r12 correctness): DuckDB's date_trunc
      -- yields DATE while Spark's yields TIMESTAMP; same instant, but
      -- the driver's row canonicalization stringifies the two types
      -- differently (this query entered the driver sample window for
      -- the first time this round; driver-sim caught the mismatch)
      SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS wk,
             {sql_dsum('value')} AS wk_value
      FROM events GROUP BY 1)
    SELECT wk, wk_value,
           LAG(wk_value) OVER (ORDER BY wk) AS prev_value,
           CASE WHEN LAG(wk_value) OVER (ORDER BY wk) > 0
                THEN (wk_value - LAG(wk_value) OVER (ORDER BY wk))
                     / LAG(wk_value) OVER (ORDER BY wk)
           END AS wow_growth,
           wk_value > COALESCE(LAG(wk_value) OVER (ORDER BY wk), 0) AS grew
    FROM weekly
    """,
    tags=("E86", "W3", "F4", "A1"),
)
def q_weekly_value_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KPI report row: weekly total, previous week, percentage
    growth, direction flag — one lag window over the (tiny) weekly
    aggregate. Weekly sums are the deterministic scaled form, so the
    growth ratio divides identical doubles on both engines; the
    first week's growth is NULL by construction."""
    e = load_table(spark, sf_dir, "events")
    weekly = e.groupBy(F.date_trunc("week", "ts").alias("wk")).agg(
        dsum(F.col("value")).alias("wk_value")
    )
    w = Window.orderBy("wk")
    prev = F.lag("wk_value").over(w)
    return weekly.select(
        "wk",
        "wk_value",
        prev.alias("prev_value"),
        F.when(prev > 0, (F.col("wk_value") - prev) / prev).alias("wow_growth"),
        (F.col("wk_value") > F.coalesce(prev, F.lit(0.0))).alias("grew"),
    )


# --------------------------------------------------------------------------
# E87: earth mover's distance (1-D) — distribution distance, exact
# --------------------------------------------------------------------------


@query(
    "q_emd_value_distributions",
    oracle="""
    WITH h AS (
      SELECT CAST(FLOOR(value / 25) AS BIGINT) AS b,
             COUNT(*) FILTER (event_type = 'purchase') AS na,
             COUNT(*) FILTER (event_type = 'view') AS nb
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY 1),
    c AS (
      SELECT b, SUM(na) OVER (ORDER BY b) AS ca, SUM(nb) OVER (ORDER BY b) AS cb,
             (SELECT SUM(na) FROM h) AS ta, (SELECT SUM(nb) FROM h) AS tb
      FROM h)
    SELECT CAST(SUM(abs(ca * tb - cb * ta)) AS DOUBLE) / (MAX(ta) * MAX(tb))
             * 25 AS emd,
           CAST(MAX(ta) AS BIGINT) AS n_a, CAST(MAX(tb) AS BIGINT) AS n_b
    FROM c
    """,
    tags=("E87", "A14", "W4", "F6"),
)
def q_emd_value_distributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D earth mover's (Wasserstein-1) distance between two value
    distributions — the drift metric that, unlike PSI (E53), has
    units (value mass x distance) and no smoothing knobs. In 1-D,
    EMD = integral |CDF_a - CDF_b|; on a shared histogram the
    cross-multiplied integer form sum|cumA*totB - cumB*totA| stays
    EXACT until one final division — no double accumulates across
    buckets. One scan, one tiny cumulative window."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isin("purchase", "view")
    )
    h = e.groupBy(F.floor(F.col("value") / 25).cast("long").alias("b")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("nb"),
    )
    tot = h.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    c = h.select(
        "b", F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    ).crossJoin(F.broadcast(tot))
    return c.agg(
        (
            F.sum(F.abs(F.col("ca") * F.col("tb") - F.col("cb") * F.col("ta"))).cast(
                "double"
            )
            / (F.max("ta") * F.max("tb"))
            * 25
        ).alias("emd"),
        F.max("ta").cast("long").alias("n_a"),
        F.max("tb").cast("long").alias("n_b"),
    )


# --------------------------------------------------------------------------
# E88: linear interpolation gap-fill — LOCF's smoother sibling
# --------------------------------------------------------------------------


@query(
    "q_gapfill_linear_interp",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    bounds AS (SELECT MIN(h) AS h0, MAX(h) AS h1 FROM hourly),
    spine AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds),
    j AS (
      SELECT spine.h, hourly.cents,
             CAST(FLOOR(epoch(spine.h)) AS BIGINT) AS hs
      FROM spine LEFT JOIN hourly ON spine.h = hourly.h),
    ctx AS (
      SELECT h, hs, cents,
             LAST_VALUE(cents IGNORE NULLS) OVER
               (ORDER BY hs ROWS UNBOUNDED PRECEDING) AS pv,
             MAX(CASE WHEN cents IS NOT NULL THEN hs END) OVER
               (ORDER BY hs ROWS UNBOUNDED PRECEDING) AS ph,
             FIRST_VALUE(cents IGNORE NULLS) OVER
               (ORDER BY hs ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS nv,
             MIN(CASE WHEN cents IS NOT NULL THEN hs END) OVER
               (ORDER BY hs ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS nh
      FROM j)
    SELECT hs AS hour_s,
           cents IS NULL AS interpolated,
           CASE
             WHEN cents IS NOT NULL THEN cents / 100.0
             WHEN pv IS NULL THEN nv / 100.0
             WHEN nv IS NULL THEN pv / 100.0
             ELSE (pv + CAST((nv - pv) AS DOUBLE) * (hs - ph) / (nh - ph)) / 100.0
           END AS filled_value
    FROM ctx
    """,
    tags=("E88", "E22", "W7", "F4"),
)
def q_gapfill_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR INTERPOLATION between the nearest observed
    neighbors (LOCF's smoother sibling, E22): forward and backward
    window passes fetch the previous/next observation and its hour,
    and the fill is the exact lerp pv + (nv-pv)*(t-t0)/(t1-t0) on
    integer cents and integer hour offsets — one double expression,
    identical both engines; edges degrade to nearest-value fill.
    Costs two window passes over the hourly spine, nothing over raw
    events."""
    e = load_table(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("cents")
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    j = spine.join(hourly, "h", "left").select(
        F.unix_timestamp("h").alias("hs"), "cents"
    )
    wb = Window.orderBy("hs").rowsBetween(Window.unboundedPreceding, 0)
    wf = Window.orderBy("hs").rowsBetween(0, Window.unboundedFollowing)
    obs_hs = F.when(F.col("cents").isNotNull(), F.col("hs"))
    ctx = j.select(
        "hs",
        "cents",
        F.last("cents", ignorenulls=True).over(wb).alias("pv"),
        F.max(obs_hs).over(wb).alias("ph"),
        F.first("cents", ignorenulls=True).over(wf).alias("nv"),
        F.min(obs_hs).over(wf).alias("nh"),
    )
    fill = (
        F.when(F.col("cents").isNotNull(), F.col("cents") / 100.0)
        .when(F.col("pv").isNull(), F.col("nv") / 100.0)
        .when(F.col("nv").isNull(), F.col("pv") / 100.0)
        .otherwise(
            (
                F.col("pv")
                + (F.col("nv") - F.col("pv")).cast("double")
                * (F.col("hs") - F.col("ph"))
                / (F.col("nh") - F.col("ph"))
            )
            / 100.0
        )
    )
    return ctx.select(
        F.col("hs").alias("hour_s"),
        F.col("cents").isNull().alias("interpolated"),
        fill.alias("filled_value"),
    )


# --------------------------------------------------------------------------
# E92: time-bounded funnel — conversion must land within 24 h
# --------------------------------------------------------------------------


@query(
    "q_funnel_within_24h",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    conv AS (
      SELECT DISTINCT e.user_id
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > v.t1 AND e.ts <= v.t1 + INTERVAL 24 HOUR)
    SELECT (SELECT COUNT(*) FROM v) AS n_viewers,
           (SELECT COUNT(*) FROM conv) AS n_converted_24h
    """,
    tags=("E92", "E19", "J8", "F5"),
)
def q_funnel_within_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The funnel with a CONVERSION WINDOW: a purchase only counts if
    it lands within 24 h of the user's first view — the form every
    attribution/campaign report actually uses (unbounded funnels
    overstate conversion). Same frontier-join shape as E19 plus an
    interval upper bound; the distinct collapses multiple qualifying
    purchases to one converting user."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("t1"))
            & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 24 HOURS"))
        )
        .select("user_id")
        .distinct()
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewers"))
        .crossJoin(F.broadcast(conv.agg(F.count(F.lit(1)).alias("n_converted_24h"))))
    )


# --------------------------------------------------------------------------
# E94: cohort LTV curve — cumulative value by cohort age
# --------------------------------------------------------------------------


@query(
    "q_cohort_ltv_curve",
    oracle="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week FROM events
      GROUP BY user_id),
    wk AS (
      SELECT f.cohort_week,
             datediff('week', f.cohort_week, date_trunc('week', e.ts))
               AS age_weeks,
             SUM(CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      GROUP BY 1, 2),
    cohort_sizes AS (
      SELECT cohort_week, COUNT(*) AS n_users FROM firsts GROUP BY cohort_week)
    SELECT wk.cohort_week, age_weeks,
           SUM(SUM(cents)) OVER (PARTITION BY wk.cohort_week ORDER BY age_weeks)
             / 100.0 / MAX(cs.n_users) AS cum_value_per_user,
           CAST(MAX(cs.n_users) AS BIGINT) AS n_users
    FROM wk JOIN cohort_sizes cs ON wk.cohort_week = cs.cohort_week
    GROUP BY wk.cohort_week, age_weeks
    """,
    tags=("E94", "E20", "W4", "A1"),
)
def q_cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative value per user by
    cohort age — the retention triangle (E20) with money on it, the
    chart growth teams actually steer by. Integer cents accumulate
    through the cumulative window (exact under any association), and
    each cohort's size divides once at the end. One frontier join,
    one aggregate, one window over the tiny (cohort x age) grid."""
    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    wk = (
        e.join(firsts, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7
            ).cast("bigint").alias("age_weeks"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "cents"
            )
        )
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count(F.lit(1)).alias("n_users"))
    w = Window.partitionBy("cohort_week").orderBy("age_weeks")
    return (
        wk.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "age_weeks",
            (F.sum("cents").over(w) / 100.0 / F.col("n_users")).alias(
                "cum_value_per_user"
            ),
            F.col("n_users").cast("long").alias("n_users"),
        )
    )


# --------------------------------------------------------------------------
# E95: session depth distribution — engagement histogram
# --------------------------------------------------------------------------


@query(
    "q_session_depth_histogram",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER w IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS sess_id
      FROM ordered),
    depths AS (
      SELECT user_id, sess_id, COUNT(*) AS depth
      FROM sess GROUP BY user_id, sess_id)
    SELECT LEAST(CAST(depth AS BIGINT), 10) AS depth_bucket,
           COUNT(*) AS n_sessions
    FROM depths GROUP BY 1
    """,
    tags=("E95", "W8", "A14"),
)
def q_session_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement depth: events-per-session histogram (30-min gap
    sessionization, W8 semantics), capped at 10+ — the one-glance
    answer to 'are sessions one-shot or deep?'. Session labeling is
    the standard gap-flag cumsum on the (ts, event_id) total order;
    the histogram rides two cheap aggregates after the one window
    shuffle."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = e.select(
        "user_id",
        F.sum(new_sess).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("sess_id"),
    )
    depths = sess.groupBy("user_id", "sess_id").agg(F.count(F.lit(1)).alias("depth"))
    return depths.groupBy(
        F.least(F.col("depth").cast("long"), F.lit(10).cast("long")).alias(
            "depth_bucket"
        )
    ).agg(F.count(F.lit(1)).alias("n_sessions"))


# --------------------------------------------------------------------------
# E105: recursive-CTE chain traversal — Spark 4 WITH RECURSIVE surface
# --------------------------------------------------------------------------


@query(
    "q_reorder_chains_recursive",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderkey, o_orderdate,
             lag(o_orderdate) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate, o_orderkey) AS prev_d
      FROM orders),
    runs AS (
      SELECT o_custkey, o_orderkey,
             SUM(CASE WHEN prev_d IS NULL
                        OR date_diff('day', prev_d, o_orderdate) > 30
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      FROM seq),
    lens AS (SELECT o_custkey, run_id, COUNT(*) AS streak_len
             FROM runs GROUP BY o_custkey, run_id)
    SELECT streak_len, COUNT(*) AS n_chains
    FROM lens GROUP BY streak_len
    """,
    tags=("E105", "W3", "W4", "A1"),
)
def q_reorder_chains_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder-streak lengths (maximal runs of consecutive orders each
    within 30 days of the previous) computed with Spark 4's
    ``WITH RECURSIVE`` — the declarative iteration surface next to
    the imperative DataFrame loops (E15/E46/E47). The successor
    relation is a per-customer ``lead`` window, i.e. a FUNCTION
    (out-degree <= 1), so UNION ALL recursion walks linear chains and
    terminates without needing recursive-UNION dedup (which Spark 4.1
    does not support yet — cyclic closures stay on the DataFrame
    loop). The oracle is the gaps-and-islands rewrite of the same
    statistic: the recursion and the islands formulation must agree
    exactly, which is the point — on engines without recursion the
    islands form IS the scale path, and at 100 TB the recursion's
    per-step work is one hash join per chain depth, keyed and
    partitioned on the customer's order key."""
    from fts_analysis_datalake_spark.catalog import register_views

    register_views(spark, sf_dir)
    # The recursion materializes exactly one row per order that sits
    # in a chain (every order appears at one depth of one chain), so
    # its total row count is <= COUNT(orders) — linear in the data,
    # not a blow-up. Spark's default runaway valve
    # (spark.sql.cteRecursionRowLimit = 1e6) therefore fails this
    # query on perfectly healthy inputs past ~1M orders (caught by
    # the 8x scale probe, SURVEY §6 annex). Raise the valve for the
    # session: the walk provably terminates (the successor relation
    # is a FUNCTION, out-degree <= 1, and next_in_chain is strictly
    # later in the per-customer order), so the limit is pure safety
    # margin here. Session-wide like catalog._RUNTIME_CONFS (same
    # documented hygiene note).
    try:
        spark.conf.set("spark.sql.cteRecursionRowLimit", str(2**31 - 1))
    except Exception:  # noqa: BLE001 — a locked conf must not fail the query
        pass
    # r11 (guide §2.4): `succ` is a plain CTE, so Spark INLINES it into
    # the recursive term and re-runs the orders scan + window at every
    # recursion step (chain-depth x full window passes). Materialize it
    # once (localCheckpoint) and let the recursion join the materialized
    # rows; the WITH RECURSIVE surface and the emitted values are
    # unchanged. The unused next_key column is dropped (project early).
    succ = spark.sql(
        """
        SELECT o_custkey, o_orderkey,
               CASE WHEN datediff(lead(o_orderdate) OVER w, o_orderdate) <= 30
                    THEN lead(o_orderkey) OVER w END AS next_in_chain,
               CASE WHEN datediff(o_orderdate, lag(o_orderdate) OVER w) <= 30
                    THEN 1 ELSE 0 END AS has_prev
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """
    )
    succ.localCheckpoint(eager=True).createOrReplaceTempView("succ_mat_reorder")
    return spark.sql(
        """
        WITH RECURSIVE chain(start_key, cur_key, streak_len) AS (
          SELECT o_orderkey, o_orderkey, 1
          FROM succ_mat_reorder WHERE has_prev = 0
          UNION ALL
          SELECT c.start_key, s.next_in_chain, c.streak_len + 1
          FROM chain c JOIN succ_mat_reorder s ON s.o_orderkey = c.cur_key
          WHERE s.next_in_chain IS NOT NULL),
        lens AS (
          SELECT start_key, MAX(streak_len) AS streak_len
          FROM chain GROUP BY start_key)
        SELECT streak_len, COUNT(*) AS n_chains
        FROM lens GROUP BY streak_len
        """
    )


# --------------------------------------------------------------------------
# E106: multi-touch linear attribution — fractional credit, exact micros
# --------------------------------------------------------------------------


@query(
    "q_linear_attribution",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts,
                      CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
               FROM events WHERE event_type = 'purchase'),
    v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
          FROM events WHERE event_type = 'view'),
    touch AS (
      SELECT p.event_id, p.cents, v.view_id, v.view_ts
      FROM p JOIN v
        ON p.user_id = v.user_id
       AND v.view_ts < p.ts
       AND v.view_ts >= p.ts - INTERVAL 24 HOUR),
    shared AS (
      SELECT view_id, view_ts,
             CAST(FLOOR(cents * 10000.0
                        / COUNT(*) OVER (PARTITION BY event_id)) AS BIGINT)
               AS credit_micro
      FROM touch)
    SELECT date_trunc('day', view_ts) AS view_day,
           COUNT(*) AS n_touches,
           CAST(SUM(credit_micro) AS BIGINT) AS credit_micros
    FROM shared GROUP BY view_day
    """,
    tags=("E106", "J7", "W4", "A1"),
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution: each purchase's value is split
    equally across the user's views in the preceding 24 h and the
    credit is rolled up by view day — the complement of the
    single-touch (last-click) stream-stream join twin (T-row
    q_view_click_attribution). Fractional credit is floor-divided in
    integer MICRO-cents per touch, so shares are exact integers in
    both engines (the remainder is dropped identically) and the final
    rollup is an order-free bigint sum — no double accumulation
    anywhere. The touch join is the J7 shape: user equi-key plus a
    24 h band residual; at 100 TB it shuffles on user and the
    per-purchase fan-out is bounded by a user's daily view rate."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    v = e.filter(F.col("event_type") == "view").select(
        F.col("user_id"), F.col("event_id").alias("view_id"), F.col("ts").alias("view_ts")
    )
    touch = p.join(
        v,
        (p.user_id == v.user_id)
        & (F.col("view_ts") < F.col("ts"))
        & (F.col("view_ts") >= F.col("ts") - F.expr("INTERVAL 24 HOURS")),
    ).select("event_id", "cents", "view_id", "view_ts")
    w = Window.partitionBy("event_id")
    shared = touch.select(
        "view_id",
        "view_ts",
        F.floor(F.col("cents") * 10000.0 / F.count(F.lit(1)).over(w))
        .cast("long")
        .alias("credit_micro"),
    )
    return (
        shared.groupBy(F.date_trunc("day", "view_ts").alias("view_day"))
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("credit_micro").alias("credit_micros"),
        )
    )


# --------------------------------------------------------------------------
# E107: time-hierarchy rollup — year/month/day subtotal pyramid
# --------------------------------------------------------------------------


@query(
    "q_time_hierarchy_rollup",
    oracle="""
    SELECT year(o_orderdate) AS y, month(o_orderdate) AS m,
           CAST(day(o_orderdate) AS INT) AS d,
           grouping(year(o_orderdate)) * 4 + grouping(month(o_orderdate)) * 2
             + grouping(day(o_orderdate)) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate), day(o_orderdate))
    """,
    tags=("E107", "A11", "F4", "A1"),
)
def q_time_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OLAP time pyramid: one scan produces day totals, month and
    year subtotals, and the grand total via ROLLUP over the derived
    (year, month, day) hierarchy — four report granularities for one
    shuffle, with ``grouping()`` flags disambiguating NULL-as-subtotal
    from NULL-as-value. Spark evaluates the rollup as a single
    Expand+hash-aggregate (partials combine map-side per grouping
    set), so at 100 TB this costs one pass regardless of how many
    levels the hierarchy has."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        # grouping() must reference real input attributes, so the
        # hierarchy levels are projected before the rollup (free:
        # Catalyst collapses the projection into the Expand).
        .select(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            F.dayofmonth("o_orderdate").alias("d"),
            "o_totalprice",
        )
    )
    return (
        o.rollup("y", "m", "d")
        .agg(
            (
                F.grouping("y") * 4 + F.grouping("m") * 2 + F.grouping("d")
            ).cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("revenue_cents"),
        )
        .select("y", "m", "d", "gid", "n_orders", "revenue_cents")
    )


# --------------------------------------------------------------------------
# E118: top user journeys — first-5-event path frequency ranking
# --------------------------------------------------------------------------


@query(
    "q_top_event_paths",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events),
    paths AS (
      SELECT user_id, STRING_AGG(event_type, '>' ORDER BY rn) AS path
      FROM ordered WHERE rn <= 5 GROUP BY user_id),
    counted AS (
      SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users FROM paths GROUP BY path)
    SELECT path, n_users,
           CAST(ROW_NUMBER() OVER (ORDER BY n_users DESC, path) AS BIGINT) AS rnk
    FROM counted
    QUALIFY rnk <= 20
    """,
    tags=("E118", "W1", "A9", "F7", "O3"),
)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The product-analytics "top user journeys" report: each user's
    first five events (by time, event_id tiebreak) joined into a
    path string, then the 20 most common paths with a deterministic
    rank (ties broken by path text).

    Plan: one window shuffle on user_id ranks events; the path build
    is collect_list of (rn, type) structs + array_sort + transform —
    all Catalyst, with order carried explicitly in the struct so the
    path is deterministic regardless of collect order. The path
    frequency table is tiny (|event_type|^5 worst case), so the final
    global rank window is on a dwarf relation. At 100 TB the rn<=5
    filter cuts the carried rows to 5/user before the second agg."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = (
        e.select("user_id", "event_type", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 5)
    )
    paths = first5.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    rk = Window.orderBy(F.col("n_users").desc(), "path")
    return (
        counted.withColumn("rnk", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rnk") <= 20)
    )


# --------------------------------------------------------------------------
# E121: concurrency curve — +1/-1 boundary sweep over session intervals
# --------------------------------------------------------------------------


@query(
    "q_session_concurrency_curve",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR CAST(FLOOR(epoch(ts)) AS BIGINT)
                          - CAST(FLOOR(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id,
             CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS session_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
      FROM flagged
    ), spans AS (
      SELECT MIN(ts_s) AS start_s, MAX(ts_s) AS end_s
      FROM sessions GROUP BY user_id, session_id
    ), bounds AS (
      SELECT start_s AS t_s, 1 AS d FROM spans
      UNION ALL
      SELECT end_s + 1 AS t_s, -1 AS d FROM spans
    ), steps AS (
      SELECT t_s, CAST(SUM(d) AS BIGINT) AS net_delta FROM bounds GROUP BY t_s)
    SELECT t_s, net_delta,
           CAST(SUM(net_delta) OVER (ORDER BY t_s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS concurrency
    FROM steps
    """,
    tags=("E121", "W8", "W4", "U1", "A1"),
)
def q_session_concurrency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many sessions are open at once, over time: the classic
    +1/-1 boundary-sweep (interval stabbing) rewrite. Sessionize
    (30-min gap), emit +1 at each session start and -1 one second
    after its end (end-second inclusive), collapse equal timestamps,
    and running-sum the net deltas — each output row is the
    concurrency level holding on [t_s, next t_s).

    Scale shape: the sweep never joins intervals against a time spine
    (the O(intervals x slots) rewrite); boundary rows are 2/session,
    collapsed by a hash agg before the global running sum. The final
    cumulative window is a single ordered partition over the
    *collapsed step table* (distinct boundary seconds only); at 100 TB
    that table is what a range-partitioned two-phase prefix sum would
    consume — the fact-table shuffles (sessionize, boundary agg) stay
    fully parallel."""
    from fts_analysis_datalake_spark.operators.windows import sessionize

    e = load_table(spark, sf_dir, "events")
    spans = (
        sessionize(e, "user_id", "ts", "event_id", 1800)
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.unix_timestamp("ts")).cast("bigint").alias("start_s"),
            F.max(F.unix_timestamp("ts")).cast("bigint").alias("end_s"),
        )
    )
    bounds = spans.select(F.col("start_s").alias("t_s"), F.lit(1).alias("d")).unionAll(
        spans.select((F.col("end_s") + 1).alias("t_s"), F.lit(-1).alias("d"))
    )
    steps = bounds.groupBy("t_s").agg(F.sum("d").cast("bigint").alias("net_delta"))
    w = Window.orderBy("t_s").rowsBetween(Window.unboundedPreceding, 0)
    return steps.select(
        "t_s", "net_delta", F.sum("net_delta").over(w).cast("bigint").alias("concurrency")
    )


# --------------------------------------------------------------------------
# E125: FIFO rank-join pairing — k-th view matched to k-th purchase
# --------------------------------------------------------------------------


@query(
    "q_fifo_view_purchase_pairing",
    oracle="""
    WITH v AS (
      SELECT user_id, event_id AS view_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS view_ts_s,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k
      FROM events WHERE event_type = 'view'),
    p AS (
      SELECT user_id, event_id AS purchase_id,
             CAST(FLOOR(epoch(ts)) AS BIGINT) AS purchase_ts_s,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS k
      FROM events WHERE event_type = 'purchase')
    SELECT v.user_id, CAST(v.k AS BIGINT) AS k, view_id, purchase_id,
           purchase_ts_s - view_ts_s AS wait_s
    FROM v JOIN p ON v.user_id = p.user_id AND v.k = p.k
    """,
    tags=("E125", "W1", "J6", "J11"),
)
def q_fifo_view_purchase_pairing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO 1:1 pairing: each user's k-th view is matched to their
    k-th purchase — the queueing-theory arrival/service pairing
    (wait_s is the queue delay; negative means service preceded the
    k-th arrival). The general shape matches payments to invoices,
    refunds to charges, returns to shipments.

    Plan: occurrence rank per side (one window shuffle each, same
    user_id key so AQE coalesces into co-partitioned exchanges), then
    an inner equi-join on (user_id, k) — never a per-pair theta join.
    At 100 TB both sides shuffle once on the same key and the match
    is sort-merge with zero expansion (k is unique per side)."""
    e = load_table(spark, sf_dir, "events")

    def ranked(etype: str, id_alias: str, ts_alias: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        return e.filter(F.col("event_type") == etype).select(
            "user_id",
            F.col("event_id").alias(id_alias),
            F.unix_timestamp("ts").cast("bigint").alias(ts_alias),
            F.row_number().over(w).cast("bigint").alias("k"),
        )

    v = ranked("view", "view_id", "view_ts_s")
    p = ranked("purchase", "purchase_id", "purchase_ts_s").withColumnsRenamed(
        {"user_id": "p_user_id", "k": "p_k"}
    )
    return (
        v.join(p, (v.user_id == p.p_user_id) & (v.k == p.p_k))
        .select(
            "user_id",
            "k",
            "view_id",
            "purchase_id",
            (F.col("purchase_ts_s") - F.col("view_ts_s")).alias("wait_s"),
        )
    )


# --------------------------------------------------------------------------
# E127: trending detection — trailing-7-day top-3 per day
# --------------------------------------------------------------------------


@query(
    "q_trending_event_types",
    oracle="""
    WITH daily AS (
      SELECT CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS di,
             event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    trail7 AS (
      SELECT di, event_type,
             CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY di
                  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7
      FROM daily)
    SELECT di, event_type, n7,
           CAST(ROW_NUMBER() OVER (PARTITION BY di ORDER BY n7 DESC, event_type)
                AS BIGINT) AS rnk
    FROM trail7
    QUALIFY rnk <= 3
    """,
    tags=("E127", "W6", "O3", "A1", "F4"),
)
def q_trending_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trending report: for every day, the top-3 event types by
    trailing-7-day volume. Two canonical windows composed: a RANGE
    frame over an integer day index (robust to days a type has no
    events — a ROWS frame would silently span gaps), then a per-day
    rank with name tiebreak.

    Both windows run over the daily aggregate (|days| x |types| rows),
    so the fact scan is one hash agg and everything after is dwarf
    data. The rank filter is WindowGroupLimit-eligible: at scale the
    per-day top-3 prunes before the final sort."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.datediff(F.to_date("ts"), F.lit("2024-01-01").cast("date")).cast("bigint").alias("di"),
        "event_type",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tw = (
        Window.partitionBy("event_type").orderBy("di").rangeBetween(-6, 0)
    )
    trailing = daily.select(
        "di", "event_type", F.sum("n").over(tw).cast("bigint").alias("n7")
    )
    rk = Window.partitionBy("di").orderBy(F.col("n7").desc(), "event_type")
    return (
        trailing.withColumn("rnk", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )


# --------------------------------------------------------------------------
# E131: negative sequence pattern — A then B with no C between
# --------------------------------------------------------------------------


@query(
    "q_negative_pattern_signup_purchase",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        ELSE 'e' END, '' ORDER BY ts, event_id) AS seq
      FROM events GROUP BY user_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) FILTER (regexp_matches(seq, 's.*p')) AS BIGINT)
             AS n_signup_then_purchase,
           CAST(COUNT(*) FILTER (regexp_matches(seq, 's[^e]*p')) AS BIGINT)
             AS n_clean_path
    FROM seqs
    """,
    tags=("E131", "E30", "A9", "F2"),
)
def q_negative_pattern_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence pattern with a NEGATIVE condition — the
    MATCH_RECOGNIZE-style ask "signed up and later purchased with no
    error event in between" that neither a funnel (E19) nor strict
    adjacency (E30) expresses. Each user's journey compresses to a
    single-char-per-event string (one groupBy shuffle), and both the
    positive (s.*p) and negative (s[^e]*p) patterns are one regex
    over it — the per-user state is one string, and the regexes are
    plain character classes that Java and RE2 regex engines evaluate
    identically."""
    e = load_table(spark, sf_dir, "events")
    code = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    seqs = e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", code.alias("ch")))),
                lambda s: s.ch,
            ),
            "",
        ).alias("seq")
    )
    return seqs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.count(F.when(F.col("seq").rlike("s.*p"), 1))
        .cast("bigint")
        .alias("n_signup_then_purchase"),
        F.count(F.when(F.col("seq").rlike("s[^e]*p"), 1)).cast("bigint").alias("n_clean_path"),
    )


# --------------------------------------------------------------------------
# E157: session co-visitation — the item-to-item co-occurrence matrix
# --------------------------------------------------------------------------


@query(
    "q_session_covisitation",
    oracle="""
    WITH sess AS (
      SELECT user_id, event_type, date_trunc('day', ts) AS d
      FROM events WHERE event_type IN ('view', 'click', 'purchase')),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS co_count
      FROM (SELECT DISTINCT user_id, d, event_type FROM sess) a
      JOIN (SELECT DISTINCT user_id, d, event_type FROM sess) b
        ON a.user_id = b.user_id AND a.d = b.d
       AND a.event_type < b.event_type
      GROUP BY 1, 2)
    SELECT type_a, type_b, CAST(co_count AS BIGINT) AS co_count
    FROM pairs
    """,
    tags=("E157", "J11", "A1", "W8"),
)
def q_session_covisitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-visitation counts: how often two engagement types co-occur
    inside the same (user, day) session-proxy — the co-occurrence
    matrix behind 'users who did X also did Y' item-to-item
    recommenders, built here over event types (the fixture's
    item-granularity stand-in; swap the key for item ids unchanged).

    The self-join runs on the DEDUPED (user, day, type) table —
    dedup-first bounds the pair fan-out to distinct-types-squared per
    session rather than events-squared, the difference between a
    co-visitation matrix that scales and one that explodes on power
    users. The a < b ordering emits each unordered pair once."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    sess = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d"), "event_type"
    ).distinct()
    a = sess.withColumnsRenamed({"event_type": "type_a"})
    b = sess.withColumnsRenamed({"event_type": "type_b"})
    return (
        a.join(b, ["user_id", "d"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("co_count"))
    )


# --------------------------------------------------------------------------
# E165: out-of-orderness / lateness profile — watermark policy input
# --------------------------------------------------------------------------


@query(
    "q_event_lateness_profile",
    oracle="""
    WITH arr AS (
      SELECT epoch_us(ts) AS ts_us,
             MAX(epoch_us(ts)) OVER (ORDER BY md5(CAST(event_id AS VARCHAR))
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_us
      FROM events),
    lateness AS (
      SELECT (high_us - ts_us) / 1000000.0 AS late_s FROM arr),
    bucketed AS (
      SELECT CASE WHEN late_s = 0 THEN 'a_in_order'
                  WHEN late_s < 60 THEN 'b_under_1min'
                  WHEN late_s < 3600 THEN 'c_under_1h'
                  WHEN late_s < 86400 THEN 'd_under_1d'
                  ELSE 'e_over_1d' END AS bucket,
             late_s
      FROM lateness)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
           MAX(late_s) AS max_late_s
    FROM bucketed GROUP BY bucket
    """,
    tags=("E165", "T4", "W4", "A1"),
)
def q_event_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How out-of-order is this stream? Per event, lateness = (high
    watermark so far, in arrival order) minus its own timestamp,
    bucketed into the delay bands a watermark policy chooses between
    — THE empirical input for T4's withWatermark delay: the bucket
    histogram is the fraction of events a '1 minute' vs '1 hour'
    watermark would drop. The fixture's ingest sequence is perfectly
    time-ordered (zero lateness everywhere), so arrival order is
    SIMULATED as the md5 permutation of event ids — a deterministic
    worst-case shuffle both engines reproduce; on real ingest the
    order key is the ingestion sequence number. The running max is
    one ordered window in integer microsecond space, and every
    lateness is an exact integer difference."""
    e = load_table(spark, sf_dir, "events")
    # The running max is keyed by ARRIVAL order (simulated md5
    # permutation — see docstring), not by ts: lateness is defined
    # against what had already arrived.
    arr = e.select(
        F.md5(F.col("event_id").cast("string")).alias("arr_key"),
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    arr = arr.withColumn(
        "high_us",
        F.max("ts_us").over(
            Window.orderBy("arr_key").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    late_s = (F.col("high_us") - F.col("ts_us")) / 1e6
    bucket = (
        F.when(late_s == 0, "a_in_order")
        .when(late_s < 60, "b_under_1min")
        .when(late_s < 3600, "c_under_1h")
        .when(late_s < 86400, "d_under_1d")
        .otherwise("e_over_1d")
    )
    return (
        arr.select(bucket.alias("bucket"), late_s.alias("late_s"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("late_s").alias("max_late_s"),
        )
    )


# --------------------------------------------------------------------------
# E166: time-weighted average value — TWAP over irregular samples
# --------------------------------------------------------------------------


@query(
    "q_time_weighted_user_value",
    oracle="""
    WITH seq AS (
      SELECT user_id, value, epoch_us(ts) AS t0,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS t1
      FROM events),
    held AS (
      SELECT user_id,
             CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) * (t1 - t0))
                  AS DOUBLE) / 100.0 AS area,
             CAST(SUM(t1 - t0) AS BIGINT) AS span_us,
             COUNT(*) AS n_holds
      FROM seq WHERE t1 IS NOT NULL
      GROUP BY user_id)
    SELECT user_id,
           CAST(n_holds AS BIGINT) AS n_holds,
           span_us,
           area / span_us AS twap
    FROM held
    WHERE span_us > 0
    """,
    tags=("E166", "W3", "A1", "F4"),
)
def q_time_weighted_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each event's value is
    'held' until the user's next event, and the average weights each
    value by its holding duration — the correct mean for IRREGULARLY
    sampled series (a value held for 6 hours counts 360x one held a
    minute), where the plain AVG silently assumes uniform spacing.
    This is the TWAP shape used for position/price/utilization
    metrics over event-sourced state.

    One per-user ordered window produces the hold intervals (lead of
    the epoch-integer timestamp, deterministic event_id tiebreak);
    the integral is a sum of scaled-integer value x exact integer
    microsecond products, so both engines emit identical doubles.
    At 100 TB the window partitions by user — no global sort."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "value",
        F.unix_micros(F.col("ts")).alias("t0"),
        F.lead(F.unix_micros(F.col("ts"))).over(w).alias("t1"),
    ).filter(F.col("t1").isNotNull())
    qv = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    held = seq.groupBy("user_id").agg(
        (F.sum(qv * (F.col("t1") - F.col("t0"))).cast("double") / 100.0).alias("area"),
        F.sum(F.col("t1") - F.col("t0")).cast("bigint").alias("span_us"),
        F.count(F.lit(1)).cast("bigint").alias("n_holds"),
    )
    return held.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_holds",
        "span_us",
        (F.col("area") / F.col("span_us")).alias("twap"),
    )


# --------------------------------------------------------------------------
# E167: Markov next-event baseline — sequence-model evaluation loop
# --------------------------------------------------------------------------


@query(
    "q_markov_next_event_accuracy",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS cur, ts, event_id,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt,
             (epoch_us(ts) < (SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2
                              FROM events)) AS is_train
      FROM events),
    pairs AS (SELECT cur, nxt, is_train FROM seq WHERE nxt IS NOT NULL),
    model AS (
      SELECT cur, nxt AS pred, COUNT(*) AS c,
             row_number() OVER (PARTITION BY cur ORDER BY COUNT(*) DESC, nxt) AS rn
      FROM pairs WHERE is_train GROUP BY cur, nxt),
    test AS (
      SELECT p.cur, p.nxt, m.pred
      FROM pairs p JOIN model m ON m.cur = p.cur AND m.rn = 1
      WHERE NOT p.is_train)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_transitions,
           CAST(SUM(CASE WHEN pred = nxt THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN pred = nxt THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS accuracy
    FROM test
    """,
    tags=("E167", "E22", "W3", "W1", "A1"),
)
def q_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequence-model BASELINE every fancier model must beat:
    first-order Markov argmax (predict each user's next event type as
    the most frequent successor of the current type, fitted on the
    first temporal half) evaluated on held-out second-half
    transitions. This turns the descriptive transition matrix (E22)
    into a scored train/test loop — model fit, temporal split, and
    evaluation all inside the engine.

    The 'model' is a tiny cur->argmax table (|event types| rows)
    joined broadcast onto test transitions; the temporal split reuses
    the epoch-integer midpoint (E159's determinism note). Counts are
    exact, ties in the argmax break lexicographically in both
    engines."""
    e = load_table(spark, sf_dir, "events")
    mid = e.agg(
        F.expr("(unix_micros(min(ts)) + unix_micros(max(ts))) div 2").alias("mid_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        e.crossJoin(F.broadcast(mid))
        .select(
            F.col("event_type").alias("cur"),
            F.lead("event_type").over(w).alias("nxt"),
            (F.unix_micros(F.col("ts")) < F.col("mid_us")).alias("is_train"),
        )
        .filter(F.col("nxt").isNotNull())
    )
    wm = Window.partitionBy("cur").orderBy(F.desc("c"), "pred")
    model = (
        seq.filter(F.col("is_train"))
        .groupBy("cur", F.col("nxt").alias("pred"))
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") == 1)
        .select("cur", "pred")
    )
    test = seq.filter(~F.col("is_train")).join(F.broadcast(model), "cur")
    correct = F.sum(F.when(F.col("pred") == F.col("nxt"), 1).otherwise(0)).cast(
        "bigint"
    )
    return test.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_transitions"),
        correct.alias("n_correct"),
        (correct.cast("double") / F.count(F.lit(1))).alias("accuracy"),
    )


# --------------------------------------------------------------------------
# E188: exact Shapley-value channel attribution
# --------------------------------------------------------------------------

_SHAP_CHANNELS = (("view", 1), ("click", 2), ("signup", 4), ("error", 8))
# w(s) = s!(|C|-1-s)!/|C|! for |C| = 4 channels, indexed by |S|
_SHAP_W = (0.25, 0.08333333333333333, 0.08333333333333333, 0.25)
_SHAP_W_SQL = "[" + ", ".join(f"{w!r}e0" for w in _SHAP_W) + "]"


@query(
    "q_shapley_channel_attribution",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'click' THEN 2 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'signup' THEN 4 ELSE 0 END)
             + MAX(CASE WHEN event_type = 'error' THEN 8 ELSE 0 END) AS mask,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    vmask AS (
      SELECT mask, CAST(SUM(conv) AS DOUBLE) / COUNT(*) AS v
      FROM users GROUP BY mask),
    lattice AS (
      SELECT s.range AS mask, COALESCE(vmask.v, 0.0e0) AS v
      FROM range(16) s LEFT JOIN vmask ON vmask.mask = s.range),
    channels AS (
      SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4),
                            ('error', 8)) AS t(channel, bit)),
    contrib AS (
      SELECT c.channel,
             ({_SHAP_W_SQL})[bit_count(CAST(s.mask AS BIGINT)) + 1]
               * (w.v - s.v) AS term
      FROM channels c
      JOIN lattice s ON (s.mask & c.bit) = 0
      JOIN lattice w ON w.mask = s.mask + c.bit)
    SELECT channel,
           CAST(FLOOR(SUM(CAST(FLOOR(term * 1000000000 + 0.5) AS BIGINT))
                      / 1000000000.0 * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS shapley_value
    FROM contrib GROUP BY channel
    ORDER BY channel
    """,
    tags=("E188", "A12", "J6", "F6", "F9"),
)
def q_shapley_channel_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over the 4 non-purchase
    channels: each user contributes their observed channel SET
    (a 4-bit mask), coalition value v(S) is the observed conversion
    rate of users with exactly mask S (unobserved coalitions
    contribute 0 — the standard practical convention), and each
    channel's Shapley value enumerates all 8 complementary subsets
    with the closed-form permutation weights — no sampling, because
    the coalition lattice has 16 rows regardless of user count. This
    is the game-theoretic sibling of the positional (linear) and
    Markov attribution queries: the only data-sized stage is the
    per-user mask aggregate; everything after runs on the 16-row
    lattice. Per-term products are 1e-9-quantized before the 8-term
    sum so the result is order-independent across engines."""
    e = load_table(spark, sf_dir, "events")
    mask_col = sum(
        F.max(F.when(F.col("event_type") == ch, b).otherwise(0))
        for ch, b in _SHAP_CHANNELS
    )
    users = e.groupBy("user_id").agg(
        mask_col.alias("mask"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    vmask = users.groupBy("mask").agg(
        (F.sum("conv").cast("double") / F.count(F.lit(1))).alias("v")
    )
    lattice = (
        spark.range(16)
        .select(F.col("id").cast("int").alias("mask"))
        .join(F.broadcast(vmask), "mask", "left")
        .select("mask", F.coalesce("v", F.lit(0.0)).alias("v"))
    )
    channels = spark.createDataFrame(
        list(_SHAP_CHANNELS), ["channel", "bit"]
    )
    s = lattice.select(F.col("mask").alias("s_mask"), F.col("v").alias("s_v"))
    w = lattice.select(F.col("mask").alias("w_mask"), F.col("v").alias("w_v"))
    weights = F.element_at(
        F.array(*[F.lit(x) for x in _SHAP_W]),
        F.bit_count(F.col("s_mask").cast("bigint")).cast("int") + 1,
    )
    contrib = (
        channels.join(
            F.broadcast(s), (F.col("s_mask").bitwiseAND(F.col("bit"))) == 0
        )
        .join(F.broadcast(w), F.col("w_mask") == F.col("s_mask") + F.col("bit"))
        .select(
            "channel",
            (weights * (F.col("w_v") - F.col("s_v"))).alias("term"),
        )
    )
    return (
        contrib.groupBy("channel")
        .agg(
            (
                F.floor(
                    (
                        F.sum(F.floor(F.col("term") * 1e9 + F.lit(0.5)).cast("bigint"))
                        / 1e9
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                .cast("bigint")
                / 1e6
            ).alias("shapley_value")
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# E271: bounce rate by session entry type
# --------------------------------------------------------------------------


@query(
    "q_bounce_rate_by_entry",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS s,
             event_id,
             CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT)
                       - lag(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sess AS (
      SELECT user_id, sid,
             arg_min(event_type, printf('%019d%019d', s, event_id))
               AS entry_type,
             CAST(COUNT(*) AS BIGINT) AS depth
      FROM (
        SELECT user_id, event_type, s, event_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM ordered)
      GROUP BY user_id, sid)
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(FLOOR(CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END)
                           AS DOUBLE) / COUNT(*) * 1000000 + 0.5) AS BIGINT)
             / 1000000.0 AS bounce_rate,
           CAST(FLOOR(CAST(SUM(depth) AS DOUBLE) / COUNT(*) * 10000 + 0.5)
                AS BIGINT) / 10000.0 AS avg_depth
    FROM sess GROUP BY entry_type ORDER BY entry_type
    """,
    tags=("E271", "W8", "A8", "A1"),
)
def q_bounce_rate_by_entry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate by session ENTRY type: sessions (repo-standard
    30-min gaps) grouped by their first event's type, with the
    single-event-session share and mean depth per entry — the
    landing-page analytics staple that tells you which entry points
    fail to hold users (session-level aggregates alone, E?-depth
    histograms, can't attribute the bounce to the entrance). One
    sessionization window, per-session argmin entry via a
    fixed-width zero-padded (s, event_id) string key — lexicographic
    order equals tuple order at ANY id magnitude (an arithmetic
    s*1e6+event_id key silently drifts once event_id >= 1e6, and
    DuckDB's arg_min takes no struct key), one group-by."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = F.unix_timestamp("ts")
    ordered = e.select(
        "user_id",
        "event_type",
        s.alias("s"),
        "event_id",
        F.when(
            F.lag(F.col("ts")).over(w).isNull() | ((s - F.lag(s).over(w)) > 1800),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
    )
    wsid = Window.partitionBy("user_id").orderBy("s", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = (
        ordered.select(
            "user_id",
            "event_type",
            "s",
            "event_id",
            F.sum("is_new").over(wsid).alias("sid"),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min_by(
                "event_type",
                F.format_string("%019d%019d", F.col("s"), F.col("event_id")),
            ).alias("entry_type"),
            F.count(F.lit(1)).cast("bigint").alias("depth"),
        )
    )
    bounce = F.sum((F.col("depth") == 1).cast("bigint"))
    return (
        sess.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            bounce.cast("bigint").alias("n_bounces"),
            (
                F.floor(
                    bounce.cast("double") / F.count(F.lit(1)) * 1000000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1000000.0
            ).alias("bounce_rate"),
            (
                F.floor(
                    F.sum("depth").cast("double") / F.count(F.lit(1)) * 10000
                    + F.lit(0.5)
                ).cast("bigint")
                / 10000.0
            ).alias("avg_depth"),
        )
        .orderBy("entry_type")
    )


# --------------------------------------------------------------------------
# E303: Page-Hinkley drift alarm — sequential positive-drift detection
# --------------------------------------------------------------------------

_PH_LAMBDA = 300_000_000_000  # alarm threshold in (cents x 1e6) units = $3000


@query(
    "q_page_hinkley_drift",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, h, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i,
             SUM(cents) OVER (PARTITION BY event_type ORDER BY h) AS s
      FROM hourly),
    terms AS (
      SELECT event_type, h,
             cents * 1000000
               - CAST(FLOOR(CAST(s AS DOUBLE) * 1000000 / i + 0.5) AS BIGINT)
               AS term
      FROM seq),
    ph AS (
      SELECT event_type, h,
             CAST(SUM(term) OVER (PARTITION BY event_type ORDER BY h)
                  AS BIGINT) AS ph
      FROM terms),
    exc AS (
      SELECT event_type, h,
             ph - MIN(ph) OVER (PARTITION BY event_type ORDER BY h) AS excess
      FROM ph)
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(FLOOR(epoch(MIN(h) FILTER (excess > {_PH_LAMBDA}))) AS BIGINT)
             AS alarm_hour_s,
           CAST(MAX(excess) AS DOUBLE) / 100000000.0 AS max_excess_dollars
    FROM exc GROUP BY event_type ORDER BY event_type
    """,
    tags=("E303", "E75", "W4", "A1", "F4"),
)
def q_page_hinkley_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley sequential drift detection per event type — the
    streaming-monitoring sibling of the retrospective CUSUM locator
    (E75): PH_t accumulates each hour's deviation from the RUNNING
    mean (not the full-series mean, so it is computable online), and
    an alarm fires the first hour the gap between PH_t and its
    running minimum exceeds lambda — the standard positive-drift
    test data-quality monitors run over ingest feeds. All integer:
    hourly values are exact cents, the running mean is quantized to
    1e-6 cents via FLOOR(s*1e6/i + .5) (s*1e6 stays below 2^53 up to
    ~1e7 accumulated dollars per series, so the double is exact and
    both engines round identically), and PH/min/excess are BIGINT
    window sums — bit-exact parity with no float summation order
    anywhere. One shuffle to the hourly grain, then three windows
    over the same (event_type, h) ordering that Catalyst runs in a
    single WindowExec pass per frame; the hourly table is
    hours-per-series sized, never event-row sized. Emits per series
    the first alarm hour (NULL where the series never drifts past
    lambda — on this fixture 3 of 5 types alarm) and the peak excess
    in dollars."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    w = Window.partitionBy("event_type").orderBy("h")
    seq = hourly.select(
        "event_type",
        "h",
        "cents",
        F.row_number().over(w).alias("i"),
        F.sum("cents").over(w).alias("s"),
    )
    terms = seq.select(
        "event_type",
        "h",
        (
            F.col("cents") * F.lit(1000000)
            - F.floor(
                F.col("s").cast("double") * 1000000 / F.col("i") + F.lit(0.5)
            ).cast("long")
        ).alias("term"),
    )
    ph = terms.select(
        "event_type", "h", F.sum("term").over(w).cast("long").alias("ph")
    )
    exc = ph.select(
        "event_type",
        "h",
        (F.col("ph") - F.min("ph").over(w)).alias("excess"),
    )
    return (
        exc.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_hours"),
            F.unix_timestamp(
                F.min(F.when(F.col("excess") > _PH_LAMBDA, F.col("h")))
            ).alias("alarm_hour_s"),
            (F.max("excess").cast("double") / 100000000.0).alias(
                "max_excess_dollars"
            ),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E309: delta-encoding storage audit — Gorilla-style timeseries compression
# --------------------------------------------------------------------------


@query(
    "q_delta_encoding_audit",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    deltas AS (
      SELECT event_type, h, cents,
             cents - lag(cents) OVER w AS d,
             (cents - lag(cents) OVER w)
               - (lag(cents) OVER w - lag(cents, 2) OVER w) AS dd
      FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)),
    costed AS (
      SELECT event_type,
             CASE
               WHEN dd IS NULL THEN 64
               WHEN dd = 0 THEN 1
               ELSE 5 + length(bin(CASE WHEN dd >= 0 THEN 2 * dd
                                        ELSE -2 * dd - 1 END))
             END AS bits,
             CASE WHEN dd = 0 THEN 1 ELSE 0 END AS is_zero
      FROM deltas)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(is_zero) AS BIGINT) AS n_zero_dd,
           CAST(SUM(bits) AS BIGINT) AS total_bits,
           CAST(FLOOR(64.0e0 * COUNT(*)
                      / SUM(bits) * 10000 + 0.5) AS BIGINT) / 1e4
             AS compression_ratio
    FROM costed GROUP BY event_type ORDER BY event_type
    """,
    tags=("E309", "W2", "A1", "F4", "E49"),
)
def q_delta_encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla-style delta-of-delta storage audit: how compressible
    is each hourly series under the timeseries-DB encoding
    (Facebook Gorilla / InfluxDB / TimescaleDB chunks) — first two
    points stored raw (64 bits), then each point costs 1 bit when
    its delta-of-delta is zero (steady trend) and 5 control bits +
    the zigzag magnitude width otherwise. The magnitude width is
    length(bin(zigzag)) — an exact INTEGER on both engines (no
    floating log2, whose libm boundary behavior at powers of two is
    implementation-defined), zigzag folding negatives into
    non-negatives first. One shuffle to the hourly grain, two lag
    windows over one frame, map-side aggregable costs: the audit a
    storage engine runs to choose encodings per column/chunk before
    a compaction rewrite (E49's sibling decision). Emits per series
    the zero-dd share (trend steadiness) and the estimated
    compression ratio vs raw 64-bit, 1e-4-quantized from exact
    integer bit totals."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    w = Window.partitionBy("event_type").orderBy("h")
    deltas = hourly.select(
        "event_type",
        (
            (F.col("cents") - F.lag("cents", 1).over(w))
            - (F.lag("cents", 1).over(w) - F.lag("cents", 2).over(w))
        ).alias("dd"),
    )
    zig = F.when(F.col("dd") >= 0, 2 * F.col("dd")).otherwise(
        -2 * F.col("dd") - 1
    )
    costed = deltas.select(
        "event_type",
        F.when(F.col("dd").isNull(), 64)
        .when(F.col("dd") == 0, 1)
        .otherwise(F.lit(5) + F.length(F.bin(zig)))
        .cast("long")
        .alias("bits"),
        F.when(F.col("dd") == 0, 1).otherwise(0).alias("is_zero"),
    )
    return (
        costed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum("is_zero").cast("bigint").alias("n_zero_dd"),
            F.sum("bits").cast("bigint").alias("total_bits"),
            (
                F.floor(
                    F.lit(64.0) * F.count(F.lit(1)) / F.sum("bits") * 10000
                    + F.lit(0.5)
                ).cast("bigint")
                / 1e4
            ).alias("compression_ratio"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E310: clamped running balance — inventory/credit-ledger semantics
# --------------------------------------------------------------------------

_BAL_CAP = 100_000  # cents: balance clamps to [0, cap]

_BAL_ORACLE = f"""
WITH RECURSIVE txns AS MATERIALIZED (
  SELECT user_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn,
         CASE WHEN event_type = 'purchase'
              THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
              ELSE -CAST(FLOOR(value * 100 + 0.5) AS BIGINT) END AS delta
  FROM events WHERE event_type IN ('purchase', 'click')),
walk AS (
  SELECT user_id, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS bal,
         CAST(0 AS BIGINT) AS n_floor, CAST(0 AS BIGINT) AS n_cap
  FROM (SELECT DISTINCT user_id FROM txns)
  UNION ALL
  SELECT w.user_id, w.rn + 1,
         LEAST({_BAL_CAP}, GREATEST(0, w.bal + t.delta)),
         w.n_floor + CASE WHEN w.bal + t.delta < 0 THEN 1 ELSE 0 END,
         w.n_cap + CASE WHEN w.bal + t.delta > {_BAL_CAP} THEN 1 ELSE 0 END
  FROM walk w JOIN txns t ON t.user_id = w.user_id AND t.rn = w.rn + 1),
final AS (
  SELECT user_id, MAX(rn) AS n_txns FROM walk GROUP BY user_id)
SELECT w.user_id, CAST(f.n_txns AS BIGINT) AS n_txns,
       w.bal AS final_balance_cents,
       w.n_floor AS n_floor_hits, w.n_cap AS n_cap_hits
FROM walk w JOIN final f ON f.user_id = w.user_id AND w.rn = f.n_txns
ORDER BY w.user_id
"""


@query(
    "q_clamped_running_balance",
    oracle=_BAL_ORACLE,
    tags=("E310", "X2", "W2", "A1"),
)
def q_clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided clamped running balance — credit-ledger / inventory
    semantics (purchases credit, clicks debit, the balance saturates
    at 0 and at the cap): the classic NON-windowable running
    aggregate. A one-sided clamp has the closed form
    S_t - min(0, running_min(S)); the two-sided clamp does not (each
    saturation erases history nonlinearly), so engines must either
    recurse or carry per-entity state — here a grouped-map pandas
    kernel per user (the X2 contract), with the per-user event list
    already shrunk to its transactions before Python sees data.
    Pure BIGINT cents arithmetic (no quantization needed at all), so
    the DuckDB WITH RECURSIVE replay of the same recurrence is
    bit-identical — the third value-verified applyInPandas query
    after Holt (E54) and MAD-UDAF. Reports each user's final
    saturated balance and how often the floor/cap bound, the
    overdraft-pressure and idle-capital signals a ledger audit
    wants. The grouped-map runs over coarse user BUCKETS
    (user_id % 64), not raw user_ids — the per_user_value_trend
    lesson (operators/udfs.py): one call per user made the Python
    boundary overhead the whole runtime (~7 ms x users, measured
    12.9 s at sf0.1), while 64 bucket calls walking their users in
    one sorted pass keep the boundary cost O(buckets). At 100 TB
    the kernel state is O(1) per user; skew-prone power users would
    shard by (user, epoch-window) with carried opening balances."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    txns = e.filter(F.col("event_type").isin("purchase", "click")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
        )
        .otherwise(-F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .alias("delta"),
        F.pmod(F.col("user_id"), F.lit(64)).alias("bucket"),
    )

    cap = _BAL_CAP

    def ledger(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["user_id", "ts", "event_id"]).reset_index(
            drop=True
        )
        out: list[tuple] = []
        cur = None
        bal = n_floor = n_cap = n_txn = 0
        for uid, d in zip(pdf["user_id"].to_list(), pdf["delta"].to_list()):
            if uid != cur:
                if cur is not None:
                    out.append((cur, n_txn, bal, n_floor, n_cap))
                cur, bal, n_floor, n_cap, n_txn = uid, 0, 0, 0, 0
            n_txn += 1
            nxt = bal + int(d)
            if nxt < 0:
                n_floor += 1
                nxt = 0
            elif nxt > cap:
                n_cap += 1
                nxt = cap
            bal = nxt
        if cur is not None:
            out.append((cur, n_txn, bal, n_floor, n_cap))
        return pd.DataFrame(
            out,
            columns=[
                "user_id",
                "n_txns",
                "final_balance_cents",
                "n_floor_hits",
                "n_cap_hits",
            ],
        )

    return (
        txns.groupBy("bucket")
        .applyInPandas(
            ledger,
            "user_id bigint, n_txns bigint, final_balance_cents bigint,"
            " n_floor_hits bigint, n_cap_hits bigint",
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# E322: Viterbi 2-state regime decode — min-cost HMM path per series
# --------------------------------------------------------------------------


@query(
    "q_viterbi_regime_decode",
    oracle="""
    WITH RECURSIVE hourly AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i
      FROM hourly),
    lim AS MATERIALIZED (
      SELECT event_type, MIN(cents) AS lo, MAX(cents) AS hi,
             (MAX(cents) - MIN(cents)) // 4 + 1 AS lam,
             COUNT(*) AS n
      FROM seq GROUP BY 1),
    r AS (
      SELECT s.event_type, s.i,
             abs(s.cents - lo) AS cost_lo, abs(s.cents - hi) AS cost_hi,
             CAST(0 AS BIGINT) AS nh_lo, CAST(0 AS BIGINT) AS nsw_lo,
             CAST(1 AS BIGINT) AS nh_hi, CAST(0 AS BIGINT) AS nsw_hi
      FROM seq s JOIN lim USING (event_type) WHERE s.i = 1
      UNION ALL
      SELECT r.event_type, s.i,
             abs(s.cents - lo) + LEAST(r.cost_lo, r.cost_hi + lam),
             abs(s.cents - hi) + LEAST(r.cost_hi, r.cost_lo + lam),
             CASE WHEN r.cost_lo <= r.cost_hi + lam
                  THEN r.nh_lo ELSE r.nh_hi END,
             CASE WHEN r.cost_lo <= r.cost_hi + lam
                  THEN r.nsw_lo ELSE r.nsw_hi + 1 END,
             CASE WHEN r.cost_hi <= r.cost_lo + lam
                  THEN r.nh_hi ELSE r.nh_lo END + 1,
             CASE WHEN r.cost_hi <= r.cost_lo + lam
                  THEN r.nsw_hi ELSE r.nsw_lo + 1 END
      FROM r
      JOIN seq s ON s.event_type = r.event_type AND s.i = r.i + 1
      JOIN lim ON lim.event_type = r.event_type)
    SELECT r.event_type,
           CAST(lim.n AS BIGINT) AS n_hours,
           CAST(CASE WHEN cost_lo <= cost_hi THEN nh_lo ELSE nh_hi END
                AS BIGINT) AS n_high,
           CAST(CASE WHEN cost_lo <= cost_hi THEN nsw_lo ELSE nsw_hi END
                AS BIGINT) AS n_switches,
           CAST(LEAST(cost_lo, cost_hi) AS BIGINT) AS total_cost,
           CAST(FLOOR(CAST(CASE WHEN cost_lo <= cost_hi THEN nh_lo
                                ELSE nh_hi END AS DOUBLE)
                      / lim.n * 1000000 + 0.5) AS BIGINT) / 1e6
             AS high_share
    FROM r JOIN lim ON lim.event_type = r.event_type AND r.i = lim.n
    ORDER BY r.event_type
    """,
    tags=("E322", "E75", "E303", "X2", "W4", "A1"),
)
def q_viterbi_regime_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi 2-state regime decode per event-type hourly series —
    the sequence-labeling DP missing beside the detection family
    (CUSUM E75 locates ONE shift, Page-Hinkley E303 alarms online;
    Viterbi labels EVERY hour low/high under a min-cost HMM,
    tolerating noise through the switch penalty): emission cost is
    the integer distance to the series' lo/hi anchors (MIN/MAX
    hourly cents), the transition penalty is (hi-lo)//4+1, and the
    decode minimizes total cost. No backtracking pass anywhere: the
    DP carries each state's best-path STATISTICS (hours-high,
    switches) forward — Viterbi keeps exactly one surviving path per
    state, so the stats ride the same argmin the costs do (stay wins
    cost ties, low wins the final tie; both pinned identically in
    kernel and oracle). All-integer arithmetic end to end, so the
    grouped-map kernel (Holt X2 shape, q_holt_forecast_hourly) is
    bit-exact against DuckDB's WITH RECURSIVE replay; only the final
    high_share quantizes (1e-6). The hourly aggregation shrinks each
    group to O(hours) rows before Python sees data, and the kernel
    is one linear pass per series — at scale the cost is the events
    scan + one hash shuffle to the hourly grain."""
    import math

    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )

    def decode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        c = [int(x) for x in pdf["cents"].to_list()]
        lo, hi = min(c), max(c)
        lam = (hi - lo) // 4 + 1
        cost_lo, cost_hi = abs(c[0] - lo), abs(c[0] - hi)
        nh_lo = nsw_lo = nsw_hi = 0
        nh_hi = 1
        for x in c[1:]:
            stay_lo, sw_lo = cost_lo, cost_hi + lam
            stay_hi, sw_hi = cost_hi, cost_lo + lam
            if stay_lo <= sw_lo:
                new_lo = (abs(x - lo) + stay_lo, nh_lo, nsw_lo)
            else:
                new_lo = (abs(x - lo) + sw_lo, nh_hi, nsw_hi + 1)
            if stay_hi <= sw_hi:
                new_hi = (abs(x - hi) + stay_hi, nh_hi + 1, nsw_hi)
            else:
                new_hi = (abs(x - hi) + sw_hi, nh_lo + 1, nsw_lo + 1)
            (cost_lo, nh_lo, nsw_lo) = new_lo
            (cost_hi, nh_hi, nsw_hi) = new_hi
        if cost_lo <= cost_hi:
            nh, nsw, tc = nh_lo, nsw_lo, cost_lo
        else:
            nh, nsw, tc = nh_hi, nsw_hi, cost_hi
        n = len(c)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [n],
                "n_high": [nh],
                "n_switches": [nsw],
                "total_cost": [tc],
                "high_share": [math.floor(nh / n * 1000000 + 0.5) / 1e6],
            }
        )

    return (
        hourly.groupBy("event_type")
        .applyInPandas(
            decode,
            "event_type string, n_hours bigint, n_high bigint, "
            "n_switches bigint, total_cost bigint, high_share double",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E325: SAX symbolization + motif — PAA words over daily series
# --------------------------------------------------------------------------

_SAX_W = 4  # days per PAA window (complete windows only)


@query(
    "q_sax_series_motifs",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS d,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily),
    paa AS MATERIALIZED (
      SELECT event_type, (rn - 1) // {_SAX_W} AS win,
             SUM(cents) AS pv
      FROM seq GROUP BY 1, 2 HAVING COUNT(*) = {_SAX_W}),
    pos AS (
      SELECT event_type, win, pv,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY pv, win) AS pos,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM paa),
    brk AS (
      SELECT event_type,
             MAX(CASE WHEN pos = (n + 2) // 3 THEN pv END) AS t1,
             MAX(CASE WHEN pos = (2 * n + 2) // 3 THEN pv END) AS t2
      FROM pos GROUP BY event_type),
    sym AS MATERIALIZED (
      SELECT p.event_type, p.win,
             CASE WHEN p.pv <= t1 THEN 'a'
                  WHEN p.pv <= t2 THEN 'b' ELSE 'c' END AS s
      FROM paa p JOIN brk USING (event_type)),
    tri AS (
      SELECT s1.event_type, s1.s || s2.s || s3.s AS tri_w
      FROM sym s1
      JOIN sym s2 ON s2.event_type = s1.event_type AND s2.win = s1.win + 1
      JOIN sym s3 ON s3.event_type = s1.event_type AND s3.win = s1.win + 2),
    motif AS (
      SELECT event_type, tri_w, cnt FROM (
        SELECT event_type, tri_w, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY COUNT(*) DESC, tri_w) AS rk
        FROM tri GROUP BY event_type, tri_w)
      WHERE rk = 1)
    SELECT s.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_paa,
           string_agg(s.s, '' ORDER BY s.win) AS sax,
           CAST(SUM(CASE WHEN s.s = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
           CAST(SUM(CASE WHEN s.s = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
           CAST(SUM(CASE WHEN s.s = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
           MAX(m.tri_w) AS motif,
           CAST(MAX(m.cnt) AS BIGINT) AS motif_n
    FROM sym s JOIN motif m ON m.event_type = s.event_type
    GROUP BY s.event_type ORDER BY s.event_type
    """,
    tags=("E325", "E309", "E110", "W1", "A9", "F1"),
)
def q_sax_series_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of each event type's daily cents series —
    the discrete-representation stage of timeseries mining (SAX:
    Lin/Keogh; the motif/anomaly substrate beside the Gorilla storage
    audit E309): PAA compresses 4-day windows (complete
    windows only) to their exact integer cents sum, per-series
    TERTILE breakpoints come from exact order statistics (positions
    ceil(n/3), ceil(2n/3) of the sorted PAA values — no gaussian
    assumption, all-integer), symbols a/b/c by pinned <= comparisons,
    and the top motif is the most frequent symbol TRIGRAM (ties to
    the lexicographically first). Everything is integer or string —
    no doubles anywhere, bit-exact by construction. The series
    tables are days-per-series sized; the trigram self-joins are
    window-index equi-joins on domain-bounded state — at scale the
    cost is the events scan + one hash shuffle to the daily grain."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    wd = Window.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type", "cents", F.row_number().over(wd).alias("rn")
    )
    paa = (
        seq.groupBy(
            "event_type",
            ((F.col("rn") - 1) / _SAX_W).cast("long").alias("win"),
        )
        .agg(F.sum("cents").alias("pv"), F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") == _SAX_W)
        .select("event_type", "win", "pv")
    )
    paa = tracked_persist(paa)
    wp = Window.partitionBy("event_type").orderBy("pv", "win")
    wn = Window.partitionBy("event_type")
    pos = paa.select(
        "event_type",
        "pv",
        F.row_number().over(wp).alias("pos"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    brk = pos.groupBy("event_type").agg(
        F.max(
            F.when(F.col("pos") == ((F.col("n") + 2) / 3).cast("long"), F.col("pv"))
        ).alias("t1"),
        F.max(
            F.when(
                F.col("pos") == ((2 * F.col("n") + 2) / 3).cast("long"),
                F.col("pv"),
            )
        ).alias("t2"),
    )
    sym = tracked_persist(
        paa.join(brk, "event_type").select(
            "event_type",
            "win",
            F.when(F.col("pv") <= F.col("t1"), F.lit("a"))
            .when(F.col("pv") <= F.col("t2"), F.lit("b"))
            .otherwise(F.lit("c"))
            .alias("s"),
        )
    )
    s2 = sym.select(
        "event_type", (F.col("win") - 1).alias("win"), F.col("s").alias("s2")
    )
    s3 = sym.select(
        "event_type", (F.col("win") - 2).alias("win"), F.col("s").alias("s3")
    )
    tri = (
        sym.join(s2, ["event_type", "win"])
        .join(s3, ["event_type", "win"])
        .select(
            "event_type",
            F.concat(F.col("s"), F.col("s2"), F.col("s3")).alias("tri_w"),
        )
    )
    wrk = Window.partitionBy("event_type").orderBy(
        F.desc("cnt"), F.col("tri_w")
    )
    motif = (
        tri.groupBy("event_type", "tri_w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type", "tri_w", "cnt", F.row_number().over(wrk).alias("rk")
        )
        .filter(F.col("rk") == 1)
    )
    return (
        sym.join(motif, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_paa"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("win", "s"))),
                    lambda x: x["s"],
                ),
                "",
            ).alias("sax"),
            F.sum(F.when(F.col("s") == "a", 1).otherwise(0))
            .cast("bigint")
            .alias("n_a"),
            F.sum(F.when(F.col("s") == "b", 1).otherwise(0))
            .cast("bigint")
            .alias("n_b"),
            F.sum(F.when(F.col("s") == "c", 1).otherwise(0))
            .cast("bigint")
            .alias("n_c"),
            F.max("tri_w").alias("motif"),
            F.max("cnt").cast("bigint").alias("motif_n"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E326: Kalman local-level filter — state-space smoothing per series
# --------------------------------------------------------------------------

_KF_Q = 1.0  # process variance per hour
_KF_R = 25.0  # observation variance
_KF_P0 = 10.0  # prior variance at t=1

_KALMAN_ORACLE = f"""
WITH RECURSIVE hourly AS MATERIALIZED (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY event_type, h),
idx AS MATERIALIZED (
  SELECT event_type, y,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS t,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM hourly),
rec(event_type, t, n, level_q, p_q, k_q, abs_q) AS (
  SELECT event_type, CAST(1 AS BIGINT), n,
         CAST(FLOOR(y * 1000000000 + 0.5) AS BIGINT),
         CAST(FLOOR({_KF_P0!r}e0 * 1000000000 + 0.5) AS BIGINT),
         CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  FROM idx WHERE t = 1
  UNION ALL
  SELECT event_type, t + 1, n,
         CAST(FLOOR((level_q / 1.0e9
                     + (k_q2 / 1.0e9) * (y - level_q / 1.0e9))
                    * 1.0e9 + 0.5) AS BIGINT),
         CAST(FLOOR(((1.0e0 - k_q2 / 1.0e9) * (p_q / 1.0e9 + {_KF_Q!r}e0))
                    * 1.0e9 + 0.5) AS BIGINT),
         k_q2,
         abs_q + CAST(FLOOR(ABS(y - level_q / 1.0e9) * 1.0e9 + 0.5)
                      AS BIGINT)
  FROM (
    SELECT r.event_type, r.t, r.n, r.level_q, r.p_q, r.abs_q, i.y,
           CAST(FLOOR(((r.p_q / 1.0e9 + {_KF_Q!r}e0)
                       / (r.p_q / 1.0e9 + {_KF_Q!r}e0 + {_KF_R!r}e0))
                      * 1.0e9 + 0.5) AS BIGINT) AS k_q2
    FROM rec r JOIN idx i ON i.event_type = r.event_type AND i.t = r.t + 1))
SELECT event_type, n AS n_hours,
       level_q / 1.0e9 AS level,
       p_q / 1.0e9 AS p_var,
       k_q / 1.0e9 AS gain,
       CAST(FLOOR(abs_q / 1.0e9 / GREATEST(n - 1, 1) * 1000000 + 0.5)
            AS BIGINT) / 1000000.0 AS innov_mae
FROM rec WHERE t = n
"""


@query(
    "q_kalman_level_hourly",
    oracle=_KALMAN_ORACLE,
    tags=("E326", "E54", "X2", "T1", "W4"),
)
def q_kalman_level_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman local-level filter over each event type's hourly
    arrival counts — the state-space smoother beside Holt (E54:
    fixed gains; Kalman's gain ADAPTS as the posterior variance
    converges, the standard online denoiser for feed-health
    monitoring): predict P+Q, gain K = P/(P+R), correct level by
    K*innovation, shrink P by (1-K). The recursion is per-series
    sequential, so it runs as the X2 grouped-map kernel; level,
    variance AND gain are quantized to 1e-9 int64 after every step
    (each intra-step expression is a fixed sequence of single IEEE
    ops written identically in the kernel and in the oracle's WITH
    RECURSIVE replay — the Holt bit-exactness contract), so the
    whole filter trajectory, the converged gain, and the innovation
    MAE are hash-exact. The hourly aggregation shrinks each group to
    O(hours) rows before Python sees data; at scale the cost is the
    events scan + one hash shuffle."""
    import math

    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy("event_type", F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("double").alias("y")
    )

    def filt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        y = pdf["y"].to_list()
        level_q = math.floor(y[0] * 1000000000 + 0.5)
        p_q = math.floor(_KF_P0 * 1000000000 + 0.5)
        k_q = 0
        abs_q = 0
        for t in range(1, len(y)):
            k_q = math.floor(
                (
                    (p_q / 1.0e9 + _KF_Q)
                    / (p_q / 1.0e9 + _KF_Q + _KF_R)
                )
                * 1.0e9
                + 0.5
            )
            abs_q += math.floor(abs(y[t] - level_q / 1.0e9) * 1.0e9 + 0.5)
            new_level_q = math.floor(
                (level_q / 1.0e9 + (k_q / 1.0e9) * (y[t] - level_q / 1.0e9))
                * 1.0e9
                + 0.5
            )
            p_q = math.floor(
                ((1.0 - k_q / 1.0e9) * (p_q / 1.0e9 + _KF_Q)) * 1.0e9 + 0.5
            )
            level_q = new_level_q
        n = len(y)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_hours": [n],
                "level": [level_q / 1.0e9],
                "p_var": [p_q / 1.0e9],
                "gain": [k_q / 1.0e9],
                "innov_mae": [
                    math.floor(abs_q / 1.0e9 / max(n - 1, 1) * 1000000 + 0.5)
                    / 1000000.0
                ],
            }
        )

    schema = (
        "event_type string, n_hours long, level double, p_var double, "
        "gain double, innov_mae double"
    )
    return hourly.groupBy("event_type").applyInPandas(filt, schema).orderBy(
        "event_type"
    )


# --------------------------------------------------------------------------
# E327: banded DTW — elastic alignment distance between two series
# --------------------------------------------------------------------------

_DTW_N = 20  # first N days of each series (fixed cap: bit-inert unroll)
_DTW_BAND = 3  # Sakoe-Chiba band |i - j| <= band
_DTW_INF = 10**15  # unreachable-cell sentinel (real costs << this)


def _dtw_oracle() -> str:
    head = f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS d,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i
      FROM daily),
    a AS (SELECT i, cents FROM seq WHERE event_type = 'view'
          AND i <= {_DTW_N}),
    b AS (SELECT i AS j, cents FROM seq WHERE event_type = 'purchase'
          AND i <= {_DTW_N}),
    cells AS MATERIALIZED (
      SELECT a.i, b.j, a.i + b.j AS k, abs(a.cents - b.cents) AS cost
      FROM a JOIN b ON abs(a.i - b.j) <= {_DTW_BAND}),
    w2 AS MATERIALIZED (
      SELECT i, cost AS dd FROM cells WHERE k = 2)"""
    parts = [head]
    for k in range(3, 2 * _DTW_N + 1):
        # k=3 has no k-2 wavefront (its diagonal predecessor would be
        # the out-of-grid (0,*) row) — drop that join instead of
        # referencing a nonexistent w1
        diag = (
            f"\n      LEFT JOIN w{k - 2} d2 ON d2.i = c.i - 1" if k > 3 else ""
        )
        diag_term = f"COALESCE(d2.dd, {_DTW_INF})" if k > 3 else f"{_DTW_INF}"
        parts.append(f""",
    w{k} AS MATERIALIZED (
      SELECT c.i,
             c.cost + LEAST(COALESCE(p1.dd, {_DTW_INF}),
                            COALESCE(p0.dd, {_DTW_INF}),
                            {diag_term}) AS dd
      FROM cells c
      LEFT JOIN w{k - 1} p1 ON p1.i = c.i - 1
      LEFT JOIN w{k - 1} p0 ON p0.i = c.i{diag}
      WHERE c.k = {k})"""
        )
    parts.append(f""",
    euclid AS (
      SELECT CAST(SUM(abs(a.cents - b.cents)) AS BIGINT) AS e
      FROM a JOIN b ON b.j = a.i)
    SELECT CAST({_DTW_N} AS BIGINT) AS n_days,
           CAST(w.dd AS BIGINT) AS dtw_cents,
           e.e AS euclid_cents,
           CASE WHEN e.e = 0 THEN 1.0
                ELSE CAST(FLOOR(CAST(w.dd AS DOUBLE) / e.e * 1000000 + 0.5)
                          AS BIGINT) / 1e6
           END AS elasticity_gain
    FROM w{2 * _DTW_N} w, euclid e WHERE w.i = {_DTW_N}""")
    return "".join(parts)


@query(
    "q_dtw_band_alignment",
    oracle=_dtw_oracle(),
    tags=("E327", "E325", "E110", "J7", "A1"),
)
def q_dtw_band_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping (Sakoe-Chiba band r=3) between
    the view and purchase daily-cents series — the ELASTIC distance
    the lock-step euclidean family (rolling corr, E110 ACF) cannot
    express: a demand spike that shows up in purchases a day or two
    late still aligns, and the elasticity_gain column (dtw/euclid,
    <= 1 by construction) quantifies exactly how much alignment slack
    buys. Both series are capped at their first 20 days (fixed
    cap — the panel-freeze rule — which also makes the oracle's
    unroll bit-inert at any SF): integer |cents| costs, banded cells
    only, D(i,j) = cost + min(left, down, diag). The oracle replays
    the DP as 38 unrolled MATERIALIZED wavefront CTEs
    (anti-diagonals k=i+j — each references only k-1 and k-2, the
    E301 unroll discipline); the Spark side runs the identical
    integer DP in ONE bounded Arrow task over the 2x20-row
    series frame (the house bounded-DP small-finish: the state is
    20x20 cells, domain-sized by the cap — at scale DTW
    fans out as one such kernel PER SERIES PAIR via a grouped map,
    which this single-pair form is the unit of). All-integer, so
    parity is exact; series shorter than the cap yield an EMPTY
    result identically in both engines, and IDENTICAL series
    (euclid == 0, the 0/0 edge) emit elasticity_gain = 1.0
    identically in both (CASE guard / Python branch)."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase")
    )
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    wd = Window.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type", "cents", F.row_number().over(wd).alias("i")
    ).filter(F.col("i") <= _DTW_N)

    n_cap, band, inf = _DTW_N, _DTW_BAND, _DTW_INF

    def dtw(pdf):
        series = {}
        for et, grp in pdf.groupby("event_type"):
            g = grp.sort_values("i")
            series[et] = [int(x) for x in g["cents"].to_list()]
        a = series.get("view", [])
        b = series.get("purchase", [])
        if len(a) < n_cap or len(b) < n_cap:
            return None
        a, b = a[:n_cap], b[:n_cap]
        prev: dict = {}
        prev2: dict = {}
        for k in range(2, 2 * n_cap + 1):
            cur = {}
            for i in range(max(1, k - n_cap), min(n_cap, k - 1) + 1):
                j = k - i
                if abs(i - j) > band:
                    continue
                cost = abs(a[i - 1] - b[j - 1])
                if k == 2:
                    cur[i] = cost
                else:
                    cur[i] = cost + min(
                        prev.get(i - 1, inf),
                        prev.get(i, inf),
                        prev2.get(i - 1, inf),
                    )
            prev2, prev = prev, cur
        dd = prev[n_cap]
        euclid = sum(abs(x - y) for x, y in zip(a, b))
        import math

        return pd.DataFrame(
            {
                "n_days": [n_cap],
                "dtw_cents": [dd],
                "euclid_cents": [euclid],
                "elasticity_gain": [
                    1.0
                    if euclid == 0
                    else math.floor(dd / euclid * 1000000 + 0.5) / 1e6
                ],
            }
        )

    return probe.single_task(
        seq,
        dtw,
        "n_days bigint, dtw_cents bigint, euclid_cents bigint, "
        "elasticity_gain double",
    )


# --------------------------------------------------------------------------
# E330: matrix profile — exact motif + discord over daily series
# --------------------------------------------------------------------------

_MP_W = 5  # subsequence length (days); also the trivial-match exclusion


@query(
    "q_matrix_profile_daily",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS d,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT event_type, cents,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
      FROM daily),
    els AS MATERIALIZED (
      SELECT s.event_type, s.rn - o.p AS i, o.p, s.cents
      FROM seq s
      JOIN (SELECT unnest(generate_series(0, {_MP_W - 1})) AS p) o ON TRUE
      WHERE s.rn - o.p >= 1),
    lim AS (
      SELECT event_type, MAX(rn) - {_MP_W - 1} AS n_sub FROM seq GROUP BY 1),
    pairs AS MATERIALIZED (
      SELECT e1.event_type, e1.i AS i, e2.i AS j,
             SUM(abs(e1.cents - e2.cents)) AS dist
      FROM els e1
      JOIN els e2 ON e2.event_type = e1.event_type AND e2.p = e1.p
      JOIN lim ON lim.event_type = e1.event_type
      WHERE abs(e1.i - e2.i) >= {_MP_W}
        AND e1.i <= lim.n_sub AND e2.i <= lim.n_sub
        AND CASE WHEN lim.n_sub < 1000 THEN TRUE
                 ELSE error('matrix-profile: n_sub exceeds encoding bound')
            END
      GROUP BY 1, 2, 3),
    mp AS MATERIALIZED (
      SELECT event_type, i, MIN(dist) AS mp FROM pairs GROUP BY 1, 2)
    SELECT p.event_type,
           CAST(MAX(lim.n_sub) AS BIGINT) AS n_subseq,
           CAST(MIN(p.dist * 1000000 + p.i * 1000 + p.j) // 1000000
                AS BIGINT) AS motif_dist,
           CAST(MIN(p.dist * 1000000 + p.i * 1000 + p.j) % 1000000 // 1000
                AS BIGINT) AS motif_i,
           CAST(MIN(p.dist * 1000000 + p.i * 1000 + p.j) % 1000 AS BIGINT)
             AS motif_j,
           CAST(MAX(m.mp * 1024 + (1023 - m.i)) // 1024 AS BIGINT)
             AS discord_mp,
           CAST(1023 - MAX(m.mp * 1024 + (1023 - m.i)) % 1024 AS BIGINT)
             AS discord_i
    FROM pairs p
    JOIN mp m ON m.event_type = p.event_type
    JOIN lim ON lim.event_type = p.event_type
    GROUP BY p.event_type ORDER BY p.event_type
    """,
    tags=("E330", "E325", "E317", "J7", "A1"),
)
def q_matrix_profile_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile (Keogh) of each event type's daily cents series
    — the EXACT-distance motif/discord substrate the SAX
    symbolization (E325) approximates: MP(i) = the L1 distance from
    subsequence i (length 5) to its nearest non-trivial
    neighbor (exclusion zone |i-j| >= 5); the global MIN pair
    is the top MOTIF (the series' most-repeated shape) and the
    subsequence with the LARGEST profile value is the top DISCORD
    (the anomaly no other window resembles — LOF's sequence-shaped
    sibling, E317). All-integer: subsequences unroll via a
    5-row offset cross join (elements keyed (i, p) — one
    equi-join on (series, p) then a groupBy computes EVERY pairwise
    distance, no per-pair recursion), argmin/argmax tie-break to the
    lowest index via integer-encoded keys (dist*1e6 + i*1000 + j;
    mp*1024 + (1023-i)) — identical arithmetic in both engines, no
    doubles anywhere (decode is BIGINT DIV/% in both). The encoding
    is valid only while n_sub < 1000 (~2.7 years of daily data at
    w=5); both engines RAISE identically past the bound
    (raise_error / error()) rather than silently corrupting the
    motif indices. Series are day-count-bounded, so the pair
    table is (days/w)^2-sized per series — domain state, not data
    state; at 100 TB the cost is the events scan + the daily-grain
    shuffle."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
            "cents"
        )
    )
    wd = Window.partitionBy("event_type").orderBy("d")
    seq = daily.select(
        "event_type", "cents", F.row_number().over(wd).alias("rn")
    )
    offs = F.explode(F.sequence(F.lit(0), F.lit(_MP_W - 1))).alias("p")
    els = (
        seq.select("event_type", "cents", "rn", offs)
        .filter(F.col("rn") - F.col("p") >= 1)
        .select(
            "event_type",
            (F.col("rn") - F.col("p")).alias("i"),
            "p",
            "cents",
        )
    )
    els = tracked_persist(els)
    lim = seq.groupBy("event_type").agg(
        (F.max("rn") - (_MP_W - 1)).alias("n_sub")
    )
    e2 = els.select(
        "event_type", F.col("i").alias("j"), "p", F.col("cents").alias("c2")
    )
    pairs = (
        els.join(e2, ["event_type", "p"])
        .join(F.broadcast(lim), "event_type")
        .filter(
            (F.abs(F.col("i") - F.col("j")) >= _MP_W)
            & (F.col("i") <= F.col("n_sub"))
            & (F.col("j") <= F.col("n_sub"))
            & F.when(F.col("n_sub") < F.lit(1000), F.lit(True)).otherwise(
                F.raise_error(
                    F.lit(
                        "matrix-profile: n_sub exceeds encoding bound"
                    )
                )
            )
        )
        .groupBy("event_type", "i", "j")
        .agg(F.sum(F.abs(F.col("cents") - F.col("c2"))).alias("dist"))
    )
    pairs = tracked_persist(pairs)
    mp = pairs.groupBy("event_type", "i").agg(F.min("dist").alias("mp"))
    mkey = F.min(F.col("dist") * 1000000 + F.col("i") * 1000 + F.col("j"))
    dkey = F.max(F.col("mp") * 1024 + (1023 - F.col("mp_i")))
    return (
        pairs.join(
            mp.select("event_type", F.col("i").alias("mp_i"), "mp"),
            "event_type",
        )
        .join(F.broadcast(lim), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_sub").cast("bigint").alias("n_subseq"),
            mkey.alias("_mkey"),
            dkey.alias("_dkey"),
        )
        .select(
            "event_type",
            "n_subseq",
            F.expr("_mkey DIV 1000000").cast("bigint").alias("motif_dist"),
            F.expr("_mkey % 1000000 DIV 1000")
            .cast("bigint")
            .alias("motif_i"),
            (F.col("_mkey") % 1000).cast("bigint").alias("motif_j"),
            F.expr("_dkey DIV 1024").cast("bigint").alias("discord_mp"),
            (F.lit(1023) - F.col("_dkey") % 1024)
            .cast("bigint")
            .alias("discord_i"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# E334: optimal multi-changepoint segmentation — penalized DP, exact
# --------------------------------------------------------------------------

_OP_LAM_DIV = 16  # penalty = total weighted variance / 16 (scale-free)
_OP_DAY_CAP = 64  # integer-encode bound: n_days < 64 or both engines raise


def _op_oracle() -> str:
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT event_type, date_trunc('day', ts) AS d,
             SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) // COUNT(*) AS x
      FROM events GROUP BY 1, 2),
    seq AS MATERIALIZED (
      SELECT event_type, x,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS i,
             SUM(x) OVER (PARTITION BY event_type ORDER BY d) AS c1,
             SUM(x*x) OVER (PARTITION BY event_type ORDER BY d) AS c2
      FROM daily),
    pre AS MATERIALIZED (
      SELECT event_type,
             CAST(MAX(i) AS BIGINT) AS n,
             [CAST(0 AS BIGINT)] || list(c1 ORDER BY i) AS s1,
             [CAST(0 AS BIGINT)] || list(c2 ORDER BY i) AS s2
      FROM seq GROUP BY event_type),
    lamt AS MATERIALIZED (
      SELECT event_type, n, s1, s2,
             CAST((n * (s2[n+1]) - (s1[n+1]) * (s1[n+1]))
                  // {_OP_LAM_DIV} AS BIGINT) AS lam
      FROM pre
      WHERE CASE WHEN n < {_OP_DAY_CAP} THEN TRUE
                 ELSE error('optimal-changepoints: n_days exceeds encode bound')
            END),
    rec(event_type, n, s1, s2, lam, t, fs, ks, las) AS (
      SELECT event_type, n, s1, s2, lam, CAST(0 AS BIGINT),
             [CAST(0 AS BIGINT)], [CAST(0 AS BIGINT)], [CAST(0 AS BIGINT)]
      FROM lamt
      UNION ALL
      SELECT event_type, n, s1, s2, lam, t + 1,
             list_append(fs, best // 4096),
             list_append(ks, best % 4096 // 64),
             list_append(las, best % 64 + 1)
      FROM (
        SELECT *, list_min(list_transform(
          generate_series(1, CAST(t+1 AS INTEGER)),
          a -> (fs[a]
                + (t + 2 - a) * (s2[t+2] - s2[a])
                - (s1[t+2] - s1[a]) * (s1[t+2] - s1[a])
                + lam) * 4096
               + (ks[a] + 1) * 64 + (a - 1))) AS best
        FROM rec WHERE t < n)
    )
    SELECT event_type,
           n AS n_days,
           CAST(ks[n+1] AS BIGINT) AS n_segments,
           CAST(fs[n+1] AS BIGINT) AS total_cost,
           lam,
           CAST(las[n+1] AS BIGINT) AS last_seg_start
    FROM rec WHERE t = n ORDER BY event_type
    """


@query(
    "q_optimal_changepoints",
    oracle=_op_oracle(),
    tags=("E334", "E118", "E303", "X2", "A1", "W4"),
)
def q_optimal_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT penalized multi-changepoint segmentation of each event
    type's daily mean-cents series — the optimal-partitioning DP
    (Jackson/PELT's exact ancestor) that CUSUM (one shift, E118) and
    Page-Hinkley (online alarm, E303) approximate: minimize
    sum-over-segments of the integer weighted variance
    len*sum(x^2) - sum(x)^2 plus a per-segment penalty, over ALL 2^n
    segmentations, via F(b) = min_a F(a-1) + cost(a,b) + lam. The
    penalty derives from the series' own total weighted variance
    (/16), so the objective is scale-free; using the per-day MEAN
    (intensive, ~constant cents at any SF) rather than the day total
    keeps every intermediate bounded at 100 TB. Ties pin to (fewer
    segments, earliest split) via the integer encode
    F*4096 + nseg*64 + (a-1), valid for n_days < 64 — both engines
    RAISE identically past the bound (the matrix-profile guard
    discipline). The oracle replays the DP as a list-carrying
    WITH RECURSIVE (the F-vector rides the recursion as a list — the
    wavefront-unroll alternative for history-dependent DPs); the
    Spark side is the identical integer DP in a bounded Arrow task
    per series (X2 grouped map, day-grain state — at 100 TB the cost
    is the events scan + the daily shuffle, DP state is 64 BIGINTs)."""
    import math as _math

    import pandas as pd

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("event_type", F.date_trunc("day", "ts").alias("d")).agg(
        F.expr(
            "SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) DIV COUNT(*)"
        ).alias("x")
    )
    lam_div, day_cap = _OP_LAM_DIV, _OP_DAY_CAP

    def seg(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        x = [int(v) for v in pdf["x"].to_list()]
        n = len(x)
        if n >= day_cap:
            raise ValueError(
                "optimal-changepoints: n_days exceeds encode bound"
            )
        s1 = [0] * (n + 1)
        s2 = [0] * (n + 1)
        for i, v in enumerate(x, start=1):
            s1[i] = s1[i - 1] + v
            s2[i] = s2[i - 1] + v * v
        lam = (n * s2[n] - s1[n] * s1[n]) // lam_div
        fs, ks, las = [0], [0], [0]
        for t in range(n):
            best = min(
                (
                    fs[a - 1]
                    + (t + 2 - a) * (s2[t + 1] - s2[a - 1])
                    - (s1[t + 1] - s1[a - 1]) ** 2
                    + lam
                )
                * 4096
                + (ks[a - 1] + 1) * 64
                + (a - 1)
                for a in range(1, t + 2)
            )
            fs.append(best // 4096)
            ks.append(best % 4096 // 64)
            las.append(best % 64 + 1)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "n_segments": [ks[n]],
                "total_cost": [fs[n]],
                "lam": [lam],
                "last_seg_start": [las[n]],
            }
        )

    schema = (
        "event_type string, n_days bigint, n_segments bigint, "
        "total_cost bigint, lam bigint, last_seg_start bigint"
    )
    return (
        daily.groupBy("event_type").applyInPandas(seg, schema).orderBy(
            "event_type"
        )
    )


# --------------------------------------------------------------------------
# E345: interval scheduling — max non-overlapping activities per user
# --------------------------------------------------------------------------

_IS_GATE = 2_000_000  # events; tests patch to 0 for the doubled-join branch
_IS_ROUNDS = 12  # pointer-doubling rounds: chains to 2^12 selections


def _is_oracle() -> str:
    return """
    WITH RECURSIVE iv AS MATERIALIZED (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts)
               + (CAST(FLOOR(value * 100 + 0.5) AS BIGINT) + 1) * 10000000
               AS e,
             event_id
      FROM events),
    rk AS MATERIALIZED (
      SELECT user_id, s, e,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY e, s, event_id) AS BIGINT)
               AS rn
      FROM iv),
    uni AS (
      SELECT user_id, s AS key, 0 AS tag, rn, CAST(NULL AS BIGINT) AS qrn
      FROM rk
      UNION ALL
      SELECT user_id, e AS key, 1 AS tag, CAST(NULL AS BIGINT), rn FROM rk),
    scan AS (
      SELECT user_id, qrn,
             MIN(CASE WHEN tag = 0 THEN rn END)
               OVER (PARTITION BY user_id ORDER BY key DESC, tag
                     ROWS UNBOUNDED PRECEDING) AS nx
      FROM uni),
    nxt AS MATERIALIZED (
      SELECT user_id, qrn AS rn, nx FROM scan WHERE qrn IS NOT NULL),
    walk(user_id, rn, cnt) AS (
      SELECT user_id, rn, CAST(1 AS BIGINT) FROM nxt WHERE rn = 1
      UNION ALL
      SELECT w.user_id, n.nx, w.cnt + 1
      FROM walk w JOIN nxt n ON n.user_id = w.user_id AND n.rn = w.rn
      WHERE n.nx IS NOT NULL),
    sel AS (SELECT user_id, MAX(cnt) AS n_selected FROM walk GROUP BY 1),
    base AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
             FROM rk GROUP BY 1)
    SELECT b.user_id, b.n_events, CAST(s.n_selected AS BIGINT) AS n_selected
    FROM base b JOIN sel s USING (user_id)
    ORDER BY b.user_id
    """


@query(
    "q_interval_scheduling_users",
    oracle=_is_oracle(),
    tags=("E345", "E306", "J9", "W1", "A1", "F4"),
)
def q_interval_scheduling_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum non-overlapping activity selection per user — the
    exact greedy-optimal scheduling operator (earliest-end-first,
    provably maximum): each event opens an interval [ts, ts +
    (value-cents + 1) * 10s] (hours-to-weeks long, so schedules
    genuinely conflict; the +1 makes every duration STRICTLY positive
    — a zero-length interval would be its own greedy successor and
    the successor walk would cycle, the bug the sf0.1 oracle found), and the answer is how many can be attended
    without overlap. The relational construction never walks rows
    one-by-one: (1) rank intervals per user by end; (2) the greedy
    SUCCESSOR nxt(i) = first end-ranked interval whose start >= end_i
    falls out of ONE descending-key union window (starts as quotes,
    ends as queries, running MIN of quote ranks — the E22/as-of
    UNION trick pointed at a step function); (3) the chain length
    from rank 1 is a POINTER-DOUBLED walk (log2 rounds of rerooted
    self-joins, the E306/rho discipline), with a LOUD guard raising
    if a chain outruns the 2^12 unroll (distributed-branch-only: the
    kernel sweep and the oracle's recursive walk are depth-unbounded,
    so driver parity never meets the guard).
    Count-gated kernel (house rule): under the gate, one bucketed
    applyInPandas replays the same earliest-end sweep per user
    bit-exactly; the doubled-join path is the else-branch and the
    100 TB path. Successor ranks strictly increase (end_j > start_j
    >= end_i), so the walk always terminates. Oracle replays the
    same nxt table with a plain per-user WITH RECURSIVE walk."""
    from fts_analysis_datalake_spark.caching import reroot

    e = load_table(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("s"),
        (
            F.unix_micros(F.col("ts"))
            + (F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long") + 1)
            * F.lit(10000000)
        ).alias("e"),
        "event_id",
    )
    if probe.gate("interval_scheduling", iv.count() <= _IS_GATE):

        def sweep(pdf):
            import pandas as pd

            out = []
            for uid, grp in pdf.groupby("user_id"):
                rows = sorted(
                    zip(grp["e"], grp["s"], grp["event_id"])
                )
                n_sel, last_end = 0, None
                for ee, ss, _ in rows:
                    if last_end is None or ss >= last_end:
                        n_sel += 1
                        last_end = ee
                out.append((int(uid), len(rows), n_sel))
            return pd.DataFrame(
                out, columns=["user_id", "n_events", "n_selected"]
            )

        return (
            iv.withColumn("_b", F.pmod(F.col("user_id"), F.lit(64)))
            .groupBy("_b")
            .applyInPandas(
                lambda pdf: sweep(pdf),
                "user_id bigint, n_events bigint, n_selected bigint",
            )
            .orderBy("user_id")
        )

    # distributed path: rank -> union-window successor -> doubled walk
    wr = Window.partitionBy("user_id").orderBy("e", "s", "event_id")
    rk = iv.select(
        "user_id", "s", "e", F.row_number().over(wr).cast("bigint").alias("rn")
    )
    rk = tracked_persist(rk)
    quotes = rk.select(
        "user_id",
        F.col("s").alias("key"),
        F.lit(0).alias("tag"),
        "rn",
        F.lit(None).cast("bigint").alias("qrn"),
    )
    queries_ = rk.select(
        "user_id",
        F.col("e").alias("key"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("rn"),
        F.col("rn").alias("qrn"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy(F.col("key").desc(), "tag")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scan = quotes.unionAll(queries_).select(
        "user_id",
        "qrn",
        F.min(F.when(F.col("tag") == 0, F.col("rn"))).over(ws).alias("nx"),
    )
    nxt = scan.filter(F.col("qrn").isNotNull()).select(
        "user_id", F.col("qrn").alias("rn"), "nx"
    )
    nxt = tracked_persist(nxt)
    # state: every interval starts a 1-step chain pointing at its
    # successor; doubling composes jumps
    st = nxt.select(
        "user_id", "rn", F.col("nx").alias("jump"), F.lit(1).cast("bigint").alias("steps")
    )
    st = reroot(st)
    for _ in range(_IS_ROUNDS):
        o = st.select(
            F.col("user_id").alias("u2"),
            F.col("rn").alias("rn2"),
            F.col("jump").alias("jump2"),
            F.col("steps").alias("steps2"),
        )
        st = reroot(
            st.join(
                o,
                (F.col("user_id") == F.col("u2"))
                & (F.col("jump") == F.col("rn2")),
                "left",
            ).select(
                "user_id",
                "rn",
                F.col("jump2").alias("jump"),
                (
                    F.col("steps")
                    + F.coalesce(F.col("steps2"), F.lit(0))
                ).alias("steps"),
            )
        )
    base = rk.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    guard = F.when(
        F.col("jump").isNotNull(),
        F.raise_error(
            F.lit("interval-scheduling: chain exceeds 2^rounds bound")
        ).cast("bigint"),
    ).otherwise(F.col("steps"))
    sel = st.filter(F.col("rn") == 1).select(
        "user_id", guard.alias("n_selected")
    )
    return base.join(sel, "user_id").select(
        "user_id", "n_events", "n_selected"
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# E350: Fano factor + burstiness coefficient of hourly arrivals
# --------------------------------------------------------------------------


@query(
    "q_burstiness_hourly",
    oracle="""
    WITH hourly AS MATERIALIZED (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    bounds AS (
      SELECT event_type, MIN(h) AS h0, MAX(h) AS h1,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2_obs
      FROM hourly GROUP BY 1),
    span AS (
      SELECT event_type, s1, s2_obs,
             CAST(date_diff('hour', h0, h1) AS BIGINT) + 1 AS n
      FROM bounds),
    mo AS (
      -- empty spine hours contribute c = 0: s1/s2 unchanged, n = span
      SELECT event_type, n, s1,
             CAST(s1 AS DOUBLE) / n AS mean,
             -- NULLIF: a one-hour span (n = 1) must yield NULL, not
             -- DuckDB's IEEE Inf/NaN (Spark's Divide gives NULL on /0)
             (CAST(s2_obs AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
               / NULLIF(n - 1, 0) AS var
      FROM span),
    stat AS (
      SELECT event_type, n, s1, mean, var,
             var / mean AS fano,
             (sqrt(var) - mean) / (sqrt(var) + mean) AS burstiness
      FROM mo)
    SELECT event_type,
           n AS n_hours,
           s1 AS n_events,
           CAST(FLOOR(mean * 1000000 + 0.5) AS BIGINT) / 1e6 AS mean_rate,
           CAST(FLOOR(fano * 1000000 + 0.5) AS BIGINT) / 1e6 AS fano_factor,
           CAST(FLOOR(burstiness * 1000000 + 0.5) AS BIGINT) / 1e6
             AS burstiness
    FROM stat ORDER BY event_type
    """,
    tags=("E350", "E110", "E34", "A6", "A1", "F4"),
)
def q_burstiness_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor and Goh-Barabasi burstiness of each event type's
    hourly arrival process — the dispersion diagnostic that separates
    Poisson-like traffic (Fano ~ 1, burstiness ~ negative) from
    clumped/bursty arrivals (Fano >> 1, burstiness -> +1), the
    signal a rate-limiter or capacity planner reads before trusting
    a mean rate. Computed over the COMPLETE hourly spine (missing
    hours are zero counts — handled in closed form: zeros change
    neither sum nor sum-of-squares, so n is just the span, and no
    spine explode is ever materialized, unlike the E110 ACF where
    lags need the physical rows). Integer moments are exact BIGINTs;
    mean/variance/Fano/burstiness are one fixed-shape double
    expression quantized at 1e-6 (sqrt is IEEE-exact). Scale shape:
    one map-side-combinable groupBy to the hour grain, one tiny
    per-type aggregate — arrival volume never shuffles."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("h0"),
        F.max("h").alias("h1"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2_obs"),
    )
    span = bounds.select(
        "event_type",
        "s1",
        "s2_obs",
        (
            (F.unix_timestamp("h1") - F.unix_timestamp("h0")) / 3600
        ).cast("bigint").alias("_dh"),
    ).select(
        "event_type", "s1", "s2_obs", (F.col("_dh") + 1).alias("n")
    )
    mean = F.col("s1").cast("double") / F.col("n")
    # NULLIF-style guard: a one-hour span (n = 1) yields NULL variance
    # on BOTH engines (Spark Divide -> NULL on /0 only with ANSI off;
    # the explicit when() keeps it NULL under any ANSI setting and
    # matches the oracle's NULLIF(n - 1, 0)).
    var = (
        F.col("s2_obs").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / F.when(F.col("n") > 1, F.col("n") - 1)
    stat = span.select(
        "event_type",
        "n",
        "s1",
        mean.alias("mean"),
        var.alias("var"),
    ).select(
        "event_type",
        "n",
        "s1",
        "mean",
        (F.col("var") / F.col("mean")).alias("fano"),
        (
            (F.sqrt(F.col("var")) - F.col("mean"))
            / (F.sqrt(F.col("var")) + F.col("mean"))
        ).alias("burstiness"),
    )

    def q6(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1e6

    return stat.select(
        "event_type",
        F.col("n").alias("n_hours"),
        F.col("s1").alias("n_events"),
        q6(F.col("mean")).alias("mean_rate"),
        q6(F.col("fano")).alias("fano_factor"),
        q6(F.col("burstiness")).alias("burstiness"),
    ).orderBy("event_type")
