"""Full join matrix + set operations (SURVEY.md §7 step 5; §2.3
J7-J11, §2.7 U2-U4).

Scale notes: every non-equi join here carries an equi-prefix (same
size / same user / same lang) so Spark plans a hash/sort-merge join on
the prefix instead of a nested-loop cartesian; the tiny-side joins
(interval grid) broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import load_table
from fts_analysis_datalake_spark.probe import mul_i64
from fts_analysis_datalake_spark.registry import query

# --------------------------------------------------------------------------
# J7: theta/band join with equi-prefix blocking
# --------------------------------------------------------------------------


@query(
    "q_part_price_band_pairs",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b, a.p_size,
           a.p_retailprice AS price_a, b.p_retailprice AS price_b
    FROM part a JOIN part b
      ON a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
     AND abs(a.p_retailprice - b.p_retailprice) < 2.0
    """,
    tags=("J7", "J11"),
)
def q_part_price_band_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band (theta) self-join: equal size AND price within tolerance.

    The equi-key is the COMPOUND (p_size, floor(price/tolerance))
    band bucket: two prices within $2 sit in the same or an adjacent
    $2 band, so joining each left row against its own and its +1/-1
    band (a 3-row broadcast offset fan-out, each true pair matched by
    exactly one offset) makes candidate count track OUTPUT count.
    Blocking on p_size alone — 50 fixed values — left in-block pair
    fan-out growing as corpus^2/50 (the r8 8x probe measured slope 38
    with 30 s at 8x; banded it is ~2 s): the same fixed-cardinality-
    block defect the probe caught in the Fellegi-Sunter linkage. The
    residual |diff| < 2 filter keeps semantics identical to the plain
    theta join the oracle states; the within-$2 OUTPUT itself is
    Theta(pairs-in-band) by semantics, so candidates ~ output is the
    scale floor. ensure_parallelism: pair work, not the 4 MB part
    scan, sizes the stage."""
    from fts_analysis_datalake_spark.catalog import ensure_parallelism

    p = ensure_parallelism(load_table(spark, sf_dir, "part"))
    offsets = spark.range(3).select((F.col("id") - 1).alias("doff"))
    a = p.select(
        F.col("p_partkey").alias("key_a"),
        F.col("p_size").alias("p_size"),
        F.col("p_retailprice").alias("price_a"),
        F.floor(F.col("p_retailprice") / 2.0).alias("band_a"),
    ).crossJoin(F.broadcast(offsets))
    b = p.select(
        F.col("p_partkey").alias("key_b"),
        F.col("p_size").alias("size_b"),
        F.col("p_retailprice").alias("price_b"),
        F.floor(F.col("p_retailprice") / 2.0).alias("band_b"),
    )
    return (
        a.join(
            b,
            (F.col("p_size") == F.col("size_b"))
            & (F.col("band_b") == F.col("band_a") + F.col("doff"))
            & (F.col("key_a") < F.col("key_b"))
            & (F.abs(F.col("price_a") - F.col("price_b")) < 2.0),
        )
        .select("key_a", "key_b", "p_size", "price_a", "price_b")
    )


# --------------------------------------------------------------------------
# J8: point-in-interval join against a generated weekly grid
# --------------------------------------------------------------------------


@query(
    "q_events_weekly_interval",
    oracle="""
    WITH grid AS (
      SELECT w AS week_start, w + INTERVAL 7 DAY AS week_end
      FROM unnest(generate_series(TIMESTAMP '2024-01-01',
                                  TIMESTAMP '2024-01-28',
                                  INTERVAL 7 DAY)) t(w)
    )
    SELECT week_start, event_type, COUNT(*) AS n,
           SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM events JOIN grid
      ON ts >= week_start AND ts < week_end
    GROUP BY week_start, event_type
    """,
    tags=("J8", "J5", "F4", "F7"),
)
def q_events_weekly_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join: events against a generated weekly grid.
    The grid side is rows-scale-of-weeks tiny -> broadcast nested loop
    is the *correct* plan (at 100 TB the stream side never shuffles)."""
    e = load_table(spark, sf_dir, "events")
    grid = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("timestamp"),
                F.lit("2024-01-28").cast("timestamp"),
                F.expr("INTERVAL 7 DAYS"),
            )
        ).alias("week_start")
    ).select("week_start", (F.col("week_start") + F.expr("INTERVAL 7 DAYS")).alias("week_end"))
    return (
        e.join(
            F.broadcast(grid),
            (F.col("ts") >= F.col("week_start")) & (F.col("ts") < F.col("week_end")),
        )
        .groupBy("week_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))) / 100.0).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# J9: as-of join (latest signup state at purchase time)
# --------------------------------------------------------------------------


@query(
    "q_asof_purchase_signup",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           s.ts AS signup_ts,
           CAST(FLOOR(epoch(p.ts)) - FLOOR(epoch(s.ts)) AS BIGINT) AS age_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND s.ts <= p.ts
    """,
    tags=("J9", "W1"),
)
def q_asof_purchase_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest signup at-or-before
    it for the same user. Spark emulation: equi-join on user + range
    predicate, then keep the max-ts match per purchase via
    row_number — one shuffle per side on user_id, no nested loop.
    Oracle uses DuckDB's *native* ASOF JOIN (semantics verified equal:
    inner, latest s.ts <= p.ts)."""
    e = load_table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("s_user_id"), F.col("ts").alias("signup_ts")
    )
    joined = p.join(
        s,
        (F.col("user_id") == F.col("s_user_id")) & (F.col("signup_ts") <= F.col("purchase_ts")),
    )
    w = Window.partitionBy("purchase_id").orderBy(F.col("signup_ts").desc())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            "signup_ts",
            (F.unix_timestamp("purchase_ts") - F.unix_timestamp("signup_ts"))
            .cast("bigint")
            .alias("age_s"),
        )
    )


# --------------------------------------------------------------------------
# J10: cross join — full (lang x source) grid with zero-filled counts
# --------------------------------------------------------------------------


@query(
    "q_lang_source_grid",
    oracle="""
    WITH langs AS (SELECT DISTINCT lang FROM documents),
         srcs  AS (SELECT DISTINCT source FROM documents),
         counts AS (SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY lang, source)
    SELECT l.lang, s.source, COALESCE(c.n, 0) AS n_docs
    FROM langs l CROSS JOIN srcs s
    LEFT JOIN counts c ON c.lang = l.lang AND c.source = s.source
    """,
    tags=("J10", "J2", "P7", "A10"),
)
def q_lang_source_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense (lang x source) matrix with explicit zero cells — the
    FTS source x dest transfer-matrix shape, cross join of two tiny
    distinct sets then left join of real counts."""
    d = load_table(spark, sf_dir, "documents")
    langs = d.select("lang").distinct()
    srcs = d.select("source").distinct()
    counts = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    return (
        langs.crossJoin(srcs)
        .join(
            counts.withColumnsRenamed({"lang": "c_lang", "source": "c_source"}),
            (F.col("lang") == F.col("c_lang")) & (F.col("source") == F.col("c_source")),
            "left",
        )
        .select("lang", "source", F.coalesce(F.col("n"), F.lit(0)).alias("n_docs"))
    )


# --------------------------------------------------------------------------
# J11: self-join candidate pairs (same lang, same length)
# --------------------------------------------------------------------------


@query(
    "q_doc_length_pairs",
    oracle="""
    SELECT a.lang, COUNT(*) AS n_pairs
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.n_chars = b.n_chars AND a.doc_id < b.doc_id
    GROUP BY a.lang
    """,
    tags=("J11", "A1"),
)
def q_doc_length_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked self-join: near-dup candidates must share (lang,
    n_chars) — the candidate-pair generation shape of MinHash-LSH
    banding (D3) with a cheap blocking key."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.n_chars") == F.col("b.n_chars"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.lang").alias("lang"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --------------------------------------------------------------------------
# U2-U4: set operations
# --------------------------------------------------------------------------


@query(
    "q_active_both_periods",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1999-01-01' AND TIMESTAMP '1999-12-31'
    """,
    tags=("U3",),
)
def q_active_both_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in both 1995 and 1999 — INTERSECT (distinct)."""
    o = load_table(spark, sf_dir, "orders")

    def keys(lo: str, hi: str) -> DataFrame:
        return o.filter(
            F.col("o_orderdate").between(F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp"))
        ).select("o_custkey")

    return keys("1995-01-01", "1995-12-31").intersect(keys("1999-01-01", "1999-12-31"))


@query(
    "q_churned_customers",
    oracle="""
    SELECT o_custkey FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1995-12-31'
    EXCEPT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    """,
    tags=("U4",),
)
def q_churned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers active in 1995 never seen from 1998 on — EXCEPT
    (distinct). The churn horizon starts at 1998 (not 1996) because
    the fixture's customers nearly all reorder within two years — a
    1996 horizon returns the empty set, which the oracle would
    trivially 'match'."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01").cast("timestamp"), F.lit("1995-12-31").cast("timestamp")
        )
    ).select("o_custkey")
    later = o.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")).select(
        "o_custkey"
    )
    return y95.subtract(later)


@query(
    "q_quantity_multiset_diff",
    oracle="""
    SELECT l_quantity FROM lineitem WHERE l_returnflag = 'A'
    EXCEPT ALL
    SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'
    """,
    tags=("U4",),
)
def q_quantity_multiset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics EXCEPT ALL (multiset difference of the quantity
    distributions of two flags)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_returnflag") == "A").select("l_quantity")
    r = li.filter(F.col("l_returnflag") == "R").select("l_quantity")
    return a.exceptAll(r)


@query(
    "q_union_distinct_custkeys",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    UNION
    SELECT o_custkey FROM orders WHERE o_totalprice > 400000
    """,
    tags=("U2",),
)
def q_union_distinct_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) of two slices."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") == "F")
        .select("o_custkey")
        .unionByName(o.filter(F.col("o_totalprice") > 400000).select("o_custkey"))
        .distinct()
    )


# --------------------------------------------------------------------------
# E104: binned range self-join — both sides large, no tiny side
# --------------------------------------------------------------------------

_PAIR_TOL_S = 30  # pair tolerance, integral seconds


@query(
    "q_binned_event_pairs",
    oracle=f"""
    WITH e AS (SELECT event_id, event_type,
                      CAST(FLOOR(epoch(ts)) AS BIGINT) AS s
               FROM events)
    SELECT a.event_type, COUNT(*) AS n_pairs,
           CAST(SUM(abs(a.s - b.s)) AS DOUBLE) / COUNT(*) AS mean_gap_s
    FROM e a JOIN e b
      ON a.event_type = b.event_type
     AND a.event_id < b.event_id
     AND abs(a.s - b.s) <= {_PAIR_TOL_S}
    GROUP BY a.event_type
    """,
    tags=("E104", "J7", "F7", "A1"),
)
def q_binned_event_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range self-join where BOTH sides are large and there is no
    selective equi-key: pairs of same-type events within 30 s of each
    other (burst/correlation mining). The broadcast-grid trick (J8)
    and the band-with-equi-prefix trick (J7) both assume one side is
    small or pre-blocked; the general technique is BINNING — bucket
    the time axis into tolerance-width bins, explode ONE side into
    its bin and the two adjacent bins, and equi-join on (type, bin).
    |Δt| <= tol implies |Δbin| <= 1, so every qualifying pair meets
    on exactly ONE of the three exploded bins (they're distinct) —
    lossless, no post-dedup, and the residual |Δt| filter runs inside
    the hash join. At 100 TB this turns an impossible theta join into
    a shuffle keyed on (type, bin) whose per-bucket fan-out is bounded
    by the event rate per tolerance window. Second-resolution epoch
    integers keep the residual arithmetic exact in both engines."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.unix_timestamp("ts").alias("s")
    )
    b = e.withColumn("bin", F.floor(F.col("s") / _PAIR_TOL_S))
    a = e.select(
        "event_id",
        "event_type",
        "s",
        F.explode(
            F.array(
                F.floor(F.col("s") / _PAIR_TOL_S) - 1,
                F.floor(F.col("s") / _PAIR_TOL_S),
                F.floor(F.col("s") / _PAIR_TOL_S) + 1,
            )
        ).alias("bin"),
    )
    pairs = a.alias("a").join(
        b.alias("b"),
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.bin") == F.col("b.bin"))
        & (F.col("a.event_id") < F.col("b.event_id"))
        & (F.abs(F.col("a.s") - F.col("b.s")) <= _PAIR_TOL_S),
    )
    return (
        pairs.groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            (
                F.sum(F.abs(F.col("a.s") - F.col("b.s"))).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_gap_s"),
        )
    )


# --------------------------------------------------------------------------
# E108: join-strategy control — SHUFFLE_HASH hint overriding the planner
# --------------------------------------------------------------------------


@query(
    "q_shuffle_hash_hint_join",
    oracle=f"""
    SELECT s_nationkey,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5)
                         AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
    """,
    tags=("E108", "J1", "A1"),
)
def q_shuffle_hash_hint_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit join-strategy control: the SHUFFLE_HASH hint forces a
    shuffled hash join where the planner would otherwise broadcast
    (supplier fits the threshold) or sort-merge. The knob matters at
    scale in both directions — when the "small" side outgrows driver
    memory, broadcast dies and SHJ keeps the join one shuffle with no
    sort; when BOTH sides are huge and sorted output feeds the next
    stage, you force MERGE instead. Results are strategy-invariant
    (asserted against the plain-join oracle); the plan shape
    (ShuffledHashJoin, not Broadcast/SortMerge) is asserted in
    tests/test_plans.py."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier").hint("shuffle_hash")
    rev = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + F.lit(0.5)
    ).cast("long")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(rev).cast("long").alias("revenue_cents"),
        )
    )


# --------------------------------------------------------------------------
# E119: nearest-event join — bidirectional as-of (closest in time)
# --------------------------------------------------------------------------


@query(
    "q_nearest_click_join",
    oracle="""
    WITH tagged AS (
      SELECT * FROM events WHERE event_type IN ('purchase', 'click')),
    ctx AS (
      SELECT event_id, user_id, event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s,
             LAST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_id,
             LAST_VALUE(CASE WHEN event_type = 'click'
                             THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_ts,
             FIRST_VALUE(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_id,
             FIRST_VALUE(CASE WHEN event_type = 'click'
                              THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_ts
      FROM tagged)
    SELECT event_id AS purchase_id, user_id, ts_s AS purchase_ts_s,
           CASE WHEN next_ts IS NULL
                     OR (prev_ts IS NOT NULL AND ts_s - prev_ts <= next_ts - ts_s)
                THEN prev_id ELSE next_id END AS nearest_click_id,
           CASE WHEN next_ts IS NULL
                     OR (prev_ts IS NOT NULL AND ts_s - prev_ts <= next_ts - ts_s)
                THEN prev_ts - ts_s ELSE next_ts - ts_s END AS delta_s
    FROM ctx
    WHERE event_type = 'purchase' AND (prev_id IS NOT NULL OR next_id IS NOT NULL)
    """,
    tags=("E119", "J9", "W7", "W3"),
)
def q_nearest_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional as-of ("nearest") join: each purchase matched to
    the user's closest click in either time direction (ties -> the
    earlier click; delta_s is signed, negative = click before).

    Unlike the J9 backward as-of (equi-join + range + rank, which
    expands to every candidate pair before pruning), this is the
    union-scan plan: tag both streams, ONE window shuffle on user_id,
    and carry the last-click-before / first-click-after with
    IGNORE-NULLS frame endpoints — O(n) state, no pair expansion,
    which is the plan that survives 100 TB (the J9 shape degrades
    when many clicks precede each purchase)."""
    e = load_table(spark, sf_dir, "events")
    tagged = e.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").cast("bigint").alias("ts_s"),
        F.col("ts"),
    )
    is_click = F.col("event_type") == "click"
    back = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    fwd = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        1, Window.unboundedFollowing
    )
    ctx = tagged.select(
        "event_id",
        "user_id",
        "event_type",
        "ts_s",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True).over(back).alias("prev_id"),
        F.last(F.when(is_click, F.col("ts_s")), ignorenulls=True).over(back).alias("prev_ts"),
        F.first(F.when(is_click, F.col("event_id")), ignorenulls=True).over(fwd).alias("next_id"),
        F.first(F.when(is_click, F.col("ts_s")), ignorenulls=True).over(fwd).alias("next_ts"),
    )
    take_prev = F.col("next_ts").isNull() | (
        F.col("prev_ts").isNotNull()
        & (F.col("ts_s") - F.col("prev_ts") <= F.col("next_ts") - F.col("ts_s"))
    )
    return (
        ctx.filter(
            (F.col("event_type") == "purchase")
            & (F.col("prev_id").isNotNull() | F.col("next_id").isNotNull())
        )
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts_s").alias("purchase_ts_s"),
            F.when(take_prev, F.col("prev_id")).otherwise(F.col("next_id")).alias("nearest_click_id"),
            F.when(take_prev, F.col("prev_ts") - F.col("ts_s"))
            .otherwise(F.col("next_ts") - F.col("ts_s"))
            .alias("delta_s"),
        )
    )


# --------------------------------------------------------------------------
# E144: LATERAL correlated subquery — per-row top-k as a join operator
# --------------------------------------------------------------------------

_LATERAL_SQL = """
SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
FROM orders o,
LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem l
         WHERE l.l_orderkey = o.o_orderkey
         ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
WHERE o.o_orderkey % 500 = 0
"""


@query(
    "q_lateral_top2_per_order",
    oracle=_LATERAL_SQL,
    tags=("E144", "J1", "O3", "S6"),
)
def q_lateral_top2_per_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LATERAL join surface: for every 500th order, its two
    priciest lineitems via a correlated ORDER BY ... LIMIT subquery —
    the SQL spelling of per-key top-k that tools and ORMs emit
    (PostgreSQL LATERAL / CROSS APPLY), distinct from the window-rank
    form (O3) and EXACTLY the same SQL text on both engines.

    Catalyst decorrelates the lateral subquery into a join +
    per-key limit instead of re-executing it per outer row, so the
    plan scales like the window-rank twin; the o_orderkey filter
    prunes the outer side before the join."""
    from fts_analysis_datalake_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


# --------------------------------------------------------------------------
# E172: haversine nearest-neighbor join — the geospatial surface
# --------------------------------------------------------------------------

_EARTH_KM = 6371.0


def _sql_haversine(lat1, lon1, lat2, lon2) -> str:
    return (
        f"2 * {_EARTH_KM} * asin(sqrt("
        f"pow(sin(radians(({lat2}) - ({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin(radians(({lon2}) - ({lon1})) / 2), 2)))"
    )


@query(
    "q_haversine_nearest_nation",
    oracle=f"""
    WITH pts AS (
      SELECT n_nationkey AS k, n_name,
             -60.0 + 5.0 * n_nationkey AS lat,
             -150.0 + 12.0 * n_nationkey AS lon
      FROM nation),
    dists AS (
      SELECT a.k AS k, a.n_name AS name, b.n_name AS nearest,
             CAST(FLOOR({_sql_haversine('a.lat','a.lon','b.lat','b.lon')} * 1000 + 0.5)
                  AS BIGINT) / 1000.0 AS dist_km,
             row_number() OVER (PARTITION BY a.k ORDER BY
               CAST(FLOOR({_sql_haversine('a.lat','a.lon','b.lat','b.lon')} * 1000 + 0.5)
                    AS BIGINT), b.k) AS rn
      FROM pts a JOIN pts b ON a.k <> b.k)
    SELECT k, name, nearest, dist_km
    FROM dists WHERE rn = 1
    """,
    tags=("E172", "J7", "O3", "F6", "W1"),
)
def q_haversine_nearest_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The geospatial surface: great-circle (haversine) nearest
    neighbor for each nation's reference point — the
    distance-functions + spatial-kNN shape (store-to-warehouse,
    user-to-POI). Coordinates are DERIVED deterministically from the
    nation key (the fixture carries no geo columns; the operator
    under test is the distance join, documented as such).

    Determinism across engines: the distance is QUANTIZED to 1 m
    before both the ranking and the output, so last-ulp trig
    differences can't flip the hash or the rank; ties in the
    quantized distance break on the neighbor key. The pairwise join
    is a 25x24 broadcast product here; at scale the standard bound
    is a geohash/grid-cell equi-prefix exactly like the blocked
    similarity joins (J7 note)."""
    n = load_table(spark, sf_dir, "nation")
    pts = n.select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("name"),
        (-60.0 + 5.0 * F.col("n_nationkey")).alias("lat"),
        (-150.0 + 12.0 * F.col("n_nationkey")).alias("lon"),
    )
    a = pts.select(
        F.col("k"), F.col("name"), F.col("lat").alias("lat1"), F.col("lon").alias("lon1")
    )
    b = pts.select(
        F.col("k").alias("bk"),
        F.col("name").alias("nearest"),
        F.col("lat").alias("lat2"),
        F.col("lon").alias("lon2"),
    )
    hav = (
        2.0
        * _EARTH_KM
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(F.col("lat2") - F.col("lat1")) / 2), 2)
                + F.cos(F.radians("lat1"))
                * F.cos(F.radians("lat2"))
                * F.pow(F.sin(F.radians(F.col("lon2") - F.col("lon1")) / 2), 2)
            )
        )
    )
    qdist = F.floor(hav * 1000 + F.lit(0.5)).cast("bigint")
    dists = a.join(F.broadcast(b), F.col("k") != F.col("bk")).select(
        "k", "name", "nearest", (qdist / 1000.0).alias("dist_km"), qdist.alias("qd"), "bk"
    )
    w = Window.partitionBy("k").orderBy("qd", "bk")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("k", "name", "nearest", "dist_km")
    )


# --------------------------------------------------------------------------
# E173: top-k WITH TIES — rank vs row_number semantics
# --------------------------------------------------------------------------


@query(
    "q_topk_with_ties_quantity",
    oracle="""
    SELECT l_returnflag, l_quantity, rnk FROM (
      SELECT l_returnflag, l_quantity,
             CAST(rank() OVER (PARTITION BY l_returnflag
                               ORDER BY l_quantity DESC) AS BIGINT) AS rnk
      FROM (SELECT DISTINCT l_returnflag, l_quantity FROM lineitem))
    WHERE rnk <= 3
    """,
    tags=("E173", "O3", "W1", "A10"),
)
def q_topk_with_ties_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k WITH TIES: the ANSI FETCH FIRST k ROWS WITH TIES
    semantics — rank() keeps every row tied with the k-th, where the
    row_number() top-k (O3) would arbitrarily drop ties. On real data
    the difference is silent result loss at tie boundaries; declaring
    both forms makes the choice explicit. Runs over the DISTINCT
    (flag, quantity) pairs so the rank input is deterministic, and
    Spark's WindowGroupLimit pushes the rank<=3 filter into the
    window sort exactly as for row_number."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select("l_returnflag", "l_quantity").distinct()
    w = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    return (
        pairs.withColumn("rnk", F.rank().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )


# --------------------------------------------------------------------------
# E174: unionByName with missing columns — batch schema evolution
# --------------------------------------------------------------------------


@query(
    "q_union_by_name_evolution",
    oracle="""
    WITH old_batch AS (
      SELECT o_orderkey, o_orderstatus, NULL::DOUBLE AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0),
    new_batch AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 1)
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(o_totalprice) AS BIGINT) AS n_with_price,
           SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
             AS total_price
    FROM (SELECT * FROM old_batch UNION ALL SELECT * FROM new_batch)
    GROUP BY o_orderstatus
    """,
    tags=("E174", "U1", "P7", "A7"),
)
def q_union_by_name_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: an 'old' batch written before the
    o_totalprice column existed unions with a 'new' batch that has it
    — ``unionByName(allowMissingColumns=True)`` aligns by NAME and
    null-fills the missing column, where positional UNION ALL would
    silently misalign or fail. This is the batch-append twin of the
    mergeSchema read (q_schema_evolution_read): the same evolution
    handled at query time instead of scan time. The aggregate counts
    both populations and sums only the present prices (exact scaled
    integers)."""
    o = load_table(spark, sf_dir, "orders")
    old_batch = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus"
    )
    new_batch = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    both = old_batch.unionByName(new_batch, allowMissingColumns=True)
    return both.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("o_totalprice").cast("bigint").alias("n_with_price"),
        (
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint"))
            / 100.0
        ).alias("total_price"),
    )


# --------------------------------------------------------------------------
# Shared co-purchase graph preambles (E189/E210/E316/E340/E352/E355 family)
# --------------------------------------------------------------------------


def _copurchase_pairs(li: DataFrame, key: str) -> DataFrame:
    """Canonical co-purchase row-pair counts ``(u, v, w)``: ``w`` =
    number of lineitem row pairs sharing an order with ``a.key < b.key``
    — value-identical to the ``lineitem a JOIN lineitem b ON same
    order AND a.key < b.key GROUP BY`` oracle form, computed without
    the self-join (guide §2.4): ONE shuffle of the fact table keyed by
    order collects the per-order key list (line count per order is
    schema-bounded, so the array and its in-array pair expansion are
    O(1) per order at any scale), then the exploded pairs feed the
    same (u, v) count. The self-join form shuffled lineitem TWICE and
    burned a sort-merge join to rediscover per-order locality the
    grouping already had."""
    arr = li.groupBy("l_orderkey").agg(F.collect_list(F.col(key)).alias("xs"))
    pair = F.filter(
        F.flatten(
            F.transform(
                "xs",
                lambda x: F.transform(
                    "xs", lambda y: F.struct(x.alias("u"), y.alias("v"))
                ),
            )
        ),
        lambda p: p["u"] < p["v"],
    )
    return (
        arr.select(F.explode(pair).alias("p"))
        .select("p.u", "p.v")
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
    )


def _banded_part_pairs(li: DataFrame) -> DataFrame:
    """Exploded quantity-banded co-purchase row pairs ``(u, v, d)``:
    same order, ``l_partkey`` ``u < v``, ``d = abs(qu - qv) <= 2`` —
    the E221/E308/E355 edge-builder predicate, one order-keyed shuffle
    instead of the lineitem self-join (same rewrite as
    :func:`_copurchase_pairs`; the band filter runs inside the
    per-order array before the explode)."""
    arr = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(F.col("l_partkey").alias("k"), F.col("l_quantity").alias("q"))
        ).alias("xs")
    )
    pair = F.filter(
        F.flatten(
            F.transform(
                "xs",
                lambda x: F.transform(
                    "xs",
                    lambda y: F.struct(
                        x["k"].alias("u"),
                        y["k"].alias("v"),
                        F.abs(x["q"] - y["q"]).alias("d"),
                    ),
                ),
            )
        ),
        lambda p: (p["u"] < p["v"]) & (p["d"] <= 2),
    )
    return arr.select(F.explode(pair).alias("p")).select("p.u", "p.v", "p.d")


def _undirect(e: DataFrame, *extra: str) -> DataFrame:
    """Both orientations of a canonical ``(u, v, *extra)`` edge list in
    ONE pass over ``e``: explode of a 2-struct array replaces the
    ``unionAll(swapped)`` idiom, whose two branches each re-ran the
    (often expensive, not always persisted) edge subtree (guide §2.4)."""
    keep = [F.col(c) for c in extra]
    both = F.array(
        F.struct(F.col("u"), F.col("v"), *keep),
        F.struct(F.col("v").alias("u"), F.col("u").alias("v"), *keep),
    )
    return e.select(F.explode(both).alias("p")).select("p.*")


# --------------------------------------------------------------------------
# E189: triangle counting + global clustering coefficient
# --------------------------------------------------------------------------


@query(
    "q_cosupplier_triangles",
    oracle="""
    WITH edges AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY u, v HAVING COUNT(*) >= 5),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY node),
    tri AS (
      SELECT COUNT(*) AS t
      FROM edges e1
      JOIN edges e2 ON e2.u = e1.v
      JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    wedge AS (SELECT SUM(d * (d - 1) / 2) AS w, COUNT(*) AS n_nodes FROM deg)
    SELECT CAST(wedge.n_nodes AS BIGINT) AS n_nodes,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           CAST(wedge.w AS BIGINT) AS n_wedges,
           CAST(FLOOR(3.0e0 * tri.t / wedge.w * 1000000000 + 0.5) AS BIGINT)
             / 1000000000.0 AS clustering_coeff
    FROM tri, wedge
    """,
    tags=("E189", "J11", "J6", "A10", "A1"),
)
def q_cosupplier_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and global clustering coefficient of the
    co-supplier graph (suppliers sharing an order are adjacent) —
    the static-graph metric beside the iterative ones (pagerank,
    BFS, connected components). Edges are canonical u<v pairs
    co-supplying >= 5 orders — the significance threshold is ALSO
    the density control: the raw co-supply graph is near-complete
    and its wedge join explodes quadratically (measured 20 s at
    sf0.1; thresholded ~49k edges). With canonical edges the
    edge-edge-edge join counts every triangle exactly once with NO
    orientation dedup pass — two hash joins over the edge list —
    and the clustering coefficient 3T/wedges comes from the same
    degree aggregate. At scale the remaining mitigation for
    wedge-heavy hubs is degree-ordered orientation. r11: the edge
    list comes from the shared order-grouped pair builder (one
    lineitem shuffle, no self-join) and is persisted — the r10 plan
    re-ran the self-join subtree for every one of its FIVE consumers
    (deg, e1, e2, e3, n_edges: 12 parquet scans in one plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = tracked_persist(
        _copurchase_pairs(li, "l_suppkey")
        .filter(F.col("w") >= 5)
        .select("u", "v")
    )
    deg = (
        _undirect(edges)
        .groupBy(F.col("u").alias("node"))
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = edges
    e2 = edges.select(F.col("u").alias("v2u"), F.col("v").alias("v2v"))
    e3 = edges.select(F.col("u").alias("v3u"), F.col("v").alias("v3v"))
    tri = (
        e1.join(e2, F.col("v2u") == F.col("v"))
        .join(e3, (F.col("v3u") == F.col("u")) & (F.col("v3v") == F.col("v2v")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    wedge = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("w"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )
    n_edges = edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        wedge.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            F.col("t").alias("n_triangles"),
            F.col("w").alias("n_wedges"),
            (
                F.floor(3.0 * F.col("t") / F.col("w") * 1e9 + F.lit(0.5)).cast(
                    "bigint"
                )
                / 1e9
            ).alias("clustering_coeff"),
        )
    )


# --------------------------------------------------------------------------
# E210: graph modularity of a 2-community split
# --------------------------------------------------------------------------


@query(
    "q_cosupplier_modularity",
    oracle="""
    WITH edges AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY u, v HAVING COUNT(*) >= 5),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS m,
             CAST(COUNT(*) FILTER (WHERE u % 2 = 0 AND v % 2 = 0) AS DOUBLE)
               AS e00,
             CAST(COUNT(*) FILTER (WHERE u % 2 = 1 AND v % 2 = 1) AS DOUBLE)
               AS e11
      FROM edges),
    deg AS (
      SELECT CAST(node % 2 AS INTEGER) AS c, CAST(COUNT(*) AS DOUBLE) AS dc
      FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
      GROUP BY c),
    dsum AS (
      SELECT MAX(CASE WHEN c = 0 THEN dc END) AS d0,
             MAX(CASE WHEN c = 1 THEN dc END) AS d1
      FROM deg)
    SELECT CAST(stats.m AS BIGINT) AS n_edges,
           CAST(stats.e00 AS BIGINT) AS edges_within_0,
           CAST(stats.e11 AS BIGINT) AS edges_within_1,
           CAST(FLOOR(
             ( (stats.e00 / stats.m - (dsum.d0 / (2.0e0 * stats.m))
                                      * (dsum.d0 / (2.0e0 * stats.m)))
             + (stats.e11 / stats.m - (dsum.d1 / (2.0e0 * stats.m))
                                      * (dsum.d1 / (2.0e0 * stats.m))))
             * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS modularity
    FROM stats, dsum
    """,
    tags=("E210", "E189", "A1", "F6"),
)
def q_cosupplier_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the parity 2-community split on the
    thresholded co-supplier graph: Q = sum_c (e_c/m - (D_c/2m)^2) —
    the partition-quality number community detection optimizes, here
    evaluated for a fixed split so the metric itself is the declared
    operator (a Q near 0 says supplier parity is no community
    structure — the null check a clustering pipeline needs). Shares
    the E189 edge builder (r11: order-grouped pair expansion, no
    lineitem self-join; persisted for its two consumers); one edge
    aggregate + one degree aggregate produce every term."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = tracked_persist(
        _copurchase_pairs(li, "l_suppkey")
        .filter(F.col("w") >= 5)
        .select("u", "v")
    )
    stats = edges.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum(((F.col("u") % 2 == 0) & (F.col("v") % 2 == 0)).cast("long"))
        .cast("double")
        .alias("e00"),
        F.sum(((F.col("u") % 2 == 1) & (F.col("v") % 2 == 1)).cast("long"))
        .cast("double")
        .alias("e11"),
    )
    deg = (
        _undirect(edges)
        .groupBy((F.col("u") % 2).cast("int").alias("c"))
        .agg(F.count(F.lit(1)).cast("double").alias("dc"))
    )
    pick = lambda cc: F.max(F.when(F.col("c") == cc, F.col("dc")))  # noqa: E731
    dsums = deg.agg(pick(0).alias("d0"), pick(1).alias("d1"))
    mm = F.col("m")
    q = (
        F.col("e00") / mm
        - (F.col("d0") / (2.0 * mm)) * (F.col("d0") / (2.0 * mm))
    ) + (
        F.col("e11") / mm
        - (F.col("d1") / (2.0 * mm)) * (F.col("d1") / (2.0 * mm))
    )
    return stats.crossJoin(F.broadcast(dsums)).select(
        mm.cast("bigint").alias("n_edges"),
        F.col("e00").cast("bigint").alias("edges_within_0"),
        F.col("e11").cast("bigint").alias("edges_within_1"),
        (F.floor(q * 1e9 + F.lit(0.5)).cast("bigint") / 1e9).alias("modularity"),
    )


# --------------------------------------------------------------------------
# E298: integer-exact HITS — hubs & authorities on the part->supplier graph
# --------------------------------------------------------------------------

_HITS_ROUNDS = 2
_HITS_ONE = 1_000_000  # score unit (1e-6 rationals)
_HITS_TOPK = 15
# Kernel gate (patchable; tests force the distributed branch): the
# single-task HITS replay holds O(edges) int64 arrays (~30 MB at the
# gate). It also bounds the kernel's int64 sums: each raw score sums
# at most _HITS_GATE edge terms of <= _HITS_ONE, so a_raw and h_raw
# <= _HITS_GATE * _HITS_ONE = 2e12, and raw * one (mul_i64) <= 2e18.
_HITS_GATE = 2_000_000


def _hits_oracle() -> str:
    base = f"""
    WITH e0 AS MATERIALIZED (
      SELECT DISTINCT l_partkey AS p, l_suppkey AS s
      FROM lineitem WHERE l_partkey % 3 = 0),
    h0 AS MATERIALIZED (
      SELECT DISTINCT p, CAST({_HITS_ONE} AS BIGINT) AS q FROM e0)"""
    prev_h = "h0"
    for i in range(1, _HITS_ROUNDS + 1):
        base += f""",
    a{i}r AS MATERIALIZED (
      SELECT e.s, CAST(SUM(h.q) AS BIGINT) AS raw
      FROM e0 e JOIN {prev_h} h ON h.p = e.p GROUP BY e.s),
    a{i} AS MATERIALIZED (
      SELECT s, (raw * {_HITS_ONE}) // (SELECT MAX(raw) FROM a{i}r) AS q
      FROM a{i}r),
    h{i}r AS MATERIALIZED (
      SELECT e.p, CAST(SUM(a.q) AS BIGINT) AS raw
      FROM e0 e JOIN a{i} a ON a.s = e.s GROUP BY e.p),
    h{i} AS MATERIALIZED (
      SELECT p, (raw * {_HITS_ONE}) // (SELECT MAX(raw) FROM h{i}r) AS q
      FROM h{i}r)"""
        prev_h = f"h{i}"
    return base + f"""
    SELECT * FROM (
      SELECT 'auth' AS kind, 's' || CAST(s AS VARCHAR) AS node,
             q / {_HITS_ONE}.0 AS score
      FROM a{_HITS_ROUNDS} ORDER BY q DESC, s LIMIT {_HITS_TOPK})
    UNION ALL
    SELECT * FROM (
      SELECT 'hub' AS kind, 'p' || CAST(p AS VARCHAR) AS node,
             q / {_HITS_ONE}.0 AS score
      FROM h{_HITS_ROUNDS} ORDER BY q DESC, p LIMIT {_HITS_TOPK})
    """


@query(
    "q_hits_quantized_exact",
    oracle=_hits_oracle(),
    tags=("E298", "E47", "O3", "A1", "J11"),
)
def q_hits_quantized_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (Kleinberg hubs & authorities) in PURE INTEGER arithmetic
    on the part->supplier bipartite graph — the link-analysis sibling
    of E289's integer PageRank, value-verified the same way: scores
    live as 1e-6 BIGINT rationals, each half-round is one edge join +
    SUM aggregate, and normalization is L-infinity (score * 1e6 DIV
    max) so every operation maps integers to integers and the
    oracle's unrolled MATERIALIZED-CTE chain replays all
    ``_HITS_ROUNDS`` rounds bit-identically. Parts are hubs,
    suppliers authorities (edges point p -> s); top-15 of each side
    with node-id tiebreak. The max is a scalar over the NODE-sized
    score table (never the edge table), broadcast back — at 100 TB
    each round shuffles only (node, score) pairs on the join key, the
    same contract as PageRank's degree join. Max-normalized scores
    bound every intermediate at deg * 1e6 < 2^53 — no overflow on
    either engine (DuckDB's HUGEINT SUM is cast back to BIGINT before
    the multiply)."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = tracked_persist(
        li.filter(F.col("l_partkey") % 3 == 0)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    # r12 (guide §4.2, the textrank/bellman house pattern): under the
    # edge gate all _HITS_ROUNDS half-round pairs (edge-sum + L-inf
    # integer normalization, raw * one DIV max — Python // == div on
    # non-negatives) replay in ONE bounded task with the same
    # (q desc, node-id asc) per-side top-15, replacing per-round
    # eager checkpoints and broadcast-max probe jobs. Forced
    # branch-equivalence tested. A/B x0.38.
    if probe.gate("hits", 0 < e0.count() <= _HITS_GATE):
        one, rounds, topk = _HITS_ONE, _HITS_ROUNDS, _HITS_TOPK

        def hits_kernel(pdf):
            import numpy as np
            import pandas as pd

            p = pdf["p"].to_numpy(dtype=np.int64)
            s = pdf["s"].to_numpy(dtype=np.int64)
            pn, pi = np.unique(p, return_inverse=True)
            sn, si = np.unique(s, return_inverse=True)
            h_ = np.full(len(pn), one, dtype=np.int64)
            a_ = None
            for _ in range(rounds):
                a_raw = np.zeros(len(sn), dtype=np.int64)
                np.add.at(a_raw, si, h_[pi])
                a_ = mul_i64(a_raw, one) // a_raw.max()
                h_raw = np.zeros(len(pn), dtype=np.int64)
                np.add.at(h_raw, pi, a_[si])
                h_ = mul_i64(h_raw, one) // h_raw.max()
            ta = np.lexsort((sn, -a_))[:topk]
            th = np.lexsort((pn, -h_))[:topk]
            return pd.DataFrame(
                {
                    "kind": ["auth"] * len(ta) + ["hub"] * len(th),
                    "node": [f"s{x}" for x in sn[ta]]
                    + [f"p{x}" for x in pn[th]],
                    "score": np.concatenate(
                        [a_[ta] / float(one), h_[th] / float(one)]
                    ),
                }
            )

        return probe.single_task(
            e0, hits_kernel, "kind string, node string, score double"
        )
    e0 = e0.localCheckpoint()
    h = e0.select("p").distinct().select(
        "p", F.lit(_HITS_ONE).cast("bigint").alias("q")
    )
    a = None
    for _ in range(_HITS_ROUNDS):
        a_raw = (
            e0.join(h.withColumnsRenamed({"p": "hp", "q": "hq"}),
                    F.col("hp") == F.col("p"))
            .groupBy("s")
            .agg(F.sum("hq").cast("bigint").alias("raw"))
            .localCheckpoint(eager=True)
        )
        amax = F.broadcast(a_raw.agg(F.max("raw").alias("mx")))
        a = a_raw.crossJoin(amax).select(
            "s", F.expr(f"raw * {_HITS_ONE} div mx").alias("q")
        )
        h_raw = (
            e0.join(a.withColumnsRenamed({"s": "as_", "q": "aq"}),
                    F.col("as_") == F.col("s"))
            .groupBy("p")
            .agg(F.sum("aq").cast("bigint").alias("raw"))
            .localCheckpoint(eager=True)
        )
        hmax = F.broadcast(h_raw.agg(F.max("raw").alias("mx")))
        h = h_raw.crossJoin(hmax).select(
            "p", F.expr(f"raw * {_HITS_ONE} div mx").alias("q")
        )
    auth_top = (
        a.select(
            F.lit("auth").alias("kind"),
            F.concat(F.lit("s"), F.col("s").cast("string")).alias("node"),
            (F.col("q") / float(_HITS_ONE)).alias("score"),
            F.col("q"),
            F.col("s").alias("nid"),
        )
        .orderBy(F.desc("q"), "nid")
        .limit(_HITS_TOPK)
        .select("kind", "node", "score")
    )
    hub_top = (
        h.select(
            F.lit("hub").alias("kind"),
            F.concat(F.lit("p"), F.col("p").cast("string")).alias("node"),
            (F.col("q") / float(_HITS_ONE)).alias("score"),
            F.col("q"),
            F.col("p").alias("nid"),
        )
        .orderBy(F.desc("q"), "nid")
        .limit(_HITS_TOPK)
        .select("kind", "node", "score")
    )
    return auth_top.unionAll(hub_top)


# --------------------------------------------------------------------------
# E299: deterministic label-propagation communities on the co-purchase graph
# --------------------------------------------------------------------------

_LPA_ROUNDS = 3
_LPA_TOPK = 20
# Kernel gate (patchable; tests force the distributed branch): the
# single-task LPA kernel holds O(directed edges) int64 arrays plus one
# lexsort per round (~50 MB at the gate).
_LPA_GATE = 2_000_000


def _lpa_oracle() -> str:
    base = """
    WITH e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
       AND abs(a.l_quantity - b.l_quantity) <= 2
      GROUP BY u, v),
    edges AS MATERIALIZED (
      SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    l0 AS MATERIALIZED (
      SELECT DISTINCT u AS node, u AS lbl FROM edges)"""
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        base += f""",
    c{i} AS (
      SELECT e.u AS node, l.lbl, COUNT(*) AS c
      FROM edges e JOIN {prev} l ON l.node = e.v
      GROUP BY e.u, l.lbl),
    l{i} AS MATERIALIZED (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rk
        FROM c{i}) WHERE rk = 1)"""
        prev = f"l{i}"
    return base + f"""
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM {prev} GROUP BY lbl
    ORDER BY n_members DESC, community LIMIT {_LPA_TOPK}
    """


@query(
    "q_lpa_communities",
    oracle=_lpa_oracle(),
    tags=("E299", "E15", "E210", "A1", "W1"),
)
def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan
    2007) made fully deterministic: each round every node adopts the
    MAJORITY label among its neighbors with ties broken by MINIMUM
    label — so the classic random-order LPA becomes a pure
    integer-valued fixpoint both engines replay identically
    (``_LPA_ROUNDS`` unrolled rounds in the oracle's CTE chain).
    Runs on the part CO-PURCHASE graph — parts appearing in the same
    order with near-equal quantities (|dq| <= 2; the quantity
    proximity sparsifies the graph so community structure survives:
    the supplier projections of this fixture are complete cliques,
    where any LPA floods to one label, while this graph yields
    10/131/1078 communities at sf0.001/0.01/0.1). Differs from
    connected components (E15): CC labels entire components with
    one id, majority-vote LPA splits dense components into
    communities. One round = one edge-label hash join + one
    (node, label) count + one per-node argmax window — everything
    shuffles on node ids, label state is node-sized, never
    edge-sized; the same round shape GraphX's LPA runs, here as
    plain DataFrame ops. Reports the top-20 communities by size."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = _banded_part_pairs(li).select("u", "v").distinct()
    edges = tracked_persist(_undirect(e0))
    # r12 (guide §4.2, the Brandes/katz house pattern): under the edge
    # gate all _LPA_ROUNDS synchronous rounds run in ONE bounded task —
    # per round a lexsort + run-length count gives every node's
    # neighbor-label histogram and the (count desc, label asc) argmax,
    # exactly the distributed round's groupBy + row_number semantics
    # (lexsort is stable; runs are label-ascending within a node).
    # Either branch ends with the (node, lbl) labelling; the community
    # count and top-k below run once in Spark, in the kernel's own task
    # (its single-partition output needs no shuffle). Integer-exact;
    # forced branch-equivalence tested. A/B x0.69.
    if probe.gate("lpa", 0 < edges.count() <= _LPA_GATE):
        rounds = _LPA_ROUNDS

        def lpa_kernel(pdf):
            import numpy as np
            import pandas as pd

            u = pdf["u"].to_numpy(dtype=np.int64)
            v = pdf["v"].to_numpy(dtype=np.int64)
            nodes = np.unique(u)  # symmetric: set(u) == set(v)
            ui = np.searchsorted(nodes, u)
            vi = np.searchsorted(nodes, v)
            lbl = nodes.copy()
            for _ in range(rounds):
                lv = lbl[vi]  # neighbor labels voted at node ui
                order = np.lexsort((lv, ui))
                su, sl = ui[order], lv[order]
                newrun = np.empty(len(su), dtype=bool)
                newrun[0] = True
                np.not_equal(su[1:], su[:-1], out=newrun[1:])
                newrun[1:] |= sl[1:] != sl[:-1]
                starts = np.flatnonzero(newrun)
                run_u = su[starts]
                run_l = sl[starts]
                run_c = np.diff(np.append(starts, len(su)))
                pick = np.lexsort((run_l, -run_c, run_u))
                first = np.flatnonzero(
                    np.r_[True, run_u[pick][1:] != run_u[pick][:-1]]
                )
                nl = lbl.copy()
                nl[run_u[pick][first]] = run_l[pick][first]
                lbl = nl
            return pd.DataFrame({"node": nodes, "lbl": lbl})

        labels = probe.single_task(edges, lpa_kernel, "node bigint, lbl bigint")
    else:
        edges = edges.localCheckpoint()
        labels = edges.select(F.col("u").alias("node")).distinct().select(
            "node", F.col("node").alias("lbl")
        )
        rk_w = Window.partitionBy("node").orderBy(F.desc("c"), "lbl")
        for _ in range(_LPA_ROUNDS):
            counts = (
                edges.join(
                    labels.withColumnsRenamed({"node": "ln"}),
                    F.col("ln") == F.col("v"),
                )
                .groupBy(F.col("u").alias("node"), "lbl")
                .agg(F.count(F.lit(1)).alias("c"))
            )
            labels = (
                counts.withColumn("rk", F.row_number().over(rk_w))
                .filter(F.col("rk") == 1)
                .select("node", "lbl")
                # r11: no per-round checkpoint — the label state is
                # referenced exactly once per round, lineage stays
                # linear, all rounds compile into one job (A/B x0.89,
                # every rep faster; same as q_personalized_pagerank).
            )
    return (
        labels.groupBy(F.col("lbl").cast("bigint").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.desc("n_members"), "community")
        .limit(_LPA_TOPK)
    )


# --------------------------------------------------------------------------
# E301: Bellman-Ford bounded-hop weighted shortest paths
# --------------------------------------------------------------------------

_BF_ROUNDS = 4
_BF_TOPK = 20
# Kernel gate (patchable; tests force the distributed branch): the
# single-task relaxation kernel holds O(directed edges) int64 arrays
# (~50 MB at the gate).
_BF_GATE = 2_000_000


def _bellman_ford_oracle() -> str:
    base = """
    WITH e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v,
             CAST(MIN(abs(a.l_quantity - b.l_quantity)) AS BIGINT) + 1 AS w
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
       AND abs(a.l_quantity - b.l_quantity) <= 2
      GROUP BY u, v),
    edges AS MATERIALIZED (
      SELECT u, v, w FROM e0 UNION ALL SELECT v, u, w FROM e0),
    src AS (SELECT MIN(u) AS s FROM edges),
    d0 AS MATERIALIZED (SELECT s AS node, CAST(0 AS BIGINT) AS d FROM src)"""
    prev = "d0"
    for i in range(1, _BF_ROUNDS + 1):
        base += f""",
    d{i} AS MATERIALIZED (
      SELECT node, MIN(d) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT e.v AS node, p.d + e.w AS d
        FROM edges e JOIN {prev} p ON p.node = e.u) GROUP BY node)"""
        prev = f"d{i}"
    return base + f"""
    SELECT node, d AS dist FROM {prev} ORDER BY dist, node LIMIT {_BF_TOPK}"""


@query(
    "q_bellman_ford_nearest",
    oracle=_bellman_ford_oracle(),
    tags=("E301", "E124", "A2", "J11", "O3"),
)
def q_bellman_ford_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop WEIGHTED shortest paths (Bellman-Ford relaxation)
    — the weighted sibling of BFS min-hops (E124), completing the
    graph family's distance column: edge weight is the minimum
    quantity gap (+1, so 1..3) between near-equal-quantity
    co-purchased parts (the |dq| <= 2 sparsifier that keeps the
    edge build linear in co-purchase pairs), the source is the
    minimum part id, and ``_BF_ROUNDS`` synchronous relaxation
    rounds compute exact shortest distances over paths of <= that
    many hops. All-integer arithmetic, so the oracle replays the
    rounds in an unrolled MATERIALIZED-CTE chain bit-identically.
    Each round = one dist-edges hash join + one per-node MIN — the
    same two-shuffles-on-the-node-key contract as PageRank. The
    carry (keep each node's current dist) is folded INTO the join by
    adding weight-0 SELF-LOOPS to the checkpointed edge table, so
    the dist state is referenced exactly ONCE per round: the lineage
    stays linear, the loop needs no mid-round checkpoint, and all
    ``_BF_ROUNDS`` rounds compile into a single job (the measured
    PageRank discipline). Returns the top-20 nearest nodes
    (dist, node tiebreak) via TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        _banded_part_pairs(li)
        .groupBy("u", "v")
        .agg((F.min("d").cast("bigint") + 1).alias("w"))
    )
    sym = tracked_persist(_undirect(e0, "w"))
    # r12 (guide §4.2): under the edge gate all _BF_ROUNDS relaxation
    # rounds run in ONE bounded task — dist[v] = min(dist[v],
    # min over (u,v,w) of dist[u] + w) as np.minimum.at, source = min
    # node, integer-exact, identical fixpoint to the join loop below.
    # Either branch ends with the reached (node, d) table; the top-k
    # below ranks it once (TakeOrderedAndProject sits directly on the
    # kernel's single-partition output). Forced branch-equivalence
    # tested. A/B x0.72.
    if probe.gate("bellman_ford", 0 < sym.count() <= _BF_GATE):
        rounds = _BF_ROUNDS

        def bf_kernel(pdf):
            import numpy as np
            import pandas as pd

            u = pdf["u"].to_numpy(dtype=np.int64)
            v = pdf["v"].to_numpy(dtype=np.int64)
            w = pdf["w"].to_numpy(dtype=np.int64)
            nodes = np.unique(u)  # symmetric: set(u) == set(v)
            ui = np.searchsorted(nodes, u)
            vi = np.searchsorted(nodes, v)
            inf = np.iinfo(np.int64).max
            dist = np.full(len(nodes), inf, dtype=np.int64)
            dist[0] = 0  # source = min node = nodes[0]
            for _ in range(rounds):
                fin = dist[ui] != inf
                nd = dist.copy()
                np.minimum.at(nd, vi[fin], dist[ui[fin]] + w[fin])
                dist = nd
            fin = dist != inf
            return pd.DataFrame({"node": nodes[fin], "d": dist[fin]})

        dist = probe.single_task(sym, bf_kernel, "node bigint, d bigint")
    else:
        # Weight-0 self-loops make each relaxation round a SINGLE
        # join+min over the edge table (the self-loop row carries the
        # node's current dist), so `dist` is referenced once per round
        # and the loop's lineage stays linear — no plan doubling, no
        # mid-loop checkpoints, one compiled job for all rounds.
        edges = sym.unionAll(
            sym.select("u").distinct().select(
                "u", F.col("u").alias("v"), F.lit(0).cast("bigint").alias("w")
            )
        ).localCheckpoint()
        dist = (
            edges.agg(F.min("u").alias("node"))
            .select("node", F.lit(0).cast("bigint").alias("d"))
        )
        for _ in range(_BF_ROUNDS):
            dist = (
                edges.join(
                    dist.withColumnsRenamed({"node": "pu", "d": "pd"}),
                    F.col("pu") == F.col("u"),
                )
                .groupBy(F.col("v").alias("node"))
                .agg(F.min(F.col("pd") + F.col("w")).alias("d"))
            )
    return (
        dist.select("node", F.col("d").alias("dist"))
        .orderBy("dist", "node")
        .limit(_BF_TOPK)
    )


# --------------------------------------------------------------------------
# E308: k-truss decomposition — triangle-support edge peeling
# --------------------------------------------------------------------------

_KT_ROUNDS = 5  # peel rounds; every fixture SF reaches its fixpoint by round 4
_KT_K = 4  # k-truss: every surviving edge sits in >= k-2 = 2 triangles
_KT_GATE = 2_000_000  # edges; tests patch to 0 to drive the scheduled peel branch


def _ktruss_oracle() -> str:
    base = """
    WITH e0 AS MATERIALIZED (
      SELECT a.l_partkey AS u, b.l_partkey AS v
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_partkey < b.l_partkey
       AND abs(a.l_quantity - b.l_quantity) <= 2
      GROUP BY u, v)"""
    prev = "e0"
    for r in range(1, _KT_ROUNDS + 1):
        base += f""",
    tri{r} AS MATERIALIZED (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM {prev} e1 JOIN {prev} e2 ON e2.u = e1.v
      JOIN {prev} e3 ON e3.u = e1.u AND e3.v = e2.v),
    sup{r} AS MATERIALIZED (
      SELECT u, v, COUNT(*) AS s FROM (
        SELECT a AS u, b AS v FROM tri{r}
        UNION ALL SELECT b, c FROM tri{r}
        UNION ALL SELECT a, c FROM tri{r}) GROUP BY u, v),
    e{r} AS MATERIALIZED (
      SELECT e.u, e.v FROM {prev} e JOIN sup{r} s ON s.u = e.u AND s.v = e.v
      WHERE s.s >= {_KT_K - 2})"""
        prev = f"e{r}"
    return base + f"""
    SELECT node, CAST(COUNT(*) AS BIGINT) AS truss_deg FROM (
      SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
    GROUP BY node ORDER BY node"""


@query(
    "q_ktruss_parts",
    oracle=_ktruss_oracle(),
    tags=("E308", "E221", "E189", "J11", "A1"),
)
def q_ktruss_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition (k=4) of the part co-purchase graph —
    the TRIANGLE-grade dense-subgraph peel beside degree-grade
    k-core (E221): an edge survives only while it closes >= k-2
    triangles with surviving edges, so trusses are strictly stronger
    than cores (every k-truss sits inside a (k-1)-core) and strip
    the degree-high-but-cohesion-low spokes k-core keeps. Graph:
    near-equal-quantity co-purchases (the |dq| <= 2 sparsifier shared
    with LPA E299 / Bellman-Ford E301), where peeling does real work
    — the fixture drops ~95% of edges in round 1 and every SF
    reaches its true fixpoint inside the fixed 5 rounds
    both engines replay (verified: the k-truss-in-(k-1)-core theorem
    holds on the result, tests/test_algorithms.py).
    Per round: the canonical u<v<w triangle enumeration (two hash
    joins, each triangle found exactly once — the E189 shape), an
    explode of each triangle into its 3 edge credits + one
    groupBy-count for support, and a support-filtered semi-join;
    the edge frame feeds three join sides per round, so each round
    localCheckpoints (the 2^k analyzer-blow-up discipline; the
    DuckDB twin marks the same CTEs MATERIALIZED). At 100 TB the
    cost is the first round's triangle join on the sparsified edge
    list — later rounds shrink geometrically; degree-ordered
    orientation is the standing mitigation for wedge-heavy hubs.
    Locally, round 1 (the ~95% peel) runs distributed and the
    count-gated SMALL-FINISH discipline (kcore/dbscan pattern) then
    replays the remaining 5-1 rounds on the shrunken
    edge list in ONE bounded Arrow task — identical integer
    support counting, so the result is the same fixed-round peel
    the oracle unrolls; the scheduled loop remains the else-branch
    and the 100 TB path."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        _banded_part_pairs(li)
        .select("u", "v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    def peel_round(e: DataFrame) -> DataFrame:
        e2 = e.select(F.col("u").alias("t2u"), F.col("v").alias("t2v"))
        e3 = e.select(F.col("u").alias("t3u"), F.col("v").alias("t3v"))
        tri = (
            e.join(e2, F.col("t2u") == F.col("v"))
            .join(
                e3,
                (F.col("t3u") == F.col("u")) & (F.col("t3v") == F.col("t2v")),
            )
            .select(
                F.col("u").alias("ta"),
                F.col("v").alias("tb"),
                F.col("t2v").alias("tc"),
            )
        )
        credits = (
            tri.select(F.col("ta").alias("cu"), F.col("tb").alias("cv"))
            .unionAll(tri.select(F.col("tb").alias("cu"), F.col("tc").alias("cv")))
            .unionAll(tri.select(F.col("ta").alias("cu"), F.col("tc").alias("cv")))
        )
        support = (
            credits.groupBy("cu", "cv")
            .agg(F.count(F.lit(1)).alias("s"))
            .filter(F.col("s") >= _KT_K - 2)
        )
        return (
            e.join(
                support,
                (F.col("cu") == F.col("u")) & (F.col("cv") == F.col("v")),
                "leftsemi",
            )
        ).localCheckpoint(eager=True)

    edges = peel_round(edges)
    rest = _KT_ROUNDS - 1
    min_sup = _KT_K - 2
    if probe.gate("ktruss", edges.count() <= _KT_GATE):

        def peel(pdf):
            import pandas as pd

            es = set(zip(pdf["u"].to_list(), pdf["v"].to_list()))
            for _ in range(rest):
                adj: dict = {}
                for u, v in es:
                    adj.setdefault(u, set()).add(v)
                    adj.setdefault(v, set()).add(u)
                es = {
                    (u, v)
                    for u, v in es
                    if len(adj[u] & adj[v]) >= min_sup
                }
            return pd.DataFrame(sorted(es), columns=["u", "v"])

        edges = probe.single_task(edges, peel, "u bigint, v bigint").localCheckpoint(
            eager=True
        )
    else:
        for _ in range(rest):
            edges = peel_round(edges)
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("truss_deg"))
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# E316: harmonic centrality — multi-source BFS panel, 1/d quantized
# --------------------------------------------------------------------------

_HC_HOPS = 4
_HC_TOPK = 20
_HC_SEED_MOD = 13  # seed panel: every 13th supplier node in the graph
_HC_GATE = 2_000_000  # sym edges; tests patch to 0 to drive the join-frontier branch
# The kernel allocates a dense n x n boolean adjacency (n = distinct
# nodes) plus one int32 copy, so edge count alone cannot bound memory:
# a SPARSE 2M-edge graph can carry millions of nodes. 16,384 nodes caps
# the bool matrix at 256 MB and the int32 copy at 1 GB inside one task.
_HC_NODE_GATE = 16_384  # distinct nodes; tests patch to 0 likewise
# The per-hop matmul allocates a (seeds x nodes) int32 frontier block
# and product, so seed count is a third independent memory axis: at
# k ~ n = 16,384 the un-gated transients reach ~1 GB each and the
# int32 matmul ~4e12 ops/hop. 4,096 seeds caps the full int32
# frontier at 256 MB and ops at ~1e12; the blockwise loop below
# additionally caps the per-block transient at 128 MB regardless.
_HC_SEED_GATE = 4_096  # seed-panel size; tests patch to 0 likewise
_HC_MM_BLOCK = 2_048  # matmul row-block: 2048 x 16384 int32 = 128 MB


def _harmonic_oracle() -> str:
    return f"""
    WITH RECURSIVE edges0 AS MATERIALIZED (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY u, v HAVING COUNT(*) >= 5),
    sym AS MATERIALIZED (
      SELECT u, v FROM edges0 UNION ALL SELECT v, u FROM edges0),
    seeds AS MATERIALIZED (
      SELECT DISTINCT u AS s FROM sym WHERE u % {_HC_SEED_MOD} = 1),
    walk(s, node, hop) AS (
      SELECT s, s, 0 FROM seeds
      UNION
      SELECT w.s, sym.v, w.hop + 1
      FROM walk w JOIN sym ON sym.u = w.node
      WHERE w.hop < {_HC_HOPS}),
    dist AS (
      SELECT s, node, MIN(hop) AS d FROM walk GROUP BY s, node),
    cent AS (
      SELECT node,
             CAST(SUM(CAST(FLOOR(1000000000.0 / d + 0.5) AS BIGINT))
                  AS BIGINT) AS h_q,
             CAST(COUNT(*) AS BIGINT) AS n_seeds_reached
      FROM dist WHERE d >= 1 GROUP BY node)
    SELECT node, h_q / 1000000000.0 AS harmonic, n_seeds_reached
    FROM cent ORDER BY h_q DESC, node LIMIT {_HC_TOPK}
    """


@query(
    "q_harmonic_centrality",
    oracle=_harmonic_oracle(),
    tags=("E316", "E124", "E189", "A1", "J11"),
)
def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality from a SEED PANEL (every 13th supplier):
    sum of 1/d(seed, node) over the panel — the bounded, mergeable
    stand-in for exact closeness (which needs all-pairs distances;
    the panel estimate is the standard scale form, and adding seeds
    only ADDS terms, so panels merge). Distances come from one
    MULTI-SOURCE BFS: the frontier carries a seed column, so all
    panel walks share each round's single frontier-edge join +
    (seed, node) distinct — the same two-shuffle contract as
    single-source BFS (E124) with seed-multiplicity folded into the
    key, unrolled lazily into ONE job (4 bounded hops,
    min-hop absorbs re-reaches — the bfs_hops fast-path shape).
    Each 1/d term is quantized to a 1e-9 BIGINT (integer d, so both
    engines floor the identical double), summed exactly; the oracle
    replays the walk declaratively with WITH RECURSIVE UNION.
    Reports the top-20 most panel-central suppliers with how many
    seeds reach them."""
    li = load_table(spark, sf_dir, "lineitem")
    e0 = (
        _copurchase_pairs(li, "l_suppkey")
        .filter(F.col("w") >= 5)
        .select("u", "v")
    )
    sym = _undirect(e0).localCheckpoint(eager=True)
    # Count-gated single-task finisher (bfs_hops discipline): on the
    # near-complete thresholded graph the hop-2 multi-source frontier
    # is ~seeds x nodes x degree rows (measured 9 s at sf0.1 in the
    # join form), while one numpy task runs the identical min-hop
    # walk as boolean frontier x adjacency matmuls in milliseconds.
    # The join loop below stays the else-branch / 100 TB path. The
    # gate bounds edges (rows shipped to the task), distinct nodes
    # (the dense-matrix side; sym is symmetric, so distinct u covers
    # every node) and seeds (the frontier/matmul side). The cheap
    # edge count runs first and alone on the 100 TB path; the
    # distinct-aggregation shuffle only happens once the edge gate
    # has already admitted a small graph. Either branch ends with the
    # per-node (node, h_q, n_seeds_reached) sums; the top-k below
    # ranks them once, in the kernel's own task.
    take_kernel = sym.count() <= _HC_GATE
    if take_kernel:
        n_nodes, n_seeds = sym.agg(
            F.countDistinct("u"),
            F.countDistinct(
                F.when(F.col("u") % _HC_SEED_MOD == 1, F.col("u"))
            ),
        ).first()
        take_kernel = n_nodes <= _HC_NODE_GATE and n_seeds <= _HC_SEED_GATE
    if probe.gate("harmonic", take_kernel):
        hops_cap, seed_mod = _HC_HOPS, _HC_SEED_MOD
        mm_block = _HC_MM_BLOCK

        def multi_bfs(pdf):
            import numpy as np
            import pandas as pd

            codes, uniq = pd.factorize(
                pd.concat([pdf["u"], pdf["v"]], ignore_index=True)
            )
            m = len(pdf)
            ui, vi = codes[:m], codes[m:]
            n = len(uniq)
            adj = np.zeros((n, n), dtype=bool)
            adj[ui, vi] = True
            seed_idx = np.where((np.asarray(uniq) % seed_mod) == 1)[0]
            k = len(seed_idx)
            # int8: values are -1..hops_cap (<=4); k is bounded by
            # _HC_SEED_GATE — int64 would be 8x the gated worst case.
            # dist[nxt] = h stores the hop number directly, so the
            # dtype silently wraps if the hop cap ever exceeds 127:
            if hops_cap >= 128:
                raise ValueError("int8 dist matrix requires _HC_HOPS < 128")
            dist = np.full((k, n), -1, dtype=np.int8)
            frontier = np.zeros((k, n), dtype=bool)
            frontier[np.arange(k), seed_idx] = True
            dist[np.arange(k), seed_idx] = 0
            # matmul in int32: int8 accumulation wraps at 128
            # frontier-neighbors and silently skips nodes (numpy
            # has no boolean-matmul kernel, so counts are real);
            # cast once — the adjacency never changes across hops
            adj_i = adj.astype(np.int32)
            for h in range(1, hops_cap + 1):
                # blockwise over seed rows: the int32 frontier block
                # and its matmul product are the per-hop transients
                # (up to ~1 GB each at the gate boundary if done in
                # one shot on top of the persistent adj_i); 2048-row
                # blocks cap each at 128 MB without changing results
                nxt = np.zeros((k, n), dtype=bool)
                for b0 in range(0, k, mm_block):
                    blk = slice(b0, min(b0 + mm_block, k))
                    nxt[blk] = (
                        frontier[blk].astype(np.int32) @ adj_i
                    ) > 0
                nxt &= dist < 0
                if not nxt.any():
                    break
                dist[nxt] = h
                frontier = nxt
            term = np.where(
                dist >= 1,
                np.floor(1000000000.0 / np.maximum(dist, 1) + 0.5).astype(
                    np.int64
                ),
                0,
            )
            h_q = term.sum(axis=0)
            reached = (dist >= 1).sum(axis=0)
            keep = reached > 0
            return pd.DataFrame(
                {
                    "node": np.asarray(uniq)[keep],
                    "h_q": h_q[keep],
                    "n_seeds_reached": reached[keep].astype(np.int64),
                }
            )

        out_type = dict(sym.dtypes)["u"]
        cent = probe.single_task(
            sym, multi_bfs, f"node {out_type}, h_q bigint, n_seeds_reached bigint"
        )
    else:
        seeds = (
            sym.filter(F.col("u") % _HC_SEED_MOD == 1)
            .select(F.col("u").alias("s"))
            .distinct()
        )
        levels = [
            seeds.select("s", F.col("s").alias("node"), F.lit(0).alias("hop"))
        ]
        frontier = levels[0].select("s", "node")
        for h in range(1, _HC_HOPS + 1):
            cand = (
                frontier.join(sym, frontier["node"] == sym["u"])
                .select("s", F.col("v").alias("node"))
                .distinct()
            )
            levels.append(cand.withColumn("hop", F.lit(h)))
            frontier = cand
        allv = levels[0]
        for lvl in levels[1:]:
            allv = allv.unionByName(lvl)
        dist = allv.groupBy("s", "node").agg(F.min("hop").alias("d"))
        cent = (
            dist.filter(F.col("d") >= 1)
            .groupBy("node")
            .agg(
                F.sum(
                    F.floor(
                        F.lit(1000000000.0) / F.col("d") + F.lit(0.5)
                    ).cast("bigint")
                )
                .cast("bigint")
                .alias("h_q"),
                F.count(F.lit(1)).cast("bigint").alias("n_seeds_reached"),
            )
        )
    return (
        cent.select(
            "node", (F.col("h_q") / 1000000000.0).alias("harmonic"),
            "n_seeds_reached", "h_q",
        )
        .orderBy(F.desc("h_q"), "node")
        .limit(_HC_TOPK)
        .select("node", "harmonic", "n_seeds_reached")
    )


# --------------------------------------------------------------------------
# E333: functional-graph rho decomposition — pointer-doubled cycle finding
# --------------------------------------------------------------------------

_FG_A = 48271  # MINSTD multiplier; any fixed odd constant works
_FG_C = 12345
# Single-task finisher gate (r10): bounds the three n-length int64
# arrays the numpy doubling kernel allocates (4M -> 3 x 32 MB).
# Patchable; tests force the distributed branch by patching to 0.
_FG_GATE = 4_000_000
_FG_ORACLE_DOUBLINGS = 28  # 2^28 = 268M >= any test-SF order count


def _fg_oracle() -> str:
    parts = [f"""
    WITH idx AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS v,
             COUNT(*) OVER () AS n
      FROM orders),
    j0 AS MATERIALIZED (
      SELECT v, ({_FG_A} * v + {_FG_C}) % n AS J,
             LEAST(v, ({_FG_A} * v + {_FG_C}) % n) AS M
      FROM idx)"""]
    for k in range(1, _FG_ORACLE_DOUBLINGS + 1):
        parts.append(f""",
    j{k} AS MATERIALIZED (
      SELECT a.v, b.J AS J, LEAST(a.M, b.M) AS M
      FROM j{k - 1} a JOIN j{k - 1} b ON b.v = a.J)""")
    last = f"j{_FG_ORACLE_DOUBLINGS}"
    parts.append(f""",
    final AS MATERIALIZED (
      SELECT a.v, a.J AS cyc_node, b.M AS comp
      FROM {last} a JOIN {last} b ON b.v = a.J),
    cyc AS (SELECT DISTINCT cyc_node AS v FROM final)
    SELECT f.comp AS comp_id,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(SUM(CASE WHEN c.v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS cycle_len,
           CAST(COUNT(*) - SUM(CASE WHEN c.v IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS tree_size
    FROM final f LEFT JOIN cyc c ON c.v = f.v
    GROUP BY f.comp ORDER BY f.comp""")
    return "".join(parts)


@query(
    "q_functional_graph_rho",
    oracle=_fg_oracle(),
    tags=("E333", "E15", "J11", "J6", "A1", "W1"),
)
def q_functional_graph_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rho decomposition of a functional graph (every node has exactly
    ONE out-edge) in O(log n) rounds of POINTER DOUBLING — the graph
    shape CC/star contraction (E15) never sees: successor chains with
    cycles, i.e. linked-record chains, redirect graphs, next-version
    pointers, hash-chain probing, Pollard-rho style iteration. The
    successor is the deterministic LCG s(v) = (48271*v + 12345) mod n
    over dense order ranks (n = COUNT(*), so structure scales with
    the fixture like the dbscan grid). Each doubling composes the
    jump table with itself — J <- J(J(v)) — while carrying the
    path-min M over the covered 2^k successors (the E306
    pointer-double discipline applied to graphs): after
    ceil(log2(n)) rounds every node has jumped >= n steps, so J(v)
    provably sits ON its cycle, comp(v) = M(J(v)) is the CYCLE MIN
    (a path of >= n steps starting on the cycle wraps it), and the
    cyclic set is exactly the image of J (any >= max-tail power
    works — the oracle's fixed 2^28 unroll and Spark's adaptive
    ceil(log2(n)) rounds land on identical components by that
    theorem, which the test layer checks against a brute-force
    replay). Per component: total size, cycle length, tree mass.
    At 100 TB: log2(n) self-joins of an (v, J, M) table — ~40 rounds
    for a trillion rows, each a single hash-join shuffle; the
    rerooted lineage keeps plans constant-size (caching.reroot, the
    self-join loop lesson)."""
    from fts_analysis_datalake_spark.caching import reroot

    o = load_table(spark, sf_dir, "orders")
    n = o.count()
    # Count-gated single-task finisher (r10): the node domain is dense
    # ranks 0..n-1 with an LCG successor, so the ENTIRE structure is a
    # function of n — under the gate, one bounded Arrow task replays
    # the identical ceil(log2 n) doubling (J <- J[J], M <- min(M, M[J]))
    # in numpy int64 and emits the same per-component aggregates
    # bit-exactly (forced branch-equivalence tested). The rerooted
    # self-join loop below stays the else-branch and the 100 TB path
    # (the 18-round scheduling floor was the suite's slowest query,
    # 10.3 s at sf0.1 for ~1 s of arithmetic).
    if probe.gate("functional_rho", 0 < n <= _FG_GATE):
        nn = n

        def rho_kernel(pdf):
            import numpy as np
            import pandas as pd

            v = np.arange(nn, dtype=np.int64)
            J = (mul_i64(v, _FG_A) + _FG_C) % nn
            M = np.minimum(v, J)
            for _ in range(max((nn - 1).bit_length(), 1)):
                M = np.minimum(M, M[J])
                J = J[J]
            comp = M[J]
            cyc = np.zeros(nn, dtype=bool)
            cyc[np.unique(J)] = True
            out = []
            for c in np.unique(comp):
                mask = comp == c
                total = int(mask.sum())
                clen = int((mask & cyc).sum())
                out.append((int(c), total, clen, total - clen))
            out.sort()
            return pd.DataFrame(
                out,
                columns=["comp_id", "n_nodes", "cycle_len", "tree_size"],
            )

        return probe.single_task(
            o.sparkSession.range(1),
            rho_kernel,
            "comp_id bigint, n_nodes bigint, cycle_len bigint, tree_size bigint",
        )

    w = Window.orderBy("o_orderkey")
    idx = o.select(
        (F.row_number().over(w) - 1).cast("bigint").alias("v")
    )
    st = idx.select(
        "v",
        ((F.lit(_FG_A) * F.col("v") + F.lit(_FG_C)) % F.lit(n)).alias("J"),
        F.least(
            F.col("v"),
            (F.lit(_FG_A) * F.col("v") + F.lit(_FG_C)) % F.lit(n),
        ).alias("M"),
    )
    st = reroot(st)
    for _ in range(max((n - 1).bit_length(), 1)):
        b = st.select(
            F.col("v").alias("bv"),
            F.col("J").alias("bJ"),
            F.col("M").alias("bM"),
        )
        st = reroot(
            st.join(b, F.col("J") == F.col("bv")).select(
                "v",
                F.col("bJ").alias("J"),
                F.least(F.col("M"), F.col("bM")).alias("M"),
            )
        )
    fin = st.select(F.col("v").alias("fv"), F.col("M").alias("fM"))
    final = st.join(
        fin, F.col("J") == F.col("fv")
    ).select("v", F.col("J").alias("cyc_node"), F.col("fM").alias("comp"))
    cyc = final.select(F.col("cyc_node").alias("cv")).distinct()
    return (
        final.join(cyc, final["v"] == cyc["cv"], "left")
        .groupBy("comp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
            F.sum(F.when(F.col("cv").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("cycle_len"),
            (
                F.count(F.lit(1))
                - F.sum(F.when(F.col("cv").isNotNull(), 1).otherwise(0))
            )
            .cast("bigint")
            .alias("tree_size"),
        )
        .select(
            F.col("comp").alias("comp_id"),
            "n_nodes",
            "cycle_len",
            "tree_size",
        )
        .orderBy("comp_id")
    )


# --------------------------------------------------------------------------
# E340: betweenness centrality — integer Brandes on the co-purchase backbone
# --------------------------------------------------------------------------

_BC_SEED_MOD = 17  # seed panel: every 17th supplier node
_BC_Q = 1_000_000  # dependency quantization (1e-6 units)
_BC_SIG_CAP = 10_000_000  # loud guard: path counts must fit the Q arithmetic
# Single-task finisher gate (r10): bounds the collected backbone the
# Brandes kernel walks (edges <= 8 * nodes after the per-node cut, so
# 200k nodes -> <= 1.6M edge tuples in one task). Patchable.
_BC_NODE_GATE = 200_000

# Backbone quota (r11): each node keeps its _BB_DEG strongest incident
# co-purchase pairs (w DESC, partner ASC tiebreak); an undirected pair
# survives if EITHER endpoint ranks it. This replaces the r10 global
# `ORDER BY w DESC LIMIT 4*n` cut, whose k grew linearly with the node
# count (a driver-side TakeOrdered merge of ~40M rows at 100 TB). The
# per-node form is a keyed window with LITERAL k (WindowGroupLimit:
# per-partition heaps, zero global coordination) and keeps the same
# size bound: <= _BB_DEG * n kept rows -> <= 4n undirected edges,
# <= 8n directed tuples after symmetrization.
_BB_DEG = 4

# Mirrored oracle CTE text: pairs(u, v, w) -> edges0(u, v).
_BB_SQL = f"""
    inc AS (
      SELECT u AS node, v AS other, w FROM pairs
      UNION ALL SELECT v AS node, u AS other, w FROM pairs),
    keep AS (
      SELECT node, other FROM (
        SELECT node, other,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY w DESC, other) AS rn
        FROM inc) WHERE rn <= {_BB_DEG}),
    edges0 AS MATERIALIZED (
      SELECT DISTINCT LEAST(node, other) AS u, GREATEST(node, other) AS v
      FROM keep)"""


def _backbone_edges(pairs: DataFrame) -> DataFrame:
    """Per-node top-_BB_DEG backbone of an undirected weighted pair
    list (u < v, weight w): edges0(u, v), deduped. Deterministic —
    (w DESC, other ASC) is a total order within each node."""
    inc = _undirect(pairs, "w").select(
        F.col("u").alias("node"), F.col("v").alias("other"), "w"
    )
    wnd = Window.partitionBy("node").orderBy(F.col("w").desc(), "other")
    return (
        inc.select(
            "node", "other", F.row_number().over(wnd).alias("rn")
        )
        .filter(F.col("rn") <= _BB_DEG)
        .select(
            F.least("node", "other").alias("u"),
            F.greatest("node", "other").alias("v"),
        )
        .distinct()
    )


def _bc_oracle() -> str:
    q, cap = _BC_Q, _BC_SIG_CAP
    return f"""
    WITH pairs AS MATERIALIZED (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY u, v),
    {_BB_SQL},
    sym AS MATERIALIZED (
      SELECT u, v FROM edges0 UNION ALL SELECT v, u FROM edges0),
    seeds AS MATERIALIZED (
      SELECT DISTINCT u AS s FROM sym WHERE u % {_BC_SEED_MOD} = 1),
    l0 AS MATERIALIZED (SELECT s, s AS v, CAST(1 AS BIGINT) AS sig FROM seeds),
    l1 AS MATERIALIZED (
      SELECT l0.s, e.v, CAST(SUM(l0.sig) AS BIGINT) AS sig
      FROM l0 JOIN sym e ON e.u = l0.v WHERE e.v <> l0.s GROUP BY 1, 2),
    l2 AS MATERIALIZED (
      SELECT l1.s, e.v, CAST(SUM(l1.sig) AS BIGINT) AS sig
      FROM l1 JOIN sym e ON e.u = l1.v
      LEFT JOIN l0 p0 ON p0.s = l1.s AND p0.v = e.v
      LEFT JOIN l1 p1 ON p1.s = l1.s AND p1.v = e.v
      WHERE p0.v IS NULL AND p1.v IS NULL GROUP BY 1, 2),
    l3 AS MATERIALIZED (
      SELECT s, v,
             CASE WHEN sig <= {cap} THEN sig
                  ELSE CAST(error('betweenness: sigma exceeds Q cap')
                            AS BIGINT) END AS sig
      FROM (
        SELECT l2.s, e.v, CAST(SUM(l2.sig) AS BIGINT) AS sig
        FROM l2 JOIN sym e ON e.u = l2.v
        LEFT JOIN l0 p0 ON p0.s = l2.s AND p0.v = e.v
        LEFT JOIN l1 p1 ON p1.s = l2.s AND p1.v = e.v
        LEFT JOIN l2 p2 ON p2.s = l2.s AND p2.v = e.v
        WHERE p0.v IS NULL AND p1.v IS NULL AND p2.v IS NULL
        GROUP BY 1, 2)),
    d2 AS MATERIALIZED (
      SELECT l2.s, l2.v,
             CAST(COALESCE(SUM(l2.sig * {q} // l3.sig), 0) AS BIGINT) AS dq
      FROM l2
      LEFT JOIN sym e ON e.u = l2.v
      LEFT JOIN l3 ON l3.s = l2.s AND l3.v = e.v
      GROUP BY 1, 2),
    d1 AS MATERIALIZED (
      SELECT l1.s, l1.v,
             CAST(COALESCE(SUM(l1.sig * ({q} + d2.dq) // l2.sig), 0)
                  AS BIGINT) AS dq
      FROM l1
      LEFT JOIN sym e ON e.u = l1.v
      LEFT JOIN l2 ON l2.s = l1.s AND l2.v = e.v
      LEFT JOIN d2 ON d2.s = l2.s AND d2.v = l2.v
      GROUP BY 1, 2),
    btw AS (
      SELECT v AS node, CAST(SUM(dq) AS BIGINT) AS bq,
             CAST(COUNT(CASE WHEN dq > 0 THEN 1 END) AS BIGINT) AS ns
      FROM (SELECT s, v, dq FROM d1 UNION ALL SELECT s, v, dq FROM d2)
      GROUP BY v)
    SELECT CAST(node AS BIGINT) AS node, bq / 1e6 AS betweenness,
           ns AS n_seed_contribs
    FROM btw ORDER BY bq DESC, node LIMIT 20
    """


@query(
    "q_betweenness_centrality",
    oracle=_bc_oracle(),
    tags=("E340", "E316", "E124", "J11", "A1", "O3"),
)
def q_betweenness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Betweenness centrality (Brandes) from a seed panel over the
    co-purchase BACKBONE — the broker/bottleneck metric the centrality
    family lacked (harmonic E316 measures reach; betweenness measures
    who sits ON other nodes' shortest paths — the cut vertex a supply
    chain should worry about). Bounded-hop Brandes (<= 3), the
    standard panel approximation: a forward multi-source BFS builds
    per-level shortest-PATH COUNTS sigma (exact integers — level sums
    over the BFS DAG, prior levels excluded by anti-joins), then the
    backward dependency pass accumulates
    delta(v) = sum over successors w of sigma_v*(Q + delta_w)/sigma_w
    as an ALL-INTEGER floor division in 1e-6 units (the rational is
    floored identically in both engines; a LOUD guard raises if sigma
    outgrows the cap). The graph is the per-node top-{_BB_DEG}
    strongest-pair backbone (each node keeps its {_BB_DEG} heaviest
    co-purchase partners; a pair survives if either endpoint ranks
    it), so the edge list is size-bounded (<= {_BB_DEG}n undirected)
    and content-derived at every SF with ZERO global coordination —
    a keyed WindowGroupLimit with literal k, replacing the r10 global
    ORDER BY w LIMIT 4n whose k grew with the node count (a
    driver-side TakeOrdered merge at 100 TB). The fixture's raw
    >=5-count filter yields a COMPLETE
    graph at sf0.01 where betweenness degenerates to zero. Scale
    shape: per level one frontier-edge join + one (seed, node)
    aggregate (the E316 two-shuffle contract), backward two more
    joins; seeds merge (adding seeds only adds delta terms). Top-20
    brokers reported."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = tracked_persist(_copurchase_pairs(li, "l_suppkey"))
    n_nodes = (
        pairs.select(F.explode(F.array("u", "v")).alias("x"))
        .distinct()
        .count()
    )
    edges0 = _backbone_edges(pairs)
    sym = tracked_persist(_undirect(edges0))
    # Count-gated single-task finisher (r10): after the per-node cut the
    # backbone is degree-bounded (<= 8n directed tuples), so under the
    # node gate ONE bounded Arrow task replays the identical bounded-hop
    # Brandes — same exclusive BFS levels, same exact integer sigma
    # level sums, same sigma-cap raise, same Q-unit floor-division
    # dependency terms — bit-exactly (forced branch-equivalence
    # tested). The 5-join level pipeline below stays the else-branch
    # and the 100 TB path (its per-level scheduling floor made this
    # the suite's second-slowest query, 8.5 s at sf0.1). Either branch
    # ends with the per-node (node, bq, n_seed_contribs) sums; the
    # top-20 below ranks them once.
    if probe.gate("betweenness", 0 < n_nodes <= _BC_NODE_GATE):

        def brandes(pdf):
            import pandas as pd

            adj: dict = {}
            for u, v in zip(pdf["u"], pdf["v"]):
                adj.setdefault(int(u), []).append(int(v))
            seeds_ = sorted(
                x for x in adj if x % _BC_SEED_MOD == 1
            )
            bq: dict = {}
            contribs: dict = {}
            for s in seeds_:
                levels = [{s: 1}]
                seen = {s}
                for _ in range(3):
                    nxt: dict = {}
                    for v, sig in levels[-1].items():
                        for w in adj.get(v, ()):
                            if w not in seen:
                                nxt[w] = nxt.get(w, 0) + sig
                    # exclusive levels: mark AFTER the full frontier
                    seen.update(nxt)
                    levels.append(nxt)
                for v, sig in levels[3].items():
                    if sig > _BC_SIG_CAP:
                        raise ValueError(
                            "betweenness: sigma exceeds Q cap"
                        )
                dq = [dict() for _ in range(4)]
                for lv in (2, 1):
                    for v, sig in levels[lv].items():
                        t = 0
                        for w in adj.get(v, ()):
                            if w in levels[lv + 1]:
                                nd = dq[lv + 1].get(w, 0)
                                t += sig * (_BC_Q + nd) // levels[lv + 1][w]
                        dq[lv][v] = t
                for lv in (1, 2):
                    for v, d in dq[lv].items():
                        bq[v] = bq.get(v, 0) + d
                        if d > 0:
                            contribs[v] = contribs.get(v, 0) + 1
            return pd.DataFrame(
                [(v, b, contribs.get(v, 0)) for v, b in bq.items()],
                columns=["node", "bq", "n_seed_contribs"],
            )

        btw = probe.single_task(
            sym, brandes, "node bigint, bq bigint, n_seed_contribs bigint"
        )
    else:
        seeds = (
            sym.select("u")
            .distinct()
            .filter(F.col("u") % _BC_SEED_MOD == 1)
            .select(F.col("u").alias("s"))
        )
        l0 = seeds.select(
            "s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sig")
        )

        def expand(prev: DataFrame, *earlier: DataFrame) -> DataFrame:
            e = sym.select(F.col("u").alias("eu"), F.col("v").alias("ev"))
            cand = (
                prev.join(e, e["eu"] == prev["v"])
                .select("s", F.col("ev").alias("nv"), "sig")
                .groupBy("s", F.col("nv").alias("v"))
                .agg(F.sum("sig").cast("long").alias("sig"))
            )
            for e in earlier:
                cand = cand.join(e.select("s", "v"), ["s", "v"], "left_anti")
            return cand

        l1 = tracked_persist(expand(l0, l0))
        l2 = tracked_persist(expand(l1, l0, l1))
        l3 = tracked_persist(
            expand(l2, l0, l1, l2).select(
                "s",
                "v",
                F.when(F.col("sig") <= _BC_SIG_CAP, F.col("sig"))
                .otherwise(
                    F.raise_error(
                        F.lit("betweenness: sigma exceeds Q cap")
                    ).cast("long")
                )
                .alias("sig"),
            )
        )

        def backward(level: DataFrame, nxt: DataFrame) -> DataFrame:
            """delta for `level` given the next level's (s, v, sig, dq)."""
            e = sym.select(F.col("u").alias("ev"), F.col("v").alias("ew"))
            nx = nxt.select(
                "s",
                F.col("v").alias("ew"),
                F.col("sig").alias("nsig"),
                F.col("dq").alias("ndq"),
            )
            j = (
                level.join(e, level["v"] == e["ev"], "left")
                .join(nx, ["s", "ew"], "left")
                .withColumn(
                    "term",
                    F.expr(f"sig * ({_BC_Q} + ndq) DIV nsig"),
                )
            )
            return j.groupBy("s", "v").agg(
                F.coalesce(F.sum("term"), F.lit(0)).cast("long").alias("dq"),
                F.first("sig").alias("sig"),
            )

        d2 = tracked_persist(
            backward(l2, l3.withColumn("dq", F.lit(0).cast("long")))
        )
        d1 = backward(l1, d2)
        btw = (
            d1.select("s", "v", "dq")
            .unionAll(d2.select("s", "v", "dq"))
            .groupBy(F.col("v").alias("node"))
            .agg(
                F.sum("dq").cast("bigint").alias("bq"),
                F.count(F.when(F.col("dq") > 0, 1)).cast("bigint").alias(
                    "n_seed_contribs"
                ),
            )
        )
    return (
        btw.orderBy(F.col("bq").desc(), "node")
        .limit(20)
        .select(
            F.col("node").cast("bigint").alias("node"),
            (F.col("bq") / 1e6).alias("betweenness"),
            "n_seed_contribs",
        )
    )


# --------------------------------------------------------------------------
# E352: degree assortativity — do hubs trade with hubs?
# --------------------------------------------------------------------------


@query(
    "q_degree_assortativity",
    oracle="""
    WITH pairs AS MATERIALIZED (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2),
    """
    + _BB_SQL
    + """,
    sym AS MATERIALIZED (
      SELECT u, v FROM edges0 UNION ALL SELECT v, u FROM edges0),
    deg AS MATERIALIZED (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
      FROM sym GROUP BY 1),
    ends AS (
      SELECT du.d AS x, dv.d AS y
      FROM sym e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v),
    mo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM ends)
    SELECT m AS n_directed_edges,
           CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST(FLOOR((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                      / NULLIF(sqrt(CAST(m AS DOUBLE) * sxx
                                    - CAST(sx AS DOUBLE) * sx)
                               * sqrt(CAST(m AS DOUBLE) * syy
                                      - CAST(sy AS DOUBLE) * sy), 0.0e0)
                      * 1000000 + 0.5) AS BIGINT) / 1e6 AS assortativity
    FROM mo
    """,
    tags=("E352", "E340", "E298", "A6", "J6"),
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman r) of the co-purchase graph — the
    one-number answer to "do hubs trade with hubs (r > 0) or do hubs
    serve the periphery (r < 0)?", the mixing diagnostic that decides
    whether hub-targeted dedup/removal fragments the graph (the
    robustness question under E15/E340). r = Pearson correlation of
    the degrees at the two ends of every DIRECTED edge (each
    undirected edge counted once per direction — the standard
    convention that symmetrizes the statistic), over the SAME
    per-node top-{_BB_DEG} backbone the betweenness row (E340)
    walks (keyed window, literal k — no global top-k) — the
    raw co-purchase graph is COMPLETE at sf0.01, where every degree
    is equal and r is 0/0 (NULLIF-guarded to NULL identically in
    both engines; the backbone keeps the statistic informative).
    All moments are exact
    BIGINTs; r is one fixed-shape double expression quantized at 1e-6
    (sqrt is IEEE-exact). Scale shape: one data-sized co-purchase
    aggregate, one degree groupBy, two degree-lookup joins (the
    degree table broadcasts at any scale — it is node-sized), one
    global moment aggregate. No per-node state, no iteration."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = tracked_persist(_copurchase_pairs(li, "l_suppkey"))
    edges0 = _backbone_edges(pairs)
    sym = tracked_persist(_undirect(edges0))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("x"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("y"))
    ends = sym.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    x, y = F.col("x"), F.col("y")
    mo = ends.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum(x).cast("bigint").alias("sx"),
        F.sum(y).cast("bigint").alias("sy"),
        F.sum(x * y).cast("bigint").alias("sxy"),
        F.sum(x * x).cast("bigint").alias("sxx"),
        F.sum(y * y).cast("bigint").alias("syy"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    r = (
        (m.cast("double") * F.col("sxy") - sx.cast("double") * sy)
        / F.nullif(
            F.sqrt(m.cast("double") * F.col("sxx") - sx.cast("double") * sx)
            * F.sqrt(m.cast("double") * F.col("syy") - sy.cast("double") * sy),
            F.lit(0.0),
        )
    )
    return mo.crossJoin(F.broadcast(n_nodes)).select(
        F.col("m").alias("n_directed_edges"),
        F.col("nn").alias("n_nodes"),
        (F.floor(r * 1000000 + F.lit(0.5)).cast("bigint") / 1e6).alias(
            "assortativity"
        ),
    )


# --------------------------------------------------------------------------
# E354: Katz centrality — attenuated bounded-hop path counts
# --------------------------------------------------------------------------

_KZ_CAP = 1_000_000_000_000  # loud guard: path counts must fit 8^3 scaling
# Kernel gate (patchable; tests force the distributed branch): the
# single-task kernel holds O(weighted pair rows) int64 arrays (the
# backbone it derives from them is strictly smaller), so the canonical
# pair count must be bounded before routing to it (~25 MB at the gate).
# It also bounds the kernel's int64 sums: the backbone has at most
# 2 * _KZ_GATE directed edges, each adding a capped p2 <= _KZ_CAP, so
# p3 <= 2 * _KZ_GATE * _KZ_CAP = 2e18 < 2^63.
_KZ_GATE = 1_000_000


@query(
    "q_katz_centrality",
    oracle=f"""
    WITH pairs AS MATERIALIZED (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, COUNT(*) AS w
      FROM lineitem a JOIN lineitem b
        ON b.l_orderkey = a.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2),
    {_BB_SQL},
    sym AS MATERIALIZED (
      SELECT u, v FROM edges0 UNION ALL SELECT v, u FROM edges0),
    p1 AS MATERIALIZED (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS p FROM sym GROUP BY 1),
    p2 AS MATERIALIZED (
      SELECT e.v, CAST(SUM(p1.p) AS BIGINT) AS p
      FROM sym e JOIN p1 ON p1.v = e.u GROUP BY 1),
    p3 AS MATERIALIZED (
      SELECT e.v,
             CAST(SUM(CASE WHEN p2.p <= {_KZ_CAP} THEN p2.p
                           ELSE CAST(error('katz: path count exceeds cap')
                                     AS BIGINT) END) AS BIGINT) AS p
      FROM sym e JOIN p2 ON p2.v = e.u GROUP BY 1),
    katz AS (
      SELECT p1.v AS node,
             p1.p AS paths_1,
             COALESCE(p2.p, 0) AS paths_2,
             COALESCE(p3.p, 0) AS paths_3,
             64 * p1.p + 8 * COALESCE(p2.p, 0) + COALESCE(p3.p, 0) AS kq
      FROM p1
      LEFT JOIN p2 ON p2.v = p1.v
      LEFT JOIN p3 ON p3.v = p1.v)
    SELECT CAST(node AS BIGINT) AS node,
           kq / 512.0e0 AS katz,
           CAST(paths_1 AS BIGINT) AS paths_1,
           CAST(paths_2 AS BIGINT) AS paths_2,
           CAST(paths_3 AS BIGINT) AS paths_3
    FROM katz ORDER BY kq DESC, node LIMIT 20
    """,
    tags=("E354", "E340", "E316", "A1", "J6", "O3"),
)
def q_katz_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality (bounded-hop form) over the co-purchase
    backbone — the attenuated-influence metric between degree (paths
    of length 1) and eigenvector centrality (paths of all lengths):
    katz(v) = sum over k <= 3 of alpha^k * #walks of length k ending
    at v, with alpha = 1/8 a POWER OF TWO so the whole sum is the
    exact integer 64*p1 + 8*p2 + p3 in 1/512 units — no doubles
    until the final division, hash-exact by construction. Walk
    counts come from three frontier join+agg rounds on the same
    size-bounded per-node top-{_BB_DEG} backbone as E340/E352
    (keyed window, literal k — no global top-k; p_k = A p_(k-1));
    a LOUD cap guard raises identically in both engines before a
    path count could overflow the 8^3 scaling. Top-20 reported.
    Scale shape: the E316 two-shuffle-per-hop contract, three hops,
    node-sized state; at 100 TB each round is one hash join on the
    degree-bounded edge list."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = tracked_persist(_copurchase_pairs(li, "l_suppkey"))
    # r12 (guide §4.2, the Brandes/LOF house pattern): p1/p2/p3 are
    # three sparse matvecs over the degree-bounded backbone — under
    # the pair gate they run as np.bincount/np.add.at in ONE bounded
    # task (same integer path counts, same cap raise; the kq score and
    # top-20 below run once in Spark for both branches) instead of two
    # persisted join+agg rounds plus a three-way join; the kernel also absorbs
    # backbone construction (per-node top-_BB_DEG lexsort rank +
    # canonical dedup + undirect), so the window shuffle, the sym
    # persist and its count job disappear with it. The scheduled
    # pipeline below stays the 100 TB else-branch; forced
    # branch-equivalence is tested (integer-exact). Interleaved A/B
    # x0.64 for the matvec kernel, a further x0.88 for the in-kernel
    # backbone.
    if probe.gate("katz", 0 < pairs.count() <= _KZ_GATE):
        cap, bb = _KZ_CAP, _BB_DEG

        def katz_kernel(pdf):
            import numpy as np
            import pandas as pd

            pu = pdf["u"].to_numpy(dtype=np.int64)
            pv = pdf["v"].to_numpy(dtype=np.int64)
            pw = pdf["w"].to_numpy(dtype=np.int64)
            # backbone + undirect in numpy: per-node top-bb incident
            # edges by (w desc, other asc) — the _backbone_edges
            # window order — canonical (min, max) dedup, then both
            # orientations
            node = np.concatenate([pu, pv])
            other = np.concatenate([pv, pu])
            ww = np.concatenate([pw, pw])
            order = np.lexsort((other, -ww, node))
            sn, so = node[order], other[order]
            newn = np.r_[True, sn[1:] != sn[:-1]]
            starts = np.flatnonzero(newn)
            rank = np.arange(len(sn)) - np.repeat(
                starts, np.diff(np.append(starts, len(sn)))
            )
            keep = rank < bb
            kn, ko = sn[keep], so[keep]
            cu = np.minimum(kn, ko)
            cv = np.maximum(kn, ko)
            o2 = np.lexsort((cv, cu))
            cu, cv = cu[o2], cv[o2]
            uniq = np.r_[True, (cu[1:] != cu[:-1]) | (cv[1:] != cv[:-1])]
            cu, cv = cu[uniq], cv[uniq]
            u = np.concatenate([cu, cv])
            v = np.concatenate([cv, cu])
            nodes, ui = np.unique(u, return_inverse=True)
            vi = np.searchsorted(nodes, v)  # symmetric: set(v)==set(u)
            n = len(nodes)
            p1 = np.bincount(vi, minlength=n).astype(np.int64)
            p2 = np.zeros(n, dtype=np.int64)
            np.add.at(p2, vi, p1[ui])
            if (p2 > cap).any():
                raise ValueError("katz: path count exceeds cap")
            p3 = np.zeros(n, dtype=np.int64)
            np.add.at(p3, vi, p2[ui])
            return pd.DataFrame(
                {"node": nodes, "paths_1": p1, "paths_2": p2, "paths_3": p3}
            )

        k = probe.single_task(
            pairs,
            katz_kernel,
            "node bigint, paths_1 bigint, paths_2 bigint, paths_3 bigint",
        )
    else:
        edges0 = _backbone_edges(pairs)
        sym = tracked_persist(_undirect(edges0))
        p1 = sym.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("p"))
        p1 = tracked_persist(p1)
        e = sym.select(F.col("u").alias("eu"), F.col("v").alias("ev"))
        p2 = (
            e.join(p1.select(F.col("v").alias("eu"), "p"), "eu")
            .groupBy(F.col("ev").alias("v"))
            .agg(F.sum("p").cast("bigint").alias("p"))
        )
        p2 = tracked_persist(p2)
        guarded = F.when(F.col("p") <= _KZ_CAP, F.col("p")).otherwise(
            F.raise_error(F.lit("katz: path count exceeds cap")).cast("long")
        )
        p3 = (
            e.join(p2.select(F.col("v").alias("eu"), guarded.alias("p")), "eu")
            .groupBy(F.col("ev").alias("v"))
            .agg(F.sum("p").cast("bigint").alias("p"))
        )
        k = (
            p1.select("v", F.col("p").alias("paths_1"))
            .join(p2.select("v", F.col("p").alias("paths_2")), "v", "left")
            .join(p3.select("v", F.col("p").alias("paths_3")), "v", "left")
            .select(
                F.col("v").alias("node"),
                "paths_1",
                F.coalesce(F.col("paths_2"), F.lit(0)).alias("paths_2"),
                F.coalesce(F.col("paths_3"), F.lit(0)).alias("paths_3"),
            )
        )
    # Spark's ANSI arithmetic raises on int64 overflow in kq, as
    # DuckDB's BIGINT does in the oracle.
    kq = F.lit(64) * F.col("paths_1") + F.lit(8) * F.col("paths_2") + F.col("paths_3")
    return (
        k.orderBy(kq.desc(), "node")
        .limit(20)
        .select(
            F.col("node").cast("bigint").alias("node"),
            (kq / F.lit(512.0)).alias("katz"),
            F.col("paths_1").cast("bigint").alias("paths_1"),
            F.col("paths_2").cast("bigint").alias("paths_2"),
            F.col("paths_3").cast("bigint").alias("paths_3"),
        )
    )
