"""Robust-estimation and distributed-algorithm queries (SURVEY.md
§2.12 E232-E237): Huber IRLS regression, grid-search quantile
regression, iterative proportional fitting (raking), grid-bucketed
DBSCAN, the two-pass exact-median algorithm, and a tokenizer
fertility panel.

Same determinism discipline as prob_models.py: iterative fits
re-quantize their parameters after every round, all data-dependent
weights are quantized per row BEFORE cross-row sums, and order
statistics are taken with fully-keyed deterministic orderings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fts_analysis_datalake_spark import probe
from fts_analysis_datalake_spark.caching import tracked_persist
from fts_analysis_datalake_spark.catalog import load_table
from fts_analysis_datalake_spark.operators.graphs import connected_components
from fts_analysis_datalake_spark.operators.text import (
    BPE_ISH_PATTERN,
    normalize_text,
    token_count_bpe_ish,
    tokens,
)
from fts_analysis_datalake_spark.registry import query

# --------------------------------------------------------------------------
# E232: Huber robust regression via IRLS — price ~ quantity, 3 rounds
# --------------------------------------------------------------------------

_HUBER_DELTA = 2000000.0  # cents; residuals beyond this are downweighted


def _huber_oracle() -> str:
    moments = """
    WITH pts AS MATERIALIZED (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem),
    ols AS MATERIALIZED (
      SELECT
        CAST(FLOOR((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                   * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS b,
        n, sx, sy, sxx, sxy
      FROM (
        SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM pts)),
    beta0 AS MATERIALIZED (
      SELECT b AS b1,
             CAST(FLOOR((CAST(sy AS DOUBLE) - b * sx) / n * 1000000000 + 0.5)
                  AS BIGINT) / 1000000000.0 AS b0,
        b AS b_ols
      FROM ols)"""
    prev = "beta0"
    for i in range(1, 4):
        moments += f""",
    w{i} AS MATERIALIZED (
      SELECT x, y,
             CASE WHEN ABS(y - (b.b0 + b.b1 * x)) <= {_HUBER_DELTA}
                  THEN 1.0e0
                  ELSE {_HUBER_DELTA} / ABS(y - (b.b0 + b.b1 * x)) END AS w,
             b.b0 AS pb0, b.b1 AS pb1, b.b_ols
      FROM pts CROSS JOIN {prev} b),
    s{i} AS MATERIALIZED (
      SELECT MIN(b_ols) AS b_ols,
        CAST(SUM(CAST(FLOOR(w * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS nw,
        CAST(SUM(CAST(FLOOR(w * x * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sxw,
        CAST(SUM(CAST(FLOOR(w * y * 100 + 0.5) AS BIGINT)) AS BIGINT) AS syw,
        CAST(SUM(CAST(FLOOR(w * x * x * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sxxw,
        CAST(SUM(CAST(FLOOR(w * x * y * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sxyw,
        CAST(SUM(CASE WHEN w < 1.0e0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down
      FROM w{i}),
    beta{i} AS MATERIALIZED (
      SELECT
        CAST(FLOOR((wn * sy2 - wx * wy) / (wn * sx2 - wx * wx)
                   * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS b1,
        CAST(FLOOR((wy - ((wn * sy2 - wx * wy) / (wn * sx2 - wx * wx)) * wx)
                   / wn * 1000000000 + 0.5) AS BIGINT) / 1000000000.0 AS b0,
        b_ols, n_down
      FROM (
        SELECT b_ols, n_down,
               CAST(nw AS DOUBLE) / 1000000 AS wn,
               CAST(sxw AS DOUBLE) / 10000 AS wx,
               CAST(syw AS DOUBLE) / 100 AS wy,
               CAST(sxxw AS DOUBLE) / 10000 AS sx2,
               CAST(sxyw AS DOUBLE) / 100 AS sy2
        FROM s{i}))"""
        prev = f"beta{i}"
    moments += """
    SELECT b1 AS slope_huber, b0 AS intercept_huber, b_ols AS slope_ols,
           n_down AS n_downweighted
    FROM beta3"""
    return moments


@query(
    "q_huber_irls_price",
    oracle=_huber_oracle(),
    tags=("E232", "E109", "A1", "F6"),
)
def q_huber_irls_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber robust regression of extended price (cents) on quantity
    by 3 IRLS rounds seeded from the exact-moment OLS fit — the
    outlier-resistant line E109's least squares can't give (rows with
    residuals beyond delta get weight delta/|r| instead of pulling
    the fit quadratically). Each round is one data pass that computes
    PER-ROW Huber weights from the previous (quantized) beta and
    reduces five weighted moment sums, each term floor-quantized to
    a per-term integer scale chosen so the BIGINT sums stay exact;
    beta is re-quantized to 1e-9 after every round so both engines
    weight the next round identically. IRLS genuinely needs a pass
    per round (weights depend on residuals) — the honest cost, 3
    partial-aggregated scans with no shuffle wider than one row.
    Also reports the OLS slope and the downweighted-row count so the
    robustness correction is visible."""
    li = load_table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("y"),
    ).localCheckpoint(eager=True)

    def q9(c):
        return F.floor(c * 1000000000 + F.lit(0.5)).cast("bigint") / 1000000000.0

    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nd, sxd, syd = [F.col(c).cast("double") for c in ("n", "sx", "sy")]
    b_expr = (nd * F.col("sxy") - sxd * F.col("sy")) / (
        nd * F.col("sxx") - sxd * F.col("sx")
    )
    ols = m.select(q9(b_expr).alias("b"), "n", "sx", "sy")
    beta = ols.select(
        F.col("b").alias("b1"),
        q9((syd - F.col("b") * sxd) / nd).alias("b0"),
        F.col("b").alias("b_ols"),
    ).localCheckpoint(eager=True)
    for _ in range(3):
        r = F.col("y") - (F.col("b0") + F.col("b1") * F.col("x"))
        w = F.when(F.abs(r) <= _HUBER_DELTA, F.lit(1.0)).otherwise(
            _HUBER_DELTA / F.abs(r)
        )
        wk = pts.crossJoin(F.broadcast(beta)).select(
            "x", "y", w.alias("w"), "b_ols"
        )

        def qi(c, s):
            return F.floor(c * s + F.lit(0.5)).cast("bigint")

        s = wk.agg(
            F.min("b_ols").alias("b_ols"),
            F.sum(qi(F.col("w"), 1000000)).cast("bigint").alias("nw"),
            F.sum(qi(F.col("w") * F.col("x"), 10000)).cast("bigint").alias("sxw"),
            F.sum(qi(F.col("w") * F.col("y"), 100)).cast("bigint").alias("syw"),
            F.sum(qi(F.col("w") * F.col("x") * F.col("x"), 10000))
            .cast("bigint")
            .alias("sxxw"),
            F.sum(qi(F.col("w") * F.col("x") * F.col("y"), 100))
            .cast("bigint")
            .alias("sxyw"),
            F.sum(F.when(F.col("w") < 1.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_down"),
        )
        wn = F.col("nw").cast("double") / 1000000
        wx = F.col("sxw").cast("double") / 10000
        wy = F.col("syw").cast("double") / 100
        sx2 = F.col("sxxw").cast("double") / 10000
        sy2 = F.col("sxyw").cast("double") / 100
        slope = (wn * sy2 - wx * wy) / (wn * sx2 - wx * wx)
        beta = s.select(
            q9(slope).alias("b1"),
            q9((wy - slope * wx) / wn).alias("b0"),
            "b_ols",
            "n_down",
        ).localCheckpoint(eager=True)
    return beta.select(
        F.col("b1").alias("slope_huber"),
        F.col("b0").alias("intercept_huber"),
        F.col("b_ols").alias("slope_ols"),
        F.col("n_down").alias("n_downweighted"),
    )


# --------------------------------------------------------------------------
# E233: quantile (median) regression by deterministic grid search
# --------------------------------------------------------------------------

# Kernel gate (patchable; tests force the distributed branch): the
# single-task sweep holds two int64 arrays over every point (~64 MB at
# the gate).
_QR_KERNEL_PTS = 4_000_000


@query(
    "q_quantile_regression_grid",
    oracle="""
    WITH pts AS MATERIALIZED (
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS x,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
      FROM events),
    grid AS (SELECT (g - 10) * 5 AS b FROM generate_series(0, 20) t(g)),
    resid AS MATERIALIZED (
      SELECT g.b, p.event_id, p.y - g.b * p.x AS r
      FROM pts p CROSS JOIN grid g),
    med AS MATERIALIZED (
      SELECT b, r AS a FROM (
        SELECT b, r,
               ROW_NUMBER() OVER (PARTITION BY b ORDER BY r, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY b) AS n
        FROM resid)
      WHERE rn = (n + 1) // 2),
    losses AS (
      SELECT resid.b, MIN(med.a) AS a,
             CAST(SUM(ABS(resid.r - med.a)) AS BIGINT) AS loss_q
      FROM resid JOIN med ON med.b = resid.b
      GROUP BY resid.b)
    SELECT b AS slope_cents_per_k, CAST(a AS BIGINT) AS intercept_cents,
           loss_q / 100.0 AS abs_loss_total
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY loss_q, b) AS rn FROM losses)
    WHERE rn = 1
    """,
    tags=("E233", "E109", "W1", "J10", "A1", "F10"),
)
def q_quantile_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (L1 / quantile) regression of event value on the JSON
    props k feature, fit by DETERMINISTIC grid search: for each of 21
    candidate slopes the optimal intercept is the exact lower median
    of the residuals (the 1-D L1 minimizer), and the winning slope
    minimizes total absolute loss — tie-broken by slope. Everything
    is exact integer arithmetic (cents x integer slope grid), so
    unlike simplex/IRLS quantile solvers there is NO float anywhere:
    loss sums are BIGINTs and the argmin is hash-exact. The shape is
    pts x grid (a 21-row broadcast), one partitioned window for the
    21 medians, one join-back for the losses — embarrassingly
    parallel over slope candidates, which is exactly how you'd sweep
    a hyperparameter at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    # r12 (guide §4.2): under the point-count gate the whole 21-slope
    # sweep runs in ONE bounded task — per slope an exact lower median
    # (np.partition at rank (n+1)//2, value-identical to the window's
    # (r, event_id) row_number rank since ties share the r value) and
    # an exact int64 L1 loss, argmin tie-broken by ascending slope.
    # Replaces the 21x crossJoin fan, the 21-partition window sort and
    # the join-back. Forced branch-equivalence tested. A/B x0.40.
    n_pts = e.count()
    if probe.gate("quantile_grid", 0 < n_pts <= _QR_KERNEL_PTS):
        qpts = e.select(
            F.get_json_object("props", "$.k").cast("bigint").alias("x"),
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("y"),
        )

        def qr_kernel(pdf):
            import numpy as np
            import pandas as pd

            x = pdf["x"].to_numpy(dtype=np.int64)
            y = pdf["y"].to_numpy(dtype=np.int64)
            m = len(x)
            k = (m + 1) // 2 - 1  # 0-based lower-median rank
            best = None  # (loss, b, a)
            for b in range(-50, 51, 5):
                r = y - b * x
                a = int(np.partition(r, k)[k])
                loss = int(np.abs(r - a).sum())
                if best is None or loss < best[0]:
                    best = (loss, b, a)
            loss, b, a = best
            return pd.DataFrame(
                {
                    "slope_cents_per_k": [b],
                    "intercept_cents": [a],
                    "abs_loss_total": [loss / 100.0],
                }
            )

        return probe.single_task(
            qpts,
            qr_kernel,
            "slope_cents_per_k bigint, intercept_cents bigint, "
            "abs_loss_total double",
        )
    pts = e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("x"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("y"),
    ).localCheckpoint(eager=True)  # parse JSON once, not once per grid slope
    grid = spark.range(0, 21).select(((F.col("id") - 10) * 5).alias("b"))
    resid = pts.crossJoin(F.broadcast(grid)).select(
        "b", "event_id", (F.col("y") - F.col("b") * F.col("x")).alias("r")
    )
    wspec = Window.partitionBy("b").orderBy("r", "event_id")
    wall = Window.partitionBy("b")
    med = (
        resid.select(
            "b",
            "r",
            F.row_number().over(wspec).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) DIV 2"))
        .select("b", F.col("r").alias("a"))
    )
    losses = (
        resid.join(F.broadcast(med), "b")
        .groupBy("b")
        .agg(
            F.min("a").alias("a"),
            F.sum(F.abs(F.col("r") - F.col("a"))).cast("bigint").alias("loss_q"),
        )
    )
    rn = F.row_number().over(Window.orderBy("loss_q", "b"))
    return (
        losses.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            F.col("b").alias("slope_cents_per_k"),
            F.col("a").cast("bigint").alias("intercept_cents"),
            (F.col("loss_q") / 100.0).alias("abs_loss_total"),
        )
    )


# --------------------------------------------------------------------------
# E234: iterative proportional fitting (raking) to uniform margins
# --------------------------------------------------------------------------


def _ipf_oracle() -> str:
    base = """
    WITH cells AS MATERIALIZED (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS nl,
                   CAST(COUNT(DISTINCT source) AS BIGINT) AS ns
            FROM cells),
    w0 AS MATERIALIZED (
      SELECT lang, source, n, CAST(1000000000 AS BIGINT) AS w_q FROM cells)"""
    prev = "w0"
    for i in range(1, 6):
        base += f""",
    r{i} AS MATERIALIZED (
      SELECT w.lang,
             (CAST(t.nt AS DOUBLE) / t.nl)
               / (CAST(SUM(w.n * w.w_q) AS DOUBLE) / 1000000000) AS scale
      FROM {prev} w CROSS JOIN tot t
      GROUP BY w.lang, t.nt, t.nl),
    wr{i} AS MATERIALIZED (
      SELECT w.lang, w.source, w.n,
             CAST(FLOOR(w.w_q * r.scale + 0.5) AS BIGINT) AS w_q
      FROM {prev} w JOIN r{i} r ON r.lang = w.lang),
    c{i} AS MATERIALIZED (
      SELECT w.source,
             (CAST(t.nt AS DOUBLE) / t.ns)
               / (CAST(SUM(w.n * w.w_q) AS DOUBLE) / 1000000000) AS scale
      FROM wr{i} w CROSS JOIN tot t
      GROUP BY w.source, t.nt, t.ns),
    w{i} AS MATERIALIZED (
      SELECT w.lang, w.source, w.n,
             CAST(FLOOR(w.w_q * c.scale + 0.5) AS BIGINT) AS w_q
      FROM wr{i} w JOIN c{i} c ON c.source = w.source)"""
        prev = f"w{i}"
    base += """
    SELECT lang, source, n, w_q / 1000000000.0 AS weight
    FROM w5 ORDER BY lang, source"""
    return base


@query(
    "q_ipf_raking_weights",
    oracle=_ipf_oracle(),
    tags=("E234", "A1", "J1", "E42"),
)
def q_ipf_raking_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking): per-(lang, source)
    cell weights that rebalance the corpus toward UNIFORM lang and
    source margins, by 5 alternating row/column scaling rounds — the
    survey-statistics operator a training-mixture pipeline uses to
    hit target domain proportions without dropping data (the
    continuous sibling of E42's integer mixture allocation). The
    whole fit runs on the lang x source contingency table (~100
    rows — domain-sized, data scanned ONCE); weights live as
    1e-9-scaled BIGINTs, margin sums n*w_q are exact integer
    arithmetic, and each scaling factor is applied then re-floored,
    so both engines walk identical integer states round for round."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    # The 5 alternating row/column scaling rounds move the ~100-row
    # lang x source contingency table — domain-sized whatever the
    # corpus. Run all 10 scaling passes in ONE bounded Arrow task
    # (the dedup_clusters/MMR small-finish discipline) instead of 10
    # scheduled join+checkpoint stages. Bit-exact vs the unrolled-CTE
    # oracle: margin sums n*w_q are exact Python-int arithmetic, each
    # scale is the same two-division double sequence, and w_q is
    # re-floored to a BIGINT after every pass — identical integer
    # states round for round on all three engines.
    def rake(pdf):
        import math

        import pandas as pd

        cell = [
            (lg, src, int(n))
            for lg, src, n in zip(pdf["lang"], pdf["source"], pdf["n"])
        ]
        nt = sum(n for _, _, n in cell)
        nl = len({lg for lg, _, _ in cell})
        ns = len({src for _, src, _ in cell})
        w = {(lg, src): 1_000_000_000 for lg, src, _ in cell}
        for _ in range(5):
            for axis, nd in ((0, nl), (1, ns)):
                mw: dict[str, int] = {}
                for lg, src, n in cell:
                    k = (lg, src)[axis]
                    mw[k] = mw.get(k, 0) + n * w[(lg, src)]
                scale = {
                    k: (float(nt) / nd) / (float(m) / 1_000_000_000)
                    for k, m in mw.items()
                }
                w = {
                    (lg, src): int(
                        math.floor(w[(lg, src)] * scale[(lg, src)[axis]] + 0.5)
                    )
                    for lg, src, _ in cell
                }
        out = [
            (lg, src, n, w[(lg, src)] / 1_000_000_000.0) for lg, src, n in cell
        ]
        return pd.DataFrame(out, columns=["lang", "source", "n", "weight"])

    return probe.single_task(
        cells, rake, "lang string, source string, n bigint, weight double"
    ).orderBy("lang", "source")


# --------------------------------------------------------------------------
# E235: grid-bucketed DBSCAN — density clustering without pairwise scans
# --------------------------------------------------------------------------

_DB_HAV = (
    "2 * 6371.0 * asin(sqrt("
    "pow(sin(radians(({blat}) - ({alat})) / 2), 2)"
    " + cos(radians({alat})) * cos(radians({blat}))"
    " * pow(sin(radians(({blon}) - ({alon})) / 2), 2)))"
)


@query(
    "q_dbscan_grid_clusters",
    oracle=f"""
    WITH RECURSIVE grid AS (
      SELECT GREATEST(CAST(1 AS BIGINT), COUNT(*) // 1500) AS lc
      FROM customer),
    pts AS MATERIALIZED (
      SELECT c_custkey AS k,
             40.0 + ((c_custkey * 7919) % (g.lc * 100)) / 100.0 AS lat,
             ((c_custkey * 104729) % (g.lc * 200)) / 100.0 AS lon,
             40 + ((c_custkey * 7919) % (g.lc * 100)) // 100 AS cl,
             ((c_custkey * 104729) % (g.lc * 200)) // 100 AS co
      FROM customer CROSS JOIN grid g),
    offsets AS (
      SELECT dlat, dlon
      FROM generate_series(-1, 1) t1(dlat), generate_series(-1, 1) t2(dlon)),
    nbr AS MATERIALIZED (
      SELECT a.k AS ak, b.k AS bk
      FROM pts a JOIN offsets o ON TRUE
      JOIN pts b ON b.cl = a.cl + o.dlat AND b.co = a.co + o.dlon
      WHERE a.k <> b.k
        AND CAST(FLOOR({_DB_HAV.format(alat='a.lat', alon='a.lon',
                                       blat='b.lat', blon='b.lon')}
                       * 1000 + 0.5) AS BIGINT) <= 10000),
    core AS MATERIALIZED (
      SELECT ak AS k FROM nbr GROUP BY ak HAVING COUNT(*) >= 4),
    edges AS MATERIALIZED (
      SELECT n.ak AS a, n.bk AS b FROM nbr n
      WHERE n.ak IN (SELECT k FROM core) AND n.bk IN (SELECT k FROM core)),
    sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
    reach(node, comp) AS (
      SELECT a, a FROM sym
      UNION
      SELECT s.b, r.comp FROM reach r JOIN sym s ON s.a = r.node),
    cc AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
    SELECT comp AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_core,
           CAST(MIN(node) AS BIGINT) AS min_member,
           CAST(MAX(node) AS BIGINT) AS max_member
    FROM cc GROUP BY comp ORDER BY cluster_id
    """,
    tags=("E235", "E223", "E15", "J7", "A1"),
)
def q_dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN on the synthetic customer coordinates, grid-bucketed:
    eps = 10 km, minPts = 4 neighbors (excluding self). Neighbor
    candidates come from the same 1-degree 3x3 cell cover as E223
    (never points^2); core points are one HAVING over the neighbor
    aggregate; clusters are connected components of the core-core
    eps-graph via operators/graphs.connected_components, whose
    fixpoint the oracle reproduces with a recursive CTE (the E15
    pattern). Border points are intentionally excluded from cluster
    membership (core-only DBSCAN* variant — deterministic, no
    order-dependent border assignment). Distances are 1 m-quantized
    before the eps test so the trig ulp can't flip an edge. The
    report is one row per cluster: id (min core member), size,
    member range."""
    c = load_table(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    # Grid span derives from the point COUNT so point density is
    # SCALE-INVARIANT: the congruential synthesis collapses points
    # onto lcm(lat-mod, lon-mod) = lc*200 lattice sites, and lc =
    # n/1500 keeps the per-site multiplicity at ~7.5 at every SF —
    # with the old FIXED 10x20-degree span, sf<=0.01 spread too thin
    # for any core and the driver's sf0.01 compare passed on a
    # trivially-empty result. lc=10 at sf0.1 reproduces the previous
    # layout there bit-for-bit.
    grid = c.agg(
        F.greatest(
            F.lit(1).cast("bigint"),
            F.expr("COUNT(*) DIV 1500"),
        ).alias("lc")
    )
    # r11 (guide §2.5 "blocked pair queries"): candidate cells shrunk
    # from the oracle's 1-degree grid to 0.1-deg lat x 0.2-deg lon —
    # still a COMPLETE eps=10 km cover (0.1 deg lat = 11.13 km >
    # 10.0005 km; 0.2 deg lon >= 14.3 km at lat <= 63 deg), but the
    # 3x3 neighborhood now fans out ~100x fewer candidate pairs
    # (9.3M -> ~0.2M at sf0.1; the haversine ran on every one). The
    # fine grid is CASE-gated on the broadcast lc: completeness of
    # the 0.2-deg lon cell needs max lat = 40 + lc <= 63, so lc > 23
    # falls back to the oracle's own 1-degree cells, where engine ==
    # oracle by construction. Both generators intersect with the
    # hav <= 10 km filter to the same neighbor set, so the result is
    # value-identical (A/B --verify row-identical; x0.63).
    fine = F.col("lc") <= 23
    pts = c.crossJoin(F.broadcast(grid)).select(
        key.alias("k"),
        (40.0 + ((key * 7919) % (F.col("lc") * 100)) / 100.0).alias("lat"),
        (((key * 104729) % (F.col("lc") * 200)) / 100.0).alias("lon"),
        F.when(fine, F.expr("((c_custkey * 7919) % (lc * 100)) DIV 10"))
        .otherwise(F.expr("((c_custkey * 7919) % (lc * 100)) DIV 100"))
        .alias("cl"),
        F.when(fine, F.expr("((c_custkey * 104729) % (lc * 200)) DIV 20"))
        .otherwise(F.expr("((c_custkey * 104729) % (lc * 200)) DIV 100"))
        .alias("co"),
    )
    offsets = (
        spark.range(0, 9)
        .select(
            (F.col("id") % 3 - 1).cast("int").alias("dlat"),
            (F.col("id") / 3).cast("int").alias("d3"),
        )
        .select("dlat", (F.col("d3") - 1).alias("dlon"))
    )
    a = pts.select(
        F.col("k").alias("ak"),
        F.col("lat").alias("alat"),
        F.col("lon").alias("alon"),
        "cl",
        "co",
    ).crossJoin(F.broadcast(offsets))
    b = pts.select(
        F.col("k").alias("bk"),
        F.col("lat").alias("blat"),
        F.col("lon").alias("blon"),
        F.col("cl").alias("bcl"),
        F.col("co").alias("bco"),
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
    nbr = (
        a.join(
            b,
            (F.col("bcl") == F.col("cl") + F.col("dlat"))
            & (F.col("bco") == F.col("co") + F.col("dlon"))
            & (F.col("ak") != F.col("bk")),
        )
        .filter(F.floor(hav * 1000 + F.lit(0.5)).cast("bigint") <= 10000)
        .select("ak", "bk")
        .localCheckpoint(eager=True)
    )
    # r11: core needs no eager checkpoint of its own — it is a cheap
    # aggregate over the materialized nbr blocks, and its two semi-join
    # references below re-read those blocks, not the neighbor join.
    core = (
        nbr.groupBy("ak")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= 4)
        .select(F.col("ak").alias("k"))
    )
    edges = (
        nbr.join(core.withColumnRenamed("k", "ak"), "ak", "leftsemi")
        .join(core.withColumnRenamed("k", "bk"), "bk", "leftsemi")
        .select(F.col("ak").alias("a"), F.col("bk").alias("b"))
        .localCheckpoint(eager=True)
    )
    # Small-finish: seed contraction shrinks the 322k-edge eps-graph
    # to ~1.3k edges (sf0.1); finishing those with 8 scheduled star
    # rounds costs ~4 s of pure per-stage overhead, while one bounded
    # union-find task is milliseconds. The operator's 2M-edge gate
    # keeps the finisher task ~tens of MB at any scale; above it,
    # extra seed passes (log-bounded) or the star loop take over.
    cc = connected_components(edges, "a", "b")
    return (
        cc.groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_core"),
            F.min("node").cast("bigint").alias("min_member"),
            F.max("node").cast("bigint").alias("max_member"),
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# E236: two-pass exact median — histogram narrowing, no global sort
# --------------------------------------------------------------------------


@query(
    "q_two_pass_exact_median",
    oracle="""
    WITH pts AS MATERIALIZED (
      SELECT event_id, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    bounds AS (
      SELECT MIN(cents) AS lo, MAX(cents) AS hi, COUNT(*) AS n,
             (COUNT(*) + 1) // 2 AS k
      FROM pts),
    hist AS (
      SELECT ((p.cents - b.lo) * 1000) // (b.hi - b.lo + 1) AS bucket,
             COUNT(*) AS c
      FROM pts p CROSS JOIN bounds b GROUP BY bucket),
    cum AS (
      SELECT bucket, c,
             COALESCE(SUM(c) OVER (ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM hist),
    target AS (
      SELECT bucket, c AS bucket_rows, before
      FROM cum CROSS JOIN bounds b
      WHERE before < b.k AND before + c >= b.k),
    winner AS (
      SELECT p.cents,
             ROW_NUMBER() OVER (ORDER BY p.cents, p.event_id) AS rn,
             t.bucket, t.bucket_rows, b.k - t.before AS pos, b.n
      FROM pts p CROSS JOIN target t CROSS JOIN bounds b
      WHERE ((p.cents - b.lo) * 1000) // (b.hi - b.lo + 1) = t.bucket)
    SELECT CAST(n AS BIGINT) AS n_rows,
           cents / 100.0 AS median_value,
           CAST(bucket AS BIGINT) AS target_bucket,
           CAST(bucket_rows AS BIGINT) AS bucket_rows
    FROM winner WHERE rn = pos
    """,
    tags=("E236", "A5", "W4", "A1"),
)
def q_two_pass_exact_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT median (lower order statistic) of event value in two
    passes with NO global sort — the classic distributed selection
    algorithm: pass 1 builds a 1000-bucket histogram and a prefix sum
    locates the bucket holding the k-th element; pass 2 ranks only
    that bucket's rows (n/1000 of the data in expectation) and reads
    off element k - cum_before. This is how a 100 TB engine answers
    exact quantiles when approx_percentile's error bound isn't
    acceptable: the sort cost collapses from O(n log n) global to
    O(bucket log bucket), and the histogram pass is one map-side
    partial aggregate. All arithmetic is integer (cents, counts);
    ties inside the bucket break on event_id identically on both
    engines. Output includes the bucket metadata so the narrowing is
    auditable."""
    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
    )
    bounds = pts.agg(
        F.min("cents").alias("lo"),
        F.max("cents").alias("hi"),
        F.count(F.lit(1)).alias("n"),
        ((F.count(F.lit(1)) + 1) / 2).cast("bigint").alias("k"),
    )
    withb = pts.crossJoin(F.broadcast(bounds))
    bucket = F.expr("((cents - lo) * 1000) DIV (hi - lo + 1)")
    hist = withb.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("c")
    )
    wprev = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "bucket",
        "c",
        F.coalesce(F.sum("c").over(wprev), F.lit(0)).alias("before"),
    )
    target = (
        cum.crossJoin(F.broadcast(bounds))
        .filter((F.col("before") < F.col("k")) & (F.col("before") + F.col("c") >= F.col("k")))
        .select(F.col("bucket").alias("tbucket"), F.col("c").alias("bucket_rows"), "before")
    )
    winner = (
        withb.crossJoin(F.broadcast(target))
        .filter(bucket == F.col("tbucket"))
        .select(
            "cents",
            "event_id",
            "tbucket",
            "bucket_rows",
            (F.col("k") - F.col("before")).alias("pos"),
            "n",
        )
    )
    rn = F.row_number().over(Window.orderBy("cents", "event_id"))
    return (
        winner.withColumn("rn", rn)
        .filter(F.col("rn") == F.col("pos"))
        .select(
            F.col("n").cast("bigint").alias("n_rows"),
            (F.col("cents") / 100.0).alias("median_value"),
            F.col("tbucket").cast("bigint").alias("target_bucket"),
            F.col("bucket_rows").cast("bigint").alias("bucket_rows"),
        )
    )


# --------------------------------------------------------------------------
# E237: tokenizer fertility panel — BPE-ish vs whitespace economics
# --------------------------------------------------------------------------


@query(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang, n_chars,
             len(list_filter(str_split(trim(regexp_replace(regexp_replace(
               lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
               t -> t <> '')) AS ws,
             len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS bpe
      FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(bpe) AS BIGINT) AS bpe_tokens,
           CAST(FLOOR(CAST(SUM(bpe) AS DOUBLE) / SUM(ws) * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS fertility,
           CAST(FLOOR(CAST(SUM(n_chars) AS DOUBLE) / SUM(bpe) * 1000000 + 0.5)
                AS BIGINT) / 1000000.0 AS chars_per_bpe_token
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
    tags=("E237", "D9", "D13", "F2", "A1"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility panel per language: BPE-ish regex tokens
    per whitespace word (fertility — the multiplier that converts
    word budgets into token budgets) and characters per BPE-ish
    token (compression — how much text each token buys). These are
    the two numbers a pretraining-data plan needs per language
    before it can convert corpus bytes into training tokens, and the
    per-lang spread is the classic tokenizer-equity diagnostic. One
    scan, integer count sums, two 1e-6-quantized ratios; the BPE-ish
    pattern is the shared operators/text.py vocabulary-free
    approximation (letter runs | digit runs | single symbol), which
    both regex engines evaluate identically."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = d.select(
        "lang",
        "n_chars",
        F.size(tokens(normalize_text(F.col("text")))).alias("ws"),
        token_count_bpe_ish(F.col("text")).alias("bpe"),
    )

    def q6(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1000000.0

    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.sum("ws").cast("bigint").alias("ws_tokens"),
            F.sum("bpe").cast("bigint").alias("bpe_tokens"),
            q6(F.sum("bpe").cast("double") / F.sum("ws")).alias("fertility"),
            q6(F.sum("n_chars").cast("double") / F.sum("bpe")).alias(
                "chars_per_bpe_token"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# E242: consistent-hash ring rebalance audit
# --------------------------------------------------------------------------


def _ring_sql(n_shards: int, vnodes: int = 8) -> str:
    rows = ", ".join(
        f"({s}, {v}, CAST(('0x' || substring(md5('shard{s}#v{v}'), 1, 13)) AS BIGINT))"
        for s in range(n_shards)
        for v in range(vnodes)
    )
    return f"(VALUES {rows}) AS ring_{n_shards}(shard, vnode, pos)"


@query(
    "q_consistent_hash_rebalance",
    oracle=f"""
    WITH keys AS (
      SELECT c_custkey AS k,
             CAST(('0x' || substring(md5('key:' || CAST(c_custkey AS VARCHAR)),
                   1, 13)) AS BIGINT) AS kpos
      FROM customer),
    r4 AS (SELECT * FROM {_ring_sql(4)}),
    r5 AS (SELECT * FROM {_ring_sql(5)}),
    a4 AS (
      SELECT k.k,
             COALESCE(
               (SELECT r.shard FROM r4 r WHERE r.pos >= k.kpos
                ORDER BY r.pos, r.shard LIMIT 1),
               (SELECT r.shard FROM r4 r ORDER BY r.pos, r.shard LIMIT 1))
               AS shard
      FROM keys k),
    a5 AS (
      SELECT k.k,
             COALESCE(
               (SELECT r.shard FROM r5 r WHERE r.pos >= k.kpos
                ORDER BY r.pos, r.shard LIMIT 1),
               (SELECT r.shard FROM r5 r ORDER BY r.pos, r.shard LIMIT 1))
               AS shard
      FROM keys k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN a4.shard <> a5.shard THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved,
           CAST(FLOOR(SUM(CASE WHEN a4.shard <> a5.shard THEN 1.0e0 ELSE 0 END)
                      / COUNT(*) * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS moved_frac,
           CAST(SUM(CASE WHEN a4.shard <> a5.shard AND a5.shard = 4
                         THEN 1 ELSE 0 END) AS BIGINT) AS moved_to_new
    FROM a4 JOIN a5 USING (k)
    """,
    tags=("E242", "F11", "J7", "A1"),
)
def q_consistent_hash_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring rebalance audit: place every customer key
    on an md5 ring served by 4 shards x 8 virtual nodes, add a 5th
    shard, and measure what moved — the data-placement property that
    makes consistent hashing the standard for shard growth (only
    ~1/(n+1) of keys move, and essentially all moves land ON the new
    shard; modulo hashing would reshuffle ~4/5 of everything). Ring
    lookup (successor vnode, wrapping) is a min-over-candidates
    aggregate against the 32/40-row broadcast ring — no sort, no
    per-key subquery in the Spark plan (the oracle's correlated form
    is the same lookup in DuckDB's idiom). All md5-derived positions
    are exact integers; the moved fraction is 1e-6-quantized."""
    import itertools

    c = load_table(spark, sf_dir, "customer")
    keys = c.select(
        F.col("c_custkey").alias("k"),
        F.conv(
            F.substring(F.md5(F.concat(F.lit("key:"), F.col("c_custkey").cast("string"))), 1, 13),
            16,
            10,
        )
        .cast("bigint")
        .alias("kpos"),
    )

    def ring(n_shards: int, vnodes: int = 8):
        rows = [
            (s, v)
            for s, v in itertools.product(range(n_shards), range(vnodes))
        ]
        df = spark.createDataFrame(rows, "shard int, vnode int")
        return df.select(
            "shard",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("shard"),
                            F.col("shard").cast("string"),
                            F.lit("#v"),
                            F.col("vnode").cast("string"),
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            )
            .cast("bigint")
            .alias("pos"),
        )

    def assign(ring_df, out: str):
        # successor vnode on the ring: min (pos, shard) among vnodes at
        # or after the key; wrap to the global min when none.
        r = F.broadcast(ring_df)
        succ = (
            keys.crossJoin(r)
            .groupBy("k")
            .agg(
                F.min(
                    F.when(
                        F.col("pos") >= F.col("kpos"),
                        F.struct("pos", "shard"),
                    )
                ).alias("after"),
                F.min(F.struct("pos", "shard")).alias("wrap"),
            )
            .select(
                "k",
                F.coalesce(F.col("after.shard"), F.col("wrap.shard")).alias(out),
            )
        )
        return succ

    a4 = assign(ring(4), "shard4")
    a5 = assign(ring(5), "shard5")
    moved = (F.col("shard4") != F.col("shard5")).cast("bigint")
    return a4.join(a5, "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum(moved).cast("bigint").alias("n_moved"),
        (
            F.floor(
                F.sum(moved.cast("double")) / F.count(F.lit(1)) * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1000000.0
        ).alias("moved_frac"),
        F.sum(
            ((F.col("shard4") != F.col("shard5")) & (F.col("shard5") == 4)).cast(
                "bigint"
            )
        )
        .cast("bigint")
        .alias("moved_to_new"),
    )


# --------------------------------------------------------------------------
# E243: Wilson score confidence intervals — rate panel
# --------------------------------------------------------------------------


@query(
    "q_wilson_rate_intervals",
    oracle="""
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value >= 100.0 THEN 1 ELSE 0 END) AS BIGINT)
               AS hits
      FROM events GROUP BY event_type),
    wilson AS (
      SELECT event_type, n, hits,
             CAST(hits AS DOUBLE) / n AS p,
             1.959963985e0 AS z
      FROM counts)
    SELECT event_type, n, hits,
           CAST(FLOOR(p * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS rate,
           CAST(FLOOR(
             ((p + z * z / (2.0e0 * n)
               - z * sqrt((p * (1.0e0 - p) + z * z / (4.0e0 * n)) / n))
              / (1.0e0 + z * z / n)) * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS wilson_lo,
           CAST(FLOOR(
             ((p + z * z / (2.0e0 * n)
               + z * sqrt((p * (1.0e0 - p) + z * z / (4.0e0 * n)) / n))
              / (1.0e0 + z * z / n)) * 1000000 + 0.5) AS BIGINT) / 1000000.0
             AS wilson_hi
    FROM wilson ORDER BY event_type
    """,
    tags=("E243", "A1", "F6", "E130"),
)
def q_wilson_rate_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence intervals for the high-value rate
    per event type — the binomial interval that stays inside [0, 1]
    and behaves at small n / extreme p where the naive Wald interval
    (rate +- z*sqrt(pq/n)) collapses; the standard choice for rate
    dashboards and ranking-by-lower-bound. One partial-aggregated
    scan to (n, hits) per type; the interval is a fixed-order double
    expression over exact integers with the z constant written
    identically on both sides, 1e-6-quantized."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("value") >= 100.0).cast("bigint")).cast("bigint").alias("hits"),
    )
    n = F.col("n").cast("double")
    p = F.col("hits").cast("double") / F.col("n")
    z = F.lit(1.959963985)

    def q6(c):
        return F.floor(c * 1000000 + F.lit(0.5)).cast("bigint") / 1000000.0

    center = p + z * z / (2.0 * n)
    half = z * F.sqrt((p * (1.0 - p) + z * z / (4.0 * n)) / n)
    denom = 1.0 + z * z / n
    return counts.select(
        "event_type",
        "n",
        "hits",
        q6(p).alias("rate"),
        q6((center - half) / denom).alias("wilson_lo"),
        q6((center + half) / denom).alias("wilson_hi"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# E244: maximum drawdown — running-peak analysis per user
# --------------------------------------------------------------------------


@query(
    "q_max_drawdown_users",
    oracle="""
    WITH dd AS (
      SELECT user_id,
             CAST(MAX(peak - bal) AS BIGINT) AS max_dd,
             CAST(MAX(peak) AS BIGINT) AS max_peak
      FROM (
        SELECT user_id, bal,
               MAX(bal) OVER (PARTITION BY user_id
                 ORDER BY bal_rn ROWS UNBOUNDED PRECEDING) AS peak
        FROM (
          SELECT user_id, bal,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS bal_rn, ts, event_id
          FROM (
            SELECT user_id, ts, event_id,
                   SUM(CAST(FLOOR((CASE WHEN event_type = 'purchase'
                                        THEN -value ELSE value END) * 100
                                  + 0.5) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS bal
            FROM events)))
      GROUP BY user_id),
    ranked AS (
      SELECT user_id, max_dd, max_peak,
             ROW_NUMBER() OVER (ORDER BY max_dd DESC, user_id) AS rn
      FROM dd)
    SELECT user_id, max_dd / 100.0 AS max_drawdown,
           max_peak / 100.0 AS peak_balance
    FROM ranked WHERE rn <= 10 ORDER BY rn
    """,
    tags=("E244", "W4", "W1", "O3"),
)
def q_max_drawdown_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user: treat each user's event stream as a
    signed balance series (purchases debit, everything else credits),
    track the running peak, and report the 10 largest peak-to-trough
    drops — the risk statistic that running totals alone can't show
    (a user can end positive after a deep trough). Two stacked
    windows over ONE per-user ordering (cumulative balance, then
    running max), a per-user aggregate, and a top-10 — all on exact
    integer cents with (ts, event_id) tie-breaks, no self-join over
    the series."""
    e = load_table(spark, sf_dir, "events")
    signed = F.floor(
        (
            F.when(F.col("event_type") == "purchase", -F.col("value")).otherwise(
                F.col("value")
            )
        )
        * 100
        + F.lit(0.5)
    ).cast("bigint")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    series = e.select(
        "user_id", F.sum(signed).over(w).alias("bal"), "ts", "event_id"
    )
    wpeak = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    peaked = series.select(
        "user_id", "bal", F.max("bal").over(wpeak).alias("peak")
    )
    dd = peaked.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("bal")).cast("bigint").alias("max_dd"),
        F.max("peak").cast("bigint").alias("max_peak"),
    )
    rn = F.row_number().over(Window.orderBy(F.col("max_dd").desc(), "user_id"))
    return (
        dd.withColumn("rn", rn)
        .filter(F.col("rn") <= 10)
        .select(
            "user_id",
            (F.col("max_dd") / 100.0).alias("max_drawdown"),
            (F.col("max_peak") / 100.0).alias("peak_balance"),
        )
        .orderBy("rn")
    )


# --------------------------------------------------------------------------
# E337: RANSAC consensus line fit — all-integer, cross-multiplied inliers
# --------------------------------------------------------------------------

_RS_TRIALS = 64
_RS_TOL = 500_000  # inlier band: |residual| <= $5000 in cents
# Kernel gate (patchable; tests force the distributed branch): the
# single-task kernel holds two int64 arrays over every point, so the
# point count must be bounded before routing to it (~64 MB at the gate).
_RS_KERNEL_PTS = 4_000_000


def _rs_oracle() -> str:
    return f"""
    WITH pts AS MATERIALIZED (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y,
             md5(concat_ws('|', l_orderkey, l_linenumber, l_suppkey,
                           l_partkey,
                           CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                AS BIGINT))) AS h
      FROM lineitem),
    samp AS MATERIALIZED (
      SELECT x, y, ROW_NUMBER() OVER (ORDER BY h, x, y) AS r
      FROM (SELECT * FROM pts ORDER BY h, x, y LIMIT {2 * _RS_TRIALS})),
    lines AS MATERIALIZED (
      SELECT a.r AS t, a.x AS x1, a.y AS y1,
             b.x - a.x AS dx, b.y - a.y AS dy
      FROM samp a JOIN samp b ON b.r = a.r + {_RS_TRIALS}
      WHERE b.x <> a.x),
    scored AS (
      SELECT l.t, l.x1, l.y1, l.dx, l.dy,
             CAST(SUM(CASE WHEN abs((p.y - l.y1) * l.dx
                                    - (p.x - l.x1) * l.dy)
                                <= {_RS_TOL} * abs(l.dx)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers,
             CAST(COUNT(*) AS BIGINT) AS n_points
      FROM lines l, pts p GROUP BY 1, 2, 3, 4, 5),
    best AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY n_inliers DESC, t) AS rk
      FROM scored)
    SELECT CAST(t AS BIGINT) AS trial, n_points, n_inliers,
           CAST(FLOOR(CAST(n_inliers AS DOUBLE) / n_points * 1000000 + 0.5)
                AS BIGINT) / 1e6 AS inlier_frac,
           CAST(dy AS BIGINT) AS slope_num, CAST(dx AS BIGINT) AS slope_den,
           CAST(x1 AS BIGINT) AS x1, CAST(y1 AS BIGINT) AS y1
    FROM best WHERE rk = 1
    """


@query(
    "q_ransac_price_line",
    oracle=_rs_oracle(),
    tags=("E337", "E129", "E226", "J10", "A1", "O3"),
)
def q_ransac_price_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC consensus line fit of price-vs-quantity — the
    CONSENSUS-based robust regression beside the reweighting family
    (Huber IRLS E129, Theil-Sen E226): propose a line from a minimal
    2-point sample, count inliers inside a fixed residual band, keep
    the proposal the most data AGREES with — immune to any outlier
    mass that stays under 50%, where IRLS can still be dragged. Fully
    INTEGER: the inlier test cross-multiplies
    |(y-y1)*dx - (x-x1)*dy| <= tol*|dx| (no slope division ever), so
    both engines agree bit-for-bit; the best trial ties to the lowest
    trial id, and the fit is reported as an integer RATIONAL slope
    (dy, dx). Determinized sampling with no RNG and no global sort:
    the 128 sample points are the smallest md5(row-content) rows —
    a TakeOrderedAndProject top-k in Spark (no full sort
    materializes), content-derived so it scales with the corpus —
    paired 1st-with-65th etc; vertical pairs (dx=0) are excluded
    identically in both engines. Scale shape: the 64 candidate lines
    BROADCAST onto one scan of the points (64 integer ops per row,
    map-side), one 64-row aggregate — RANSAC's data pass is
    embarrassingly parallel, which is why it survives 100 TB while
    leverage-based fits need the full design matrix."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    h = F.md5(
        F.concat_ws(
            "|",
            "l_orderkey",
            "l_linenumber",
            "l_suppkey",
            "l_partkey",
            cents,
        )
    )
    # r12 (guide §4.2, VERDICT #4, the LOF/Brandes house pattern): the
    # 64 trial scores are domain-sized sequential algebra, so under the
    # point-count gate they run vectorized in ONE bounded task. The 128
    # sample rows arrive via Spark's TakeOrderedAndProject (md5 computed
    # JVM-side, top-k, no full sort) tagged-unioned with the bare (x, y)
    # points — the kernel never ships a corpus-sized md5 string column
    # (~16 B/row crosses). The kernel replays the exact arithmetic of
    # the BNLJ else-branch below: same (h, x, y) lexicographic sample
    # order, same r-with-r+64 pairing, same vertical-pair skip, same
    # integer cross-multiplied inlier test, same (n_inliers desc, t)
    # tie-break, same floor-quantized inlier_frac (int() == floor for
    # positive doubles). Forced branch-equivalence is tested. A/B x0.56.
    n_pts = li.count()
    if probe.gate("ransac", 0 < n_pts <= _RS_KERNEL_PTS):
        trials, tol = _RS_TRIALS, _RS_TOL
        samp = (
            li.select(
                F.col("l_quantity").cast("bigint").alias("x"),
                cents.alias("y"),
                h.alias("h"),
                F.lit(1).alias("is_s"),
            )
            .orderBy("h", "x", "y")
            .limit(2 * _RS_TRIALS)  # literal k (plan-audit: static top-k)
        )
        bare = li.select(
            F.col("l_quantity").cast("bigint").alias("x"),
            cents.alias("y"),
            F.lit("").alias("h"),
            F.lit(0).alias("is_s"),
        )
        both = bare.unionByName(samp)

        def rs_kernel(pdf):
            import numpy as np
            import pandas as pd

            is_s = pdf["is_s"].to_numpy()
            pm = is_s == 0
            x = pdf["x"].to_numpy(dtype=np.int64)[pm]
            y = pdf["y"].to_numpy(dtype=np.int64)[pm]
            sm = ~pm
            sh_ = pdf["h"].to_numpy(dtype="U32")[sm]  # md5 hex: ASCII == binary order
            sx0 = pdf["x"].to_numpy(dtype=np.int64)[sm]
            sy0 = pdf["y"].to_numpy(dtype=np.int64)[sm]
            order = np.lexsort((sy0, sx0, sh_))
            sx, sy = sx0[order], sy0[order]
            best = None  # (n_inliers, t, x1, y1, dx, dy)
            n = len(x)
            for t_i in range(trials):
                if t_i + trials >= len(sx):
                    break  # fewer than 2*trials points: same pairs as the join
                x1, y1 = int(sx[t_i]), int(sy[t_i])
                x2, y2 = int(sx[t_i + trials]), int(sy[t_i + trials])
                if x2 == x1:
                    continue
                dx, dy = x2 - x1, y2 - y1
                resid = np.abs((y - y1) * dx - (x - x1) * dy)
                n_in = int((resid <= tol * abs(dx)).sum())
                if best is None or n_in > best[0]:
                    best = (n_in, t_i + 1, x1, y1, dx, dy)
            if best is None:
                return None
            n_in, t, x1, y1, dx, dy = best
            return pd.DataFrame(
                {
                    "trial": [t],
                    "n_points": [n],
                    "n_inliers": [n_in],
                    "inlier_frac": [(int(n_in / n * 1000000 + 0.5)) / 1e6],
                    "slope_num": [dy],
                    "slope_den": [dx],
                    "x1": [x1],
                    "y1": [y1],
                }
            )

        return probe.single_task(
            both,
            rs_kernel,
            "trial bigint, n_points bigint, n_inliers bigint, "
            "inlier_frac double, slope_num bigint, slope_den bigint, "
            "x1 bigint, y1 bigint",
        )
    pts = li.select(
        F.col("l_quantity").cast("bigint").alias("x"),
        cents.alias("y"),
        h.alias("h"),
    )
    pts = tracked_persist(pts)
    samp = (
        pts.orderBy("h", "x", "y")
        .limit(2 * _RS_TRIALS)
        .select(
            "x",
            "y",
            F.row_number()
            .over(Window.orderBy("h", "x", "y"))
            .alias("r"),
        )
    )
    a = samp.select(
        F.col("r").alias("t"), F.col("x").alias("x1"), F.col("y").alias("y1")
    )
    b = samp.select(
        (F.col("r") - _RS_TRIALS).alias("t"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    lines = (
        a.join(b, "t")
        .filter(F.col("x2") != F.col("x1"))
        .select(
            "t",
            "x1",
            "y1",
            (F.col("x2") - F.col("x1")).alias("dx"),
            (F.col("y2") - F.col("y1")).alias("dy"),
        )
    )
    resid = F.abs(
        (F.col("y") - F.col("y1")) * F.col("dx")
        - (F.col("x") - F.col("x1")) * F.col("dy")
    )
    scored = (
        pts.crossJoin(F.broadcast(lines))
        .groupBy("t", "x1", "y1", "dx", "dy")
        .agg(
            F.sum(
                F.when(resid <= F.lit(_RS_TOL) * F.abs(F.col("dx")), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_inliers"),
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
        )
    )
    best = scored.withColumn(
        "rk",
        F.row_number().over(Window.orderBy(F.col("n_inliers").desc(), "t")),
    ).filter(F.col("rk") == 1)
    return best.select(
        F.col("t").cast("bigint").alias("trial"),
        "n_points",
        "n_inliers",
        (
            F.floor(
                F.col("n_inliers").cast("double") / F.col("n_points") * 1000000
                + F.lit(0.5)
            ).cast("bigint")
            / 1e6
        ).alias("inlier_frac"),
        F.col("dy").cast("bigint").alias("slope_num"),
        F.col("dx").cast("bigint").alias("slope_den"),
        F.col("x1").cast("bigint").alias("x1"),
        F.col("y1").cast("bigint").alias("y1"),
    )
