"""Algorithm-equivalence property tests for the round-4 operators:
independent reimplementations (numpy) or sibling operators must agree
with the Spark versions exactly — stronger evidence than the oracle
hash because the reference computation shares no code path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMALL, union_find_components


def test_star_cc_equals_min_label_cc(spark, monkeypatch):
    """The star-contraction loop (the distributed branch of
    connected_components) must produce the identical min-label
    (node, comp) labeling on seeded random graphs spanning sparse
    fragments to a near-connected blob. The min-label reference is a
    plain Python union-find that shares no code with the operator."""
    from fts_analysis_datalake_spark import probe
    from fts_analysis_datalake_spark.operators.graphs import connected_components

    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
    for seed, n_nodes, n_edges in ((1, 60, 40), (2, 80, 90), (3, 50, 200)):
        rng = np.random.RandomState(seed)
        pairs = rng.randint(0, n_nodes, size=(n_edges, 2)).tolist()
        pairs = [(int(a), int(b)) for a, b in pairs if a != b]
        edges = spark.createDataFrame(pairs, "src long, dst long")
        star = {
            (r.node, r.comp)
            for r in connected_components(edges, "src", "dst").collect()
        }
        want = set(union_find_components(pairs).items())
        assert star == want, (seed, sorted(star ^ want)[:10])


def test_logistic_newton_matches_numpy(spark):
    """The quantized Newton fit must agree with an independent numpy
    implementation of the same algorithm (same binning, same
    per-term quantization, same iteration count) to the last digit."""
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    got = REGISTRY["q_logistic_newton_purchase"].fn(spark, SF_DIR_SMALL).first()

    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(LEAST(CAST(FLOOR(value * 100 + 0.5) AS BIGINT) // 4900, 9)
                        AS DOUBLE) AS x,
                   COUNT(*) AS m,
                   SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s
            FROM read_parquet('{SF_DIR_SMALL}/events.parquet') GROUP BY 1"""
    ).fetchall()
    x = np.array([r[0] for r in rows])
    m = np.array([float(r[1]) for r in rows])
    s = np.array([float(r[2]) for r in rows])
    b0, b1 = 0.0, 0.0
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(b0 + b1 * x)))
        q6 = lambda v: np.floor(v * 1e6 + 0.5)  # noqa: E731
        g0 = q6(s - m * p).sum()
        g1 = q6(x * (s - m * p)).sum()
        h00 = q6(m * p * (1 - p)).sum()
        h01 = q6(x * m * p * (1 - p)).sum()
        h11 = q6(x * x * m * p * (1 - p)).sum()
        det = h00 * h11 - h01 * h01
        b0 = np.floor((b0 + (h11 * g0 - h01 * g1) / det) * 1e9 + 0.5) / 1e9
        b1 = np.floor((b1 + (h00 * g1 - h01 * g0) / det) * 1e9 + 0.5) / 1e9
    assert got.beta0 == b0, (got.beta0, b0)
    assert got.beta1 == b1, (got.beta1, b1)


def test_ipf_margins_near_uniform(spark):
    """After 5 raking rounds the weighted lang and source margins must
    each be within 2% of their uniform target."""
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    w = REGISTRY["q_ipf_raking_weights"].fn(spark, SF_DIR_SMALL)
    total = w.agg(F.sum(F.col("n") * F.col("weight"))).first()[0]
    for dim in ("lang", "source"):
        margins = (
            w.groupBy(dim).agg(F.sum(F.col("n") * F.col("weight")).alias("mw"))
        ).collect()
        target = total / len(margins)
        for r in margins:
            assert abs(r.mw - target) / target < 0.02, (dim, r)


def test_two_pass_median_equals_sorted_median(spark):
    """The histogram-narrowing median must equal the direct lower
    median of the sorted cents values."""
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    got = REGISTRY["q_two_pass_exact_median"].fn(spark, SF_DIR_SMALL).first()

    import duckdb

    con = duckdb.connect()
    vals = con.execute(
        f"""SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
            FROM read_parquet('{SF_DIR_SMALL}/events.parquet')"""
    ).fetchnumpy()
    arr = np.sort(list(vals.values())[0])
    k = (len(arr) + 1) // 2
    assert got.median_value == arr[k - 1] / 100.0
    assert got.n_rows == len(arr)


def test_context_window_chunks_geometry(spark):
    """E278 invariants at the row level: every doc's chunk count is
    1 + ceil(max(n-W,0)/S), the last chunk is 1..W tokens, all others
    exactly W... verified by re-deriving the per-source sums from the
    raw token counts with plain Python."""
    import math

    import duckdb

    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all
    from tests.conftest import SF_DIR_SMALL

    _load_all()
    rows = {
        r.source: r
        for r in REGISTRY["q_context_window_chunks"].fn(spark, SF_DIR_SMALL).collect()
    }
    W, S = 32, 24
    toks = duckdb.connect().execute(
        "SELECT source, len(list_filter(string_split(trim(regexp_replace("
        "regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),"
        " t -> t <> '')) AS n"
        f" FROM read_parquet('{SF_DIR_SMALL}/documents.parquet')"
    ).fetchall()
    agg = {}
    for source, n in toks:
        if n <= 0:
            continue
        c = 1 + math.ceil(max(n - W, 0) / S)
        sums = sum(min(W, n - i * S) for i in range(c))
        full = sum(1 for i in range(c) if min(W, n - i * S) == W)
        a = agg.setdefault(source, [0, 0, 0, 0])
        a[0] += c
        a[1] += 1
        a[2] += sums
        a[3] += full
    for source, (n_chunks, n_docs, chunk_sum, n_full) in agg.items():
        r = rows[source]
        assert (r.n_chunks, r.n_docs, r.chunk_token_sum, r.n_full) == (
            n_chunks,
            n_docs,
            chunk_sum,
            n_full,
        ), source


def test_unigram_surprisal_bounds(spark):
    """E279: mean surprisal lies in [ln(total/c_max), ln(total)] and
    every doc's token count is positive."""
    import math

    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all
    from tests.conftest import SF_DIR_SMALL

    _load_all()
    rows = REGISTRY["q_unigram_surprisal_scores"].fn(spark, SF_DIR_SMALL).collect()
    assert rows
    assert all(r.n_tokens > 0 for r in rows)
    assert all(0.0 < r.nats_per_token < 30.0 for r in rows)


def test_recursive_walk_depths(spark):
    """E280: root distance of supplier k is exactly floor(log2(k))
    for k >= 1 under parent = key DIV 2 (plus the k=0/1 base cases),
    so the histogram total must equal the supplier count."""
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all
    from tests.conftest import SF_DIR_SMALL

    _load_all()
    rows = REGISTRY["q_recursive_hierarchy_walk"].fn(spark, SF_DIR_SMALL).collect()
    import duckdb

    n_sup = duckdb.connect().execute(
        f"SELECT COUNT(*) FROM read_parquet('{SF_DIR_SMALL}/supplier.parquet')"
    ).fetchone()[0]
    assert sum(r.n_suppliers for r in rows) == n_sup
    assert [r.root_distance for r in rows] == sorted(r.root_distance for r in rows)


def test_bpe_merge_rounds_match_reference(spark):
    """E294: the in-engine BPE merge table must equal a from-scratch
    Sennrich-style reference (get_stats + greedy non-overlapping
    merge on symbol lists) run on the same corpus in pure Python —
    no shared code path, including the replace()-as-merge trick."""
    import re
    from collections import Counter

    import pandas as pd

    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    got = [
        (r.round, r.left_sym, r.right_sym, r.merged, r.pair_count)
        for r in REGISTRY["q_bpe_merge_rounds"].fn(spark, SF_DIR_SMALL).collect()
    ]

    texts = pd.read_parquet(f"{SF_DIR_SMALL}/documents.parquet")["text"]
    wc: Counter = Counter()
    for t in texts:
        norm = re.sub(" +", " ", re.sub("[^a-z0-9 ]", " ", t.lower())).strip()
        for w in norm.split(" "):
            if w:
                wc[w] += 1
    vocab = {w: tuple(w) for w in wc}
    expected = []
    for rnd in range(1, 4):
        stats: Counter = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += wc[w]
        (l, r), pc = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((rnd, l, r, l + r, pc))
        merged = l + r
        new_vocab = {}
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    assert got == expected, (got, expected)


def test_edit_distance_blocking_is_lossless_on_fixture(spark):
    """E302's docstring claims the trailing-token block loses no
    distance-<=2 pair ON THIS FIXTURE (measured, not assumed) — prove
    it by comparing the blocked result against an unblocked all-pairs
    levenshtein over the (tiny, domain-sized) distinct-name table."""
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    blocked = {
        (r.name_a, r.name_b, r.edit_dist)
        for r in REGISTRY["q_edit_distance_entities"]
        .fn(spark, SF_DIR_SMALL)
        .collect()
    }
    from fts_analysis_datalake_spark.catalog import load_table

    names = load_table(spark, SF_DIR_SMALL, "part").select("p_name").distinct()
    a = names.select(F.col("p_name").alias("na"))
    b = names.select(F.col("p_name").alias("nb"))
    allp = {
        (r.na, r.nb, r.d)
        for r in a.crossJoin(b)
        .filter(F.col("na") < F.col("nb"))
        .withColumn("d", F.levenshtein("na", "nb"))
        .filter(F.col("d") <= 2)
        .collect()
    }
    assert blocked == allp and len(allp) > 0


def test_greedy_segmentation_matches_python_replay(spark):
    """E306 reference-equivalence: an independent pure-Python greedy
    longest-match over the same de-spaced prefixes and vocabulary
    must reproduce the per-source token/fallback totals exactly."""
    from fts_analysis_datalake_spark.catalog import load_table
    from fts_analysis_datalake_spark.queries.llm_text import _GLM_PREFIX
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    got = {
        r.source: (r.n_docs, r.total_tokens, r.total_fallbacks)
        for r in REGISTRY["q_greedy_segmentation"].fn(spark, SF_DIR_SMALL).collect()
    }

    docs = load_table(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "text", "source"
    ).collect()
    vocab = set()
    for r in docs:
        vocab.update(w for w in r.text.split(" ") if w)
    by_len = sorted({len(w) for w in vocab}, reverse=True)
    exp: dict = {}
    for r in docs:
        s = r.text.replace(" ", "")[:_GLM_PREFIX]
        pos, n_tok, n_fb = 0, 0, 0
        while pos < len(s):
            adv = None
            for wl in by_len:
                if s[pos : pos + wl] in vocab and len(s[pos : pos + wl]) == wl:
                    adv = wl
                    break
            if adv is None:
                adv, n_fb = 1, n_fb + 1
            pos += adv
            n_tok += 1
        d, t, f = exp.get(r.source, (0, 0, 0))
        exp[r.source] = (d + 1, t + n_tok, f + n_fb)
    assert got == exp


def test_welch_ttest_matches_python_moments(spark):
    """E305 reference-equivalence: recompute every pair's t statistic
    and Welch-Satterthwaite df from collected cent values in pure
    Python (same quantization) and compare exactly."""
    import math

    from fts_analysis_datalake_spark.catalog import load_table
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    got = {
        (r.type_a, r.type_b): (r.n_a, r.n_b, r.mean_diff, r.t_stat, r.welch_df)
        for r in REGISTRY["q_welch_ttest_pairs"].fn(spark, SF_DIR_SMALL).collect()
    }
    rows = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_type", "value"
    ).collect()
    groups: dict = {}
    for r in rows:
        groups.setdefault(r.event_type, []).append(
            int(math.floor(r.value * 100 + 0.5))
        )
    stats = {}
    for et, xs in groups.items():
        n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
        mean = s / n
        var = (q - s / n * s) / (n - 1)
        stats[et] = (n, mean, var)
    qz = lambda x, sc: math.floor(x * sc + 0.5) / sc  # noqa: E731
    exp = {}
    for ta in stats:
        for tb in stats:
            if ta >= tb:
                continue
            na, ma, va = stats[ta]
            nb, mb, vb = stats[tb]
            sea, seb = va / na, vb / nb
            exp[(ta, tb)] = (
                na,
                nb,
                qz((ma - mb) / 100.0, 1e6),
                qz((ma - mb) / math.sqrt(sea + seb), 1e6),
                qz(
                    (sea + seb) * (sea + seb)
                    / (sea * sea / (na - 1) + seb * seb / (nb - 1)),
                    1e4,
                ),
            )
    assert got == exp


def test_ktruss_is_inside_three_core(spark):
    """E308 theorem contract: the 4-truss is a subgraph of the 3-core,
    so every surviving node's degree within the truss is >= 3."""
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    rows = REGISTRY["q_ktruss_parts"].fn(spark, SF_DIR_SMALL).collect()
    assert len(rows) > 0
    assert all(r.truss_deg >= 3 for r in rows)


def test_bellman_ford_matches_python_replay(spark):
    """E301 reference-equivalence: replay the bounded-hop relaxation
    in pure Python over the same integer edge list."""
    from fts_analysis_datalake_spark.catalog import load_table
    from fts_analysis_datalake_spark.queries.joins_sets import (
        _BF_ROUNDS,
        _BF_TOPK,
    )
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    got = [
        (r.node, r.dist)
        for r in REGISTRY["q_bellman_ford_nearest"].fn(spark, SF_DIR_SMALL).collect()
    ]

    li = load_table(spark, SF_DIR_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    ).collect()
    by_order: dict = {}
    for r in li:
        by_order.setdefault(r.l_orderkey, []).append(
            (r.l_partkey, r.l_quantity)
        )
    w: dict = {}
    for rows in by_order.values():
        for i in range(len(rows)):
            for j in range(len(rows)):
                u, qu = rows[i]
                v, qv = rows[j]
                if u < v and abs(qu - qv) <= 2:
                    gap = int(abs(qu - qv))
                    k = (u, v)
                    w[k] = min(w.get(k, 10**9), gap + 1)
    adj: dict = {}
    for (u, v), wt in w.items():
        adj.setdefault(u, []).append((v, wt))
        adj.setdefault(v, []).append((u, wt))
    src = min(adj)
    dist = {src: 0}
    for _ in range(_BF_ROUNDS):
        # weight-0 self-loops in the query carry each node's current
        # dist through the round — mirror that here
        nxt = dict(dist)
        for u, d in dist.items():
            for v, wt in adj[u]:
                if v not in nxt or d + wt < nxt[v]:
                    nxt[v] = d + wt
        dist = nxt
    exp = sorted(((d, n) for n, d in dist.items()))[:_BF_TOPK]
    assert got == [(n, d) for d, n in exp] and len(got) > 0


def test_greedy_cover_gains_are_non_increasing(spark):
    """E300 submodularity contract: marginal gains of the greedy
    picks must be non-increasing, cumulative coverage consistent."""
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    rows = sorted(
        REGISTRY["q_greedy_cover_selection"].fn(spark, SF_DIR_SMALL).collect(),
        key=lambda r: r.round,
    )
    assert len(rows) > 0
    gains = [r.gain for r in rows]
    assert gains == sorted(gains, reverse=True)
    cum = 0
    for r in rows:
        cum += r.gain
        assert r.covered_cum == cum


def test_page_hinkley_matches_python_replay(spark):
    """E303 reference-equivalence: recompute the PH trajectory from
    collected hourly cents in pure Python (same quantization)."""
    import math

    from fts_analysis_datalake_spark.catalog import load_table
    from fts_analysis_datalake_spark.queries.event_analytics import _PH_LAMBDA
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    got = {
        r.event_type: (r.n_hours, r.alarm_hour_s, r.max_excess_dollars)
        for r in REGISTRY["q_page_hinkley_drift"].fn(spark, SF_DIR_SMALL).collect()
    }
    e = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_type", "ts", "value"
    ).collect()
    hourly: dict = {}
    for r in e:
        h = r.ts.replace(minute=0, second=0, microsecond=0)
        key = (r.event_type, h)
        hourly[key] = hourly.get(key, 0) + int(
            math.floor(r.value * 100 + 0.5)
        )
    series: dict = {}
    for (et, h), cents in sorted(hourly.items()):
        series.setdefault(et, []).append((h, cents))
    import calendar

    exp = {}
    for et, pts in series.items():
        s, ph, mn, mx = 0, 0, 0, 0
        alarm = None
        for i, (h, cents) in enumerate(pts, start=1):
            s += cents
            term = cents * 1000000 - math.floor(s * 1000000 / i + 0.5)
            ph += term
            mn = min(mn, ph)
            exc = ph - mn
            mx = max(mx, exc)
            if alarm is None and exc > _PH_LAMBDA:
                alarm = int(calendar.timegm(h.timetuple()))
        exp[et] = (len(pts), alarm, mx / 100000000.0)
    assert got == exp


def test_matryoshka_overlap_matches_numpy(spark):
    """E304 reference-equivalence: recompute both rankings with numpy
    float64 dots (same fold order is irrelevant here — numpy's sum
    differs, so compare via exact-rank replay using Python floats in
    sequential order)."""
    from fts_analysis_datalake_spark.catalog import load_table
    from fts_analysis_datalake_spark.queries.llm_vectors import (
        _MAT_DIM,
        _MAT_K,
        _MAT_STRIDE,
    )
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    got = {
        r.q_id: (r.n_common_at_k, r.top1_same)
        for r in REGISTRY["q_matryoshka_truncation_audit"]
        .fn(spark, SF_DIR_SMALL)
        .collect()
    }
    vecs = {
        r.vec_id: [float(x) for x in r.embedding]
        for r in load_table(spark, SF_DIR_SMALL, "embeddings").collect()
    }

    def seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    exp = {}
    for qid, qv in vecs.items():
        if qid % _MAT_STRIDE != 1:
            continue
        full, trunc = [], []
        for vid, cv in vecs.items():
            if vid == qid:
                continue
            full.append((-seq_dot(cv, qv), vid))
            trunc.append((-seq_dot(cv[:_MAT_DIM], qv[:_MAT_DIM]), vid))
        top_f = {v for _, v in sorted(full)[:_MAT_K]}
        top_t = {v for _, v in sorted(trunc)[:_MAT_K]}
        exp[qid] = (
            len(top_f & top_t),
            sorted(full)[0][1] == sorted(trunc)[0][1],
        )
    assert got == exp and len(exp) > 0


def test_fd_holds_iff_no_violations(spark):
    """E307 internal consistency + at least one held and one violated
    candidate on the fixture (the report's value is the split)."""
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    rows = REGISTRY["q_fd_discovery_report"].fn(spark, SF_DIR_SMALL).collect()
    assert all((r.n_violating == 0) == r.holds for r in rows)
    assert any(r.holds for r in rows) and any(not r.holds for r in rows)


def test_delta_encoding_bits_match_python_replay(spark):
    """E309 reference-equivalence: recompute the Gorilla bit cost
    from collected hourly cents in pure Python."""
    import math

    from fts_analysis_datalake_spark.catalog import load_table
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    got = {
        r.event_type: (r.n_points, r.n_zero_dd, r.total_bits)
        for r in REGISTRY["q_delta_encoding_audit"].fn(spark, SF_DIR_SMALL).collect()
    }
    e = load_table(spark, SF_DIR_SMALL, "events").select(
        "event_type", "ts", "value"
    ).collect()
    hourly: dict = {}
    for r in e:
        h = r.ts.replace(minute=0, second=0, microsecond=0)
        key = (r.event_type, h)
        hourly[key] = hourly.get(key, 0) + int(math.floor(r.value * 100 + 0.5))
    series: dict = {}
    for (et, h), cents in sorted(hourly.items()):
        series.setdefault(et, []).append(cents)
    exp = {}
    for et, xs in series.items():
        bits, zeros = 0, 0
        for i, x in enumerate(xs):
            if i < 2:
                bits += 64
                continue
            dd = (xs[i] - xs[i - 1]) - (xs[i - 1] - xs[i - 2])
            if dd == 0:
                bits += 1
                zeros += 1
            else:
                z = 2 * dd if dd >= 0 else -2 * dd - 1
                bits += 5 + len(bin(z)[2:])
        exp[et] = (len(xs), zeros, bits)
    assert got == exp


def test_count_gated_branches_agree(spark, monkeypatch):
    """The count-gated single-task kernels and their distributed
    else-branches (the 100 TB paths) must produce IDENTICAL results —
    force the else-branch by patching each gate constant to 0 and
    compare against the kernel output on the same fixture. Every case
    is integer-exact, so equality is exact, not approximate. The probe
    record must show each constant really routes: its gate takes the
    kernel before the patch and the distributed branch after."""
    from fts_analysis_datalake_spark import probe
    from fts_analysis_datalake_spark.operators import graphs
    from fts_analysis_datalake_spark.queries import (
        advanced_models,
        event_analytics,
        joins_sets,
        llm_curation,
        llm_text,
        llm_vectors,
        robust_models,
        stats_models,
    )
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    cases = [
        ("q_greedy_segmentation", llm_text, "_GLM_GATE", "greedy_segmentation"),
        # surviving edges from either branch; one Spark degree count
        ("q_kcore_suppliers", advanced_models, "_KCORE_GATE", "kcore"),
        ("q_ktruss_parts", joins_sets, "_KT_GATE", "ktruss"),
        # per-node (h_q, seeds reached) from either branch; one top-20
        ("q_harmonic_centrality", joins_sets, "_HC_GATE", "harmonic"),
        # node-count gate: a sparse many-node graph must route to the
        # join branch even when the EDGE count is under _HC_GATE —
        # patching the node gate to 0 simulates exactly that routing
        ("q_harmonic_centrality", joins_sets, "_HC_NODE_GATE", "harmonic"),
        # seed-count gate: the per-hop matmul allocates (seeds x
        # nodes) transients, so a huge seed panel must also route to
        # the join branch even when edges AND nodes pass their gates
        ("q_harmonic_centrality", joins_sets, "_HC_SEED_GATE", "harmonic"),
        ("q_greedy_cover_selection", llm_curation, "_COVER_GATE", "set_cover"),
        # r10: single-task BIGINT-Lloyd finisher vs the distributed
        # linear-lineage loop — integer-exact, so equality is exact
        ("q_kmeans_quantized_exact", llm_vectors, "_KMQ_FINISH_ROWS", "kmeans_quantized"),
        # r10: bucketed greedy sweep vs the pointer-doubled join walk
        ("q_interval_scheduling_users", event_analytics, "_IS_GATE", "interval_scheduling"),
        # r10: numpy doubling replay vs the rerooted self-join loop
        ("q_functional_graph_rho", joins_sets, "_FG_GATE", "functional_rho"),
        # r10: single-task Brandes replay vs the 5-join level pipeline
        # (integer bq sums; the top-20 runs in Spark after either branch)
        ("q_betweenness_centrality", joins_sets, "_BC_NODE_GATE", "betweenness"),
        # r11: single-task per-series LOF kernel vs the pair-join +
        # window + keyed-joins pipeline (integer-exact lof_q; the
        # emitted lof double is one division of it in both branches)
        ("q_lof_hourly_anomalies", stats_models, "_LOF_KERNEL_PTS", "lof_kernel"),
        ("q_lof_hourly_anomalies", stats_models, "_LOF_KERNEL_SERIES", "lof_kernel"),
        # r12: single-task vectorized 64-trial scorer (sample via
        # TakeOrdered + tagged union) vs the BNLJ expansion + wide
        # hash aggregate. The emitted inlier_frac double is the same
        # single floor-quantized division in both branches; everything
        # else is integer-exact
        ("q_ransac_price_line", robust_models, "_RS_KERNEL_PTS", "ransac"),
        # r12: single-task bincount/add.at bounded-hop path counts vs
        # the two persisted join+agg rounds + three-way join (integer
        # path counts; the kq score and top-20 run in Spark after
        # either branch)
        ("q_katz_centrality", joins_sets, "_KZ_GATE", "katz"),
        # r12: single-task minimum.at relaxation vs the self-loop join
        # loop (integer distances, same min-node source and fixpoint;
        # the top-20 runs in Spark after either branch)
        ("q_bellman_ford_nearest", joins_sets, "_BF_GATE", "bellman_ford"),
        # r12: single-task run-length synchronous LPA vs the per-round
        # join + groupBy + row_number pipeline (integer labels, same
        # (count desc, label asc) argmax; the community count and
        # top-20 run in Spark after either branch)
        ("q_lpa_communities", joins_sets, "_LPA_GATE", "lpa"),
        # r12: single-task 21-slope exact-median sweep vs the
        # crossJoin fan + window + join-back (integer medians/losses;
        # abs_loss_total is the same /100.0 in both branches)
        ("q_quantile_regression_grid", robust_models, "_QR_KERNEL_PTS", "quantile_grid"),
        # graphs.pagerank_exact, one case per caller: the single-task
        # integer replay with explicit reached mask vs the linear-
        # lineage full-outer join loop (integer DIV arithmetic; the
        # label / is_seed / top-k run in Spark after either branch).
        # TextRank: string nodes, every node a seed, 5 rounds
        ("q_textrank_keywords", graphs, "_PAGERANK_EXACT_GATE", "pagerank_quantized"),
        # r12: single-task integer HITS replay vs the per-round
        # checkpoint + broadcast-max loop (all arithmetic int64 DIV)
        ("q_hits_quantized_exact", joins_sets, "_HITS_GATE", "hits"),
        # integer PageRank: long nodes, every node a seed
        ("q_pagerank_quantized_exact", graphs, "_PAGERANK_EXACT_GATE", "pagerank_quantized"),
        # personalized PageRank: a seed set, so a sparse frontier
        ("q_personalized_pagerank", graphs, "_PAGERANK_EXACT_GATE", "pagerank_quantized"),
        # connected components: the union-find finisher vs the extra
        # seed passes + star loop (integer cluster and member counts).
        # q_dedup_clusters cannot serve here: its sf0.001 pair graph
        # collapses in the first seed pass ("seed_collapsed")
        ("q_semantic_dedup_report", graphs, "_CC_GATE", "cc_star"),
        # BFS: the dict-walk kernel vs the unrolled 6-hop plan
        ("q_bfs_hops_from_supplier", graphs, "_BFS_GATE", "bfs_hops"),
    ]
    try:
        for name, mod, const, gate in cases:
            probe.enable()
            kernel = sorted(
                tuple(r) for r in REGISTRY[name].fn(spark, SF_DIR_SMALL).collect()
            )
            assert probe.branches().get(gate) == "kernel", (name, const)
            monkeypatch.setattr(mod, const, 0)
            try:
                dist = sorted(
                    tuple(r)
                    for r in REGISTRY[name].fn(spark, SF_DIR_SMALL).collect()
                )
                assert probe.branches().get(gate) == "distributed", (name, const)
            finally:
                monkeypatch.undo()
            assert kernel == dist and len(kernel) > 0, name
    finally:
        probe.disable()


def test_probe_force_distributed_routes_and_records(spark, monkeypatch):
    """probe.FORCE_DISTRIBUTED must route a gated query to its
    distributed else-branch (recorded as such) without changing the
    result — the mechanism the scale probe uses to time the 100 TB
    path on gate-admissible data."""
    from fts_analysis_datalake_spark import probe
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    fn = REGISTRY["q_kcore_suppliers"].fn
    probe.enable()
    try:
        base = sorted(tuple(r) for r in fn(spark, SF_DIR_SMALL).collect())
        assert probe.branches().get("kcore") == "kernel"
        monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)
        forced = sorted(tuple(r) for r in fn(spark, SF_DIR_SMALL).collect())
        assert probe.branches().get("kcore") == "distributed"
    finally:
        monkeypatch.undo()
        probe.disable()
    assert base == forced and len(base) > 0


def test_harmonic_blockwise_matmul_exact(spark, monkeypatch):
    """The seed-row-blocked matmul inside the harmonic kernel must be
    a pure memory optimization: forcing 1-row blocks (maximally many
    block boundaries) must reproduce the default-block result exactly."""
    from fts_analysis_datalake_spark.queries import joins_sets
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    fn = REGISTRY["q_harmonic_centrality"].fn
    base = sorted(tuple(r) for r in fn(spark, SF_DIR_SMALL).collect())
    monkeypatch.setattr(joins_sets, "_HC_MM_BLOCK", 1)
    try:
        blocked = sorted(tuple(r) for r in fn(spark, SF_DIR_SMALL).collect())
    finally:
        monkeypatch.undo()
    assert base == blocked and len(base) > 0


def test_stable_matching_short_panel_parity(spark, tmp_path):
    """ADVICE r10: a corpus with fewer than _GS_N distinct suppliers /
    customers must yield a short panel that BOTH engines walk
    identically (the old fixed range(1, _GS_N + 1) bounds raised
    KeyError in the kernel while the oracle's out-of-bounds list
    indexing silently mis-assigned). Build a 3-supplier x 3-customer
    corpus by filtering sf0.001 and assert full engine/oracle parity."""
    import duckdb

    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all
    from tests.conftest import SF_DIR_SMALL, assert_parity

    _load_all()
    q = REGISTRY["q_stable_matching_panel"]

    con = duckdb.connect()
    con.execute(
        f"""
        COPY (SELECT * FROM read_parquet('{SF_DIR_SMALL}/orders.parquet')
              WHERE o_custkey % 50 = 1)
        TO '{tmp_path}/orders.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (SELECT l.* FROM read_parquet('{SF_DIR_SMALL}/lineitem.parquet') l
              WHERE l.l_suppkey <= 3
                AND l.l_orderkey IN (
                  SELECT o_orderkey
                  FROM read_parquet('{tmp_path}/orders.parquet')))
        TO '{tmp_path}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    n_sup, n_cus = con.execute(
        f"""
        SELECT COUNT(DISTINCT l.l_suppkey), COUNT(DISTINCT o.o_custkey)
        FROM read_parquet('{tmp_path}/lineitem.parquet') l
        JOIN read_parquet('{tmp_path}/orders.parquet') o
          ON o.o_orderkey = l.l_orderkey
        """
    ).fetchone()
    from fts_analysis_datalake_spark.queries.advanced_models import _GS_N

    assert 0 < n_sup < _GS_N and 0 < n_cus < _GS_N, (
        f"fixture must exercise the short-panel path: {n_sup=} {n_cus=}"
    )
    for t in ("orders", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tmp_path}/{t}.parquet')"
        )
    try:
        assert_parity(
            q.fn(spark, str(tmp_path)), con, q.oracle,
            "q_stable_matching_panel[short-panel]",
        )
    finally:
        con.close()


def test_mul_i64_raises_at_the_int64_edge():
    """The kernels' checked multiply is exact up to the last
    representable product and raises one step past it, on both signs,
    where numpy's own int64 multiply would wrap."""
    import pytest

    from fts_analysis_datalake_spark.probe import mul_i64

    top, bottom = 2**63 - 1, -(2**63)
    got = mul_i64(np.array([top // 2, 0, bottom // 2]), 2)
    assert got.dtype == np.int64
    assert got.tolist() == [top - 1, 0, bottom]
    assert mul_i64(np.array([top // 7]), -7).tolist() == [-(top // 7) * 7]
    for a, k in ((top // 2 + 1, 2), (bottom // 2 - 1, 2), (bottom // 2, -2)):
        with pytest.raises(OverflowError):
            mul_i64(np.array([0, a]), k)
    assert mul_i64(np.array([], dtype=np.int64), 2**40).tolist() == []


def test_single_task_null_and_empty_contract(spark):
    """probe.single_task raises on a null input naming the kernel and
    column, returns zero rows WITHOUT calling the kernel on empty
    input, and passes non-empty null-free input through as one frame."""
    import pytest

    from fts_analysis_datalake_spark import probe

    def ident(pdf):
        return pdf

    def must_not_run(pdf):
        raise AssertionError("kernel called on empty input")

    schema = "u bigint, v bigint"
    df = spark.createDataFrame([(1, 2), (3, None), (5, 6)], schema)
    with pytest.raises(Exception, match=r"ident: null in input column\(s\) \['v'\]"):
        probe.single_task(df, ident, schema).collect()
    assert probe.single_task(df.filter("u < 0"), must_not_run, schema).collect() == []
    rows = probe.single_task(df.dropna(), ident, schema).collect()
    assert sorted(tuple(r) for r in rows) == [(1, 2), (5, 6)]


def test_kmq_kernel_overflow_guard_is_loud(spark):
    """ADVICE r10: the single-task Lloyd kernel's per-cluster distance
    sum can exceed int64 inside the row gate; numpy would wrap
    silently where Spark ANSI SUM and DuckDB's HUGEINT->BIGINT cast
    both raise. The kernel must raise loudly instead of emitting a
    wrapped value. Two rows at +/-2.4e9 on one dim keep every per-row
    distance inside int64 (5.76e18) while their cluster sum (1.15e19)
    overflows."""
    import pytest

    from fts_analysis_datalake_spark.queries.llm_vectors import (
        _KMQ_DIM,
        _kmq_single_task,
    )

    big = 2_400_000_000
    rows = [
        (0, [0] * _KMQ_DIM),
        (10, [big] + [0] * (_KMQ_DIM - 1)),
        (11, [-big] + [0] * (_KMQ_DIM - 1)),
    ]
    q = spark.createDataFrame(rows, "vec_id bigint, q array<bigint>")
    with pytest.raises(Exception, match="total_qdist"):
        _kmq_single_task(q).collect()


def _events_window_fixture(tmp_path, hours: int) -> str:
    """Filter sf0.001 events to the first `hours` hours (global h0
    anchor), preserving the fixture schema, for degenerate-span
    regression tests."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"""
            COPY (
              WITH h0 AS (SELECT MIN(date_trunc('hour', ts)) AS h
                          FROM read_parquet('{SF_DIR_SMALL}/events.parquet'))
              SELECT e.* FROM read_parquet('{SF_DIR_SMALL}/events.parquet') e,
                   h0
              WHERE e.ts < h0.h + INTERVAL {hours} HOUR)
            TO '{tmp_path}/events.parquet' (FORMAT PARQUET)
            """
        )
    finally:
        con.close()
    return str(tmp_path)


def _parity_on_dir(spark, name: str, sf_dir: str):
    import duckdb

    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all
    from tests.conftest import assert_parity

    _load_all()
    q = REGISTRY[name]
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
        )
        sdf = q.fn(spark, sf_dir)
        assert_parity(sdf, con, q.oracle, f"{name}[degenerate-span]")
        return sdf
    finally:
        con.close()


def test_burstiness_one_hour_span_yields_null_not_nan(spark, tmp_path):
    """ADVICE r10: a one-hour span gives n = 1; the (n - 1) divisor
    must be NULLIF-guarded so BOTH engines emit NULL (DuckDB's IEEE
    0/0 NaN previously errored at the BIGINT quantize cast while
    Spark returned NULL)."""
    d = _events_window_fixture(tmp_path, hours=1)
    sdf = _parity_on_dir(spark, "q_burstiness_hourly", d)
    rows = sdf.collect()
    assert len(rows) > 0
    assert all(r["n_hours"] == 1 and r["fano_factor"] is None for r in rows)


def test_hurst_single_block_yields_null_not_nan(spark, tmp_path):
    """ADVICE r10: a 9-hour span gives exactly ONE complete m=8 block
    (nb = 1) — the (nb - 1) divisor must be NULLIF-guarded so the
    m=8 variance is NULL on both engines instead of DuckDB NaN."""
    d = _events_window_fixture(tmp_path, hours=9)
    sdf = _parity_on_dir(spark, "q_hurst_aggregated_variance", d)
    rows = sdf.collect()
    assert len(rows) > 0
    assert all(r["ln_var_m8"] is None for r in rows)
