"""Hypothesis property tests for the warehouse-lifecycle operators
(E12 merge_upsert, E13 scd2_history) against exact Python replay
models — randomized inputs cover the key-domain edge cases (empty
base, empty batch, all-deletes, delete-of-absent-key, attribute
runs) that the fixture-derived oracle queries exercise only at the
shapes the fixtures happen to contain.

derandomize=True: the shrinker seed is fixed, so the suite stays
deterministic in CI; deadline=None because each example pays Spark
job latency, not compute.
"""

from hypothesis import given, settings, strategies as st

from fts_analysis_datalake_spark.operators.cdc import merge_upsert, scd2_history

KEYS = st.integers(min_value=0, max_value=7)
VALS = st.integers(min_value=-5, max_value=5)


@settings(max_examples=15, deadline=None, derandomize=True)
@given(
    base=st.dictionaries(KEYS, VALS, max_size=8),
    changes=st.dictionaries(
        KEYS, st.tuples(st.sampled_from("UD"), VALS), max_size=8
    ),
)
def test_merge_upsert_matches_dict_replay(spark, base, changes):
    """change-wins-per-key + delete-tombstones == dict replay, for
    every combination of overlapping/disjoint key sets, including
    deletes of keys absent from the base (must be a no-op, not a
    resurrected row)."""
    base_df = spark.createDataFrame(
        list(base.items()), "k BIGINT, v BIGINT"
    )
    ch_df = spark.createDataFrame(
        [(k, v, op) for k, (op, v) in changes.items()],
        "k BIGINT, v BIGINT, _op STRING",
    )
    expected = dict(base)
    for k, (op, v) in changes.items():
        if op == "U":
            expected[k] = v
        else:
            expected.pop(k, None)
    got = {(r.k, r.v) for r in merge_upsert(base_df, ch_df, ["k"]).collect()}
    assert got == set(expected.items())


@settings(max_examples=15, deadline=None, derandomize=True)
@given(
    events=st.lists(
        st.tuples(st.integers(min_value=0, max_value=3), st.sampled_from("abc")),
        min_size=1,
        max_size=16,
    )
)
def test_scd2_matches_run_replay(spark, events):
    """Interval-per-attribute-run == per-key sequential replay:
    consecutive duplicates collapse into the open interval, each
    change closes the previous interval at its own ts, and exactly
    the last interval per key is current."""
    rows = [(k, i, a, i) for i, (k, a) in enumerate(events)]
    df = spark.createDataFrame(rows, "k BIGINT, ts BIGINT, attr STRING, tb BIGINT")

    per_key: dict = {}
    for k, ts, a, _tb in rows:
        per_key.setdefault(k, []).append((ts, a))
    expected = set()
    for k, evs in per_key.items():
        evs.sort()
        runs = [(ts, a) for i, (ts, a) in enumerate(evs) if i == 0 or evs[i - 1][1] != a]
        for i, (ts, a) in enumerate(runs):
            nxt = runs[i + 1][0] if i + 1 < len(runs) else None
            expected.add((k, a, ts, nxt, nxt is None))

    got = {
        (r.k, r.attr, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_history(df, ["k"], "ts", "attr", "tb").collect()
    }
    assert got == expected


@settings(max_examples=15, deadline=None, derandomize=True)
@given(
    gaps=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2),  # user
            st.integers(min_value=0, max_value=40),  # seconds offset
        ),
        min_size=1,
        max_size=16,
    )
)
def test_sessionize_matches_gap_replay(spark, gaps):
    """Gap-and-island session ids == per-user sequential replay with
    the same >gap_seconds rule (W8). Random offsets cover ties
    (gap 0), exact-boundary gaps (== gap_seconds stays in-session),
    and single-event users."""
    import datetime as dt

    from fts_analysis_datalake_spark.operators.windows import sessionize

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(seconds=s), i) for i, (u, s) in enumerate(gaps)
    ]
    df = spark.createDataFrame(rows, "u BIGINT, ts TIMESTAMP, tb BIGINT")

    per_user: dict = {}
    for u, ts, tb in rows:
        per_user.setdefault(u, []).append((ts, tb))
    expected = {}
    for u, evs in per_user.items():
        evs.sort()
        sess = 0
        prev = None
        for ts, tb in evs:
            if prev is None or (ts - prev).total_seconds() > 10:
                sess += 1
            expected[(u, tb)] = sess
            prev = ts

    got = {
        (r.u, r.tb): r.session_id
        for r in sessionize(df, "u", "ts", "tb", gap_seconds=10).collect()
    }
    assert got == expected


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=11),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_connected_components_matches_union_find(spark, pairs):
    """The distributed CC branch (seed contraction + star loop, the
    100 TB path) == classic union-find replay on arbitrary random
    graphs (self-loops, duplicate and reversed edges included) —
    hypothesis shrinks any failure to a minimal edge list, which the
    fixed LCG battery cannot."""
    from unittest import mock

    from fts_analysis_datalake_spark import probe
    from fts_analysis_datalake_spark.operators.graphs import connected_components
    from tests.conftest import union_find_components

    edges = spark.createDataFrame(pairs, "src BIGINT, dst BIGINT")
    with mock.patch.object(probe, "FORCE_DISTRIBUTED", True):
        got = {r.node: r.comp for r in connected_components(edges).collect()}
    assert got == union_find_components(pairs)


def test_operators_invariant_under_repartitioning(spark, monkeypatch):
    """Physical partitioning must never change results (the cluster
    contract: the same query on 1 or 1000 partitions is the same
    query). Run the lifecycle/window operators on the same logical
    input under several adversarial partitionings and assert
    identical output sets."""
    import datetime as dt

    from fts_analysis_datalake_spark import probe
    from fts_analysis_datalake_spark.operators.graphs import connected_components
    from fts_analysis_datalake_spark.operators.windows import sessionize

    base_rows = [(k, k % 3 - 1) for k in range(8)]
    ch_rows = [(k, k * 2, "U" if k % 3 else "D") for k in range(0, 12, 2)]
    ev_rows = [
        (u, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s), i)
        for i, (u, s) in enumerate(
            [(0, 0), (0, 5), (0, 30), (1, 2), (1, 13), (1, 24), (2, 40)]
        )
    ]
    edge_rows = [(1, 2), (2, 3), (5, 5), (7, 8), (8, 7), (3, 1)]
    # Connected components runs its distributed branch: the kernel
    # branch repartitions to one task, which would hide partitioning.
    monkeypatch.setattr(probe, "FORCE_DISTRIBUTED", True)

    results = []
    for parts in (1, 3, 16):
        base = spark.createDataFrame(base_rows, "k BIGINT, v BIGINT").repartition(parts)
        ch = spark.createDataFrame(
            ch_rows, "k BIGINT, v BIGINT, _op STRING"
        ).repartition(parts)
        ev = spark.createDataFrame(
            ev_rows, "u BIGINT, ts TIMESTAMP, tb BIGINT"
        ).repartition(parts)
        edges = spark.createDataFrame(edge_rows, "src BIGINT, dst BIGINT").repartition(
            parts
        )
        results.append(
            (
                {(r.k, r.v) for r in merge_upsert(base, ch, ["k"]).collect()},
                {
                    (r.u, r.tb, r.session_id)
                    for r in sessionize(ev, "u", "ts", "tb", gap_seconds=10).collect()
                },
                {
                    (r.u, r.attr, r.valid_from, r.valid_to)
                    for r in scd2_history(
                        ev.withColumn("attr", (ev["tb"] % 2).cast("string")),
                        ["u"],
                        "ts",
                        "attr",
                        "tb",
                    ).collect()
                },
                {(r.node, r.comp) for r in connected_components(edges).collect()},
            )
        )
    assert results[0] == results[1] == results[2]


def test_operators_handle_empty_input(spark, monkeypatch):
    """Empty-input contract for operator-level finishers and loops:
    at 100 TB an upstream filter can legitimately yield nothing, and
    BOTH branches (single-task kernel and distributed loop) must
    return an empty/degenerate result rather than crash — the kernel
    branch is the risky one (pd.concat over zero Arrow batches)."""
    from fts_analysis_datalake_spark import probe
    from fts_analysis_datalake_spark.operators.graphs import (
        bfs_hops,
        connected_components,
        pagerank,
    )

    empty = spark.createDataFrame([], "src BIGINT, dst BIGINT")
    assert pagerank(empty).count() == 0
    # BFS from an absent source still reports the source at hop 0 in
    # both branches (distance to itself is defined without edges).
    k = {(r.node, r.hop) for r in bfs_hops(empty, 1).collect()}
    assert connected_components(empty).count() == 0
    with monkeypatch.context() as m:
        m.setattr(probe, "FORCE_DISTRIBUTED", True)
        assert pagerank(empty).count() == 0
        d = {(r.node, r.hop) for r in bfs_hops(empty, 1).collect()}
    assert k == d == {(1, 0)}

    ch = spark.createDataFrame([], "k BIGINT, v BIGINT, _op STRING")
    base = spark.createDataFrame([(1, 2)], "k BIGINT, v BIGINT")
    assert {(r.k, r.v) for r in merge_upsert(base, ch, ["k"]).collect()} == {(1, 2)}
    empty_base = spark.createDataFrame([], "k BIGINT, v BIGINT")
    assert merge_upsert(empty_base, ch, ["k"]).count() == 0


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=3,
            max_size=10,
        ).map(" ".join),
        min_size=2,
        max_size=6,
    )
)
def test_prefix_filter_is_lossless(spark, texts):
    """PPJoin losslessness (the E68 pigeonhole theorem): every pair
    with set-Jaccard >= threshold over 3-gram shingles MUST appear in
    the prefix-filtered candidates — on random tiny-vocabulary docs
    where shingle collisions and boundary Jaccards actually occur.
    Inputs are pre-normalized (lowercase alnum, single spaces), so
    the Python truth model is plain word 3-grams."""
    from fts_analysis_datalake_spark.caching import release_tracked
    from fts_analysis_datalake_spark.operators.dedup import prefix_filter_candidates

    t = 0.5
    shingle_sets = {}
    for i, txt in enumerate(texts):
        ws = txt.split()
        shingle_sets[i] = {
            " ".join(ws[j : j + 3]) for j in range(len(ws) - 2)
        }
    qualifying = {
        (a, b)
        for a in shingle_sets
        for b in shingle_sets
        if a < b
        and shingle_sets[a]
        and shingle_sets[b]
        and len(shingle_sets[a] & shingle_sets[b])
        / len(shingle_sets[a] | shingle_sets[b])
        >= t
    }

    df = spark.createDataFrame(
        [(i, txt) for i, txt in enumerate(texts)], "id BIGINT, text STRING"
    )
    try:
        cands = {
            (r.id_a, r.id_b)
            for r in prefix_filter_candidates(df, "id", "text", t).collect()
        }
    finally:
        release_tracked()
    assert qualifying <= cands, (qualifying - cands, texts)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    a=st.text(alphabet="0123456789", min_size=9, max_size=9),
    b=st.text(alphabet="0123456789", min_size=9, max_size=9),
)
def test_symspell_deletion_neighborhoods_intersect(a, b):
    """The E23 completeness theorem, pure Python: for 9-char keys
    with lev(a,b) <= 2, the delete-<=2 variant neighborhoods (1
    identity + 9 single + 36 double deletions — the exact recipe both
    the Spark query and the DuckDB oracle emit) must intersect, so
    the variant equi-join can never miss a qualifying pair."""

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(
                    min(
                        prev[j] + 1,
                        cur[-1] + 1,
                        prev[j - 1] + (cx != cy),
                    )
                )
            prev = cur
        return prev[-1]

    def variants(d):
        out = {d}
        for j in range(9):
            out.add(d[:j] + d[j + 1 :])
        for i in range(9):
            for j in range(i + 1, 9):
                out.add(d[:i] + d[i + 1 : j] + d[j + 1 :])
        return out

    if lev(a, b) <= 2:
        assert variants(a) & variants(b), (a, b)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    a=st.text(alphabet="0123456789", min_size=9, max_size=9),
    edits=st.lists(
        st.tuples(
            st.sampled_from("sdi"),  # substitute / delete+append / insert+trim
            st.integers(min_value=0, max_value=8),
            st.sampled_from("0123456789"),
        ),
        min_size=0,
        max_size=2,
    ),
)
def test_symspell_neighborhoods_intersect_under_edits(a, edits):
    """Constructive companion to the random-pair test: b is built
    from a by <=2 length-preserving edits (substitution, or the
    delete-at-i/append and insert-at-i/trim shifts that realize
    mixed delete+insert alignments), so every example exercises the
    lev<=2 precondition rather than sampling it by luck."""
    b = a
    for op, i, c in edits:
        if op == "s":
            b = b[:i] + c + b[i + 1 :]
        elif op == "d":
            b = b[:i] + b[i + 1 :] + c
        else:
            b = (b[:i] + c + b[i:])[:9]

    def lev(x, y):
        prev = list(range(len(y) + 1))
        for ii, cx in enumerate(x, 1):
            cur = [ii]
            for jj, cy in enumerate(y, 1):
                cur.append(min(prev[jj] + 1, cur[-1] + 1, prev[jj - 1] + (cx != cy)))
            prev = cur
        return prev[-1]

    def variants(d):
        out = {d}
        for j in range(9):
            out.add(d[:j] + d[j + 1 :])
        for i2 in range(9):
            for j in range(i2 + 1, 9):
                out.add(d[:i2] + d[i2 + 1 : j] + d[j + 1 :])
        return out

    if lev(a, b) <= 2:
        assert variants(a) & variants(b), (a, b, edits)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    dim=st.sets(st.integers(min_value=0, max_value=500), min_size=1, max_size=30),
    fact=st.lists(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
)
def test_bloom_prefilter_no_false_negatives(spark, dim, fact):
    """Bloom semi-join contract: a fact key present in the dim set
    must NEVER be dropped (false positives allowed, false negatives
    impossible) — on random key universes with real hash collisions
    in the 2048-bit filter."""
    from fts_analysis_datalake_spark.operators.scale import bloom_build, bloom_prefilter

    dim_df = spark.createDataFrame([(k,) for k in dim], "k BIGINT")
    fact_df = spark.createDataFrame([(k, i) for i, k in enumerate(fact)], "k BIGINT, i BIGINT")
    bloom = bloom_build(dim_df, "k")
    kept = {(r.k, r.i) for r in bloom_prefilter(fact_df, "k", bloom).collect()}
    must_keep = {(k, i) for i, k in enumerate(fact) if k in dim}
    assert must_keep <= kept


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    items=st.lists(
        st.sampled_from("abcdefgh"), min_size=1, max_size=60
    ),
    parts=st.integers(min_value=1, max_value=5),
)
def test_son_candidates_superset_of_global_frequents(spark, items, parts):
    """SON phase-1 guarantee (pigeonhole over fractions): every item
    with global frequency >= support_frac * total must appear in the
    per-partition candidate union — under arbitrary (adversarial)
    partitionings of the item stream."""
    from collections import Counter

    from fts_analysis_datalake_spark.operators.scale import son_candidates

    frac = 0.3
    df = spark.createDataFrame([(x,) for x in items], "item STRING").repartition(parts)
    cands = {r.item for r in son_candidates(df, "item", frac).collect()}
    counts = Counter(items)
    global_frequent = {i for i, n in counts.items() if n >= frac * len(items)}
    assert global_frequent <= cands, (global_frequent - cands, items, parts)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    left=st.lists(
        st.tuples(
            st.sampled_from([0, 0, 0, 0, 1, 2, 3]),  # hot key 0
            st.integers(min_value=-9, max_value=9),
        ),
        min_size=1,
        max_size=30,
    ),
    right=st.lists(
        st.tuples(st.integers(min_value=0, max_value=4), st.integers(min_value=-9, max_value=9)),
        min_size=0,
        max_size=10,
    ),
    salts=st.integers(min_value=1, max_value=8),
)
def test_salted_join_row_identical_to_plain(spark, left, right, salts):
    """salted_equi_join must be ROW-identical (multiset, not set) to
    the plain join under randomized skew (a deliberately hot key),
    duplicate rows on both sides, unmatched keys, an empty right
    side, and every salt count 1..8."""
    from collections import Counter

    from fts_analysis_datalake_spark.operators.scale import salted_equi_join

    l_df = spark.createDataFrame(left, "k BIGINT, lv BIGINT")
    r_df = spark.createDataFrame(right, "k BIGINT, rv BIGINT") if right else (
        spark.createDataFrame([], "k BIGINT, rv BIGINT")
    )
    plain = Counter(
        (r.k, r.lv, r.rv) for r in l_df.join(r_df, "k").collect()
    )
    salted = Counter(
        (r.k, r.lv, r.rv)
        for r in salted_equi_join(l_df, r_df, "k", salts=salts).collect()
    )
    assert salted == plain


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=1,
            max_size=10,
        ).map(" ".join),
        min_size=2,
        max_size=6,
    )
)
def test_exact_jaccard_matches_set_model(spark, texts):
    """D4 verify stage == Python set-Jaccard on random docs, in both
    granularities (token sets and 3-gram shingle sets) — the number
    every dedup pipeline's final keep/drop decision trusts. Docs
    shorter than the shingle width have empty shingle sets; those
    pairs divide 0 by 0 and are excluded from both sides."""
    from fts_analysis_datalake_spark.caching import release_tracked
    from fts_analysis_datalake_spark.operators.dedup import exact_jaccard_for_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id BIGINT, text STRING"
    )
    all_pairs = [(a, b) for a in range(len(texts)) for b in range(len(texts)) if a < b]
    pairs = spark.createDataFrame(all_pairs, "id_a BIGINT, id_b BIGINT")

    for shingle_n, mk in [
        (None, lambda ws: set(ws)),
        (3, lambda ws: {" ".join(ws[j : j + 3]) for j in range(len(ws) - 2)}),
    ]:
        sets = {i: mk(t.split()) for i, t in enumerate(texts)}
        expected = {
            (a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
            for a, b in all_pairs
            if sets[a] or sets[b]
        }
        try:
            got = {
                (r.id_a, r.id_b): r.jaccard
                for r in exact_jaccard_for_pairs(
                    df, "id", "text", pairs, shingle_n=shingle_n
                ).collect()
            }
        finally:
            release_tracked()
        # pairs where one side has no elements at this granularity
        # drop out of the join (no element row -> no collect_set row)
        got = {k: v for k, v in got.items() if k in expected}
        for k, v in expected.items():
            if k in got:
                assert abs(got[k] - v) < 1e-12, (k, shingle_n)
        missing = set(expected) - set(got)
        for a, b in missing:
            assert not sets[a] or not sets[b], (a, b, shingle_n)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    coords=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_zorder_key_matches_bit_interleave(spark, coords):
    """The Morton key (the z-order layout's entire foundation) must
    equal textbook bit interleaving — a is even bits, b odd — for
    random 16-bit coordinate pairs including the 0 and 65535
    extremes hypothesis shrinks toward."""
    from pyspark.sql import functions as F2

    from fts_analysis_datalake_spark.operators.scale import zorder_key

    df = spark.createDataFrame(coords, "a BIGINT, b BIGINT")
    got = {
        (r.a, r.b): r.z
        for r in df.select("a", "b", zorder_key(F2.col("a"), F2.col("b")).alias("z")).collect()
    }
    for a, b in coords:
        z = 0
        for bit in range(16):
            z |= ((a >> bit) & 1) << (2 * bit)
            z |= ((b >> bit) & 1) << (2 * bit + 1)
        assert got[(a, b)] == z, (a, b)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    stream=st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=60
    ),
    absent_probes=st.sets(
        st.integers(min_value=100, max_value=120), max_size=4
    ),
)
def test_cms_never_underestimates(spark, stream, absent_probes):
    """Count-min's one deterministic guarantee, under randomized
    collision patterns: the estimate is >= the true count for every
    probed item — including never-seen probes, whose floor is 0 via
    the left-join coalesce (a missing-bucket null must not become a
    null estimate)."""
    from collections import Counter

    from fts_analysis_datalake_spark.operators.scale import cms_build, cms_estimate

    items = spark.createDataFrame([(x,) for x in stream], "item BIGINT")
    probes = spark.createDataFrame(
        [(x,) for x in set(stream) | absent_probes], "item BIGINT"
    )
    sketch = cms_build(items, "item")
    est = {r.item: r.cms_count for r in cms_estimate(sketch, probes, "item").collect()}
    truth = Counter(stream)
    assert set(est) == set(stream) | absent_probes
    for item, e in est.items():
        assert e is not None and e >= truth.get(item, 0), (item, e)


# ---------------------------------------------------------------------------
# r8: winnowing guarantee, SimHash band completeness, set-cover ln(n)
# bound, BPE order-determinism (VERDICT r7 task #4)
# ---------------------------------------------------------------------------

_WVOCAB = ["alpha", "beta", "gamma", "delta", "eps", "zeta"]


def _write_docs(spark, texts):
    """Write a documents.parquet a query can load_table from a fresh
    temp dir (unique per hypothesis example — no cross-example state)."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="props_docs_")
    rows = [
        (i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d, (lambda: shutil.rmtree(d, ignore_errors=True))


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WVOCAB), min_size=6, max_size=14),
        min_size=3,
        max_size=5,
    ),
    seg_len=st.integers(min_value=6, max_value=8),
    data=st.data(),
)
def test_winnowing_matches_replay_and_window_guarantee(
    spark, docs, seg_len, data
):
    """q_winnowing_overlap's fingerprint selection vs an exact Python
    replay (md5-13-hex-digit shingle hashes, rolling 4-window min,
    distinct), on docs where one pair SHARES A SPLICED TOKEN RUN —
    which must surface as a shared fingerprint: the winnowing
    guarantee is that any shared run of >= window+shingle-1 = 6
    tokens cannot fall between samples (the property MinHash lacks)."""
    import hashlib

    from fts_analysis_datalake_spark.queries.llm_text import q_winnowing_overlap

    # splice a run from doc0 into doc1 so the guarantee is exercised
    seg_len = min(seg_len, len(docs[0]))
    start = data.draw(
        st.integers(min_value=0, max_value=len(docs[0]) - seg_len)
    )
    seg = docs[0][start : start + seg_len]
    off = data.draw(st.integers(min_value=0, max_value=len(docs[1])))
    docs = [docs[0], docs[1][:off] + seg + docs[1][off:]] + docs[2:]
    texts = [" ".join(ws) for ws in docs]

    def fps(ws):
        hs = [
            int(
                hashlib.md5(" ".join(ws[i : i + 3]).encode()).hexdigest()[:13],
                16,
            )
            for i in range(len(ws) - 2)
        ]
        return {min(hs[i - 3 : i + 1]) for i in range(3, len(hs))}

    sets = [fps(ws) for ws in docs]
    expected = {}
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            n = len(sets[a] & sets[b])
            if n:
                expected[(a, b)] = n

    d, cleanup = _write_docs(spark, texts)
    try:
        got = {
            (r.doc_a, r.doc_b): r.shared_fps
            for r in q_winnowing_overlap(spark, d).collect()
        }
    finally:
        cleanup()
    assert got == expected
    # the guarantee proper: the spliced pair shares >= 1 fingerprint
    assert expected.get((0, 1), 0) >= 1


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    base=st.lists(
        st.integers(min_value=0, max_value=(1 << 64) - 1),
        min_size=2,
        max_size=5,
        unique=True,
    ),
    flips=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),
            st.sets(st.integers(min_value=0, max_value=63), max_size=5),
        ),
        max_size=4,
    ),
)
def test_simhash_band_candidates_complete(spark, base, flips):
    """Pigeonhole completeness of the 4x16-bit Hamming blocking: any
    signature pair within Hamming distance 3 differs in at most 3 of
    the 4 chunks, so it MUST share a chunk and appear as a candidate;
    every emitted pair's hamming must equal the Python popcount (the
    derived signatures include bit-flip near-misses at distances
    0..5, straddling the d=3 completeness boundary)."""
    from fts_analysis_datalake_spark.operators.dedup import simhash_candidate_pairs

    sigs = list(base)
    for src_i, bits in flips:
        v = sigs[src_i % len(sigs)]
        for b in bits:
            v ^= 1 << b
        sigs.append(v)

    def signed(v):
        return v - (1 << 64) if v >= 1 << 63 else v

    sim_df = spark.createDataFrame(
        [(i, signed(v)) for i, v in enumerate(sigs)],
        "doc_id BIGINT, simhash BIGINT",
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_candidate_pairs(sim_df, "doc_id").collect()
    }
    for a in range(len(sigs)):
        for b in range(a + 1, len(sigs)):
            hd = bin(sigs[a] ^ sigs[b]).count("1")
            if hd <= 3:
                assert got.get((a, b)) == hd, (a, b, hd)
    for (a, b), hd in got.items():
        assert hd == bin(sigs[a] ^ sigs[b]).count("1")
        assert any(
            (sigs[a] >> (16 * i)) & 0xFFFF == (sigs[b] >> (16 * i)) & 0xFFFF
            for i in range(4)
        ), "candidate pair shares no 16-bit chunk"


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    docs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=3, max_size=8),
        min_size=2,
        max_size=6,
    )
)
def test_greedy_cover_replay_and_ln_bound(spark, docs):
    """q_greedy_cover_selection vs an exact Python greedy replay
    (max marginal gain, min-doc_id tiebreak, zero-gain stop), plus
    the classical guarantee: picks-to-full-coverage <= OPT * H(|U|)
    <= OPT * (ln|U| + 1), with OPT brute-forced over all doc subsets
    (<= 2^6)."""
    import itertools
    import math

    from fts_analysis_datalake_spark.queries.llm_curation import (
        q_greedy_cover_selection,
    )

    texts = [" ".join(ws) for ws in docs]
    sets = [
        {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)} for ws in docs
    ]
    universe = set().union(*sets)

    covered: set = set()
    replay = []
    for rnd in range(1, 9):
        best_id, best_gain = None, 0
        for did, s in enumerate(sets):
            g = len(s - covered)
            if g > best_gain:
                best_id, best_gain = did, g
        if best_id is None:
            break
        covered |= sets[best_id]
        replay.append((rnd, best_id, best_gain))

    d, cleanup = _write_docs(spark, texts)
    try:
        rows = q_greedy_cover_selection(spark, d).collect()
    finally:
        cleanup()
    assert [(r.round, r.doc_id, r.gain) for r in rows] == replay
    assert rows[-1].covered_cum == len(universe)  # greedy always finishes here

    opt = next(
        k
        for k in range(1, len(sets) + 1)
        for combo in itertools.combinations(range(len(sets)), k)
        if set().union(*(sets[i] for i in combo)) == universe
    )
    assert len(replay) <= opt * (math.log(len(universe)) + 1)


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(_WVOCAB), min_size=1, max_size=8),
        min_size=1,
        max_size=8,
    ),
    perm_seed=st.integers(min_value=0, max_value=999),
)
def test_bpe_merges_invariant_under_doc_order(spark, docs, perm_seed):
    """BPE merge training must depend only on the corpus BAG of
    words: the same documents in a shuffled row order and different
    partitioning must produce the identical merge table (counts are
    aggregates; the winning pair's tie-break is lexicographic, not
    positional)."""
    import random

    from fts_analysis_datalake_spark.queries.llm_text import q_bpe_merge_rounds

    texts = [" ".join(ws) for ws in docs]
    shuffled = list(texts)
    random.Random(perm_seed).shuffle(shuffled)

    d1, cleanup1 = _write_docs(spark, texts)
    d2, cleanup2 = _write_docs(spark, shuffled)
    try:
        r1 = [tuple(r) for r in q_bpe_merge_rounds(spark, d1).collect()]
        r2 = [tuple(r) for r in q_bpe_merge_rounds(spark, d2).collect()]
    finally:
        cleanup1()
        cleanup2()
    assert r1 == r2 and len(r1) > 0


# ---------------------------------------------------------------------------
# r8 continuation: blocking-rewrite equivalence contracts for the two pair
# queries whose join keys the 8x scale probe re-derived (banded band join,
# density-scaled spatial grid) — the rewritten plans must emit EXACTLY the
# pairs the plain theta-join semantics define, on shapes the fixtures don't
# contain (band-boundary prices, wrap-around cells, duplicate coordinates).
# ---------------------------------------------------------------------------


def _write_table(spark, name, rows, schema):
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=f"props_{name}_")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/{name}.parquet")
    return d, (lambda: shutil.rmtree(d, ignore_errors=True))


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    prices=st.lists(
        # cents granularity, clustered tightly so band boundaries
        # (|diff| exactly 2.00, same-band, adjacent-band, two-band-gap)
        # all occur; a couple of sizes so the equi-prefix matters
        st.tuples(
            st.integers(min_value=1, max_value=3),
            st.integers(min_value=90000, max_value=90800),
        ),
        min_size=2,
        max_size=24,
    )
)
def test_banded_band_join_equals_theta_join(spark, prices):
    """q_part_price_band_pairs' (size, floor(price/2), +-1 offset)
    banded join == the plain theta join |a-b| < 2 AND size equal:
    every true pair lands in the same or an adjacent $2 band (so the
    3-offset fan-out is a complete cover), and each pair is matched
    by exactly ONE offset (no duplicate emission)."""
    from fts_analysis_datalake_spark.queries.joins_sets import (
        q_part_price_band_pairs,
    )

    rows = [
        (i + 1, sz, cents / 100.0) for i, (sz, cents) in enumerate(prices)
    ]
    expected = sorted(
        (a[0], b[0])
        for a in rows
        for b in rows
        if a[1] == b[1] and a[0] < b[0] and abs(a[2] - b[2]) < 2.0
    )
    d, cleanup = _write_table(
        spark,
        "part",
        rows,
        "p_partkey BIGINT, p_size INT, p_retailprice DOUBLE",
    )
    try:
        got = sorted(
            (r.key_a, r.key_b) for r in q_part_price_band_pairs(spark, d).collect()
        )
    finally:
        cleanup()
    assert got == expected  # set-equal AND multiplicity-equal


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    keys=st.lists(
        st.integers(min_value=1, max_value=400_000),
        min_size=2,
        max_size=30,
        unique=True,
    )
)
def test_grid_spatial_pairs_match_brute_force(spark, keys):
    """q_grid_spatial_pairs == brute-force haversine over all pairs,
    for synthetic keys spanning the SCALED lon domain (s > 1 kicks in
    above 15k customers only via count, so the domain here is s=1 —
    the test pins the 3x3 neighbor cover and the 1 m quantization,
    including keys whose cells sit at the lon wrap boundary)."""
    import math

    from fts_analysis_datalake_spark.queries.advanced_models import (
        q_grid_spatial_pairs,
    )

    s = math.ceil(len(keys) / 15000.0)  # == 1 for every example here
    pts = {}
    for k in keys:
        lat = 40.0 + ((k * 7919) % 1000) / 100.0
        lon = ((k * 104729) % (2000 * s)) / 100.0
        pts[k] = (lat, lon)

    def hav_m(a, b):
        (alat, alon), (blat, blon) = pts[a], pts[b]
        h = (
            math.sin(math.radians(blat - alat) / 2) ** 2
            + math.cos(math.radians(alat))
            * math.cos(math.radians(blat))
            * math.sin(math.radians(blon - alon) / 2) ** 2
        )
        return math.floor(2 * 6371.0 * math.asin(math.sqrt(h)) * 1000 + 0.5)

    brute = sorted(
        (hav_m(a, b), a, b)
        for i, a in enumerate(sorted(keys))
        for b in sorted(keys)[i + 1 :]
        if hav_m(a, b) <= 25000
    )[:50]
    expected = [(a, b, d / 1000.0) for d, a, b in brute]

    d_, cleanup = _write_table(
        spark, "customer", [(k,) for k in keys], "c_custkey BIGINT"
    )
    try:
        got = [
            (r.a_key, r.b_key, r.dist_km)
            for r in q_grid_spatial_pairs(spark, d_).collect()
        ]
    finally:
        cleanup()
    assert got == expected


# ---------------------------------------------------------------------------
# r8 continuation 2: as-of join (J9) vs an exact Python replay — randomized
# timestamp collisions (signup exactly at purchase ts, multiple signups at
# the same ts, purchases before any signup) are the cases the fixture's
# organic event stream rarely produces.
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user
            st.integers(min_value=0, max_value=40),     # ts seconds
            st.booleans(),                              # True = purchase
        ),
        min_size=1,
        max_size=24,
    )
)
def test_asof_join_matches_bisect_replay(spark, events):
    """q_asof_purchase_signup == per-purchase replay: the LATEST
    signup with ts <= purchase ts for the same user, inner semantics
    (purchases before any signup drop out). Equal-ts signup ties
    collapse to the same signup_ts value, so the output is
    deterministic even though row_number breaks them arbitrarily."""
    import datetime
    import shutil
    import tempfile

    from fts_analysis_datalake_spark.queries.joins_sets import (
        q_asof_purchase_signup,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(seconds=ts),
            user,
            "purchase" if is_p else "signup",
            1.0,
            "{}",
        )
        for i, (user, ts, is_p) in enumerate(events)
    ]
    expected = set()
    for i, (user, ts, is_p) in enumerate(events):
        if not is_p:
            continue
        cands = [
            ts2
            for (u2, ts2, p2) in events
            if u2 == user and not p2 and ts2 <= ts
        ]
        if cands:
            expected.add((i, user, ts, max(cands), ts - max(cands)))

    d = tempfile.mkdtemp(prefix="props_asof_")
    try:
        spark.createDataFrame(
            rows,
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
            "event_type STRING, value DOUBLE, props STRING",
        ).coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
        got = {
            (
                r.purchase_id,
                r.user_id,
                int((r.purchase_ts - base).total_seconds()),
                int((r.signup_ts - base).total_seconds()),
                r.age_s,
            )
            for r in q_asof_purchase_signup(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-4, max_value=4), min_size=3, max_size=3
        ),
        min_size=1,
        max_size=10,
    ),
    cents=st.lists(
        st.lists(
            st.integers(min_value=-4, max_value=4), min_size=3, max_size=3
        ).filter(lambda c: any(x != 0 for x in c)),
        min_size=1,
        max_size=5,
    ),
    dup_first=st.booleans(),
)
def test_ivf_assign_matches_argmax_replay(spark, vecs, cents, dup_first):
    """operators.similarity.ivf_assign == exact per-vector replay:
    argmax of dot(v,c)/|c| with ties to the LOWEST cent_id. Integer
    coordinates make every score a ratio of exactly-representable
    doubles, so Python and Spark agree bit-for-bit; dup_first clones
    centroid 0 under a higher id to force exact score ties, the case
    the comparator's (score desc, cid asc) order exists for."""
    import math

    from fts_analysis_datalake_spark.operators.similarity import ivf_assign

    if dup_first:
        cents = cents + [cents[0]]  # exact tie against cent_id 0

    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id BIGINT, embedding ARRAY<DOUBLE>",
    )
    cdf = spark.createDataFrame(
        [(j, [float(x) for x in c]) for j, c in enumerate(cents)],
        "cent_id BIGINT, cent_vec ARRAY<DOUBLE>",
    )

    def replay(v):
        best = None
        for j, c in enumerate(cents):
            acc = 0.0
            for x, y in zip(v, c):
                acc += float(x) * float(y)
            cn_acc = 0.0
            for y in c:
                cn_acc += float(y) * float(y)
            score = acc / math.sqrt(cn_acc)
            if best is None or score > best[0] or (score == best[0] and j < best[1]):
                best = (score, j)
        return best[1]

    expected = {(i, replay(v)) for i, v in enumerate(vecs)}
    got = {
        (r.vec_id, r.cent_id)
        for r in ivf_assign(emb, cdf).select("vec_id", "cent_id").collect()
    }
    assert got == expected


# --------------------------------------------------------------------------
# Fixture-backed replays for the sequential / graph / privacy families
# (r8 continuation): each test writes a tiny synthetic fixture dir,
# runs the REAL registered query on it, and compares against an exact
# Python replay of the documented integer semantics.
# --------------------------------------------------------------------------


def _tmp_fixture(spark, table: str, rows, schema: str) -> str:
    import tempfile

    d = tempfile.mkdtemp(prefix=f"props_{table}_")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{d}/{table}.parquet")
    return d


_EVENTS_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def _hourly_cents(events):
    """(etype, hour, dollars) triples -> {etype: [(hour, cents), ...]}
    sorted by hour — the shared first stage of the PH / delta replays."""
    agg: dict = {}
    for etype, h, dollars in events:
        agg[(etype, h)] = agg.get((etype, h), 0) + dollars * 100
    series: dict = {}
    for (etype, h), cents in agg.items():
        series.setdefault(etype, []).append((h, cents))
    for s in series.values():
        s.sort()
    return series


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=47),
            st.integers(min_value=0, max_value=5000),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_page_hinkley_matches_online_replay(spark, events):
    """q_page_hinkley_drift == exact online replay: PH_t accumulates
    cents*1e6 minus the 1e-6-quantized RUNNING mean, the alarm is the
    first hour PH exceeds its running minimum by lambda, and series
    that never drift report a NULL alarm. Dollar values up to 5000
    drive both alarm and no-alarm branches; every step is the same
    integer arithmetic both engines run, so equality is exact."""
    import calendar
    import datetime
    import math
    import shutil

    from fts_analysis_datalake_spark.queries.event_analytics import (
        _PH_LAMBDA,
        q_page_hinkley_drift,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(hours=h, minutes=(i * 7) % 60),
            0,
            etype,
            float(dollars),
            "{}",
        )
        for i, (etype, h, dollars) in enumerate(events)
    ]

    expected = set()
    for etype, series in _hourly_cents(events).items():
        s = ph = 0
        mn = 0
        alarm = None
        max_excess = None
        for i, (h, cents) in enumerate(series, start=1):
            s += cents
            ph += cents * 1000000 - math.floor(float(s) * 1000000 / i + 0.5)
            mn = min(mn, ph) if i > 1 else ph
            excess = ph - mn
            if alarm is None and excess > _PH_LAMBDA:
                alarm = calendar.timegm(
                    (base + datetime.timedelta(hours=h)).timetuple()
                )
            max_excess = excess if max_excess is None else max(max_excess, excess)
        expected.add(
            (etype, len(series), alarm, repr(float(max_excess) / 100000000.0))
        )

    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = {
            (r.event_type, r.n_hours, r.alarm_hour_s, repr(r.max_excess_dollars))
            for r in q_page_hinkley_drift(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    events=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=47),
            st.integers(min_value=0, max_value=500),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_delta_encoding_matches_zigzag_replay(spark, events):
    """q_delta_encoding_audit == exact Gorilla-cost replay: the first
    two points of each hourly series cost 64 bits, a zero
    delta-of-delta costs 1 bit, and any other costs 5 control bits
    plus the bit-length of the zigzag-folded magnitude — all exact
    integers, so totals and the 1e-4-quantized ratio match
    bit-for-bit. Random hour gaps exercise the lag-over-sparse-hours
    semantics (the encoding is positional, not wall-clock)."""
    import datetime
    import math
    import shutil

    from fts_analysis_datalake_spark.queries.event_analytics import (
        q_delta_encoding_audit,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(hours=h, minutes=(i * 11) % 60),
            0,
            etype,
            float(dollars),
            "{}",
        )
        for i, (etype, h, dollars) in enumerate(events)
    ]

    expected = set()
    for etype, series in _hourly_cents(events).items():
        cents = [c for _, c in series]
        total_bits = zero = 0
        for j in range(len(cents)):
            if j < 2:
                total_bits += 64
            else:
                dd = (cents[j] - cents[j - 1]) - (cents[j - 1] - cents[j - 2])
                if dd == 0:
                    total_bits += 1
                    zero += 1
                else:
                    zig = 2 * dd if dd >= 0 else -2 * dd - 1
                    total_bits += 5 + zig.bit_length()
        n = len(cents)
        ratio = (
            math.floor(64.0 * n / total_bits * 10000 + 0.5) / 1e4
        )
        expected.add((etype, n, zero, total_bits, repr(ratio)))

    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = {
            (
                r.event_type,
                r.n_points,
                r.n_zero_dd,
                r.total_bits,
                repr(r.compression_ratio),
            )
            for r in q_delta_encoding_audit(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


_LINEITEM_MIN_SCHEMA = "l_orderkey BIGINT, l_partkey BIGINT, l_quantity DOUBLE"


def _copurchase_pairs(items):
    """(order, part, qty) rows -> {(u, v): min |dq|} over co-purchased
    part pairs with u < v and |dq| <= 2 — the shared edge builder of
    the Bellman-Ford / k-truss replays (the |dq| <= 2 sparsifier)."""
    by_order: dict = {}
    for o, p, q in items:
        by_order.setdefault(o, []).append((p, q))
    best: dict = {}
    for parts in by_order.values():
        for pa, qa in parts:
            for pb, qb in parts:
                if pa < pb and abs(qa - qb) <= 2:
                    dq = int(abs(qa - qb))
                    k = (pa, pb)
                    best[k] = min(best.get(k, 3), dq)
    return best


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    items=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_bellman_ford_matches_relaxation_replay(spark, items):
    """q_bellman_ford_nearest == exact synchronous-relaxation replay:
    w = min quantity gap + 1 on the symmetric co-purchase graph,
    source = the minimum node, and _BF_ROUNDS rounds of
    d'(v) = min over incoming edges (incl. the weight-0 self-loop
    carry) of d(u) + w. All-integer distances, so equality is exact;
    random baskets cover disconnected graphs, parallel paths where a
    2-hop route beats a heavy direct edge, and the empty-graph case
    (no qualifying pair -> empty result, not a null row)."""
    import shutil

    from fts_analysis_datalake_spark.queries.joins_sets import (
        _BF_ROUNDS,
        _BF_TOPK,
        q_bellman_ford_nearest,
    )

    rows = [(o, p, float(q)) for o, p, q in items]
    best = _copurchase_pairs(items)

    edges = []
    nodes = set()
    for (u, v), dq in best.items():
        edges.append((u, v, dq + 1))
        edges.append((v, u, dq + 1))
        nodes.update((u, v))
    for n in nodes:
        edges.append((n, n, 0))

    expected = set()
    if nodes:
        dist = {min(nodes): 0}
        for _ in range(_BF_ROUNDS):
            nxt: dict = {}
            for u, v, w in edges:
                if u in dist:
                    cand = dist[u] + w
                    if v not in nxt or cand < nxt[v]:
                        nxt[v] = cand
            dist = nxt
        top = sorted(((d, n) for n, d in dist.items()))[:_BF_TOPK]
        expected = {(n, d) for d, n in top}

    d = _tmp_fixture(spark, "lineitem", rows, _LINEITEM_MIN_SCHEMA)
    try:
        got = {
            (r.node, r.dist)
            for r in q_bellman_ford_nearest(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    items=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=4),
        ),
        min_size=1,
        max_size=24,
    )
)
def test_ktruss_matches_peel_replay(spark, items):
    """q_ktruss_parts == exact triangle-support peel replay: an edge
    survives a round only while it closes >= _KT_K - 2 triangles with
    edges that entered the round, for _KT_ROUNDS synchronous rounds.
    The narrow quantity range makes dense co-purchase cliques likely,
    so the peel does real work (cascading deletions where removing a
    spoke edge breaks a neighbor's last triangle next round) and the
    k-truss <= (k-1)-core containment is exercised, not vacuous."""
    import shutil

    from fts_analysis_datalake_spark.queries.joins_sets import (
        _KT_K,
        _KT_ROUNDS,
        q_ktruss_parts,
    )

    rows = [(o, p, float(q)) for o, p, q in items]
    e = set(_copurchase_pairs(items).keys())

    for _ in range(_KT_ROUNDS):
        tri_support: dict = {}
        es = e
        for a, b in es:
            for c in range(max(a, b) + 1, 8):
                if (b, c) in es and (a, c) in es:
                    for edge in ((a, b), (b, c), (a, c)):
                        tri_support[edge] = tri_support.get(edge, 0) + 1
        e = {k for k in es if tri_support.get(k, 0) >= _KT_K - 2}

    deg: dict = {}
    for u, v in e:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    expected = set(deg.items())

    d = _tmp_fixture(spark, "lineitem", rows, _LINEITEM_MIN_SCHEMA)
    try:
        got = {
            (r.node, r.truss_deg) for r in q_ktruss_parts(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "fr"]),
            st.sampled_from(["web", "book"]),
            st.integers(min_value=0, max_value=1200),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_kanonymity_matches_replay_and_monotone_risk(spark, docs):
    """q_k_anonymity_audit == exact per-level group replay, PLUS the
    lattice theorem the audit exists for: generalization only MERGES
    groups (len//500 == (len//100)//5, and L2 drops length entirely),
    so a row at risk at a coarser level was necessarily at risk at
    every finer level — n_rows_at_risk must be monotone non-increasing
    up the lattice. Random QI combos cover singleton groups, exactly-k
    groups, and levels where generalization rescues rows."""
    import math
    import shutil

    from fts_analysis_datalake_spark.queries.llm_curation import (
        _KA_K,
        q_k_anonymity_audit,
    )

    rows = [
        (i, "x", lang, source, n_chars)
        for i, (lang, source, n_chars) in enumerate(docs)
    ]

    levels = [
        ("L0_len100", lambda n: n // 100),
        ("L1_len500", lambda n: n // 500),
        ("L2_nolen", lambda n: 0),
    ]
    expected = set()
    risk_by_level = {}
    for name, bucket in levels:
        groups: dict = {}
        for lang, source, n_chars in docs:
            k = (lang, source, bucket(n_chars))
            groups[k] = groups.get(k, 0) + 1
        at_risk = sum(c for c in groups.values() if c < _KA_K)
        total = sum(groups.values())
        risk_frac = math.floor(float(at_risk) / total * 1000000 + 0.5) / 1e6
        risk_by_level[name] = at_risk
        expected.add(
            (name, len(groups), min(groups.values()), at_risk, repr(risk_frac))
        )

    assert (
        risk_by_level["L0_len100"]
        >= risk_by_level["L1_len500"]
        >= risk_by_level["L2_nolen"]
    )

    schema = (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    d = _tmp_fixture(spark, "documents", rows, schema)
    try:
        got = {
            (r.level, r.n_groups, r.k_min, r.n_rows_at_risk, repr(r.risk_frac))
            for r in q_k_anonymity_audit(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


@settings(max_examples=5, deadline=None, derandomize=True)
@given(seed=st.integers(min_value=0, max_value=2**31 - 1))
def test_pq_adc_matches_encode_lookup_replay(spark, seed):
    """q_pq_adc_topk_ann == exact encode-then-lookup replay: each
    vector's code in subspace j is the argmin squared-L2 centroid
    (ties to the LOWEST centroid id), the query's per-centroid
    subspace distances are 1e-9-quantized BIGINTs, and the ADC
    distance is their 8-term integer sum looked up by code. Integer
    coordinates (LCG battery, exact in float32 AND double) make the
    sequential fold exact, so Spark and the replay agree bit-for-bit
    on distances, tie-breaks, and the (adc_dist, vec_id) top-10.
    Codebook rows are corpus vectors, so some vector encodes to
    itself with distance 0 in every subspace — the all-zero-ADC
    corner rides along whenever the LCG duplicates a stride row."""
    import math
    import shutil

    from fts_analysis_datalake_spark.queries.llm_vectors import (
        _PQ_IDS,
        _PQ_K,
        _PQ_M,
        _PQ_Q,
        _PQ_SUB,
        QUERY_VEC_ID,
        q_pq_adc_topk_ann,
    )

    n_vecs = max(_PQ_IDS) + 1  # ids 0..414 so every codebook row exists
    dim = _PQ_M * _PQ_SUB
    state = seed
    vecs = []
    for _ in range(n_vecs):
        v = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (2**31)
            v.append(state % 9 - 4)  # integers in [-4, 4]
        vecs.append(v)

    cents = [vecs[i] for i in sorted(_PQ_IDS)]  # c = 1..K in vec_id order

    def subdist(a, b, j):
        acc = 0.0
        for t in range(j * _PQ_SUB, (j + 1) * _PQ_SUB):
            acc += (float(a[t]) - float(b[t])) ** 2
        return acc

    qd = [
        [
            math.floor(subdist(vecs[QUERY_VEC_ID], cents[c], j) * _PQ_Q + 0.5)
            for c in range(_PQ_K)
        ]
        for j in range(_PQ_M)
    ]
    scored = []
    for vid, v in enumerate(vecs):
        if vid == QUERY_VEC_ID:
            continue
        adc = 0
        for j in range(_PQ_M):
            code = min(
                range(_PQ_K), key=lambda c: (subdist(v, cents[c], j), c)
            )
            adc += qd[j][code]
        scored.append((adc / float(_PQ_Q), vid))
    expected = {(vid, repr(dist)) for dist, vid in sorted(scored)[:10]}

    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    d = _tmp_fixture(
        spark, "embeddings", rows,
        "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
    )
    try:
        got = {
            (r.vec_id, repr(r.adc_dist))
            for r in q_pq_adc_topk_ann(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=11),
            st.integers(min_value=0, max_value=300),
        ),
        min_size=1,
        max_size=14,
    )
)
def test_viterbi_total_cost_is_global_optimum(spark, events):
    """q_viterbi_regime_decode's total_cost == the brute-force minimum
    over ALL 2^n state paths, and its (n_high, n_switches) are
    attained by at least one optimal path — an INDEPENDENT check of
    the forward-stats DP (the oracle replays the same recursion; this
    enumerates). Short random series cover constant series (hi == lo,
    everything ties), single-hour series, and alternating spikes
    where the switch penalty must arbitrate."""
    import datetime
    import shutil

    from fts_analysis_datalake_spark.queries.event_analytics import (
        q_viterbi_regime_decode,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(hours=h), 0, "a", float(dollars), "{}")
        for i, (h, dollars) in enumerate(events)
    ]

    agg: dict = {}
    for h, dollars in events:
        agg[h] = agg.get(h, 0) + dollars * 100
    c = [cents for _, cents in sorted(agg.items())]
    lo, hi = min(c), max(c)
    lam = (hi - lo) // 4 + 1
    n = len(c)
    best = None  # (cost, {(nh, nsw), ...})
    for mask in range(1 << n):
        cost = nh = nsw = 0
        prev = None
        for t in range(n):
            s = (mask >> t) & 1
            cost += abs(c[t] - (hi if s else lo))
            nh += s
            if prev is not None and s != prev:
                cost += lam
                nsw += 1
            prev = s
        if best is None or cost < best[0]:
            best = (cost, {(nh, nsw)})
        elif cost == best[0]:
            best[1].add((nh, nsw))

    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        [r] = q_viterbi_regime_decode(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert r.n_hours == n
    assert r.total_cost == best[0]
    assert (r.n_high, r.n_switches) in best[1]


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),  # day offset
            st.integers(min_value=0, max_value=400),
        ),
        min_size=12,
        max_size=24,
    )
)
def test_matrix_profile_matches_brute_force(spark, events):
    """q_matrix_profile_daily == brute-force numpy over the full
    distance matrix: every pairwise L1 subsequence distance outside
    the exclusion zone, the global-min pair as motif (lowest (i, j)
    on ties — forced by duplicate day values) and the max-profile
    subsequence as discord. Series too short for two non-overlapping
    windows yield an empty result in both."""
    import datetime
    import shutil

    from fts_analysis_datalake_spark.queries.event_analytics import (
        _MP_W,
        q_matrix_profile_daily,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(days=d, hours=i % 20), 0, "a",
         float(v), "{}")
        for i, (d, v) in enumerate(events)
    ]
    agg: dict = {}
    for d, v in events:
        agg[d] = agg.get(d, 0) + v * 100
    c = [cents for _, cents in sorted(agg.items())]
    n_sub = len(c) - (_MP_W - 1)

    expected = set()
    if n_sub >= _MP_W + 1:  # at least one admissible pair
        dist = {}
        for i in range(1, n_sub + 1):
            for j in range(1, n_sub + 1):
                if abs(i - j) >= _MP_W:
                    dist[(i, j)] = sum(
                        abs(c[i - 1 + p] - c[j - 1 + p]) for p in range(_MP_W)
                    )
        if dist:
            motif = min((d, i, j) for (i, j), d in dist.items())
            mp = {}
            for (i, j), d in dist.items():
                mp[i] = min(mp.get(i, 10**18), d)
            discord = max((d, -i) for i, d in mp.items())
            expected = {
                (
                    "a", n_sub, motif[0], motif[1], motif[2],
                    discord[0], -discord[1],
                )
            }

    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = {
            (
                r.event_type, r.n_subseq, r.motif_dist, r.motif_i, r.motif_j,
                r.discord_mp, r.discord_i,
            )
            for r in q_matrix_profile_daily(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),  # day offset
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_sax_matches_symbol_replay(spark, events):
    """q_sax_series_motifs == exact Python replay of PAA-sum windows,
    order-statistic tertile breakpoints, pinned <= symbol rules, and
    the (count desc, lex) trigram motif — including duplicate PAA
    values straddling a breakpoint position (the pos-tie case the
    (pv, win) sort order exists for). Series with fewer than one
    complete window yield an empty result."""
    import datetime
    import shutil

    from fts_analysis_datalake_spark.queries.event_analytics import (
        _SAX_W,
        q_sax_series_motifs,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(days=d, hours=i % 23), 0, "a",
         float(v), "{}")
        for i, (d, v) in enumerate(events)
    ]
    agg: dict = {}
    for d, v in events:
        agg[d] = agg.get(d, 0) + v * 100
    c = [cents for _, cents in sorted(agg.items())]
    pv = [
        sum(c[w * _SAX_W: (w + 1) * _SAX_W])
        for w in range(len(c) // _SAX_W)
    ]

    expected = set()
    if pv:
        n = len(pv)
        srt = sorted(range(n), key=lambda w: (pv[w], w))
        t1 = pv[srt[(n + 2) // 3 - 1]]
        t2 = pv[srt[(2 * n + 2) // 3 - 1]]
        sax = "".join(
            "a" if v <= t1 else ("b" if v <= t2 else "c") for v in pv
        )
        tris: dict = {}
        for i in range(n - 2):
            w = sax[i: i + 3]
            tris[w] = tris.get(w, 0) + 1
        if tris:
            motif = min(tris, key=lambda w: (-tris[w], w))
            motif_n = tris[motif]
        else:
            motif, motif_n = None, None
        if tris:  # the query inner-joins motif, so 1-2 window series drop
            expected = {
                (
                    "a", n, sax, sax.count("a"), sax.count("b"),
                    sax.count("c"), motif, motif_n,
                )
            }

    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = {
            (r.event_type, r.n_paa, r.sax, r.n_a, r.n_b, r.n_c, r.motif,
             r.motif_n)
            for r in q_sax_series_motifs(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    n_hours=st.integers(min_value=8, max_value=30),
)
def test_granger_betas_match_numpy_lstsq(spark, seed, n_hours):
    """q_granger_lead_lag's unrestricted betas and F statistic match
    an INDEPENDENT numpy.linalg.lstsq fit (design-matrix least
    squares, no Cramer determinants) to 1e-4 on dense random hourly
    series — validating the moment algebra itself, not just the
    SQL/Spark mirroring. LCG-generated integer dollar values keep
    the fixture exact; both event types share the dense hour spine
    so every hour contributes a lagged triple."""
    import datetime
    import shutil

    import numpy as np

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_granger_lead_lag,
    )

    base = datetime.datetime(2024, 1, 1)
    state = seed
    rows = []
    series = {"view": [], "purchase": []}
    i = 0
    for h in range(n_hours):
        for et in ("view", "purchase"):
            state = (1103515245 * state + 12345) % (2**31)
            dollars = state % 500
            series[et].append(dollars * 100)
            rows.append(
                (i, base + datetime.timedelta(hours=h), 0, et,
                 float(dollars), "{}")
            )
            i += 1

    def np_fit(a, b):
        y = np.array(a[1:], dtype=float)
        x1 = np.array(a[:-1], dtype=float)
        x2 = np.array(b[:-1], dtype=float)
        n = len(y)
        xu = np.column_stack([np.ones(n), x1, x2])
        cu, ru, *_ = np.linalg.lstsq(xu, y, rcond=None)
        rss_u = float(np.sum((y - xu @ cu) ** 2))
        xr = np.column_stack([np.ones(n), x1])
        cr, *_ = np.linalg.lstsq(xr, y, rcond=None)
        rss_r = float(np.sum((y - xr @ cr) ** 2))
        f = (rss_r - rss_u) * (n - 3) / rss_u if rss_u > 0 else None
        return float(cu[1]), float(cu[2]), f

    exp = {
        "view_to_purchase": np_fit(series["purchase"], series["view"]),
        "purchase_to_view": np_fit(series["view"], series["purchase"]),
    }

    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = {r.direction: r for r in q_granger_lead_lag(spark, d).collect()}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    for direction, (b1, b2, f) in exp.items():
        r = got[direction]
        assert r.n_obs == n_hours - 1
        assert abs(r.b_own - b1) < 1e-4, (direction, r.b_own, b1)
        assert abs(r.b_cross - b2) < 1e-4, (direction, r.b_cross, b2)
        if f is not None and f > 1e-6:
            assert abs(r.f_stat - f) / max(f, 1.0) < 1e-3, (
                direction, r.f_stat, f,
            )


# ---------------------------------------------------------------------------
# r9: Kalman Riccati fixed point, banded-DTW bounds, self-BLEU replay
# (VERDICT r8 task #4 — the new-row family still on oracle-only evidence)
# ---------------------------------------------------------------------------


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    counts=st.lists(
        st.integers(min_value=1, max_value=3), min_size=120, max_size=140
    )
)
def test_kalman_gain_converges_to_riccati_fixed_point(spark, counts):
    """q_kalman_level_hourly's converged gain and posterior variance
    equal the CLOSED-FORM Riccati fixed point — the predicted
    variance M* solves M^2 - Q*M - Q*R = 0, K* = M*/(M*+R),
    P* = (1-K*)*M* — derived by solving the quadratic, independent of
    both the kernel's recursion and the oracle's WITH RECURSIVE
    replay. Level and innovation MAE are additionally checked against
    an UNQUANTIZED textbook filter (tolerance covers the 5e-10
    per-step quantization). 120+ hourly steps put the trajectory
    ~0.67^119 past P0 — numerically AT the fixed point."""
    import datetime
    import math
    import shutil

    from fts_analysis_datalake_spark.queries.event_analytics import (
        _KF_P0,
        _KF_Q,
        _KF_R,
        q_kalman_level_hourly,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h, k in enumerate(counts):
        for j in range(k):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(hours=h, minutes=j),
                    0,
                    "a",
                    0.0,
                    "{}",
                )
            )
            eid += 1

    m_star = (_KF_Q + math.sqrt(_KF_Q * _KF_Q + 4 * _KF_Q * _KF_R)) / 2
    k_star = m_star / (m_star + _KF_R)
    p_star = (1 - k_star) * m_star

    y = [float(k) for k in counts]
    level, p = y[0], _KF_P0
    abs_sum = 0.0
    for t in range(1, len(y)):
        m = p + _KF_Q
        gain = m / (m + _KF_R)
        abs_sum += abs(y[t] - level)
        level = level + gain * (y[t] - level)
        p = (1 - gain) * m

    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        [r] = q_kalman_level_hourly(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert r.n_hours == len(counts)
    assert abs(r.gain - k_star) < 1e-6, (r.gain, k_star)
    assert abs(r.p_var - p_star) < 1e-6, (r.p_var, p_star)
    assert abs(r.level - level) < 1e-4, (r.level, level)
    assert abs(r.innov_mae - abs_sum / (len(y) - 1)) < 1e-4


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    a=st.lists(
        st.integers(min_value=0, max_value=500), min_size=20, max_size=20
    ),
    b=st.lists(
        st.integers(min_value=0, max_value=500), min_size=20, max_size=20
    ),
    identical=st.booleans(),
)
def test_dtw_band_bounds_and_replay(spark, a, b, identical):
    """q_dtw_band_alignment sandwiched by theory and replayed
    independently: banded DTW >= the UNBANDED full-DP optimum (the
    band restricts the path set — the lower-bound theorem the oracle
    cannot check because it replays the same banded recursion),
    banded DTW <= euclid (the lock-step diagonal lies inside any
    band), and == a textbook ROW-WISE banded DP (vs the kernel's
    anti-diagonal wavefront). identical=True forces the euclid == 0
    edge: elasticity_gain must be exactly 1.0 in both engines (the
    r8 ADVICE guard)."""
    import datetime
    import math
    import shutil

    from fts_analysis_datalake_spark.queries.event_analytics import (
        _DTW_BAND,
        _DTW_N,
        q_dtw_band_alignment,
    )

    if identical:
        b = list(a)
    assert len(a) == len(b) == _DTW_N
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for et, series in (("view", a), ("purchase", b)):
        for day, cents in enumerate(series):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(days=day),
                    0,
                    et,
                    cents / 100.0,
                    "{}",
                )
            )
            eid += 1

    inf = float("inf")
    n = _DTW_N

    def dp(band):
        t = [[inf] * (n + 1) for _ in range(n + 1)]
        for i in range(1, n + 1):
            lo = max(1, i - band) if band is not None else 1
            hi = min(n, i + band) if band is not None else n
            for j in range(lo, hi + 1):
                cost = abs(a[i - 1] - b[j - 1])
                if i == 1 and j == 1:
                    t[i][j] = cost
                else:
                    t[i][j] = cost + min(
                        t[i - 1][j], t[i][j - 1], t[i - 1][j - 1]
                    )
        return t[n][n]

    banded, full = dp(_DTW_BAND), dp(None)
    euclid = sum(abs(x - y) for x, y in zip(a, b))

    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        [r] = q_dtw_band_alignment(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert r.dtw_cents == banded
    assert full <= banded <= euclid
    assert r.euclid_cents == euclid
    if euclid == 0:
        assert r.elasticity_gain == 1.0
    else:
        assert r.elasticity_gain == math.floor(
            banded / euclid * 1e6 + 0.5
        ) / 1e6


@settings(max_examples=6, deadline=None, derandomize=True)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "fr"]),
            st.lists(
                st.sampled_from(["alpha", "beta", "gamma", "delta"]),
                min_size=0,
                max_size=6,
            ),
        ),
        min_size=12,
        max_size=30,
    )
)
def test_self_bleu_matches_python_replay(spark, docs):
    """q_self_bleu_diversity == a from-the-definition Python BLEU-2
    replay on random token bags: per-(lang, gram) reference-max
    clipping, closest-reference-length brevity penalty (tie to the
    SHORTER length), sqrt geomean, the house quantization chain, and
    the distinct-2 ratio — written from Papineni's definitions, not
    from the union-tagged gram pipeline the query and its oracle
    share. Random bags cover repeated-gram clipping (cnt > rmax),
    langs with zero references (clip == 0), empty reference docs
    (rlen includes 0), and candidate-free languages (absent rows)."""
    import math
    import shutil
    from collections import Counter

    from fts_analysis_datalake_spark.queries.ml_eval import (
        _SB_MOD,
        q_self_bleu_diversity,
    )

    rows = [
        (i, " ".join(toks), lang, "s", len(" ".join(toks)))
        for i, (lang, toks) in enumerate(docs)
    ]
    toks_by = {i: toks for i, (_, toks) in enumerate(docs)}
    lang_by = {i: lang for i, (lang, _) in enumerate(docs)}

    def bigrams(ts):
        return [" ".join(ts[k : k + 2]) for k in range(len(ts) - 1)]

    cand = [i for i in toks_by if i % _SB_MOD == 0 and len(toks_by[i]) >= 2]
    refs = [i for i in toks_by if i % _SB_MOD != 0]
    expected = {}
    for lang in sorted({lang_by[i] for i in cand}):
        lc = [i for i in cand if lang_by[i] == lang]
        lr = [i for i in refs if lang_by[i] == lang]
        r1max: dict = {}
        r2max: dict = {}
        for i in lr:
            for g, c in Counter(toks_by[i]).items():
                r1max[g] = max(r1max.get(g, 0), c)
            for g, c in Counter(bigrams(toks_by[i])).items():
                r2max[g] = max(r2max.get(g, 0), c)
        rlens = sorted({len(toks_by[i]) for i in lr})
        bleu_qs, p1_qs, p2_qs = [], [], []
        dg: set = set()
        tg = 0
        for i in lc:
            ts = toks_by[i]
            c1, c2 = Counter(ts), Counter(bigrams(ts))
            clip1 = sum(min(c, r1max.get(g, 0)) for g, c in c1.items())
            tot1 = sum(c1.values())
            clip2 = sum(min(c, r2max.get(g, 0)) for g, c in c2.items())
            tot2 = sum(c2.values())
            dg.update(c2)
            tg += tot2
            n_tok = len(ts)
            r = (
                min(abs(rl - n_tok) * 1000000 + rl for rl in rlens) % 1000000
                if rlens
                else 0
            )
            pr1, pr2 = clip1 / tot1, clip2 / tot2
            bp = (
                1.0
                if n_tok >= r
                else math.exp(math.floor((1.0 - r / n_tok) * 1e9 + 0.5) / 1e9)
            )
            p1_qs.append(math.floor(pr1 * 1e6 + 0.5))
            p2_qs.append(math.floor(pr2 * 1e6 + 0.5))
            bleu_qs.append(math.floor(bp * math.sqrt(pr1 * pr2) * 1e6 + 0.5))
        expected[lang] = (
            len(lc),
            math.floor(sum(bleu_qs) / len(lc) + 0.5) / 1e6,
            math.floor(sum(p1_qs) / len(lc) + 0.5) / 1e6,
            math.floor(sum(p2_qs) / len(lc) + 0.5) / 1e6,
            math.floor(len(dg) / tg * 1e6 + 0.5) / 1e6,
        )

    schema = (
        "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"
    )
    d = _tmp_fixture(spark, "documents", rows, schema)
    try:
        got = {
            r.lang: (r.n_cands, r.avg_self_bleu2, r.avg_p1, r.avg_p2,
                     r.distinct2_ratio)
            for r in q_self_bleu_diversity(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(got) == set(expected)
    for lang, (nc, bleu, p1, p2, d2) in expected.items():
        g = got[lang]
        assert g[0] == nc
        # exp() is the one libm call in the chain; everything else is
        # IEEE-exact, so allow a single 1e-6 quantum of slack on the
        # bleu mean and require exactness elsewhere.
        assert abs(g[1] - bleu) <= 1e-6 + 1e-9, (lang, g[1], bleu)
        assert g[2] == p1 and g[3] == p2 and g[4] == d2, (lang, g, expected[lang])


# ---------------------------------------------------------------------------
# r9 new rows: functional-graph rho brute force, changepoint DP optimum
# ---------------------------------------------------------------------------


@settings(max_examples=8, deadline=None, derandomize=True)
@given(n=st.integers(min_value=1, max_value=40))
def test_functional_graph_rho_matches_brute_force(spark, n):
    """q_functional_graph_rho == a brute-force walk: for every node,
    follow s(v) = (48271 v + 12345) mod n for n steps to land on the
    cycle, collect each cycle by walking it closed, and aggregate
    (comp = cycle min, sizes by membership). Exercises the theorem
    the pointer-doubling form relies on (image of s^N for ANY
    N >= max tail length is exactly the cyclic set) at a DIFFERENT N
    than either engine uses, plus n=1 self-loops and power-of-two n."""
    import shutil

    from fts_analysis_datalake_spark.queries.joins_sets import (
        _FG_A,
        _FG_C,
        q_functional_graph_rho,
    )

    def s(v):
        return (_FG_A * v + _FG_C) % n

    # brute force: cycle node for each v by n-step walk
    on_cycle_from = {}
    for v in range(n):
        w = v
        for _ in range(n):
            w = s(w)
        on_cycle_from[v] = w  # guaranteed on a cycle
    comp_of_cycle_node = {}
    for c in set(on_cycle_from.values()):
        cyc = [c]
        w = s(c)
        while w != c:
            cyc.append(w)
            w = s(w)
        m = min(cyc)
        for x in cyc:
            comp_of_cycle_node[x] = (m, len(cyc))
    expected = {}
    for v in range(n):
        m, clen = comp_of_cycle_node[on_cycle_from[v]]
        tot, _ = expected.get(m, (0, clen))
        expected[m] = (tot + 1, clen)
    exp_rows = {
        (m, tot, clen, tot - clen) for m, (tot, clen) in expected.items()
    }

    rows = [(i * 10,) for i in range(n)]  # sparse keys; ranks are dense
    d = _tmp_fixture(spark, "orders", rows, "o_orderkey BIGINT")
    try:
        got = {
            (r.comp_id, r.n_nodes, r.cycle_len, r.tree_size)
            for r in q_functional_graph_rho(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == exp_rows


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    xs=st.lists(
        st.integers(min_value=0, max_value=300), min_size=1, max_size=11
    )
)
def test_optimal_changepoints_match_brute_force(spark, xs):
    """q_optimal_changepoints' total_cost == the brute-force minimum
    over ALL 2^(n-1) segmentations of sum-of-segment weighted
    variances + lam per segment, and its (n_segments,
    last_seg_start) are attained by at least one optimal segmentation
    — enumeration is independent of both engines' shared DP. Short
    random series cover constant series (everything ties), single
    days, and spike patterns where the penalty must arbitrate."""
    import datetime
    import shutil

    from fts_analysis_datalake_spark.queries.event_analytics import (
        _OP_LAM_DIV,
        q_optimal_changepoints,
    )

    # one event per day; daily mean cents == value*100 rounded
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(days=i), 0, "a", v / 100.0, "{}")
        for i, v in enumerate(xs)
    ]
    n = len(xs)
    s1 = [0] * (n + 1)
    s2 = [0] * (n + 1)
    for i, v in enumerate(xs, start=1):
        s1[i] = s1[i - 1] + v
        s2[i] = s2[i - 1] + v * v
    lam = (n * s2[n] - s1[n] * s1[n]) // _OP_LAM_DIV

    def cost(a, b):  # 1-indexed inclusive
        ln = b - a + 1
        return ln * (s2[b] - s2[a - 1]) - (s1[b] - s1[a - 1]) ** 2

    best = None  # (total, {(nseg, last_start), ...})
    for mask in range(1 << (n - 1)):  # bit i set = cut after day i+1
        starts = [1] + [i + 2 for i in range(n - 1) if mask >> i & 1]
        tot = 0
        for a, e in zip(starts, [x - 1 for x in starts[1:]] + [n]):
            tot += cost(a, e) + lam
        key = (len(starts), starts[-1])
        if best is None or tot < best[0]:
            best = (tot, {key})
        elif tot == best[0]:
            best[1].add(key)

    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        [r] = q_optimal_changepoints(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert r.n_days == n
    assert r.lam == lam
    assert r.total_cost == best[0], (r.total_cost, best[0])
    assert (r.n_segments, r.last_seg_start) in best[1]


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_betweenness_matches_python_replay(spark, edges):
    """q_betweenness_centrality == an independent Python replay of the
    full spec on random small graphs: backbone = per-node top-_BB_DEG
    strongest incident pairs (ties (count desc, partner asc); a pair
    survives if either endpoint ranks it), 3-hop BFS levels with exact
    path counts, floor-divided 1e-6 dependency accumulation, top-20
    by (betweenness desc, node). Covers multi-edges (co-counts > 1),
    self-pair-free orders, disconnected nodes, and seeds with no
    2-hop neighborhood."""
    import shutil
    from collections import Counter, defaultdict

    from fts_analysis_datalake_spark.queries.joins_sets import (
        _BB_DEG,
        _BC_Q,
        _BC_SEED_MOD,
        q_betweenness_centrality,
    )

    edges = [(u, v) for u, v in edges if u != v]
    if not edges:
        return
    rows = []
    for ok, (u, v) in enumerate(edges):
        rows.append((ok, u))
        rows.append((ok, v))

    cnt = Counter((min(u, v), max(u, v)) for u, v in edges)
    nbrs = defaultdict(list)
    for (u, v), w in cnt.items():
        nbrs[u].append((-w, v))
        nbrs[v].append((-w, u))
    kept = set()
    for node, lst in nbrs.items():
        for _negw, other in sorted(lst)[:_BB_DEG]:
            kept.add((min(node, other), max(node, other)))
    adj = defaultdict(set)
    for u, v in kept:
        adj[u].add(v)
        adj[v].add(u)
    sym_nodes = sorted(adj)
    seeds = [s for s in sym_nodes if s % _BC_SEED_MOD == 1]
    bq: dict = defaultdict(int)
    contrib: dict = defaultdict(int)
    for s in seeds:
        levels = [{s: 1}]
        seen = {s}
        for _ in range(3):
            nxt: dict = defaultdict(int)
            for v, sig in levels[-1].items():
                for w in adj[v]:
                    if w not in seen:
                        nxt[w] += sig
            seen |= set(nxt)
            levels.append(dict(nxt))
        # backward: delta over levels 2 then 1 (level 3 contributes 0)
        dq = [dict() for _ in range(4)]
        for lv in (2, 1):
            for v, sig in levels[lv].items():
                t = 0
                for w in adj[v]:
                    if w in levels[lv + 1]:
                        nd = dq[lv + 1].get(w, 0)
                        t += sig * (_BC_Q + nd) // levels[lv + 1][w]
                dq[lv][v] = t
        for lv in (1, 2):
            for v, d in dq[lv].items():
                bq[v] += d
                if d > 0:
                    contrib[v] += 1
    agg = sorted(
        ((v, bq[v], contrib.get(v, 0)) for v in bq),
        key=lambda r: (-r[1], r[0]),
    )[:20]
    expected = [(v, b / 1e6, c) for v, b, c in agg]

    d = _tmp_fixture(spark, "lineitem", rows, "l_orderkey BIGINT, l_suppkey BIGINT")
    try:
        got = [
            (r.node, r.betweenness, r.n_seed_contribs)
            for r in q_betweenness_centrality(spark, d).collect()
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected, (got, expected)


# --------------------------------------------------------------------------
# ADVICE r9 edge contracts: ANSI-safe empty-token docs (l-diversity) and
# empty-corpus agreement (Huffman) — engine and oracle must agree on
# inputs the sf fixtures happen never to contain.
# --------------------------------------------------------------------------

_DOCS_SCHEMA = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def test_l_diversity_survives_punct_only_doc(spark):
    """A punctuation-only doc normalizes to zero tokens; ANSI
    element_at(arr, 1) would RAISE, try_element_at yields NULL -> ''
    — exactly DuckDB's ([])[1]. Parity must hold WITH such a doc in
    the corpus (ADVICE r9, llm_curation q_l_diversity_audit)."""
    import shutil

    import duckdb

    from fts_analysis_datalake_spark.queries.llm_curation import (
        q_l_diversity_audit,
    )
    from fts_analysis_datalake_spark.registry import REGISTRY

    from conftest import assert_parity

    rows = [
        (1, "alpha beta gamma", "en", "web", 16),
        (2, "!!! ... ???", "en", "web", 11),  # zero tokens after normalize
        (3, "", "en", "web", 0),  # empty text
        (4, "alpha beta", "fr", "book", 10),
        (5, "delta", "en", "web", 5),
    ]
    d = _tmp_fixture(spark, "documents", rows, _DOCS_SCHEMA)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
        )
        assert_parity(
            q_l_diversity_audit(spark, d),
            con,
            REGISTRY["q_l_diversity_audit"].oracle,
            "l_diversity_punct_doc",
        )
    finally:
        con.close()
        shutil.rmtree(d, ignore_errors=True)


def test_huffman_empty_corpus_zero_rows_both_engines(spark):
    """On an empty corpus the Spark kernel yields no rows; the oracle's
    aggregate base CTE must match (HAVING COUNT(*) > 0 — ADVICE r9)
    instead of emitting one NULL-list row with CEIL(log2(0))."""
    import shutil

    import duckdb

    from fts_analysis_datalake_spark.queries.llm_text import (
        q_huffman_code_audit,
    )
    from fts_analysis_datalake_spark.registry import REGISTRY

    d = _tmp_fixture(spark, "documents", [], _DOCS_SCHEMA)
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
        )
        assert q_huffman_code_audit(spark, d).count() == 0
        assert len(con.execute(REGISTRY["q_huffman_code_audit"].oracle).fetchdf()) == 0
    finally:
        con.close()
        shutil.rmtree(d, ignore_errors=True)


# --------------------------------------------------------------------------
# r10 (VERDICT r9 task 4): independent replays for the r9 rows that were
# on oracle-only evidence — Elo trajectory, RANSAC exhaustive trials,
# Huffman optimal total, AMS F2 estimator.
# --------------------------------------------------------------------------


def _tmp_multi_fixture(spark, tables: dict) -> str:
    import tempfile

    d = tempfile.mkdtemp(prefix="props_multi_")
    for t, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{d}/{t}.parquet")
    return d


@settings(max_examples=12, deadline=None, derandomize=True)
@given(
    n_players=st.integers(min_value=2, max_value=5),
    raw_matches=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=5),  # player a
            st.integers(min_value=1, max_value=5),  # player b
            st.sampled_from(["a", "b", "tie"]),  # outcome
        ),
        min_size=1,
        max_size=15,
    ),
)
def test_elo_matches_definition_replay(spark, n_players, raw_matches):
    """The Elo walk (bucketed integer expected-score table, K=16,
    floor-division deltas) must equal a from-the-definition replay
    that recomputes each expected score from the 10^(d/400) logistic
    at test time (bucketed to the same 25-point grid — the subtle
    part the 33-entry table bakes in) — independent of both the
    kernel's table constant and the oracle's recursion."""
    import datetime
    import shutil

    from fts_analysis_datalake_spark.queries.ml_eval import (
        q_elo_league_ratings,
    )

    matches = [
        (a % n_players + 1, b % n_players + 1, out)
        for a, b, out in raw_matches
    ]
    matches = [(a, b, out) for a, b, out in matches if a != b]
    if not matches:
        return
    sup_rows = [(s, f"S{s}", 7, 0.0) for s in range(1, n_players + 1)]
    li_rows, ord_rows = [], []
    d0 = datetime.datetime(1995, 1, 1)
    for t, (a, b, out) in enumerate(matches, start=1):
        pa, pb = {"a": (20.0, 10.0), "b": (10.0, 20.0), "tie": (15.0, 15.0)}[
            out
        ]
        li_rows.append((t, 1, a, 1, 1.0, pa))
        li_rows.append((t, 1, b, 2, 1.0, pb))
        ord_rows.append((t, 1, "O", 0.0, d0))  # same date: ok breaks ties
    d = _tmp_multi_fixture(
        spark,
        {
            "supplier": (
                sup_rows,
                "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
            ),
            "lineitem": (
                li_rows,
                "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE",
            ),
            "orders": (
                ord_rows,
                "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
                "o_totalprice DOUBLE, o_orderdate TIMESTAMP",
            ),
        },
    )
    # from-the-definition replay (suppkey s == roster idx s here since
    # suppkeys are 1..n in one nation)
    rats = {s: 1000 for s in range(1, n_players + 1)}
    for a, b, out in matches:
        win = {"a": 1, "b": 0, "tie": 1 if a < b else 0}[out]
        dlt = max(min(rats[a] - rats[b], 400), -400)
        bucket = (dlt + 400) // 25
        ea = round(1000.0 / (1.0 + 10.0 ** (-(bucket * 25 - 400) / 400.0)))
        rats[a] += (16 * (win * 1000 - ea)) // 1000
        rats[b] += (16 * ((1 - win) * 1000 - (1000 - ea))) // 1000
    top = max(rats, key=lambda s: (rats[s], -s))
    expected = (
        7,
        len(matches),
        n_players,
        top,
        rats[top],
        min(rats.values()),
    )
    try:
        rows = q_elo_league_ratings(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(rows) == 1
    got = tuple(rows[0])
    assert got == expected, (got, expected, matches)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),  # quantity
            st.integers(min_value=100, max_value=50000),  # price cents
        ),
        min_size=66,
        max_size=160,
    )
)
def test_ransac_matches_exhaustive_trial_evaluation(spark, pts):
    """The RANSAC winner must equal an exhaustive Python evaluation of
    every candidate line: same md5-ranked deterministic sample, same
    cross-multiplied integer inlier test over ALL points, ties to the
    lowest trial id — independent of the oracle SQL."""
    import hashlib
    import shutil

    from fts_analysis_datalake_spark.queries.robust_models import (
        _RS_TOL,
        _RS_TRIALS,
        q_ransac_price_line,
    )

    rows = [
        (i + 1, 1 + i % 7, 1 + i % 5, 1 + i % 3, float(q), c / 100.0)
        for i, (q, c) in enumerate(pts)
    ]
    d = _tmp_multi_fixture(
        spark,
        {
            "lineitem": (
                rows,
                "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE",
            )
        },
    )
    # replay: md5(content) over the same concat_ws text
    pset = []
    for ok, pk, sk, ln, q, price in rows:
        y = int(_pyfloor(price * 100 + 0.5))
        h = hashlib.md5(f"{ok}|{ln}|{sk}|{pk}|{y}".encode()).hexdigest()
        pset.append((h, int(q), y))
    samp = sorted(pset)[: 2 * _RS_TRIALS]
    best = None
    for t in range(1, len(samp) - _RS_TRIALS + 1):
        _, x1, y1 = samp[t - 1]
        _, x2, y2 = samp[t - 1 + _RS_TRIALS]
        dx, dy = x2 - x1, y2 - y1
        if dx == 0:
            continue
        n_in = sum(
            1
            for _, x, y in pset
            if abs((y - y1) * dx - (x - x1) * dy) <= _RS_TOL * abs(dx)
        )
        key = (-n_in, t)
        if best is None or key < best[0]:
            best = (key, (t, len(pset), n_in, dy, dx, x1, y1))
    try:
        out = q_ransac_price_line(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    if best is None:
        assert out == []
        return
    (t, n_pts, n_in, dy, dx, x1, y1) = best[1]
    assert len(out) == 1
    r = out[0]
    got = (
        r.trial,
        r.n_points,
        r.n_inliers,
        r.slope_num,
        r.slope_den,
        r.x1,
        r.y1,
    )
    assert got == (t, n_pts, n_in, dy, dx, x1, y1), (got, best)
    assert r.inlier_frac == _pyfloor(n_in / n_pts * 1000000 + 0.5) / 1e6


def _pyfloor(v: float) -> int:
    import math

    return int(math.floor(v))


@settings(max_examples=12, deadline=None, derandomize=True)
@given(
    freqs=st.dictionaries(
        st.sampled_from(
            ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
        ),
        st.integers(min_value=1, max_value=20),
        min_size=1,
        max_size=8,
    )
)
def test_huffman_total_matches_two_queue_optimum(spark, freqs):
    """huffman_bits must equal the optimal total from an INDEPENDENT
    two-queue Huffman construction (different merge-tie handling than
    the kernel's heapq — the total weighted length is tie-invariant,
    which is exactly the claim the query rests on), and the
    entropy/fixed-bits columns must match their definitions."""
    import math
    import shutil
    from collections import deque

    from fts_analysis_datalake_spark.queries.llm_text import (
        q_huffman_code_audit,
    )

    text = " ".join(t for t, f in sorted(freqs.items()) for _ in range(f))
    d = _tmp_multi_fixture(
        spark,
        {
            "documents": (
                [(1, text, "en", "web", len(text))],
                "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
            )
        },
    )
    fs = sorted(freqs.values())
    n, v = sum(fs), len(fs)
    # two-queue O(n) optimal merge (leaves sorted; merged nodes are
    # produced in nondecreasing order so a second queue suffices)
    q1, q2 = deque(fs), deque()
    bits = 0
    while len(q1) + len(q2) > 1:
        picks = []
        for _ in range(2):
            if q1 and (not q2 or q1[0] <= q2[0]):
                picks.append(q1.popleft())
            else:
                picks.append(q2.popleft())
        s = picks[0] + picks[1]
        bits += s
        q2.append(s)
    ent_q = sum(
        int(math.floor(f * math.log2(n / f) * 1000000 + 0.5)) for f in fs
    )
    try:
        out = q_huffman_code_audit(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1
    r = out[0]
    assert r.n_symbols == v and r.total_tokens == n
    assert r.huffman_bits == bits, (r.huffman_bits, bits, fs)
    assert r.entropy_bits == ent_q / 1e6
    assert r.fixed_bits == math.ceil(math.log2(v)) * n
    assert r.bits_per_token == math.floor(bits / n * 1000000 + 0.5) / 1e6


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    bag=st.dictionaries(
        st.sampled_from(
            ["tok%d" % i for i in range(12)]
        ),
        st.integers(min_value=1, max_value=9),
        min_size=1,
        max_size=12,
    )
)
def test_ams_f2_matches_md5_sign_replay(spark, bag):
    """Every AMS F2 output (sketch estimate included) must equal a
    Python replay that recomputes the 16 md5-sign estimators with
    hashlib over the same token bag — the sketch VALUES are
    deterministic given the corpus, so this checks the estimator
    arithmetic end to end, not just the envelope boolean."""
    import hashlib
    import shutil

    from fts_analysis_datalake_spark.queries.sketches_search import (
        _AMS_K,
        q_ams_f2_sketch,
    )

    text = " ".join(t for t, f in sorted(bag.items()) for _ in range(f))
    d = _tmp_multi_fixture(
        spark,
        {
            "documents": (
                [(1, text, "en", "web", len(text))],
                "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
            )
        },
    )

    def sign(i: int, t: str) -> int:
        return (
            1
            if hashlib.md5(f"{i}:{t}".encode()).hexdigest()[0] in "01234567"
            else -1
        )

    n_tokens = sum(bag.values())
    n_distinct = len(bag)
    exact = sum(f * f for f in bag.values())
    est = (
        sum(
            sum(sign(i, t) * f for t, f in bag.items()) ** 2
            for i in range(_AMS_K)
        )
        // _AMS_K
    )
    within = abs(est - exact) * 1000 <= 1415 * exact
    try:
        out = q_ams_f2_sketch(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1
    r = out[0]
    got = (r.n_tokens, r.n_distinct, r.exact_f2, r.est_f2, r.within_4sigma)
    assert got == (n_tokens, n_distinct, exact, est, within), (got, bag)


# --------------------------------------------------------------------------
# r10 rows: independent replays — knapsack vs exhaustive subsets,
# interval scheduling vs brute-force max independent set, Gale-Shapley
# stability (no blocking pairs) + textbook replay.
# --------------------------------------------------------------------------


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    items=st.lists(
        st.tuples(
            st.integers(min_value=100, max_value=99999),  # price cents
            st.integers(min_value=1, max_value=50),  # size
        ),
        min_size=1,
        max_size=10,
    )
)
def test_knapsack_matches_exhaustive_subsets(spark, items):
    """The DP's value-of-budget readouts must equal brute-force
    maximization over all 2^n subsets at each audited capacity."""
    import itertools
    import shutil

    from fts_analysis_datalake_spark.queries.advanced_models import (
        _KS_CAP,
        q_knapsack_part_budget,
    )

    rows = [
        (i + 1, f"part{i}", sz, cents / 100.0)
        for i, (cents, sz) in enumerate(items)
    ]
    d = _tmp_multi_fixture(
        spark,
        {
            "part": (
                rows,
                "p_partkey BIGINT, p_name STRING, p_size INT, p_retailprice DOUBLE",
            )
        },
    )

    def brute(cap):
        best = 0
        vals = [(c, s) for c, s in items]
        for r in range(len(vals) + 1):
            for comb in itertools.combinations(vals, r):
                if sum(s for _, s in comb) <= cap:
                    best = max(best, sum(c for c, _ in comb))
        return best

    try:
        out = q_knapsack_part_budget(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1
    r = out[0]
    assert r.n_items == len(items)
    assert r.best_at_quarter == brute(_KS_CAP // 4)
    assert r.best_at_half == brute(_KS_CAP // 2)
    assert r.best_at_three_quarters == brute(3 * _KS_CAP // 4)
    assert r.best_at_full == brute(_KS_CAP)


@settings(max_examples=10, deadline=None, derandomize=True)
@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=50),  # start slot
            st.integers(min_value=0, max_value=30),  # raw duration value
        ),
        min_size=1,
        max_size=10,
    )
)
def test_interval_scheduling_matches_max_independent_set(spark, iv):
    """Earliest-end greedy is provably MAXIMUM for interval
    scheduling — check the query's n_selected equals brute-force
    maximum non-overlapping subset size over all 2^n subsets."""
    import datetime
    import itertools
    import math
    import shutil

    from fts_analysis_datalake_spark.queries.event_analytics import (
        q_interval_scheduling_users,
    )

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i + 1, base + datetime.timedelta(hours=s), 7, "view", float(v), "{}")
        for i, (s, v) in enumerate(iv)
    ]
    d = _tmp_multi_fixture(spark, {"events": (rows, _EVENTS_SCHEMA)})
    # replay the query's interval construction exactly
    spans = []
    for i, (s, v) in enumerate(iv):
        s_us = int((base + datetime.timedelta(hours=s)).timestamp() * 1e6)
        e_us = s_us + (int(math.floor(v * 100 + 0.5)) + 1) * 10000000
        spans.append((s_us, e_us))
    best = 0
    for r in range(len(spans), 0, -1):
        if r <= best:
            break
        for comb in itertools.combinations(spans, r):
            c = sorted(comb)
            if all(c[k][1] <= c[k + 1][0] for k in range(len(c) - 1)):
                best = max(best, r)
                break
    try:
        out = q_interval_scheduling_users(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1
    r = out[0]
    assert (r.user_id, r.n_events) == (7, len(iv))
    assert r.n_selected == best, (r.n_selected, best, spans)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    cents=st.lists(
        st.integers(min_value=0, max_value=9),
        min_size=64,
        max_size=64,
    )
)
def test_stable_matching_is_stable_and_matches_textbook_replay(
    spark, cents
):
    """The matching must (a) contain NO blocking pair — the defining
    stability property, checked from first principles against the
    preference matrix — and (b) equal a textbook supplier-proposing
    Gale-Shapley replay written independently of the query/oracle."""
    import shutil

    from fts_analysis_datalake_spark.queries.advanced_models import (
        _GS_N,
        q_stable_matching_panel,
    )

    n = _GS_N
    # panel identity: make supplier k = suppkey k, customer k = custkey k
    # with totals forced so the top-8 panels are exactly 1..8 in order:
    # add a dominant diagonal bonus keyed to (9-k) so totals order by key.
    m = {}
    for si in range(1, n + 1):
        for ci in range(1, n + 1):
            m[(si, ci)] = cents[(si - 1) * n + (ci - 1)] + 1
    # per-(s,c) interaction = one order with one line of that many dollars
    li_rows, ord_rows = [], []
    ok = 0
    import datetime

    d0 = datetime.datetime(1996, 1, 1)
    big = 10_000  # dominance bonus so totals sort panels by key
    for si in range(1, n + 1):
        for ci in range(1, n + 1):
            ok += 1
            amount = m[(si, ci)] + (big * (n - si) if si == ci else 0)
            # totals: supplier si gets sum_ci m + big*(n-si) -> sorted by si
            li_rows.append((ok, 1, si, 1, 1.0, float(amount)))
            ord_rows.append((ok, ci, "O", 0.0, d0))
    d = _tmp_multi_fixture(
        spark,
        {
            "lineitem": (
                li_rows,
                "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE",
            ),
            "orders": (
                ord_rows,
                "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
                "o_totalprice DOUBLE, o_orderdate TIMESTAMP",
            ),
        },
    )
    try:
        out = q_stable_matching_panel(spark, d).collect()
        got = {(r.s_suppkey, r.c_custkey): r.cents for r in out}
    finally:
        shutil.rmtree(d, ignore_errors=True)
    # reconstruct the ACTUAL panel indices + cents the query saw
    # (totals may not order by key for customer side) — recompute
    # from the fixture exactly as the query does
    import collections

    inter = collections.defaultdict(int)
    for (okey, _, sk, _, _, price), (_, ck, _, _, _) in zip(
        li_rows, ord_rows
    ):
        inter[(sk, ck)] += int(price * 100 + 0.5)
    stot = collections.defaultdict(int)
    ctot = collections.defaultdict(int)
    for (sk, ck), c in inter.items():
        stot[sk] += c
        ctot[ck] += c
    sup = sorted(stot, key=lambda k: (-stot[k], k))[:n]
    cus = sorted(ctot, key=lambda k: (-ctot[k], k))[:n]
    si_of = {sk: i + 1 for i, sk in enumerate(sup)}
    ci_of = {ck: i + 1 for i, ck in enumerate(cus)}
    mm = {
        (si_of[sk], ci_of[ck]): inter.get((sk, ck), 0)
        for sk in sup
        for ck in cus
    }
    # textbook replay
    prefs = {
        si: sorted(range(1, n + 1), key=lambda ci: (-mm[(si, ci)], ci))
        for si in range(1, n + 1)
    }
    nxt = {si: 0 for si in range(1, n + 1)}
    cur = {ci: 0 for ci in range(1, n + 1)}
    while True:
        free = [
            si
            for si in range(1, n + 1)
            if si not in cur.values() and nxt[si] < n
        ]
        if not free:
            break
        s = min(free)
        c = prefs[s][nxt[s]]
        nxt[s] += 1
        v = cur[c]
        if v == 0 or mm[(s, c)] > mm[(v, c)] or (
            mm[(s, c)] == mm[(v, c)] and s < v
        ):
            cur[c] = s
    expected = {
        (sup[cur[ci] - 1], cus[ci - 1]): mm[(cur[ci], ci)]
        for ci in range(1, n + 1)
        if cur[ci] != 0
    }
    assert got == expected, (got, expected)
    # stability: no (s, c) prefers each other over assigned partners
    match_of_s = {s: c for (s, c) in (
        (cur[ci], ci) for ci in range(1, n + 1) if cur[ci] != 0)}
    match_of_c = {c: s for s, c in match_of_s.items()}
    for s in range(1, n + 1):
        for c in range(1, n + 1):
            ms = match_of_s.get(s)
            mc = match_of_c.get(c)
            if ms == c:
                continue
            s_prefers = ms is None or (
                mm[(s, c)],
                -c,
            ) > (mm[(s, ms)], -ms)
            c_prefers = mc is None or (
                mm[(s, c)],
                -s,
            ) > (mm[(mc, c)], -mc)
            assert not (s_prefers and c_prefers), (
                "blocking pair",
                s,
                c,
            )


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    counts=st.lists(
        st.integers(min_value=0, max_value=3), min_size=5, max_size=18
    )
)
def test_pacf_matches_durbin_levinson_replay(spark, counts):
    """q_pacf_hourly == a GENERIC Durbin-Levinson recursion replayed
    in Python over the same stationary-convention autocovariances —
    the query unrolls DL to closed form (p2, c21, p3), so an
    independent loop-form recursion over random small hourly series
    checks the unrolling algebra, the zero-filled spine, and the
    exact-BIGINT moment plumbing at once."""
    import datetime
    import math
    import shutil

    from hypothesis import assume

    from fts_analysis_datalake_spark.queries.stats_models import q_pacf_hourly

    # pin the endpoints so the replay's series == the engine's spine
    counts = list(counts)
    counts[0] = max(counts[0], 1)
    counts[-1] = max(counts[-1], 1)

    ys = counts
    n = len(ys)
    m = sum(ys) / n

    def S(k):
        return sum(ys[t] * ys[t - k] for t in range(k, n))

    def A(k):
        return sum(ys[t - k] for t in range(k, n))

    def B(k):
        return sum(ys[t] for t in range(k, n))

    gam = [(S(k) - m * (A(k) + B(k)) + (n - k) * m * m) / n for k in range(4)]
    assume(abs(gam[0]) > 1e-9)
    r = [g / gam[0] for g in gam]
    # generic Durbin-Levinson: phi[k][k] from phi[k-1][*]
    phi = {1: {1: r[1]}}
    for k in (2, 3):
        num = r[k] - sum(phi[k - 1][j] * r[k - j] for j in range(1, k))
        den = 1.0 - sum(phi[k - 1][j] * r[j] for j in range(1, k))
        assume(abs(den) > 1e-6)
        phi[k] = {k: num / den}
        for j in range(1, k):
            phi[k][j] = phi[k - 1][j] - phi[k][k] * phi[k - 1][k - j]
    expected = {
        "n_hours": n,
        "acf": [r[1], r[2], r[3]],
        "pacf": [phi[1][1], phi[2][2], phi[3][3]],
    }
    # stay away from 1e-6 quantization boundaries: the engine unrolls
    # the identical algebra but in a different float op order
    for v in expected["acf"] + expected["pacf"]:
        assume(abs(v * 1e6 + 0.5 - math.floor(v * 1e6 + 0.5)) > 1e-3)

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h, c in enumerate(counts):
        for j in range(c):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(hours=h, minutes=j),
                    0,
                    "a",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        out = q_pacf_hourly(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1
    row = out[0]
    assert row.n_hours == n
    got = [
        row.acf_1, row.acf_2, row.acf_3, row.pacf_1, row.pacf_2, row.pacf_3
    ]
    want = expected["acf"] + [expected["pacf"][0]] + expected["pacf"][1:]
    for g, w in zip(got, want):
        assert abs(g - w) <= 1.5e-6, (got, want)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    counts=st.lists(
        st.integers(min_value=0, max_value=4), min_size=17, max_size=40
    )
)
def test_hurst_matches_direct_variance_of_aggregates(spark, counts):
    """q_hurst_aggregated_variance == the aggregated-variance method
    computed DIRECTLY with numpy: block-mean variances (ddof=1) at
    m in (1,2,4,8) over complete blocks of the zero-filled hourly
    series, ln quantized at 1e-9, and the 4-point OLS slope via
    numpy lstsq — independently of the engine's exact-BIGINT moment
    and closed-form-slope plumbing."""
    import datetime
    import math
    import shutil

    import numpy as np
    from hypothesis import assume

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_hurst_aggregated_variance,
    )

    counts = list(counts)
    counts[0] = max(counts[0], 1)
    counts[-1] = max(counts[-1], 1)
    ys = np.asarray(counts, dtype=np.float64)

    lnq = []
    for m in (1, 2, 4, 8):
        nb = len(ys) // m
        assume(nb >= 2)
        means = ys[: nb * m].reshape(nb, m).mean(axis=1)
        vm = float(np.var(means, ddof=1))
        assume(vm > 1e-12)
        lnq.append(math.floor(math.log(vm) * 1e9 + 0.5) / 1e9)
    xk = np.arange(4.0)
    slope = float(
        np.linalg.lstsq(
            np.stack([xk, np.ones(4)], axis=1), np.asarray(lnq), rcond=None
        )[0][0]
    )
    hurst = 1.0 + slope / (2.0 * math.log(2.0))
    # stay off the final 1e-6 quantization boundaries
    for v in (hurst, slope, lnq[0], lnq[3]):
        assume(abs(v * 1e6 + 0.5 - math.floor(v * 1e6 + 0.5)) > 1e-3)

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h, c in enumerate(counts):
        for j in range(c):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(hours=h, minutes=j),
                    0,
                    "a",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        out = q_hurst_aggregated_variance(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1
    row = out[0]
    assert abs(row.hurst - hurst) <= 1.5e-6, (row, hurst, slope, lnq)
    assert abs(row.var_slope - slope) <= 1.5e-6
    assert abs(row.ln_var_m1 - lnq[0]) <= 1.5e-6
    assert abs(row.ln_var_m8 - lnq[3]) <= 1.5e-6


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    dollars=st.lists(
        st.integers(min_value=0, max_value=500), min_size=9, max_size=28
    )
)
def test_seasonal_strength_matches_numpy_replay(spark, dollars):
    """q_seasonal_decomposition_weekly == a numpy replay of the
    classical decomposition from its definition: daily cents,
    centered 7-day MA trend on complete windows, detrended
    d7 = 7y - s7, ISO-dow seasonal means, and the STL-style strength
    1 - SS_resid/SS_detrended with each squared term floor-quantized
    at 1e-4 before the sum — checked per (event_type, dow) row."""
    import datetime
    import math
    import shutil
    from collections import defaultdict

    import numpy as np
    from hypothesis import assume

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_seasonal_decomposition_weekly,
    )

    # one value per consecutive day; 2024-01-01 is a Monday (isodow 1)
    cents = [d * 100 for d in dollars]
    y = np.asarray(cents, dtype=np.int64)
    n = len(y)
    d7 = {}
    for i in range(3, n - 3):
        d7[i] = 7 * int(y[i]) - int(y[i - 3 : i + 4].sum())
    assume(len(d7) >= 2)
    by_dow = defaultdict(list)
    for i, v in d7.items():
        by_dow[(i % 7) + 1].append(v)
    ssd = sum(
        math.floor(float(v) * v * 1e-4 + 0.5) for v in d7.values()
    )
    assume(ssd > 0)
    ssr = 0
    for dow, vs in by_dow.items():
        mean = sum(vs) / len(vs)
        ssr += sum(math.floor((v - mean) ** 2 * 1e-4 + 0.5) for v in vs)
    strength = 1.0 - ssr / ssd
    expected = {}
    for dow, vs in by_dow.items():
        seasonal = sum(vs) / (len(vs) * 7.0)
        expected[dow] = (
            len(vs),
            math.floor(seasonal * 1e6 + 0.5) / 1e6,
            len(d7),
            math.floor(strength * 1e6 + 0.5) / 1e6,
        )

    base = datetime.datetime(2024, 1, 1, 12, 0)
    rows = [
        (i, base + datetime.timedelta(days=i), 0, "a", float(v), "{}")
        for i, v in enumerate(dollars)
    ]
    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = {
            r.dow: (
                r.n_days,
                r.seasonal_cents,
                r.n_complete,
                r.seasonal_strength,
            )
            for r in q_seasonal_decomposition_weekly(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(got) == set(expected)
    for dow in expected:
        ge, we = got[dow], expected[dow]
        assert ge[0] == we[0] and ge[2] == we[2], (got, expected)
        assert abs(ge[1] - we[1]) <= 1.5e-6
        assert abs(ge[3] - we[3]) <= 1.5e-6


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    dollars=st.lists(
        st.integers(min_value=0, max_value=300), min_size=4, max_size=9
    )
)
def test_runs_test_matches_exhaustive_enumeration(spark, dollars):
    """q_runs_test_daily checked two ways: (1) the residual-sign
    sequence and run count are replayed from the exact-moment trend
    fit; (2) the mu / var closed forms are verified against the
    EXHAUSTIVE exchangeable null — mean and variance of the run count
    over all C(n, n+) arrangements of the observed sign multiset,
    computed in exact rationals."""
    import datetime
    import math
    import shutil
    from fractions import Fraction
    from itertools import combinations

    from hypothesis import assume

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_runs_test_daily,
    )

    n = len(dollars)
    ys = [d * 100 for d in dollars]
    xs = list(range(1, n + 1))
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    b = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    a = (float(sy) - b * float(sx)) / n
    pos = [1 if float(y) - (a + b * float(x)) >= 0 else 0
           for x, y in zip(xs, ys)]
    runs = 1 + sum(1 for i in range(1, n) if pos[i] != pos[i - 1])
    np_, nm = sum(pos), n - sum(pos)
    assume(np_ > 0 and nm > 0)

    # exhaustive exchangeable null over all arrangements of the multiset
    def run_count(seq):
        return 1 + sum(1 for i in range(1, len(seq)) if seq[i] != seq[i - 1])

    counts = []
    for ones in combinations(range(n), np_):
        seq = [1 if i in set(ones) else 0 for i in range(n)]
        counts.append(run_count(seq))
    mean_null = Fraction(sum(counts), len(counts))
    var_null = (
        Fraction(sum(c * c for c in counts), len(counts)) - mean_null**2
    )
    mu_formula = Fraction(2 * np_ * nm, n) + 1
    var_formula = Fraction(
        2 * np_ * nm * (2 * np_ * nm - n), n * n * (n - 1)
    )
    assert mu_formula == mean_null
    assert var_formula == var_null

    mu = 2.0 * np_ * nm / n + 1.0
    var = (2.0 * np_ * nm) * (2.0 * np_ * nm - n) / (float(n) * n * (n - 1))
    z = (runs - mu) / math.sqrt(var) if var > 0 else None
    if z is not None:
        assume(abs(z * 1e6 + 0.5 - math.floor(z * 1e6 + 0.5)) > 1e-3)
    assume(abs(mu * 1e6 + 0.5 - math.floor(mu * 1e6 + 0.5)) > 1e-3)

    base = datetime.datetime(2024, 1, 1, 12, 0)
    rows = [
        (i, base + datetime.timedelta(days=i), 0, "a", float(v), "{}")
        for i, v in enumerate(dollars)
    ]
    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        out = q_runs_test_daily(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1
    r = out[0]
    assert (r.n_days, r.n_runs, r.n_pos, r.n_neg) == (n, runs, np_, nm)
    assert abs(r.expected_runs - mu) <= 1.5e-6
    if z is None:
        assert r.z_stat is None
    else:
        assert abs(r.z_stat - z) <= 1.5e-6, (r.z_stat, z)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["ant", "bee", "cat", "dog", "elk", "fox"]),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=10,
    )
)
def test_good_turing_matches_definition_replay(spark, docs):
    """q_good_turing_smoothing == Good (1953) from the definition:
    Counter the tokens, Counter the counts, and for every r with a
    successor emit r* = (r+1) N_{r+1}/N_r, p = r*/N, P0 = N_1/N
    (None when the corpus has no singletons) — replayed with plain
    Python dicts against the engine's groupBy/self-join pipeline."""
    import shutil
    from collections import Counter

    from hypothesis import assume

    from fts_analysis_datalake_spark.queries.llm_text import (
        q_good_turing_smoothing,
    )

    texts = [" ".join(words) for words in docs]
    cnt = Counter(t for text in texts for t in text.split())
    fof = Counter(cnt.values())
    n_tot = sum(r * nr for r, nr in fof.items())
    n1 = fof.get(1)
    expected = {}
    for r, nr in fof.items():
        nr1 = fof.get(r + 1)
        if nr1 is None:
            continue
        import math

        est = (r + 1) * float(nr1) / nr
        expected[r] = (
            nr,
            nr1,
            math.floor(est * 1e6 + 0.5) / 1e6,
            math.floor(est / n_tot * 1e9 + 0.5) / 1e9,
            None
            if n1 is None
            else math.floor(float(n1) / n_tot * 1e9 + 0.5) / 1e9,
        )
    assume(expected)

    rows = [
        (i, t, "en", "s0", len(t)) for i, t in enumerate(texts)
    ]
    d = _tmp_fixture(spark, "documents", rows, _DOCS_SCHEMA)
    try:
        got = {
            r.r: (r.nr, r.nr_plus_1, r.r_star, r.p_smoothed, r.p_unseen_mass)
            for r in q_good_turing_smoothing(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(got) == set(expected), (got, expected)
    for r in expected:
        ge, we = got[r], expected[r]
        assert ge[0] == we[0] and ge[1] == we[1]
        assert abs(ge[2] - we[2]) <= 1.5e-6
        assert abs(ge[3] - we[3]) <= 1.5e-9
        if we[4] is None:
            assert ge[4] is None
        else:
            assert abs(ge[4] - we[4]) <= 1.5e-9


def _backbone_replay(cnt):
    """Per-node top-_BB_DEG backbone replay: {(u,v): w} co-counts ->
    set of kept undirected (u, v) pairs (w DESC, partner ASC ranks;
    a pair survives if either endpoint ranks it)."""
    from collections import defaultdict

    from fts_analysis_datalake_spark.queries.joins_sets import _BB_DEG

    nbrs = defaultdict(list)
    for (u, v), w in cnt.items():
        nbrs[u].append((-w, v))
        nbrs[v].append((-w, u))
    kept = set()
    for node, lst in nbrs.items():
        for _negw, other in sorted(lst)[:_BB_DEG]:
            kept.add((min(node, other), max(node, other)))
    return kept


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_katz_matches_adjacency_power_replay(spark, edges):
    """q_katz_centrality == numpy adjacency-power replay on the same
    per-node backbone: p1 = A·1, p2 = A·p1, p3 = A·p2 in exact int64,
    kq = 64 p1 + 8 p2 + p3, top-20 by (kq DESC, node), katz = kq/512
    (a power-of-two division — bit-exact)."""
    import shutil
    from collections import Counter

    import numpy as np

    from fts_analysis_datalake_spark.queries.joins_sets import (
        q_katz_centrality,
    )

    edges = [(u, v) for u, v in edges if u != v]
    if not edges:
        return
    rows = []
    for ok, (u, v) in enumerate(edges):
        rows.append((ok, u))
        rows.append((ok, v))
    cnt = Counter((min(u, v), max(u, v)) for u, v in edges)
    kept = _backbone_replay(cnt)
    nodes = sorted({x for e in kept for x in e})
    idx = {x: i for i, x in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)), dtype=np.int64)
    for u, v in kept:
        A[idx[u], idx[v]] = 1
        A[idx[v], idx[u]] = 1
    p1 = A @ np.ones(len(nodes), dtype=np.int64)
    p2 = A @ p1
    p3 = A @ p2
    kq = 64 * p1 + 8 * p2 + p3
    order = sorted(
        ((int(kq[i]), nodes[i], i) for i in range(len(nodes))),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    expected = [
        (node, k / 512.0, int(p1[i]), int(p2[i]), int(p3[i]))
        for k, node, i in order
    ]

    d = _tmp_fixture(spark, "lineitem", rows, "l_orderkey BIGINT, l_suppkey BIGINT")
    try:
        got = [
            (r.node, r.katz, r.paths_1, r.paths_2, r.paths_3)
            for r in q_katz_centrality(spark, d).collect()
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert got == expected, (got, expected)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_assortativity_matches_newman_formula(spark, edges):
    """q_degree_assortativity == Newman's r computed from the
    definition: Pearson correlation of the endpoint degrees over the
    DIRECTED edges of the same per-node backbone, in plain Python
    floats; NULL when every degree is equal (0/0 guard)."""
    import math
    import shutil
    from collections import Counter

    from fts_analysis_datalake_spark.queries.joins_sets import (
        q_degree_assortativity,
    )

    edges = [(u, v) for u, v in edges if u != v]
    if not edges:
        return
    rows = []
    for ok, (u, v) in enumerate(edges):
        rows.append((ok, u))
        rows.append((ok, v))
    cnt = Counter((min(u, v), max(u, v)) for u, v in edges)
    kept = _backbone_replay(cnt)
    sym = [(u, v) for u, v in kept] + [(v, u) for u, v in kept]
    deg = Counter(u for u, _ in sym)
    xs = [deg[u] for u, _ in sym]
    ys = [deg[v] for _, v in sym]
    m = len(sym)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    den = math.sqrt(float(m) * sxx - float(sx) * sx) * math.sqrt(
        float(m) * syy - float(sy) * sy
    )
    if den == 0.0:
        expected_r = None
    else:
        r = (float(m) * sxy - float(sx) * sy) / den
        expected_r = math.floor(r * 1e6 + 0.5) / 1e6

    d = _tmp_fixture(spark, "lineitem", rows, "l_orderkey BIGINT, l_suppkey BIGINT")
    try:
        out = q_degree_assortativity(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1
    row = out[0]
    assert row.n_directed_edges == m
    assert row.n_nodes == len(deg)
    if expected_r is None:
        assert row.assortativity is None
    else:
        assert abs(row.assortativity - expected_r) <= 1.5e-6, (
            row.assortativity,
            expected_r,
        )


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    va=st.lists(
        st.integers(min_value=0, max_value=400), min_size=2, max_size=20
    ),
    vb=st.lists(
        st.integers(min_value=0, max_value=400), min_size=2, max_size=20
    ),
)
def test_wasserstein_matches_definition_replay(spark, va, vb):
    """q_wasserstein_value_pairs == the textbook 1-D W1: integral of
    |F_a - F_b| over the line, replayed independently as a step-
    function integral over the merged support. The engine quantizes
    each term at 1e-6, so agreement is within support_size * 1e-6."""
    import datetime
    import shutil

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_wasserstein_value_pairs,
    )

    xs = sorted({*va, *vb})
    cents = [x * 100 for x in xs]
    w1 = 0.0
    for i in range(len(xs) - 1):
        fa = sum(1 for v in va if v <= xs[i]) / len(va)
        fb = sum(1 for v in vb if v <= xs[i]) / len(vb)
        w1 += abs(fa - fb) * (cents[i + 1] - cents[i])

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i, v in enumerate(va):
        rows.append((i, base + datetime.timedelta(minutes=i), 0, "a", float(v), "{}"))
    for i, v in enumerate(vb):
        rows.append(
            (1000 + i, base + datetime.timedelta(minutes=i), 0, "b", float(v), "{}")
        )
    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        out = q_wasserstein_value_pairs(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(out) == 1
    r = out[0]
    assert (r.type_a, r.type_b, r.n_a, r.n_b) == ("a", "b", len(va), len(vb))
    assert abs(r.w1_cents - w1) <= len(xs) * 1e-6 + 1e-9, (r.w1_cents, w1)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    custs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=1200),  # first-order day
            st.integers(min_value=0, max_value=1200),  # lifetime extent
        ),
        min_size=2,
        max_size=25,
    )
)
def test_kaplan_meier_matches_definition_replay(spark, custs):
    """q_kaplan_meier_customers == the textbook product-limit
    estimator replayed directly: lifetimes and censoring labels from
    the fixture, risk sets by counting, S(t) as a running float
    product — independent of the engine's quantized-log-sum form."""
    import datetime
    import shutil
    from collections import Counter

    from fts_analysis_datalake_spark.queries.stats_models import (
        _KM_CENSOR_DAYS,
        q_kaplan_meier_customers,
    )

    base = datetime.datetime(2020, 1, 1)
    rows = []
    lives = []
    for ck, (start, ext) in enumerate(custs):
        first = base + datetime.timedelta(days=start)
        last = base + datetime.timedelta(days=start + ext)
        rows.append((2 * ck, ck, first))
        rows.append((2 * ck + 1, ck, last))
        lives.append((ext + 1, last))
    mx = max(last for _, last in lives)
    lab = [
        (t, 1 if last < mx - datetime.timedelta(days=_KM_CENSOR_DAYS) else 0)
        for t, last in lives
    ]
    deaths = Counter(t for t, died in lab if died)
    expected = []
    s = 1.0
    zero_seen = False
    for t in sorted(deaths):
        n_risk = sum(1 for tt, _ in lab if tt >= t)
        d = deaths[t]
        if n_risk == d:
            zero_seen = True
        s = 0.0 if zero_seen else s * (n_risk - d) / n_risk
        expected.append((t, n_risk, d, s))

    d = _tmp_fixture(
        spark, "orders", rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderdate TIMESTAMP",
    )
    try:
        got = [
            (r.t_days, r.n_risk, r.n_deaths, r.survival)
            for r in q_kaplan_meier_customers(spark, d).collect()
        ]
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(got) == len(expected), (got, expected)
    for g, w in zip(got, expected):
        assert g[:3] == w[:3], (got, expected)
        assert abs(g[3] - w[3]) <= 2e-6, (got, expected)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    custs=st.lists(
        st.tuples(
            st.booleans(),  # in the BUILDING group?
            st.integers(min_value=0, max_value=1200),  # first-order day
            st.integers(min_value=0, max_value=1200),  # lifetime extent
        ),
        min_size=3,
        max_size=25,
    )
)
def test_logrank_matches_definition_replay(spark, custs):
    """q_logrank_segment_churn == the textbook log-rank replayed
    directly: per death time, hypergeometric expectation and variance
    from counted risk sets, z = (O - E)/sqrt(V) — independent of the
    engine's grid/window/quantized-term pipeline."""
    import datetime
    import math
    import shutil
    from collections import Counter

    from fts_analysis_datalake_spark.queries.stats_models import (
        _KM_CENSOR_DAYS,
        q_logrank_segment_churn,
    )

    base = datetime.datetime(2020, 1, 1)
    o_rows, c_rows, lives = [], [], []
    for ck, (bld, start, ext) in enumerate(custs):
        first = base + datetime.timedelta(days=start)
        last = base + datetime.timedelta(days=start + ext)
        o_rows.append((2 * ck, ck, first))
        o_rows.append((2 * ck + 1, ck, last))
        c_rows.append((ck, "BUILDING" if bld else "AUTOMOBILE"))
        lives.append((ext + 1, last, 1 if bld else 0))
    mx = max(last for _, last, _ in lives)
    lab = [
        (t, g, 1 if last < mx - datetime.timedelta(days=_KM_CENSOR_DAYS) else 0)
        for t, last, g in lives
    ]
    deaths = Counter(t for t, _g, died in lab if died)
    e1s = vs = 0.0
    for t in sorted(deaths):
        dt = deaths[t]
        nt = sum(1 for tt, _g, _ in lab if tt >= t)
        n1 = sum(1 for tt, g, _ in lab if tt >= t and g == 1)
        e1s += math.floor(float(dt) * n1 / nt * 1e9 + 0.5) / 1e9
        if nt > 1:
            vs += (
                math.floor(
                    float(dt) * n1 / nt * (1.0 - float(n1) / nt)
                    * (nt - dt) / (nt - 1) * 1e9 + 0.5
                )
                / 1e9
            )
    od1 = sum(d for t, g, d in lab if g == 1)
    od0 = sum(d for t, g, d in lab if g == 0)
    nc1 = sum(1 for _t, g, _ in lab if g == 1)
    z = (od1 - e1s) / math.sqrt(vs) if vs > 0 else None

    d = _tmp_fixture(
        spark, "orders", o_rows,
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderdate TIMESTAMP",
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "c_custkey": [r[0] for r in c_rows],
                "c_mktsegment": [r[1] for r in c_rows],
            }
        ),
        f"{d}/customer.parquet",
    )
    try:
        got = {
            r.segment_group: (
                r.n_customers, r.n_deaths, r.expected_deaths, r.logrank_z
            )
            for r in q_logrank_segment_churn(spark, d).collect()
        }
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert set(got) == {"BUILDING", "OTHER"}
    gb, go = got["BUILDING"], got["OTHER"]
    assert gb[0] == nc1 and go[0] == len(lab) - nc1
    assert gb[1] == od1 and go[1] == od0
    assert abs(gb[2] - e1s) <= 2e-6
    assert abs(go[2] - (od1 + od0 - e1s)) <= 2e-6
    if z is None:
        assert gb[3] is None and go[3] is None
    else:
        assert abs(gb[3] - z) <= 2e-6 and abs(go[3] - z) <= 2e-6


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    obs=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),  # priority class
            st.integers(min_value=100, max_value=9999),  # price cents
        ),
        min_size=4,
        max_size=30,
    )
)
def test_jonckheere_matches_bruteforce_pairs(spark, obs):
    """q_jonckheere_priority_trend == the textbook JT statistic
    counted pair by brute-force pair on whole-dollar values: for every
    ordered group pair, 2U = sum(2*[a<b] + [a==b]) over the cross
    product, and z from the untied mu/sigma closed forms — independent
    of the engine's spine-grid prefix-sum pipeline."""
    import math
    import shutil
    from collections import defaultdict

    from hypothesis import assume

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_jonckheere_priority_trend,
    )

    groups = defaultdict(list)
    for g, cents in obs:
        groups[g].append(math.floor(cents / 100.0))
    assume(len(groups) >= 2)

    names = {1: "1-URGENT", 2: "2-HIGH", 3: "3-MEDIUM", 4: "4-NOT SPECIFIED"}
    rows = [
        (i, names[g], cents / 100.0)
        for i, (g, cents) in enumerate(obs)
    ]

    expected_pairs = {}
    jt2 = 0
    for gi in sorted(groups):
        for gj in sorted(groups):
            if gi >= gj:
                continue
            u2 = sum(
                2 * (a < b) + (a == b)
                for a in groups[gi]
                for b in groups[gj]
            )
            expected_pairs[(gi, gj)] = u2
            jt2 += u2
    ns = [len(v) for v in groups.values()]
    n = sum(ns)
    sn2 = sum(x * x for x in ns)
    var = (n * n * (2 * n + 3) - sum(x * x * (2 * x + 3) for x in ns)) / 72.0
    mu = (n * n - sn2) / 4.0
    z = (0.5 * jt2 - mu) / math.sqrt(var) if var > 0 else None

    d = _tmp_fixture(
        spark,
        "orders",
        rows,
        "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE",
    )
    try:
        got = q_jonckheere_priority_trend(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(got) == len(expected_pairs), (got, expected_pairs)
    for r in got:
        assert r.u_x2 == expected_pairs[(r.g_low, r.g_high)], (r, expected_pairs)
        assert (r.n_low, r.n_high) == (
            len(groups[r.g_low]),
            len(groups[r.g_high]),
        )
        assert r.jt_x2_total == jt2
        if z is None:
            assert r.jt_z is None
        else:
            assert abs(r.jt_z - z) <= 2e-6, (r.jt_z, z)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    pres=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),  # user
            st.sampled_from(["click", "error", "purchase", "view"]),
        ),
        min_size=3,
        max_size=40,
    )
)
def test_cochran_q_matches_definition_replay(spark, pres):
    """q_cochran_q_event_types == Cochran's Q computed from the
    explicit 0/1 user-by-type matrix: column totals C_j, row totals
    R_i, Q = (k-1)(k*sum C^2 - (sum C)^2)/(k*sum R - sum R^2) — the
    definition the engine's distinct-pair collapse must reproduce."""
    import datetime
    import shutil

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_cochran_q_event_types,
    )

    cells = sorted(set(pres))
    types = sorted({t for _, t in cells})
    users = sorted({u for u, _ in cells})
    k = len(types)
    c = {t: sum(1 for _, tt in cells if tt == t) for t in types}
    r = {u: sum(1 for uu, _ in cells if uu == u) for u in users}
    sc = sum(c.values())
    sc2 = sum(v * v for v in c.values())
    sr = sum(r.values())
    sr2 = sum(v * v for v in r.values())
    den = k * sr - sr2
    q = (k - 1) * (k * sc2 - sc * sc) / den if den else None

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), u, t, 1.0, "{}")
        for i, (u, t) in enumerate(pres)
    ]
    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = q_cochran_q_event_types(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert [row.event_type for row in got] == types
    for row in got:
        assert row.n_users_with == c[row.event_type]
        assert row.n_users == len(users) and row.k_types == k
        if q is None:
            assert row.cochran_q is None
        else:
            assert abs(row.cochran_q - q) <= 2e-6, (row.cochran_q, q)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # day
            st.sampled_from(["click", "error", "purchase"]),
            st.integers(min_value=0, max_value=500),  # cents
        ),
        min_size=3,
        max_size=40,
    )
)
def test_page_trend_matches_definition_replay(spark, cells):
    """q_page_trend_daily_types == Page's L replayed directly:
    complete day blocks only, within-day midranks of the daily cents
    totals, L = sum j * R_j with lexicographic j, untied z closed
    form — independent of the engine's window/rank pipeline."""
    import datetime
    import math
    import shutil
    from collections import defaultdict

    from hypothesis import assume

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_page_trend_daily_types,
    )

    daily = defaultdict(int)
    for day, t, cents in cells:
        daily[(day, t)] += cents
    types = sorted({t for _, t in daily})
    k = len(types)
    days = sorted(
        d
        for d in {dd for dd, _ in daily}
        if sum(1 for (dd, _) in daily if dd == d) == k
    )
    assume(days and k >= 2)
    rs2 = {t: 0 for t in types}
    for d_ in days:
        ys = {t: daily[(d_, t)] for t in types}
        for t in types:
            less = sum(1 for v in ys.values() if v < ys[t])
            ties = sum(1 for v in ys.values() if v == ys[t])
            rs2[t] += 2 * (less + 1) + ties - 1
    l2 = sum((j + 1) * rs2[t] for j, t in enumerate(types))
    n = len(days)
    mean2 = n * k * (k + 1) ** 2 / 2.0
    sig2 = math.sqrt(n * k * k * (k + 1) ** 2 * (k - 1) / 36.0)
    z = (l2 - mean2) / sig2 if sig2 > 0 else None

    base = datetime.datetime(2024, 3, 1)
    rows = [
        (
            i,
            base + datetime.timedelta(days=day, minutes=i % 1000),
            0,
            t,
            cents / 100.0,
            "{}",
        )
        for i, (day, t, cents) in enumerate(cells)
    ]
    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = q_page_trend_daily_types(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert [row.event_type for row in got] == types
    for j, row in enumerate(got):
        assert row.hyp_rank == j + 1
        assert row.rank_sum_x2 == rs2[row.event_type], (got, rs2)
        assert row.n_blocks == n and row.page_l_x2 == l2
        if z is None:
            assert row.page_z is None
        else:
            assert abs(row.page_z - z) <= 2e-6, (row.page_z, z)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    obs=st.lists(
        st.tuples(
            st.sampled_from(["purchase", "view"]),
            st.integers(min_value=0, max_value=50),  # cents
        ),
        min_size=4,
        max_size=40,
    )
)
def test_mood_dispersion_matches_permutation_moments(spark, obs):
    """q_mood_dispersion_value == the squared-centered-midrank score
    sum with EXACT finite-population permutation moments, replayed
    from the definition: midranks by counting, s^2 = ((2r - (N+1))
    /(N+1))^2 per observation, E and Var from the score multiset —
    independent of the engine's histogram/quantized-grid pipeline."""
    import datetime
    import math
    import shutil

    from hypothesis import assume

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_mood_dispersion_value,
    )

    a = [c for t, c in obs if t == "purchase"]
    b = [c for t, c in obs if t == "view"]
    assume(len(a) >= 1 and len(b) >= 1 and len(a) + len(b) >= 3)
    allv = a + b
    n = len(allv)

    def s2q(v):
        less = sum(1 for w in allv if w < v)
        eq = sum(1 for w in allv if w == v)
        mr2 = 2 * less + eq + 1
        dev = mr2 - (n + 1)
        return math.floor(dev * dev / ((n + 1) * float(n + 1)) * 1e9 + 0.5)

    t_a = sum(s2q(v) for v in a)
    qs = [s2q(v) for v in allv]
    q4 = [math.floor(float(q) * q * 1e-9 + 0.5) for q in qs]
    mean_t = len(a) * sum(qs) / n
    var_t = (
        len(a)
        * (n - len(a))
        / (n - 1)
        * (sum(q4) / n * 1e9 - (sum(qs) / n) * (sum(qs) / n))
    )
    z = (t_a - mean_t) / math.sqrt(var_t) if var_t > 0 else None

    base = datetime.datetime(2024, 5, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), 0, t, c / 100.0, "{}")
        for i, (t, c) in enumerate(obs)
    ]
    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = q_mood_dispersion_value(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert len(got) == 1
    r = got[0]
    assert (r.n_a, r.n_b, r.t_q) == (len(a), len(b), t_a), (r, t_a)
    assert abs(r.expected_t_q - mean_t) <= 2e-6 * max(1.0, abs(mean_t))
    if z is None:
        assert r.mood_z is None
    else:
        assert abs(r.mood_z - z) <= 2e-6, (r.mood_z, z)


@settings(max_examples=8, deadline=None, derandomize=True)
@given(
    cells=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=6),  # weekday offset
            st.sampled_from(["click", "error", "purchase"]),
        ),
        min_size=2,
        max_size=40,
    )
)
def test_theil_u_matches_entropy_replay(spark, cells):
    """q_theil_u_type_weekday == U = I(X;Y)/H(Y) replayed from plain
    Counter entropies (float logs, no quantization) — the engine's
    1e-9 per-term ln grid must land within the support-size error
    bound of the true value."""
    import datetime
    import math
    import shutil
    from collections import Counter

    from hypothesis import assume

    from fts_analysis_datalake_spark.queries.stats_models import (
        q_theil_u_type_weekday,
    )

    types = sorted({t for _, t in cells})
    assume(len(types) >= 2)
    n = len(cells)
    cxy = Counter(cells)
    cx = Counter(d for d, _ in cells)
    cy = Counter(t for _, t in cells)
    mi = sum(
        c / n * math.log(c * n / (cx[d] * cy[t]))
        for (d, t), c in cxy.items()
    )
    hy = -sum(c / n * math.log(c / n) for c in cy.values())
    u = mi / hy

    # 2024-06-02 is a Sunday -> date_part('dow') == 0 == the offset.
    base = datetime.datetime(2024, 6, 2)
    rows = [
        (i, base + datetime.timedelta(days=dw, minutes=i % 600), 0, t, 1.0, "{}")
        for i, (dw, t) in enumerate(cells)
    ]
    d = _tmp_fixture(spark, "events", rows, _EVENTS_SCHEMA)
    try:
        got = q_theil_u_type_weekday(spark, d).collect()
    finally:
        shutil.rmtree(d, ignore_errors=True)
    assert [r.event_type for r in got] == types
    tol = (len(cxy) + len(cy)) * 1e-6 + 2e-6
    for r in got:
        assert r.n_y == cy[r.event_type]
        assert abs(r.h_y_nats - hy) <= tol, (r.h_y_nats, hy)
        assert abs(r.mi_nats - mi) <= tol, (r.mi_nats, mi)
        assert abs(r.theil_u - u) <= tol, (r.theil_u, u)
