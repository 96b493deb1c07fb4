"""Self-checks of the benchmark.

    python3 -m pytest perfbench -q

The last test runs the benchmark end to end on one workload (about a
minute on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
with open(os.path.join(run.BENCH, "expected.json")) as _f:
    EXPECTED = json.load(_f)


def test_pinned_queries_are_registered():
    from fts_analysis_datalake_spark.registry import REGISTRY, _load_all

    _load_all()
    for wl in WORKLOADS.values():
        assert len(set(wl.queries)) == len(wl.queries), wl.name
        missing = [n for n in wl.queries if n not in REGISTRY]
        assert not missing, (wl.name, missing)


def test_every_pinned_query_has_an_expected_fingerprint():
    assert set(EXPECTED) == set(WORKLOADS)
    for wl in WORKLOADS.values():
        assert set(EXPECTED[wl.name]) == set(wl.queries), wl.name
        for name, e in EXPECTED[wl.name].items():
            assert e["source"] in ("duckdb-oracle", "spark-seed"), name
            assert e["check"] in ("full", "schema"), name
            assert e["rows"] > 0, name
            if e["source"] == "spark-seed":
                assert e["reason"], name


def test_benchmark_json_matches_the_runner():
    for w in SPEC["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.UNITS
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.LAYER_UNITS
    for w in WORKLOADS.values():
        assert os.path.isdir(os.path.join(run.BENCH, "data", f"sf{w.sf}")), w.name


def test_pinned_subsets_are_the_measured_selection():
    """Each workload's queries are what ``subsets.py select`` picks from
    the committed population profile, and they fit its budget."""
    import subsets

    for wl in WORKLOADS.values():
        prof = subsets.load_profile(wl.name)
        assert set(wl.queries) <= set(prof["queries"]), wl.name
        assert subsets.select(prof, wl.picks, wl.budget_s) == sorted(wl.queries), wl.name
        passes_s = sum(prof["queries"][n]["latency_s"] for n in wl.queries)
        assert passes_s <= wl.budget_s, wl.name


def test_select_keeps_every_stratum_within_the_budget():
    import subsets

    def row(stratum, latency_s, build_s):
        return {
            "stratum": stratum, "latency_s": latency_s, "build_s": build_s, "plan_s": 0.0,
            "exec_s": latency_s - build_s, "build_task_s": 0.0, "exec_task_s": latency_s - build_s,
            "jobs": 2, "shuffle_mb": 0.0, "output_mb": 0.0,
        }

    prof = {"nproc": 1, "queries": {
        "a_slow": row("a", 10.0, 5.0),  # over the budget
        "a_near": row("a", 1.0, 0.5),  # build share nearest the population's
        "a_far": row("a", 1.0, 0.9),
        "b": row("b", 1.0, 0.5),  # the only query of its stratum
    }}
    assert subsets.select(prof, 2, 2.5) == ["a_near", "b"]


def test_fingerprint_ignores_row_and_column_order():
    import fingerprint

    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    b = a.iloc[::-1][["v", "k"]].reset_index(drop=True)
    assert fingerprint.fingerprint(a) == fingerprint.fingerprint(b)
    c = a.assign(v=[0.5, None, 2.0000000000000004])
    assert fingerprint.fingerprint(a) != fingerprint.fingerprint(c)

    full = {**fingerprint.fingerprint(a), "check": "full"}
    assert fingerprint.matches(full, b) and not fingerprint.matches(full, c)
    schema = {**full, "check": "schema"}
    assert fingerprint.matches(schema, c)
    assert not fingerprint.matches(schema, a.iloc[:0])


def test_suite_s_sums_per_query_medians():
    passes = [{"a": 1.0, "b": 10.0}, {"a": 2.0, "b": 11.0}, {"a": 9.0, "b": 12.0}]
    assert run.suite_s(passes) == 2.0 + 11.0
    m = run.end_to_end(passes, setup_s=3.0)
    assert m["setup_s"] == 3.0 and m["query_s.p50"] == 9.5
    # Each pass's p90 (9.1, 10.1, 11.7), median across passes.
    assert m["query_s.p90"] == pytest.approx(10.1)
    assert run.p90([4.0]) == 4.0


@pytest.mark.parametrize("trace", [0, 1])
def test_run_prints_record_and_result(trace):
    """One short run: the record names nproc, Spark version, sf, seed and
    every gate's branch; the result line has exactly the contract's keys."""
    wl = "fts-interactive"
    proc = subprocess.run(
        [sys.executable, os.path.join(run.BENCH, "run.py"), "--workload", wl,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=run.ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    record, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
    for key in ("nproc", "spark", "sf", "seed", "gates", "failed_frac", "wrong_frac"):
        assert key in record, key
    assert record["seed"] == 7 and record["sf"] == WORKLOADS[wl].sf
    assert isinstance(record["gates"], dict)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    units = run.LAYER_UNITS if trace else run.UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    if trace:
        with open(os.path.join(run.ROOT, record["trace_file"])) as f:
            spans = json.load(f)["spans"]
        # Loads outside a traced query (the q1 anchors) leave no span.
        assert spans and all(s["query_id"] for s in spans)
    assert not os.listdir(run.OUT) or all(
        not d.startswith("run-") for d in os.listdir(run.OUT)
    )
