"""Measure a workload's whole query population and pick its pinned subset.

    python3 perfbench/subsets.py measure --workload NAME [--passes 3]
    python3 perfbench/subsets.py select [--workload NAME]

A workload stands for a population of queries (whole modules, or the
lists below) far too long to run many times in one benchmark run, so
it runs a small subset of them. The subset is chosen by measurement,
not by hand:

``measure`` runs every query of the population in one Spark session:
one cold pass, then ``--passes`` warm passes under the tracer of
``spans.py``. Per query it keeps the median over the warm passes of
latency, build, plan and execute time, executor time inside build and
inside execute, Spark jobs, shuffle and output bytes, and writes them
to ``profiles/<workload>.json``.

``select`` reads that file and picks, for each workload, the subset of
``picks`` queries that

1. takes at least one query from each stratum (module, or the gated
   and pair families of ``graph-dedup``);
2. fits one pass into the workload's ``budget_s`` of summed latency;
3. of those, has the profile nearest the population's: the smallest
   sum of |ln(subset / population)| over the ratios in ``RATIOS``
   (time in build, executor time per build second, core use in
   execute, jobs, shuffle and output per second of pass).

The search is a local search over one-for-one swaps from many seeded
starts, so the same profile file always gives the
same subset. ``select`` prints the subset, the population's ranked
table and both profiles side by side; ``workloads.py`` pins the result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

import run
from spans import Tracer
from workloads import WORKLOADS

PROFILES = os.path.join(run.BENCH, "profiles")

# graph-dedup: the count-gated queries of
# tests/test_algorithms.py::test_count_gated_branches_agree, and the
# similarity / dedup pair queries.
GATED = (
    "q_bellman_ford_nearest",
    "q_betweenness_centrality",
    "q_functional_graph_rho",
    "q_greedy_cover_selection",
    "q_greedy_segmentation",
    "q_harmonic_centrality",
    "q_hits_quantized_exact",
    "q_interval_scheduling_users",
    "q_katz_centrality",
    "q_kcore_suppliers",
    "q_kmeans_quantized_exact",
    "q_ktruss_parts",
    "q_lof_hourly_anomalies",
    "q_lpa_communities",
    "q_pagerank_quantized_exact",
    "q_personalized_pagerank",
    "q_quantile_regression_grid",
    "q_ransac_price_line",
    "q_textrank_keywords",
)
PAIRS = (
    "q_containment_pairs",
    "q_dedup_pipeline_report",
    "q_fuzzy_name_pairs",
    "q_minhash_near_dups",
    "q_prefix_filtered_pairs",
    "q_resource_allocation_links",
    "q_simhash_candidates",
    "q_weighted_jaccard_pairs",
)
# Whole modules of ``queries/`` for the other two workloads.
MODULES = {
    "fts-interactive": ("event_analytics", "relational_core", "tpch_suite"),
    "lake-ingest": ("lakehouse_ops", "streaming_sources", "cdc_history"),
}

# Profile ratios the subset must match: name -> (numerator, denominator).
RATIOS = {
    "build_frac": ("build_s", "latency_s"),
    "build_task_per_s": ("build_task_s", "build_s"),
    "exec_core_util": ("exec_task_s", "exec_core_s"),
    "jobs_per_s": ("jobs", "latency_s"),
    "shuffle_mb_per_s": ("shuffle_mb", "latency_s"),
    "output_mb_per_s": ("output_mb", "latency_s"),
}
STARTS = 100


def population(wl_name: str, registry) -> dict[str, str]:
    """Query name -> stratum, for every query the workload stands for."""
    if wl_name == "graph-dedup":
        return {**{n: "count-gated" for n in GATED}, **{n: "pairs" for n in PAIRS}}
    return {
        n: q.fn.__module__.rsplit(".", 1)[-1]
        for n, q in registry.items()
        if q.fn.__module__.rsplit(".", 1)[-1] in MODULES[wl_name]
    }


# -- measure ---------------------------------------------------------------


def measure(wl_name: str, passes: int) -> None:
    wl = WORKLOADS[wl_name]
    run_dir = os.path.join(run.OUT, f"subsets-{os.getpid()}")
    run.sandbox(run_dir)
    prog = run.load_program()
    prog.streaming_sources.CACHE_DIR = os.path.join(run_dir, "cache")
    strata = population(wl_name, prog.registry)
    nproc = len(os.sched_getaffinity(0))
    sf_dir = os.path.join(run.BENCH, "data", f"sf{wl.sf}")
    spark = prog.session.get_spark("perfbench-subsets", master=f"local[{nproc}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pop = argparse.Namespace(queries=tuple(sorted(strata)), pass_s=1.0)
        bench = run.Bench(prog, spark, pop, sf_dir, seed=0)
        t0 = time.perf_counter()
        bench.run_pass(run.NullTracer())
        cold_s = time.perf_counter() - t0
        tracer = Tracer(spark, prog.probe)
        tracer.skip_jobs()
        tracer.patch_catalog()
        try:
            for _ in range(passes):
                bench.run_pass(tracer)
        finally:
            tracer.unpatch_catalog()
        if bench.failures:
            raise SystemExit(f"queries failed: {sorted({f['query'] for f in bench.failures})}")
        by_query: dict[str, list[dict]] = {}
        for qid, row in tracer.executions().items():
            by_query.setdefault(qid.split(":", 1)[1], []).append(row)
        queries = {}
        for name, rows in sorted(by_query.items()):

            def med(*keys: str) -> float:
                return statistics.median(sum(r.get(k, 0.0) for k in keys) for r in rows)

            queries[name] = {
                "stratum": strata[name],
                "latency_s": med("build_s", "plan_s", "execute_s"),
                "build_s": med("build_s"),
                "plan_s": med("plan_s"),
                "exec_s": med("execute_s"),
                "build_task_s": med("build.task_s"),
                "exec_task_s": med("exec.task_s"),
                "jobs": med("build.jobs", "exec.jobs", "trace.unattributed_jobs"),
                "shuffle_mb": med("build.shuffle_mb", "exec.shuffle_mb"),
                "output_mb": med("build.output_mb", "exec.output_mb"),
            }
        out = {
            "workload": wl_name,
            "sf": wl.sf,
            "nproc": nproc,
            "spark": spark.version,
            "warm_passes": passes,
            "cold_pass_s": cold_s,
            "queries": queries,
        }
        os.makedirs(PROFILES, exist_ok=True)
        with open(os.path.join(PROFILES, f"{wl_name}.json"), "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
            f.write("\n")
    finally:
        run.stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


# -- select ----------------------------------------------------------------


def load_profile(wl_name: str) -> dict:
    with open(os.path.join(PROFILES, f"{wl_name}.json")) as f:
        return json.load(f)


def profile(rows: list[dict], nproc: int) -> dict[str, float]:
    """Pass time and the ``RATIOS`` of a set of measured queries."""
    tot = {k: sum(r[k] for r in rows) for k in rows[0] if k != "stratum"}
    tot["exec_core_s"] = tot["exec_s"] * nproc
    out = {"pass_s": tot["latency_s"], "queries": len(rows)}
    for name, (num, den) in RATIOS.items():
        out[name] = tot[num] / tot[den] if tot[den] else 0.0
    for k in ("jobs", "shuffle_mb", "output_mb"):
        out[k] = tot[k]
    return out


def distance(sub: dict[str, float], full: dict[str, float]) -> float:
    eps = 1e-3
    return sum(abs(math.log((sub[k] + eps) / (full[k] + eps))) for k in RATIOS)


def select(prof: dict, picks: int, budget_s: float) -> list[str]:
    """The ``picks`` queries, at least one from every stratum, whose
    summed latency fits ``budget_s`` and whose profile is nearest the
    population's."""
    queries, nproc = prof["queries"], prof["nproc"]
    full = profile(list(queries.values()), nproc)
    names = sorted(queries)
    strata = {r["stratum"] for r in queries.values()}

    def cost(subset: list[str]) -> float:
        if {queries[n]["stratum"] for n in subset} != strata:
            return math.inf
        p = profile([queries[n] for n in subset], nproc)
        return distance(p, full) + 100.0 * max(0.0, p["pass_s"] - budget_s)

    best, best_cost = None, math.inf
    for start in range(STARTS):
        cur = sorted(random.Random(start).sample(names, picks))
        cur_cost = cost(cur)
        improved = True
        while improved:
            improved = False
            for out_name in list(cur):
                for in_name in names:
                    if in_name in cur:
                        continue
                    cand = sorted([n for n in cur if n != out_name] + [in_name])
                    c = cost(cand)
                    if c < cur_cost - 1e-12:
                        cur, cur_cost, improved = cand, c, True
                        break
                if improved:
                    break
        if cur_cost < best_cost - 1e-12:
            best, best_cost = cur, cur_cost
    return best


def report(wl_name: str) -> list[str]:
    wl = WORKLOADS[wl_name]
    prof = load_profile(wl_name)
    queries, nproc = prof["queries"], prof["nproc"]
    subset = select(prof, wl.picks, wl.budget_s)
    full = profile(list(queries.values()), nproc)
    sub = profile([queries[n] for n in subset], nproc)
    total = full["pass_s"]
    print(f"## {wl_name} (sf{prof['sf']}, {len(queries)} queries, "
          f"{prof['warm_passes']} warm passes, local[{nproc}])\n")
    print(f"{wl.picks} picks, budget {wl.budget_s} s\n")
    print("| query | stratum | share of pass | latency s | build s | exec s | "
          "build task s | exec task s | jobs | shuffle MB | output MB | picked |")
    print("|---|---|---|---|---|---|---|---|---|---|---|---|")
    for n, r in sorted(queries.items(), key=lambda kv: -kv[1]["latency_s"]):
        print(f"| `{n}` | {r['stratum']} | {r['latency_s'] / total:.3f} | {r['latency_s']:.2f} | "
              f"{r['build_s']:.2f} | {r['exec_s']:.2f} | {r['build_task_s']:.2f} | "
              f"{r['exec_task_s']:.2f} | {r['jobs']:.0f} | {r['shuffle_mb']:.2f} | "
              f"{r['output_mb']:.2f} | {'yes' if n in subset else ''} |")
    print("\n| profile | population | subset |\n|---|---|---|")
    for k in ("queries", "pass_s", *RATIOS, "jobs", "shuffle_mb", "output_mb"):
        print(f"| {k} | {full[k]:.4g} | {sub[k]:.4g} |")
    print(f"\ndistance {distance(sub, full):.3f}; subset: {subset}\n")
    return subset


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("measure")
    m.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    m.add_argument("--passes", type=int, default=3)
    s = sub.add_parser("select")
    s.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    if args.cmd == "measure":
        measure(args.workload, args.passes)
        return 0
    print("# Query populations and the pinned subsets\n")
    print("Written by `python3 perfbench/subsets.py select`; the method is in "
          "`subsets.py` and README.md. Queries are ranked by their share of the "
          "population's warm pass.\n")
    stale = []
    for name in args.workload or sorted(WORKLOADS):
        if sorted(report(name)) != sorted(WORKLOADS[name].queries):
            stale.append(name)
    if stale:
        print(f"workloads.py does not pin the selected subset of: {stale}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
