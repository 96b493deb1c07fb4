"""Closed-loop benchmark of the declared-query engine.

    python3 perfbench/run.py --workload fts-interactive --seed 1 --seconds 20 --trace 0

One client runs the workload's pinned queries one after another in one
process, on a Spark ``local[nproc]`` session from ``session.get_spark``.
Each query execution is timed from outside the program as build (the
call ``REGISTRY[name].fn(spark, sf_dir)``), plan (forcing
``queryExecution().executedPlan()``) and execute (the noop sink).

A run is: session start; one verification pass that collects every
result and checks it against ``expected.json`` (it also warms the JVM,
codegen and the Python data-source runners); one untimed warm-up pass;
then timed passes in seed-permuted order for ``--seconds``.
With ``--trace 1`` half the timed passes run traced, interleaved with
untraced ones, and the run reports per-layer metrics instead of
end-to-end ones.

The last stdout line is the result JSON; the line before it is the run
record (environment, gate branches, failures). Everything the run
writes stays under ``perfbench/out/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")

sys.path.insert(0, BENCH)

from spans import NullTracer, Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Untimed passes after the verification pass: the JIT is still warming
# then, and the run's set-up (``setup_s``) is where that cost belongs.
WARM_PASSES = 1

UNITS = {
    "setup_s": "s",
    "suite_s": "s",
    "query_s.p50": "s",
    "query_s.p90": "s",
}
LAYER_UNITS = {
    "build_s": "s",
    "build.jobs": "count",
    "build.task_s": "s",
    "catalog.load_table.calls": "count",
    "catalog.load_table_s": "s",
    "catalog.load_table.jobs": "count",
    "probe.gates": "count",
    "probe.kernel_frac": "ratio",
    "caching.released": "count",
    "caching.stored_mb": "MB",
    "plan_s": "s",
    "exec_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_mb": "MB",
    "exec.spill_mb": "MB",
    "release_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
    "trace.unattributed_jobs": "count",
    "anchor.q1_s": "s",
}


def sandbox(run_dir: str) -> None:
    """Point the scratch locations of Python, the JVM and Spark into
    ``run_dir``; must run before the JVM starts."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )


def load_program():
    """Import the engine from the checkout root; exit 2 when it is absent."""
    sys.path.insert(0, ROOT)
    try:
        import fingerprint
        from fts_analysis_datalake_spark import caching, probe, session
        from fts_analysis_datalake_spark.queries import streaming_sources
        from fts_analysis_datalake_spark.queries.relational_core import q1_pricing_summary
        from fts_analysis_datalake_spark.registry import REGISTRY, _load_all
    except ImportError as ex:
        print(f"perfbench: cannot import the program from {ROOT}: {ex}", file=sys.stderr)
        sys.exit(2)
    _load_all()
    return argparse.Namespace(
        caching=caching,
        probe=probe,
        session=session,
        streaming_sources=streaming_sources,
        q1=q1_pricing_summary,
        registry=REGISTRY,
        fingerprint=fingerprint,
    )


def stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Bench:
    """One client running one workload's queries in a closed loop."""

    def __init__(self, prog, spark, workload, sf_dir: str, seed: int):
        self.prog = prog
        self.spark = spark
        self.wl = workload
        self.sf_dir = sf_dir
        self.seed = seed
        self.n_passes = 0
        self.attempted = 0
        self.failures: list[dict] = []
        self.anchors: list[float] = []

    def _order(self) -> list[str]:
        names = list(self.wl.queries)
        random.Random(f"{self.seed}:{self.n_passes}").shuffle(names)
        self.n_passes += 1
        return names

    def _reset_writes(self) -> None:
        """Empty the program's per-process write cache, so every pass
        writes its files again and reads back files that are new."""
        shutil.rmtree(self.prog.streaming_sources.CACHE_DIR, ignore_errors=True)

    def _release(self) -> int:
        n = self.prog.caching.release_tracked()
        self.spark.catalog.clearCache()
        gc.collect()
        return n

    def _fail(self, name: str, where: str) -> None:
        self.failures.append(
            {"query": name, "where": where, "error": traceback.format_exc(limit=2)[-600:]}
        )

    def verify(self, expected: dict) -> dict:
        """Collect each result and compare it with its stored fingerprint;
        record the probe branch every gate took. Outside the timed passes."""
        probe = self.prog.probe
        wrong, gates = [], {}
        self._reset_writes()
        for name in self._order():
            self.attempted += 1
            probe.enable()
            try:
                pdf = self.prog.registry[name].fn(self.spark, self.sf_dir).toPandas()
                if not self.prog.fingerprint.matches(expected[name], pdf):
                    wrong.append(name)
            except Exception:  # noqa: BLE001 — a failing query is counted, not fatal
                self._fail(name, "verify")
                wrong.append(name)
            finally:
                if probe.branches():
                    gates[name] = probe.branches()
                probe.disable()
                self._release()
        return {"wrong": sorted(wrong), "checked": len(self.wl.queries), "gates": gates}

    def run_pass(self, tracer) -> dict[str, float]:
        """One pass over the workload; latency per query that succeeded."""
        self._reset_writes()
        p = self.n_passes
        lat: dict[str, float] = {}
        for name in self._order():
            self.attempted += 1
            fn = self.prog.registry[name].fn
            qid = f"{p}:{name}"
            with tracer.query(qid, name):
                try:
                    t0 = time.perf_counter()
                    with tracer.phase("build"):
                        df = fn(self.spark, self.sf_dir)
                    with tracer.phase("plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.phase("execute"):
                        df.write.format("noop").mode("overwrite").save()
                    lat[name] = time.perf_counter() - t0
                except Exception:  # noqa: BLE001 — counted in failed_frac
                    self._fail(name, f"pass {p}")
                tracer.before_release(qid)
                with tracer.phase("release"):
                    released = self._release()
            tracer.after_query(qid, released)
        return lat

    def n_passes_for(self, seconds: float) -> int:
        return max(1, round(seconds / self.wl.pass_s))

    def passes(self, seconds: float) -> list[dict[str, float]]:
        """``round(seconds / pass_s)`` untraced passes, at least one."""
        return [self.run_pass(NullTracer()) for _ in range(self.n_passes_for(seconds))]

    def traced_passes(self, seconds: float, tracer) -> tuple[list, list]:
        """Untraced and traced passes interleaved as U T T U U T ...,
        so the JIT's warm-up slope falls on both halves alike; the
        catalog is wrapped only during traced passes, and a q1 anchor
        runs after every pass."""
        untraced, traced = [], []
        n = 2 * max(1, round(self.n_passes_for(seconds) / 2))
        for i in range(n):
            if i % 4 in (1, 2):
                tracer.skip_jobs()
                tracer.patch_catalog()
                try:
                    traced.append(self.run_pass(tracer))
                finally:
                    tracer.unpatch_catalog()
            else:
                untraced.append(self.run_pass(NullTracer()))
            self.anchors.append(self.q1_anchor())
        return untraced, traced

    def q1_anchor(self) -> float:
        """q1 re-run beside a pass: a machine-speed probe, diagnostic only."""
        t0 = time.perf_counter()
        self.prog.q1(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        took = time.perf_counter() - t0
        self._release()
        return took


def medians(passes: list[dict[str, float]]) -> dict[str, float]:
    """Each query's median latency across the passes it succeeded in."""
    names = sorted({n for p in passes for n in p})
    return {n: statistics.median(p[n] for p in passes if n in p) for n in names}


def suite_s(passes: list[dict[str, float]]) -> float:
    """Sum over queries of each query's median latency across passes."""
    return sum(medians(passes).values())


def p90(values) -> float:
    """Linear-interpolation p90 (numpy's default); one value is its own p90."""
    v = sorted(values)
    return statistics.quantiles(v, n=10, method="inclusive")[8] if len(v) > 1 else v[0]


def end_to_end(passes: list[dict[str, float]], setup_s: float) -> dict[str, float]:
    """``query_s.p90`` is each pass's p90, median across passes: a p90
    pooled over a run's 12-35 samples is set by its one or two slowest
    executions, so it moved twice as much from run to run as ``suite_s``."""
    samples = [v for p in passes for v in p.values()]
    return {
        "setup_s": setup_s,
        "suite_s": suite_s(passes),
        "query_s.p50": statistics.median(samples),
        "query_s.p90": statistics.median(p90(p.values()) for p in passes if p),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    sf_dir = os.path.join(BENCH, "data", f"sf{wl.sf}")
    expected_path = os.path.join(BENCH, "expected.json")
    if not os.path.isdir(sf_dir) or not os.path.exists(expected_path):
        print(f"perfbench: missing fixture data {sf_dir} or {expected_path}", file=sys.stderr)
        return 2
    with open(expected_path) as f:
        expected = json.load(f)[wl.name]

    prog = load_program()
    run_dir = os.path.join(OUT, f"run-{os.getpid()}")
    sandbox(run_dir)
    prog.streaming_sources.CACHE_DIR = os.path.join(run_dir, "cache")
    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = prog.session.get_spark("perfbench", master=f"local[{nproc}]")
        spark.sparkContext.setLogLevel("ERROR")
        bench = Bench(prog, spark, wl, sf_dir, args.seed)
        checked = bench.verify(expected)
        for _ in range(WARM_PASSES):
            bench.run_pass(NullTracer())
        setup_s = time.perf_counter() - T_START

        t_begin = time.perf_counter()
        output_mb = None
        if args.trace:
            tracer = Tracer(spark, prog.probe)
            untraced, traced = bench.traced_passes(args.seconds, tracer)
            metrics = tracer.summary(nproc)
            output_mb = {"build": metrics["build.output_mb"], "execute": metrics["exec.output_mb"]}
            metrics["trace.overhead_s"] = suite_s(traced) - suite_s(untraced)
            metrics["trace.coverage"] = (
                metrics["build_s"] + metrics["plan_s"] + metrics["exec_s"]
            ) / suite_s(traced)
            metrics["anchor.q1_s"] = statistics.median(bench.anchors)
            units = LAYER_UNITS
            timed = untraced + traced
            os.makedirs(os.path.join(OUT, "traces"), exist_ok=True)
            trace_path = os.path.join(OUT, "traces", f"{wl.name}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"spans": tracer.spans, "counts": tracer.counts}, f)
        else:
            timed = bench.passes(args.seconds)
            metrics = end_to_end(timed, setup_s)
            units = UNITS
            trace_path = None
        measured_s = time.perf_counter() - t_begin

        failed_queries = sorted({f["query"] for f in bench.failures})
        record = {
            "workload": wl.name,
            "seed": args.seed,
            "sf": wl.sf,
            "nproc": nproc,
            "spark": spark.version,
            "trace": args.trace,
            "queries": len(wl.queries),
            "passes": len(timed),
            "setup_s": setup_s,
            "measured_s": measured_s,
            "samples": sum(len(p) for p in timed),
            "pass_sums_s": [sum(p.values()) for p in timed],
            "query_median_s": medians(timed),
            "failed_frac": len(bench.failures) / bench.attempted,
            "wrong_frac": len(checked["wrong"]) / checked["checked"],
            "failed_queries": failed_queries,
            "wrong_queries": checked["wrong"],
            "failures": bench.failures,
            "gates": checked["gates"],
            "output_mb": output_mb,
            "trace_file": trace_path and os.path.relpath(trace_path, ROOT),
        }
        print(json.dumps(record, sort_keys=True))
        print(
            json.dumps(
                {
                    "correct": not checked["wrong"] and not bench.failures,
                    "attempted": bench.attempted,
                    "failed": len(bench.failures),
                    "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
                }
            )
        )
        return 0
    finally:
        if spark is not None:
            stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
