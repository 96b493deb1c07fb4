"""Per-query spans and Spark status-store counters for the traced run.

Spans are recorded from outside the program, around calls into each
layer's public functions: a root ``query`` span with ``build``,
``plan``, ``execute`` and ``release`` children, and one
``catalog.load_table`` span under ``build`` per table load. All spans
of one query execution share its id (``"<pass>:<query name>"``). They
stay in memory until the run writes them out.

Job, task, executor-time, shuffle, spill and output counters are read
from the status store (``sc._jsc.sc().statusStore()``), which is kept
with ``spark.ui.enabled=false``. Each phase runs under its own job
group, so a job is attributed to the phase whose group it carries.
Jobs launched by Structured Streaming threads carry no group (local
properties are per thread); they are attributed to the innermost span
of the query that contains their submission time. The store retains
only the last 1000 jobs, so it is read after every query, outside its
spans.
"""

from __future__ import annotations

import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

from py4j.protocol import Py4JJavaError

# Counters summed per phase over the stages of the phase's jobs.
STAGE_FIELDS = {
    "tasks": lambda s: s.numCompleteTasks(),
    "task_s": lambda s: s.executorRunTime() / 1e3,
    "cpu_s": lambda s: s.executorCpuTime() / 1e9,
    "gc_s": lambda s: s.jvmGcTime() / 1e3,
    "shuffle_mb": lambda s: s.shuffleWriteBytes() / 1e6,
    "spill_mb": lambda s: s.diskBytesSpilled() / 1e6,
    "output_mb": lambda s: s.outputBytes() / 1e6,
}
EXEC_FIELDS = ("jobs", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "output_mb")
PHASES = ("build", "catalog", "plan", "execute", "release", "unattributed")
GROUP_PREFIX = "perfbench:"


class NullTracer:
    """Stand-in for untraced passes: every hook does nothing."""

    def query(self, qid: str, name: str):
        return nullcontext()

    def phase(self, phase: str):
        return nullcontext()

    def before_release(self, qid: str) -> None:
        pass

    def after_query(self, qid: str, released: int) -> None:
        pass

    def skip_jobs(self) -> None:
        pass


class Tracer(NullTracer):
    """Span recorder and status-store reader for one Spark session."""

    def __init__(self, spark, probe):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._probe = probe
        self.spans: list[dict] = []
        self.counts: dict[str, dict] = {}
        self._qid: str | None = None
        self._phase: str | None = None
        self._last_job = self._newest_job_id()
        self._seen_stages: set[int] = set()
        self._patched: list[tuple[object, object]] = []

    # -- spans -----------------------------------------------------------

    def _span(self, name: str, parent: str | None, t0: float, w0: float, **extra) -> None:
        t1 = time.perf_counter()
        self.spans.append(
            {
                "query_id": self._qid,
                "name": name,
                "parent": parent,
                "start_s": t0,
                "end_s": t1,
                "wall_start_ms": w0 * 1e3,
                "wall_end_ms": (w0 + t1 - t0) * 1e3,
                **extra,
            }
        )

    def _set_group(self, phase: str | None) -> None:
        self._phase = phase
        if phase is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"{GROUP_PREFIX}{self._qid}:{phase}", phase)

    @contextmanager
    def query(self, qid: str, name: str):
        """Root span of one query execution; also records the probe
        branch each gate took."""
        self._qid = qid
        self._probe.enable()
        w0, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            self._set_group(None)
            self._span("query", None, t0, w0, query=name)
            self.counts[qid] = {"gates": self._probe.branches()}
            self._probe.disable()
            self._qid = None

    @contextmanager
    def phase(self, phase: str):
        self._set_group(phase)
        w0, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            self._span(phase, "query", t0, w0)
            self._set_group(None)

    def before_release(self, qid: str) -> None:
        """Storage held by persisted blocks at its peak: after execute,
        before the release."""
        self._stored_mb = sum(
            (r.memSize() + r.diskSize()) / 1e6 for r in self._jsc.getRDDStorageInfo()
        )

    def after_query(self, qid: str, released: int) -> None:
        self.counts[qid].update(
            stored_mb=self._stored_mb, released=released, phases=self._collect_jobs(qid)
        )

    def skip_jobs(self) -> None:
        """Leave the jobs run since the last traced query out of every
        phase (untraced passes and q1 anchors between traced passes)."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._last_job = self._newest_job_id()

    # -- catalog wrapper -------------------------------------------------

    def patch_catalog(self) -> None:
        """Wrap ``catalog.load_table`` and every copy a program module
        imported by name, so each table load inside a traced query is a
        span with its own job group. Loads outside a query pass through."""
        from fts_analysis_datalake_spark import catalog

        original = catalog.load_table

        def load_table(spark, sf_dir, name):
            if self._qid is None:
                return original(spark, sf_dir, name)
            outer = self._phase
            self._set_group("catalog")
            w0, t0 = time.time(), time.perf_counter()
            try:
                return original(spark, sf_dir, name)
            finally:
                self._span("catalog.load_table", outer, t0, w0, table=name)
                self._set_group(outer)

        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("fts_analysis_datalake_spark")
                and getattr(mod, "load_table", None) is original
            ):
                self._patched.append((mod, original))
                mod.load_table = load_table

    def unpatch_catalog(self) -> None:
        for mod, original in self._patched:
            mod.load_table = original
        self._patched.clear()

    # -- status store ----------------------------------------------------

    def _newest_job_id(self) -> int:
        jobs = self._jsc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _collect_jobs(self, qid: str) -> dict[str, dict[str, float]]:
        """Per-phase counters of the jobs submitted since the last call.
        Waits for the listener bus to drain first, so finished stages
        carry their final metrics."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        jobs = store.jobsList(None)  # newest first
        windows = [
            (s["wall_start_ms"], s["wall_end_ms"], s["name"])
            for s in self.spans
            if s["query_id"] == qid and s["parent"] is not None
        ]
        out = {p: {"jobs": 0, **{k: 0.0 for k in STAGE_FIELDS}} for p in PHASES}
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= self._last_job:
                break
            newest = max(newest, job.jobId())
            acc = out[self._phase_of(job, qid, windows)]
            acc["jobs"] += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in self._seen_stages:
                    continue
                try:
                    stage = store.lastStageAttempt(sid)
                except Py4JJavaError:
                    # Evicted from the store (it keeps the last 1000
                    # stages): a stage of an earlier query that this
                    # job reuses, so skipped here.
                    continue
                if stage.status().toString() == "SKIPPED":
                    continue
                self._seen_stages.add(sid)
                for key, read in STAGE_FIELDS.items():
                    acc[key] += read(stage)
        self._last_job = newest
        return out

    @staticmethod
    def _phase_of(job, qid: str, windows) -> str:
        group = job.jobGroup()
        if group.isDefined() and group.get().startswith(GROUP_PREFIX):
            gq, _, phase = group.get()[len(GROUP_PREFIX) :].rpartition(":")
            if gq == qid:
                return phase
        submitted = job.submissionTime()
        if submitted.isDefined():
            t = submitted.get().getTime()
            hits = [w for w in windows if w[0] <= t <= w[1]]
            if hits:
                name = min(hits, key=lambda w: w[1] - w[0])[2]
                return "catalog" if name == "catalog.load_table" else name
        return "unattributed"

    # -- summary ---------------------------------------------------------

    def executions(self) -> dict[str, dict[str, float]]:
        """Per-layer figures of every traced query execution, by id."""
        rows: dict[str, dict[str, float]] = {}

        def add(qid: str, key: str, v: float) -> None:
            row = rows.setdefault(qid, {})
            row[key] = row.get(key, 0.0) + v

        for s in self.spans:
            add(s["query_id"], s["name"] + "_s", s["end_s"] - s["start_s"])
            if s["name"] == "catalog.load_table":
                add(s["query_id"], "catalog.load_table.calls", 1)
        for qid, c in self.counts.items():
            ph = c["phases"]
            for k in ("jobs", "task_s", "shuffle_mb", "output_mb"):
                add(qid, f"build.{k}", ph["build"][k] + ph["catalog"][k])
            add(qid, "catalog.load_table.jobs", ph["catalog"]["jobs"])
            for k in EXEC_FIELDS:
                add(qid, f"exec.{k}", ph["execute"][k])
            add(qid, "trace.unattributed_jobs", ph["unattributed"]["jobs"])
            add(qid, "caching.released", c["released"])
            add(qid, "caching.stored_mb", c["stored_mb"])
            add(qid, "probe.gates", len(c["gates"]))
            add(qid, "probe.kernel", sum(b == "kernel" for b in c["gates"].values()))
        return rows

    def summary(self, nproc: int) -> dict[str, float]:
        """Per-layer metrics: summed over each traced pass, then the
        median over passes."""
        per_pass: dict[str, dict[str, float]] = {}
        for qid, row in self.executions().items():
            p = per_pass.setdefault(qid.split(":", 1)[0], {})
            for k, v in row.items():
                p[k] = p.get(k, 0.0) + v

        def med(key: str) -> float:
            return statistics.median(p.get(key, 0.0) for p in per_pass.values())

        out = {
            k: med(k)
            for k in (
                "build_s",
                "build.jobs",
                "build.task_s",
                "build.output_mb",
                "catalog.load_table.calls",
                "catalog.load_table_s",
                "catalog.load_table.jobs",
                "probe.gates",
                "caching.released",
                "caching.stored_mb",
                "plan_s",
                "release_s",
                "trace.unattributed_jobs",
                *(f"exec.{k}" for k in EXEC_FIELDS),
            )
        }
        out["exec_s"] = med("execute_s")
        out["probe.kernel_frac"] = med("probe.kernel") / out["probe.gates"] if out["probe.gates"] else 0.0
        out["exec.core_util"] = out["exec.task_s"] / (out["exec_s"] * nproc)
        return out
