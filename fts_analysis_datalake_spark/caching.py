"""Session-scoped lifecycle for operator-internal ``persist()`` calls.

Several operators cache an intermediate that feeds both sides of a
self-join (MinHash signatures, shingle sets, SRP band tables): the
persist cannot be released inside the operator — the returned plan is
lazy and still references the cached blocks — but leaving it to an
ambient ``spark.catalog.clearCache()`` makes composed/library use leak
cached RDDs for the session lifetime (e.g. a leakage audit calling
exact_jaccard_for_pairs inside a larger plan).

This module is the single owner of that lifecycle:

- operators call :func:`tracked_persist` instead of ``df.persist()``;
- whoever MATERIALIZES the result (bench loop, driver harness, test
  fixture, a composing query) calls :func:`release_tracked` once the
  action finishes.

``release_tracked`` unpersists exactly what this library persisted —
unlike ``clearCache`` it cannot evict caches the embedding application
manages itself, so it is safe to call from library code.

At 100 TB the same contract holds: executor storage memory is
reclaimed per query instead of accreting until eviction pressure
causes recomputation mid-plan.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist()`` registered for later :func:`release_tracked`."""
    out = df.persist()
    _TRACKED.append(out)
    return out


def release_tracked() -> int:
    """Unpersist every tracked DataFrame (blocking=False); returns the
    number released. Idempotent; safe when nothing is tracked."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — a dead session must not mask cleanup
            pass
    return n


def reroot(df: DataFrame) -> DataFrame:
    """Materialize ``df`` (localCheckpoint) and re-wrap the result as
    a FRESH LogicalRDD with brand-new attribute ids.

    Iterative algorithms that SELF-JOIN their loop state every round
    (connected components' pointer jump, label propagation) hit a
    Spark pathology this works around: chaining
    ``join(self) -> localCheckpoint`` keeps the checkpointed plan's
    attribute ids alive in the next round's self-join dedup, and
    per-round cost starts multiplying by the reference count —
    measured ~3x per round from round ~15, i.e. minutes by round 20
    on a 15k-node graph even though every plan is a constant-size
    scan of materialized blocks. Re-wrapping the checkpointed RDD via
    ``createDataFrame(rdd, schema)`` severs that id lineage; the same
    40-round loop then runs at a flat ~0.4 s/round. Single-reference
    loops don't need this — plain localCheckpoint stays flat.

    The re-wrap goes through the JVM ``createDataFrame(JavaRDD[Row],
    schema)`` overload: the Python-side ``df.rdd`` route would pull
    every row through Python pickling on each downstream scan
    (measured 2x slower on a 200k-row loop); ``javaRDD()`` keeps the
    blocks in the JVM untouched.
    """
    d = df.localCheckpoint()
    jdf = d._jdf
    new_jdf = d.sparkSession._jsparkSession.createDataFrame(
        jdf.javaRDD(), jdf.schema()
    )
    return DataFrame(new_jdf, d.sparkSession)


_FIXPOINT_PARTITIONS = 4


@contextmanager
def fixpoint_confs(spark, enabled: bool = True):
    """Run an iterative fixpoint loop under local-friendly SQL confs:
    AQE off, ``_FIXPOINT_PARTITIONS`` shuffle partitions, restored on
    exit.

    Rationale (measured on the sf0.1 DBSCAN eps-graph, 322k edges):
    with AQE on, every exchange in every round becomes its own
    re-planned job — 97 jobs / 207 stages for 9 contraction rounds of
    milliseconds of actual work, ~10 s of pure per-stage scheduling.
    The data inside a fixpoint round is bounded and known-small, so
    adaptive re-planning and 32-way shuffles buy nothing locally.

    Callers gate on size: pass ``enabled=False`` when the loop state
    is genuinely large (then AQE's skew splitting and coalescing are
    worth their scheduling cost — the 100 TB path). The manager is
    reentrant-safe in the trivial sense (restores whatever was set on
    entry) but not designed for concurrent queries on one session —
    this engine executes declared queries sequentially.
    """
    if not enabled:
        yield
        return
    keys = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(_FIXPOINT_PARTITIONS),
    }
    saved: dict[str, str | None] = {}
    for k, v in keys.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 — unset conf has no default here
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
