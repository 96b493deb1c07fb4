"""Count-gated single-task kernels: the gate, the runner, and its contract.

Every bounded iterative operator in this repo (graph walks, dedup,
curation greedies, domain-sized fits) has two branches: a count gate
admits inputs small enough for ONE task, which replays the whole loop
in numpy/Python; above the gate the distributed join/loop form runs —
the 100 TB path (SURVEY §2.12 discipline). Forced branch equivalence
is tested in tests/test_algorithms.py::test_count_gated_branches_agree.

:func:`gate` is the single choke point for the branch decision. It
applies :data:`FORCE_DISTRIBUTED` and, once :func:`enable` ran,
records which branch each gate took (bench runs and
scripts/scale_probe.py read :func:`branches`).

:func:`single_task` is the single way to run a kernel. Its contract:

- one task: every row of the input reaches ``kernel(pdf)`` as one
  pandas frame (``repartition(1).mapInPandas`` + batch concat);
- empty input gives no rows, and the kernel is not called;
- a null (pandas NA: SQL NULL, or NaN in a float column) anywhere in
  the input raises ``ValueError`` naming the kernel and the column —
  one fail-loud policy instead of per-kernel drops or raises;
- int64 products go through :func:`mul_i64`, which raises
  ``OverflowError`` where numpy would wrap (Spark's ANSI arithmetic
  and DuckDB's BIGINT raise on the same inputs).

The runner launches no Spark job of its own: the gate's count is the
caller's, and the kernel runs inside the consumer's action.

A kernel returns the table the distributed loop ends with (node state,
labels, surviving edges); the query's one Spark tail (order, limit,
casts, score division) ranks it for whichever branch ran, so ordering
and tie-breaks are written once. The runner's output is one partition,
so that tail adds no shuffle and runs in the kernel's own task. The
tail must read the kernel output once: a second reference, such as a
``unionAll`` of two projections, runs the kernel twice (count edge
endpoints with ``F.explode(F.array("u", "v"))`` instead).
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from typing import TYPE_CHECKING

from pyspark import cloudpickle

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame

# Kernels reference mul_i64 from worker processes that may not have
# this package on their path: ship this module's functions by value.
cloudpickle.register_pickle_by_value(sys.modules[__name__])

_BRANCHES: dict[str, str] = {}
_ENABLED = False

# When True, every count-gate routes to its distributed else-branch
# regardless of the measured counts — the scale probe uses this to
# time the 100 TB path on data small enough that the gates would
# otherwise take the single-task kernel. Never set in production;
# result equivalence between the branches is separately enforced by
# tests/test_algorithms.py::test_count_gated_branches_agree.
FORCE_DISTRIBUTED = False


def gate(name: str, take_kernel: bool) -> bool:
    """Single choke point for every count-gate decision: applies the
    probe override, records the branch taken, and returns whether the
    single-task kernel should run."""
    take = take_kernel and not FORCE_DISTRIBUTED
    record_branch(name, "kernel" if take else "distributed")
    return take


def single_task(
    df: DataFrame,
    kernel: Callable[[pd.DataFrame], pd.DataFrame | None],
    schema,
) -> DataFrame:
    """Run ``kernel(pdf)`` once over every row of ``df`` in one task;
    its returned frame (or nothing, for ``None``) becomes the rows of
    the result, typed by ``schema``. See the module docstring for the
    empty-input, null and overflow contract."""
    name = kernel.__name__

    def run(batches):
        import pandas as pd

        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        if not len(pdf):
            return
        nulls = pdf.columns[pdf.isna().any().to_numpy()].tolist()
        if nulls:
            raise ValueError(
                f"single-task kernel {name}: null in input column(s) {nulls}"
            )
        out = kernel(pdf)
        if out is not None:
            yield out

    return df.repartition(1).mapInPandas(run, schema)


def mul_i64(a, k: int):
    """``a * k`` for an int64 array (or scalar) ``a`` and an integer
    ``k``, raising ``OverflowError`` instead of wrapping. The product
    is monotone in ``a``, so checking the two extremes in exact Python
    ints covers every element."""
    import numpy as np

    a = np.asarray(a, dtype=np.int64)
    if a.size:
        ends = (int(a.min()) * k, int(a.max()) * k)
        if min(ends) < -(2**63) or max(ends) >= 2**63:
            raise OverflowError(
                f"int64 multiply by {k} overflows: products reach {ends}"
            )
    return a * np.int64(k)


def enable() -> None:
    """Start recording gate decisions (clears prior observations)."""
    global _ENABLED
    _ENABLED = True
    _BRANCHES.clear()


def disable() -> None:
    global _ENABLED
    _ENABLED = False


def record_branch(gate: str, branch: str) -> None:
    """Called at each count-gate site with ``branch`` in
    {"kernel", "distributed"}. No-op unless :func:`enable` ran."""
    if _ENABLED:
        _BRANCHES[gate] = branch


def branches() -> dict[str, str]:
    """Observations since the last :func:`enable` call."""
    return dict(_BRANCHES)
