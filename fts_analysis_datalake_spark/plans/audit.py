"""Helpers to read a DataFrame's physical plan as text and query it.

Used by the plan-audit tests to keep every declared query honest at
the plan level: a query that silently regresses to a cartesian
product, a row-at-a-time Python UDF, or an un-pushed filter would
still pass value checks at sf0.01 while falling over at 100 TB —
these helpers make such regressions test failures instead.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Physical nodes that mean "rows cross the JVM/Python boundary".
# ArrowEval/ MapInPandas / FlatMapGroupsInPandas are the sanctioned
# vectorized forms (X1-X4); BatchEvalPython is the row-at-a-time slow
# path no declared query may use.
_PY_NODE_RE = re.compile(
    r"BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas"
    r"|PythonMapInArrow|FlatMapGroupsInPandasWithState|BatchEvalPythonUDTF"
)


def explain_text(df: DataFrame, mode: str = "extended") -> str:
    """The plan exactly as ``df.explain(mode)`` would print it.

    Uses the same JVM call PySpark's ``explain`` wraps, but returns
    the string instead of printing. ``extended`` includes the
    analyzed + optimized logical plans and the initial physical plan;
    ``formatted`` includes scan details (PushedFilters, ReadSchema).
    """
    jdf = df._jdf  # classic (non-Connect) local session
    return jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def has_node(df: DataFrame, node: str) -> bool:
    return node in explain_text(df, "simple")


def python_eval_nodes(plan: DataFrame | str) -> list[str]:
    """Distinct Python-boundary node names in the physical plan of a
    DataFrame, or in its already-rendered ``explain_text(df, "simple")``."""
    text = plan if isinstance(plan, str) else explain_text(plan, "simple")
    return sorted(set(_PY_NODE_RE.findall(text)))


def pushed_filters(df: DataFrame) -> list[str]:
    """Every non-empty PushedFilters list in the formatted plan."""
    out = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", explain_text(df, "formatted")):
        if m.group(1).strip():
            out.append(m.group(1).strip())
    return out
