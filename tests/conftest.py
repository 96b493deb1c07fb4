"""Shared fixtures: one SparkSession + a DuckDB oracle connection and
the Spark↔DuckDB differential-compare helper that mirrors the driver's
check (row count + schema kinds + order-insensitive value comparison).
Our local check is *stricter* than the driver's hash: exact cell
equality (bit-exact for floats) so any nondeterminism risk surfaces
here first.
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from fts_analysis_datalake_spark.catalog import TABLES
from fts_analysis_datalake_spark.session import tune

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    sp = tune(
        SparkSession.builder.appName("fts-tests").master("local[8]")
    ).getOrCreate()
    yield sp
    sp.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{SF_DIR}/{name}.parquet')"
        )
    yield con
    con.close()


def _canon_cell(v) -> str:
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "<null>"
    if isinstance(v, float):
        return repr(v)  # bit-exact float representation
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__module__ == "numpy" and getattr(v, "ndim", 0) > 0:
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, (bool,)):
        return str(bool(v))
    if isinstance(v, int):
        return str(int(v))
    return str(v)


def _kind(dtype) -> str:
    k = dtype.kind if hasattr(dtype, "kind") else "O"
    return {"i": "int", "u": "int", "f": "float", "M": "ts", "b": "bool"}.get(k, "obj")


def _canon_frame(df: pd.DataFrame):
    df = df[sorted(df.columns)]
    kinds = {c: _kind(df[c].dtype) for c in df.columns}
    rows = sorted(
        tuple(_canon_cell(v) for v in row) for row in df.itertuples(index=False, name=None)
    )
    return kinds, rows


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Unpersist operator-internal caches after every test so cached
    RDDs can't accumulate across the 300+-test session (the same
    lifecycle hook bench.py runs between queries)."""
    from fts_analysis_datalake_spark.caching import release_tracked

    yield
    release_tracked()


def assert_parity(spark_df, duck_con, sql: str, name: str = "?") -> None:
    sdf = spark_df.toPandas()
    ddf = duck_con.execute(sql).fetchdf()
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: column names differ: spark={sorted(sdf.columns)} duck={sorted(ddf.columns)}"
    )
    assert len(sdf) == len(ddf), f"{name}: row count {len(sdf)} vs {len(ddf)}"
    skinds, srows = _canon_frame(sdf)
    dkinds, drows = _canon_frame(ddf)
    assert skinds == dkinds, f"{name}: dtype kinds differ: {skinds} vs {dkinds}"
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(srows, drows)) if a != b
    ]
    assert not mismatches, f"{name}: {len(mismatches)} row mismatches; first 3: {mismatches[:3]}"


def union_find_components(pairs) -> dict:
    """Independent connected-components reference: {node: min node of
    its component}, by classic union-find over the pairs. Self-loops
    carry no connectivity and are skipped, as
    ``operators.graphs.connected_components`` skips them, so a node
    whose only pair is a self-loop does not appear."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            parent[find(a)] = find(b)
    low: dict = {}
    for n in parent:
        root = find(n)
        low[root] = min(low.get(root, n), n)
    return {n: low[find(n)] for n in parent}
