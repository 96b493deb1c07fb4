"""Order-insensitive result fingerprints.

A fingerprint is the row count, the sorted column names, and a SHA-256
over the canonical form the parity tests compare
(``tests/conftest.py::_canon_frame``: per-column dtype kinds plus the
sorted rows of canonical cell strings, floats bit-exact). Spark and
DuckDB results of the same query therefore fingerprint alike.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd

from tests.conftest import _canon_frame


def fingerprint(pdf: pd.DataFrame) -> dict:
    kinds, rows = _canon_frame(pdf)
    blob = json.dumps([kinds, rows], sort_keys=True, separators=(",", ":"))
    return {
        "rows": len(pdf),
        "columns": sorted(pdf.columns),
        "hash": hashlib.sha256(blob.encode()).hexdigest(),
    }


def matches(expected: dict, pdf: pd.DataFrame) -> bool:
    """Check a result against its stored expectation.

    ``check == "schema"`` marks a nondeterministic query: only the
    column names and a non-empty result are checked.
    """
    if expected["check"] == "schema":
        return sorted(pdf.columns) == expected["columns"] and len(pdf) > 0
    got = fingerprint(pdf)
    return all(got[k] == expected[k] for k in ("rows", "columns", "hash"))
