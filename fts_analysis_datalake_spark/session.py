"""SparkSession factory tuned for this engine.

The driver harness passes in its own SparkSession; this factory is for
tests, bench.py and standalone use. Config choices (SURVEY.md §4, §6):

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
  — the 100 TB story relies on it, and at small SF it coalesces the
  post-shuffle partitions so tiny queries don't schedule 200 tasks.
- ``spark.sql.shuffle.partitions`` sized for local mode; on a real
  cluster this would be ~2-3x total cores (AQE coalesces down).
- Arrow enabled so any pandas-UDF path is vectorized batch transfer.
- Session timezone pinned to UTC so timestamp arithmetic agrees with
  the DuckDB oracle regardless of machine TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from fts_analysis_datalake_spark.catalog import _RUNTIME_CONFS

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def tune(builder: SparkSession.Builder) -> SparkSession.Builder:
    """Apply engine configs to a builder (shared by get_spark and tests):
    the runtime SQL confs catalog.load_table also sets on a foreign
    session, plus driver memory, UI off and the parquet codec."""
    return (
        builder.config(map=_RUNTIME_CONFS)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "zstd")
    )


def get_spark(app_name: str = "fts-analysis-datalake-spark", master: str | None = None) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    return tune(SparkSession.builder.appName(app_name).master(master)).getOrCreate()
