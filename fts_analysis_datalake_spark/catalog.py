"""Table registry / loader (SURVEY.md §2.1 S1, S6).

Mirrors the DuckDB oracle's pre-registered views: every fixture table
is loadable by name from a scale-factor directory and optionally
registered as a temp view so ``spark.sql`` / ``spark.table`` work.

At 100 TB these reads would be partitioned-parquet directory scans;
the API is identical (``spark.read.parquet`` on a directory), and
predicate pushdown / partition pruning happen in the scan node, so
nothing here changes with scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Dimension tables that are broadcast CANDIDATES. region/nation are
# fixed-cardinality (5/25 rows) at every scale factor; supplier/part/
# customer GROW with scale, so a candidate only gets the hint when its
# scan is below _BROADCAST_BYTES_CAP (see broadcast_dim) — an
# unconditional F.broadcast overrides AQE's size check and OOMs
# executors at 100x.
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}

# Mirror of spark.sql.autoBroadcastJoinThreshold (_RUNTIME_CONFS): the
# hint is only applied when the dim's source files are below the same
# bound the planner itself would accept.
_BROADCAST_BYTES_CAP = 64 * 1024 * 1024


def _scan_bytes(df: DataFrame) -> int | None:
    """Total size of the DataFrame's source files (local paths), or
    None when unknown (non-file source, inaccessible path)."""
    import os
    from urllib.parse import urlparse

    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — size probe must never fail a query
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("file", ""):
            return None
        try:
            total += os.path.getsize(p.path)
        except OSError:
            return None
    return total


def broadcast_dim(df: DataFrame, name: str) -> DataFrame:
    """Size-gated broadcast hint for a dimension table (or a frame
    derived from one scan of it).

    Applies ``F.broadcast`` only when ``name`` is a registered
    broadcast candidate AND the backing scan is under
    ``_BROADCAST_BYTES_CAP`` — the same 64 MB bound
    ``autoBroadcastJoinThreshold`` enforces. Above the cap (or when
    size is unknowable) the frame is returned unhinted and AQE picks
    the join strategy from runtime statistics, so the same query text
    degrades to a shuffle join instead of an executor OOM when the
    dim has grown 100x.
    """
    from pyspark.sql import functions as F

    if name not in BROADCAST_TABLES:
        return df
    size = _scan_bytes(df)
    if size is not None and size <= _BROADCAST_BYTES_CAP:
        return F.broadcast(df)
    return df


# Runtime-settable SQL confs applied once per session the first time a
# table is loaded. The driver harness passes its OWN SparkSession into
# declared queries; without this, that session runs with stock defaults
# (e.g. 200 shuffle partitions) and pays ~6x the reduce-task launch
# overhead per shuffle at verification scale. Every key here is a
# runtime-settable spark.sql.* conf; session.tune bakes this same dict
# into builders, so this is a no-op when the session is already tuned.
_RUNTIME_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}
_TUNED_APPS: set[str] = set()


def _tune_runtime(spark: SparkSession) -> None:
    app = spark.sparkContext.applicationId
    if app in _TUNED_APPS:
        return
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — a locked conf must never fail a query
            pass
    _TUNED_APPS.add(app)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _tune_runtime(spark)
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to a session-TZ TimestampType column no
    matter how the fixture encodes it. Generations of the testdata have
    shipped ts as parquet TIMESTAMP(NANOS) (Spark's vectorized reader
    rejects it outright -> read as raw nanos via the legacy conf and
    truncate ns->us exactly like DuckDB's reader does) and as plain
    TIMESTAMP(MICROS) with isAdjustedToUTC=false (arrives as
    TIMESTAMP_NTZ -> cast; session TZ is pinned to UTC so the wall
    clock is preserved and every downstream date/window function
    agrees with the DuckDB oracle).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pyspark.errors import AnalysisException, SparkUpgradeException

    path = f"{sf_dir}/events.parquet"
    try:
        df = spark.read.parquet(path)
    except (AnalysisException, SparkUpgradeException) as ex:
        # Only the TIMESTAMP(NANOS) schema rejection gets the legacy-conf
        # retry; anything else (missing file, corrupt footer) re-raises
        # unchanged instead of masking into a confusing second attempt.
        if "NANOS" not in str(ex) and "Illegal Parquet type" not in str(ex):
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # Raw nanos: ts div 1000 is exact integer ns->us truncation,
        # stays codegen'd.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Rebalance a DataFrame to the cluster's default parallelism when
    it has fewer partitions (e.g. a single-row-group parquet file).

    Use before compute-heavy projections (regex/tokenize/hash
    pipelines): Spark evaluates projection expressions where the rows
    sit, so a 1-partition input pins the whole pipeline to one core
    no matter how many are available. Well-partitioned inputs — the
    100 TB case — pass through untouched, so this never adds a
    shuffle at scale.

    Partition count is *estimated* from the scan's input files
    (count + total bytes / 128 MiB split size) instead of
    ``df.rdd.getNumPartitions()`` — touching ``.rdd`` forces a full
    plan conversion per call. The estimate matches Spark's file-split
    rule closely enough for the decision here: many files or a big
    splittable file -> already parallel; one small file -> rebalance.
    """
    import math
    import os
    from urllib.parse import urlparse

    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    est = len(files)
    if 0 < est < target:
        split_bytes = 128 * 1024 * 1024
        for uri in files:
            p = urlparse(uri)
            if p.scheme in ("file", ""):
                try:
                    est += math.ceil(os.path.getsize(p.path) / split_bytes) - 1
                except OSError:
                    pass
    if est < target:
        return df.repartition(target)
    return df


_ROWS_PER_TASK = 1_000_000  # pair budget per task of a floored join
_MAX_SHUFFLE_PARTITIONS = 32_768


def ensure_shuffle_parallelism(
    df: DataFrame,
    workload_rows: int,
    keys: list[str],
    n_keys: int,
    max_key_workload: int,
) -> DataFrame:
    """Floor a work-amplifying join's partition count by its estimated
    OUTPUT workload (pair count), not its input bytes.

    Spark (and AQE's coalescing) size every exchange by map-output
    BYTES. For pair-generating joins — PPJoin prefix postings,
    SemDeDup cluster blocks, bipartite link prediction — the shuffle
    INPUT is tiny while each task then materializes
    ``workload / partitions`` pairs and sorts/aggregates them, so AQE
    coalesces the join down to a handful of tasks that hit the spill
    knee the moment per-core memory can't hold a block (the r8 32x
    probe measured q_resource_allocation_links at 13 s -> 187 s for
    exactly-linear pair growth; raising AQE initialPartitionNum to
    256 recovered 115 s session-wide). This helper encodes the same
    floor PER PLAN instead of as a blanket conf: an explicit hash
    repartition on the join key, sized by the measured workload. The
    join reuses the partitioning (no extra exchange beyond the one
    the join itself required) and AQE never coalesces user-specified
    repartitions, so the pair stage keeps ``<= _ROWS_PER_TASK`` pairs
    per task at any scale. ``workload_rows`` comes from a cheap
    domain-sized aggregate the caller already has (sum of squared
    block sizes) — the same workload-not-bytes principle as the
    allpairs-cosine parallelism floor (SURVEY §6a-cont.).

    ``n_keys`` (distinct join-key count, available from the same
    aggregate as the workload) GATES the floor: hash partitioning by
    key can never spread the work over more tasks than there are
    keys, and a user-pinned repartition DISABLES AQE's skew-join
    splitting — so when the keys are fewer than the target the floor
    would concentrate each hot key in one task and make spill
    STRICTLY worse (measured: the 30-word-vocab prefix-join probe
    went from 102 s to OOM under an unconditional floor). Few fat
    keys is precisely the regime where AQE's OptimizeSkewedJoin is
    the right mitigation; the floor is for the many-keys-tiny-bytes
    regime where AQE's byte-based coalescing is the failure mode.

    ``max_key_workload`` (the LARGEST single key's pair workload,
    max(c)^2, from the same aggregate) gates the SKEWED case the key
    count alone misses: hash partitioning can never split one key
    across tasks, so when any single key already exceeds the task
    budget the floor pins that key whole in one task while blocking
    AQE from splitting it (measured: the saturated-vocab PPJoin probe
    has 15k keys — past the n_keys gate — but its rarest-shingle
    postings carry ~100x a task budget each; the floor made it 2.3x
    slower / OOM-prone vs leaving AQE in charge). Fat-key workloads
    need salting or AQE skew-split, not more partitions.
    """
    import math

    target = max(
        df.sparkSession.sparkContext.defaultParallelism,
        math.ceil(max(int(workload_rows), 1) / _ROWS_PER_TASK),
    )
    if n_keys < target or max_key_workload > _ROWS_PER_TASK:
        return df
    return df.repartition(min(target, _MAX_SHUFFLE_PARTITIONS), *keys)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (name -> DF registry)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
