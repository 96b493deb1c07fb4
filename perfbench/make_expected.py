"""Build ``expected.json``: one result fingerprint per workload query.

    python3 perfbench/make_expected.py [--workload NAME ...]

Each fingerprint comes from the query's DuckDB oracle run over the
workload's own fixture copy, under a DuckDB memory limit and an
interrupt. Queries without an oracle, and the oracles too costly to run
at the workload's scale (``NO_ORACLE``), are fingerprinted from the
Spark output of the code at hand instead, and the entry records that
provenance. Such a query is run twice, at two shuffle-partition counts;
when the two results differ it is nondeterministic and only its
schema and a non-empty result are checked.

The Spark result of every oracle-backed query is fingerprinted too,
and a mismatch is printed: that is a wrong result at this scale, and
the benchmark will report it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading

import run

from workloads import WORKLOADS

ORACLE_TIMEOUT_S = 60
DUCKDB_MEMORY_LIMIT = "4GB"
# Measured at sf0.1 on a 4-core, 16 GB machine.
NO_ORACLE = {
    "q_weighted_jaccard_pairs": "oracle grew to 14 GB at sf0.1 and was OOM-killed",
}


def oracle_fingerprint(con, sql: str, fingerprint) -> dict:
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        return fingerprint(con.execute(sql).fetchdf())
    finally:
        timer.cancel()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    names = args.workload or sorted(WORKLOADS)

    path = os.path.join(run.BENCH, "expected.json")
    expected = {}
    if os.path.exists(path):
        with open(path) as f:
            expected = json.load(f)

    run_dir = os.path.join(run.OUT, f"expected-{os.getpid()}")
    run.sandbox(run_dir)
    prog = run.load_program()
    prog.streaming_sources.CACHE_DIR = os.path.join(run_dir, "cache")
    import duckdb

    from fts_analysis_datalake_spark.catalog import TABLES

    fp = prog.fingerprint.fingerprint
    spark = prog.session.get_spark("perfbench-expected", master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        for wl_name in names:
            wl = WORKLOADS[wl_name]
            sf_dir = os.path.join(run.BENCH, "data", f"sf{wl.sf}")
            con = duckdb.connect()
            con.execute(f"SET memory_limit='{DUCKDB_MEMORY_LIMIT}'")
            con.execute(f"SET threads={len(os.sched_getaffinity(0))}")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )

            def spark_fp(name: str) -> dict:
                try:
                    return fp(prog.registry[name].fn(spark, sf_dir).toPandas())
                finally:
                    prog.caching.release_tracked()
                    spark.catalog.clearCache()

            out = {}
            for name in wl.queries:
                q = prog.registry[name]
                seen = spark_fp(name)
                entry = None
                reason = NO_ORACLE.get(name) or ("no oracle" if q.oracle is None else None)
                if reason is None:
                    try:
                        entry = {
                            **oracle_fingerprint(con, q.oracle, fp),
                            "source": "duckdb-oracle",
                            "check": "full",
                        }
                    except duckdb.Error as ex:
                        reason = f"oracle failed: {type(ex).__name__}: {str(ex)[:200]}"
                    if entry is not None and entry["hash"] != seen["hash"]:
                        print(f"MISMATCH {wl_name} {name}: spark {seen} oracle {entry}", flush=True)
                if entry is None:
                    parts = spark.conf.get("spark.sql.shuffle.partitions")
                    spark.conf.set("spark.sql.shuffle.partitions", "7")
                    try:
                        again = spark_fp(name)
                    finally:
                        spark.conf.set("spark.sql.shuffle.partitions", parts)
                    entry = {
                        **seen,
                        "source": "spark-seed",
                        "reason": reason,
                        "check": "full" if again == seen else "schema",
                    }
                out[name] = entry
                print(wl_name, name, entry["source"], entry["check"], entry["rows"], flush=True)
            con.close()
            expected[wl_name] = out
            with open(path, "w") as f:
                json.dump(expected, f, indent=1, sort_keys=True)
                f.write("\n")
    finally:
        run.stop(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
