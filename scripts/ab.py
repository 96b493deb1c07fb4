"""Interleaved same-process A/B timing of registry queries vs candidate
rewrites, per the round's measurement protocol: noop sink, clean caches
between runs, ABAB interleave so machine drift hits both arms, q1 anchor
bracketing.

The candidates are a Python file defining, for each named query, a
function with the registry query's signature ``(spark, sf_dir)``:

    python scripts/ab.py --candidates cand.py q_bm25_scoring q_ndcg_label_retrieval
    python scripts/ab.py --candidates cand.py --reps 3 --verify q_bm25_scoring

Earlier rounds' candidate archive is in git history as
scripts/alt_impls.py (``git log -- scripts/alt_impls.py``).

--verify additionally collects both arms' outputs (sorted) and asserts
they are identical row-for-row before timing.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fts_analysis_datalake_spark.caching import release_tracked
from fts_analysis_datalake_spark.registry import REGISTRY, _load_all
from fts_analysis_datalake_spark.session import get_spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--verify", action="store_true")
    ap.add_argument("--out", default=None)
    ap.add_argument(
        "--candidates",
        required=True,
        help="Python file defining one candidate function per query name",
    )
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location("ab_candidates", args.candidates)
    candidates = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(candidates)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    _load_all()
    spark = get_spark("fts-ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    from fts_analysis_datalake_spark.queries.relational_core import q1_pricing_summary

    def clean() -> None:
        release_tracked()
        spark.catalog.clearCache()
        gc.collect()

    def anchor() -> float:
        t0 = time.perf_counter()
        q1_pricing_summary(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    anchor()
    clean()
    out: dict[str, dict] = {}
    for name in args.names:
        old_fn = REGISTRY[name].fn
        new_fn = getattr(candidates, name)
        if args.verify:
            a = sorted(map(tuple, old_fn(spark, sf_dir).collect()))
            clean()
            b = sorted(map(tuple, new_fn(spark, sf_dir).collect()))
            clean()
            if a != b:
                print(f"VERIFY FAIL {name}: {len(a)} vs {len(b)} rows")
                for i, (ra, rb) in enumerate(zip(a, b)):
                    if ra != rb:
                        print(f"  first diff at {i}:\n   old={ra}\n   new={rb}")
                        break
                out[name] = {"verify": "FAIL"}
                continue
            print(f"verify OK {name} ({len(a)} rows)")
        a0 = anchor()
        clean()
        olds, news = [], []
        for _ in range(args.reps):
            for arm, fn, acc in (("old", old_fn, olds), ("new", new_fn, news)):
                spark.sparkContext.setJobDescription(f"ab:{arm}:{name}")
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                acc.append(round(time.perf_counter() - t0, 4))
                spark.sparkContext.setJobDescription(None)
                clean()
        a1 = anchor()
        clean()
        out[name] = {
            "old_best": min(olds), "new_best": min(news),
            "old": olds, "new": news, "anchors": [a0, a1],
            "ratio": round(min(news) / min(olds), 3),
        }
        print(
            f"{name}: old {min(olds):.3f} new {min(news):.3f} "
            f"(x{min(news)/min(olds):.2f}; anchors {a0:.2f}/{a1:.2f})\n"
            f"   old runs {olds}\n   new runs {news}",
            flush=True,
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
