"""Interleaved A/B of the store-rebalance knob (r21, VERDICT r20 #1/#2).

Runs the store-backed queries with ``spark.myfitnesspaw.store.rebalance``
toggled per rep (ABAB..., same session, same weather) so ambient load
drift cannot masquerade as a knob effect — the r20 arm-per-process
matrix was confounded exactly that way.  Also records the store file
count per arm (the mechanism under test: plain writes track upstream
partitioning = core count; rebalance coalesces to the AQE advisory).

Both arms run with ``spark.myfitnesspaw.store.buckets=0``: bucketed
stores (``indexed_cc_refresh``'s shingle store) ignore the rebalance
knob, so the plain-store fallback is what lets the toggle reach them.

Usage::

    SPARK_GRAFT_CPUS=32 python scripts/store_knob_ab.py [--pairs 4] q1 q2 ...
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

from myfitnesspaw_spark.plans import registry  # noqa: E402
from myfitnesspaw_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STORE_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "spark-warehouse",
    "_index_store",
)


def store_file_counts() -> dict[str, int]:
    out: dict[str, int] = {}
    for d in glob.glob(os.path.join(STORE_ROOT, f"*_{os.getpid()}_*")):
        n = len(glob.glob(os.path.join(d, "*.parquet")))
        out[os.path.basename(d).rsplit("_", 3)[0]] = n
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--pairs", type=int, default=4)
    args = ap.parse_args()

    spark = get_spark("store_knob_ab")
    spark.conf.set("spark.myfitnesspaw.store.buckets", "0")
    qs = registry.queries()

    # Warmup: flagship + python workers + ONE untimed run of each target
    # query (pays family JIT/codegen so every timed rep is steady-state).
    try:
        qs["progress_report"](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.range(64).repartition(64).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass
    for name in args.queries:
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    results: dict[str, dict[str, list[float]]] = {
        n: {"plain": [], "rebalance": []} for n in args.queries
    }
    files: dict[str, dict[str, int]] = {n: {} for n in args.queries}
    for pair in range(args.pairs):
        # Alternate which arm goes first per pair (ABBA ordering) so a
        # monotone load trend hits both arms symmetrically.
        arms = ["plain", "rebalance"] if pair % 2 == 0 else ["rebalance", "plain"]
        for arm in arms:
            spark.conf.set(
                "spark.myfitnesspaw.store.rebalance",
                "true" if arm == "rebalance" else "false",
            )
            for name in args.queries:
                gc.collect()
                spark.sparkContext._jvm.System.gc()
                spark.sparkContext.setJobDescription(f"ab[{arm}] {name}")
                t0 = time.perf_counter()
                qs[name](spark, SF_DIR).write.format("noop").mode(
                    "overwrite"
                ).save()
                results[name][arm].append(round(time.perf_counter() - t0, 3))
                spark.sparkContext.setJobDescription(None)
                for store, cnt in store_file_counts().items():
                    files[name].setdefault(f"{arm}:{store}", cnt)
        print(f"pair {pair}: " + json.dumps(results), flush=True)
    summary = {
        n: {
            arm: {"min": min(t), "reps": t}
            for arm, t in r.items()
        }
        for n, r in results.items()
    }
    print(json.dumps({"summary": summary, "store_files": files}, indent=1))


if __name__ == "__main__":
    main()
