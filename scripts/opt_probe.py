"""Per-query optimization probe (r20 optimization round).

Times a named subset of registered queries in isolation — same session
construction, noop sink, and GC quiesce as bench.py — best-of-N so a
single GC pause can't poison a before/after comparison, and optionally
dumps ``explain("formatted")`` to ``plans/r20/<query>_<tag>.txt``.

Usage::

    python scripts/opt_probe.py [--reps 3] [--explain TAG] q1 q2 ...

With ``--explain before`` the final DataFrame's formatted plan is
written to plans/r20/<query>_before.txt (the judge-facing plan
artifact); timing still runs unless --no-time is given.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

from myfitnesspaw_spark.plans import registry  # noqa: E402
from myfitnesspaw_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# r21: plan artifacts land in plans/r21 (override with
# SPARK_GRAFT_PLANS_TAG for reproducing an older round's dumps).
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans",
    os.environ.get("SPARK_GRAFT_PLANS_TAG", "r21"),
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None, metavar="TAG")
    ap.add_argument("--no-time", action="store_true")
    args = ap.parse_args()

    spark = get_spark("opt_probe")
    qs = registry.queries()
    unknown = [n for n in args.queries if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # Warmup: flagship + a Python-worker spin-up, as bench.py does.
    try:
        qs["progress_report"](spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        spark.range(64).repartition(64).mapInPandas(
            lambda it: it, "id long"
        ).write.format("noop").mode("overwrite").save()
    except Exception:
        pass

    results: dict[str, list[float]] = {}
    for name in args.queries:
        fn = qs[name]
        if args.explain:
            os.makedirs(PLANS_DIR, exist_ok=True)
            df = fn(spark, SF_DIR)
            with open(os.path.join(PLANS_DIR, f"{name}_{args.explain}.txt"), "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
                    df._jdf.queryExecution(), "formatted"
                ))
        if args.no_time:
            continue
        times = []
        for _ in range(args.reps):
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            spark.sparkContext.setJobDescription(f"opt_probe: {name}")
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
        results[name] = times
        print(f"{name}: min={min(times):.3f}  reps={times}", flush=True)
    if results:
        print(json.dumps({n: min(t) for n, t in results.items()}))


if __name__ == "__main__":
    main()
