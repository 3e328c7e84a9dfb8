"""Same-session K=64 + K=128 banded-pair octave probe (VERDICT r19 #4).

The r19 probe book measured the K=64->K=128 octave steps for the two
banded pair paths (minhash_lsh_pairs 1.74x, simhash_pairs 1.91x per
data doubling) across SEPARATE sessions on a loud-decay afternoon.
This script removes the cross-session confound: ONE Spark session
builds the rebuilt 1x base plus the K=64 and K=128 corpora via
scale_probe.build_scaled, prints a host_cal spot first, then times
both queries at all three sides (min over ``reps`` runs per side).
Record only when the spot is recording-class (<= ~0.2) or note the
spot trail per the r19 half-loud-day protocol.

Usage::

    python scripts/banded_pair_probe.py [reps]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from myfitnesspaw_spark.plans import registry  # noqa: E402
from myfitnesspaw_spark.session import get_spark  # noqa: E402

from scale_probe import build_scaled, time_query  # noqa: E402

QUERIES = ["minhash_lsh_pairs", "simhash_pairs"]


def host_cal_spot(spark) -> float:
    cal = None
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum((id % 1000) * (id % 1000))"
        ).collect()
        el = time.perf_counter() - t0
        cal = el if cal is None or el < cal else cal
    return cal


def main() -> int:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    spark = get_spark("banded_pair_probe")
    print(f"load1={os.getloadavg()[0]:.2f} host_cal_spot={host_cal_spot(spark):.3f}",
          flush=True)
    sides = {1: build_scaled(spark, 1), 64: build_scaled(spark, 64),
             128: build_scaled(spark, 128)}
    print(f"host_cal_after_build={host_cal_spot(spark):.3f}", flush=True)
    qs = registry.queries()
    for name in QUERIES:
        times = {}
        for k, path in sides.items():
            times[k] = time_query(spark, qs[name], path, reps=reps)
            print(f"{name} K={k}: min-of-{reps} {times[k]:.2f}s", flush=True)
        print(f"{name}: 1x {times[1]:.2f}s  K=64 {times[64]:.2f}s "
              f"({times[64]/times[1]:.2f}x vs 64.0)  K=128 {times[128]:.2f}s "
              f"({times[128]/times[1]:.2f}x vs 128.0)  octave step "
              f"{times[128]/times[64]:.2f}x per 2x data", flush=True)
    print(f"host_cal_end={host_cal_spot(spark):.3f}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
