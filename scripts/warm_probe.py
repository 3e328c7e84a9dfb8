"""Quiet-host warm best-of-N probe for individually flagged queries.

The recurring per-round protocol (VERDICT r7/r10/r11: full-bench
regressions on this shared VM are usually ambient load or cold-pass
amplification) — mechanized so its runs are comparable round to round:

1. refuses to record when 1-min load average is >= 1 (override with
   ``--force`` for exploratory runs);
2. one warmup execution per query (discarded — pays JIT/codegen),
   then ``reps`` timed executions, MIN recorded (bench.py's
   steady-state stance);
3. prints raw ratio vs BASELINE_BENCH.json plus this run's host_cal
   so the number can be host-normalized when folded into a baseline
   comment.

Probe floors are NOT baselines — never fold them into
BASELINE_BENCH.json ``queries`` (different protocol: no pass-1
amortization, no session contention); record them in per-query
``comments`` only.

A best whose timed reps are still strictly falling at the last rep
has not reached steady state — it over-reads (r19:
forward_fill_gauge read 1.51x at best-of-5 with every rep falling,
1.11x at best-of-8 after a quiesce).  Such runs print STILL-FALLING
and must not feed the floor-quality 1.3x re-anchor bar; rerun with a
larger ``PROBE_REPS`` until the tail flattens.

Usage::

    python scripts/warm_probe.py [--force] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv[1:]
    if not args:
        print(__doc__)
        return 2
    load1 = os.getloadavg()[0]
    if load1 >= 1 and not force:
        print(f"warm_probe: REFUSING — 1-min load {load1:.2f} >= 1 "
              "(quiet-host protocol; --force to override)")
        return 1

    import bench
    from myfitnesspaw_spark.plans import registry
    from myfitnesspaw_spark.session import get_spark

    reps = int(os.environ.get("PROBE_REPS", "3"))
    spark = get_spark("warm_probe")
    qs = registry.queries()
    baseline = bench._load_baseline()
    base_q = bench._load_baseline_queries(baseline)

    cal = None
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum((id % 1000) * (id % 1000))"
        ).collect()
        el = time.perf_counter() - t0
        cal = el if cal is None or el < cal else cal
    print(
        f"load1={load1:.2f} host_cal={cal:.3f} "
        f"(ref {baseline.get('host_cal_ref')}) sf_dir={bench.SF_DIR} reps={reps}"
    )

    rc = 0
    for name in args:
        fn = qs.get(name)
        if fn is None:
            print(f"{name}: NOT REGISTERED")
            rc = 1
            continue
        times = []
        for i in range(reps + 1):  # i=0 is the discarded warmup
            t0 = time.perf_counter()
            bench._run(fn(spark, bench.SF_DIR))
            times.append(time.perf_counter() - t0)
        best = min(times[1:])
        base = base_q.get(name)
        if base:
            ratio = f"{best / base:.2f}x vs baseline {base}"
            ref = baseline.get("host_cal_ref")
            if ref and cal:
                # the number every clearance note needs: raw ratio
                # divided by this host's slowdown vs the recording ref.
                ratio += f" = {best / base / (cal / ref):.2f}x host-normalized"
        else:
            ratio = "no baseline"
        note = ""
        if monotone_falling(times[1:]):
            note = (
                "  [STILL-FALLING: the best is the final, still-improving "
                "rep — not steady state; extend PROBE_REPS before applying "
                "the floor-quality bar]"
            )
        print(
            f"{name}: warm best-of-{reps} {best:.3f}s ({ratio}; "
            f"all reps {[round(t, 3) for t in times[1:]]}, warmup {times[0]:.3f})"
            + note
        )
    return rc


def monotone_falling(reps: list[float]) -> bool:
    """True when the run's best is its final, still-improving rep.

    The hazard (verify-skill r19 note) is a best that is the LAST
    sample of a still-converging series — it over-reads the
    steady-state floor.  That includes runs with an early tie or
    rebound whose last rep still strictly beats every earlier one
    (e.g. [1.0, 1.0, 0.8, 0.6]), not only fully-monotone series
    (ADVICE r19).  Callers must extend the rep count instead of
    trusting such a best.  A single timed rep can never certify
    steady state either — treat it as still falling.
    """
    if len(reps) < 2:
        return True
    return reps[-1] < min(reps[:-1])


if __name__ == "__main__":
    raise SystemExit(main())
