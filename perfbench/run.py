"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  One run is one closed-loop client: a
single driver thread in one process on ``local[<cores / 2>]`` runs the
workload's queries (``workloads.py``) pass after pass.

- Inputs: a row-permuted copy of the bundled tables, made from ``--seed``.
- Untraced (``--trace 0``): prints the ``end_to_end`` metrics of
  ``BENCHMARK.json``, measured over a fixed number of timed passes that
  follow the workload's untimed warm-up passes.  ``setup_s`` runs from the start of the measuring
  process through ``get_spark`` to the end of its cold pass.
- Traced (``--trace 1``): one measuring process with Spark's event log
  on and the engine's eager functions wrapped; prints the
  ``per_layer`` metrics.

Every answer of the cold pass is checked against the query's DuckDB
oracle.  Human-readable lines come first; the last line of standard
output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``.  Exits non-zero, without that line, when a run produced
no metrics.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time

from fold import (
    count_failures,
    fold_event_log,
    per_layer_metrics,
    read_event_log,
    warm_calls_per_kind,
    warm_latencies,
)
from inputs import make_inputs
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0


class RunError(Exception):
    pass


def _stop_group(proc: subprocess.Popen, grace: float = 15.0) -> None:
    """Wait for the process group of ``proc`` (the child, its JVM and
    Python workers) to end; kill what is left after ``grace`` seconds."""
    end = time.time() + grace
    while time.time() < end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while True:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_child(run_dir: str, name: str, argv: list[str], env: dict, timeout: float) -> dict:
    out = os.path.join(run_dir, f"{name}.json")
    log_path = os.path.join(run_dir, f"{name}.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), *argv, "--t0", repr(t0), "--out", out],
            cwd=os.path.join(run_dir, "cwd"),
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(timeout, 1.0))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            _stop_group(proc)
    _remove_stores(proc.pid)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise RunError(f"{name} process {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    with open(out) as fh:
        return json.load(fh)


def _remove_stores(pid: int) -> None:
    """Index stores are kept per process under the checkout's
    ``spark-warehouse/_index_store``; remove the ones this child made."""
    for path in glob.glob(os.path.join(ROOT, "spark-warehouse", "_index_store", f"*_{pid}_*")):
        shutil.rmtree(path, ignore_errors=True)


def child_env(run_dir: str, trace: bool) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["TMPDIR"] = os.path.join(run_dir, "tmp")
    # Every JVM, the spark-submit launcher's too: temp files in the run
    # dir, no hsperfdata file outside it.
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={env['TMPDIR']} -XX:-UsePerfData"
    submit = []
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(run_dir, 'eventlog')}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    return env


def end_to_end(result: dict) -> tuple[dict, list[str]]:
    walls = [p["t1"] - p["t0"] for p in result["passes"]]
    lat = warm_latencies(result)
    attempted, failed = count_failures(result["executions"])
    metrics = {"setup_s": result["setup_s"], "wall_s": statistics.median(walls)}
    lines = [
        f"setup_s        {metrics['setup_s']:.3f} s   (session ready {result['ready_s']:.3f} s "
        f"+ cold pass {result['cold_pass_s']:.3f} s)",
        f"wall_s         {metrics['wall_s']:.3f} s   (median of n={len(walls)} timed passes: "
        f"{', '.join(f'{w:.2f}' for w in walls)})",
        f"query_p50_s    {statistics.median(lat):.3f} s   (n={len(lat)} timed executions)",
        f"fail_ratio     {failed / attempted:.4f}     ({failed} of n={attempted} executions)",
        f"peak_rss_mb    {result['peak_rss_mb']:.1f} MB  (python + JVM VmHWM; repeats only within ~25%)",
    ]
    return metrics, lines


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "myfitnesspaw_spark")):
        print(f"no myfitnesspaw_spark package under {ROOT}: run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        for sub in ("cwd", "local", "tmp", "eventlog"):
            os.makedirs(os.path.join(run_dir, sub))
        sf_dir = make_inputs(os.path.join(run_dir, "inputs"), args.seed)
        env = child_env(run_dir, bool(args.trace))
        base = ["--workload", args.workload, "--sf-dir", sf_dir, "--seconds", str(args.seconds)]
        result = run_child(
            run_dir, "main", base + (["--trace"] if args.trace else []), env, DEADLINE_S - (time.time() - start)
        )

        for ex in result["executions"]:
            if not ex["ok"] or ex.get("match") is False:
                print(f"FAILED {ex['query']} pass {ex['pass']}: {ex.get('error')}")
        unchecked = sorted({ex["query"] for ex in result["executions"] if ex["pass"] == 0 and ex["match"] is None})
        if unchecked:
            print(f"unchecked answers: {unchecked}")
        attempted, failed = count_failures(result["executions"])

        if args.trace:
            logs = glob.glob(os.path.join(run_dir, "eventlog", "*"))
            if len(logs) != 1:
                raise RunError(f"expected one event log, found {logs}")
            metrics = per_layer_metrics(result, fold_event_log(read_event_log(logs[0])))
            counts = warm_calls_per_kind(result)
            missed = [k for k in WORKLOADS[args.workload].expect if counts.get(k, 0) == 0]
            if missed:
                raise RunError(f"traced wrappers counted zero calls on {args.workload}: {missed}")
            lines = [f"{k:28s} {v:.4f}" for k, v in sorted(metrics.items())]
        else:
            metrics, lines = end_to_end(result)
    except RunError as exc:
        print(f"run failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        for d in (os.path.join(ROOT, "spark-warehouse", "_index_store"), os.path.join(ROOT, "spark-warehouse"), os.path.join(ROOT, ".perfbench")):
            try:
                os.rmdir(d)
            except OSError:
                pass

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing:
        print(f"run produced no value for {missing}", file=sys.stderr)
        return 1
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  run {time.time() - start:.1f} s")
    for line in lines:
        print("  " + line)
    print(json.dumps({
        "correct": failed == 0 and not unchecked,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
