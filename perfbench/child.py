"""One benchmark process: start a session, run a workload, record spans.

Started by ``run.py`` with the checkout root on ``PYTHONPATH`` and a
per-run working directory, ``SPARK_LOCAL_DIRS`` and ``TMPDIR``.  It

1. runs a cold pass whose actions collect every answer,
2. checks each answer against the query's DuckDB oracle (untimed),
3. runs the workload's untimed warm-up passes, then its timed passes,

and writes every span as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import time
import traceback
from collections import Counter
from datetime import timedelta

from workloads import WORKLOADS


def canon(v):
    """Type-faithful cell canonicalization: ints and floats never
    collide, floats use shortest round-trip repr."""
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    return f"s:{v}"


def digest(columns: list[str], rows: list) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon_rows = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256("\n".join(canon_rows).encode()).hexdigest()
    return {"columns": sorted(columns), "rows": len(rows), "sha256": h}


def oracle_digests(sf_dir: str, oracles: dict[str, str], names) -> dict[str, dict]:
    import duckdb

    from myfitnesspaw_spark.sources import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in names:
            rel = con.sql(oracles[name])
            out[name] = digest(rel.columns, rel.fetchall())
        return out
    finally:
        con.close()


def _proc_tree(pid: int) -> list[tuple[int, str]]:
    """``(pid, comm)`` for ``pid`` and every descendant: the Python
    driver, its JVM and the Python workers."""
    comm: dict[int, str] = {}
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                data = fh.read()
        except OSError:
            continue
        rparen = data.rindex(")")
        comm[int(entry)] = data[data.index("(") + 1 : rparen]
        ppid = int(data[rparen + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p in comm:
            tree.append((p, comm[p]))
        todo += children.get(p, [])
    return tree


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of ``pid`` plus its JVM descendants."""
    total_kb = 0
    for p, comm in _proc_tree(pid):
        if p != pid and comm != "java":
            continue
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def task_slots() -> int:
    """Half the usable cores: the other half is left to the JVM's JIT
    compiler and GC threads, the Python driver and the Python workers,
    so that task threads do not queue with them for a core.  The tables
    are small enough that more slots buy no speed: on a 4-core host,
    ``mfp_daily_refresh`` passes took 6.2-7.2 s with four slots and
    5.3-6.0 s with two."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--t0", type=float, required=True, help="epoch time the parent started this process")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    sf = args.sf_dir

    from myfitnesspaw_spark.plans import registry
    from myfitnesspaw_spark.session import get_spark
    from myfitnesspaw_spark.sinks import warehouse

    fns = registry.queries()
    t = time.time()
    spark = get_spark("perfbench", cpus=task_slots())
    ready = time.time()
    session_start_s = ready - t
    sc = spark.sparkContext

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(os.path.join(os.getcwd(), "spark-warehouse"))
        tracer.install(type(spark.range(0)))
        spark.streams.addListener(tracer.listener())

    executions: list[dict] = []
    answers: dict[str, dict] = {}
    report_user = None

    def render_report(cols, rows):
        """Render one user's HTML progress report from collected
        ``progress_report`` rows, as the daily email does."""
        from myfitnesspaw_spark.report import progress

        rows = [tuple(r) for r in rows if r["custkey"] == report_user]
        d, total = cols.index("date"), cols.index("total")
        last = max(rows, key=lambda r: r[d])
        report = progress.ProgressReport(
            username=f"user{report_user}",
            end_goal=2 * max(abs(int(last[total])), 1),
            rows=rows,
            columns=cols,
            deficit_idx=cols.index("deficit_actual"),
            date_idx=d,
            total_idx=total,
            today=last[d] + timedelta(days=1),
        )
        html = progress.render_html(report)
        if not report.is_fresh or html.count("<tr>") != 1 + len(report.table):
            raise RuntimeError("rendered progress report lacks its table")

    def collect_action(name, df):
        nonlocal report_user
        if name in wl.silver:
            warehouse.write_silver(df, wl.silver[name], mode="overwrite")
            df = spark.table(wl.silver[name])
        rows = df.collect()
        answers[name] = digest(df.columns, rows)
        if name == "progress_report":
            # The user with the most report rows, smallest id on ties:
            # the same choice whatever the row order of the inputs.
            counts = Counter(r["custkey"] for r in rows)
            report_user = min(counts, key=lambda u: (-counts[u], u))
            render_report(df.columns, rows)

    def warm_action(name, df):
        if name in wl.silver:
            warehouse.write_silver(df, wl.silver[name], mode="overwrite")
        elif name == "progress_report":
            from pyspark.sql import functions as F

            render_report(df.columns, df.where(F.col("custkey") == report_user).collect())
        else:
            df.write.format("noop").mode("overwrite").save()

    def execute(name, pass_no, action):
        rec = {"query": name, "pass": pass_no, "ok": True, "match": None}
        rec["t0"] = time.time()
        try:
            sc.setJobGroup(f"{name}|{pass_no}|build", name)
            df = fns[name](spark, sf)
            rec["t1"] = time.time()
            sc.setJobGroup(f"{name}|{pass_no}|action", name)
            action(name, df)
        except Exception as exc:  # one failing query must not end the run
            rec["ok"] = False
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            traceback.print_exc()
        rec["t2"] = time.time()
        rec.setdefault("t1", rec["t2"])
        sc.setJobGroup("perfbench|idle", "idle")
        executions.append(rec)

    cold_t0 = time.time()
    for name in wl.queries:
        execute(name, 0, collect_action)
    cold_end = time.time()

    oracles = registry.oracle_sql()
    expected = oracle_digests(sf, oracles, [n for n in wl.queries if n in oracles])
    for rec in executions:
        name = rec["query"]
        if rec["ok"] and name in expected:
            rec["match"] = answers[name] == expected[name]
            if not rec["match"]:
                rec["error"] = f"oracle mismatch: spark={answers[name]} oracle={expected[name]}"

    # A fixed number of untimed warm-up passes (the JIT is still
    # compiling), then a fixed number of timed passes, so that what the
    # median covers does not depend on how fast the program is.
    # ``--seconds`` is only a budget: a program far slower than the one
    # the counts were sized for stops its timed passes once three times
    # that has gone by since the warm-up began.
    passes = []
    warm_start = time.time()
    for pass_no in range(1, wl.warmup + wl.timed + 1):
        timed = pass_no > wl.warmup
        if timed and passes and time.time() - warm_start > 3 * args.seconds:
            break
        p = {"pass": pass_no, "t0": time.time()}
        for name in wl.queries:
            execute(name, pass_no, warm_action)
        p["t1"] = time.time()
        if timed:
            passes.append(p)
    result = {
        "setup_s": cold_end - args.t0,
        "ready_s": ready - args.t0,
        "session_start_s": session_start_s,
        "cold_pass_s": cold_end - cold_t0,
        "passes": passes,
        "executions": executions,
        "peak_rss_mb": peak_rss_mb(os.getpid()),
        "calls": tracer.calls if tracer else [],
        "streaming": tracer.streaming if tracer else [],
    }
    spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
