"""Stdlib-only statistics and Spark event-log folding.

Nothing here imports pyspark: the fold reads the JSON-lines event log
that Spark writes with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false``, groups jobs, stages and tasks by the
job group the benchmark set around each builder call and action
(``<query>|<pass>|build`` and ``<query>|<pass>|action``), and turns the
groups plus the benchmark's own spans into per-module metrics.

A streaming query runs its micro-batches on Spark's stream thread,
which replaces the job group with the query's run id.  Such a group is
counted toward the execution whose span holds its first job, in the
builder phase or the action phase by when that job started.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``[start, end]``
    intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def timed_executions(result: dict) -> list[dict]:
    """Executions of the timed passes (not the cold or warm-up passes)."""
    timed = {p["pass"] for p in result["passes"]}
    return [ex for ex in result["executions"] if ex["pass"] in timed]


def warm_latencies(result: dict) -> list[float]:
    """Builder call plus action, in seconds, of every timed execution
    that did not raise: the samples behind ``query_p50_s``."""
    return [ex["t2"] - ex["t0"] for ex in timed_executions(result) if ex["ok"]]


def count_failures(executions: list[dict]) -> tuple[int, int]:
    """``(attempted, failed)``: an execution fails when it raised
    (``ok`` false) or its answer did not match the oracle (``match``
    false).  ``match`` None means the answer was not checked."""
    failed = sum(1 for ex in executions if not ex["ok"] or ex.get("match") is False)
    return len(executions), failed


def read_event_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


_GROUP_FIELDS = (
    "jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb",
)


def fold_event_log(events: list[dict]) -> dict[str, dict]:
    """Per job group: job/stage/task counts, stage active intervals
    (epoch seconds), the submission time of its first job and summed
    task metrics.  Jobs outside any group are dropped."""
    groups: dict[str, dict] = defaultdict(
        lambda: {**{f: 0 for f in _GROUP_FIELDS}, "intervals": [], "first_job_s": None}
    )
    stage_group: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                g = groups[group]
                g["jobs"] += 1
                t = ev.get("Submission Time")
                if t is not None and (g["first_job_s"] is None or t / 1000.0 < g["first_job_s"]):
                    g["first_job_s"] = t / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group:
                stage_group[info["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            start, end = info.get("Submission Time"), info.get("Completion Time")
            if group and start is not None and end is not None:
                groups[group]["stages"] += 1
                groups[group]["intervals"].append((start / 1000.0, end / 1000.0))
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            if not group:
                continue
            g = groups[group]
            g["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            g["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            g["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
            g["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 1e6
            g["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
            g["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
    return dict(groups)


def _in_passes(t: float, passes: list[dict]) -> bool:
    return any(p["t0"] <= t <= p["t1"] for p in passes)


def per_layer_metrics(result: dict, groups: dict[str, dict]) -> dict[str, float]:
    """Per timed pass figures for every module, from the child's spans
    and call records plus the folded event log.  ``plans.jobs`` counts
    every Spark job of a query, ``plans.eager_jobs`` those its builder
    call ran before the action; calls and batches count only inside
    timed passes."""
    passes = result["passes"]
    n = len(passes)
    warm = timed_executions(result)
    phases: dict[tuple[str, int], dict[str, list[dict]]] = {
        (ex["query"], ex["pass"]): {"build": [], "action": []} for ex in result["executions"]
    }
    foreign = []
    for key, g in groups.items():
        query, _, rest = key.partition("|")
        pass_no, _, phase = rest.partition("|")
        if pass_no.isdigit() and (query, int(pass_no)) in phases and phase in ("build", "action"):
            phases[(query, int(pass_no))][phase].append(g)
        elif query != "perfbench" and g["first_job_s"] is not None:
            foreign.append(g)
    for g in foreign:
        for ex in result["executions"]:
            if ex["t0"] <= g["first_job_s"] <= ex["t2"]:
                phase = "build" if g["first_job_s"] < ex["t1"] else "action"
                phases[(ex["query"], ex["pass"])][phase].append(g)
                break
    tot: dict[str, float] = defaultdict(float)
    tot["plans.eager_jobs"] = 0.0
    for ex in warm:
        tot["plans.build_s"] += ex["t1"] - ex["t0"]
        tot["plans.action_s"] += ex["t2"] - ex["t1"]
        intervals = []
        for phase, gs in phases[(ex["query"], ex["pass"])].items():
            for g in gs:
                if phase == "build":
                    tot["plans.eager_jobs"] += g["jobs"]
                for f in _GROUP_FIELDS:
                    tot[f] += g[f]
                intervals += g["intervals"]
        busy = interval_union(clip(intervals, ex["t0"], ex["t2"]))
        tot["plans.stage_busy_s"] += busy
        tot["plans.driver_gap_s"] += (ex["t2"] - ex["t0"]) - busy
    for f in _GROUP_FIELDS:
        if f != "input_mb":
            tot["plans." + f] = tot.pop(f, 0.0)
    tot["sources.scan_mb"] = tot.pop("input_mb", 0.0)

    calls = [c for c in result["calls"] if _in_passes(c["t0"], passes)]
    for kind, count_key, time_key in (
        ("checkpoints", "checkpoints.calls", "checkpoints.materialize_s"),
        ("sources", "sources.load_table_calls", None),
        ("stores", "sinks.store_writes", "sinks.store_write_s"),
        ("silver", None, "sinks.silver_write_s"),
        ("report", None, "report.render_s"),
    ):
        mine = [c for c in calls if c["kind"] == kind]
        if count_key:
            tot[count_key] = len(mine)
        if time_key:
            tot[time_key] = sum(c["t1"] - c["t0"] for c in mine)
    tot["sinks.store_mb"] = sum(c.get("mb", 0.0) for c in calls if c["kind"] == "stores")
    tot["sinks.store_files"] = sum(c.get("files", 0) for c in calls if c["kind"] == "stores")
    tot["sinks.silver_mb"] = sum(c.get("mb", 0.0) for c in calls if c["kind"] == "silver")

    batches = [b for b in result["streaming"] if _in_passes(b["t"], passes)]
    tot["streaming.batches"] = len(batches)
    tot["streaming.trigger_s"] = sum(b["trigger_ms"] for b in batches) / 1e3
    tot["streaming.input_rows"] = sum(b["rows"] for b in batches)

    out = {k: v / n for k, v in tot.items()}
    out["session.start_s"] = result["session_start_s"]
    out["traced.wall_s"] = statistics.median(p["t1"] - p["t0"] for p in passes)
    out["traced.peak_rss_mb"] = result["peak_rss_mb"]
    return out


def warm_calls_per_kind(result: dict) -> dict[str, int]:
    counts: dict[str, int] = defaultdict(int)
    for c in result["calls"]:
        if _in_passes(c["t0"], result["passes"]):
            counts[c["kind"]] += 1
    counts["streaming"] = sum(1 for b in result["streaming"] if _in_passes(b["t"], result["passes"]))
    return counts
