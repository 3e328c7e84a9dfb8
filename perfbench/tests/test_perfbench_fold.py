"""Tests for the benchmark's statistics and event-log fold.

Run with ``python3 -m pytest perfbench/tests``; no Spark session needed.

The fixture is a trimmed Spark event log of three executions on
``local[2]``: ``q`` pass 1 (a ``localCheckpoint`` in its builder, a
shuffle in its action) and ``s`` pass 1, whose builder runs an
``availableNow`` streaming query.  The stream thread tags its jobs with
the query's run id instead of ``s|1|build``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from fold import (  # noqa: E402
    clip,
    count_failures,
    fold_event_log,
    interval_union,
    per_layer_metrics,
    read_event_log,
    warm_latencies,
)

FIXTURE = os.path.join(HERE, "fixtures", "eventlog.jsonl")
OWN = {"q|1|build", "q|1|action", "s|1|build", "s|1|action", "perfbench|idle"}


def _groups():
    return fold_event_log(read_event_log(FIXTURE))


def _stream_group(groups):
    (run_id,) = set(groups) - OWN
    return groups[run_id]


def _span(groups, keys, pad=0.25):
    ivs = [iv for k in keys for iv in groups[k]["intervals"]]
    return min(s for s, _ in ivs) - pad, max(e for _, e in ivs) + pad


def _result(executions, calls=(), streaming=()):
    """A child result whose single timed pass spans every pass-1
    execution; pass-0 executions are the cold pass."""
    timed = [ex for ex in executions if ex["pass"] == 1]
    return {
        "passes": [{"pass": 1, "t0": min(ex["t0"] for ex in timed), "t1": max(ex["t2"] for ex in timed)}],
        "executions": executions,
        "calls": list(calls),
        "streaming": list(streaming),
        "session_start_s": 5.0,
        "peak_rss_mb": 100.0,
    }


def test_interval_union_merges_overlaps_and_keeps_gaps():
    assert interval_union([]) == 0.0
    assert interval_union([(0.0, 1.0)]) == 1.0
    # overlapping, nested, touching and disjoint intervals, out of order
    ivs = [(5.0, 6.0), (0.0, 2.0), (1.0, 3.0), (1.5, 1.8), (3.0, 4.0)]
    assert interval_union(ivs) == pytest.approx(4.0 + 1.0)
    # empty and inverted intervals cover nothing
    assert interval_union([(2.0, 2.0), (3.0, 1.0)]) == 0.0


def test_clip_to_query_span():
    assert clip([(0.0, 2.0), (3.0, 5.0), (6.0, 7.0)], 1.0, 4.0) == [(1.0, 2.0), (3.0, 4.0)]


def test_latency_samples_are_the_timed_executions_that_ran():
    result = {
        "passes": [{"pass": 2, "t0": 10.0, "t1": 20.0}, {"pass": 3, "t0": 20.0, "t1": 30.0}],
        "executions": [
            {"query": "a", "pass": 0, "t0": 0.0, "t2": 9.0, "ok": True},  # cold
            {"query": "a", "pass": 1, "t0": 9.0, "t2": 10.0, "ok": True},  # warm-up
            {"query": "a", "pass": 2, "t0": 10.0, "t2": 11.5, "ok": True},
            {"query": "b", "pass": 2, "t0": 11.5, "t2": 14.0, "ok": False},  # raised
            {"query": "a", "pass": 3, "t0": 20.0, "t2": 20.5, "ok": True},
            {"query": "b", "pass": 3, "t0": 20.5, "t2": 23.5, "ok": True},
        ],
    }
    lat = warm_latencies(result)
    assert len(lat) == 3
    assert sorted(lat) == pytest.approx([0.5, 1.5, 3.0])


def test_count_failures_counts_errors_and_mismatches():
    executions = [
        {"ok": True, "match": True},
        {"ok": True, "match": None},  # warm execution: not checked
        {"ok": True, "match": False},  # oracle mismatch
        {"ok": False, "match": None},  # raised
    ]
    assert count_failures(executions) == (4, 2)


def test_fold_recorded_event_log():
    groups = _groups()
    build, action = groups["q|1|build"], groups["q|1|action"]
    assert (build["jobs"], build["stages"], build["tasks"]) == (1, 1, 2)
    assert (action["jobs"], action["stages"], action["tasks"]) == (1, 2, 4)
    assert action["shuffle_write_mb"] > 0 and action["shuffle_read_mb"] > 0
    assert action["task_run_s"] >= 0 and action["task_cpu_s"] > 0
    assert build["first_job_s"] <= build["intervals"][0][0]
    # the streaming query's jobs form their own group, not s|1|build
    stream = _stream_group(groups)
    assert stream["jobs"] >= 1 and stream["stages"] >= 1
    assert "s|1|build" not in groups
    # jobs outside a group (the session's warm-up, the source write)
    # are dropped: the run id is the only group the benchmark did not set
    assert len(set(groups) - OWN) == 1


def test_driver_gap_is_wall_minus_stage_union():
    groups = _groups()
    t0, t2 = _span(groups, ["q|1|build", "q|1|action"])
    t1 = groups["q|1|action"]["intervals"][0][0] - 0.01
    result = _result(
        [
            {"query": "q", "pass": 0, "t0": 0.0, "t1": 0.0, "t2": 0.0, "ok": True},
            {"query": "q", "pass": 1, "t0": t0, "t1": t1, "t2": t2, "ok": True},
        ],
        calls=[
            {"kind": "checkpoints", "t0": t0 + 0.1, "t1": t0 + 0.3},
            {"kind": "checkpoints", "t0": 0.0, "t1": 0.1},  # cold pass: not counted
            {"kind": "stores", "t0": t0 + 0.2, "t1": t0 + 0.4, "mb": 1.5, "files": 3},
        ],
    )
    m = per_layer_metrics(result, groups)
    busy = interval_union(groups["q|1|build"]["intervals"] + groups["q|1|action"]["intervals"])
    assert m["plans.stage_busy_s"] == pytest.approx(busy)
    assert m["plans.driver_gap_s"] == pytest.approx((t2 - t0) - busy)
    assert m["plans.jobs"] == 2 and m["plans.eager_jobs"] == 1
    assert m["plans.build_s"] + m["plans.action_s"] == pytest.approx(t2 - t0)
    assert m["checkpoints.calls"] == 1
    assert m["checkpoints.materialize_s"] == pytest.approx(0.2)
    assert (m["sinks.store_writes"], m["sinks.store_mb"], m["sinks.store_files"]) == (1, 1.5, 3)
    assert m["streaming.batches"] == 0


def test_streaming_jobs_count_toward_the_builder_that_ran_them():
    groups = _groups()
    stream = _stream_group(groups)
    t0 = stream["first_job_s"] - 0.5
    t1 = groups["s|1|action"]["first_job_s"] - 0.001
    _, t2 = _span(groups, ["s|1|action"])
    m = per_layer_metrics(_result([{"query": "s", "pass": 1, "t0": t0, "t1": t1, "t2": t2, "ok": True}]), groups)
    action = groups["s|1|action"]
    assert m["plans.eager_jobs"] == stream["jobs"]
    assert m["plans.jobs"] == stream["jobs"] + action["jobs"]
    assert m["plans.tasks"] == stream["tasks"] + action["tasks"]
    busy = interval_union(clip(stream["intervals"] + action["intervals"], t0, t2))
    assert busy > interval_union(clip(action["intervals"], t0, t2))
    assert m["plans.stage_busy_s"] == pytest.approx(busy)
    assert m["plans.driver_gap_s"] == pytest.approx((t2 - t0) - busy)


def test_eager_jobs_is_zero_when_no_builder_ran_a_job():
    # a builder that ran no job leaves no build group in the log
    groups = {k: g for k, g in _groups().items() if k != "q|1|build"}
    t0, t2 = _span(groups, ["q|1|action"])
    m = per_layer_metrics(_result([{"query": "q", "pass": 1, "t0": t0, "t1": t0, "t2": t2, "ok": True}]), groups)
    assert m["plans.eager_jobs"] == 0
    assert m["plans.jobs"] == 1
    # a query with no job group in the log: every plans.* count is zero
    m = per_layer_metrics(_result([{"query": "z", "pass": 1, "t0": 0.0, "t1": 0.5, "t2": 1.0, "ok": True}]), groups)
    assert (m["plans.eager_jobs"], m["plans.jobs"], m["plans.stages"]) == (0, 0, 0)
    assert m["plans.driver_gap_s"] == pytest.approx(1.0)
