"""Percentiles, self time and the event-log fold, on a small event log
recorded from a traced multi-site run (two shuffle jobs, their tasks)."""

import json
import os

import numpy as np
import pytest

from tracing import (
    Tracer,
    clipped,
    fold,
    jobs_started,
    percentile,
    read_event_log,
    self_times,
    union_length,
)

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
@pytest.mark.parametrize("xs", [[3.0], [1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0, 9.5, 0.25]])
def test_percentile_matches_numpy(xs, q):
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        percentile([], 50)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == pytest.approx(4.0)
    assert union_length([]) == 0.0
    assert clipped([(0, 2), (3, 4), (8, 9)], 1, 3.5) == [(1, 2), (3, 3.5)]


def test_self_time_subtracts_covered_child_time():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps span 1
        {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # ends after parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 1)  # children cover [1, 6] and [9, 10]
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_parents_nest_per_thread_and_take_explicit_parent():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    with tr.span("other", parent=outer["id"]) as other:
        pass
    assert inner["parent"] == outer["id"] and other["parent"] == outer["id"]
    assert outer["parent"] is None and len(tr.named("in")) == 1


def _raw_events():
    with open(LOG) as fh:
        return [json.loads(line) for line in fh]


def test_event_log_fold_matches_the_recorded_task_metrics():
    raw = _raw_events()
    tasks = [e for e in raw if e["Event"] == "SparkListenerTaskEnd"]
    log = read_event_log(LOG)
    groups = {j["group"] for j in log["jobs"].values()}
    m = fold(log, groups)
    assert m["exec.jobs"] == sum(e["Event"] == "SparkListenerJobStart" for e in raw)
    assert m["exec.tasks"] == len(tasks) > 0
    assert m["exec.stages"] == len({e["Stage ID"] for e in tasks})
    run = sum(e["Task Metrics"]["Executor Run Time"] for e in tasks) / 1e3
    cpu = sum(e["Task Metrics"]["Executor CPU Time"] for e in tasks) / 1e9
    assert m["exec.task_run_s"] == pytest.approx(run)
    assert m["exec.task_cpu_s"] == pytest.approx(cpu)
    assert m["exec.offcpu_s"] == pytest.approx(max(run - cpu, 0.0))
    written = sum(
        e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in tasks
    )
    assert m["shuffle.write_bytes"] == written
    assert m["exec.task_skew"] >= 1.0
    # a group nobody used selects nothing
    assert fold(log, {"no-such-group"})["exec.tasks"] == 0


def test_job_intervals_and_jobs_started_use_submission_time():
    log = read_event_log(LOG)
    job = min(log["jobs"].values(), key=lambda j: j["start"])
    assert job["end"] is not None and job["end"] >= job["start"]
    assert jobs_started(log, job["group"], job["start"], job["start"]) >= 1
    assert jobs_started(log, job["group"], job["start"] - 10, job["start"] - 5) == 0


def test_skew_is_max_over_median_task_time():
    log = {
        "jobs": {0: {"group": "g", "start": 0, "end": 1, "stages": [0]}},
        "tasks": [
            {"job": 0, "stage": 0, "run_s": r, "cpu_s": 0, "gc_s": 0, "spill": 0,
             "read_bytes": 0, "read_rows": 0, "out_bytes": 0, "out_rows": 0,
             "shuffle_read": 0, "fetch_wait_s": 0, "shuffle_write": 0}
            for r in (1.0, 1.0, 2.0, 6.0)
        ],
    }
    assert fold(log, {"g"})["exec.task_skew"] == pytest.approx(6.0 / 1.5)


def test_pct_is_nan_when_no_unit_finished():
    import math

    from run import pct

    assert math.isnan(pct([], 90))
    assert pct([2.0, 4.0], 50) == pytest.approx(3.0)
