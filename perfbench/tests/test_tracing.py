"""Parser tests, pinned on checked-in fragments of a traced
``cdc_stateful`` run: ``fragments/eventlog`` is a rolling event-log
directory cut down to two jobs (the first trigger of a stateful stage
and one benchmark operation) with their stages and two tasks per stage,
and ``fragments/progress.json`` is that trigger's listener progress.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from tracing import (Spans, attach_jobs, layer_metrics, parse_event_log,  # noqa: E402
                     progress_wall, read_event_log, union_length)

RUN_ID = "89577d79-aa93-4167-8a9f-c1527878f03d"


@pytest.fixture(scope="module")
def log():
    return parse_event_log(read_event_log(os.path.join(HERE, "fragments", "eventlog")))


@pytest.fixture(scope="module")
def progress():
    with open(os.path.join(HERE, "fragments", "progress.json")) as f:
        return json.load(f)


def _window(log, progress):
    start, _ = progress_wall(progress)
    return start, max(j["end"] for j in log["jobs"].values())


def test_event_log_jobs_stages_tasks(log):
    assert sorted(log["jobs"]) == [0, 7]
    trigger, op = log["jobs"][0], log["jobs"][7]
    assert (trigger["group"], trigger["batch"], trigger["stages"]) == (RUN_ID, "0", [0, 1])
    assert (op["group"], op["batch"], op["stages"]) == ("perfbench-replay-0", None, [13])
    assert op["end"] - op["submit"] == pytest.approx(0.057, abs=1e-6)
    assert sorted(log["stages"]) == [(0, 0), (1, 0), (13, 0)]
    assert len(log["tasks"]) == 6
    python_task = next(t for t in log["tasks"] if t["stage"] == 1)
    assert python_task["run_s"] == pytest.approx(4.425)
    assert python_task["acc"]["time to start Python workers"] == 1718


def test_progress_wall(progress):
    start, end = progress_wall(progress)
    assert end - start == pytest.approx(9.51)


def test_layer_metrics(log, progress):
    m = layer_metrics(Spans(), log, [progress], _window(log, progress), [])
    assert m["streaming.triggers"] == 1
    assert m["streaming.data_trigger_ratio"] == 1
    assert m["streaming.jobs_per_trigger"] == 1
    assert m["streaming.trigger_p50_s"] == pytest.approx(9.51)
    assert m["streaming.addBatch_s"] == pytest.approx(7.465)
    assert m["streaming.queryPlanning_s"] == pytest.approx(1.341)
    assert m["streaming.walCommit_s"] == pytest.approx(0.065)
    assert m["streaming.commitOffsets_s"] == pytest.approx(0.363)
    assert m["streaming.latestOffset_s"] == pytest.approx(0.152)
    assert m["state.rows_total"] == 50
    assert m["state.rows_updated"] == 50
    assert m["state.memory_bytes"] == 17880
    assert m["state.update_s"] == pytest.approx(15.411)
    assert m["state.commit_s"] == pytest.approx(1.056)
    assert m["state.instances"] == 4
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (2, 3, 6)
    assert m["spark.executor_run_s"] == pytest.approx(9.888)
    assert m["spark.executor_cpu_s"] == pytest.approx(1.540579184)
    assert m["spark.gc_s"] == pytest.approx(0.14)
    # per stage max / median task time: 0.723/0.704, 4.644/4.643, 0.025/0.0215
    assert m["spark.task_skew"] == pytest.approx(0.723 / 0.704)
    assert m["shuffle.write_bytes"] == 12379
    assert m["shuffle.read_bytes"] == 6359
    assert m["shuffle.spill_bytes"] == 0
    # start + initialize, both tasks of stage 1
    assert m["python.worker_start_s"] == pytest.approx((1718 + 1062 + 1750 + 1135) / 1000)
    assert m["python.bytes_from_worker"] == 7952 + 12728


def test_window_excludes_outside_jobs(log, progress):
    start, _ = progress_wall(progress)
    m = layer_metrics(Spans(), log, [progress], (start, start + 10), [])
    assert (m["spark.jobs"], m["spark.stages"]) == (1, 2)


def test_jobs_nest_under_trigger_and_operation(log, progress):
    spans = Spans()
    with spans.span("cdc_stateful", "workload"):
        pass
    root = spans.spans[0]
    root["start"], root["end"] = _window(log, progress)
    start, end = progress_wall(progress)
    trig = spans.add("trigger", "operation", start, end, root["id"])
    job7 = log["jobs"][7]
    op = spans.add("replay 0", "operation", job7["submit"] - 1, job7["end"] + 1,
                   root["id"], group="perfbench-replay-0")
    attach_jobs(spans, log, {(RUN_ID, "0"): trig})

    jobs = {s["job_id"]: s for s in spans.spans if s["kind"] == "job"}
    assert jobs[0]["parent"] == trig
    assert jobs[7]["parent"] == op
    stages = [s for s in spans.spans if s["kind"] == "stage"]
    assert {s["name"]: s["parent"] for s in stages} == {
        "stage 0": jobs[0]["id"], "stage 1": jobs[0]["id"], "stage 13": jobs[7]["id"]}
    # self time: the operation's 2.057 s minus its job's 0.057 s
    assert spans.self_times()[op] == pytest.approx(2.0)
    m = layer_metrics(spans, log, [progress], _window(log, progress), [op])
    assert m["spark.driver_self_s"] == pytest.approx(2.0)


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5) == 2.5
    assert union_length([]) == 0
