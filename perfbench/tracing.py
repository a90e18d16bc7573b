"""Spans and the per-layer parser.

The benchmark records spans around its own calls into the program
(workload -> phase -> operation); a traced run adds Spark's own
records: a ``StreamingQueryListener`` keeps every trigger's progress,
and the uncompressed event log gives jobs, stages and tasks. Jobs are
attached to the trigger that ran them (by run id and batch id), to the
operation whose job group they carry, or else to the innermost span
that contains their submission. Everything stays in memory and is
written once at the end.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from datetime import datetime


class Spans:
    """In-memory span list; each span carries its parent's id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": parent, "name": name,
                           "kind": kind, "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, kind, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {s["id"]: (s["end"] - s["start"])
                - union_length(kids.get(s["id"], []), s["start"], s["end"])
                for s in self.spans}

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump([{**s, "self_s": selfs[s["id"]]} for s in self.spans], f)


def union_length(intervals, lo: float = float("-inf"),
                 hi: float = float("inf")) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def progress_wall(p: dict) -> tuple[float, float]:
    """(start, end) wall seconds of one trigger's progress record."""
    ts = p["timestamp"].replace("Z", "+00:00")
    start = datetime.fromisoformat(ts).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000


# --- event log ----------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir`` (rolling
    ``eventlog_v2_*`` directories or single files, uncompressed)."""
    paths = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    paths += sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                    if os.path.isfile(p))
    events = []
    for p in paths:
        with open(p) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


def parse_event_log(events: list[dict]) -> dict:
    """Jobs, stages and tasks keyed for attribution."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    tasks: list[dict] = []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "id": e["Job ID"], "submit": e["Submission Time"] / 1000,
                "end": None, "group": props.get("spark.jobGroup.id"),
                "batch": props.get("streaming.sql.batchId"),
                "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])]}
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
            stages[key] = {"id": info["Stage ID"],
                           "start": (info.get("Submission Time") or 0) / 1000,
                           "end": (info.get("Completion Time") or 0) / 1000,
                           "tasks": info.get("Number of Tasks", 0)}
        elif kind == "SparkListenerTaskEnd":
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            acc = {}
            for a in info.get("Accumulables", []):
                name = a.get("Name")
                if name and isinstance(a.get("Update"), (int, float, str)):
                    try:
                        acc[name] = acc.get(name, 0) + float(a["Update"])
                    except ValueError:
                        pass
            tasks.append({
                "stage": e["Stage ID"],
                "start": info["Launch Time"] / 1000,
                "end": info["Finish Time"] / 1000,
                "run_s": m.get("Executor Run Time", 0) / 1000,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1000,
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "acc": acc})
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


# --- per-layer metrics --------------------------------------------

def _acc(tasks, *needles: str) -> float:
    return sum(v for t in tasks for k, v in t["acc"].items()
               if any(n in k.lower() for n in needles))


def attach_jobs(spans: Spans, log: dict, triggers: dict) -> None:
    """Add a span per job (and per stage under it). ``triggers`` maps
    (run id, batch id) to the trigger span's id."""
    by_group = {s["group"]: s["id"] for s in spans.spans if s.get("group")}
    ops = [s for s in spans.spans if s["kind"] in ("phase", "operation")]
    for job in sorted(log["jobs"].values(), key=lambda j: j["id"]):
        end = job["end"] or job["submit"]
        parent = triggers.get((job["group"], job["batch"]))
        if parent is None:
            parent = by_group.get(job["group"])
        if parent is None:
            inside = [s for s in ops if s["start"] <= job["submit"] <= s["end"]]
            parent = max(inside, key=lambda s: s["start"])["id"] if inside else None
        jid = spans.add(f"job {job['id']}", "job", job["submit"], end, parent,
                        job_id=job["id"])
        for (sid, _att), st in log["stages"].items():
            if sid in job["stages"]:
                spans.add(f"stage {sid}", "stage", st["start"], st["end"], jid,
                          tasks=st["tasks"])


def layer_metrics(spans: Spans, log: dict, progress: list[dict],
                  window: tuple[float, float], ops: list[int]) -> dict:
    """Per-layer metrics over the timed window. ``ops`` are the span
    ids of the timed operations (for driver self time)."""
    lo, hi = window
    jobs = [j for j in log["jobs"].values() if lo <= j["submit"] <= hi]
    job_stages = {s for j in jobs for s in j["stages"]}
    stages = [s for (sid, _), s in log["stages"].items() if sid in job_stages]
    tasks = [t for t in log["tasks"] if t["stage"] in job_stages]
    trig = [p for p in progress if lo <= progress_wall(p)[0] <= hi]
    n_trig = max(len(trig), 1)
    dur = lambda k: sum(p["durationMs"].get(k, 0) for p in trig) / 1000 / n_trig
    state = [op for p in trig for op in p.get("stateOperators", [])]
    skews = []
    for s in stages:
        times = [t["end"] - t["start"] for t in tasks if t["stage"] == s["id"]]
        if len(times) >= 2 and statistics.median(times) > 0:
            skews.append(max(times) / statistics.median(times))
    job_spans = [(j["submit"], j["end"] or j["submit"]) for j in jobs]
    driver_self = sum((spans.spans[i]["end"] - spans.spans[i]["start"])
                      - union_length(job_spans, spans.spans[i]["start"],
                                     spans.spans[i]["end"]) for i in ops)
    streaming_jobs = [j for j in jobs if j["batch"] is not None]
    return {
        "streaming.triggers": len(trig),
        "streaming.data_trigger_ratio":
            sum(1 for p in trig if p["numInputRows"] > 0) / n_trig,
        "streaming.trigger_p50_s": statistics.median(
            [p["durationMs"].get("triggerExecution", 0) / 1000 for p in trig] or [0]),
        "streaming.jobs_per_trigger": len(streaming_jobs) / n_trig,
        "streaming.addBatch_s": dur("addBatch"),
        "streaming.queryPlanning_s": dur("queryPlanning"),
        "streaming.walCommit_s": dur("walCommit"),
        "streaming.commitOffsets_s": dur("commitOffsets"),
        "streaming.latestOffset_s": dur("latestOffset"),
        "state.rows_total": max([op.get("numRowsTotal", 0) for op in state] or [0]),
        "state.rows_updated": sum(op.get("numRowsUpdated", 0) for op in state),
        "state.memory_bytes": max([op.get("memoryUsedBytes", 0) for op in state] or [0]),
        "state.update_s": sum(op.get("allUpdatesTimeMs", 0) for op in state) / 1000,
        "state.commit_s": sum(op.get("commitTimeMs", 0) for op in state) / 1000,
        "state.rows_dropped_by_watermark":
            sum(op.get("numRowsDroppedByWatermark", 0) for op in state),
        "state.instances": max([op.get("numStateStoreInstances", 0) for op in state] or [0]),
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t["run_s"] for t in tasks),
        "spark.executor_cpu_s": sum(t["cpu_s"] for t in tasks),
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.task_skew": statistics.median(skews) if skews else 1.0,
        "spark.driver_self_s": driver_self,
        "shuffle.write_bytes": sum(t["shuffle_write"] for t in tasks),
        "shuffle.read_bytes": sum(t["shuffle_read"] for t in tasks),
        "shuffle.spill_bytes": sum(t["spill"] for t in tasks),
        "python.worker_start_s": _acc(tasks, "start python workers",
                                      "initialize python workers") / 1000,
        "python.bytes_to_worker": _acc(tasks, "data sent to python workers"),
        "python.bytes_from_worker": _acc(tasks, "data returned from python workers"),
    }
