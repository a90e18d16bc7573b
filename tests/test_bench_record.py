"""The bench artifact contract: the driver keeps only the LAST 2000
characters of bench.py's stdout, and the r9 round lost the headline
total and the first four query times to exactly that (the full JSON
line with 41 secondary entries exceeded the capture). The compact
final line must always fit, always parse, and always carry every
headline query, the total, and the streaming rate.
"""

from __future__ import annotations

import ast
import json
import os
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from bench import HEADLINE, compact_line  # noqa: E402


def _fake_result(n_secondary: int = 60, with_errors: bool = False):
    res = {
        "metric": "headline_queries_total",
        "value": 123.456,
        "unit": "sec",
        "queries": {n: 99.999 for n in HEADLINE},
        "secondary_queries": {f"some_secondary_query_name_{i:03d}": 99.999
                              for i in range(n_secondary)},
        "sf": 0.1,
        "load_before": 1.23,
        "load_after": 30.5,
        "cpus": 32,
        "contended": False,
        "streaming_orders_per_sec": 123456.7,
        "streaming_metric": "x" * 300,
    }
    if with_errors:
        res["errors"] = {n: "Boom: " + "y" * 490 for n in HEADLINE}
        res["value_is_partial"] = True
    return res


def test_compact_line_survives_tail_capture():
    for kwargs in ({}, {"n_secondary": 500}, {"with_errors": True}):
        line = compact_line(_fake_result(**kwargs))
        assert len(line) <= 1500
        rec = json.loads(line)
        assert rec["value"] == 123.456
        assert rec["streaming_orders_per_sec"] == 123456.7
        assert set(rec["queries"]) == set(HEADLINE)
        assert rec["metric"] == "headline_queries_total"
        # contention sentinel fields survive the tail capture (r10
        # verdict item 4: a contended run must self-identify)
        assert rec["load_before"] == 1.23
        assert rec["load_after"] == 30.5
        assert rec["contended"] is False


def test_compact_line_flags_partial_totals():
    rec = json.loads(compact_line(_fake_result(with_errors=True)))
    assert rec["value_is_partial"] is True
    assert rec["n_errors"] == len(HEADLINE)


def test_compact_line_is_last_and_detail_is_elsewhere():
    """The compact record points at the detail file instead of
    inlining per-secondary times (which is what blew the capture)."""
    rec = json.loads(compact_line(_fake_result(n_secondary=200)))
    assert "secondary_queries" not in rec
    assert rec["n_secondary"] == 200
    assert rec["detail"] == "BENCH_DETAIL.json"


def test_contention_flag_thresholds():
    """The quarantine rule documented in BASELINE.md: ambient load
    before the run beyond 0.25 x cpus, or any during/after sample
    beyond 1.25 x cpus (our own workers explain up to ~cpus), flags
    the record; missing samples never flag. The second argument is
    the MAX over per-query samples (r11 advisory: a mid-bench
    co-tenant burst must not decay out of a single end-of-run 1-min
    average)."""
    from bench import contention_flag

    assert contention_flag(0.5, 20.0, 32) is False     # quiet host
    assert contention_flag(9.0, 20.0, 32) is True      # ambient before
    assert contention_flag(0.5, 41.0, 32) is True      # co-tenant during
    assert contention_flag(8.0, 40.0, 32) is False     # exactly at bounds
    assert contention_flag(None, None, 32) is False    # no /proc/loadavg
    # a burst that appears in ANY mid-run sample flags via the max,
    # even when the final sample has decayed back under the bound
    samples = [0.5, 52.0, 3.0]                         # burst mid-bench
    peak = max(s for s in samples if s is not None)
    assert contention_flag(0.5, peak, 32) is True
    # hypervisor steal flags even with loadavg quiet throughout (the
    # r15 case: a co-tenant on the HYPERVISOR never shows in this
    # guest's loadavg — only /proc/stat steal sees it)
    assert contention_flag(0.5, 20.0, 32, steal_peak_pct=35.0) is True
    assert contention_flag(0.5, 20.0, 32, steal_peak_pct=4.0) is False
    assert contention_flag(0.5, 20.0, 32, steal_peak_pct=None) is False


def _fake_host(steal_by_window_pcts, secs_per_run=1.0):
    """A deterministic host: each attempt's steal window consumes one
    entry of ``steal_by_window_pcts`` (as its steal percentage); runs
    take ``secs_per_run`` fake seconds on a fake clock."""
    state = {"t": 0.0, "ticks": 0, "steal": 0, "win": 0}

    def clock():
        return state["t"]

    def run_once():
        state["t"] += secs_per_run

    def sampler():
        # the steal charged by call k lands in the interval AFTER it,
        # so attempt j's window (between its two sampler calls) gets
        # steal_by_window_pcts[2*j]; odd indices are the gaps between
        # attempts (unobserved by any window)
        total = state["ticks"]
        steal = state["steal"]
        state["ticks"] += 1000
        i = min(state["win"], len(steal_by_window_pcts) - 1)
        state["steal"] += int(1000 * steal_by_window_pcts[i] / 100.0)
        state["win"] += 1
        return (total, steal)

    return run_once, sampler, clock


def test_measure_steal_proof_clean_window_single_attempt():
    """A clean first window must not trigger any retry (the retry
    path costs a full min-of-2 re-run)."""
    from bench import measure_steal_proof

    run_once, sampler, clock = _fake_host([2.0, 2.0])
    best, steal, attempts = measure_steal_proof(run_once, sampler, clock)
    assert attempts == 1
    assert best == 1.0
    assert steal is not None and steal <= 10.0


def test_measure_steal_proof_retries_dirty_window_and_bounds():
    """A dirty window (>10% steal) must be re-measured — bounded at
    RETRY_MAX_ATTEMPTS — and the recorded steal must be the CLEANEST
    window's (it bounds the residual inflation of the min)."""
    from bench import RETRY_MAX_ATTEMPTS, measure_steal_proof

    # attempt windows at even indices: dirty(40), dirty(25), clean(1)
    run_once, sampler, clock = _fake_host([40.0, 0.0, 25.0, 0.0, 1.0])
    best, steal, attempts = measure_steal_proof(run_once, sampler, clock)
    assert attempts == 3
    assert steal is not None and steal <= 10.0

    # never-clean host: the retry loop must stop at the bound
    run_once, sampler, clock = _fake_host([50.0] * 10)
    best, steal, attempts = measure_steal_proof(run_once, sampler, clock)
    assert attempts == RETRY_MAX_ATTEMPTS
    assert steal is not None and steal > 10.0


def test_measure_steal_proof_no_sampler_is_single_attempt():
    """Hosts without /proc/stat (sampler returns None) must behave
    exactly like the pre-r16 bench: one attempt, steal None."""
    from bench import measure_steal_proof

    t = {"v": 0.0}

    def clock():
        return t["v"]

    def run_once():
        t["v"] += 1.0

    best, steal, attempts = measure_steal_proof(
        run_once, lambda: None, clock)
    assert (best, steal, attempts) == (1.0, None, 1)


def test_steal_window_pct():
    """Steal percentage over a sample window; missing or empty
    windows yield None, never a crash or a zero-division."""
    from bench import cpu_steal_sample, steal_window_pct

    assert steal_window_pct((1000, 10), (2000, 510)) == 50.0
    assert steal_window_pct((1000, 10), (2000, 10)) == 0.0
    assert steal_window_pct(None, (2000, 10)) is None
    assert steal_window_pct((1000, 10), None) is None
    assert steal_window_pct((1000, 10), (1000, 10)) is None  # empty window
    s = cpu_steal_sample()                  # live read on this host
    if s is not None:
        total, steal = s
        assert 0 <= steal <= total


# --- the layer ledger -------------------------------------------------

_FRAGMENTS = os.path.join(_ROOT, "perfbench", "tests", "fragments", "eventlog")


def _fragment_log():
    from perfbench.tracing import parse_event_log, read_event_log

    return parse_event_log(read_event_log(_FRAGMENTS))


def test_layer_record_from_event_log_fragment():
    """A span around job 7 of the checked-in fragment gets that job
    only: stage 13's two tasks, driver self time = span - job length,
    cpu_run_ratio = executor CPU / executor run time."""
    from perfbench.tracing import Spans

    from bench import layer_records

    log = _fragment_log()
    job = log["jobs"][7]
    spans = Spans()
    sid = spans.add("q", "operation", job["submit"] - 0.1, job["end"] + 0.2,
                    None)
    rec = layer_records(spans, log)["q"]
    assert (rec["spark.jobs"], rec["spark.stages"], rec["spark.tasks"]) \
        == (1, 1, 2)
    assert rec["spark.driver_self_s"] == pytest.approx(
        (job["end"] + 0.2) - (job["submit"] - 0.1) - 0.057, abs=1e-3)
    # stage 13: run 3 + 8 ms, CPU 2.908379 + 3.298375 ms
    assert rec["spark.executor_run_s"] == pytest.approx(0.011)
    assert rec["cpu_run_ratio"] == pytest.approx(0.006206754 / 0.011,
                                                 abs=1e-3)
    assert rec["shuffle.spill_bytes"] == 0
    assert set(rec) >= {"spark.gc_s", "shuffle.read_bytes",
                        "shuffle.write_bytes", "python.bytes_to_worker",
                        "python.bytes_from_worker"}
    # no listener (streaming.*, state.*), and the worker-start
    # accumulator is not a per-task duration on a reused worker
    assert not any(k.startswith(("streaming.", "state.")) for k in rec)
    assert "python.worker_start_s" not in rec


def test_layer_record_comes_from_the_fastest_run():
    """An entry with several runs is described by its shortest span:
    the slow run around both jobs loses to the fast one around job 7,
    whichever order they ran in, and each span name is its own entry."""
    from perfbench.tracing import Spans

    from bench import layer_records

    log = _fragment_log()
    j0, j7 = log["jobs"][0], log["jobs"][7]
    slow = ("q", "operation", j0["submit"] - 0.1, j7["end"] + 0.1, None)
    fast = ("q", "operation", j7["submit"] - 0.1, j7["end"] + 0.1, None)
    for runs in ((slow, fast), (fast, slow)):
        spans = Spans()
        for run in runs:
            spans.add(*run)
        spans.add("other", "operation", *slow[2:])
        recs = layer_records(spans, log)
        assert (recs["q"]["spark.jobs"], recs["q"]["spark.tasks"]) == (1, 2)
        assert recs["other"]["spark.jobs"] > 1
    # a run with no job at all records zero executor time, no ratio
    spans = Spans()
    spans.add("q", "operation", j7["end"] + 1, j7["end"] + 2, None)
    rec = layer_records(spans, log)["q"]
    assert rec["spark.jobs"] == 0 and rec["cpu_run_ratio"] is None
    assert rec["spark.driver_self_s"] == pytest.approx(1.0)


def _python_sources():
    for dirpath, dirnames, filenames in os.walk(_ROOT):
        dirnames[:] = [d for d in dirnames
                       if not d.startswith((".", "__")) and d != "spark-warehouse"]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_one_profiler_source_guard():
    """bench.py owns the query list and the timing loop: HEADLINE is
    assigned nowhere else, the retired profiling scripts stay gone, and
    every script that times a query imports ``measure_steal_proof`` or
    the ``Ledger`` whose ``measure`` wraps it."""
    owners = []
    for path in _python_sources():
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target]
                       if isinstance(node, (ast.AnnAssign, ast.AugAssign))
                       else [])
            if any(isinstance(t, ast.Name) and t.id == "HEADLINE"
                   for t in targets):
                owners.append(os.path.relpath(path, _ROOT))
    assert owners == ["bench.py"]

    scripts = os.path.join(_ROOT, "scripts")
    for gone in ("profile_queries.py", "explain_query.py",
                 "scale_trajectory.py"):
        assert not os.path.exists(os.path.join(scripts, gone))
    for name in ("check_and_time.py", "serving_bench.py"):
        with open(os.path.join(scripts, name)) as f:
            tree = ast.parse(f.read())
        assert any(isinstance(n, ast.ImportFrom) and n.module == "bench"
                   and any(a.name in ("measure_steal_proof", "Ledger")
                           for a in n.names)
                   for n in ast.walk(tree)), name
