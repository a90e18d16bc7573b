"""Cross-process idempotency for queries that touch catalog or
filesystem state.

The 177-test in-process suite cannot see this bug class: Spark's
default catalog is in-memory per PROCESS, while managed-table
locations, temp feed caches, and index directories persist on DISK.
A scheme that checks only the catalog (r4's `tableExists` +
TRUNCATE sink) passes every in-process test and then dies with
LOCATION_ALREADY_EXISTS in the next process — which is exactly how
the driver runs correctness and bench (separate invocations over the
same repo dir). These tests run each state-touching query in TWO
separate Spark processes; the second run is the assertion.

Covered: ``reference_pipeline_verbatim`` (managed `output` sink —
the r4 regression), ``ddl_entry_pipeline`` (DDL-created source+sink
tables), ``ann_index_topk`` (served index directory under tempdir),
``bucketed_colocated_join`` (bucketed twins re-registered in a fresh
catalog) and the three corpus-copy queries (staged fixtures).
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.001"

_RUNNER = """
import sys
from flink_precisely_demo_spark.session import get_spark
import __spark_entry__ as entry_mod

spark = get_spark("xproc", cpus=4)
qs = entry_mod.queries()
for name in sys.argv[1].split(","):
    n = qs[name](spark, {sf_dir!r}).count()
    print(f"OK {{name}} rows={{n}}")
spark.stop()
""".format(sf_dir=SF_DIR)


def _run_in_fresh_process(query_names: list[str]) -> None:
    proc = subprocess.run(
        [sys.executable, "-c", _RUNNER, ",".join(query_names)],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, (
        f"queries {query_names} failed in a fresh process:\n"
        f"stdout:\n{proc.stdout[-2000:]}\nstderr:\n{proc.stderr[-4000:]}")
    for name in query_names:
        assert f"OK {name}" in proc.stdout


def _fixture_files(path: str) -> list[tuple[str, int]]:
    return sorted((os.path.relpath(os.path.join(root, f), path),
                   os.stat(os.path.join(root, f)).st_mtime_ns)
                  for root, _, files in os.walk(path) for f in files)


@pytest.mark.slow
def test_state_touching_queries_pass_in_two_separate_processes():
    """Process 1 creates the on-disk state (warehouse sink dir, DDL
    table locations, ANN index dir, staged fixtures); process 2 — a
    fresh catalog over the same repo dir — must still pass. Both
    processes run all the queries so each query sees its own prior
    on-disk state. Each staged fixture is one shared dir: no
    per-process copy appears, and process 2 writes no fixture file
    (a bucketed twin is re-registered over the existing files)."""
    import tempfile

    from flink_precisely_demo_spark.operators.lsm import index_ok
    from flink_precisely_demo_spark.plans.queries import fixture_path

    names = ["reference_pipeline_verbatim", "ddl_entry_pipeline",
             "ann_index_topk",
             # the maintained-text-index fixture family: the second
             # process must accept the published positional index +
             # applied-tag manifest as done (never a half-rebuild over
             # live state)
             "search_index_topk", "streaming_search_index_replay",
             "bucketed_colocated_join", "jsonl_corpus_roundtrip",
             "csv_ingest_policy", "orc_corpus_roundtrip"]
    fixtures = {kind: fixture_path(kind, SF_DIR) for kind in (
        "bkt_orders", "bkt_lineitem", "ref_feed", "jsonl_corpus",
        "csv_orders", "orc_corpus")}
    tmp = tempfile.gettempdir()
    before = set(os.listdir(tmp))
    _run_in_fresh_process(names)   # seeds the on-disk state
    seeded = {k: _fixture_files(p) for k, p in fixtures.items()}
    _run_in_fresh_process(names)   # fresh catalog + stale disk: the r4 bug
    new = set(os.listdir(tmp)) - before
    for kind, path in fixtures.items():
        assert index_ok(path), kind
        assert _fixture_files(path) == seeded[kind], kind
        # one dir per fixture kind, whatever process made it
        assert {n for n in new if n.startswith(kind + "_")} <= \
            {os.path.basename(path)}, (kind, sorted(new))


@pytest.mark.slow
def test_streaming_dedup_store_guards_foreign_checkpoint(tmp_path):
    """The near-dup bucket store must FAIL FAST when a second process
    with a fresh checkpoint (batch ids restarting at 0) points at an
    already-populated store — silently ignoring live state would
    re-admit every near-duplicate. Process 1 populates batches 0-2;
    process 2 replays batch 0 legitimately (idempotent overwrite, no
    newer-version conflict is a lie here: batch 2 exists) and must
    raise the documented RuntimeError."""
    store, out = str(tmp_path / "b"), str(tmp_path / "o")
    script = f"""
import sys
from flink_precisely_demo_spark.session import get_spark
from flink_precisely_demo_spark.streaming.streaming_dedup import (
    near_dup_dedup_sink)
spark = get_spark("xproc_dedup", cpus=4)
sink = near_dup_dedup_sink({store!r}, {out!r})
mode = sys.argv[1]
texts = [(i, "tok" + " tok".join(str(i * 31 + j) for j in range(25)))
         for i in range(3)]
if mode == "seed":
    for bid in range(3):
        df = spark.createDataFrame([texts[bid]], "doc_id long, text string")
        sink(df, bid)
    print("SEEDED")
else:
    df = spark.createDataFrame([(9, "fresh words entirely")],
                               "doc_id long, text string")
    try:
        sink(df, 0)     # fresh checkpoint: batch ids restart at 0
        print("NO_GUARD")
    except RuntimeError as e:
        print("GUARDED" if "checkpoint" in str(e) else f"WRONG: {{e}}")
spark.stop()
"""
    for mode, expect in (("seed", "SEEDED"), ("fresh", "GUARDED")):
        proc = subprocess.run(
            [sys.executable, "-c", script, mode],
            cwd=REPO, capture_output=True, text=True, timeout=600)
        assert proc.returncode == 0, proc.stderr[-3000:]
        assert expect in proc.stdout, (mode, proc.stdout[-500:])
