"""The finite-replay harness (streaming/replay_stage.py + the drain in
streaming/pipeline.py): staging, opening and draining a feed, and a
source guard that every replay goes through it."""

from __future__ import annotations

import ast
import os
import pathlib
import time

import pytest
from pyspark.sql.types import StructType

from flink_precisely_demo_spark.streaming.pipeline import drain
from flink_precisely_demo_spark.streaming.replay_stage import (
    open_feed,
    stage_feed,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "flink_precisely_demo_spark"

_ROWS = [(1, "a", 0), (2, "b", 0), (3, "c", 2), (4, "d", 2), (5, "e", 3)]
_SCHEMA = "id long, tag string, b int"       # batch 1 is empty


def _frame(spark):
    return spark.createDataFrame(_ROWS, _SCHEMA)


def test_stage_feed_one_file_per_batch_with_ascending_mtimes(spark, tmp_path):
    d = stage_feed(_frame(spark), str(tmp_path), "feed", "b", 4)
    names = sorted(os.listdir(d))
    assert names == [f"b{k}.parquet" for k in range(4)]
    mtimes = [os.stat(os.path.join(d, f"b{k}.parquet")).st_mtime
              for k in range(4)]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:])), mtimes
    # the empty batch value still gets its (zero-row) trigger file
    counts = [spark.read.parquet(os.path.join(d, f"b{k}.parquet")).count()
              for k in range(4)]
    assert counts == [2, 0, 2, 1]


def test_open_feed_schema_is_frame_minus_batch_column(spark, tmp_path):
    frame = _frame(spark)
    stream = open_feed(spark, stage_feed(frame, str(tmp_path), "feed", "b", 4))
    assert stream.isStreaming
    assert stream.schema == StructType(
        [f for f in frame.schema.fields if f.name != "b"])


def test_value_only_frame_is_staged_as_text(spark, tmp_path):
    frame = spark.createDataFrame(
        [('{"x": 1}', 0), ('{"x": 2}', 1)], "value string, b int")
    d = stage_feed(frame, str(tmp_path), "feed", "b")
    assert sorted(os.listdir(d)) == ["b0.txt", "b1.txt"]
    with open(os.path.join(d, "b1.txt")) as f:
        assert f.read().strip() == '{"x": 2}'
    assert open_feed(spark, d).schema.simpleString() == "struct<value:string>"


def test_two_part_files_in_one_batch_raise(spark, tmp_path):
    """A batch written as two files would silently add a trigger: the
    staging refuses instead (a raise, so ``python -O`` keeps it)."""
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "1")
    try:
        with pytest.raises(RuntimeError, match="feed split precondition"):
            stage_feed(_frame(spark), str(tmp_path), "feed", "b", 4)
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")


def test_drain_runs_one_trigger_per_batch_including_empty(spark, tmp_path):
    feed = stage_feed(_frame(spark), str(tmp_path), "feed", "b", 4)
    seen: dict[int, int] = {}

    def sink(batch, batch_id):
        seen[batch_id] = batch.count()

    drain(open_feed(spark, feed), sink, str(tmp_path / "ckpt"),
          "replay stage test", timeout=120)
    assert sorted(seen) == [0, 1, 2, 3]
    assert [seen[k] for k in range(4)] == [2, 0, 2, 1]


def test_drain_times_out_loudly(spark, tmp_path):
    """A drain still running at its timeout must raise and leave no
    active query behind — never hang until an outer kill."""
    feed = stage_feed(_frame(spark), str(tmp_path), "feed", "b", 4)

    def slow_sink(batch, batch_id):
        time.sleep(3)

    with pytest.raises(TimeoutError):
        drain(open_feed(spark, feed), slow_sink, str(tmp_path / "ckpt"),
              "slow drain", timeout=1)
    assert not spark.streams.active


# ---------------------------------------------------------------------------
# one-owner guard: the replay protocol lives in ONE module
# ---------------------------------------------------------------------------

def _sites(predicate) -> set[tuple[str, str]]:
    """(package-relative file, enclosing top-level def or '<module>')
    of every AST node matching ``predicate``."""
    out = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        for top in tree.body:
            scope = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if predicate(node):
                    out.add((rel, scope))
    return out


def _const(value):
    return lambda n: isinstance(n, ast.Constant) and n.value == value


def _attr(name):
    return lambda n: isinstance(n, ast.Attribute) and n.attr == name


def test_replay_protocol_has_one_owner():
    assert _sites(_const("maxFilesPerTrigger")) == {
        ("streaming/replay_stage.py", "open_feed"),
        # the flagship's own stream open, kept as a parameter
        ("streaming/pipeline.py", "streaming_flagship"),
    }
    assert _sites(_attr("utime")) == {
        ("streaming/replay_stage.py", "stage_feeds")}
    assert _sites(_attr("awaitTermination")) == {
        ("streaming/pipeline.py", "drain_query")}
    assert _sites(_const("spark.sql.shuffle.partitions")) == {
        ("session.py", "get_spark"),
        ("streaming/replay_stage.py", "shuffle_partitions"),
    }


def test_no_unused_local_tempfile_imports():
    unused = []
    for path in sorted(PKG.rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            imports = [n for n in ast.walk(fn) if isinstance(n, ast.Import)
                       and any(a.name == "tempfile" for a in n.names)]
            used = any(isinstance(n, ast.Name) and n.id == "tempfile"
                       for n in ast.walk(fn))
            if imports and not used:
                unused.append(f"{path.relative_to(PKG)}::{fn.name}")
    assert not unused, unused
