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
from flink_precisely_demo_spark.streaming import replay_stage
from flink_precisely_demo_spark.streaming.replay_stage import (
    feed_rows,
    open_feed,
    stage_feed,
    state_layout,
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
# state sizing: one rule, no Spark job
# ---------------------------------------------------------------------------

class _Ctx:
    def __init__(self, cores):
        self.defaultParallelism = cores


class _Session:
    """The one attribute ``state_layout`` reads from a session."""

    def __init__(self, cores):
        self.sparkContext = _Ctx(cores)


@pytest.mark.parametrize("cores", [1, 4, 8, 32, 200])
@pytest.mark.parametrize("stores", [1, 4])
def test_state_layout_is_clamped_monotone_and_grouped(cores, stores):
    spark = _Session(cores)
    prev = 0
    for rows in [0, 1, 2999, 3000, 12000, 50_000, 200_000, 10**6,
                 10**7, 10**9]:
        parts, groups = state_layout(spark, rows, stores)
        assert 1 <= parts <= cores
        assert parts >= prev, (rows, parts, prev)
        assert groups >= 4 * parts and groups >= rows // 2000
        prev = parts


@pytest.mark.parametrize("rows,stores,cores,parts", [
    # streaming_flagship_full's three queries on the cdc_stateful feed
    (2_000, 1, 4, 1), (8_000, 1, 4, 1), (6_000, 1, 4, 1),
    (8_000, 1, 32, 1),
    # enrichment (customer slice + orders) and flagship replays, sf0.1
    (157_500, 1, 8, 7), (150_000, 1, 32, 7),
    # scd2 at sf0.1 stays in its measured best band where cores allow
    (195_000, 1, 8, 8), (195_000, 1, 32, 8), (195_000, 1, 4, 4),
    # session, pattern and funnel (the events table), sf0.1
    (100_000, 1, 4, 4), (100_000, 1, 32, 5),
    # the native join keeps four stores per partition; attribution's
    # clicks + purchases at sf0.1 are ~40k rows, best on 1 partition
    (39_947, 4, 4, 1), (206_000, 4, 8, 4), (206_000, 4, 32, 4),
])
def test_state_layout_calibration_points(rows, stores, cores, parts):
    assert state_layout(_Session(cores), rows, stores)[0] == parts


def test_feed_rows_reads_footers_and_estimates_text(spark, tmp_path):
    d = stage_feed(_frame(spark), str(tmp_path), "feed", "b", 4)
    assert feed_rows(d) == len(_ROWS)

    text = tmp_path / "jsonl"
    (text / "_spark_metadata").mkdir(parents=True)
    (text / "_spark_metadata" / "0").write_text("v1\n" * 1000)
    lines = [f'{{"id": {i}, "tag": "{"x" * (i % 17)}"}}\n'
             for i in range(20_000)]
    (text / "part-0.json").write_text("".join(lines[:12_000]))
    (text / "part-1.json").write_text("".join(lines[12_000:]))
    (text / ".part-1.json.crc").write_bytes(b"\0" * 4096)
    (text / "empty.json").write_text("")
    assert abs(feed_rows(str(text)) - 20_000) < 20_000 * 0.05
    assert feed_rows(d, str(text)) == feed_rows(str(text)) + len(_ROWS)


# ---------------------------------------------------------------------------
# one-owner guard: the replay protocol lives in ONE module
# ---------------------------------------------------------------------------

def _sites(predicate, root=PKG) -> set[tuple[str, str]]:
    """(``root``-relative file, enclosing top-level def or '<module>')
    of every AST node matching ``predicate``."""
    out = set()
    for path in sorted(root.rglob("*.py")):
        rel = str(path.relative_to(root))
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
    # tests stage their streams through the harness too, except a
    # test that adds a file between two runs of one checkpoint (and
    # this guard, which names what it looks for)
    tests = pathlib.Path(__file__).resolve().parent
    assert (_sites(_const("maxFilesPerTrigger"), tests)
            | _sites(_attr("utime"), tests)) == {
        ("test_streaming.py", "test_checkpoint_restart_preserves_state"),
        ("test_replay_stage.py", "test_replay_protocol_has_one_owner"),
    }


def test_state_sizing_has_one_rule():
    """Every replay sizes its state through ``state_layout``: no
    ``shuffle_partitions`` call takes a literal or a private formula,
    the retired sizing helpers are defined nowhere, and no other
    public function of the harness returns a size."""
    calls = []
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.FunctionDef):
                assert node.name not in {"adaptive_key_groups",
                                         "adaptive_join_state_partitions"}
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "shuffle_partitions"):
                calls.append((path.name, node))
    assert calls
    for name, call in calls:
        assert not any(isinstance(a, ast.Constant) and isinstance(a.value, int)
                       for a in call.args), name
        sized = call.args[1:]
        assert (len(sized) == 1 and isinstance(sized[0], ast.Starred)
                and sized[0].value.func.id == "state_layout"), (
            name, ast.unparse(call))
    public = {n for n, v in vars(replay_stage).items()
              if callable(v) and not n.startswith("_")
              and getattr(v, "__module__", None) == replay_stage.__name__}
    assert public == {"feed_rows", "state_layout", "shuffle_partitions",
                      "scoped_key_groups", "stage_feeds", "stage_feed",
                      "open_feed"}


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
