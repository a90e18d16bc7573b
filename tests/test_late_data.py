"""Late-data side output: rows the engine's watermark would drop must
land in the side sink instead of vanishing — and the split must agree
with `withWatermark`'s own drop decisions (same one-batch lag)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from flink_precisely_demo_spark.streaming.late_data import (
    run_with_late_capture,
)
from flink_precisely_demo_spark.streaming.pipeline import run_to_memory

from .test_streaming import _staged

SCHEMA = "user string, ts timestamp, value double"


def _write_jsonl(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _drain(spark, src, dirs):
    stream = spark.readStream.schema(SCHEMA).json(str(src))
    run_with_late_capture(
        stream, "ts", "10 minutes",
        main_dir=str(dirs / "main"), late_dir=str(dirs / "late"),
        state_dir=str(dirs / "state"), checkpoint=str(dirs / "ckpt"))


def test_late_rows_are_captured_not_dropped(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    # batch 1: watermark reaches 10:30
    _write_jsonl(src / "b1.jsonl", [
        {"user": "u1", "ts": "2024-01-01 10:00:00", "value": 1.0},
        {"user": "u1", "ts": "2024-01-01 10:30:00", "value": 2.0},
    ])
    _drain(spark, src, tmp_path)
    # batch 2: 10:15 is within the 10-min lateness of hwm 10:30?
    # threshold = 10:30 - 10:00 = 10:20 -> 10:15 is LATE, 10:25 is not
    _write_jsonl(src / "b2.jsonl", [
        {"user": "u1", "ts": "2024-01-01 10:15:00", "value": 4.0},
        {"user": "u1", "ts": "2024-01-01 10:25:00", "value": 8.0},
        {"user": "u1", "ts": "2024-01-01 11:00:00", "value": 16.0},
    ])
    _drain(spark, src, tmp_path)

    main = {r["value"] for r in
            spark.read.parquet(str(tmp_path / "main")).collect()}
    late = {r["value"] for r in
            spark.read.parquet(str(tmp_path / "late")).collect()}
    assert late == {4.0}
    assert main == {1.0, 2.0, 8.0, 16.0}
    # nothing lost, nothing duplicated
    assert main | late == {1.0, 2.0, 4.0, 8.0, 16.0}


def test_split_agrees_with_engine_watermark_drop(spark, tmp_path):
    """The rows our splitter calls late are exactly the rows a
    watermarked streaming aggregation refuses to count."""
    src = tmp_path / "src"
    src.mkdir()
    _write_jsonl(src / "b1.jsonl", [
        {"user": "u1", "ts": "2024-01-01 10:00:00", "value": 1.0},
        {"user": "u1", "ts": "2024-01-01 10:30:00", "value": 2.0},
    ])
    _write_jsonl(src / "b2.jsonl", [
        {"user": "u1", "ts": "2024-01-01 10:15:00", "value": 4.0},
    ])
    _drain(spark, src, tmp_path)   # both files exist -> ONE batch, no hwm yet

    # second drain with a genuinely later file: 10:05 is far below
    # hwm(10:30) - 10min = 10:20 -> late
    _write_jsonl(src / "b3.jsonl", [
        {"user": "u2", "ts": "2024-01-01 10:05:00", "value": 32.0},
    ])
    _drain(spark, src, tmp_path)
    late = {r["value"] for r in
            spark.read.parquet(str(tmp_path / "late")).collect()}
    assert late == {32.0}

    # engine cross-check: the same arrival pattern into a watermarked
    # window agg (append mode). Spark's late filter lags eviction by
    # one micro-batch (`watermarkForLateEvents` — see
    # test_watermark_late_drop), so the straggler arrives after TWO
    # watermark-advancing batches; the engine then refuses it exactly
    # like our splitter did. (Boundary rows whose window END equals
    # the watermark are kept by the engine's strict eviction; the
    # row-level splitter is the Flink ts<=wm notion and is
    # deliberately conservative there.)
    stream = _staged(spark, tmp_path, [
        [{"user": "u1", "ts": "2024-01-01 10:00:00", "value": 1.0},
         {"user": "u1", "ts": "2024-01-01 10:30:00", "value": 2.0}],
        [{"user": "u1", "ts": "2024-01-01 10:31:00", "value": 16.0}],
        [{"user": "u2", "ts": "2024-01-01 10:05:00", "value": 32.0}],
    ], "user string, ts string, value double")
    agg = (stream.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "10 minutes")).agg(F.sum("value").alias("t")))
    out = run_to_memory(agg, "late_agg", spark, output_mode="append").collect()
    assert all(r["t"] not in (32.0, 33.0) for r in out), out
    by_window = {r["window"]["start"].isoformat(): r["t"] for r in out}
    assert by_window.get("2024-01-01T10:00:00") == 1.0
