"""Streaming CDC upsert sink: incremental foreachBatch materialization
must converge to exactly the batch snapshot, survive out-of-order
history across batches (tombstones, also through compaction), and
ignore a dead writer's unpublished stage. The retry and checkpoint
binding rules are the shared sink contract
(tests/test_lsm.py::test_index_sink_contract)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_precisely_demo_spark.operators.cdc_apply import (
    apply_cdc_snapshot,
    flatten_envelope,
)
from flink_precisely_demo_spark.operators.lsm import delta_count, index_ok
from flink_precisely_demo_spark.plans.cdc_queries import _envelope_rows
from flink_precisely_demo_spark.sources.cdc_json import decode_envelope
from flink_precisely_demo_spark.sources.parquet import load_table
from flink_precisely_demo_spark.streaming.cdc_upsert import (
    cdc_current_state,
    cdc_upsert_sink,
)
from flink_precisely_demo_spark.streaming.pipeline import drain

SF = "/root/testdata/sf0.001"

PAYLOAD = T.StructType([
    T.StructField("SalesOrderId", T.IntegerType()),
    T.StructField("TotalDue", T.DoubleType()),
    T.StructField("Status", T.IntegerType()),
])


def _change_waves(spark):
    orders = load_table(spark, SF, "orders").filter(F.col("o_orderkey") < 100)
    ins = _envelope_rows(orders, "I", 0, 0.0)
    upd = _envelope_rows(orders.filter(F.col("o_orderkey") % 5 == 0), "U", 1, 1000.0)
    dele = _envelope_rows(orders.filter(F.col("o_orderkey") % 10 == 0), "D", 2, 0.0)
    # out-of-order history: an old (day-1) image of DELETED keys that
    # arrives AFTER the delete — must not resurrect them
    late = _envelope_rows(orders.filter(F.col("o_orderkey") % 10 == 0), "I", 1, 77.0)
    return [ins, upd, dele, late]


def _state_rows(spark, store):
    return sorted(
        (r["SalesOrderId"], r["TotalDue"], r["Status"])
        for r in cdc_current_state(spark, store).collect())


def test_streaming_upsert_converges_to_batch_snapshot(spark, tmp_path):
    waves = _change_waves(spark)
    env_dir, store, ckpt = (str(tmp_path / d) for d in ("env", "store", "ckpt"))

    for i, wave in enumerate(waves):
        wave.select(F.to_json(F.struct(*wave.columns)).alias("value")) \
            .coalesce(1).write.mode("append").text(env_dir)
        stream = decode_envelope(
            spark.readStream.format("text").load(env_dir), PAYLOAD)
        drain(stream, cdc_upsert_sink(store, "SalesOrderId"), ckpt,
              "CDC upsert")

    # each drain ran at least one micro-batch -> multiple generations
    assert delta_count(store) >= 2

    all_changes = waves[0]
    for w in waves[1:]:
        all_changes = all_changes.unionByName(w)
    expected = sorted(
        (r["SalesOrderId"], r["TotalDue"], r["Status"])
        for r in apply_cdc_snapshot(all_changes, "SalesOrderId").collect())
    got = _state_rows(spark, store)
    assert got == expected
    # the deleted keys are really gone despite the late old image
    deleted = {k for (k, _, _) in expected if k % 10 == 0}
    assert deleted == set()
    assert all(k % 10 != 0 for (k, _, _) in got)


def test_upsert_replay_is_idempotent(spark, tmp_path):
    waves = _change_waves(spark)
    store = str(tmp_path / "store")
    sink = cdc_upsert_sink(store, "SalesOrderId")
    sink(waves[0], 0)
    sink(waves[1], 1)
    before = _state_rows(spark, store)
    # a duplicate DELIVERY of old data in a NEW batch is a no-op on
    # the state (latest-wins merge absorbs it)
    sink(waves[0], 2)
    assert _state_rows(spark, store) == before


def test_compaction_keeps_tombstones_and_replay_safe(spark, tmp_path):
    """Compaction folds the generations into one latest-per-key base
    that keeps the delete tombstones: the late old image of a deleted
    key, arriving after the fold, still cannot resurrect it, and a
    retry of the newest batch still no-ops."""
    waves = _change_waves(spark)
    store = str(tmp_path / "store")
    sink = cdc_upsert_sink(store, "SalesOrderId", compact_every=3)
    sink(waves[0], 0)
    sink(waves[1], 1)
    assert delta_count(store) == 2
    sink(waves[2], 2)                    # third generation: folds
    assert delta_count(store) == 0
    base = spark.read.parquet(f"{store}/state")
    assert base.filter(F.col("__manip") == "D").count() == waves[2].count()
    assert base.count() == base.select("__pk").distinct().count()
    sink(waves[3], 3)                    # late images of deleted keys
    state = _state_rows(spark, store)
    assert state and all(k % 10 != 0 for (k, _, _) in state)
    sink(waves[3], 3)                    # retry of the newest batch
    assert delta_count(store) == 1
    assert _state_rows(spark, store) == state


def test_dead_writer_stage_is_invisible(spark, tmp_path):
    """A writer killed mid-publish leaves an unmarked
    ``.stage-<dead pid>-…`` dir holding real part files; readers see
    only published generations, and the next trigger reaps it."""
    waves = _change_waves(spark)
    store = str(tmp_path / "store")
    sink = cdc_upsert_sink(store, "SalesOrderId")
    sink(waves[0], 0)
    sink(waves[1], 1)
    state = _state_rows(spark, store)
    dead = f"{store}/deltas/.stage-999999999-deadbeef"
    # the killed writer had staged batch 2's deletes
    flatten_envelope(waves[2], "SalesOrderId").write.parquet(
        f"{dead}/state")
    assert any(n.startswith("part-") for n in os.listdir(f"{dead}/state"))
    assert index_ok(store) and delta_count(store) == 2
    assert _state_rows(spark, store) == state
    sink(waves[2], 2)
    assert not os.path.exists(dead)
