"""Pins the engine watermark semantics the streaming_flagship_replay
oracle encodes (empirically derived this round; a Spark upgrade that
changes them must fail HERE, not as a driver hash mismatch):

1. the late-row filter at batch k uses the LAGGED watermark (max
   event time through batch k-2 minus delay) and compares WINDOW END,
   not row ts — a row for a still-open window is aggregated even when
   its ts is behind the current watermark;
2. eviction/emission uses the CURRENT watermark, and availableNow
   runs a final flush batch, so the emitted set is exactly the
   windows with end <= max(all ts) - delay.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .test_streaming import _staged


def _replay(spark, tmp_path, batches):
    """Drive ``batches`` (one list of (ts, k) pairs per trigger) through
    a 10-minute watermarked tumbling window; returns the emitted
    windows as (start, end) -> sorted keys."""
    from flink_precisely_demo_spark.streaming.pipeline import (
        replay_to_parquet)

    s = (_staged(spark, tmp_path,
                 [[{"ts": ts, "k": k} for ts, k in rows] for rows in batches],
                 "ts string, k string")
         .withWatermark("ts", "10 minutes")
         .groupBy(F.window("ts", "10 minutes"))
         .agg(F.collect_set("k").alias("ks")))
    out = replay_to_parquet(s, spark, "wm_semantics",
                            checkpoint=str(tmp_path / "ck"))
    return {(r["window"]["start"].strftime("%H:%M"),
             r["window"]["end"].strftime("%H:%M")): sorted(r["ks"])
            for r in out.collect()}


def test_late_filter_is_lagged_and_window_end_based(spark, tmp_path):
    got = _replay(spark, tmp_path, [
        # b0: max 00:22:30 -> wm after b0 (the LAG seen by b2) = 00:12:30
        [("2020-01-01 00:22:30", "a")],
        # b1: max 00:35:30 -> current wm at b2 = 00:25:30. b1 itself is
        # filtered against the pre-b0 watermark (-inf): nothing dropped.
        [("2020-01-01 00:35:30", "b"), ("2020-01-01 00:04:00", "b_late")],
        # b2 rows:
        #  drop:  end 00:10 <= lag 00:12:30
        #  disc:  end 00:20 in (lag, current]: LAGGED filter keeps it
        #  keep:  end 00:40 > current
        [("2020-01-01 00:03:00", "drop"), ("2020-01-01 00:14:00", "disc"),
         ("2020-01-01 00:31:00", "keep")],
    ])
    # final wm = 00:35:30 - 10min = 00:25:30 -> emit ends <= that:
    assert got == {
        ("00:00", "00:10"): ["b_late"],   # b1 never filtered
        ("00:10", "00:20"): ["disc"],     # lagged filter kept it
        # [00:20,00:30) end 00:30 > 00:25:30 -> held, not emitted;
        # 'drop' filtered; 'keep'/'a'/'b' windows still open
    }, got


def test_flush_batch_emits_after_last_trigger(spark, tmp_path):
    """availableNow must run the post-data flush batch: the last
    trigger's own max event time closes windows that only it can
    emit."""
    got = _replay(spark, tmp_path, [
        [("2020-01-01 00:02:00", "a")],
        # b1 advances wm to 00:50:30: [00:00,00:10) and its own
        # [00:40,00:50) row close ONLY via the flush batch
        [("2020-01-01 00:41:00", "b"), ("2020-01-01 01:00:30", "c")],
    ])
    assert got == {
        ("00:00", "00:10"): ["a"],
        ("00:40", "00:50"): ["b"],
    }, got
