"""Late-data side output — the Flink ``sideOutputLateData`` twin.

Spark's watermark silently DROPS rows that arrive later than the
allowed lateness (L1); Flink can divert them to a side output for
auditing/backfill. Structured Streaming has no side outputs, but the
pattern is expressible with ``foreachBatch``: maintain the
event-time high watermark as tiny driver state (a JSON file next to
the checkpoint — rewritten atomically per batch, exactly like the
engine's own watermark commit log), split each micro-batch on
``ts < high_watermark - delay``, and route the two halves to
different sinks.

Semantics note (same one-batch lag as the engine): the high
watermark used for batch N is the max event time seen through batch
N-1, so a row is "late" relative to data that arrived in EARLIER
batches — identical to how Spark advances its own watermark, and
proven against `withWatermark`'s drop behavior in the tests.

Scale: the split is a narrow filter on each micro-batch; the only
driver state is one timestamp. Late rows are typically a trickle, so
the side sink's small-file pressure is bounded by trigger frequency,
not data volume.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .pipeline import drain


def _read_hwm(path: str) -> str | None:
    try:
        with open(path) as f:
            return json.load(f)["high_watermark"]
    except (FileNotFoundError, KeyError, ValueError):
        return None


def _write_hwm(path: str, value: str) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump({"high_watermark": value}, f)
    os.replace(tmp, path)   # atomic on POSIX


def late_data_splitter(ts_col: str, delay: str, main_sink, late_sink,
                       state_dir: str):
    """Returns a ``foreachBatch`` function that routes each batch's
    rows to ``main_sink(df, batch_id)`` or ``late_sink(df, batch_id)``
    by comparing ``ts_col`` against (high watermark − ``delay``).

    ``delay`` is a SQL interval string (e.g. ``'10 minutes'``),
    matching ``withWatermark``'s argument. Sinks are only invoked for
    non-empty halves (emptiness comes from the observed counts, so no
    extra probe jobs run against the sources).
    """
    os.makedirs(state_dir, exist_ok=True)
    hwm_path = os.path.join(state_dir, "high_watermark.json")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        hwm = _read_hwm(hwm_path)
        if hwm is None:
            is_late = F.lit(False)
        else:
            # cast the persisted watermark to the ts column's OWN type:
            # an ntz stream compares ntz-to-ntz (timezone-independent,
            # like the engine's own watermark), an ltz stream ltz-to-ltz
            ts_type = batch_df.schema[ts_col].dataType.simpleString()
            threshold = F.lit(hwm).cast(ts_type) - F.expr(f"INTERVAL {delay}")
            is_late = F.coalesce(F.col(ts_col) < threshold, F.lit(False))
        # One full scan computes the split counts AND the next high
        # watermark as observed metrics of the same job; the sinks then
        # read the cached tag column. No separate max() job, no driver
        # collect, and no per-sink limit(1) existence probes.
        obs = Observation()
        tagged = (batch_df
                  .withColumn("__is_late_row", is_late)
                  .observe(obs,
                           F.max(ts_col).alias("new_max"),
                           F.sum(F.col("__is_late_row").cast("long"))
                            .alias("n_late"),
                           F.count(F.lit(1)).alias("n"))
                  .persist())
        try:
            n_total = tagged.count()   # fires the observation, fills cache
            stats = obs.get
            n_late = stats["n_late"] or 0
            if n_total - n_late > 0:
                main_sink(tagged.filter(~F.col("__is_late_row"))
                                .drop("__is_late_row"), batch_id)
            if n_late > 0:
                late_sink(tagged.filter(F.col("__is_late_row"))
                                .drop("__is_late_row"), batch_id)
            new_max = stats["new_max"]
            if new_max is not None and (hwm is None or str(new_max) > hwm):
                _write_hwm(hwm_path, str(new_max))
        finally:
            tagged.unpersist()
    return apply_batch


def run_with_late_capture(events: DataFrame, ts_col: str, delay: str,
                          main_dir: str, late_dir: str, state_dir: str,
                          checkpoint: str):
    """Drain a streaming DataFrame, writing on-time rows to
    ``main_dir`` and late rows to ``late_dir`` (parquet). Returns the
    StreamingQuery."""
    def _sink(path):
        def write(df: DataFrame, batch_id: int) -> None:
            df.write.mode("append").parquet(path)
        return write

    return drain(events,
                 late_data_splitter(ts_col, delay, _sink(main_dir),
                                    _sink(late_dir), state_dir),
                 checkpoint, "late-data capture")
