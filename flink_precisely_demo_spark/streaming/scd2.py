"""Streaming SCD2: incremental dimension-history maintenance.

Batch ``cdc_history_scd2`` (plans/cdc_queries.py) recomputes the
whole version table with a per-key lead() window. A live CDC feed
needs the INCREMENTAL form: as each change arrives, the key's open
version (if any) is closed at the new change's timestamp and emitted
— a closed version is an immutable fact, so emission is append-mode
safe — while the new open version replaces it in keyed state
(I/U open a version; D closes without opening). Spark has no
built-in operator for this (``dropDuplicates``/window aggs cannot
hold "one open interval per key" across triggers), so it is a
keyed-state step, the same shape as the enrichment join port
(streaming/stateful_join.py).

Semantics vs the batch operator: replaying a finite feed and then
flushing the still-open state yields EXACTLY the batch operator's
output — closed versions match rows with ``valid_to IS NOT NULL``,
open state matches the ``is_current`` rows (asserted by
tests/test_streaming.py::test_streaming_scd2_matches_batch).

Ordering contract: a key's changes must arrive in per-key log
order ACROSS triggers (the guarantee a real CDC feed provides — a
key's changes are emitted in commit order, and Kafka preserves
per-partition order). Within one micro-batch, rows are sorted by
(ts, trans_id, row_seq) before applying, so intra-batch arrival
order never matters.

State is one open version per key — the minimum any SCD2 maintainer
can hold — on the keyed-state kernel (streaming/keyed_state.py),
which sorts each key group's rows by (ts, trans_id, row_seq), the
reference envelope's own total-order rule, so cross-batch and
single-batch replays agree.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .keyed_state import keyed_state_stream

SCD2_OUTPUT_SCHEMA = T.StructType([
    T.StructField("key", T.LongType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("valid_from", T.TimestampType()),
    T.StructField("valid_to", T.TimestampType()),
])


def scd2_stream(changes: DataFrame) -> DataFrame:
    """``changes``: streaming DataFrame with columns
    (key long, m string in I/U/D, ts timestamp, value double,
    trans_id long, row_seq int). Returns the stream of CLOSED
    versions (append-safe); open versions live in state until a
    later change closes them (read them back with
    :func:`open_versions_snapshot` semantics in tests, or run the
    batch operator for a point-in-time full table).
    """
    return keyed_state_stream(
        changes, "key", ["ts", "trans_id", "row_seq", "m", "value"],
        scd2_step, SCD2_OUTPUT_SCHEMA, "append", event_time=False,
        sort_by=["ts", "trans_id", "row_seq"])


def scd2_step(key: int, rows: list[tuple], key_state: list | None,
              _wm_ms: None) -> tuple[list | None, list[tuple], None]:
    """One key's keyed-state step over its changes in log order:
    ``key_state`` is the open version ``[ts_iso, value]``; every
    change closes it, and D leaves none open (state removed)."""
    cur = key_state
    out = []
    for ts, _tid, _seq, m, value in rows:
        if cur is not None:
            out.append((key, cur[1], pd.Timestamp(cur[0]), ts))
        cur = None if m == "D" else [ts.isoformat(), float(value)]
    return cur, out, None
