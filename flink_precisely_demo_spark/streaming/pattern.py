"""Streaming sequence-pattern matching — the streaming twin of the
batch `event_pattern_match` query (plans/window_queries.py) and the
Spark-native answer to Flink CEP (the reference engine's flagship
library surface).

Patterns are evaluated over EVENT-TIME order while events arrive in
any order, with the textbook watermark-sorted runner:

- events with ``ts`` >= the current watermark wait in a per-user
  buffer (bounded by one watermark horizon of activity — nothing
  else is ever retained);
- once the watermark passes an event's timestamp, no earlier event
  can arrive, so the buffer prefix below the watermark is FINAL: it
  is sorted by (ts, event_id), folded into the pattern automata, and
  discarded. Automaton state is O(1) per user:

  * funnel path ``v .* c .* p``: a 4-state DFA (progress 0-3);
  * error burst ``ee``: previous-consumed-char flag;
  * occurrence counters (events, purchases): plain counters.

- each trigger emits the user's current verdicts as
  consumed-state (+) a non-destructive simulation over the still-
  buffered suffix — so the snapshot always reflects everything seen,
  while committed state stays O(1) + horizon.

After all data is absorbed the snapshot equals the batch
regex-over-encoded-history query on any replay order (the
`streaming_pattern_replay` oracle). Scale shape: one keyed shuffle
per trigger; state per user = 3 ints + 1 char + the horizon buffer.

Idle keys fold too: whenever a buffer is non-empty the step returns
its earliest entry as an event-time timeout, so a user who stops
sending events still has the finalized prefix folded and shed from
state when the watermark passes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .keyed_state import keyed_state_stream

PATTERN_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("has_funnel_path", T.BooleanType()),
    T.StructField("has_error_burst", T.BooleanType()),
    T.StructField("n_purchases", T.LongType()),
    T.StructField("n_seen", T.LongType()),
])

_FUNNEL_NEXT = {0: "v", 1: "c", 2: "p"}


def _advance(stage: int, prev: str, burst: bool,
             chars) -> tuple[int, str, bool]:
    for c in chars:
        if stage < 3 and c == _FUNNEL_NEXT[stage]:
            stage += 1
        if prev == "e" and c == "e":
            burst = True
        prev = c
    return stage, prev, burst


def pattern_stream(events: DataFrame) -> DataFrame:
    """``events``: streaming DataFrame with (user_id long,
    event_type string, ts timestamp) and optionally event_id. Returns
    the per-user pattern snapshot stream (update mode; highest
    ``n_seen`` per user is the latest). Attach a watermark upstream:
    it both bounds the buffer and drives the finalized-prefix fold."""
    cols = ["ts", "event_type"] + (["event_id"] if "event_id" in
                                   events.columns else [])
    return keyed_state_stream(events, "user_id", cols, pattern_step,
                              PATTERN_OUTPUT_SCHEMA, "update",
                              event_time=True)


def pattern_step(uid: int, rows: list[tuple] | None,
                 key_state: list | None,
                 wm_ms: int) -> tuple[list, list[tuple], int | None]:
    """One user's keyed-state step: ``key_state`` is ``[funnel_stage
    (0..3 DFA), prev_char ('' at start), error_burst, n_events,
    n_purchases, buffer]`` with buffer entries ``[us, event_id, c]``;
    ``rows`` are ``(ts, event_type[, event_id])``, None on a timeout."""
    stage, prev, burst, n_events, n_purch, buf = \
        key_state or (0, "", False, 0, 0, [])
    buf = [tuple(b) for b in buf]
    for ts, et, *eid in rows or ():
        c = et[0]
        # event_id may be absent in minimal feeds; the running count
        # is a stable per-arrival id, so sort ties break
        # deterministically for identical timestamps
        buf.append((ts.value // 1_000, eid[0] if eid else n_events, c))
        n_events += 1
        if c == "p":
            n_purch += 1

    wm_us = wm_ms * 1000
    buf.sort()
    final = [b for b in buf if b[0] < wm_us]
    buf = [b for b in buf if b[0] >= wm_us]
    stage, prev, burst = _advance(stage, prev, burst,
                                  (c for _, _, c in final))
    key_state = [stage, prev, burst, n_events, n_purch, buf]
    # wake this key when the watermark passes its earliest buffered
    # event, so an idle user's finalized prefix is folded and shed
    # WITHOUT waiting for another row (r8 advisory); once the buffer
    # is empty the state is the O(1) automaton and needs no timeout
    expiry_ms = buf[0][0] // 1000 + 1 if buf else None
    if rows is None:
        # the fold changed only internal representation, not the
        # reported verdicts (the report already simulates over the
        # buffered suffix) — emit nothing so snapshot rows stay
        # unique per n_seen
        return key_state, [], expiry_ms

    # report = committed automata advanced (non-destructively) over
    # the still-buffered suffix
    r_stage, _, r_burst = _advance(stage, prev, burst,
                                   (c for _, _, c in buf))
    return key_state, [(uid, n_events, r_stage == 3, r_burst, n_purch,
                        n_events)], expiry_ms
