"""Streaming first-touch funnel — the streaming twin of the batch
`event_funnel_steps` query (plans/window_queries.py).

Semantics (identical to the batch min-chain): per user,
t1 = earliest 'view'; t2 = earliest 'click' in [t1, t1 + window];
t3 = earliest 'purchase' in [t2, t1 + window]. The min-chain is NOT
monotone under out-of-order arrival — a late earlier view shifts the
whole window backward and may admit clicks that were previously
outside it — so per-user state buffers the relevant timestamps and
the chain is recomputed per micro-batch. Correct-by-construction on
any arrival order: after all data is absorbed the snapshot equals
the batch query (tested on shuffled multi-batch replays).

Bounded state, watermark-driven:
- only the MIN view timestamp is stored (a later view can never
  lower it);
- clicks/purchases above t1 + window are dropped immediately (the
  window endpoint only ever moves down);
- once the watermark passes t1, t1 is FINAL (an earlier view can no
  longer arrive), so clicks/purchases below t1 are evicted — the
  retained lists are bounded by one conversion window of per-user
  activity;
- once the watermark passes min(t3, t1 + window) the funnel is
  FINAL: state collapses to a tombstone so a straggler can never
  reopen the user with a bogus later-view chain.

State per user (on the keyed-state kernel, streaming/keyed_state.py)
is 2 scalars + two window-bounded lists + the tombstone bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .keyed_state import keyed_state_stream

FUNNEL_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("first_view", T.TimestampType()),
    T.StructField("first_click", T.TimestampType()),
    T.StructField("first_purchase", T.TimestampType()),
    T.StructField("funnel_stage", T.IntegerType()),
    T.StructField("n_seen", T.LongType()),
])


def _ts(us: int | None) -> pd.Timestamp | None:
    return None if us is None else pd.Timestamp(us, unit="us")


def funnel_stream(events: DataFrame,
                  window_ms: int = 3_600_000) -> DataFrame:
    """``events``: streaming DataFrame with (user_id long,
    event_type string, ts timestamp). Returns the per-user funnel
    snapshot stream (update mode; the row with the highest
    ``n_seen`` per user is the latest). Attach a watermark on ``ts``
    upstream to activate state eviction and finalization."""
    window_us = window_ms * 1000
    return keyed_state_stream(
        events, "user_id", ["ts", "event_type"],
        lambda uid, rows, st, wm_ms: funnel_step(uid, rows, st, wm_ms,
                                                 window_us),
        FUNNEL_OUTPUT_SCHEMA, "update", event_time=True)


def funnel_step(uid: int, rows: list[tuple], key_state: list | None,
                wm_ms: int, window_us: int) -> tuple[list, list, None]:
    """One user's keyed-state step: ``key_state`` is ``[min_view_us,
    clicks_us, purchases_us, n_seen, done]``, all instants MICROSECONDS
    since epoch (the events feed's native granularity, so the snapshot
    timestamps are bit-equal to the batch query's). Never times out."""
    min_view, clicks, purchases, n_seen, done = \
        key_state or (None, [], [], 0, False)
    if done:
        # finalized tombstone: stragglers cannot reopen the user
        return key_state, [], None

    clicks, purchases = list(clicks), list(purchases)
    for ts, ev in rows:
        t = ts.value // 1_000
        if ev == "view":
            if min_view is None or t < min_view:
                min_view = t
        elif ev == "click":
            clicks.append(t)
        elif ev == "purchase":
            purchases.append(t)
    n_seen += len(rows)

    # recompute the chain from the buffered timestamps (micros)
    t1 = min_view
    t2 = t3 = None
    if t1 is not None:
        end = t1 + window_us
        in_win = [c for c in clicks if t1 <= c <= end]
        t2 = min(in_win) if in_win else None
        if t2 is not None:
            in_win = [p for p in purchases if t2 <= p <= end]
            t3 = min(in_win) if in_win else None

    wm = wm_ms * 1000
    if t1 is not None:
        end = t1 + window_us
        # above the window endpoint: can never qualify (the
        # endpoint only moves down as earlier views arrive)
        clicks = [c for c in clicks if c <= end]
        purchases = [p for p in purchases if p <= end]
        if wm >= t1:
            # t1 is final: nothing below it can matter any more
            clicks = [c for c in clicks if c >= t1]
            purchases = [p for p in purchases if p >= t1]
        final_at = t3 if t3 is not None else end
        done = wm >= final_at

    key_state = ([min_view, [], [], n_seen, True] if done else
                 [min_view, sorted(clicks), sorted(purchases), n_seen,
                  False])
    stage = 3 if t3 is not None else 2 if t2 is not None \
        else 1 if t1 is not None else 0
    return key_state, [(uid, _ts(t1), _ts(t2), _ts(t3), stage,
                        n_seen)], None
