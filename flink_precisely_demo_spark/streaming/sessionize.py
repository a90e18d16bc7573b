"""Streaming sessionization — the streaming twin of the batch
`session_window_events` query (plans/window_queries.py).

Semantics (identical to the batch 30-min-gap session windows): a
user's events form one session while consecutive event gaps are
<= the gap; session_end = last event + gap. Out-of-order arrival can
MERGE previously separate sessions — a late event landing between two
sessions within gap of both bridges them — so per-user state holds
the open session intervals and every arriving event either extends a
session, bridges several (their counts add), or opens a new one. The
merge relation is the connected-components closure of the gap graph
over the event multiset, which is arrival-order independent — so
after all data is absorbed the snapshot equals the batch query on
any replay order (tested on shuffled multi-batch replays).

Bounded state, watermark-driven:
- a session whose end + gap is below the watermark is FINAL (no
  event that could extend or bridge it can arrive any more): it is
  emitted one last time and evicted from state;
- live state per user is therefore bounded by the sessions inside
  one watermark horizon, not by history;
- IDLE keys finalize too: the step returns the earliest open
  session's expiry as its event-time timeout, so a user who stops
  sending events still gets the final=true emission and the eviction
  when the watermark passes.

State per user is a short list of (start_us, last_us, n) triples on
the keyed-state kernel (streaming/keyed_state.py). No reference
counterpart — extension scope (SURVEY.md §2.3); the batch twin is the
oracle surface.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .keyed_state import keyed_state_stream

SESSION_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start", T.TimestampType()),
    T.StructField("session_end", T.TimestampType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("final", T.BooleanType()),
    T.StructField("n_seen", T.LongType()),
])


def _absorb(sessions: list[list[int]], t: int, gap_us: int) -> None:
    """Fold event time `t` into the open-session list in place:
    extend/bridge every session within `gap_us`, else insert new."""
    touching = [s for s in sessions
                if s[0] - gap_us <= t <= s[1] + gap_us]
    rest = [s for s in sessions
            if not (s[0] - gap_us <= t <= s[1] + gap_us)]
    if touching:
        start = min(min(s[0] for s in touching), t)
        last = max(max(s[1] for s in touching), t)
        n = sum(s[2] for s in touching) + 1
        rest.append([start, last, n])
    else:
        rest.append([t, t, 1])
    sessions[:] = sorted(rest)


def sessionize_stream(events: DataFrame,
                      gap_ms: int = 1_800_000) -> DataFrame:
    """``events``: streaming DataFrame with (user_id long,
    ts timestamp). Returns the per-user session snapshot stream
    (update mode): every trigger re-emits the user's current open
    sessions plus, once the watermark passes end + gap, a last
    ``final=true`` row before the session leaves state. The row set
    with the highest ``n_seen`` per user is the latest snapshot:
    ``n_seen`` is a per-user MONOTONIC snapshot sequence number
    (advanced by every absorbed event and by every timeout
    finalization, and preserved across full eviction via a tombstone)
    so no two emissions of a user ever share it. Attach a watermark
    on ``ts`` upstream to activate eviction."""
    gap_us = gap_ms * 1000
    return keyed_state_stream(
        events, "user_id", ["ts"],
        lambda uid, rows, st, wm_ms: session_step(uid, rows, st, wm_ms,
                                                  gap_us),
        SESSION_OUTPUT_SCHEMA, "update", event_time=True)


def session_step(uid: int, rows: list[tuple] | None,
                 key_state: list | None, wm_ms: int,
                 gap_us: int) -> tuple[list, list[tuple], int | None]:
    """One user's keyed-state step: ``key_state`` is ``[sessions,
    n_seen]`` with sessions as ``[start_us, last_us, n]`` (micros, the
    feed's native granularity, so snapshot timestamps are bit-equal
    to the batch query's); ``rows`` is None on a timeout."""
    sessions, n_seen = key_state or ([], 0)
    sessions = list(sessions)
    if rows is not None:
        for (ts,) in rows:
            _absorb(sessions, ts.value // 1_000, gap_us)
        n_seen += len(rows)
    else:
        # on timeout the key received no rows, but this emission is
        # still a NEW snapshot (it flips final=false rows to true):
        # bump the sequence number so the max-n_seen dedup downstream
        # selects it instead of keeping both versions (r9 advisory —
        # an unchanged n_seen yielded two contradictory rows for the
        # same (user, n_seen) key)
        n_seen += 1

    wm_us = wm_ms * 1000
    live = [s for s in sessions if s[1] + gap_us >= wm_us]
    # wake this key when its earliest open session can finalize even
    # if the user goes quiet forever (r8 advisory). With no live
    # session the state is a tombstone, NOT a removal: n_seen must
    # survive full eviction or a returning user restarts at 0 and the
    # max-n_seen dedup resurrects stale pre-eviction snapshots (r9
    # advisory). The tombstone arms no timeout, so state stays bounded
    # by n_users — the bound the longevity gate enforces.
    expiry_ms = (min(s[1] + gap_us for s in live) // 1000 + 1
                 if live else None)
    out = [(uid, pd.Timestamp(s[0], unit="us"),
            pd.Timestamp(s[1] + gap_us, unit="us"), s[2],
            s[1] + gap_us < wm_us, n_seen) for s in sessions]
    return [live, n_seen], out, expiry_ms
