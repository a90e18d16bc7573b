"""The keyed-state kernel (streaming/keyed_state.py) without Spark.

``fold_group`` is the whole per-call logic of the kernel. These tests
drive it the way Spark drives a key group: a group is called when it
has rows, or when its armed timeout is below the watermark, and its
member map is JSON round-tripped between calls like the state store
does. Key grouping must not change any operator's results: folding
with G groups gives the same output multiset and per-key state as one
group per key (which is what per-key ``applyInPandasWithState``
computed). A source guard keeps the Spark state API inside the
kernel.
"""

from __future__ import annotations

import ast
import json
from collections import Counter
from pathlib import Path

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_precisely_demo_spark.streaming.funnel import funnel_step
from flink_precisely_demo_spark.streaming.keyed_state import fold_group
from flink_precisely_demo_spark.streaming.pattern import pattern_step
from flink_precisely_demo_spark.streaming.scd2 import scd2_step
from flink_precisely_demo_spark.streaming.sessionize import session_step
from flink_precisely_demo_spark.streaming.stateful_join import join_step

PKG = Path(__file__).resolve().parents[1] / "flink_precisely_demo_spark"
BASE_US = 1_700_000_000_000_000
MIN_US = 60_000_000


def _replay(step, triggers, group_of, sort_by=()):
    """Fold ``triggers`` (lists of ``(wm_ms, rows)``) through key groups
    ``group_of(key)``. Returns (output multiset, member key -> state)."""
    stored: dict = {}    # group -> (members JSON, armed timeout)
    out: Counter = Counter()
    for wm_ms, rows in triggers:
        by_group: dict = {}
        for r in rows:
            by_group.setdefault(group_of(r[0]), []).append(r)
        due = {g for g, (_, arm) in stored.items()
               if wm_ms is not None and arm is not None and arm < wm_ms}
        for g in set(by_group) | due:
            members = json.loads(stored[g][0]) if g in stored else {}
            emitted, arm = fold_group(members, by_group.get(g, []), step,
                                      wm_ms, sort_by)
            out.update(json.dumps(r, sort_keys=True, default=str)
                       for r in emitted)
            if members:
                stored[g] = (json.dumps(members), arm)
            else:
                stored.pop(g, None)
    state = {}
    for members_json, _ in stored.values():
        state.update(json.loads(members_json))
    return out, state


def _assert_group_invariant(step, triggers, sort_by=(), strip=None):
    want_out, want_state = _replay(step, triggers, lambda k: k, sort_by)
    for n_groups in (1, 3, 16):
        got_out, got_state = _replay(step, triggers,
                                     lambda k: hash(k) % n_groups, sort_by)
        if strip:
            got_state = {k: strip(v) for k, v in got_state.items()}
            want = {k: strip(v) for k, v in want_state.items()}
        else:
            want = want_state
        assert got_out == want_out, n_groups
        assert got_state == want, n_groups


def _ts(minute: int) -> pd.Timestamp:
    return pd.Timestamp(BASE_US + minute * MIN_US, unit="us")


# a feed: per trigger, a watermark advance (minutes) and some events
# (key, minute, kind); empty triggers let idle keys time out
_events = st.lists(st.tuples(st.integers(0, 7), st.integers(0, 300),
                             st.integers(0, 3)), max_size=12)
_feeds = st.lists(st.tuples(st.integers(0, 90), _events),
                  min_size=1, max_size=6)


def _event_time_triggers(feed, make_row):
    triggers, wm_min, eid = [], 0, 0
    for advance, events in feed:
        wm_min += advance
        rows = []
        for key, minute, kind in events:
            eid += 1
            rows.append(make_row(key, minute, kind, eid))
        triggers.append(((BASE_US + wm_min * MIN_US) // 1000, rows))
    return triggers


@settings(max_examples=40, deadline=None)
@given(_feeds)
def test_session_step_is_key_group_invariant(feed):
    gap_us = 30 * MIN_US
    _assert_group_invariant(
        lambda k, rows, s, wm: session_step(k, rows, s, wm, gap_us),
        _event_time_triggers(feed, lambda k, m, _, __: (k, _ts(m))))


@settings(max_examples=40, deadline=None)
@given(_feeds)
def test_pattern_step_is_key_group_invariant(feed):
    types = ["view", "click", "purchase", "error"]
    _assert_group_invariant(pattern_step, _event_time_triggers(
        feed, lambda k, m, kind, eid: (k, _ts(m), types[kind], eid)))


@settings(max_examples=40, deadline=None)
@given(_feeds)
def test_funnel_step_is_key_group_invariant(feed):
    types = ["view", "click", "purchase", "error"]
    window_us = 60 * MIN_US
    _assert_group_invariant(
        lambda k, rows, s, wm: funnel_step(k, rows, s, wm, window_us),
        _event_time_triggers(
            feed, lambda k, m, kind, _: (k, _ts(m), types[kind])))


@settings(max_examples=40, deadline=None)
@given(_feeds)
def test_scd2_step_is_key_group_invariant(feed):
    ops = ["I", "U", "U", "D"]
    # per-key log order across triggers is the operator's contract:
    # the change time grows with the arrival index
    triggers = [(None, rows) for _, rows in _event_time_triggers(
        feed, lambda k, _, kind, eid: (k, _ts(eid), eid, kind % 2,
                                        ops[kind], float(eid)))]
    _assert_group_invariant(scd2_step, triggers, sort_by=(0, 1, 2))


@settings(max_examples=40, deadline=None)
@given(_feeds)
def test_join_step_is_key_group_invariant(feed):
    def row(k, minute, kind, eid):
        side = kind % 2       # 0 = dim, 1 = fact
        payload = ({"k": k, "dval": f"d{eid}"} if side == 0
                   else {"k": k, "fval": f"f{eid}"})
        return (k, float(minute), side, json.dumps(payload))

    triggers = [(None, rows) for _, rows in
                _event_time_triggers(feed, row)]
    _assert_group_invariant(
        lambda k, rows, s, wm: join_step(k, rows, s, wm, ["dval"], None),
        triggers, sort_by=(0, 1),
        # the last-touch wall clock differs between runs
        strip=lambda v: [v[0][:2], v[1]])


def test_expired_co_member_times_out_in_a_data_call():
    """Member A gets rows while co-member B's expiry has passed: B is
    stepped as a timeout in the same call (final=true emission, state
    shed to the tombstone), and the group re-arms at the minimum live
    expiry, A's."""
    gap_us = 30 * MIN_US

    def step(k, rows, s, wm):
        return session_step(k, rows, s, wm, gap_us)

    members: dict = {}
    a, b = 1, 2
    out, arm = fold_group(members, [(a, _ts(0)), (b, _ts(0))], step,
                          _ts(0).value // 1_000_000)
    assert len(out) == 2
    assert arm == members["1"][1] == members["2"][1]

    wm_ms = _ts(45).value // 1_000_000      # past B's 00:30 expiry
    out, arm = fold_group(members, [(a, _ts(40))], step, wm_ms)
    assert {r[0] for r in out} == {a, b}
    assert [r[4] for r in out if r[0] == b] == [True], \
        "B finalized by its timeout"
    assert members["2"] == [[[], 2], None], "B left as a tombstone"
    a_expiry = (_ts(40).value // 1000 + gap_us) // 1000 + 1
    assert members["1"][1] == a_expiry
    assert arm == a_expiry, "group re-armed at A's expiry"


def test_unexpired_member_without_rows_is_not_stepped():
    """Spark fires a key's timeout only when it is strictly below the
    watermark: a member whose expiry equals the watermark is left
    alone, and the group stays armed at that expiry."""
    calls = []

    def step(k, rows, s, wm):
        calls.append((k, rows is None))
        return (s or 0) + 1, [], 100

    members = {"7": [1, 100]}
    _, arm = fold_group(members, [], step, 100)
    assert calls == [] and arm == 100
    _, arm = fold_group(members, [], step, 101)
    assert calls == [(7, True)]
    assert members["7"] == [2, 102], "expiry clamped to wm + 1"


def test_spark_state_api_has_one_owner():
    """``applyInPandasWithState`` and ``pyspark.sql.streaming.state``
    are used by the keyed-state kernel only."""
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Attribute)
                    and node.attr == "applyInPandasWithState") or (
                    isinstance(node, ast.ImportFrom)
                    and node.module == "pyspark.sql.streaming.state") or (
                    isinstance(node, ast.Import) and any(
                        a.name.startswith("pyspark.sql.streaming.state")
                        for a in node.names)):
                sites.add(str(path.relative_to(PKG)))
    assert sites == {"streaming/keyed_state.py"}


def test_null_key_keeps_integral_member_keys():
    """A null turns an integral key column into floats in pandas; the
    kernel maps it back so key 7 is member "7" in every batch."""
    from flink_precisely_demo_spark.streaming.keyed_state import _keys

    assert _keys(pd.Series([1.0, float("nan"), 7.0]), True) == [1, None, 7]
    assert _keys(pd.Series([1.5]), False) == [1.5]
