"""Keyed state on key groups: the one ``applyInPandasWithState`` owner.

Flink keeps keyed state in KEY GROUPS (the reference's
``EnrichmentJoin.java:38-115`` ValueState/ListState sit on them): a
logical key hashes into one of a fixed number of groups, and the
group, not the key, is the unit of scheduling and state layout. This
module does the same for every Python stateful operator
(``sessionize``, ``pattern``, ``funnel``, ``scd2``, ``stateful_join``):

- rows are grouped by ``pmod(hash(key), G)``, so a trigger pays one
  Python call and one Arrow round trip per GROUP, not per key. ``G``
  is fixed when the operator is built: a bounded replay sizes it with
  its state partitions from its input
  (``replay_stage.shuffle_partitions(spark,
  *replay_stage.state_layout(spark, rows))``); outside such a block
  it is four per default partition. Output is the same for any ``G``;
- a group's state is one JSON map, member key -> ``[key_state,
  expiry_ms]``;
- an operator is a pure per-key step,
  ``step(key, rows, key_state, wm_ms) -> (key_state, out_rows,
  expiry_ms)``. ``rows`` is a list of tuples of the operator's
  columns, or None when the key timed out; ``key_state`` is None for
  a key with no state, and a returned None removes the key;
  ``out_rows`` are tuples or dicts in output-schema order;
- event-time timeouts fire exactly as Spark fires them per key: a
  member without rows whose expiry is below the watermark is stepped
  as a timeout in the same call, a step's expiry is clamped to
  ``wm + 1`` (what ``setTimeoutTimestamp`` per key needed), and the
  group is armed at its members' minimum expiry.

Member rows keep the order of the group's input, or a stable sort by
``sort_by`` when the operator defines one.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator, Sequence
from operator import itemgetter

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .replay_stage import scoped_key_groups

_GROUP = "__key_group"
_STATE_SCHEMA = T.StructType([T.StructField("members_json", T.StringType())])

#: ``step(key, rows, key_state, wm_ms) -> (key_state, out_rows, expiry_ms)``
Step = Callable[..., tuple]


def _keys(s: pd.Series, integral: bool) -> list:
    """Key values as Python scalars. A null turns an integral column
    into floats on its way to pandas; map them back, so a key has one
    member entry whatever else shares its batch."""
    if integral and s.dtype.kind == "f":
        return [None if v != v else int(v) for v in s.tolist()]
    return s.tolist()


def fold_group(members: dict, rows: Sequence[tuple], step: Step,
               wm_ms: int | None,
               sort_by: Sequence[int] = ()) -> tuple[list, int | None]:
    """Apply one group call to ``members`` (member key -> ``[key_state,
    expiry_ms]``) in place. Returns the output rows and the group's
    timeout: its members' minimum expiry, or None. ``rows`` are
    ``(key, *cols)`` tuples; ``sort_by`` indexes into ``cols``. With
    ``wm_ms`` None no member ever times out."""
    if sort_by:
        rows = sorted(rows, key=itemgetter(*(1 + i for i in sort_by)))
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r[0], []).append(r[1:])
    out: list = []

    def apply(mk: str, key, key_rows) -> None:
        prev = members.get(mk)
        key_state, emitted, expiry = step(
            key, key_rows, None if prev is None else prev[0], wm_ms)
        out.extend(emitted)
        if key_state is None:
            members.pop(mk, None)
        else:
            members[mk] = [key_state, None if expiry is None
                           else max(expiry, wm_ms + 1)]

    stepped = set()
    for key, key_rows in by_key.items():
        mk = json.dumps(key)
        stepped.add(mk)
        apply(mk, key, key_rows)
    if wm_ms is not None:
        for mk, (_, expiry) in list(members.items()):
            if mk not in stepped and expiry is not None and expiry < wm_ms:
                apply(mk, json.loads(mk), None)
    return out, min((e for _, e in members.values() if e is not None),
                    default=None)


def keyed_state_stream(df: DataFrame, key: str, cols: Sequence[str],
                       step: Step, out_schema: T.StructType,
                       output_mode: str, *, event_time: bool,
                       sort_by: Sequence[str] = ()) -> DataFrame:
    """Run ``step`` per logical key of ``df[key]`` over key groups.

    ``cols`` are the columns a step sees per row. ``event_time``: the
    stream carries a watermark; steps see it and their expiries arm
    event-time timeouts. Without it a step sees ``wm_ms`` None.
    The group count is ``replay_stage.scoped_key_groups``."""
    n_groups = scoped_key_groups(df.sparkSession)
    names = [f.name for f in out_schema.fields]
    ts_cols = [f.name for f in out_schema.fields
               if isinstance(f.dataType, (T.TimestampType,
                                          T.TimestampNTZType))]
    sort_idx = [list(cols).index(c) for c in sort_by]
    integral = isinstance(df.schema[key].dataType, T.IntegralType)

    def fn(_group, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        members = json.loads(state.get[0]) if state.exists else {}
        rows: list[tuple] = []
        for pdf in pdfs:
            rows.extend(zip(_keys(pdf[key], integral),
                            *(pdf[c].tolist() for c in cols)))
        wm_ms = state.getCurrentWatermarkMs() if event_time else None
        out, timeout_ms = fold_group(members, rows, step, wm_ms, sort_idx)
        if members:
            state.update((json.dumps(members),))
            if timeout_ms is not None:
                state.setTimeoutTimestamp(timeout_ms)
        elif state.exists:
            state.remove()
        if out:
            frame = pd.DataFrame(out, columns=names)
            for c in ts_cols:
                frame[c] = pd.to_datetime(frame[c])
            yield frame

    timeout = (GroupStateTimeout.EventTimeTimeout if event_time
               else GroupStateTimeout.NoTimeout)
    return (df.select(F.pmod(F.hash(key), F.lit(n_groups)).alias(_GROUP),
                      key, *cols)
            .groupBy(_GROUP)
            .applyInPandasWithState(fn, out_schema, _STATE_SCHEMA,
                                    output_mode, timeout))


def count_members(spark, checkpoint: str, batch_id: int | None = None) -> int:
    """Logical keys held in a keyed-state query's state after batch
    ``batch_id`` (default: the last committed one). The state store's
    own row count counts key groups."""
    reader = spark.read.format("statestore")
    if batch_id is not None:
        reader = reader.option("batchId", batch_id)
    return sum(len(json.loads(r[0])) for r in reader.load(checkpoint)
               .select("value.groupState.members_json").collect())

