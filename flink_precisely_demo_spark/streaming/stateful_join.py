"""Faithful streaming enrichment join (J1) — arbitrary stateful op.

Reference semantics (EnrichmentJoin.java:38-115, KeyedCoProcessFunction):
per join key,
- dim side: ValueState holding the LATEST dim row (processElement2
  overwrites unconditionally, :65) — kept forever, no TTL;
- fact side: if dim state present, emit joined row immediately
  (:55-57); else append the fact row to ListState (:59);
- when a dim row arrives, flush the buffered facts against it and
  clear the buffer (:66-69);
- no retraction: facts already emitted are never re-joined.

Spark re-expression: Structured Streaming has no two-input keyed
co-process, so the two streams are unioned with a side tag and fed
to the keyed-state kernel (streaming/keyed_state.py) keyed by the
join key. Per key the state holds the latest dim row and the
buffered fact rows (rows as JSON dicts, schema-agnostic); the buffer
is bounded by the first-match flush exactly like the reference's
ListState.

Within one micro-batch the union carries no arrival order across the
two sources, so rows are applied in event-time order (``order_col``),
which is the only order a distributed replay can promise; the
reference's wall-clock arrival order is not reproducible anyway.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .keyed_state import keyed_state_stream


def _join_output_schema(fact: DataFrame, dim: DataFrame, key: str) -> T.StructType:
    """Output = fact columns + dim columns minus the dim's join key
    (EnrichmentJoin.java:78-95 / getProducedType :97-114). Dim columns
    whose names collide with fact columns are also dropped — the
    reference's positional row concat would produce an ambiguous
    schema there; dropping keeps the output well-formed."""
    fields = list(fact.schema.fields)
    taken = {f.name for f in fields} | {key}
    fields += [f for f in dim.schema.fields if f.name not in taken]
    return T.StructType(fields)


def enrich_stream(fact: DataFrame, dim: DataFrame, key: str,
                  order_col: str, dim_order_col: str | None = None,
                  state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming enrichment join of two streaming DataFrames.

    ``fact`` and ``dim`` must share the join key column name ``key``
    (resolve case-mismatch before calling — SURVEY.md §2.1 quirk 1).
    ``order_col`` orders the fact side; ``dim_order_col`` (defaults
    to ``order_col``) orders the dim side — CDC streams each carry
    their own AsOf column.

    ``state_ttl_ms``: the reference keeps dim state forever
    (EnrichmentJoin.java has no TTL) — faithful default. At 100 TB an
    unbounded key space needs bounded state: a TTL expires a key's
    state after that many ms without any activity (processing-time,
    per key); a later fact for an expired key buffers again until the
    dim re-arrives, which is the reference's own cold-start path.
    Expiry is lazy: the last-touch wall clock is stored in state and
    checked on the key's next access — expired state is discarded
    before use. Deterministic join semantics under EVERY trigger,
    including availableNow; an idle key's row lingers physically
    until next touched (or the store's own maintenance), but is
    semantically dead. (A ProcessingTimeTimeout would remove idle
    keys physically, but Spark never terminates an availableNow run
    while processing-time timeouts are pending.)
    """
    out_schema = _join_output_schema(fact, dim, key)
    fact_cols = [f.name for f in fact.schema.fields]
    dim_carry = [c for c in dim.columns if c != key and c not in fact_cols]

    # tagged union: side 0 = dim, side 1 = fact, payload as JSON
    def pack(df: DataFrame, side: int, ord_name: str) -> DataFrame:
        return df.select(
            F.col(key).alias("__key"),
            F.col(ord_name).cast("double").alias("__ord"),
            F.lit(side).alias("__side"),
            F.to_json(F.struct(*df.columns)).alias("__payload"),
        )

    unioned = pack(dim, 0, dim_order_col or order_col) \
        .unionByName(pack(fact, 1, order_col))

    return keyed_state_stream(
        unioned, "__key", ["__ord", "__side", "__payload"],
        lambda k, rows, st, wm_ms: join_step(k, rows, st, wm_ms, dim_carry,
                                             state_ttl_ms),
        out_schema, "append", event_time=False,
        sort_by=["__ord", "__side"])


def join_step(_key, rows: list[tuple], key_state: list | None,
              _wm_ms: None, dim_carry: list[str],
              state_ttl_ms: int | None) -> tuple[list, list[dict], None]:
    """One join key's keyed-state step. ``key_state`` is ``[latest dim
    row, buffered fact rows, wall-clock ms of the key's last activity
    (for the lazy TTL)]``; ``rows`` are ``(__ord, __side, __payload)``
    in event-time order, dim before fact at the same instant."""
    now_ms = int(time.time() * 1000)
    dim_row, buffer, last_touch_ms = key_state or (None, [], None)
    if (state_ttl_ms is not None and last_touch_ms is not None
            and now_ms - last_touch_ms > state_ttl_ms):
        # lazy expiry: the key sat idle past the TTL, so its state is
        # semantically dead — discard before use
        dim_row, buffer = None, []
    buffer = list(buffer)
    out: list[dict] = []

    def emit(fact_row: dict) -> None:
        out.append({**fact_row, **{c: dim_row.get(c) for c in dim_carry}})

    for _ord, side, payload in rows:
        rec = json.loads(payload)
        if side == 0:                     # dim: overwrite latest,
            dim_row = rec                 # flush & clear buffer
            for b in buffer:              # (EnrichmentJoin.java:64-70)
                emit(b)
            buffer = []
        elif dim_row is not None:         # fact (:54-57)
            emit(rec)
        else:                             # (:58-60)
            buffer.append(rec)
    return [dim_row, buffer, now_ms], out, None
