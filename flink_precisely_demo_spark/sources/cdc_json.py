"""Precisely CDC JSON envelope codec (S1/S2).

The reference consumes Kafka topics of JSON CDC records and decodes
them with a schema-driven JSON format (reference
StreamingJob.java:153-203). Here the decode is ``from_json`` against
the declared envelope StructType — identical semantics, and Catalyst
prunes unused envelope fields out of the JSON parse when the query
only touches ``after_image``.

``decode_envelope`` works on ANY DataFrame with a string ``value``
column — a batch DataFrame of JSON lines, or ``spark.readStream
.format("kafka")``'s value column — so batch tests and the streaming
pipeline share one code path.

``envelope_columns`` is the one encoder: it builds the envelope's
columns from the same field list the decode reads
(``schemas._SV_FIELDS``); ``envelope`` wraps them in the struct that
``to_json`` writes. The synthesizers (``synthesize_orders_envelope``
here, the document feed, the reference feeds and the I/U/D change
logs) call them to manufacture reference-shaped CDC rows from the
driver's tables, so the literal reference pipeline can be exercised
without a Kafka broker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.datetime_fns import format_ts
from ..schemas import _SV_FIELDS, envelope_schema

#: The producer's constant envelope fields (every synthetic feed sets
#: them alike); ``envelope_columns`` derives the other six from its
#: arguments.
_SV_LITERALS = {
    "sv_trans_row_seq": 1, "sv_trans_username": "cdcuser",
    "sv_program_name": "demo", "sv_job_name": "job",
    "sv_job_user": "juser", "sv_job_number": "1", "sv_file_member": "m",
    "sv_receiver_library": "lib", "sv_receiver_name": "recv",
}


def envelope_columns(trans_id: Column, ts: Column, payload: Column,
                     manip: str | Column = "I", table: str = "SALES.ORDERS"
                     ) -> list[Column]:
    """The envelope of one change as columns: the 15 sv_* fields in
    declared order, each cast to its declared type, then
    ``after_image``. ``ts`` (a yyyyMMddHHmmss+fraction string) is both
    the transaction and the op timestamp; the journal sequence number
    is ``trans_id`` as a string."""
    cols = {k: F.lit(v) for k, v in _SV_LITERALS.items()}
    cols.update(sv_manip_type=F.lit(manip), sv_trans_id=trans_id,
                sv_sending_table=F.lit(table), sv_trans_timestamp=ts,
                sv_op_timestamp=ts, sv_journal_seqno=trans_id)
    return [cols[f.name].cast(f.dataType).alias(f.name) for f in _SV_FIELDS] \
        + [payload.alias("after_image")]


def envelope(trans_id: Column, ts: Column, payload: Column,
             manip: str | Column = "I", table: str = "SALES.ORDERS"
             ) -> Column:
    """:func:`envelope_columns` as one struct, the shape ``to_json``
    writes."""
    return F.struct(*envelope_columns(trans_id, ts, payload, manip, table))


def decode_envelope(raw: DataFrame, payload_schema: T.StructType) -> DataFrame:
    """JSON ``value`` string -> envelope columns (15 sv_* + after_image
    struct)."""
    schema = envelope_schema(payload_schema)
    return raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("r")
    ).select("r.*")


def flatten_after_image(env: DataFrame, extra: list[str] | None = None) -> DataFrame:
    """P1 projection: unwrap after_image.* to top level (the
    sql/{states,address,orders}.sql projections)."""
    cols = [F.col(f"after_image.{f}") for f in
            env.schema["after_image"].dataType.fieldNames()]
    cols += [F.col(c) for c in (extra or [])]
    return env.select(*cols)


def widen_feed(df: DataFrame) -> DataFrame:
    """Widen a synthetic feed to engine parallelism (never shrinks).

    A real CDC feed is a multi-partition Kafka topic; the synthetic
    stand-in often derives from a single parquet file and arrives as
    1 scan partition, which would serialize the whole to_json +
    from_json codec on one core (measured: 4.8 s of a 9.8 s query at
    sf0.1). On a real many-partition source this is a no-op. Target
    is the full core count — the JSON codec is pure CPU with no
    per-task fixed cost worth amortizing (full width measured 25%
    faster than half width on the verbatim replay).
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = max(8, sc.defaultParallelism)
    # input-file count as the width estimate, falling back to the
    # physical partition count for non-file lineages (see
    # operators/dedup._fan_out for the rationale); a real many-file/
    # many-partition source clears `target` and this is a no-op, the
    # single-parquet-file synthetic case repartitions
    est = len(df.inputFiles())
    if est == 0:
        est = df.rdd.getNumPartitions()
    if est >= target:
        return df
    return df.repartition(target)


#: The reference envelope DDL declares its keys INT
#: (StreamingJob.java orders.sql/address.sql: SalesOrderId,
#: AddressID). Fixture keys are int64 and exceed 2^31 from the sf10
#: scale dataset up (caught there: ANSI Spark aborts on the
#: overflow). The synthesizers — which simulate the upstream CDC
#: producer bound to that INT schema — fold keys into the domain:
#: identity at every oracle-checked SF (max key at sf1 is ~9.1e8),
#: deterministic wrap beyond. Folding is applied to BOTH sides of
#: every key relationship (order.ShipToAddressId and
#: address.AddressID share it), so enrichment joins stay aligned.
KEY_DOMAIN = 1 << 31


def fold_key(col):
    """Fold a 64-bit fixture key into the envelope's INT key domain."""
    return F.pmod(col, F.lit(KEY_DOMAIN)).cast("int")


def synthesize_orders_envelope(orders: DataFrame, ts_col=None,
                               extra_cols=None) -> DataFrame:
    """Build cdc-orders JSON lines from the driver's orders table.

    Deterministic: every envelope field derives from order columns.
    Monetary fields are kept integral (cents as ints scaled back in
    the payload would alter values; instead we reuse o_totalprice
    directly — JSON double round-trips are exact with shortest-repr
    encoders on both sides).

    ``ts_col`` overrides the envelope timestamps (default
    ``o_orderdate``) — the streaming replay jitters sub-day seconds
    in so watermarks never align exactly to a window boundary.
    ``extra_cols`` are appended alongside ``value`` (e.g. a trigger
    assignment for replay staging).
    """
    orders = widen_feed(orders)
    ts_str = format_ts(ts_col if ts_col is not None
                       else F.col("o_orderdate"), 6)
    payload = F.struct(
        fold_key(F.col("o_orderkey")).alias("SalesOrderId"),
        ts_str.alias("OrderDate"),
        ts_str.alias("DueDate"),
        ts_str.alias("ShipDate"),
        F.lit(5).alias("Status"),
        fold_key(F.col("o_custkey")).alias("ShipToAddressId"),
        F.col("o_totalprice").alias("SubTotal"),
        F.lit(0.0).alias("TaxAmt"),
        F.lit(0.0).alias("Freight"),
        F.col("o_totalprice").alias("TotalDue"),
    )
    value = F.to_json(envelope(F.col("o_orderkey"), ts_str, payload))
    return orders.select(value.alias("value"), *(extra_cols or []))
