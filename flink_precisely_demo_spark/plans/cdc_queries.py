"""CDC materialization query: a deterministic I/U/D change stream
synthesized from `orders`, applied to produce current state.

The oracle is ground truth derived directly from the generation rule
(not a re-implementation of the operator) — the strongest form of
differential check:

    every order gets an INSERT at t0;
    keys % 5 == 0 get an UPDATE at t0+1d (TotalDue += 1000);
    keys % 10 == 0 get a DELETE at t0+2d
    => expected state: keys %10==0 absent, %5==0 updated, rest original.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.datetime_fns import format_ts
from ..operators.cdc_apply import apply_cdc_snapshot
from ..scratch import scratch
from ..sources.cdc_json import envelope_columns
from ..sources.parquet import load_table
from ..streaming.pipeline import replay_to_parquet
from ..streaming.replay_stage import (
    feed_rows,
    open_feed,
    shuffle_partitions,
    stage_feed,
    state_layout,
)
from .queries import query


def _envelope_rows(orders: DataFrame, manip, day_shift, total_adj
                   ) -> DataFrame:
    """One change per order: ``manip`` at o_orderdate + ``day_shift``
    days, with TotalDue = o_totalprice + ``total_adj`` (literals, or
    columns of ``orders``), as envelope columns."""
    ts = format_ts(F.col("o_orderdate")
                   + F.make_dt_interval(days=F.lit(day_shift)), 6)
    # bigint, not the reference envelope's INT: the key derives from
    # o_orderkey, which exceeds int32 beyond ~sf5 (caught by the sf10
    # run — ANSI mode aborts on the overflow). INT-schema parity for
    # the real envelope is pinned by cdc_envelope_decode/schemas.py.
    payload = F.struct(
        F.col("o_orderkey").cast("bigint").alias("SalesOrderId"),
        (F.col("o_totalprice") + total_adj).alias("TotalDue"),
        F.lit(5).alias("Status"))
    return orders.select(
        *envelope_columns(F.col("o_orderkey"), ts, payload, manip))


def _change_log(orders: DataFrame) -> DataFrame:
    """The generation rule of the module docstring as envelope rows,
    encoded once over the union of the three change kinds (an encode
    per kind costs about 0.2 s more driver time per query)."""
    key = F.col("o_orderkey")
    kinds = [(orders, "I", 0, 0.0),
             (orders.filter(key % 5 == 0), "U", 1, 1000.0),
             (orders.filter(key % 10 == 0), "D", 2, 0.0)]
    tagged = reduce(DataFrame.unionByName, [
        rows.withColumns({"__m": F.lit(m), "__d": F.lit(d),
                          "__a": F.lit(a)}) for rows, m, d, a in kinds])
    return _envelope_rows(tagged, F.col("__m"), F.col("__d"),
                          F.col("__a"))


@query(
    "cdc_apply_snapshot",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS SalesOrderId,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS TotalDue,
           5 AS Status
    FROM orders
    WHERE o_orderkey % 10 != 0
    """,
)
def _cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apply_cdc_snapshot(
        _change_log(load_table(spark, sf_dir, "orders")), "SalesOrderId")


@query(
    "cdc_state_asof",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT) AS SalesOrderId,
           CASE WHEN o_orderkey % 5 = 0
                 AND o_orderdate + INTERVAL 1 DAY <= TIMESTAMP '1998-06-15'
                THEN o_totalprice + 1000.0
                ELSE o_totalprice END AS TotalDue,
           5 AS Status
    FROM orders
    WHERE o_orderdate <= TIMESTAMP '1998-06-15'
      AND NOT (o_orderkey % 10 = 0
               AND o_orderdate + INTERVAL 2 DAY <= TIMESTAMP '1998-06-15')
    """,
)
def _cdc_state_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the change log: the table state AS OF a global
    cutoff T — filter the envelope stream to ops with op_timestamp <=
    T, then the same latest-per-key materialization. The oracle is
    ground truth from the generation rule again: at T, orders not yet
    inserted are absent, deletes whose day+2 passed are gone, updates
    whose day+1 passed are applied. At 100 TB this is one
    predicate-pushdown filter cheaper than the full snapshot."""
    from ..functions.datetime_fns import parse_ts

    changes = _change_log(load_table(spark, sf_dir, "orders"))
    cutoff = F.lit("1998-06-15 00:00:00").cast("timestamp_ntz")
    asof = changes.filter(
        parse_ts("sv_op_timestamp").cast("timestamp_ntz") <= cutoff)
    return apply_cdc_snapshot(asof, "SalesOrderId")


@query(
    "cdc_history_scd2",
    oracle="""
    WITH ch AS (
      SELECT o_orderkey AS k, o_orderdate AS ts, 'I' AS m,
             o_totalprice AS v
      FROM orders
      UNION ALL
      SELECT o_orderkey, o_orderdate + INTERVAL 1 DAY, 'U',
             o_totalprice + 1000.0
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey, o_orderdate + INTERVAL 2 DAY, 'D', NULL
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    v AS (
      SELECT k, ts, m, v,
             lead(ts) OVER (PARTITION BY k ORDER BY ts) AS valid_to
      FROM ch
    )
    SELECT CAST(k AS BIGINT) AS SalesOrderId,
           v AS TotalDue,
           ts AS valid_from,
           valid_to,
           (valid_to IS NULL) AS is_current
    FROM v WHERE m != 'D'
    """,
)
def _cdc_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history from the change stream: every I/U
    becomes a VERSION row with a [valid_from, valid_to) interval
    (valid_to = the next change's timestamp, NULL while current);
    a D closes the prior version's interval and emits nothing — so a
    deleted key has no current row, and time-travel is a BETWEEN
    predicate instead of a log replay. One key-partitioned window
    (lead over the per-key change sequence), the same shuffle shape
    as cdc_apply_snapshot — scale-safe at 100 TB because state never
    leaves the key partition. The oracle derives the expected
    history straight from the generation rule, not from a
    re-implementation. Version ordering is by op timestamp alone —
    exact for this feed (the generation rule gives each key distinct
    timestamps); a production stream with same-instant changes would
    extend the window ordering with (sv_trans_id,
    sv_trans_row_seq), the reference's own total-order rule."""
    from ..functions.datetime_fns import parse_ts
    from pyspark.sql import Window

    changes = _change_log(load_table(spark, sf_dir, "orders"))

    flat = changes.select(
        F.col("after_image.SalesOrderId").alias("SalesOrderId"),
        F.col("sv_manip_type").alias("m"),
        parse_ts("sv_op_timestamp").cast("timestamp_ntz").alias("ts"),
        F.col("after_image.TotalDue").alias("TotalDue"))
    w = Window.partitionBy("SalesOrderId").orderBy("ts")
    versioned = flat.withColumn("valid_to", F.lead("ts").over(w))
    return versioned.filter(F.col("m") != "D").select(
        "SalesOrderId",
        "TotalDue",
        F.col("ts").alias("valid_from"),
        "valid_to",
        F.col("valid_to").isNull().alias("is_current"))


@query(
    "streaming_scd2_replay",
    oracle="""
    WITH ch AS (
      SELECT o_orderkey % 9973 AS key, o_orderkey AS trans_id,
             CAST(o_orderdate AS TIMESTAMP) AS ts,
             'I' AS m, CAST(o_totalprice AS DOUBLE) AS value
      FROM orders
      UNION ALL
      SELECT o_orderkey % 9973, o_orderkey,
             CAST(o_orderdate + INTERVAL 1 DAY AS TIMESTAMP),
             'U', CAST(o_totalprice AS DOUBLE) + 1000.0
      FROM orders WHERE o_orderkey % 5 = 0
      UNION ALL
      SELECT o_orderkey % 9973, o_orderkey,
             CAST(o_orderdate + INTERVAL 2 DAY AS TIMESTAMP),
             'D', NULL
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    -- the incremental maintainer closes the key's open version at
    -- EVERY later change's ts (U overwrites, D closes without
    -- opening), so the closed-version set is exactly: non-D changes
    -- that have a successor, valid_to = that successor's ts; the
    -- application order per key is (ts, trans_id, row_seq) — the
    -- reference envelope's total-order rule — mirrored here with
    -- the SAME row_seq encoding (I=0, U=1, D=2; raw `m` would sort
    -- D first, the opposite order — harmless only while
    -- (ts, trans_id) stays unique per key, r11 advisory)
    v AS (
      SELECT key, ts, m, value,
             LEAD(ts) OVER (
               PARTITION BY key
               ORDER BY ts, trans_id,
                        CASE m WHEN 'I' THEN 0
                               WHEN 'U' THEN 1 ELSE 2 END) AS valid_to
      FROM ch
    )
    SELECT key, value, ts AS valid_from, valid_to
    FROM v WHERE m <> 'D' AND valid_to IS NOT NULL
    """,
)
def _streaming_scd2_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL SCD2 maintainer (streaming/scd2.py, the
    keyed-state operator that holds one open version per key) driven end to end through Structured Streaming and
    ORACLE-CHECKED — the replay-oracle pattern proved on
    streaming_enrichment_replay, applied to the last stateful
    streaming operator whose semantics rested on pytest alone. The
    same I/U/D generation rule as the batch ``cdc_history_scd2``
    (insert at t0, update at t0+1d for orders %5, delete at t0+2d
    for orders %10), with the state key folded to o_orderkey % 9973
    so several orders' version chains interleave per key, is
    split into 2 trigger files at a global event-time cutoff — a ts
    cutoff preserves per-key log order across triggers, the
    operator's ordering contract — and the emitted stream of CLOSED
    versions is full-hash-compared against a LEAD() window over the
    generation rule. A regression in any state transition
    (open-version overwrite, delete-closes-without-opening,
    cross-trigger state carry) breaks the hash.

    Scale shape: each trigger shuffles only that batch's changes,
    once, on the key; state is one open version per key — the
    minimum any SCD2 maintainer can hold (reference parity:
    EnrichmentJoin.java's ValueState footprint, here for
    version intervals)."""
    from ..streaming.scd2 import scd2_stream

    orders = load_table(spark, sf_dir, "orders")
    # the state key folds to a bounded modulus so several orders'
    # version chains INTERLEAVE on one key (richer transitions than
    # one-chain-per-key: a key's open version is overwritten and
    # closed by changes carrying different trans_ids)
    base = orders.select(
        (F.col("o_orderkey") % 9973).alias("key"),
        F.col("o_orderkey").alias("trans_id"),
        F.col("o_orderdate").cast("timestamp").alias("ts"),
        F.col("o_totalprice").cast("double").alias("value"))
    ins = (base.withColumn("m", F.lit("I"))
           .withColumn("row_seq", F.lit(0)))
    upd = (base.filter(F.col("trans_id") % 5 == 0)
           .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
           .withColumn("value", F.col("value") + 1000.0)
           .withColumn("m", F.lit("U"))
           .withColumn("row_seq", F.lit(1)))
    dele = (base.filter(F.col("trans_id") % 10 == 0)
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 DAY"))
            .withColumn("value", F.lit(None).cast("double"))
            .withColumn("m", F.lit("D"))
            .withColumn("row_seq", F.lit(2)))
    changes = ins.unionByName(upd).unionByName(dele)

    cutoff = F.lit("1995-06-17").cast("timestamp")
    with scratch("stream_scd2_replay_") as work:
        feed = stage_feed(changes, work, "changes",
                          F.when(F.col("ts") < cutoff, 0).otherwise(1))
        with shuffle_partitions(spark, *state_layout(spark, feed_rows(feed))):
            closed = replay_to_parquet(
                scd2_stream(open_feed(spark, feed)),
                spark, "scd2_replay", checkpoint=os.path.join(work, "ckpt"))
    return closed.select(
        "key", "value",
        F.col("valid_from").cast("timestamp_ntz"),
        F.col("valid_to").cast("timestamp_ntz"))


@query(
    "streaming_flagship_replay",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             o_orderdate + to_seconds(CAST(o_orderkey % 599 + 1
                                           AS BIGINT)) AS ts,
             (o_orderkey % 7 = 0) AS straggler
      FROM orders
    ),
    wm AS (
      SELECT (SELECT max(ts) FROM o
              WHERE NOT straggler
                AND ts < TIMESTAMP '1995-06-17 00:00:00')
               - INTERVAL 10 MINUTE AS wm_lag,
             (SELECT max(ts) FROM o) - INTERVAL 10 MINUTE AS wm_final
    ),
    surv AS (
      SELECT o.* FROM o, wm
      WHERE (NOT straggler
             OR make_timestamp((epoch_us(ts) // 600000000 + 1)
                               * 600000000) > wm_lag)
        AND make_timestamp((epoch_us(ts) // 600000000 + 1)
                           * 600000000) <= wm_final
    )
    SELECT make_timestamp((epoch_us(s.ts) // 600000000) * 600000000)
             AS OrderPeriod,
           CAST(SUM(CAST(s.o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
             AS TotalDue,
           r.r_name AS Country,
           n.n_name AS State
    FROM surv s
    JOIN customer c ON s.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 3, 4
    """,
)
def _streaming_flagship_replay(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """The STREAMING flagship — the reference's full §2.1 composition
    (StreamingJob.java:66-135: file-source CDC JSON envelopes ->
    schema decode -> parse_ts event time -> stream-static enrichment
    -> 10-min watermark -> 10-min tumbling SUM, streaming/
    pipeline.streaming_flagship) — driven end-to-end through
    Structured Streaming and ORACLE-CHECKED, including the
    late-data DROP (L1) that batch twins cannot exercise.

    Feed: every order becomes one JSON envelope whose op timestamp is
    o_orderdate jittered by (o_orderkey % 599 + 1) seconds — so no
    watermark ever lands exactly on a 10-minute window boundary and
    strict-vs-inclusive comparisons cannot diverge — split into
    3 mtime-ordered trigger files: pre-cutoff rows, post-cutoff
    rows, and a STRAGGLER wave (orderkey % 7 == 0) arriving last and
    maximally out of order.

    The oracle replays Spark's watermark semantics, pinned
    empirically (three probe runs, this round):
    - the late-row filter at batch k uses the LAGGED watermark
      (max event time through batch k-2, minus delay): batches 0-1
      are never filtered; straggler rows are dropped iff their
      WINDOW END <= wm_lag = max(batch-0 ts) - 10 min (window-end
      comparison, not row-ts — a row in a still-open window is
      aggregated even when its ts is behind the watermark);
    - eviction/emission uses the CURRENT watermark, and availableNow
      runs a final flush batch after the last data trigger, so the
      emitted set is exactly the windows with
      end <= wm_final = max(all ts) - 10 min.

    Scale: the replay IS the production topology — dims broadcast
    (stream side never shuffles for the joins), the one stateful
    shuffle is the windowed aggregation keyed (window, country,
    state), and state is bounded by the watermark: closed windows
    leave the store at eviction, the L1 contract that makes the
    pipeline run forever on an unbounded topic."""
    from ..sources.cdc_json import synthesize_orders_envelope
    from ..streaming.pipeline import streaming_flagship

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")

    ts = F.expr("timestampadd(SECOND, "
                "CAST(o_orderkey % 599 + 1 AS INT), o_orderdate)")
    cutoff = F.lit("1995-06-17 00:00:00").cast("timestamp_ntz")
    batch = (F.when(F.col("o_orderkey") % 7 == 0, F.lit(2))
             .when(ts < cutoff, F.lit(0)).otherwise(F.lit(1)))
    env = synthesize_orders_envelope(orders, ts_col=ts,
                                     extra_cols=[batch.alias("b")])

    # customer plays address, nation⋈region plays states
    # (FIXTURES.md §B role mapping, as in the batch flagship); keys
    # fold through the envelope's INT domain on BOTH sides
    from ..sources.cdc_json import fold_key
    address_dim = customer.select(
        fold_key(F.col("c_custkey")).alias("AddressID"),
        F.col("c_nationkey").alias("StateProvinceID"))
    states_dim = (nation.join(F.broadcast(region),
                              nation["n_regionkey"] == region["r_regionkey"])
                  .select(F.col("n_nationkey").alias("StateProvinceID"),
                          F.col("r_name").alias("CountryRegionCode"),
                          F.col("n_name").alias("Name")))

    with scratch("stream_flagship_replay_") as work:
        feed = stage_feed(env, work, "envelopes", "b", 3)
        out = streaming_flagship(spark, feed, address_dim,
                                 states_dim, max_files_per_trigger=1)
        with shuffle_partitions(spark, *state_layout(spark, feed_rows(feed))):
            res = replay_to_parquet(
                out, spark, "flagship_replay",
                checkpoint=os.path.join(work, "ckpt"))
    return res.select(
        F.col("OrderPeriod").cast("timestamp_ntz").alias("OrderPeriod"),
        "TotalDue", "Country", "State")
