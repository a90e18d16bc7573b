"""Sliding and session window queries (beyond the reference's single
tumbling window — SURVEY.md §2.2 scope additions) with DuckDB
oracles built from explicit window arithmetic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windowed_agg import sum_exact
from ..scratch import scratch
from ..sources.parquet import load_table
from ..streaming.pipeline import replay_to_parquet
from ..streaming.replay_stage import (
    feed_rows,
    open_feed,
    shuffle_partitions,
    stage_feed,
    stage_feeds,
    state_layout,
)
from .queries import query


@query(
    "sliding_window_events",
    oracle="""
    WITH starts AS (
      SELECT *, make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS w_start
      FROM events
      UNION ALL
      SELECT *, make_timestamp((epoch_us(ts) // 300000000) * 300000000
                               - 300000000) AS w_start
      FROM events
    )
    SELECT w_start AS window_start, event_type,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_events
    FROM starts
    GROUP BY 1, 2
    """,
)
def _sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5: each row lands in exactly
    two windows (start = its 5-min bucket, and the one before)."""
    ev = load_table(spark, sf_dir, "events")
    grouped = (ev.groupBy(F.window("ts", "10 minutes", "5 minutes"),
                          "event_type")
                 .agg(sum_exact("value").alias("total_value"),
                      F.count(F.lit(1)).alias("n_events")))
    return grouped.select(
        F.col("window.start").alias("window_start"),
        "event_type", "total_value", "n_events")


@query(
    "session_window_events",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      -- event_id tiebreak: duplicate-ts rows must accumulate in the
      -- same order the session marks were computed in
      SELECT user_id, ts, value,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS session_value
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def _session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window, 30-min gap): window
    end = last event + gap; equivalent to the lag/cumsum
    sessionization but expressed with the built-in operator (which is
    also the streaming-capable form)."""
    ev = load_table(spark, sf_dir, "events")
    grouped = (ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
                 .agg(F.count(F.lit(1)).alias("n_events"),
                      sum_exact("value").alias("session_value")))
    return grouped.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events", "session_value")


_FUNNEL_ORACLE = """
    WITH a AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
      FROM events GROUP BY user_id
    ),
    b AS (
      SELECT e.user_id,
             MIN(CASE WHEN e.event_type = 'click'
                       AND e.ts >= a.t1
                       AND e.ts <= a.t1 + INTERVAL 1 HOUR
                      THEN e.ts END) AS t2
      FROM events e JOIN a ON e.user_id = a.user_id
      GROUP BY e.user_id
    ),
    c AS (
      SELECT e.user_id,
             MIN(CASE WHEN e.event_type = 'purchase'
                       AND e.ts >= b.t2
                       AND e.ts <= a.t1 + INTERVAL 1 HOUR
                      THEN e.ts END) AS t3
      FROM events e
      JOIN a ON e.user_id = a.user_id
      JOIN b ON e.user_id = b.user_id
      GROUP BY e.user_id
    )
    SELECT a.user_id, a.t1 AS first_view, b.t2 AS first_click,
           c.t3 AS first_purchase,
           CAST(CASE WHEN c.t3 IS NOT NULL THEN 3
                     WHEN b.t2 IS NOT NULL THEN 2
                     WHEN a.t1 IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS funnel_stage
    FROM a JOIN b ON a.user_id = b.user_id
           JOIN c ON a.user_id = c.user_id
"""


@query("event_funnel_steps", oracle=_FUNNEL_ORACLE)
def _event_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch conversion funnel (view -> click -> purchase
    within 1 hour of the first view), the classic product-analytics
    shape: per user, the earliest view, the earliest click after it,
    and the earliest purchase after that click — each stage gated by
    the 1-hour conversion window anchored at the first view.

    Scale plan: ONE exchange. The three stage timestamps are chained
    unbounded-window MINs over the same `partitionBy(user_id)` spec,
    so Catalyst plans a single hash exchange feeding three Window
    operators, and the final per-user collapse reuses that
    partitioning (no second shuffle — guarded by the plan test). The
    oracle states the identical semantics as three min-filter CTE
    joins; timestamps are microsecond ntz on both engines so the
    interval comparisons are exact."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events") \
        .select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    hour = F.expr("INTERVAL 1 HOUR")
    e1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view",
                           F.col("ts"))).over(w))
    e2 = e1.withColumn(
        "t2", F.min(F.when((F.col("event_type") == "click")
                           & (F.col("ts") >= F.col("t1"))
                           & (F.col("ts") <= F.col("t1") + hour),
                           F.col("ts"))).over(w))
    e3 = e2.withColumn(
        "t3", F.min(F.when((F.col("event_type") == "purchase")
                           & (F.col("ts") >= F.col("t2"))
                           & (F.col("ts") <= F.col("t1") + hour),
                           F.col("ts"))).over(w))
    per_user = e3.groupBy("user_id").agg(
        F.min("t1").alias("first_view"),
        F.min("t2").alias("first_click"),
        F.min("t3").alias("first_purchase"))
    return per_user.select(
        "user_id", "first_view", "first_click", "first_purchase",
        F.when(F.col("first_purchase").isNotNull(), 3)
         .when(F.col("first_click").isNotNull(), 2)
         .when(F.col("first_view").isNotNull(), 1)
         .otherwise(0).cast("int").alias("funnel_stage"))


@query(
    "skew_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
             AS total_value,
           CAST(MIN(value) AS DOUBLE) AS min_value,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def _skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (operators/skew.py) under the
    oracle gate: events grouped on `event_type` — 5 distinct keys, so
    at 100 TB every reducer hosts a fact-fraction-sized hot key, the
    exact shape AQE's skew handling cannot split (it only splits
    JOINs). The salted form aggregates on (key, salt) first — 16x the
    reducers, map-side combine intact — then merges per key. The
    oracle is the PLAIN group-by: a hash match proves salting is
    result-invariant, which holds because every phase pair is
    algebraic and the value sum stays DECIMAL through the merge
    (decimal addition is exact and associative, so the salt-induced
    regrouping cannot drift; the double cast happens once at the
    output edge)."""
    from ..operators.skew import salted_grouped_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_grouped_agg(
        ev, "event_type",
        aggs=[F.count(F.lit(1)).alias("pc"),
              F.sum(F.col("value").cast("decimal(28,6)")).alias("ps"),
              F.min("value").alias("pmin"),
              F.max("value").alias("pmax")],
        reaggs=[F.sum("pc").cast("long").alias("n_events"),
                F.sum("ps").cast("double").alias("total_value"),
                F.min("pmin").cast("double").alias("min_value"),
                F.max("pmax").cast("double").alias("max_value")],
        n_salts=16)
    return out.select("event_type", "n_events", "total_value",
                      "min_value", "max_value")


@query(
    "skew_salted_join",
    oracle="""
    WITH r AS (
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN 0
                  ELSE o_orderkey END AS k,
             CAST(COUNT(*) AS BIGINT) AS n_ord,
             SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS bucket_due
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0
                  ELSE l_orderkey END AS k,
             l_returnflag, l_quantity
      FROM lineitem
    )
    SELECT l.k = 0 AS is_hot_key, l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l.l_quantity * r.n_ord AS DECIMAL(28,6)))
                AS DOUBLE) AS qty_x_orders,
           -- decimal→double routed through VARCHAR: DuckDB's direct
           -- decimal38→double cast is int128→double then /10^scale
           -- (two roundings — off by one ULP when the scaled value
           -- exceeds 2^53), while Spark's BigDecimal→double is
           -- correctly rounded; strtod parsing is correctly rounded
           -- too, so the string route matches Spark bit-for-bit.
           CAST(CAST(SUM(r.bucket_due) AS VARCHAR) AS DOUBLE)
             AS sum_bucket_due
    FROM l JOIN r ON l.k = r.k
    GROUP BY 1, 2
    """,
)
def _skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted fact-to-fact JOIN under the oracle gate
    (operators/skew.salted_shuffle_join) — the join-side twin of
    ``skew_salted_agg``. A planted hot key (every third orderkey
    folded to 0) concentrates ~1/3 of lineitem on ONE join key; the
    right side — per-key order rollups, one row per key, fact-derived
    so it grows with SF and cannot broadcast at scale — is replicated
    across 16 salts while the fact side salts deterministically on
    (l_orderkey, l_linenumber), so the hot key's rows land on 16
    reducers instead of one. The oracle computes the PLAIN unsalted
    join: the hash match proves salting is result-invariant (every
    replica of a key's row is identical, and the downstream sums stay
    DECIMAL-exact through both routes).

    This is the explicit fallback for skew joins AQE cannot split
    (required output partitioning, stream-side state, AQE off); when
    AQE *can* act, its runtime skew split handles the same plant —
    pinned with the executed-plan assertion in
    tests/test_skew_join.py.

    Scale: fact shuffles once on (k, salt) — same bytes as the plain
    join's key shuffle; the per-key rollup side pays 16x its own
    (much smaller) volume, the standard salting trade. Rollup build
    is safe despite the skewed key: partial aggregation means the
    hot key moves one row per map task, not its raw rows."""
    from ..operators.skew import salted_shuffle_join
    from ..operators.windowed_agg import sum_exact, sum_exact_decimal

    fold = lambda c: (F.when(F.col(c) % 3 == 0, F.lit(0))  # noqa: E731
                      .otherwise(F.col(c)).cast("long"))
    line = load_table(spark, sf_dir, "lineitem").select(
        fold("l_orderkey").alias("k"),
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    # bucket_due stays DECIMAL through the join and the re-sum below:
    # casting sum_exact's double output back to decimal for the second
    # sum was the r13 driver red (double→decimal HALF_UP boundary
    # disagreement between engines) — one rounding site, at the end.
    right = (load_table(spark, sf_dir, "orders")
             .select(fold("o_orderkey").alias("k"), "o_totalprice")
             .groupBy("k")
             .agg(F.count(F.lit(1)).cast("long").alias("n_ord"),
                  sum_exact_decimal("o_totalprice").alias("bucket_due")))
    joined = salted_shuffle_join(line, right, "k",
                                 salt_on=["l_orderkey", "l_linenumber"],
                                 n_salts=16)
    return (joined.groupBy((F.col("k") == 0).alias("is_hot_key"),
                           "l_returnflag")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 sum_exact(F.col("l_quantity") * F.col("n_ord"))
                 .alias("qty_x_orders"),
                 F.sum("bucket_due").cast("double")
                 .alias("sum_bucket_due")))


@query(
    "skew_hotcold_join",
    oracle="""
    WITH r AS (
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN 0
                  ELSE o_orderkey END AS k,
             CAST(COUNT(*) AS BIGINT) AS n_ord
      FROM orders GROUP BY 1
    ),
    l AS (
      SELECT CASE WHEN l_orderkey % 3 = 0 THEN 0
                  ELSE l_orderkey END AS k,
             l_returnflag, l_extendedprice, l_discount
      FROM lineitem
    )
    SELECT l.k = 0 AS is_hot_key, l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           -- VARCHAR route: correctly-rounded decimal→double (DuckDB's
           -- direct cast is off one ULP above 2^53 scaled — r14 sweep)
           CAST(CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                              AS DECIMAL(28,6))) AS VARCHAR)
                AS DOUBLE) AS revenue,
           CAST(SUM(r.n_ord) AS BIGINT) AS sum_n_ord
    FROM l JOIN r ON l.k = r.k
    GROUP BY 1, 2
    """,
)
def _skew_hotcold_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot/cold split join under the oracle gate
    (operators/skew.hot_cold_split_join) — the third skew lever,
    completing the family with ``skew_salted_agg`` (aggregation
    salting) and ``skew_salted_join`` (join salting): the same
    planted hot key (~1/3 of lineitem folded onto key 0) is detected
    by one exact counting pass, its rows join the hot slice of the
    per-key order rollup as a BROADCAST (zero shuffle for the
    heaviest rows), and the cold remainder rides a now-skew-free key
    shuffle. The oracle computes the PLAIN join: the hash match
    proves the split+union is result-invariant.

    Chosen over salting when the hot keys' other-side rows fit in
    memory (always, for a one-row-per-key side: ≤ 1/min_fraction
    rows by the hot-key definition); salting remains the lever when
    the other side is wide per key. Scale: one map-side counting
    scan + one broadcast of ≤100 keys; the cold shuffle moves 2/3 of
    the fact with its worst key removed."""
    from ..operators.skew import hot_cold_split_join
    from ..operators.windowed_agg import sum_exact

    fold = lambda c: (F.when(F.col(c) % 3 == 0, F.lit(0))  # noqa: E731
                      .otherwise(F.col(c)).cast("long"))
    line = load_table(spark, sf_dir, "lineitem").select(
        fold("l_orderkey").alias("k"),
        "l_returnflag", "l_extendedprice", "l_discount")
    right = (load_table(spark, sf_dir, "orders")
             .select(fold("o_orderkey").alias("k"))
             .groupBy("k")
             .agg(F.count(F.lit(1)).cast("long").alias("n_ord")))
    joined = hot_cold_split_join(line, right, "k", min_fraction=0.01)
    return (joined.groupBy((F.col("k") == 0).alias("is_hot_key"),
                           "l_returnflag")
            .agg(F.count(F.lit(1)).cast("long").alias("n_rows"),
                 sum_exact(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))).alias("revenue"),
                 F.sum("n_ord").cast("long").alias("sum_n_ord")))


def _snapshot_replay(spark: SparkSession, ev: DataFrame, batch,
                     name: str, operator) -> DataFrame:
    """Stage ``ev`` as a 3-trigger feed split by ``batch`` and drain
    ``operator`` over it into update-mode snapshots, with the
    watermark held below the feed's range (no event is late) and the
    state sized by ``state_layout``. The parquet drain holds the rows
    outside the scratch dir, so the feed and checkpoint die here."""
    with scratch(f"stream_{name}_") as work:
        feed = stage_feed(ev, work, "feed", batch, 3)
        with shuffle_partitions(spark, *state_layout(spark, feed_rows(feed))):
            return replay_to_parquet(
                operator(open_feed(spark, feed)
                         .withWatermark("ts", "36500 days")),
                spark, name, checkpoint=os.path.join(work, "ckpt"),
                output_mode="update", timeout=300)


@query("streaming_funnel_replay", oracle=_FUNNEL_ORACLE)
def _streaming_funnel_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING funnel (streaming/funnel.py, a
    keyed-state step) driven end-to-end through Structured
    Streaming and batch-compared: the events table becomes a finite
    3-file feed split by event_id (mtime-ordered, one file per
    trigger — each user's events arrive scattered across triggers in
    arbitrary event-time order), drains through `funnel_stream`
    (availableNow, update-mode parquet drain), and each user's LAST
    snapshot must hash-match the batch min-chain oracle. This is the
    external validation that the stateful recompute-under-
    out-of-order design converges to batch semantics on real data;
    the watermark is held below the feed's range so no event is
    dropped and every late-view window shift is exercised."""
    from ..streaming.funnel import funnel_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.col("ts").cast("timestamp"),
        (F.col("event_id") % 3).alias("b"))
    snap = _snapshot_replay(spark, ev, "b", "funnel_replay", funnel_stream)

    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(F.desc("n_seen"))
    return (snap.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("user_id",
                        F.col("first_view").cast("timestamp_ntz"),
                        F.col("first_click").cast("timestamp_ntz"),
                        F.col("first_purchase").cast("timestamp_ntz"),
                        "funnel_stage"))


_SESSION_REPLAY_ORACLE = """
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                       <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions
    GROUP BY user_id, sid
"""


@query("streaming_session_replay", oracle=_SESSION_REPLAY_ORACLE)
def _streaming_session_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING sessionizer (streaming/sessionize.py,
    a keyed-state step) driven end-to-end through Structured
    Streaming and batch-compared: the events table becomes a finite
    3-file feed split by event_id (one file per trigger, so each
    user's events arrive scattered across triggers in arbitrary
    event-time order — every extend/bridge/merge path is exercised),
    drains through `sessionize_stream` (availableNow, update-mode
    parquet drain), and each user's LAST snapshot must hash-match the
    batch lag/cumsum session oracle. External validation that the
    interval-merge state design converges to batch semantics on any
    arrival order; the watermark is held below the feed's range so
    no session finalizes early."""
    from ..streaming.sessionize import sessionize_stream

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp"),
        (F.col("event_id") % 3).alias("b"))
    snap = _snapshot_replay(spark, ev, "b", "session_replay",
                            sessionize_stream)

    from pyspark.sql import Window
    w = Window.partitionBy("user_id")
    return (snap.withColumn("__last", F.max("n_seen").over(w))
                .filter(F.col("n_seen") == F.col("__last"))
                .select("user_id",
                        F.col("session_start").cast("timestamp_ntz"),
                        F.col("session_end").cast("timestamp_ntz"),
                        "n_events"))


@query(
    "event_pattern_match",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           regexp_matches(seq, 'v.*c.*p') AS has_funnel_path,
           regexp_matches(seq, 'e{2}') AS has_error_burst,
           CAST(length(seq) - length(replace(seq, 'p', ''))
                AS BIGINT) AS n_purchases
    FROM seqs
    """,
)
def _event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching (the MATCH_RECOGNIZE / Flink CEP
    shape, reduced to its portable core): each user's event-type
    SEQUENCE — ordered by (ts, event_id), encoded one char per event
    — is matched against regex patterns: an ordered view->click->
    purchase path anywhere in the history and an immediate error-error
    burst. Encoding the ordered history as a string turns CEP
    patterns into ordinary regexes, which both engines evaluate
    identically. Plan: one shuffle on user_id; per-user state is the
    bounded activity string (same bound as any per-user CEP state);
    matching is a scan-stage regex over the aggregated rows.
    Event-type initials are unique in this domain (view/click/
    purchase/signup/error -> v/c/p/s/e)."""
    ev = load_table(spark, sf_dir, "events")
    seqs = (ev.groupBy("user_id")
              .agg(F.concat_ws("", F.transform(
                  F.array_sort(F.collect_list(F.struct(
                      "ts", "event_id",
                      F.substring("event_type", 1, 1).alias("c")))),
                  lambda s: s["c"])).alias("seq")))
    return seqs.select(
        "user_id",
        F.length("seq").cast("long").alias("n_events"),
        F.col("seq").rlike("v.*c.*p").alias("has_funnel_path"),
        F.col("seq").rlike("e{2}").alias("has_error_burst"),
        (F.length("seq")
         - F.length(F.regexp_replace("seq", "p", "")))
        .cast("long").alias("n_purchases"))


@query(
    "streaming_pattern_replay",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(substring(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS seq
      FROM events
      GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS BIGINT) AS n_events,
           regexp_matches(seq, 'v.*c.*p') AS has_funnel_path,
           regexp_matches(seq, 'e{2}') AS has_error_burst,
           CAST(length(seq) - length(replace(seq, 'p', ''))
                AS BIGINT) AS n_purchases
    FROM seqs
    """,
)
def _streaming_pattern_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING pattern matcher (streaming/pattern.py — the
    watermark-sorted CEP runner with O(1) automaton state) driven
    end-to-end through Structured Streaming: the events table becomes
    a 3-file feed split by event_id (each user's events arrive
    scattered across triggers in arbitrary event-time order), drains
    through `pattern_stream` (availableNow, update-mode parquet drain),
    and each user's LAST snapshot must hash-match the batch
    regex-over-encoded-history oracle — external validation that the
    buffered-suffix simulation converges to batch semantics on any
    arrival order. The watermark is held below the feed's range here;
    the finalize-and-fold path (buffer -> DFA consumption) is
    exercised by the unit tests with a real advancing watermark."""
    from ..streaming.pattern import pattern_stream

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("timestamp"))
    snap = _snapshot_replay(spark, ev, F.col("event_id") % 3,
                            "pattern_replay", pattern_stream)

    from pyspark.sql import Window
    w = Window.partitionBy("user_id")
    return (snap.withColumn("__last", F.max("n_seen").over(w))
                .filter(F.col("n_seen") == F.col("__last"))
                .select("user_id", "n_events", "has_funnel_path",
                        "has_error_burst", "n_purchases"))


@query(
    "streaming_attribution_replay",
    oracle="""
    WITH c AS (
      SELECT user_id, ts AS click_ts FROM events
      WHERE event_type = 'click'
    ),
    p AS (
      SELECT user_id, ts AS purchase_ts FROM events
      WHERE event_type = 'purchase'
    ),
    wm AS (
      SELECT least((SELECT MAX(ts) FROM events WHERE event_type = 'click'),
                   (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'))
             - INTERVAL 1 MINUTE AS w
    ),
    j AS (
      SELECT c.user_id, c.click_ts, p.purchase_ts
      FROM c LEFT JOIN p
        ON c.user_id = p.user_id
       AND p.purchase_ts >= c.click_ts
       AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    )
    SELECT j.user_id, j.click_ts, j.purchase_ts,
           CASE WHEN j.purchase_ts IS NULL THEN NULL
                ELSE (epoch_us(j.purchase_ts) - epoch_us(j.click_ts))
                     / 1000000.0 END AS lag_seconds,
           j.purchase_ts IS NOT NULL AS converted
    FROM j CROSS JOIN wm
    WHERE j.purchase_ts IS NOT NULL
       OR j.click_ts + INTERVAL 1 HOUR < wm.w
    """,
)
def _streaming_attribution_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NATIVE stream-stream LEFT OUTER interval join
    (streaming/pipeline.py::stream_interval_join_outer) driven end to
    end and batch-compared: clicks and purchases from the events
    table stream in as two 2-file feeds with REAL 1-minute
    watermarks, and the outer join's output — matched attribution
    pairs plus null-padded misses emitted at state-eviction time —
    must hash-match the batch LEFT JOIN restricted to provable rows:
    a miss row exists iff the final engine watermark
    (min of the two sources' max ts, minus the delay) passed
    click_ts + window, which is exactly the eviction condition. The
    oracle reproduces that boundary, so this row set pins BOTH join
    semantics and the engine's eviction/emission timing. External
    validation that the churn/abandonment shape is safe to build on:
    state is engine-bounded by the two watermarks, no custom state
    code."""
    from ..streaming.pipeline import stream_interval_join_outer

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", F.col("ts").cast("timestamp"),
        (F.col("event_id") % 2).alias("b"))
    with scratch("stream_attr_replay_") as work:
        # ONE partitioned write stages both feeds (2 sources x 2
        # trigger batches) — separate filtered scans per source cost
        # more than the stream itself did
        feeds = stage_feeds(ev, work, "event_type", ["click", "purchase"],
                            "b")
        clicks, purchases = (
            open_feed(spark, feeds[t]).withWatermark("ts", "1 minutes")
            for t in ("click", "purchase"))
        with shuffle_partitions(spark, *state_layout(
                spark, feed_rows(*feeds.values()), stores=4)):
            joined = replay_to_parquet(
                stream_interval_join_outer(clicks, purchases,
                                           window="1 hour"),
                spark, "attr_replay",
                checkpoint=os.path.join(work, "ckpt"))
    return (joined
            .select("user_id",
                    F.col("click_ts").cast("timestamp_ntz"),
                    F.col("purchase_ts").cast("timestamp_ntz"),
                    "lag_seconds", "converted"))


@query(
    "streaming_enrichment_replay",
    oracle="""
    WITH dims AS (
      SELECT c_custkey % 997 AS k,
             CAST(c_custkey AS DOUBLE) AS ord,
             c_custkey % 2 AS batch,
             c_custkey, c_nationkey,
             CAST(c_acctbal AS DOUBLE) AS acctbal
      FROM customer WHERE c_custkey % 4 < 2
    ),
    facts AS (
      SELECT o_custkey % 997 AS k,
             CAST(o_orderkey AS DOUBLE) AS ord,
             o_orderkey % 2 AS batch,
             o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders
    ),
    seq AS (
      SELECT k, batch, ord, 0 AS side, c_custkey,
             CAST(NULL AS BIGINT) AS o_orderkey,
             CAST(NULL AS DOUBLE) AS price
      FROM dims
      UNION ALL
      SELECT k, batch, ord, 1, CAST(NULL AS BIGINT), o_orderkey, price
      FROM facts
    ),
    -- per key, the engine applies each micro-batch's rows in
    -- (event-time, side) order with dim-before-fact ties, so the
    -- TOTAL application order is (batch, ord, side); a fact joins
    -- the last dim BEFORE it (immediate emit) or, if none, the
    -- first dim AFTER it (the buffer flushed by that dim's arrival)
    resolved AS (
      SELECT *,
        LAST_VALUE(CASE WHEN side = 0 THEN c_custkey END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY batch, ord, side
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS prev_ck,
        FIRST_VALUE(CASE WHEN side = 0 THEN c_custkey END IGNORE NULLS)
          OVER (PARTITION BY k ORDER BY batch, ord, side
                ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
          AS next_ck
      FROM seq
    )
    SELECT r.k, r.o_orderkey, r.price,
           d.c_custkey, d.c_nationkey, d.acctbal
    FROM resolved r
    JOIN dims d ON d.k = r.k
     AND d.c_custkey = COALESCE(r.prev_ck, r.next_ck)
    WHERE r.side = 1
    """,
)
def _streaming_enrichment_replay(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """The STATEFUL streaming enrichment join (streaming/
    stateful_join.py — the keyed-state port of
    EnrichmentJoin.java's KeyedCoProcessFunction) driven end to end
    through Structured Streaming and ORACLE-CHECKED, not just
    pytest-replayed: orders play the fact stream, a filtered slice of
    customer plays the dim stream (the filter leaves ~25% of keys
    dim-less so never-emitted facts stay buffered), each split into 2
    deterministic trigger files. The batch oracle reproduces the
    buffer/flush contract exactly — immediate emit against the latest
    prior dim, buffered facts flushing against the first dim that
    arrives after them, latest-dim overwrite on re-arrival — so a
    regression in ANY of those state transitions breaks the hash.

    Scale shape: the union is shuffle-partitioned once on the join
    key into the state store; per key the state holds one dim row
    plus a buffer that drains on first match, exactly the reference's
    ValueState + ListState footprint."""
    from ..streaming.stateful_join import enrich_stream

    dims_b = load_table(spark, sf_dir, "customer") \
        .filter(F.col("c_custkey") % 4 < 2) \
        .select((F.col("c_custkey") % 997).alias("k"),
                "c_custkey", F.col("c_nationkey").cast("long"),
                F.col("c_acctbal").cast("double").alias("acctbal"))
    facts_b = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 997).alias("k"),
        "o_orderkey",
        F.col("o_totalprice").cast("double").alias("price"))
    with scratch("stream_enrich_replay_") as work:
        dim_dir = stage_feed(dims_b, work, "dims", F.col("c_custkey") % 2)
        fact_dir = stage_feed(facts_b, work, "facts",
                              F.col("o_orderkey") % 2)
        with shuffle_partitions(spark, *state_layout(
                spark, feed_rows(dim_dir, fact_dir))):
            enriched = replay_to_parquet(
                enrich_stream(open_feed(spark, fact_dir),
                              open_feed(spark, dim_dir), key="k",
                              order_col="o_orderkey",
                              dim_order_col="c_custkey"),
                spark, "enrich_replay",
                checkpoint=os.path.join(work, "ckpt"))
    return enriched.select(
        "k", "o_orderkey", "price", "c_custkey", "c_nationkey", "acctbal")


@query(
    "streaming_late_sideoutput_replay",
    oracle="""
    WITH e AS (
      SELECT event_id, ts, event_id % 3 AS wave FROM events
    ),
    m0 AS (SELECT MAX(ts) AS m FROM e WHERE wave = 0),
    m1 AS (SELECT greatest((SELECT m FROM m0), MAX(ts)) AS m
           FROM e WHERE wave = 1)
    SELECT event_id, CAST(wave AS BIGINT) AS wave,
           CASE wave
             WHEN 0 THEN FALSE
             WHEN 1 THEN ts < (SELECT m FROM m0) - INTERVAL 15 DAY
             ELSE ts < (SELECT m FROM m1) - INTERVAL 15 DAY
           END AS is_late
    FROM e
    """,
)
def _streaming_late_sideoutput_replay(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """The late-data SIDE OUTPUT (streaming/late_data.py — the Flink
    ``sideOutputLateData`` twin the reference's L1 drop semantics
    extend to): the events table replays as THREE deterministic
    trigger files (wave = event_id % 3) through the foreachBatch
    splitter, which maintains the event-time high watermark as
    atomic driver state and routes each batch's rows to the main or
    the late parquet sink by ``ts < hwm − 15 days``. The output is
    every event's final disposition read back FROM THE TWO SINKS —
    so the split, the one-batch watermark lag (batch N judges
    against the max event time through batch N−1, exactly how the
    engine advances its own watermark), and the atomic hwm persist
    are all under the driver hash. The oracle recomputes the staged
    max arithmetic per wave from first principles.

    Scale: the split is a narrow per-batch filter + one observed
    aggregate (no extra probe jobs); driver state is one timestamp."""
    from ..streaming.late_data import run_with_late_capture

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts")
    with scratch("late_sideout_replay_") as work:
        stream = open_feed(spark, stage_feed(
            ev, work, "late_feed", F.pmod(F.col("event_id"), 3), 3))
        main_dir = os.path.join(work, "main")
        late_dir = os.path.join(work, "late")
        run_with_late_capture(stream, "ts", "15 days", main_dir,
                              late_dir, os.path.join(work, "state"),
                              checkpoint=os.path.join(work, "ckpt"))

        def read_back(path: str, late: bool) -> DataFrame:
            if not os.path.isdir(path):
                return (spark.createDataFrame(
                            [], "event_id long")
                        .withColumn("is_late", F.lit(late)))
            return (spark.read.parquet(path)
                    .select("event_id", F.lit(late).alias("is_late")))

        out = (read_back(main_dir, False)
               .unionByName(read_back(late_dir, True))
               .select("event_id",
                       F.pmod(F.col("event_id"), 3).alias("wave"),
                       "is_late"))
        # materialize before the tempdir vanishes — executor-side
        # (localCheckpoint blocks), not a toPandas round trip through
        # the driver: at sf10 this output is ~10M rows and a driver
        # collect is exactly the §5 anti-pattern (and was ~0.5 s of
        # pure Arrow-transpose overhead at sf0.1)
        return out.localCheckpoint(eager=True)
