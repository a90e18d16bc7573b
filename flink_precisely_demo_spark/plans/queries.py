"""Named query registry — the engine's public query surface.

Every operator from SURVEY.md §2 (reference parity) and §2.3
(training-data extensions) is exposed as a named query:

    QUERIES[name]  : (spark, sf_dir) -> DataFrame
    ORACLES[name]  : equivalent ANSI SQL for DuckDB over the same
                     parquet (omitted only for non-SQL-expressible ops)

Cross-engine determinism rules used throughout (they matter at 100 TB
just as much — distributed double addition is order-dependent):
- SUM/AVG over doubles uses exact DECIMAL accumulation, result cast
  back to double (operators.windowed_agg.sum_exact / avg_exact).
- every computed column is aliased identically in both dialects.
- rankings always carry a total-order tiebreak (unique key column).
- tumbling windows are epoch-aligned in both engines (Spark F.window
  vs explicit epoch arithmetic in SQL).
- timestamps are UTC everywhere; parse_ts outputs are cast to
  timestamp_ntz to match parquet-sourced NTZ columns.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import re
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.datetime_fns import format_ts, parse_ts
from ..functions.text import (
    LANG_MARKERS,
    STOPWORDS_EN,
    doc_fingerprint,
    language_id,
    quality_score,
    token_count,
    tokens,
)
from ..operators.enrichment_join import enrich, latest_per_key
from ..operators.lsm import index_ok, new_base
from ..operators.windowed_agg import avg_exact, sum_exact, tumbling_window_agg
from ..sources.cdc_json import decode_envelope, flatten_after_image, synthesize_orders_envelope
from ..sources.parquet import load_table
from ..schemas import ORDERS_PAYLOAD
from .flagship import flagship_query

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return deco


_FIXTURES: set[str] = set()


def _source_digest(sf_dir: str) -> str:
    """Digest of the relative path, size and mtime_ns of every file
    under each ``*.parquet`` in ``sf_dir``: a rewritten table changes
    it, a re-read of the same bytes does not."""
    h = hashlib.sha1()
    for table in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        files = [table] if os.path.isfile(table) else sorted(
            os.path.join(root, f)
            for root, _, names in os.walk(table) for f in names)
        for f in files:
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, sf_dir)}\0{st.st_size}\0"
                     f"{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:12]


def fixture_path(name: str, sf_dir: str) -> str:
    """``<tmp>/<name>_<sf_dir slug>_<source digest>``: where the
    build-once fixture ``name`` of dataset ``sf_dir`` lives, shared
    across processes. The digest keys the path by the source's
    content, so a fixture (with its deltas and companions) built from
    other bytes is never served."""
    slug = re.sub(r"[^A-Za-z0-9.]+", "_", sf_dir.strip("/"))
    return os.path.join(tempfile.gettempdir(),
                        f"{name}_{slug}_{_source_digest(sf_dir)}")


def _reap_superseded(path: str) -> None:
    """Remove every other build of the fixture at ``path``:
    ``<stem>_<digest>`` of another digest and the digest-less
    ``<stem>`` of older builds, each with its ``<build>.<suffix>``
    companions (the LSM tag manifest, a verdicts dir)."""
    tmp, base = os.path.split(path)
    stem, digest = base.rsplit("_", 1)
    # a companion suffix has no "_", so another dataset's fixture
    # (``<stem>.copy_<digest>``) never matches
    build = re.compile(re.escape(stem)
                       + r"(?:_([0-9a-f]{12}))?(?:\.[A-Za-z0-9.-]+)?")
    for entry in os.listdir(tmp):
        m = build.fullmatch(entry)
        if m and m.group(1) != digest:
            old = os.path.join(tmp, entry)
            if os.path.isdir(old):
                shutil.rmtree(old, ignore_errors=True)
            else:
                with contextlib.suppress(FileNotFoundError):
                    os.remove(old)


def staged_fixture(name: str, sf_dir: str,
                   complete: Callable[[str], bool],
                   build: Callable[[str], None]) -> str:
    """Path of the build-once fixture ``name`` for ``sf_dir``: the one
    way a query materializes a derived dataset that outlives a call.
    A dir for which ``complete(path)`` holds is reused; otherwise
    ``build(stage)`` fills one staged new base that publishes
    atomically (operators/lsm.new_base), so a concurrent process never
    sees a half-built fixture and a crashed build leaves only a
    reapable stage. The first use of a build in a process, reused or
    just published, removes every other build of ``name`` for
    ``sf_dir`` (built from other source bytes). A per-process memo
    skips ``complete``, but only while the published dir is still
    there."""
    path = fixture_path(name, sf_dir)
    if not (path in _FIXTURES and index_ok(path)):
        if not complete(path):
            with new_base(path) as stage:
                build(stage)
        _reap_superseded(path)
        _FIXTURES.add(path)
    return path


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# =====================================================================
# Reference parity (SURVEY.md §2.1)
# =====================================================================

# --- flagship: J1 + W2 + W3 + A1 + P2 (sql/output.sql) ---------------
@query(
    "flagship_cdc_window_sum",
    oracle="""
    SELECT make_timestamp((epoch_us(o.o_orderdate) // 600000000) * 600000000)
               AS OrderPeriod,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE) AS TotalDue,
           r.r_name AS Country,
           n.n_name AS State
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 3, 4
    """,
)
def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flagship_query(spark, sf_dir)


# --- P1/P2: projection + nested-field flatten (sql/*.sql shape) ------
@query(
    "projection_flatten",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INT) AS prop_k,
           upper(event_type) AS event_type_uc,
           value AS raw_value
    FROM events
    """,
)
def _projection_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("prop_k"),
        F.upper("event_type").alias("event_type_uc"),
        F.col("value").alias("raw_value"),
    )


# --- F1: parse_ts (DateParser.java:12-17) ----------------------------
@query(
    "parse_ts_roundtrip",
    oracle="""
    WITH s AS (
      SELECT o_orderkey,
             strftime(o_orderdate, '%Y%m%d%H%M%S')
               || lpad(CAST(epoch_us(o_orderdate) % 1000000 AS VARCHAR), 6, '0')
               AS cdc_ts
      FROM orders
    )
    SELECT o_orderkey, cdc_ts,
           strptime(substring(cdc_ts, 1, 14), '%Y%m%d%H%M%S')
             + to_microseconds(CAST(rpad(substring(cdc_ts, 15), 6, '0') AS BIGINT))
             AS parsed_ts
    FROM s
    """,
)
def _parse_ts_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        format_ts("o_orderdate", 6).alias("cdc_ts"),
    ).withColumn("parsed_ts", parse_ts("cdc_ts").cast("timestamp_ntz"))


# --- S1/S2 batch form: CDC JSON envelope encode -> decode -> flatten -
@query(
    "cdc_envelope_decode",
    oracle="""
    SELECT CAST(o_orderkey % 2147483648 AS INT) AS SalesOrderId,
           5 AS Status,
           CAST(o_custkey % 2147483648 AS INT) AS AddressId,
           o_totalprice AS TotalDue,
           o_orderdate AS OrderAsOf
    FROM orders
    """,
)
def _cdc_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = synthesize_orders_envelope(_t(spark, sf_dir, "orders"))
    env = decode_envelope(raw, ORDERS_PAYLOAD)
    flat = flatten_after_image(env, extra=["sv_op_timestamp"])
    return flat.select(
        F.col("SalesOrderId"),
        F.col("Status"),
        F.col("ShipToAddressId").alias("AddressId"),
        F.col("TotalDue"),
        parse_ts("sv_op_timestamp").cast("timestamp_ntz").alias("OrderAsOf"),
    )


# --- J1: latest-value enrichment join (EnrichmentJoin.java semantics) -
@query(
    "enrichment_latest_join",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_type, value
      FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    )
    SELECT o.o_orderkey, o.o_custkey,
           l.event_type AS latest_event_type,
           l.value AS latest_value
    FROM orders o
    JOIN latest l ON o.o_custkey = l.user_id
    """,
)
def _enrichment_latest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dim = latest_per_key(
        _t(spark, sf_dir, "events"), "user_id", "ts", tiebreak=["event_id"]
    ).select("user_id", F.col("event_type").alias("latest_event_type"),
             F.col("value").alias("latest_value"))
    fact = orders.withColumn("user_id", F.col("o_custkey"))
    return enrich(fact, dim, "user_id", broadcast_dim=True) \
        .select("o_orderkey", "o_custkey", "latest_event_type", "latest_value")


# --- W2/W3/A1: tumbling window agg on a fine-grained stream ----------
@query(
    "tumbling_window_events",
    oracle="""
    SELECT make_timestamp((epoch_us(ts) // 600000000) * 600000000) AS window_start,
           event_type,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def _tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return tumbling_window_agg(
        ev, "ts", "10 minutes", ["event_type"],
        [sum_exact("value").alias("total_value"),
         F.count(F.lit(1)).alias("n_events")],
    )


# =====================================================================
# Analytics breadth (standard OLAP surface, Catalyst-native)
# =====================================================================

@query(
    "q1_pricing_summary",
    oracle="""
    -- decimal→double routed through VARCHAR throughout: DuckDB's
    -- direct decimal38→double cast double-rounds (int128→double then
    -- /10^scale) and drifts one ULP from Spark's correctly-rounded
    -- BigDecimal cast once the scaled value exceeds 2^53 — caught by
    -- the r14 bit-exact sweep on sum_charge at sf1/sf10; strtod
    -- parsing is correctly rounded, so the string route matches
    -- Spark bit-for-bit at every magnitude.
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           CAST(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) / COUNT(l_quantity) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS avg_qty,
           CAST(CAST(CAST(SUM(CAST(l_discount AS DECIMAL(28,6))) / COUNT(l_discount) AS DECIMAL(38,6)) AS VARCHAR) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def _q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        sum_exact("l_quantity").alias("sum_qty"),
        sum_exact("l_extendedprice").alias("sum_base_price"),
        sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
        sum_exact(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).alias("sum_charge"),
        avg_exact("l_quantity").alias("avg_qty"),
        avg_exact("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@query(
    "top_k_per_group",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice, rk
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
)
def _top_k_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (o.withColumn("rk", F.row_number().over(w))
             .filter(F.col("rk") <= 3)
             .select("o_orderpriority", "o_orderkey", "o_totalprice", "rk"))


@query(
    "anti_semi_join",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def _anti_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
             .join(urgent, c.c_custkey == urgent.o_custkey, "left_anti")
             .select("c_custkey", "c_mktsegment"))


@query(
    "set_ops",
    oracle="""
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 300000
    """,
)
def _set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    big = o.filter(F.col("o_totalprice") > 300000) \
           .select(F.col("o_custkey").alias("c_custkey"))
    return building.subtract(big)  # EXCEPT (distinct set semantics)


@query(
    "distinct_agg",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def _distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
        sum_exact("value").alias("total_value"),
    )


@query(
    "rollup_agg",
    oracle="""
    SELECT r.r_name AS region_name, n.n_name AS nation_name,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS total_acctbal,
           COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r.r_name, n.n_name)
    """,
)
def _rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
               .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
               .select(F.col("r_name").alias("region_name"),
                       F.col("n_name").alias("nation_name"),
                       "c_acctbal"))
    return joined.rollup("region_name", "nation_name").agg(
        sum_exact("c_acctbal").alias("total_acctbal"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@query(
    "pivot_events",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS "click",
           CAST(SUM(CASE WHEN event_type = 'view'     THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS "view",
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS "purchase",
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS "signup",
           CAST(SUM(CASE WHEN event_type = 'error'    THEN CAST(value AS DECIMAL(28,6)) END) AS DOUBLE) AS "error"
    FROM events
    GROUP BY user_id
    """,
)
def _pivot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    piv = (ev.groupBy("user_id")
             .pivot("event_type", kinds)
             .agg(F.sum(F.col("value").cast("decimal(28,6)"))))
    return piv.select("user_id", *[F.col(k).cast("double").alias(k) for k in kinds])


@query(
    "sessionization",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sessions AS (
      -- event_id tiebreak matches the Spark window; BIGINT cast keeps
      -- DuckDB's HUGEINT sum from materializing as float64 in pandas
      SELECT user_id, ts, value,
             CAST(SUM(new_session) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS session_id
      FROM marked
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS session_value,
           MIN(ts) AS session_start
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def _sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap (second-level casts would truncate before
    # subtracting and disagree with the oracle on ~30:00.x boundaries)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap <= 1_800_000_000, F.lit(0)).otherwise(F.lit(1)))
    cum = Window.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    sessions = marked.withColumn("session_id", F.sum("new_session").over(cum))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        sum_exact("value").alias("session_value"),
        F.min("ts").alias("session_start"),
    )


@query(
    "asof_join_prior_click",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT MAX(c.ts) FROM events c
            WHERE c.user_id = e.user_id AND c.event_type = 'click'
              AND c.ts < e.ts) AS prior_click_ts
    FROM events e
    WHERE e.event_type = 'purchase'
    """,
)
def _asof_join_prior_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (reference lacks one; standard lakehouse op).

    Scalable single-pass formulation: union the two sides with a tag,
    sort within user_id, and carry the last click timestamp forward
    with a running MAX window — one shuffle, no O(n^2) range join,
    survives 100x data (vs the correlated-subquery oracle, which is
    the semantic spec, not the plan).
    """
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("side"))
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.lit(1).alias("side"))
    unioned = clicks.unionByName(purchases)
    # clicks sort before purchases at the same ts => strict "<" holds
    w = Window.partitionBy("user_id").orderBy("ts", "side") \
        .rowsBetween(Window.unboundedPreceding, -1)
    carried = unioned.withColumn(
        "prior_click_ts",
        F.max(F.when(F.col("side") == 0, F.col("ts"))).over(w))
    return carried.filter(F.col("side") == 1).select(
        "event_id", "user_id", "ts", "prior_click_ts")


@query(
    "string_math_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_uc,
           length(p_name) AS name_len,
           substring(p_name, 1, 5) AS name5,
           concat(p_brand, ':', p_type) AS brand_type,
           round(p_retailprice, 1) AS price_r1,
           abs(p_retailprice - 1000.0) AS price_dist,
           CAST(floor(p_retailprice / 100) AS BIGINT) AS price_bucket,
           p_size % 7 AS size_mod
    FROM part
    """,
)
def _string_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_uc"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name5"),
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.round("p_retailprice", 1).alias("price_r1"),
        F.abs(F.col("p_retailprice") - 1000.0).alias("price_dist"),
        F.floor(F.col("p_retailprice") / 100).cast("long").alias("price_bucket"),
        (F.col("p_size") % 7).alias("size_mod"),
    )
