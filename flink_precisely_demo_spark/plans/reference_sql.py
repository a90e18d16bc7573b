"""Literal reference-SQL execution: the reference's .sql files run
VERBATIM on Spark.

The reference registers ``parseTs`` as a Flink ScalarFunction
(StreamingJob.java:82) and drives its projections with SQL text files
(sql/orders.sql). Spark 4's SQL scalar functions (CREATE FUNCTION ...
RETURN) let the SAME text run unmodified: ``register_parse_ts_sql``
declares parseTs as a pure-SQL function (identical semantics to
functions/datetime_fns.parse_ts, null-safe on malformed input), and
``reference_sql_orders`` executes the orders.sql projection text
byte-for-byte over a ``cdc_Orders`` view.

The embedded SQL below is the reference's query-surface fixture
(sql/orders.sql:1-12), reproduced verbatim so a user's existing SQL
runs as-is — the engine implementation is unrelated to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import ORDERS_PAYLOAD
from ..sources.cdc_json import (decode_envelope, envelope, fold_key,
                                synthesize_orders_envelope, widen_feed)
from ..sources.parquet import load_table
from .queries import query, staged_fixture

PARSE_TS_SQL_FUNCTION = """
CREATE OR REPLACE TEMPORARY FUNCTION parseTs(s STRING) RETURNS TIMESTAMP
RETURN timestampadd(MICROSECOND,
                    try_cast(rpad(substring(s, 15, 6), 6, '0') AS BIGINT),
                    try_to_timestamp(substring(s, 1, 14), 'yyyyMMddHHmmss'))
"""

# reference sql/orders.sql, verbatim
REFERENCE_ORDERS_SQL = """SELECT
    after_image.SalesOrderId,
    parseTs(after_image.OrderDate) as OrderDate,
    parseTs(after_image.DueDate) as DueDate,
    parseTs(after_image.ShipDate) as ShipDate,
    after_image.Status,
    after_image.ShipToAddressId as AddressId,
    after_image.SubTotal,
    after_image.TaxAmt,
    after_image.Freight,
    after_image.TotalDue,
    parseTs(sv_op_timestamp) as OrderAsOf
FROM cdc_Orders"""


def register_parse_ts_sql(spark: SparkSession) -> None:
    spark.sql(PARSE_TS_SQL_FUNCTION)


@query(
    "reference_sql_orders",
    oracle="""
    SELECT CAST(o_orderkey % 2147483648 AS INT) AS SalesOrderId,
           o_orderdate AS OrderDate,
           o_orderdate AS DueDate,
           o_orderdate AS ShipDate,
           5 AS Status,
           CAST(o_custkey % 2147483648 AS INT) AS AddressId,
           o_totalprice AS SubTotal,
           0.0 AS TaxAmt,
           0.0 AS Freight,
           o_totalprice AS TotalDue,
           o_orderdate AS OrderAsOf
    FROM orders
    """,
)
def _reference_sql_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sql/orders.sql executed verbatim: synthesize the cdc-orders
    envelope stream from the orders table, expose it as the
    ``cdc_Orders`` view, register the SQL parseTs, run the file text.
    Timestamp columns are cast to NTZ afterwards (driver-harness
    normalization only — the reference text itself is untouched)."""
    register_parse_ts_sql(spark)
    raw = synthesize_orders_envelope(load_table(spark, sf_dir, "orders"))
    decode_envelope(raw, ORDERS_PAYLOAD).createOrReplaceTempView("cdc_Orders")
    out = spark.sql(REFERENCE_ORDERS_SQL)
    ts_cols = {"OrderDate", "DueDate", "ShipDate", "OrderAsOf"}
    return out.select(*[
        F.col(c).cast("timestamp_ntz").alias(c) if c in ts_cols else F.col(c)
        for c in out.columns])


# reference sql/states.sql, verbatim
REFERENCE_STATES_SQL = """SELECT
    after_image.StateProvinceID,
    after_image.CountryRegionCode,
    after_image.Name as StateName,
    parseTs(sv_op_timestamp) as StatesAsOf
FROM cdc_States"""

# reference sql/address.sql, verbatim
REFERENCE_ADDRESS_SQL = """SELECT
    after_image.AddressID,
    after_image.AddressLine1,
    after_image.City,
    after_image.StateProvinceID,
    after_image.PostalCode,
    parseTs(after_image.ModifiedDate) as ModifiedDate,
    parseTs(sv_op_timestamp) as AddressAsOf
FROM cdc_Address"""

# reference sql/output.sql, verbatim (runs through the TUMBLE shim)
REFERENCE_OUTPUT_SQL = """INSERT INTO output
    SELECT
        TUMBLE_START(OrderAsOf, INTERVAL '10' MINUTE) as OrderPeriod,
        sum(TotalDue) as TotalDue,
        CountryRegionCode,
        StateName
    FROM ordersWithAddress
    GROUP BY
        CountryRegionCode,
        StateName,
        TUMBLE(OrderAsOf, INTERVAL '10' MINUTE)"""


_TUMBLE_UNITS = {"SECOND": "seconds", "MINUTE": "minutes",
                 "HOUR": "hours", "DAY": "days"}

_TUMBLE_RE = None  # compiled lazily below


def translate_flink_tumble(sql: str) -> str:
    """Mechanical Flink->Spark dialect shim for group windows.

    Supported grammar (case-insensitive keywords, any count of
    occurrences): ``TUMBLE(col, INTERVAL 'n' <unit>)`` ->
    ``window(col, 'n <unit>s')``; ``TUMBLE_START(...)`` /
    ``TUMBLE_END(...)`` -> the same with ``.start`` / ``.end``;
    units SECOND | MINUTE | HOUR | DAY. The first argument must be a
    bare column name (Flink's group-window functions take exactly
    that in the reference SQL). Nothing else in the text is touched,
    so a user's Flink SQL runs after one regex pass; grammar is
    pinned by tests/test_properties.py."""
    import re as _re

    global _TUMBLE_RE
    if _TUMBLE_RE is None:
        _TUMBLE_RE = _re.compile(
            r"(TUMBLE_START|TUMBLE_END|TUMBLE)\(\s*(\w+)\s*,\s*"
            r"INTERVAL\s*'(\d+)'\s*(SECOND|MINUTE|HOUR|DAY)\s*\)",
            _re.IGNORECASE)

    def repl(m: "_re.Match[str]") -> str:
        fn, col, n, unit = m.groups()
        w = f"window({col}, '{n} {_TUMBLE_UNITS[unit.upper()]}')"
        fn = fn.upper()
        if fn == "TUMBLE_START":
            return w + ".start"
        if fn == "TUMBLE_END":
            return w + ".end"
        return w

    return _TUMBLE_RE.sub(repl, sql)


#: Target data bytes per compacted feed file. 16 MB keeps a file
#: above the 4 MB openCost split floor (so one file still fans out to
#: ~4 read splits) while collapsing the encoder's parallelism-width
#: file count (32 ~1 KB files for a 25-row dim) that every TIMED read
#: of the fixture would otherwise pay in listing + per-file open cost
#: (guide §6 "small files hurt twice").
_FEED_FILE_TARGET = 16 * 1024 * 1024


def _compact_text_dir(path: str) -> None:
    """Merge a text-write's part files down to ceil(bytes/16MB) files.

    Runs once at fixture-build time (untimed, cached thereafter). The
    envelope feed is an unordered set of self-contained JSON lines, so
    concatenation order is immaterial; .crc sidecars are dropped with
    their parts (plain local files carry no checksum contract here).
    """
    import os

    parts = sorted(p for p in os.listdir(path)
                   if p.startswith("part-"))
    if len(parts) <= 1:
        return
    total = sum(os.path.getsize(os.path.join(path, p)) for p in parts)
    n_out = max(1, -(-total // _FEED_FILE_TARGET))
    if n_out >= len(parts):
        return
    groups: list[list[str]] = [[] for _ in range(n_out)]
    for i, p in enumerate(parts):
        groups[i % n_out].append(p)
    for i, grp in enumerate(groups):
        out = os.path.join(path, f"merged-{i:05d}.txt")
        with open(out, "wb") as dst:
            for p in grp:
                with open(os.path.join(path, p), "rb") as src:
                    dst.write(src.read())
    for p in os.listdir(path):
        if p.startswith("part-") or p.endswith(".crc"):
            os.remove(os.path.join(path, p))


_FIXED_TS = "20200101000000"


def _envelope_lines(df: DataFrame, key: str, payload, table: str) -> DataFrame:
    """One insert envelope per row, keyed and timestamped alike."""
    value = F.to_json(envelope(F.col(key), F.lit(_FIXED_TS), payload,
                               table=table))
    return widen_feed(df).select(value.alias("value"))


def _states_feed_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    payload = F.struct(
        F.col("n_nationkey").cast("int").alias("StateProvinceID"),
        F.lit("XX").alias("CountryRegionCode"),
        F.col("n_name").alias("Name"))
    return _envelope_lines(load_table(spark, sf_dir, "nation"),
                           "n_nationkey", payload, "PERSON.STATEPROVINCE")


def _address_feed_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    payload = F.struct(
        fold_key(F.col("c_custkey")).alias("AddressID"),
        F.lit("1 Main St").alias("AddressLine1"),
        F.lit("Springfield").alias("City"),
        F.col("c_nationkey").cast("int").alias("StateProvinceID"),
        F.lit("00000").alias("PostalCode"),
        F.lit(_FIXED_TS).alias("ModifiedDate"))
    return _envelope_lines(load_table(spark, sf_dir, "customer"),
                           "c_custkey", payload, "PERSON.ADDRESS")


def _orders_feed_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synthesize_orders_envelope(load_table(spark, sf_dir, "orders"))


_FEEDS = {
    "states": _states_feed_df,
    "address": _address_feed_df,
    "orders": _orders_feed_df,
}


def materialize_reference_feed(spark: SparkSession, sf_dir: str) -> str:
    """The three CDC envelope feeds (JSON text lines) of ``sf_dir``,
    one subdir each, built once as the staged fixture ``ref_feed``.

    The reference program's INPUT is a Kafka topic of envelope lines
    (StreamingJob.java:190-203); manufacturing those lines from the
    driver's parquet tables is test-fixture construction, not part of
    the measured pipeline, so it is amortized like every other fixture
    (plans/queries.staged_fixture), and the replay query reads the
    text files the way the reference reads its topic."""
    import os

    from ..operators.lsm import index_ok

    def build(stage: str) -> None:
        for name, feed in _FEEDS.items():
            path = os.path.join(stage, name)
            feed(spark, sf_dir).write.text(path)
            _compact_text_dir(path)

    return staged_fixture("ref_feed", sf_dir, index_ok, build)


@query(
    "reference_pipeline_verbatim",
    oracle="""
    SELECT make_timestamp((epoch_us(o.o_orderdate) // 600000000) * 600000000)
               AS OrderPeriod,
           round(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,6))) AS DOUBLE), 4)
               AS TotalDue,
           'XX' AS Country,
           n.n_name AS State
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 4
    """,
)
def _reference_pipeline_verbatim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE reference program replayed from its own SQL text:
    a JSON envelope feed (text lines standing in for the Kafka topic,
    materialized once per sf_dir — see materialize_reference_feed),
    states.sql / address.sql / orders.sql verbatim over cdc_* views,
    the two enrichment joins (EnrichmentJoin semantics), a DDL-created
    ``output`` table, and output.sql through the TUMBLE dialect shim
    (Spark has no TUMBLE; the regex pass is the only edit). Fixture
    mapping per FIXTURES.md §B: nation plays states (Country 'XX'),
    customer plays address. The wrapper rounds TotalDue to 4 dp —
    output.sql's ``sum(TotalDue)`` is a plain double sum, and 4 dp
    absorbs its ~1e-12 summation-order wobble against the oracle's
    exact decimal sum."""
    import os

    from ..operators.enrichment_join import enrich
    from ..schemas import ADDRESS_PAYLOAD, STATES_PAYLOAD

    register_parse_ts_sql(spark)
    feed = materialize_reference_feed(spark, sf_dir)
    for view, payload in [("cdc_States", STATES_PAYLOAD),
                          ("cdc_Address", ADDRESS_PAYLOAD),
                          ("cdc_Orders", ORDERS_PAYLOAD)]:
        name = view.split("_", 1)[1].lower()
        raw = spark.read.text(os.path.join(feed, name))
        decode_envelope(raw, payload).createOrReplaceTempView(view)

    states = spark.sql(REFERENCE_STATES_SQL)
    address = spark.sql(REFERENCE_ADDRESS_SQL)
    orders_proj = spark.sql(REFERENCE_ORDERS_SQL)

    # broadcast_dim=True (explicit): both fact sides here are
    # stat-less from_json lineages — without the hint Spark has
    # been observed BuildLeft-broadcasting the 150 k-row decoded
    # FACT side; the dims (states/address) are the reference's
    # ValueState-resident sides and fit in memory by its contract
    address_with_state = enrich(address, states, "StateProvinceID",
                                dim_order_col="StatesAsOf",
                                broadcast_dim=True)
    orders_with_address = enrich(orders_proj, address_with_state, "AddressId",
                                 dim_order_col="AddressAsOf",
                                 broadcast_dim=True)
    orders_with_address.createOrReplaceTempView("ordersWithAddress")

    # session-scoped MANAGED sink table, created once per process and
    # TRUNCATEd per run (the verbatim INSERT INTO appends, so the sink
    # must start empty). Cross-process hazard: the default catalog is
    # in-memory per process, but the managed warehouse directory
    # persists on disk — so a fresh process sees tableExists()==False
    # while `<warehouse>/output` still exists, and a bare CREATE dies
    # with LOCATION_ALREADY_EXISTS. Before the once-per-process
    # CREATE, delete any orphaned location through the Hadoop
    # FileSystem API (scheme-agnostic: works the same on a cluster's
    # DFS warehouse as on local files). Steady-state cost per run is
    # still the single TRUNCATE.
    if not spark.catalog.tableExists("output"):
        wh = spark.conf.get("spark.sql.warehouse.dir")
        jvm = spark._jvm
        loc = jvm.org.apache.hadoop.fs.Path(wh.rstrip("/") + "/output")
        fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(loc, True)  # recursive; no-op if absent
        spark.sql("""
            CREATE TABLE output (
              OrderPeriod TIMESTAMP, TotalDue DOUBLE,
              Country STRING, State STRING
            ) USING parquet
        """)
    spark.sql("TRUNCATE TABLE output")
    spark.sql(translate_flink_tumble(REFERENCE_OUTPUT_SQL))
    out = spark.table("output")
    return out.select(
        F.col("OrderPeriod").cast("timestamp_ntz").alias("OrderPeriod"),
        F.round("TotalDue", 4).alias("TotalDue"),
        "Country", "State")
