"""Declared schemas — reference parity.

The reference declares payload shapes as ``RowTypeInfo`` constants
(reference StreamingJob.java:60-64) and wraps each in a 15-column
Precisely/Syncsort CDC envelope plus a nested ``after_image`` row
(reference StreamingJob.java:165-181). Here the same shapes are
``StructType`` constants; nothing is ever inferred from data on the
streaming path (the reference's JSON decode is schema-driven too,
StreamingJob.java:198).

Type mapping follows SURVEY.md §1.3 — reference FLOAT columns become
DoubleType (test data is float64), epoch-millis event time becomes a
real TimestampType column (Spark watermarks need timestamps).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- payloads (reference StreamingJob.java:60-64) -----------------

STATES_PAYLOAD = T.StructType([
    T.StructField("StateProvinceID", T.IntegerType()),
    T.StructField("CountryRegionCode", T.StringType()),
    T.StructField("Name", T.StringType()),
])

ADDRESS_PAYLOAD = T.StructType([
    T.StructField("AddressID", T.IntegerType()),
    T.StructField("AddressLine1", T.StringType()),
    T.StructField("City", T.StringType()),
    T.StructField("StateProvinceID", T.IntegerType()),
    T.StructField("PostalCode", T.StringType()),
    T.StructField("ModifiedDate", T.StringType()),
])

ORDERS_PAYLOAD = T.StructType([
    T.StructField("SalesOrderId", T.IntegerType()),
    T.StructField("OrderDate", T.StringType()),
    T.StructField("DueDate", T.StringType()),
    T.StructField("ShipDate", T.StringType()),
    T.StructField("Status", T.IntegerType()),
    T.StructField("ShipToAddressId", T.IntegerType()),
    T.StructField("SubTotal", T.DoubleType()),
    T.StructField("TaxAmt", T.DoubleType()),
    T.StructField("Freight", T.DoubleType()),
    T.StructField("TotalDue", T.DoubleType()),
])

#: after_image payload for a document-capture CDC feed: the envelope
#: machinery is the reference's; only the payload row type differs
#: (envelope_schema is payload-generic by design).
DOCS_PAYLOAD = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
])

# --- envelope (reference StreamingJob.java:165-181) ---------------

_SV_FIELDS = [
    T.StructField("sv_manip_type", T.StringType()),       # insert/update/delete — unread by the reference (quirk 4)
    T.StructField("sv_trans_id", T.LongType()),
    T.StructField("sv_trans_row_seq", T.IntegerType()),
    T.StructField("sv_sending_table", T.StringType()),
    T.StructField("sv_trans_timestamp", T.StringType()),
    T.StructField("sv_trans_username", T.StringType()),
    T.StructField("sv_program_name", T.StringType()),
    T.StructField("sv_job_name", T.StringType()),
    T.StructField("sv_job_user", T.StringType()),
    T.StructField("sv_job_number", T.StringType()),
    T.StructField("sv_op_timestamp", T.StringType()),     # event time: yyyyMMddHHmmss + 1-9 fraction digits
    T.StructField("sv_file_member", T.StringType()),
    T.StructField("sv_receiver_library", T.StringType()),
    T.StructField("sv_receiver_name", T.StringType()),
    T.StructField("sv_journal_seqno", T.StringType()),
]

#: the change type, and the total order of changes: op timestamp, then
#: transaction id and row sequence
SV_MANIP = "sv_manip_type"
SV_ORDER = ("sv_op_timestamp", "sv_trans_id", "sv_trans_row_seq")


def envelope_schema(payload: T.StructType) -> T.StructType:
    """CDC envelope: 15 sv_* columns + nested after_image payload."""
    return T.StructType(_SV_FIELDS + [T.StructField("after_image", payload)])


# Sink row shape (reference StreamingJob.java:142-151 / sql/output.sql)
OUTPUT_SCHEMA = T.StructType([
    T.StructField("OrderPeriod", T.TimestampType()),
    T.StructField("TotalDue", T.DoubleType()),
    T.StructField("Country", T.StringType()),
    T.StructField("State", T.StringType()),
])

# Driver test tables (TESTDATA.md) — names used by sources.parquet
TEST_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
