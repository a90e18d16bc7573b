"""Tumbling event-time window aggregation (W2/W3/A1).

Reference: ``TUMBLE(OrderAsOf, INTERVAL '10' MINUTE)`` +
``TUMBLE_START`` + ``SUM(TotalDue)`` grouped by two key columns
(reference sql/output.sql:1-11). Spark's ``F.window`` is the direct
equivalent: epoch-aligned fixed windows, window.start == TUMBLE_START.

Numeric determinism: double summation is order-dependent, and a
distributed engine makes no ordering promise — so cross-engine
comparisons (and cross-run stability at 100 TB) use exact decimal
accumulation: cast to DECIMAL, sum (exact), cast back. ``sum_exact``
encapsulates that.

Scale: groupBy(window, keys) is one shuffle with map-side partial
aggregation; AQE coalesces post-shuffle partitions. Window state in
streaming mode is bounded by the watermark (L1).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import OUTPUT_SCHEMA


def sum_exact(col: Column | str, scale: int = 6) -> Column:
    """Order-independent SUM for double columns: exact decimal
    accumulation, result cast back to double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


def sum_exact_decimal(col: Column | str, scale: int = 6) -> Column:
    """Order-independent SUM that STAYS decimal — for intermediates a
    downstream aggregation will re-sum. ``sum_exact``'s trailing
    ``.cast("double")`` is fine for final outputs, but re-casting that
    double BACK to decimal for a second exact sum creates a
    double→decimal→double round-trip where Spark (shortest-string
    BigDecimal, HALF_UP) and other engines (round the exact binary
    value, e.g. DuckDB) can disagree by one ULP on boundary values —
    the r13 ``skew_salted_join`` driver red. Keeping the intermediate
    DECIMAL leaves exactly ONE rounding site (the final
    decimal→double), which every engine performs identically
    (round-to-nearest of an exact decimal value)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})"))


def avg_exact(col: Column | str, scale: int = 6) -> Column:
    """Order-stable AVG: exact decimal sum divided by count, at a
    fixed result scale, cast back to double."""
    c = F.col(col) if isinstance(col, str) else col
    total = F.sum(c.cast(f"decimal(28,{scale})"))
    return (total / F.count(c)).cast(f"decimal(38,{scale})").cast("double")


def tumbling_window_agg(df: DataFrame, time_col: str, duration: str,
                        keys: list[str], aggs: list[Column],
                        window_start_alias: str = "window_start") -> DataFrame:
    """groupBy(window(time_col, duration), *keys).agg(*aggs) with the
    window start projected out (W3, TUMBLE_START)."""
    grouped = df.groupBy(F.window(F.col(time_col), duration), *keys).agg(*aggs)
    cols = [F.col("window.start").alias(window_start_alias)] + \
           [F.col(k) for k in keys] + \
           [F.col(c) for c in grouped.columns if c not in {"window", *keys}]
    return grouped.select(*cols)


def output_sql(df: DataFrame) -> DataFrame:
    """sql/output.sql: the 10-minute tumbling ``SUM(TotalDue)`` by
    ``Country`` and ``State`` of a frame with ``OrderAsOf``,
    ``TotalDue``, ``Country`` and ``State``, with the window start as
    ``OrderPeriod``, in the sink's column order (reference
    StreamingJob.java:142-151). A streaming caller sets the
    watermark on ``OrderAsOf`` first."""
    return tumbling_window_agg(
        df, "OrderAsOf", "10 minutes", ["Country", "State"],
        [sum_exact("TotalDue").alias("TotalDue")],
        window_start_alias="OrderPeriod").select(*OUTPUT_SCHEMA.names)
