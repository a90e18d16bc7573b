"""Flagship pipeline — the reference's end-to-end query, Spark-first.

Reference (StreamingJob.java:66-135 + sql/output.sql): three CDC
streams; address enriched with states on StateProvinceID, orders
enriched with address+state on AddressId; then

    SELECT TUMBLE_START(OrderAsOf, 10 min) AS OrderPeriod,
           SUM(TotalDue) AS TotalDue, CountryRegionCode, StateName
    GROUP BY CountryRegionCode, StateName, TUMBLE(OrderAsOf, 10 min)

On the driver tables the same topology is orders ⋈ customer ⋈ nation
⋈ region (two-hop enrichment standing in for orders→address→states,
FIXTURES.md §B role mapping): Country := r_name, State := n_name,
OrderAsOf := o_orderdate, TotalDue := o_totalprice.

Physical shape (checked with .explain — see tests/test_flagship.py):
nation (25 rows) and region (5 rows) broadcast; customer broadcasts
only under the measured hint_broadcast_if_small bound and shuffles
past it; the single big
shuffle is the hash aggregation on (Country, State, window), with
map-side partial aggregation. No Python anywhere in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.broadcast import hint_broadcast_if_small
from ..operators.enrichment_join import enrich
from ..operators.windowed_agg import output_sql
from ..sources.parquet import load_table


def flagship_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⋈ customer ⋈ nation ⋈ region → tumbling SUM(TotalDue)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    region = load_table(spark, sf_dir, "region")

    # two-hop enrichment: customer+nation plays address+states
    # (reference StreamingJob.java:112-113). Dim sides are tiny →
    # broadcast, so the fact table never shuffles for the joins.
    dim = enrich(
        customer.withColumnRenamed("c_nationkey", "n_nationkey"),
        F.broadcast(nation), "n_nationkey")
    dim = enrich(dim.withColumnRenamed("n_regionkey", "r_regionkey"),
                 F.broadcast(region), "r_regionkey")

    fact = orders.withColumnRenamed("o_custkey", "c_custkey") \
                 .withColumn("OrderAsOf", F.col("o_orderdate")) \
                 .withColumn("TotalDue", F.col("o_totalprice"))
    # customer GROWS with SF: hint only under the measured bound,
    # above it the join degrades to shuffle (the unconditional hint
    # here contradicted this module's own 100 TB claim — r9 advisory
    # family)
    enriched = enrich(fact, hint_broadcast_if_small(dim), "c_custkey") \
        .withColumn("Country", F.col("r_name")) \
        .withColumn("State", F.col("n_name"))
    return output_sql(enriched)
