"""Fully-streaming flagship: all three CDC sources as streams, both
enrichment hops stateful — the reference's exact topology
(StreamingJob.java:112-113: address ⋈ states, then orders ⋈ that).

Engine-model difference this module encodes: Flink runs N keyed
co-process operators + a window agg in ONE job graph; Structured
Streaming allows ONE arbitrary stateful operator per query
("Multiple applyInPandasWithStates are not supported" — verified).
The production shape is therefore a STAGED topology: each stateful
hop is its own streaming query writing an append-only, replayable
stage (files here; Kafka topics in a real deployment — which is how
multi-job Flink pipelines are composed too), and the windowed
aggregation is the final query. Exactly-once composition comes from
per-stage checkpoints + replayable stages.

Stage graph:

  q1: states-stream ⋈ address-stream   (stateful)  -> stage1 files
  q2: stage1-stream ⋈ orders-stream    (stateful)  -> stage2 files
  q3: stage2-stream -> watermark -> 10-min tumble SUM -> result

Each hop keys by its own join key — the same two shuffles the
reference's keyBy pair performs; stages add sequential-read cost but
no extra shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.windowed_agg import output_sql
from .pipeline import drain_query
from .replay_stage import feed_rows, shuffle_partitions, state_layout
from .stateful_join import enrich_stream


def _run_stage(spark: SparkSession, inputs: list[str], path: str,
               timeout: int, *join, **join_kw) -> T.StructType:
    """Run ``enrich_stream(*join, **join_kw)`` as its own query into the
    JSON stage ``path`` (checkpoint ``path + "_ck"``), its state sized
    from the rows of its ``inputs``; returns the stage's schema."""
    with shuffle_partitions(spark, *state_layout(spark, feed_rows(*inputs))):
        joined = enrich_stream(*join, **join_kw)
        q = (joined.writeStream.outputMode("append")
             .format("json").option("path", path)
             .option("checkpointLocation", path + "_ck")
             .trigger(availableNow=True).start())
        drain_query(q, timeout, f"replay stage {os.path.basename(path)}")
    return joined.schema


def streaming_flagship_full(spark: SparkSession, orders_dir: str,
                            address_dir: str, states_dir: str,
                            work_dir: str, timeout: int = 120) -> DataFrame:
    """Drive the staged topology to completion (availableNow per
    stage) and return the final windowed result as a batch DataFrame.
    A stage still running after ``timeout`` seconds raises
    ``TimeoutError`` instead of returning partial output.

    Inputs are JSON-lines directories of already-projected rows (the
    sql/{orders,address,states}.sql shapes); production would point
    q1/q2 at Kafka topics and leave all three queries running. Each
    stage is read back with the schema of the join that wrote it.
    Each query sizes its state partitions and key groups from its own
    input (``replay_stage.state_layout``): q2 reads the orders plus
    stage1, q3 reads stage2.
    """
    stage1 = os.path.join(work_dir, "stage1")
    stage2 = os.path.join(work_dir, "stage2")

    states = spark.readStream.schema(
        "StateProvinceID int, CountryRegionCode string, StateName string, "
        "StatesAsOf double").json(states_dir)
    address = spark.readStream.schema(
        "AddressID int, City string, StateProvinceID int, "
        "AddressAsOf double").json(address_dir)

    # hop 1 (reference :112): address enriched with states
    schema1 = _run_stage(spark, [address_dir, states_dir], stage1, timeout,
                         address, states, "StateProvinceID", "AddressAsOf",
                         dim_order_col="StatesAsOf")

    orders = spark.readStream.schema(
        "SalesOrderId int, AddressId int, TotalDue double, "
        "OrderAsOf timestamp").json(orders_dir)
    # hop 2 (reference :113): orders ⋈ enriched address; the quirk-1
    # case mismatch (AddressId vs AddressID) is resolved by renaming
    dim = (spark.readStream.schema(schema1).json(stage1)
           .withColumnRenamed("AddressID", "AddressId"))
    schema2 = _run_stage(spark, [orders_dir, stage1], stage2, timeout,
                         orders, dim, "AddressId", "OrderAsOf",
                         dim_order_col="AddressAsOf")

    # final window agg (sql/output.sql) over the staged stream
    agg = output_sql(
        spark.readStream.schema(schema2).json(stage2)
        .withWatermark("OrderAsOf", "10 minutes")
        .withColumnsRenamed({"CountryRegionCode": "Country",
                             "StateName": "State"}))
    with shuffle_partitions(spark, *state_layout(spark, feed_rows(stage2))):
        q = (agg.writeStream.outputMode("complete")
             .format("memory").queryName("flagship_full")
             .option("checkpointLocation", os.path.join(work_dir, "ck3"))
             .trigger(availableNow=True).start())
        drain_query(q, timeout, "flagship_full window aggregation")
    return spark.sql("SELECT * FROM flagship_full")
