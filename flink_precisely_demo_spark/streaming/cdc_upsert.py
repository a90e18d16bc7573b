"""Streaming CDC upsert sink: foreachBatch MERGE-style materialization.

The reference's pipeline only ever appends windowed aggregates; a
CDC consumer usually wants the *current table state* maintained
incrementally. Structured Streaming's idiom for that is
``foreachBatch`` + an idempotent merge into a keyed store — on a
lakehouse this is ``MERGE INTO`` against Delta/Iceberg; here the
same semantics are built on plain parquet as an LSM generation store
(operators/lsm.py, which owns publish, retry and binding rules):

- batch N publishes its flattened envelope rows
  (operators/cdc_apply.flatten_envelope) as one delta tagged
  ``b<N>``; no trigger reads or rewrites the store;
- the current state is the latest row per key over every generation
  (operators/enrichment_join.latest_per_key). Tombstones stay in the
  store, also through compaction: a delete wins over any older
  change that arrives later, across batch boundaries. Readers filter
  them out;
- ``compact_every`` folds the generations into one latest-per-key
  base, which bounds the read width on an unbounded stream.

Scale note: a trigger costs one write of its own rows; the
latest-per-key shuffle is paid by readers and by compaction. On a
real deployment the store is a partitioned table and compaction
rewrites only partitions with changed keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc_apply import flatten_envelope
from ..operators.enrichment_join import latest_per_key
from ..operators.lsm import (
    all_generations,
    compact_generations,
    ensure_base,
    index_sink,
    new_delta,
)


def _latest(store: DataFrame) -> DataFrame:
    """Latest row per key, tombstones kept."""
    return latest_per_key(store, "__pk", "__ts", ["__seq0", "__seq1"])


def compact_store(spark: SparkSession, target_path: str) -> int:
    """Fold every generation into one latest-per-key base, tombstones
    kept; returns the number of generations folded."""
    return compact_generations(spark, target_path, "state", _latest)


def cdc_upsert_sink(target_path: str, pk: str, compact_every: int = 16):
    """Returns the ``foreachBatch`` function: publish each micro-batch
    of envelope rows into the store at ``target_path``, folding it
    every ``compact_every`` generations."""

    def apply(batch_df: DataFrame, batch_id: int, tag: str) -> None:
        flat = flatten_envelope(batch_df, pk)
        ensure_base(target_path, "state", flat)
        with new_delta(target_path, tag) as (stage, _):
            flat.write.parquet(f"{stage}/state")

    return index_sink(target_path, apply, compact_store, compact_every)


def cdc_current_state(spark: SparkSession, target_path: str) -> DataFrame:
    """Read the materialized current state (tombstones filtered,
    payload unwrapped) from every published generation."""
    store = all_generations(spark, target_path, "state")
    return (_latest(store).filter(F.col("__manip") != "D")
            .select("after_image.*"))
