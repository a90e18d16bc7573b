"""Streaming CDC upsert sink: foreachBatch MERGE-style materialization.

The reference's pipeline only ever appends windowed aggregates; a
CDC consumer usually wants the *current table state* maintained
incrementally. Structured Streaming's idiom for that is
``foreachBatch`` + an idempotent merge into a keyed store — on a
lakehouse this is ``MERGE INTO`` against Delta/Iceberg; here the
same semantics are built on plain parquet with versioned state
directories:

- batch N merges (previous state ∪ new envelope rows) -> latest row
  per key -> writes ``state_v{N}``. The merge reads only versions
  < N, so replaying batch N after a crash rewrites the SAME
  ``state_v{N}`` from the SAME inputs — exactly-once state through
  idempotent rewrite, the standard foreachBatch recipe.
- tombstones stay in the store (operators/cdc_apply.latest_per_key):
  a delete wins over any older change that arrives later, across
  batch boundaries. Readers filter them out.

Scale note: the merge shuffles only keys that appear in the store ∪
batch (one hash partition by __pk); on a real deployment the store
is a partitioned table and the rewrite touches only partitions with
changed keys (here: whole-store rewrite, fine for the state sizes a
demo carries; the operator boundary is the same either way).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc_apply import flatten_envelope, latest_per_key
from .pipeline import drain

_STATE_RE = re.compile(r"^state_v(\d+)$")


def _versions(path: str) -> list[int]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(int(m.group(1)) for n in names
                  if (m := _STATE_RE.match(n)))


def _latest_version_before(path: str, batch_id: int) -> int | None:
    prior = [v for v in _versions(path) if v < batch_id]
    return prior[-1] if prior else None


def cdc_upsert_sink(target_path: str, pk: str,
                    ts_col: str = "sv_op_timestamp",
                    manip_col: str = "sv_manip_type",
                    seq_cols: tuple[str, ...] = ("sv_trans_id", "sv_trans_row_seq")):
    """Returns the ``foreachBatch`` function: merge each micro-batch
    of envelope rows into the versioned state store at ``target_path``."""
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # State versions are keyed to Spark's batch_id, which restarts
        # at 0 when a query runs with a fresh/deleted checkpoint. If
        # that happens against an EXISTING store, merges would silently
        # ignore all live state (versions < 0 is empty) while readers
        # keep serving the stale old max version — fail fast instead.
        # batch_id == an existing version is a legitimate foreachBatch
        # retry (the overwrite below is idempotent); only strictly
        # NEWER live versions indicate a checkpoint/store mismatch.
        newer = [v for v in _versions(target_path) if v > batch_id]
        if newer:
            raise RuntimeError(
                f"cdc_upsert_sink: store {target_path!r} already holds "
                f"state_v{max(newer)} but this query is writing batch "
                f"{batch_id} — the checkpoint does not belong to this "
                "store (deleted/replaced checkpoint?). Restore the "
                "matching checkpoint or point the sink at a new path.")
        flat = flatten_envelope(batch_df, pk, ts_col, manip_col, seq_cols)
        prev = _latest_version_before(target_path, batch_id)
        if prev is not None:
            existing = spark.read.parquet(
                os.path.join(target_path, f"state_v{prev}"))
            flat = existing.unionByName(flat)
        merged = latest_per_key(flat, len(seq_cols))
        merged.write.mode("overwrite").parquet(
            os.path.join(target_path, f"state_v{batch_id}"))
    return apply_batch


def run_cdc_upsert(envelopes: DataFrame, target_path: str, pk: str,
                   checkpoint: str, **kwargs):
    """Wire a streaming envelope DataFrame into the upsert sink and
    drain it (availableNow). Returns the StreamingQuery."""
    return drain(envelopes, cdc_upsert_sink(target_path, pk, **kwargs),
                 checkpoint, "CDC upsert")


def vacuum_store(target_path: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` state versions (the older
    ones exist only to make crash-replay idempotent — once the
    checkpoint has committed past batch N, versions < N-1 are dead
    weight). Returns the removed version numbers. ``keep >= 2`` keeps
    replay of the newest batch safe."""
    import shutil

    assert keep >= 2, "keep < 2 would break replay idempotence"
    versions = _versions(target_path)
    doomed = versions[:-keep] if len(versions) > keep else []
    for v in doomed:
        shutil.rmtree(os.path.join(target_path, f"state_v{v}"),
                      ignore_errors=True)
    return doomed


def cdc_current_state(spark: SparkSession, target_path: str) -> DataFrame:
    """Read the materialized current state (tombstones filtered,
    payload unwrapped) from the newest store version."""
    versions = _versions(target_path)
    if not versions:
        raise FileNotFoundError(f"no state under {target_path}")
    store = spark.read.parquet(
        os.path.join(target_path, f"state_v{versions[-1]}"))
    fields = store.schema["after_image"].dataType.fieldNames()
    return (store.filter(F.col("__manip") != "D")
                 .select(*[F.col(f"after_image.{c}") for c in fields]))
