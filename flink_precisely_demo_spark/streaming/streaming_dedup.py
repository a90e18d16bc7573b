"""Streaming NEAR-duplicate dedup: micro-batch minhash + LSH-bucket
state store.

``dropDuplicatesWithinWatermark`` covers exact dedup only. A training
-data ingest stream also needs near-dup suppression ("this crawled
page is a boilerplate variant of one we already kept"), which no
built-in stateful operator expresses. The streaming formulation here
reuses the batch minhash kernels (operators/dedup.py — the SAME
signature family, band layout and bucket rule as the oracle-checked
batch operators) under ``foreachBatch`` with a persistent bucket
store:

- per micro-batch, compute each document's LSH band digests
  (``_minhash_banded``: Arrow-batched map-side signatures, one
  groupBy shuffle of 16 longs per doc);
- a doc is suppressed if ANY of its band digests matches the store
  (near-dup of an earlier-batch survivor) or a smaller-id doc in the
  same batch (the batch operators' keep=min rule, applied per
  bucket);
- survivors' rows land in ``<out_path>/batch=<id>/`` (overwrite, so a
  retry rewrites the same rows) and their band digests are published
  as one tagged delta of the bucket store, an LSM generation store
  (operators/lsm.py owns publish, retry, binding and compaction).

Scale: the per-batch work is the batch kernel's (map-side signatures,
band-key equi-joins — no pairwise comparison anywhere); the bucket
store grows with the number of SURVIVORS × bands and is equi-joined
on (band_id, band_key) each batch. Every ``compact_every``
generations the deltas fold into one distinct base, so the per-batch
read is the base plus at most ``compact_every`` deltas no matter how
long the stream has run.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import _minhash_banded
from ..operators.lsm import (
    all_generations,
    compact_generations,
    ensure_base,
    index_sink,
    new_delta,
)

BUCKET_SCHEMA = "band_id int, band_key string"


def compact_buckets(spark: SparkSession, store_path: str) -> int:
    """Fold every generation into one distinct base; returns the
    number of generations folded."""
    return compact_generations(spark, store_path, "buckets",
                               DataFrame.distinct)


def near_dup_dedup_sink(store_path: str, out_path: str,
                        text_col: str = "text", id_col: str = "doc_id",
                        num_hashes: int = 16, bands: int = 4,
                        shingle_n: int = 3, compact_every: int = 16):
    """Returns the ``foreachBatch`` function. ``store_path`` holds the
    LSH bucket store, ``out_path`` the surviving rows; the store
    folds every ``compact_every`` generations."""

    def apply(batch_df: DataFrame, batch_id: int, tag: str) -> None:
        banded = _minhash_banded(batch_df.select(id_col, text_col),
                                 text_col, id_col, num_hashes, bands,
                                 shingle_n).persist()
        surv_buckets = None
        try:
            ensure_base(store_path, "buckets",
                        banded.select("band_id", "band_key"))
            known = all_generations(batch_df.sparkSession, store_path,
                                    "buckets", BUCKET_SCHEMA)
            cross_dup = (banded.join(known, ["band_id", "band_key"],
                                     "leftsemi")
                         .select(id_col))

            # in-batch rule: suppressed if a smaller id shares a
            # bucket. Mins are computed over the FULL batch — including
            # cross-batch-suppressed docs — so a chain B~A~store
            # suppresses B exactly as one batch run over
            # (prior survivors + this batch) would: A still rules its
            # in-batch bucket even when the store suppresses A itself.
            mins = banded.groupBy("band_id", "band_key") \
                         .agg(F.min(id_col).alias("__keep"))
            in_dup = (banded.join(mins, ["band_id", "band_key"])
                            .filter(F.col(id_col) > F.col("__keep"))
                            .select(id_col))
            suppressed = in_dup.unionByName(cross_dup).distinct()
            # persisted: the survivors write computes it, the delta
            # publish reuses it instead of re-running the suppression
            surv_buckets = banded.join(suppressed, id_col,
                                       "left_anti").persist()

            # null-text rows have no signature (the kernels drop them
            # by null propagation): they can't be near-dups of
            # anything, so they pass through rather than vanish
            survivors = batch_df.join(
                surv_buckets.select(id_col).distinct(),
                id_col, "leftsemi").unionByName(
                batch_df.filter(F.col(text_col).isNull()))
            survivors.write.mode("overwrite").parquet(
                os.path.join(out_path, f"batch={batch_id}"))
            with new_delta(store_path, tag) as (stage, _):
                surv_buckets.select("band_id", "band_key") \
                    .write.parquet(f"{stage}/buckets")
        finally:
            banded.unpersist()
            if surv_buckets is not None:
                surv_buckets.unpersist()

    return index_sink(store_path, apply, compact_buckets, compact_every)


def dedup_survivors(spark: SparkSession, out_path: str) -> DataFrame:
    """All surviving rows across batches (plus the ``batch``
    partition column)."""
    return spark.read.parquet(out_path)
