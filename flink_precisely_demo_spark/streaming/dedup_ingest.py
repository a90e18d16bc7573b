"""Streaming dedup-at-ingest: each micro-batch of documents is
labeled against the persisted band index, its verdicts land
exactly-once, and its accepted band rows append as one tagged delta
generation — so the NEXT trigger's documents are checked against
this trigger's. On an index that carries cluster state (built with
``clusters=True``), each batch's per-bucket link edges ride the same
delta, so near-dup CLUSTER membership is maintained across triggers
too (operators/dedup_index.cluster_labels folds it; compaction
collapses the forest).

Tags, retry no-ops, the checkpoint binding and scheduled compaction
are the shared sink contract (operators/lsm.index_sink). Verdicts
are additionally idempotent on their own: each batch writes
``<verdicts_path>/batch=<id>/`` with overwrite semantics, so a retry
that died between the verdict write and the delta publish rewrites
the same rows instead of duplicating them.

Scale: per trigger the work is batch-sized — band the batch, one
bucket-grouped min-aggregation against the index digests, one
delta-partitioned write; the historical corpus's text is never
touched.
"""

from __future__ import annotations

import os
from functools import partial

from pyspark.sql import DataFrame

from ..operators.dedup import _minhash_banded
from ..operators.dedup_index import (
    append_bands,
    compact_band_index,
    ingest_batch,
    ingest_cluster_edges,
    verdicts_from_edges,
)
from ..operators.lsm import index_sink


def dedup_ingest_sink(index_path: str, verdicts_path: str,
                      text_col: str = "text", id_col: str = "doc_id",
                      num_hashes: int = 16, bands: int = 4,
                      shingle_n: int = 3, max_bucket_size: int = 1024,
                      compact_every: int | None = None):
    """Returns the ``foreachBatch`` function: label the batch, write
    verdicts exactly-once, append the batch's bands as a tagged
    delta, compact every ``compact_every`` published generations."""

    def apply(batch_df: DataFrame, batch_id: int, tag: str) -> None:
        spark = batch_df.sparkSession
        # band the batch ONCE: both the verdict computation and the
        # delta append consume the persisted band rows, so the
        # shingle -> minhash -> band lineage (the dominant per-batch
        # cost) runs a single time per trigger
        banded = _minhash_banded(batch_df, text_col, id_col,
                                 num_hashes, bands, shingle_n).persist()
        edges = None
        try:
            # cluster maintenance rides automatically when the index
            # carries cluster state (built with clusters=True): the
            # batch's per-bucket link edges land in the same delta as
            # its bands. When edges are computed, the verdicts DERIVE
            # from them
            # (verdicts_from_edges — the global min over per-bucket
            # links IS the verdict), so the index-band candidate pass
            # runs once per trigger, not twice; edges persist because
            # both the verdict write and the delta append consume
            # them.
            if os.path.isdir(os.path.join(index_path, "clusters")):
                edges = ingest_cluster_edges(
                    spark, index_path, text_col=text_col, id_col=id_col,
                    num_hashes=num_hashes, bands=bands,
                    shingle_n=shingle_n,
                    max_bucket_size=max_bucket_size,
                    banded=banded).persist()
                verdicts = verdicts_from_edges(batch_df, edges, id_col)
            else:
                verdicts = ingest_batch(spark, index_path, batch_df,
                                        text_col=text_col, id_col=id_col,
                                        num_hashes=num_hashes,
                                        bands=bands, shingle_n=shingle_n,
                                        max_bucket_size=max_bucket_size,
                                        banded=banded)
            verdicts.write.mode("overwrite").parquet(
                os.path.join(verdicts_path, f"batch={batch_id}"))
            append_bands(spark, index_path, batch_df, text_col=text_col,
                         id_col=id_col, num_hashes=num_hashes,
                         bands=bands, shingle_n=shingle_n, tag=tag,
                         banded=banded, cluster_edges=edges)
        finally:
            banded.unpersist()
            if edges is not None:
                edges.unpersist()

    return index_sink(index_path, apply,
                      partial(compact_band_index, id_col=id_col),
                      compact_every)
