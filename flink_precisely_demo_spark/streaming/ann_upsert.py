"""Streaming maintenance of the served ANN index: each micro-batch of
(id, vector, op) mutations — fresh documents, re-embeddings,
takedowns — becomes one delta generation of the LSM index
(operators/ann_index.upsert_ann_index): updates assign to cells under
the existing centroids, deletes become tombstones. Tags, retry
no-ops, the checkpoint binding and scheduled compaction are the
shared sink contract (operators/lsm.index_sink).

Scale: per trigger the work is delta-sized (one assignment scan over
the batch + a cell-partitioned write).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame

from ..operators.ann_index import compact_ann_index, upsert_ann_index
from ..operators.lsm import index_sink, split_mutations


def ann_upsert_sink(index_path: str, id_col: str = "vec_id",
                    vec_col: str = "embedding", op_col: str | None = "op",
                    compact_every: int | None = None):
    """Returns the ``foreachBatch`` function. Batch rows with
    ``op_col == 'D'`` delete their ids; every other row (re)defines
    its id's vector. ``op_col=None`` treats all rows as upserts.
    With ``compact_every=k``, the index compacts whenever k delta
    generations have accumulated."""

    def apply(batch_df: DataFrame, batch_id: int, tag: str) -> None:
        updates, deletes = split_mutations(batch_df, op_col, id_col,
                                           vec_col)
        if updates is not None or deletes is not None:
            upsert_ann_index(batch_df.sparkSession, index_path, updates,
                             deletes, id_col=id_col, vec_col=vec_col,
                             tag=tag)

    return index_sink(index_path, apply,
                      partial(compact_ann_index, id_col=id_col,
                              vec_col=vec_col), compact_every)
