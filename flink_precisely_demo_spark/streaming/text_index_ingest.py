"""Streaming maintenance of the served inverted text index: each
micro-batch of document mutations — fresh pages, re-crawled texts,
takedowns — becomes one delta generation of the LSM inverted index
(operators/text_index.upsert_text_index): update rows re-tokenize,
deletes become tombstones. Tags, retry no-ops, the checkpoint
binding and scheduled compaction are the shared sink contract
(operators/lsm.index_sink).

Scale: per trigger the work is batch-sized (one tokenize pass +
bucket-partitioned write).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.lsm import index_sink, split_mutations
from ..operators.text_index import compact_text_index, upsert_text_index


def text_index_sink(index_path: str, text_col: str = "text",
                    id_col: str = "doc_id", op_col: str | None = "op",
                    compact_every: int | None = None):
    """Returns the ``foreachBatch`` function. Batch rows with
    ``op_col == 'D'`` delete their ids; every other row (re)defines
    its document's postings from ``text_col``. ``op_col=None``
    treats all rows as upserts. With ``compact_every=k``, the index
    compacts whenever k delta generations have accumulated."""

    def apply(batch_df: DataFrame, batch_id: int, tag: str) -> None:
        updates, deletes = split_mutations(batch_df, op_col, id_col,
                                           text_col)
        if updates is not None or deletes is not None:
            upsert_text_index(batch_df.sparkSession, index_path, updates,
                              deletes, tag=tag)

    return index_sink(index_path, apply, compact_text_index,
                      compact_every)
