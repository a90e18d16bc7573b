"""Streaming maintenance of the exact-substring anchor index. Each
micro-batch of fresh documents:

1. folds its own text ONCE into stride-1 window hashes,
2. optionally runs the ingest-shaped query — "which verbatim spans
   does this batch share with the absorbed corpus?" — off that fold
   (``ingest_substring_spans(windows=...)``), writing the spans to a
   per-batch output dir in overwrite mode, so a retried batch
   re-writes rather than duplicates, and
3. appends the fold as one tagged window delta
   (``append_windows(windows=...)``).

A retried batch whose tag is already absorbed re-emits NOTHING: the
previous attempt's overwrite-mode span write either completed or the
whole batch re-runs (tag absent). Tags, the checkpoint binding and
scheduled compaction are the shared sink contract
(operators/lsm.index_sink).

Scale: per trigger the work is batch-sized (one O(n·k) window fold
over the batch text + the stats-gated anchor join against matching
absorbed hashes only); historical text is never re-read.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame

from ..operators.dedup import sliding_window_hashes
from ..operators.lsm import index_sink, read_manifest
from ..operators.substring_index import (
    append_windows,
    compact_substring_index,
    ingest_substring_spans,
)


def substring_index_sink(index_path: str, text_col: str = "text",
                         id_col: str = "doc_id",
                         spans_out: str | None = None,
                         min_len: int = 24,
                         compact_every: int | None = None):
    """Returns the ``foreachBatch`` function. With ``spans_out``,
    each batch's against-corpus span set lands at
    ``spans_out/batch=<id>/`` (overwrite per batch — retry-safe)."""

    def apply(batch_df: DataFrame, batch_id: int, tag: str) -> None:
        spark = batch_df.sparkSession
        k = read_manifest(index_path)["k"]
        w = sliding_window_hashes(batch_df, text_col, id_col,
                                  k).persist()
        try:
            if spans_out is not None:
                spans = ingest_substring_spans(
                    spark, index_path, batch_df, text_col=text_col,
                    id_col=id_col, min_len=min_len, windows=w)
                spans.write.mode("overwrite").parquet(
                    os.path.join(spans_out, f"batch={batch_id}"))
            append_windows(spark, index_path, batch_df,
                           text_col=text_col, id_col=id_col,
                           tag=tag, windows=w)
        finally:
            w.unpersist()

    return index_sink(index_path, apply, compact_substring_index,
                      compact_every)
