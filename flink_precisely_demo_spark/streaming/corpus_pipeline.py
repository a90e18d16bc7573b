"""End-to-end streaming corpus ingestion: CDC document envelopes ->
text gates -> dedup-at-ingest -> ANN upsert, composed as ONE
foreachBatch pipeline — the streaming twin of the batch
``crawl_to_training_shards`` path, and the integration a real
deployment runs per micro-batch of crawled/captured documents.

Per trigger:

1. **decode** — the raw Kafka-shaped ``value`` strings parse against
   the declared CDC envelope (sources/cdc_json.decode_envelope, the
   reference's schema-driven JSON decode — StreamingJob.java:153-203
   — with a document payload instead of orders) and ``after_image``
   unwraps to (doc_id, text);
2. **gate** — the text-quality gates (functions/text.quality_score >=
   the gate, language_id != 'und') drop garbage BEFORE any state is
   touched: ungated documents consume zero index bytes;
2b. **decontaminate** (optional ``benchmark=``) — documents holding a
   verbatim run of >= 24 exactly-shared consecutive tokens with any
   held-out benchmark document (operators/dedup.substring_contamination
   — the Lee-class exact-substring audit) are CUT before any index
   state is touched, and their ids persist under
   ``decontam/batch=<id>/`` so the disposition is auditable;
3. **dedup-at-ingest** — the gated batch flows through the persisted
   band index's sink (streaming/dedup_ingest.dedup_ingest_sink):
   exactly-once verdicts under ``verdicts/batch=<id>/``, the batch's
   band rows appended as one tagged delta;
4. **ANN upsert** — the batch's NOVEL documents join the embedding
   lookup and upsert into the served ANN index through its sink
   (streaming/ann_upsert.ann_upsert_sink), so similarity serving
   reflects this trigger's accepted documents next trigger;
5. **text-index upsert** (optional ``text_index_path=``) — the same
   novel slice upserts its TEXT into the maintained inverted index
   (streaming/text_index_ingest.text_index_sink), so BM25/phrase
   search serving reflects the trigger too. Unlike the ANN leg there
   is no lookup dependency: every novel document is searchable.

Idempotence composes from the parts: both index sinks carry the
``b<batch_id>`` writer-tag contract (an applied batch no-ops on
retry), the verdict write is an overwrite of its own batch dir, and
the ANN leg reads the PERSISTED verdicts — so a retry that crashed
between the dedup append and the ANN upsert resumes with identical
inputs (the verdicts are already on disk) and the dedup leg no-ops.

Scale: every stage is batch-sized — JSON decode and gates are
scan-stage column expressions, the dedup leg shuffles band digests
(never historical text), the ANN leg assigns the novel slice under
the frozen centroids and writes one cell-partitioned delta. The
historical corpus is never re-read; compaction amortizes across
``compact_every`` triggers on both indexes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import language_id, quality_score
from ..schemas import DOCS_PAYLOAD
from ..sources.cdc_json import decode_envelope, envelope, flatten_after_image
from .ann_upsert import ann_upsert_sink
from .dedup_ingest import dedup_ingest_sink
from .pipeline import drain
from .text_index_ingest import text_index_sink

DEFAULT_QUALITY_GATE = 0.4


def synthesize_documents_envelope(docs: DataFrame,
                                  extra_cols=None) -> DataFrame:
    """Wrap (doc_id, text) rows in reference-shaped CDC envelope JSON
    lines — the document twin of cdc_json.synthesize_orders_envelope,
    standing in for the Kafka capture topic (no broker in this
    environment). Deterministic: every field derives from the row."""
    payload = F.struct(F.col("doc_id"), F.col("text"))
    value = F.to_json(envelope(
        F.col("doc_id"), F.lit("20240101000000.000001"), payload,
        table="CRAWL.DOCUMENTS"))
    return docs.select(value.alias("value"), *(extra_cols or []))


def corpus_ingest_sink(band_index_path: str, ann_index_path: str,
                       verdicts_path: str, embeddings: DataFrame,
                       quality_gate: float = DEFAULT_QUALITY_GATE,
                       compact_every: int | None = None,
                       id_col: str = "doc_id", text_col: str = "text",
                       benchmark: DataFrame | None = None,
                       decontam_path: str | None = None,
                       text_index_path: str | None = None):
    """Returns the composed ``foreachBatch`` function. ``embeddings``
    is the (id_col, embedding) lookup side — novel documents without
    an embedding are accepted into the corpus but not indexed for
    similarity (the standard embed-lag seam; they index when their
    vector arrives as a later mutation).

    ``benchmark`` (an (id_col, text_col) DataFrame, with
    ``decontam_path``) turns on the exact-substring decontamination
    gate: each trigger's gated batch is audited against the held-out
    split and contaminated documents are cut before the dedup/ANN
    legs, their ids persisted under ``decontam/batch=<id>/`` (an
    overwrite of the batch's own dir — idempotent on retry, same as
    the verdicts). Benchmarks are small and immutable, so callers
    that drive many triggers should pass a persisted/cached
    ``benchmark`` frame; its window table is recomputed per trigger
    from whatever plan the frame carries."""
    if benchmark is not None and decontam_path is None:
        raise ValueError("benchmark requires decontam_path")
    dedup = dedup_ingest_sink(band_index_path, verdicts_path,
                              text_col=text_col, id_col=id_col,
                              compact_every=compact_every)
    ann = ann_upsert_sink(ann_index_path, id_col=id_col,
                          vec_col="embedding", op_col=None,
                          compact_every=compact_every)
    tix = (text_index_sink(text_index_path, text_col=text_col,
                           id_col=id_col, op_col=None,
                           compact_every=compact_every)
           if text_index_path is not None else None)
    emb = embeddings.select(id_col, "embedding")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.dedup import substring_contamination

        spark = batch_df.sparkSession
        docs = flatten_after_image(
            decode_envelope(batch_df, DOCS_PAYLOAD))
        gated = docs.filter(
            (quality_score(text_col) >= F.lit(quality_gate))
            & (language_id(text_col) != F.lit("und")))
        if benchmark is not None:
            contam = (substring_contamination(
                          gated, benchmark,
                          text_col=text_col, id_col=id_col)
                      .select(F.col("train_id").alias(id_col))
                      .distinct())
            ddir = os.path.join(decontam_path, f"batch={batch_id}")
            contam.write.mode("overwrite").parquet(ddir)
            # cut against the PERSISTED ids (same retry-consistency
            # rationale as the ANN leg below)
            gated = gated.join(spark.read.parquet(ddir),
                               id_col, "left_anti")
        if gated.isEmpty():
            return                       # fully-gated-out trigger
        dedup(gated, batch_id)
        # ANN leg inputs come from the PERSISTED verdicts, not the
        # in-memory frame: a retry that died between the dedup append
        # and the ANN upsert replays from identical on-disk state
        vdir = os.path.join(verdicts_path, f"batch={batch_id}")
        novel = (spark.read.parquet(vdir)
                 .filter(F.col("is_novel")).select(id_col))
        ann(novel.join(emb, id_col), batch_id)
        if tix is not None:
            # the gated frame recomputes identically on retry
            # (deterministic decode/gates + the PERSISTED decontam
            # cut), so the text leg's inputs are retry-consistent
            # like the ANN leg's
            tix(novel.join(gated.select(id_col, text_col), id_col),
                batch_id)

    return apply_batch


def run_corpus_ingest(raw: DataFrame, band_index_path: str,
                      ann_index_path: str, verdicts_path: str,
                      embeddings: DataFrame, checkpoint: str, **kwargs):
    """Drain a streaming DataFrame of CDC JSON ``value`` lines through
    the composed sink (availableNow). Returns the finished query."""
    return drain(raw, corpus_ingest_sink(band_index_path,
                                         ann_index_path, verdicts_path,
                                         embeddings, **kwargs),
                 checkpoint, "corpus ingest")
