"""Composed streaming corpus pipeline (streaming/corpus_pipeline.py):
decode fidelity, gate placement, retry idempotence across BOTH index
legs, and crash-resume between the dedup append and the ANN upsert."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_precisely_demo_spark.functions.text import (
    language_id,
    quality_score,
)
from flink_precisely_demo_spark.operators.ann_index import (
    _live_vectors,
    build_ann_index,
)
from flink_precisely_demo_spark.operators.dedup_index import (
    build_band_index,
)
from flink_precisely_demo_spark.operators.lsm import (
    _delta_dirs,
    applied_tags,
)
from flink_precisely_demo_spark.sources.cdc_json import (
    decode_envelope,
    flatten_after_image,
)
from flink_precisely_demo_spark.sources.parquet import load_table
from flink_precisely_demo_spark.streaming.corpus_pipeline import (
    DEFAULT_QUALITY_GATE,
    DOCS_PAYLOAD,
    corpus_ingest_sink,
    synthesize_documents_envelope,
)

SF = "/root/testdata/sf0.001"


def _fixture(spark, tmp_path):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    emb = load_table(spark, SF, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding")
    gate = ((quality_score("text") >= F.lit(DEFAULT_QUALITY_GATE))
            & (language_id("text") != F.lit("und")))
    hist = docs.filter((F.col("doc_id") % 5 != 0) & gate)
    band = str(tmp_path / "band")
    ann = str(tmp_path / "ann")
    verd = str(tmp_path / "verd")
    build_band_index(hist, band)
    build_ann_index(hist.select("doc_id").join(emb, "doc_id"), ann,
                    id_col="doc_id")
    batch = synthesize_documents_envelope(
        docs.filter(F.col("doc_id") % 10 == 0))
    return docs, emb, band, ann, verd, batch


def _state(spark, band, ann, verd):
    return (
        sorted(t for t, _ in _delta_dirs(band)),
        sorted(t for t, _ in _delta_dirs(ann)),
        sorted(map(tuple, spark.read.parquet(
            os.path.join(verd, "batch=0")).collect())),
        sorted(int(r["doc_id"]) for r in _live_vectors(
            spark, ann, "doc_id", "embedding").select("doc_id").collect()),
    )


def test_envelope_roundtrip_is_lossless(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    back = flatten_after_image(decode_envelope(
        synthesize_documents_envelope(docs), DOCS_PAYLOAD))
    assert back.exceptAll(docs).isEmpty()
    assert docs.exceptAll(back).isEmpty()


def test_retry_of_applied_batch_noops_both_legs(spark, tmp_path):
    _, emb, band, ann, verd, batch = _fixture(spark, tmp_path)
    sink = corpus_ingest_sink(band, ann, verd, emb)
    sink(batch, 0)
    st = _state(spark, band, ann, verd)
    assert applied_tags(band) >= {"b0"} and applied_tags(ann) >= {"b0"}
    sink(batch, 0)                       # foreachBatch retry
    assert _state(spark, band, ann, verd) == st


def test_crash_between_legs_resumes_to_identical_state(spark, tmp_path):
    """Simulate a pipeline death AFTER the dedup append but BEFORE the
    ANN upsert: the retry must no-op the dedup leg, replay the ANN leg
    from the persisted verdicts, and land in exactly the state a
    clean single run produces."""
    from flink_precisely_demo_spark.streaming.dedup_ingest import (
        dedup_ingest_sink)

    docs, emb, band, ann, verd, batch = _fixture(spark, tmp_path)
    gate = ((quality_score("text") >= F.lit(DEFAULT_QUALITY_GATE))
            & (language_id("text") != F.lit("und")))
    gated = flatten_after_image(
        decode_envelope(batch, DOCS_PAYLOAD)).filter(gate)
    dedup_ingest_sink(band, verd)(gated, 0)   # the "crashed" half-run
    assert applied_tags(band) >= {"b0"}
    assert not _delta_dirs(ann)
    sink = corpus_ingest_sink(band, ann, verd, emb)
    sink(batch, 0)                            # the retry
    st = _state(spark, band, ann, verd)
    # reference: a clean run on fresh dirs
    _, emb2, band2, ann2, verd2, batch2 = _fixture(
        spark, tmp_path / "clean")
    corpus_ingest_sink(band2, ann2, verd2, emb2)(batch2, 0)
    assert st == _state(spark, band2, ann2, verd2)


def test_gates_precede_all_state(spark, tmp_path):
    """Ungated documents must never touch either index or the
    verdicts: feed a batch that is ENTIRELY garbage and verify zero
    deltas, zero verdicts, zero live-id change."""
    _, emb, band, ann, verd, _ = _fixture(spark, tmp_path)
    live0 = sorted(int(r["doc_id"]) for r in _live_vectors(
        spark, ann, "doc_id", "embedding").select("doc_id").collect())
    junk = spark.createDataFrame(
        [(900000 + i, "zzz " * 2) for i in range(5)],
        "doc_id long, text string")
    sink = corpus_ingest_sink(band, ann, verd, emb)
    sink(synthesize_documents_envelope(junk), 0)
    assert not _delta_dirs(band) and not _delta_dirs(ann)
    assert not os.path.isdir(os.path.join(verd, "batch=0"))
    assert live0 == sorted(int(r["doc_id"]) for r in _live_vectors(
        spark, ann, "doc_id", "embedding").select("doc_id").collect())


def test_decontamination_cuts_before_all_state(spark, tmp_path):
    """With a benchmark split armed, a gated document sharing a
    verbatim >= 24-token run with a benchmark document must be cut
    BEFORE the dedup/ANN legs: its id lands in decontam/batch=<id>/,
    it gets no verdict, no band delta row, and never indexes — while
    clean documents in the same trigger flow through untouched."""
    docs, emb, band, ann, verd, _ = _fixture(spark, tmp_path)
    dec = str(tmp_path / "dec")
    leaked = " ".join(f"leak{i}" for i in range(40))
    clean_text = ("substantive original prose about river deltas and "
                  "sediment transport that reads naturally and is "
                  "long enough to pass the composite quality gates "
                  "with many common the and of to in words") * 2
    batch = synthesize_documents_envelope(spark.createDataFrame(
        [(700001, "intro words " + leaked + " closing words " +
          clean_text),
         (700002, clean_text + " completely fresh ending")],
        "doc_id long, text string"))
    bench = spark.createDataFrame(
        [(1, "benchmark preamble " + leaked + " benchmark epilogue")],
        "doc_id long, text string")
    sink = corpus_ingest_sink(band, ann, verd, emb,
                              benchmark=bench, decontam_path=dec)
    sink(batch, 0)
    cut = {int(r["doc_id"]) for r in spark.read.parquet(
        os.path.join(dec, "batch=0")).collect()}
    assert cut == {700001}
    verdict_ids = {int(r["doc_id"]) for r in spark.read.parquet(
        os.path.join(verd, "batch=0")).collect()}
    assert 700001 not in verdict_ids and 700002 in verdict_ids
    # retry idempotence with the decontamination leg armed
    st = _state(spark, band, ann, verd)
    sink(batch, 0)
    assert _state(spark, band, ann, verd) == st
    assert {int(r["doc_id"]) for r in spark.read.parquet(
        os.path.join(dec, "batch=0")).collect()} == {700001}


def test_benchmark_without_decontam_path_rejected(spark, tmp_path):
    _, emb, band, ann, verd, _ = _fixture(spark, tmp_path)
    bench = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="decontam_path"):
        corpus_ingest_sink(band, ann, verd, emb, benchmark=bench)


@pytest.mark.full   # ~4 min five-leg crash/recovery e2e
def test_text_leg_crash_window_and_searchability(spark, tmp_path):
    """The late-r15 fifth leg: novel documents become text-searchable;
    a crash AFTER the ANN upsert but BEFORE the text-index upsert
    resumes to exactly the clean-run state (dedup + ANN legs no-op on
    their applied tags, the text leg applies from the same persisted
    verdicts)."""
    from flink_precisely_demo_spark.operators.text_index import (
        _reconcile,
        build_text_index,
        search_text_index,
    )

    def fixture(base):
        docs, emb, band, ann, verd, batch = _fixture(spark, base)
        tix = str(base / "tix")
        gate = ((quality_score("text") >= F.lit(DEFAULT_QUALITY_GATE))
                & (language_id("text") != F.lit("und")))
        build_text_index(
            docs.filter((F.col("doc_id") % 5 != 0) & gate), tix)
        return docs, emb, band, ann, verd, tix, batch

    def tix_state(tix):
        return (sorted(t for t, _ in _delta_dirs(tix)),
                sorted(int(r["doc_id"]) for r in _reconcile(
                    spark, tix, "docs").select("doc_id").collect()))

    # crashed half-run: every leg EXCEPT text applied
    docs, emb, band, ann, verd, tix, batch = fixture(tmp_path)
    corpus_ingest_sink(band, ann, verd, emb)(batch, 0)
    assert applied_tags(band) >= {"b0"} and applied_tags(ann) >= {"b0"}
    assert not _delta_dirs(tix)
    # the retry runs the FULL sink (text leg now wired)
    corpus_ingest_sink(band, ann, verd, emb,
                       text_index_path=tix)(batch, 0)
    st = (_state(spark, band, ann, verd), tix_state(tix))

    # reference: a clean full run on fresh dirs
    d2 = tmp_path / "clean"
    docs2, emb2, band2, ann2, verd2, tix2, batch2 = fixture(d2)
    corpus_ingest_sink(band2, ann2, verd2, emb2,
                       text_index_path=tix2)(batch2, 0)
    assert st == (_state(spark, band2, ann2, verd2), tix_state(tix2))

    # searchability: every novel doc of the trigger is in the live
    # docs set, and a served search runs against the updated state
    novel = {int(r["doc_id"]) for r in spark.read.parquet(
        os.path.join(verd, "batch=0")).filter(F.col("is_novel"))
        .collect()}
    live_docs = set(tix_state(tix)[1])
    assert novel <= live_docs
    assert search_text_index(spark, tix, ("the",), k=3).count() >= 0
