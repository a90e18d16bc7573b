"""The LSM generation store (operators/lsm.py): the shared
foreachBatch sink contract, checked once over all six sinks (the four
maintained indexes, the CDC upsert store and the near-dup bucket
store), the staging context managers' failure behaviour, and a
source guard that keeps the protocol inside lsm.py."""

from __future__ import annotations

import os
import re
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from flink_precisely_demo_spark.operators.lsm import (
    _delta_dirs,
    applied_tags,
    delta_tags,
    index_ok,
    new_base,
    new_delta,
)
from flink_precisely_demo_spark.sources.parquet import load_table

from .conftest import SF_SMOKE as SF


def _ann_case(spark, tmp_path):
    from flink_precisely_demo_spark.operators.ann_index import (
        _live_vectors, build_ann_index, compact_ann_index, query_ann)
    from flink_precisely_demo_spark.streaming.ann_upsert import (
        ann_upsert_sink)

    path = str(tmp_path / "idx")
    emb = load_table(spark, SF, "embeddings")
    build_ann_index(emb, path, k_cells=4, max_iter=2)

    def final():
        got = query_ann(spark, path, emb.filter(F.col("vec_id") < 4),
                        k=3, nprobe=4)
        assert 101 not in {int(r["neighbor_id"]) for r in got.collect()}

    return SimpleNamespace(
        path=path, compact=compact_ann_index,
        sink=lambda **kw: ann_upsert_sink(path, **kw),
        first=emb.filter(F.col("vec_id") == 100).select(
            "vec_id", F.reverse("embedding").alias("embedding"),
            F.lit("U").alias("op")),
        second=emb.filter(F.col("vec_id") == 101).select(
            "vec_id", "embedding", F.lit("D").alias("op")),
        observe=lambda: _live_vectors(spark, path, "vec_id",
                                      "embedding").count(),
        final=final, empty_delta=False)


def _text_case(spark, tmp_path):
    from flink_precisely_demo_spark.operators.text_index import (
        build_text_index, compact_text_index, search_text_index,
        text_index_stats)
    from flink_precisely_demo_spark.streaming.text_index_ingest import (
        text_index_sink)

    path = os.path.join(str(tmp_path), "tiny")
    build_text_index(spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha")], "doc_id long, text string"),
        path, n_buckets=4)
    schema = "doc_id long, text string, op string"

    def final():
        assert text_index_stats(spark, path).head()["n_deltas"] == 0
        hits = search_text_index(spark, path, ("alpha",), k=10)
        assert {r["doc_id"] for r in hits.collect()} == {1, 3}

    return SimpleNamespace(
        path=path, compact=compact_text_index,
        sink=lambda **kw: text_index_sink(path, **kw),
        first=spark.createDataFrame([(3, "gamma alpha", "U")], schema),
        second=spark.createDataFrame([(2, None, "D")], schema),
        observe=lambda: text_index_stats(spark, path).head()["n_deltas"],
        final=final, empty_delta=False)


def _substring_case(spark, tmp_path):
    from flink_precisely_demo_spark.operators.dedup import (
        exact_substring_spans)
    from flink_precisely_demo_spark.operators.substring_index import (
        build_substring_index, compact_substring_index,
        substring_spans_from_index)
    from flink_precisely_demo_spark.streaming.substring_ingest import (
        substring_index_sink)

    def span_set(df):
        return {(int(r["a"]), int(r["b"]), int(r["a_start"]),
                 int(r["b_start"]), int(r["run_tokens"]))
                for r in df.collect()}

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    path = os.path.join(str(tmp_path), "idx")
    build_substring_index(docs.filter(F.col("doc_id") % 5 != 0), path)
    spans_out = os.path.join(str(tmp_path), "spans")

    def final():
        # absorbed spans equal from-scratch over the cumulative corpus
        assert span_set(substring_spans_from_index(spark, path)) == \
            span_set(exact_substring_spans(docs))

    return SimpleNamespace(
        path=path, compact=compact_substring_index,
        sink=lambda **kw: substring_index_sink(path, spans_out=spans_out,
                                               **kw),
        first=docs.filter(F.col("doc_id") % 10 == 0),
        second=docs.filter(F.col("doc_id") % 10 == 5),
        observe=lambda: os.path.isdir(os.path.join(spans_out, "batch=1")),
        final=final, empty_delta=True)


def _dedup_case(spark, tmp_path):
    from flink_precisely_demo_spark.operators.dedup_index import (
        build_band_index, compact_band_index)
    from flink_precisely_demo_spark.streaming.dedup_ingest import (
        dedup_ingest_sink)

    hist = load_table(spark, SF, "documents").filter(F.col("doc_id") < 50)
    path = str(tmp_path / "idx")
    vpath = str(tmp_path / "verdicts")
    build_band_index(hist, path)
    t = "retry wave payload about copper kites " * 4
    first = spark.createDataFrame([(5000, t)], "doc_id long, text string")

    def final():
        assert os.path.isdir(os.path.join(vpath, "batch=2"))

    return SimpleNamespace(
        path=path, compact=compact_band_index,
        sink=lambda **kw: dedup_ingest_sink(path, vpath, **kw),
        first=first,
        second=first.select((F.col("doc_id") + 1).alias("doc_id"), "text"),
        observe=lambda: sorted(map(tuple, spark.read.parquet(
            os.path.join(vpath, "batch=1")).collect())),
        final=final, empty_delta=True)


def _cdc_case(spark, tmp_path):
    from flink_precisely_demo_spark.operators.cdc_apply import (
        apply_cdc_snapshot)
    from flink_precisely_demo_spark.plans.cdc_queries import (
        _envelope_rows)
    from flink_precisely_demo_spark.streaming.cdc_upsert import (
        cdc_current_state, cdc_upsert_sink, compact_store)

    orders = load_table(spark, SF, "orders").filter(
        F.col("o_orderkey") < 40)
    path = str(tmp_path / "store")
    first = _envelope_rows(orders, "I", 0, 0.0)
    second = _envelope_rows(orders.filter(F.col("o_orderkey") % 2 == 0),
                            "D", 1, 0.0)

    def state():
        return sorted(map(tuple, cdc_current_state(spark, path).collect()))

    def final():
        want = apply_cdc_snapshot(first.unionByName(second),
                                  "SalesOrderId")
        assert state() == sorted(map(tuple, want.collect()))
        assert all(k % 2 for k, _, _ in state())

    return SimpleNamespace(
        path=path, compact=compact_store,
        sink=lambda **kw: cdc_upsert_sink(path, "SalesOrderId", **kw),
        first=first, second=second, observe=state, final=final,
        empty_delta=True)


def _near_dup_case(spark, tmp_path):
    from flink_precisely_demo_spark.streaming.streaming_dedup import (
        compact_buckets, dedup_survivors, near_dup_dedup_sink)

    path, out = str(tmp_path / "buckets"), str(tmp_path / "out")
    t = "retry wave payload about copper kites " * 4
    first = spark.createDataFrame([(1, t), (2, t + "again")],
                                  "doc_id long, text string")

    def final():
        # doc 3, a near-dup of batch 1's survivor, was suppressed
        got = {(r["doc_id"], r["batch"])
               for r in dedup_survivors(spark, out).collect()}
        assert got == {(1, 1)}

    return SimpleNamespace(
        path=path, compact=compact_buckets,
        sink=lambda **kw: near_dup_dedup_sink(path, out, **kw),
        first=first,
        second=spark.createDataFrame([(3, t + "kites")],
                                     "doc_id long, text string"),
        observe=lambda: sorted(map(tuple, spark.read.parquet(
            os.path.join(out, "batch=1")).collect())),
        final=final, empty_delta=True)


@pytest.mark.parametrize("make_case", [_ann_case, _text_case,
                                       _substring_case, _dedup_case,
                                       _cdc_case, _near_dup_case],
                         ids=["ann", "text", "substring", "dedup", "cdc",
                              "near_dup"])
def test_index_sink_contract(spark, tmp_path, make_case):
    """One foreachBatch contract for every sink: an applied batch
    publishes one tagged delta and its retry no-ops; a checkpoint
    restarting behind the absorbed batches fails fast; an out-of-band
    compaction keeps the applied record, so a late retry still
    no-ops; a scheduled compaction folds the streamed generations and
    their tags; once a later batch is absorbed, an already-applied
    batch id is a replaced checkpoint too, not a retry. An empty batch
    leaves the store readable: it publishes one empty tagged delta,
    or nothing in a sink whose op count already says it is empty."""
    case = make_case(spark, tmp_path)
    path = case.path
    sink = case.sink()
    sink(case.first, 1)
    assert [s for s, _ in _delta_dirs(path)] == [1]
    assert delta_tags(path) == {"b1"}
    seen = case.observe()
    assert seen
    sink(case.first, 1)                  # foreachBatch retry: no-op
    assert [s for s, _ in _delta_dirs(path)] == [1]
    assert case.observe() == seen
    with pytest.raises(RuntimeError, match="checkpoint does not belong"):
        sink(case.first, 0)              # fresh checkpoint, old store
    case.compact(spark, path)            # out-of-band scheduled run
    assert _delta_dirs(path) == []
    assert applied_tags(path) >= {"b1"}  # tag survived the fold
    sink(case.first, 1)                  # late retry after compaction
    assert _delta_dirs(path) == []
    case.sink(compact_every=1)(case.second, 2)
    assert _delta_dirs(path) == []       # compact_every fired
    assert applied_tags(path) >= {"b1", "b2"}
    with pytest.raises(RuntimeError, match="checkpoint does not belong"):
        sink(case.first, 1)              # stale id of a replaced checkpoint
    sink(spark.createDataFrame([], case.first.schema), 3)
    assert delta_tags(path) == ({"b3"} if case.empty_delta else set())
    case.observe()
    case.compact(spark, path)
    assert _delta_dirs(path) == []
    case.final()


def test_failed_delta_publishes_nothing_and_dead_stages_are_reaped(
        tmp_path):
    path = str(tmp_path / "idx")
    with new_base(path) as stage:
        os.makedirs(stage)
    assert index_ok(path)
    with pytest.raises(ValueError):
        with new_delta(path, tag="b0") as (stage, seq):
            os.makedirs(stage)
            raise ValueError("writer failed mid-delta")
    assert _delta_dirs(path) == [] and applied_tags(path) == set()
    assert not any(n.startswith(".stage-")
                   for n in os.listdir(os.path.join(path, "deltas")))
    # a writer process that died mid-delta leaves its stage behind;
    # the next writer reaps it and publishes in its place
    dead = os.path.join(path, "deltas", ".stage-999999999-deadbeef")
    os.makedirs(dead)
    with new_delta(path, tag="b0") as (stage, seq):
        os.makedirs(stage)
    assert not os.path.exists(dead)
    assert seq == 1 and delta_tags(path) == {"b0"}


def test_compaction_without_deltas_is_a_no_op(tmp_path):
    path = str(tmp_path / "idx")
    with new_base(path) as stage:
        os.makedirs(stage)
    with new_base(path, compact=True) as stage:
        assert stage is None
    assert index_ok(path)
    assert [n for n in os.listdir(tmp_path) if n != "idx"] == []


def test_protocol_stays_in_lsm():
    """Only operators/lsm.py names the markers, the tag manifest and
    the binding error, and no sink module scans a store directory
    itself. Only lsm.write_generation writes a partitioned generation,
    so no index or sink module probes a frame for rows."""
    pkg = Path(__file__).resolve().parents[1] / "flink_precisely_demo_spark"
    words = ("_INDEX_OK", "_DELTA_OK", '"_TAG"', ".applied.json",
             "checkpoint does not belong")
    sinks = {"cdc_upsert.py", "streaming_dedup.py", "ann_upsert.py",
             "corpus_pipeline.py"}
    indexes = {f"operators/{m}_index.py"
               for m in ("ann", "text", "dedup", "substring")}
    # the corpus pipeline keeps its own probe: a fully gated-out
    # trigger touches none of its stores
    no_probe = indexes | {"operators/lsm.py"} | {
        f"streaming/{m}.py" for m in (
            "ann_upsert", "text_index_ingest", "substring_ingest",
            "dedup_ingest", "cdc_upsert", "streaming_dedup")}
    for f in sorted(pkg.rglob("*.py")):
        rel = f.relative_to(pkg).as_posix()
        src = f.read_text()
        if rel != "operators/lsm.py":
            assert not [w for w in words if w in src], rel
        if rel.startswith("streaming/") and (
                f.name in sinks or f.name.endswith("_ingest.py")):
            assert not re.search(r"\blistdir\b", src), rel
        if rel in no_probe:
            assert "isEmpty(" not in src, rel
        if rel in indexes:
            assert not re.search(r"(?<!Window)\.partitionBy\(", src), rel
