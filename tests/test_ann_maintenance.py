"""Incremental maintenance of the served IVF index: upsert deltas,
tombstone shadowing across generations, crash-atomicity of the delta
publish, and compaction folding back to a zero-overhead base."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_precisely_demo_spark.operators.ann_index import (
    build_ann_index,
    compact_ann_index,
    query_ann,
    upsert_ann_index,
)
from flink_precisely_demo_spark.operators.lsm import _delta_dirs
from flink_precisely_demo_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"
K_CELLS = 4


def _fresh_index(spark, tmp_path, name="idx"):
    path = str(tmp_path / name)
    emb = load_table(spark, SF, "embeddings")
    build_ann_index(emb, path, k_cells=K_CELLS, max_iter=2)
    return path


def _expected_topk(live: dict[int, np.ndarray], query_ids, k):
    """Exact brute-force ground truth over a python-side live corpus
    (500 rows at sf0.001 — small enough to verify locally)."""
    ids = np.array(sorted(live))
    mat = np.stack([live[i] for i in ids])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    out = {}
    for q in query_ids:
        sims = mat @ (live[q] / np.linalg.norm(live[q]))
        mask = ids != q
        order = np.lexsort((ids[mask], -np.round(sims[mask], 12)))
        out[q] = [int(ids[mask][j]) for j in order[:k]]
    return out


def _corpus(spark):
    rows = load_table(spark, SF, "embeddings").collect()
    return {int(r["vec_id"]): np.asarray(r["embedding"], dtype=np.float64)
            for r in rows}


def _result_map(df):
    out = {}
    for r in sorted(df.collect(), key=lambda r: (r["query_id"], r["rank"])):
        out.setdefault(int(r["query_id"]), []).append(int(r["neighbor_id"]))
    return out


def test_upsert_replaces_and_deletes(spark, tmp_path):
    """Post-upsert query results equal exact search over the mutated
    corpus at nprobe=K (no recall slack — semantics, not recall)."""
    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    updates = (emb.filter(F.col("vec_id").between(100, 119))
               .select("vec_id", F.reverse("embedding").alias("embedding")))
    gen = upsert_ann_index(spark, path, updates, delete_ids=range(120, 125))
    assert gen == 1

    live = _corpus(spark)
    for i in range(100, 120):
        live[i] = live[i][::-1].copy()
    for i in range(120, 125):
        del live[i]

    queries = emb.filter(F.col("vec_id") < 4)
    got = _result_map(query_ann(spark, path, queries, k=3, nprobe=K_CELLS))
    assert got == _expected_topk(live, range(4), 3)
    # deleted ids never appear even when directly probed for
    all_ids = {int(r["neighbor_id"]) for r in
               query_ann(spark, path, emb.filter(F.col("vec_id") < 8),
                         k=10, nprobe=K_CELLS).collect()}
    assert not all_ids & set(range(120, 125))


def test_later_generation_shadows_earlier(spark, tmp_path):
    """gen2 re-upserting an id overrides gen1's version; gen2
    re-inserting a gen1-deleted id resurrects it."""
    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    g1 = (emb.filter(F.col("vec_id").between(100, 109))
          .select("vec_id", F.reverse("embedding").alias("embedding")))
    upsert_ann_index(spark, path, g1, delete_ids=[110, 111])
    # gen2: ids 105-109 back to ORIGINAL vectors, 110 re-inserted
    g2 = emb.filter(F.col("vec_id").between(105, 110)) \
            .select("vec_id", "embedding")
    gen = upsert_ann_index(spark, path, g2)
    assert gen == 2

    live = _corpus(spark)
    for i in range(100, 105):
        live[i] = live[i][::-1].copy()      # gen1 survives
    del live[111]                           # only 111 stays deleted

    queries = emb.filter(F.col("vec_id") < 4)
    got = _result_map(query_ann(spark, path, queries, k=3, nprobe=K_CELLS))
    assert got == _expected_topk(live, range(4), 3)


def test_compact_preserves_results_and_drops_deltas(spark, tmp_path):
    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    updates = (emb.filter(F.col("vec_id").between(100, 119))
               .select("vec_id", F.reverse("embedding").alias("embedding")))
    upsert_ann_index(spark, path, updates, delete_ids=range(120, 125))
    queries = emb.filter(F.col("vec_id") < 8)
    before = _result_map(query_ann(spark, path, queries, k=3,
                                   nprobe=K_CELLS))
    folded = compact_ann_index(spark, path)
    assert folded == 1
    assert _delta_dirs(path) == []
    after = _result_map(query_ann(spark, path, queries, k=3,
                                  nprobe=K_CELLS))
    assert after == before
    # compacted base holds exactly the live rows, still cell-partitioned
    vecs = spark.read.parquet(f"{path}/vectors")
    assert vecs.count() == 500 - 5
    assert vecs.filter(F.col("vec_id").between(120, 124)).count() == 0
    assert compact_ann_index(spark, path) == 0   # no-op on clean base


def test_unmarked_delta_is_invisible(spark, tmp_path):
    """A crashed upsert (staging dir without _DELTA_OK) must never be
    read, and the next upsert claims the next sequence anyway."""
    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    upsert_ann_index(spark, path, emb.filter(F.col("vec_id") == 100)
                     .select("vec_id",
                             F.reverse("embedding").alias("embedding")))
    # simulate a crash: a published-looking dir missing the marker
    fake = os.path.join(path, "deltas", "delta-000002-dead-beef")
    os.makedirs(os.path.join(fake, "tombstones"))
    assert [s for s, _ in _delta_dirs(path)] == [1]
    gen = upsert_ann_index(spark, path, delete_ids=[101])
    assert gen == 2   # sequence from PUBLISHED deltas only


def test_pure_delete_delta(spark, tmp_path):
    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    upsert_ann_index(spark, path, delete_ids=[0])
    got = query_ann(spark, path, emb.filter(F.col("vec_id") < 4),
                    k=3, nprobe=K_CELLS)
    assert 0 not in {int(r["neighbor_id"]) for r in got.collect()}
    with pytest.raises(ValueError):
        upsert_ann_index(spark, path)


def test_reconcile_join_is_broadcast_anti(spark, tmp_path):
    """The tombstone reconciliation must plan as a broadcast hash
    anti-join (tombstones are delta-metadata-sized by design) —
    a SortMergeJoin here would shuffle the probed corpus bytes on
    vec_id at every query, and a nested-loop join would be quadratic;
    either one silently forfeits the operator's 100 TB read cost."""
    from flink_precisely_demo_spark.operators.ann_index import (
        _live_vectors)

    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    upsert_ann_index(spark, path, emb.filter(F.col("vec_id") < 10)
                     .select("vec_id",
                             F.reverse("embedding").alias("embedding")),
                     delete_ids=[20])
    df = _live_vectors(spark, path, "vec_id", "embedding", [0, 1])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_empty_updates_do_not_poison_reads(spark, tmp_path):
    """A zero-row updates frame must not leave a file-less vectors
    dir (unreadable by spark.read.parquet) inside its delta."""
    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    gen = upsert_ann_index(spark, path,
                           emb.filter(F.col("vec_id") < 0)
                           .select("vec_id", "embedding"),
                           delete_ids=[5])
    assert gen == 1
    queries = emb.filter(F.col("vec_id") < 4)
    got = query_ann(spark, path, queries, k=3, nprobe=K_CELLS)
    assert 5 not in {int(r["neighbor_id"]) for r in got.collect()}


def test_compact_of_fully_deleted_corpus(spark, tmp_path):
    """Deleting everything then compacting must leave a readable
    (empty) index, not a schema-less dir."""
    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    upsert_ann_index(spark, path, delete_ids=emb.select("vec_id"))
    assert compact_ann_index(spark, path) == 1
    queries = emb.filter(F.col("vec_id") < 2)
    assert query_ann(spark, path, queries, k=3,
                     nprobe=K_CELLS).count() == 0


def test_index_stats_invariants(spark, tmp_path):
    """n_base totals the corpus, n_delta totals the physical delta
    rows, n_live totals the reconciled corpus, dead = base+delta-live
    — and a compaction resets dead/delta to zero with live intact."""
    from flink_precisely_demo_spark.operators.ann_index import index_stats

    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    upsert_ann_index(spark, path, emb.filter(F.col("vec_id") < 30)
                     .select("vec_id",
                             F.reverse("embedding").alias("embedding")),
                     delete_ids=range(30, 40))
    upsert_ann_index(spark, path, emb.filter(F.col("vec_id") < 10)
                     .select("vec_id", "embedding"))
    s = index_stats(spark, path).toPandas()
    assert int(s.n_base.sum()) == 500
    assert int(s.n_delta.sum()) == 40          # 30 gen1 + 10 gen2 rows
    assert int(s.n_live.sum()) == 490          # 10 ids tombstoned
    assert (s.n_dead == s.n_base + s.n_delta - s.n_live).all()
    assert int(s.n_dead.sum()) == 50           # 40 shadowed + 10 deleted
    compact_ann_index(spark, path)
    s2 = index_stats(spark, path).toPandas()
    assert int(s2.n_live.sum()) == 490
    assert int(s2.n_delta.sum()) == 0 and int(s2.n_dead.sum()) == 0


def test_streaming_sink_applies_batches(spark, tmp_path):
    """Draining the mutation stream through the foreachBatch sink
    yields the same query results as the direct batch-API upserts."""
    from flink_precisely_demo_spark.streaming.ann_upsert import (
        ann_upsert_sink)
    from flink_precisely_demo_spark.streaming.pipeline import drain

    emb = load_table(spark, SF, "embeddings")
    direct = _fresh_index(spark, tmp_path, "direct")
    upsert_ann_index(spark, direct,
                     emb.filter(F.col("vec_id").between(100, 119)).select(
                         "vec_id", F.reverse("embedding").alias("embedding")),
                     delete_ids=[120, 121])

    streamed = _fresh_index(spark, tmp_path, "streamed")
    feed_src = (emb.filter(F.col("vec_id").between(100, 119)).select(
                    "vec_id", F.reverse("embedding").alias("embedding"),
                    F.lit("U").alias("op"))
                .unionByName(
                    emb.filter(F.col("vec_id").between(120, 121)).select(
                        "vec_id", "embedding", F.lit("D").alias("op"))))
    feed_dir = str(tmp_path / "feed")
    feed_src.coalesce(1).write.parquet(feed_dir)
    feed = (spark.readStream
            .schema("vec_id long, embedding array<float>, op string")
            .parquet(feed_dir))
    drain(feed, ann_upsert_sink(streamed), str(tmp_path / "ckpt"),
          "ANN upsert")

    queries = emb.filter(F.col("vec_id") < 8)
    assert (_result_map(query_ann(spark, streamed, queries, k=3,
                                  nprobe=K_CELLS))
            == _result_map(query_ann(spark, direct, queries, k=3,
                                     nprobe=K_CELLS)))


def test_streaming_sink_retry_is_idempotent(spark, tmp_path):
    from flink_precisely_demo_spark.streaming.ann_upsert import (
        ann_upsert_sink)

    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    batch = emb.filter(F.col("vec_id") == 100).select(
        "vec_id", F.reverse("embedding").alias("embedding"),
        F.lit("U").alias("op"))
    sink = ann_upsert_sink(path)
    sink(batch, 0)
    sink(batch, 0)                    # foreachBatch retry: must no-op
    assert [s for s, _ in _delta_dirs(path)] == [1]


def test_streaming_sink_tags_survive_compaction(spark, tmp_path):
    """compact_every folds the deltas (and their in-dir tags) away;
    the sibling manifest must keep the applied set so a late retry
    of an already-compacted batch still no-ops."""
    from flink_precisely_demo_spark.operators.lsm import (
        applied_tags as _applied_tags)
    from flink_precisely_demo_spark.streaming.ann_upsert import (
        ann_upsert_sink)

    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    sink = ann_upsert_sink(path, compact_every=2)
    b0 = emb.filter(F.col("vec_id") == 100).select(
        "vec_id", F.reverse("embedding").alias("embedding"),
        F.lit("U").alias("op"))
    b1 = emb.filter(F.col("vec_id") == 101).select(
        "vec_id", "embedding", F.lit("D").alias("op"))
    sink(b0, 0)
    sink(b1, 1)                       # second delta -> compaction fires
    assert _delta_dirs(path) == []
    assert _applied_tags(path) >= {"b0", "b1"}
    sink(b1, 1)                       # retry after compaction: no-op
    assert _delta_dirs(path) == []
    got = query_ann(spark, path, emb.filter(F.col("vec_id") < 4),
                    k=3, nprobe=K_CELLS)
    assert 101 not in {int(r["neighbor_id"]) for r in got.collect()}


def test_out_of_band_compaction_keeps_retry_idempotent(spark, tmp_path):
    """compact_ann_index run OUTSIDE the sink (an operator's
    scheduled compaction) must persist the live delta tags to the
    sibling manifest before folding them away — otherwise a
    foreachBatch retry after the external compact re-applies an
    already-absorbed batch (r12 advisory, the medium finding)."""
    from flink_precisely_demo_spark.operators.lsm import (
        applied_tags as _applied_tags)
    from flink_precisely_demo_spark.streaming.ann_upsert import (
        ann_upsert_sink)

    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    sink = ann_upsert_sink(path)            # no compact_every: the
    b0 = emb.filter(F.col("vec_id") == 100).select(  # sink never compacts
        "vec_id", F.reverse("embedding").alias("embedding"),
        F.lit("U").alias("op"))
    sink(b0, 0)
    assert [s for s, _ in _delta_dirs(path)] == [1]
    compact_ann_index(spark, path)          # out-of-band scheduled run
    assert _delta_dirs(path) == []
    assert _applied_tags(path) >= {"b0"}    # tag survived the fold
    sink(b0, 0)                             # late retry: must no-op
    assert _delta_dirs(path) == []


def test_iterable_deletes_match_index_id_type(spark, tmp_path):
    """Iterable delete_ids must take the index id column's OWN type
    (r12 advisory): a string-keyed index gets string tombstones, and
    the reconciling read drops the named rows."""
    emb = load_table(spark, SF, "embeddings").select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("vec_id"),
        "embedding")
    path = str(tmp_path / "stridx")
    build_ann_index(emb, path, k_cells=K_CELLS, max_iter=2)
    upsert_ann_index(spark, path, delete_ids=["doc-1", "doc-2"])
    from flink_precisely_demo_spark.operators.ann_index import (
        _live_vectors)
    live = {r["vec_id"] for r in
            _live_vectors(spark, path, "vec_id", "embedding").collect()}
    assert "doc-1" not in live and "doc-2" not in live
    assert "doc-3" in live


def test_probe_pruning_survives_deltas(spark, tmp_path):
    """With deltas present the probed-cells filter must still reach
    BOTH scans as a partition filter — maintenance must not cost the
    index its 100 TB pruning property."""
    path = _fresh_index(spark, tmp_path)
    emb = load_table(spark, SF, "embeddings")
    upsert_ann_index(spark, path, emb.filter(F.col("vec_id").between(100, 109))
                     .select("vec_id",
                             F.reverse("embedding").alias("embedding")))
    df = query_ann(spark, path, emb.filter(F.col("vec_id") < 2),
                   k=3, nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    segs = [s for s in plan.split("PartitionFilters: [")[1:]]
    named = [s for s in segs if "cell_id" in s.split("]")[0]]
    assert len(named) >= 2, plan   # base scan AND delta scan pruned
