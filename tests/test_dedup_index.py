"""Persisted MinHash-LSH band index: incremental ingest labeling,
LSM append visibility, compaction equivalence, and crash-atomicity
of the publishes."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from flink_precisely_demo_spark.operators.dedup_index import (
    append_bands,
    build_band_index,
    compact_band_index,
    ingest_batch,
)
from flink_precisely_demo_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents")


def _verdicts(df):
    return {int(r["doc_id"]): (bool(r["is_novel"]),
                               None if r["dup_of"] is None
                               else int(r["dup_of"]))
            for r in df.collect()}


def test_exact_copy_is_flagged_against_the_index(spark, tmp_path):
    """A batch document whose text equals an indexed document's must
    collide on every band and point at the historical id."""
    docs = _docs(spark)
    hist = docs.filter(F.col("doc_id") < 100)
    path = str(tmp_path / "idx")
    build_band_index(hist, path)
    # batch: one verbatim copy of doc 7 (new id 1000), one fresh text
    copy = hist.filter(F.col("doc_id") == 7) \
        .select(F.lit(1000).cast("long").alias("doc_id"), "text")
    fresh = spark.createDataFrame(
        [(1001, "entirely novel zebra quantum text with unusual "
                "tokens nowhere else in this corpus at all")],
        "doc_id long, text string")
    got = _verdicts(ingest_batch(spark, path,
                                 copy.unionByName(fresh)))
    assert got[1000] == (False, 7)
    assert got[1001][0] is True


def test_batch_internal_order_rule(spark, tmp_path):
    """Two copies arriving in the SAME batch: the smaller id is
    novel, the larger points at it."""
    hist = _docs(spark).filter(F.col("doc_id") < 50)
    path = str(tmp_path / "idx")
    build_band_index(hist, path)
    t = "the same exact duplicated payload text repeated verbatim " * 5
    batch = spark.createDataFrame(
        [(2000, t), (2001, t)], "doc_id long, text string")
    got = _verdicts(ingest_batch(spark, path, batch))
    assert got[2000][0] is True
    assert got[2001] == (False, 2000)


def test_append_makes_next_ingest_see_prior_batch(spark, tmp_path):
    """The LSM loop: append wave 1's bands; wave 2's copy of a
    wave-1 document must be flagged WITHOUT a rebuild."""
    hist = _docs(spark).filter(F.col("doc_id") < 50)
    path = str(tmp_path / "idx")
    build_band_index(hist, path)
    t = "wave one unique payload about persimmon engines " * 4
    w1 = spark.createDataFrame([(3000, t)], "doc_id long, text string")
    assert _verdicts(ingest_batch(spark, path, w1))[3000][0] is True
    assert append_bands(spark, path, w1) == 1
    w2 = spark.createDataFrame([(3001, t)], "doc_id long, text string")
    assert _verdicts(ingest_batch(spark, path, w2))[3001] == (False,
                                                              3000)
    # compaction folds the delta away without changing verdicts
    assert compact_band_index(spark, path) == 1
    assert not os.listdir(os.path.join(path, "deltas")) \
        if os.path.isdir(os.path.join(path, "deltas")) else True
    assert _verdicts(ingest_batch(spark, path, w2))[3001] == (False,
                                                              3000)


def test_unmarked_stage_is_invisible(spark, tmp_path):
    """A crashed append leaves an unmarked .stage dir readers never
    see."""
    hist = _docs(spark).filter(F.col("doc_id") < 50)
    path = str(tmp_path / "idx")
    build_band_index(hist, path)
    t = "crashed wave payload about moth lanterns " * 4
    w1 = spark.createDataFrame([(4000, t)], "doc_id long, text string")
    append_bands(spark, path, w1)
    deltas = os.path.join(path, "deltas")
    published = next(d for d in os.listdir(deltas)
                     if d.startswith("delta-"))
    # simulate a crash: strip the marker and rename to a stage dir
    os.remove(os.path.join(deltas, published, "_DELTA_OK"))
    os.rename(os.path.join(deltas, published),
              os.path.join(deltas, ".stage-dead"))
    w2 = spark.createDataFrame([(4001, t)], "doc_id long, text string")
    assert _verdicts(ingest_batch(spark, path, w2))[4001][0] is True


def test_ingest_matches_incorpus_pipeline_on_split(spark, tmp_path):
    """Consistency with the in-corpus family: for the %5 split, every
    (batch doc -> dup_of) edge must be an LSH candidate pair of the
    ONE-SHOT banding over the full corpus (same banding rule, so the
    incremental path can't invent or lose collisions)."""
    from flink_precisely_demo_spark.operators.dedup import (
        minhash_near_dup_pairs)

    docs = _docs(spark)
    path = str(tmp_path / "idx")
    build_band_index(docs.filter(F.col("doc_id") % 5 != 0), path)
    got = _verdicts(ingest_batch(
        spark, path, docs.filter(F.col("doc_id") % 5 == 0)))
    pairs = {(int(r["a"]), int(r["b"]))
             for r in minhash_near_dup_pairs(docs).collect()}
    for nid, (novel, dup) in got.items():
        if not novel:
            assert (min(dup, nid), max(dup, nid)) in pairs, (nid, dup)


def _labels(spark, path):
    from flink_precisely_demo_spark.operators.dedup_index import (
        cluster_labels)
    return {int(r["doc_id"]): int(r["cluster_id"])
            for r in cluster_labels(spark, path).collect()}


def test_maintained_clusters_match_batch_reclustering(spark, tmp_path):
    """After build + 2 ingest waves, the maintained labels (both the
    fold-on-read view over deltas AND the post-compaction base) must
    equal near_dup_clusters over the cumulative corpus — same
    components, same min-id representatives."""
    from flink_precisely_demo_spark.operators.dedup import (
        _minhash_banded, near_dup_clusters)
    from flink_precisely_demo_spark.operators.dedup_index import (
        cluster_labels, ingest_cluster_edges)

    docs = _docs(spark).select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_band_index(docs.filter(F.col("doc_id") % 5 != 0), path,
                     clusters=True)
    for wave, mod in ((0, 0), (1, 5)):
        batch = docs.filter(F.col("doc_id") % 10 == mod)
        banded = _minhash_banded(batch, "text", "doc_id", 16, 4, 3)
        append_bands(spark, path, batch, tag=f"w{wave}", banded=banded,
                     cluster_edges=ingest_cluster_edges(
                         spark, path, banded=banded))
    expect = {int(r["doc_id"]): int(r["cluster_id"])
              for r in near_dup_clusters(docs).collect()
              if int(r["doc_id"]) != int(r["cluster_id"])}
    folded = _labels(spark, path)            # fold-on-read over deltas
    assert folded == expect
    assert compact_band_index(spark, path) == 2
    assert _labels(spark, path) == expect    # compacted base scan
    # post-compaction read is the fast path: plain clusters/ scan
    assert cluster_labels(spark, path) is not None
    assert os.path.isdir(os.path.join(path, "clusters"))


def test_bridge_doc_merges_two_clusters(spark, tmp_path):
    """A batch document colliding with members of TWO existing
    clusters must merge them into one component under the global min
    id — the case a dup_of-only maintenance silently splits."""
    from flink_precisely_demo_spark.operators.dedup import (
        _minhash_banded)
    from flink_precisely_demo_spark.operators.dedup_index import (
        ingest_cluster_edges)

    ta = "alpha cluster payload about granite bridges " * 6
    tb = "beta cluster payload regarding walnut harbors " * 6
    hist = spark.createDataFrame(
        [(10, ta), (11, ta), (20, tb), (21, tb)],
        "doc_id long, text string")
    path = str(tmp_path / "idx")
    build_band_index(hist, path, clusters=True)
    assert _labels(spark, path) == {11: 10, 21: 20}
    # A concatenated ta+tb doc only bridges when a full band of 4
    # minhashes lands on each side (~coin-flip), so drive the merge
    # protocol deterministically: the delta carries the exact edge
    # set ingest_cluster_edges WOULD emit for a doc whose buckets
    # contain members of both clusters (one per-bucket link each) —
    # the LSH path itself is covered by
    # test_maintained_clusters_match_batch_reclustering.
    bridge = spark.createDataFrame(
        [(30, ta + " " + tb)], "doc_id long, text string")
    edges = spark.createDataFrame([(30, 10), (30, 20)],
                                  "a long, b long")
    # sanity: real collisions are a SUBSET of the synthetic bridge
    banded = _minhash_banded(bridge, "text", "doc_id", 16, 4, 3)
    got = {(int(r["a"]), int(r["b"]))
           for r in ingest_cluster_edges(spark, path,
                                         banded=banded).collect()}
    assert got <= {(30, 10), (30, 20)}, got
    append_bands(spark, path, bridge, cluster_edges=edges)
    assert _labels(spark, path) == {11: 10, 20: 10, 21: 10, 30: 10}
    compact_band_index(spark, path)
    assert _labels(spark, path) == {11: 10, 20: 10, 21: 10, 30: 10}


def test_cluster_labels_requires_cluster_state(spark, tmp_path):
    import pytest

    from flink_precisely_demo_spark.operators.dedup_index import (
        cluster_labels)

    path = str(tmp_path / "idx")
    build_band_index(_docs(spark).filter(F.col("doc_id") < 30), path)
    with pytest.raises(FileNotFoundError, match="cluster state"):
        cluster_labels(spark, path)


def test_streaming_sink_maintains_clusters(spark, tmp_path):
    """On a clusters=True index the foreachBatch sink rides each
    trigger's link edges inside the tagged delta: after two batches +
    compaction the maintained labels must equal near_dup_clusters
    over the cumulative corpus, and a retry must not disturb them."""
    from flink_precisely_demo_spark.operators.dedup import (
        near_dup_clusters)
    from flink_precisely_demo_spark.streaming.dedup_ingest import (
        dedup_ingest_sink)

    docs = _docs(spark).select("doc_id", "text")
    path = str(tmp_path / "idx")
    vpath = str(tmp_path / "verd")
    build_band_index(docs.filter(F.col("doc_id") % 5 != 0), path,
                     clusters=True)
    sink = dedup_ingest_sink(path, vpath, compact_every=2)
    for b, mod in ((0, 0), (1, 5)):
        sink(docs.filter(F.col("doc_id") % 10 == mod), b)
    expect = {int(r["doc_id"]): int(r["cluster_id"])
              for r in near_dup_clusters(docs).collect()
              if int(r["doc_id"]) != int(r["cluster_id"])}
    assert _labels(spark, path) == expect
    sink(docs.filter(F.col("doc_id") % 10 == 5), 1)   # retry: no-op
    assert _labels(spark, path) == expect


def test_verdicts_from_edges_equals_ingest_batch(spark, tmp_path):
    """The derived-verdict path (one candidate pass, used by the
    cluster-maintaining sink) must produce exactly ingest_batch's
    verdicts on the same batch."""
    from flink_precisely_demo_spark.operators.dedup_index import (
        ingest_cluster_edges, verdicts_from_edges)

    docs = _docs(spark).select("doc_id", "text")
    path = str(tmp_path / "idx")
    build_band_index(docs.filter(F.col("doc_id") % 5 != 0), path,
                     clusters=True)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    direct = _verdicts(ingest_batch(spark, path, batch))
    derived = _verdicts(verdicts_from_edges(
        batch, ingest_cluster_edges(spark, path, batch)))
    assert direct == derived


def test_append_bands_requires_edges_on_clustered_index(spark, tmp_path):
    """append_bands on a clusters=True index without cluster_edges
    must raise: cluster_labels folds only deltas that ship edges, and
    compaction would rewrite clusters/ without the batch's links —
    silently and permanently staling the maintained membership. A
    plain (clusters=False) index keeps accepting edge-less appends."""
    import pytest

    docs = _docs(spark).select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") < 100)
    batch = docs.filter((F.col("doc_id") >= 100)
                        & (F.col("doc_id") < 120))

    clustered = str(tmp_path / "clustered")
    build_band_index(hist, clustered, clusters=True)
    with pytest.raises(ValueError, match="cluster_edges"):
        append_bands(spark, clustered, batch)

    plain = str(tmp_path / "plain")
    build_band_index(hist, plain)
    assert append_bands(spark, plain, batch) == 1
