"""Maintained-index SERVING latency at sf1 steady state (r14 verdict
item 5): each maintained index (MinHash band, its cluster state, the
ANN index, and the exact-substring anchor index) is built over the
sf1 corpus, aged through 50 longevity ingest batches (compact_every=8
— the cadence the longevity gates certify), and then the QUERY PATH a
serving deployment actually runs is measured against that aged state
with ``bench.measure_steal_proof`` (min-of-2, re-measured while the
window's CPU steal is above 10%):

- ``band_ingest``      — label a fresh 200-doc batch against the aged
                         band index (dedup-at-ingest verdicts)
- ``cluster_read``     — read the maintained cluster membership
                         (fold-on-read over the uncompacted window)
- ``ann_topk``         — 32-query nprobe top-10 against the aged ANN
                         index (live vectors incl. deltas/tombstones)
- ``substring_ingest`` — a fresh 200-doc batch's verbatim-span
                         overlap against the aged anchor index

The secondary rows in BASELINE.md measure cached post-BUILD state at
sf0.1; these are the post-50-batches sf1 numbers. Run on a QUIET
host; prints one JSON line per index plus a summary line.

Usage: python scripts/serving_bench.py [sf1_dir] [n_batches]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import measure_steal_proof  # noqa: E402


def _best(fn) -> float:
    return round(measure_steal_proof(fn)[0], 3)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    batch_size = 200
    compact_every = 8

    from pyspark.sql import functions as F

    from flink_precisely_demo_spark.operators.ann_index import (
        build_ann_index, query_ann, upsert_ann_index,
        compact_ann_index)
    from flink_precisely_demo_spark.operators.dedup_index import (
        build_band_index, ingest_batch, append_bands,
        ingest_cluster_edges, cluster_labels, compact_band_index)
    from flink_precisely_demo_spark.operators.dedup import (
        _minhash_banded)
    from flink_precisely_demo_spark.operators.substring_index import (
        build_substring_index, append_windows, ingest_substring_spans,
        compact_substring_index)
    from flink_precisely_demo_spark.operators.lsm import delta_count
    from flink_precisely_demo_spark.session import get_spark
    from flink_precisely_demo_spark.sources.parquet import load_table

    spark = get_spark("serving-bench")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    feed = docs.limit(batch_size * (n_batches + 1)).collect()
    emb_feed = emb.limit(batch_size).collect()
    work = tempfile.mkdtemp(prefix="serving_bench_")
    out = {"sf_dir": sf_dir, "n_batches": n_batches,
           "batch_size": batch_size, "compact_every": compact_every}
    try:
        def batch_df(i):
            rows = [(int(r["doc_id"]) + (i + 1) * 10_000_000, r["text"])
                    for r in feed[i * batch_size:(i + 1) * batch_size]]
            return spark.createDataFrame(rows, "doc_id long, text string")

        probe = batch_df(n_batches)          # never ingested

        # ---- band index + maintained clusters -----------------------
        band = f"{work}/band"
        t0 = time.monotonic()
        build_band_index(docs, band, clusters=True)
        out["band_build_sec"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        for i in range(n_batches):
            b = batch_df(i)
            banded = _minhash_banded(b, "text", "doc_id", 16, 4, 3) \
                .persist()
            try:
                edges = ingest_cluster_edges(spark, band, banded=banded)
                append_bands(spark, band, b, tag=f"b{i}", banded=banded,
                             cluster_edges=edges)
            finally:
                banded.unpersist()
            if delta_count(band) >= compact_every:
                compact_band_index(spark, band)
        out["band_age_sec"] = round(time.monotonic() - t0, 1)
        out["band_deltas_at_measure"] = delta_count(band)
        out["band_ingest_sec"] = _best(
            lambda: ingest_batch(spark, band, probe).count())
        out["cluster_read_sec"] = _best(
            lambda: cluster_labels(spark, band).count())

        # ---- ANN index ----------------------------------------------
        ann = f"{work}/ann"
        t0 = time.monotonic()
        build_ann_index(emb, ann, id_col="vec_id")
        out["ann_build_sec"] = round(time.monotonic() - t0, 1)
        ups = spark.createDataFrame(
            [(int(r["vec_id"]), list(r["embedding"]))
             for r in emb_feed],
            "vec_id long, embedding array<float>")
        t0 = time.monotonic()
        for i in range(n_batches):
            upsert_ann_index(spark, ann, ups, id_col="vec_id",
                             tag=f"b{i}")
            if delta_count(ann) >= compact_every:
                compact_ann_index(spark, ann, id_col="vec_id")
        out["ann_age_sec"] = round(time.monotonic() - t0, 1)
        out["ann_deltas_at_measure"] = delta_count(ann)
        queries = emb.orderBy("vec_id").limit(32)
        out["ann_topk_sec"] = _best(
            lambda: query_ann(spark, ann, queries, k=10,
                              nprobe=2).count())

        # ---- substring anchor index ----------------------------------
        sub = f"{work}/sub"
        t0 = time.monotonic()
        build_substring_index(docs, sub)
        out["substring_build_sec"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        for i in range(n_batches):
            append_windows(spark, sub, batch_df(i), tag=f"b{i}")
            if delta_count(sub) >= compact_every:
                compact_substring_index(spark, sub)
        out["substring_age_sec"] = round(time.monotonic() - t0, 1)
        out["substring_deltas_at_measure"] = delta_count(sub)
        out["substring_ingest_sec"] = _best(
            lambda: ingest_substring_spans(spark, sub, probe).count())

        # ---- inverted text index -------------------------------------
        from flink_precisely_demo_spark.operators.text_index import (
            build_text_index, compact_text_index, search_text_index,
            upsert_text_index)
        from flink_precisely_demo_spark.plans.search_queries import (
            QUERY_TERMS)

        tix = f"{work}/tix"
        t0 = time.monotonic()
        build_text_index(docs, tix)
        out["text_build_sec"] = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        for i in range(n_batches):
            b = batch_df(i)
            # every 5th batch also takes down the previous batch's
            # first 20 docs, so the aged state carries live tombstones
            dels = None
            if i % 5 == 4:
                dels = [int(r["doc_id"]) + i * 10_000_000
                        for r in feed[(i - 1) * batch_size:
                                      (i - 1) * batch_size + 20]]
            upsert_text_index(spark, tix, updates=b, delete_ids=dels,
                              tag=f"b{i}")
            if delta_count(tix) >= compact_every:
                compact_text_index(spark, tix)
        out["text_age_sec"] = round(time.monotonic() - t0, 1)
        out["text_deltas_at_measure"] = delta_count(tix)
        out["text_search_sec"] = _best(
            lambda: search_text_index(spark, tix, QUERY_TERMS,
                                      k=5).count())
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
