"""Materialized IVF ANN index: build once, query many times,
maintain incrementally.

The inline ``ivf_topk`` (operators/similarity.py) re-assigns the
corpus to cells on every call — right for ad-hoc queries, wasteful
for a served system. This module materializes the assignment:

- ``build_ann_index``: train k-means centroids (operators/kmeans.py),
  assign every corpus vector map-side, and write the corpus as
  parquet **partitioned by cell_id** plus a tiny ``centroids``
  parquet. At 100 TB the build is one training scan per iteration +
  one assignment scan + a partitioned write; no corpus shuffle
  beyond the write's own partitioning.
- ``query_ann``: resolve each query's top-``nprobe`` cells on the
  driver (q x k sims against the collected centroid matrix), then
  scan ONLY those cell partitions — ``cell_id IN (...)`` on a
  partition column is directory-level pruning, so a 1000-executor
  cluster reads ~nprobe/k_cells of the corpus bytes. Candidate
  scoring reuses the local-top-k kernel shape from similarity.py:
  per-partition batch matmul + local top-k, one tiny global window.
- ``upsert_ann_index`` / ``compact_ann_index``: LSM-style
  maintenance. A served corpus mutates (new docs, re-embeddings,
  takedowns) and a 100 TB index cannot be rebuilt per change, so
  each upsert appends a small **delta generation** — the new vectors
  assigned to cells under the EXISTING centroids (no retrain; the
  cell geometry is the serving contract) plus a tombstone set that
  shadows every older version of the touched ids wherever they live
  (an id's replacement vector may land in a DIFFERENT cell, so
  shadowing must be by id+generation, not by cell). Reconciliation
  cost at query time is the probed delta bytes plus one
  broadcast-sized anti-join against the tombstone set; compaction
  folds all generations back into a fresh base and resets that cost
  to zero. The generation protocol itself is operators/lsm.py.

Recall/cost knob: nprobe=1 is fastest; nprobe=k_cells degenerates to
exact brute force over a partitioned scan (tested equivalence).
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .kmeans import _centroid_arrays, kmeans_fit
from .lsm import (
    delta_count,
    delta_frames,
    new_base,
    new_delta,
    reconcile,
    write_generation,
    write_tombstones,
)
from .similarity import (
    _cosine_matrix,
    _global_topk,
    _local_topk,
    assign_cells,
    collect_vectors,
)


def build_ann_index(corpus: DataFrame, index_path: str, k_cells: int = 8,
                    max_iter: int = 3, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    train_df: DataFrame | None = None) -> None:
    """Train centroids and materialize the cell-partitioned corpus at
    ``index_path`` (subdirs ``vectors/cell_id=N/`` and ``centroids``),
    published atomically as a new base (operators/lsm.py): a crashed
    build is never mistaken for an index."""
    spark = corpus.sparkSession
    with new_base(index_path) as stage:
        centroids = kmeans_fit(train_df if train_df is not None else corpus,
                               k_cells, max_iter, id_col, vec_col)
        cell_ids, cent_mat = _centroid_arrays(centroids)
        write_generation(assign_cells(corpus, cell_ids, cent_mat,
                                      id_col, vec_col),
                         f"{stage}/vectors", "cell_id")
        spark.createDataFrame(
            [(int(c), [float(x) for x in v]) for c, v in centroids],
            "cell_id long, c array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(f"{stage}/centroids")


def upsert_ann_index(spark: SparkSession, index_path: str,
                     updates: DataFrame | None = None,
                     delete_ids=None, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     tag: str | None = None) -> int:
    """Append one delta generation: ``updates`` rows (re)define their
    ids' vectors, ``delete_ids`` (an iterable or a one-column
    DataFrame) remove theirs. Returns the generation number.

    The update vectors are assigned to cells under the index's
    EXISTING centroids (``similarity.assign_cells`` — the kernel the
    build used, so there is exactly one assignment rule) and written
    cell-partitioned, so probe-time pruning applies to deltas exactly
    as to the base. Every touched id gets a tombstone stamped with
    this generation (operators/lsm.py).

    Scale: the work is proportional to the DELTA, not the index —
    one assignment scan over ``updates`` and a partitioned write.
    Tombstones accumulate until :func:`compact_ann_index`; they are
    delta-metadata-sized (ids only), which is what keeps the read
    path's anti-join broadcastable.

    No reference counterpart (the reference has no vector serving at
    all); the delta/tombstone/compact shape is the standard LSM
    contract (e.g. Lucene segment deletes, Delta Lake deletion
    vectors) re-expressed over plain partitioned parquet."""
    if updates is None and delete_ids is None:
        raise ValueError("upsert_ann_index: nothing to apply "
                         "(updates and delete_ids both None)")
    with new_delta(index_path, tag) as (stage, seq):
        touched = None
        if updates is not None:
            touched = updates.select(id_col)
            cell_ids, cent_mat = load_centroids(spark, index_path)
            write_generation(assign_cells(updates, cell_ids, cent_mat,
                                          id_col, vec_col),
                             f"{stage}/vectors", "cell_id")
        write_tombstones(spark, stage, id_col, touched, delete_ids,
                         f"{index_path}/vectors")
    return seq


def _live_vectors(spark: SparkSession, index_path: str, id_col: str,
                  vec_col: str, cells: list[int] | None = None
                  ) -> DataFrame:
    """The reconciled (id, vec, cell_id) view of base + deltas,
    optionally restricted to ``cells`` (partition-pruned on every
    generation)."""

    def scan(path: str) -> DataFrame:
        df = spark.read.parquet(path)
        if cells is not None:
            df = df.filter(F.col("cell_id").isin(cells))
        return df.select(id_col, vec_col, F.col("cell_id").cast("long"))

    return reconcile(spark, index_path, "vectors", id_col, scan)


def index_stats(spark: SparkSession, index_path: str,
                id_col: str = "vec_id", vec_col: str = "embedding"
                ) -> DataFrame:
    """Per-cell health of the served index: (cell_id, n_base,
    n_delta, n_live, n_dead) — the numbers an operator alerts on.

    - ``n_base`` / ``n_delta``: raw rows physically in the base and
      in the accumulated delta generations (the index's storage
      footprint per cell).
    - ``n_live``: rows a reconciling scan actually serves.
    - ``n_dead`` = base + delta − live: shadowed/tombstoned rows a
      query still pays to scan-and-discard — the compaction debt.
      When n_dead/n_live crosses a threshold (or cells skew), run
      :func:`compact_ann_index` / rebuild.

    Every input is a map-side count with partial aggregation; the
    joins are over ≤ k_cells rows. Cost: one metadata-light pass
    over the index, no corpus shuffle."""
    def counted(df: DataFrame, out: str) -> DataFrame:
        return (df.groupBy(F.col("cell_id").cast("long").alias("cell_id"))
                .agg(F.count(F.lit(1)).alias(out)))

    base = counted(spark.read.parquet(f"{index_path}/vectors"), "n_base")
    dframes = delta_frames(spark, index_path, "vectors")
    live = counted(_live_vectors(spark, index_path, id_col, vec_col),
                   "n_live")
    cells, _ = load_centroids(spark, index_path)
    spine = spark.createDataFrame([(int(c),) for c in cells],
                                  "cell_id long")
    stats = spine.join(base, "cell_id", "left").join(live, "cell_id", "left")
    if dframes:
        delta = counted(reduce(DataFrame.unionByName, dframes), "n_delta")
        stats = stats.join(delta, "cell_id", "left")
    else:
        stats = stats.withColumn("n_delta", F.lit(None).cast("long"))
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    return stats.select(
        "cell_id", z("n_base").alias("n_base"),
        z("n_delta").alias("n_delta"), z("n_live").alias("n_live"),
        (z("n_base") + z("n_delta") - z("n_live")).alias("n_dead"))


def compact_ann_index(spark: SparkSession, index_path: str,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding") -> int:
    """Fold every delta generation into a fresh base (centroids are
    carried over unchanged — compaction never moves a vector between
    cells). Returns the number of generations folded (0 = no-op).

    After compaction the read path is back to the zero-overhead
    plain scan, so the serving cost model is: reads pay
    O(accumulated delta) until the next compaction resets it — the
    operator a 100 TB index runs on a schedule, sized so the
    tombstone set stays broadcastable."""
    folded = delta_count(index_path)
    with new_base(index_path, compact=True) as stage:
        if stage is None:
            return 0
        write_generation(_live_vectors(spark, index_path, id_col, vec_col),
                         f"{stage}/vectors", "cell_id")
        spark.read.parquet(f"{index_path}/centroids").coalesce(1) \
            .write.mode("overwrite").parquet(f"{stage}/centroids")
    return folded


#: (index_path, centroid-file fingerprint) -> (cell_ids, cent_mat).
#: The serving contract freezes cell geometry ("upserts never
#: retrain"), so a server loads centroids once at startup and serves
#: every query from memory — re-collecting the k-row parquet per
#: query_ann call was one full Spark job of pure startup cost on the
#: timed query path. The fingerprint (file names + mtime + size)
#: guards the one legal way geometry changes: a rebuild, which writes
#: new centroid files and misses the cache.
_CENTROID_CACHE: dict[tuple, tuple[np.ndarray, np.ndarray]] = {}


def _centroid_fingerprint(index_path: str) -> tuple:
    import os

    d = os.path.join(index_path, "centroids")
    out = []
    for name in sorted(os.listdir(d)):
        st = os.stat(os.path.join(d, name))
        out.append((name, st.st_mtime_ns, st.st_size))
    return tuple(out)


def load_centroids(spark: SparkSession, index_path: str
                   ) -> tuple[np.ndarray, np.ndarray]:
    try:
        key = (index_path, _centroid_fingerprint(index_path))
    except OSError:
        key = None
    if key is not None and key in _CENTROID_CACHE:
        return _CENTROID_CACHE[key]
    rows = spark.read.parquet(f"{index_path}/centroids").collect()
    rows.sort(key=lambda r: r["cell_id"])
    got = (np.array([r["cell_id"] for r in rows], dtype=np.int64),
           np.stack([np.asarray(r["c"], dtype=np.float64) for r in rows]))
    if key is not None:
        if len(_CENTROID_CACHE) >= 64:
            _CENTROID_CACHE.clear()
        _CENTROID_CACHE[key] = got
    return got


def _probe_cells(q_mat: np.ndarray, cent_mat: np.ndarray,
                 cell_ids: np.ndarray, nprobe: int) -> list[np.ndarray]:
    """Top-``nprobe`` cells per query (sim desc, cell_id asc)."""
    sims = _cosine_matrix(q_mat, cent_mat)
    out = []
    for j in range(len(q_mat)):
        order = np.lexsort((cell_ids, -sims[j]))[:nprobe]
        out.append(cell_ids[order])
    return out


def query_ann(spark: SparkSession, index_path: str, queries: DataFrame,
              k: int = 3, nprobe: int = 2, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Top-k neighbors from the prebuilt index, scanning only the
    ``nprobe`` best cells per query: (query_id, neighbor_id, sim, rank)."""
    cell_ids, cent_mat = load_centroids(spark, index_path)
    query_ids, q_mat = collect_vectors(queries, id_col, vec_col)
    probes = _probe_cells(q_mat, cent_mat, cell_ids, nprobe)
    needed = sorted({int(c) for p in probes for c in p})
    # (q x cells) membership mask, indexed by position in `needed`
    probe_mask = {qid: set(int(c) for c in p)
                  for qid, p in zip(query_ids, probes)}

    # partition-column filter => directory pruning on base AND every
    # delta generation: only the probed cells' files are ever
    # listed/read; tombstone reconciliation is a broadcast anti-join
    # (and with no deltas, exactly the old plain pruned scan)
    vectors = _live_vectors(spark, index_path, id_col, vec_col, needed)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            batch = np.stack(pdf[vec_col].map(
                lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
            nids = pdf[id_col].to_numpy(dtype=np.int64)
            cells = pdf["cell_id"].to_numpy(dtype=np.int64)
            mask = np.column_stack([
                np.isin(cells, list(probe_mask[qid])) for qid in query_ids])
            if not mask.any():
                continue
            sims = _cosine_matrix(batch, q_mat)
            yield _local_topk(sims, nids, query_ids, k, mask=mask)

    local = vectors.mapInPandas(
        kernel, schema="query_id long, neighbor_id long, sim double")
    return _global_topk(local, k)
