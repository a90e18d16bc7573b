"""Similarity search over embedding columns (SURVEY.md §2.3).

Embeddings are ``array<float>`` columns. Two paths:

- brute_force_topk: exact cosine top-k. The probe set is tiny by
  construction, so it is collected to the driver once and shipped to
  every task inside the kernel closure (the same legitimacy argument
  as k-means centroids: q x dim floats). Each corpus partition then
  computes a single (batch x dim) @ (dim x q) matmul, emits its LOCAL
  top-k per query, and a final window over (partitions x q x k) rows
  resolves the global top-k — the classic distributed exact-ANN
  shape. No corpus inflation, no broadcast join, ONE Python stage.
- ivf_topk: IVF-style pruning. Every corpus vector is assigned to
  its nearest centroid map-side (argmax over the broadcast centroid
  matrix — a per-row computation, NOT a cross join + window shuffle);
  a query only scans candidates in its own cell (nprobe=1). At 100 TB
  this cuts the scanned fraction to ~1/n_cells and the cell id
  doubles as the index partitioning key (see operators/ann_index.py
  for the materialized form with nprobe>1).

Scale notes: the kernels are narrow maps over the scan partitions —
parallelism comes from the source layout (at 100 TB the parquet scan
yields thousands of partitions), so no repartition shuffle is needed
before the CPU work; the only shuffle anywhere is the final
(partitions x q x k)-row top-k resolution, which is negligible.

Determinism: cosine is rounded to 6 dp before ranking (absorbs the
~1e-15 summation-order difference between numpy's pairwise matmul
and the oracle's sequential fold) and ties break on the lowest
candidate/cell id (np.argmax / lexsort take the first maximum, and
ids are sorted ascending), mirroring the DuckDB oracles exactly.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product of two float arrays in double."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x))


def cosine_expr(a: Column, b: Column) -> Column:
    """Pure-expression cosine — the semantic spec mirrored by the
    DuckDB oracles (sequential left-to-right double accumulation)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


_COSINE_UDF = None


def _cosine_pandas_udf():
    """Arrow-vectorized pairwise cosine (lazy: pandas_udf registration
    needs an active session). Used by consumers that already have the
    two vectors side by side in one row (e.g. the label-blocked
    embedding near-dup self-join)."""
    global _COSINE_UDF
    if _COSINE_UDF is None:
        def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
            va = np.stack(a.to_numpy()).astype(np.float64)
            vb = np.stack(b.to_numpy()).astype(np.float64)
            num = (va * vb).sum(axis=1)
            den = (np.sqrt((va * va).sum(axis=1))
                   * np.sqrt((vb * vb).sum(axis=1)))
            return pd.Series(num / den)
        _COSINE_UDF = F.pandas_udf(_cos, "double")
    return _COSINE_UDF


def cosine(a: Column, b: Column) -> Column:
    """Default pairwise cosine: Arrow-vectorized (Spark's array
    higher-order lambdas are CodegenFallback — interpreted
    row-at-a-time — so the pandas path is ~10x faster on wide
    vectors; see BASELINE.md)."""
    return _cosine_pandas_udf()(a, b)


def collect_vectors(df: DataFrame, id_col: str = "vec_id",
                    vec_col: str = "embedding"
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side (ids, matrix) of a SMALL frame (probe set /
    centroid list — q x dim floats), sorted by id ascending so that
    first-maximum argmax resolves ties toward the lowest id. The
    corpus itself is never collected."""
    rows = df.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: r[0])
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return ids, mat


def _cosine_matrix(batch: np.ndarray, mat: np.ndarray) -> np.ndarray:
    """(b x dim) vs (m x dim) -> (b x m) cosine, rounded to 6 dp."""
    num = batch @ mat.T
    den = (np.sqrt((batch * batch).sum(axis=1, keepdims=True))
           * np.sqrt((mat * mat).sum(axis=1))[None, :])
    return np.round(num / den, 6)


def _nearest_cell(batch: np.ndarray, cent_mat: np.ndarray,
                  cell_ids: np.ndarray) -> np.ndarray:
    """Map-side argmax cell assignment (ties -> lowest cell id)."""
    sims = _cosine_matrix(batch, cent_mat)
    return cell_ids[np.argmax(sims, axis=1)]


def assign_cells(vectors: DataFrame, cell_ids: np.ndarray,
                 cent_mat: np.ndarray, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """IVF cell assignment: nearest centroid by cosine (argmax sim,
    lowest cell id as tiebreak) against the driver-side centroid
    arrays (``collect_vectors``). The matrix rides inside the kernel
    closure; assignment is a narrow single-pass map over the corpus —
    no row inflation, no shuffle (the round-1 form cross joined
    corpus x centroids and resolved the argmax with a row_number
    window, shuffling the x-k-inflated corpus). The ANN index build
    and every upsert assign with this same kernel."""
    id_type = vectors.schema[id_col].dataType.simpleString()

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            batch = np.stack(pdf[vec_col].map(
                lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
            out = pdf[[id_col, vec_col]].copy()
            out["cell_id"] = _nearest_cell(batch, cent_mat, cell_ids)
            yield out

    return vectors.select(id_col, vec_col).mapInPandas(
        kernel, schema=f"{id_col} {id_type}, {vec_col} array<float>, cell_id long")


def _local_topk(sims: np.ndarray, neighbor_ids: np.ndarray,
                query_ids: np.ndarray, k: int,
                mask: np.ndarray | None = None) -> pd.DataFrame:
    """Per-partition top-k per query from a (b x q) sim matrix.
    Ordering is (sim desc, neighbor_id asc) — identical to the final
    global window, so top-k(union of local top-k) == global top-k."""
    frames = []
    for j, qid in enumerate(query_ids):
        col = sims[:, j]
        valid = neighbor_ids != qid
        if mask is not None:
            valid &= mask[:, j]
        if not valid.any():
            continue
        nid, s = neighbor_ids[valid], col[valid]
        order = np.lexsort((nid, -s))[:k]
        frames.append(pd.DataFrame({
            "query_id": qid, "neighbor_id": nid[order], "sim": s[order]}))
    return (pd.concat(frames, ignore_index=True) if frames
            else pd.DataFrame({"query_id": pd.Series(dtype="int64"),
                               "neighbor_id": pd.Series(dtype="int64"),
                               "sim": pd.Series(dtype="float64")}))


def _global_topk(local: DataFrame, k: int) -> DataFrame:
    """Resolve (partitions x q x k) local candidates to the global
    top-k — a window over a tiny frame (WindowGroupLimit keeps even
    this partial)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc())
    return (local.withColumn("rank", F.row_number().over(w))
                 .filter(F.col("rank") <= k)
                 .select("query_id", "neighbor_id", "sim", "rank"))


def brute_force_topk(candidates: DataFrame, queries: DataFrame, k: int = 3,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     exclude_same_label: bool = False,
                     label_col: str = "label") -> DataFrame:
    """Exact cosine top-k: (query_id, neighbor_id, sim, rank).

    Self-matches are excluded. ``queries`` must be small enough to
    collect (it is the probe set, not the corpus).
    ``exclude_same_label=True`` masks candidates sharing the query's
    ``label_col`` inside the kernel — hard-negative mining for
    contrastive training, at the same zero-inflation cost."""
    query_ids, q_mat = collect_vectors(queries, id_col, vec_col)
    q_labels = None
    if exclude_same_label:
        q_rows = queries.select(id_col, label_col).collect()
        by_id = {r[id_col]: r[label_col] for r in q_rows}
        q_labels = np.array([by_id[q] for q in query_ids])

    cols = [id_col, vec_col] + ([label_col] if exclude_same_label else [])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            batch = np.stack(pdf[vec_col].map(
                lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
            nids = pdf[id_col].to_numpy(dtype=np.int64)
            mask = None
            if q_labels is not None:
                c_labels = pdf[label_col].to_numpy()
                mask = c_labels[:, None] != q_labels[None, :]
            sims = _cosine_matrix(batch, q_mat)
            yield _local_topk(sims, nids, query_ids, k, mask=mask)

    local = candidates.select(*cols).mapInPandas(
        kernel, schema="query_id long, neighbor_id long, sim double")
    return _global_topk(local, k)


def ivf_topk(candidates: DataFrame, queries: DataFrame, centroids: DataFrame,
             k: int = 3, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF(nprobe=1) approximate top-k: searches only the query's own
    cell. Returns (query_id, neighbor_id, sim, rank).

    Fused single-pass plan: each corpus partition assigns its own
    rows to cells (map-side argmax), masks candidates to the cell of
    each query (query cells are resolved on the driver — q x k sims),
    and emits local top-k; one tiny window resolves the global
    answer. The round-1 form ran two cross-join+window assignment
    subplans and a bucket join — three shuffles of inflated rows,
    now zero corpus shuffles. For a served index that amortizes the
    assignment across many query batches, see operators/ann_index.py.
    """
    cell_ids, cent_mat = collect_vectors(centroids, id_col, vec_col)
    query_ids, q_mat = collect_vectors(queries, id_col, vec_col)
    q_cells = _nearest_cell(q_mat, cent_mat, cell_ids)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            batch = np.stack(pdf[vec_col].map(
                lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
            nids = pdf[id_col].to_numpy(dtype=np.int64)
            cells = _nearest_cell(batch, cent_mat, cell_ids)
            # (b x q) mask: candidate in the query's cell
            mask = cells[:, None] == q_cells[None, :]
            if not mask.any():
                continue
            sims = _cosine_matrix(batch, q_mat)
            yield _local_topk(sims, nids, query_ids, k, mask=mask)

    local = candidates.select(id_col, vec_col).mapInPandas(
        kernel, schema="query_id long, neighbor_id long, sim double")
    return _global_topk(local, k)


def semantic_cluster_stats(assigned: DataFrame,
                           cluster_col: str = "seed",
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           threshold: float = 0.4,
                           block: int = 1024) -> DataFrame:
    """Per-cluster SemDeDup rollup: within each cluster, mark every
    vector that is the HIGHER id of any pair with
    round(cosine, 6) >= threshold, and emit ONE row per cluster with
    (cluster, n_vectors, n_removed, n_kept).

    This replaces the self-join + per-pair cosine shape (O(n_c^2)
    rows shuffled and Arrow-shipped — measured 252 k pair rows at
    sf0.1) with one grouped BLOCKED MATMUL: each cluster's vectors
    land in one task via the single cluster-key shuffle, the pair
    similarities are computed `block` rows at a time ((block x n_c)
    working set, never the full n_c^2 matrix), and only the 4-number
    rollup leaves the task. At 100 TB the within-cluster quadratic is
    the SemDeDup algorithm's own cost model — clusters are sized by
    choosing k so a cluster's vectors fit a task, exactly as the
    paper's implementation shards by cluster.

    Numerics: dot / (norm_a * norm_b) in float64, rounded to 6 dp
    before the threshold — numpy's pairwise summation differs from
    the oracle's sequential fold by ~1e-15, absorbed by the rounding
    (the module-docstring contract all kernels here share)."""
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        M = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)
        n = len(ids)
        norms = np.sqrt((M * M).sum(axis=1))
        dup = np.zeros(n, dtype=bool)
        for i0 in range(0, n, block):
            i1 = min(i0 + block, n)
            num = M[i0:i1] @ M.T
            den = norms[i0:i1, None] * norms[None, :]
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = np.round(num / den, 6)
            hit = sims >= threshold
            # only pairs (i, j) with i < j mark j; ids are sorted, so
            # id order == index order
            col_idx = np.arange(n)[None, :]
            row_idx = np.arange(i0, i1)[:, None]
            hit &= row_idx < col_idx
            dup |= hit.any(axis=0)
        n_removed = int(dup.sum())
        return pd.DataFrame([{
            "cluster_seed": int(pdf[cluster_col].iloc[0]),
            "n_vectors": n,
            "n_removed": n_removed,
            "n_kept": n - n_removed,
        }])

    return (assigned.select(cluster_col, id_col, vec_col)
            .groupBy(cluster_col)
            .applyInPandas(fn, "cluster_seed long, n_vectors long, "
                               "n_removed long, n_kept long"))
