"""Similarity-search queries over `embeddings` with DuckDB oracles.

The oracle replicates the engine's arithmetic exactly: float->double
casts, sequential left-to-right summation (Spark `aggregate` fold ==
DuckDB `list_aggregate('sum')`), identical cosine formula, rounding
to 6 dp before ranking, candidate-id tiebreak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import (assign_cells, brute_force_topk,
                                   collect_vectors, ivf_topk)
from ..sources.parquet import load_table
from .queries import query

_N_QUERIES = 8     # probe set: vec_id < 8
_N_CENTROIDS = 8   # IVF cells: vec_id < 8 as fixed deterministic centroids

_DOT = ("list_aggregate(list_transform(list_zip({a}, {b}), "
        "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')")
_NORM = ("sqrt(list_aggregate(list_transform({a}, "
         "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))")


def _cos(a: str, b: str) -> str:
    return (f"({_DOT.format(a=a, b=b)} / "
            f"({_NORM.format(a=a)} * {_NORM.format(a=b)}))")


@query(
    "similarity_bruteforce_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_vec
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             round({_cos('q.q_vec', 'e.embedding')}, 6) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim, rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM sims
    ) WHERE rnk <= 3
    """,
)
def _similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return brute_force_topk(emb, queries_df, k=3) \
        .withColumnRenamed("rank", "rnk")


@query(
    "similarity_ivf_cells",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cell_id, embedding AS cent_vec
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}
    ),
    sims AS (
      SELECT e.vec_id, c.cell_id,
             round({_cos('e.embedding', 'c.cent_vec')}, 6) AS cent_sim
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, cell_id
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cent_sim DESC, cell_id ASC) AS r
        FROM sims
      ) WHERE r = 1
    )
    SELECT cell_id, COUNT(*) AS n_vectors
    FROM assigned GROUP BY cell_id
    """,
)
def _similarity_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-assignment histogram — validates the partitioning step
    of the ANN index (cell sizes are what balance the scale-out)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _N_CENTROIDS)
    cells = assign_cells(emb, *collect_vectors(cent))
    return cells.groupBy("cell_id").agg(F.count(F.lit(1)).alias("n_vectors"))


@query(
    "similarity_ivf_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cell_id, embedding AS cent_vec
      FROM embeddings WHERE vec_id < {_N_CENTROIDS}
    ),
    csims AS (
      SELECT e.vec_id, e.embedding, c.cell_id,
             round({_cos('e.embedding', 'c.cent_vec')}, 6) AS cent_sim
      FROM embeddings e CROSS JOIN cent c
    ),
    assigned AS (
      SELECT vec_id, embedding, cell_id
      FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cent_sim DESC, cell_id ASC) AS r
        FROM csims
      ) WHERE r = 1
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS q_vec, cell_id
      FROM assigned WHERE vec_id < {_N_QUERIES}
    ),
    sims AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             round({_cos('q.q_vec', 'a.embedding')}, 6) AS sim
      FROM assigned a JOIN q ON a.cell_id = q.cell_id
      WHERE a.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim, rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM sims
    ) WHERE rnk <= 3
    """,
)
def _similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _N_CENTROIDS)
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    return ivf_topk(emb, queries_df, cent, k=3) \
        .withColumnRenamed("rank", "rnk")


@query(
    "embedding_quantize_stats",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                      x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      FROM embeddings
    )
    SELECT e.vec_id,
           round(q.scale, 6) AS scale,
           round(CASE WHEN q.scale = 0 THEN 0.0 ELSE
             list_max(list_transform(e.embedding,
               x -> abs(CAST(x AS DOUBLE)
                        - round(CAST(x AS DOUBLE) / q.scale) * q.scale)))
           END, 6) AS max_abs_err,
           CASE WHEN q.scale = 0 THEN 0 ELSE
             CAST(list_max(list_transform(e.embedding,
                  x -> abs(round(CAST(x AS DOUBLE) / q.scale)))) AS BIGINT)
           END AS max_code
    FROM embeddings e JOIN q ON e.vec_id = q.vec_id
    """,
)
def _embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit for embedding storage: per
    vector, the max-abs/127 scale, the worst reconstruction error,
    and the largest code (must be <= 127 by construction). Pure
    column expressions — the quantizer itself is a zero-Python,
    zero-shuffle map, which is what a 100 TB embedding-compression
    pass needs (the int8 arrays land 4x smaller on disk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = F.transform("embedding", lambda v: F.abs(v.cast("double")))
    scale = F.array_max(x) / F.lit(127.0)
    # NB: the raw scale column must not share a name with the rounded
    # output alias — Spark's lateral column alias resolution would
    # silently rebind F.col("scale") in sibling expressions to the
    # ROUNDED value (measured: max_abs_err flipped at the 6th dp)
    q = emb.select("vec_id", "embedding", scale.alias("__scale_raw"))
    raw = F.col("__scale_raw")
    code = lambda v: F.round(v.cast("double") / raw)  # noqa: E731
    err = F.array_max(F.transform(
        "embedding", lambda v: F.abs(v.cast("double") - code(v) * raw)))
    return q.select(
        "vec_id",
        F.round(raw, 6).alias("scale"),
        F.round(F.when(raw == 0, F.lit(0.0)).otherwise(err), 6)
         .alias("max_abs_err"),
        # same zero guard as max_abs_err: an all-zero embedding makes
        # scale 0 and code(v) = round(0/0) = NaN, where Spark/DuckDB
        # division and cast semantics diverge
        F.when(raw == 0, F.lit(0))
         .otherwise(F.array_max(F.transform("embedding",
                                            lambda v: F.abs(code(v)))))
         .cast("long").alias("max_code"))


@query(
    "dedup_semantic",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS seed, embedding AS sv
      FROM embeddings WHERE vec_id % 7 = 0 AND vec_id < 50
    ),
    sims AS (
      SELECT e.vec_id, s.seed,
             {_cos('e.embedding', 's.sv')} AS sim
      FROM embeddings e CROSS JOIN seeds s
    ),
    assign AS (
      SELECT vec_id, seed FROM (
        SELECT vec_id, seed,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, seed) AS rn
        FROM sims) WHERE rn = 1
    ),
    pairs AS (
      SELECT xa.vec_id AS a, xb.vec_id AS b
      FROM assign xa
      JOIN assign xb ON xa.seed = xb.seed AND xa.vec_id < xb.vec_id
      JOIN embeddings ea ON ea.vec_id = xa.vec_id
      JOIN embeddings eb ON eb.vec_id = xb.vec_id
      WHERE round({_cos('ea.embedding', 'eb.embedding')}, 6) >= 0.4
    ),
    dups AS (SELECT DISTINCT b AS vec_id FROM pairs)
    SELECT x.seed AS cluster_seed,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END)
                AS BIGINT) AS n_removed,
           CAST(SUM(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM assign x LEFT JOIN dups d ON x.vec_id = d.vec_id
    GROUP BY x.seed
    """,
)
def _dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: assign every embedding to its
    nearest seed vector (deterministic seeds vec_id % 7 = 0, < 50 —
    fixed so the oracle can replay the assignment; production swaps
    in trained k-means centroids, `operators/kmeans.py`), then form
    near-duplicate pairs ONLY within a cluster (cosine >= 0.4 after
    the house round-to-6), remove the higher id of each pair, and
    report per-cluster volume/removal stats.

    Scale shape (the SemDeDup argument itself): the O(n^2) cosine
    blow-up is fenced to within-cluster blocks. Assignment is a
    BROADCAST nested-loop over the tiny seed set folded map-side by
    a struct-max aggregation (no window shuffle, combiner-friendly),
    with both sides' norms precomputed ONCE per vector instead of
    once per (vector, seed) pair; the pair stage is ONE cluster-key
    shuffle into `semantic_cluster_stats` (grouped blocked matmul,
    only the 4-number rollup leaves each task — the r10 rework of the
    self-join + 252 k Arrow-shipped pair rows this query used to
    run). Assignment ordering uses the pure-expression cosine
    (sequential fold) so Spark and DuckDB compare bit-identical
    doubles — no rounding boundary can flip an argmax cross-engine."""
    from ..operators.similarity import _dot, _norm, semantic_cluster_stats

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding")
    embn = emb.withColumn("ne", _norm(F.col("embedding")))
    seeds = embn.filter((F.col("vec_id") % 7 == 0) & (F.col("vec_id") < 50)) \
        .select(F.col("vec_id").alias("seed"),
                F.col("embedding").alias("sv"),
                F.col("ne").alias("ns"))

    # sim = dot/(norm_a*norm_b) with the norms hoisted out of the
    # pair projection: same expressions, same fold order, computed
    # once per vector instead of once per pair (HOF lambdas get no
    # CSE — the interpreted fold is the expensive part)
    sims = embn.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "seed",
        (_dot(F.col("embedding"), F.col("sv"))
         / (F.col("ne") * F.col("ns"))).alias("sim"))
    # argmax(sim), ties to the LOWER seed: max of (sim, -seed) struct;
    # map-side combinable, unlike a row_number window
    assign = (sims.groupBy("vec_id")
              .agg(F.max(F.struct(F.col("sim"),
                                  (-F.col("seed")).alias("neg_seed")))
                   .alias("m"))
              .select("vec_id", (-F.col("m.neg_seed")).alias("seed")))

    return semantic_cluster_stats(assign.join(emb, "vec_id"))


@query(
    "embedding_hard_negatives",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_vec, label AS q_label
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ),
    sims AS (
      SELECT q.query_id, e.vec_id AS negative_id, e.label AS neg_label,
             round({_cos('q.q_vec', 'e.embedding')}, 6) AS sim
      FROM embeddings e CROSS JOIN q
      WHERE e.label <> q.q_label
    )
    SELECT query_id, negative_id, neg_label, sim, rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, negative_id ASC)
                  AS rnk
      FROM sims
    ) WHERE rnk <= 3
    """,
)
def _embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-3 most similar vectors with a DIFFERENT label —
    the negatives that actually move a contrastive loss (random
    negatives are trivially easy; hard ones define the decision
    boundary). Same map-side batch-matmul + local-top-k kernel as
    brute_force_topk with the label-mismatch mask pushed into the
    kernel, so at 100 TB the corpus never inflates: each scan
    partition emits at most k rows per query and the global window
    touches only k * q * n_partitions candidates."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    top = (brute_force_topk(emb, queries_df, k=3,
                            exclude_same_label=True)
           .withColumnRenamed("neighbor_id", "negative_id")
           .withColumnRenamed("rank", "rnk"))
    labels = emb.select(F.col("vec_id").alias("negative_id"),
                        F.col("label").alias("neg_label"))
    return (F.broadcast(top).join(labels, "negative_id")
            .select("query_id", "negative_id", "neg_label",
                    "sim", "rnk"))
