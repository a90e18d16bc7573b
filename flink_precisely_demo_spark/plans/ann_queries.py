"""Served-ANN-index query with a full DuckDB oracle.

``ann_index_topk`` exercises the materialized IVF path end-to-end:
k-means training (8 cells, 3 iterations) -> cell-partitioned parquet
index -> nprobe=2 partition-pruned top-3 query. The index is built
once per (process, sf_dir) under /tmp and reused — exactly the
amortization a served system provides; the oracle replays training
via the unrolled k-means CTEs (plans/sketch_queries.kmeans_ctes) and
the probe/scan arithmetic in plain SQL, so the result is fully
hash-checked despite the iterative build.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.ann_index import build_ann_index, query_ann
from ..scratch import scratch
from ..sources.parquet import load_table
from ..streaming.replay_stage import open_feed, stage_feed
from .queries import query, staged_fixture
from .similarity_queries import _N_QUERIES, _cos
from .sketch_queries import _ITERS, _K, kmeans_ctes

_NPROBE = 2
_TOPK = 3


def ann_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The served index over ``sf_dir``'s embeddings, built once."""
    from ..operators.lsm import index_ok

    return staged_fixture(
        "ann_index", sf_dir, index_ok,
        lambda stage: build_ann_index(
            load_table(spark, sf_dir, "embeddings"), stage,
            k_cells=_K, max_iter=_ITERS))


# the IVF probe/scan CTEs, shared by the top-k oracle, the
# recall-evaluation oracle, and the upsert oracle (one definition,
# no drift); ``corpus`` is the table the index holds — ``e`` for the
# as-built index, a mutated `live` CTE for the post-upsert index
# (centroids always train on ``e``: upserts never retrain)


def _ivf_ctes(corpus: str = "e") -> str:
    return f"""
    assigned AS (
      SELECT vec_id, embedding, cell_id FROM (
        SELECT e.vec_id, e.embedding, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round({_cos('e.embedding', 'c.c')}, 6) DESC,
                                           c.cell_id ASC) AS r
        FROM {corpus} e CROSS JOIN c{_ITERS} c
      ) WHERE r = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, embedding AS q_vec, cell_id FROM (
        SELECT e.vec_id, e.embedding, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round({_cos('e.embedding', 'c.c')}, 6) DESC,
                                           c.cell_id ASC) AS r
        FROM {corpus} e CROSS JOIN c{_ITERS} c
        WHERE e.vec_id < {_N_QUERIES}
      ) WHERE r <= {_NPROBE}
    ),
    sims AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             round({_cos('q.q_vec', 'a.embedding')}, 6) AS sim
      FROM assigned a JOIN qprobe q ON a.cell_id = q.cell_id
      WHERE a.vec_id <> q.query_id
    )"""


_IVF_CTES = _ivf_ctes()


@query(
    "ann_index_topk",
    oracle=f"""
    WITH {kmeans_ctes(_K, _ITERS)},{_IVF_CTES}
    SELECT query_id, neighbor_id, sim, rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM sims
    ) WHERE rnk <= {_TOPK}
    """,
)
def _ann_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ann_index_path(spark, sf_dir)
    queries_df = load_table(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < _N_QUERIES)
    return query_ann(spark, path, queries_df, k=_TOPK, nprobe=_NPROBE) \
        .withColumnRenamed("rank", "rnk")


# the two delta generations the upsert pair applies (also encoded in
# the oracle's `live` CTE below — keep in sync):
#   gen1: upsert ids 100-149 -> reversed vectors; delete 150-154
#   gen2: upsert ids 140-151 -> ORIGINAL vectors (shadows gen1's
#         reversal of 140-149 and resurrects the deleted 150-151);
#         delete 480-489
# net live state: 100-139 reversed, 152-154 + 480-489 gone, rest as-is


def _upsert_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Clone the shared as-built index and apply the two fixed delta
    generations. The post-upsert state is deterministic, so a
    marker-bearing dir with exactly 2 published deltas is reusable
    across processes."""
    import shutil

    from ..operators.ann_index import upsert_ann_index
    from ..operators.lsm import delta_count, index_ok

    def build(stage: str) -> None:
        shutil.copytree(ann_index_path(spark, sf_dir), stage)
        emb = load_table(spark, sf_dir, "embeddings")
        g1 = emb.filter(F.col("vec_id").between(100, 149)).select(
            "vec_id", F.reverse("embedding").alias("embedding"))
        upsert_ann_index(spark, stage, g1, delete_ids=range(150, 155))
        g2 = emb.filter(F.col("vec_id").between(140, 151)) \
                .select("vec_id", "embedding")
        upsert_ann_index(spark, stage, g2, delete_ids=range(480, 490))

    return staged_fixture(
        "ann_upsert", sf_dir,
        lambda p: index_ok(p) and delta_count(p) == 2, build)


# shared by the batch-API pair and the streaming-replay pair: both
# apply the SAME two delta waves, so the net live state — and hence
# the oracle — is identical; what differs is the machinery under
# test (direct upsert calls + uncompacted reconciling read vs a
# foreachBatch micro-batch sink + post-compaction read)
_UPSERT_ORACLE = f"""
    WITH {kmeans_ctes(_K, _ITERS)},
    live AS (
      SELECT vec_id,
             CASE WHEN vec_id BETWEEN 100 AND 139
                  THEN list_reverse(embedding)
                  ELSE embedding END AS embedding
      FROM e
      WHERE vec_id NOT BETWEEN 152 AND 154
        AND vec_id NOT BETWEEN 480 AND 489
    ),{_ivf_ctes('live')}
    SELECT query_id, neighbor_id, sim, rnk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id ASC) AS rnk
      FROM sims
    ) WHERE rnk <= {_TOPK}
    """


@query("ann_index_upsert_topk", oracle=_UPSERT_ORACLE)
def _ann_index_upsert_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The served index's incremental-maintenance path
    (operators/ann_index.upsert_ann_index) proven end-to-end: clone
    the as-built index, apply two LSM delta generations (an upsert
    wave that re-embeds ids 100-149 as their reversed vectors +
    deletes 150-154, then a second wave that rolls 140-151 BACK to
    the originals — shadowing gen1 and resurrecting two deleted ids
    — and takes down 480-489), then run the same nprobe=2 top-3
    query as ``ann_index_topk`` against the UNCOMPACTED index, so
    the driver check covers the reconciling read path: base + both
    delta scans (all partition-pruned to the probed cells) and the
    broadcast tombstone anti-join. The oracle replays k-means
    training on the ORIGINAL corpus (upserts never retrain — the
    cell geometry is the serving contract) and the probe/scan
    arithmetic over the net `live` state.

    Compaction equivalence (compact-then-query == delta-query) and
    crash-atomicity of the delta publish are pinned by
    tests/test_ann_maintenance.py.

    Scale: each upsert costs one assignment scan over the DELTA plus
    a cell-partitioned write; reads pay the probed delta bytes and
    one broadcast anti-join until compaction resets the base."""
    path = _upsert_index_path(spark, sf_dir)
    queries_df = load_table(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < _N_QUERIES)
    return query_ann(spark, path, queries_df, k=_TOPK, nprobe=_NPROBE) \
        .withColumnRenamed("rank", "rnk")


@query(
    "ann_index_health",
    oracle=f"""
    WITH {kmeans_ctes(_K, _ITERS)},
    live AS (
      SELECT vec_id,
             CASE WHEN vec_id BETWEEN 100 AND 139
                  THEN list_reverse(embedding)
                  ELSE embedding END AS embedding
      FROM e
      WHERE vec_id NOT BETWEEN 152 AND 154
        AND vec_id NOT BETWEEN 480 AND 489
    ),
    dl AS (
      SELECT 1 AS g, vec_id, list_reverse(embedding) AS embedding
      FROM e WHERE vec_id BETWEEN 100 AND 149
      UNION ALL
      SELECT 2 AS g, vec_id, embedding
      FROM e WHERE vec_id BETWEEN 140 AND 151
    ),
    ab AS (
      SELECT cell_id, COUNT(*) AS n_base FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round({_cos('e.embedding', 'c.c')}, 6) DESC,
                                           c.cell_id ASC) AS r
        FROM e CROSS JOIN c{_ITERS} c
      ) WHERE r = 1 GROUP BY cell_id),
    ad AS (
      SELECT cell_id, COUNT(*) AS n_delta FROM (
        SELECT d.vec_id, d.g, c.cell_id,
               row_number() OVER (PARTITION BY d.vec_id, d.g
                                  ORDER BY round({_cos('d.embedding', 'c.c')}, 6) DESC,
                                           c.cell_id ASC) AS r
        FROM dl d CROSS JOIN c{_ITERS} c
      ) WHERE r = 1 GROUP BY cell_id),
    al AS (
      SELECT cell_id, COUNT(*) AS n_live FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY round({_cos('e.embedding', 'c.c')}, 6) DESC,
                                           c.cell_id ASC) AS r
        FROM live e CROSS JOIN c{_ITERS} c
      ) WHERE r = 1 GROUP BY cell_id)
    SELECT CAST(c.cell_id AS BIGINT) AS cell_id,
           CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
           CAST(COALESCE(n_delta, 0) AS BIGINT) AS n_delta,
           CAST(COALESCE(n_live, 0) AS BIGINT) AS n_live,
           CAST(COALESCE(n_base, 0) + COALESCE(n_delta, 0)
                - COALESCE(n_live, 0) AS BIGINT) AS n_dead
    FROM (SELECT DISTINCT cell_id FROM c{_ITERS}) c
    LEFT JOIN ab USING (cell_id)
    LEFT JOIN ad USING (cell_id)
    LEFT JOIN al USING (cell_id)
    """,
)
def _ann_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the maintained index
    (operators/ann_index.index_stats): per cell, the physical base
    and delta row counts, the rows a reconciling scan actually
    serves, and the dead (shadowed/tombstoned) rows — the compaction
    debt and skew numbers a 100 TB serving fleet alerts on. Runs
    against the post-upsert (UNCOMPACTED) index, so the dead count is
    non-trivial: gen2 shadows part of gen1, two deleted ranges
    tombstone base rows, and every replaced id leaves its old vector
    dead in its old cell. The oracle recomputes each population's
    cell assignment from the k-means CTEs (delta rows keyed by
    (vec_id, generation) — the same id can carry DIFFERENT vectors
    in different generations and each physical row must count).

    Scale: map-side counts with partial agg; joins over k_cells
    rows. One metadata-light pass, no corpus shuffle."""
    from ..operators.ann_index import index_stats

    return index_stats(spark, _upsert_index_path(spark, sf_dir))


def _mutation_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two delta waves as a (vec_id, embedding, op, b) mutation
    stream — same net state as _upsert_index_path (see the wave
    comment there); ``b`` is the trigger-file assignment."""
    emb = load_table(spark, sf_dir, "embeddings")

    def wave(lo, hi, op, b, rev):
        vec = F.reverse("embedding") if rev else F.col("embedding")
        return (emb.filter(F.col("vec_id").between(lo, hi))
                .select("vec_id", vec.alias("embedding"),
                        F.lit(op).alias("op"), F.lit(b).alias("b")))

    return (wave(100, 149, "U", 0, rev=True)
            .unionByName(wave(150, 154, "D", 0, rev=False))
            .unionByName(wave(140, 151, "U", 1, rev=False))
            .unionByName(wave(480, 489, "D", 1, rev=False)))


def _stream_upsert_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Clone the as-built index and drain the 2-trigger mutation
    stream into it through the foreachBatch sink with
    ``compact_every=2`` — so the final state is a COMPACTED base
    (0 deltas) whose applied-batch manifest records both triggers;
    that end state is deterministic, making the dir reusable across
    processes (mirrors _upsert_index_path's reuse rule)."""
    import shutil

    from ..operators.lsm import applied_tags, delta_count, index_ok
    from ..streaming.ann_upsert import ann_upsert_sink
    from ..streaming.pipeline import drain

    def build(stage: str) -> None:
        shutil.copytree(ann_index_path(spark, sf_dir), stage)
        with scratch("ann_upsert_replay_") as work:
            feed = open_feed(spark, stage_feed(
                _mutation_feed(spark, sf_dir), work, "mutations", "b"))
            drain(feed, ann_upsert_sink(stage, compact_every=2),
                  os.path.join(work, "ckpt"), "ANN upsert")

    return staged_fixture(
        "ann_supsert", sf_dir,
        lambda p: (index_ok(p) and not delta_count(p)
                   and applied_tags(p) >= {"b0", "b1"}), build)


@query("streaming_ann_upsert_replay", oracle=_UPSERT_ORACLE)
def _streaming_ann_upsert_replay(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Streaming maintenance of the served index
    (streaming/ann_upsert.py) proven end-to-end: the two delta waves
    arrive as a 2-trigger mutation stream (maxFilesPerTrigger=1 over
    mtime-pinned files — streaming/replay_stage.py), each micro-batch
    becomes one tagged delta generation through the foreachBatch
    sink, and ``compact_every=2`` triggers the scheduled compaction,
    so THIS pair queries the POST-COMPACTION base while its batch-API
    twin ``ann_index_upsert_topk`` queries the uncompacted
    reconciling path — together the driver checks both ends of the
    LSM read lifecycle against the same oracle. Retry idempotence,
    the checkpoint/store binding guard, and tag survival across
    compaction are pinned by tests/test_ann_maintenance.py.

    Scale: per trigger the sink's work is delta-sized; compaction is
    one reconciled scan + cell-partitioned rewrite, amortized across
    ``compact_every`` triggers."""
    path = _stream_upsert_index_path(spark, sf_dir)
    queries_df = load_table(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < _N_QUERIES)
    return query_ann(spark, path, queries_df, k=_TOPK, nprobe=_NPROBE) \
        .withColumnRenamed("rank", "rnk")


@query(
    "ann_ivf_pq_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings),
    cent AS (SELECT vec_id AS cell_id, embedding AS cvec
             FROM e WHERE vec_id < 8),
    cb1 AS (SELECT vec_id AS cb_id, embedding[1:32] AS cv
            FROM e WHERE vec_id < 4),
    cb2 AS (SELECT vec_id AS cb_id, embedding[33:64] AS cv
            FROM e WHERE vec_id < 4),
    assign AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding', 'c.cvec')} DESC,
                          c.cell_id) AS rn
        FROM e CROSS JOIN cent c) WHERE rn = 1),
    code1 AS (
      SELECT vec_id, cb_id AS code1 FROM (
        SELECT e.vec_id, c.cb_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding[1:32]', 'c.cv')} DESC,
                          c.cb_id) AS rn
        FROM e CROSS JOIN cb1 c) WHERE rn = 1),
    code2 AS (
      SELECT vec_id, cb_id AS code2 FROM (
        SELECT e.vec_id, c.cb_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_cos('e.embedding[33:64]', 'c.cv')} DESC,
                          c.cb_id) AS rn
        FROM e CROSS JOIN cb2 c) WHERE rn = 1),
    q AS (SELECT e.vec_id AS query_id, e.embedding AS q_vec, a.cell_id
          FROM e JOIN assign a USING (vec_id)
          WHERE e.vec_id < {_N_QUERIES}),
    qcb1 AS (SELECT q.query_id, c.cb_id AS code1,
                    {_cos('q.q_vec[1:32]', 'c.cv')} AS qs1
             FROM q CROSS JOIN cb1 c),
    qcb2 AS (SELECT q.query_id, c.cb_id AS code2,
                    {_cos('q.q_vec[33:64]', 'c.cv')} AS qs2
             FROM q CROSS JOIN cb2 c),
    cand AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             qcb1.qs1 + qcb2.qs2 AS approx
      FROM assign a
      JOIN q ON a.cell_id = q.cell_id AND a.vec_id <> q.query_id
      JOIN code1 ON code1.vec_id = a.vec_id
      JOIN code2 ON code2.vec_id = a.vec_id
      JOIN qcb1 ON qcb1.query_id = q.query_id
               AND qcb1.code1 = code1.code1
      JOIN qcb2 ON qcb2.query_id = q.query_id
               AND qcb2.code2 = code2.code2),
    short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY approx DESC, neighbor_id) AS rn
        FROM cand) WHERE rn <= 8),
    rer AS (
      SELECT s.query_id, s.neighbor_id,
             round({_cos('q.q_vec', 'n.embedding')}, 6) AS sim
      FROM short s
      JOIN q ON q.query_id = s.query_id
      JOIN e n ON n.vec_id = s.neighbor_id)
    SELECT query_id, neighbor_id, sim, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY sim DESC, neighbor_id) AS rnk
      FROM rer) WHERE rnk <= 3
    """,
)
def _ann_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving path (Jegou et al. 2011 — the recipe every
    planet-scale ANN system runs): coarse quantizer routes each query
    to its cell; inside the cell, candidates are scored by
    ASYMMETRIC distance (query vs the candidate's two 4-bit subspace
    codes — candidates' full vectors never touched); the approx
    shortlist (top-8) is re-ranked by exact cosine for the final
    top-3. Codebooks/centroids are the fixed deterministic low-id
    vectors (matching similarity_ivf_topk's convention; TRAINED
    codebooks live in embedding_pq_codebook) so the whole path is
    replayed verbatim by the oracle. Orderings use the unrounded
    sequential-fold cosine (bit-identical cross-engine; rounding only
    on the displayed sim).

    Scale shape: centroids and codebooks broadcast (8 + 4 + 4 rows);
    PQ codes are two narrow struct-max aggregations; the candidate
    stage moves only (query, neighbor, two codes) — vectors stay in
    their scan stage until the 64-row re-rank join."""
    from ..operators.similarity import cosine_expr

    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding")
    cent = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("embedding").alias("cvec"))
    cb1 = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cb_id"),
        F.slice("embedding", 1, 32).alias("cv"))
    cb2 = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cb_id"),
        F.slice("embedding", 33, 32).alias("cv"))

    def argmax(df, vec_expr, side, out):
        sims = df.crossJoin(F.broadcast(side)).select(
            "vec_id", side.columns[0],
            cosine_expr(vec_expr, F.col(side.columns[1])).alias("s"))
        key = side.columns[0]
        return (sims.groupBy("vec_id")
                .agg(F.max(F.struct(F.col("s"),
                                    (-F.col(key)).alias("nk"))).alias("m"))
                .select("vec_id", (-F.col("m.nk")).cast("long").alias(out)))

    assign = argmax(emb, F.col("embedding"), cent, "cell_id")
    code1 = argmax(emb, F.slice("embedding", 1, 32), cb1, "code1")
    code2 = argmax(emb, F.slice("embedding", 33, 32), cb2, "code2")

    q = (emb.filter(F.col("vec_id") < _N_QUERIES)
            .join(assign, "vec_id")
            .select(F.col("vec_id").alias("query_id"),
                    F.col("embedding").alias("q_vec"), "cell_id"))
    qcb1 = q.crossJoin(F.broadcast(cb1)).select(
        "query_id", F.col("cb_id").alias("code1"),
        cosine_expr(F.slice("q_vec", 1, 32), F.col("cv")).alias("qs1"))
    qcb2 = q.crossJoin(F.broadcast(cb2)).select(
        "query_id", F.col("cb_id").alias("code2"),
        cosine_expr(F.slice("q_vec", 33, 32), F.col("cv")).alias("qs2"))

    cand = (assign.join(F.broadcast(q.select("query_id", "cell_id")),
                        "cell_id")
            .filter(F.col("vec_id") != F.col("query_id"))
            .join(code1, "vec_id").join(code2, "vec_id")
            .join(F.broadcast(qcb1), ["query_id", "code1"])
            .join(F.broadcast(qcb2), ["query_id", "code2"])
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    (F.col("qs1") + F.col("qs2")).alias("approx")))

    from pyspark.sql import Window
    w_a = Window.partitionBy("query_id").orderBy(
        F.desc("approx"), F.asc("neighbor_id"))
    short = (cand.withColumn("rn", F.row_number().over(w_a))
                 .filter(F.col("rn") <= 8)
                 .select("query_id", "neighbor_id"))
    nvec = emb.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("embedding").alias("n_vec"))
    rer = (short.join(nvec, "neighbor_id")
                .join(F.broadcast(q.select("query_id", "q_vec")),
                      "query_id")
                .select("query_id", "neighbor_id",
                        F.round(cosine_expr(F.col("q_vec"),
                                            F.col("n_vec")), 6)
                         .alias("sim")))
    w_r = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id"))
    return (rer.withColumn("rnk", F.row_number().over(w_r))
               .filter(F.col("rnk") <= 3)
               .select("query_id", "neighbor_id", "sim", "rnk"))


@query(
    "ann_recall_maintained",
    oracle=f"""
    WITH {kmeans_ctes(_K, _ITERS)},
    live AS (
      SELECT vec_id,
             CASE WHEN vec_id BETWEEN 100 AND 139
                  THEN list_reverse(embedding)
                  ELSE embedding END AS embedding
      FROM e
      WHERE vec_id NOT BETWEEN 152 AND 154
        AND vec_id NOT BETWEEN 480 AND 489
    ),{_ivf_ctes('live')},
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM sims
      ) WHERE rnk <= {_TOPK}
    ),
    gt_sims AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             round({_cos('q.embedding', 'n.embedding')}, 6) AS sim
      FROM live n
      CROSS JOIN (SELECT * FROM live WHERE vec_id < {_N_QUERIES}) q
      WHERE n.vec_id <> q.vec_id
    ),
    gt AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM gt_sims
      ) WHERE rnk <= {_TOPK}
    )
    SELECT g.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits_delta,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits_compacted,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / {_TOPK}
             AS recall_delta,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / {_TOPK}
             AS recall_compacted
    FROM gt g
    LEFT JOIN ivf i ON i.query_id = g.query_id
                   AND i.neighbor_id = g.neighbor_id
    GROUP BY g.query_id
    """,
)
def _ann_recall_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_TOPK} of the MAINTAINED index — the measured
    consequence of the serving contract "upserts never retrain; cell
    geometry is frozen" (r12 verdict item 4). Ground truth is brute
    force over the NET post-upsert live corpus (100-139 re-embedded
    reversed, 152-154 and 480-489 taken down); the probed answers
    come from BOTH ends of the LSM read lifecycle: the uncompacted
    reconciling index (base + 2 delta generations + tombstone
    anti-join, ``_upsert_index_path``) and the post-compaction base
    the streaming sink produced (``_stream_upsert_index_path``).
    The oracle predicts ONE ivf answer set for both — so a driver
    hash match simultaneously (a) measures recall of probing
    re-assigned deltas under frozen pre-mutation centroids and
    (b) proves compact-then-query == delta-query on the exact rows
    the queries actually see.

    Scale: ground truth is one map-side brute-force pass over the
    probe set (production samples probes exactly like this); each
    index read is partition-pruned to the probed cells."""
    from ..operators.similarity import brute_force_topk

    up = _upsert_index_path(spark, sf_dir)
    cp = _stream_upsert_index_path(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    live = (emb.filter(~F.col("vec_id").between(152, 154)
                       & ~F.col("vec_id").between(480, 489))
            .select("vec_id",
                    F.when(F.col("vec_id").between(100, 139),
                           F.reverse("embedding"))
                    .otherwise(F.col("embedding")).alias("embedding")))
    queries_df = live.filter(F.col("vec_id") < _N_QUERIES)
    gt = (brute_force_topk(live, queries_df, k=_TOPK)
          .select("query_id", "neighbor_id"))
    ivf_u = (query_ann(spark, up, queries_df, k=_TOPK, nprobe=_NPROBE)
             .select(F.col("query_id").alias("__uq"),
                     F.col("neighbor_id").alias("__un")))
    ivf_c = (query_ann(spark, cp, queries_df, k=_TOPK, nprobe=_NPROBE)
             .select(F.col("query_id").alias("__cq"),
                     F.col("neighbor_id").alias("__cn")))
    return (gt
            .join(ivf_u, (gt["query_id"] == ivf_u["__uq"])
                  & (gt["neighbor_id"] == ivf_u["__un"]), "left")
            .join(ivf_c, (gt["query_id"] == ivf_c["__cq"])
                  & (gt["neighbor_id"] == ivf_c["__cn"]), "left")
            .groupBy("query_id")
            .agg(F.count("__un").cast("long").alias("n_hits_delta"),
                 F.count("__cn").cast("long").alias("n_hits_compacted"),
                 (F.count("__un").cast("double") / _TOPK)
                 .alias("recall_delta"),
                 (F.count("__cn").cast("double") / _TOPK)
                 .alias("recall_compacted")))


@query(
    "ann_recall_eval",
    oracle=f"""
    WITH {kmeans_ctes(_K, _ITERS)},{_IVF_CTES},
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM sims
      ) WHERE rnk <= {_TOPK}
    ),
    gt_sims AS (
      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             round({_cos('q.embedding', 'n.embedding')}, 6) AS sim
      FROM e n CROSS JOIN (SELECT * FROM e WHERE vec_id < {_N_QUERIES}) q
      WHERE n.vec_id <> q.vec_id
    ),
    gt AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id ASC) AS rnk
        FROM gt_sims
      ) WHERE rnk <= {_TOPK}
    )
    SELECT g.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(i.neighbor_id) AS DOUBLE) / {_TOPK}
             AS recall_at_k
    FROM gt g
    LEFT JOIN ivf i ON i.query_id = g.query_id
                   AND i.neighbor_id = g.neighbor_id
    GROUP BY g.query_id
    """,
)
def _ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_TOPK} of the served IVF index against brute-force
    ground truth — the evaluation harness that decides whether an
    approximate index is allowed to serve: per query, how many of
    the exact top-{_TOPK} cosine neighbors the nprobe={_NPROBE}
    partition-pruned scan recovered. Composes the two
    independently-oracle-checked operators (query_ann +
    brute_force_topk) and full-hash-checks the composition — the
    oracle replays the unrolled k-means training, the probe path,
    AND the exact scan, so a recall regression from ANY stage
    (training drift, routing bug, pruning bug) lands in this row
    set. Scale: ground truth over the probe set costs one map-side
    top-k pass (8 queries x corpus, the brute-force kernel);
    production evaluates on a sampled probe set exactly like this."""
    from ..operators.similarity import brute_force_topk

    path = ann_index_path(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    ivf = (query_ann(spark, path, queries_df, k=_TOPK, nprobe=_NPROBE)
           .select("query_id", F.col("neighbor_id").alias("__ivf_n")))
    gt = (brute_force_topk(emb, queries_df, k=_TOPK)
          .select("query_id", "neighbor_id"))
    return (gt.join(ivf, (gt["query_id"] == ivf["query_id"])
                    & (gt["neighbor_id"] == ivf["__ivf_n"]), "left")
              .drop(ivf["query_id"])
              .groupBy("query_id")
              .agg(F.count("__ivf_n").cast("long").alias("n_hits"),
                   (F.count("__ivf_n").cast("double") / _TOPK)
                    .alias("recall_at_k")))
