"""Dedup queries over `documents` with exact DuckDB oracle twins.

The oracles replicate the md5-derived hashes bit-for-bit, so these
are full value-hash checks, not rows-only. The SQL is the semantic
spec; the Spark plans are the scalable formulation (see
operators/dedup.py docstrings for the 100 TB layout notes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    passage_hashes,
    simhash_fingerprint,
    simhash_near_dup_pairs,
)
from ..scratch import scratch
from ..sources.parquet import load_table
from ..streaming.replay_stage import open_feed, stage_feed
from .queries import fixture_path, query, staged_fixture

# shared SQL fragments (must stay in lockstep with functions/text.py
# tokens() and operators/dedup.py word_shingles / _hex_bucket)
_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"

def _shingles_cte(src: str = "documents") -> str:
    """Shingle CTEs over any (doc_id, text) relation ``src`` — the
    default is the raw documents view; the streaming corpus pipeline
    parameterizes it with its gated subset."""
    return f"""
    toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM {src}
    ),
    shingles AS (
      -- per-document unnest(range(...)) derives the shingle count from
      -- the document itself (no fixed cap to silently truncate)
      SELECT DISTINCT doc_id,
             array_to_string(toks[CAST(i AS INT):CAST(i + 2 AS INT)], ' ') AS sh
      FROM (
        SELECT doc_id, toks,
               unnest(range(1, greatest(len(toks) - 2, 1) + 1)) AS i
        FROM toks
      )
    )
"""


_SHINGLES_CTE = _shingles_cte()


def _window_hashes_sql(src: str, k: int = 16) -> str:
    """Stride-1 k-token window-hash relation (doc_id, pos, h) over any
    (doc_id, text) relation — the SQL twin of
    operators/dedup.sliding_window_hashes, shared by the
    exact-substring oracles and the decontamination-gate oracles."""
    return f"""
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             substring(md5(array_to_string(
               toks[CAST(i AS INT):CAST(i + {k - 1} AS INT)], ' ')),
               1, 16) AS h
      FROM (
        SELECT doc_id, toks,
               unnest(range(1, len(toks) - {k - 1} + 1)) AS i
        FROM (SELECT doc_id, {_TOKS} AS toks FROM {src})
        WHERE len(toks) >= {k}
      )"""


def substr_contam_ids_ctes(train_src: str, bench_src: str,
                           prefix: str = "", k: int = 16,
                           min_len: int = 24, max_df: int = 64,
                           max_occ: int | None = None) -> str:
    """CTE chain ending in ``{prefix}contam`` — the DISTINCT train-side
    doc_ids holding at least one maximal run of >= min_len
    exactly-shared consecutive tokens with any bench-side document:
    the SQL twin of operators/dedup.substring_contamination reduced to
    its existence test (a shared substring of S tokens is S-k+1
    consecutive anchors at one (t, b, off), so the HAVING threshold is
    exact). Side-tagged df cap + total-occurrence cap, in lockstep
    with the operator. ``train_src``/``bench_src`` are (doc_id, text)
    relations (parenthesized subqueries or CTE names)."""
    if max_occ is None:
        max_occ = 4 * max_df
    p = prefix
    chain = min_len - k + 1
    return f"""
    {p}tw AS MATERIALIZED ({_window_hashes_sql(train_src, k)}),
    {p}bw AS MATERIALIZED ({_window_hashes_sql(bench_src, k)}),
    {p}hd AS (
      SELECT h, COUNT(DISTINCT sid) AS dfd, COUNT(*) AS tot FROM (
        SELECT h, 't:' || CAST(doc_id AS VARCHAR) AS sid FROM {p}tw
        UNION ALL
        SELECT h, 'b:' || CAST(doc_id AS VARCHAR) AS sid FROM {p}bw
      ) GROUP BY 1
    ),
    {p}ok AS (SELECT h FROM {p}hd
              WHERE dfd <= {max_df} AND tot <= {max_occ}),
    {p}contam AS (
      SELECT DISTINCT t AS doc_id FROM (
        SELECT t FROM (
          SELECT t, b, off, pt,
                 pt - ROW_NUMBER() OVER (PARTITION BY t, b, off
                                         ORDER BY pt) AS grp
          FROM (
            SELECT tw.doc_id AS t, bw.doc_id AS b, tw.pos AS pt,
                   tw.pos - bw.pos AS off
            FROM {p}tw tw
            JOIN {p}ok USING (h)
            JOIN {p}bw bw ON bw.h = tw.h
          )
        ) GROUP BY t, b, off, grp
        HAVING COUNT(*) >= {chain}
      )
    )"""


@query(
    "dedup_exact",
    oracle="""
    SELECT substring(md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')), 1, 16)
             AS fingerprint,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def _dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load_table(spark, sf_dir, "documents"))


# CTE body ending in `bands` = per-document LSH band digests (the
# exact band_key format of operators/dedup._minhash_banded); shared
# by the pair/cluster queries and the streaming-replay oracle
def minhash_bands_ctes(src: str = "documents") -> str:
    """The band-digest CTEs over any (doc_id, text) relation — one
    banding rule across the whole dedup family AND every oracle that
    parameterizes the corpus (e.g. the streaming corpus pipeline's
    gated subset)."""
    return _MINHASH_BANDS_CTES.replace(_SHINGLES_CTE,
                                       _shingles_cte(src), 1)


_MINHASH_BANDS_CTES = f"""{_SHINGLES_CTE},
    mins AS (
      SELECT sh.doc_id, s.seed,
             MIN((('0x' || substring(md5(sh.sh), 1, 12))::BIGINT
                  + s.seed * ('0x' || substring(md5(sh.sh), 13, 12))::BIGINT)
                 % 281474976710656) AS minhash
      FROM shingles sh
      CROSS JOIN range(0, 16) s(seed)
      GROUP BY sh.doc_id, s.seed
    ),
    -- MATERIALIZED: most consumers reference the band relation twice
    -- or more (bucket stats + member scans / self-joins); DuckDB
    -- inlines plain CTEs per reference, re-running the whole 16-seed
    -- minhash pipeline each time — at sf10 that doubled (and in the
    -- 4-reference r14 clusters oracle, quadrupled, to the point of
    -- spill-disk exhaustion) the oracle cost for zero benefit
    bands AS MATERIALIZED (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band_id,
             string_agg(CAST(seed AS VARCHAR) || ':' || CAST(minhash AS VARCHAR), '|'
                        ORDER BY seed)
               AS band_key
      FROM mins GROUP BY 1, 2
    )"""

# CTE body ending in `pairs` = the capped MinHash-LSH candidate
# pairs; shared by the pair query and the clustering query
_MINHASH_PAIRS_CTES = f"""{_MINHASH_BANDS_CTES},
    -- hot-bucket cap (mirrors max_bucket_size=1024 in the Spark plan);
    -- MATERIALIZED: the pairs CTE self-joins it
    sized AS MATERIALIZED (
      SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_key) AS bn
      FROM bands
    ),
    pairs AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM sized x
      JOIN sized y ON x.band_id = y.band_id AND x.band_key = y.band_key
      WHERE x.doc_id < y.doc_id AND x.bn <= 1024
    )"""


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTES}
    SELECT a, b FROM pairs
    """,
)
def _dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"),
        num_hashes=16, bands=4, shingle_n=3, max_bucket_size=1024)


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION
      SELECT b AS src, a AS dst FROM pairs
    ),
    reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
)
def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: LSH pairs -> connected components (min
    reachable doc id) -> every document labeled with its cluster
    representative. The oracle computes the same components by
    recursive transitive closure — tractable at oracle scale, while
    the Spark side uses bounded min-label-propagation rounds
    (operators/dedup.connected_components)."""
    from ..operators.dedup import near_dup_clusters
    return near_dup_clusters(
        load_table(spark, sf_dir, "documents"),
        num_hashes=16, bands=4, shingle_n=3, max_bucket_size=1024)


@query(
    "dedup_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({_TOKS})) AS t FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substring(md5(t), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substring(md5(t), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substring(md5(t), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substring(md5(t), 4, 1)) - 1) AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, j.j,
             SUM(CASE WHEN (h >> CAST(j.j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed CROSS JOIN range(0, 16) j(j)
      GROUP BY doc_id, j.j
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END) AS INT)
             AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_fingerprint(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    -- stop-shingle document-frequency cap (mirrors max_df=1000);
    -- sizes count the KEPT shingles so jaccard is exact over the
    -- filtered shingle space, same as the Spark plan
    kept AS (
      SELECT doc_id, sh FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY sh) AS df FROM shingles
      ) WHERE df <= 1000
    ),
    sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM kept GROUP BY doc_id
    ),
    inter AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_common
      FROM kept x JOIN kept y ON x.sh = y.sh
      WHERE x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT a, b,
           round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = a
    JOIN sizes sb ON sb.doc_id = b
    WHERE round(n_common / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.2
    """,
)
def _dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.2)


_SIMHASH_CTE = """
    toks AS (
      SELECT doc_id, unnest(list_distinct(list_filter(
        regexp_split_to_array(lower(text), '\\s+'), t -> t <> ''))) AS t
      FROM documents
    ),
    hashed AS (
      SELECT doc_id, ('0x' || substring(md5(t), 1, 15))::BIGINT AS h
      FROM toks
    ),
    votes AS (
      SELECT doc_id, j.j,
             SUM(CASE WHEN (h >> CAST(j.j AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed CROSS JOIN range(0, 60) j(j)
      GROUP BY doc_id, j.j
    ),
    sig AS (
      SELECT doc_id,
             SUM(CASE WHEN v > 0 THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END)
               AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    banded AS (
      SELECT doc_id, simhash, b.b AS band_id,
             (simhash >> CAST(b.b * 15 AS INT)) & 32767 AS band_val
      FROM sig CROSS JOIN range(0, 4) b(b)
    ),
    -- hot-bucket cap (mirrors max_bucket_size=1024 in the Spark plan)
    sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY band_id, band_val) AS bn
      FROM banded
    )
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
           CAST(bit_count(CAST(xor(x.simhash, y.simhash) AS BIT)) AS INT) AS hamming
    FROM sized x
    JOIN sized y ON x.band_id = y.band_id AND x.band_val = y.band_val
    WHERE x.doc_id < y.doc_id AND x.bn <= 1024
      AND bit_count(CAST(xor(x.simhash, y.simhash) AS BIT)) <= 3
    """,
)
def _dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-LSH near-dup pairs: 60-bit fingerprints within
    hamming<=3 must match EXACTLY on one of 4 15-bit bands
    (pigeonhole) — candidates meet in band buckets, never a cross
    join."""
    return simhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"), bits=60, max_hamming=3,
        max_bucket_size=1024)


@query(
    "dedup_pipeline_e2e",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION
      SELECT b AS src, a AS dst FROM pairs
    ),
    reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node),
    labeled AS (
      SELECT d.doc_id, d.lang,
             COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT cluster_id) AS n_kept,
           COUNT(*) - COUNT(DISTINCT cluster_id) AS n_removed,
           round(COUNT(DISTINCT cluster_id) / COUNT(*), 6) AS keep_ratio
    FROM labeled GROUP BY lang
    """,
)
def _dedup_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole dedup flow as ONE hash-checked unit: MinHash-LSH
    candidate pairs -> connected-component clusters -> keep the min-id
    representative per cluster -> per-language retention report. This
    is the number a curation run actually publishes ("we removed X%
    of Y as near-duplicates"), so checking the composition end-to-end
    guards against each stage being individually right but composed
    wrong (e.g. pairwise keep-min dropping both ends of a chain)."""
    from ..operators.dedup import near_dup_clusters
    docs = load_table(spark, sf_dir, "documents")
    labeled = near_dup_clusters(docs).join(
        docs.select("doc_id", "lang"), "doc_id")
    return (labeled.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("cluster_id").alias("n_kept"),
                 (F.count(F.lit(1)) - F.count_distinct("cluster_id"))
                 .alias("n_removed"),
                 F.round(F.count_distinct("cluster_id") / F.count(F.lit(1)), 6)
                 .alias("keep_ratio")))


_REPLAY_BATCHES = 4


def _replay_oracle() -> str:
    """Unroll the streaming near-dup dedup over ``_REPLAY_BATCHES``
    deterministic micro-batches (batch k = docs with doc_id %% N = k)
    as chained CTEs — the streaming rule is sequential, so the oracle
    states it sequentially: per batch, drop docs whose band digest
    matches the store (a prior survivor), drop docs out-ranked by the
    in-batch keep=min rule computed over the FULL batch, then append
    the survivors' digests to the store. Null-text docs have no
    signature and pass through."""
    ctes, survs = [], []
    for k in range(_REPLAY_BATCHES):
        cross = (f"""
    cross{k} AS (
      SELECT DISTINCT x.doc_id FROM b{k} x
      JOIN store{k - 1} s
        ON x.band_id = s.band_id AND x.band_key = s.band_key
    ),""" if k else "")
        cross_filter = (
            f"\n        AND doc_id NOT IN (SELECT doc_id FROM cross{k})"
            if k else "")
        union_prev = (f"\n      UNION\n      SELECT band_id, band_key "
                      f"FROM store{k - 1}" if k else "")
        ctes.append(f"""
    b{k} AS (
      SELECT * FROM bands WHERE doc_id % {_REPLAY_BATCHES} = {k}
    ),{cross}
    m{k} AS (
      SELECT band_id, band_key, MIN(doc_id) AS keep
      FROM b{k} GROUP BY 1, 2
    ),
    indup{k} AS (
      SELECT DISTINCT x.doc_id FROM b{k} x
      JOIN m{k} m ON x.band_id = m.band_id AND x.band_key = m.band_key
      WHERE x.doc_id > m.keep
    ),
    surv{k} AS (
      SELECT DISTINCT doc_id FROM b{k}
      WHERE doc_id NOT IN (SELECT doc_id FROM indup{k}){cross_filter}
    ),
    store{k} AS (
      SELECT DISTINCT band_id, band_key FROM b{k}
      WHERE doc_id IN (SELECT doc_id FROM surv{k}){union_prev}
    )""")
        survs.append(f"SELECT doc_id FROM surv{k}")
    survs.append("SELECT doc_id FROM documents WHERE text IS NULL")
    body = "\n    UNION ALL\n    ".join(survs)
    return (f"WITH {_MINHASH_BANDS_CTES},{','.join(ctes)}\n    "
            f"{body}")


@query("streaming_dedup_replay", oracle=_replay_oracle())
def _streaming_dedup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming near-dup dedup operator, driven END-TO-END
    through Structured Streaming and batch-compared: the documents
    table becomes a finite feed of ``_REPLAY_BATCHES`` files
    (batch k = doc_id %% N = k, mtime-ordered so the file source
    replays them in order), drains through
    ``streaming/streaming_dedup.near_dup_dedup_sink`` (availableNow,
    one file per trigger, fresh bucket store/checkpoint per run), and
    the surviving doc_ids must hash-match the oracle's sequential
    unroll of the same suppress-then-append rule. This is the
    external validation for the one §2.3 family whose surfaces are
    otherwise streaming-only (SURVEY.md §2.3; no reference
    counterpart — extension scope)."""
    import os

    from ..streaming.pipeline import drain, replay_dir
    from ..streaming.streaming_dedup import (
        dedup_survivors,
        near_dup_dedup_sink,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = replay_dir("stream_dedup")
    feed = stage_feed(docs, work, "feed", F.col("doc_id") % _REPLAY_BATCHES,
                      _REPLAY_BATCHES)
    drain(open_feed(spark, feed),
          near_dup_dedup_sink(os.path.join(work, "store"),
                              os.path.join(work, "out")),
          os.path.join(work, "ckpt"), "near-dup dedup")
    # the returned DataFrame lazily reads work/out, which lives until
    # this label's next replay; the now-dead inputs go at once: the
    # feed (a full table copy), the bucket store and the checkpoint
    import shutil
    for sub in ("feed", "store", "ckpt"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    return dedup_survivors(spark, os.path.join(work, "out")) \
        .select("doc_id")


@query(
    "dedup_passage_exact",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    chunks AS (
      SELECT doc_id, toks,
             unnest(range(0, (len(toks) + 7) // 8)) AS i
      FROM toks WHERE len(toks) > 0
    ),
    p AS (
      SELECT doc_id,
             substring(md5(array_to_string(
               toks[CAST(i * 8 + 1 AS INT):CAST(i * 8 + 8 AS INT)],
               ' ')), 1, 16) AS passage_hash
      FROM chunks
    ),
    hd AS (
      SELECT passage_hash, COUNT(DISTINCT doc_id) AS n_docs
      FROM p GROUP BY 1
    )
    SELECT p.doc_id,
           COUNT(*) AS n_passages,
           CAST(SUM(CASE WHEN hd.n_docs > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_passages,
           CAST(ROUND(SUM(CASE WHEN hd.n_docs > 1 THEN 1 ELSE 0 END)
                      / CAST(COUNT(*) AS DOUBLE), 6)
                AS DOUBLE) AS dup_ratio
    FROM p JOIN hd USING (passage_hash)
    GROUP BY p.doc_id
    """,
)
def _dedup_passage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup: per-document count and share of
    8-token passages that also occur verbatim in ANOTHER document
    (operators/dedup.py::passage_hashes — the Lee et al. 2022
    exact-substring dedup recast to fixed token windows). The plan is
    scan-stage passage hashing (text never shuffles), one shuffle on
    passage_hash for the cross-corpus doc-frequency agg, a
    co-partitioned join back (Catalyst reuses the hash exchange), and
    one shuffle on doc_id for the per-document rollup — all widths
    survive 100x data because only 16-hex hashes move."""
    docs = load_table(spark, sf_dir, "documents")
    p = passage_hashes(docs)
    hd = p.groupBy("passage_hash").agg(
        F.count_distinct("doc_id").alias("n_docs"))
    per_doc = (p.join(hd, "passage_hash")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_passages"),
                     F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
                      .cast("long").alias("n_dup_passages")))
    return per_doc.select(
        "doc_id", "n_passages", "n_dup_passages",
        F.round(F.col("n_dup_passages").cast("double")
                / F.col("n_passages"), 6).alias("dup_ratio"))


def _band_index_path(spark: SparkSession, sf_dir: str) -> str:
    """The persisted LSH band index (with cluster state) over the
    HISTORICAL corpus slice (doc_id % 5 != 0), built once."""
    import os

    from ..operators.dedup_index import build_band_index
    from ..operators.lsm import index_ok

    return staged_fixture(
        "band_index", sf_dir,
        # clusters/ required since r14: the streaming ingest fixture
        # clones this index and its sink maintains cluster state, so
        # pre-r14 cached dirs (bands only) must rebuild once
        lambda p: index_ok(p) and os.path.isdir(os.path.join(p, "clusters")),
        lambda stage: build_band_index(
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 5 != 0), stage, clusters=True))


@query(
    "dedup_ingest_novelty",
    oracle=f"""
    WITH {_MINHASH_BANDS_CTES},
    stats AS (
      SELECT band_id, band_key, COUNT(*) AS bn,
             MIN(CASE WHEN doc_id % 5 != 0 THEN doc_id END) AS min_hist,
             MIN(CASE WHEN doc_id % 5 = 0 THEN doc_id END) AS min_new
      FROM bands GROUP BY 1, 2
    ),
    verdict AS (
      SELECT b.doc_id AS nid,
             MIN(LEAST(s.min_hist,
                       CASE WHEN s.min_new < b.doc_id
                            THEN s.min_new END)) AS dup_of
      FROM bands b
      JOIN stats s ON s.band_id = b.band_id
                  AND s.band_key = b.band_key
      WHERE b.doc_id % 5 = 0 AND s.bn <= 1024
      GROUP BY 1
    )
    SELECT d.doc_id,
           v.dup_of IS NULL AS is_novel,
           v.dup_of
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
    LEFT JOIN verdict v ON v.nid = d.doc_id
    """,
)
def _dedup_ingest_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-at-ingest against a PERSISTED corpus index
    (operators/dedup_index.py): the historical corpus (doc_id % 5 !=
    0) is banded ONCE into a band-digest index; the incoming batch
    (doc_id % 5 == 0) bands only itself and each batch document is
    labeled novel or duplicate-of — the smallest colliding
    historical id, or the smallest EARLIER batch id (ingest-order
    rule: the first arrival of a duplicate cohort is novel, the rest
    point at it). No pairwise explosion anywhere: a bucket's verdict
    needs only its min-historical and min-batch member, so a hot
    bucket costs one min-aggregation; the in-corpus pipeline's
    oversized-bucket cap applies over the combined population. The
    oracle recomputes the identical banding (the shared
    ``_MINHASH_BANDS_CTES`` — one banding rule across the whole
    dedup family) and the same bucket-min arithmetic in SQL.

    LSM maintenance of the index (append today's accepted batch as a
    delta generation, compact on schedule, crash-atomic publishes)
    is pinned by tests/test_dedup_index.py.

    Scale: the historical corpus's TEXT is never re-read — ingest
    shuffles the batch's band digests plus the index's digest rows
    (~1% of corpus bytes), the exact shape that makes daily dedup
    against 100 TB affordable."""
    from ..operators.dedup_index import ingest_batch

    path = _band_index_path(spark, sf_dir)
    batch = load_table(spark, sf_dir, "documents") \
        .filter(F.col("doc_id") % 5 == 0)
    return ingest_batch(spark, path, batch)


def _ingest_cluster_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once fixture for the maintained-cluster pair: the
    historical corpus (doc_id % 5 != 0) is banded WITH cluster state,
    two ingest waves (doc_id % 10 == 0, then % 10 == 5) append
    edge-carrying deltas, and a final compaction folds the union-find
    forest — so the published index's ``clusters/`` is the maintained
    membership after build + 2 ingests + compact."""
    import os

    from ..operators.dedup import _minhash_banded
    from ..operators.dedup_index import (append_bands, build_band_index,
                                         compact_band_index,
                                         ingest_cluster_edges)
    from ..operators.lsm import applied_tags, delta_count, index_ok

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "text")
        build_band_index(docs.filter(F.col("doc_id") % 5 != 0),
                         stage, clusters=True)
        for wave, mod in ((0, 0), (1, 5)):
            batch = docs.filter(F.col("doc_id") % 10 == mod)
            banded = _minhash_banded(batch, "text", "doc_id",
                                     16, 4, 3).persist()
            try:
                edges = ingest_cluster_edges(spark, stage, banded=banded)
                append_bands(spark, stage, batch, tag=f"w{wave}",
                             banded=banded, cluster_edges=edges)
            finally:
                banded.unpersist()
        compact_band_index(spark, stage)

    return staged_fixture(
        "band_clusters", sf_dir,
        lambda p: (index_ok(p) and not delta_count(p)
                   and applied_tags(p) >= {"w0", "w1"}
                   and os.path.isdir(os.path.join(p, "clusters"))),
        build)


# Shared by the batch-API pair (dedup_ingest_clusters) and its
# streaming twin (streaming_dedup_cluster_replay): both fixtures use
# the SAME corpus split (hist %5!=0, wave-0 %10==0, wave-1 %10==5)
# and the same staged-cap ingest semantics, so the maintained end
# state — and hence the oracle — is identical; what differs is the
# machinery (direct build/ingest/append/compact calls vs the
# foreachBatch sink with tagged deltas and scheduled compaction).
_INGEST_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_MINHASH_BANDS_CTES},
    -- MATERIALIZED: this oracle references the band relation FOUR
    -- times (stats + three edge branches); DuckDB inlines plain CTEs
    -- per reference, which re-ran the whole 16-seed minhash pipeline
    -- 4x at sf10 and exhausted spill disk (the r14 sweep's one
    -- ERROR). Materializing pins one evaluation.
    bands_m AS MATERIALIZED (SELECT * FROM bands),
    stats AS MATERIALIZED (
      SELECT band_id, band_key,
             COUNT(CASE WHEN doc_id % 5 != 0 THEN 1 END) AS n_hist,
             COUNT(CASE WHEN doc_id % 10 = 0 THEN 1 END) AS n_w0,
             COUNT(CASE WHEN doc_id % 10 = 5 THEN 1 END) AS n_w1,
             MIN(CASE WHEN doc_id % 5 != 0 THEN doc_id END) AS min_hist,
             MIN(CASE WHEN doc_id % 10 = 0 THEN doc_id END) AS min_w0,
             MIN(CASE WHEN doc_id % 10 = 5 THEN doc_id END) AS min_w1
      FROM bands_m GROUP BY 1, 2
    ),
    raw_edges AS (
      -- build: per-bucket star edges over the historical corpus,
      -- capped on the build-time (historical) bucket population
      SELECT b.doc_id AS a, s.min_hist AS lnk
      FROM bands_m b JOIN stats s USING (band_id, band_key)
      WHERE b.doc_id % 5 != 0 AND b.doc_id != s.min_hist
        AND s.n_hist <= 1024
      UNION
      -- wave-0 ingest: links to min historical / min earlier-wave-0
      -- member, capped on the hist+w0 population it saw
      SELECT b.doc_id,
             LEAST(s.min_hist,
                   CASE WHEN s.min_w0 < b.doc_id THEN s.min_w0 END)
      FROM bands_m b JOIN stats s USING (band_id, band_key)
      WHERE b.doc_id % 10 = 0 AND s.n_hist + s.n_w0 <= 1024
      UNION
      -- wave-1 ingest: wave-0's delta is historical now
      SELECT b.doc_id,
             LEAST(s.min_hist, s.min_w0,
                   CASE WHEN s.min_w1 < b.doc_id THEN s.min_w1 END)
      FROM bands_m b JOIN stats s USING (band_id, band_key)
      WHERE b.doc_id % 10 = 5 AND s.n_hist + s.n_w0 + s.n_w1 <= 1024
    ),
    e0 AS (SELECT a, lnk AS b FROM raw_edges WHERE lnk IS NOT NULL),
    edges AS (
      SELECT a AS src, b AS dst FROM e0
      UNION
      SELECT b AS src, a AS dst FROM e0
    ),
    reach(node, lab) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.lab FROM edges e JOIN reach r ON r.node = e.dst
    ),
    comp AS (SELECT node, MIN(lab) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """


@query("dedup_ingest_clusters", oracle=_INGEST_CLUSTERS_ORACLE)
def _dedup_ingest_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY MAINTAINED near-dup clusters
    (operators/dedup_index.cluster_labels): the historical corpus is
    clustered once at index build; each ingest wave contributes only
    its per-bucket link edges (ingest_cluster_edges — every bucket
    edge, not just the verdict's global min, so a batch doc that
    bridges two existing clusters MERGES them); compaction folds the
    forest with the bounded min-label propagation. The result is
    cluster membership over the cumulative corpus, equal to a
    from-scratch re-clustering at each stage's cap population —
    without ever re-banding or re-pairing historical text. The oracle
    recomputes the same staged edge sets in SQL (build star edges,
    then each wave's links against everything earlier) and closes
    them transitively.

    Scale: per ingest the added state is edge rows bounded by
    bands-per-doc x batch size; the fold's graph is duplicate-cohort
    sized (non-trivial labels + delta edges), never corpus sized —
    the maintenance a daily 100 TB dedup pipeline can actually
    afford."""
    from ..operators.dedup_index import cluster_labels

    path = _ingest_cluster_path(spark, sf_dir)
    labels = cluster_labels(spark, path)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (docs.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", "doc_id")
                    .alias("cluster_id")))


def _stream_ingest_paths(spark: SparkSession, sf_dir: str
                         ) -> tuple[str, str]:
    """Clone the shared band index and drain the 2-wave document
    stream through the foreachBatch ingest sink with
    ``compact_every=2``; returns (index_path, verdicts_path). The
    end state is deterministic (compacted base absorbing both waves,
    manifest recording both tags, verdict dirs for both batches), so
    the pair of dirs is reusable across processes."""
    import os
    import shutil

    from ..operators.lsm import (applied_tags, delta_count, index_ok,
                                 publish)
    from ..streaming.dedup_ingest import dedup_ingest_sink
    from ..streaming.pipeline import drain

    vpath = fixture_path("band_singest", sf_dir) + ".verdicts"

    def complete(path: str) -> bool:
        return (index_ok(path) and not delta_count(path)
                and applied_tags(path) >= {"b0", "b1"}
                # r14: the cloned index carries cluster state and the
                # sink maintains it — pre-r14 cached end states (no
                # clusters/) rebuild once
                and os.path.isdir(os.path.join(path, "clusters"))
                and all(os.path.isdir(os.path.join(vpath, f"batch={b}"))
                        for b in (0, 1)))

    def build(stage: str) -> None:
        svpath = stage + ".verdicts"
        shutil.copytree(_band_index_path(spark, sf_dir), stage)
        batch = load_table(spark, sf_dir, "documents") \
            .filter(F.col("doc_id") % 5 == 0) \
            .select("doc_id", "text")
        with scratch("dedup_ingest_replay_") as work:
            feed_dir = stage_feed(
                batch, work, "docs",
                F.when(F.col("doc_id") % 10 == 0, 0).otherwise(1))
            drain(open_feed(spark, feed_dir),
                  dedup_ingest_sink(stage, svpath, compact_every=2),
                  os.path.join(work, "ckpt"), "dedup ingest")
        # the verdicts swap in by the same double rename as the index
        # (no bulk delete between the renames, so a completeness check
        # never sees them missing while the index looks complete)
        publish(svpath, vpath)

    return staged_fixture("band_singest", sf_dir, complete, build), vpath


@query(
    "streaming_dedup_ingest_replay",
    oracle=f"""
    WITH {_MINHASH_BANDS_CTES},
    stats AS (
      SELECT band_id, band_key,
             COUNT(CASE WHEN doc_id % 5 != 0 THEN 1 END) AS n_hist,
             COUNT(CASE WHEN doc_id % 10 = 0 THEN 1 END) AS n_w0,
             COUNT(CASE WHEN doc_id % 10 = 5 THEN 1 END) AS n_w1,
             MIN(CASE WHEN doc_id % 5 != 0 THEN doc_id END) AS min_hist,
             MIN(CASE WHEN doc_id % 10 = 0 THEN doc_id END) AS min_w0,
             MIN(CASE WHEN doc_id % 10 = 5 THEN doc_id END) AS min_w1
      FROM bands GROUP BY 1, 2
    ),
    verdict AS (
      SELECT b.doc_id AS nid,
             MIN(CASE WHEN b.doc_id % 10 = 0 THEN
                   LEAST(s.min_hist,
                         CASE WHEN s.min_w0 < b.doc_id
                              THEN s.min_w0 END)
                 ELSE
                   LEAST(s.min_hist, s.min_w0,
                         CASE WHEN s.min_w1 < b.doc_id
                              THEN s.min_w1 END)
                 END) AS dup_of
      FROM bands b
      JOIN stats s ON s.band_id = b.band_id
                  AND s.band_key = b.band_key
      WHERE b.doc_id % 5 = 0
        AND (CASE WHEN b.doc_id % 10 = 0
                  THEN s.n_hist + s.n_w0
                  ELSE s.n_hist + s.n_w0 + s.n_w1 END) <= 1024
      GROUP BY 1
    )
    SELECT d.doc_id,
           v.dup_of IS NULL AS is_novel,
           v.dup_of
    FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 0) d
    LEFT JOIN verdict v ON v.nid = d.doc_id
    """,
)
def _streaming_dedup_ingest_replay(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Streaming dedup-at-ingest (streaming/dedup_ingest.py) proven
    end-to-end: the batch slice (doc_id % 5 == 0) arrives as TWO
    trigger waves (%10 == 0, then %10 == 5); each micro-batch is
    labeled against the index AS IT STOOD — so wave-1 documents are
    checked against the historical corpus AND all of wave 0, which
    only works if the sink's tagged delta append actually made
    wave 0 visible — then appended, and ``compact_every=2`` folds
    the deltas so this pair also exercises tag survival across
    compaction. The oracle therefore differs from the one-shot
    ``dedup_ingest_novelty`` exactly where sequential semantics
    bite: a wave-1 document colliding ONLY with a later-id wave-0
    document is still a duplicate here (that doc was already
    ingested), and each wave's oversized-bucket cap is measured over
    the population the sink saw at that trigger. Retry idempotence
    and the checkpoint/store binding guard are pinned by
    tests/test_dedup_index.py.

    Scale: per trigger, batch-sized banding + one bucket-grouped
    min-aggregation; verdicts land exactly-once per batch dir."""
    _, vpath = _stream_ingest_paths(spark, sf_dir)
    return spark.read.parquet(vpath) \
        .select("doc_id", "is_novel", "dup_of")


@query(
    "dedup_index_health",
    oracle=f"""
    WITH {_MINHASH_BANDS_CTES},
    bk AS (
      SELECT band_id, band_key, COUNT(*) AS m
      FROM bands GROUP BY 1, 2
    )
    SELECT CAST(band_id AS BIGINT) AS band_id,
           CAST(SUM(m) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(m) AS BIGINT) AS max_bucket,
           CAST(SUM(CASE WHEN m > 1024 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_cap
    FROM bk GROUP BY 1
    """,
)
def _dedup_index_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observability for the maintained band index
    (operators/dedup_index.band_index_stats): per band, the digest
    row count, distinct bucket count, LARGEST bucket, and how many
    buckets exceed the pair-emission cap — the hot-bucket population
    a production LSH deployment alerts on (growth there means
    re-band with a longer signature or exact-dedup the cohort
    first). Runs against the POST-INGEST streaming index — the
    compacted base that absorbed both document waves — so the
    audited state is hist + batch = the full corpus, which is
    exactly what the oracle bands. A health regression from ANY
    stage (banding drift, a lost delta, compaction dropping rows)
    lands in these 4 rows.

    Scale: one partial-agg shuffle over digest-width rows + a
    4-row rollup; document text untouched."""
    from ..operators.dedup_index import band_index_stats

    path, _ = _stream_ingest_paths(spark, sf_dir)
    return band_index_stats(spark, path)


_SUBSTRING_EXACT_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    w AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             substring(md5(array_to_string(
               toks[CAST(i AS INT):CAST(i + 15 AS INT)], ' ')), 1, 16)
               AS h
      FROM (
        SELECT doc_id, toks,
               unnest(range(1, len(toks) - 15 + 1)) AS i
        FROM toks WHERE len(toks) >= 16
      )
    ),
    hd AS (SELECT h, COUNT(DISTINCT doc_id) AS dfd,
                  COUNT(*) AS tot FROM w GROUP BY 1),
    s AS (SELECT w.* FROM w JOIN hd USING (h)
          WHERE dfd >= 2 AND dfd <= 64 AND tot <= 256),
    m AS (
      SELECT l.doc_id AS a, r.doc_id AS b, l.pos AS pa,
             l.pos - r.pos AS off
      FROM s l JOIN s r ON l.h = r.h AND l.doc_id < r.doc_id
    ),
    g AS (
      SELECT a, b, off, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY a, b, off
                                     ORDER BY pa) AS grp
      FROM m
    ),
    runs AS (
      SELECT a, b, off, MIN(pa) AS a_start, COUNT(*) AS c
      FROM g GROUP BY a, b, off, grp
    )
    SELECT a, b, a_start, a_start - off AS b_start,
           CAST(c + 15 AS BIGINT) AS run_tokens
    FROM runs WHERE c + 15 >= 24
    """


@query("dedup_substring_exact", oracle=_SUBSTRING_EXACT_ORACLE)
def _dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup, the Lee et al. 2022 suffix-array class
    (operators/dedup.exact_substring_spans): every maximal cross-
    document run of >= 24 exactly-shared consecutive tokens, located
    on both sides — the dedup mode that catches verbatim quotation /
    boilerplate reuse that document- and passage-level hashing miss
    or only bound. Anchors are stride-1 16-token window hashes;
    consecutive aligned anchors chain into exact maximal runs via
    gaps-and-islands (no suffix array, no per-pair rescans — see the
    operator docstring for the 100 TB shape). The oracle replays the
    identical window/anchor/extension arithmetic in SQL."""
    from ..operators.dedup import exact_substring_spans
    return exact_substring_spans(
        load_table(spark, sf_dir, "documents"),
        k=16, min_len=24, max_df=64)


@query("streaming_dedup_cluster_replay", oracle=_INGEST_CLUSTERS_ORACLE)
def _streaming_dedup_cluster_replay(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """STREAMING-MAINTAINED near-dup clusters: the foreachBatch
    ingest sink (streaming/dedup_ingest.py) detects that its index
    carries cluster state and rides each trigger's per-bucket link
    edges (ingest_cluster_edges) inside the batch's tagged
    atomic-rename delta — so cluster membership is maintained
    trigger-by-trigger with exactly the bands' idempotence, and the
    scheduled compaction folds the union-find forest. Same fixture
    drive as ``streaming_dedup_ingest_replay`` (2 waves,
    compact_every=2), same oracle as the batch-API twin
    ``dedup_ingest_clusters`` — the driver checks that the streaming
    machinery lands the identical maintained end state the direct
    build/ingest/append/compact calls produce.

    Scale: the per-trigger increment is edge rows bounded by
    bands-per-doc x batch size; the compaction fold's graph is
    duplicate-cohort sized. Historical text is never re-read."""
    from ..operators.dedup_index import cluster_labels

    path, _ = _stream_ingest_paths(spark, sf_dir)
    labels = cluster_labels(spark, path)
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return (docs.join(labels, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("cluster_id", "doc_id")
                    .alias("cluster_id")))


@query(
    "curation_substring_contamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ),
    w AS MATERIALIZED (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             substring(md5(array_to_string(
               toks[CAST(i AS INT):CAST(i + 15 AS INT)], ' ')), 1, 16)
               AS h
      FROM (
        SELECT doc_id, toks,
               unnest(range(1, len(toks) - 15 + 1)) AS i
        FROM toks WHERE len(toks) >= 16
      )
    ),
    hd AS (SELECT h, COUNT(DISTINCT doc_id) AS dfd,
                  COUNT(*) AS tot FROM w GROUP BY 1),
    ok AS (SELECT h FROM hd WHERE dfd <= 64 AND tot <= 256),
    m AS (
      SELECT t.doc_id AS train_id, b.doc_id AS bench_id,
             t.pos AS pt, t.pos - b.pos AS off
      FROM w t
      JOIN ok USING (h)
      JOIN w b ON b.h = t.h
      WHERE t.doc_id % 4 != 0 AND b.doc_id % 4 = 0
    ),
    g AS (
      SELECT train_id, bench_id, off, pt,
             pt - ROW_NUMBER() OVER (PARTITION BY train_id, bench_id,
                                     off ORDER BY pt) AS grp
      FROM m
    ),
    runs AS (
      SELECT train_id, bench_id, off,
             MIN(pt) AS train_start, COUNT(*) AS c
      FROM g GROUP BY train_id, bench_id, off, grp
    )
    SELECT train_id, bench_id, train_start,
           train_start - off AS bench_start,
           CAST(c + 15 AS BIGINT) AS run_tokens
    FROM runs WHERE c + 15 >= 24
    """,
)
def _curation_substring_contamination(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    """Cross-split EXACT-SUBSTRING decontamination
    (operators/dedup.substring_contamination): every maximal run of
    >= 24 exactly-shared consecutive tokens between a train-split
    document (doc_id % 4 != 0) and a benchmark-split document
    (% 4 == 0), with both start offsets — the verbatim-leakage audit
    that n-gram-overlap contamination gates (curation_contamination)
    only approximate, and the coordinates an auditor needs to cut.
    Anchor-and-extend across the split (alignments taken only
    train x bench; the df cap measured over both sides combined);
    the oracle replays the identical window/anchor/extension
    arithmetic in SQL.

    Scale: linear window tables per side; at 100 TB the benchmark
    side is tiny and its window table broadcasts."""
    from ..operators.dedup import substring_contamination

    docs = load_table(spark, sf_dir, "documents")
    return substring_contamination(
        docs.filter(F.col("doc_id") % 4 != 0),
        docs.filter(F.col("doc_id") % 4 == 0),
        k=16, min_len=24, max_df=64)


def _substring_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once fixture for the persisted exact-substring anchor
    index (operators/substring_index.py): base build over the
    historical slice (doc_id % 5 != 0), then TWO ingest waves
    (%10==0, then %10==5) each running the against-corpus span query
    and appending its window delta (tagged), with a COMPACTION —
    exercising the over-cap prune and the post-prune append —
    between them."""
    from ..operators.dedup import sliding_window_hashes
    from ..operators.lsm import applied_tags, index_ok
    from ..operators.substring_index import (append_windows,
                                             build_substring_index,
                                             compact_substring_index,
                                             ingest_substring_spans)

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "text")
        build_substring_index(docs.filter(F.col("doc_id") % 5 != 0), stage)
        for wave, mod in ((0, 0), (1, 5)):
            batch = docs.filter(F.col("doc_id") % 10 == mod)
            w = sliding_window_hashes(batch, "text", "doc_id",
                                      16).persist()
            try:
                # the ingest read a real deployment runs per batch
                # (cross-side spans vs the absorbed corpus; the
                # cross-slice equality is pytest-pinned in
                # tests/test_substring_index.py)
                ingest_substring_spans(spark, stage, batch,
                                       windows=w).count()
                append_windows(spark, stage, batch, tag=f"w{wave}",
                               windows=w)
            finally:
                w.unpersist()
            if wave == 0:
                compact_substring_index(spark, stage)

    return staged_fixture(
        "substring_index", sf_dir,
        lambda p: index_ok(p) and applied_tags(p) >= {"w0", "w1"}, build)


@query("dedup_ingest_substring", oracle=_SUBSTRING_EXACT_ORACLE)
def _dedup_ingest_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTALLY-MAINTAINED exact-substring dedup
    (operators/substring_index.py): the corpus's stride-1 anchor
    table lives as an LSM index (build -> tagged window deltas ->
    compaction with the over-cap prune), so a batch's verbatim-span
    overlap against the absorbed corpus is queryable WITHOUT
    re-reading or re-tokenizing historical text. The fixture drives
    base + two ingest waves with a mid-sequence compaction; the
    driver-checked output is the full span set read from absorbed
    state (stats-capped, shared extension kernel), which must equal
    the from-scratch ``exact_substring_spans`` over the cumulative
    corpus — the SAME oracle as ``dedup_substring_exact``, now
    satisfied from maintained state instead of a full re-scan. The
    per-wave against-corpus ingest reads run inside the fixture and
    their cross-slice equality is pytest-pinned.

    Scale: ingest shuffles batch window rows + matching absorbed
    anchors only (per-hash stats gate the join); compaction prunes
    over-cap boilerplate anchors losslessly (append-only df/tot
    monotonicity); deltas stay bounded by the compaction cadence."""
    from ..operators.substring_index import substring_spans_from_index

    path = _substring_index_path(spark, sf_dir)
    return substring_spans_from_index(spark, path, min_len=24)


def _stream_substring_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Streaming twin of :func:`_substring_index_path`: the same base
    build over doc_id % 5 != 0, but the two ingest waves (%10==0,
    then %10==5) arrive as a 2-trigger document STREAM drained
    through the foreachBatch sink (streaming/substring_ingest.py)
    with ``compact_every=2`` — each trigger runs the against-corpus
    span query off the shared window fold, appends its tagged delta,
    and the scheduled compaction folds both (exercising the over-cap
    prune on the streamed generations). Final state: compacted base,
    applied manifest recording both triggers — deterministic, so the
    dir is reusable across processes."""
    import os

    from ..operators.lsm import applied_tags, delta_count, index_ok
    from ..operators.substring_index import build_substring_index
    from ..streaming.pipeline import drain
    from ..streaming.substring_ingest import substring_index_sink

    def build(stage: str) -> None:
        docs = load_table(spark, sf_dir, "documents") \
            .select("doc_id", "text")
        build_substring_index(docs.filter(F.col("doc_id") % 5 != 0), stage)
        feed_df = (docs.filter(F.col("doc_id") % 10 == 0)
                   .withColumn("b", F.lit(0))
                   .unionByName(docs.filter(F.col("doc_id") % 10 == 5)
                                .withColumn("b", F.lit(1))))
        with scratch("substr_ingest_replay_") as work:
            drain(open_feed(spark, stage_feed(feed_df, work, "docs", "b")),
                  substring_index_sink(
                      stage, spans_out=os.path.join(work, "spans"),
                      compact_every=2),
                  os.path.join(work, "ckpt"), "substring index ingest")

    return staged_fixture(
        "substring_sindex", sf_dir,
        lambda p: (index_ok(p) and not delta_count(p)
                   and applied_tags(p) >= {"b0", "b1"}), build)


@query("streaming_substring_ingest_replay", oracle=_SUBSTRING_EXACT_ORACLE)
def _streaming_substring_ingest_replay(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Streaming maintenance of the exact-substring anchor index
    (streaming/substring_ingest.py) proven end-to-end: the two
    ingest waves arrive as a 2-trigger document stream, each
    micro-batch folds its text once, runs the against-corpus span
    query off that fold, appends one tagged window delta, and
    ``compact_every=2`` triggers the scheduled compaction (with its
    over-cap prune) — so THIS pair reads absorbed spans from the
    POST-COMPACTION base while its batch twin
    ``dedup_ingest_substring`` reads the uncompacted delta window,
    and both must hash-match the SAME from-scratch
    ``exact_substring_spans`` oracle over the cumulative corpus.
    Retry idempotence and the checkpoint binding guard follow the
    shared sink contract (pinned for this sink in
    tests/test_substring_index.py).

    Scale: per trigger the sink's work is batch-sized (one window
    fold + the stats-gated anchor join); compaction is one
    reconciled scan + pruned rewrite amortized across triggers."""
    from ..operators.substring_index import substring_spans_from_index

    path = _stream_substring_index_path(spark, sf_dir)
    return substring_spans_from_index(spark, path, min_len=24)
