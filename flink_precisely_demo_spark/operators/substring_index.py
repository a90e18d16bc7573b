"""Persisted exact-substring anchor index: the Lee et al. 2022
verbatim-span dedup class (operators/dedup.exact_substring_spans)
made INCREMENTAL — query a new batch's exact-token-run overlap
against the absorbed corpus without ever re-reading or re-tokenizing
historical text.

The in-corpus operator pays the O(n*k) character folding (tokenize +
stride-1 k-token window hashing) over the WHOLE corpus on every run.
A production pipeline asks the ingest-shaped question instead: "which
verbatim spans does today's batch share with the 100 TB we already
keep?" This module materializes the window-hash table once as an LSM
index (the generation protocol of operators/lsm.py, shared with the
band, ANN and text indexes):

- ``build_substring_index``: fold the corpus text once and persist
  ``windows/`` (win_hash, id, pos — 16-hex + two longs, linear in
  corpus tokens) plus ``stats/`` (per-hash document frequency and
  total occurrences), atomically published with the manifest pinning
  (k, max_df, max_occ).
- ``ingest_substring_spans``: hash ONLY the batch, look up matching
  absorbed anchors, and extend aligned anchor chains into maximal
  runs — (batch doc, absorbed doc, both offsets, exact run length).
  The caps are measured over the COMBINED (absorbed + batch)
  population, so the output is EXACTLY the cross-side slice of
  ``exact_substring_spans`` over the cumulative corpus (pinned by
  tests/test_substring_index.py).
- ``append_windows``: the accepted batch's window rows + per-hash
  stat partials become a delta generation; ``compact`` folds
  deltas into a fresh base AND prunes window rows of hashes whose
  folded df/tot exceed the manifest caps — safe because the corpus
  is append-only, so an over-cap anchor can never fall back under
  its cap and would be excluded from every future span query anyway
  (its stats row is kept, so ingest still sees it as over-cap).
  This write-side cap is what bounds the index on boilerplate-heavy
  corpora: hot anchors stop costing storage and join rows.
- ``substring_spans_from_index``: the full in-corpus span set
  replayed from absorbed state through the SAME kernel
  (operators/dedup.spans_from_windows) — algebraically identical to
  running ``exact_substring_spans`` over the cumulative corpus,
  because the absorbed window table IS that corpus's window table.

Per-hash stats are sum-mergeable across generations because a
document is ingested exactly once (the standard append-only ingest
contract shared with the band index): per-generation distinct-doc
counts add to the true cumulative df.

Scale: ingest shuffles the batch's window rows plus only the
MATCHING absorbed anchors (semi-join on the batch's hash set);
alignment rows stay bounded by the caps; historical text is never
re-read. At cluster scale ``windows/`` would be bucketed by
win_hash so the ingest join co-locates; the parquet layout here is
the single-host stand-in (hash-repartitioned at write).

No reference counterpart (extension scope, SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import sliding_window_hashes, spans_from_windows
from .lsm import (
    all_generations,
    delta_count,
    index_ok,
    new_base,
    new_delta,
    read_manifest,
    write_manifest,
)

def _hash_stats(w: DataFrame, id_col: str) -> DataFrame:
    """Per-hash (df, tot) partials for one generation's window rows."""
    return w.groupBy("win_hash").agg(
        F.count_distinct(id_col).cast("long").alias("df"),
        F.count(F.lit(1)).cast("long").alias("tot"))


def _write_gen(w: DataFrame, id_col: str, dest: str) -> None:
    """One generation's windows/ + stats/ under ``dest``. The windows
    write is hash-repartitioned (the bucketed-by-anchor layout the
    ingest join wants); stats ride the same dir so a generation is
    always self-describing."""
    w = w.persist()
    try:
        (w.repartition("win_hash")
         .write.mode("overwrite").parquet(f"{dest}/windows"))
        _hash_stats(w, id_col).write.mode("overwrite") \
            .parquet(f"{dest}/stats")
    finally:
        w.unpersist()


def build_substring_index(corpus: DataFrame, index_path: str,
                          text_col: str = "text",
                          id_col: str = "doc_id", k: int = 16,
                          max_df: int = 64,
                          max_occ: int | None = None) -> None:
    """Fold the corpus once and publish the anchor index. ``max_df``
    and ``max_occ`` (default ``4 * max_df``) are pinned in the
    manifest: they are the caps COMPACTION prunes against, so every
    later span query must run at these caps (enforced) — the
    append-only monotonicity argument in the module docstring is what
    makes the prune lossless."""
    if max_occ is None:
        max_occ = 4 * max_df
    with new_base(index_path) as stage:
        _write_gen(sliding_window_hashes(corpus, text_col, id_col, k),
                   id_col, stage)
        write_manifest(stage, {"k": k, "id_col": id_col,
                                "max_df": max_df, "max_occ": max_occ})


def _index_windows(spark: SparkSession, index_path: str) -> DataFrame:
    """Absorbed window rows: base + every published delta."""
    return all_generations(spark, index_path, "windows")


def _index_stats(spark: SparkSession, index_path: str) -> DataFrame:
    """Absorbed per-hash (df, tot): generation partials summed —
    exact because a document belongs to exactly one generation."""
    return all_generations(spark, index_path, "stats").groupBy(
        "win_hash").agg(
        F.sum("df").cast("long").alias("df"),
        F.sum("tot").cast("long").alias("tot"))


def append_windows(spark: SparkSession, index_path: str,
                   batch: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", tag: str | None = None,
                   windows: DataFrame | None = None) -> int:
    """Publish the batch's window rows + stat partials as a delta
    generation carrying ``tag``. ``windows`` reuses a pre-computed
    hash table so an ingest-then-append caller folds the batch text
    once. Returns the generation number."""
    with new_delta(index_path, tag) as (stage, seq):
        if windows is None:
            windows = sliding_window_hashes(batch, text_col, id_col,
                                            read_manifest(index_path)["k"])
        _write_gen(windows, id_col, stage)
    return seq


def ingest_substring_spans(spark: SparkSession, index_path: str,
                           batch: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", min_len: int = 24,
                           windows: DataFrame | None = None) -> DataFrame:
    """The batch's verbatim-span overlap against the ABSORBED corpus:
    (a=batch id, b=absorbed id, a_start, b_start, run_tokens), every
    maximal run of >= min_len exactly-shared consecutive tokens.
    Caps come from the manifest and are measured over the COMBINED
    population (absorbed stats, maintained incrementally, plus the
    batch's own partials) — exactly the anchor set a from-scratch
    ``exact_substring_spans`` over (absorbed + batch) would admit, so
    this output IS that run's cross-side slice.

    Scale: the batch's hash set semi-join-prunes the absorbed
    windows read; the cap check reads the folded per-hash stats
    (never the window rows of unmatched hashes); alignment rows are
    bounded by max_occ^2 per anchor. Historical text is never
    touched."""
    from pyspark.sql import Window

    if not index_ok(index_path):
        raise FileNotFoundError(f"no published index at {index_path}")
    man = read_manifest(index_path)
    k, max_df, max_occ = man["k"], man["max_df"], man["max_occ"]
    if windows is None:
        windows = sliding_window_hashes(batch, text_col, id_col, k)
    bw = windows                 # callers driving many reads pass a
    bstats = _hash_stats(bw, id_col)   # persisted `windows` frame
    astats = _index_stats(spark, index_path)
    ok = (bstats.join(astats.withColumnRenamed("df", "adf")
                      .withColumnRenamed("tot", "atot"), "win_hash")
          .filter((F.col("df") + F.col("adf") <= max_df)
                  & (F.col("tot") + F.col("atot") <= max_occ))
          .select("win_hash"))
    aw = _index_windows(spark, index_path).join(ok, "win_hash")
    m = (bw.join(ok, "win_hash")
         .select("win_hash", F.col(id_col).alias("a"),
                 F.col("pos").alias("pa"))
         .join(aw.select("win_hash", F.col(id_col).alias("b"),
                         F.col("pos").alias("pb")), "win_hash")
         .select("a", "b", "pa",
                 (F.col("pa") - F.col("pb")).alias("off")))
    win = Window.partitionBy("a", "b", "off").orderBy("pa")
    g = m.withColumn("__grp", F.col("pa") - F.row_number().over(win))
    runs = (g.groupBy("a", "b", "off", "__grp")
            .agg(F.min("pa").alias("a_start"),
                 F.count(F.lit(1)).alias("__c")))
    return (runs.select(
                "a", "b", "a_start",
                (F.col("a_start") - F.col("off")).alias("b_start"),
                (F.col("__c") + F.lit(k - 1)).cast("long")
                .alias("run_tokens"))
            .filter(F.col("run_tokens") >= min_len))


def substring_spans_from_index(spark: SparkSession, index_path: str,
                               min_len: int = 24) -> DataFrame:
    """The full in-corpus span set from absorbed state — equal to
    ``exact_substring_spans`` over the cumulative corpus at the
    manifest caps, because the absorbed window table is that corpus's
    window table and the extension replays through the shared kernel
    (operators/dedup.spans_from_windows). The caps filter reads the
    FOLDED STATS (true cumulative counts), not recounted window rows:
    compaction prunes over-cap hashes' rows, and a later append could
    otherwise resurrect such a hash with undercounted partials —
    stats-based caps keep it excluded forever, exactly as the
    monotonicity argument requires."""
    if not index_ok(index_path):
        raise FileNotFoundError(f"no published index at {index_path}")
    man = read_manifest(index_path)
    return spans_from_windows(
        _index_windows(spark, index_path), man["id_col"], man["k"],
        min_len, man["max_df"], man["max_occ"],
        stats=_index_stats(spark, index_path))


def substring_index_stats(spark: SparkSession,
                          index_path: str) -> DataFrame:
    """One-row health frame: (n_anchors, n_hashes, n_over_df,
    n_over_occ, n_deltas) — the numbers a serving deployment alerts
    on (over-cap growth says the corpus needs a longer k or an
    exact-dedup pre-pass on the hot cohorts)."""
    man = read_manifest(index_path)
    st = _index_stats(spark, index_path)
    n_deltas = delta_count(index_path)
    return st.agg(
        F.coalesce(F.sum("tot"), F.lit(0)).cast("long")
        .alias("n_anchors"),
        F.count(F.lit(1)).cast("long").alias("n_hashes"),
        F.sum(F.when(F.col("df") > man["max_df"], 1).otherwise(0))
        .cast("long").alias("n_over_df"),
        F.sum(F.when(F.col("tot") > man["max_occ"], 1).otherwise(0))
        .cast("long").alias("n_over_occ"),
        F.lit(n_deltas).cast("long").alias("n_deltas"))


def compact_substring_index(spark: SparkSession,
                            index_path: str) -> int:
    """Fold deltas into a fresh base and PRUNE window rows of
    over-cap hashes (folded df > max_df or tot > max_occ — lossless
    for every query this index can serve, per the append-only
    monotonicity argument). Stats rows are kept in full, so later
    ingests still see pruned hashes as over-cap instead of
    rediscovering them. Returns the number of generations folded."""
    folded = delta_count(index_path)
    with new_base(index_path, compact=True) as stage:
        if stage is None:
            return 0
        man = read_manifest(index_path)
        stats = _index_stats(spark, index_path).persist()
        try:
            keep = (stats.filter((F.col("df") <= man["max_df"])
                                 & (F.col("tot") <= man["max_occ"]))
                    .select("win_hash"))
            w = _index_windows(spark, index_path).join(keep, "win_hash")
            (w.repartition("win_hash")
             .write.mode("overwrite").parquet(f"{stage}/windows"))
            stats.write.mode("overwrite").parquet(f"{stage}/stats")
        finally:
            stats.unpersist()
        write_manifest(stage, man)
    return folded
