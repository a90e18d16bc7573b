"""Deduplication operators for training-data pipelines (SURVEY.md §2.3).

Four tiers, all shuffle-conscious:

- exact_dedup: hash-groupBy on a content fingerprint. One shuffle on
  the fingerprint; at 100 TB the fingerprint (16 hex chars) shuffles,
  not the document bodies, when ``payload_cols`` is pruned.
- minhash_near_dup_pairs: shingle -> per-seed min-hash -> band ->
  bucket join. Candidate pairs only ever meet inside a band bucket
  (the LSH trick), so the join is an equi-join on (band_id, band_hash)
  — never a cross join. Classic MinHash/LSH as in Broder '97.
- simhash_fingerprint: per-token hash bit-majority -> 16-bit
  fingerprint; near-dups share fingerprints (Charikar '02).
- ngram_jaccard_pairs: exact Jaccard on shingle sets via an inverted
  index self-join (|A∩B| from a shingle->doc explode, |A∪B| by
  inclusion-exclusion) — no pairwise cross join; cost is bounded by
  shingle collision lists, the standard sparse-similarity-join shape.
- connected_components / near_dup_clusters: the post-pair step —
  candidate pairs to duplicate CLUSTERS by bounded min-label
  propagation, so a pipeline keeps one representative per cluster
  rather than resolving pairs independently.

Portability: every hash is derived from md5 hex (identical in any
engine) rather than Spark's murmur3, so the DuckDB oracles reproduce
results bit-for-bit. The MinHash family uses Kirsch-Mitzenmacher
double hashing off a single digest, so the md5 cost is paid once per
shingle regardless of signature width; at 100 TB the cost is
dominated by the shuffle, which this layout minimizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import doc_fingerprint, tokens


def _fan_out(df: DataFrame, key: str) -> DataFrame:
    """Widen a NARROW input before a compute-heavy expansion
    (shingling, hashing). A small dimension-like input often arrives
    as one or few scan partitions (single parquet file locally) —
    without this, the CPU-bound work serializes on a handful of
    cores. Never shrinks: when the scan already yields enough
    partitions (the 100 TB case) this is a no-op and the plan has no
    repartition shuffle at all. The widen target is a quarter of the
    core count — per-task fixed costs (Python worker handoff, Arrow
    framing, scheduling) dominate when small CPU work is oversplit
    (measured: 8-way beat 32-way 2.4x on the sf0.1 minhash bench)."""
    if df.isStreaming:
        # no plan inspection on a stream; micro-batch parallelism
        # comes from the source (maxFilesPerTrigger / topic partitions)
        return df
    sc = df.sparkSession.sparkContext
    target = max(8, sc.defaultParallelism // 4)
    # Estimate scan width from the leaf input files instead of
    # df.rdd.getNumPartitions(): converting the plan to an RDD builds
    # the physical RDD lineage on every call. File count is the right
    # proxy for the narrow-input case this guards against (one or few
    # local parquet files); at warehouse scale the file count dwarfs
    # `target` and this stays a no-op. Few-giant-files inputs are
    # under-counted (splits > files) and pay one extra repartition
    # before compute-heavy expansion — harmless, never a shrink.
    est = len(df.inputFiles())
    if est == 0:
        # non-file lineage (in-memory frame, post-shuffle/cached
        # plan): no file proxy exists, so pay the one-off physical
        # planning of .rdd rather than force an extra shuffle onto an
        # already-wide lineage
        est = df.rdd.getNumPartitions()
    if est >= target:
        return df
    return df.repartition(target, key)


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per normalized-content
    fingerprint. Returns (fingerprint, keep_id, n_copies)."""
    return (df.select(doc_fingerprint(text_col).alias("fingerprint"),
                      F.col(id_col))
              .groupBy("fingerprint")
              .agg(F.min(id_col).alias("keep_id"),
                   F.count(F.lit(1)).alias("n_copies")))


def passage_hashes(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", width: int = 8) -> DataFrame:
    """(id, passage_hash) — one row per non-overlapping `width`-token
    passage of the lowercased text (trailing partial passage kept).

    Sub-document exact dedup at passage granularity ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022,
    recast from suffix-array substrings to fixed token windows so the
    unit is engine-portable and hashable). Pure built-in array
    expressions in the scan stage — tokenize, slice, md5 — so at
    100 TB only (id, 16-hex-hash) pairs ever leave the scan; document
    text never shuffles. Empty documents are dropped explicitly (both
    engines agree no tokens => no passages)."""
    # tokenize ONCE into a staged column (subexpression elimination
    # does not span the filter/project boundary — r14, same fix as
    # sliding_window_hashes)
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = F.floor((n + F.lit(width - 1)) / F.lit(width)).cast("int")
    idx = F.sequence(F.lit(0), n_chunks - 1)
    passages = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i * width + 1, width)))
    return (df.select(F.col(id_col), tokens(text_col).alias("__toks"))
              .filter(F.size(toks) > 0)
              .select(F.col(id_col),
                      F.explode(passages).alias("__passage"))
              .select(id_col,
                      F.substring(F.md5("__passage"), 1, 16)
                       .alias("passage_hash")))


def sliding_window_hashes(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id",
                          k: int = 16) -> DataFrame:
    """(id, pos, win_hash) — one row per token position: the 16-hex
    md5 of the k-token window starting there (1-based); documents
    shorter than k tokens yield nothing. The sliding (stride-1) twin
    of :func:`passage_hashes`: any exact shared token run of length
    >= k contains at least one aligned full window on BOTH sides, so
    window-hash equality is a complete anchor set for exact-substring
    detection. Scan-stage only — text never shuffles, only
    (id, pos, hash) rows (the `_fan_out` widen of a narrow local
    scan is the one exception, and a no-op at scale)."""
    # tokenize ONCE into a staged column: Spark's subexpression
    # elimination does not span the filter/project boundary, so the
    # naive filter(size(tokens)>=k).select(...tokens...) shape pays
    # the regexp split twice per row
    toks = F.col("__toks")
    idx = F.sequence(F.lit(1), F.size(toks) - F.lit(k - 1))
    wins = F.transform(
        idx,
        lambda i: F.struct(
            i.cast("long").alias("pos"),
            F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, k))),
                        1, 16).alias("h")))
    # one md5 per token position is the heavy per-row work of the
    # whole substring family — serialized on a single-split local
    # scan (or a coalesced checkpoint) without the widen
    return (_fan_out(df, id_col)
              .select(F.col(id_col), tokens(text_col).alias("__toks"))
              .filter(F.size(toks) >= k)
              .select(F.col(id_col), F.explode(wins).alias("w"))
              .select(id_col, F.col("w.pos").alias("pos"),
                      F.col("w.h").alias("win_hash")))


def exact_substring_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", k: int = 16,
                          min_len: int = 24,
                          max_df: int = 64,
                          max_occ: int | None = None) -> DataFrame:
    """Maximal cross-document EXACT token runs of length >= min_len:
    (a, b, a_start, b_start, run_tokens) — the Lee et al. 2022
    exact-substring dedup class ("Deduplicating Training Data Makes
    Language Models Better"), recast from their suffix-array scan to
    an engine-portable anchor-and-extend: stride-1 k-token window
    hashes anchor candidate alignments, and consecutive aligned
    anchors chain into maximal runs (a shared substring of S tokens
    is S-k+1 consecutive anchors at one (a, b, offset), so
    run_tokens = chain length + k - 1 is EXACT, not approximate).

    The extension step is gaps-and-islands per (a, b, offset): one
    shuffle on the anchor hash for the alignment join, one window
    function over runs — no suffix array, no per-pair rescans.

    ``max_df`` caps the document frequency of an anchor before it may
    emit alignments (boilerplate k-grams shared by 10^5 docs would
    otherwise emit O(df^2) pairs from one hash); ``max_occ``
    (default ``4 * max_df``) additionally caps an anchor's TOTAL
    occurrence count, because a k-gram repeated many times WITHIN
    each of a handful of documents — the repetitive-boilerplate case
    max_df exists for — would otherwise emit positions_a x
    positions_b alignment rows from one under-df hash. Together the
    two caps bound alignment rows per anchor by max_occ^2. A run
    whose interior crosses an over-cap anchor splits — the same
    bounded-emission trade as the LSH bucket cap.

    Scale: the window table is one row per token (16-hex + two ids)
    — linear in corpus tokens; the O(n*k) character folding stays in
    the scan stage."""
    w = sliding_window_hashes(df, text_col, id_col, k)
    return spans_from_windows(w, id_col, k, min_len, max_df, max_occ)


def spans_from_windows(w: DataFrame, id_col: str = "doc_id",
                       k: int = 16, min_len: int = 24,
                       max_df: int = 64,
                       max_occ: int | None = None,
                       stats: DataFrame | None = None) -> DataFrame:
    """The anchor-and-extend kernel of :func:`exact_substring_spans`,
    over an ALREADY-COMPUTED window-hash table (id, pos, win_hash) —
    shared by the in-corpus operator and the persisted substring
    index (operators/substring_index.py), whose absorbed window rows
    replay through this exact kernel so the two paths can never
    drift. Same caps, same gaps-and-islands arithmetic, same output
    columns.

    ``stats`` optionally supplies the per-hash (win_hash, df, tot)
    frame the caps filter against, INSTEAD of recomputing counts from
    ``w``. The substring index needs this: its compaction prunes the
    window rows of over-cap hashes while keeping their true counts in
    stats, so a post-prune append could otherwise resurrect a pruned
    hash with undercounted partial rows."""
    from pyspark.sql import Window

    if max_occ is None:
        max_occ = 4 * max_df
    if stats is not None:
        hd = stats.select("win_hash", F.col("df").alias("__dfd"),
                          F.col("tot").alias("__tot"))
    else:
        hd = w.groupBy("win_hash").agg(
            F.count_distinct(id_col).alias("__dfd"),
            F.count(F.lit(1)).alias("__tot"))
    shared = w.join(hd.filter((F.col("__dfd") >= 2)
                              & (F.col("__dfd") <= max_df)
                              & (F.col("__tot") <= max_occ)),
                    "win_hash")
    left = shared.select("win_hash", F.col(id_col).alias("a"),
                         F.col("pos").alias("pa"))
    right = shared.select("win_hash", F.col(id_col).alias("b"),
                          F.col("pos").alias("pb"))
    m = (left.join(right, "win_hash")
         .filter(F.col("a") < F.col("b"))
         .select("a", "b", "pa", (F.col("pa") - F.col("pb")).alias("off")))
    win = Window.partitionBy("a", "b", "off").orderBy("pa")
    g = m.withColumn("__grp", F.col("pa") - F.row_number().over(win))
    runs = (g.groupBy("a", "b", "off", "__grp")
            .agg(F.min("pa").alias("a_start"),
                 F.count(F.lit(1)).alias("__c")))
    return (runs.select("a", "b", "a_start",
                        (F.col("a_start") - F.col("off")).alias("b_start"),
                        (F.col("__c") + F.lit(k - 1)).cast("long")
                        .alias("run_tokens"))
            .filter(F.col("run_tokens") >= min_len))


def substring_contamination(train: DataFrame, bench: DataFrame,
                            text_col: str = "text",
                            id_col: str = "doc_id", k: int = 16,
                            min_len: int = 24,
                            max_df: int = 64,
                            max_occ: int | None = None) -> DataFrame:
    """Cross-split exact-substring contamination: every maximal run of
    >= min_len exactly-shared consecutive tokens between a TRAIN
    document and a BENCHMARK document, located on both sides —
    (train_id, bench_id, train_start, bench_start, run_tokens). The
    decontamination mode n-gram-overlap gates approximate: verbatim
    benchmark leakage shows up as long exact spans even when the
    surrounding document differs, and the span coordinates are what
    an auditor needs to cut or reject. Same anchor-and-extend
    machinery as :func:`exact_substring_spans`, with the alignment
    join taken ACROSS the two sides (never within one) and the
    document-frequency cap measured over both sides' distinct
    documents combined. The df count tags each side's ids before the
    union ('t:'/'b:' prefix): the two splits are independent datasets
    whose raw ids may collide (both numbered from 0 in the generic
    API case), and an untagged count_distinct would conflate a train
    doc with a bench doc carrying the same id, undercounting df and
    weakening the boilerplate cap exactly where it matters.
    ``max_occ`` (default ``4 * max_df``) caps an anchor's total
    occurrence count across both sides, bounding alignment rows per
    anchor even when a k-gram repeats many times inside few docs —
    see :func:`exact_substring_spans`.

    Scale: window tables are linear in each side's tokens; alignment
    rows are bounded by the per-anchor cap. Benchmarks are tiny next
    to 100 TB of train data, so the join's build side (bench windows)
    broadcasts in practice."""
    from pyspark.sql import Window

    if max_occ is None:
        max_occ = 4 * max_df
    tw = sliding_window_hashes(train, text_col, id_col, k)
    bw = sliding_window_hashes(bench, text_col, id_col, k)
    both = (tw.select(
                "win_hash",
                F.concat(F.lit("t:"), F.col(id_col).cast("string"))
                .alias("__sid"))
            .unionByName(bw.select(
                "win_hash",
                F.concat(F.lit("b:"), F.col(id_col).cast("string"))
                .alias("__sid"))))
    hd = both.groupBy("win_hash").agg(
        F.count_distinct("__sid").alias("__dfd"),
        F.count(F.lit(1)).alias("__tot"))
    ok = (hd.filter((F.col("__dfd") <= max_df)
                    & (F.col("__tot") <= max_occ))
          .select("win_hash"))
    m = (tw.join(ok, "win_hash")
         .select("win_hash", F.col(id_col).alias("t"),
                 F.col("pos").alias("pt"))
         .join(bw.select("win_hash", F.col(id_col).alias("b"),
                         F.col("pos").alias("pb")), "win_hash")
         .select("t", "b", "pt", (F.col("pt") - F.col("pb")).alias("off")))
    win = Window.partitionBy("t", "b", "off").orderBy("pt")
    g = m.withColumn("__grp", F.col("pt") - F.row_number().over(win))
    runs = (g.groupBy("t", "b", "off", "__grp")
            .agg(F.min("pt").alias("train_start"),
                 F.count(F.lit(1)).alias("__c")))
    return (runs.select(F.col("t").alias("train_id"),
                        F.col("b").alias("bench_id"),
                        "train_start",
                        (F.col("train_start") - F.col("off"))
                        .alias("bench_start"),
                        (F.col("__c") + F.lit(k - 1)).cast("long")
                        .alias("run_tokens"))
            .filter(F.col("run_tokens") >= min_len))


def word_shingles(text_col: str = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles of the lowercased text.

    Built from array slices of the token array — pure built-ins.
    Documents shorter than n tokens yield their full token string as
    the single shingle (so no document silently drops out).
    """
    toks = tokens(text_col)
    k = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(k - (n - 1), F.lit(1)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(grams)


_KM_MOD = 1 << 48  # 48-bit hash space for double hashing


def minhash_wide_signature(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           shingle_n: int = 3) -> DataFrame:
    """(id, mh_0..mh_{n-1}) — the signature in wide form.

    Arrow-batched ``mapInPandas``: each document is one row, so
    signatures are computed entirely map-side — zero shuffle — with
    numpy vectorizing the Kirsch-Mitzenmacher double-hashing family
    h_s = (h1 + s*h2) mod 2^48 per document (h1/h2 the two 48-bit
    halves of each shingle's md5). Chosen over a pure-expression
    pipeline because Spark's higher-order lambdas
    (transform/filter/slice) are CodegenFallback: that pipeline runs
    interpreted and is ~10x slower per row (measured; see git
    history). Shingle digests are memoized per worker
    (boilerplate-heavy corpora repeat the same shingles across
    documents, so each distinct shingle pays its md5 once; the memo is
    cleared at 1M entries to bound memory on huge partitions). NULL
    text drops the document, as null propagation does in the DuckDB
    oracle's SQL, which is the spec.
    """
    import hashlib
    import re as _re

    import numpy as np
    import pandas as pd

    id_type = df.schema[id_col].dataType.simpleString()
    schema = ", ".join([f"{id_col} {id_type}"] +
                       [f"mh_{s} long" for s in range(num_hashes)])
    seeds = list(range(num_hashes))
    n = shingle_n
    mod = _KM_MOD

    def compute(batches):
        seeds_arr = np.array(seeds, dtype=np.uint64)
        memo: dict[str, tuple[int, int]] = {}
        for pdf in batches:
            ids, sigs = [], []
            for id_val, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue   # the oracle's null propagation
                toks = [t for t in _re.split(r"\s+", text.lower()) if t]
                if len(toks) >= n:
                    grams = {" ".join(toks[i:i + n])
                             for i in range(len(toks) - n + 1)}
                else:
                    grams = {" ".join(toks)}
                if len(memo) > 1_000_000:
                    memo.clear()
                for g in grams:
                    if g not in memo:
                        d = hashlib.md5(g.encode("utf-8")).hexdigest()
                        memo[g] = (int(d[:12], 16), int(d[12:24], 16))
                h = np.array([memo[g] for g in grams], dtype=np.uint64)
                mins = ((h[:, 0:1] + seeds_arr * h[:, 1:2]) % mod).min(axis=0)
                ids.append(id_val)
                sigs.append(mins.astype(np.int64))
            out = pd.DataFrame(sigs, columns=[f"mh_{s}" for s in seeds]) \
                if sigs else pd.DataFrame(columns=[f"mh_{s}" for s in seeds])
            out.insert(0, id_col, pd.Series(ids, dtype=pdf[id_col].dtype))
            yield out

    return _fan_out(df, id_col).select(id_col, text_col) \
        .mapInPandas(compute, schema=schema)


def _minhash_banded(df: DataFrame, text_col: str, id_col: str,
                    num_hashes: int, bands: int,
                    shingle_n: int) -> DataFrame:
    """(id, band_id, band_key) — one row per document per LSH band."""
    r = num_hashes // bands
    sig = minhash_wide_signature(df, text_col, id_col, num_hashes, shingle_n)
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws("|", *[
                F.concat_ws(":", F.lit(str(s)), F.col(f"mh_{s}"))
                for s in range(b * r, (b + 1) * r)
            ]).alias("band_key"))
        for b in range(bands)])
    return (sig.select(F.col(id_col), F.explode(band_structs).alias("bd"))
               .select(id_col, "bd.band_id", "bd.band_key"))


def _bucket_pairs(banded: DataFrame, bucket_cols: list[str],
                  member: Column, pair_fields: "callable",
                  max_bucket_size: int) -> DataFrame:
    """Emit in-bucket pairwise combinations with a hard bucket cap.

    The cap is enforced BEFORE the collect: a `count() over (partition
    by bucket)` window shares its shuffle with the groupBy on the same
    keys (one exchange in the plan), and the window operator spills
    oversized partitions to disk — so a degenerate 10^6-member bucket
    never reaches the collect_list agg buffer, which only ever holds
    <= max_bucket_size elements. Without this, one boilerplate-heavy
    bucket concentrates an O(m^2) explode and an unbounded array in a
    single task. Oversized buckets are *dropped here*; callers that
    need the audit trail read them from the matching
    `*_oversized_buckets` side output and log/route them.

    Pair emission is a TWO-LEVEL generator: posexplode each bucket to
    one row per member, then emit that member's pairs (the tail of the
    sorted list after it) as an array bounded by m and explode it.
    Both Generates pipeline in one codegen stage — same zero-shuffle
    plan and m(m-1)/2 output rows as a single flatten, but the peak
    materialized array per row is O(m) member structs instead of the
    O(m^2/2) combos array a one-shot flatten builds, so a cap-sized
    bucket streams through a task instead of allocating the whole
    pair set at once.
    """
    w = Window.partitionBy(*bucket_cols)
    sized = banded.withColumn("__bn", F.count(F.lit(1)).over(w))
    buckets = (sized
               .filter((F.col("__bn") >= 2) &
                       (F.col("__bn") <= max_bucket_size))
               .groupBy(*bucket_cols)
               .agg(F.sort_array(F.collect_list(member)).alias("ms")))
    exploded = buckets.select(
        F.col("ms"), F.posexplode(F.col("ms")).alias("__i", "__x"))
    tail_pairs = F.transform(
        F.slice(F.col("ms"), F.col("__i") + F.lit(2),
                F.size(F.col("ms"))),
        lambda y: pair_fields(F.col("__x"), y))
    return exploded.select(F.explode(tail_pairs).alias("p"))


def minhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", num_hashes: int = 16,
                           bands: int = 4, shingle_n: int = 3,
                           max_bucket_size: int = 1024) -> DataFrame:
    """Candidate near-duplicate pairs (a < b) sharing >= 1 LSH band.

    num_hashes minhashes split into `bands` bands of r = num_hashes /
    bands rows; docs collide when an entire band matches. Single-pass
    plan: band keys are built directly from the wide signature (no
    unpivot/regroup), bucketed by (band_id, band_key), and pairs are
    emitted per bucket — the signature pipeline is computed exactly
    once (a naive self-join would recompute the whole shingle+hash
    lineage for each side). At 100 TB the only shuffled payload is
    (band digest, id).

    Buckets larger than ``max_bucket_size`` are excluded from pair
    emission (adversarial/boilerplate corpora can put 10^5+ docs in
    one band — O(m^2) pairs from a single task). A production dedup
    run writes `minhash_oversized_buckets` alongside as the logged
    side output and handles those cohorts separately (exact-dedup
    them first, or re-band with a longer signature).

    The 1024 default bounds the worst single-bucket emission at
    C(1024,2) ~ 524k pair structs, which the two-level generator in
    ``_bucket_pairs`` streams through one task in ~2.5 s measured on
    local[8] — a flat per-bucket cost that never dominates a stage.
    The prior 4096 default allowed an 8.4M-struct task (~16x).
    """
    banded = _minhash_banded(df, text_col, id_col, num_hashes, bands,
                             shingle_n)
    pairs = _bucket_pairs(
        banded, ["band_id", "band_key"], F.col(id_col),
        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
        max_bucket_size)
    return pairs.select("p.a", "p.b").distinct()


def minhash_oversized_buckets(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", num_hashes: int = 16,
                              bands: int = 4, shingle_n: int = 3,
                              max_bucket_size: int = 1024) -> DataFrame:
    """Side output for `minhash_near_dup_pairs`: the buckets the cap
    excluded, as (band_id, band_key, n_ids) — one row per hot bucket,
    never the member list itself (that array is the thing being
    bounded)."""
    banded = _minhash_banded(df, text_col, id_col, num_hashes, bands,
                             shingle_n)
    return (banded.groupBy("band_id", "band_key")
                  .agg(F.count(F.lit(1)).alias("n_ids"))
                  .filter(F.col("n_ids") > max_bucket_size))


def connected_components_star(edges: DataFrame, a: str = "a",
                              b: str = "b",
                              max_iter: int = 60) -> DataFrame:
    """(node, component) via alternating large-star/small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC '14) — the doubling algorithm for graphs whose
    diameter makes per-round label propagation too slow. Converges in
    O(log^2 n) rounds independent of diameter (a diameter-10^6 chain
    finishes in ~20 rounds where propagation would need 10^6).

    Each round is two star operations; each is one groupBy + one
    equi-join on the node id, pre-partitioned on that id so the join
    reuses the groupBy's exchange. The edge set only ever shrinks
    toward the star forest (child -> component-min), so per-round
    cost decreases; localCheckpoint per round keeps the plan flat
    exactly as in `connected_components`. Works for any orderable id
    type (numeric, string).

    Output contract matches `connected_components`: one (node, label)
    row per node present in ``edges``, label = min node id of its
    component.
    """
    e = (edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
              .filter(F.col("u") != F.col("v")).distinct())
    n_edges = e.count()
    p = max(8, min(2048, n_edges // 1_000_000 + 8))
    e = e.repartition(p, "u").localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        # large-star: every node links its LARGER neighbors to the
        # min of its closed neighborhood
        sym = e.union(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                   .select("u", F.least("mv", "u").alias("m")))
        large = (sym.join(mins, "u")
                    .filter(F.col("v") > F.col("u"))
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                    .filter(F.col("u") != F.col("v"))
                    .distinct()
                    .repartition(p, "u").localCheckpoint(eager=True))
        # small-star: orient edges large->small; every node links its
        # smaller neighbors (and itself) to the neighborhood min
        d = large.select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
        mins2 = d.groupBy("u").agg(F.min("v").alias("m"))
        small = (d.join(mins2, "u")
                  .filter(F.col("v") != F.col("m"))
                  .select(F.col("v").alias("u"), F.col("m").alias("v"))
                  .union(mins2.select("u", F.col("m").alias("v")))
                  .filter(F.col("u") != F.col("v"))
                  .distinct()
                  .repartition(p, "u").localCheckpoint(eager=True))
        # fixed point: the (deduplicated) edge set stopped changing.
        # count equality + one-sided except-emptiness <=> set equality.
        if small.count() == e.count() and small.exceptAll(e).isEmpty():
            e = small
            converged = True
            break
        e = small
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — pathological input (should not happen: bound is "
            "O(log^2 n) rounds)")
    # fixed point is a star forest: every edge is (node, component-min)
    comp = e.select(F.col("u").alias("node"), F.col("v").alias("label"))
    roots = (e.select(F.col("v").alias("node")).distinct()
              .select("node", F.col("node").alias("label")))
    return comp.union(roots).distinct()


def connected_components(edges: DataFrame, a: str = "a", b: str = "b",
                         max_iter: int = 30,
                         fallback: str | None = "star") -> DataFrame:
    """(node, component) for the undirected graph given as edge pairs
    — component = the smallest node id reachable from the node.

    Iterative min-label propagation: every round each node takes the
    min of its own label and its neighbors' labels; converged when no
    label changes. Rounds needed = graph diameter, and near-dup
    candidate graphs are star/clique-shaped (diameter 2-3), so the
    driver-controlled loop runs 2-4 shuffle-join rounds in practice —
    the same bounded-iteration pattern as kmeans_fit. Convergence is
    detected by comparing each round's labels against the previous
    round's (an emptiness check on `new != old` over the already-
    checkpointed frame) — type-agnostic, so string node ids work;
    the earlier sum(label)-equality check silently "converged" after
    one round on non-numeric ids because SUM of a string column is
    NULL every round. Each round is one equi-join + one groupBy on
    the node id — key-partitioned shuffles that scale horizontally;
    for billion-edge graphs with large-diameter components use
    connected_components_star (large-star/small-star), the doubling
    variant behind the same output contract.
    """
    # cache the edge list: it joins into EVERY propagation round, and
    # without the cache each round would recompute the whole upstream
    # lineage (for near_dup_clusters that is the entire minhash
    # pipeline). Cache the INPUT pairs, not the symmetrized union —
    # the union's two branches would each evaluate the lineage once.
    ec = edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).cache()
    n_edges = ec.count()
    # Partition the iteration to the GRAPH size, not the session
    # shuffle default: the candidate-pair graph is orders of magnitude
    # smaller than the corpus that produced it (274 edges from 50 k
    # docs at sf0.1), and per-round task-scheduling overhead dominates
    # when tiny frames shuffle across 32+ partitions (measured: 12 s
    # -> ~1 s for the same 274-edge graph). ~1M edges per partition.
    p = max(8, min(2048, n_edges // 1_000_000 + 8))
    # localCheckpoint (not cache) on the iterated frames: caching
    # truncates recomputation but NOT the analyzed plan — each round's
    # logical tree would nest every previous round's, and Catalyst
    # re-optimizes the whole growing tree per round (measured: round
    # times 1.4 -> 4.1 s on a 274-edge graph). Checkpointing cuts the
    # lineage so every round plans against a flat scan — the standard
    # iterative-DataFrame pattern (GraphFrames/MLlib do the same).
    sym = ec.union(ec.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"))) \
            .repartition(p, "dst").localCheckpoint(eager=True)
    labels = (sym.select(F.col("src").alias("node")).distinct()
                 .repartition(p, "node")
                 .select("node", F.col("node").alias("label"))
                 .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_iter):
        nb = (sym.join(labels, sym["dst"] == labels["node"])
                 .groupBy("src").agg(F.min("label").alias("nb_label")))
        # carry the previous label through the checkpoint so the
        # convergence probe (any label != old_label?) is a flat scan
        # of checkpointed data, not a re-join — and is label-type
        # agnostic (strings included), unlike a SUM-based check.
        new = (labels.alias("l")
               .join(nb, F.col("l.node") == nb["src"], "left")
               .select(F.col("l.node").alias("node"),
                       F.col("l.label").alias("old_label"),
                       F.least(F.col("l.label"),
                               F.coalesce(nb["nb_label"], F.col("l.label"))
                               ).alias("label"))
               .repartition(p, "node").localCheckpoint(eager=True))
        changed_any = not new.filter(
            F.col("label") != F.col("old_label")).isEmpty()
        labels = new.select("node", "label")
        if not changed_any:
            converged = True
            break
    if not converged:
        # an unconverged result is silently WRONG (labels mid-
        # propagation), not just slow — never return it. A graph
        # needing more rounds than the budget has diameter > max_iter:
        # not a near-dup cluster shape. Default: hand the graph to the
        # O(log^2 n) large-star/small-star variant, which is
        # diameter-independent. fallback=None restores the strict
        # refuse-and-raise behavior.
        if fallback == "star":
            out = connected_components_star(ec, "src", "dst")
            ec.unpersist()
            return out
        ec.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "rounds — graph diameter exceeds the label-propagation "
            "budget; raise max_iter or use connected_components_star")
    ec.unpersist()
    return labels


def near_dup_clusters(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      max_bucket_size: int = 1024,
                      cc_max_iter: int = 30) -> DataFrame:
    """(doc_id, cluster_id) for EVERY document: near-duplicate
    candidate pairs (MinHash-LSH) -> connected components -> each doc
    labeled with the min doc id of its duplicate cluster (singletons
    label themselves). This is the step every production dedup
    pipeline runs after pair generation — keep one representative per
    cluster, not per pair (pairwise keep-min drops both docs of a
    chain a-b, b-c)."""
    pairs = minhash_near_dup_pairs(df, text_col, id_col, num_hashes,
                                   bands, shingle_n, max_bucket_size)
    comp = connected_components(pairs, "a", "b", max_iter=cc_max_iter)
    return (df.select(id_col)
              .join(comp, df[id_col] == comp["node"], "left")
              .select(F.col(id_col),
                      F.coalesce(comp["label"], F.col(id_col))
                       .alias("cluster_id")))


def simhash_fingerprint(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """SimHash (up to 60 bits): bit j of the fingerprint is the
    majority vote of bit j across the md5-derived hashes of the
    document's distinct tokens. Computed with explode + conditional
    sums — one shuffle on doc_id with map-side combine. Returns
    (id, simhash). Fingerprint width trades sketch size against
    bucket sparsity in the hamming-LSH pair search (16 bits is a
    compact demo sketch; 60 bits is the near-dup workhorse)."""
    assert bits <= 60, "bits > 60 would overflow a signed 64-bit hash"
    tok = _fan_out(df, id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("t"))
    hex_chars = (bits + 3) // 4
    h = F.conv(F.substring(F.md5(F.col("t")), 1, hex_chars), 16, 10).cast("long")
    tok = tok.withColumn("h", h)
    votes = [
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, 1)
               .otherwise(-1)).alias(f"v_{j}")
        for j in range(bits)]
    agg = tok.groupBy(id_col).agg(*votes)
    fp = F.lit(0).cast("long")
    for j in range(bits):
        fp = fp + F.when(F.col(f"v_{j}") > 0, F.lit(1 << j).cast("long")) \
                   .otherwise(F.lit(0).cast("long"))
    out_type = "int" if bits <= 31 else "long"
    return agg.select(id_col, fp.cast(out_type).alias("simhash"))


def _simhash_banded(df: DataFrame, text_col: str, id_col: str,
                    bits: int, max_hamming: int) -> DataFrame:
    """(id, simhash, band_id, band_val) — pigeonhole hamming bands."""
    n_bands = max_hamming + 1
    band_bits = bits // n_bands
    sig = simhash_fingerprint(df, text_col, id_col, bits)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band_id"),
                 F.shiftright(F.col("simhash"), b * band_bits)
                  .bitwiseAND((1 << band_bits) - 1).alias("band_val"))
        for b in range(n_bands)])
    return (sig.select(id_col, "simhash", F.explode(bands).alias("bd"))
               .select(id_col, "simhash", "bd.band_id", "bd.band_val"))


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", bits: int = 60,
                           max_hamming: int = 3,
                           max_bucket_size: int = 1024) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming.

    Pigeonhole LSH for hamming space: split the fingerprint into
    (max_hamming + 1) bands — any pair within the distance budget
    must match EXACTLY on at least one band, so candidates meet in an
    equi-join on (band_id, band_value), never a cross join; the exact
    hamming filter (bit_count of xor) then prunes false candidates.
    Returns (a, b, hamming). Buckets over ``max_bucket_size`` are
    excluded (see minhash_near_dup_pairs — same bound, same logged
    side output via `simhash_oversized_buckets`).
    """
    banded = _simhash_banded(df, text_col, id_col, bits, max_hamming)
    member = F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s"))
    pairs = _bucket_pairs(
        banded, ["band_id", "band_val"], member,
        lambda x, y: F.struct(x["i"].alias("a"), y["i"].alias("b"),
                              F.bit_count(x["s"].bitwiseXOR(y["s"]))
                               .alias("hamming")),
        max_bucket_size)
    return (pairs.select("p.a", "p.b", "p.hamming")
                 .filter(F.col("hamming") <= max_hamming)
                 .distinct())


def simhash_oversized_buckets(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", bits: int = 60,
                              max_hamming: int = 3,
                              max_bucket_size: int = 1024) -> DataFrame:
    """Side output: hamming-LSH buckets the cap excluded, as
    (band_id, band_val, n_ids)."""
    banded = _simhash_banded(df, text_col, id_col, bits, max_hamming)
    return (banded.groupBy("band_id", "band_val")
                  .agg(F.count(F.lit(1)).alias("n_ids"))
                  .filter(F.col("n_ids") > max_bucket_size))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", shingle_n: int = 3,
                        threshold: float = 0.8,
                        max_df: int = 1000) -> DataFrame:
    """Exact Jaccard >= threshold pairs via inverted-index self-join.

    |A ∩ B| = count of shared shingles (group the exploded index by
    pair); |A ∪ B| = |A| + |B| − |A∩B|. The self-join key is the
    shingle itself — pairs that share nothing never meet. Returns
    (a, b, jaccard) with a < b; jaccard rounded to 6 dp.

    Shingles whose document frequency exceeds ``max_df`` are dropped
    from the index BEFORE the self-join — a stop-phrase shared by k
    docs would otherwise emit k^2 join rows from one key. The df
    window partitions on the shingle, the same key the join shuffles
    on, so the cap adds no extra exchange. Sizes are computed over
    the kept shingles too, so the reported value is the exact Jaccard
    of the filtered shingle space — pairs sharing *only* stop-
    shingles are below any useful threshold anyway.
    """
    raw_sh = _fan_out(df, id_col).select(
        F.col(id_col),
        F.explode(word_shingles(text_col, shingle_n)).alias("sh"))
    # word_shingles is distinct per doc, so count(*) per shingle = df
    w = Window.partitionBy("sh")
    sh = (raw_sh.withColumn("__df", F.count(F.lit(1)).over(w))
                .filter(F.col("__df") <= max_df)
                .drop("__df"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("a"), "sh")
    b = sh.select(F.col(id_col).alias("b"), "sh")
    inter = (a.join(b, "sh")
              .filter(F.col("a") < F.col("b"))
              .groupBy("a", "b")
              .agg(F.count(F.lit(1)).alias("n_common")))
    sa = sizes.select(F.col(id_col).alias("a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("b"), F.col("n_sh").alias("n_b"))
    j = (inter.join(sa, "a").join(sb, "b")
              .withColumn("jaccard",
                          F.round(F.col("n_common") /
                                  (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6)))
    return (j.filter(F.col("jaccard") >= threshold)
             .select("a", "b", "jaccard"))
