"""Maintained inverted text index: BM25 search served from LSM state.

``text_bm25_term_scores`` (plans/search_queries.py) answers "top-k
docs for these terms" by tokenizing the WHOLE corpus per query. A
serving deployment asks the same question thousands of times a day
against a corpus that only grows by deltas — it wants the postings
materialized once and maintained, like the other served indexes in
this package (operators/{ann_index,dedup_index,substring_index}.py;
all four share the generation protocol of operators/lsm.py):

- ``build_text_index``: tokenize the corpus once and persist
  ``postings/`` (term, doc_id, tf, dl) laid out by a term-hash
  bucket (``partitionBy("bucket")`` — the single-host stand-in for
  cluster bucketing, and what lets a query's scan PRUNE to the
  partitions its terms live in) plus ``docs/`` (doc_id, dl — every
  live document, including ones with no query-term hits, because
  corpus stats N and total_tokens are part of the BM25 score).
- ``upsert_text_index``: one delta generation per batch — update
  rows re-define their doc's postings under the new text, delete
  ids remove theirs; every touched id gets a generation-stamped
  tombstone (the id-tombstone rule the ANN index uses too).
- ``search_text_index``: Okapi BM25 top-k per term served from the
  reconciled state, in the SAME exact-integer formulation as the
  batch query (one IEEE division of two exact BIGINTs — see
  plans/search_queries.py for the derivation), so served results
  are bit-identical to a from-scratch run over the visible corpus.
- ``compact_text_index``: fold live rows into a fresh base,
  dropping shadowed/tombstoned rows.

df and corpus stats are DERIVED AT READ TIME from the reconciled
postings/docs, never stored: under upserts and deletes a stored df
would need subtraction (and a re-appearing doc would double-count),
while the derived form is exact by construction and costs only an
aggregation over the query terms' postings (df) plus one narrow agg
over doc-count-sized ``docs/`` rows (N, total_tokens).

Scale: a query reads only its terms' bucket partitions (partition
pruning on every generation) plus the doc-count-sized docs/ frames;
the tombstone set stays delta-metadata-sized, so reconciliation is a
broadcast anti-join; upsert cost is proportional to the batch, never
the index; compaction resets the read path to a plain pruned scan.

No reference counterpart (extension scope, SURVEY.md §2.3); the
segment/delete-list shape is the standard Lucene/Delta-Lake LSM
contract re-expressed over plain partitioned parquet.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .lsm import (
    delta_count,
    delta_frames,
    index_ok,
    new_base,
    new_delta,
    read_manifest,
    reconcile,
    write_generation,
    write_manifest,
    write_tombstones,
)
from ..functions.text import tokens


def _bucket(term_col, n_buckets: int):
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def _postings(corpus: DataFrame, text_col: str, id_col: str,
              n_buckets: int, positions: bool = False,
              store_text: bool = False) -> tuple[DataFrame, DataFrame]:
    """(postings, docs) for one generation. Tokenizes once: postings
    are (bucket, term, doc_id, tf, dl) — dl denormalized onto the
    posting row so scoring never joins back to docs/ — and docs are
    (doc_id, dl) for EVERY document (zero-token docs included; they
    carry corpus-stat weight even with no postings). With
    ``positions`` the posting row also carries the term's sorted
    0-based token offsets (``positions: array<int>``) — the phrase-
    query payload; the arrays sum to document length across a doc's
    rows, so storage stays linear in corpus tokens. With
    ``store_text`` the docs row also keeps the raw text (the stored-
    fields file of a Lucene segment) — what snippet generation reads
    back for matched docs only."""
    t = (corpus.filter(F.col(text_col).isNotNull())
         .select(F.col(id_col).alias("doc_id"),
                 tokens(text_col).alias("__toks")))
    docs = t.select("doc_id",
                    F.size("__toks").cast("long").alias("dl"))
    if store_text:
        docs = (corpus.filter(F.col(text_col).isNotNull())
                .select(F.col(id_col).alias("doc_id"),
                        F.size(tokens(text_col)).cast("long")
                        .alias("dl"),
                        F.col(text_col).alias("text")))
    if positions:
        hits = t.select("doc_id",
                        F.size("__toks").cast("long").alias("dl"),
                        F.posexplode("__toks").alias("pos", "term"))
        agg = [F.count(F.lit(1)).cast("long").alias("tf"),
               F.first("dl").alias("dl"),
               F.sort_array(F.collect_list(F.col("pos").cast("int")))
               .alias("positions")]
        cols = ["term", "doc_id", "tf", "dl", "positions"]
    else:
        hits = t.select("doc_id",
                        F.size("__toks").cast("long").alias("dl"),
                        F.explode("__toks").alias("term"))
        agg = [F.count(F.lit(1)).cast("long").alias("tf"),
               F.first("dl").alias("dl")]
        cols = ["term", "doc_id", "tf", "dl"]
    posts = (hits.groupBy("term", "doc_id").agg(*agg)
             .select(_bucket(F.col("term"), n_buckets).alias("bucket"),
                     *cols))
    return posts, docs


def _write_gen(posts: DataFrame, docs: DataFrame, dest: str) -> None:
    write_generation(posts.repartition("bucket"), f"{dest}/postings",
                     "bucket")
    write_generation(docs, f"{dest}/docs")


def build_text_index(corpus: DataFrame, index_path: str,
                     text_col: str = "text", id_col: str = "doc_id",
                     n_buckets: int = 64, positions: bool = False,
                     store_text: bool = False) -> None:
    """Tokenize the corpus once and publish the inverted index as a
    new base. ``n_buckets`` pins the term-hash partition layout in the
    manifest; every later generation writes the same layout so
    query-time pruning applies uniformly. ``positions`` pins the
    positional-postings layout (required for phrase queries) —
    every later upsert writes it too."""
    with new_base(index_path) as stage:
        posts, docs = _postings(corpus, text_col, id_col, n_buckets,
                                positions, store_text)
        _write_gen(posts, docs, stage)
        write_manifest(stage, {"id_col": id_col, "text_col": text_col,
                                "n_buckets": n_buckets,
                                "positions": positions,
                                "store_text": store_text})


def upsert_text_index(spark: SparkSession, index_path: str,
                      updates: DataFrame | None = None,
                      delete_ids=None,
                      tag: str | None = None) -> int:
    """Append one delta generation: ``updates`` rows (id_col,
    text_col) re-define their documents, ``delete_ids`` (iterable or
    one-column DataFrame) remove theirs. Returns the generation
    number. Work is proportional to the batch: one tokenize pass
    over ``updates`` and a bucket-partitioned write; tombstones are
    id-only."""
    if updates is None and delete_ids is None:
        raise ValueError("upsert_text_index: nothing to apply "
                         "(updates and delete_ids both None)")
    with new_delta(index_path, tag) as (stage, seq):
        man = read_manifest(index_path)
        touched = None
        if updates is not None:
            touched = updates.select(F.col(man["id_col"]).alias("doc_id"))
            posts, docs = _postings(updates, man["text_col"],
                                    man["id_col"], man["n_buckets"],
                                    man.get("positions", False),
                                    man.get("store_text", False))
            _write_gen(posts, docs, stage)
        write_tombstones(spark, stage, "doc_id", touched, delete_ids,
                         f"{index_path}/docs")
    return seq


def _reconcile(spark: SparkSession, index_path: str, sub: str,
               buckets: list[int] | None = None) -> DataFrame:
    """Reconciled view of ``sub`` ("postings" or "docs") across base
    + deltas. ``buckets`` prunes postings partitions on every
    generation."""

    def scan(path: str) -> DataFrame:
        df = spark.read.parquet(path)
        if buckets is not None and sub == "postings":
            df = df.filter(F.col("bucket").isin(buckets))
        return df

    return reconcile(spark, index_path, sub, "doc_id", scan)


def bm25_exact_score(tf, df, dl, n_docs, total_toks):
    """The exact-integer Okapi BM25 per-term score (k1=1.2, b=0.75,
    rational Robertson idf without the log) as one IEEE division of
    two exact BIGINT products — bit-identical across engines; see
    plans/search_queries.py for the derivation and range analysis."""
    num = ((2 * n_docs - 2 * df + 1) * 22 * tf * total_toks) \
        .cast("double")
    den = ((2 * df + 1) * (10 * tf * total_toks + 3 * total_toks
                           + 9 * dl * n_docs)).cast("double")
    return num / den


def _scored_hits(spark: SparkSession, index_path: str,
                 terms) -> DataFrame:
    """(term, doc_id, tf, df, dl, score): every live posting of the
    query terms with its exact-integer BM25 score. The postings read
    prunes to the terms' hash buckets on every generation; df is an
    agg over those rows and N/total_tokens one narrow agg over docs/,
    both broadcast into the score."""
    if not index_ok(index_path):
        raise FileNotFoundError(f"no published index at {index_path}")
    man = read_manifest(index_path)
    terms = list(terms)
    bks = _term_buckets(spark, terms, man["n_buckets"])
    hits = (_reconcile(spark, index_path, "postings", buckets=bks)
            .filter(F.col("term").isin(*terms)))
    corpus = _reconcile(spark, index_path, "docs").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_toks"))
    df_ = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df"))
    return (hits.join(F.broadcast(df_), "term")
            .crossJoin(F.broadcast(corpus))
            .withColumn("score", bm25_exact_score(
                F.col("tf"), F.col("df"), F.col("dl"),
                F.col("n_docs"), F.col("total_toks")))
            .select("term", "doc_id", "tf", "df", "dl", "score"))


def search_text_index(spark: SparkSession, index_path: str,
                      terms, k: int = 5) -> DataFrame:
    """Top-``k`` live documents per query term by exact-integer BM25,
    served from maintained state: (term, doc_id, tf, df, dl, score,
    rank) — the same shape and arithmetic as the from-scratch
    ``text_bm25_term_scores``, so served results hash-match a full
    corpus re-scan over the visible documents.

    Plan shape: :func:`_scored_hits`, then a |terms|-partition
    top-k window with a doc_id tiebreak."""
    from pyspark.sql import Window

    scored = _scored_hits(spark, index_path, terms)
    # local-partial-top-k merge (the similarity.py pattern): each
    # Arrow batch keeps only its own top-k per term map-side, so the
    # final window ranks ≤ batches×k candidate rows per term instead
    # of every posting of a hot term — the difference between a tiny
    # shuffle and a single reducer swallowing a billion-df term at
    # 100 TB. Exactness holds because any global top-k row is in its
    # batch's top-k (scores are exact doubles; same tiebreak both
    # levels), so top-k(union of local top-k) == global top-k.
    local = _local_topk_by(scored, ["term"], "score", "doc_id", k)
    w = Window.partitionBy("term").orderBy(F.desc("score"), "doc_id")
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("term", "doc_id", "tf", "df", "dl",
                    F.round("score", 6).alias("score"),
                    F.col("rank").cast("long").alias("rank")))


def _local_topk_by(df: DataFrame, group_cols: list, score_col: str,
                   tiebreak_col: str, k: int) -> DataFrame:
    """Map-side per-Arrow-batch top-k within ``group_cols`` by
    (``score_col`` desc, ``tiebreak_col`` asc) — the local half of
    the local-partial-top-k merge. ``group_cols=[]`` keeps one global
    top-k per batch. No shuffle; output ≤ batches×groups×k rows."""
    import numpy as np
    import pandas as pd

    schema = df.schema

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            groups = (pdf.groupby(group_cols, sort=False)
                      if group_cols else [(None, pdf)])
            out = []
            for _, g in groups:
                order = np.lexsort(
                    (g[tiebreak_col].to_numpy(),
                     -g[score_col].to_numpy()))[:k]
                out.append(g.iloc[order])
            yield pd.concat(out, ignore_index=True)

    return df.mapInPandas(kernel, schema=schema)


def search_text_index_docs(spark: SparkSession, index_path: str,
                           terms, k: int = 10) -> DataFrame:
    """Top-``k`` live documents for the WHOLE query — ranked by the
    summed per-term BM25 over every query term the doc contains
    (disjunctive retrieval, the ranking a search deployment actually
    serves): (doc_id, n_terms, score, rank). The per-term scores are
    the exact-integer doubles of :func:`search_text_index`; the
    cross-term sum is exact decimal accumulation
    (operators/windowed_agg.sum_exact) so the ranking is
    order-independent and bit-identical cross-engine.

    Plan shape: identical pruned postings read; one extra
    doc-keyed aggregation over query-term hit rows only (corpus-
    sized in docs that contain a query term, never in postings);
    top-k is a single-partition window over that bounded set — swap
    in the local-partial-top-k merge at extreme scale."""
    from pyspark.sql import Window

    from .windowed_agg import sum_exact

    per_doc = _scored_hits(spark, index_path, terms).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        sum_exact("score").alias("__total"))
    # local-partial-top-k (see search_text_index): the global ranking
    # window sees ≤ batches×k candidates, never every scored doc
    local = _local_topk_by(per_doc, [], "__total", "doc_id", k)
    w = Window.orderBy(F.desc("__total"), "doc_id")
    return (local.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", "n_terms",
                    F.round("__total", 6).alias("score"),
                    F.col("rank").cast("long").alias("rank")))


def search_text_index_phrase(spark: SparkSession, index_path: str,
                             phrases) -> DataFrame:
    """EXACT phrase matching from positional postings: for each
    phrase (a whitespace-joined term string), every live document
    containing the consecutive token sequence, with its exact
    occurrence count — (phrase, doc_id, n_occurrences). Overlapping
    occurrences count individually (``"b b b"`` contains ``"b b"``
    twice), which substring/regex counting gets wrong on adjacent
    repeats.

    The index must be built with ``positions=True`` (enforced from
    the manifest). Plan shape: one pruned postings read over the
    union of all phrase terms; per phrase, the i-th term's positions
    are shifted by −i and intersected (``array_intersect`` — pure
    JVM array kernels, no Python), so a document's count is the size
    of the surviving start-position set. Docs lacking any phrase
    term drop at the inner joins; every join is doc-keyed over
    term-hit rows only."""
    return _phrase_matches(spark, index_path, phrases) \
        .drop("first_pos")


def _phrase_matches(spark: SparkSession, index_path: str,
                    phrases) -> DataFrame:
    """(phrase, doc_id, n_occurrences, first_pos) — the phrase
    result including the first occurrence's 0-based token offset
    (what snippet generation anchors on)."""
    if not index_ok(index_path):
        raise FileNotFoundError(f"no published index at {index_path}")
    man = read_manifest(index_path)
    if not man.get("positions", False):
        raise ValueError(
            "phrase queries need a positional index: rebuild with "
            "build_text_index(..., positions=True)")
    plists = [p.split() for p in phrases]
    all_terms = sorted({t for p in plists for t in p})
    bks = _term_buckets(spark, all_terms, man["n_buckets"])
    hits = (_reconcile(spark, index_path, "postings", buckets=bks)
            .filter(F.col("term").isin(*all_terms))
            .select("term", "doc_id", "positions"))
    def _shifted(i: int):
        # NOTE: the lambda must stay single-arg — PySpark treats a
        # 2-arg HOF lambda as (element, array_index)
        if i == 0:
            return F.col("positions")
        return F.transform("positions", lambda x: x - F.lit(i))

    out = None
    for phrase, terms in zip(phrases, plists):
        cur = None
        for i, t in enumerate(terms):
            side = (hits.filter(F.col("term") == t)
                    .select("doc_id", _shifted(i).alias(f"__p{i}")))
            cur = side if cur is None else cur.join(side, "doc_id")
        inter = F.col("__p0")
        for i in range(1, len(terms)):
            inter = F.array_intersect(inter, F.col(f"__p{i}"))
        one = (cur.select(F.lit(phrase).alias("phrase"), "doc_id",
                          F.size(inter).cast("long")
                          .alias("n_occurrences"),
                          F.array_min(inter).cast("long")
                          .alias("first_pos"))
               .filter(F.col("n_occurrences") > 0))
        out = one if out is None else out.unionByName(one)
    return out


def search_text_index_snippets(spark: SparkSession, index_path: str,
                               phrases, context: int = 4) -> DataFrame:
    """KWIC (keyword-in-context) snippets for phrase matches, served
    entirely from maintained state: for each (phrase, live doc)
    match, the tokens around the FIRST occurrence — (phrase, doc_id,
    n_occurrences, first_pos, snippet) with ``snippet`` the
    space-joined token window ``[first_pos − context,
    first_pos + len(phrase) + context)`` clipped to the document.
    Needs an index built with ``positions=True`` AND
    ``store_text=True`` (the stored-fields seam — snippet text is
    read back from docs/ for MATCHED docs only, never the corpus).

    Plan shape: the phrase-match plan (pruned postings read, shifted
    position intersects) plus ONE doc-keyed join of the match set
    against stored docs rows and a pure-JVM tokenize/slice/join —
    match-set-sized, not corpus-sized."""
    man = read_manifest(index_path)
    if not man.get("store_text", False):
        raise ValueError(
            "snippets need stored text: rebuild with "
            "build_text_index(..., positions=True, store_text=True)")
    matches = _phrase_matches(spark, index_path, phrases)
    stored = _reconcile(spark, index_path, "docs") \
        .select("doc_id", "text")
    plen = {p: len(p.split()) for p in phrases}
    lens = F.create_map(*[x for p, n in plen.items()
                          for x in (F.lit(p), F.lit(n))])
    toks = tokens("text")
    start = F.greatest(F.lit(1),
                       (F.col("first_pos") + 1 - context).cast("int"))
    length = (lens[F.col("phrase")] + 2 * context).cast("int")
    return (matches.join(stored, "doc_id")
            .select("phrase", "doc_id", "n_occurrences", "first_pos",
                    F.array_join(F.slice(toks, start, length), " ")
                    .alias("snippet")))


def _term_buckets(spark: SparkSession, terms: list,
                  n_buckets: int) -> list[int]:
    """The query terms' partition buckets, for pruning: evaluated by
    the JVM with the SAME expression a posting row's bucket was
    written with (one literal-only job, no corpus work — so the
    write-side and prune-side hash can never drift)."""
    row = spark.range(1).select(
        *[_bucket(F.lit(t), n_buckets).alias(f"b{i}")
          for i, t in enumerate(terms)]).head()
    return sorted({int(v) for v in row})


def text_index_stats(spark: SparkSession, index_path: str) -> DataFrame:
    """One-row health frame: (n_docs_live, n_postings_live,
    n_postings_base, n_postings_delta, n_terms_live, n_deltas) —
    the compaction-debt numbers a serving deployment alerts on
    (postings_base + postings_delta − postings_live is the
    shadowed/tombstoned scan waste a compaction reclaims)."""
    base = spark.read.parquet(f"{index_path}/postings")
    dframes = delta_frames(spark, index_path, "postings")
    n_delta = (reduce(DataFrame.unionByName, dframes).count()
               if dframes else 0)
    live = _reconcile(spark, index_path, "postings")
    docs = _reconcile(spark, index_path, "docs")
    return (live.agg(
                F.count(F.lit(1)).cast("long").alias("n_postings_live"),
                F.count_distinct("term").cast("long")
                .alias("n_terms_live"))
            .crossJoin(docs.agg(F.count(F.lit(1)).cast("long")
                                .alias("n_docs_live")))
            .select("n_docs_live", "n_postings_live",
                    F.lit(base.count()).cast("long")
                    .alias("n_postings_base"),
                    F.lit(n_delta).cast("long").alias("n_postings_delta"),
                    "n_terms_live",
                    F.lit(delta_count(index_path)).cast("long")
                    .alias("n_deltas")))


def compact_text_index(spark: SparkSession, index_path: str) -> int:
    """Fold every delta into a fresh base: live postings re-laid-out
    by bucket, live docs, no tombstones. Returns the number of
    generations folded (0 = no-op)."""
    folded = delta_count(index_path)
    with new_base(index_path, compact=True) as stage:
        if stage is None:
            return 0
        _write_gen(_reconcile(spark, index_path, "postings"),
                   _reconcile(spark, index_path, "docs"), stage)
        write_manifest(stage, read_manifest(index_path))
    return folded
