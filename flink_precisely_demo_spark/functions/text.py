"""Text-analysis scalar functions (extension surface, SURVEY.md §2.3).

All pure Spark column expressions — JVM-side, codegen'd, no Python in
the hot path. Designed for the `documents` table (doc_id, text, lang,
source, n_chars) but applicable to any string column. At 100 TB these
run inside the parquet scan stage with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword
# heuristic language ID. Deliberately small and deterministic so the
# DuckDB oracle can replicate them exactly.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "que", "es"),
}

STOPWORDS_EN = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "for", "on", "with", "as", "at", "by", "be", "this", "that",
)


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization to array<string> (lowercased).

    Filters empty strings so leading/trailing/double spaces don't
    produce phantom tokens.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    """Whitespace token count.

    Formulated without array lambdas (split on trimmed text has no
    empty tokens, so the filter is unnecessary) — higher-order
    functions are CodegenFallback and would interpret this hot-path
    expression row-at-a-time. NULL propagates; empty/blank -> 0.
    """
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.lit(0)) \
            .otherwise(F.size(F.split(trimmed, r"\s+")))


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: splits on word/non-word boundaries and
    counts runs of <=4 chars as single tokens, longer runs as
    ceil(len/4) — a deterministic BPE-like proxy for LLM budgeting."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.filter(
        F.split(F.lower(c), r"[^0-9a-z]+"), lambda t: t != "")
    per_piece = F.transform(
        pieces, lambda t: F.ceil(F.length(t) / F.lit(4.0)).cast("long"))
    return F.coalesce(
        F.aggregate(per_piece, F.lit(0).cast("long"), lambda acc, x: acc + x),
        F.lit(0).cast("long"),
    )


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers)))


def language_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of stopword-marker hit counts,
    'und' (undetermined) when no marker appears. Deterministic
    tie-break: language key order en < de < fr < es by listing order
    with strict greater-than comparisons."""
    toks = tokens(col)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang, markers in LANG_MARKERS.items():
        hits = _marker_hits(toks, markers)
        take = hits > best_hits
        best_lang = F.when(take, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(take, hits).otherwise(best_hits)
    return best_lang


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]:
       0.4 * length_score (saturating at 200 words)
     + 0.3 * stopword ratio score (ideal band ~ [0.1, 0.6])
     + 0.3 * alpha ratio (alpha chars / all chars).
    Pure built-ins; rounded to 6 dp for cross-engine determinism."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks).cast("double")
    length_score = F.least(n_tok / F.lit(200.0), F.lit(1.0))
    stop_ratio = F.when(
        n_tok > 0,
        _marker_hits(toks, STOPWORDS_EN).cast("double") / n_tok,
    ).otherwise(F.lit(0.0))
    stop_score = F.when((stop_ratio >= 0.1) & (stop_ratio <= 0.6), F.lit(1.0)) \
        .otherwise(F.lit(0.0))
    n_chars = F.length(c).cast("double")
    alpha_chars = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    alpha_ratio = F.when(n_chars > 0, alpha_chars / n_chars).otherwise(F.lit(0.0))
    score = F.lit(0.4) * length_score + F.lit(0.3) * stop_score + F.lit(0.3) * alpha_ratio
    return F.round(score, 6)


def doc_fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: first 16 hex chars of the
    MD5 of the whitespace-normalized, lowercased text (64 bits of
    entropy). Content-addressed identity for exact dedup / provenance;
    identical in any engine with md5 (the DuckDB oracle reproduces it
    bit-for-bit — hex string, not bigint, because hex->int conversion
    isn't portable SQL)."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    return F.substring(F.md5(normalized), 1, 16)


def repetition_stats(col: Column | str) -> Column:
    """Gopher-style repetition signals as one struct column:
    ``n_tokens``, ``distinct_ratio`` (distinct/total tokens),
    ``top_token_frac`` (share of the single most frequent token),
    ``mean_word_len``. The repetition ratios are the standard
    boilerplate/spam detectors for pretraining corpora (Gopher,
    Rae et al. 2021 §A1.1 use the same family of filters).

    Per-row compute only (no shuffle): top_token_frac scans the token
    array once per distinct token — O(d*n) per document, which for
    natural documents (d ~ n) is the same order as tokenizing, and at
    100 TB stays embarrassingly parallel inside the scan stage.
    Ratios round to 6 dp for cross-engine determinism.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.size(toks).cast("double")
    distinct_n = F.size(F.array_distinct(toks)).cast("double")
    top_freq = F.array_max(F.transform(
        F.array_distinct(toks),
        lambda t: F.size(F.filter(toks, lambda x: x == t))))
    total_len = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, t: acc + F.length(t)).cast("double")
    return F.struct(
        F.size(toks).cast("long").alias("n_tokens"),
        F.when(n > 0, F.round(distinct_n / n, 6)).otherwise(F.lit(0.0))
         .alias("distinct_ratio"),
        F.when(n > 0, F.round(top_freq.cast("double") / n, 6))
         .otherwise(F.lit(0.0)).alias("top_token_frac"),
        F.when(n > 0, F.round(total_len / n, 6)).otherwise(F.lit(0.0))
         .alias("mean_word_len"),
    )


def gopher_pass(stats: Column) -> Column:
    """Boolean pretraining-quality gate over a ``repetition_stats``
    struct: token count in [20, 100000], mean word length in [2, 12],
    distinct-token ratio >= 0.2, top-token share <= 0.35 — the
    Gopher-rule shape with thresholds loose enough for short
    synthetic fixtures while still splitting the corpus."""
    return ((stats["n_tokens"] >= 20) & (stats["n_tokens"] <= 100000)
            & (stats["mean_word_len"] >= 2.0)
            & (stats["mean_word_len"] <= 12.0)
            & (stats["distinct_ratio"] >= 0.2)
            & (stats["top_token_frac"] <= 0.35))


#: PII redaction patterns, ordered (an email must be caught before
#: the bare-digit rules see its local part). Each regex is valid and
#: IDENTICAL in Java regex (Spark, JVM-side regexp_replace) and RE2
#: (DuckDB oracle): character classes, bounded repetition and \b
#: only — no lookarounds, no backreferences, nothing
#: dialect-divergent. At 100 TB this runs inside the scan stage's
#: codegen like every other text function (zero Python, zero
#: shuffle).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "[EMAIL]"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
     "[IP]"),
    ("phone", r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b", "[PHONE]"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    ("card", r"\b[0-9]{4}[ -][0-9]{4}[ -][0-9]{4}[ -][0-9]{4}\b",
     "[CARD]"),
)


def scrub_pii(col: Column | str) -> Column:
    """Redact PII spans in-place with typed placeholders. The
    pattern order is part of the contract: emails first (their local
    parts contain digit runs), then dotted-quad IPs (so phone-like
    fragments inside them can't fire), then phone/SSN/card digit
    shapes."""
    out = F.col(col) if isinstance(col, str) else col
    for _, pattern, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pattern, repl)
    return out


def pii_counts(col: Column | str) -> Column:
    """Struct of per-category redaction counts over the ORIGINAL
    text, mirroring scrub_pii's sequential semantics: each category
    is counted on the text with the previous categories already
    redacted, so overlapping shapes are attributed exactly once."""
    cur = F.col(col) if isinstance(col, str) else col
    fields = []
    for name, pattern, repl in PII_PATTERNS:
        fields.append(F.regexp_count(cur, F.lit(pattern))
                      .cast("long").alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pattern, repl)
    return F.struct(*fields)


#: HTML entity decode chain; `&amp;` is decoded LAST so that
#: double-encoded entities (`&amp;lt;`) decode exactly one level,
#: matching the behavior of a real single-pass entity decoder.
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&"),
)

# every pattern below is valid and identical in Java regex (Spark)
# and RE2 (DuckDB oracle): (?s) flag, non-greedy .*?, char classes —
# no lookarounds, no backreferences
_HTML_COMMENT = r"(?s)<!--.*?-->"
_HTML_BLOCKS = r"(?s)<(script|style)[^>]*>.*?</(script|style)>"
_HTML_TAG = r"<[^>]+>"


def html_to_text(col: Column | str) -> Column:
    """Crawl-grade HTML -> plain text: strip comments, script/style
    blocks (content included), and tags; decode the common entities;
    collapse whitespace. Pure JVM regexp chain — at 100 TB this runs
    inside the scan stage like the rest of the text layer. (A
    production pipeline may swap in a DOM-aware extractor; the
    operator contract — schema, per-row totality, zero shuffle —
    stays identical.)"""
    out = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(out, _HTML_COMMENT, " ")
    out = F.regexp_replace(out, _HTML_BLOCKS, " ")
    out = F.regexp_replace(out, _HTML_TAG, " ")
    for ent, repl in HTML_ENTITIES:
        out = F.regexp_replace(out, ent, repl)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def html_title(col: Column | str) -> Column:
    """<title> contents (first match, trimmed; empty when absent)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_extract(c, r"(?s)<title[^>]*>(.*?)</title>", 1))


def html_link_count(col: Column | str) -> Column:
    """Number of anchor tags — the numerator of the link-density
    boilerplate heuristic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"<a[\s>]")).cast("long")


def chunk_starts(col: Column | str, stride: int) -> Column:
    """Window start offsets 0, stride, 2*stride, ... < n_tokens for
    context-window chunking. Empty/null docs yield an empty array."""
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    toks = tokens(col)
    n = F.size(toks)
    return F.when(n > 0, F.sequence(
        F.lit(0), n - 1, F.lit(stride))).otherwise(
        F.array().cast("array<int>"))


def url_canonicalize(col: Column | str) -> Column:
    """Crawl-dedup URL canonicalization: lowercase scheme+host,
    strip the scheme's default port, drop the fragment and utm_*
    tracking params (keeping the remaining query order), and force a
    '/' path. Everything is regexp/array built-ins (RE2-and-Java-
    safe), so two crawls of the same page canonicalize to one key
    inside the scan stage."""
    u = F.col(col) if isinstance(col, str) else col
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.when(scheme == "https",
                  F.regexp_replace(hostport, ":443$", "")) \
            .when(scheme == "http",
                  F.regexp_replace(hostport, ":80$", "")) \
            .otherwise(hostport)
    path = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.when(path == "", "/").otherwise(path)
    q = F.regexp_extract(u, r"\?([^#]*)", 1)
    kept = F.filter(F.split(q, "&"),
                    lambda p: ~p.startswith("utm_") & (p != ""))
    qs = F.array_join(kept, "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(qs != "", F.concat(F.lit("?"), qs)).otherwise(F.lit("")))


def gram_hashes(col: Column | str, k: int = 3) -> Column:
    """Hashes of every overlapping k-token gram of the lowercased
    text: first 16 hex chars of md5 (strings, so "minimum" is
    lexicographic and identical in any engine with md5). Documents
    shorter than k tokens hash their full text as a single gram
    (mirroring word_shingles, so no document silently drops out)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")
    n = F.size(toks)
    gram_idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.transform(
        gram_idx,
        lambda i: F.substring(
            F.md5(F.concat_ws(" ", F.slice(toks, i, k))), 1, 16))


def winnow_fingerprint_rows(df, text_col: str = "text",
                            id_col: str = "doc_id", k: int = 3,
                            w: int = 4):
    """Winnowing document fingerprints (Schleimer et al., SIGMOD
    2003) as DISTINCT (id, n_grams, fp) rows: hash every overlapping
    k-token gram, keep the minimum hash of each w-gram window.
    Guarantee: two documents sharing any run of >= w + k - 1 tokens
    share at least one fingerprint.

    Deliberately relational, not a nested array expression: an
    all-expression form (transform over windows, each slicing a
    transform-built hash array) re-evaluates the ENTIRE gram-hash
    array inside every window lambda — Catalyst does no common-
    subexpression elimination across higher-order-function lambda
    invocations — turning O(n) md5 work into O(n^2) per document
    (measured: a 15x-data sweep ran minutes instead of seconds).
    Here the gram hashes are exploded ONCE in the scan stage and the
    window minima come from a per-document ordered window frame, so
    each hash is computed exactly once. Cost at 100 TB: one exchange
    of (id, 16-hex) gram rows for the per-document sort — the same
    width the fingerprint shuffle needs anyway."""
    from pyspark.sql import Window

    g = df.select(F.col(id_col),
                  F.posexplode(gram_hashes(text_col, k))
                   .alias("__gi", "__h"))
    per_doc = Window.partitionBy(id_col)
    frame = (Window.partitionBy(id_col).orderBy("__gi")
             .rowsBetween(0, w - 1))
    return (g.withColumn("n_grams", F.count(F.lit(1)).over(per_doc))
             .withColumn("fp", F.min("__h").over(frame))
             .filter(F.col("__gi")
                     <= F.greatest(F.col("n_grams") - w, F.lit(0)))
             .select(id_col, "n_grams", "fp")
             .distinct())


def winnow_fingerprint_rows_arrow(df, text_col: str = "text",
                                  id_col: str = "doc_id", k: int = 3,
                                  w: int = 4):
    """Arrow-batched twin of `winnow_fingerprint_rows`: identical
    (id, n_grams, fp) output (the relational form above IS the spec
    and stays the oracle surface; a parity test pins row equality),
    with the md5-per-gram work moved from JVM expressions into one
    `mapInPandas` pass — the same shape that bought minhash ~3x.

    Why it wins: the relational plan mints every gram hash in the
    scan stage but then EXCHANGES all (id, gram-hash) rows for the
    per-document window frame. Here the whole derivation — tokenize,
    gram, hash, sliding min (O(n) monotonic deque), per-doc distinct
    — happens inside the narrow map, so NOTHING shuffles until the
    downstream fp aggregation, and the rows that do shuffle are the
    already-winnowed fingerprints (~1/w of the gram count).
    Tokenization matches the relational form's Java regex semantics
    (`\\s` = ASCII [ \\t\\n\\x0b\\f\\r]) byte for byte."""
    import hashlib
    import re
    from collections import deque
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql import types as T

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    out_schema = T.StructType([
        df.schema[id_col],
        T.StructField("n_grams", T.LongType()),
        T.StructField("fp", T.StringType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids_out: list = []
            ng_out: list = []
            fp_out: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                toks = [t for t in ws.split((text or "").lower()) if t]
                n = len(toks)
                if n >= k:
                    grams = [" ".join(toks[i:i + k])
                             for i in range(n - k + 1)]
                else:
                    grams = [" ".join(toks)]
                hs = [hashlib.md5(g.encode()).hexdigest()[:16]
                      for g in grams]
                ng = len(hs)
                if ng <= w:
                    fps = {min(hs)}
                else:
                    # O(n) sliding minimum: monotonic index deque
                    fps = set()
                    dq: deque = deque()
                    for i, h in enumerate(hs):
                        while dq and hs[dq[-1]] >= h:
                            dq.pop()
                        dq.append(i)
                        if dq[0] <= i - w:
                            dq.popleft()
                        if i >= w - 1:
                            fps.add(hs[dq[0]])
                for fp in fps:
                    ids_out.append(did)
                    ng_out.append(ng)
                    fp_out.append(fp)
            yield pd.DataFrame({id_col: ids_out, "n_grams": ng_out,
                                "fp": fp_out})

    return df.select(id_col, text_col).mapInPandas(run, out_schema)
