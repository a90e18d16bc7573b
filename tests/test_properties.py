"""Property-based differential tests (hypothesis): the operators whose
correctness depends on ORDERING and MERGE rules are checked against
independent pure-Python references over randomized inputs — a
different axis than the DuckDB oracles (which use fixed datasets)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from flink_precisely_demo_spark.operators.cdc_apply import apply_cdc_snapshot
from flink_precisely_demo_spark.operators.curation import hash_bucket

# --- CDC snapshot vs a pure-Python fold ------------------------------

ops = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),          # key
        st.sampled_from(["I", "U", "D"]),               # manip
        st.integers(min_value=0, max_value=3),          # ts bucket
        st.floats(min_value=0, max_value=1000,
                  allow_nan=False, allow_infinity=False),
    ),
    min_size=1, max_size=40)


def _python_fold(rows):
    """Reference: per key, the (ts, trans_id, row_seq)-max row wins;
    D removes the key."""
    latest = {}
    for trans_id, (key, manip, ts, val) in enumerate(rows):
        cur = latest.get(key)
        sort_key = (ts, trans_id, 1)
        if cur is None or sort_key > cur[0]:
            latest[key] = (sort_key, manip, val)
    return {k: round(v, 6) for k, (_, manip, v) in latest.items()
            if manip != "D"}


@settings(max_examples=12, deadline=None)
@given(rows=ops)
def test_cdc_snapshot_matches_python_fold(spark, rows):
    data = [
        (manip, trans_id, 1, f"2024-01-0{ts + 1} 00:00:00.000000",
         {"SalesOrderId": key, "TotalDue": float(val), "Status": 5})
        for trans_id, (key, manip, ts, val) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data,
        "sv_manip_type string, sv_trans_id long, sv_trans_row_seq int,"
        "sv_op_timestamp string,"
        "after_image struct<SalesOrderId:int, TotalDue:double, Status:int>")
    got = {r["SalesOrderId"]: round(r["TotalDue"], 6)
           for r in apply_cdc_snapshot(df, "SalesOrderId").collect()}
    assert got == _python_fold(rows)


# --- hash bucket invariants ------------------------------------------

@settings(max_examples=8, deadline=None)
@given(keys=st.lists(st.integers(min_value=0, max_value=10**9),
                     min_size=1, max_size=50, unique=True),
       salt=st.sampled_from(["", "a", "split"]))
def test_hash_bucket_range_and_determinism(spark, keys, salt):
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out1 = {r["k"]: r["b"] for r in
            df.select("k", hash_bucket(F.col("k"), salt).alias("b")).collect()}
    out2 = {r["k"]: r["b"] for r in
            df.select("k", hash_bucket(F.col("k"), salt).alias("b")).collect()}
    assert out1 == out2
    assert all(0 <= b < 100 for b in out1.values())


def test_hash_bucket_is_roughly_uniform(spark):
    df = spark.range(20000).select(
        hash_bucket(F.col("id")).alias("b"))
    counts = {r["b"]: r["n"] for r in
              df.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == set(range(100))
    # each bucket within 3x of fair share (loose: binomial tails)
    assert all(60 < n < 600 for n in counts.values()), sorted(counts.values())[:3]


# ------------------------------------------------ TUMBLE dialect shim

_UNITS = {"SECOND": "seconds", "MINUTE": "minutes",
          "HOUR": "hours", "DAY": "days"}


def _mixed_case(s: str, pattern: int) -> str:
    return "".join(c.lower() if (pattern >> (i % 8)) & 1 else c.upper()
                   for i, c in enumerate(s))


@given(
    col=st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True),
    n=st.integers(min_value=1, max_value=9999),
    unit=st.sampled_from(sorted(_UNITS)),
    fn=st.sampled_from(["TUMBLE", "TUMBLE_START", "TUMBLE_END"]),
    case=st.integers(min_value=0, max_value=255),
    spaces=st.sampled_from(["", " ", "  "]),
)
@settings(max_examples=200, deadline=None)
def test_tumble_shim_grammar(col, n, unit, fn, case, spaces):
    """Every utterance of the supported grammar — any unit, any
    keyword casing, any padding, TUMBLE/_START/_END — translates to
    the matching window() expression, and surrounding text is
    untouched."""
    from flink_precisely_demo_spark.plans.reference_sql import (
        translate_flink_tumble,
    )
    src = (f"SELECT {_mixed_case(fn, case)}({spaces}{col},{spaces}"
           f"{_mixed_case('INTERVAL', case)} '{n}'{spaces}"
           f"{_mixed_case(unit, case)}{spaces}) AS w FROM t")
    out = translate_flink_tumble(src)
    expected = f"window({col}, '{n} {_UNITS[unit]}')"
    expected += {"TUMBLE": "", "TUMBLE_START": ".start",
                 "TUMBLE_END": ".end"}[fn]
    assert out == f"SELECT {expected} AS w FROM t"


def test_tumble_shim_multi_window_and_reference_text():
    from flink_precisely_demo_spark.plans.reference_sql import (
        REFERENCE_OUTPUT_SQL,
        translate_flink_tumble,
    )
    multi = ("SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) a, "
             "TUMBLE_END(ts, INTERVAL '1' HOUR) b, count(*) "
             "FROM t GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")
    out = translate_flink_tumble(multi)
    assert out == ("SELECT window(ts, '1 hours').start a, "
                   "window(ts, '1 hours').end b, count(*) "
                   "FROM t GROUP BY window(ts, '1 hours')")
    # the reference output.sql translates exactly as it did before
    ref = translate_flink_tumble(REFERENCE_OUTPUT_SQL)
    assert "window(OrderAsOf, '10 minutes').start as OrderPeriod" in ref
    assert ref.rstrip().endswith("window(OrderAsOf, '10 minutes')")
    assert "TUMBLE" not in ref


def test_tumble_shim_output_runs_on_spark(spark):
    """A translated multi-unit query must actually execute."""
    from flink_precisely_demo_spark.plans.reference_sql import (
        translate_flink_tumble,
    )
    from flink_precisely_demo_spark.sources.parquet import load_table
    load_table(spark, "/root/testdata/sf0.001", "events") \
        .createOrReplaceTempView("ev_tumble")
    sql = ("SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) h, "
           "TUMBLE_END(ts, INTERVAL '1' HOUR) e, count(*) n "
           "FROM ev_tumble GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")
    rows = spark.sql(translate_flink_tumble(sql)).collect()
    assert rows and all(r.n > 0 for r in rows)


@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40),
                   min_size=1, max_size=5),
    pct=st.integers(min_value=1, max_value=99),
)
@settings(max_examples=20, deadline=None)
def test_stratified_sample_quota_property(spark, sizes, pct):
    """For ANY group structure and pct, every stratum yields exactly
    ceil(pct/100 * size) rows, and the selection is a deterministic
    function of the keys (re-run -> identical ids)."""
    import math

    from flink_precisely_demo_spark.operators.curation import (
        stratified_sample,
    )
    rows, k = [], 0
    for g, n in enumerate(sizes):
        for _ in range(n):
            rows.append((k, f"g{g}"))
            k += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    s = stratified_sample(df, ["lang"], "doc_id", pct)
    got = {r.lang: r.n for r in
           s.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == {f"g{g}": math.ceil(n * pct / 100.0)
                   for g, n in enumerate(sizes)}
    ids = sorted(r.doc_id for r in s.collect())
    again = sorted(r.doc_id for r in
                   stratified_sample(df, ["lang"], "doc_id", pct).collect())
    assert ids == again


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    quality=st.integers(min_value=50, max_value=98),
    sub=st.sampled_from(["4:4:4", "4:2:0"]),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=25, deadline=None)
def test_jpeg_roundtrip_property(h, w, quality, sub, seed):
    """ANY image size (including 1x1 and non-multiple-of-8/16 dims),
    quality, and subsampling: encode->decode preserves shape exactly
    and pixel values within the quantization error bound."""
    import numpy as np

    from flink_precisely_demo_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    rng = np.random.default_rng(seed)
    # smooth field: quantization error stays small and boundable
    base = rng.integers(30, 220)
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack([(base + yy * 2) % 256, (base + xx * 2) % 256,
                    (base + yy + xx) % 256], axis=-1).astype(np.uint8)
    dec = decode_jpeg(encode_jpeg(img, quality=quality, subsampling=sub))
    assert dec.shape == (h, w, 3)
    err = np.abs(dec.astype(int) - img.astype(int)).mean()
    assert err < 30, (h, w, quality, sub, err)


@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    quality=st.integers(min_value=50, max_value=98),
    sub=st.sampled_from(["4:4:4", "4:2:0"]),
    successive=st.booleans(),
    gray=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_jpeg_progressive_matches_baseline_property(h, w, quality, sub,
                                                    successive, gray,
                                                    seed):
    """ANY image, quality, subsampling and scan script: the
    progressive (SOF2) encoding decodes to pixels BIT-IDENTICAL to
    the baseline encoding of the same image — both carry the same
    quantized coefficients, entropy coding is lossless, so spectral
    selection, successive approximation (DC/AC refinement), and EOB
    runs must reconstruct exactly, not approximately."""
    import numpy as np

    from flink_precisely_demo_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )
    rng = np.random.default_rng(seed)
    if gray:
        img = rng.integers(0, 256, (h, w), dtype=np.uint8)
        sub = "4:4:4"
    else:
        # full-range noise: maximal AC activity, stresses refinement
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=quality,
                                   subsampling=sub))
    prog = decode_jpeg(encode_jpeg_progressive(
        img, quality=quality, subsampling=sub, successive=successive))
    assert np.array_equal(base, prog)


def test_jpeg_progressive_eob_runs_span_blocks():
    """A constant image makes every AC band empty: the encoder folds
    all blocks into multi-block EOB runs (EOBn with extension bits)
    and the decoder must count them down across block boundaries."""
    import numpy as np

    from flink_precisely_demo_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
        encode_jpeg_progressive,
    )
    img = np.full((128, 96, 3), 203, dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(img, quality=85))
    for successive in (False, True):
        prog = decode_jpeg(encode_jpeg_progressive(
            img, quality=85, successive=successive))
        assert np.array_equal(base, prog)


@given(data=st.binary(min_size=0, max_size=400),
       prefix=st.sampled_from([b"", b"\xff\xd8", b"\xff\xd8\xff\xe0"]))
@settings(max_examples=50, deadline=None)
def test_jpeg_garbage_never_hangs_or_segfaults(data, prefix):
    """Arbitrary bytes (optionally with a valid SOI) must raise a
    clean ValueError/UnsupportedCodecError — the per-row error
    contract of the feature operators depends on decode failures
    being ordinary exceptions."""
    import pytest as _pytest

    from flink_precisely_demo_spark.operators.jpeg import decode_jpeg
    with _pytest.raises(ValueError):
        decode_jpeg(prefix + data)


@given(frames=st.integers(min_value=1, max_value=8),
       fps=st.sampled_from([5.0, 24.0, 25.0, 30.0]))
@settings(max_examples=10, deadline=None)
def test_avi_container_roundtrip_property(frames, fps):
    """Container mux->demux is byte-exact for any frame count/fps."""
    from flink_precisely_demo_spark.operators.avi import (
        demux_mjpeg_avi,
        mux_mjpeg_avi,
    )
    payloads = [bytes([i] * (10 + i * 7)) for i in range(frames)]
    out, got_fps = demux_mjpeg_avi(mux_mjpeg_avi(payloads, fps=fps))
    assert out == payloads
    assert abs(got_fps - fps) < 0.05


@given(
    h=st.integers(min_value=1, max_value=20),
    w=st.integers(min_value=1, max_value=20),
    ch=st.sampled_from([1, 3, 4]),
    f=st.integers(min_value=0, max_value=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_png_lossless_roundtrip_property(h, w, ch, f, seed):
    """ANY size, channel count, filter type, and pixel content:
    encode->decode is byte-exact on the carried channels (PNG is
    lossless; alpha is dropped by contract)."""
    import numpy as np

    from flink_precisely_demo_spark.operators.png import (
        decode_png,
        encode_png,
    )
    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, ch) if ch > 1 else (h, w),
                       dtype=np.uint8)
    dec = decode_png(encode_png(img, filter_type=f))
    assert dec.shape == (h, w, 3)
    if ch == 1:
        assert np.array_equal(dec[..., 0], img)
    else:
        assert np.array_equal(dec, img[..., :3])


@given(
    h=st.integers(min_value=1, max_value=25),
    w=st.integers(min_value=1, max_value=25),
    ncolors=st.integers(min_value=1, max_value=256),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=30, deadline=None)
def test_gif_lossless_roundtrip_property(h, w, ncolors, seed):
    """ANY size and palette cardinality round-trips pixel-exact
    through real LZW (including code-width growth boundaries)."""
    import numpy as np

    from flink_precisely_demo_spark.operators.gif import (
        decode_gif,
        encode_gif,
    )
    rng = np.random.default_rng(seed)
    palette = rng.integers(0, 256, (ncolors, 3), dtype=np.uint8)
    img = palette[rng.integers(0, ncolors, (h, w))]
    assert np.array_equal(decode_gif(encode_gif(img)), img)


@given(data=st.binary(min_size=0, max_size=300),
       prefix=st.sampled_from([b"", b"fLaC", b"GIF89a", b"II*\x00",
                               b"MM\x00*", b"\x89PNG\r\n\x1a\n",
                               b"RIFF\x20\x00\x00\x00AVI "]))
@settings(max_examples=60, deadline=None)
def test_all_codecs_reject_garbage_cleanly(data, prefix):
    """Arbitrary bytes behind any codec's own magic must raise a
    clean exception (never hang, never crash the interpreter) — the
    per-row error surface catches Exception, so anything
    Exception-derived is acceptable; what must NOT happen is a
    segfault or an unbounded loop."""
    import pytest as _pytest

    from flink_precisely_demo_spark.operators.avi import demux_mjpeg_avi
    from flink_precisely_demo_spark.operators.flac import decode_flac
    from flink_precisely_demo_spark.operators.gif import decode_gif
    from flink_precisely_demo_spark.operators.png import decode_png
    from flink_precisely_demo_spark.operators.tiff import decode_tiff

    payload = prefix + data
    for dec in (decode_flac, decode_gif, decode_png, decode_tiff,
                demux_mjpeg_avi):
        try:
            dec(payload)
        except Exception:
            pass        # any clean Exception is within contract


# --- streaming SCD2 vs a pure-Python interval fold -------------------

change_logs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),          # key
        st.sampled_from(["I", "U", "D"]),               # manip
        st.floats(min_value=0, max_value=500,
                  allow_nan=False, allow_infinity=False),  # value
    ),
    min_size=1, max_size=14)


def _python_scd2(rows):
    """Reference fold: per key in arrival order, any change closes
    the open version; D closes without reopening. Returns the set of
    closed versions (key, value, valid_from_idx, valid_to_idx)."""
    open_v: dict = {}
    closed = []
    for i, (k, m, v) in enumerate(rows):
        if k in open_v:
            ov, oi = open_v.pop(k)
            closed.append((k, ov, oi, i))
        if m != "D":
            open_v[k] = (round(v, 6), i)
    return set(closed), open_v


@settings(max_examples=8, deadline=None)
@given(change_logs)
def test_streaming_scd2_matches_python_fold(spark, tmp_path_factory, log):
    from pyspark.sql import functions as F

    from flink_precisely_demo_spark.streaming.replay_stage import (
        open_feed,
        stage_feed,
    )
    from flink_precisely_demo_spark.streaming.scd2 import scd2_stream

    tmp = tmp_path_factory.mktemp("scd2_prop")
    # one change per second keeps (ts, trans_id) strictly increasing;
    # split the log across two triggers (per-key log order across
    # triggers is the operator's documented contract)
    def ts(i):
        return f"2021-01-01T00:{i // 60:02d}:{i % 60:02d}"

    half = max(1, len(log) // 2)
    rows = [(k, m, ts(i), round(v, 6), i, 1, int(i >= half))
            for i, (k, m, v) in enumerate(log)]
    changes = spark.createDataFrame(
        rows, "key long, m string, ts string, value double, "
              "trans_id long, row_seq int, b int") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    stream = open_feed(spark, stage_feed(changes, str(tmp), "changes", "b"))
    name = f"scd2_prop_{abs(hash(tuple(map(tuple, log)))) % 10**9}"
    q = (scd2_stream(stream).writeStream.format("memory")
         .queryName(name).trigger(availableNow=True).start())
    assert q.awaitTermination(180)

    got = {(r["key"], round(r["value"], 6),
            r["valid_from"].second + 60 * r["valid_from"].minute,
            r["valid_to"].second + 60 * r["valid_to"].minute)
           for r in spark.sql(f"SELECT * FROM {name}").collect()}
    expect_closed, _ = _python_scd2(log)
    assert got == expect_closed


@settings(max_examples=12, deadline=None)
@given(st.integers(1, 40), st.integers(1, 40), st.integers(0, 4),
       st.integers(0, 2**32 - 1))
def test_png_adam7_roundtrip(w, h, ft, seed):
    """Adam7-interlaced encode -> decode is identity for every
    filter type and shape (passes with zero dimension included)."""
    import numpy as np

    from flink_precisely_demo_spark.operators.png import (
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    enc = encode_png(img, filter_type=ft, interlace=True)
    assert np.array_equal(decode_png(enc), img)


# --- streaming sessionize _absorb vs a brute-force closure -----------

event_times = st.lists(st.integers(min_value=0, max_value=500),
                       min_size=1, max_size=40)


def _brute_sessions(times, gap):
    """Reference: connected components of the gap graph over the
    event MULTISET — sort, split where the gap exceeds `gap`."""
    ts = sorted(times)
    out, start, last, n = [], ts[0], ts[0], 1
    for t in ts[1:]:
        if t - last <= gap:
            last, n = t, n + 1
        else:
            out.append((start, last, n))
            start, last, n = t, t, 1
    out.append((start, last, n))
    return out


@given(times=event_times, order_seed=st.integers(0, 2**32 - 1),
       gap=st.integers(min_value=1, max_value=60))
@settings(max_examples=200, deadline=None)
def test_sessionize_absorb_is_arrival_order_independent(times, order_seed,
                                                        gap):
    import random

    from flink_precisely_demo_spark.streaming.sessionize import _absorb

    shuffled = list(times)
    random.Random(order_seed).shuffle(shuffled)
    sessions: list[list[int]] = []
    for t in shuffled:
        _absorb(sessions, t, gap)
    got = [(s[0], s[1], s[2]) for s in sorted(sessions)]
    assert got == _brute_sessions(times, gap)


# --- winnowing: the shared-run guarantee -----------------------------

words = st.lists(st.sampled_from("abcdefgh"), min_size=6, max_size=30)


@given(run=words, pre_a=words, pre_b=words)
@settings(max_examples=25, deadline=None)
def test_winnow_shared_run_forces_shared_fingerprint(spark, run, pre_a,
                                                     pre_b):
    """Schleimer et al.'s guarantee: two documents sharing any run of
    >= w + k - 1 = 6 tokens share at least one fingerprint."""
    from flink_precisely_demo_spark.functions.text import (
        winnow_fingerprint_rows,
    )

    doc_a = " ".join(pre_a + run)
    doc_b = " ".join(pre_b + run)
    df = spark.createDataFrame(
        [(0, doc_a), (1, doc_b)], "doc_id long, text string")
    rows = winnow_fingerprint_rows(df).collect()
    fps_a = {r["fp"] for r in rows if r["doc_id"] == 0}
    fps_b = {r["fp"] for r in rows if r["doc_id"] == 1}
    assert fps_a & fps_b, "shared 6-token run yielded no shared fp"


# --- passage hashing vs a pure-Python reference ----------------------

texts = st.lists(
    st.lists(st.sampled_from(["alpha", "beta", "gamma", "delta"]),
             min_size=0, max_size=25).map(" ".join),
    min_size=1, max_size=8)


@given(texts=texts)
@settings(max_examples=25, deadline=None)
def test_passage_hashes_match_python_reference(spark, texts):
    import hashlib

    from flink_precisely_demo_spark.operators.dedup import passage_hashes

    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = sorted((r["doc_id"], r["passage_hash"])
                 for r in passage_hashes(df).collect())
    want = []
    for i, t in enumerate(texts):
        toks = [w for w in t.lower().split() if w]
        for j in range(0, len(toks), 8):
            p = " ".join(toks[j:j + 8])
            want.append((i, hashlib.md5(p.encode()).hexdigest()[:16]))
    assert got == sorted(want)
