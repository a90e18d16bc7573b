"""Source/sink breadth: format roundtrips, partitioned writes with
partition pruning, corrupt-input tolerance in the CDC decoder.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_precisely_demo_spark.schemas import ORDERS_PAYLOAD
from flink_precisely_demo_spark.sources.cdc_json import (
    decode_envelope,
    synthesize_orders_envelope,
)
from flink_precisely_demo_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_format_roundtrips(spark, tmp_path):
    ev = load_table(spark, SF, "events").select(
        "event_id", "user_id", "event_type", "value")
    n = ev.count()
    for fmt in ("parquet", "json", "csv", "orc"):
        path = str(tmp_path / fmt)
        w = ev.write.mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        w.format(fmt).save(path)
        r = spark.read.format(fmt)
        if fmt == "csv":
            r = r.option("header", "true").schema(
                "event_id long, user_id long, event_type string, value double")
        elif fmt == "json":
            r = r.schema("event_id long, user_id long, event_type string, value double")
        back = r.load(path)
        assert back.count() == n, fmt
        total_a = ev.agg(F.sum("event_id")).first()[0]
        total_b = back.agg(F.sum("event_id")).first()[0]
        assert total_a == total_b, fmt


def test_partitioned_write_prunes(spark, tmp_path):
    ev = load_table(spark, SF, "events")
    out = str(tmp_path / "by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = _physical(back)
    # partition filter reaches the scan; only the click directory is read
    assert "PartitionFilters: [isnotnull(event_type" in plan
    clicks = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == clicks


def test_decode_envelope_tolerates_corrupt_lines(spark):
    good = synthesize_orders_envelope(
        load_table(spark, SF, "orders").limit(3))
    corrupt = spark.createDataFrame(
        [("{not json",), ("",), ('{"sv_manip_type": "I"}',)], ["value"])
    env = decode_envelope(good.unionByName(corrupt), ORDERS_PAYLOAD)
    rows = env.collect()
    assert len(rows) == 6  # corrupt lines become null-field rows, not crashes
    ok = [r for r in rows if r["after_image"] is not None]
    assert len(ok) == 3
    partial = [r for r in rows if r["sv_manip_type"] == "I"
               and r["after_image"] is None]
    assert len(partial) == 1  # schema-valid but payload-less record survives


def test_compacted_write_controls_file_count(spark, tmp_path):
    """Small-file control: coalesce on write — the lakehouse hygiene
    knob for 100 TB outputs (many tiny files kill the next scan)."""
    ev = load_table(spark, SF, "events").repartition(16)
    out = str(tmp_path / "compact")
    ev.coalesce(2).write.mode("overwrite").parquet(out)
    import glob
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 2


def test_fixtures_rebuild_when_source_changes(spark, tmp_path):
    """Every staged fixture is keyed by its source's bytes: after
    ``orders`` and ``documents`` are rewritten with the same row
    counts, the reference feed, an index fixture and a corpus copy
    each rebuild from the new content, at new paths, so nothing of
    the old build (generations, deltas, companions) is served, and
    the old build is removed when the new one publishes. A
    fixture whose dir was removed is rebuilt, not served from the
    per-process memo."""
    import glob
    import os
    import shutil
    import tempfile

    from flink_precisely_demo_spark.operators.lsm import index_ok
    from flink_precisely_demo_spark.plans import crawl_queries as cq
    from flink_precisely_demo_spark.plans import reference_sql as rs
    from flink_precisely_demo_spark.plans.dedup_queries import (
        _band_index_path)
    from flink_precisely_demo_spark.plans.queries import fixture_path

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("nation", "customer", "orders", "documents"):
        shutil.copy(f"{SF}/{t}.parquet", f"{sf}/{t}.parquet")

    def build_all():
        return (rs.materialize_reference_feed(spark, sf),
                _band_index_path(spark, sf),
                cq._roundtrip_corpus_dir(spark, sf))

    def feed_lines(feed):
        return {r["value"] for r in
                spark.read.text(os.path.join(feed, "orders")).collect()}

    def corpus_lines(corpus):
        return {r["value"] for r in spark.read.text(corpus).collect()}

    def rewrite(table, col, expr):
        new = load_table(spark, sf, table).withColumn(col, expr)
        new.toPandas().to_parquet(f"{sf}/{table}.parquet.new")
        os.replace(f"{sf}/{table}.parquet.new", f"{sf}/{table}.parquet")

    # "_<slug>" of every fixture of this sf_dir, whatever its digest
    slug = os.path.basename(fixture_path("", sf)).rsplit("_", 1)[0]
    try:
        first = build_all()
        old_feed, old_corpus = feed_lines(first[0]), corpus_lines(first[2])

        # a removed fixture is rebuilt at the same path, not served
        shutil.rmtree(first[2])
        assert cq._roundtrip_corpus_dir(spark, sf) == first[2]
        assert index_ok(first[2]) and corpus_lines(first[2]) == old_corpus

        rewrite("orders", "o_totalprice", F.col("o_totalprice") + 1.0)
        rewrite("documents", "text", F.concat("text", F.lit(" again")))
        second = build_all()
        for old, new in zip(first, second):
            assert new != old and index_ok(new), (old, new)
            # publishing the new build reaps the superseded one
            assert not glob.glob(old + "*"), old
        new_feed, new_corpus = feed_lines(second[0]), corpus_lines(second[2])
        assert new_feed != old_feed and len(new_feed) == len(old_feed)
        assert new_corpus != old_corpus
        assert len(new_corpus) == len(old_corpus)
    finally:
        for d in glob.glob(os.path.join(tempfile.gettempdir(),
                                        f"*{slug}_*")):
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
            else:
                os.remove(d)


def test_reused_fixture_reaps_superseded_builds(tmp_path, monkeypatch):
    """The first use of a complete build in a process removes the other
    builds of its fixture and ``sf_dir`` (a digest-less build, a build
    of another digest and that build's companion), not only a publish
    does."""
    import glob
    import os
    import shutil

    from flink_precisely_demo_spark.operators.lsm import index_ok
    from flink_precisely_demo_spark.plans import queries

    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"source")
    builds = []

    def build(stage):
        builds.append(stage)
        os.makedirs(stage)
        open(os.path.join(stage, "part"), "w").close()

    path = queries.staged_fixture("reap_probe", str(sf), index_ok, build)
    stem = path.rsplit("_", 1)[0]
    try:
        other = f"{stem}_{'0' * 12}"
        assert other != path
        planted = [stem, other, f"{other}.applied.json"]
        os.makedirs(stem)
        os.makedirs(other)
        open(planted[2], "w").close()
        monkeypatch.setattr(queries, "_FIXTURES", set())  # a new process
        assert queries.staged_fixture(
            "reap_probe", str(sf), index_ok, build) == path
        assert len(builds) == 1, "a complete build is reused, not rebuilt"
        assert index_ok(path)
        assert [p for p in planted if os.path.exists(p)] == []
    finally:
        for p in glob.glob(stem + "*"):
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                os.remove(p)


def test_decode_envelope_schema_evolution(spark):
    """Producer-side schema drift must never crash the consumer:
    - a NEW field the producer added (unknown to our declared
      schema) is ignored — from_json drops it;
    - a field the producer STOPPED sending arrives as null;
    - a producer-side TYPE change (int sent as JSON string) nulls
      that field — from_json does not coerce across JSON types, so
      the drift surfaces as missing data, never a wrong value.
    This is the declared-schema contract (schemas.py: never
    inferred): the pipeline's schema is the consumer's, and producer
    evolution shows up as nulls/ignored extras — measured in data,
    not as job aborts."""
    import json

    base = {
        "sv_manip_type": "I",
        "sv_trans_timestamp": "2020-01-02 03:04:05.000000",
        "after_image": {
            "SalesOrderId": 1, "OrderDate": "2020-01-01",
            "DueDate": "2020-01-08", "ShipDate": "2020-01-03",
            "Status": 5, "ShipToAddressId": 9, "SubTotal": 10.5,
            "TaxAmt": 1.0, "Freight": 0.5, "TotalDue": 12.0,
            "BRAND_NEW_PRODUCER_FIELD": "ignore me",   # added upstream
        },
        "COMPLETELY_NEW_TOP_LEVEL": {"a": 1},          # added upstream
    }
    missing = {
        "sv_manip_type": "U",
        # type drift (int sent as JSON string) + every other payload
        # field absent
        "after_image": {"SalesOrderId": "7", "TotalDue": 9.5},
    }
    raw = spark.createDataFrame(
        [(json.dumps(base),), (json.dumps(missing),)], ["value"])
    rows = {r["sv_manip_type"]: r
            for r in decode_envelope(raw, ORDERS_PAYLOAD).collect()}
    assert rows["I"]["after_image"]["SalesOrderId"] == 1
    assert rows["I"]["after_image"]["TotalDue"] == 12.0
    assert "BRAND_NEW_PRODUCER_FIELD" not in rows["I"]["after_image"]
    # the type-drifted field nulls; the well-typed sibling survives
    assert rows["U"]["after_image"]["SalesOrderId"] is None
    assert rows["U"]["after_image"]["TotalDue"] == 9.5
    assert rows["U"]["after_image"]["SubTotal"] is None    # stopped field
    assert rows["U"]["sv_trans_timestamp"] is None


def test_warc_parse_framing_and_gzip_members():
    """ISO 28500 framing: plain and per-record-gzip round trips,
    HTTP response splitting, and junk tolerance (bad segments are
    counted, records after a resync still parse)."""
    from flink_precisely_demo_spark.sources.warc import (
        parse_http_response,
        parse_warc,
        split_gzip_members,
        write_warc,
    )

    body = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\nhello"
    recs = [{"warc_type": "warcinfo", "payload": b"software: x\r\n"},
            {"warc_type": "response",
             "target_uri": "https://e.com/1", "payload": body},
            {"warc_type": "response",
             "target_uri": "https://e.com/2", "payload": body}]
    for gz in (False, True):
        blob = write_warc(recs, gzip_members=gz)
        if gz:
            assert len(split_gzip_members(blob)) == 3
        parsed, n_bad = parse_warc(blob)
        assert n_bad == 0
        assert [r["warc_type"] for r in parsed] == \
            ["warcinfo", "response", "response"]
        assert parsed[1]["target_uri"] == "https://e.com/1"
        status, got = parse_http_response(parsed[1]["payload"])
        assert (status, got) == (200, b"hello")
    # junk between records: counted as a bad segment, then resync
    blob = write_warc(recs[:1]) + b"JUNKJUNK" + write_warc(recs[1:2])
    parsed, n_bad = parse_warc(blob)
    assert [r["warc_type"] for r in parsed] == ["warcinfo", "response"]
    assert n_bad == 1
    # truncated record body: bad, no crash
    short = write_warc(recs[1:2])[:-10]
    parsed, n_bad = parse_warc(short)
    assert parsed == [] and n_bad == 1
    # truncated gzip member raises the typed error (caught per row
    # by the operator)
    gz = write_warc(recs[:1], gzip_members=True)
    import pytest as _pytest
    with _pytest.raises(ValueError):
        split_gzip_members(gz[:-4])


def test_warc_records_operator_per_row_errors(spark):
    """One corrupt WARC payload yields an error row while the good
    payload in the same job parses fully."""
    from flink_precisely_demo_spark.sources.warc import (
        warc_records,
        write_warc,
    )

    good = write_warc([
        {"warc_type": "response", "target_uri": "https://e.com/a",
         "payload": b"HTTP/1.1 404 NF\r\n\r\ngone"}], gzip_members=True)
    rows = [(1, bytearray(good)),
            (2, bytearray(b"\x1f\x8b\x08trunc"))]
    out = warc_records(spark.createDataFrame(
        rows, "media_id long, payload binary")).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["media_id"], []).append(r)
    assert by_id[1][0]["http_status"] == 404
    assert by_id[1][0]["body_bytes"] == 4
    assert by_id[1][0]["error"] is None
    assert by_id[2][0]["error"] is not None


def test_warc_zero_record_payload_emits_typed_row(spark):
    """A payload that parses to ZERO records (e.g. plain garbage —
    parse_warc returns ([], n_bad>=1) without raising) must still
    produce one output row carrying the bad-segment count: files
    never vanish silently from crawl accounting (r7 advisory)."""
    from flink_precisely_demo_spark.sources.warc import warc_records

    rows = [(7, bytearray(b"this is not a WARC file at all"))]
    out = warc_records(spark.createDataFrame(
        rows, "media_id long, payload binary")).collect()
    assert len(out) == 1
    r = out[0]
    assert r["media_id"] == 7
    assert r["error"] == "NoRecordsParsed"
    assert r["n_bad_segments"] >= 1
    assert r["rec_idx"] is None and r["body_md5"] is None


def test_warc_gzip_bomb_is_a_typed_bounded_error():
    """A gzip member inflating past the cap raises ValueError from
    chunked decompression — the bomb never fully materializes in
    memory (r7 advisory: adversarial crawl input)."""
    import zlib

    import pytest as _pytest

    from flink_precisely_demo_spark.sources.warc import (
        split_gzip_members,
    )

    c = zlib.compressobj(wbits=31)
    bomb = c.compress(b"\x00" * (4 << 20)) + c.flush()  # 4 MiB -> ~4 KiB
    with _pytest.raises(ValueError, match="decompressed bytes"):
        split_gzip_members(bomb, max_member_bytes=1 << 20)
    # under the cap the same member splits fine
    (member,) = split_gzip_members(bomb, max_member_bytes=8 << 20)
    assert len(member) == 4 << 20


def test_jsonl_corrupt_lines_preserve_raw_text(spark, tmp_path):
    """PERMISSIVE JSONL read: malformed lines yield NULL fields plus
    the verbatim raw line in _corrupt; valid rows parse losslessly."""
    from flink_precisely_demo_spark.sources.jsonl import (
        CORRUPT_COL,
        read_jsonl_corpus,
    )

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "a.jsonl").write_text(
        '{"doc_id": 7, "text": "ok doc", "n_chars": 6}\n'
        '{"doc_id": 8, "text": bad\n'
        "garbage line\n")
    df = read_jsonl_corpus(spark, str(p),
                           "doc_id long, text string, n_chars long")
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[7]["text"] == "ok doc" and rows[7][CORRUPT_COL] is None
    bad = [r for r in df.collect() if r[CORRUPT_COL] is not None]
    assert sorted(r[CORRUPT_COL] for r in bad) == [
        "garbage line", '{"doc_id": 8, "text": bad']
    assert all(r["doc_id"] is None for r in bad)


def test_jsonl_roundtrip_corpus_copy_is_session_cached(spark):
    """Repeated invocations reuse ONE corpus copy per sf_dir (a staged
    fixture, also across processes) instead of writing (and deleting)
    a fresh copy each call; rows stay identical either way."""
    import os

    from flink_precisely_demo_spark.plans import crawl_queries as cq
    from flink_precisely_demo_spark.plans.queries import QUERIES

    def inventory(d):
        return sorted((f, os.stat(os.path.join(d, f)).st_mtime_ns)
                      for f in os.listdir(d))

    fn = QUERIES["jsonl_corpus_roundtrip"]
    r1 = {tuple(r) for r in fn(spark, SF).collect()}
    d1 = cq._roundtrip_corpus_dir(spark, SF)
    inv = inventory(d1)
    r2 = {tuple(r) for r in fn(spark, SF).collect()}
    assert r1 == r2
    assert cq._roundtrip_corpus_dir(spark, SF) == d1
    assert inventory(d1) == inv, "second call must reuse the copy"
    # distinct sf_dirs get distinct copies
    assert cq._roundtrip_corpus_dir(spark, "/root/testdata/sf0.01") != d1


def test_plans_stage_derived_data_only_through_staged_fixture():
    """In plans/, only queries.py makes a temp path (fixture_path /
    staged_fixture); the private caches that staged_fixture replaced
    are defined nowhere in the package."""
    import ast
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "flink_precisely_demo_spark"
    for f in sorted((pkg / "plans").glob("*.py")):
        if f.name != "queries.py":
            src = f.read_text()
            assert not re.search(r"\b(gettempdir|mkdtemp|scratch_dir)\b",
                                 src), f.name
    gone = {"_validated_feeds", "_COPIES", "_process_copy",
            "_assign_to_cells", "_layout_valid"}
    for f in sorted(pkg.rglob("*.py")):
        defined = set()
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                defined.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
                defined |= {t.id for t in targets if isinstance(t, ast.Name)}
        assert not defined & gone, (f, defined & gone)


def test_orc_roundtrip_losslessness_and_pushdown(spark, tmp_path):
    """The ORC source/sink contract (sources/orc.py): write -> read
    under explicit schema is lossless for the corpus schema, and a
    comparison predicate reaches the ORC scan as a pushed filter."""
    import os
    import re

    from pyspark.sql import functions as F

    from flink_precisely_demo_spark.sources.orc import (
        read_orc_corpus,
        write_orc_corpus,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta", "en", 10), (2, "gamma", "de", 5),
         (3, None, "en", 0)],
        "doc_id long, text string, lang string, n_chars long")
    path = os.path.join(str(tmp_path), "orc")
    write_orc_corpus(df, path)
    back = read_orc_corpus(
        spark, path, "doc_id long, text string, lang string, n_chars long")
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, df.collect()))

    filtered = back.filter(F.col("n_chars") > 4)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedFilters: \[[^\]]*GreaterThan\(n_chars,4\)", plan)
    assert m, f"ORC pushdown missing: {plan[:500]}"


# The envelope JSON of the first ``orders`` and ``documents`` rows of
# sf0.001: the encoder's output, byte for byte.
_ORDERS_ENVELOPE = (
    '{"sv_manip_type":"I","sv_trans_id":0,"sv_trans_row_seq":1,'
    '"sv_sending_table":"SALES.ORDERS",'
    '"sv_trans_timestamp":"19970115000000000000",'
    '"sv_trans_username":"cdcuser","sv_program_name":"demo",'
    '"sv_job_name":"job","sv_job_user":"juser","sv_job_number":"1",'
    '"sv_op_timestamp":"19970115000000000000","sv_file_member":"m",'
    '"sv_receiver_library":"lib","sv_receiver_name":"recv",'
    '"sv_journal_seqno":"0","after_image":{"SalesOrderId":0,'
    '"OrderDate":"19970115000000000000","DueDate":"19970115000000000000",'
    '"ShipDate":"19970115000000000000","Status":5,"ShipToAddressId":85,'
    '"SubTotal":144449.04,"TaxAmt":0.0,"Freight":0.0,'
    '"TotalDue":144449.04}}')
_DOCS_ENVELOPE = (
    '{"sv_manip_type":"I","sv_trans_id":0,"sv_trans_row_seq":1,'
    '"sv_sending_table":"CRAWL.DOCUMENTS",'
    '"sv_trans_timestamp":"20240101000000.000001",'
    '"sv_trans_username":"cdcuser","sv_program_name":"demo",'
    '"sv_job_name":"job","sv_job_user":"juser","sv_job_number":"1",'
    '"sv_op_timestamp":"20240101000000.000001","sv_file_member":"m",'
    '"sv_receiver_library":"lib","sv_receiver_name":"recv",'
    '"sv_journal_seqno":"0","after_image":{"doc_id":0,'
    '"text":"the fast key order sort table scan merge part window small '
    'hash scan join order batch batch batch stream spark window window '
    'dup"}}')


def test_envelope_json_is_pinned(spark):
    from flink_precisely_demo_spark.streaming.corpus_pipeline import (
        synthesize_documents_envelope)

    orders = load_table(spark, SF, "orders").orderBy("o_orderkey").limit(1)
    docs = load_table(spark, SF, "documents").select(
        "doc_id", "text").orderBy("doc_id").limit(1)
    assert synthesize_orders_envelope(orders).first()["value"] \
        == _ORDERS_ENVELOPE
    assert synthesize_documents_envelope(docs).first()["value"] \
        == _DOCS_ENVELOPE


def test_reference_rules_have_one_owner():
    """One envelope encoder, one latest-per-key, one output.sql tail:
    outside sources/cdc_json.py no module names a column after an
    envelope field, ``latest_per_key`` is defined once, and only
    operators/windowed_agg.py windows on ``OrderAsOf``."""
    import ast
    import pathlib

    import flink_precisely_demo_spark

    pkg = pathlib.Path(flink_precisely_demo_spark.__file__).parent
    sv_names, latest_defs, order_windows = set(), [], set()
    for path in sorted(pkg.rglob("*.py")):
        rel = str(path.relative_to(pkg))
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.FunctionDef)
                    and node.name == "latest_per_key"):
                latest_defs.append(rel)
            if not isinstance(node, ast.Call):
                continue
            fn = getattr(node.func, "attr", getattr(node.func, "id", None))
            args = [a.value for a in node.args
                    if isinstance(a, ast.Constant)]
            names = args + [k.arg for k in node.keywords]
            if (fn in ("alias", "withColumn", "withColumnRenamed", "update")
                    and any(str(a).startswith("sv_") for a in names)):
                sv_names.add(rel)
            if fn in ("window", "tumbling_window_agg") and "OrderAsOf" in args:
                order_windows.add(rel)
    assert sv_names <= {"sources/cdc_json.py"}, sv_names
    assert latest_defs == ["operators/enrichment_join.py"], latest_defs
    assert order_windows == {"operators/windowed_agg.py"}, order_windows
