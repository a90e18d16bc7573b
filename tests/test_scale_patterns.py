"""Scale-pattern tests: the mechanisms that matter at 100 TB,
verified on small data by inspecting plans and equivalence.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_precisely_demo_spark.operators.skew import (
    hot_keys,
    salted_broadcast_left,
    salted_grouped_agg,
)
from flink_precisely_demo_spark.operators.windowed_agg import sum_exact
from flink_precisely_demo_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_all_dims(spark):
    from flink_precisely_demo_spark.plans.flagship import flagship_query
    plan = _physical(flagship_query(spark, SF))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_parquet_pushdown_and_pruning(spark):
    li = load_table(spark, SF, "lineitem")
    q = li.filter(F.col("l_shipdate") <= "1996-01-01") \
          .select("l_orderkey", "l_quantity")
    plan = _physical(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # projection pruned to the 3 referenced columns
    read = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "l_extendedprice" not in read and "l_quantity" in read


def test_salted_agg_equals_plain_agg(spark):
    ev = load_table(spark, SF, "events")
    plain = {r["user_id"]: (r["total"], r["n"]) for r in
             ev.groupBy("user_id").agg(
                 sum_exact("value").alias("total"),
                 F.count(F.lit(1)).alias("n")).collect()}
    salted = {r["user_id"]: (r["total"], r["n"]) for r in
              salted_grouped_agg(
                  ev, "user_id",
                  aggs=[F.sum(F.col("value").cast("decimal(28,6)")).alias("p_sum"),
                        F.count(F.lit(1)).alias("p_n")],
                  reaggs=[F.sum("p_sum").cast("double").alias("total"),
                          F.sum("p_n").alias("n")]).collect()}
    assert plain == salted


def test_salted_join_equals_plain_join(spark):
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, SF, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey")
    plain = sorted((r["o_orderkey"], r["c_nationkey"]) for r in
                   orders.join(cust, "o_custkey").collect())
    salted = sorted((r["o_orderkey"], r["c_nationkey"]) for r in
                    salted_broadcast_left(orders, cust, "o_custkey").collect())
    assert plain == salted


def test_hot_keys_detects_skew(spark):
    df = spark.range(1000).select(
        F.when(F.col("id") < 600, F.lit(7)).otherwise(F.col("id")).alias("k"))
    hot = hot_keys(df, "k", min_fraction=0.1).collect()
    assert [(r["k"], r["n"]) for r in hot] == [(7, 600)]


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Write-side bucketing: a join between two tables bucketed on the
    key needs no Exchange on either side — the co-location survives
    to the join. This is the 100 TB fact-fact join strategy."""
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    try:
        orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey") \
            .mode("overwrite").saveAsTable("b_orders")
        li.withColumnRenamed("l_orderkey", "o_orderkey") \
            .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey") \
            .mode("overwrite").saveAsTable("b_lineitem")
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"), "o_orderkey")
        plan = _physical(joined)
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


@pytest.mark.full   # builds all 163 plans (~1 min): exhaustive sweep
def test_no_query_has_unintended_cartesian(spark):
    """Meta-audit over the whole query surface: no plan may contain a
    CartesianProduct (an un-broadcast cross join is the classic
    would-never-survive-100TB accident). Broadcast nested-loop joins
    against deliberately tiny sides (probe sets, centroid lists,
    salt ranges) are allowed."""
    import __spark_entry__ as entry_mod
    bad = {}
    for name, fn in entry_mod.queries().items():
        plan = _physical(fn(spark, SF))
        if "CartesianProduct" in plan:
            bad[name] = "CartesianProduct"
    assert not bad, bad


def test_topk_uses_window_group_limit(spark):
    """rank<=k filters compile to WindowGroupLimit (partial per-
    partition top-k before the shuffle) — the property that makes
    window-based top-k viable at 100 TB instead of a full sort."""
    import __spark_entry__ as entry_mod
    plan = _physical(entry_mod.queries()["top_k_per_group"](spark, SF))
    assert "WindowGroupLimit" in plan


def test_kafka_probe_degrades_gracefully(spark):
    """No broker/connector in this container: the availability probe
    reports False instead of raising, so callers fall back to file
    sources."""
    from flink_precisely_demo_spark.sources.kafka import kafka_available
    assert kafka_available(spark) is False


def test_q6_predicates_reach_the_scan(spark):
    """TPC-H Q6's whole value is scan reduction: all three predicates
    must appear as DataFilters on the lineitem FileScan (and at the
    parquet reader as pushed filters for row-group pruning)."""
    import __spark_entry__ as entry_mod
    plan = _physical(entry_mod.queries()["q6_forecast_revenue"](spark, SF))
    scan = [ln for ln in plan.splitlines() if "FileScan" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan, f"{col} not in scan filters"


def test_q19_or_envelope_pushed_per_side(spark):
    """The cross-side OR can't be pushed whole, but Catalyst must
    derive each side's branch-union envelope: quantity bounds on the
    lineitem scan, brand/size disjunction on the part scan."""
    import __spark_entry__ as entry_mod
    plan = _physical(
        entry_mod.queries()["q19_disjunctive_revenue"](spark, SF))
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    li_scan = [s for s in scans if "l_quantity" in s][0]
    p_scan = [s for s in scans if "p_brand" in s][0]
    assert "l_quantity" in li_scan
    assert "p_brand" in p_scan and "p_size" in p_scan


def test_q21_correlated_subqueries_stay_key_hashed(spark):
    """Q21's EXISTS/NOT-EXISTS must compile to semi/anti joins hashed
    on the order key (supplier inequality as residual) — never a
    nested-loop over the fact table."""
    import __spark_entry__ as entry_mod
    plan = _physical(entry_mod.queries()["q21_waiting_supplier"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    semi = [l for l in plan.splitlines() if "LeftSemi" in l]
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert semi and "l_orderkey" in semi[0]
    assert anti and "l_orderkey" in anti[0]


def test_q4_exists_is_a_semi_join_on_orderkey(spark):
    import __spark_entry__ as entry_mod
    plan = _physical(entry_mod.queries()["q4_order_priority"](spark, SF))
    semi = [l for l in plan.splitlines() if "LeftSemi" in l]
    assert semi and "orderkey" in semi[0].lower()
    assert "BroadcastNestedLoopJoin" not in plan


def test_q22_anti_join_and_tiny_threshold_broadcast(spark):
    """The scalar threshold may ride a 1-row broadcast nested loop;
    the customer-orders correlation must be a hashed anti join."""
    import __spark_entry__ as entry_mod
    plan = _physical(
        entry_mod.queries()["q22_global_sales_opportunity"](spark, SF))
    anti = [l for l in plan.splitlines() if "LeftAnti" in l]
    assert anti and "custkey" in anti[0].lower()


def test_text_pipeline_ops_are_zero_shuffle(spark):
    """The round-6 text operators (HTML extract, PII scrub,
    context-window chunking) must stay scan-stage maps: no Exchange,
    no Python workers (pure JVM regexp/array expressions), so at
    100 TB they parallelize with the scan and nothing else."""
    import __spark_entry__ as m

    qs = m.queries()
    for name in ["text_html_extract", "text_pii_scrub",
                 "text_chunk_windows"]:
        plan = _physical(qs[name](spark, SF))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"
        assert "Python" not in plan, f"{name} leaves the JVM:\n{plan}"


def test_mixture_sample_filter_is_broadcast_not_shuffled(spark):
    """The mixture sampler's rate table must reach the scan as a
    BROADCAST join (one row per stratum) and the selection itself is
    a predicate — the documents side must never shuffle to be
    sampled. The only hash exchanges belong to the tiny per-stratum
    count/report aggregations."""
    import __spark_entry__ as m

    plan = _physical(m.queries()["curation_mixture_sample"](spark, SF))
    assert "BroadcastHashJoin" in plan
    # the kept-side scan feeds the broadcast join directly: no
    # exchange may sit between the documents scan and the sampling
    # filter (cheap proxy: the md5 bucket filter appears in the same
    # WholeStageCodegen as a Scan)
    assert "CartesianProduct" not in plan


def test_dedup_semantic_assignment_has_no_window_shuffle(spark):
    """Nearest-seed assignment must be the broadcast NLJ + struct-max
    aggregate — no Window operator (a row_number over vec_id would
    shuffle every vector once more and lose the map-side combine)."""
    import __spark_entry__ as m

    plan = _physical(m.queries()["dedup_semantic"](spark, SF))
    assert "Window" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan  # tiny seed set replicate
    assert "CartesianProduct" not in plan


def test_warc_to_corpus_is_one_narrow_pass(spark):
    """The crawl E2E (WARC parse -> HTML strip -> language/quality
    gate -> canonicalize + fingerprint) must plan as ONE scan-stage
    pass: no data-required Exchange — at crawl scale each archive
    file flows parse-to-corpus inside its own partition and only
    curated rows reach the sink. The ONE exchange tolerated is the
    `_fan_out` REPARTITION_BY_NUM widen of the narrow LOCAL scan
    feeding the Python-heavy synthesize stage (r15 optimization —
    a no-op at scale, where the archive file count exceeds the widen
    target and no repartition node is planned at all); it must sit
    BELOW every MapInPandas stage, never between them."""
    import __spark_entry__ as m

    plan = _physical(m.queries()["warc_to_corpus"](spark, SF))
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert all("REPARTITION_BY_NUM" in ln for ln in exchanges), plan
    assert len(exchanges) <= 1, plan
    # the widen feeds the FIRST Python stage: nothing computed by a
    # MapInPandas may flow into an exchange (plans print top-down, so
    # every MapInPandas must appear ABOVE the repartition line)
    if exchanges:
        lines = plan.splitlines()
        exch_at = next(i for i, ln in enumerate(lines) if "Exchange" in ln)
        assert all(i < exch_at for i, ln in enumerate(lines)
                   if "MapInPandas" in ln), plan
    assert "CartesianProduct" not in plan


def test_event_funnel_is_single_exchange(spark):
    """The three funnel-stage window MINs share one
    partitionBy(user_id) spec and the final per-user collapse reuses
    that partitioning: exactly ONE shuffle Exchange in the plan (an
    extra exchange would mean the chained windows or the groupBy
    re-partitioned the fact)."""
    import __spark_entry__ as m

    df = m.queries()["event_funnel_steps"](spark, SF)
    plan = _physical(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Window") >= 3
    assert "CartesianProduct" not in plan


def test_bm25_filters_before_fact_shuffle_and_broadcasts_stats(spark):
    """BM25's only corpus-sized shuffle must carry query-term hits,
    not the whole vocabulary: the term filter sits under the (doc,
    term) aggregation's exchange, and the df/corpus-stat sides join
    as broadcasts."""
    import __spark_entry__ as m

    df = m.queries()["text_bm25_term_scores"](spark, SF)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the isin(term) filter must appear BELOW the first hash
    # aggregate (pre-shuffle), i.e. the filter string occurs after
    # the last HashAggregate in the printed bottom-up tree
    agg_pos = plan.rfind("HashAggregate")
    filt_pos = plan.rfind("spark IN" if "spark IN" in plan else "term")
    assert filt_pos > -1
    # explode feeds a Filter containing the literal term list
    assert plan.count("Generate explode") >= 1
    assert "spark" in plan and "window" in plan  # literal pushdown visible


def test_profile_orders_is_single_scan_all_hash(spark):
    """The column profiler must read orders ONCE (one FileScan — no
    per-column scan union, no join of subqueries) and keep every
    fact-sized aggregate HASH-based: Spark's multi-distinct Expand
    rewrite would drag min/max(string) into a SortAggregate over the
    6x-expanded fact (measured 6x slower). Sort-based aggregation is
    allowed only above the deduped (cid, value) stage."""
    import __spark_entry__ as m

    df = m.queries()["table_profile_orders"](spark, SF)
    plan = _physical(df)
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" not in plan
    assert "Join" not in plan
    # the scan must feed a HashAggregate, not a Sort: the first
    # aggregate above the FileScan (bottom of the printed tree) is
    # the fact-sized stage-1
    below_scan = plan[plan.rfind("HashAggregate"):]
    assert "SortAggregate" not in below_scan


def test_pagerank_rank_side_broadcasts_and_caches(spark):
    """Each PageRank iteration joins the one-row-per-host rank side
    into the edge partitioning as a BROADCAST (never shuffling the
    edges per iteration), and the edge/node lineages are checkpointed
    (flat ExistingRDD scans) so iterations reuse them instead of
    re-scanning documents."""
    import __spark_entry__ as m

    df = m.queries()["web_link_pagerank"](spark, SF)
    plan = _physical(df)
    assert "ExistingRDD" in plan, "edges/nodes not checkpointed"
    assert plan.count("BroadcastHashJoin") >= 3  # one per iteration
    assert "CartesianProduct" not in plan


def test_pagerank_degrades_past_broadcast_host_limit(spark, monkeypatch):
    """Above `_BROADCAST_HOST_LIMIT` hosts the forced broadcast hint
    must be withheld (a forced broadcast of a web-scale rank side is
    an executor OOM Catalyst can't route around) — the join degrades
    to a shuffle join against the src-pre-partitioned edge set, and
    the ranks it produces are IDENTICAL (exact integer arithmetic)."""
    from flink_precisely_demo_spark.plans import graph_queries as gq
    import __spark_entry__ as m

    fn = m.queries()["web_link_pagerank"]
    baseline = {r["host"]: r["pr_units"]
                for r in fn(spark, SF).collect()}
    monkeypatch.setattr(gq, "_BROADCAST_HOST_LIMIT", 10)
    df = fn(spark, SF)
    # the FORCED hint must be gone from the logical plan (Catalyst
    # may still auto-broadcast from real stats — that's the graceful
    # part; a web-scale rank side would exceed the threshold)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed, analyzed
    # with auto-broadcast off (web-scale stats surrogate) the join
    # must run as a shuffle join and produce identical rank units
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df2 = fn(spark, SF)
        plan = _physical(df2)
        assert "BroadcastHashJoin" not in plan, plan
        assert "CartesianProduct" not in plan
        got = {r["host"]: r["pr_units"] for r in df2.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == baseline


def test_passage_dedup_shuffles_only_hashes(spark):
    """dedup_passage_exact: text must die in the scan stage — every
    exchange in the plan carries only ids/hashes/counts, never the
    text column; the hash-agg -> join-back reuses one partitioning."""
    import __spark_entry__ as e
    plan = _physical(e.queries()["dedup_passage_exact"](spark, SF))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line
    assert "CartesianProduct" not in plan


def test_winnow_fingerprints_shuffles_only_hashes(spark):
    import __spark_entry__ as e
    plan = _physical(e.queries()["text_winnow_fingerprints"](spark, SF))
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text" not in line, line
    assert "CartesianProduct" not in plan


def test_bloom_probe_never_shuffles_the_probe_table(spark):
    """The probe fact joins the filter via broadcast only: the plan
    must contain BroadcastHashJoins for membership and no
    SortMergeJoin / probe-side hash exchange (the one shuffle allowed
    is the distinct over the probe KEY column, which is map-side
    combined and key-width)."""
    import __spark_entry__ as e
    plan = _physical(e.queries()["bloom_semijoin_prune"](spark, SF))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # positions + ride-back
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "o_orderkey" not in line, (
                "probe rows shuffled: " + line)


def test_heavy_hitters_summary_rows_bound_the_shuffle(spark):
    """Misra-Gries merge: the only exchange above the token scan on
    the sketch branch carries (token, mg_count) summary rows — the
    fold itself is a narrow mapInPandas."""
    from flink_precisely_demo_spark.functions.text import tokens
    from flink_precisely_demo_spark.operators.heavy_hitters import (
        misra_gries_summary,
    )
    docs = load_table(spark, SF, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token"))
    plan = _physical(misra_gries_summary(tok, "token", capacity=8))
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert plan.count("Exchange") == 1  # the summary merge only


def test_ivf_pq_candidates_never_carry_vectors(spark):
    """ann_ivf_pq_topk: centroid/codebook/query sides broadcast; no
    CartesianProduct; and no exchange in the candidate stage carries
    an embedding column — vectors stay in their scan stage until the
    bounded re-rank join."""
    import __spark_entry__ as e
    plan = _physical(e.queries()["ann_ivf_pq_topk"](spark, SF))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + \
        plan.count("BroadcastNestedLoopJoin") >= 4
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "embedding" not in line and "q_vec" not in line \
                and "n_vec" not in line, line


def test_hint_broadcast_if_small_both_regimes(spark):
    """The r10 conditional-broadcast helper: under the measured row
    bound the join carries the broadcast hint; above it the hint is
    withheld and (with auto-broadcast off, the web-scale surrogate)
    the join runs as a shuffle join — same rows either way."""
    from flink_precisely_demo_spark.operators.broadcast import (
        hint_broadcast_if_small,
    )

    fact = spark.range(0, 10_000).select(
        (F.col("id") % 100).alias("k"), F.col("id").alias("v"))
    dim = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("w"))

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # small regime: probe passes, hint forces the broadcast even
        # with auto-broadcast disabled
        j_small = fact.join(hint_broadcast_if_small(dim, 1000), "k")
        plan = _physical(j_small)
        assert "BroadcastHashJoin" in plan, plan
        # large regime: probe fails, no hint -> shuffle join
        j_large = fact.join(hint_broadcast_if_small(dim, 10), "k")
        plan = _physical(j_large)
        assert "BroadcastHashJoin" not in plan, plan
        assert "CartesianProduct" not in plan
        a = sorted(tuple(r) for r in j_small.collect())
        b = sorted(tuple(r) for r in j_large.collect())
        assert a == b and len(a) == 10_000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_no_unconditional_broadcast_on_sf_growing_sides():
    """SITE-level guard for the r9 advisory (tightened per the r10
    verdict's advisory 1, re-keyed per the r11 verdict's item 7):
    every ``F.broadcast()`` call site in the package must feed from a
    fixed-cardinality frame — SF-growing sides (part, supplier,
    customer, vocabularies, rule tables) must route through
    hint_broadcast_if_small. Call sites are extracted from the AST
    and keyed by (file, FRAME fingerprint, count), where the
    fingerprint hashes the fed variable's DEFINING expression (its
    nearest-preceding assignment's RHS), not the variable name: a
    rename (nat -> n) keeps the pin, while re-pointing the variable
    at a different table — the thing that actually needs re-audit —
    changes it. Inline expressions hash themselves; parameters pin as
    param:<name>. Adding a site, removing one, or changing the frame
    an existing site feeds all fail until re-audited."""
    import ast
    import collections
    import glob
    import hashlib

    def root_ident(node):
        while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
            node = node.func if isinstance(node, ast.Call) else node.value
        return node.id if isinstance(node, ast.Name) else "<expr>"

    def frame_fingerprint(tree, arg):
        if isinstance(arg, ast.Name):
            best = None
            for node in ast.walk(tree):
                if (isinstance(node, ast.Assign)
                        and node.lineno < arg.lineno):
                    for t in node.targets:
                        if isinstance(t, ast.Name) and t.id == arg.id:
                            if best is None or node.lineno > best.lineno:
                                best = node
            if best is None:
                return "param:" + arg.id
            dump = ast.dump(best.value)
        else:
            dump = ast.dump(arg)
        return hashlib.md5(dump.encode()).hexdigest()[:8]

    inventory = collections.Counter()
    fed_names: dict[tuple, set] = {}
    for path in sorted(glob.glob(
            "/root/repo/flink_precisely_demo_spark/**/*.py",
            recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read())
        rel = path.removeprefix("/root/repo/")
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"):
                key = (rel, frame_fingerprint(tree, node.args[0]))
                inventory[key] += 1
                fed_names.setdefault(key, set()).add(
                    root_ident(node.args[0]))

    p = "flink_precisely_demo_spark/"
    # each entry audited r10, site-granularity r11, frame-fingerprint
    # r12; trailing comment = fed variable at audit time + why the
    # frame is fixed-cardinality. Regenerate a drifted fingerprint by
    # re-running the extraction above and re-auditing the new frame.
    audited_fixed_cardinality = {
        (p + "operators/bloom.py", "e2d33427"): 1,   # passing: bit-position set
        (p + "operators/bloom.py", "param:positions"): 1,  # caller-bounded
        (p + "operators/broadcast.py", "param:df"): 1,  # the hint mechanism
        (p + "operators/curation.py", "36495e76"): 1,   # thr: 1-row threshold
        (p + "operators/curation.py", "b8cef101"): 1,   # tot: 1-row count
        (p + "operators/enrichment_join.py", "fa3afa78"): 1,  # d: latest-dim snap
        (p + "operators/skew.py", "91c55e88"): 1,    # hot: ≤1/min_fraction
                                                     # keys by definition (r13)
        (p + "operators/skew.py", "b446503a"): 1,    # other_hot: semi-join to
                                                     # the bounded hot set (r13)
        (p + "operators/skew.py", "984814e0"): 2,    # fact/spine: salt ranges
                                                     # (n_salts rows each:
                                                     # salted_broadcast_left +
                                                     # salted_shuffle_join, r13)
        (p + "operators/text_index.py", "cf909e6d"): 1,  # df_: one row per
                                                     # query term (term +
                                                     # doc serving share
                                                     # _scored_hits)
        (p + "operators/text_index.py", "fa62bde5"): 1,  # corpus: 1-row
                                                     # N/total agg (same
                                                     # shared site)
        (p + "plans/ann_queries.py", "668a2dc1"): 1,  # cb1: PQ codebook (k<=256)
        (p + "plans/ann_queries.py", "8ce08c39"): 1,  # cb2: PQ codebook
        (p + "plans/ann_queries.py", "9af45f1c"): 1,  # qcb1: PQ codebook
        (p + "plans/ann_queries.py", "a4575904"): 1,  # q: bounded query seeds
        (p + "plans/ann_queries.py", "af714a0e"): 1,  # qcb2: PQ codebook
        (p + "plans/ann_queries.py", "ee5a0975"): 1,  # q: bounded query seeds
        (p + "plans/ann_queries.py", "param:side"): 1,  # ground-truth top-k
        (p + "plans/curation_queries.py", "461f9e58"): 1,  # cnt: 1-row count
        (p + "plans/curation_queries.py", "51ecaeed"): 1,  # cnt: 1-row count
        (p + "plans/curation_queries.py", "7bc0465f"): 1,  # cnt: 1-row count
        (p + "plans/curation_queries.py", "b6ef2f0f"): 1,  # cnt: 1-row count
        (p + "plans/curation_queries.py", "eeeea29e"): 1,  # cnt: 1-row count
        (p + "plans/cdc_queries.py", "ab8c3d42"): 1,  # region: 5 rows
                                                      # (flagship replay dims,
                                                      # r13)
        (p + "plans/flagship.py", "2cbe0f31"): 1,    # nation: 25 rows
        (p + "plans/flagship.py", "ab8c3d42"): 1,    # region: 5 rows
        (p + "plans/graph_queries.py", "69482522"): 1,  # rank_side: probed upstream
        (p + "plans/graph_queries.py", "8b749e44"): 1,  # hosts: 1-row agg
        (p + "plans/layout_queries.py", "d5a12556"): 1,  # n: nation
        (p + "plans/olap_queries.py", "00cf2d34"): 1,   # th: 1-row threshold
        (p + "plans/olap_queries.py", "03ae2286"): 1,   # reg: region
        (p + "plans/olap_queries.py", "118da461"): 1,   # n1: nation (q7)
        (p + "plans/olap_queries.py", "29504256"): 1,   # r: region
        (p + "plans/olap_queries.py", "2cca830b"): 2,   # r/reg: region
        (p + "plans/olap_queries.py", "2fc98db7"): 1,   # top: 1-row top revenue
        (p + "plans/olap_queries.py", "38292c82"): 1,   # nat: nation
        (p + "plans/olap_queries.py", "3c97921d"): 1,   # total: 1-row total
        (p + "plans/olap_queries.py", "4e418d87"): 1,   # mx: 1-row max
        (p + "plans/olap_queries.py", "6e36cc97"): 1,   # n: nation
        (p + "plans/olap_queries.py", "7494da06"): 1,   # nb: nation
        (p + "plans/olap_queries.py", "91d6edbe"): 1,   # nat: nation (+1-row join)
        (p + "plans/olap_queries.py", "a5cca6f0"): 1,   # n: nation
        (p + "plans/olap_queries.py", "afa88926"): 1,   # nat: nation
        (p + "plans/olap_queries.py", "e1561701"): 1,   # nk: single nation key
        (p + "plans/olap_queries.py", "f2b212d8"): 1,   # n2: nation (q7)
        (p + "plans/olap_queries.py", "fa1a1840"): 2,   # n1/n2: nation pair (q8)
        (p + "plans/olap_queries.py", "fa1af868"): 2,   # n/nat: nation
        (p + "plans/queries.py", "00e44844"): 1,     # r: region
        (p + "plans/queries.py", "fa1af868"): 1,     # n: nation
        (p + "plans/search_queries.py", "2e8bc835"): 1,  # corpus: 1-row stats
        (p + "plans/search_queries.py", "da770cac"): 1,  # df_: fixed QUERY_TERMS
        (p + "plans/similarity_queries.py", "027bee3f"): 1,  # top: bounded top-k
        (p + "plans/similarity_queries.py", "7d107947"): 1,  # seeds: bounded
        (p + "plans/sketch_queries.py", "332ac1bd"): 1,  # total: 1-row count
        (p + "plans/text_queries.py", "0123f1ce"): 1,  # vocab: 1-row distinct
        (p + "streaming/pipeline.py", "d28e25c2"): 1,  # states: nation-sized
    }
    assert dict(inventory) == audited_fixed_cardinality, (
        "F.broadcast call-site inventory drifted — new/removed sites "
        "or a CHANGED FRAME behind an existing site need a "
        "growing-side audit. fed names per key: "
        f"{ {k: sorted(v) for k, v in fed_names.items()} } diff: "
        f"added={sorted(set(inventory) - set(audited_fixed_cardinality))} "
        f"removed={sorted(set(audited_fixed_cardinality) - set(inventory))} "
        f"count-changed={sorted(k for k in inventory if k in audited_fixed_cardinality and inventory[k] != audited_fixed_cardinality[k])}")


def test_hint_broadcast_probe_is_cached_per_plan(spark):
    """The probe verdict is memoized per (session, plan hash): a
    second call with a semantically identical frame must not run
    another probe job (r10: an uncached probe cost 0.4-0.9 s per
    invocation on a joined dim)."""
    from flink_precisely_demo_spark.operators import broadcast as bc

    dim = spark.range(0, 50).select(F.col("id").alias("k"))
    bc._PROBE_CACHE.clear()
    bc.hint_broadcast_if_small(dim, 1000)
    assert len(bc._PROBE_CACHE) == 1
    key, verdict = next(iter(bc._PROBE_CACHE.items()))
    assert verdict is True
    # same semantic plan, fresh python object -> same cache entry
    dim2 = spark.range(0, 50).select(F.col("id").alias("k"))
    bc.hint_broadcast_if_small(dim2, 1000)
    assert len(bc._PROBE_CACHE) == 1
    # different bound -> distinct entry (the verdict depends on it)
    bc.hint_broadcast_if_small(dim, 10)
    assert len(bc._PROBE_CACHE) == 2


def test_hint_broadcast_rejects_streaming_frames(spark):
    """limit().count() is illegal on a stream; the static-side-only
    contract is enforced in code, not a comment (r10 advisory)."""
    import pytest

    from flink_precisely_demo_spark.operators.broadcast import (
        hint_broadcast_if_small,
    )

    s = (spark.readStream.format("rate")
         .option("rowsPerSecond", 1).load())
    with pytest.raises(ValueError, match="streaming"):
        hint_broadcast_if_small(s, 100)


def test_hint_broadcast_cache_evicts_dead_sessions(spark):
    """A probe under a NEW applicationId drops verdicts cached for
    other (dead) sessions, so long-lived processes that restart Spark
    sessions cannot accumulate entries (r10 advisory)."""
    from flink_precisely_demo_spark.operators import broadcast as bc

    dim = spark.range(0, 50).select(F.col("id").alias("k"))
    bc._PROBE_CACHE.clear()
    bc._PROBE_CACHE[("dead-app-1", 123, 1000)] = True
    bc._PROBE_CACHE[("dead-app-2", 456, 1000)] = False
    bc.hint_broadcast_if_small(dim, 1000)
    assert len(bc._PROBE_CACHE) == 1
    (key,) = bc._PROBE_CACHE
    assert key[0] == spark.sparkContext.applicationId


def test_default_row_bound_scales_with_row_width(spark):
    """The default probe bound is derived from an estimated row
    width against TARGET_BROADCAST_BYTES (r10 advisory: a wide side
    under 2M rows can still be an oversized broadcast), clamped to
    the slim-row 2M ceiling."""
    from flink_precisely_demo_spark.operators import broadcast as bc

    slim = spark.range(0, 10).select(F.col("id").alias("k"),
                                     (F.col("id") * 2).alias("v"))
    assert bc.default_row_bound(slim) == bc.DEFAULT_BROADCAST_ROW_BOUND

    wide = spark.range(0, 10).select(
        F.col("id").alias("k"),
        *[F.concat(F.lit("x"), F.col("id")).alias(f"s{i}")
          for i in range(10)],
        F.array(*[F.col("id").cast("float")] * 4).alias("emb"))
    b = bc.default_row_bound(wide)
    assert b < bc.DEFAULT_BROADCAST_ROW_BOUND
    assert b >= bc._MIN_ROW_BOUND
    # and the bound follows the byte budget: width est ~= 8 + 10*48
    # + 64*4 -> TARGET // width, not an arbitrary constant
    from flink_precisely_demo_spark.operators.broadcast import (
        TARGET_BROADCAST_BYTES,
        _estimated_row_bytes,
    )
    assert b == TARGET_BROADCAST_BYTES // _estimated_row_bytes(wide.schema)
