"""Machine-generated physical-plan audit for the headline queries.

For each bench headline (plus the round's additions) this prints a
markdown table of the plan features that decide 100 TB behavior:
scan pushdown, exchange count, broadcast count, join strategies,
map-side partial aggregation, Arrow-batched Python stages, and the
presence of any scale-killer (CartesianProduct, row-at-a-time Python
eval). Counts come from the FORMATTED explain of the executed plan
(AQE-final, each node listed once). The checked-in copy lives in
PLANS.md — regenerate with:

    python scripts/plan_report.py > PLANS.md
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import HEADLINE  # noqa: E402

SF = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.001")

QUERIES = HEADLINE + [
    "multimodal_format_audit", "audio_stream_triage", "dedup_semantic",
    "curation_mixture_sample", "web_link_pagerank",
    "corpus_snapshot_diff",
    # round-8 additions
    "warc_ingest_extract", "warc_to_corpus", "text_bm25_term_scores",
    "table_profile_orders", "robots_txt_gate",
    # late round-8 additions (the _PENDING cohort)
    "dedup_passage_exact", "text_winnow_fingerprints",
    "sketch_heavy_hitters", "jsonl_corpus_roundtrip",
    "bloom_semijoin_prune", "embedding_pq_codebook",
    "ann_ivf_pq_topk", "q16_supplier_part_types",
    "q20_potential_promotion", "event_pattern_match",
    "crawl_to_training_shards", "embedding_hard_negatives",
    "deletion_propagation_audit",
    # round-9 additions
    "q2_min_cost_supplier", "q9_product_type_profit",
    "q11_important_stock", "q12_shipping_priority_class",
    "text_bigram_typicality", "web_triangle_count",
    "attribution_multi_touch", "bpe_vocab_merges",
    "bpe_encode_corpus", "ann_recall_eval",
    # round-12 additions
    "csv_ingest_policy", "ann_index_upsert_topk", "ann_index_health",
    "bucketed_colocated_join",
    # round-13 additions (skew family + maintained-index recall +
    # dedup-at-ingest; the streaming replays have no batch plan to
    # audit — their topologies are pinned by the streaming tests)
    "skew_salted_join", "skew_hotcold_join", "ann_recall_maintained",
    "dedup_ingest_novelty", "dedup_index_health",
    # round-14 additions (the streaming corpus replay has no batch
    # plan to audit — its per-leg topologies are pinned by
    # tests/test_corpus_pipeline.py and the component entries)
    "dedup_ingest_clusters", "dedup_substring_exact",
    "curation_substring_contamination",
    # round-15 additions (the late-sideoutput replay has no batch
    # plan to audit — its splitter topology is pinned by
    # tests/test_late_data.py and the replay oracle)
    "dedup_ingest_substring", "multimodal_pdf_extract",
    "pdf_to_corpus",
    # round-15 additions (second batch): maintained inverted text
    # index serving + health (the streaming ingest replay's sink
    # topology is pinned by tests/test_text_index.py and shares the
    # serving read plan audited here)
    "search_index_topk", "search_index_health",
    "search_index_doc_topk", "search_index_phrase",
    "search_index_snippets", "orc_corpus_roundtrip",
]


def main() -> None:
    from flink_precisely_demo_spark.session import get_spark

    import __spark_entry__ as m

    spark = get_spark("plan_report", cpus=8)
    qs = m.queries()
    print("# PLANS — physical-plan audit of the headline queries")
    print()
    print(f"Generated by `scripts/plan_report.py` at `{SF}`. Columns:")
    print("exchanges = shuffle Exchange nodes; bcast = broadcast")
    print("exchanges; joins = strategy histogram; partial-agg = the")
    print("aggregation combines map-side before its shuffle; pushdown")
    print("= a scan with non-empty `PushedFilters`; arrow = Arrow-")
    print("batched Python stages (the designed vectorized path);")
    print("killers = CartesianProduct or row-at-a-time Python eval.")
    print("Counts parse the FORMATTED explain of the EXECUTED plan —")
    print("AQE-final, exchange-reuse applied, one entry per node.")
    print()
    print("| query | exchanges | bcast | joins | partial-agg | pushdown"
          " | arrow stages | killers |")
    print("|---|---|---|---|---|---|---|---|")
    for name in QUERIES:
        df = qs[name](spark, SF)
        # run to completion first: AQE only finalizes join strategies,
        # exchange reuse, and whole-stage-codegen annotation in the
        # FINAL plan — the static plan under-reports codegen and
        # over-reports exchanges that runtime caching/reuse elides
        df.write.mode("overwrite").format("noop").save()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
            .fromString("formatted")
        full = df._jdf.queryExecution().explainString(mode)
        tree = full.split("\n\n(")[0]      # the numbered node tree
        ex = len(re.findall(r"\bExchange \(", tree))
        bc = len(re.findall(r"BroadcastExchange", tree))
        joins = []
        for j, label in [("BroadcastHashJoin", "BHJ"),
                         ("SortMergeJoin", "SMJ"),
                         ("ShuffledHashJoin", "SHJ"),
                         ("BroadcastNestedLoopJoin", "BNLJ")]:
            k = len(re.findall(j, tree))
            if k:
                joins.append(f"{k}x{label}")
        partial = bool(re.search(r"partial_(sum|count|min|max|avg)", full))
        pushed = bool(re.search(r"PushedFilters: \[[^\]]", full))
        arrow = (len(re.findall(r"MapInPandas \(", tree))
                 + len(re.findall(r"ArrowEvalPython", tree)))
        killers = []
        if "CartesianProduct" in tree:
            killers.append("CARTESIAN")
        if re.search(r"BatchEvalPython", tree):
            killers.append("ROW-PYTHON")
        print(f"| {name} | {ex} | {bc} | {' '.join(joins) or '-'}"
              f" | {'yes' if partial else '-'}"
              f" | {'yes' if pushed else '-'}"
              f" | {arrow or '-'}"
              f" | {' '.join(killers) or 'none'} |")
    print()
    print("Reading notes:")
    print("- `web_link_pagerank` is ITERATIVE: the tree unrolls all 3")
    print("  iterations, so its node counts look large; at runtime the")
    print("  checkpointed edge/node lineages collapse to ExistingRDD")
    print("  scans (guarded by `test_pagerank_rank_side_broadcasts_and_")
    print("  caches`) and each iteration costs one broadcast join plus")
    print("  one map-side-combined SUM (degrading to a shuffle join")
    print("  past the broadcast host-count limit).")
    print("- `reference_pipeline_verbatim` shows 0 exchanges because")
    print("  the replay's cost is the verbatim to_json/from_json codec")
    print("  semantics inside the scan stage, not data movement.")
    print("- BNLJ rows are DELIBERATE tiny-side replications (seed/")
    print("  centroid/count singletons); the killer column proves none")
    print("  degraded to a CartesianProduct.")
    spark.stop()


if __name__ == "__main__":
    main()
