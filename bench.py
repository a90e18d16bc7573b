"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default:
the cores this process may run on, ``session.DEFAULT_CPUS``).

The LAST stdout line is ONE compact JSON record (kept under 1500
characters so a tail-capture of stdout always holds it whole — the
r9 driver artifact kept only the final 2000 chars and lost the
headline total to the full record's size):
  {"metric": "...", "value": N, "unit": "sec", "queries": {...20
   headline times...}, "sf": ..., "streaming_orders_per_sec": ...}
The full record — secondary query times, error details, metric
provenance and the layer ledger — is written to BENCH_DETAIL.json next
to this file and echoed to stderr.

Each query is forced to full materialization with the noop sink
(count() could let Catalyst prune work; noop executes the complete
plan and discards rows, which is what a sink would cost minus IO).

Layer ledger: this module is the one place that times a registered
query (``Ledger.measure``, over ``measure_steal_proof``;
``scripts/check_and_time.py`` uses the same :class:`Ledger`). The
session always writes Spark's event log (uncompressed, to a
disk-backed temp directory removed on every exit), every timed run is a
``perfbench/tracing.py`` span, and once the session stops the log is
parsed once. Every headline, secondary and
``streaming_fixed_cost`` entry gets ``layers[name]`` in
BENCH_DETAIL.json, taken from the span of its fastest run — the run
whose time is reported:
  spark.jobs / stages / tasks     jobs submitted in the span, their
                                  stages and tasks
  spark.executor_run_s / executor_cpu_s / gc_s
                                  summed over those tasks
  spark.task_skew                 median over stages of the slowest
                                  task's time over the median task's
  spark.driver_self_s             span wall minus the union of its job
                                  spans: plan construction, eager
                                  driver work, per-job coordination
  shuffle.read_bytes / write_bytes / spill_bytes
  python.bytes_to_worker / bytes_from_worker
                                  (perfbench's python.worker_start_s is
                                  left out: Spark's "time to initialize
                                  Python workers" is not reset on a
                                  reused worker, so it can exceed the
                                  entry's wall time many times over)
  cpu_run_ratio                   executor_cpu_s / executor_run_s
Host vs engine, between two records of one entry: wall time up with
executor CPU flat (cpu_run_ratio down) means the host — steal, or an
I/O or scheduling stall the steal counter cannot see; executor CPU up
means the engine did more work; driver_self_s up means the driver.
Executor CPU counts the JVM task threads only: a task waiting on its
Python worker accrues run time without CPU, so an Arrow/pandas-heavy
entry has a low ratio on a quiet host. Compare ratios within one
entry, never across entries.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


# Contention sentinel thresholds (see BASELINE.md "Contention
# quarantine rule"): ambient load BEFORE the run beyond
# 0.25 x cpus, or load AFTER beyond 1.25 x cpus (our own 32 worker
# threads can legitimately push load to ~cpus; more means a
# co-tenant), quarantine-label the record. Three rounds running
# (r8/r9/r10) one driver number needed a quiet-host re-measure to
# adjudicate — this makes a contended run self-identify instead.
CONTENTION_BEFORE_FACTOR = 0.25
CONTENTION_AFTER_FACTOR = 1.25
# Hypervisor steal sentinel (r15): on a shared VM, a co-tenant on the
# HYPERVISOR inflates wall clock without appearing in this guest's
# loadavg at all — /proc/stat's steal column is the only signal (an
# r15 run measured a broadcast join at 36.7 s under steal vs 3.3 s
# minutes later, with loadavg quiet throughout and the flag false).
# Any per-query window in which more than this percentage of total
# machine ticks was stolen marks the record contended.
STEAL_WINDOW_PCT = 10.0
# Bounded auto-retry (r16, r15 verdict item 1): a query measured in a
# steal-dirty window is re-measured (fresh min-of-2) up to this many
# TOTAL attempts, so a graded artifact can come out clean on a host
# whose co-tenant bursts last minutes, not the whole run. Steal only
# ever ADDS wall time, so the min across attempts is the best upper
# bound on the true time, and the cleanest attempt's window steal
# bounds the inflation that estimate can still carry (the estimate is
# <= the cleanest attempt's time, which saw <= that much steal).
RETRY_MAX_ATTEMPTS = 3


def cpu_steal_sample() -> tuple[int, int] | None:
    """(total_ticks, steal_ticks) across all cpus from /proc/stat's
    aggregate line, or None where unavailable (non-Linux). Only the
    first 8 fields (user..steal) are summed: guest/guest_nice are
    already folded into user/nice by the kernel, so counting them
    would double-count on a host running nested guests and understate
    steal_pct (r15 advisory)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        if parts[0] != "cpu":
            return None
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return sum(vals[:8]), steal
    except (OSError, ValueError, IndexError):
        return None


def steal_window_pct(prev: tuple[int, int] | None,
                     cur: tuple[int, int] | None) -> float | None:
    """Percentage of this window's total machine ticks that the
    hypervisor gave to a co-tenant. None when either sample is
    missing or the window is empty."""
    if prev is None or cur is None:
        return None
    total_d = cur[0] - prev[0]
    steal_d = cur[1] - prev[1]
    if total_d <= 0:
        return None
    return 100.0 * steal_d / total_d


def measure_steal_proof(run_once, steal_sampler=cpu_steal_sample,
                        clock=time.perf_counter,
                        max_attempts: int = RETRY_MAX_ATTEMPTS,
                        ) -> tuple[float, float | None, int]:
    """Steal-proof measurement (r16, verdict item 1). One attempt is a
    min-of-2 (a third run when the two disagree wildly — a contention
    blip hit one of them) with its own self-contained steal window; it
    is re-attempted while that window is dirty, up to ``max_attempts``
    total attempts. Returns (best_seconds, cleanest_window_steal_pct,
    n_attempts). Keeps the MIN time across attempts (steal only adds
    time, so every attempt is an upper bound on the true time) and
    the CLEANEST attempt's window steal — the estimate is <= that
    attempt's time, which saw <= that much steal, so the returned
    steal pct bounds the residual inflation of the returned time."""
    def timed() -> float:
        t0 = clock()
        run_once()
        return clock() - t0

    best: float | None = None
    best_steal: float | None = None
    for attempts in range(1, max_attempts + 1):
        prev = steal_sampler()
        runs = [timed(), timed()]
        if max(runs) > 2 * min(runs):
            runs.append(timed())
        pct = steal_window_pct(prev, steal_sampler())
        best = min(runs) if best is None else min(best, *runs)
        if pct is not None:
            best_steal = pct if best_steal is None else min(best_steal, pct)
        if pct is None or pct <= STEAL_WINDOW_PCT:
            break
    return best, best_steal, attempts


def loadavg_1min() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


def contention_flag(load_before: float | None, load_peak: float | None,
                    cpus: int,
                    steal_peak_pct: float | None = None) -> bool:
    """True when the run's load samples indicate external load that
    would inflate wall-clock timings: ambient load before start, or
    any DURING/after sample beyond what our own worker threads
    explain. ``load_peak`` is the max of per-query samples, not just
    the final one — a co-tenant burst mid-bench decays out of a
    single end-of-run 1-min average (r11 advisory).
    ``steal_peak_pct`` is the max per-query-window hypervisor-steal
    percentage — the signal loadavg cannot see (r15)."""
    return ((load_before is not None
             and load_before > CONTENTION_BEFORE_FACTOR * cpus)
            or (load_peak is not None
                and load_peak > CONTENTION_AFTER_FACTOR * cpus)
            or (steal_peak_pct is not None
                and steal_peak_pct > STEAL_WINDOW_PCT))


HEADLINE = [
    "flagship_cdc_window_sum",
    "q1_pricing_summary",
    "tumbling_window_events",
    "enrichment_latest_join",
    "top_k_per_group",
    "sessionization",
    "asof_join_prior_click",
    "range_join_events",
    "window_analytics",
    "cdc_apply_snapshot",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_bruteforce_topk",
    "similarity_ivf_topk",
    "ann_index_topk",
    "text_filter_pipeline",
    "curation_pipeline_e2e",
    "q5_local_supplier_volume",
    "q18_large_volume_customer",
    "reference_pipeline_verbatim",
]

# secondary group: the round-6/7/8 pipeline operators. Tracked per
# round but kept OUT of the headline total, which stays the stable
# comparator against BASELINE's round-1 measurement.
SECONDARY = ["text_pii_scrub", "text_html_extract",
             "text_chunk_windows", "url_canonicalize",
             "text_tfidf_top_terms", "cdc_history_scd2",
             "web_link_pagerank",
             "multimodal_format_audit", "audio_stream_triage",
             "dedup_semantic", "curation_mixture_sample",
             "corpus_snapshot_diff", "warc_ingest_extract",
             "warc_to_corpus", "text_bm25_term_scores",
             "table_profile_orders", "robots_txt_gate",
             "event_funnel_steps", "skew_salted_agg",
             "zorder_layout_stats",
             "dedup_passage_exact", "text_winnow_fingerprints",
             "sketch_heavy_hitters", "jsonl_corpus_roundtrip",
             "bloom_semijoin_prune",
             "embedding_pq_codebook",
             "ann_ivf_pq_topk",
             "crawl_to_training_shards",
             "embedding_hard_negatives", "deletion_propagation_audit",
             "corpus_datasheet",
             # r9 additions: TPC-H completion + LM typicality +
             # the left-outer interval-join replay
             "q2_min_cost_supplier", "q9_product_type_profit",
             "q11_important_stock", "q12_shipping_priority_class",
             "text_bigram_typicality",
             "streaming_attribution_replay",
             "web_triangle_count", "attribution_multi_touch",
             "bpe_vocab_merges", "bpe_encode_corpus",
             "ann_recall_eval",
             # r11 addition: the streaming SCD2 replay
             "streaming_scd2_replay",
             # r12 additions: delimited ingest + ANN maintenance
             # + bucketed co-location
             "csv_ingest_policy", "ann_index_upsert_topk",
             "ann_index_health", "streaming_ann_upsert_replay",
             "bucketed_colocated_join",
             # r13 additions: streaming flagship replay, salted
             # skew join, maintained-index recall gate, skew
             # hot/cold split, dedup-at-ingest (batch + stream)
             "streaming_flagship_replay", "skew_salted_join",
             "ann_recall_maintained", "skew_hotcold_join",
             "dedup_ingest_novelty",
             "streaming_dedup_ingest_replay",
             "dedup_index_health",
             # r14 additions: maintained near-dup clusters, the
             # e2e streaming corpus pipeline, exact-substring
             # spans
             "dedup_ingest_clusters",
             "streaming_corpus_ingest_replay",
             "dedup_substring_exact",
             "streaming_dedup_cluster_replay",
             "curation_substring_contamination",
             # r15 additions: incremental substring index, PDF
             # extraction, late-data side output
             "dedup_ingest_substring",
             "multimodal_pdf_extract",
             "streaming_late_sideoutput_replay",
             # r15 additions (second batch): the maintained
             # inverted text index — batch serving + health +
             # streaming ingest twin — and PDF as corpus source
             "search_index_topk", "search_index_health",
             "streaming_search_index_replay",
             "search_index_doc_topk", "search_index_phrase",
             "orc_corpus_roundtrip",
             "streaming_substring_ingest_replay",
             "search_index_snippets",
             "pdf_to_corpus"]

def noop_write(df) -> None:
    """Execute ``df``'s complete plan and discard the rows."""
    df.write.mode("overwrite").format("noop").save()


class Ledger:
    """The timing session, used as ``with Ledger(app) as ledger:``: a
    Spark session that always writes its event log, and one
    ``tracing.Spans`` span per timed run. :meth:`measure` times an
    entry; :meth:`close` stops the session and returns its
    :func:`layer_records`. The log (about 100-160 MB for a full run)
    sits in a disk-backed temp dir, never in memory-backed scratch;
    leaving the block also stops the session and removes the log when
    :meth:`close` was never reached."""

    def __init__(self, app: str):
        from flink_precisely_demo_spark.session import get_spark
        from perfbench.tracing import Spans

        self.log_dir = tempfile.mkdtemp(prefix="bench_eventlog_")
        self.spark = get_spark(app, extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.log_dir,
            "spark.eventLog.compress": "false"})
        self.spans = Spans()

    def __enter__(self) -> Ledger:
        return self

    def __exit__(self, *exc) -> None:
        self._discard()

    def measure(self, name: str, query, sf_dir: str
                ) -> tuple[float, float | None, int]:
        """:func:`measure_steal_proof` of ``query`` at ``sf_dir`` run
        into the noop sink, every run a span named ``name``."""
        def run():
            with self.spans.span(name, "operation"):
                noop_write(query(self.spark, sf_dir))
        return measure_steal_proof(run)

    def close(self) -> dict[str, dict]:
        """Stop the session (which flushes its event log), parse the
        log once, remove it and return entry -> layers record."""
        from perfbench.tracing import parse_event_log, read_event_log

        self.spark.stop()
        try:
            log = parse_event_log(read_event_log(self.log_dir))
        finally:
            self._discard()
        return layer_records(self.spans, log)

    def _discard(self) -> None:
        """Stop the session (a no-op once stopped; the JVM's own exit
        would write to the removed log) and remove its log."""
        self.spark.stop()
        shutil.rmtree(self.log_dir, ignore_errors=True)


def layer_records(spans, log: dict) -> dict[str, dict]:
    """One ledger record per span name (see the module docstring), from
    the shortest of that name's spans: ``measure_steal_proof`` reports
    the fastest run, so that is the run the record describes."""
    from perfbench.tracing import layer_metrics

    # longest first, so each name keeps its shortest span
    fastest = {s["name"]: s for s in sorted(
        spans.spans, key=lambda s: s["start"] - s["end"])}
    out = {}
    for name, span in fastest.items():
        m = layer_metrics(spans, log, [], (span["start"], span["end"]),
                          [span["id"]])
        # no listener here, so the streaming.* and state.* fields
        # would all read 0; python.worker_start_s sums an accumulator
        # that a reused Python worker does not reset per task, so it
        # can exceed the entry's wall time many times over
        rec = {k: round(v, 3) for k, v in m.items()
               if k.startswith(("spark.", "shuffle.", "python."))
               and k != "python.worker_start_s"}
        run_s = m["spark.executor_run_s"]
        rec["cpu_run_ratio"] = (round(m["spark.executor_cpu_s"] / run_s, 3)
                                if run_s else None)
        out[name] = rec
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from flink_precisely_demo_spark.session import DEFAULT_CPUS
    cpus = DEFAULT_CPUS
    import __spark_entry__ as entry_mod

    load_before = loadavg_1min()
    # per-query samples: the contention flag keys on the MAX, so a
    # mid-bench co-tenant burst can't decay out of the final 1-min
    # average before the end-of-run sample (r11 advisory)
    load_samples: list[float | None] = []
    # per-query hypervisor-steal windows (r15): steal inflates wall
    # clock without touching this guest's loadavg, so it gets its own
    # per-query SELF-CONTAINED windows (r16: no shared sample chain —
    # the old chain attributed Spark startup + warm-up steal to the
    # first headline query, r15 advisory) and feeds the contention
    # flag via its unrounded max
    steal_pcts: list[float | None] = []
    steal_by_window: dict[str, float] = {}
    steal_retries: dict[str, int] = {}

    warm_dir = "/root/testdata/sf0.001"
    with Ledger("bench") as ledger:
        spark = ledger.spark

        def _measure(name: str, query, query_sf_dir: str) -> float:
            best, best_steal, attempts = ledger.measure(name, query,
                                                        query_sf_dir)
            load_samples.append(loadavg_1min())
            steal_pcts.append(best_steal)
            if best_steal is not None:
                steal_by_window[name] = round(best_steal, 2)
            if attempts > 1:
                steal_retries[name] = attempts - 1
            return round(best, 3)

        qs = entry_mod.queries()

        # Every phase below is individually fault-isolated: one broken
        # query must cost ONE entry in the artifact, never the artifact
        # itself (r4 lesson: an unguarded warm-up crash zeroed the whole
        # bench file).
        errors: dict[str, str] = {}

        def _err(name: str, exc: BaseException) -> None:
            msg = f"{type(exc).__name__}: {exc}".splitlines()[0][:500]
            errors[name] = msg
            print(f"# {name}: ERROR {msg}", file=sys.stderr)

        # untimed warmup: JVM JIT + codegen + Python worker pool startup
        # (fixed per-process costs, not per-query engine work; a cluster
        # pays them once at executor launch, not per query). The verbatim
        # replay is warmed too — it exercises codegen paths nothing else
        # does (to_json/from_json of three envelope schemas, the
        # SQL-scalar parseTs, catalog DDL). A failed warm-up only means
        # that query runs cold; it is NOT fatal here — the timed loop
        # reports its real failure per-query.
        _setup_prev = cpu_steal_sample()
        for warm_name in ["flagship_cdc_window_sum", "dedup_minhash_lsh",
                          "reference_pipeline_verbatim"]:
            try:
                noop_write(qs[warm_name](spark, warm_dir))
            except Exception as exc:
                print(f"# warmup {warm_name}: ERROR {exc}", file=sys.stderr)
        # build the served ANN index once, untimed: a served system
        # amortizes the build across its query traffic; the timed entry
        # measures the query path (partition-pruned nprobe scan)
        try:
            from flink_precisely_demo_spark.plans.ann_queries import (
                ann_index_path,
            )
            ann_index_path(spark, sf_dir)
        except Exception as exc:
            print(f"# warmup ann_index: ERROR {exc}", file=sys.stderr)
        # the startup/warm-up window's steal is recorded for evidence but
        # EXCLUDED from the contention max — nothing in it is timed (r15
        # advisory: it used to be attributed to the first headline query)
        _setup_pct = steal_window_pct(_setup_prev, cpu_steal_sample())
        if _setup_pct is not None:
            steal_by_window["setup"] = round(_setup_pct, 2)

        # two timed runs per query, keep the min: the host shows heavy
        # run-to-run CPU contention (same plan measured 0.9s and 23.9s
        # back to back); min-of-2 is the standard noise-robust estimator
        # and also absorbs stray one-off costs (worker forks, JIT).
        timings: dict[str, float] = {}
        secondary: dict[str, float] = {}
        for names, times, tag in ((HEADLINE, timings, ""),
                                  (SECONDARY, secondary, " (secondary)")):
            for name in names:
                try:
                    times[name] = _measure(name, qs[name], sf_dir)
                    print(f"# {name}: {times[name]}s{tag}", file=sys.stderr)
                except Exception as exc:
                    _err(name, exc)

        # Machinery-vs-plan decomposition for the replay secondaries
        # (r11 verdict item 4): the flagship replay entry re-run at
        # NEGLIGIBLE volume (sf0.001, ~1.5k change rows) measures the
        # per-entry FIXED cost every streaming replay pays — streaming-
        # query startup, staging, 2 triggers of state-store open/commit
        # at 8 partitions, the parquet-drain round trip — because the
        # batch-shaped work inside is milliseconds at that volume. A
        # replay secondary's plan cost is approximately its recorded
        # time minus this number; the machinery price is per-entry, not
        # per-row, so it stays ~flat across SF while plan cost scales.
        streaming_fixed_cost = None
        try:
            streaming_fixed_cost = _measure(
                "streaming_fixed_cost", qs["streaming_scd2_replay"], warm_dir)
            print(f"# streaming_fixed_cost: {streaming_fixed_cost}s "
                  "(scd2 replay @ sf0.001)", file=sys.stderr)
        except Exception as exc:
            _err("streaming_fixed_cost", exc)

        _tp_prev = cpu_steal_sample()
        try:
            streaming_eps = _streaming_throughput(spark, sf_dir)
        except Exception as exc:
            streaming_eps = None
            _err("streaming_flagship", exc)
        # throughput window: steal recorded for evidence, excluded from
        # the contention max — the rate metric is engine-accounted per
        # batch and its estimator (max-of-3) already rejects blips
        _tp_pct = steal_window_pct(_tp_prev, cpu_steal_sample())
        if _tp_pct is not None:
            steal_by_window["streaming_throughput"] = round(_tp_pct, 2)
        load_samples.append(loadavg_1min())
        # the timings stand without their ledger: a failed parse costs
        # the layers field, never the artifact
        layers = None
        try:
            layers = ledger.close()
        except Exception as exc:
            print(f"# layers: ERROR {type(exc).__name__}: {exc}",
                  file=sys.stderr)

    total = round(sum(timings.values()), 3)
    load_after = load_samples[-1]
    seen = [x for x in load_samples if x is not None]
    load_max = max(seen) if seen else None
    steal_seen = [x for x in steal_pcts if x is not None]
    # the flag keys on the UNROUNDED max (r15 advisory: 10.004%
    # rounded to 10.0 and slipped past the strict > 10.0 check);
    # rounding is for the record fields only
    steal_max_raw = max(steal_seen) if steal_seen else None
    steal_max = round(steal_max_raw, 2) if steal_max_raw is not None else None
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "secondary_queries": secondary,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "load_before": load_before,
        "load_after": load_after,
        "load_max": load_max,
        "steal_max_pct": steal_max,
        # full-record only (shed by compact_line): which query windows
        # the steal actually hit, so a partially-contaminated run's
        # clean entries stay usable as evidence
        "steal_pct_by_query": steal_by_window,
        # full-record only: how many bounded re-measures each dirty
        # window cost (absent key = clean first attempt)
        "steal_retries": steal_retries,
        "cpus": cpus,
        "contended": contention_flag(load_before, load_max, cpus,
                                     steal_max_raw),
        "streaming_orders_per_sec": streaming_eps,
        "streaming_fixed_cost_sec": streaming_fixed_cost,
        "streaming_fixed_cost_metric": (
            "min-of-2 wall of the scd2 replay secondary at sf0.001 "
            "(~1.5k rows): per-entry streaming machinery price — "
            "query startup + 2 triggers of state-store open/commit "
            "at 8 partitions + staging/drain. Subtract from a replay "
            "secondary's time for its approximate plan cost."),
        "streaming_metric": ("engine-accounted steady-state rate: "
                             "max-of-3 of sum(numInputRows)/"
                             "sum(triggerExecution) over the same "
                             "progress entries, after an untimed "
                             "warm-up run"),
    }
    if errors:
        # a partial total is NOT comparable to the full-set baseline;
        # say so in the artifact instead of publishing a silently-low
        # number
        result["errors"] = errors
        result["value_is_partial"] = True
    if layers is not None:
        result["layers"] = {n: layers[n] for n in [
            *timings, *secondary, "streaming_fixed_cost"] if n in layers}

    # full record: file + stderr (never the tail-captured stdout)
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    print(json.dumps(result), file=sys.stderr)

    print(compact_line(result))


def compact_line(result: dict) -> str:
    """The record that MUST survive a 2000-char stdout tail capture:
    headline total + all headline times + streaming rate + secondary
    rollup, guaranteed <= 1500 chars (per-query detail is shed first
    if a pathological name set ever pushes past that)."""
    compact = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": result["unit"],
        "queries": result["queries"],
        "sf": result["sf"],
        "load_before": result.get("load_before"),
        "load_after": result.get("load_after"),
        "load_max": result.get("load_max"),
        "steal_max_pct": result.get("steal_max_pct"),
        "contended": result.get("contended"),
        "streaming_orders_per_sec": result["streaming_orders_per_sec"],
        "streaming_fixed_cost_sec": result.get("streaming_fixed_cost_sec"),
        "secondary_total": round(
            sum(result["secondary_queries"].values()), 3),
        "n_secondary": len(result["secondary_queries"]),
        "detail": "BENCH_DETAIL.json",
    }
    if result.get("errors"):
        compact["value_is_partial"] = True
        compact["n_errors"] = len(result["errors"])
    line = json.dumps(compact)
    if len(line) > 1500:
        compact["queries"] = "truncated, see BENCH_DETAIL.json"
        line = json.dumps(compact)
    assert len(line) <= 1500, "compact bench line must survive tail capture"
    return line


def _run_stream_once(spark, env_dir, address, states, name):
    """Run the streaming flagship to completion (availableNow) and
    return the finished StreamingQuery (for its progress metrics)."""
    from flink_precisely_demo_spark.streaming.pipeline import (
        drain_query,
        streaming_flagship,
    )
    out = streaming_flagship(spark, env_dir, address, states)
    q = (out.writeStream.outputMode("complete")
         .format("memory").queryName(name)
         .trigger(availableNow=True).start())
    drain_query(q, 300, name)
    return q


def _streaming_throughput(spark, sf_dir: str) -> float:
    """End-to-end streaming flagship rate: JSON CDC envelopes ->
    schema-driven decode -> parse_ts -> broadcast enrichment ->
    watermark -> tumbling SUM, measured as orders/sec through the
    whole pipeline (micro-batch mode, availableNow)."""
    from pyspark.sql import functions as F

    from flink_precisely_demo_spark.scratch import scratch_dir
    from flink_precisely_demo_spark.sources.cdc_json import (
        fold_key,
        synthesize_orders_envelope,
    )
    from flink_precisely_demo_spark.sources.parquet import load_table

    orders = load_table(spark, sf_dir, "orders")
    env_dir = scratch_dir(prefix="bench_cdc_")
    try:
        synthesize_orders_envelope(orders).write.mode("overwrite").text(env_dir)
        # dims: customer plays address, nation plays states (FIXTURES.md §B).
        # fold_key matches the envelope synthesizer's INT key domain
        # (int64 fixture keys exceed int32 from sf10 up)
        address = load_table(spark, sf_dir, "customer").select(
            fold_key(F.col("c_custkey")).alias("AddressID"),
            F.col("c_nationkey").alias("StateProvinceID"))
        states = load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("StateProvinceID"),
            F.lit("XX").alias("CountryRegionCode"),
            F.col("n_name").alias("Name"))
        # streaming agg state partitions: the group cardinality here is
        # tiny (25 states x windows), and each state-store partition
        # pays a fixed init cost — 8 stores, not 32 (on a cluster this
        # is sized to state volume, not core count)
        old_parts = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            # one untimed warm-up run: the first streaming query pays
            # one-off costs the batch warm-up above doesn't touch —
            # streaming-plan codegen, state-store provider class init,
            # microbatch-thread and memory-sink setup. A production
            # pipeline pays these once at job start, then runs for
            # days; they are not part of the steady-state rate.
            _run_stream_once(spark, env_dir, address, states,
                             "bench_stream_warm")
            # Rate = rows / triggerExecution from the engine's OWN
            # per-batch progress accounting, not wall clock around the
            # query lifecycle. Wall clock adds per-query start/stop
            # costs a long-running job never re-pays, and on this host
            # it absorbs 20x contention blips from unrelated load
            # (r02: the same pipeline measured 3.4k orders/s by
            # contended wall clock vs 23k+ by batch accounting).
            # max-of-3 on the per-run rate matches the batch-query
            # min-of-time estimator above: contention only ever adds
            # time. Rows and seconds both come from the SAME progress
            # entries (recentProgress is capped at ~100 entries, so a
            # precomputed total row count over a partial entry list
            # would overstate the rate; numerator and denominator must
            # share the window).
            rates = []
            for i in range(3):
                q = _run_stream_once(spark, env_dir, address, states,
                                     f"bench_stream_{i}")
                progress = [p for p in q.recentProgress
                            if p["numInputRows"] > 0]
                rows = sum(p["numInputRows"] for p in progress)
                secs = sum(p["durationMs"]["triggerExecution"]
                           for p in progress) / 1000.0
                if secs > 0:
                    rates.append(rows / secs)
                else:
                    # empty feed dir or progress retention dropped all
                    # row-bearing batches: this run carries no rate
                    # evidence — skip it rather than divide by zero
                    print(f"# bench_stream_{i}: no row-bearing progress "
                          "entries, run skipped", file=sys.stderr)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        if not rates:
            raise RuntimeError(
                "no streaming run produced row-bearing progress entries — "
                "refusing to report a rate (matches the partial-run refusal)")
        return round(max(rates), 1)
    finally:
        shutil.rmtree(env_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
