"""Size-aware oracle sweep at a materialized scale point (sf1/sf10).

The pytest sweep (tests/test_oracle_parity.py with SF_DIR=...) fully
materializes BOTH engines' results per pair; at sf10 several queries
return 10M+ rows and the pandas compare dominates wall-clock without
adding evidence (their kernels are already swept green at sf1). This
driver hash-compares every pair whose output is small enough to
materialize honestly; for the row-explosion pairs it runs a
VALUE-LEVEL digest compare (oracle_check.digest_compare: both engines
reduce their full output to exact order-independent per-column
digests — counts, decimal sums, min/max, byte totals — that must
match exactly) plus a row-count check, replacing the old count-only
evidence. Queries whose DuckDB twin is cost-infeasible at this SF but
that derive ONLY from the documents table run both engines against a
derived sf_dir whose documents table is deterministically sliced
(doc_id % 20 = 0): the same predicate reaches both engines by
construction, so the FULL hash compare applies, just on bounded
input. The artifact says exactly which pairs got which check.

One invocation sweeps one or several scale points, each in its own
child process, and merges the per-entry outcomes into one
SWEEP_r{N}.json keyed by entry -> {sf: status}, plus the per-SF
summaries.

RESUMABLE (two 2h-budget overruns once voided a full sf10 pass each
time): every completed entry is checkpointed to
SWEEP_r{N}_{label}.progress.jsonl AS IT FINISHES, and a rerun
carries those results over and only runs what is missing
(failed/errored entries always re-run — resume must not fossilize a
red row). A budget overrun now costs the tail of one scale point,
not the whole pass. Delete a progress file to force a fresh run of
that scale point.

Usage: python scripts/sweep_scale.py <round> <sf_dir> [<sf_dir> ...]
e.g.:  python scripts/sweep_scale.py 9 /tmp/sf1 /tmp/sf10
Per-pair detail goes to stderr.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
# pairs whose Spark output has more rows get the digest compare
MAX_ROWS = 3_000_000

sys.path.insert(0, os.path.join(HERE, ".."))
sys.path.insert(0, os.path.join(HERE, "..", "tests"))


def _bucket(status: str) -> str:
    """Map a per-entry status string to its artifact bucket."""
    if status.startswith("full-bounded-docs"):
        return "bounded"
    if status.startswith("full("):
        return "full"
    if status.startswith("digest("):
        return "digest"
    if status == "no-oracle":
        return "rows_only"
    if status.startswith("skipped-oracle-cost"):
        return "skipped"
    return "failed"


def _load_progress(path: str) -> dict[str, dict]:
    """Completed entries from a prior run. Failed/errored rows are
    dropped so they re-run: resume continues a pass, it never
    launders a red row into the merged artifact."""
    carried: dict[str, dict] = {}
    if not os.path.exists(path):
        return carried
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            row = json.loads(line)
            if _bucket(row["status"]) != "failed":
                carried[row["name"]] = {
                    "status": row["status"], "sec": row["sec"]}
    return carried


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--point"]:
        sweep_point(args[1], args[2])
        return
    if len(args) < 2:
        sys.exit("usage: sweep_scale.py <round> <sf_dir> [<sf_dir> ...]")
    rnd, sf_dirs = args[0], args[1:]

    per_sf: dict[str, dict] = {}
    entries: dict[str, dict] = {}
    failed_any = False
    for sf_dir in sf_dirs:
        label = os.path.basename(sf_dir.rstrip("/"))
        progress = os.path.join(
            HERE, "..", f"SWEEP_r{rnd}_{label}.progress.jsonl")
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--point", sf_dir,
             progress],
            capture_output=True, text=True, check=False)
        sys.stderr.write(proc.stderr)
        lines = [ln for ln in proc.stdout.splitlines()
                 if ln.startswith("{")]
        if not lines:
            # the child crashed before printing its JSON line: surface
            # ITS diagnosis. The progress file keeps what completed.
            sys.stderr.write(
                f"the sweep of {sf_dir} produced no JSON "
                f"(rc={proc.returncode}); stderr above is the real "
                f"failure. Completed entries are checkpointed in "
                f"{os.path.normpath(progress)} — rerun to resume.\n")
            sys.exit(proc.returncode or 1)
        res = json.loads(lines[-1])
        detail = res.pop("detail", {})
        per_sf[label] = res
        failed_any = failed_any or res["n_failed"] > 0
        for name, d in detail.items():
            entries.setdefault(name, {})[label] = d["status"]

    out = {"round": rnd, "scale_points": list(per_sf),
           "summaries": per_sf, "entries": entries}
    path = os.path.join(HERE, "..", f"SWEEP_r{rnd}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {os.path.normpath(path)}; failed_any={failed_any}")
    sys.exit(1 if failed_any else 0)


def sweep_point(sf_dir: str, progress: str) -> None:
    """Sweep every pair at ``sf_dir`` (resuming from ``progress``) and
    print one JSON line with the summary and per-pair detail."""
    carried = _load_progress(progress)
    if carried:
        print(f"# resume: carrying {len(carried)} completed entries "
              f"from {progress}", file=sys.stderr, flush=True)

    import __spark_entry__ as m
    from oracle_check import compare, digest_compare, duckdb_con

    from flink_precisely_demo_spark.session import get_spark

    spark = get_spark("sweep_scale")
    con = duckdb_con(sf_dir)
    qs, oracles = m.queries(), m.oracle_sql()

    # single-table queries whose twin (or BOTH sides) is cost-
    # pathological at sf10 — the band-store unroll and the 5-gram
    # self-join on documents, and the label-blocked cosine self-join
    # on embeddings (10 labels x 20k vectors = ~2.4B candidate pairs
    # PER ENGINE at sf10): both engines run against the same
    # deterministically sliced dir instead, so the FULL hash compare
    # applies on bounded input rather than a count on unbounded
    doc_bounded = {"streaming_dedup_replay", "curation_contamination",
                   "dedup_embedding_cosine", "dedup_semantic"}
    bounded_dir = _make_doc_slice(spark, sf_dir)
    bounded_con = duckdb_con(bounded_dir)

    skip = {s for s in os.environ.get("SWEEP_SKIP", "").split(",") if s}
    only = {s for s in os.environ.get("SWEEP_ONLY", "").split(",") if s}
    buckets: dict[str, list[str]] = {
        "full": [], "digest": [], "bounded": [], "rows_only": [],
        "skipped": [], "failed": []}
    detail: dict[str, dict] = {}
    t_start = time.time()

    def record(name: str, status: str, sec: float,
               from_cache: bool = False) -> None:
        buckets[_bucket(status)].append(name)
        detail[name] = {"status": status, "sec": sec}
        tag = " (resumed)" if from_cache else ""
        print(f"# {name}: {status} [{sec:.1f}s]{tag}",
              file=sys.stderr, flush=True)
        if not from_cache:
            with open(progress, "a") as f:
                f.write(json.dumps(
                    {"name": name, "status": status, "sec": sec}) + "\n")
                f.flush()

    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name in carried:
            row = carried[name]
            record(name, row["status"], row["sec"], from_cache=True)
            continue
        t0 = time.time()
        if name in skip:
            # oracle-side cost is pathological at this SF even on the
            # bounded slice; recorded explicitly, validated at the
            # previous scale point
            record(name, "skipped-oracle-cost", 0)
            continue
        try:
            sql = oracles.get(name)
            q_dir, q_con = ((bounded_dir, bounded_con)
                            if name in doc_bounded else (sf_dir, con))
            df = fn(spark, q_dir)
            n_spark = df.count()
            if sql is None:
                status = "no-oracle"
            elif n_spark > MAX_ROWS:
                # the digest row carries row_cnt, so one aggregate
                # pass per engine covers count AND values — no
                # separate COUNT round trip over a billion-pair join
                problems = digest_compare(df, q_con, sql)
                if problems:
                    status = f"DIGEST-FAIL {problems[:3]}"
                else:
                    status = f"digest({n_spark})"
            else:
                problems = compare(df, q_con, sql)
                if problems:
                    status = f"FAIL {problems[:2]}"
                elif name in doc_bounded:
                    status = f"full-bounded-docs({n_spark})"
                else:
                    status = f"full({n_spark})"
        except Exception as exc:  # noqa: BLE001
            status = f"ERROR {type(exc).__name__}: {exc}"[:300]
        record(name, status, round(time.time() - t0, 1))

    print(json.dumps({
        "sf_dir": sf_dir,
        "max_rows_for_full_compare": MAX_ROWS,
        "n_full_hash_match": len(buckets["full"]),
        "n_digest_match": len(buckets["digest"]),
        "n_full_bounded_docs": len(buckets["bounded"]),
        "n_rows_only": len(buckets["rows_only"]),
        "n_failed": len(buckets["failed"]),
        "n_skipped_oracle_cost": len(buckets["skipped"]),
        "n_resumed": len(carried),
        "failed": buckets["failed"],
        "digest_match": buckets["digest"],
        "full_bounded_docs": buckets["bounded"],
        "rows_only": buckets["rows_only"],
        "skipped_oracle_cost": buckets["skipped"],
        "wall_sec": round(time.time() - t_start, 1),
        "detail": detail,
    }))
    spark.stop()


def _make_doc_slice(spark, sf_dir: str) -> str:
    """Derived sf_dir with documents AND embeddings sliced to a
    CONTIGUOUS 1/20 id range and every other table symlinked — the
    bounded input both engines see for the cost-pathological
    single-table pairs. A range slice (not modular) preserves the
    local pair structure near-dup/contamination queries measure: a
    doc's neighbors in its replica stay in the slice, so the bounded
    results stay non-trivial (the modular slice returned 0
    contamination pairs — agreed by both engines, but empty)."""
    sliced = {"documents": "doc_id", "embeddings": "vec_id"}
    out = f"{sf_dir.rstrip('/')}_docslice"
    marker = os.path.join(out, "_SLICE_OK_V3")
    if not os.path.exists(marker):
        os.makedirs(out, exist_ok=True)
        from oracle_check import TABLES
        for t in TABLES:
            src = os.path.join(sf_dir, f"{t}.parquet")
            dst = os.path.join(out, f"{t}.parquet")
            if t in sliced:
                df = spark.read.parquet(src)
                limit = max(df.count() // 20, 1000)
                (df.filter(f"{sliced[t]} < {limit}")
                 .coalesce(4).write.mode("overwrite").parquet(dst))
            elif not os.path.exists(dst):
                os.symlink(os.path.abspath(src), dst)
        with open(marker, "w") as f:
            f.write("ok\n")
    return out


if __name__ == "__main__":
    main()
