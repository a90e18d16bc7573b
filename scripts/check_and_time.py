"""Oracle-verify (sf0.01, driver-style comparison) then time the named
queries at $PLAN_SF_DIR (default sf0.1) the way bench.py does, through
``bench.Ledger``: a tuned session with the event log on,
``Ledger.measure`` (bench's ``measure_steal_proof``: min-of-2,
re-measured while the window's CPU steal is above 10%), and one layers
record per query.

Usage:
    python scripts/check_and_time.py name1 name2 ...
    SKIP_ORACLE=1 python scripts/check_and_time.py ...   # time only

Prints ``time <name>: <best>s  attempts <n>, steal <pct>%`` as each
query finishes, then one ``layers <name>:`` line per query with its
jobs, stages, tasks, executor CPU seconds, cpu_run_ratio and
driver_self_s (see bench.py's docstring for how to read them).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tests"))

SF = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.1")
ORACLE_SF = "/root/testdata/sf0.01"


def main() -> None:
    from bench import Ledger

    with Ledger("check_and_time") as ledger:
        check_and_time(ledger, sys.argv[1:])


def check_and_time(ledger, names: list[str]) -> None:
    """Oracle-check, warm, then time ``names`` in ``ledger``'s session."""
    import __spark_entry__ as entry_mod

    spark = ledger.spark
    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()

    if not os.environ.get("SKIP_ORACLE"):
        from oracle_check import duckdb_con, compare
        con = duckdb_con(ORACLE_SF)
        ok = True
        for name in names:
            probs = compare(qs[name](spark, ORACLE_SF), con, osql[name])
            status = "PASS" if not probs else "FAIL " + "; ".join(probs)
            print(f"oracle {name}: {status}", flush=True)
            ok = ok and not probs
        if not ok:
            print("ORACLE FAILURES — not timing", flush=True)
            sys.exit(1)

    # warm like bench
    for w in names[:2]:
        try:
            qs[w](spark, "/root/testdata/sf0.001") \
                .write.mode("overwrite").format("noop").save()
        except Exception as exc:
            print(f"# warm {w}: {exc}", file=sys.stderr)

    for name in names:
        best, steal, attempts = ledger.measure(name, qs[name], SF)
        print(f"time {name}: {best:.3f}s  attempts {attempts}"
              + (f", steal {steal:.1f}%" if steal is not None else ""),
              flush=True)
    for name, rec in ledger.close().items():
        print(f"layers {name}: jobs {rec['spark.jobs']} stages "
              f"{rec['spark.stages']} tasks {rec['spark.tasks']} "
              f"executor_cpu_s {rec['spark.executor_cpu_s']} "
              f"cpu_run_ratio {rec['cpu_run_ratio']} "
              f"driver_self_s {rec['spark.driver_self_s']}", flush=True)


if __name__ == "__main__":
    main()
