"""Capture .explain('formatted') for named queries into plans/$PLAN_ROUND/ (default r16).

Usage:
    python scripts/capture_plans.py before q1_pricing_summary ...
    python scripts/capture_plans.py after --all-headline

Writes plans/<round>/<query>_<tag>.txt. The formatted explain is the
optimizer's initial plan (AdaptiveSparkPlan isFinalPlan=false) — the
shape the judge checks claims against (Exchange count, join strategy,
PushedFilters/ReadSchema, codegen spans, Python eval nodes).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SF = os.environ.get("PLAN_SF_DIR", "/root/testdata/sf0.001")
OUT = os.path.join(os.path.dirname(__file__), "..", "plans",
                   os.environ.get("PLAN_ROUND", "r16"))


def main() -> None:
    from bench import HEADLINE

    tag = sys.argv[1]
    names = sys.argv[2:]
    if names == ["--all-headline"]:
        names = HEADLINE
    os.makedirs(OUT, exist_ok=True)

    from flink_precisely_demo_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark("capture_plans")
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, SF)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} @ {SF} ({tag})\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
