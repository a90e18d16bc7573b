"""Materialize an sf1-scale dataset (10x sf0.1) on disk at /tmp/sf1.

The union-xN in-memory trick measures plan growth but not a real
data scale-up (single-file scans, no new content). This writes REAL
multi-file parquet at 10x rows so bench.py can run against it
unmodified (SPARK_GRAFT_SF_DIR=/tmp/sf1 python bench.py).

Replication rules preserve the star schema's referential integrity:
- region/nation: unchanged (TPC-H keeps 5/25 at every SF).
- customer/supplier/part: key-shifted replicas, nationkeys unchanged.
- orders: o_orderkey and o_custkey shifted together; lineitem's
  l_orderkey/l_partkey/l_suppkey shifted to match.
- events: event_id/user_id shifted (10x users, same time range —
  window row counts grow 10x, the realistic shape).
- documents: replica 0 keeps the original text; replicas 1..9 get
  REGENERATED token soup of the same length (md5-derived tokens,
  deterministic in (doc_id, replica)) — NOT copies, because a copied
  corpus makes every replica a true near-duplicate and the minhash
  pair output grows ~N^2 by construction (the r3 measurement
  artifact); a real 10x corpus has 10x content, not 10x copies.
- embeddings: replicas get deterministic per-dimension perturbation
  (hash-derived, +-0.05) so vectors are distinct but the cluster
  structure survives for IVF.

Usage: python scripts/make_sf1.py [outdir] [factor]
       (defaults /tmp/sf1, 10 -> sf1; factor=100 -> sf10 at ~60 M
       lineitem / 15 M orders, the r6 materialized scale point)
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from flink_precisely_demo_spark.session import get_spark            # noqa: E402
from flink_precisely_demo_spark.sources.parquet import load_table   # noqa: E402

SRC = "/root/testdata/sf0.1"
FACTOR = 10
SHIFT = 100_000_000   # per-replica key offset; 99 * 1e8 < 2^63, int64-safe


def replicate(df, shift_cols, per_replica=None):
    """Union FACTOR key-shifted replicas. ``per_replica(df, i)``
    optionally rewrites content columns for replicas i >= 1."""
    parts = []
    for i in range(FACTOR):
        p = df
        for c in shift_cols:
            p = p.withColumn(c, F.col(c) + F.lit(i * SHIFT))
        if per_replica is not None and i > 0:
            p = per_replica(p, i)
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def fresh_text(df, i):
    """Regenerate `text` as md5-derived token soup of the same token
    count, deterministic in (doc_id, replica)."""
    n_tokens = F.greatest(F.lit(1), F.size(F.split(F.col("text"), r"\s+")))
    soup = F.array_join(
        F.transform(
            F.sequence(F.lit(1), n_tokens),
            lambda j: F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id").cast("string"),
                                  F.lit(str(i)), j.cast("string"))),
                1, 8)),
        " ")
    return df.withColumn(
        "text", F.when(F.col("text").isNotNull(), soup)) \
        .withColumn("n_chars", F.length("text").cast("long"))


def perturb_embedding(df, i):
    noise = F.transform(
        F.col("embedding"),
        lambda x, j: x + (F.pmod(
            F.xxhash64(F.col("vec_id"), F.lit(i), j), F.lit(1000)
        ).cast("float") - 500.0) / 10_000.0)
    return df.withColumn("embedding", noise)


def main() -> None:
    global FACTOR
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    if len(sys.argv) > 2:
        FACTOR = int(sys.argv[2])
    spark = get_spark("make_sf1")
    plans = {
        "region": (["r_regionkey"][:0], None),     # unchanged
        "nation": ([], None),
        "customer": (["c_custkey"], None),
        "supplier": (["s_suppkey"], None),
        "part": (["p_partkey"], None),
        "orders": (["o_orderkey", "o_custkey"], None),
        "lineitem": (["l_orderkey", "l_partkey", "l_suppkey"], None),
        "events": (["event_id", "user_id"], None),
        "documents": (["doc_id"], fresh_text),
        "embeddings": (["vec_id"], perturb_embedding),
    }
    for name, (shift_cols, per_replica) in plans.items():
        df = load_table(spark, SRC, name)
        if not shift_cols and per_replica is None:
            big = df     # fixed dims stay fixed at every SF
        else:
            big = replicate(df, shift_cols, per_replica)
        path = os.path.join(out_dir, f"{name}.parquet")
        # keep output files near the sf1 size (~64-128 MB targets at
        # larger factors) so the scan parallelism grows with the data
        n_parts = max(1, ((8 if name in ("lineitem", "orders", "events")
                           else 2) * FACTOR) // 10)
        big.repartition(n_parts) \
           .write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        print(f"{name}: {n} rows -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()
