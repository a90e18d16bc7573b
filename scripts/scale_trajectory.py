"""Scale-trajectory measurement: run the compute-heavy extension
operators on the sf0.1 tables unioned x10 with shifted keys (50k
docs / 20k vectors) and compare against the 1x time. Sub-linear
growth on local[32] is the signal that per-row cost is flat — the
property that carries to a 1000-executor 100 TB run. Results are
appended to BASELINE.md by hand (this script just prints them).

Usage: python scripts/scale_trajectory.py
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from bench import measure_steal_proof, noop_write
from flink_precisely_demo_spark.operators.dedup import (
    minhash_near_dup_pairs,
    near_dup_clusters,
)
from flink_precisely_demo_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
)
from flink_precisely_demo_spark.sources.parquet import load_table
from flink_precisely_demo_spark.session import get_spark

SF = "/root/testdata/sf0.1"
FACTOR = 10


def x10(df, key):
    parts = [df.withColumn(key, F.col(key) + F.lit(i * 1_000_000)) for i in range(FACTOR)]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def timed(label, fn):
    best, steal, _ = measure_steal_proof(lambda: noop_write(fn()))
    print(f"{label}: {best:.2f}s"
          + (f" (steal {steal:.1f}%)" if steal is not None else ""))
    return best


def main():
    spark = get_spark("scale-trajectory", cpus=32)
    docs = load_table(spark, SF, "documents")
    emb = load_table(spark, SF, "embeddings")
    docs10 = x10(docs, "doc_id")
    emb10 = x10(emb, "vec_id")
    q = emb.filter(F.col("vec_id") < 8)
    cent = emb.filter(F.col("vec_id") < 8)

    # warmup
    minhash_near_dup_pairs(load_table(spark, "/root/testdata/sf0.001", "documents")) \
        .write.mode("overwrite").format("noop").save()

    r = {}
    r["minhash_1x"] = timed("minhash_pairs 1x (5k docs)", lambda: minhash_near_dup_pairs(docs))
    r["minhash_10x"] = timed("minhash_pairs 10x (50k docs)", lambda: minhash_near_dup_pairs(docs10))
    r["brute_1x"] = timed("bruteforce_topk 1x (2k vecs)", lambda: brute_force_topk(emb, q))
    r["brute_10x"] = timed("bruteforce_topk 10x (20k vecs)", lambda: brute_force_topk(emb10, q))
    r["ivf_1x"] = timed("ivf_topk 1x", lambda: ivf_topk(emb, q, cent))
    r["ivf_10x"] = timed("ivf_topk 10x", lambda: ivf_topk(emb10, q, cent))
    r["clusters_1x"] = timed("near_dup_clusters 1x", lambda: near_dup_clusters(docs))
    r["clusters_10x"] = timed("near_dup_clusters 10x", lambda: near_dup_clusters(docs10))
    for op in ("minhash", "brute", "ivf", "clusters"):
        print(f"{op}: {r[f'{op}_10x'] / r[f'{op}_1x']:.2f}x time at 10x data")

    # round-5 surfaces: media decode (embarrassingly parallel — the
    # trajectory should be ~flat per row) measured via the image
    # decode pipeline over synthesized JPEG payloads
    import numpy as np
    import pandas as pd

    from flink_precisely_demo_spark.operators.jpeg import encode_jpeg
    from flink_precisely_demo_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        image_features,
    )

    def media_df(n_rows):
        yy, xx = np.mgrid[0:64, 0:64]
        payloads = [encode_jpeg(np.stack(
            [(yy * 3 + i) % 256, (xx * 2 + i) % 256, (yy + xx + i) % 256],
            axis=-1).astype(np.uint8), quality=85) for i in range(100)]
        rows = [(i, {"media_type": "image", "format": "jpeg",
                     "width": None, "height": None, "n_channels": None,
                     "sample_rate": None, "duration_ms": None},
                 payloads[i % 100]) for i in range(n_rows)]
        return spark.createDataFrame(rows, MEDIA_SCHEMA).persist()

    m1, m10 = media_df(2000), media_df(20000)
    m1.count(), m10.count()
    r["media_1x"] = timed("image decode 1x (2k jpegs)",
                          lambda: image_features(m1))
    r["media_10x"] = timed("image decode 10x (20k jpegs)",
                           lambda: image_features(m10))
    print(f"media: {r['media_10x'] / r['media_1x']:.2f}x time at 10x data")
    del pd
    spark.stop()


if __name__ == "__main__":
    main()
