"""The finite-replay protocol: one owner for every streaming replay.

A replay query (the ``streaming_*_replay`` oracle pairs and the
streamed index fixtures) drives a streaming operator over a FINITE
feed cut into micro-batches whose boundaries a batch SQL oracle can
model exactly. The protocol:

- :func:`stage_feeds` / :func:`stage_feed` split a frame by a batch
  value 0..n-1 in ONE partitioned write into ``b{k}`` files, one per
  batch value, with ascending pinned mtimes — so a file source with
  ``maxFilesPerTrigger=1`` runs batch k as trigger k. An empty batch
  still gets a (zero-row) file, so the trigger count is stable across
  scale factors. A frame that is exactly one string ``value`` column
  is staged as text (JSON-lines envelopes), anything else as parquet.
- :func:`open_feed` opens a staged directory as that stream, typed by
  the staged files' own schema (never a literal that can drift from
  the data).
- :func:`staged_feed_rows`, :func:`adaptive_key_groups`,
  :func:`adaptive_join_state_partitions` size state from the staged
  volume, and :func:`shuffle_partitions` applies the state partition
  count for the duration of one replay.

Draining is ``streaming/pipeline.drain`` / ``replay_to_parquet``.
"""

from __future__ import annotations

import json
import os
import shutil
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_FEED, _BATCH = "__feed", "__batch"
_MTIME0 = 1_000_000_000
# footer key under which Spark records the schema of a parquet file it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def staged_feed_rows(feed_dir: str) -> int:
    """Total row count of a staged feed directory, read from the
    parquet footers (metadata only — no Spark job, microseconds)."""
    import pyarrow.parquet as pq

    total = 0
    for name in os.listdir(feed_dir):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(
                os.path.join(feed_dir, name)).metadata.num_rows
    return total


def adaptive_key_groups(spark, rows: int,
                        rows_per_group: int = 2000,
                        cap: int = 65536) -> int:
    """Key-group count for the keyed-state kernel
    (streaming/keyed_state.py). A keyed-state operator pays a Python
    call + Arrow round-trip per key group per trigger, so groups must
    be few when volume is small; per-group batch memory is
    rows/groups, so groups must grow with volume. Floor of 4x
    parallelism keeps every state partition busy with several groups
    (``rows=0`` gives the floor, every operator's default); ~2k
    rows/group bounds a group's in-flight Python list at any scale."""
    floor = 4 * spark.sparkContext.defaultParallelism
    return max(floor, min(cap, rows // max(1, rows_per_group)))


def adaptive_join_state_partitions(spark, rows: int,
                                   rows_quantum: int = 12000,
                                   floor: int = 4) -> int:
    """Partition count for the NATIVE stream-stream join replays.

    The symmetric hash join keeps FOUR state stores per partition
    (KeyToNumValues / KeyWithIndexToValues x two sides), so its
    per-partition per-trigger machinery cost is several times the
    single-store operators' — measured at sf0.1 (~200k rows,
    3 triggers): 4 partitions 4.1 s, 8 -> 4.9 s, 16 -> 7.9 s.
    Modelling wall as triggers*parts*c_store + work/parts gives the
    optimum at parts ~ sqrt(rows/quantum), which is what this
    returns: sqrt scaling reaches the core count only when per-row
    work genuinely amortizes the stores (sf10 here), instead of the
    linear ramp that over-partitions mid-scale replays."""
    import math

    cap = max(floor, spark.sparkContext.defaultParallelism)
    return max(floor, min(cap, math.isqrt(max(rows, 0)
                                          // max(1, rows_quantum))))


def stage_feeds(df: DataFrame, work: str, feed: str, names: list[str],
                batch: str | Column, n_batches: int = 2) -> dict[str, str]:
    """Stage ``df`` as one replay feed per value in ``names`` of its
    column ``feed``, with ``n_batches`` trigger files each, in ONE
    partitioned write. ``batch`` is either the name of a column of
    ``df`` holding the batch value 0..n-1 or an expression computing
    it; neither it nor ``feed`` is staged. Returns feed name ->
    directory ``work/<name>``, for :func:`open_feed`."""
    if isinstance(batch, str):
        df = df.withColumnRenamed(batch, _BATCH)
    else:
        df = df.withColumn(_BATCH, batch)
    df = df.withColumnRenamed(feed, _FEED)
    data = df.drop(_FEED, _BATCH)
    text = data.dtypes == [("value", "string")]
    staged = os.path.join(work, "+".join(names) + "_staged")
    writer = (df.filter(F.col(_FEED).isin(names))
                .repartition(_FEED, _BATCH)
                .write.partitionBy(_FEED, _BATCH))
    (writer.text if text else writer.parquet)(staged)

    dirs = {}
    for name in names:
        d = dirs[name] = os.path.join(work, name)
        os.makedirs(d)
        for k in range(n_batches):
            part = os.path.join(staged, f"{_FEED}={name}", f"{_BATCH}={k}")
            srcs = ([f for f in os.listdir(part) if f.startswith("part-")]
                    if os.path.isdir(part) else [])
            dst = os.path.join(d, f"b{k}" + (".txt" if text else ".parquet"))
            if len(srcs) > 1:
                # a second file would silently add a trigger and shift
                # every later batch off the oracle's boundaries
                raise RuntimeError(
                    f"feed split precondition: expected one part file "
                    f"per (feed, batch), got {srcs} in {part}")
            if srcs:
                os.rename(os.path.join(part, srcs[0]), dst)
            elif text:
                open(dst, "w").close()
            else:
                empty = os.path.join(staged, f"empty_{name}_{k}")
                data.limit(0).coalesce(1).write.parquet(empty)
                src = next(f for f in os.listdir(empty)
                           if f.startswith("part-"))
                os.rename(os.path.join(empty, src), dst)
            os.utime(dst, (_MTIME0 + 10 * k,) * 2)
    shutil.rmtree(staged)
    return dirs


def stage_feed(df: DataFrame, work: str, name: str, batch: str | Column,
               n_batches: int = 2) -> str:
    """:func:`stage_feeds` for a single feed ``work/name``."""
    return stage_feeds(df.withColumn(_FEED, F.lit(name)), work, _FEED,
                       [name], batch, n_batches)[name]


def open_feed(spark: SparkSession, feed_dir: str) -> DataFrame:
    """Open a staged feed as a stream: one file per trigger in staging
    order, typed by the staged parquet files' own schema (read from a
    footer — no Spark job) or as a text ``value`` stream. Never a
    literal schema: the embeddings element type, for one, is float in
    some generated scale dirs and double in others, and a float schema
    over double parquet fails the vectorized reader."""
    reader = spark.readStream.option("maxFilesPerTrigger", 1)
    files = sorted(f for f in os.listdir(feed_dir) if f.endswith(".parquet"))
    if not files:
        return reader.format("text").load(feed_dir)
    import pyarrow.parquet as pq

    meta = pq.read_schema(os.path.join(feed_dir, files[0])).metadata
    schema = StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    return reader.schema(schema).parquet(feed_dir)


@contextmanager
def shuffle_partitions(spark: SparkSession, n: int):
    """Run the block with ``spark.sql.shuffle.partitions = n``. A
    streaming query pins its state partitioning when it starts, so a
    replay sizes its state stores here; batch plans built after the
    block see the previous value again."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)
