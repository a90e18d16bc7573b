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
- :func:`state_layout` is the one sizing rule for a bounded stateful
  replay: state partitions and key groups from the input's row count
  (:func:`feed_rows`, read from parquet footers or estimated from a
  text prefix, no Spark job), and :func:`shuffle_partitions` applies
  both for the duration of one replay. An unbounded stream (the
  ``streaming_flagship`` tail) has no volume to size from and keeps
  the session's partitions.

Draining is ``streaming/pipeline.drain`` / ``replay_to_parquet``.
"""

from __future__ import annotations

import json
import math
import os
import shutil
from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_FEED, _BATCH = "__feed", "__batch"
_MTIME0 = 1_000_000_000
# footer key under which Spark records the schema of a parquet file it wrote
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# bytes of a text file read to estimate a feed's mean line length
_PREFIX_BYTES = 1 << 16
# key groups of the enclosing shuffle_partitions block, None outside one
_GROUPS: ContextVar[int | None] = ContextVar("key_groups", default=None)


def feed_rows(*dirs: str) -> int:
    """Rows in the feed directories ``dirs``, with no Spark job:
    parquet files count from their footers; JSON-lines and text files
    as their bytes over the mean line length of the first non-empty
    one's bounded prefix. ``_``/``.`` entries (a file sink's
    ``_spark_metadata``, checksum files) are skipped."""
    import pyarrow.parquet as pq

    files = [os.path.join(d, n) for d in dirs for n in sorted(os.listdir(d))
             if not n.startswith(("_", "."))]
    rows = sum(pq.ParquetFile(f).metadata.num_rows
               for f in files if f.endswith(".parquet"))
    text = {f: os.path.getsize(f) for f in files
            if not f.endswith(".parquet") and os.path.isfile(f)}
    sample = next((f for f, size in text.items() if size), None)
    if sample:
        with open(sample, "rb") as f:
            head = f.read(_PREFIX_BYTES)
        rows += sum(text.values()) * max(1, head.count(b"\n")) // len(head)
    return rows


def state_layout(spark: SparkSession, rows: int,
                 stores: int = 1) -> tuple[int, int]:
    """``(partitions, key_groups)`` for a bounded stateful replay of
    ``rows`` input rows whose stateful operator keeps ``stores`` state
    stores per partition (4 for the native stream-stream join:
    KeyToNumValues and KeyWithIndexToValues per side).

    Partitions. Each trigger pays a fixed cost per state-store
    instance (open, commit, and for the keyed-state kernel a Python
    worker), while per-row work splits across partitions. Modelling
    wall as ``triggers * parts * stores * c + rows * w / parts`` puts
    the optimum at ``parts ~ sqrt(rows / (stores * q))``. ``q = 3000``
    rows fits the optima measured at sf0.1 on 4 cores (best of 3): the
    attribution join (40k rows, 4 stores) ran 3.0 s on 1 partition,
    3.2 s on 2 and 3.9 s on 4; scd2 (195k rows) 4.7 s on 4 and 6.0 s
    on 8; the enrichment join (158k rows) 3.6 s on 4 and 4.6 s on 8.
    The fully-streaming flagship's queries (2k-8k rows each) on 4
    partitions kept 4 Python workers and paid about 4x the state-store
    update and commit time of 1 partition, for no wall-time gain. The
    count is clamped to ``[1, defaultParallelism]``, so it reaches the
    core count only when per-row work amortizes the stores.

    Key groups (streaming/keyed_state.py). A keyed-state operator pays
    one Python call per group per trigger, and a call holds
    ``rows / groups`` rows in a Python list: ``max(4 * partitions,
    rows // 2000)`` keeps every partition busy with several groups
    and bounds a call's list at any scale."""
    cores = spark.sparkContext.defaultParallelism
    parts = max(1, min(cores, math.isqrt(max(rows, 0) // (stores * 3000))))
    return parts, max(4 * parts, rows // 2000)


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
def shuffle_partitions(spark: SparkSession, n: int, groups: int):
    """Run the block with ``spark.sql.shuffle.partitions = n`` and with
    ``groups`` key groups for every keyed-state operator built in it:
    ``shuffle_partitions(spark, *state_layout(spark, rows))``. A
    streaming query pins its state partitioning when it starts, so a
    replay sizes its state here; batch plans built after the block see
    the previous values again."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    token = _GROUPS.set(groups)
    try:
        yield
    finally:
        spark.conf.set(key, prev)
        _GROUPS.reset(token)


def scoped_key_groups(spark: SparkSession) -> int:
    """Key-group count for a keyed-state operator built now: the
    enclosing :func:`shuffle_partitions` block's, else four per
    default partition."""
    return _GROUPS.get() or 4 * spark.sparkContext.defaultParallelism
