"""SparkSession construction.

One builder for tests, bench, and the driver contract. Local mode is
used for testing only; every config here is chosen to also be correct
on a large multi-executor cluster (AQE, skew-join handling, Arrow).

Scale notes (100 TB design):
- ``spark.sql.adaptive.enabled``: runtime re-planning (partition
  coalescing, skew-join splitting, dynamic broadcast) is the main
  defence against mis-sized shuffles at scale.
- ``spark.sql.session.timeZone=UTC``: all event-time semantics are
  UTC, matching the reference's ``ZoneOffset.UTC`` parse
  (reference DateParser.java:16) and the DuckDB oracle's naive
  UTC timestamps.
- shuffle partitions default to the local core count; on a real
  cluster this is overridden by the submitter (or left to AQE's
  coalescing with a high initial partition count).
- the local core count is ``SPARK_GRAFT_CPUS``, else the cores this
  process may run on; the driver heap is ``SPARK_DRIVER_MEMORY``,
  else half the host's memory, capped at 48g.
- two settings apply to local masters only (``local[...]``); a cluster
  master keeps Spark's defaults for both:
  - ``spark.sql.streaming.checkpointFileManagerClass`` is the
    FileSystem-based manager. The default FileContext manager's rename
    asks ``RawLocalFileSystem.getFileLinkStatus``, which without
    libhadoop forks ``readlink`` for the source and the destination of
    every offsets/commits WAL file, state-store delta, file-sink
    metadata file and their ``.crc`` files (28% of the stream thread's
    samples on a warm ``streaming_flagship_full`` replay, 4 cores). The
    FileSystem manager renames with ``File.renameTo``, an atomic POSIX
    rename on one local disk. Hadoop's ``.crc`` files and Spark's
    checkpoint checksums
    (``spark.sql.streaming.checkpoint.fileChecksum.enabled``) stay on.
  - ``spark.python.daemon.module`` is ``worker_daemon``, which stops
    a Python worker from re-reading ``pyspark.zip``'s central
    directory at the start of every task (see that module), and the
    package root goes on ``spark.executorEnv.PYTHONPATH`` so the
    daemon imports from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
                   or len(os.sched_getaffinity(0)))


def _default_driver_memory() -> str:
    """Half of ``MemTotal``, capped at 48g (48g where there is no
    ``/proc/meminfo``): a heap larger than the host lets one session
    grow until the kernel kills it instead of collecting garbage."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(line.split()[1]) for line in f
                       if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "48g"
    return f"{max(1, min(48 << 10, kib // 2 >> 10))}m"


def get_spark(app_name: str = "flink_precisely_demo_spark",
              cpus: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` only affects local mode; on a cluster the master URL is
    taken from the environment / spark-submit and this is ignored.
    """
    n = cpus or DEFAULT_CPUS
    master = os.environ.get("SPARK_MASTER", f"local[{n}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY")
                or _default_driver_memory())
        # streaming replays drain through a parquet FILE sink
        # (streaming/pipeline.replay_to_parquet) — output size never
        # touches the driver, so the default 1g maxResultSize stands
        # (the r11 8g raise is reverted; the tuned session no longer
        # diverges from a plain driver session on result caps)
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    if master.startswith("local"):
        # local-only fixed costs; see the scale notes above
        builder = (
            builder.config(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager")
            .config("spark.python.daemon.module",
                    "flink_precisely_demo_spark.worker_daemon")
            .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
