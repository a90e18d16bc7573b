"""Persistent bucketed layout: co-located, shuffle-free fact joins.

A broadcast join needs a small side; when BOTH sides are fact-scale
(orders ⋈ lineitem at 100 TB), every query pays two full shuffles on
the join key — unless the tables are WRITTEN pre-partitioned on that
key. Spark's persistent form of that contract is the bucketed table
(``write.bucketBy(n, key).sortBy(key).saveAsTable``): each side's
files are hash-bucketed into the same ``n`` buckets, the catalog
records the spec, and the planner joins bucket ``i`` to bucket ``i``
directly — a SortMergeJoin with ZERO Exchange under it, on every
query, forever. The shuffle is paid ONCE at layout time and amortized
across the table's whole query life; this is the single biggest
repeated-join lever at 100 TB (Hive/Trino bucketing and Iceberg's
bucket partition transform make the same trade).

The amortization claim requires the layout to OUTLIVE the session:
bucketing metadata lives in the catalog, the bytes live in the files,
and a fresh session must be able to re-attach the metadata to the
EXISTING files without rewriting a single byte. That re-attachment is
``CREATE TABLE … USING parquet CLUSTERED BY … LOCATION`` over the
written dir — Spark maps each file back to its bucket from the
file-name bucket suffix, so the registration is metadata-only (on
100 TB, a per-session rewrite would void the whole amortize-once
argument). Where the files live, whether they are complete and which
source they came from is the caller's fixture's business
(plans/queries.staged_fixture); this module only writes and
registers.

The writer repartitions into one task per bucket first so each bucket
lands in exactly ONE file — with >1 file per bucket Spark must
re-sort the merged bucket at read time; with one pre-sorted file the
``sortBy`` order is trusted and the read-side Sort can be elided.

No counterpart in the reference (extension scope, SURVEY.md §2.3);
the mechanism is Spark's own bucketed-table contract
(`spark.sql.sources.bucketing.enabled`, on by default).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(df: DataFrame, path: str, n_buckets: int,
                   key: str) -> None:
    """Write ``df`` at ``path`` hash-bucketed into ``n_buckets`` on
    ``key``, one file per bucket sorted by ``key``. Costs one key
    shuffle (the same one a single un-bucketed join would pay, here
    paid once) and leaves no catalog entry: ``bucketBy`` writes only
    through ``saveAsTable``, so a throwaway external entry is dropped
    again, which keeps the files."""
    name = f"bkt_write_{uuid.uuid4().hex}"
    (df.repartition(n_buckets, F.col(key))
       .write.format("parquet").bucketBy(n_buckets, key).sortBy(key)
       .option("path", path).saveAsTable(name))
    df.sparkSession.sql(f"DROP TABLE `{name}`")


def register_bucketed(spark: SparkSession, name: str, path: str,
                      schema_ddl: str, n_buckets: int, key: str) -> None:
    """Metadata-only (re-)registration of the bucketed files at
    ``path`` as table ``name``, replacing any entry under that name.
    Zero data movement: Spark recovers each file's bucket id from the
    writer's file-name suffix, and SORTED BY re-asserts the per-bucket
    order the one-file-per-bucket write made trustworthy."""
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    spark.sql(
        f"CREATE TABLE `{name}` ({schema_ddl}) USING parquet "
        f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
        f"INTO {n_buckets} BUCKETS LOCATION '{path}'")
