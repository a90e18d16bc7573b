"""SQL-DDL entry-point twin (reference entry point 1).

The reference creates every source and sink with SQL DDL strings and
wires them with INSERT INTO (StreamingJob.java:87-109 `sqlUpdate(
createTable...)`, :130-131 `INSERT INTO output ...`). The repo's
other queries use the StructType-direct idiom (SURVEY.md §1.2); this
query drives the same lineage shape through the catalog instead:

  CREATE TABLE <src> USING parquet  ->  INSERT OVERWRITE <sink>
  -> SELECT FROM <sink>

so a user porting DDL-defined pipelines has a checked template. The
result is oracle-checked end-to-end — the hash compare covers the
whole DDL -> insert -> scan round trip, not just the SELECT.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from .queries import fixture_path, query


def _slug(sf_dir: str) -> str:
    return re.sub(r"[^A-Za-z0-9]+", "_", sf_dir.strip("/"))


@query(
    "ddl_entry_pipeline",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
             AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def _ddl_entry_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = f"ddl_orders_{_slug(sf_dir)}"
    sink = f"ddl_priority_sink_{_slug(sf_dir)}"
    sink_loc = fixture_path("ddl_priority_sink", sf_dir)
    spark.sql(f"DROP TABLE IF EXISTS {src}")
    spark.sql(f"""
        CREATE TABLE {src}
        USING parquet OPTIONS (path '{sf_dir}/orders.parquet')
    """)
    spark.sql(f"DROP TABLE IF EXISTS {sink}")
    spark.sql(f"""
        CREATE TABLE {sink} (
          o_orderpriority STRING, n_orders BIGINT, total_price DOUBLE
        ) USING parquet LOCATION '{sink_loc}'
    """)
    # decimal-exact accumulation (oracle_check gotcha: double sums
    # drift across engines) then a double on the wire, like the
    # other aggregate queries
    spark.sql(f"""
        INSERT OVERWRITE TABLE {sink}
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
                 AS total_price
        FROM {src}
        WHERE o_orderstatus = 'O'
        GROUP BY o_orderpriority
    """)
    return spark.table(sink)
