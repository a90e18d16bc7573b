"""Data-layout optimization: Z-order (Morton) clustering audit.

At 100 TB the cheapest query is the one that never reads the file:
parquet min/max row-group statistics prune scans, but only if the
write layout CLUSTERS each filter column. Sorting by one column
destroys locality in every other; interleaving the bits of two sort
keys (Morton / Z-order, the Delta Lake `OPTIMIZE ZORDER BY` design)
keeps both dimensions' per-file ranges tight simultaneously.

`zorder_layout_stats` makes that measurable and oracle-checkable: it
assigns every orders row to one of 16 files under (a) the natural
insertion order (o_orderkey ranges) and (b) Z-order of
(o_custkey, order day), then reports each file's min/max span in
both dimensions and the `pruning_area` (the product of the two
spans + 1 margins) — the volume of key-space a min/max-stats pruner
must treat as "maybe present". Z-order files carry areas orders of
magnitude smaller than natural-order files on the custkey dimension,
which is exactly why a custkey-filtered scan can skip them.

The Morton code is pure integer bit arithmetic — identical in Spark
(shiftright/bitwiseAND/multiply) and DuckDB (>> & *) — so the whole
audit full-hash-compares. Plan shape: one scan, one 32-group
aggregate (16 files x 2 layouts via an explode of the two
assignments); the only scalar (row count for the natural split)
broadcasts.

No counterpart in the reference (extension scope, SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet import load_table
from .queries import query, staged_fixture

_BITS = 16          # per-dimension key width; z fits in 32 bits
_N_FILES = 16
_EPOCH = "1995-01-01"


def _morton_sql(x: str, y: str) -> str:
    """DuckDB Morton interleave of two 16-bit ints (x even bits,
    y odd bits) as plain shift/and/multiply arithmetic."""
    terms = []
    for i in range(_BITS):
        terms.append(f"((({x}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({y}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def _morton_col(x: F.Column, y: F.Column) -> F.Column:
    """Spark twin of :func:`_morton_sql` (same arithmetic, same
    operand order)."""
    z = F.lit(0).cast("long")
    for i in range(_BITS):
        z = z + F.shiftright(x, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        z = z + F.shiftright(y, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
    return z


@query(
    "zorder_layout_stats",
    oracle=f"""
    WITH k AS (
      SELECT o_orderkey,
             CAST(o_custkey % {1 << _BITS} AS BIGINT) AS x,
             CAST(date_diff('day', TIMESTAMP '{_EPOCH} 00:00:00',
                            o_orderdate) % {1 << _BITS} AS BIGINT) AS y
      FROM orders
    ),
    n AS (SELECT COUNT(*) AS n_rows,
                 GREATEST(MAX(x), 1) AS max_x,
                 GREATEST(MAX(y), 1) AS max_y
          FROM k),
    s AS (
      SELECT o_orderkey, x, y,
             x * {(1 << _BITS) - 1} // n.max_x AS xn,
             y * {(1 << _BITS) - 1} // n.max_y AS yn,
             n.n_rows AS n_rows
      FROM k CROSS JOIN n
    ),
    z AS (
      SELECT x, y,
             {_morton_sql('xn', 'yn')} >> {32 - 4} AS z_file,
             CAST(o_orderkey * {_N_FILES} // n_rows AS BIGINT)
               AS nat_file
      FROM s
    ),
    lays AS (
      SELECT 'zorder' AS layout, z_file AS file_id, x, y FROM z
      UNION ALL
      SELECT 'natural', nat_file, x, y FROM z
    )
    SELECT layout, file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS min_cust, MAX(x) AS max_cust,
           MIN(y) AS min_day, MAX(y) AS max_day,
           CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1)
                AS BIGINT) AS pruning_area
    FROM lays
    GROUP BY layout, file_id
    """,
)
def _zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file min/max spans under natural vs Z-order layout (module
    docstring). o_orderkey is dense 0..N-1 in the test data, so the
    natural layout is `key * 16 / N` (insertion-order file splits);
    the Z-order layout takes the top 4 bits of the 32-bit Morton
    code. A hash match proves the interleave bit-for-bit and the
    span/area accounting; the payload of the result is the area gap
    between the two layouts — the quantified pruning win."""
    o = load_table(spark, sf_dir, "orders")
    k = o.select(
        "o_orderkey",
        (F.col("o_custkey") % (1 << _BITS)).cast("long").alias("x"),
        (F.datediff(F.col("o_orderdate"),
                    F.lit(_EPOCH).cast("timestamp_ntz"))
         % (1 << _BITS)).cast("long").alias("y"))
    n = k.agg(F.count(F.lit(1)).alias("n_rows"),
              F.greatest(F.max("x"), F.lit(1)).alias("max_x"),
              F.greatest(F.max("y"), F.lit(1)).alias("max_y"))
    # normalize each dimension to the full 16-bit range first — the
    # raw keys may occupy only the low bits, and an un-normalized
    # Morton code would leave the top (bucketing) bits all zero
    s = (k.crossJoin(F.broadcast(n))
          .select("o_orderkey", "x", "y", "n_rows",
                  F.expr(f"x * {(1 << _BITS) - 1} DIV max_x").alias("xn"),
                  F.expr(f"y * {(1 << _BITS) - 1} DIV max_y").alias("yn")))
    z = s.select("x", "y",
                 F.shiftright(_morton_col(F.col("xn"), F.col("yn")),
                              32 - 4).alias("z_file"),
                 F.expr(f"o_orderkey * {_N_FILES} DIV n_rows")
                  .cast("long").alias("nat_file"))
    both = (z.select(F.lit("zorder").alias("layout"),
                     F.col("z_file").alias("file_id"), "x", "y")
             .unionAll(z.select(F.lit("natural").alias("layout"),
                                F.col("nat_file").alias("file_id"),
                                "x", "y")))
    return (both.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min("x").alias("min_cust"), F.max("x").alias("max_cust"),
        F.min("y").alias("min_day"), F.max("y").alias("max_day"))
        .select("layout", "file_id", "n_rows",
                "min_cust", "max_cust", "min_day", "max_day",
                ((F.col("max_cust") - F.col("min_cust") + 1)
                 * (F.col("max_day") - F.col("min_day") + 1))
                .cast("long").alias("pruning_area")))


_N_BUCKETS = 8


def _bucketed_twin(spark: SparkSession, sf_dir: str, tbl: str, key: str,
                   cols: list[str]) -> str:
    """Catalog name of ``tbl``'s bucketed twin (``cols``, 8 buckets on
    ``key``). Its files are the staged fixture ``bkt_<tbl>``, shared
    across processes; the table is registered over them once per
    session, and again after this process rebuilt them. The name is
    the fixture dir's, so an entry under it points at the fixture."""
    import os
    import re

    from ..operators.bucketed import register_bucketed, write_bucketed
    from ..operators.lsm import index_ok

    df = load_table(spark, sf_dir, tbl).select(cols)
    built = []

    def build(stage: str) -> None:
        write_bucketed(df, stage, _N_BUCKETS, key)
        built.append(stage)

    path = staged_fixture(f"bkt_{tbl}", sf_dir, index_ok, build)
    name = re.sub(r"\W", "_", os.path.basename(path))
    if built or not spark.catalog.tableExists(name):
        register_bucketed(spark, name, path, df.schema.toDDL(),
                          _N_BUCKETS, key)
    return name


def bucketed_pair(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Bucketed twins of orders and lineitem, hashed into the same 8
    buckets on the join key."""
    return (_bucketed_twin(spark, sf_dir, "orders", "o_orderkey",
                           ["o_orderkey", "o_orderpriority"]),
            _bucketed_twin(spark, sf_dir, "lineitem", "l_orderkey",
                           ["l_orderkey", "l_extendedprice",
                            "l_discount"]))


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,6))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def _bucketed_colocated_join(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Fact-to-fact join over persistent bucketed twins
    (operators/bucketed.py): orders and lineitem are written
    hash-bucketed into the same 8 buckets on the join key, so the
    planner joins bucket i to bucket i with ZERO Exchange under the
    join — the layout paid the shuffle once at write time and every
    subsequent join of these tables rides it free. At 100 TB, where
    neither side broadcasts, this is the difference between two
    full-table shuffles per query and none (the plan property is
    pinned in tests/test_bucketed.py with broadcast disabled; at
    bench scale AQE may legitimately broadcast the small side
    instead — same result, and the bucketed layout still serves the
    scale path).

    Results must equal the same join on the raw parquet — which is
    exactly what the oracle computes, so the hash check proves the
    bucketed rewrite is lossless. Revenue under exact decimal
    accumulation on both engines.

    Scale: one scan per side (bucket-aligned), zero join exchanges,
    one ~5-group partial-agg shuffle for the rollup."""
    from ..operators.windowed_agg import sum_exact

    o_name, l_name = bucketed_pair(spark, sf_dir)
    o = spark.table(o_name)
    line = spark.table(l_name)
    j = o.join(line, o["o_orderkey"] == line["l_orderkey"])
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 sum_exact(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))).alias("revenue")))
