"""Bucketed-table co-location: the persistent layout must actually
eliminate the join-side shuffles, not just produce correct rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_precisely_demo_spark.plans.layout_queries import bucketed_pair
from flink_precisely_demo_spark.plans.queries import fixture_path
from flink_precisely_demo_spark.sources.parquet import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def no_broadcast(spark):
    """Pin the SortMergeJoin path: at test SF the small side would
    broadcast (also exchange-free, but that path doesn't exist at
    100 TB fact-fact scale — the bucketed contract is what does)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def _join(spark, o, line):
    j = o.join(line, o["o_orderkey"] == line["l_orderkey"])
    return (j.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items")))


def test_bucketed_join_has_no_join_exchange(spark, no_broadcast):
    o_name, l_name = bucketed_pair(spark, SF)
    plan_b = _join(spark, spark.table(o_name), spark.table(l_name)) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan_b, plan_b
    # exactly ONE exchange: the rollup's. The join itself rides the
    # bucket alignment — zero shuffles on either fact side.
    assert plan_b.count("Exchange") == 1, plan_b

    raw = _join(spark,
                load_table(spark, SF, "orders")
                .select("o_orderkey", "o_orderpriority"),
                load_table(spark, SF, "lineitem")
                .select("l_orderkey", "l_extendedprice"))
    plan_r = raw._jdf.queryExecution().executedPlan().toString()
    # the un-bucketed twin pays BOTH join-side shuffles + the rollup
    assert plan_r.count("Exchange") >= 3, plan_r


def test_bucketed_join_rows_match_raw(spark):
    o_name, l_name = bucketed_pair(spark, SF)
    got = _join(spark, spark.table(o_name), spark.table(l_name))
    want = _join(spark,
                 load_table(spark, SF, "orders")
                 .select("o_orderkey", "o_orderpriority"),
                 load_table(spark, SF, "lineitem")
                 .select("l_orderkey", "l_extendedprice"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def _inventory(path):
    import glob
    import os

    return sorted((f, os.path.getmtime(f), os.path.getsize(f))
                  for f in glob.glob(os.path.join(path, "part-*.parquet")))


def test_cold_catalog_reregisters_without_rewrite(spark, no_broadcast):
    """The 100 TB amortize-once contract: a session whose catalog does
    NOT know the table — simulated by dropping the external entry,
    which is exactly the state a fresh metastore-less session starts
    in — must re-attach metadata over the EXISTING bucketed files
    (CREATE TABLE … CLUSTERED BY … LOCATION) and still get the
    zero-join-exchange plan, with the file inventory (names, mtimes,
    sizes) untouched."""
    o_name, l_name = bucketed_pair(spark, SF)
    o_path = fixture_path("bkt_orders", SF)
    l_path = fixture_path("bkt_lineitem", SF)
    inv_before = _inventory(o_path), _inventory(l_path)
    assert inv_before[0] and inv_before[1]

    spark.sql(f"DROP TABLE `{o_name}`")        # cold catalog
    spark.sql(f"DROP TABLE `{l_name}`")
    assert not spark.catalog.tableExists(o_name)
    assert _inventory(o_path) == inv_before[0]  # DROP left the files

    o2, l2 = bucketed_pair(spark, SF)         # re-register, no rewrite
    assert (o2, l2) == (o_name, l_name)
    assert (_inventory(o_path), _inventory(l_path)) == inv_before

    got = _join(spark, spark.table(o2), spark.table(l2))
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange") == 1, plan  # rollup only
    want = _join(spark,
                 load_table(spark, SF, "orders")
                 .select("o_orderkey", "o_orderpriority"),
                 load_table(spark, SF, "lineitem")
                 .select("l_orderkey", "l_extendedprice"))
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))


def test_stale_catalog_entry_is_not_served(spark, tmp_path):
    """A catalog entry whose files were reclaimed (tempdir cleanup)
    is re-laid, not served; a rewritten source lays new twins under
    a new name instead of serving the old bytes."""
    import os
    import shutil

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    for t in ("orders", "lineitem"):
        shutil.copy(f"{SF}/{t}.parquet", f"{sf}/{t}.parquet")
    n_orders = load_table(spark, sf, "orders").count()
    names, paths = [], []
    try:
        names += bucketed_pair(spark, sf)
        o_name = names[0]
        paths += [fixture_path("bkt_orders", sf),
                  fixture_path("bkt_lineitem", sf)]
        shutil.rmtree(paths[0])                # files reclaimed
        assert bucketed_pair(spark, sf)[0] == o_name
        assert spark.table(o_name).count() == n_orders  # re-laid

        load_table(spark, sf, "orders").limit(10).toPandas() \
            .to_parquet(f"{sf}/orders.parquet.new")
        os.replace(f"{sf}/orders.parquet.new", f"{sf}/orders.parquet")
        names += bucketed_pair(spark, sf)
        o_new = names[2]
        paths += [fixture_path("bkt_orders", sf),
                  fixture_path("bkt_lineitem", sf)]
        assert o_new != o_name
        assert spark.table(o_new).count() == 10
    finally:
        for name in names:
            spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        for path in paths:
            shutil.rmtree(path, ignore_errors=True)


def test_one_file_per_bucket(spark):
    """The writer pre-repartitions one task per bucket so each bucket
    is a single pre-sorted file — multi-file buckets force a read-
    side re-sort of every merged bucket."""
    import glob
    import os

    bucketed_pair(spark, SF)
    files = glob.glob(os.path.join(fixture_path("bkt_orders", SF),
                                   "part-*.parquet"))
    assert 0 < len(files) <= 8, files
