"""Bucketed co-located joins: the join plan must contain no Exchange."""

from __future__ import annotations

import pytest

from lightlane_spark.loaders.bucketing import read_bucketed_table, write_bucketed_table
from lightlane_spark.plans.explain import plan_summary
from lightlane_spark.sources.parquet import read_table


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bucketed_join_has_no_exchange(spark, sf_dir, no_broadcast):
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    write_bucketed_table(orders, "b_orders", ["o_orderkey"], 8, sort_by=["o_orderkey"])
    write_bucketed_table(
        lineitem, "b_lineitem", ["l_orderkey"], 8, sort_by=["l_orderkey"]
    )
    joined = read_bucketed_table(spark, "b_orders").join(
        read_bucketed_table(spark, "b_lineitem"),
        on=[spark.table("b_orders").o_orderkey == spark.table("b_lineitem").l_orderkey],
    )
    ps = plan_summary(joined)
    assert ps.sortmerge_joins >= 1, ps.text[:600]
    assert ps.exchanges == 0, "bucketed join must not shuffle:\n" + ps.text[:800]
    # and the result is correct
    assert joined.count() == lineitem.count()
    # non-bucketed baseline DOES shuffle — proves the assertion bites
    plain = orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
    assert plan_summary(plain).exchanges > 0
    spark.sql("DROP TABLE b_orders")
    spark.sql("DROP TABLE b_lineitem")


def test_merge_bucketed_table_keeps_layout(spark, sf_dir, no_broadcast):
    from pyspark.sql import functions as F

    from lightlane_spark.loaders.bucketing import merge_bucketed_table
    from lightlane_spark.loaders.loader import merge_upsert

    orders = read_table(spark, sf_dir, "orders")
    spark.sql("DROP TABLE IF EXISTS m_orders")
    merge_bucketed_table(spark, "m_orders", orders, ["o_orderkey"], num_buckets=8)

    staging = orders.filter("o_orderkey % 3 = 0").withColumn(
        "o_orderpriority", F.lit("MERGED")
    )
    # the merge plan must not shuffle the target side: broadcast anti
    # join against the bucketed scan
    target = spark.table("m_orders")
    mplan = plan_summary(
        merge_upsert(target, F.broadcast(staging), ["o_orderkey"])
    )
    assert mplan.broadcast_joins >= 1, mplan.text[:600]
    assert "Exchange hashpartitioning(o_orderkey" not in mplan.text, mplan.text[:900]

    merge_bucketed_table(spark, "m_orders", staging, ["o_orderkey"], num_buckets=8)
    back = spark.table("m_orders")
    assert back.count() == orders.count()
    assert back.filter("o_orderpriority = 'MERGED'").count() == staging.count()

    # post-merge the table is still bucketed: self-join has no Exchange
    a = spark.table("m_orders")
    b = spark.table("m_orders")
    joined = a.join(b, a.o_orderkey == b.o_orderkey)
    ps = plan_summary(joined)
    assert ps.exchanges == 0, "merged table lost bucketing:\n" + ps.text[:800]
    spark.sql("DROP TABLE m_orders")


def test_merge_bucketed_table_recovers_retired(spark, sf_dir):
    """A merge that died between its two catalog renames left the rows
    in ``<table>__retired``; the next merge renames it back first, so
    every old row survives next to the batch."""
    from pyspark.sql import functions as F

    from lightlane_spark.loaders.bucketing import merge_bucketed_table

    orders = read_table(spark, sf_dir, "orders")
    spark.sql("DROP TABLE IF EXISTS r_orders")
    spark.sql("DROP TABLE IF EXISTS r_orders__retired")
    merge_bucketed_table(spark, "r_orders", orders, ["o_orderkey"], num_buckets=4)
    spark.sql("ALTER TABLE r_orders RENAME TO r_orders__retired")
    staging = orders.filter("o_orderkey % 5 = 0").withColumn(
        "o_orderpriority", F.lit("MERGED")
    )
    merge_bucketed_table(spark, "r_orders", staging, ["o_orderkey"], num_buckets=4)
    back = spark.table("r_orders")
    assert back.count() == orders.count()
    assert back.filter("o_orderpriority = 'MERGED'").count() == staging.count()
    assert not spark.catalog.tableExists("r_orders__retired")
    spark.sql("DROP TABLE r_orders")
