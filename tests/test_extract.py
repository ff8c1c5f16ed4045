"""OP-06/07/08/11/12 — extract-side operators vs DuckDB oracle."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest

from lightlane_spark.operators.extract import (
    exclude_columns,
    min_max,
    range_partitioned_read,
    schema_of,
    select_columns,
    with_filter,
)
from lightlane_spark.sources.parquet import read_table, table_path


def test_projection_and_filter(spark, sf_dir):
    df = read_table(
        spark, sf_dir, "lineitem", columns=["l_orderkey", "l_quantity"], where="l_quantity > 30"
    )
    got = df.count()
    exp = duckdb.sql(
        f"SELECT count(*) FROM '{table_path(sf_dir, 'lineitem')}' WHERE l_quantity > 30"
    ).fetchone()[0]
    assert got == exp
    assert df.columns == ["l_orderkey", "l_quantity"]


def test_read_table_leaves_nanos_as_long_alone(spark, sf_dir):
    """read_table must not change the caller's parquet settings: the
    testdata timestamps are µs, so events.ts reads as a timestamp with
    nanosAsLong left as the caller set it."""
    key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.set(key, "false")
    try:
        df = read_table(spark, sf_dir, "events")
        assert spark.conf.get(key) == "false"
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        assert df.select("ts").limit(1).collect()[0].ts is not None
    finally:
        spark.conf.unset(key)


def test_column_exclusion(spark, sf_dir):
    df = read_table(spark, sf_dir, "orders", exclude=["o_orderpriority", "o_orderstatus"])
    assert "o_orderpriority" not in df.columns and "o_orderkey" in df.columns
    assert schema_of(read_table(spark, sf_dir, "orders"), exclude=["o_custkey"]) == [
        c for c in read_table(spark, sf_dir, "orders").columns if c != "o_custkey"
    ]


def test_min_max_probe(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem")
    lo, hi = min_max(df, "l_orderkey")
    exp = duckdb.sql(
        f"SELECT min(l_orderkey), max(l_orderkey) FROM '{table_path(sf_dir, 'lineitem')}'"
    ).fetchone()
    assert (lo, hi) == exp


def test_min_max_all_null(spark):
    df = spark.createDataFrame([(None,), (None,)], "k: bigint")
    assert min_max(df, "k") == (None, None)


@pytest.mark.parametrize("splits", [1, 2, 3, 7])
def test_range_split_lossless(spark, sf_dir, splits):
    """The range-split read keeps every row of a non-NULL key: no
    dup/loss at the range boundaries (closed last range, reference
    sql.py:144-148)."""
    df = read_table(spark, sf_dir, "lineitem")
    split = range_partitioned_read(df, "l_orderkey", splits)
    assert split.count() == df.count()
    assert split.select("l_orderkey").distinct().count() == df.select(
        "l_orderkey"
    ).distinct().count()


def test_range_split_serial_fallback(spark):
    df = spark.createDataFrame([(None, 1.0), (None, 2.0)], "k: bigint, v: double")
    out = range_partitioned_read(df, "k", 4)
    assert out.count() == 2  # serial fallback keeps NULL-key rows


def test_range_split_probe_fires_one_job(spark, sf_dir):
    """Building the range-split read runs one limit-1 job (is any key
    non-NULL?); a min/max probe is a partial and a final aggregate over
    the whole key column, two jobs."""
    df = read_table(spark, sf_dir, "lineitem")
    sc = spark.sparkContext
    sc.setJobGroup("range_split_probe", "range_split_probe")
    try:
        range_partitioned_read(df, "l_orderkey", 4)
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup("range_split_probe")) == 1


@pytest.mark.parametrize(
    "ddl, keys",
    [
        ("k: bigint", [5, None, -3, 5, None, 10**12]),
        (
            "k: timestamp",
            [
                dt.datetime(2025, 1, 1, 0, 0, 0, 250000),
                None,
                dt.datetime(2025, 1, 1, 0, 0, 9, 999999),
                dt.datetime(2024, 12, 31, 23, 59, 59),
                None,
            ],
        ),
    ],
    ids=["bigint", "timestamp"],
)
def test_range_split_drops_only_null_keys(spark, ddl, keys):
    """Mixed NULL and non-NULL keys: the reference's range predicates
    drop the NULL-key rows and keep every other row once, the min and
    max keys included."""
    rows = [(k, i) for i, k in enumerate(keys)]
    df = spark.createDataFrame(rows, f"{ddl}, v: bigint")
    out = range_partitioned_read(df, "k", 4)
    assert sorted(r.v for r in out.collect()) == [
        i for i, k in enumerate(keys) if k is not None
    ]


def test_with_filter_and_select_passthrough(spark, sf_dir):
    df = read_table(spark, sf_dir, "lineitem")
    assert with_filter(df, None) is df
    assert select_columns(df, "*") is df
    assert exclude_columns(df, None) is df
