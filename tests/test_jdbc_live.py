"""LIVE JDBC tests against embedded Derby (OP-01/OP-03/OP-12/OP-22).

Derby ships in Spark's own jars (the Hive metastore backend), so a
real JDBC endpoint exists in every Spark environment — no external
server needed. Embedded mode is single-JVM, which matches local[n]
exactly; on a cluster the same call shapes point at a networked
database, only the URL changes.

These tests upgrade the JDBC surface from option-contract-tested to
live-verified: table auto-creation + batched INSERT write, full and
range-partitioned reads (real per-task predicates), bounds probing
against ANSI identifier folding, OVERWRITE semantics, and the
reference's staging→anti-join-reconcile→rename MERGE dance executed
INSIDE the database via DriverManager.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lightlane_spark.sources.jdbc import (
    jvm_sql_executor,
    probe_bounds,
    read_jdbc,
    write_jdbc,
)
from lightlane_spark.sources.parquet import read_table

_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
_CTYPES = {
    "createTableColumnTypes": "o_orderstatus VARCHAR(8), o_orderpriority VARCHAR(32)"
}


@pytest.fixture()
def derby_url(tmp_path):
    return f"jdbc:derby:{tmp_path}/db;create=true"


def _orders(spark, sf_dir):
    return read_table(spark, sf_dir, "orders")


def test_live_write_read_roundtrip(spark, sf_dir, derby_url):
    orders = _orders(spark, sf_dir)
    write_jdbc(orders, derby_url, "orders_t", mode="append",
               properties={**_PROPS, **_CTYPES})
    back = read_jdbc(spark, derby_url, table="orders_t", properties=_PROPS)
    a = sorted(tuple(r) for r in orders.collect())
    b = sorted(tuple(r) for r in back.select(*orders.columns).collect())
    assert a == b


def test_live_range_partitioned_read(spark, sf_dir, derby_url):
    """OP-12 against a real endpoint: probe bounds (quoted — Derby
    folds unquoted identifiers to uppercase and would miss Spark's
    case-sensitive lowercase columns), then a 4-way split read whose
    union equals the full table."""
    orders = _orders(spark, sf_dir)
    write_jdbc(orders, derby_url, "orders_t", mode="append",
               properties={**_PROPS, **_CTYPES})
    lo, hi = probe_bounds(
        spark, derby_url, "orders_t", "o_orderkey", properties=_PROPS, quote='"'
    )
    assert (lo, hi) == (0, orders.count() - 1)
    split = read_jdbc(
        spark, derby_url, table="orders_t", splitby='"o_orderkey"',
        splits=4, bounds=(lo, hi), properties=_PROPS,
    )
    assert split.rdd.getNumPartitions() == 4
    assert split.count() == orders.count()


def test_live_overwrite_mode(spark, sf_dir, derby_url):
    orders = _orders(spark, sf_dir)
    write_jdbc(orders, derby_url, "orders_t", mode="append",
               properties={**_PROPS, **_CTYPES})
    write_jdbc(orders.limit(100), derby_url, "orders_t", mode="overwrite",
               properties={**_PROPS, **_CTYPES})
    assert read_jdbc(spark, derby_url, table="orders_t",
                     properties=_PROPS).count() == 100


def test_live_merge_inside_database(spark, sf_dir, derby_url):
    """OP-22/OP-27 live: the staging→reconcile→rename MERGE runs
    entirely inside Derby (no data back through Spark), and the result
    matches merge_upsert semantics computed in Spark."""
    orders = _orders(spark, sf_dir)
    write_jdbc(orders, derby_url, "orders_t", mode="append",
               properties={**_PROPS, **_CTYPES})
    staging = orders.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_orderpriority", F.lit("MERGED")
    )
    write_jdbc(
        staging, derby_url, "orders_t", mode="merge",
        primary_keys=["o_orderkey"],
        sql_executor=jvm_sql_executor(spark, derby_url),
        properties={**_PROPS, **_CTYPES},
        dialect="derby",
    )
    back = read_jdbc(spark, derby_url, table="orders_t", properties=_PROPS)
    assert back.count() == orders.count()
    merged = {r.o_orderkey for r in back.filter("o_orderpriority = 'MERGED'").collect()}
    assert merged == {r.o_orderkey for r in staging.collect()}
    # staging and reconcile temp tables are gone
    with pytest.raises(Exception):
        read_jdbc(spark, derby_url, table="z_etl_orders_t_staging",
                  properties=_PROPS).count()


def test_live_incremental_extract_from_derby(spark, sf_dir, derby_url, tmp_path):
    """The reference's core loop, live end-to-end: periodic incremental
    extract FROM a real database into a parquet lake with MERGE.
    Run 1 full-loads; new rows land in Derby; run 2 extracts ONLY rows
    past the lake's high watermark and merges them idempotently."""
    from lightlane_spark.operators.incremental import incremental_merge_load

    orders = _orders(spark, sf_dir)
    # time-like watermark: use o_orderdate; split so every delta date
    # is strictly after every seed date
    dates = sorted(r.o_orderdate for r in orders.select("o_orderdate").distinct().collect())
    dcut = dates[len(dates) // 2]
    seed = orders.filter(F.col("o_orderdate") <= F.lit(dcut))
    delta = orders.filter(F.col("o_orderdate") > F.lit(dcut))

    write_jdbc(seed, derby_url, "orders_t", mode="append",
               properties={**_PROPS, **_CTYPES})
    target = str(tmp_path / "lake")
    src = lambda: read_jdbc(spark, derby_url, table="orders_t",  # noqa: E731
                            properties=_PROPS).select(*orders.columns)
    n1 = incremental_merge_load(
        spark, src(), target, "o_orderdate", ["o_orderkey"]
    )
    assert n1 == seed.count()

    write_jdbc(delta, derby_url, "orders_t", mode="append",
               properties={**_PROPS, **_CTYPES})
    n2 = incremental_merge_load(
        spark, src(), target, "o_orderdate", ["o_orderkey"]
    )
    assert n2 == delta.count(), "second run must extract only past-watermark rows"
    lake = spark.read.parquet(target)
    assert lake.count() == orders.count()
    assert {r.o_orderkey for r in lake.collect()} == {
        r.o_orderkey for r in orders.collect()
    }


def _write_range(spark, url, table, null_keys=False):
    """``table`` with a bigint split column ``k`` = 0..999 (all NULL
    with ``null_keys``) and a payload ``v``."""
    k = F.lit(None).cast("bigint") if null_keys else F.col("id")
    df = spark.range(1000).select(k.alias("k"), F.col("id").alias("v"))
    write_jdbc(df, url, table, mode="overwrite", properties=_PROPS)


def _jdbc_extract(spark, url, **extract):
    from lightlane_spark.jobspec import build_pipeline

    spec = {"extract": {"kind": "jdbc", "url": url, "properties": _PROPS, **extract}}
    return build_pipeline(spark, spec).dataframe()


def test_split_extract_without_bounds_probes_them(spark, derby_url):
    """A jobspec JDBC extract with ``splits`` and no ``bounds`` probes
    the split column's min/max (reference ``dumper/sql.py:59-68``) and
    reads in ``splits`` ranges, not serially."""
    _write_range(spark, derby_url, "t")
    df = _jdbc_extract(spark, derby_url, table="t", splitby='"k"', splits=4)
    assert df.rdd.getNumPartitions() == 4
    assert sorted(r.v for r in df.collect()) == list(range(1000))


def test_split_extract_over_null_bounds_reads_serially(spark, derby_url):
    """An all-NULL split column probes NULL bounds: one serial read
    (reference ``dumper/sql.py:135-137``) that keeps every row."""
    _write_range(spark, derby_url, "t", null_keys=True)
    df = _jdbc_extract(spark, derby_url, table="t", splitby='"k"', splits=4)
    assert df.rdd.getNumPartitions() == 1
    assert sorted(r.v for r in df.collect()) == list(range(1000))


def test_split_query_extract_needs_bounds(spark, derby_url):
    """A ``query`` cannot be probed, so a split query without ``bounds``
    is refused instead of silently reading serially."""
    _write_range(spark, derby_url, "t")
    with pytest.raises(ValueError, match="bounds"):
        _jdbc_extract(spark, derby_url, query="SELECT * FROM t", splitby='"k"', splits=4)


def test_dedup_fuzzy_reads_jdbc_source_once(spark, sf_dir, derby_url, tmp_path):
    """The fuzzy-dedup stage reads its input three times (signatures,
    verifier, components); it persists it, so a JDBC extract scans the
    source once per run. Each scan runs the ``sessionInitStatement``,
    which here counts itself into ``scans``. The run releases what it
    persisted and keeps the rows of the same stage over parquet."""
    from lightlane_spark import cache
    from lightlane_spark.jobspec import run_job

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    write_jdbc(docs, derby_url, "docs", mode="overwrite", properties=_PROPS)
    jvm_sql_executor(spark, derby_url)(["CREATE TABLE scans (n INT)"])
    props = {**_PROPS, "sessionInitStatement": "INSERT INTO scans VALUES (1)"}
    jdbc_out, parquet_out = str(tmp_path / "jdbc"), str(tmp_path / "parquet")
    tracked = len(cache._TRACKED)
    run_job(spark, {
        "extract": {"kind": "jdbc", "url": derby_url, "table": "docs", "properties": props},
        "transforms": [{"op": "dedup_fuzzy"}],
        "sinks": [{"kind": "parquet", "path": jdbc_out}],
    })
    assert len(cache._TRACKED) == tracked
    assert read_jdbc(spark, derby_url, table="scans", properties=_PROPS).count() == 1
    run_job(spark, {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "documents",
                    "columns": ["doc_id", "text"]},
        "transforms": [{"op": "dedup_fuzzy"}],
        "sinks": [{"kind": "parquet", "path": parquet_out}],
    })
    rows = lambda p: sorted(tuple(r) for r in spark.read.parquet(p).collect())  # noqa: E731
    assert rows(jdbc_out) == rows(parquet_out)
