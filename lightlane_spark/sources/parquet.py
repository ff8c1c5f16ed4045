"""Parquet table source over the testdata layout (one file per table).

Reference parity: the reference's "dataset" is a SQL table reachable
through a connector (reference ``dumper/sql.py:31-47``); here a table
is a parquet path and the scan is ``spark.read.parquet`` — Catalyst
pushes filters into row-group stats and prunes columns automatically,
which is the scan behavior the reference hand-rolled with generated
SQL (SURVEY §4 rows 2-3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from lightlane_spark.cache import session_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def read_table(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    columns: list[str] | str | None = None,
    where: str | None = None,
    exclude: list[str] | None = None,
) -> DataFrame:
    """Scan a table with optional projection / predicate / exclusion.

    Mirrors the reference query builder's ``columns`` / ``where`` /
    ``exclude`` knobs (reference ``dumper/sql.py:31-57``,
    ``connector/dbapi.py:163-165``) as DataFrame ops so Catalyst can
    push them into the parquet scan.
    """
    path = table_path(sf_dir, table)
    # Inferred-schema memo, per session: ``spark.read.parquet``
    # re-infers the schema on EVERY call — a driver-side footer read +
    # py4j roundtrip measured at ~100 ms per call at local[32] (vs
    # ~15 ms with an explicit schema); at cluster scale schema
    # inference samples footers over the object store, the driver-side
    # cost §6 of the optimization guide warns about. The key carries
    # mtime+size so a rewritten file re-infers; the VALUE is only the
    # schema (never data or results), so every action still computes
    # from the parquet input. Single-file tables only: a directory's
    # stat does not change when a contained file is overwritten in
    # place, so dir layouts always re-infer.
    try:
        st = os.stat(path)
        key = (
            ("parquet_schema", os.path.abspath(path), st.st_mtime_ns, st.st_size)
            if os.path.isfile(path)
            else None
        )
    except OSError:
        key = None
    if key is None:
        df = spark.read.parquet(path)
    else:
        schema = session_memo(spark, key, lambda: spark.read.parquet(path).schema)
        df = spark.read.schema(schema).parquet(path)
    if exclude:
        df = df.drop(*exclude)
    if columns and columns != "*":
        if isinstance(columns, str):
            columns = [c.strip() for c in columns.split(",")]
        df = df.select(*columns)
    if where:
        df = df.filter(where)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every testdata table as a temp view for spark.sql use."""
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            spark.read.parquet(p).createOrReplaceTempView(t)
