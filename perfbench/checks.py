"""Output checks. None of this runs inside a timed interval.

Query ops are compared with their DuckDB oracle through the project's
comparator. ETL targets are compared with an independent DuckDB replay
of the same job sequence over the same generated inputs: row count and
an order-independent digest per target, and row counts of the CSV and
Hive-text sinks read back from disk.
"""

from __future__ import annotations

import glob
import os

import duckdb


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=1")  # small, steady memory next to the Spark driver
    return con


def parquet_dir(path: str) -> str:
    """DuckDB source for a Spark-written parquet directory (or a file)."""
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def digest(con, relation: str) -> tuple[int, int]:
    """(row count, order-independent digest) of a relation. Every value
    is compared as text after casting zoned timestamps to UTC wall time,
    so a JDBC round trip that turns a naive timestamp into a zoned one
    still matches."""
    cols = con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    parts = []
    for name, typ, *_ in sorted(cols):
        expr = f'"{name}"'
        if typ.startswith("TIMESTAMP WITH TIME ZONE"):
            expr = f"CAST({expr} AS TIMESTAMP)"
        parts.append(f"coalesce(CAST({expr} AS VARCHAR), '\\N')")
    row = " || '\x1f' || ".join(parts)
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash({row})), 0) FROM {relation}"
    ).fetchone()
    return int(n), int(h)


def text_rows(path: str, header: bool) -> int:
    """Rows in a Spark CSV / Hive-text sink directory (values hold no
    newlines: the generated inputs have none)."""
    n = 0
    for f in glob.glob(os.path.join(path, "part-*")):
        with open(f, "rb") as fh:
            lines = fh.read().count(b"\n")
        n += max(0, lines - 1) if header and lines else lines
    return n


def dedup_keep_first_sql(relation: str, keys: list[str], orderby: list[str], columns: list[str]) -> str:
    """The loader's dedup: one row per key, first by ``orderby`` then by
    every other column ascending."""
    named = set(keys) | set(orderby)
    order = orderby + [c for c in columns if c not in named]
    cols = ", ".join(columns)
    return (
        f"SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY "
        f"{', '.join(keys)} ORDER BY {', '.join(order)}) AS __rn FROM {relation}) "
        f"WHERE __rn = 1"
    )


def merge_sql(target: str, staging: str, keys: list[str], orderby: list[str],
              columns: list[str]) -> str:
    """MERGE replay: dedup the batch, keep target rows whose key is not in
    the batch, then union the batch."""
    dedup = dedup_keep_first_sql(staging, keys, orderby, columns)
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    cols = ", ".join(columns)
    return (
        f"SELECT {cols} FROM {target} t WHERE NOT EXISTS "
        f"(SELECT 1 FROM ({dedup}) s WHERE {on}) "
        f"UNION ALL {dedup}"
    )


class Collected:
    """A query result already collected, in the shape the comparator
    reads (``columns`` and ``collect()``)."""

    def __init__(self, columns: list[str], rows: list) -> None:
        self.columns, self._rows = columns, rows

    def collect(self) -> list:
        return self._rows


def compare_query(con, df, oracle: str) -> tuple[bool, int]:
    """Compare a query's collected result with its DuckDB oracle.
    Returns (ok, result rows)."""
    from oracle_compare import compare

    schema_ok, values_ok, n_spark, _ = compare(con, df, oracle)
    return schema_ok and values_ok, n_spark
