"""Extract-side operators: projection, filter, boundary probe, and
range-partitioned scans.

Reference parity map (SURVEY §2.1):
  - OP-06 projection            -> ``select_columns``
  - OP-07 filter                -> ``with_filter``
  - OP-08 schema probe/exclude  -> ``schema_of`` / ``exclude_columns``
  - OP-11 min/max boundary      -> ``min_max`` (single agg pass — the
    reference issues two ``ORDER BY … LIMIT 1`` queries,
    ``dumper/sql.py:59-68``; one partial+final aggregate is strictly
    better)
  - OP-12 range-partitioned scan -> ``range_partitioned_read``
    (reference ``dumper/sql.py:70-97, 132-159``). The reference sends
    one query per range of ``[min, max]`` so MySQL serves them in
    parallel; here the same rows come from ONE scan, and Spark's split
    planning of the file supplies the parallelism. A union of N
    filtered rescans would decode every row group N times unless the
    file happens to be clustered on the key.

On JDBC sources the range split maps 1:1 onto Spark's
``partitionColumn/lowerBound/upperBound/numPartitions`` (see
``sources/jdbc.py::split_options``), which generates the reference's
range predicates and runs them as parallel partitions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def select_columns(df: DataFrame, columns: list[str] | str | None) -> DataFrame:
    """OP-06: projection; ``None``/``'*'`` selects everything."""
    if not columns or columns == "*":
        return df
    if isinstance(columns, str):
        columns = [c.strip() for c in columns.split(",")]
    return df.select(*columns)


def exclude_columns(df: DataFrame, exclude: list[str] | None) -> DataFrame:
    """OP-08: projection by exclusion list (reference ``dbapi.py:163-165``)."""
    return df.drop(*exclude) if exclude else df


def with_filter(df: DataFrame, where: str | Column | None) -> DataFrame:
    """OP-07: append a predicate (reference ``_with_where_clause``,
    ``dumper/sql.py:49-57`` — including the intended-but-buggy WHERE
    keyword handling; here Catalyst owns predicate composition)."""
    return df.filter(where) if where is not None else df


def schema_of(df: DataFrame, exclude: list[str] | None = None) -> list[str]:
    """OP-08/OP-09: column-name probe (reference LIMIT-0 +
    ``cursor.description`` dance, ``dbapi.py:153-186``). Free on a
    DataFrame — schema is known without executing anything."""
    cols = df.columns
    if exclude:
        drop = set(exclude)
        cols = [c for c in cols if c not in drop]
    return cols


def min_max(df: DataFrame, column: str) -> tuple[object, object]:
    """OP-11: one-pass min/max boundary probe.

    The reference runs two full sorts with LIMIT 1
    (``dumper/sql.py:59-68``); a partial+final aggregate is one scan
    and no sort. On parquet it is still a scan stage over the column:
    Spark answers MIN/MAX from footer statistics only with
    ``spark.sql.parquet.aggregatePushdown``, which is off by default.
    Returns ``(None, None)`` when the column is empty/all-NULL — the
    trigger for the serial fallback (``sql.py:135-137``).
    """
    row = df.agg(
        F.min(column).alias("lo"),
        F.max(column).alias("hi"),
    ).first()
    return (row["lo"], row["hi"])


def range_partitioned_read(
    df: DataFrame,
    splitby: str,
    splits: int,
) -> DataFrame:
    """OP-12: range-partitioned scan of ``df`` on ``splitby``.

    Keeps the rows the reference's ``splits`` range queries return
    (``dumper/sql.py:132-159``) from one scan: its ranges tile
    ``[min, max]`` of the non-NULL keys with the last range closed, so
    together they hold exactly the rows whose ``splitby`` is not NULL
    (its ``>= AND <`` predicates drop NULLs). The reference's fallback
    stays: when no key is non-NULL (its min/max bounds are NULL) the
    plain scan is returned, NULL-key rows included
    (``sql.py:135-137``). An emptiness probe of the non-NULL keys
    answers that with one limit-1 job, where ``min_max`` would run a
    partial and a final aggregate over the whole column.
    """
    if splits <= 1:
        return df
    keyed = df.filter(F.col(splitby).isNotNull())
    if keyed.isEmpty():
        return df  # serial fallback, reference sql.py:135-137
    return keyed
