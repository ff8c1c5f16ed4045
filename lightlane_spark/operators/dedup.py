"""Keyed window dedup — OP-30.

Reference semantics (``loader/hive_loader.py:127-145``):
``ROW_NUMBER() OVER (PARTITION BY uniq_keys ORDER BY orderby)``, keep
``rnk = 1``. Validation preserved: dedup requires keys; default order
= the keys themselves (``hive_loader.py:76-82``). Documented
deviation: the reference's default produces a nondeterministic
tie-break among true duplicates; we append the remaining columns to
the ordering so ties resolve deterministically (SURVEY §7.4.3).

Scale: one shuffle on the dedup keys; AQE handles skewed keys. When
the caller doesn't care about which duplicate wins,
``drop_duplicates`` (map-side partial dedup) is cheaper.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _order_cols(df: DataFrame, orderby: list[str | Column]) -> list[Column]:
    cols = []
    for o in orderby:
        cols.append(F.col(o) if isinstance(o, str) else o)
    return cols


def dedup_keep_first(
    df: DataFrame,
    keys: list[str],
    orderby: list[str | Column] | None = None,
) -> DataFrame:
    """Keep exactly one row per ``keys`` group, first under ``orderby``.

    ``orderby=None`` → order by the keys themselves (the reference's
    default, ``hive_loader.py:80-82``). Every remaining column is
    appended to the ordering so exact-tie groups still yield stable
    output.
    """
    if not keys:
        raise ValueError("dedup requires at least one key column")
    order = _order_cols(df, list(orderby) if orderby else list(keys))
    # Tie-break on every column not already named (string entries
    # only — Column expressions can't be reliably introspected).
    named = set(keys) | {o for o in (orderby or []) if isinstance(o, str)}
    order += [F.col(c) for c in df.columns if c not in named]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        df.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") == 1)
        .drop("__rnk")
    )
