"""Bucketed tables — co-located joins without a shuffle.

At 100 TB the dominant cost of a fact⋈fact join is shuffling both
sides by the key. Pre-bucketing both tables on the join key (same
bucket count) makes the join bucket-local: Spark plans a SortMergeJoin
with NO Exchange on either side. The shuffle is paid once at write
time and amortized over every subsequent join/aggregation on that key.

This is the Spark-native equivalent of the co-location the reference
delegates to Hive's clustered tables (its merge queries run inside
Hive/Impala over managed tables, ``hive_loader.py:184-201``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Save as a bucketed (and optionally sorted) managed table.

    ``sort_by`` the join key too: SMJ then skips the per-task sort.
    Bucket count should divide evenly into cluster parallelism and
    keep buckets under a few hundred MB at the target scale.
    """
    writer = df.write.format(fmt).mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.saveAsTable(table)


def read_bucketed_table(spark: SparkSession, table: str) -> DataFrame:
    """Plain table read — bucketing metadata rides along from the
    catalog and Catalyst uses it to elide the join shuffle."""
    return spark.table(table)


def merge_bucketed_table(
    spark: SparkSession,
    table: str,
    staging: DataFrame,
    primary_keys: list[str],
    num_buckets: int = 32,
    sort_by: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """MERGE an incremental batch into a bucketed table, keeping the
    bucketed layout — the recurring 100 TB load path.

    Plan shape: the staging batch is broadcast, so the anti-join side
    of the merge scans the target WITHOUT any Exchange (a plain-path
    MERGE shuffles the whole target on the PK every batch). The
    reconcile write re-buckets the merged rows — one repartition on
    the bucket key, the price of restoring the write-once layout; in
    a real deployment the table is also date-partitioned and only
    affected partitions rewrite. Commit is the reference's 3-step
    rename dance (``mysql_loader.py:119-123``) as catalog renames: a
    reader between the two renames finds no table, and the next merge
    first renames a leftover ``<table>__retired`` back.

    The result table keeps its bucket metadata: every subsequent
    fact⋈fact join or MERGE on the PK stays Exchange-free on the
    target side.
    """
    from lightlane_spark.loaders.loader import merge_upsert

    reconcile = f"{table}__reconcile"
    retired = f"{table}__retired"

    def restore_retired() -> None:
        # a swap that died between its renames left the rows in retired
        if not spark.catalog.tableExists(table) and spark.catalog.tableExists(retired):
            spark.sql(f"ALTER TABLE {retired} RENAME TO {table}")

    restore_retired()
    if not spark.catalog.tableExists(table):
        write_bucketed_table(
            staging, table, primary_keys, num_buckets, sort_by, fmt=fmt
        )
        return
    target = spark.table(table)
    merged = merge_upsert(target, F.broadcast(staging), primary_keys)
    spark.sql(f"DROP TABLE IF EXISTS {reconcile}")
    spark.sql(f"DROP TABLE IF EXISTS {retired}")
    # one file per bucket: route rows to their bucket's task first
    write_bucketed_table(
        merged.repartition(num_buckets, *[merged[k] for k in primary_keys]),
        reconcile,
        primary_keys,
        num_buckets,
        sort_by,
        fmt=fmt,
    )
    try:
        spark.sql(f"ALTER TABLE {table} RENAME TO {retired}")
        spark.sql(f"ALTER TABLE {reconcile} RENAME TO {table}")
    except Exception:
        restore_retired()
        raise
    spark.sql(f"DROP TABLE IF EXISTS {retired}")
