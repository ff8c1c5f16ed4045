"""Mode-aware table loader — OP-24..OP-32.

Reference parity (SURVEY §2.3): the reference loads a staging table
and then reconciles it into the target with one of three modes
(``loader/hive_loader.py:97-204``, ``loader/mysql_loader.py:66-129``):

  - OVERWRITE: replace target content (MySQL 3-step RENAME swap,
    ``mysql_loader.py:119-123``).
  - APPEND: INSERT INTO → ``mode('append')``.
  - MERGE (upsert): keep target rows whose PK is NOT in staging
    (LEFT OUTER JOIN … IS NULL — an anti-join), UNION ALL staging,
    write to a reconcile table, rename swap (``hive_loader.py:162-182``).

OVERWRITE and MERGE share one commit, ``Loader._commit``: a staged
write beside the table and a rename swap; the layout stays a plain
directory of data files.

Validation rules preserved (``hive_loader.py:62-82``): mode must be
one of the three; MERGE requires primary keys and forbids static
partitioning; dedup requires keys, default order = keys.

Pipeline ordering preserved (``hive_loader.py:184-193``): optional
dedup of staging happens BEFORE the merge, and pre/post SQL hooks
bracket the operation.

OP-32: every mode refreshes the target path (APPEND's write recaches
it, ``_commit`` calls ``refreshByPath``): cached reads see new files.

Scale notes: the anti-join shuffles both sides on the PK unless AQE
broadcasts a small staging side, or the caller passes
``F.broadcast(staging)``. AQE skew handling covers hot PKs. For true
ACID upserts use Delta's MERGE INTO when the runtime has it; this file
is the format-agnostic path.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lightlane_spark.operators.dedup import dedup_keep_first


class LoadMode(str, Enum):
    OVERWRITE = "overwrite"
    APPEND = "append"
    MERGE = "merge"


def align_schemas(a: DataFrame, b: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Schema evolution: give both frames the union of their columns,
    filling each side's missing columns with typed NULLs (types taken
    from the side that has the column). Column order = a's columns
    then b's additions, both sides identical — so unionByName and
    parquet writes see one schema. Raises if a shared column name has
    conflicting types (silent cast would corrupt data)."""
    ta = {f.name: f.dataType for f in a.schema.fields}
    tb = {f.name: f.dataType for f in b.schema.fields}
    conflicts = {c for c in ta.keys() & tb.keys() if ta[c] != tb[c]}
    if conflicts:
        raise ValueError(
            f"schema evolution cannot reconcile conflicting types for {sorted(conflicts)}"
        )
    ordered = list(a.columns) + [c for c in b.columns if c not in ta]
    types = {**tb, **ta}
    def conform(df, have):
        cols = [
            F.col(c) if c in have else F.lit(None).cast(types[c]).alias(c)
            for c in ordered
        ]
        return df.select(*cols)
    return conform(a, ta), conform(b, tb)


def merge_upsert(
    target: DataFrame,
    staging: DataFrame,
    primary_keys: list[str],
    schema_evolution: bool = False,
) -> DataFrame:
    """OP-27 MERGE semantics: anti-join target on PKs, union staging.

    Multi-column PKs form a conjunctive equi-join key
    (``hive_loader.py:164``). AQE picks the join strategy; pass
    ``F.broadcast(staging)`` to force a broadcast hash anti-join (a
    small incremental batch against a huge target then never shuffles
    the target).

    ``schema_evolution=True`` reconciles drifted schemas first
    (``align_schemas``): columns added to the staging batch appear
    NULL on retained target rows, columns dropped from staging stay
    NULL on upserted rows — where the reference's rigid
    INSERT-by-position load simply breaks on drift. Default off: an
    unannounced schema change should fail loudly.
    """
    if not primary_keys:
        raise ValueError("MERGE mode requires primary_keys")  # hive_loader.py:67-69
    if schema_evolution:
        target, staging = align_schemas(target, staging)
    kept = target.join(staging, on=primary_keys, how="left_anti")
    return kept.unionByName(staging)


def fs_path(spark: SparkSession, path_str: str):
    """(FileSystem, Path) for ``path_str``'s scheme via the JVM
    Hadoop API — local paths resolve against the default FS."""
    sc = spark.sparkContext
    path = sc._jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(sc._jsc.hadoopConfiguration()), path


@dataclass
class Loader:
    """Write a DataFrame to a parquet table path under a load mode.

    The reference's loader entry points (``hive_loader.py``,
    ``mysql_loader.py``) collapse into this one class: staging tables
    become transient DataFrames (OP-29 — no DDL needed), bulk-load
    becomes the write itself (OP-22/23). APPEND is Spark's
    ``mode('append')``; OVERWRITE and MERGE replace the table through
    one staged write and rename swap (``_commit``). For a catalog
    table's statistics, run ANALYZE TABLE in ``post_sql``.
    """

    spark: SparkSession
    table_path: str
    mode: LoadMode | str = LoadMode.OVERWRITE
    primary_keys: list[str] = field(default_factory=list)
    partition_by: list[str] = field(default_factory=list)
    dedup: bool = False
    dedup_uniq_keys: list[str] = field(default_factory=list)
    dedup_orderby: list[str] = field(default_factory=list)
    pre_sql: list[str] = field(default_factory=list)
    post_sql: list[str] = field(default_factory=list)
    schema_evolution: bool = False
    # Sink format for PATH-based writes: parquet/orc/json here; text
    # goes through loaders/text_sinks.py (its own delimiter contract),
    # AVRO through loaders/avro_sink.py (pure-Python container codec).
    # Hive-CATALOG tables in any reference HIVE_FILE_FORMAT —
    # TEXTFILE/SEQUENCEFILE/RCFILE/ORC/PARQUET, const.py:19-26 — go
    # through ``write_hive_table`` (needs a Hive-enabled session).
    fmt: str = "parquet"

    def __post_init__(self):
        self.mode = LoadMode(self.mode)
        if self.mode is LoadMode.MERGE:
            if not self.primary_keys:
                # hive_loader.py:67-69
                raise ValueError("MERGE mode requires primary_keys")
            if self.partition_by:
                # hive_loader.py:70-72 — MERGE ⊥ partitioning
                raise ValueError("MERGE mode does not support partition_by")
        if self.dedup and not self.dedup_uniq_keys:
            # hive_loader.py:76-79
            raise ValueError("dedup requires dedup_uniq_keys")

    # -- pipeline -----------------------------------------------------
    def execute(self, staging: DataFrame) -> None:
        for q in self.pre_sql:  # OP-31
            self.spark.sql(q)
        rows = staging
        if self.dedup:  # dedup BEFORE merge — hive_loader.py:184-187
            rows = dedup_keep_first(staging, self.dedup_uniq_keys, self.dedup_orderby or None)
        if self.mode is LoadMode.APPEND:
            self._write(rows, self.table_path, "append")
        else:
            self._commit(staging, rows)
        for q in self.post_sql:  # OP-31
            self.spark.sql(q)

    def _write(self, rows: DataFrame, path: str, mode: str) -> None:
        writer = rows.write.mode(mode).format(self.fmt)
        if self.partition_by:  # OP-24 dynamic partitioned insert
            writer = writer.partitionBy(*self.partition_by)
        writer.save(path)

    def _commit(self, staging: DataFrame, rows: DataFrame) -> None:
        """OVERWRITE/MERGE commit, the reference's swap
        (``mysql_loader.py:119-123``, ``hive_loader.py:166-179``) via
        the Hadoop FileSystem API: write ``.<name>.new`` beside the
        table, retire the table to ``.<name>.old``, rename ``.new`` into
        place (``.old`` goes back if that fails), delete ``.old``.

          - a reader that opens between the two renames finds no table;
            the next load restores it from ``.old``, then deletes stale
            ``.old``/``.new`` directories;
          - concurrent writers to one table need an external lock;
          - on S3A a rename is copy+delete, so the swap is not atomic;
          - OVERWRITE with ``partition_by`` replaces the whole table, as
            ``mode('overwrite')`` does under Spark's default static
            ``partitionOverwriteMode``.
        """
        fs, table = fs_path(self.spark, self.table_path)
        Path = self.spark.sparkContext._jvm.org.apache.hadoop.fs.Path
        new, old = (Path(table.getParent(), f".{table.getName()}.{s}") for s in ("new", "old"))
        if not fs.exists(table) and fs.exists(old):
            fs.rename(old, table)  # a swap died between its renames
        fs.delete(old, True)
        fs.delete(new, True)
        live = fs.exists(table)
        if self.mode is LoadMode.MERGE and live:
            target = self.spark.read.format(self.fmt).load(self.table_path)
            if self.schema_evolution:
                target, rows = align_schemas(target, rows)
            # dedup keeps a row per dedup key: if those hold the PKs, the
            # raw staging keys are the same set, read without the shuffle
            raw = not self.dedup or set(self.primary_keys) <= set(self.dedup_uniq_keys)
            keys = (staging if raw else rows).select(*self.primary_keys)
            rows = target.join(keys, self.primary_keys, "left_anti").unionByName(rows)
        self._write(rows, new.toString(), "overwrite")
        if live and not fs.rename(table, old):
            raise IOError(f"load commit: could not retire {self.table_path}")
        if not fs.rename(new, table):
            if live:
                fs.rename(old, table)
            raise IOError(f"load commit: could not install {self.table_path}")
        fs.delete(old, True)
        self.spark.catalog.refreshByPath(self.table_path)


HIVE_FILE_FORMATS = ("textfile", "sequencefile", "rcfile", "orc", "parquet")


def write_hive_table(
    df: DataFrame,
    table: str,
    file_format: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Write ``df`` as a Hive-catalog table in any of the reference's
    HIVE_FILE_FORMATS (``const.py:19-26``): TEXTFILE, SEQUENCEFILE,
    RCFILE, ORC, PARQUET — the Hive SerDes ship in Spark's own jars,
    so even the legacy container formats round-trip (verified in
    ``tests/test_hive_formats.py``; AVRO is covered separately by the
    pure-Python container codec in ``loaders/avro_sink.py``).

    Requires a ``enableHiveSupport()`` session (embedded Derby
    metastore locally; a shared metastore on a cluster). Partitioned
    writes use Hive dynamic partitioning — the reference's OP-24.
    """
    fmt = file_format.lower()
    if fmt not in HIVE_FILE_FORMATS:
        raise ValueError(
            f"unknown Hive file format {file_format!r}; known: {HIVE_FILE_FORMATS}"
        )
    writer = df.write.format("hive").option("fileFormat", fmt).mode(mode)
    if not partition_by:
        writer.saveAsTable(table)
        return
    # all partition values come from the data (the reference's dynamic
    # insert, OP-24) — Hive's strict mode wants at least one static
    # partition otherwise. The mode is the caller's session setting:
    # set it for this write only.
    conf, key = df.sparkSession.conf, "hive.exec.dynamic.partition.mode"
    previous = conf.get(key, None)
    conf.set(key, "nonstrict")
    try:
        writer.partitionBy(*partition_by).saveAsTable(table)
    finally:
        if previous is None:
            conf.unset(key)
        else:
            conf.set(key, previous)
