"""OP-24..OP-31 — loader modes, dedup-before-merge, partitioned writes."""

from __future__ import annotations

import os

import pytest

from lightlane_spark.loaders.loader import Loader, LoadMode, merge_upsert
from lightlane_spark.operators.dedup import dedup_keep_first


@pytest.fixture
def target_staging(spark):
    target = spark.createDataFrame(
        [(1, "a", "t1", 1), (2, "a", "t2", 1), (3, "b", "t3", 1)],
        "pk1: bigint, pk2: string, val: string, ver: int",
    )
    staging = spark.createDataFrame(
        [(2, "a", "s2", 2), (4, "c", "s4", 2)],
        "pk1: bigint, pk2: string, val: string, ver: int",
    )
    return target, staging


def test_merge_upsert_multicol_pk(target_staging):
    target, staging = target_staging
    out = merge_upsert(target, staging, ["pk1", "pk2"]).orderBy("pk1").collect()
    assert [(r.pk1, r.val) for r in out] == [(1, "t1"), (2, "s2"), (3, "t3"), (4, "s4")]


def test_loader_modes_roundtrip(spark, tmp_path, target_staging):
    target, staging = target_staging
    path = str(tmp_path / "t")
    Loader(spark, path, LoadMode.OVERWRITE).execute(target)
    assert spark.read.parquet(path).count() == 3
    Loader(spark, path, LoadMode.APPEND).execute(staging)
    assert spark.read.parquet(path).count() == 5
    Loader(spark, path, LoadMode.OVERWRITE).execute(target)
    Loader(spark, path, LoadMode.MERGE, primary_keys=["pk1", "pk2"]).execute(staging)
    rows = {(r.pk1, r.val) for r in spark.read.parquet(path).collect()}
    assert rows == {(1, "t1"), (2, "s2"), (3, "t3"), (4, "s4")}


def test_merge_creates_missing_target(spark, tmp_path, target_staging):
    _, staging = target_staging
    path = str(tmp_path / "new")
    Loader(spark, path, "merge", primary_keys=["pk1"]).execute(staging)
    assert spark.read.parquet(path).count() == 2


def test_merge_validation():
    with pytest.raises(ValueError):
        Loader(None, "/x", LoadMode.MERGE)  # no PKs — hive_loader.py:67-69
    with pytest.raises(ValueError):
        Loader(None, "/x", "merge", primary_keys=["a"], partition_by=["dt"])
    with pytest.raises(ValueError):
        Loader(None, "/x", "overwrite", dedup=True)  # keys required


def test_dedup_keep_first(spark):
    df = spark.createDataFrame(
        [(1, "x", 3, "v3"), (1, "x", 1, "v1"), (2, "y", 5, "v5"), (1, "x", 3, "v3b")],
        "uk1: bigint, uk2: string, ver: int, val: string",
    )
    from pyspark.sql import functions as F

    out = dedup_keep_first(df, ["uk1", "uk2"], [F.col("ver").desc()]).orderBy("uk1").collect()
    assert len(out) == 2
    assert out[0].ver == 3 and out[0].val == "v3"  # deterministic tie-break: val asc
    assert out[1].val == "v5"


def test_dedup_before_merge_ordering(spark, tmp_path):
    """Staging dedup happens BEFORE the upsert (hive_loader.py:184-187)."""
    path = str(tmp_path / "m")
    target = spark.createDataFrame([(1, 0, "t")], "pk: bigint, ver: int, val: string")
    staging = spark.createDataFrame(
        [(1, 2, "new"), (1, 1, "old")], "pk: bigint, ver: int, val: string"
    )
    Loader(spark, path, "overwrite").execute(target)
    Loader(
        spark,
        path,
        "merge",
        primary_keys=["pk"],
        dedup=True,
        dedup_uniq_keys=["pk"],
        dedup_orderby=["ver"],
    ).execute(staging)
    rows = spark.read.parquet(path).collect()
    # dedup default keeps row_number()=1 under orderby asc → ver=1
    assert len(rows) == 1 and rows[0].ver == 1


def test_partitioned_write(spark, tmp_path):
    path = str(tmp_path / "p")
    df = spark.createDataFrame(
        [(1, "2025-01-01"), (2, "2025-01-02")], "id: bigint, dt: string"
    )
    Loader(spark, path, "overwrite", partition_by=["dt"]).execute(df)
    assert os.path.isdir(os.path.join(path, "dt=2025-01-01"))
    assert spark.read.parquet(path).count() == 2


def test_analyze_keeps_callers_cache(spark, tmp_path):
    """OP-32 refreshes only the loaded path: a frame the caller
    persisted keeps its storage level, and a cached read of the target
    sees the new files."""
    path = str(tmp_path / "a")
    Loader(spark, path, "overwrite").execute(spark.range(3))
    mine = spark.range(100).persist()
    target = spark.read.parquet(path).persist()
    try:
        assert mine.count() == 100 and target.count() == 3
        level = mine.storageLevel
        Loader(spark, path, "overwrite").execute(spark.range(5))
        assert mine.storageLevel == level
        assert mine.is_cached and target.is_cached
        assert target.count() == 5
    finally:
        mine.unpersist()
        target.unpersist()


@pytest.mark.parametrize("mode", ["append", "overwrite", "merge"])
def test_cached_read_of_target_sees_the_load(spark, tmp_path, mode):
    """OP-32: every mode refreshes the target path, so a persisted read
    of the table sees the loaded rows."""
    path = str(tmp_path / "t")
    Loader(spark, path, "overwrite").execute(spark.range(3))
    target = spark.read.parquet(path).persist()
    try:
        assert target.count() == 3
        Loader(spark, path, mode, primary_keys=["id"] if mode == "merge" else []).execute(
            spark.range(2, 6)
        )
        expected = {"append": 7, "overwrite": 4, "merge": 6}[mode]
        assert target.count() == expected
    finally:
        target.unpersist()


def test_pre_post_sql_hooks(spark, tmp_path):
    path = str(tmp_path / "h")
    df = spark.createDataFrame([(1,)], "id: bigint")
    Loader(
        spark,
        path,
        "overwrite",
        pre_sql=["CREATE OR REPLACE TEMP VIEW _pre_hook AS SELECT 1 AS ok"],
        post_sql=["CREATE OR REPLACE TEMP VIEW _post_hook AS SELECT 2 AS ok"],
    ).execute(df)
    assert spark.table("_pre_hook").first().ok == 1
    assert spark.table("_post_hook").first().ok == 2


def test_loader_orc_and_json_formats(spark, sf_dir, tmp_path):
    """OP-23 format breadth: the same mode machinery (incl. MERGE's
    reconcile-and-swap) works on ORC and JSON sinks, not just parquet
    (reference HIVE_FILE_FORMATS, const.py:19-26)."""
    from pyspark.sql import functions as F

    from lightlane_spark.loaders.loader import Loader
    from lightlane_spark.sources.parquet import read_table

    orders = read_table(spark, sf_dir, "orders")
    staging = orders.filter("o_orderkey % 3 = 0").withColumn(
        "o_orderpriority", F.lit("MERGED")
    )
    for fmt in ("orc", "json"):
        path = str(tmp_path / f"orders_{fmt}")
        Loader(spark, path, "overwrite", fmt=fmt).execute(orders)
        Loader(
            spark, path, "merge", primary_keys=["o_orderkey"], fmt=fmt
        ).execute(staging)
        back = spark.read.format(fmt).load(path)
        assert back.count() == orders.count()
        assert back.filter("o_orderpriority = 'MERGED'").count() == staging.count()


def test_orc_helpers_roundtrip(spark, sf_dir, tmp_path):
    """write_orc/read_orc round-trip (the library's ORC format slot —
    q_orc_roundtrip exercises the raw writer; these helpers are the
    public API form and must stay equivalent)."""
    from lightlane_spark.loaders.text_sinks import read_orc, write_orc
    from lightlane_spark.sources.parquet import read_table

    df = read_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_orc")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.count() == df.count()
    assert set(back.columns) == set(df.columns)
    assert sorted(r["r_regionkey"] for r in back.collect()) == sorted(
        r["r_regionkey"] for r in df.collect()
    )


def _failing(df):
    """``df`` with a column whose Python UDF raises, so the write job
    fails after the commit has started."""
    from pyspark.sql import functions as F

    boom = F.udf(lambda v: 1 // 0, "int")
    return df.withColumn("boom", boom(F.col("pk1")))


def test_failed_write_keeps_old_table(spark, tmp_path, target_staging):
    """A write job that raises leaves the old table readable with its
    old rows, for OVERWRITE and for MERGE."""
    target, staging = target_staging
    path = str(tmp_path / "t")
    Loader(spark, path, "overwrite").execute(target)
    old = sorted(spark.read.parquet(path).collect())
    for loader in (
        Loader(spark, path, "overwrite"),
        Loader(spark, path, "merge", primary_keys=["pk1", "pk2"], schema_evolution=True),
    ):
        with pytest.raises(Exception):
            loader.execute(_failing(staging))
        assert sorted(spark.read.parquet(path).collect()) == old


def test_merge_recovers_table_left_in_old_sibling(spark, tmp_path, target_staging):
    """A swap that died between its renames left the table in its
    ``.old`` sibling; the next MERGE puts it back first, so every old
    row survives next to the batch."""
    target, staging = target_staging
    path = str(tmp_path / "t")
    Loader(spark, path, "overwrite").execute(target)
    os.rename(path, str(tmp_path / ".t.old"))
    Loader(spark, path, "merge", primary_keys=["pk1", "pk2"]).execute(staging)
    rows = {(r.pk1, r.val) for r in spark.read.parquet(path).collect()}
    assert rows == {(1, "t1"), (2, "s2"), (3, "t3"), (4, "s4")}
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_next_load_deletes_leftover_siblings(spark, tmp_path, target_staging):
    """Stale ``.old``/``.new`` siblings next to a live table are gone
    after the next load."""
    target, staging = target_staging
    path = str(tmp_path / "t")
    Loader(spark, path, "overwrite").execute(target)
    for name in (".t.old", ".t.new"):
        os.makedirs(tmp_path / name)
        (tmp_path / name / "part-0.parquet").write_bytes(b"stale")
    Loader(spark, path, "merge", primary_keys=["pk1", "pk2"]).execute(staging)
    assert sorted(os.listdir(tmp_path)) == ["t"]
    assert spark.read.parquet(path).count() == 4


def test_self_overwrite(spark, tmp_path, target_staging):
    """OVERWRITE may read the table it replaces."""
    target, _ = target_staging
    path = str(tmp_path / "t")
    Loader(spark, path, "overwrite").execute(target)
    Loader(spark, path, "overwrite").execute(spark.read.parquet(path).filter("pk1 > 1"))
    assert sorted(r.pk1 for r in spark.read.parquet(path).collect()) == [2, 3]
