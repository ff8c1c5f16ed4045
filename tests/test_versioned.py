"""Versioned loads (time travel / rollback / vacuum) and schema
evolution on MERGE."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lightlane_spark.loaders.loader import Loader, align_schemas, fs_path, merge_upsert
from lightlane_spark.loaders.versioned import VersionedTable
from lightlane_spark.sources.parquet import read_table


def test_versioned_write_merge_timetravel(spark, sf_dir, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "orders_v"))
    orders = read_table(spark, sf_dir, "orders")
    v1 = vt.write_version(orders)
    assert v1 == 1 and vt.latest_version() == 1

    staging = orders.filter("o_orderkey % 3 = 0").withColumn(
        "o_orderpriority", F.lit("MERGED")
    )
    v2 = vt.merge_version(staging, ["o_orderkey"])
    assert v2 == 2 and vt.latest_version() == 2

    # latest reflects the merge; v1 is untouched (time travel)
    assert vt.read().filter("o_orderpriority = 'MERGED'").count() == staging.count()
    assert vt.read(1).filter("o_orderpriority = 'MERGED'").count() == 0
    assert vt.read(1).count() == vt.read(2).count() == orders.count()


def test_versioned_rollback_and_vacuum(spark, sf_dir, tmp_path):
    vt = VersionedTable(spark, str(tmp_path / "t"))
    base = spark.range(10).withColumn("val", F.col("id") * 2)
    vt.write_version(base)
    vt.write_version(base.withColumn("val", F.col("val") + 1))
    vt.write_version(base.withColumn("val", F.col("val") + 2))
    assert vt.versions() == [1, 2, 3]

    vt.rollback(2)
    assert vt.latest_version() == 2
    assert vt.read().agg(F.sum("val")).first()[0] == base.agg(
        F.sum(F.col("val") + 1)
    ).first()[0]
    with pytest.raises(ValueError):
        vt.rollback(99)

    # vacuum keeps the pointer target even when outside keep_last
    removed = vt.vacuum(keep_last=1)
    assert 1 in removed and 2 not in removed and 3 not in removed
    assert vt.read().count() == 10


def test_rollback_then_merge_allocates_fresh_version(spark, tmp_path):
    """After rollback(v) the later version DIRECTORIES still exist
    (deliberately); the next write must allocate past them, not
    pointer+1 — which would collide with v+1 and wedge the table on
    the errorifexists write."""
    vt = VersionedTable(spark, str(tmp_path / "rb"))
    base = spark.createDataFrame([(1, 10), (2, 20)], "pk bigint, val bigint")
    vt.write_version(base)
    vt.write_version(base.withColumn("val", F.col("val") + 1))
    vt.rollback(1)

    staging = spark.createDataFrame([(2, 99), (3, 30)], "pk bigint, val bigint")
    v3 = vt.merge_version(staging, ["pk"])
    assert v3 == 3 and vt.versions() == [1, 2, 3]
    # merged onto the ROLLED-BACK state (v1), not the abandoned v2
    got = {r.pk: r.val for r in vt.read().collect()}
    assert got == {1: 10, 2: 99, 3: 30}


def test_latest_version_survives_missing_pointer(spark, tmp_path):
    """A reader in the delete→rename window of a pointer flip (or
    after a crash between the two calls) must still resolve an intact
    table: latest_version() falls back to the newest directory."""
    vt = VersionedTable(spark, str(tmp_path / "mp"))
    vt.write_version(spark.range(5))
    vt.write_version(spark.range(7))
    fs, ptr = fs_path(vt.spark, f"{vt.base_path}/_LATEST")
    fs.delete(ptr, False)
    assert vt.latest_version() == 2
    assert vt.read().count() == 7
    # the next write after the lost pointer continues the sequence
    assert vt.write_version(spark.range(3)) == 3


def test_merge_schema_evolution(spark, tmp_path):
    target = spark.createDataFrame(
        [(1, "a"), (2, "b")], "pk bigint, val string"
    )
    staging = spark.createDataFrame(
        [(2, "b2", 9.5), (3, "c", 1.0)], "pk bigint, val string, score double"
    )
    # default: loud failure on drift
    with pytest.raises(Exception):
        merge_upsert(target, staging, ["pk"]).collect()
    merged = merge_upsert(target, staging, ["pk"], schema_evolution=True)
    rows = {r.pk: (r.val, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b2", 9.5), 3: ("c", 1.0)}

    # dropped column: upserted rows carry NULL, retained rows keep data
    staging2 = spark.createDataFrame([(1, 7.0)], "pk bigint, score double")
    merged2 = merge_upsert(merged, staging2, ["pk"], schema_evolution=True)
    rows2 = {r.pk: (r.val, r.score) for r in merged2.collect()}
    assert rows2[1] == (None, 7.0) and rows2[2] == ("b2", 9.5)

    # conflicting types refuse to merge
    bad = spark.createDataFrame([(1, 5)], "pk bigint, val bigint")
    with pytest.raises(ValueError, match="conflicting types"):
        align_schemas(target, bad)


def test_loader_merge_schema_evolution_end_to_end(spark, sf_dir, tmp_path):
    path = str(tmp_path / "evolving")
    orders = read_table(spark, sf_dir, "orders")
    Loader(spark, path, "overwrite").execute(orders)
    staging = (
        orders.filter("o_orderkey % 5 = 0")
        .withColumn("ingest_tag", F.lit("batch2"))
    )
    Loader(
        spark, path, "merge", primary_keys=["o_orderkey"], schema_evolution=True
    ).execute(staging)
    back = spark.read.parquet(path)
    assert "ingest_tag" in back.columns
    assert back.filter("ingest_tag = 'batch2'").count() == staging.count()
    assert back.filter("ingest_tag IS NULL").count() == orders.count() - staging.count()


def test_read_asof_timestamp(spark, tmp_path):
    """AS-OF-timestamp reads resolve to the newest version committed
    at or before the asked time (pinned injectable clock)."""
    from lightlane_spark.loaders.versioned import VersionedTable

    ticks = iter([100.0, 200.0, 300.0])
    vt = VersionedTable(spark, str(tmp_path / "t"), clock=lambda: next(ticks))
    vt.write_version(spark.range(1).selectExpr("id", "'a' AS tag"))
    vt.write_version(spark.range(2).selectExpr("id", "'b' AS tag"))
    vt.write_version(spark.range(3).selectExpr("id", "'c' AS tag"))

    assert vt.history() == [(1, 100.0), (2, 200.0), (3, 300.0)]
    assert vt.read_asof(100.0).count() == 1       # exactly at commit
    assert vt.read_asof(250.0).count() == 2       # between commits
    assert vt.read_asof(1e12).count() == 3        # far future → latest
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        vt.read_asof(99.9)                        # before first commit


def test_read_asof_ignores_unmarked_versions(spark, tmp_path):
    """Versions written without commit markers (pre-upgrade tables)
    stay reachable by number but invisible to AS-OF reads."""
    from lightlane_spark.loaders.versioned import VersionedTable

    base = str(tmp_path / "t2")
    vt = VersionedTable(spark, base, clock=lambda: 500.0)
    vt.write_version(spark.range(4))
    # simulate a legacy version: remove its marker
    fs, marker = fs_path(vt.spark, f"{vt._version_path(1)}/_COMMIT_TS")
    fs.delete(marker, False)
    vt2 = VersionedTable(spark, base, clock=lambda: 600.0)
    vt2.write_version(spark.range(5))
    assert [v for v, _ in vt2.history()] == [2]
    assert vt2.read_asof(600.0).count() == 5
    assert vt2.read(1).count() == 4


def test_forget_erases_forward_but_not_history_until_vacuum(spark, tmp_path):
    """Right-to-erasure contract: forget() removes matching rows from
    the NEW latest version and reports them in the audit frame; prior
    versions still contain the data (time travel would resurface it)
    until vacuum() reclaims them — the retention nuance the API
    surfaces explicitly."""
    from lightlane_spark.loaders.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "vt"))
    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (3, "carol")], "user_id: bigint, name: string"
    )
    v1 = vt.write_version(df)
    v2, audit = vt.forget("user_id = 2", audit_cols=["user_id"])
    assert v2 > v1
    got = sorted(r["user_id"] for r in vt.read().collect())
    assert got == [1, 3]
    arows = audit.collect()
    assert [r["user_id"] for r in arows] == [2]
    assert arows[0]["erased_in_version"] == v2
    # history still holds the erased row until vacuum
    assert sorted(r["user_id"] for r in vt.read(v1).collect()) == [1, 2, 3]
    vt.vacuum(keep_last=1)
    assert vt.versions() == [v2]


def test_forget_null_predicate_rows_are_kept_not_lost(spark, tmp_path):
    """Three-valued-logic guard: a row where the predicate evaluates to
    NULL (here: NULL user_id vs ``user_id = 2``) must be KEPT in the
    new version — a naive filter(p)/filter(NOT p) split drops it from
    both sides, silently over-deleting without an audit entry."""
    from lightlane_spark.loaders.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "vtn"))
    df = spark.createDataFrame(
        [(1, "alice"), (2, "bob"), (None, "ghost")],
        "user_id: bigint, name: string",
    )
    vt.write_version(df)
    v2, audit = vt.forget("user_id = 2")
    kept = vt.read().collect()
    assert sorted(r["name"] for r in kept) == ["alice", "ghost"]
    arow = audit.collect()[0]
    assert arow["n_erased"] == 1
    assert arow["erased_in_version"] == v2


def test_vacuum_rejects_keep_last_zero(spark, tmp_path):
    """keep_last=0 would hit the vs[-0:] == whole-list Python trap
    and silently keep everything; it must raise instead."""
    import pytest

    from lightlane_spark.loaders.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "t"))
    vt.write_version(spark.range(3))
    with pytest.raises(ValueError, match="keep_last"):
        vt.vacuum(keep_last=0)
