"""Manifest data skipping: pruned result == full-scan filter, and the
file list actually shrinks (the point of the manifest)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from lightlane_spark.loaders.dataskip import (
    MANIFEST,
    pruned_files,
    pruned_scan,
    write_with_stats,
)
from lightlane_spark.sources.parquet import read_table


def test_pruned_scan_matches_full_filter_and_prunes(spark, sf_dir, tmp_path):
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    path = str(tmp_path / "li")
    manifest = write_with_stats(li, path, ["l_shipdate"], num_files=8)
    assert len(manifest) == 8
    assert os.path.exists(os.path.join(path, MANIFEST))

    lo, hi = dt.date(1995, 1, 1), dt.date(1995, 3, 31)
    keep, total = pruned_files(path, "l_shipdate", lo, hi)
    assert total == 8
    assert 0 < len(keep) < total  # skipping really happened

    got = sorted(
        map(tuple, pruned_scan(spark, path, "l_shipdate", lo, hi).collect())
    )
    want = sorted(
        map(
            tuple,
            spark.read.parquet(path)
            .where(F.col("l_shipdate").between(F.lit(lo), F.lit(hi)))
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_pruned_scan_empty_range_returns_empty_with_schema(spark, sf_dir, tmp_path):
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    path = str(tmp_path / "li")
    write_with_stats(li, path, ["l_shipdate"], num_files=4)
    out = pruned_scan(
        spark, path, "l_shipdate", dt.date(2099, 1, 1), dt.date(2099, 12, 31)
    )
    assert out.columns == ["l_orderkey", "l_shipdate"]
    assert out.count() == 0


def test_int_column_stats(spark, tmp_path):
    df = spark.range(0, 10_000).select(F.col("id").alias("k"))
    path = str(tmp_path / "t")
    write_with_stats(df, path, ["k"], num_files=10)
    keep, total = pruned_files(path, "k", 2500, 2600)
    assert total == 10 and len(keep) <= 2
    assert pruned_scan(spark, path, "k", 2500, 2600).count() == 101


def test_zorder_layout_gives_multi_column_pruning(spark, tmp_path):
    """Z-order + manifest = file skipping on EITHER dimension: after
    zorder_repartition on (x, y), per-file min/max envelopes are tight
    on both columns, so a manifest range scan prunes files for an
    x-only OR a y-only predicate — the multi-dim promise of
    layout.py made measurable at the file level."""
    from pyspark.sql import functions as F

    from lightlane_spark.operators.layout import zorder_repartition

    n = 40_000
    df = spark.range(n).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 7919) % 200).alias("y"),
    )
    path = str(tmp_path / "t")
    laid = zorder_repartition(df, [("x", 0, 199), ("y", 0, 199)], 16, bits=8)
    # write via write_with_stats' manifest path but keep the z layout:
    # stats-collect on both columns without re-partitioning
    laid.write.mode("overwrite").parquet(path)
    from lightlane_spark.loaders.dataskip import pruned_files, write_manifest

    write_manifest(path, ["x", "y"])
    keep_x, total = pruned_files(path, "x", 0, 24)
    keep_y, _ = pruned_files(path, "y", 0, 24)
    assert total == 16
    # an eighth of each domain must not touch most files
    assert len(keep_x) <= total // 2, (len(keep_x), total)
    assert len(keep_y) <= total // 2, (len(keep_y), total)


def test_multi_column_conjunctive_pruning_on_zorder(spark, tmp_path):
    """Two-range predicate over a Z-ordered layout: survivors ≈ the
    product of per-column survival, and the scan equals the filter."""
    from pyspark.sql import functions as F

    from lightlane_spark.loaders.dataskip import (
        pruned_files,
        pruned_files_multi,
        pruned_scan_multi,
        write_manifest,
    )
    from lightlane_spark.operators.layout import zorder_repartition

    df = spark.range(40_000).select(
        (F.col("id") % 200).alias("x"),
        ((F.col("id") * 7919) % 200).alias("y"),
    )
    path = str(tmp_path / "t")
    zorder_repartition(df, [("x", 0, 199), ("y", 0, 199)], 16, bits=8).write.mode(
        "overwrite"
    ).parquet(path)
    write_manifest(path, ["x", "y"])

    both, total = pruned_files_multi(path, {"x": (0, 49), "y": (0, 49)})
    only_x, _ = pruned_files(path, "x", 0, 49)
    assert total == 16
    assert len(both) < len(only_x)  # second predicate prunes further

    got = pruned_scan_multi(spark, path, {"x": (0, 49), "y": (0, 49)}).count()
    want = df.where("x BETWEEN 0 AND 49 AND y BETWEEN 0 AND 49").count()
    assert got == want > 0
