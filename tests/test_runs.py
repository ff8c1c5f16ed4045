"""The measurement tools' shared timing loop (``tools/runs.py``) and the
oracle gates' shared sweep (``tools/verify_vanilla.py::sweep``)."""

from __future__ import annotations

import duckdb
import pytest

from pyspark.sql import functions as F

from lightlane_spark import cache
from tools.runs import run_reps
from tools.verify_vanilla import sweep


def test_run_reps_computes_every_output_column(spark):
    """A column ``count()`` prunes still runs under ``run_reps``: the
    noop sink consumes every output column."""

    def build():
        return spark.range(3).select("id", F.raise_error(F.lit("boom")).alias("bad"))

    assert build().count() == 3
    with pytest.raises(Exception, match="boom"):
        run_reps(spark, build, 1)


def test_run_reps_releases_persists(spark):
    """A persist made inside ``build`` leaves the registry when the
    reps end, and also when a rep raises."""
    n0 = len(cache._TRACKED)

    def build():
        return cache.tracked_persist(spark.range(5).selectExpr("id * 2 AS x"))

    samples = run_reps(spark, build, 2)
    assert len(samples) == 2 and all(t > 0 for t in samples)
    assert len(cache._TRACKED) == n0

    def failing():
        cache.tracked_persist(spark.range(5).selectExpr("id * 3 AS x"))
        raise RuntimeError("rep failed")

    with pytest.raises(RuntimeError, match="rep failed"):
        run_reps(spark, failing, 1)
    assert len(cache._TRACKED) == n0


def test_sweep_reports_mismatch_leftover_and_failure(spark):
    """Of four queries, the sweep passes the one that matches its
    oracle and returns the other three, in run order."""
    view = "test_runs_leftover_view"

    def one(spark, sf_dir):
        return spark.range(1).select(F.lit(1).cast("bigint").alias("x"))

    def two(spark, sf_dir):
        return spark.range(1).select(F.lit(2).cast("bigint").alias("x"))

    def leaves_view(spark, sf_dir):
        df = one(spark, sf_dir)
        df.createOrReplaceTempView(view)
        return df

    def raises(spark, sf_dir):
        raise RuntimeError("query failed")

    queries = {"ok": one, "mismatch": two, "leftover": leaves_view, "fails": raises}
    oracles = {n: "SELECT 1::BIGINT AS x" for n in queries}
    con = duckdb.connect()
    try:
        bad = sweep(spark, con, queries, oracles, list(queries), sf_dir=None)
    finally:
        spark.catalog.dropTempView(view)
        con.close()
    assert bad == ["mismatch", "leftover", "fails"]
