"""Library calls leave the caller's session as they found it: no conf
write, no temporary view or function, no scratch directory left behind;
every session pin differs from Spark's own default; and the session
compiles each generated class once."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile

import pytest
from pyspark.sql import functions as F

from lightlane_spark import queries_m5, queries_relational
from lightlane_spark.jobspec import build_pipeline
from lightlane_spark.session import _DEFAULT_CONF
from lightlane_spark.sources.parquet import read_table
from tools.oracle_compare import catalog_entries

TZ = "spark.sql.session.timeZone"


def _jobspec_sql(spark, sf_dir):
    return build_pipeline(spark, {
        "extract": {"kind": "parquet", "sf_dir": sf_dir, "table": "orders"},
        "transforms": [{"op": "sql", "query": "SELECT o_orderkey FROM __this__"}],
    }).dataframe()


CALLS = {
    "read_table": lambda spark, sf_dir: read_table(spark, sf_dir, "nation"),
    "jobspec_sql": _jobspec_sql,
    "exists_subquery": queries_relational.q_exists_subquery,
    "recursive_ancestors": queries_relational.q_recursive_ancestors,
    "lateral_topk": queries_relational.q_lateral_topk,
    "chunk_documents": queries_m5.q_chunk_documents,
    "streaming_window_counts": queries_m5.q_streaming_window_counts,
    "streaming_stateful_counts": queries_m5.q_streaming_stateful_counts,
    "streaming_dedup_counts": queries_m5.q_streaming_dedup_counts,
    "streaming_interval_join": queries_m5.q_streaming_interval_join,
    "streaming_sliding_counts": queries_m5.q_streaming_sliding_counts,
}


def _scratch_dirs():
    return len(glob.glob(os.path.join(tempfile.gettempdir(), "llspark_*")))


@pytest.mark.parametrize("name", sorted(CALLS))
def test_call_leaves_session_as_found(spark, sf_dir, name, tmp_path, monkeypatch):
    """The call writes no conf and leaves no temporary view, function or
    ``llspark_*`` scratch directory; its frame still runs afterwards.
    The temp dir is the test's own, so only this call's directories
    count."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    spark.conf.set(TZ, "America/New_York")
    try:
        entries, dirs = catalog_entries(spark), _scratch_dirs()
        df = CALLS[name](spark, sf_dir)
        assert spark.conf.get(TZ) == "America/New_York"
        assert catalog_entries(spark) == entries
        assert _scratch_dirs() == dirs
        assert df.limit(1).collect()
    finally:
        spark.conf.set(TZ, "UTC")


def test_default_conf_pins_differ_from_spark_defaults(spark):
    """A ``spark.sql.*`` pin that restates the default of a fresh
    ``SQLConf`` does nothing. Values compare typed, so ``1MB`` equals
    the default ``1048576b``."""
    internal = spark._jvm.org.apache.spark.sql.internal  # noqa: SLF001
    entries = getattr(internal, "SQLConf$").__getattr__("MODULE$")
    restated = []
    for key, value in _DEFAULT_CONF.items():
        if not key.startswith("spark.sql."):
            continue
        entry = entries.getConfigEntry(key)
        fresh = internal.SQLConf()
        default = fresh.getConf(entry)
        fresh.setConfString(key, value)
        if fresh.getConf(entry) == default:
            restated.append(key)
    assert restated == []


def test_generated_classes_survive_a_working_set_above_100(spark):
    """A query rerun after 150 other small queries compiles no class:
    the session's codegen cache holds more than Spark's default 100
    entries, so the filler classes do not evict the query's."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # noqa: SLF001
    compiles = metrics.METRIC_COMPILATION_TIME()

    def run_counting(fn):
        before = compiles.getCount()
        fn()
        return compiles.getCount() - before

    def aggregate():
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).agg(
            F.sum("id")).collect()

    def fillers():
        for i in range(150):
            spark.range(3).selectExpr(f"id * {i + 2} + {i}").collect()

    run_counting(aggregate)
    assert run_counting(fillers) > 100
    assert run_counting(aggregate) == 0


_CHILD = """
import glob, os, sys, tempfile
from pyspark.sql import SparkSession
from lightlane_spark import queries_m5, queries_relational
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false").getOrCreate())
for q in (queries_relational.q_json_sink_roundtrip, queries_m5.q_binary_file_scan):
    assert q(spark, sys.argv[1]).count() > 0
print(len(glob.glob(os.path.join(tempfile.gettempdir(), "llspark_*"))))
spark.stop()
"""


def test_scratch_tables_removed_at_exit(sf_dir, tmp_path):
    """A registry query's scratch table outlives the call, because the
    frame it returns reads it, but not the process: a child that runs
    two such queries leaves no ``llspark_*`` directory behind."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir], env=env, cwd=str(tmp_path),
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert int(out.stdout.split()[-1]) == 2  # both existed while it ran
    assert not glob.glob(str(tmp_path / "llspark_*"))
