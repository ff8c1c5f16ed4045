"""Hive-catalog storage formats (reference HIVE_FILE_FORMATS,
const.py:19-26): TEXTFILE / SEQUENCEFILE / RCFILE / ORC / PARQUET all
round-trip through ``write_hive_table`` — the Hive SerDes ship in
Spark's own jars, so none of these is environment-blocked.

Runs in a SUBPROCESS: ``enableHiveSupport()`` must be set before the
first SparkSession exists in a JVM, and the shared test session is
not Hive-enabled. One fresh JVM covers all five formats plus a
dynamic-partitioned Hive insert, which must leave the caller's
dynamic-partition mode as it found it.
"""

from __future__ import annotations

import os
import subprocess
import sys

_SCRIPT = r"""
import sys, tempfile
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
from lightlane_spark.loaders.loader import HIVE_FILE_FORMATS, write_hive_table

tmp = tempfile.mkdtemp()
spark = (SparkSession.builder.master("local[4]")
    .config("spark.sql.warehouse.dir", tmp + "/wh")
    .config("javax.jdo.option.ConnectionURL",
            "jdbc:derby:;databaseName=" + tmp + "/metastore_db;create=true")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .enableHiveSupport()
    .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

df = spark.range(200).selectExpr(
    "id", "CAST(id * 1.5 AS DOUBLE) AS v", "CONCAT('s', id) AS s",
    "CAST(id % 3 AS INT) AS p",
)
src = sorted(map(tuple, df.collect()))
for fmt in HIVE_FILE_FORMATS:
    write_hive_table(df, "t_" + fmt, file_format=fmt)
    back = sorted(map(tuple, spark.table("t_" + fmt).collect()))
    assert back == src, fmt + " roundtrip mismatch"
    print("OK", fmt)

# OP-24 against a real Hive catalog: dynamic-partitioned insert; the
# nonstrict mode it needs is set for the write only
mode_key = "hive.exec.dynamic.partition.mode"
mode_before = spark.conf.get(mode_key, None)
write_hive_table(df, "t_part", file_format="parquet", partition_by=["p"])
assert spark.conf.get(mode_key, None) == mode_before, spark.conf.get(mode_key, None)
parts = spark.sql("SHOW PARTITIONS t_part").collect()
assert len(parts) == 3, parts
back = sorted(
    map(tuple, spark.table("t_part").select("id", "v", "s", "p").collect())
)
assert back == src
print("OK partitioned", len(parts))

# unknown format rejected
try:
    write_hive_table(df, "t_bad", file_format="sequencefeil")
    raise SystemExit("expected ValueError")
except ValueError:
    print("OK rejects-unknown")
print("ALL_OK")
"""


def test_hive_formats_roundtrip_subprocess():
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=repo)],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ALL_OK" in proc.stdout, proc.stdout[-2000:]
    for fmt in ("textfile", "sequencefile", "rcfile", "orc", "parquet"):
        assert f"OK {fmt}" in proc.stdout
