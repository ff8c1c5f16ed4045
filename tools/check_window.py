#!/usr/bin/env python
"""Driver-window rehearsal: run the FIRST N (default 50) queries()
entries — exactly the slice the round driver's correctness check
will record — on a plain SparkSession against their DuckDB oracles.
A query is also bad if it leaves a temporary view or function in the
session that was not there before it ran.

This is the freeze gate (VERDICT r7 ask #1): after the window is
generated (tools/rotate_window.py) and before round close, this must
print ``WINDOW DONE bad = []``; any query that changes after that
must go back to the front of the window via --changed on the next
rotate_window run.

Run: python tools/check_window.py [N]
Env: SPARK_GRAFT_SWEEP_SF_DIR (default /root/testdata/sf0.01).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from tools.oracle_compare import (
    assert_oracle_dtypes,
    catalog_entries,
    compare,
    register_views,
)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf = os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.01")

    import duckdb

    spark = SparkSession.builder.master("local[8]").appName("window").getOrCreate()
    spark.sparkContext.setLogLevel("FATAL")
    import __spark_entry__ as m

    con = duckdb.connect()
    register_views(con, sf)

    qs, osql = m.queries(), m.oracle_sql()
    # fail FAST on driver-divergent oracle types (HUGEINT class,
    # r7-r11 reds) before running the window
    assert_oracle_dtypes(con, osql)
    bad = []
    for name in list(qs)[:n]:
        before = catalog_entries(spark)
        try:
            sdf = qs[name](spark, sf)
            if name not in osql:
                print(f"{name}: NO_ORACLE rows={sdf.count()}", flush=True)
                continue
            schema_ok, values_ok, ns, no = compare(con, sdf, osql[name])
            if not (schema_ok and values_ok):
                bad.append(name)
            print(
                f"{name}: {'OK' if schema_ok and values_ok else 'MISMATCH'} "
                f"{ns}/{no}",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 — report, keep checking
            bad.append(name)
            print(f"{name}: FAIL {type(exc).__name__} {str(exc)[:150]}", flush=True)
        finally:
            left = sorted(catalog_entries(spark) - before)
            if left:
                if name not in bad:
                    bad.append(name)
                print(f"{name}: LEFTOVER {left}", flush=True)
            # per-call tracked_persist sites otherwise accumulate
            # orphan cache blocks across the window (ADVICE r10);
            # unpersist_all also empties the driver-side registry
            # that clearCache leaves growing (review finding r11)
            from lightlane_spark.cache import unpersist_all

            unpersist_all()
            spark.catalog.clearCache()
    print("WINDOW DONE bad =", bad, flush=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
