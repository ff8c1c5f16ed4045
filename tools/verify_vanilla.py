"""Driver-mimic correctness sweep: run EVERY queries() entry on a
PLAIN SparkSession (no lightlane session tuning) and compare against
its oracle_sql() via DuckDB — exactly what the round driver does.
A query is also bad if it leaves a temporary view or function in the
session that was not there before it ran.

Run from anywhere: python tools/verify_vanilla.py [query ...]
With query names, only those queries run (a per-change gate in
seconds instead of the full sweep); an unknown name is reported bad.
Env: SPARK_GRAFT_SWEEP_SF_DIR (default /root/testdata/sf0.01).
"""

import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession

spark = SparkSession.builder.master('local[8]').appName('vanilla').getOrCreate()
spark.sparkContext.setLogLevel('FATAL')
import __spark_entry__ as m
import duckdb

# canonicalization + view setup shared with tools/check_window.py —
# ONE definition so the freeze gate and this sweep can never disagree
from tools.oracle_compare import (
    assert_oracle_dtypes,
    catalog_entries,
    compare,
    register_views,
)

sf = os.environ.get('SPARK_GRAFT_SWEEP_SF_DIR', '/root/testdata/sf0.01')
con = duckdb.connect()
register_views(con, sf)

qs, osql = m.queries(), m.oracle_sql()
# fail FAST on driver-divergent oracle types (HUGEINT class, r7-r11
# reds) before spending ~25 min running queries
assert_oracle_dtypes(con, osql)
names = sys.argv[1:] or sorted(qs)
bad = [n for n in names if n not in qs]
for n in bad:
    print('UNKNOWN', n, flush=True)
for name in (n for n in names if n in qs):
    before = catalog_entries(spark)
    try:
        sdf = qs[name](spark, sf)
        if name not in osql:
            sdf.collect()
            continue
        schema_ok, values_ok, ns, no = compare(con, sdf, osql[name])
        if not (schema_ok and values_ok):
            bad.append(name)
            print('MISMATCH', name, 'cols_ok=', schema_ok, ns, no, flush=True)
    except Exception as e:
        bad.append(name)
        print('FAIL', name, type(e).__name__, str(e)[:150], flush=True)
    finally:
        left = sorted(catalog_entries(spark) - before)
        if left:
            if name not in bad:
                bad.append(name)
            print('LEFTOVER', name, left, flush=True)
        # tracked_persist sites (bm25/tfidf postings, KM day table,
        # ...) pin a new cache entry per call; 251 queries in one
        # session otherwise accumulate orphan blocks until late
        # queries pay eviction + GC (ADVICE r10). unpersist_all is
        # the library's own lifecycle API — it also empties the
        # driver-side _TRACKED registry, which clearCache alone
        # leaves growing (review finding r11); clearCache then
        # catches anything cached outside tracked_persist.
        from lightlane_spark.cache import unpersist_all

        unpersist_all()
        spark.catalog.clearCache()
print('DONE bad =', bad, flush=True)

# Machine-readable sweep record: one row per query with the same
# three checks the driver records (rows / schema / values), so
# queries rotated out of the driver's 50-slot correctness window
# still have a committed, checkable artifact. Opt-in via
# SPARK_GRAFT_SWEEP_RECORD=<path> (the repo commits SWEEP_LOCAL.json
# produced at sf0.01).
record_path = os.environ.get('SPARK_GRAFT_SWEEP_RECORD')
if record_path:
    import json as _json
    import subprocess as _sp

    rev = _sp.run(
        ['git', '-C', os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
         'rev-parse', '--short', 'HEAD'],
        capture_output=True, text=True,
    ).stdout.strip()
    rec = {
        'sf_dir': sf,
        'git_rev': rev,
        'n_queries': len(names),
        'results': {
            name: ('fail' if name in bad else
                   'pass' if name in osql else 'no_oracle')
            for name in names
        },
    }
    with open(record_path, 'w') as fh:
        _json.dump(rec, fh, indent=1, sort_keys=True)
    print('wrote', record_path, flush=True)
