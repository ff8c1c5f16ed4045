"""Driver-mimic correctness sweep: run EVERY queries() entry on a
PLAIN SparkSession (no lightlane session tuning) and compare against
its oracle_sql() via DuckDB — exactly what the round driver does.
A query is also bad if it leaves a temporary view or function in the
session that was not there before it ran, or holds more persistent RDDs
after unpersist_all() and clearCache() than before it ran. A query
without an oracle is collected and must raise nothing.

Run from anywhere: python tools/verify_vanilla.py [query ...]
With query names, only those queries run (a per-change gate in
seconds instead of the full sweep); an unknown name is reported bad.
Env: SPARK_GRAFT_SWEEP_SF_DIR (default /root/testdata/sf0.01).
"""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from lightlane_spark.cache import unpersist_all

from tools.oracle_compare import (
    assert_oracle_dtypes,
    catalog_entries,
    compare,
    persistent_rdds,
    register_views,
)


def setup(app_name: str):
    """A plain local[8] session, a DuckDB connection with the sweep SF's
    views, the registry and its oracles: ``(spark, con, qs, osql, sf)``.
    Fails fast on driver-divergent oracle types (HUGEINT class, r7-r11
    reds) before any query runs."""
    import duckdb
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master('local[8]').appName(app_name).getOrCreate()
    spark.sparkContext.setLogLevel('FATAL')
    import __spark_entry__ as m

    sf = os.environ.get('SPARK_GRAFT_SWEEP_SF_DIR', '/root/testdata/sf0.01')
    con = duckdb.connect()
    register_views(con, sf)
    qs, osql = m.queries(), m.oracle_sql()
    assert_oracle_dtypes(con, osql)
    return spark, con, qs, osql, sf


def sweep(spark, con, queries, oracles, names, sf_dir) -> list[str]:
    """Run ``names`` in order against their oracles; returns the bad
    names (unknown first, then in run order)."""
    bad = [n for n in names if n not in queries]
    for n in bad:
        print('UNKNOWN', n, flush=True)
    for name in (n for n in names if n in queries):
        before, rdds = catalog_entries(spark), persistent_rdds(spark)
        try:
            sdf = queries[name](spark, sf_dir)
            if name not in oracles:
                sdf.collect()
                continue
            schema_ok, values_ok, ns, no = compare(con, sdf, oracles[name])
            if not (schema_ok and values_ok):
                bad.append(name)
                print('MISMATCH', name, 'cols_ok=', schema_ok, ns, no, flush=True)
        except Exception as e:
            bad.append(name)
            print('FAIL', name, type(e).__name__, str(e)[:150], flush=True)
        finally:
            left = sorted(catalog_entries(spark) - before)
            # tracked_persist and tracked_checkpoint sites (bm25/tfidf
            # postings, KM day table, graph rounds, ...) pin new blocks per
            # call; 251 queries in one session otherwise accumulate orphan
            # blocks until late queries pay eviction + GC (ADVICE r10).
            # unpersist_all is the library's own lifecycle API — it also
            # empties the driver-side _TRACKED registry, which clearCache
            # alone leaves growing (review finding r11); clearCache then
            # catches anything cached outside tracked_persist.
            unpersist_all()
            spark.catalog.clearCache()
            held = persistent_rdds(spark) - rdds
            if held > 0:
                left.append(f'{held} persistent RDDs')
            if left:
                if name not in bad:
                    bad.append(name)
                print('LEFTOVER', name, left, flush=True)
    return bad


def main() -> None:
    spark, con, qs, osql, sf = setup('vanilla')
    names = sys.argv[1:] or sorted(qs)
    bad = sweep(spark, con, qs, osql, names, sf)
    print('DONE bad =', bad, flush=True)

    # Machine-readable sweep record: one row per query with the same
    # three checks the driver records (rows / schema / values), so
    # queries rotated out of the driver's 50-slot correctness window
    # still have a committed, checkable artifact. Opt-in via
    # SPARK_GRAFT_SWEEP_RECORD=<path> (the repo commits SWEEP_LOCAL.json
    # produced at sf0.01).
    record_path = os.environ.get('SPARK_GRAFT_SWEEP_RECORD')
    if record_path:
        import json
        import subprocess

        rev = subprocess.run(
            ['git', '-C', ROOT, 'rev-parse', '--short', 'HEAD'],
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
            json.dump(rec, fh, indent=1, sort_keys=True)
        print('wrote', record_path, flush=True)


if __name__ == '__main__':
    main()
