"""Repeated-corpus-scan audit: count parquet scans (and sort-merge
joins) in every declared query's physical plan and flag same-table
repeats — the multi-consumer-lineage bug class found in round 7
(blockhash_near_pairs evaluated its signature chain 8×: 16 corpus
scans for one query).

A DataFrame consumed by N downstream branches re-runs its ENTIRE
lineage N times unless a materialization boundary (persist /
localCheckpoint) is placed at an aggregate- or dimension-sized
relation. At sf0.01 that's invisible in wall time; at 100 TB each
repeat is a full corpus read. The audit makes the class visible from
the plan alone.

Usage: python tools/audit_scans.py [--min-scans N] [query ...]
  (default 3). With query names, only those queries are audited, every
  one is reported, and each is also RUN: ``executed=`` then counts the
  table scans left in the final adaptive plan, where a ReusedExchange
  stands in for a repeated subtree. A cached relation's plan is printed
  at every read of it, so with persisted frames the count is an upper
  bound on the scans that execute.

Interpreting hits — not every repeat is a bug:
  - multi-TABLE joins (different files) are fine;
  - fixture unions (docs ∪ mutated twins) scan the base per branch
    by construction; expanding each row into its variants in one scan
    ran slower on a 10× corpus, since the variants then share their
    split's task (``queries_m5.py::_docs_with_dups``);
  - recall-contract queries embed a second verifier chain on purpose;
  - bucketed unions of disjoint scans ARE the operator;
  - consumers hash-partitioned on the SAME key share one exchange at
    runtime (ReusedExchange) — the "repeat" is already free.
The bug smell is the SAME table repeated because a tiny intermediate
was never pinned. A hit is a HYPOTHESIS: confirm with a same-session
A/B (tools/ab_persist.py) before shipping a persist — r8 shipped two
fixes off the raw count alone, measured them 3-10x slower
(the persist replaced free exchange reuse with a corpus-sized cache
write), and reverted. Confirmed fixes land as tracked_persist
(library cache contract) or localCheckpoint at the smallest relation
that cuts the fan-out; tests/test_plan_quality.py pins the counts.
"""

from __future__ import annotations

import collections
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def _final_plans(df) -> str:
    """The executed plan after an action, with every adaptive plan's
    "Initial Plan" section cut: what remains is the final plans (the
    cached relations' ones included), one line per operator."""
    text = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    kept, skip_below = [], None
    for line in text.splitlines():
        depth = len(line) - len(line.lstrip(" :+-|"))
        if skip_below is not None and depth >= skip_below:
            continue
        skip_below = None
        if "== Initial Plan ==" in line:
            skip_below = depth
            continue
        kept.append(line)
    return "\n".join(kept)


def main() -> None:
    argv = sys.argv[1:]
    min_scans = 3
    if "--min-scans" in argv:
        i = argv.index("--min-scans")
        min_scans = int(argv[i + 1])
        del argv[i : i + 2]
    names = argv
    if names:
        min_scans = 0
    sf = os.environ.get("SPARK_GRAFT_SWEEP_SF_DIR", "/root/testdata/sf0.01")

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .appName("audit-scans")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("FATAL")
    import __spark_entry__ as m
    from lightlane_spark.plans.explain import plan_summary

    qs = m.queries()
    rows = []
    for name in names or sorted(qs):
        if name.startswith("streaming"):
            continue  # executes during construction
        try:
            df = qs[name](spark, sf)
            ps = plan_summary(df)
            tabs = collections.Counter(
                re.findall(r"([a-z_0-9]+)\.parquet", ps.text)
            )
            executed = None
            if names:
                df.collect()
                executed = dict(collections.Counter(re.findall(
                    r"([a-z_0-9]+)\.parquet", _final_plans(df)
                )))
            worst = max(tabs.values(), default=0)
            # DISTINCT scan node ids: the formatted tree prints a
            # SHARED subtree with the same node id everywhere it
            # appears, so this dedups what the mention count double-
            # counts. Still an upper bound on executed scans — it
            # cannot see runtime ReusedExchange (two consumers hash-
            # partitioned on the same key run ONE exchange), which is
            # why a hit here is a HYPOTHESIS to A/B, never a fix to
            # apply blind (r8: two "fixes" shipped off the raw count
            # measured 3-10x slower and were reverted).
            distinct_ids = len(
                set(re.findall(r"\((\d+)\) Scan parquet", ps.text))
            )
            reused = len(re.findall(r"ReusedExchange", ps.text))
            if worst >= min_scans:
                rows.append(
                    (worst, name, dict(tabs), ps.sortmerge_joins,
                     distinct_ids, reused, executed)
                )
        except Exception as exc:  # noqa: BLE001 — report, keep auditing
            rows.append((-1, name, {"ERR": type(exc).__name__}, 0, 0, 0, None))
        finally:
            spark.catalog.clearCache()
    rows.sort(reverse=True)
    for worst, name, tabs, smj, distinct_ids, reused, executed in rows:
        print(
            f"{worst:3d}  {name:32s} {tabs} smj={smj} "
            f"distinct_scan_nodes={distinct_ids} reused_exchange={reused}"
            + ("" if executed is None else f" executed={executed}"),
            flush=True,
        )
    print(f"-- {len(rows)} queries at >= {min_scans} same-table scans", flush=True)


if __name__ == "__main__":
    main()
