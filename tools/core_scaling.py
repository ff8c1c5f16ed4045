#!/usr/bin/env python
"""Core-count scaling audit (VERDICT r13 ask #1): measure parallel
speedup where COMPUTE dominates, so the driver's low-core probe has
one committed artifact that separates "honored but floor-dominated"
from "env var ignored".

At sf0.1 every bench query is dominated by the ~0.17 s/job scheduling
floor, so 8-vs-32-core ratios sit near 1 regardless of how well the
engine scales (PERF_r13 flagged this as ``suspect_cpus_ignored``).
This tool derives the same factor-N corpus the scale-ratio audit uses
(``tools/scale_ratio.py`` derivation — /root/testdata is never
touched), then times a compute-heavy query set at two core counts in
the SAME process: ``spark.stop()`` + a rebuilt session with
``master=local[c]`` (the py4j JVM is reused; the SparkContext and its
scheduler are fully rebuilt, which is what the core count lives in).

Interleaving: for each query the schedule is 32 → 8 → 32 → 8 (one
timed rep per session visit after a warm rep, both through
``tools/runs.py::run_reps``), so drifting foreign
load on this shared box lands on both core counts of the same query
rather than on one whole phase.

Run:  python tools/core_scaling.py [--factor 10] [--cpus 8,32]
      [--queries a,b,c] [--src /root/testdata/sf0.1]
Output: SCALE_CORES.json at the repo root (override with --out).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# memory must scale with data, as in scale_ratio.py (set before any
# lightlane_spark.session import — the conf dict reads env at import)
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

# Compute-heavy set: the queries whose 10x runtime is executor-bound
# (SCALE_RATIO.json t10 ≥ ~4 s), so a core-count change must move
# them if the engine scales.
AUDIT_QUERIES = [
    "bow_similarity",
    "set_similarity_join",
    "containment_join",
    "frequent_pairs",
    "kcore_peel",
    "minhash_lsh_pairs",
    "cooccurrence_pmi",
    "ngram_jaccard",
]


def _fresh_session(cpus: int):
    """Stop any active session and build one at local[cpus]."""
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    from lightlane_spark.session import get_spark

    spark = get_spark(
        app_name=f"lightlane-core-scaling-{cpus}", master=f"local[{cpus}]"
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=10)
    ap.add_argument("--cpus", default="8,32")
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--visits", type=int, default=2, help="timed visits per core count")
    ap.add_argument("--out", default=os.path.join(ROOT, "SCALE_CORES.json"))
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    from tools.scale_ratio import derive

    names = args.queries.split(",") if args.queries else AUDIT_QUERIES
    cpu_list = [int(c) for c in args.cpus.split(",")]
    work = args.workdir or tempfile.mkdtemp(prefix="llspark_cores_")
    dn = os.path.join(work, f"x{args.factor}")

    load_start = os.getloadavg()
    t0 = time.perf_counter()
    if not os.path.isdir(dn) or not os.listdir(dn):
        print(f"core_scaling: deriving x{args.factor} under {work}")
        counts = derive(args.src, dn, args.factor)
    else:
        counts = {}
    derive_sec = round(time.perf_counter() - t0, 1)

    import __spark_entry__ as entry_mod
    from tools.runs import run_reps

    qs = entry_mod.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        print(f"core_scaling: unknown queries {missing}", file=sys.stderr)
        return 2

    # reps[query][cpus] -> list of timed samples (one per visit: the
    # second of two reps, so codegen/footer first-touch stays out of
    # the number)
    reps: dict[str, dict[int, list[float]]] = {
        n: {c: [] for c in cpu_list} for n in names
    }
    resolved: dict[int, dict] = {}
    # visit schedule: alternate core counts, 32 first (descending)
    schedule = []
    for _ in range(args.visits):
        for c in sorted(cpu_list, reverse=True):
            schedule.append(c)
    for visit, cpus in enumerate(schedule, 1):
        spark = _fresh_session(cpus)
        resolved[cpus] = {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
        }
        for n in names:
            la = os.getloadavg()[0]
            try:
                # the timed rep keeps the warm rep's persisted
                # intermediates, as bench.py's reps do; a cold timed
                # rep is dominated by first-materialization costs that
                # mask core-count sensitivity (r14: kcore_peel timed
                # 12 s at BOTH 8 and 32 cores cold vs 2.1 s steady).
                dt = round(run_reps(spark, lambda: qs[n](spark, dn), 2)[1], 3)
                reps[n][cpus].append(dt)
                print(
                    f"core_scaling: [visit {visit}/{len(schedule)}] "
                    f"local[{cpus}] {n} = {dt}s (load {la:.2f})",
                    flush=True,
                )
            except Exception as exc:  # noqa: BLE001 — isolate per query
                print(f"core_scaling: {n}@{cpus} FAILED: {exc}", file=sys.stderr)
        spark.stop()

    lo, hi = min(cpu_list), max(cpu_list)
    queries = {}
    for n in names:
        t_lo = min(reps[n][lo]) if reps[n][lo] else None
        t_hi = min(reps[n][hi]) if reps[n][hi] else None
        queries[n] = {
            f"t{lo}": t_lo,
            f"t{hi}": t_hi,
            "speedup": round(t_lo / t_hi, 2) if t_lo and t_hi else None,
            **{f"reps{c}": reps[n][c] for c in cpu_list},
        }
    sp = sorted(v["speedup"] for v in queries.values() if v["speedup"])
    result = {
        "factor": args.factor,
        "src": args.src,
        "cpus": cpu_list,
        "resolved": resolved,
        "speedup_median": sp[len(sp) // 2] if sp else None,
        "speedup_max": sp[-1] if sp else None,
        "derive_sec": derive_sec,
        "rows": counts,
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
        "idle": load_start[0] <= 1.0,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "queries": queries,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)
    print(
        f"core_scaling: median {hi}/{lo}-core speedup "
        f"{result['speedup_median']} max {result['speedup_max']}; wrote {args.out}"
    )
    if not args.keep:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
