#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl_load|query> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the inputs from ``--seed``,
starts one Spark session on ``local[<cores>]``, runs the workload's op
list once cold and then in warm passes for about ``--seconds``, checks
the outputs, and prints one JSON object as the last line of stdout.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs with
spans, job groups and a Spark event log, and reports per-layer
metrics. Details (host load, per-op rows, the tail percentile) go to
``.perfbench/results/`` and stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

SF = 0.01  # 60,000 lineitem rows, 15,000 orders
MIN_WARM_PASSES = 2


def _log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _snapshot(paths: list[str]) -> dict[str, tuple[int, int]]:
    out = {}
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                if f.startswith(("part-", "part_")):
                    st = os.stat(os.path.join(d, f))
                    out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    new = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k][0] for k in new), len(new)


def _plan_phases(df) -> dict[str, float]:
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[f"{ph}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class Runner:
    def __init__(self, spark, wl, tracer=None, patcher=None) -> None:
        from lightlane_spark.cache import unpersist_all

        self.spark, self.wl = spark, wl
        self.tracer, self.patcher = tracer, patcher
        self._unpersist_all = unpersist_all
        self.is_query = wl.name != "etl_load"
        self.attempted = 0
        self.failed = 0
        self.rows: dict[str, int] = {}
        self.py_peak_mb = 0.0
        self.failures: list[str] = []
        self.cpu_passes: list[list[tuple[str, float]]] = []  # per pass: (op, CPU s)

    def run_pass(self, idx: int, check: bool, traced: bool) -> tuple[float, list[tuple[str, float]]]:
        """One pass over the op list. Returns (pass wall, [(op, op wall)]),
        both without the output checks."""
        if self.patcher is not None:
            (self.patcher.install if traced else self.patcher.uninstall)()
        ops, cpu, wall = [], [], 0.0
        for i, op in enumerate(self.wl.ops):
            t0 = time.perf_counter()
            self._unpersist_all()
            self.spark.catalog.clearCache()
            t1 = time.perf_counter()
            c0 = stats.tree_cpu_s()
            op_wall, handle, ok = self._run_op(idx, i, op, traced, check)
            cpu.append((op, stats.tree_cpu_s() - c0))
            wall += op_wall + (t1 - t0)
            ops.append((op, op_wall))
            self.attempted += 1
            if ok and (check or not self.is_query):
                # the check's DuckDB memory is not the program's
                self.py_peak_mb = max(self.py_peak_mb, stats.vm_hwm_mb())
                try:
                    ok, self.rows[op] = self.wl.check(op, handle)
                except Exception as e:  # noqa: BLE001 — a failed check is a failed op
                    _log(f"check {op}: {e!r}")
                    ok = False
                stats.reset_hwm()
            if not ok:
                self.failed += 1
                self.failures.append(f"pass{idx}:{op}")
        if self.patcher is not None:
            self.patcher.uninstall()
        self.cpu_passes.append(cpu)
        return wall, ops

    def _run_op(self, idx: int, i: int, op: str, traced: bool, check: bool):
        """One op; returns (wall, what the check reads, ok). On a checked
        query pass the execution is a collect whose rows the check reuses."""
        wl, spark = self.wl, self.spark
        handle = None
        if not traced:
            t0 = time.perf_counter()
            try:
                handle = wl.build(spark, op)
                handle = wl.execute(handle, keep_rows=check) or handle
                ok = True
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                _log(f"op {op} failed: {e!r}")
                ok = False
            return time.perf_counter() - t0, handle, ok
        tr = self.tracer
        tr.op = f"p{idx}.{i}.{op}"
        before = _snapshot(wl.outputs(op))
        ok = True
        with tr.span("op", op_name=op, pass_idx=idx) as s_op:
            try:
                if self.is_query:
                    with tr.span("build"):
                        handle = wl.build(spark, op)
                    with tr.span("exec"):
                        with tr.span("plan") as s_plan, tr.paused():
                            s_plan.attrs.update(_plan_phases(handle))
                        handle = wl.execute(handle, keep_rows=check) or handle
                else:
                    handle = wl.build(spark, op)
                    wl.execute(handle)
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                _log(f"op {op} failed: {e!r}")
                ok = False
        with tr.paused():
            from lightlane_spark import cache

            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            s_op.attrs["cache_persists"] = len(cache._TRACKED)
            s_op.attrs["cache_bytes"] = sum(r.memSize() + r.diskSize() for r in infos)
        s_op.attrs["bytes_written"], s_op.attrs["files_written"] = _written(
            before, _snapshot(wl.outputs(op)))
        s_op.attrs["input_bytes"] = wl.input_bytes(op)
        tr.op = None
        return s_op.dur, handle, ok


def warm_passes(wl, seconds: float) -> int:
    """A fixed pass count, so every run does the same work: the
    workload's passes per 10 s of ``seconds``, at least two, and enough
    ops for the tail percentile."""
    return max(MIN_WARM_PASSES, round(seconds / 10 * wl.passes_per_10s),
               (stats.TAIL_BEYOND + len(wl.ops)) // len(wl.ops))


def op_medians(passes: list[list[tuple[str, float]]]) -> dict[str, float]:
    """Each op's median over the given passes of (op, value) lists."""
    by_op: dict[str, list[float]] = {}
    for ops in passes:
        for op, t in ops:
            by_op.setdefault(op, []).append(t)
    return {op: stats.median(ts) for op, ts in by_op.items()}


def _end_to_end(setup_s, cold_wall, warm, warm_cpu, rows_per_pass, rss) -> tuple[dict, dict]:
    """The bounded metrics, and the figures recorded next to them.

    A warm pass, in CPU or wall time, is the sum of each op's median
    over the warm passes, so one slow pass, or one slow op in it, does
    not move it. The wall-time figures did not repeat from run to run
    within a bound on a host that steals CPU time (README), so they go
    to stderr and the detail file only."""
    op_walls = [t for _, ops in warm for _, t in ops]
    per_op = op_medians([ops for _, ops in warm])
    wall_s = sum(per_op.values())
    tail_v, tail_p, n = stats.tail(op_walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "cpu_s": (sum(op_medians(warm_cpu).values()), "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    return metrics, {"wall_s": wall_s, "rows_per_s": rows_per_pass / wall_s,
                     "cold_s": cold_wall, "op_s.p50": stats.median(list(per_op.values())),
                     "op_s.tail": tail_v, "tail_percentile": tail_p, "ops": n,
                     "warm_passes": len(warm), "op_medians": per_op}


def main(argv=None) -> int:
    proc_start = stats.process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "lightlane_spark")):
        _log("perfbench: run from a repository checkout (lightlane_spark/ not found)")
        return 2
    host = stats.HostLoad()
    work = os.path.join(ROOT, ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep every scratch file of Spark, the JVM and Python inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # (-UsePerfData: no hsperfdata file under the system temp dir)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} "
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    cores = len(os.sched_getaffinity(0))
    extra = None
    if args.trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        extra = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{evdir}",
                 "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"}

    # --- set-up: process start to a session that has run one action
    from pyspark import SparkContext

    from lightlane_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]", extra_conf=extra)
    get_spark_s = time.perf_counter() - t0
    spark.range(1).count()
    setup_s = time.time() - proc_start
    jvm = SparkContext._gateway.proc
    try:
        return _run(args, spark, work, host, cores, setup_s, get_spark_s)
    finally:
        spark.stop()
        SparkContext._gateway.shutdown()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spark, work, host, cores, setup_s, get_spark_s) -> int:
    import datagen
    import layers
    import workloads

    spark.sparkContext.setLogLevel("ERROR")
    data = os.path.join(work, "data")
    datagen.generate(data, args.seed, SF)
    wl = workloads.make(args.workload, data, work)
    wl.prepare(spark)

    tracer = patcher = None
    if args.trace:
        import spans as tr

        tr.import_all()
        tracer = tr.Tracer(spark.sparkContext)
        tracer.count_py4j(spark.sparkContext._gateway._gateway_client)
        patcher = tr.Patcher(tracer)
    runner = Runner(spark, wl, tracer, patcher)
    # peak memory counts the op passes, not input generation or Derby loading
    jvm_pid = spark.sparkContext._gateway.proc.pid
    stats.reset_hwm(jvm_pid)
    stats.reset_hwm()

    t_start = time.perf_counter()
    cold_wall, cold_ops = runner.run_pass(0, check=True, traced=bool(args.trace))
    warm: list[tuple[float, list]] = []
    traced_flags: list[bool] = []
    for i in range(warm_passes(wl, args.seconds)):
        traced = bool(args.trace) and i % 2 == 0
        warm.append(runner.run_pass(i + 1, check=False, traced=traced))
        traced_flags.append(traced)
    run_s = time.perf_counter() - t_start

    rss_mb = {"jvm": stats.vm_hwm_mb(jvm_pid),
              "python": max(runner.py_peak_mb, stats.vm_hwm_mb())}
    rss = sum(rss_mb.values())
    rows_per_pass = sum(runner.rows.get(op, 0) for op in wl.ops)
    e2e, tail_info = _end_to_end(setup_s, cold_wall, warm, runner.cpu_passes[1:],
                                 rows_per_pass, rss)
    sc = spark.sparkContext
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "sf": SF,
        "master": sc.master, "default_parallelism": sc.defaultParallelism,
        "run_s": run_s, "peak_rss_mb": rss_mb, **tail_info,
        "failures": runner.failures,
        "cold_ops": cold_ops, "warm": warm, "cpu_passes": runner.cpu_passes,
    }
    if args.trace:
        spark.stop()  # flushes and closes the event log
        (log_path,) = glob.glob(os.path.join(work, "eventlog", "*"))
        metrics = layers.per_layer(
            tracer.spans, log_path, wl, cores,
            get_spark_s, warm, traced_flags, detail)
    else:
        metrics = e2e
    detail["host"] = host.finish()
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    _write_detail(detail, args)
    _log(f"{args.workload} seed={args.seed}: wall_s {tail_info['wall_s']:.3f}, "
         f"rows_per_s {tail_info['rows_per_s']:.1f}, cold_s {tail_info['cold_s']:.3f}, "
         f"op_s.p50 {tail_info['op_s.p50']:.3f}, op_s.tail {tail_info['op_s.tail']:.3f} "
         f"(p{tail_info['tail_percentile']:.0f} of {tail_info['ops']} warm ops), "
         f"{tail_info['warm_passes']} warm passes; "
         f"fail_ratio {runner.failed / runner.attempted:g} ({runner.failed}/{runner.attempted}); "
         f"host {detail['host']}")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _write_detail(detail: dict, args) -> None:
    out = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    _log(f"detail: {path}")


if __name__ == "__main__":
    sys.exit(main())
