"""Per-layer metrics of the traced run, from its spans and event log."""

from __future__ import annotations

from collections import defaultdict

import eventlog
import stats
from spans import Span, group_id, self_time
from workloads import QUERY_DRIVER, QUERY_EXEC

# (name, unit) in report order; BENCHMARK.json lists the same names.
PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("sources.read_table_s", "s"), ("sources.read_table_calls", "count"),
    ("sources.read_table_jobs", "count"), ("sources.read_jdbc_s", "s"),
    ("build.s", "s"), ("build.self_s", "s"), ("build.jobs", "count"),
    ("build.py4j_calls", "count"), ("build.py4j_calls_cold", "count"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
    ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
    ("exec.task_wait_s", "s"), ("exec.core_busy", "ratio"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.spill_bytes", "bytes"), ("exec.failed_tasks", "count"),
    ("cache.persists", "count"), ("cache.bytes", "bytes"),
    ("jobspec.build_s", "s"), ("pipeline.run_s", "s"), ("pipeline.jobs", "count"),
    ("extract.range_read_s", "s"), ("extract.range_read_jobs", "count"),
    ("loader.overwrite_s", "s"), ("loader.append_s", "s"), ("loader.merge_s", "s"),
    ("sinks.csv_s", "s"), ("sinks.hive_text_s", "s"),
    ("loader.bytes_written", "bytes"), ("loader.files_written", "count"),
    ("loader.write_amp", "ratio"),
    ("trace.overhead_s", "s"), ("trace.unaccounted_s", "s"),
    ("membership.violations", "count"),
    ("mem.jvm_peak_mb", "MB"), ("mem.python_peak_mb", "MB"),
]

_EXEC_FIELDS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_wait_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "failed_tasks")


class SpanTree:
    def __init__(self, spans: list[Span], groups: dict) -> None:
        self.groups = groups
        self.children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children[cur.id])
        return out

    def named(self, root: Span, name: str) -> list[Span]:
        """Outermost spans called ``name`` under ``root``."""
        out, todo = [], list(self.children[root.id])
        while todo:
            cur = todo.pop()
            if cur.name == name:
                out.append(cur)
            else:
                todo.extend(self.children[cur.id])
        return out

    def stats(self, roots: list[Span]) -> eventlog.GroupStats:
        total = eventlog.GroupStats()
        for r in roots:
            for s in self.subtree(r):
                g = self.groups.get(group_id(s))
                if g is not None:
                    total.add(g)
        return total

    def py4j(self, roots: list[Span]) -> int:
        return sum(s.py4j for r in roots for s in self.subtree(r))


def op_metrics(tree: SpanTree, op: Span, is_query: bool) -> dict[str, float]:
    """Every per-layer figure of one op."""
    build = tree.named(op, "build" if is_query else "jobspec.build")
    execs = tree.named(op, "exec" if is_query else "pipeline.run")
    reads = tree.named(op, "sources.read_table")
    ranges = tree.named(op, "extract.range_read")
    pipes = tree.named(op, "pipeline.run")
    loads = tree.named(op, "loader.execute")
    plan = tree.named(op, "plan")
    ex = tree.stats(execs)
    m = {
        "wall_s": op.dur,
        "sources.read_table_s": sum(s.dur for s in reads),
        "sources.read_table_calls": len(reads),
        "sources.read_table_jobs": tree.stats(reads).jobs,
        "sources.read_jdbc_s": sum(s.dur for s in tree.named(op, "sources.read_jdbc")),
        "build.s": sum(s.dur for s in build),
        "build.self_s": sum(self_time(s, tree.children[s.id]) for s in build),
        "build.jobs": tree.stats(build).jobs,
        "build.py4j_calls": tree.py4j(build),
        "exec.s": sum(s.dur for s in execs),
        **{f"exec.{k}": getattr(ex, k) for k in _EXEC_FIELDS},
        "cache.persists": op.attrs.get("cache_persists", 0),
        "cache.bytes": op.attrs.get("cache_bytes", 0),
        "jobspec.build_s": sum(s.dur for s in tree.named(op, "jobspec.build")),
        "pipeline.run_s": sum(s.dur for s in pipes),
        "pipeline.jobs": tree.stats(pipes).jobs,
        "extract.range_read_s": sum(s.dur for s in ranges),
        "extract.range_read_jobs": tree.stats(ranges).jobs,
        "sinks.csv_s": sum(s.dur for s in tree.named(op, "sinks.csv")),
        "sinks.hive_text_s": sum(s.dur for s in tree.named(op, "sinks.hive_text")),
        "loader.bytes_written": op.attrs.get("bytes_written", 0),
        "loader.files_written": op.attrs.get("files_written", 0),
        "input_bytes": op.attrs.get("input_bytes", 0),
    }
    for mode in ("overwrite", "append", "merge"):
        m[f"loader.{mode}_s"] = sum(s.dur for s in loads if s.attrs.get("mode") == mode)
    for ph in ("analysis", "optimization", "planning"):
        m[f"plan.{ph}_ms"] = sum(s.attrs.get(f"{ph}_ms", 0.0) for s in plan)
    m["unaccounted_s"] = m["wall_s"] - m["build.s"] - m["exec.s"]
    return m


def membership_violation(op: str, m: dict) -> str | None:
    """The op-group membership rule for one warm op, or None if it holds:
    an executor-bound op builds in under 0.4 s and fires no build jobs;
    a driver-bound op has >= 5 build jobs, >= 1 tracked persist, or
    >= 0.5 s of build."""
    if op in QUERY_EXEC and not (m["build.s"] < 0.4 and m["build.jobs"] == 0):
        return f"build {m['build.s']:.2f}s with {m['build.jobs']} jobs"
    if op in QUERY_DRIVER and not (
            m["build.jobs"] >= 5 or m["cache.persists"] >= 1 or m["build.s"] >= 0.5):
        return (f"build {m['build.s']:.2f}s, {m['build.jobs']} jobs, "
                f"{m['cache.persists']} persists")
    return None


def per_layer(spans, eventlog_path, wl, cores, get_spark_s, warm, traced_flags,
              detail) -> dict[str, tuple[float, str]]:
    """Aggregate the traced run: per-layer sums per traced warm pass
    (averaged over those passes), the cold pass's py4j count, and the
    tracing overhead (median traced minus median untraced warm pass)."""
    tree = SpanTree(spans, eventlog.parse_file(eventlog_path))
    is_query = wl.name != "etl_load"
    per_op = []
    for s in spans:
        if s.name == "op":
            m = op_metrics(tree, s, is_query)
            m["op"], m["pass"] = s.attrs["op_name"], s.attrs["pass_idx"]
            per_op.append(m)
    warm_ops = [m for m in per_op if m["pass"] > 0]
    n_pass = len({m["pass"] for m in warm_ops})
    keys = [k for k, _ in PER_LAYER if k in warm_ops[0]]
    agg = {k: sum(m[k] for m in warm_ops) / n_pass for k in keys}
    agg["input_bytes"] = sum(m["input_bytes"] for m in warm_ops) / n_pass
    agg["session.get_spark_s"] = get_spark_s
    agg["build.py4j_calls_cold"] = sum(m["build.py4j_calls"] for m in per_op if m["pass"] == 0)
    agg["exec.core_busy"] = agg["exec.task_run_s"] / (agg["exec.s"] * cores) if agg["exec.s"] else 0.0
    agg["loader.write_amp"] = (agg["loader.bytes_written"] / agg["input_bytes"]
                               if agg["input_bytes"] else 0.0)
    traced = [w for (w, _), t in zip(warm, traced_flags) if t]
    untraced = [w for (w, _), t in zip(warm, traced_flags) if not t]
    agg["trace.overhead_s"] = (stats.median(traced) - stats.median(untraced)
                               if traced and untraced else 0.0)
    agg["trace.unaccounted_s"] = max(m["unaccounted_s"] for m in per_op) if is_query else 0.0
    violations = {}
    for m in warm_ops:
        v = membership_violation(m["op"], m)
        if v:
            violations[m["op"]] = v
    agg["membership.violations"] = len(violations)
    agg["mem.jvm_peak_mb"] = detail["peak_rss_mb"]["jvm"]
    agg["mem.python_peak_mb"] = detail["peak_rss_mb"]["python"]
    detail["per_op"] = per_op
    detail["membership_violations"] = violations
    detail["untraced_warm_walls"] = untraced
    detail["traced_warm_walls"] = traced
    return {k: (float(agg[k]), u) for k, u in PER_LAYER}
