"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

import checks
import eventlog
import spans
import stats

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# --- op_s.tail: the highest percentile with ten samples beyond it

def test_tail_of_100_is_p90():
    value, pct, n = stats.tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)


def test_tail_of_50_is_p80_and_order_free():
    samples = [float(i) for i in range(50, 0, -1)]
    value, pct, n = stats.tail(samples)
    assert (value, pct, n) == (40.0, 80.0, 50)
    assert sum(s > value for s in samples) == 10


def test_tail_needs_more_than_ten():
    assert stats.tail([1.0] * 11) == (1.0, 100.0 / 11, 11)
    with pytest.raises(ValueError):
        stats.tail([1.0] * 10)


# --- a warm pass: the sum of each op's median over the warm passes

def test_warm_pass_sums_per_op_medians():
    import run

    # twelve passes (the tail needs more than ten op samples); op a is
    # 9 s in a quarter of them
    warm = [(0.0, [("a", 1.0), ("b", 0.2)]), (0.0, [("a", 9.0), ("b", 0.2)]),
            (0.0, [("a", 1.2), ("b", 0.4)]), (0.0, [("a", 1.0), ("b", 0.3)])] * 3
    cpu = [[(op, 2 * t) for op, t in ops] for _, ops in warm]
    e2e, info = run._end_to_end(1.0, 5.0, warm, cpu, 110, 1.0)
    assert info["op_medians"] == {"a": 1.1, "b": 0.25}
    assert info["wall_s"] == pytest.approx(1.35)
    assert e2e["cpu_s"][0] == pytest.approx(2.7)
    assert info["rows_per_s"] == pytest.approx(110 / 1.35)
    assert info["op_s.p50"] == pytest.approx((1.1 + 0.25) / 2)


def test_tree_cpu_counts_reaped_children():
    import subprocess
    import sys

    c0 = stats.tree_cpu_s()
    subprocess.run([sys.executable, "-c", "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"], check=True)
    assert stats.tree_cpu_s() - c0 >= 0.25


# --- span self time

def _span(i, start, end, parent=None):
    return spans.Span(i, f"s{i}", "op", parent, start, end)


def test_self_time_merges_overlapping_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 2.0, 5.0, 0), _span(3, 8.0, 12.0, 0)]
    # covered: [1, 5] and [8, 10] (the part past the parent's end is cut)
    assert spans.self_time(parent, kids) == pytest.approx(10.0 - 4.0 - 2.0)


def test_self_time_without_children_is_duration():
    assert spans.self_time(_span(0, 2.0, 4.5), []) == pytest.approx(2.5)


# --- event-log parser on a recorded log (local[2]: a grouped aggregate,
# a grouped noop write, an ungrouped collect)

def test_eventlog_parser_recorded_log():
    groups = eventlog.parse_file(os.path.join(DATA, "small_eventlog.jsonl"))
    agg = groups["p1.0.q/1"]
    # AQE runs the shuffle map stage as its own job, then the result
    # job over one coalesced partition
    assert (agg.jobs, agg.stages, agg.tasks, agg.failed_tasks) == (2, 2, 3, 0)
    assert agg.shuffle_write_bytes == agg.shuffle_read_bytes == 770
    assert 0 < agg.task_cpu_s < agg.task_run_s
    noop = groups["p1.0.q/2"]
    assert (noop.jobs, noop.stages, noop.tasks, noop.shuffle_write_bytes) == (1, 1, 2, 0)
    assert (groups[None].jobs, groups[None].tasks) == (1, 1)


def test_eventlog_parser_wait_and_failures():
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.jobGroup.id": "g/1"}}',
        '{"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4, '
        '"Stage Attempt ID": 0, "Submission Time": 1000}, "Properties": {"spark.jobGroup.id": "g/1"}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Stage Attempt ID": 0, '
        '"Task End Reason": {"Reason": "Success"}, "Task Info": {"Launch Time": 1250}, '
        '"Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 200000000, '
        '"Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 4, "Stage Attempt ID": 0, '
        '"Task End Reason": {"Reason": "ExceptionFailure"}, "Task Info": {"Launch Time": 1500}, '
        '"Task Metrics": {"Executor Run Time": 100}}',
    ]
    g = eventlog.parse(lines)["g/1"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (1, 1, 2, 1)
    assert g.task_wait_s == pytest.approx(0.25 + 0.5)
    assert g.task_run_s == pytest.approx(0.6)
    assert g.task_cpu_s == pytest.approx(0.2)
    assert g.spill_bytes == 10


# --- DuckDB MERGE replay against a hand-computed case

def test_merge_replay_hand_case():
    con = checks.connect()
    con.execute("CREATE TABLE tgt AS SELECT * FROM (VALUES (1, 10.0, 'a'), (2, 20.0, 'b'), "
                "(3, 30.0, 'c')) t(k, price, s)")
    # key 2 arrives twice: the loader keeps the lower price (ascending
    # order-by); key 4 is new
    con.execute("CREATE TABLE stg AS SELECT * FROM (VALUES (2, 25.0, 'x'), (2, 21.0, 'y'), "
                "(4, 40.0, 'z')) t(k, price, s)")
    rows = con.execute(checks.merge_sql("tgt", "stg", ["k"], ["price"], ["k", "price", "s"])
                       + " ORDER BY k").fetchall()
    assert rows == [(1, 10.0, "a"), (2, 21.0, "y"), (3, 30.0, "c"), (4, 40.0, "z")]


def test_dedup_ties_fall_back_to_other_columns():
    con = checks.connect()
    con.execute("CREATE TABLE stg AS SELECT * FROM (VALUES (1, 5.0, 'q'), (1, 5.0, 'b')) t(k, p, s)")
    sql = checks.dedup_keep_first_sql("stg", ["k"], ["p"], ["k", "p", "s"])
    assert con.execute(sql).fetchall() == [(1, 5.0, "b")]


def test_digest_is_order_independent():
    con = checks.connect()
    a = checks.digest(con, "(SELECT * FROM (VALUES (1, 'x'), (2, NULL)) t(a, b))")
    b = checks.digest(con, "(SELECT * FROM (VALUES (2, NULL), (1, 'x')) t(a, b))")
    c = checks.digest(con, "(SELECT * FROM (VALUES (2, 'x'), (1, NULL)) t(a, b))")
    assert a == b and a[0] == 2 and a != c


# --- the traced run wraps every place a caller looks a target up

def test_every_lookup_of_an_original_is_wrapped():
    import __spark_entry__  # noqa: F401 — loads the query modules

    spans.import_all()
    patcher = spans.Patcher(spans.Tracer())
    originals = patcher.originals

    def leftovers():
        found = []
        for m in spans.scanned_modules():
            for k, v in vars(m).items():
                if any(v is o for o in originals):
                    found.append(f"{m.__name__}.{k}")
        for owner, attr, orig, _ in patcher.resolved:
            if isinstance(owner, type) and getattr(owner, attr) is orig:
                found.append(f"{owner.__name__}.{attr}")
        return found

    before = leftovers()
    # both the defining module and each importer hold read_table
    assert "lightlane_spark.pipeline.read_table" in before
    assert "lightlane_spark.queries_relational.read_table" in before
    patcher.install()
    try:
        assert leftovers() == []
    finally:
        patcher.uninstall()
    assert sorted(leftovers()) == sorted(before)


# --- BENCHMARK.json lists exactly the metrics the runs print

def test_benchmark_json_matches_reported_metrics():
    import json

    import layers
    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ops = [("op", 0.1 * i) for i in range(1, 12)]
    e2e, _ = run._end_to_end(1.0, 1.0, [(1.0, ops)], [ops], 10, 1.0)
    assert [m["name"] for m in bench["end_to_end"]] == list(e2e)
    assert [m["unit"] for m in bench["end_to_end"]] == [u for _, u in e2e.values()]
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == layers.PER_LAYER
