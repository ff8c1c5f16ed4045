"""BENCH_IDLE write guard (VERDICT r12 ask #3): the committed idle
bench artifact must be structurally unable to contain a loaded-box
measurement. Pure-JSON tests — no Spark session."""

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import IDLE_LOADAVG_MAX, refresh_bench_idle  # noqa: E402


def _detail(idle: bool, **over):
    d = {
        "metric": "headline_queries_total",
        "value": 95.0,
        "sf": 0.1,
        "idle": idle,
        "loadavg_start": [0.4 if idle else 3.4, 1.0, 1.0],
        "queries": {"pricing_summary": 0.2},
    }
    d.update(over)
    return d


def test_idle_threshold_is_one():
    # the documented threshold from the verdict ask; a silent change
    # here would re-admit loaded runs
    assert IDLE_LOADAVG_MAX == 1.0


def test_refresh_writes_only_when_idle(tmp_path):
    path = str(tmp_path / "BENCH_IDLE.json")
    assert not refresh_bench_idle(_detail(idle=False), path)
    assert not os.path.exists(path)
    assert refresh_bench_idle(_detail(idle=True), path)
    with open(path) as fh:
        assert json.load(fh)["idle"] is True
    # a later loaded run cannot clobber the idle artifact
    assert not refresh_bench_idle(_detail(idle=False, value=200.0), path)
    with open(path) as fh:
        assert json.load(fh)["value"] == 95.0


def test_missing_idle_tag_refuses(tmp_path):
    # pre-r13 artifacts have no "idle" key: refuse, don't guess
    d = _detail(idle=True)
    del d["idle"]
    assert not refresh_bench_idle(d, str(tmp_path / "BENCH_IDLE.json"))


def test_cpu_jiffies_total_excludes_guest_fields(tmp_path):
    """guest and guest_nice (fields 9-10) are already folded into user
    and nice, so the total sums only user .. steal."""
    from bench import _cpu_jiffies

    stat = tmp_path / "stat"
    #              user nice system idle iowait irq softirq steal guest guest_nice
    stat.write_text("cpu  100 20 30 400 5 6 7 8 50 10\ncpu0 1 2 3 4 5 6 7 8 9 10\n")
    assert _cpu_jiffies(str(stat)) == (8, 100 + 20 + 30 + 400 + 5 + 6 + 7 + 8)
    assert _cpu_jiffies(str(tmp_path / "missing")) is None
