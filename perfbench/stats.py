"""Summary statistics and host-load readings for the benchmark."""

from __future__ import annotations

import os
import statistics
import time

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The highest percentile that still has ``beyond`` samples above it.

    With the samples sorted ascending, that is the sample with exactly
    ``beyond`` samples after it: of 100 samples, the 90th (p90); of
    50, the 40th (p80). Returns ``(value, percentile, n)``. Needs more
    than ``beyond`` samples.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"tail needs more than {beyond} samples, got {n}")
    k = n - beyond  # samples at or below the reported one
    return sorted(samples)[k - 1], 100.0 * k / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


def spread(samples: list[float]) -> float:
    """Quartile distance as a share of the median (the steadiness figure)."""
    q1, q2, q3 = statistics.quantiles(samples, n=4)
    return (q3 - q1) / q2


def _cpu_fields() -> list[int]:
    with open("/proc/stat") as f:
        line = f.readline().split()
    # user nice system idle iowait irq softirq steal. The later guest
    # and guest_nice fields are already included in user and nice, so
    # summing them would count guest time twice.
    return [int(x) for x in line[1:9]]


class HostLoad:
    """Load average at start and end, and steal % between them."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self._cpu0 = _cpu_fields()

    def finish(self) -> dict:
        cpu1 = _cpu_fields()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        total = sum(delta)
        return {
            "loadavg_start": list(self.load_start),
            "loadavg_end": list(os.getloadavg()),
            "steal_pct": 100.0 * delta[7] / total if total else 0.0,
        }


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by a process and all its live descendants: the driver Python, the
    driver JVM with its JIT and GC threads, and any Python workers the
    JVM starts. With paravirtual steal accounting the guest kernel
    leaves out the time the host ran other guests on our vCPUs, which
    wall time cannot."""
    root = os.getpid() if root is None else root
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # fields after the ')' that ends the command name:
                # 0 state, 1 ppid, ..., 11 utime, 12 stime, 13 cutime, 14 cstime
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    tree, frontier = {root}, [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(frontier)
    return sum(ticks.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def reset_hwm(pid: int | str = "self") -> None:
    """Restart a process's VmHWM from its current RSS (Linux >= 4.0)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def process_start_epoch() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as f:
        # field 22 (starttime, in clock ticks since boot); the command
        # name in field 2 may hold spaces, so split after its ')'.
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
