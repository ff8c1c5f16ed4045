#!/usr/bin/env python
"""Within-session persist and checkpoint A/B (VERDICT r5 ask #1): time
each target query best-of-3 with its persist and checkpoint sites live
vs no-op'd, in ONE session, releasing library cache and checkpoints
between reps — the only comparison the box's load drift can't fake.

Site-selective: DataFrame.persist and the package's one checkpoint
helper (``cache.tracked_checkpoint``) are wrapped so a run can disable
sites per call-site (``file.py:line``) or globally; a disabled
checkpoint site returns its frame uncut. Usage:

    python tools/ab_persist.py q1 q2 ...          # on vs all-off
    python tools/ab_persist.py --sites q1 ...     # + one-site-off arms

A name of the form ``module:function`` times that callable
``(spark, sf_dir) -> DataFrame`` instead of a ``queries()`` entry.

Every arm runs twice in mirrored order (on, off, off2, on2; one-site
arms sit inside the same mirror) and arms compare best against best, so
neither a tie nor drift reads as a win for either side. An arm's spread
is the range of its two runs; a site WINS only when best-on beats
best-off by more than the larger of the on and off spreads, else it
LOSES. A site whose off arm fails the query WINS. One untimed call of
the first query warms the JVM before any arm is timed.

A one-site arm keeps every other site on, so it cannot judge two sites
that stand in for each other: each reads LOSES alone, yet with both off
the query may run slower (``bpe_train``'s two cuts), or each reads WINS
alone while both off runs faster (the MinHash chain's two persists).
Before deleting or keeping such a set, compare it off together against
on: the all-off arm does that when the query has no other site;
otherwise time the parent tree against a tree without the set.

Prints a table; exits 0 always (measurement tool, not a gate).
"""

from __future__ import annotations

import importlib
import inspect
import math
import os
import pkgutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# patch the CLASSIC DataFrame: in Spark 4 the public pyspark.sql
# .DataFrame is a base whose subclass re-defines persist — patching
# the base silently misses every call
from pyspark.sql.classic.dataframe import DataFrame

import lightlane_spark
from lightlane_spark import cache
from lightlane_spark.session import get_spark
from tools.runs import run_reps

_DISABLED: set[str] = set()  # call sites, or "*" for all
_SEEN: set[str] = set()  # sites observed during the current query
_ORIG_PERSIST = DataFrame.persist
_ORIG_CHECKPOINT = cache.tracked_checkpoint


def _site_of_caller() -> str:
    fr = inspect.currentframe().f_back.f_back
    # library persists are routed through lightlane_spark/cache.py's
    # tracked_persist (often via DataFrame.transform) — walk past those
    # frames so the reported site stays the OPERATOR's line, not the
    # shared shim
    while fr is not None:
        fn = fr.f_code.co_filename
        if os.path.basename(fn) == "cache.py" or f"{os.sep}pyspark{os.sep}" in fn:
            fr = fr.f_back
            continue
        break
    return f"{os.path.basename(fr.f_code.co_filename)}:{fr.f_lineno}"


def _switched(site: str) -> bool:
    """Records ``site``; True when its arm has it switched off."""
    _SEEN.add(site)
    return "*" in _DISABLED or site in _DISABLED


def _patched_persist(self, *args, **kwargs):
    if _switched(_site_of_caller()):
        return self
    return _ORIG_PERSIST(self, *args, **kwargs)


def _patched_checkpoint(df):
    if _switched(_site_of_caller()):
        return df
    return _ORIG_CHECKPOINT(df)


def _install() -> None:
    """Wrap persist, and re-bind the checkpoint helper in every package
    module that imported it by name."""
    DataFrame.persist = _patched_persist
    for info in pkgutil.walk_packages(lightlane_spark.__path__, "lightlane_spark."):
        mod = importlib.import_module(info.name)
        if getattr(mod, "tracked_checkpoint", None) is _ORIG_CHECKPOINT:
            mod.tracked_checkpoint = _patched_checkpoint


def _resolve(name: str, qs: dict):
    if ":" not in name:
        return qs[name]
    mod, attr = name.split(":")
    return getattr(importlib.import_module(mod), attr)


def main() -> None:
    argv = sys.argv[1:]
    per_site = "--sites" in argv
    names = [a for a in argv if not a.startswith("--")]
    if not names:
        raise SystemExit(__doc__)

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m

    qs = m.queries()
    _install()
    print(f"loadavg at start: {os.getloadavg()}")

    def run(name: str, disabled: set[str], reps: int = 3) -> tuple[float, float]:
        _DISABLED.clear()
        _DISABLED.update(disabled)
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
        times = []
        for _ in range(reps):
            # one run_reps call per rep: Spark's cache lookup is
            # PLAN-based, so a persist-ON rep would hit the previous
            # rep's cached data while the OFF arm never caches;
            # releasing after every rep keeps each rep cold and the arms
            # comparable (r6 ADVICE)
            try:
                times += run_reps(spark, lambda: _resolve(name, qs)(spark, sf_dir), 1)
            except Exception as e:
                if not disabled:
                    raise
                # the query cannot run without these sites: they stay
                print(f"  off{sorted(disabled)} FAILED: {str(e).splitlines()[0][:160]}")
                return math.inf, math.inf
        return min(times), times[0]

    # untimed warm-up: the JVM's first-call cost would otherwise land
    # in the first-listed query's on arm
    run(names[0], set(), reps=1)
    for name in names:
        _SEEN.clear()
        on, on_cold = run(name, set())
        sites = sorted(_SEEN)
        # mirrored order: each arm's two runs straddle one midpoint
        arms = [frozenset({"*"})]
        if per_site and len(sites) > 1:
            arms += [frozenset({s}) for s in sites]
        first = {a: run(name, set(a)) for a in arms}
        second = {a: run(name, set(a)) for a in reversed(arms)}
        on2, _ = run(name, set())
        best_on = min(on, on2)
        on_spread = abs(on - on2)

        def verdict(arm: frozenset) -> str:
            a, b = first[arm][0], second[arm][0]
            if math.inf in (a, b):
                return "-> site WINS (off arm failed)"
            spread = max(on_spread, abs(a - b))
            # a site stays only if its on arm beats off by more than the
            # larger arm's spread; a tie or a gap inside the noise LOSES
            wins = min(a, b) - best_on > spread
            return (
                f"spread(on/off)={on_spread:.3f}/{abs(a - b):.3f}s"
                f"  -> site {'WINS' if wins else 'LOSES'}"
            )

        off, off_cold = first[arms[0]]
        off2 = second[arms[0]][0]
        print(
            f"\n{name}: on={on:.3f}s  off={off:.3f}s  off2={off2:.3f}s"
            f"  on2={on2:.3f}s  best(on/off)={best_on:.3f}/{min(off, off2):.3f}s"
            f"  cold(on/off)={on_cold:.3f}/{off_cold:.3f}s  {verdict(arms[0])}"
        )
        print(f"  sites: {sites}")
        for arm in arms[1:]:
            (s,) = arm
            print(
                f"  off[{s}]: {first[arm][0]:.3f}s / {second[arm][0]:.3f}s"
                f"  best(on/off)={best_on:.3f}/{min(first[arm][0], second[arm][0]):.3f}s"
                f"  {verdict(arm)}"
            )
    print(f"\nloadavg at end: {os.getloadavg()}")


if __name__ == "__main__":
    main()
