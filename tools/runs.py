"""The one timing loop of the measurement tools (``bench.py``,
``scale_ratio.py``, ``core_scaling.py``, ``ab_persist.py``,
``measure_skew.py``).

Every rep drains the frame through the noop sink, which computes every
output column and decodes no result to the driver. ``count()`` is not
a timing action: Catalyst prunes its plan to the columns the count
needs, so a projection query timed by ``count()`` times a scan.

The cache is released after the last rep, not between reps: reps of
one call reuse what earlier reps persisted, and a caller that wants
every rep cold calls with ``reps=1`` once per rep.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from lightlane_spark.cache import unpersist_all


def run_reps(spark: SparkSession, build: Callable[[], DataFrame], reps: int) -> list[float]:
    """Seconds of each of ``reps`` runs of ``build()`` plus a noop write
    of its frame. Afterwards, also when a rep raises (which re-raises),
    every library persist and local checkpoint is released and the
    session's cache cleared."""
    out: list[float] = []
    try:
        for _ in range(reps):
            t0 = time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            out.append(time.perf_counter() - t0)
    finally:
        unpersist_all()
        spark.catalog.clearCache()
    return out
