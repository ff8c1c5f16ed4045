"""Pipeline observability — OP-37 (progress/metrics).

The reference logs a row counter every 10k rows with elapsed time
(``dumper/worker.py:73-80``, ``utils/time.py:19-45``). Driver-side
counting would serialize the pipeline; Spark's ``df.observe`` attaches
aggregate metrics to the PLAN, collected as a side effect of whatever
action runs — zero extra passes, works at any scale.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


@dataclass
class PipelineMetrics:
    """Named observation points along a pipeline; ``results`` is
    populated after the first action executes."""

    observations: dict[str, Observation] = field(default_factory=dict)
    started_at: float = field(default_factory=time.monotonic)

    def observe_count(self, df: DataFrame, name: str) -> DataFrame:
        obs = Observation(name)
        self.observations[name] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def results(self) -> dict[str, dict]:
        out = {}
        for name, obs in self.observations.items():
            out[name] = dict(obs.get)
        out["__elapsed_sec"] = round(time.monotonic() - self.started_at, 3)
        return out
