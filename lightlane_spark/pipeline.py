"""Pipeline — the engine's end-to-end entry point (SURVEY §7.1).

The reference's three entry points collapse into one fluent chain:

  - Dump (``SQLDumper(...).execute()``, reference ``dumper/sql.py:
    161-165``): ``Pipeline(spark).extract_parquet(...)`` or
    ``.extract_jdbc(...)`` with columns/where/splitby/splits, then
    ``.to_csv(...)`` / ``.to_hive_text(...)`` sinks.
  - Hive load (``HiveLoader(...).execute()``, ``loader/hive_loader.py:
    97-104``): ``.load(path, mode=..., primary_keys=..., dedup=...)``.
  - MySQL load (``loader/mysql_loader.py:66-73``): same ``.load`` with
    a JDBC target via ``.to_jdbc``.

Differences by design: stages pass DataFrames, not CSV files (CSV is
a sink, not the transport); per-stage row counts come from
plan-attached observations (OP-37) rather than driver-side counters;
errors route through ``quarantine`` instead of silent skips (OP-17).

Every stage is lazy until ``run()``; two or more sinks fan out from one
persisted scan, and a lone sink reads the plan directly (OP-20).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from lightlane_spark.cache import tracked_persist
from lightlane_spark.loaders.loader import Loader
from lightlane_spark.loaders.text_sinks import write_csv, write_hive_text
from lightlane_spark.observe import PipelineMetrics
from lightlane_spark.operators.extract import range_partitioned_read
from lightlane_spark.operators.transform import fan_out, quarantine
from lightlane_spark.sources.jdbc import probe_bounds, read_jdbc
from lightlane_spark.sources.parquet import read_table


@dataclass
class Pipeline:
    spark: SparkSession
    _df: DataFrame | None = None
    _sinks: list[Callable[[DataFrame], Any]] = field(default_factory=list)
    _bad_sink: Callable[[DataFrame], Any] | None = None
    _bad_df: DataFrame | None = None
    metrics: PipelineMetrics = field(default_factory=PipelineMetrics)

    # -- extract ------------------------------------------------------
    def extract_parquet(
        self,
        sf_dir: str,
        table: str,
        columns: list[str] | str | None = None,
        where: str | None = None,
        exclude: list[str] | None = None,
        splitby: str | None = None,
        splits: int = 1,
    ) -> "Pipeline":
        df = read_table(self.spark, sf_dir, table, columns, where, exclude)
        if splitby and splits > 1:
            df = range_partitioned_read(df, splitby, splits)
        self._df = self.metrics.observe_count(df, "extracted")
        return self

    def extract_jdbc(self, url: str, **kwargs) -> "Pipeline":
        """``read_jdbc(**kwargs)``. A split ``table`` read without
        ``bounds`` probes its min/max first (``dumper/sql.py:59-68``);
        NULL bounds read serially. A split ``query`` needs ``bounds``."""
        splitby, table = kwargs.get("splitby"), kwargs.get("table")
        if splitby and kwargs.get("splits", 1) > 1 and kwargs.get("bounds") is None:
            if kwargs.get("query") is not None:
                raise ValueError("a split JDBC extract of a query needs bounds: [lo, hi]")
            if table is not None:
                props = kwargs.get("properties")
                kwargs["bounds"] = probe_bounds(self.spark, url, table, splitby, props)
        self._df = self.metrics.observe_count(
            read_jdbc(self.spark, url, **kwargs), "extracted"
        )
        return self

    def extract_df(self, df: DataFrame) -> "Pipeline":
        self._df = self.metrics.observe_count(df, "extracted")
        return self

    # -- transform ----------------------------------------------------
    def transform(self, *fns: Callable[[DataFrame], DataFrame]) -> "Pipeline":
        self._require_df()
        for fn in fns:
            self._df = fn(self._df)
        return self

    def dedup_exact_text(
        self, text_col: str = "text", id_col: str = "doc_id"
    ) -> "Pipeline":
        """Corpus stage: keep the min-id doc per exact normalized text."""
        from lightlane_spark.operators.fuzzy_dedup import dedup_exact

        return self.transform(lambda df: dedup_exact(df, text_col, id_col))

    def dedup_fuzzy(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.7,
    ) -> "Pipeline":
        """Corpus stage: full fuzzy dedup — MinHash-LSH pairs →
        connected components → keep the min-id canonical doc per
        near-dup cluster. Three steps read the input, so the stage
        persists it (a JDBC source is queried once); ``run_job``
        releases it, and a Python caller runs inside a ``cache_scope()``."""
        from lightlane_spark.operators.clustering import dedup_by_components
        from lightlane_spark.operators.fuzzy_dedup import dedup_minhash

        def _stage(df: DataFrame) -> DataFrame:
            df = tracked_persist(df)
            pairs = dedup_minhash(
                df, text_col, id_col, threshold=threshold
            ).select("id_a", "id_b")
            return dedup_by_components(df, pairs, id_col)

        return self.transform(_stage)

    def quota_sample(
        self, group_col: str, n_per_group: int, id_col: str = "doc_id"
    ) -> "Pipeline":
        """Corpus stage: cap each group's share of the mix (domain /
        language balancing), deterministic hash order."""
        from lightlane_spark.operators.text import quota_sample as _qs

        return self.transform(lambda df: _qs(df, group_col, n_per_group, id_col))

    def quarantine(self, good_predicate) -> "Pipeline":
        """OP-17: split off bad rows; route them with .bad_to_parquet."""
        self._require_df()
        good, self._bad_df = quarantine(self._df, good_predicate)
        self._df = self.metrics.observe_count(good, "good")
        return self

    # -- sinks (fan-out, OP-20) --------------------------------------
    def to_csv(self, path: str, **opts) -> "Pipeline":
        self._sinks.append(lambda df: write_csv(df, path, **opts))
        return self

    def to_hive_text(self, path: str) -> "Pipeline":
        self._sinks.append(lambda df: write_hive_text(df, path))
        return self

    def to_parquet(self, path: str, mode: str = "overwrite") -> "Pipeline":
        self._sinks.append(lambda df: df.write.mode(mode).parquet(path))
        return self

    def to_jdbc(self, url: str, table: str, mode: str = "append", **opts) -> "Pipeline":
        from lightlane_spark.sources.jdbc import write_jdbc

        self._sinks.append(lambda df: write_jdbc(df, url, table, mode, **opts))
        return self

    def to_json(self, path: str) -> "Pipeline":
        from lightlane_spark.loaders.text_sinks import write_json

        self._sinks.append(lambda df: write_json(df, path))
        return self

    def to_avro(self, path: str) -> "Pipeline":
        from lightlane_spark.loaders.avro_sink import write_avro

        self._sinks.append(lambda df: write_avro(df, path))
        return self

    def bad_to_parquet(self, path: str) -> "Pipeline":
        self._bad_sink = lambda df: df.write.mode("overwrite").parquet(path)
        return self

    # -- load (modes, OP-24..OP-32) ----------------------------------
    def load(self, table_path: str, mode: str = "overwrite", **loader_kwargs) -> "Pipeline":
        loader = Loader(self.spark, table_path, mode, **loader_kwargs)
        self._sinks.append(loader.execute)
        return self

    # -- run ----------------------------------------------------------
    def run(self) -> dict:
        """Execute all sinks (OP-20: two or more share one persisted
        scan); returns per-stage observed metrics (OP-37) of the frames
        that ran. An observation no action fills would block
        ``results()`` forever, so the quarantined half is observed only
        when its sink runs, and the good half's count is dropped when
        no sink reads it."""
        self._require_df()
        writes_bad = self._bad_df is not None and self._bad_sink is not None
        if not self._sinks and not writes_bad:
            raise ValueError("pipeline has no sinks; add to_*/load first")
        if self._sinks:
            fan_out(self._df, self._sinks)
        else:
            self.metrics.observations.pop("good")
        if writes_bad:
            self._bad_sink(self.metrics.observe_count(self._bad_df, "quarantined"))
        return self.metrics.results()

    def dataframe(self) -> DataFrame:
        """The current (lazy) stage output — for ad-hoc inspection."""
        self._require_df()
        return self._df

    def _require_df(self) -> None:
        if self._df is None:
            raise ValueError("no source: call extract_* first")

