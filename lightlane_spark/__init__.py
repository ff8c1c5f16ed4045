"""lightlane_spark — a PySpark-native analytics/ETL engine.

A from-scratch, DataFrame-first re-expression of the capabilities of
the reference ETL framework (RickyXuPengfei/LightLane): extract
(projection / filter / range-partitioned parallel scans), transform
(JSON extraction, flatten/explode, vectorized row hooks, quarantine),
and load (CSV / Hive-text / Parquet sinks; OVERWRITE / APPEND / MERGE
modes; keyed window dedup; partitioned inserts) — plus LLM-data-
pipeline extensions (near-duplicate detection, similarity search,
text analysis, multimodal columns) designed for 100 TB scale.

Everything is declarative DataFrame/SQL so Catalyst gets pushdown,
pruning, join selection, and whole-stage codegen for free.
"""

from lightlane_spark.session import get_spark
from lightlane_spark.sources.parquet import read_table

__all__ = ["get_spark", "read_table"]

__version__ = "0.1.0"
