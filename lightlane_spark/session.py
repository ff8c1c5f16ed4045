"""SparkSession bootstrap with scale-conscious defaults.

The engine targets large multi-executor clusters (100 TB inputs). The
defaults below pin only what differs from Spark's own defaults: Arrow
for ``toPandas`` / ``createDataFrame(pandas)`` (COVERAGE OP-05; pandas
UDFs and ``mapInPandas`` use Arrow regardless), the UTC session zone,
scan-split and broadcast sizing, one BLAS thread per Python worker, a
generated-class cache that holds the engine's working set (Spark's
100-entry default evicts and recompiles it on every pass), and a
shuffle-partition count. AQE, its partition coalescing and skew-join
splitting, runtime Bloom filters and parquet pushdown are Spark 4
defaults and are not restated. Local test runs use ``local[N]``.
``extra_conf`` overrides any of them (shuffle partitions: ~2-3× cores).
"""

from __future__ import annotations

import os
from types import MappingProxyType

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; on a real cluster the
# caller passes explicit conf (shuffle partitions ~ 2-3x total cores).
_DEFAULT_CONF = MappingProxyType({
    # Arrow batches for toPandas() and createDataFrame(pandas) (COVERAGE
    # OP-05); mapInPandas and pandas UDFs use Arrow regardless of it.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    # Dimension tables (region/nation/customer at any SF that fits)
    # should broadcast; 32 MB is a safe executor-memory-friendly cap.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # Scan-split sizing (guide §6): split size is
    # min(maxPartitionBytes, max(openCostInBytes, input/parallelism)),
    # so the 4 MB openCost DEFAULT is a hard floor that serializes any
    # table smaller than 4 MB×cores onto a handful of tasks — on this
    # deployment's local NVMe (open ≈ tens of µs) that floor is pure
    # fiction, and it decouples scan parallelism from the core count
    # (a 594 KB corpus file scanned by ONE task at 32 cores AND at 8).
    # 64 KB restores the input/cores derivation — scan parallelism
    # tracks data volume and cluster size, the scale-adaptive behavior
    # §2 asks for — while leaving the many-large-file regime (splits
    # ≥ 128 MB) untouched. Interleaved A/B at sf0.1: text corpus
    # passes 0.58-0.78×, small relational scans pay a few extra
    # ~2-5 ms tasks. Object-store deployments (real per-open latency)
    # should set SPARK_GRAFT_OPEN_COST_BYTES back to 4-16 MB.
    "spark.sql.files.openCostInBytes": os.environ.get(
        "SPARK_GRAFT_OPEN_COST_BYTES", "65536"
    ),
    # One BLAS thread per Python worker (r14, guide §5): Spark already
    # runs one worker per task slot, and numpy's OpenBLAS default
    # spawns a thread per HARDWARE core inside each worker — N slots ×
    # N BLAS threads oversubscribes the box N-fold exactly when the
    # Arrow-batched numpy operators (brute-force scorer, k-means, PQ)
    # are busiest, and it silently breaks the core-count contract:
    # a local[8] run's matmuls still grabbed all 32 hardware threads,
    # which the 30× core-scaling battery measured as bow_similarity
    # running FASTER at 8 Spark cores than at 32. Task-level
    # parallelism is the engine's scaling mechanism; intra-task BLAS
    # threading is pinned to 1, the standard cluster hygiene every
    # PySpark deployment guide prescribes. Numerics are unchanged or
    # strictly more deterministic (single-threaded = canonical
    # summation order; the oracle-pinned paths are order-exact integer
    # sums anyway).
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
    # Generated-class cache (static: read once per JVM, at launch). The
    # default 100 entries evict in LRU order, so a working set above
    # 100 recompiles its classes on every pass, and the JIT compiles
    # the new bytecode again: perfbench `query` compiles 97 classes per
    # warm pass at 100 and 0 at 4096. One pass over the registry at
    # sf0.001 compiles 2,774 distinct classes (4,235 compiles at 100);
    # 4096 is the next power of two above that working set, for 16 MB
    # more metaspace after that pass.
    "spark.sql.codegen.cache.maxEntries": "4096",
})


def get_spark(
    app_name: str = "lightlane_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else
    ``local[*]``) so tests and bench share one code path; on a cluster
    pass ``master=None`` with a pre-configured spark-submit and only
    the conf dict applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{cpus}]")
    conf = {**_DEFAULT_CONF, **(extra_conf or {})}
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
