"""SparkSession bootstrap with scale-conscious defaults.

The engine targets large multi-executor clusters (100 TB inputs); the
defaults below are the subset that matter in every deployment:
AQE (runtime re-planning, skew-join splitting, partition coalescing),
Arrow for any pandas-UDF boundary, and a shuffle-partition count that
callers override per cluster. Local test runs use ``local[N]``.
"""

from __future__ import annotations

import os
from types import MappingProxyType

from pyspark.sql import SparkSession

# Defaults chosen for the local[32] test harness; on a real cluster the
# caller passes explicit conf (shuffle partitions ~ 2-3x total cores).
_DEFAULT_CONF = MappingProxyType({
    # Runtime re-planning: coalesces small shuffle partitions, splits
    # skewed ones, and flips sort-merge joins to broadcast when the
    # runtime size drops under the threshold. Essential at 100 TB where
    # static stats are stale or missing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Post-shuffle coalescing targets PARALLELISM first, with a 1 MB
    # partition-size floor (r14, guide §2.2). parallelismFirst=false
    # (set r13 against tiny-partition scheduling overhead) made AQE
    # target the 64 MB advisory size instead — which coalesced every
    # post-shuffle stage under 64 MB to ONE task: at the 10x derived
    # corpus the bow_similarity Python scorer ran 7.8 s serial on a
    # 7 MB corpus partition and frequent_pairs' final aggregate 3.9 s
    # serial on a 55 MB shuffle (profile_stages r14), the exact
    # anti-scaling shape the low-core probe flags. parallelismFirst=
    # true sizes partitions at max(bytes/parallelism, 1 MB): KB-sized
    # shuffles still merge to one task (the r13 overhead concern),
    # while anything over ~1 MB/core fans back out with the data.
    # Interleaved A/B, best-of-3: 10x — bow_similarity 11.7→7.2 s,
    # frequent_pairs 7.6→3.9, set_similarity_join 26.5→17.1; sf0.1 —
    # kcore_peel 5.0→3.6, neardup_clusters 3.4→2.9, sub-second
    # queries within ±0.03 s. Scale-adaptive by construction; no env
    # knob needed.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "true",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1MB",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow batches for every pandas_udf / mapInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Dimension tables (region/nation/customer at any SF that fits)
    # should broadcast; 32 MB is a safe executor-memory-friendly cap.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    # Runtime Bloom-filter join pruning: when a selective join's build
    # side is small, inject a Bloom filter on the probe side's scan so
    # most non-matching rows die at the source — the 100 TB fact⋈dim
    # shape. Default-on in Spark 4; pinned because the engine's join
    # strategy counts on it.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Parquet footer-stats pruning + vectorized reader are on by
    # default in Spark 4 but we pin them: the engine depends on them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
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
})


def get_spark(
    app_name: str = "lightlane_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
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
    conf = dict(_DEFAULT_CONF)
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
