"""Catalog / DDL utilities — OP-10, OP-28, OP-29, OP-32.

Reference parity:
  - OP-10 existence probe: ``SHOW TABLES LIKE`` + optional ``USE db``
    (``connector/dbapi.py:141-147``) → ``spark.catalog.tableExists``.
  - OP-28 create-if-missing: run user DDL when the target is absent
    (``hive_loader.py:106-110``, ``mysql_loader.py:75-79``).
  - OP-29 staging DDL (``CREATE TABLE LIKE`` / schema-only CTAS
    ``LIMIT 0``, ``hive_loader.py:112-124``): a transient DataFrame
    needs no staging DDL; ``schema_only`` gives the LIMIT-0 clone when
    an empty frame with the target schema is wanted.
  - OP-32 stats refresh: ``INVALIDATE METADATA`` + ``COMPUTE
    INCREMENTAL STATS`` (``hive_impala.py:49-58``) → ``ANALYZE TABLE
    … COMPUTE STATISTICS [FOR COLUMNS]`` + ``REFRESH TABLE`` — feeds
    Spark's CBO exactly as Impala's stats feed its planner.

``sql_over`` is the package's one way to run SQL text over DataFrames:
it leaves no entry in the caller's catalog.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession


def table_exists(spark: SparkSession, table: str, database: str | None = None) -> bool:
    """OP-10: catalog existence probe."""
    name = f"{database}.{table}" if database else table
    return spark.catalog.tableExists(name)


def create_table_if_missing(
    spark: SparkSession, table: str, ddl: str | None = None, database: str | None = None
) -> bool:
    """OP-28: run user DDL iff the target is absent. Returns True when
    the table was created. No DDL and absent → error, matching the
    reference's failure mode (it would fail on the subsequent load)."""
    if table_exists(spark, table, database):
        return False
    if not ddl:
        raise ValueError(f"table {table} is missing and no create_table_ddl given")
    spark.sql(ddl)
    return True


def schema_only(df: DataFrame) -> DataFrame:
    """OP-29: the reference's schema-only CTAS (``SELECT … LIMIT 0``)."""
    return df.limit(0)


def sql_over(spark: SparkSession, query: str, **frames: DataFrame) -> DataFrame:
    """Run ``query`` with each keyword name bound to its DataFrame.

    Each frame is registered under a per-call unique view name, which
    replaces the keyword name (as a whole word) in the query, and the
    view is dropped once the query is analyzed: concurrent calls never
    see each other's frames and the caller's catalog is left as it was.
    The drop goes through the session catalog, not
    ``spark.catalog.dropTempView``, which would also uncache a
    persisted frame with the same plan."""
    names = {key: f"__{key.strip('_')}_{uuid.uuid4().hex}" for key in frames}
    pattern = r"\b(" + "|".join(map(re.escape, names)) + r")\b"
    catalog = spark._jsparkSession.sessionState().catalog()  # noqa: SLF001
    try:
        for key, df in frames.items():
            df.createTempView(names[key])
        return spark.sql(re.sub(pattern, lambda m: names[m.group(1)], query))
    finally:
        for name in names.values():
            catalog.dropTempView(name)


def analyze_table(
    spark: SparkSession, table: str, columns: list[str] | None = None
) -> None:
    """OP-32: refresh metadata + compute stats for the CBO."""
    spark.sql(f"REFRESH TABLE {table}")
    if columns:
        spark.sql(
            f"ANALYZE TABLE {table} COMPUTE STATISTICS FOR COLUMNS {', '.join(columns)}"
        )
    else:
        spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")


def row_count_stat(spark: SparkSession, table: str) -> int | None:
    """Planner-visible row count after ``analyze_table`` (None if no
    stats) — the observable effect OP-32 exists for."""
    rows = spark.sql(f"DESCRIBE EXTENDED {table}").collect()
    for r in rows:
        if r.col_name == "Statistics":
            for part in r.data_type.split(","):
                part = part.strip()
                if part.endswith("rows"):
                    return int(part.split()[0])
    return None


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    approx: bool = False,
    approx_rsd: float = 0.05,
) -> DataFrame:
    """Per-column data profile: (column, n_nulls, n_distinct, min_val,
    max_val) for numeric columns — the profiling depth behind stats
    refresh (OP-32; reference only triggers engine stats,
    hive_impala.py:49-58 — this computes them engine-side).

    One pass: all aggregates in a single groupBy-less agg, then an
    in-plan unpivot to rows. min/max stay numeric (string-casting them
    would make the output engine-formatting-dependent).

    ``approx`` is the 100 TB path: exact mode plans n count-distincts
    through one Expand that multiplies scan rows ×(n+1) into the
    shuffle; ``approx=True`` swaps in ``approx_count_distinct``
    (HyperLogLog++) — fixed sketch state per column, no Expand, one
    partial-agg pass. ``approx_rsd`` is the sketch's relative standard
    deviation (a σ, not a bound — size tolerance checks accordingly).
    Keep exact only when cardinality must be precise (e.g. the DuckDB
    oracle row).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    num_types = (
        T.ByteType, T.ShortType, T.IntegerType, T.LongType,
        T.FloatType, T.DoubleType, T.DecimalType,
    )
    cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, num_types)
        and (columns is None or f.name in columns)
    ]
    if not cols:
        raise ValueError("no numeric columns to profile")
    def ndv(col):
        return (
            F.approx_count_distinct(col, rsd=approx_rsd)
            if approx
            else F.countDistinct(col)
        )

    aggs = []
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"__nn_{c}"),
            ndv(F.col(c)).alias(f"__nd_{c}"),
            F.min(F.col(c)).cast("double").alias(f"__mn_{c}"),
            F.max(F.col(c)).cast("double").alias(f"__mx_{c}"),
        ]
    wide = df.agg(*aggs)
    row_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__nn_{c}").alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_val"),
                F.col(f"__mx_{c}").alias("max_val"),
            )
            for c in cols
        ]
    )
    return wide.select(F.explode(row_structs).alias("p")).select("p.*")


def group_zscore(
    df: DataFrame,
    key_cols: list[str],
    col: str,
    out_col: str = "z",
    scale: int = 2,
) -> DataFrame:
    """Per-group z-score normalization (the feature-scaling step of a
    training-data pipeline), engine-exact: group mean and sample
    stddev are derived from DECIMAL moment sums (n, Σx, Σx² — exact,
    order-independent; DECIMAL(18,scale) operands keep the squared
    terms inside the 38-digit cap, see ``corr_matrix``), converted to
    DOUBLE once, then applied per row with plain IEEE arithmetic.
    A pandas ``(v - mean)/std`` per group would depend on within-group
    float summation ORDER — not reproducible across engines or even
    across partitionings.

    One window shuffle on ``key_cols``; zero-variance groups get z=0.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    dec = f"decimal(38,{2 * scale})"
    d = F.col(col).cast(f"decimal(18,{scale})")
    w = Window.partitionBy(*key_cols)
    n = F.count(F.lit(1)).over(w).cast("double")
    s = F.sum(d.cast(dec)).over(w).cast("double")
    q = F.sum((d * d).cast(dec)).over(w).cast("double")
    mean = s / n
    var = (n * q - s * s) / (n * (n - F.lit(1.0)))
    sd = F.sqrt(var)
    z = F.when(sd > 0, (F.col(col) - mean) / sd).otherwise(F.lit(0.0))
    return df.withColumn(out_col, z)


def hll_rollup(
    df: DataFrame,
    fine_key,
    coarse_key,
    col: str,
    lg_k: int = 12,
) -> DataFrame:
    """MERGEABLE distinct-count rollup (Datasketches HLL, built into
    Spark 4): sketch ``col`` once per ``fine_key`` bucket, then merge
    sketches — never raw values — up to ``coarse_key``.

    This is the pre-aggregated-cube pattern that makes distinct counts
    tractable at 100 TB: daily sketches are built once at ingest
    (linear scan, fixed 2^lg_k state per bucket), and ANY coarser
    rollup (week, month, ad-hoc ranges) is a merge of a handful of
    KB-sized sketches instead of a re-scan of raw data — the property
    plain ``approx_count_distinct`` state does not expose and exact
    COUNT(DISTINCT) fundamentally cannot have.

    Returns (coarse, approx_distinct). ``fine_key``/``coarse_key`` are
    Column expressions; coarse must be a function of fine for the
    rollup to be meaningful (e.g. week of day).
    """
    from pyspark.sql import functions as F

    daily = df.groupBy(fine_key.alias("__fine")).agg(
        F.expr(f"hll_sketch_agg({col}, {lg_k})").alias("__sk"),
        # coarse is a function of fine — max() is deterministic and
        # avoids a second per-row grouping column in the shuffle key
        F.max(coarse_key).alias("__coarse"),
    )
    return daily.groupBy(F.col("__coarse").alias("coarse")).agg(
        F.expr("hll_sketch_estimate(hll_union_agg(__sk))").alias("approx_distinct")
    )


def corr_matrix(df: DataFrame, columns: list[str], scale: int = 4) -> DataFrame:
    """Pairwise Pearson correlations, engine-exact: (col_a, col_b,
    corr) for every column pair — the relationship half of profiling
    (``profile_columns`` covers per-column shape).

    Exactness design: the five moment sums (n, Σx, Σy, Σx², Σxy) are
    accumulated in DECIMAL at ``2·scale`` fractional digits — exact,
    summation-order-independent — then converted to DOUBLE once for
    the closed-form r = (n·Σxy − Σx·Σy) / √((n·Σx²−Σx²̄)(n·Σy²−Σȳ²)).
    The moments are deterministic in any engine (built-in ``corr``
    streams in partition order and cannot cross-check); the single
    decimal→double conversion is correctly rounded while the moment's
    integer digits fit a double's 53-bit mantissa, and past that may
    differ in the LAST ULP across engines (Spark's
    BigDecimal.doubleValue vs DuckDB's int128 scaling — observed at
    the 600k-row scale), so cross-engine consumers should compare r
    at a fixed ≤12dp precision. One pass, one agg row, pairs
    unpivoted in-plan; shuffle carries k + k + C(k,2) decimals. At
    100 TB this is a single partial-aggregated scan.
    """
    from pyspark.sql import functions as F

    if len(columns) < 2:
        raise ValueError("corr_matrix needs at least two columns")
    # Operands at DECIMAL(18, scale) so a product is DECIMAL(37, 2·scale)
    # — strictly below the 38-digit cap, so Spark's allowPrecisionLoss
    # adjustment never fires and every product keeps all 2·scale
    # fractional digits EXACTLY. (DECIMAL(19) operands looked safe but
    # their product is DECIMAL(39,2·scale) pre-cap, which Spark trims
    # to DECIMAL(38,2·scale−1) — rounding the last fractional digit
    # whenever an input uses the full ``scale`` digits. The DuckDB
    # oracle must cast ITS operands to a hugeint-backed width ≥ 19:
    # its int64-backed DECIMAL(18) multiply can overflow.)
    dec = f"decimal(38,{2 * scale})"

    def d(c):
        return F.col(c).cast(f"decimal(18,{scale})")

    aggs = [F.count(F.lit(1)).cast("double").alias("__n")]
    for c in columns:
        aggs.append(F.sum(d(c).cast(dec)).cast("double").alias(f"__s_{c}"))
        aggs.append(F.sum((d(c) * d(c)).cast(dec)).cast("double").alias(f"__q_{c}"))
    for i, a in enumerate(columns):
        for b in columns[i + 1 :]:
            aggs.append(
                F.sum((d(a) * d(b)).cast(dec)).cast("double").alias(f"__p_{a}_{b}")
            )
    wide = df.agg(*aggs)

    def r(a, b):
        n = F.col("__n")
        cov = n * F.col(f"__p_{a}_{b}") - F.col(f"__s_{a}") * F.col(f"__s_{b}")
        va = n * F.col(f"__q_{a}") - F.col(f"__s_{a}") * F.col(f"__s_{a}")
        vb = n * F.col(f"__q_{b}") - F.col(f"__s_{b}") * F.col(f"__s_{b}")
        return cov / F.sqrt(va * vb)

    pairs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_a"), F.lit(b).alias("col_b"), r(a, b).alias("corr")
            )
            for i, a in enumerate(columns)
            for b in columns[i + 1 :]
        ]
    )
    return wide.select(F.explode(pairs).alias("p")).select("p.*")


def hll_overlap(df: DataFrame, group_col: str, col: str, lg_k: int = 12) -> DataFrame:
    """Pairwise DISTINCT-overlap estimation across groups from
    mergeable HLL sketches: |A∩B| ≈ est(A) + est(B) − est(A∪B)
    (inclusion–exclusion; the union estimate comes from a sketch
    merge, never a data union). The audience-overlap / cross-segment
    reach primitive: at 100 TB the raw-data approach is a distinct
    self-join per pair; this is one sketch pass (fixed 2^lg_k state
    per group) plus a broadcast pair expansion over |groups| rows of
    kilobyte sketches.

    Returns (grp_a, grp_b, est_a, est_b, est_union, est_inter) for
    grp_a < grp_b. Estimates are deterministic for a given input set
    (Datasketches HLL has no RNG), but not SQL-replicable — gate
    correctness by a tolerance contract against exact counts (see the
    ``hll_overlap`` driver query)."""
    from pyspark.sql import functions as F

    sk = df.groupBy(F.col(group_col).alias("g")).agg(
        F.expr(f"hll_sketch_agg({col}, {lg_k})").alias("sk")
    )
    a = sk.select(F.col("g").alias("grp_a"), F.col("sk").alias("__ska"))
    b = sk.select(F.col("g").alias("grp_b"), F.col("sk").alias("__skb"))
    pairs = a.join(F.broadcast(b), F.col("grp_a") < F.col("grp_b"))
    est_a = F.expr("hll_sketch_estimate(__ska)")
    est_b = F.expr("hll_sketch_estimate(__skb)")
    est_u = F.expr("hll_sketch_estimate(hll_union(__ska, __skb))")
    return (
        pairs.withColumn("est_a", est_a)
        .withColumn("est_b", est_b)
        .withColumn("est_union", est_u)
        .withColumn("est_inter", F.col("est_a") + F.col("est_b") - F.col("est_union"))
        .select("grp_a", "grp_b", "est_a", "est_b", "est_union", "est_inter")
    )
