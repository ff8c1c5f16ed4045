"""Extended relational surface — beyond the reference's narrow SQL
footprint (anti-join, min/max, row_number, union-all only; SURVEY
§2.5), a complete engine needs the full relational toolkit. Each
query here is oracle-checked and plan-reviewed (broadcast where a side
is dimension-sized, partial aggregation before every shuffle).

Float policy: SUMs go through exact DECIMAL at expression scale
(``_dec_sum`` below); AVG = decimal-sum ÷ count in double
(deterministic in both engines).
"""

from __future__ import annotations

import os
from types import MappingProxyType

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from lightlane_spark.catalog import sql_over
from lightlane_spark.sources.localrel import local_df
from lightlane_spark.sources.parquet import read_table

from lightlane_spark.cache import scratch_dir, tracked_persist


def _dec_sum(col, alias: str, scale: int = 2):
    """Order-independent SUM of a double expr: cross-engine SUM over
    doubles diverges in the last ulp because summation order differs,
    so the per-row value is cast to an exact DECIMAL, summed, and cast
    back to DOUBLE — bit-identical in Spark and DuckDB.

    ``scale`` must cover the expression's exact decimal scale (e.g. a
    2dp-price × 2dp-discount product has 4 exact decimal digits) so the
    per-row cast never lands on a rounding boundary — Spark and DuckDB
    round boundary doubles differently.
    """
    return F.sum(col.cast(f"decimal(28,{scale})")).cast("double").alias(alias)


def q_join_3way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation ⋈ region with dim-side broadcasts: revenue by
    region name (TPC-H-Q5 flavor, no date filter)."""
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    o = read_table(spark, sf_dir, "orders")
    joined = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.groupBy(F.col("r_name").alias("region_name"))
        .agg(
            _dec_sum(F.col("o_totalprice"), "revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("region_name")
    )


def q_join_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: customers having at least one high-value order."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 150000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer join of two disjoint-ish order slices, with NULL-side
    coalescing — the shape reconciliation pipelines use."""
    o = read_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price_a")
    )
    b = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey", F.col("o_totalprice").alias("price_b")
    )
    return a.join(b, on="o_orderkey", how="full_outer").select(
        "o_orderkey",
        F.coalesce("price_a", F.lit(-1.0)).alias("price_a"),
        F.coalesce("price_b", F.lit(-1.0)).alias("price_b"),
    )


def q_groupby_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP (returnflag, linestatus): subtotals + grand total — the
    grouping-sets family."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("l_quantity"), "sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n",
            "sum_qty",
        )
    )


def q_groupby_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (orderstatus, orderpriority): all 2^k grouping sets —
    completes the grouping-sets family next to ROLLUP."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("o_totalprice"), "sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
            "n",
            "sum_price",
        )
    )


def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per user, events in the preceding hour
    (inclusive) at each event — sliding-window analytics without a
    self-join; one shuffle keyed by user."""
    ev = read_table(spark, sf_dir, "events")
    # RANGE frames need a numeric sort key; TIMESTAMP_NTZ (what naive
    # parquet timestamps load as in Spark 4) cannot cast to BIGINT, so
    # compute epoch seconds with timestamp_diff, which accepts both
    # TIMESTAMP and TIMESTAMP_NTZ.
    epoch_s = F.timestamp_diff(
        "SECOND",
        F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
        F.col("ts").cast("timestamp_ntz"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_s)
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
    )


def q_window_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions beyond row_number: rank within customer by
    price, lag of previous order date (gap analysis)."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    wt = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.rank().over(w).alias("price_rank"),
        F.lag("o_orderdate", 1).over(wt).alias("prev_orderdate"),
    )


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer in order-date order (frame spec:
    unbounded preceding → current row); decimal accumulation so the
    running values are engine-exact."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.sum(F.col("o_totalprice").cast("decimal(28,2)"))
        .over(w)
        .cast("double")
        .alias("running_total"),
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the general top-k the reference's
    ORDER-BY-LIMIT-1 probe (OP-11) is a special case of."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) + conditional aggregation in one pass."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_discounted"),
    )


def q_case_expr_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar CASE bucketing + group-agg (histogram shape)."""
    o = read_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "low")
        .when(F.col("o_totalprice") < 150000, "mid")
        .otherwise("high")
    )
    return (
        o.groupBy(bucket.alias("price_bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("price_bucket")
    )


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-EXISTS shape via spark.sql (parser + semi-join plan)."""
    return sql_over(
        spark,
        """
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
        """,
        orders=read_table(spark, sf_dir, "orders"),
        lineitem=read_table(spark, sf_dir, "lineitem"),
    )


def q_json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink/source round-trip (sibling of the CSV/Hive-text
    sinks, OP-18/19 family)."""
    path = os.path.join(scratch_dir("llspark_json_"), "orders_json")
    df = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    df.write.mode("overwrite").json(path)
    return spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    ).json(path)


def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per customer-segment × order-status matrix
    (explicit pivot values keep the plan single-pass, no value probe)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
    return (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "c_mktsegment",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_filled"),
            F.coalesce("P", F.lit(0)).alias("n_pending"),
        )
        .orderBy("c_mktsegment")
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/stack: wide metric columns → long (metric, value) rows."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr(
            "stack(3, 'quantity', l_quantity, 'price', l_extendedprice, "
            "'discount', l_discount) AS (metric, value)"
        ),
    )


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink/source round-trip (SURVEY §1.4 storage formats: the
    reference enumerates TEXTFILE/PARQUET/ORC/...; Spark writes ORC
    natively)."""
    path = os.path.join(scratch_dir("llspark_orc_"), "orders_orc")
    df = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    df.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


def q_revenue_by_part_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14 flavor: fact⋈dim join on partkey, revenue share per
    part type. At sf the part side broadcasts; at 100 TB AQE picks a
    shuffle join — no hint pinned, the planner owns the choice."""
    li = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    dp = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(_dec_sum(dp, "revenue", 4), F.count(F.lit(1)).alias("n_lines"))
    )


def q_supplier_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 suppliers per nation by account balance (broadcast dim
    join + window rank)."""
    s = read_table(spark, sf_dir, "supplier")
    n = read_table(spark, sf_dir, "nation")
    j = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
    w = Window.partitionBy("n_name").orderBy(
        F.col("s_acctbal").desc(), F.col("s_suppkey")
    )
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 2)
        .select("n_name", "s_suppkey", "s_name", "s_acctbal", "rnk")
    )


def q_grouped_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas (OP-13's per-group hook surface):
    top-3 customers by balance per market segment, ranked in pandas.
    SQL-checkable — the pandas sort mirrors ROW_NUMBER ordering."""
    from lightlane_spark.operators.transform import grouped_apply

    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )

    def top3(pdf):
        return pdf.sort_values(
            ["c_acctbal", "c_custkey"], ascending=[False, True]
        ).head(3)

    return grouped_apply(
        c,
        ["c_mktsegment"],
        top3,
        "c_custkey bigint, c_name string, c_mktsegment string, c_acctbal double",
    )


def q_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set ops (absent from the reference — SURVEY
    §2.5 notes anti-join ≈ EXCEPT on keys; here are the real ops).
    High-value ∩ recent-ish keys, minus MERGED-slice keys."""
    o = read_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 100000).select("o_orderkey")
    recent = o.filter(F.col("o_orderdate") >= "1995-01-01").select("o_orderkey")
    merged_slice = o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey")
    return hi.intersect(recent).exceptAll(merged_slice)


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders above the global average price — scalar aggregate
    broadcast against the fact scan (the DataFrame form of a scalar
    subquery; exact via decimal-sum ÷ count)."""
    o = read_table(spark, sf_dir, "orders")
    avg1 = o.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("__avg")
    )
    return (
        o.crossJoin(F.broadcast(avg1))
        .filter(F.col("o_totalprice") > F.col("__avg"))
        .select("o_orderkey", "o_totalprice")
    )


def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles + PERCENT_RANK per market segment (rank-family
    windows beyond row_number/rank/lag)."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample: portable-hash(key) % 100 < 10.

    The scale-correct sampling form — reproducible across engines,
    runs, and partitionings (unlike TABLESAMPLE/df.sample), pushes
    nothing to the driver, and composes with joins (same keys sampled
    on both sides)."""
    from lightlane_spark.functions.hashing import h32

    li = read_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber"))
    return li.filter(h32(key) % 100 < 10).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink/source round-trip (native datasource since Spark 4;
    schema passed explicitly on read — never inferred)."""
    path = os.path.join(scratch_dir("llspark_xml_"), "orders_xml")
    df = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    df.write.format("xml").option("rowTag", "order").mode("overwrite").save(path)
    return (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey bigint, o_orderstatus string, o_totalprice double")
        .load(path)
    )


def q_quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` and
    DuckDB `quantile_cont` share linear-interpolation semantics —
    verified bit-identical)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
            F.expr("percentile(l_extendedprice, 0.99)").alias("p99"),
        )
        .orderBy("l_returnflag")
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff: orders vs a deterministically mutated copy —
    every row classified insert/update/delete/unchanged."""
    from lightlane_spark.operators.cdc import snapshot_diff

    old = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        old.filter("o_orderkey % 11 != 0")  # deletes
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )  # updates
        .unionByName(
            old.filter("o_orderkey % 13 = 0").select(
                (F.col("o_orderkey") + 9_000_000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )  # inserts
    )
    return snapshot_diff(old, new, ["o_orderkey"]).withColumnRenamed(
        "__change", "change"
    )


def q_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations over lineitem measures: moment
    sums in exact DECIMAL (order-independent), closed form in double
    (catalog.corr_matrix), result stated to 12 decimal places. The
    12dp rounding is required once moments exceed 2^53: the exact
    decimal moment no longer converts to double identically in every
    engine (Spark's BigDecimal.doubleValue vs DuckDB's int128 scaling
    differ in the last ulp — observed at sf0.1 on Σ(q·e)), and one
    ulp in a moment moves the correlation's ~16th digit. 12dp leaves
    a 10³ guard band above that noise while pinning every digit a
    profiling consumer could use."""
    from lightlane_spark.catalog import corr_matrix

    li = read_table(spark, sf_dir, "lineitem")
    out = corr_matrix(li, ["l_quantity", "l_extendedprice", "l_discount"])
    return out.select("col_a", "col_b", F.round("corr", 12).alias("corr"))


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC round-trip: extract-diff-apply must reconstruct the new
    snapshot exactly — the pattern that moves only the changed 0.1%
    of a 100 TB table across the wire. Same deterministic mutation as
    q_snapshot_diff; the oracle is simply the mutated snapshot."""
    from lightlane_spark.operators.cdc import apply_changes, snapshot_diff

    old = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = (
        old.filter("o_orderkey % 11 != 0")
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            old.filter("o_orderkey % 13 = 0").select(
                (F.col("o_orderkey") + 9_000_000).alias("o_orderkey"),
                "o_orderstatus",
                "o_totalprice",
            )
        )
    )
    diff = snapshot_diff(old, new, ["o_orderkey"])
    return apply_changes(old, diff, ["o_orderkey"]).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def q_dq_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: plant deterministic defects in orders, route
    the violating rows with their failed rule names (OP-17 pattern
    generalized to declarative expectations)."""
    from lightlane_spark.operators.quality import in_range, not_null, violations

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    dirty = orders.withColumn(
        "o_custkey",
        F.when(F.col("o_orderkey") % 17 == 0, F.lit(None)).otherwise(F.col("o_custkey")),
    ).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 23 == 0, -F.col("o_totalprice")).otherwise(
            F.col("o_totalprice")
        ),
    )
    out = violations(dirty, [not_null("o_custkey"), in_range("o_totalprice", 0, 10**9)])
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.array_join("failed_rules", ",").alias("failed"),
    )


def q_small_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 flavor: revenue from lineitems whose quantity is
    below 20% of their part's average quantity, rolled up per brand.
    The correlated-avg subquery becomes an aggregate + re-join (one
    extra shuffle keyed the same as the fact scan); part is
    dim-sized → broadcast."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    # l_quantity values are integral doubles → the decimal sum is
    # exact, so avg (sum/count) is bit-identical cross-engine.
    avg_q = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast("decimal(28,2)")).cast("double") / F.count("*")).alias("avg_qty")
    )
    small = li.join(avg_q, on="l_partkey").filter(
        F.col("l_quantity") < 0.2 * F.col("avg_qty")
    )
    return (
        small.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(28,2)")).cast("double") / 7.0).alias("avg_yearly")
        )
    )


def q_customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: orders-per-customer distribution via LEFT join (so
    zero-order customers land in bucket 0) with a join-side filter."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 flavor: parts whose revenue exceeds 0.1% of total
    revenue — GROUP BY + HAVING against a scalar aggregate, expressed
    as a 1-row broadcast join (no driver collect)."""
    li = read_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per = li.groupBy("l_partkey").agg(_dec_sum(rev, "part_rev", 4))
    total = li.agg(_dec_sum(rev, "t", 4)).select(
        (F.col("t") * 0.001).alias("__thresh")
    )
    return (
        per.join(F.broadcast(total))
        .filter(F.col("part_rev") > F.col("__thresh"))
        .select("l_partkey", "part_rev")
    )


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct users per event type — the sketch
    path for 100 TB cardinality (fixed-size state, one pass, no
    count-distinct shuffle explosion). Sketch estimates are
    engine-specific, so the driver row checks the TOLERANCE CONTRACT:
    the query emits |approx − exact|/exact ≤ 0.05 as a boolean per
    group (exact computed alongside, for the harness only — the
    production shape is the sketch alone) and the oracle states the
    expected booleans plus the exact counts as literals/SQL. A sketch
    regression beyond ±5% hash-mismatches."""
    ev = read_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_tol"),
    )


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 flavor: customers with above-average positive balance
    and no HIGH-VALUE order (>400k — every synthetic customer has
    some order, so the plain no-orders predicate would select nothing),
    grouped by a derived country code — scalar subquery (as a 1-row
    broadcast), filtered anti-join, group-agg in one plan."""
    c = read_table(spark, sf_dir, "customer")
    o = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400_000)
        .select("o_custkey")
    )
    thresh = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(28,2)")).cast("double")
                / F.count(F.lit(1))
            ).alias("__avg_bal")
        )
    )
    rich = c.join(F.broadcast(thresh)).filter(F.col("c_acctbal") > F.col("__avg_bal"))
    dormant = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    return dormant.groupBy((F.col("c_nationkey") % 10).alias("code")).agg(
        F.count(F.lit(1)).alias("n_cust"),
        _dec_sum(F.col("c_acctbal"), "total_bal"),
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 flavor: for each part, the supplier offering its
    minimum observed price (per-pair MIN is order-independent → exact
    cross-engine), deterministic supplier tiebreak, supplier attrs
    joined back."""
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("min_price")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey").orderBy("min_price", "l_suppkey")
    best = (
        cost.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return best.join(
        F.broadcast(s), best.l_suppkey == s.s_suppkey
    ).select("l_partkey", "l_suppkey", "s_name", "min_price")


def q_group_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-exact per-group z-score (catalog.group_zscore): events'
    value normalized within each event_type from decimal-exact
    moments. Exact SQL oracle (same moment formulas in DuckDB)."""
    from lightlane_spark.catalog import group_zscore

    ev = read_table(spark, sf_dir, "events")
    out = group_zscore(ev, ["event_type"], "value")
    return out.select(
        "event_id", "event_type", F.round(F.col("z"), 6).alias("z")
    )


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup (catalog.hll_rollup): daily Datasketches
    HLL sketches of user_id merged — sketches, not raw values — up to
    weekly distinct estimates; the pre-aggregated-cube pattern that
    replaces a raw re-scan at 100 TB. Driver row checks the tolerance
    CONTRACT (|approx−exact|/exact ≤ 0.05 per week; measured 0.0 at
    sf0.001/sf0.01 — the sketch is still in exact sparse mode at these
    cardinalities) against a literal-TRUE oracle plus exact counts."""
    from lightlane_spark.catalog import hll_rollup

    ev = read_table(spark, sf_dir, "events")
    roll = hll_rollup(
        ev,
        F.date_trunc("day", F.col("ts")),
        F.date_trunc("week", F.col("ts")),
        "user_id",
    )
    exact = ev.groupBy(F.date_trunc("week", F.col("ts")).alias("coarse")).agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return exact.join(roll, "coarse").select(
        # timestamp_ntz emit: TZ-adjusted timestamps collect in the
        # host Python zone (see sources/parquet.py session pin note)
        F.col("coarse").cast("timestamp_ntz").alias("week"),
        "exact_users",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_users"))
            / F.col("exact_users")
            <= 0.05
        ).alias("within_tol"),
    )


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured querying via the VARIANT type (Spark 4):
    parse_json once, typed variant_get extraction, then relational agg
    on top. VARIANT keeps the binary-parsed form through the plan —
    no re-parsing per extraction, unlike get_json_object chains."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join, verified invisible in results: orders
    (salted per-row) ⋈ customer (replicated ×8 salts) on custkey,
    revenue per market segment. The oracle is the PLAIN join — salting
    must change the shuffle shape only, never the answer."""
    from lightlane_spark.operators.skew import salted_join

    o = read_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(o, c, on=["c_custkey"], buckets=8)
    return j.groupBy("c_mktsegment").agg(
        _dec_sum(F.col("o_totalprice"), "total_price"),
        F.count(F.lit(1)).alias("n"),
    )


def q_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER completing the join matrix: per-supplier shipped
    quantity, keeping suppliers with no lineitems (coalesced to 0)."""
    li = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(_dec_sum(F.col("l_quantity"), "qty"))
    )
    s = read_table(spark, sf_dir, "supplier")
    return li.join(s, li["l_suppkey"] == s["s_suppkey"], "right").select(
        s["s_suppkey"], F.coalesce("qty", F.lit(0.0)).alias("total_qty")
    )


def q_cross_join_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit CROSS JOIN (dim × dim grid) — tiny sides only; the
    plan is a broadcast nested loop, never a shuffled cartesian."""
    r = read_table(spark, sf_dir, "region").select("r_name")
    n = read_table(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value over full-partition frames: each order
    alongside its customer's first and last order date."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderdate").over(w).alias("first_date"),
        F.last("o_orderdate").over(w).alias("last_date"),
    )


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar family: month truncation, day diff from an
    anchor, month arithmetic with end-of-month clamping, last_day."""
    o = read_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        # timestamp_ntz emit: host-zone-proof collection
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("timestamp_ntz")
        .alias("month_start"),
        F.datediff(d, F.lit("2024-01-01").cast("date")).alias("days_since"),
        F.add_months(d, 2).alias("plus_two_months"),
        F.last_day(d).alias("month_end"),
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: top-10 unshipped-order revenue for one segment —
    selective dim filter broadcast into a two-fact join, then a
    deterministic top-k (revenue desc, orderkey asc)."""
    c = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(li["l_orderkey"], o["o_orderdate"], o["o_orderpriority"])
        .agg(_dec_sum(rev, "revenue", 4))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by returned-item revenue."""
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(_dec_sum(rev, "revenue", 4))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_ordered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg semantics):
    per-customer order keys joined in orderdate order. Spark has no
    ordered collect — sort structs in-array after collect_list, which
    is the deterministic scale-safe form (per-group arrays bounded by
    group size, one shuffle)."""
    o = read_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("o_orderdate", "o_orderkey"))
                ),
                lambda s: s["o_orderkey"].cast("string"),
            ),
        ).alias("order_keys")
    )


def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-ROWS frame (3-row trailing moving average of order
    totals per customer) — completes the frame family next to
    unbounded-rows (`window_running_sum`) and value-RANGE
    (`window_range_frame`). Decimal accumulation keeps the averages
    engine-exact."""
    o = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        (
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w)
        ).alias("trailing_avg"),
    )


def q_scd2_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history build: all orders open at 2020-01-01, then an
    update batch (every 10th order re-priced ×2) applied effective
    2024-06-01 — changed keys close out + re-open, others untouched."""
    from lightlane_spark.operators.cdc import OPEN_END, scd2_apply

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    hist = o.withColumn(
        "valid_from", F.lit("2020-01-01 00:00:00").cast("timestamp")
    ).withColumn("valid_to", F.lit(OPEN_END).cast("timestamp"))
    upd = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    out = scd2_apply(hist, upd, ["o_orderkey"], "2024-06-01 00:00:00")
    # timestamp_ntz emit: host-zone-proof collection (see
    # sources/parquet.py session pin note)
    return out.withColumn(
        "valid_from", F.col("valid_from").cast("timestamp_ntz")
    ).withColumn("valid_to", F.col("valid_to").cast("timestamp_ntz"))


# Engine-behavior canary (VERDICT r10 ask #5): 9 integer columns that
# fingerprint the FLOAT-HANDLING BUILD of whichever engine evaluates
# them — libm bit patterns at full mantissa (ln/exp/log10/sqrt/pow),
# round() path at repr-grid halves (2.675 and 0.0610425 sit on a
# shortest-repr half; a repr/half-up build emits 268/61043, a pure
# binary-path build 267/61042), round-half mode at k=0 (343 =
# half-up/away; half-even gives 242) AND at k=6 on a binary-EXACT
# dyadic half (0.4765625 = 61/128 → 476563 half-away, 476562
# half-even — the class the repr-grid audit marks "benign,
# canary-covered" for bow_similarity/embedding_centroids at sf0.1),
# and decimal→double conversion beyond the 2^53
# exact envelope. All 9 verified value-identical between local Spark
# and local DuckDB at r11 HEAD; the one measured local divergence
# (round(33374.0610425, 6)) is deliberately EXCLUDED. Purpose: if a
# local-green window query goes driver-red, table_profile's own
# red/green localizes whether the driver's engine builds diverge on
# these float classes at all. Identical SQL text runs on both sides.
_CANARY_SQL = (
    "CAST(floor(ln(CAST(3 AS DOUBLE)) * 1e15) AS BIGINT) AS can_ln3, "
    "CAST(floor(exp(CAST(1.5 AS DOUBLE)) * 1e14) AS BIGINT) AS can_exp15, "
    "CAST(floor(log10(CAST(3 AS DOUBLE)) * 1e15) AS BIGINT) AS can_log10_3, "
    "CAST(floor(sqrt(CAST(2 AS DOUBLE)) * 1e15) AS BIGINT) AS can_sqrt2, "
    "CAST(floor(pow(CAST(1.1 AS DOUBLE), 7) * 1e15) AS BIGINT) AS can_pow, "
    # round(expr*scale, 0) before every CAST of a double PRODUCT:
    # CAST(double AS BIGINT) truncates in Spark but rounds-to-nearest
    # in DuckDB, so a product landing a hair off the integer would
    # split on cast semantics alone — misattributing a canary red to
    # the round() path it fingerprints (ADVICE r11 #1). floor()-
    # wrapped columns cast exact integers and need no normalization.
    "CAST(round(round(CAST(2.675 AS DOUBLE), 2) * 100, 0) AS BIGINT) "
    "+ CAST(round(round(CAST(0.0610425 AS DOUBLE), 6) * 1e6, 0) AS BIGINT) "
    "* 1000 AS can_round_repr, "
    "CAST(round(CAST(2.5 AS DOUBLE), 0) AS BIGINT) * 100 "
    "+ CAST(round(CAST(3.5 AS DOUBLE), 0) AS BIGINT) * 10 "
    "+ CAST(abs(round(CAST(-2.5 AS DOUBLE), 0)) AS BIGINT) AS can_round_half, "
    "CAST(round(round(CAST(0.4765625 AS DOUBLE), 6) * 1e6, 0) AS BIGINT) "
    "AS can_round_half6, "
    "CAST(floor(CAST(CAST('91234567890123456.75' AS DECIMAL(20,2)) "
    "AS DOUBLE) / 16) AS BIGINT) AS can_dec53"
)


def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass numeric profile of lineitem (nulls, distincts,
    min/max per column), cross-joined with the 1-row engine-behavior
    canary (``_CANARY_SQL`` — fingerprints round/libm/decimal→double
    build behavior; VERDICT r10 ask #5)."""
    from lightlane_spark.catalog import profile_columns

    li = read_table(spark, sf_dir, "lineitem")
    prof = profile_columns(
        li, ["l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    canary = spark.sql(f"SELECT {_CANARY_SQL}")
    return prof.crossJoin(canary)


_Z_SPECS_SPARK = (
    (
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', "
        "CAST(ts AS TIMESTAMP_NTZ))",
        1577836800,  # 2020-01-01
        1893456000,  # 2030-01-01
    ),
    ("user_id", 0, 1000000),
)
_Z_SPECS_DUCK = (
    ("CAST(floor(epoch(ts)) AS BIGINT)", 1577836800, 1893456000),
    ("user_id", 0, 1000000),
)


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (event time, user) — the
    layout that lets parquet min/max stats prune scans on BOTH
    dimensions (operators/layout.py). Pure integer arithmetic, so the
    key is engine-exact; the oracle renders the identical expression
    in DuckDB via the same generator."""
    from lightlane_spark.operators.layout import zorder_key

    ev = read_table(spark, sf_dir, "events")
    return ev.select(
        "event_id", zorder_key(_Z_SPECS_SPARK, bits=16).alias("zkey")
    )


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/incremental.py::
    incremental_agg_merge): a per-customer rollup state built from 3/4
    of orders is merged with the remaining quarter as a DELTA — no
    base rescan — and must equal the full recompute, which is exactly
    what the oracle computes. Sums ride DECIMAL so the merge-path and
    recompute-path additions are both exact (order-independent)."""
    from lightlane_spark.operators.incremental import (
        incremental_agg_merge,
        incremental_agg_state,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_totalprice").cast("decimal(28,2)").alias("price"),
        "o_orderkey",
    )
    base = orders.where("o_orderkey % 4 != 0")
    delta = orders.where("o_orderkey % 4 = 0")
    aggs = {"price": "sum", "o_orderkey": "count"}
    state = incremental_agg_state(base, ["o_custkey"], aggs)
    merged = incremental_agg_merge(state, delta, ["o_custkey"], aggs)
    return merged.select(
        "o_custkey",
        F.col("sum_price").cast("double").alias("sum_price"),
        F.col("count_o_orderkey").alias("n_orders"),
    )


def q_rollup_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retractable IVM (incremental_agg_retract_merge): a per-customer
    rollup built over the ORIGINAL orders snapshot is updated by the
    deterministic CDC mutation (delete every 11th order, reprice every
    7th) via signed deltas over only the CHANGED rows — and must equal
    the full recompute over the new snapshot, which is the oracle."""
    from lightlane_spark.operators.incremental import (
        incremental_agg_retract_merge,
        incremental_agg_state,
    )

    base = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    old = base.withColumn(
        "price", F.col("o_totalprice").cast("decimal(28,2)")
    ).drop("o_totalprice")
    new = (
        base.filter("o_orderkey % 11 != 0")
        .withColumn(
            "price",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1
            )
            .otherwise(F.col("o_totalprice"))
            .cast("decimal(28,2)"),
        )
        .drop("o_totalprice")
    )
    aggs = {"price": "sum", "o_orderkey": "count"}
    state = incremental_agg_state(old, ["o_custkey"], aggs)
    out = incremental_agg_retract_merge(
        state, old, new, ["o_orderkey"], ["o_custkey"], aggs
    )
    return out.where(F.col("count_o_orderkey") > 0).select(
        "o_custkey",
        F.col("sum_price").cast("double").alias("sum_price"),
        F.col("count_o_orderkey").cast("bigint").alias("n_orders"),
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): one nation's share of
    supplier revenue inside a region, per order year — seven-relation
    join (two roles for nation) with a conditional-aggregate share
    ratio. All five dimension hops broadcast; the only shuffles are
    the fact-fact orderkey join and the final per-year aggregation.
    Share = decimal-exact conditional sum over decimal-exact total,
    divided once in double and emitted UNROUNDED (envelope-safe
    operands → bit-identical IEEE quotient; a final round is the
    repr-half divergence class)."""
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    n_supp = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(28,4)"
    )
    base = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n_cust), c["c_nationkey"] == F.col("cn_key"))
        .join(F.broadcast(r), F.col("cn_region") == r["r_regionkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n_supp), s["s_nationkey"] == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            vol.alias("vol"),
            (F.col("supp_nation") == "NATION_7").cast("int").alias("is_target"),
        )
    )
    return (
        base.groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("is_target") == 1, F.col("vol"))).alias("__tv"),
            F.sum("vol").alias("__av"),
        )
        .select(
            "o_year",
            (
                F.coalesce(F.col("__tv"), F.lit(0)).cast("double")
                / F.col("__av").cast("double")
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): pure filter + aggregate —
    every predicate (date range, discount band, quantity cap) must
    reach the parquet scan; the plan is scan → partial agg → one
    1-row exchange. The canonical pushdown benchmark."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.02, 0.04))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            _dec_sum(
                F.col("l_extendedprice") * F.col("l_discount"), "revenue", 4
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order priority checking): count orders per priority
    that have AT LEAST ONE late lineitem (shipped >30 days after the
    order date) — the correlated-EXISTS shape planned as a left-semi
    join, so each order contributes once no matter how many lineitems
    are late. Adapted to this schema (no commit/receipt dates)."""
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (
            li["l_shipdate"]
            > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-segment distinct-user overlap from mergeable HLL sketches
    (catalog.hll_overlap, inclusion–exclusion on sketch merges — no
    raw-data pair joins). HLL estimates are deterministic but not
    SQL-replicable, so the gate row emits the CONTRACT: the exact
    intersection (computed engine-side for the comparison) plus a
    15%-tolerance boolean; the oracle recomputes the exact values in
    DuckDB and expects all-true — the established approximate-op
    pattern (ann_topk_ivf, approx_distinct)."""
    from lightlane_spark.catalog import hll_overlap

    ev = read_table(spark, sf_dir, "events").select("event_type", "user_id")
    est = hll_overlap(ev, "event_type", "user_id")
    d = ev.distinct()
    exact = (
        d.select(F.col("event_type").alias("grp_a"), "user_id")
        .join(
            d.select(F.col("event_type").alias("grp_b"), "user_id"), "user_id"
        )
        .where(F.col("grp_a") < F.col("grp_b"))
        .groupBy("grp_a", "grp_b")
        .agg(F.countDistinct("user_id").alias("exact_inter"))
    )
    return (
        est.join(exact, on=["grp_a", "grp_b"])
        .withColumn(
            "within_tol",
            F.abs(F.col("est_inter") - F.col("exact_inter"))
            <= 0.15 * F.col("exact_inter"),
        )
        .select("grp_a", "grp_b", "exact_inter", "within_tol")
    )


def q_trend_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key trend detection: least-squares slope/intercept of value
    over time per event_type, via the corr_matrix discipline — exact
    integer/DECIMAL moment sums (order-independent), closed form in
    double, results to 6dp. x is SECONDS SINCE A FIXED EPOCH
    (2024-01-01), not raw epoch seconds: the offset keeps Σx² within
    bigint and the moment→double conversions far from the 2^53 cliff
    that bit the correlation matrix at sf0.1. One aggregation pass;
    at 100 TB this is a single partial-aggregated scan per key."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        # integer microseconds floored to whole seconds: SECOND-grain
        # diffs round differently across engines (DuckDB's epoch keeps
        # fractional seconds), exact micros DIV 1e6 does not.
        (
            F.timestamp_diff(
                "MICROSECOND",
                F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
                F.col("ts"),
            )
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("x"),
        F.col("value").cast("decimal(19,6)").alias("y"),
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum("y").cast("double").alias("sy"),
        # x as DECIMAL(12,0) BEFORE the multiply: long×decimal(19,6)
        # would type as decimal(39,6) and hit Spark's 38-digit
        # allowPrecisionLoss trim; decimal(12,0)×decimal(19,6) =
        # decimal(32,6) — every product exact in both engines.
        F.sum(F.col("x").cast("decimal(12,0)") * F.col("y"))
        .cast("double")
        .alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.select(
        "event_type",
        # round(·, 6) here is a LOAD-BEARING ulp-mask, not cosmetics:
        # sxx ≈ 1.4e17 and sxy exceed the 2^53 envelope, so the
        # engines' int128/decimal→double conversions differ in the
        # last ulp, and the closed form's n·sxy − sx·sy cancellation
        # amplifies that to ~1e-13 relative noise (measured at sf0.1
        # when emitted unrounded). Ties on the 6dp grid are
        # measure-zero precisely BECAUSE the value carries that
        # noise — the opposite regime from exact-rational ratios,
        # where rounding is the hazard and emission is unrounded.
        F.round(slope * 86400, 6).alias("slope_per_day"),
        F.round(intercept, 6).alias("intercept"),
    )


def q_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice (20 buckets over a
    FIXED [0, 110000) domain — caller-supplied bounds like
    ``layout.zorder_sql``, so bucket ids are stable across incremental
    loads instead of re-deriving from a data-dependent min/max probe).
    One map-side-combined aggregation: bucket arithmetic is a pure
    projection, shuffle carries ≤ 20 rows per partition. Width 5500.0
    is exactly representable, so floor(x / width) is IEEE-identical
    cross-engine and the oracle matches exactly."""
    li = read_table(spark, sf_dir, "lineitem")
    width = 5500.0  # 110000 / 20
    bucket = F.least(
        F.floor(F.col("l_extendedprice") / width).cast("int"), F.lit(19)
    )
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("l_extendedprice"), "total", 2),
        )
        .orderBy("bucket")
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): six-way join where supplier
    and customer must share a nation — the classic Catalyst
    join-reorder exercise. Dims (region→nation, supplier) broadcast;
    the two fact tables join on orderkey; the n_nationkey equality
    between customer and supplier rides the same join, no extra
    shuffle. Revenue per nation over one order-date year."""
    r = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    s = read_table(spark, sf_dir, "supplier")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            F.broadcast(s),
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(_dec_sum(rev, "revenue", 4))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


def q_disjunctive_join_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (disjunctive predicates): revenue over an OR of three
    brand/size/quantity conjunctions that each reference BOTH join
    sides — the predicate can't fully push below the join, so the
    planner must split it into the per-side implied filters
    (size/quantity envelopes DO push to the scans) and evaluate the
    residual OR post-join. Adapted to this schema's columns (no
    container/shipmode at sf-gen)."""
    p = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 15))
            & (F.col("l_quantity").between(1, 11))
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 25))
            & (F.col("l_quantity").between(10, 20))
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 35))
            & (F.col("l_quantity").between(20, 30))
        )
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .where(cond)
        .agg(_dec_sum(rev, "revenue", 4), F.count(F.lit(1)).alias("n_items"))
    )


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted to
    this schema: for multi-supplier 'F'-status orders, count per
    supplier the orders where THIS supplier shipped late (>60 days
    after order date) and NO OTHER supplier on the order did. The
    interesting part is the correlated exists + not-exists pair —
    expressed as two aggregated semi/anti conditions over ONE scan of
    the order's lineitems (any_other, any_other_late flags via
    conditional aggs), not two extra joins."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = read_table(spark, sf_dir, "lineitem")
    s = read_table(spark, sf_dir, "supplier")
    l1 = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        li["l_orderkey"].alias("okey"),
        li["l_suppkey"].alias("skey"),
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    # int flags, not booleans: max(bool)/sum(bool) aggregate rules
    # differ across engines; integer max/sum are portable.
    per_supp = l1.groupBy("okey", "skey").agg(
        F.max(F.col("late").cast("int")).alias("supp_late")
    )
    per_order = per_supp.groupBy("okey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum("supp_late").alias("n_late_supps"),
    )
    culprit = (
        per_supp.join(per_order, "okey")
        .where(
            (F.col("supp_late") == 1)
            & (F.col("n_supps") > 1)
            & (F.col("n_late_supps") == 1)
        )
        .select("skey")
    )
    return (
        culprit.join(F.broadcast(s), F.col("skey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): revenue flowing between two named
    nations, keyed by (supplier nation, customer nation, ship year) —
    the two-role nation join with a DISJUNCTIVE cross-nation predicate
    ((A→B) OR (B→A)). Plan notes: both nation legs broadcast; the
    nation filter is applied to each broadcast side BEFORE the join so
    the fact rows that survive are only those touching the two target
    nations; the only shuffles are the two fact-side key joins and the
    final 3-key aggregation. Decimal-exact volume sum."""
    n1 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_3", "NATION_8"))
    n2 = read_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_3", "NATION_8"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    base = (
        li.join(F.broadcast(s.join(F.broadcast(n1), s["s_nationkey"] == F.col("sn_key"))),
                li["l_suppkey"] == F.col("s_suppkey"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c.join(F.broadcast(n2), c["c_nationkey"] == F.col("cn_key"))),
              o["o_custkey"] == F.col("c_custkey"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_8"))
            | ((F.col("supp_nation") == "NATION_8") & (F.col("cust_nation") == "NATION_3"))
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            vol.alias("vol"),
        )
    )
    return (
        base.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("vol").cast("double").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers): orders whose total lineitem
    quantity exceeds 250 — aggregate→HAVING over the fact table first
    (the heavy reduction happens before any join), then the small
    surviving order set joins orders + customer. At 100 TB the
    group-filter runs map-side-partial then one orderkey shuffle;
    the survivors (≈0.2% of orders here) broadcast to the dimension
    joins rather than shuffling the full orders table."""
    li = read_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("__q"))
        .filter(F.col("__q") > 250)
        .select("l_orderkey", F.col("__q").cast("double").alias("sum_qty"))
    )
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


def q_ship_delay_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority counts) adapted to this
    schema (no l_shipmode): bucket every lineitem by its ship delay
    (FAST ≤30d, MEDIUM ≤60d, SLOW) and count urgent-priority
    (1-URGENT/2-HIGH) vs other orders per bucket — the conditional
    COUNT pivot after a fact-fact join. One orderkey shuffle, then a
    3-row aggregation; the CASE pivot is codegen'd, no Python."""
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = (
        F.when(delay <= 30, "FAST").when(delay <= 60, "MEDIUM").otherwise("SLOW")
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("int")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(bucket.alias("delay_bucket"), urgent.alias("is_urgent"))
        .groupBy("delay_bucket")
        .agg(
            # Pinned to bigint on BOTH sides (oracle casts too): DuckDB
            # SUM(int) is HUGEINT, and the one red driver row this query
            # ever produced (r4) was a hash mismatch with green
            # rows+schema — leave no integer-width nuance to the
            # comparator.
            F.sum("is_urgent").cast("bigint").alias("urgent_count"),
            F.sum(1 - F.col("is_urgent")).cast("bigint").alias("normal_count"),
        )
        .orderBy("delay_bucket")
    )


def q_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: top part-brand pairs appearing in
    the same order. Baskets are (order → distinct brand) rows — the
    brand dimension broadcasts onto the fact scan, DISTINCT shrinks
    each basket to ≤25 rows (brand cardinality), and the pair
    expansion is a basket-local self-join on the orderkey whose output
    is bounded by Σ|basket|² ≤ 25·|baskets| — never all-pairs across
    baskets. Deterministic top-50 by (support desc, brand pair)."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    # Dictionary-encode the brand INSIDE the broadcast dim (25 codes,
    # ordered by brand so code order == brand order): the big shuffle
    # then carries 4-byte ints, not 25-char strings — measured 12%
    # at sf0.1, and the gap grows with the string:int width ratio.
    # The dictionary is DERIVED once: distributed distinct over the
    # part dim, persisted so all three use sites (pc/ca/cb) read the
    # one materialization. Deriving it lazily embedded the
    # distinct+window subtree at every site — 3×2 = 6 of the r4
    # plan's 8 exchanges were that recomputation; an eager
    # collect-to-local-relation fix costs a separate driver job per
    # invocation (measured +0.9 s), so the cache form wins.
    from pyspark.sql import Window as W

    codes = (
        p.select("p_brand")
        .distinct()
        .withColumn("bc", F.row_number().over(W.orderBy("p_brand")))
        # kept (plan test pins the exchanges); cold A/B sf0.1 local[4]: on 0.60 s, off 0.63 s
        .transform(tracked_persist)
    )
    pc = p.join(F.broadcast(codes), "p_brand").select("p_partkey", "bc")
    # (r13: a shuffle-parallelism pin on this exchange was A/B'd for
    # the old Python combiner's task starvation and reverted once the
    # JVM pair expansion landed — with map-side partial aggregation
    # the post-exchange work is light, AQE's byte-based coalescing is
    # the right scale-adaptive default, and the pin measured neutral-
    # to-worse interleaved.)
    baskets = (
        li.join(F.broadcast(pc), li["l_partkey"] == pc["p_partkey"])
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("bc")).alias("bs"))
    )
    # Pair counting: the shared JVM codegen pair expansion
    # (transform.basket_pair_counts) — nested Generates over the
    # ≤25-code baskets, map-side partial combine, kilobyte partials,
    # exact integer counts. collect_set dedupes, array_sort orders,
    # and code order mirrors brand order, so pair (x, y) with x
    # before y IS brand_a < brand_b.
    from lightlane_spark.operators.transform import basket_pair_counts

    agg = basket_pair_counts(baskets, "bs").select(
        F.col("a").cast("int").alias("a"),
        F.col("b").cast("int").alias("b"),
        "support",
    )
    ca = codes.select(F.col("bc").alias("a"), F.col("p_brand").alias("brand_a"))
    cb = codes.select(F.col("bc").alias("b"), F.col("p_brand").alias("brand_b"))
    return (
        agg.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .select("brand_a", "brand_b", "support")
        .orderBy(F.col("support").desc(), "brand_a", "brand_b")
        .limit(50)
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS ((flag,status),(flag),()) — the general
    form behind rollup/cube, chosen sets only (a cube would compute
    the unwanted (status) set too). One shuffle; Spark expands the
    sets map-side via Expand, so the fact table is still scanned
    once. Grouped-out keys coalesce to 'ALL' sentinels (driver
    canonicalization can't sort NULLs)."""
    li = read_table(spark, sf_dir, "lineitem")
    gs = li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    )
    return gs.agg(
        F.count(F.lit(1)).alias("n"),
        _dec_sum(F.col("l_extendedprice"), "sum_price"),
    ).select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
        "n",
        "sum_price",
    )


def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier flagging per event_type: |value − median| >
    3·MAD (median absolute deviation). Two discrete-median passes
    (percentile_disc(0.5) — an actual data element, so cross-engine
    hash-exact where mean/stddev would drift in the last ulp), each a
    tiny per-type aggregate broadcast back onto the event scan; the
    fact table is never shuffled. The classic heavy-tail-safe
    alternative to z-scores (group_zscore) for data-quality gates."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY absdev)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where(F.col("absdev") > 3 * F.col("mad"))
        .select("event_id", "event_type", "value")
    )


def q_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day — the sliding
    count-distinct that defeats plain windows (distinct doesn't
    decompose over frames). Contribution expansion: each distinct
    (user, day) row is exploded to the 7 target days it counts
    toward, then ONE count-distinct aggregation — work is 7·|user
    days|, linear, vs the 7-way day-range self-join of the naive
    form. Trailing windows extending past the last observed day are
    reported (their lookback is complete by construction; leading
    partial windows are the first 6 days, as in any trailing
    metric)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    contrib = ev.select(
        "user_id",
        F.explode(F.expr("sequence(day, date_add(day, 6), interval 1 day)")).alias(
            "target_day"
        ),
    )
    return (
        contrib.groupBy("target_day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .orderBy("target_day")
    )


def q_dpp_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: orders laid out partitioned by year,
    then joined to a tiny literal dimension whose FILTER (not the
    fact's) selects two years — Spark broadcasts the dim, builds the
    partition filter AT RUNTIME from the broadcast result, and the
    fact scan opens only the two matching year directories. The
    lakehouse pattern where the pruning predicate lives in a
    dimension table and never appears as a literal on the fact: at
    100 TB this is the difference between scanning 2 partitions and
    scanning 10 years. Plan pinned in tests/test_plan_quality.py
    (PartitionFilters carries a dynamicpruning subquery)."""
    path = os.path.join(scratch_dir("llspark_dpp_"), "orders_by_year")
    orders = read_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("int")
    )
    # repartition on the partition column before the partitioned write:
    # without it every task writes a file into every year directory
    # (tasks × years small files — the classic dynamic-partition-write
    # mistake); with it each year's rows land in one task → one file
    orders.repartition("o_year").write.partitionBy("o_year").parquet(path)
    fact = spark.read.parquet(path)
    # NOT local_df (r13): with the dim as an Arrow-backed
    # LocalRelation the optimizer stops injecting the dynamicpruning
    # subquery on the fact scan (test_plan_quality pins it) — the DPP
    # partition skip is worth far more at scale than the local
    # construction saving
    dim = spark.createDataFrame(
        [(y, f"y{y}") for y in range(1995, 2002)], "o_year: int, tag: string"
    ).filter(F.col("tag").isin("y1996", "y1998"))
    return (
        fact.join(F.broadcast(dim), "o_year")
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("o_year")
    )


def q_window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-position window family in one pass: percent_rank,
    cume_dist, and ratio-to-report (share of the partition total) per
    customer within nation — three window functions over ONE
    partition spec, so Spark computes them in a single sort+window
    stage (no extra exchange per function). Divisions are per-row
    IEEE (deterministic); the partition-total share uses an exact
    decimal sum."""
    c = read_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    wtot = Window.partitionBy("c_nationkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        (
            F.col("c_acctbal")
            / F.sum(F.col("c_acctbal").cast("decimal(28,2)"))
            .over(wtot)
            .cast("double")
        ).alias("bal_share"),
    )


def q_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python data source (Spark 4 DataSource API,
    sources/pydatasource.py): a partition-planned synthetic generator
    — partitions() declares the parallel split source-side, each task
    materializes only its slice (no driver bottleneck, no post-hoc
    repartition). Aggregated per group; every value is closed-form in
    the row id, so the DuckDB oracle mirrors the generator over
    range()."""
    from lightlane_spark.sources.pydatasource import read_synth

    df = read_synth(spark, 100_000, partitions=8)
    return (
        df.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,1)")).cast("double").alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("grp")
    )


def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file batches: an early batch (orderkey,
    totalprice) and a later batch (orderkey, priority, year) land in
    the same dataset; mergeSchema unifies them at read time, missing
    columns NULL per batch. The additive-columns lifecycle every
    long-lived 100 TB table goes through — no rewrite of old files.
    NULLs coalesce to sentinels (driver canonicalization can't sort
    NULLs)."""
    path = os.path.join(scratch_dir("llspark_evo_"), "orders_evo")
    orders = read_table(spark, sf_dir, "orders")
    b1 = orders.where("o_orderkey % 2 = 0").select("o_orderkey", "o_totalprice")
    b2 = orders.where("o_orderkey % 2 = 1").select(
        "o_orderkey", "o_orderpriority", F.year("o_orderdate").cast("int").alias("o_year")
    )
    b1.write.parquet(os.path.join(path, "b=1"))
    b2.write.parquet(os.path.join(path, "b=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "b=1"), os.path.join(path, "b=2")
    )
    return merged.select(
        "o_orderkey",
        F.coalesce("o_totalprice", F.lit(-1.0)).alias("o_totalprice"),
        F.coalesce("o_orderpriority", F.lit("NONE")).alias("o_orderpriority"),
        F.coalesce("o_year", F.lit(-1)).alias("o_year"),
    )


def q_recursive_ancestors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): ancestor chains in the
    synthetic 10-ary tree parent(k) = k div 10 over orderkeys, walked
    from a deterministic seed sample to the root. The iterative-join
    execution Spark plans for recursion is the same shape as the
    engine's own connected-components loop — this query pins the SQL
    surface; depth is bounded by the key width (≤ 8 levels), far
    under the recursion limit."""
    return sql_over(
        spark,
        """
        WITH RECURSIVE anc AS (
            SELECT o_orderkey AS start_key, o_orderkey AS node, 0 AS depth
            FROM orders WHERE o_orderkey % 997 = 0
            UNION ALL
            SELECT start_key, node DIV 10 AS node, depth + 1
            FROM anc WHERE node > 0
        )
        SELECT start_key, node, depth FROM anc
        """,
        orders=read_table(spark, sf_dir, "orders"),
    )


def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row LIMIT (Spark 4 SQL
    surface): top-2 orders per customer expressed as the SQL-standard
    lateral join rather than a rank window. Spark plans the
    correlation as a partitioned window under the hood, so the
    execution cost matches topk_per_group — this query pins the
    LANGUAGE feature and its deterministic tie-break."""
    return sql_over(
        spark,
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c, LATERAL (
            SELECT o_orderkey, o_totalprice FROM orders o
            WHERE o.o_custkey = c.c_custkey
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        """,
        customer=read_table(spark, sf_dir, "customer"),
        orders=read_table(spark, sf_dir, "orders"),
    )


def q_k_anonymity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy audit: equivalence classes over the quasi-identifier
    set (nation, market segment) smaller than k=8 — the k-anonymity
    violation report run before any data release. One groupBy + a
    HAVING; at 100 TB this is the cheapest governance gate there is,
    and the shape generalizes to any QI set. Output is the violating
    class with its size (suppress or generalize these rows before
    publishing)."""
    c = read_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .where(F.col("class_size") < 8)
        .orderBy("c_nationkey", "c_mktsegment")
    )


QUERIES = {
    "dpp_scan": q_dpp_scan,
    "k_anonymity_check": q_k_anonymity_check,
    "lateral_topk": q_lateral_topk,
    "recursive_ancestors": q_recursive_ancestors,
    "schema_evolution_read": q_schema_evolution_read,
    "python_datasource_scan": q_python_datasource_scan,
    "window_percent_rank": q_window_percent_rank,
    "grouping_sets": q_grouping_sets,
    "mad_outliers": q_mad_outliers,
    "rolling_distinct_users": q_rolling_distinct_users,
    "volume_shipping": q_volume_shipping,
    "large_volume_customers": q_large_volume_customers,
    "ship_delay_priority": q_ship_delay_priority,
    "frequent_pairs": q_frequent_pairs,
    "zorder_key": q_zorder_key,
    "local_supplier_volume": q_local_supplier_volume,
    "numeric_histogram": q_numeric_histogram,
    "incremental_rollup": q_incremental_rollup,
    "rollup_cdc_apply": q_rollup_cdc_apply,
    "trend_detection": q_trend_detection,
    "hll_overlap": q_hll_overlap,
    "market_share": q_market_share,
    "forecast_revenue": q_forecast_revenue,
    "order_priority_check": q_order_priority_check,
    "disjunctive_join_filter": q_disjunctive_join_filter,
    "waiting_suppliers": q_waiting_suppliers,
    "variant_extract": q_variant_extract,
    "salted_join": q_salted_join,
    "table_profile": q_table_profile,
    "scd2_load": q_scd2_load,
    "moving_avg": q_moving_avg,
    "join_right_outer": q_join_right_outer,
    "cross_join_grid": q_cross_join_grid,
    "window_first_last": q_window_first_last,
    "ordered_agg": q_ordered_agg,
    "shipping_priority": q_shipping_priority,
    "returned_items": q_returned_items,
    "date_functions": q_date_functions,
    "approx_distinct": q_approx_distinct,
    "hll_rollup": q_hll_rollup,
    "group_zscore": q_group_zscore,
    "dormant_customers": q_dormant_customers,
    "min_cost_supplier": q_min_cost_supplier,
    "small_order_revenue": q_small_order_revenue,
    "customer_order_counts": q_customer_order_counts,
    "having_filter": q_having_filter,
    "dq_violations": q_dq_violations,
    "pivot": q_pivot,
    "unpivot": q_unpivot,
    "quantile_summary": q_quantile_summary,
    "snapshot_diff": q_snapshot_diff,
    "cdc_apply": q_cdc_apply,
    "corr_matrix": q_corr_matrix,
    "orc_roundtrip": q_orc_roundtrip,
    "xml_roundtrip": q_xml_roundtrip,
    "revenue_by_part_type": q_revenue_by_part_type,
    "supplier_rank": q_supplier_rank,
    "grouped_topk_pandas": q_grouped_topk_pandas,
    "intersect_except": q_intersect_except,
    "scalar_subquery": q_scalar_subquery,
    "window_ntile": q_window_ntile,
    "hash_sample": q_hash_sample,
    "join_3way": q_join_3way,
    "join_left_semi": q_join_left_semi,
    "join_full_outer": q_join_full_outer,
    "groupby_rollup": q_groupby_rollup,
    "groupby_cube": q_groupby_cube,
    "window_range_frame": q_window_range_frame,
    "window_rank_lag": q_window_rank_lag,
    "window_running_sum": q_window_running_sum,
    "topk_per_group": q_topk_per_group,
    "distinct_agg": q_distinct_agg,
    "case_expr_bucketing": q_case_expr_bucketing,
    "exists_subquery": q_exists_subquery,
    "json_sink_roundtrip": q_json_sink_roundtrip,
}

def _zorder_oracle_sql() -> str:
    from lightlane_spark.operators.layout import zorder_sql

    return (
        "SELECT event_id, "
        + zorder_sql(_Z_SPECS_DUCK, bits=16, idiv="//")
        + " AS zkey FROM events"
    )


ORACLE = {
    "small_order_revenue": """
        WITH avgq AS (
            SELECT l_partkey,
                   CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS avg_qty
            FROM lineitem GROUP BY l_partkey
        )
        SELECT p_brand,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem l
        JOIN avgq a ON a.l_partkey = l.l_partkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity < 0.2 * a.avg_qty
        GROUP BY p_brand
    """,
    "customer_order_counts": """
        WITH per AS (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        SELECT c_count, count(*) AS custdist FROM per GROUP BY c_count
    """,
    "approx_distinct": """
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               COUNT(*) AS n_events,
               TRUE AS within_tol
        FROM events GROUP BY event_type
    """,
    "hll_rollup": """
        SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week,
               COUNT(DISTINCT user_id) AS exact_users,
               TRUE AS within_tol
        FROM events GROUP BY 1
    """,
    "dormant_customers": """
        WITH t AS (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*) AS avg_bal
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c_nationkey % 10 AS code,
               COUNT(*) AS n_cust,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS total_bal
        FROM customer c, t
        WHERE c.c_acctbal > t.avg_bal
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        GROUP BY 1
    """,
    "min_cost_supplier": """
        WITH cost AS (
            SELECT l_partkey, l_suppkey,
                   CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price
            FROM lineitem GROUP BY 1, 2
        ),
        best AS (
            SELECT l_partkey, l_suppkey, min_price,
                   ROW_NUMBER() OVER (
                       PARTITION BY l_partkey ORDER BY min_price, l_suppkey
                   ) AS rn
            FROM cost
        )
        SELECT b.l_partkey, b.l_suppkey, s.s_name, b.min_price
        FROM best b JOIN supplier s ON b.l_suppkey = s.s_suppkey
        WHERE b.rn = 1
    """,
    "group_zscore": """
        WITH m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS s,
                   CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS q
            FROM events GROUP BY event_type
        )
        SELECT e.event_id, e.event_type,
               round(CASE WHEN sqrt((m.n * m.q - m.s * m.s) / (m.n * (m.n - 1.0))) > 0
                          THEN (e.value - m.s / m.n)
                               / sqrt((m.n * m.q - m.s * m.s) / (m.n * (m.n - 1.0)))
                          ELSE 0.0 END, 6) AS z
        FROM events e JOIN m USING (event_type)
    """,
    "having_filter": """
        WITH per AS (
            SELECT l_partkey,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS part_rev
            FROM lineitem GROUP BY l_partkey
        )
        SELECT l_partkey, part_rev FROM per
        WHERE part_rev > (
            SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) * 0.001
            FROM lineitem
        )
    """,
    "dq_violations": """
        WITH dirty AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 17 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
                   CASE WHEN o_orderkey % 23 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice
            FROM orders
        ), flagged AS (
            SELECT *,
                   array_to_string(
                       list_filter([
                           CASE WHEN o_custkey IS NULL THEN 'not_null_o_custkey' END,
                           CASE WHEN NOT (o_totalprice BETWEEN 0 AND 1000000000)
                                     OR o_totalprice IS NULL THEN 'range_o_totalprice' END
                       ], x -> x IS NOT NULL), ',') AS failed
            FROM dirty
        )
        SELECT o_orderkey, o_custkey, o_totalprice, failed
        FROM flagged WHERE failed <> ''
    """,
    "pivot": """
        SELECT c_mktsegment,
               COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_open,
               COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_filled,
               COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_pending
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "unpivot": """
        SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
    """,
    "quantile_summary": """
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.5) AS p50,
               quantile_cont(l_extendedprice, 0.9) AS p90,
               quantile_cont(l_extendedprice, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "corr_matrix": """
        WITH s AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS s_q,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS q_q,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS s_e,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS q_e,
                   CAST(SUM(CAST(CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS s_d,
                   CAST(SUM(CAST(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS q_d,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS p_qe,
                   CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS p_qd,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(19,4)) AS DECIMAL(38,8))) AS DOUBLE) AS p_ed
            FROM lineitem
        )
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
               ROUND((n * p_qe - s_q * s_e) / sqrt((n * q_q - s_q * s_q) * (n * q_e - s_e * s_e)), 12) AS corr
        FROM s
        UNION ALL
        SELECT 'l_quantity', 'l_discount',
               ROUND((n * p_qd - s_q * s_d) / sqrt((n * q_q - s_q * s_q) * (n * q_d - s_d * s_d)), 12)
        FROM s
        UNION ALL
        SELECT 'l_extendedprice', 'l_discount',
               ROUND((n * p_ed - s_e * s_d) / sqrt((n * q_e - s_e * s_e) * (n * q_d - s_d * s_d)), 12)
        FROM s
    """,
    "cdc_apply": """
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 11 != 0
        UNION ALL
        SELECT o_orderkey + 9000000, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderkey % 13 = 0
    """,
    "snapshot_diff": """
        WITH old AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        new AS (
            SELECT o_orderkey, o_orderstatus,
                   CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                        ELSE o_totalprice END AS o_totalprice
            FROM old WHERE o_orderkey % 11 <> 0
            UNION ALL
            SELECT o_orderkey + 9000000, o_orderstatus, o_totalprice
            FROM old WHERE o_orderkey % 13 = 0
        )
        SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
               COALESCE(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
               COALESCE(n.o_totalprice, o.o_totalprice) AS o_totalprice,
               CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                    WHEN n.o_orderkey IS NULL THEN 'delete'
                    WHEN n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
                         OR n.o_totalprice IS DISTINCT FROM o.o_totalprice THEN 'update'
                    ELSE 'unchanged' END AS change
        FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
    """,
    "orc_roundtrip": "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    "xml_roundtrip": "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    "revenue_by_part_type": """
        SELECT p_type,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_type
    """,
    "supplier_rank": """
        SELECT n_name, s_suppkey, s_name, s_acctbal, rnk FROM (
            SELECT n_name, s_suppkey, s_name, s_acctbal,
                   ROW_NUMBER() OVER (
                       PARTITION BY n_name ORDER BY s_acctbal DESC, s_suppkey
                   ) AS rnk
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
        ) WHERE rnk <= 2
    """,
    "grouped_topk_pandas": """
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM (
            SELECT c_custkey, c_name, c_mktsegment, c_acctbal,
                   ROW_NUMBER() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey
                   ) AS rnk
            FROM customer
        ) WHERE rnk <= 3
    """,
    "intersect_except": """
        (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000
         INTERSECT
         SELECT o_orderkey FROM orders WHERE o_orderdate >= DATE '1995-01-01')
        EXCEPT
        SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0
    """,
    "scalar_subquery": """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
            FROM orders
        )
    """,
    "window_ntile": """
        SELECT c_custkey, c_mktsegment, c_acctbal,
               NTILE(4) OVER w AS quartile,
               PERCENT_RANK() OVER w AS pct_rank
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
    "hash_sample": """
        SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        WHERE ('0x' || substr(md5(l_orderkey || ':' || l_linenumber), 1, 8))::BIGINT % 100 < 10
    """,
    "join_3way": """
        SELECT r_name AS region_name,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
               COUNT(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
    """,
    "join_left_semi": """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 150000)
    """,
    "join_full_outer": """
        WITH a AS (SELECT o_orderkey, o_totalprice AS price_a FROM orders WHERE o_orderkey % 2 = 0),
             b AS (SELECT o_orderkey, o_totalprice AS price_b FROM orders WHERE o_orderkey % 3 = 0)
        SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
               COALESCE(price_a, -1.0) AS price_a,
               COALESCE(price_b, -1.0) AS price_b
        FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
    """,
    "moving_avg": """
        SELECT o_orderkey, o_custkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) OVER w AS DOUBLE)
               / count(*) OVER w AS trailing_avg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    "scd2_load": """
        WITH base AS (SELECT o_orderkey, o_totalprice FROM orders)
        SELECT o_orderkey, o_totalprice,
               TIMESTAMP '2020-01-01' AS valid_from,
               TIMESTAMP '2200-01-01' AS valid_to
        FROM base WHERE o_orderkey % 10 <> 0
        UNION ALL
        SELECT o_orderkey, o_totalprice,
               TIMESTAMP '2020-01-01', TIMESTAMP '2024-06-01'
        FROM base WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, o_totalprice * 2,
               TIMESTAMP '2024-06-01', TIMESTAMP '2200-01-01'
        FROM base WHERE o_orderkey % 10 = 0
    """,
    "join_right_outer": """
        SELECT s_suppkey, coalesce(qty, 0.0) AS total_qty
        FROM (
            SELECT l_suppkey, CAST(sum(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS qty
            FROM lineitem GROUP BY l_suppkey
        ) li RIGHT JOIN supplier ON li.l_suppkey = supplier.s_suppkey
    """,
    "cross_join_grid": """
        SELECT r_name, n_name FROM region CROSS JOIN nation
    """,
    "shipping_priority": """
        SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1999-01-01'
          AND l.l_shipdate > TIMESTAMP '1999-01-01'
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
    """,
    "returned_items": """
        SELECT c.c_custkey, c.c_name,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_returnflag = 'R'
        GROUP BY 1, 2
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "ordered_agg": """
        SELECT o_custkey,
               string_agg(o_orderkey, ',' ORDER BY o_orderdate, o_orderkey) AS order_keys
        FROM orders GROUP BY o_custkey
    """,
    "window_first_last": """
        SELECT o_orderkey, o_custkey,
               first_value(o_orderdate) OVER w AS first_date,
               last_value(o_orderdate) OVER w AS last_date
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    "date_functions": """
        SELECT o_orderkey,
               CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
               CAST(date_diff('day', DATE '2024-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
               CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_two_months,
               last_day(CAST(o_orderdate AS DATE)) AS month_end
        FROM orders
    """,
    "table_profile": f"""
        SELECT p.*, can.* FROM (
        SELECT 'l_orderkey' AS "column", count(*) - count(l_orderkey) AS n_nulls,
               count(DISTINCT l_orderkey) AS n_distinct,
               CAST(min(l_orderkey) AS DOUBLE) AS min_val, CAST(max(l_orderkey) AS DOUBLE) AS max_val
        FROM lineitem
        UNION ALL
        SELECT 'l_quantity', count(*) - count(l_quantity), count(DISTINCT l_quantity),
               CAST(min(l_quantity) AS DOUBLE), CAST(max(l_quantity) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', count(*) - count(l_extendedprice), count(DISTINCT l_extendedprice),
               CAST(min(l_extendedprice) AS DOUBLE), CAST(max(l_extendedprice) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'l_discount', count(*) - count(l_discount), count(DISTINCT l_discount),
               CAST(min(l_discount) AS DOUBLE), CAST(max(l_discount) AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'l_tax', count(*) - count(l_tax), count(DISTINCT l_tax),
               CAST(min(l_tax) AS DOUBLE), CAST(max(l_tax) AS DOUBLE) FROM lineitem
        ) p CROSS JOIN (SELECT {_CANARY_SQL}) can
    """,
    "salted_join": """
        SELECT c_mktsegment,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price,
               count(*) AS n
        FROM orders JOIN customer ON customer.c_custkey = orders.o_custkey
        GROUP BY c_mktsegment
    """,
    "variant_extract": """
        SELECT event_type,
               CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               count(*) AS n
        FROM events GROUP BY event_type
    """,
    "groupby_cube": """
        SELECT coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
               coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    "window_range_frame": """
        SELECT event_id, user_id,
               count(*) OVER (
                   PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
               ) AS n_last_hour
        FROM events
    """,
    "groupby_rollup": """
        SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
               COALESCE(l_linestatus, 'ALL') AS l_linestatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "window_rank_lag": """
        SELECT o_orderkey, o_custkey, o_totalprice,
               RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS price_rank,
               LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_orderdate
        FROM orders
    """,
    "window_running_sum": """
        SELECT o_orderkey, o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS running_total
        FROM orders
    """,
    "topk_per_group": """
        SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rk
            FROM orders
        ) WHERE rk <= 3
    """,
    "distinct_agg": """
        SELECT COUNT(DISTINCT l_orderkey) AS n_orders,
               COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted
        FROM lineitem
    """,
    "case_expr_bucketing": """
        SELECT CASE WHEN o_totalprice < 50000 THEN 'low'
                    WHEN o_totalprice < 150000 THEN 'mid'
                    ELSE 'high' END AS price_bucket,
               COUNT(*) AS n
        FROM orders GROUP BY 1 ORDER BY 1
    """,
    "exists_subquery": """
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45
        )
    """,
    "json_sink_roundtrip": "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
}

ORACLE["zorder_key"] = _zorder_oracle_sql()

ORACLE["local_supplier_volume"] = """
    SELECT n_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)))
                AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
"""
ORACLE["disjunctive_join_filter"] = """
    SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4)))
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity BETWEEN 20 AND 30)
"""
ORACLE["waiting_suppliers"] = """
    WITH l1 AS (
        SELECT l.l_orderkey AS okey, l.l_suppkey AS skey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    ),
    per_supp AS (
        SELECT okey, skey, max(late) AS supp_late FROM l1 GROUP BY 1, 2
    ),
    per_order AS (
        SELECT okey, count(*) AS n_supps, sum(supp_late) AS n_late_supps
        FROM per_supp GROUP BY 1
    ),
    culprit AS (
        SELECT ps.skey
        FROM per_supp ps JOIN per_order po USING (okey)
        WHERE ps.supp_late = 1 AND po.n_supps > 1 AND po.n_late_supps = 1
    )
    SELECT s.s_name, count(*) AS numwait
    FROM culprit JOIN supplier s ON culprit.skey = s.s_suppkey
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""

ORACLE["numeric_histogram"] = """
    SELECT LEAST(CAST(floor(l_extendedprice / 5500.0) AS INTEGER), 19) AS bucket,
           count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS total
    FROM lineitem
    GROUP BY 1
"""

ORACLE["incremental_rollup"] = """
    SELECT o_custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
"""

ORACLE["rollup_cdc_apply"] = """
    WITH new AS (
        SELECT o_orderkey, o_custkey,
               CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1
                         ELSE o_totalprice END AS DECIMAL(28,2)) AS price
        FROM orders WHERE o_orderkey % 11 != 0
    )
    SELECT o_custkey,
           CAST(SUM(price) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_orders
    FROM new GROUP BY 1
"""

ORACLE["trend_detection"] = """
    WITH ev AS (
        SELECT event_type,
               (epoch_us(CAST(ts AS TIMESTAMP))
                - epoch_us(TIMESTAMP '2024-01-01 00:00:00')) // 1000000 AS x,
               CAST(value AS DECIMAL(19,6)) AS y
        FROM events
    ),
    m AS (
        SELECT event_type,
               CAST(count(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(12,0)) * y) AS DOUBLE) AS sxy
        FROM ev GROUP BY 1
    )
    SELECT event_type,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 86400, 6)
               AS slope_per_day,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept
    FROM m
"""

ORACLE["hll_overlap"] = """
    WITH d AS (SELECT DISTINCT event_type, user_id FROM events),
    pairs AS (
        SELECT a.event_type AS grp_a, b.event_type AS grp_b,
               count(DISTINCT a.user_id) AS exact_inter
        FROM d a JOIN d b ON a.user_id = b.user_id
        WHERE a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT grp_a, grp_b, exact_inter, TRUE AS within_tol FROM pairs
"""

ORACLE["forecast_revenue"] = """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,4)))
                AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
"""
ORACLE["order_priority_check"] = """
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY 1
"""

ORACLE["market_share"] = """
    WITH base AS (
        SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,4)) AS vol,
               CASE WHEN ns.n_name = 'NATION_7' THEN 1 ELSE 0 END AS is_target
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        JOIN region r ON nc.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation ns ON s.s_nationkey = ns.n_nationkey
        WHERE r.r_name = 'ASIA'
    )
    SELECT CAST(o_year AS INTEGER) AS o_year,
           CAST(COALESCE(SUM(CASE WHEN is_target = 1 THEN vol END), 0)
                AS DOUBLE)
               / CAST(SUM(vol) AS DOUBLE) AS mkt_share
    FROM base GROUP BY 1
"""

ORACLE["volume_shipping"] = """
    SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(28,4))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation nc ON c.c_nationkey = nc.n_nationkey
    WHERE l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
      AND ((ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_8')
        OR (ns.n_name = 'NATION_8' AND nc.n_name = 'NATION_3'))
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
"""

ORACLE["large_volume_customers"] = """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty
        FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(28,2))) > 250
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, big.sum_qty
    FROM orders o
    JOIN big ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
"""

ORACLE["ship_delay_priority"] = """
    SELECT CASE
             WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) <= 30 THEN 'FAST'
             WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) <= 60 THEN 'MEDIUM'
             ELSE 'SLOW'
           END AS delay_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS urgent_count,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS normal_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    ORDER BY 1
"""

ORACLE["frequent_pairs"] = """
    WITH baskets AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           COUNT(*) AS support
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    ORDER BY support DESC, brand_a, brand_b
    LIMIT 50
"""

ORACLE["grouping_sets"] = """
    SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
           COALESCE(l_linestatus, 'ALL') AS l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
               AS sum_price
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                            (l_returnflag), ())
"""

ORACLE["mad_outliers"] = """
    WITH med AS (
        SELECT event_type, quantile_disc(value, 0.5) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.value,
               abs(e.value - m.med) AS absdev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_disc(absdev, 0.5) AS mad
        FROM dev GROUP BY 1
    )
    SELECT d.event_id, d.event_type, d.value
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    WHERE d.absdev > 3 * m.mad
"""

ORACLE["rolling_distinct_users"] = """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    contrib AS (
        SELECT ud.user_id, ud.day + CAST(i.i AS INTEGER) AS target_day
        FROM ud, (SELECT unnest(range(7)) AS i) i
    )
    SELECT target_day, count(DISTINCT user_id) AS users_7d
    FROM contrib GROUP BY 1 ORDER BY 1
"""

ORACLE["dpp_scan"] = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE year(o_orderdate) IN (1996, 1998)
    GROUP BY 1 ORDER BY 1
"""

ORACLE["window_percent_rank"] = """
    SELECT c_custkey, c_nationkey, c_acctbal,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume,
           c_acctbal /
               CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2)))
                    OVER (PARTITION BY c_nationkey) AS DOUBLE)
               AS bal_share
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
"""

ORACLE["python_datasource_scan"] = """
    WITH g AS (
        SELECT i,
               (i * 2654435761) % 1000003 AS user_id,
               CAST(i % 7 AS INTEGER) AS grp,
               CAST(i % 1000 AS DOUBLE) / 10.0 AS value
        FROM (SELECT unnest(range(100000)) AS i)
    )
    SELECT grp, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,1))) AS DOUBLE) AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM g GROUP BY grp ORDER BY grp
"""

ORACLE["schema_evolution_read"] = """
    SELECT o_orderkey,
           o_totalprice,
           'NONE' AS o_orderpriority,
           -1 AS o_year
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey,
           -1.0 AS o_totalprice,
           o_orderpriority,
           CAST(year(o_orderdate) AS INTEGER) AS o_year
    FROM orders WHERE o_orderkey % 2 = 1
"""

ORACLE["recursive_ancestors"] = """
    WITH RECURSIVE anc AS (
        SELECT o_orderkey AS start_key, o_orderkey AS node, 0 AS depth
        FROM orders WHERE o_orderkey % 997 = 0
        UNION ALL
        SELECT start_key, node // 10 AS node, depth + 1
        FROM anc WHERE node > 0
    )
    SELECT start_key, node, depth FROM anc
"""

ORACLE["lateral_topk"] = """
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c, LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
"""

ORACLE["k_anonymity_check"] = """
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS class_size
    FROM customer
    GROUP BY 1, 2
    HAVING COUNT(*) < 8
    ORDER BY 1, 2
"""


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product type profit) adapted to this schema: profit
    per (supplier nation, order year) for parts whose name contains
    'rod'. The testdata ships no partsupp table, so supply cost is the
    documented proxy ``0.6 * p_retailprice`` (per unit) — the join and
    aggregation shape is Q9's.

    Plan notes: the part filter runs BEFORE its broadcast, so the
    fact-side hash join probes a pre-pruned build side; supplier and
    nation broadcast; the only all-to-all shuffles are the
    lineitem⋈orders key join and the final (nation, year) aggregation
    with map-side partials. At 100 TB this is the canonical
    star-join: one big-table pass, three broadcasts, one reduction."""
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").contains("rod"))
        .select("p_partkey", "p_retailprice")
    )
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(28,4)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): revenue per supplier over one quarter,
    then the supplier(s) achieving the global maximum. The reference
    formulates this as a view + scalar subquery; here the tiny
    per-supplier aggregate joins a broadcast single-row MAX — no
    second scan of the fact table and no driver round-trip.

    Scale: the quarter filter prunes at the parquet scan; revenue agg
    is one shuffle on s_suppkey (map-side partial); everything after
    operates on the supplier-sized aggregate. Decimal-exact sum makes
    the revenue == max equality portable across engines."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                      "total_revenue", scale=4))
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = read_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
    return (
        rev.join(F.broadcast(mx), rev["total_revenue"] == F.col("mx"))
        .join(F.broadcast(s), rev["supplier_no"] == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 (parts/supplier relationship) adapted: distinct
    supplier count per (p_brand, p_type, p_size) over the observed
    lineitem part-supplier pairs (testdata has no partsupp table), for
    non-PROMO parts outside Brand#13 in six size classes, excluding
    the adapted 'complaint' suppliers (s_suppkey ≡ 0 mod 10).

    Scale: the excluded-supplier set and the filtered part dim both
    broadcast; COUNT(DISTINCT) over the (brand,type,size,suppkey)
    pairs is two hash aggregations (partial dedup before the final
    shuffle) — Spark plans exactly that without hints."""
    p = (
        read_table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#13")
            & (~F.col("p_type").startswith("PROMO"))
            & (F.col("p_size").isin(9, 14, 19, 23, 36, 45))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = read_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.filter(F.col("l_suppkey") % 10 != 0)
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


def q_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (potential part promotion) adapted: suppliers who
    DOMINATED shipments of a 'small'-named part in 1996 — shipped more
    than half of that part's total quantity (the availqty>half-of-
    shipments predicate re-expressed over observable lineitem data).

    Scale: ONE exchange on l_partkey feeds both aggregations — the
    explicit repartition(l_partkey) satisfies the
    groupBy(l_partkey, l_suppkey) ClusteredDistribution (subset-key
    HashPartitioning) AND the per-part window, so neither inserts its
    own exchange. (HashPartitioning(a,b) would NOT satisfy
    ClusteredDistribution(a), so grouping first and windowing after
    costs a second shuffle — plan-asserted in test_plan_quality.)
    Qualifying suppliers are a tiny set that broadcast-joins the
    supplier dim."""
    p = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    per_ps = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .repartition("l_partkey")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,2)")).alias("ps_qty"))
    )
    w = Window.partitionBy("l_partkey")
    # stay in exact decimal for the dominance test (2·ps > total) — a
    # double window-sum could order-flip at the exact-half boundary
    dominant = (
        per_ps.withColumn("part_qty", F.sum("ps_qty").over(w))
        .filter(F.col("ps_qty") * 2 > F.col("part_qty"))
        .select("l_suppkey").distinct()
    )
    s = read_table(spark, sf_dir, "supplier")
    return (
        s.join(F.broadcast(dominant), s["s_suppkey"] == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_suppkey")
    )


QUERIES["product_type_profit"] = q_product_type_profit
QUERIES["top_supplier"] = q_top_supplier
QUERIES["supplier_part_counts"] = q_supplier_part_counts
QUERIES["promotion_suppliers"] = q_promotion_suppliers

ORACLE["product_type_profit"] = """
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         - 0.6 * p.p_retailprice * l.l_quantity
                         AS DECIMAL(28,4))) AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%rod%'
    GROUP BY 1, 2
    ORDER BY nation, o_year DESC
"""

ORACLE["top_supplier"] = """
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(28,4))) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s.s_suppkey
"""

ORACLE["supplier_part_counts"] = """
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (9, 14, 19, 23, 36, 45)
      AND l.l_suppkey % 10 <> 0
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""

ORACLE["promotion_suppliers"] = """
    WITH per_ps AS (
        SELECT l.l_partkey, l.l_suppkey,
               SUM(CAST(l.l_quantity AS DECIMAL(28,2))) AS ps_qty
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE 'small%'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY 1, 2
    ), tot AS (
        SELECT l_partkey,
               SUM(ps_qty) OVER (PARTITION BY l_partkey) AS part_qty,
               ps_qty, l_suppkey
        FROM per_ps
    )
    SELECT DISTINCT s.s_suppkey, s.s_name, s.s_nationkey
    FROM tot JOIN supplier s ON tot.l_suppkey = s.s_suppkey
    WHERE tot.ps_qty * 2 > tot.part_qty
    ORDER BY s.s_suppkey
"""


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join: orders and customer written as
    8-bucket tables on the join key, then sort-merge-joined WITHOUT a
    shuffle on either side — the physical plan's join has no Exchange
    under it (pinned in tests/test_plan_quality.py). This is the
    at-rest answer to repeated big⋈big joins: at 100 TB you pay the
    bucketed layout once and every subsequent join on that key skips
    both exchanges entirely (Spark's equivalent of the reference's
    pre-partitioned load pipelines).

    The only remaining exchange is the final tiny per-segment
    aggregation. Decimal-exact revenue.

    Concurrency: the bucketed tables are uuid-suffixed per call —
    fixed names would race across a concurrent bench/sweep sharing
    one warehouse dir. The returned DataFrame is lazy over managed
    tables (DROP would delete their data before the caller consumes
    the result), so each call instead garbage-collects PRIOR calls'
    leftovers, age-gated to >30 min so an in-flight concurrent call
    is never reclaimed under its feet."""
    import shutil
    import time
    import uuid
    from urllib.parse import urlparse

    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # the default catalog is session-scoped but the warehouse dir is
    # not: a table location left by a PREVIOUS session is invisible to
    # DROP TABLE yet blocks CREATE (LOCATION_ALREADY_EXISTS) — GC
    # stale uuid-named leftovers (catalog entries + orphaned local
    # locations); ours are uuid-fresh so never collide with a peer
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir", ""))
    if wh.scheme in ("", "file") and os.path.isdir(wh.path):
        now = time.time()
        catalog_tables = {r.name for r in spark.catalog.listTables()}
        for d in os.listdir(wh.path):
            full = os.path.join(wh.path, d)
            if not d.startswith("ll_bkt_"):
                continue
            # listdir→getmtime is not atomic vs a concurrent peer
            # GC'ing the same stale dir — treat a vanished candidate
            # as already-collected, never as an error
            try:
                if now - os.path.getmtime(full) <= 1800:
                    continue
                if d in catalog_tables:
                    spark.sql(f"DROP TABLE IF EXISTS {d}")
                shutil.rmtree(full, ignore_errors=True)
            except OSError:
                continue
    tag = uuid.uuid4().hex[:12]
    t_orders, t_customer = f"ll_bkt_o_{tag}", f"ll_bkt_c_{tag}"
    (o.write.bucketBy(8, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").format("parquet").saveAsTable(t_orders))
    (c.write.bucketBy(8, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").format("parquet").saveAsTable(t_customer))
    ob = spark.table(t_orders)
    cb = spark.table(t_customer)
    return (
        ob.hint("merge")
        .join(cb, ob["o_custkey"] == cb["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("c_mktsegment")
    )


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage (Fellegi–Sunter shape): candidate pairs
    only WITHIN (nation, segment, registration-batch) blocks — never
    all-pairs — scored on per-field agreement: name edit distance ≤ 2
    (strong, weight 2) and account balance within 100 (weak,
    weight 1); pairs scoring ≥ 2 survive.

    The batch key (custkey div 1000) is what makes the Σ|block|²
    bound REAL: without it the (nation, segment) blocks grow linearly
    with the corpus and the pairwise term quadratically (measured
    5.0 s at sf0.1); with it block size is constant, so candidate
    count — and the plan — scales linearly. Cross-batch matches need
    a second blocking pass on a different key (multi-pass blocking,
    standard ER practice; same recall argument as LSH band count).

    All features are exact integers/booleans (levenshtein is the
    standard DP edit distance in both engines), so the oracle matches
    bit-for-bit."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    a = c.alias("a")
    b = c.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & ((F.col("a.c_custkey") / 1000).cast("int")
           == (F.col("b.c_custkey") / 1000).cast("int"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    )
    lev = F.levenshtein(F.col("a.c_name"), F.col("b.c_name"))
    bal_close = F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal")) < 100.0
    score = (
        F.when(lev <= 2, F.lit(2)).otherwise(F.lit(0))
        + F.when(bal_close, F.lit(1)).otherwise(F.lit(0))
    )
    return (
        pairs.select(
            F.col("a.c_custkey").alias("a_key"),
            F.col("b.c_custkey").alias("b_key"),
            lev.alias("name_dist"),
            score.alias("score"),
        )
        .filter(F.col("score") >= 2)
        .orderBy("a_key", "b_key")
    )


def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test over event values (experiment readout):
    variant = user_id mod 2, Welch z on the value metric. One
    full-table aggregation computes both arms' count / exact-decimal
    sum / exact-decimal sum-of-squares via conditional aggregates (no
    second scan, no shuffle beyond the single global agg); the scalar
    mean/variance/z arithmetic runs on identical decimal-derived
    doubles in both engines."""
    ev = read_table(spark, sf_dir, "events").select(
        (F.col("user_id") % 2).alias("v"), "value"
    )

    def _arm(tag: str, cond):
        val = F.when(cond, F.col("value"))
        sq = F.when(cond, F.col("value") * F.col("value"))
        return [
            F.count(val).alias(f"n_{tag}"),
            F.sum(val.cast("decimal(28,6)")).cast("double").alias(f"s_{tag}"),
            F.sum(sq.cast("decimal(28,6)")).cast("double").alias(f"q_{tag}"),
        ]

    agg = ev.agg(*_arm("a", F.col("v") == 0), *_arm("b", F.col("v") == 1))
    mean_a = F.col("s_a") / F.col("n_a")
    mean_b = F.col("s_b") / F.col("n_b")
    var_a = (F.col("q_a") - F.col("s_a") * F.col("s_a") / F.col("n_a")) / (
        F.col("n_a") - 1
    )
    var_b = (F.col("q_b") - F.col("s_b") * F.col("s_b") / F.col("n_b")) / (
        F.col("n_b") - 1
    )
    z = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return agg.select(
        "n_a",
        "n_b",
        mean_a.alias("mean_a"),
        mean_b.alias("mean_b"),
        z.alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    )


QUERIES["bucketed_join"] = q_bucketed_join
QUERIES["record_linkage"] = q_record_linkage
QUERIES["ab_test_zscore"] = q_ab_test_zscore

ORACLE["bucketed_join"] = """
    SELECT c_mktsegment, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY 1
"""

ORACLE["record_linkage"] = """
    SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
           levenshtein(a.c_name, b.c_name) AS name_dist,
           (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 2 ELSE 0 END
            + CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100.0 THEN 1 ELSE 0 END)
             AS score
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.c_custkey // 1000 = b.c_custkey // 1000
     AND a.c_custkey < b.c_custkey
    WHERE (CASE WHEN levenshtein(a.c_name, b.c_name) <= 2 THEN 2 ELSE 0 END
           + CASE WHEN abs(a.c_acctbal - b.c_acctbal) < 100.0 THEN 1 ELSE 0 END) >= 2
    ORDER BY a_key, b_key
"""

ORACLE["ab_test_zscore"] = """
    WITH e AS (SELECT user_id % 2 AS v, value FROM events),
    a AS (
        SELECT
            COUNT(value) FILTER (WHERE v = 0) AS n_a,
            COUNT(value) FILTER (WHERE v = 1) AS n_b,
            CAST(SUM(CAST(value AS DECIMAL(28,6))) FILTER (WHERE v = 0) AS DOUBLE) AS s_a,
            CAST(SUM(CAST(value AS DECIMAL(28,6))) FILTER (WHERE v = 1) AS DOUBLE) AS s_b,
            CAST(SUM(CAST(value * value AS DECIMAL(28,6))) FILTER (WHERE v = 0) AS DOUBLE) AS q_a,
            CAST(SUM(CAST(value * value AS DECIMAL(28,6))) FILTER (WHERE v = 1) AS DOUBLE) AS q_b
        FROM e
    )
    SELECT n_a, n_b,
           s_a / n_a AS mean_a,
           s_b / n_b AS mean_b,
           (s_a / n_a - s_b / n_b)
             / sqrt(((q_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
                    + ((q_b - s_b * s_b / n_b) / (n_b - 1)) / n_b) AS z,
           abs((s_a / n_a - s_b / n_b)
             / sqrt(((q_a - s_a * s_a / n_a) / (n_a - 1)) / n_a
                    + ((q_b - s_b * s_b / n_b) / (n_b - 1)) / n_b)) > 1.96
             AS significant
    FROM a
"""


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group discrete quantiles (p50/p90 as value-at-rank
    ⌈p·n⌉): one per-group sort window computes rank and group size in
    a single exchange, then a conditional aggregate picks the
    elements. The exact complement to `quantile_summary`'s mergeable
    t-digest path: at 100 TB you pay one sort per group (groups are
    the parallelism unit), where the sketch pays none — use this when
    the quantile feeds a CONTRACT (SLA thresholds, curation cutlines)
    and the sketch when it feeds a dashboard. Element-pick semantics
    make the result bit-portable (no interpolation arithmetic)."""
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    wp = Window.partitionBy("event_type").orderBy("value")
    wc = Window.partitionBy("event_type")
    r = ev.withColumn("rn", F.row_number().over(wp)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.col("n") * F.lit(p)), F.col("value"))
    )
    return (
        r.groupBy("event_type")
        .agg(
            pick(0.5).alias("p50_disc"),
            pick(0.9).alias("p90_disc"),
            F.max("n").alias("n_rows"),
        )
        .orderBy("event_type")
    )


QUERIES["group_quantiles"] = q_group_quantiles

ORACLE["group_quantiles"] = """
    WITH r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    )
    SELECT event_type,
           MAX(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT) THEN value END) AS p50_disc,
           MAX(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT) THEN value END) AS p90_disc,
           MAX(n) AS n_rows
    FROM r GROUP BY 1 ORDER BY 1
"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization audit: clamp values to the discrete
    [p05, p95] (value-at-rank ⌈p·n⌉ — actual data elements, so the
    cut points are bit-portable like `group_quantiles`), then report
    the cuts, clip counts, and the decimal-exact winsorized sum per
    group. The standard heavy-tail tamer for metric pipelines where
    dropping outliers (mad_outliers) loses mass but keeping them
    (group_zscore moments) lets one sensor spike own the mean.

    One exchange end-to-end: the sort window, the two unbounded
    cut-point windows, and the final aggregate all share the
    event_type partitioning, so Catalyst reuses a single shuffle; the
    fact table is never re-shuffled. At 100 TB groups are the
    parallelism unit (same contract as group_quantiles); skewed
    group sizes are a sort problem per group, not a join problem."""
    ev = read_table(spark, sf_dir, "events").select("event_type", "value")
    wp = Window.partitionBy("event_type").orderBy("value")
    wc = Window.partitionBy("event_type")
    r = ev.withColumn("rn", F.row_number().over(wp)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    cut = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.col("n") * F.lit(p)), F.col("value"))
    ).over(wc)
    b = r.withColumn("lo", cut(0.05)).withColumn("hi", cut(0.95))
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        b.groupBy("event_type")
        .agg(
            F.max("lo").alias("p05"),
            F.max("hi").alias("p95"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((F.col("value") < F.col("lo")).cast("bigint")).alias(
                "n_clip_lo"
            ),
            F.sum((F.col("value") > F.col("hi")).cast("bigint")).alias(
                "n_clip_hi"
            ),
            _dec_sum(clamped, "winsor_sum", 6),
        )
        .orderBy("event_type")
    )


QUERIES["winsorize"] = q_winsorize

ORACLE["winsorize"] = """
    WITH r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    b AS (
        SELECT event_type, value,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT) THEN value END)
                   OVER (PARTITION BY event_type) AS lo,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT) THEN value END)
                   OVER (PARTITION BY event_type) AS hi
        FROM r
    )
    SELECT event_type,
           MAX(lo) AS p05,
           MAX(hi) AS p95,
           count(*) AS n_rows,
           CAST(SUM(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clip_hi,
           CAST(SUM(CAST(least(greatest(value, lo), hi) AS DECIMAL(28,6)))
                AS DOUBLE) AS winsor_sum
    FROM b GROUP BY 1 ORDER BY 1
"""


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier (skyline) of the parts catalog: minimize
    p_retailprice, maximize p_size — the parts no rational buyer can
    rule out. The textbook skyline is an all-pairs NOT EXISTS (the
    oracle states exactly that, so the two sides are independent
    formulations); the distributed form never compares pairs:

    1. one map-side-combined groupBy → min price per size (the
       skyline only ever passes through per-size minima);
    2. the dominance "staircase" — best price among STRICTLY larger
       sizes — is a running min over that ≤|size-domain| relation
       (50 rows here; bounded by the attribute domain, not the fact);
    3. broadcast back: a part survives iff it ties its size's min
       price AND beats the staircase threshold.

    At 100 TB: one shuffle (the groupBy), one broadcast join, zero
    self-joins. Ties on the frontier all survive (identical points
    do not dominate each other) — both formulations agree."""
    p = read_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    m = p.groupBy("p_size").agg(F.min("p_retailprice").alias("m"))
    w = (
        Window.orderBy(F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # global window over the tiny size-domain relation only
    stair = m.withColumn("thr", F.min("m").over(w))
    return (
        p.join(F.broadcast(stair), "p_size")
        .where(
            (F.col("p_retailprice") == F.col("m"))
            & (F.col("thr").isNull() | (F.col("p_retailprice") < F.col("thr")))
        )
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_size", "p_partkey")
    )


QUERIES["pareto_frontier"] = q_pareto_frontier

ORACLE["pareto_frontier"] = """
    SELECT p_partkey, p_size, p_retailprice
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice
          AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    ORDER BY p_size, p_partkey
"""


def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each lineitem shipment picks the SCD2
    order version that was valid AT ITS SHIP DATE — the temporal-
    validity lookup every warehouse does against slowly-changing
    dimensions (price at time of sale, not price today). Dimension =
    the ``scd2_apply`` fixture (every 10th order repriced ×2,
    effective 1998-06-01 — mid shipdate range, so both versions get
    traffic); the oracle rebuilds the same two-version history
    directly in SQL, independent of the operator.

    Scale shape: this is NOT a range join — it is an equi-join on
    l_orderkey (co-partitioned SMJ/shuffle-hash) with the validity
    interval as a post-join filter; SCD2 guarantees ≤ a handful of
    versions per key, so the filter multiplies nothing. Revenue in
    exact DECIMAL; boolean flag cast to BIGINT for driver-sort
    stability."""
    from lightlane_spark.operators.cdc import OPEN_END, scd2_apply

    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    hist = o.withColumn(
        "valid_from", F.lit("1995-01-01 00:00:00").cast("timestamp")
    ).withColumn("valid_to", F.lit(OPEN_END).cast("timestamp"))
    upd = o.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    ver = scd2_apply(hist, upd, ["o_orderkey"], "1998-06-01 00:00:00")
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate", "l_extendedprice"
    )
    j = li.join(
        ver,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("l_shipdate") < F.col("valid_to")),
    )
    eff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    return (
        j.groupBy(
            "l_returnflag",
            (F.col("valid_from") == eff).cast("bigint").alias("repriced"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_ship"),
            _dec_sum(F.col("o_totalprice"), "order_value", 2),
        )
        .orderBy("l_returnflag", "repriced")
    )


QUERIES["point_in_time_join"] = q_point_in_time_join

ORACLE["point_in_time_join"] = """
    WITH ver AS (
        SELECT o_orderkey, o_totalprice,
               TIMESTAMP '1995-01-01 00:00:00' AS valid_from,
               CASE WHEN o_orderkey % 10 = 0
                    THEN TIMESTAMP '1998-06-01 00:00:00'
                    ELSE TIMESTAMP '2200-01-01 00:00:00' END AS valid_to
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_totalprice * 2,
               TIMESTAMP '1998-06-01 00:00:00',
               TIMESTAMP '2200-01-01 00:00:00'
        FROM orders WHERE o_orderkey % 10 = 0
    )
    SELECT l_returnflag,
           CAST(valid_from = TIMESTAMP '1998-06-01 00:00:00' AS BIGINT)
               AS repriced,
           count(*) AS n_ship,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
               AS order_value
    FROM lineitem JOIN ver
      ON l_orderkey = o_orderkey
     AND l_shipdate >= valid_from AND l_shipdate < valid_to
    GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalization mapping table: for each event_type and
    percentile p ∈ 1..100, the group's source value at discrete rank
    ⌈p·n/100⌉ and the TARGET value every group maps that percentile
    to — the cross-group mean of the source values (decimal-exact).
    The batch-effect remover (microarray heritage, now feature/score
    calibration across data sources): apply the table and every
    group's distribution becomes the average distribution.

    Value-at-rank keeps everything bit-portable (actual data
    elements, integer rank arithmetic ⌈p·n/100⌉ = (p·n+99) div 100 —
    no float percentile interpolation). Scale: ranking is a
    PER-GROUP window (groups are the parallelism unit, same contract
    as group_quantiles/winsorize); the grid (|groups|×100 rows) and
    the target table (100 rows) are broadcast — the fact crosses the
    wire once for the sort, output is grid-sized."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    wp = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type", F.row_number().over(wp).alias("rn"), "value"
    )
    grid = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("event_type").alias("g_type"),
            F.explode(F.sequence(F.lit(1), F.lit(100))).alias("p"),
            F.col("n"),
        )
        .withColumn("rn_needed", F.expr("(p * n + 99) div 100"))
    )
    # kept (plan test pins it); cold A/B sf0.1 local[4]: on 0.32 s, off 0.45 s
    src = tracked_persist(
        ranked.join(
            F.broadcast(grid),
            (ranked["event_type"] == grid["g_type"])
            & (ranked["rn"] == grid["rn_needed"]),
        ).select(
            "event_type", F.col("p").cast("bigint").alias("p"),
            F.col("value").alias("src_value"),
        )
    )
    tgt = src.groupBy("p").agg(
        (
            F.sum(F.round("src_value", 9).cast("decimal(28,9)"))
            .cast("double")
            / F.count(F.lit(1))
        ).alias("tgt_value")
    )
    return (
        src.join(F.broadcast(tgt), "p")
        .select("event_type", "p", "src_value", "tgt_value")
        .orderBy("event_type", "p")
    )


QUERIES["quantile_normalize"] = q_quantile_normalize

ORACLE["quantile_normalize"] = """
    WITH n AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
    grid AS (
        SELECT event_type, n, p, (p * n + 99) // 100 AS rn_needed
        FROM n, (SELECT unnest(generate_series(1, 100)) AS p)
    ),
    ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS rn
        FROM events
    ),
    src AS (
        SELECT g.event_type, CAST(g.p AS BIGINT) AS p,
               r.value AS src_value
        FROM grid g JOIN ranked r
          ON r.event_type = g.event_type AND r.rn = g.rn_needed
    ),
    tgt AS (
        SELECT p,
               CAST(SUM(CAST(round(src_value, 9) AS DECIMAL(28,9)))
                    AS DOUBLE) / count(*) AS tgt_value
        FROM src GROUP BY p
    )
    SELECT s.event_type, s.p, s.src_value, t.tgt_value
    FROM src s JOIN tgt t USING (p)
    ORDER BY s.event_type, s.p
"""


def q_ivm_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view (delta-join
    decomposition, operators/incremental.py::incremental_join_delta):
    the orders⋈customer view gets appends on BOTH sides (¼ of orders,
    ⅕ of customers); the maintained view = old view ∪ ΔV must equal
    the full recompute — which is exactly what the oracle computes.
    Aggregated per market segment with decimal-exact revenue so the
    proof is hash-tight."""
    from lightlane_spark.operators.incremental import incremental_join_delta

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    cust = read_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    a_old = orders.where("o_orderkey % 4 != 0")
    a_delta = orders.where("o_orderkey % 4 = 0")
    b_old = cust.where("c_custkey % 5 != 0").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    b_delta = cust.where("c_custkey % 5 = 0").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    v_old = a_old.join(b_old, on=["o_custkey"])
    dv = incremental_join_delta(a_old, a_delta, b_old, b_delta, on=["o_custkey"])
    v_new = v_old.unionByName(dv)
    return (
        v_new.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            _dec_sum(F.col("o_totalprice"), "revenue"),
        )
        .orderBy("c_mktsegment")
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (2 rounds,
    deterministic: most-frequent neighbor label, ties → smallest
    label) — the 4th graph operator next to connected components,
    PageRank, and triangle count. Each round is one per-node
    ``mode(label, deterministic=True)`` over the node's neighbours
    (the most frequent value, ties → the smallest): round 1 a window
    over each node's edges, round 2 an aggregate. Both are linear in
    |E| with no global structure, the property that lets LPA run
    where modularity-style global methods cannot. Emits the
    community-size distribution.

    The edge relation is a deterministic sparse neighbor graph (same
    nation, custkey offsets 1-6/8/10) built by pure EQUI-joins, so
    graph construction stays linear in corpus size.
    (The blocked-levenshtein graph from `record_linkage` plugs into
    the same loop, but its Σ|block|² term grows with block size —
    fine for linkage output, wrong as a bench-scale edge generator.)
    Any symmetric (u, v) relation drops in."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    b = c.select(
        F.col("c_custkey").alias("v"), F.col("c_nationkey").alias("bn")
    )
    # in-row offset expansion -> ONE equi-join for all 8 offsets
    offs = F.array(*[F.lit(d) for d in (1, 2, 3, 4, 5, 6, 8, 10)])
    pairs = (
        c.withColumn("d", F.explode(offs))
        .withColumn("vk", F.col("d") + F.col("c_custkey"))
        .join(b, (F.col("vk") == F.col("v")) & (F.col("c_nationkey") == F.col("bn")))
        .select(F.col("c_custkey").alias("u"), "v")
    )
    # in-row symmetrize: pairs ∪ pairs.swap runs the customer self-join twice
    from lightlane_spark.operators.clustering import symmetrize

    # no lineage cut: the edges have one reader. Warm A/B sf0.01
    # local[4], 6 pairs, label_propagation CPU-s per op: on 0.77, off 0.67
    edges = symmetrize(pairs)
    # round 1 needs no labels join: every starting label is the node's
    # own id, and edges are symmetric, so u's pick is the mode of the v
    # on u's own edges. A window over u hands that pick to each of u's
    # edges, so round 2 needs no join to read it (against a per-u
    # aggregate joined back: 0.85 → 0.64 CPU-s per op, 8 pairs).
    sent = edges.select(
        "v",
        F.mode("v", deterministic=True).over(Window.partitionBy("u")).alias("label"),
    )
    # round 2 needs no join back to customer: edges are symmetric, so
    # every node with an edge is some edge's v and gets a pick; an
    # isolated node keeps its own id, which no edge carries, so it
    # stays a singleton that community_size >= 2 drops
    pick = sent.groupBy(F.col("v").alias("node")).agg(
        F.mode("label", deterministic=True).alias("label")
    )
    return (
        pick.groupBy("label")
        .agg(F.count(F.lit(1)).alias("community_size"))
        .filter(F.col("community_size") >= 2)
        .orderBy(F.col("community_size").desc(), "label")
    )


QUERIES["ivm_join"] = q_ivm_join
QUERIES["label_propagation"] = q_label_propagation

ORACLE["ivm_join"] = """
    SELECT c_mktsegment, COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY 1
"""

ORACLE["label_propagation"] = """
    WITH pairs AS (
        SELECT a.c_custkey AS u, b.c_custkey AS v
        FROM customer a
        CROSS JOIN (VALUES (1), (2), (3), (4), (5), (6), (8), (10)) o(d)
        JOIN customer b
          ON b.c_custkey = a.c_custkey + o.d
         AND a.c_nationkey = b.c_nationkey
    ), edges AS (
        SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
    ), l0 AS (
        SELECT c_custkey AS node, c_custkey AS label FROM customer
    ), n1 AS (
        SELECT e.v AS node, l.label FROM edges e JOIN l0 l ON l.node = e.u
    ), c1 AS (
        SELECT node, label, COUNT(*) AS c FROM n1 GROUP BY 1, 2
    ), p1 AS (
        SELECT node, label AS new_label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
            FROM c1
        ) WHERE rn = 1
    ), l1 AS (
        SELECT l.node, COALESCE(p.new_label, l.label) AS label
        FROM l0 l LEFT JOIN p1 p ON p.node = l.node
    ), n2 AS (
        SELECT e.v AS node, l.label FROM edges e JOIN l1 l ON l.node = e.u
    ), c2 AS (
        SELECT node, label, COUNT(*) AS c FROM n2 GROUP BY 1, 2
    ), p2 AS (
        SELECT node, label AS new_label FROM (
            SELECT node, label,
                   row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
            FROM c2
        ) WHERE rn = 1
    ), l2 AS (
        SELECT l.node, COALESCE(p.new_label, l.label) AS label
        FROM l1 l LEFT JOIN p2 p ON p.node = l.node
    )
    SELECT label, COUNT(*) AS community_size
    FROM l2 GROUP BY 1
    HAVING COUNT(*) >= 2
    ORDER BY community_size DESC, label
"""


def q_k_anonymize_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity ENFORCEMENT by suppression (the repair step after
    `k_anonymity_check`): quasi-identifier classes smaller than k=8
    get their QIs suppressed (nation → -1, segment → '*'), pooling
    the risky rows into one generalized class. Returns the anonymized
    class table. One class-size aggregation + one broadcast join of
    the (tiny) violating-class list against the data — the class list
    is bounded by QI-combination cardinality, never data size."""
    c = read_table(spark, sf_dir, "customer").select("c_nationkey", "c_mktsegment")
    viol = (
        c.groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < 8)
        .select(
            F.col("c_nationkey").alias("vn"), F.col("c_mktsegment").alias("vs")
        )
    )
    marked = c.join(
        F.broadcast(viol),
        (F.col("c_nationkey") == F.col("vn"))
        & (F.col("c_mktsegment") == F.col("vs")),
        "left",
    )
    anon = marked.select(
        F.when(F.col("vn").isNotNull(), F.lit(-1))
        .otherwise(F.col("c_nationkey"))
        .alias("nation_qi"),
        F.when(F.col("vs").isNotNull(), F.lit("*"))
        .otherwise(F.col("c_mktsegment"))
        .alias("segment_qi"),
    )
    return (
        anon.groupBy("nation_qi", "segment_qi")
        .agg(F.count(F.lit(1)).alias("class_size"))
        .orderBy("nation_qi", "segment_qi")
    )


def q_feature_digitize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fit-transform feature binning with EXACT boundaries: per
    event_type quartile cut points via value-at-rank (the
    `group_quantiles` element-pick, bit-portable), broadcast back,
    every event digitized into q1..q4. The fit output is
    group-cardinality-sized (broadcastable no matter the corpus);
    the transform is a map-only broadcast join — the standard
    train-time/serve-time split done exactly."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select("event_type", "event_id", "value")
    wp = Window.partitionBy("event_type").orderBy("value")
    wc = Window.partitionBy("event_type")
    r = ev.withColumn("rn", F.row_number().over(wp)).withColumn(
        "n", F.count(F.lit(1)).over(wc)
    )
    pick = lambda p: F.max(  # noqa: E731
        F.when(F.col("rn") == F.ceil(F.col("n") * F.lit(p)), F.col("value"))
    )
    bounds = r.groupBy(F.col("event_type").alias("bt")).agg(
        pick(0.25).alias("q1"), pick(0.5).alias("q2"), pick(0.75).alias("q3")
    )
    digitized = ev.join(
        F.broadcast(bounds), F.col("event_type") == F.col("bt")
    ).select(
        "event_type",
        F.when(F.col("value") <= F.col("q1"), "b1")
        .when(F.col("value") <= F.col("q2"), "b2")
        .when(F.col("value") <= F.col("q3"), "b3")
        .otherwise("b4")
        .alias("bucket"),
    )
    return (
        digitized.groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "bucket")
    )


QUERIES["k_anonymize_suppress"] = q_k_anonymize_suppress
QUERIES["feature_digitize"] = q_feature_digitize

ORACLE["k_anonymize_suppress"] = """
    WITH viol AS (
        SELECT c_nationkey AS vn, c_mktsegment AS vs
        FROM customer GROUP BY 1, 2 HAVING COUNT(*) < 8
    ), anon AS (
        SELECT CASE WHEN v.vn IS NOT NULL THEN -1 ELSE c.c_nationkey END AS nation_qi,
               CASE WHEN v.vs IS NOT NULL THEN '*' ELSE c.c_mktsegment END AS segment_qi
        FROM customer c
        LEFT JOIN viol v ON c.c_nationkey = v.vn AND c.c_mktsegment = v.vs
    )
    SELECT nation_qi, segment_qi, COUNT(*) AS class_size
    FROM anon GROUP BY 1, 2
    ORDER BY 1, 2
"""

ORACLE["feature_digitize"] = """
    WITH r AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ), bounds AS (
        SELECT event_type AS bt,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT) THEN value END) AS q1,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.50) AS BIGINT) THEN value END) AS q2,
               MAX(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT) THEN value END) AS q3
        FROM r GROUP BY 1
    )
    SELECT e.event_type,
           CASE WHEN e.value <= b.q1 THEN 'b1'
                WHEN e.value <= b.q2 THEN 'b2'
                WHEN e.value <= b.q3 THEN 'b3'
                ELSE 'b4' END AS bucket,
           COUNT(*) AS n
    FROM events e JOIN bounds b ON e.event_type = b.bt
    GROUP BY 1, 2
    ORDER BY 1, 2
"""


def q_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING_ID: the disambiguation the COALESCE-based
    rollup output cannot provide — a NULL grouping key from the DATA
    is distinguishable from a NULL meaning 'rolled up' only via the
    grouping bitmap. Orders rolled up over (status, priority) with
    the bitmap column; same single Expand+aggregate plan as plain
    rollup (the bitmap is free)."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("o_totalprice"), "revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("~")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("~")).alias("priority"),
            "gid",
            "n",
            "revenue",
        )
        .orderBy("gid", "status", "priority")
    )


QUERIES["rollup_grouping_id"] = q_rollup_grouping_id

ORACLE["rollup_grouping_id"] = """
    SELECT COALESCE(o_orderstatus, '~') AS status,
           COALESCE(o_orderpriority, '~') AS priority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY gid, status, priority
"""


def q_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue change: monthly decimal-exact totals,
    lag window for the prior month, pct change emitted UNROUNDED
    (both operands are envelope-safe decimal→double conversions, so
    the IEEE ratio is bit-identical cross-engine; a final 6dp round
    of a cent-rational ratio is tie-prone — the burstiness_bots
    class). The window runs over the MONTH-cardinality
    aggregate, not the fact table — one fact shuffle, one tiny sorted
    window; NULL first-month change kept as the -999.0 sentinel
    (driver canonicalization cannot order NULLs)."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(_dec_sum(F.col("o_totalprice"), "revenue"))
    w = Window.orderBy("month")
    return (
        monthly.withColumn("prev", F.lag("revenue").over(w))
        .select(
            # timestamp_ntz emit: host-zone-proof collection
            F.col("month").cast("timestamp_ntz").alias("month"),
            "revenue",
            F.coalesce(
                (F.col("revenue") - F.col("prev")) / F.col("prev"),
                F.lit(-999.0),
            ).alias("pct_change"),
        )
        .orderBy("month")
    )


def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative unique users by day: first-seen day per user (one
    aggregation), daily new-user counts, then a running sum over the
    DAY-cardinality relation — the two-phase shape that never runs a
    global window over raw events. The BI 'total audience' curve."""
    from pyspark.sql import Window

    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily_new = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("first_day")
    return (
        daily_new.withColumn("total_users", F.sum("new_users").over(w))
        .orderBy("first_day")
    )


def q_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-first-ship lag distribution: per order the days from
    order date to MIN lineitem ship date, bucketed into a lag
    histogram. The per-order MIN reduces the fact table BEFORE the
    orders join (aggregate-then-join, same discipline as Q18); the
    histogram is a second tiny aggregation. Exact integer day
    arithmetic in both engines."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    first_ship = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    lag = (
        o.join(first_ship, o["o_orderkey"] == first_ship["l_orderkey"])
        .select(
            F.datediff(F.to_date("first_ship"), F.to_date("o_orderdate")).alias(
                "lag_days"
            )
        )
    )
    bucket = (
        F.when(F.col("lag_days") <= 7, "0-7")
        .when(F.col("lag_days") <= 30, "8-30")
        .when(F.col("lag_days") <= 90, "31-90")
        .otherwise("90+")
    )
    return (
        lag.groupBy(bucket.alias("lag_bucket"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("lag_bucket")
    )


QUERIES["period_over_period"] = q_period_over_period
QUERIES["cumulative_users"] = q_cumulative_users
QUERIES["fulfillment_lag"] = q_fulfillment_lag

ORACLE["period_over_period"] = """
    WITH m AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           COALESCE((revenue - lag(revenue) OVER (ORDER BY month))
                        / lag(revenue) OVER (ORDER BY month),
                    -999.0) AS pct_change
    FROM m ORDER BY month
"""

ORACLE["cumulative_users"] = """
    WITH f AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1
    ), d AS (
        SELECT first_day, COUNT(*) AS new_users FROM f GROUP BY 1
    )
    SELECT first_day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS total_users
    FROM d ORDER BY first_day
"""

ORACLE["fulfillment_lag"] = """
    WITH fs AS (
        SELECT l_orderkey, MIN(l_shipdate) AS first_ship
        FROM lineitem GROUP BY 1
    ), lag_t AS (
        SELECT date_diff('day', CAST(o.o_orderdate AS DATE),
                         CAST(fs.first_ship AS DATE)) AS lag_days
        FROM orders o JOIN fs ON o.o_orderkey = fs.l_orderkey
    )
    SELECT CASE WHEN lag_days <= 7 THEN '0-7'
                WHEN lag_days <= 30 THEN '8-30'
                WHEN lag_days <= 90 THEN '31-90'
                ELSE '90+' END AS lag_bucket,
           COUNT(*) AS n_orders
    FROM lag_t GROUP BY 1 ORDER BY 1
"""


def q_hierarchy_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent at two hierarchy levels: nation revenue share
    within its region, and region share of world revenue, in one
    pass. The windows (per-region and global) run over the
    (region, nation)-cardinality AGGREGATE — bounded by geography,
    never corpus size — so the unpartitioned window is safe (the
    two-phase global-sum discipline applies to data-sized relations
    only). The window totals sum the exact DECIMAL accumulator — a
    window sum of the DOUBLE revenues would depend on within-frame
    addition order — and the shares are emitted UNROUNDED: both
    sides are envelope-safe decimal→double conversions, so the IEEE
    ratios are bit-identical cross-engine, while a final
    round(·, 6) of a cent-rational ratio diverges whenever the
    shortest decimal repr lands on a grid half with the binary value
    epsilon below it (the class the sf0.1 stress sweep caught on
    burstiness_bots)."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = read_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = read_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    agg = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(28,2)")).alias(
                "__rev_dec"
            )
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    reg_dec = F.sum("__rev_dec").over(w_region)
    all_dec = F.sum("__rev_dec").over(w_all)
    return agg.select(
        "region",
        "nation",
        F.col("__rev_dec").cast("double").alias("revenue"),
        (
            F.col("__rev_dec").cast("double") / reg_dec.cast("double")
        ).alias("share_of_region"),
        (reg_dec.cast("double") / all_dec.cast("double")).alias(
            "region_share_of_total"
        ),
    ).orderBy("region", "nation")


QUERIES["hierarchy_share"] = q_hierarchy_share

ORACLE["hierarchy_share"] = """
    WITH agg AS (
        -- exact DECIMAL accumulator kept through the window totals
        -- (a window SUM over DOUBLE revenues would be addition-order
        -- dependent); shares emitted UNROUNDED from envelope-safe
        -- decimal->double casts, mirroring the Spark side
        SELECT r.r_name AS region, n.n_name AS nation,
               SUM(CAST(o.o_totalprice AS DECIMAL(28,2))) AS rev_dec
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(rev_dec AS DOUBLE)
             / CAST(SUM(rev_dec) OVER (PARTITION BY region) AS DOUBLE)
             AS share_of_region,
           CAST(SUM(rev_dec) OVER (PARTITION BY region) AS DOUBLE)
             / CAST(SUM(rev_dec) OVER () AS DOUBLE)
             AS region_share_of_total
    FROM agg
    ORDER BY region, nation
"""


def q_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with MULTIPLE aggregates per cell: per segment × status,
    both order count and decimal-exact revenue in one Expand+aggregate
    pass (explicit pivot values — no distinct-value probe job)."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
    p = (
        joined.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["O", "F"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            _dec_sum(F.col("o_totalprice"), "rev"),
        )
    )
    return p.select(
        "c_mktsegment",
        F.coalesce("O_n", F.lit(0)).alias("open_n"),
        F.coalesce("O_rev", F.lit(0.0)).alias("open_rev"),
        F.coalesce("F_n", F.lit(0)).alias("filled_n"),
        F.coalesce("F_rev", F.lit(0.0)).alias("filled_rev"),
    ).orderBy("c_mktsegment")


QUERIES["pivot_multi"] = q_pivot_multi

ORACLE["pivot_multi"] = """
    SELECT c.c_mktsegment,
           COUNT(*) FILTER (WHERE o.o_orderstatus = 'O') AS open_n,
           COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,2)))
                    FILTER (WHERE o.o_orderstatus = 'O') AS DOUBLE), 0.0) AS open_rev,
           COUNT(*) FILTER (WHERE o.o_orderstatus = 'F') AS filled_n,
           COALESCE(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(28,2)))
                    FILTER (WHERE o.o_orderstatus = 'F') AS DOUBLE), 0.0) AS filled_rev
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1 ORDER BY 1
"""


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning activity split: each (user, day) active
    pair classed by whether the day is the user's first-seen day.
    Two aggregations (first-seen per user; distinct active days) and
    one co-partitioned join — the event log is never self-joined or
    window-scanned. Counts exact."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    active = ev.distinct()
    first_seen = active.groupBy("user_id").agg(F.min("day").alias("first_day"))
    return (
        active.join(first_seen, "user_id")
        .groupBy("day")
        .agg(
            F.count(F.when(F.col("day") == F.col("first_day"), 1)).alias("new_users"),
            F.count(F.when(F.col("day") != F.col("first_day"), 1)).alias(
                "returning_users"
            ),
        )
        .orderBy("day")
    )


QUERIES["new_vs_returning"] = q_new_vs_returning

ORACLE["new_vs_returning"] = """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), f AS (
        SELECT user_id, MIN(day) AS first_day FROM active GROUP BY 1
    )
    SELECT a.day,
           COUNT(*) FILTER (WHERE a.day = f.first_day) AS new_users,
           COUNT(*) FILTER (WHERE a.day <> f.first_day) AS returning_users
    FROM active a JOIN f ON a.user_id = f.user_id
    GROUP BY 1 ORDER BY 1
"""


def q_aqp_revenue_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing, honestly measured: revenue per
    order-priority estimated from a DETERMINISTIC 1% hash sample
    (portable md5 of the order key — the same rows in any engine, so
    the estimate itself is exactly reproducible), scaled ×100, with
    the relative error against the exact answer computed alongside.
    At 100 TB the sample scan touches 1% of the data for a
    dashboard-grade answer; the error column is what makes it
    engineering instead of hope. Every output is deterministic: the
    decimal sums are exact and the one division is plain IEEE on
    envelope-safe doubles, emitted unrounded."""
    o = read_table(spark, sf_dir, "orders")
    h = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
    sampled = o.filter(h.cast("long") % 100 == 0)
    est = sampled.groupBy("o_orderpriority").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(28,2)")) * 100)
        .cast("double")
        .alias("est_revenue"),
        F.count(F.lit(1)).alias("n_sampled"),
    )
    exact = o.groupBy(F.col("o_orderpriority").alias("p2")).agg(
        _dec_sum(F.col("o_totalprice"), "exact_revenue")
    )
    return (
        est.join(exact, est["o_orderpriority"] == F.col("p2"))
        .select(
            "o_orderpriority",
            "n_sampled",
            "est_revenue",
            "exact_revenue",
            (
                F.abs(F.col("est_revenue") - F.col("exact_revenue"))
                / F.col("exact_revenue")
            ).alias("rel_err"),
        )
        .orderBy("o_orderpriority")
    )


QUERIES["aqp_revenue_estimate"] = q_aqp_revenue_estimate

ORACLE["aqp_revenue_estimate"] = """
    WITH s AS (
        SELECT o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) * 100 AS DOUBLE)
                 AS est_revenue,
               COUNT(*) AS n_sampled
        FROM orders
        WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 100 = 0
        GROUP BY 1
    ), e AS (
        SELECT o_orderpriority AS p2,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)
                 AS exact_revenue
        FROM orders GROUP BY 1
    )
    SELECT s.o_orderpriority, s.n_sampled, s.est_revenue, e.exact_revenue,
           abs(s.est_revenue - e.exact_revenue) / e.exact_revenue
             AS rel_err
    FROM s JOIN e ON s.o_orderpriority = e.p2
    ORDER BY s.o_orderpriority
"""


def q_supplier_lead_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier fulfillment lead time: mean days from order date
    to each of the supplier's lineitem ship dates — decimal-exact day
    sums divided by exact counts (deterministic double). One fact⋈fact
    key join (lineitem⋈orders on orderkey) then a supplier-keyed
    aggregation; top-20 slowest with deterministic tie-break."""
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")).alias("lag_days"),
    )
    return (
        lag.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (
                F.sum(F.col("lag_days").cast("decimal(28,0)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_lead_days"),
        )
        .orderBy(F.col("avg_lead_days").desc(), "l_suppkey")
        .limit(20)
    )


def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: orphan
    counts for lineitem→orders, lineitem→part, lineitem→supplier, and
    orders→customer — each a LEFT-ANTI join (the join key is the only
    column read; filters push to the scans), unioned into one report.
    The DQ gate a warehouse runs after every load; at 100 TB each
    check is one key-join shuffle, and dimension-sided checks
    broadcast."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    checks = [
        (
            "lineitem->orders",
            li.select("l_orderkey").join(
                o.select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"),
                "left_anti",
            ),
        ),
        (
            "lineitem->part",
            li.select("l_partkey").join(
                read_table(spark, sf_dir, "part").select("p_partkey"),
                F.col("l_partkey") == F.col("p_partkey"),
                "left_anti",
            ),
        ),
        (
            "lineitem->supplier",
            li.select("l_suppkey").join(
                read_table(spark, sf_dir, "supplier").select("s_suppkey"),
                F.col("l_suppkey") == F.col("s_suppkey"),
                "left_anti",
            ),
        ),
        (
            "orders->customer",
            o.select("o_custkey").join(
                read_table(spark, sf_dir, "customer").select("c_custkey"),
                F.col("o_custkey") == F.col("c_custkey"),
                "left_anti",
            ),
        ),
    ]
    parts = [
        df.agg(F.count(F.lit(1)).alias("n_orphans")).select(
            F.lit(name).alias("relationship"), "n_orphans"
        )
        for name, df in checks
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("relationship")


QUERIES["supplier_lead_time"] = q_supplier_lead_time
QUERIES["referential_audit"] = q_referential_audit

ORACLE["supplier_lead_time"] = """
    SELECT l.l_suppkey, COUNT(*) AS n_items,
           CAST(SUM(CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                                   CAST(l.l_shipdate AS DATE)) AS DECIMAL(28,0)))
                AS DOUBLE) / COUNT(*) AS avg_lead_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    ORDER BY avg_lead_days DESC, l_suppkey
    LIMIT 20
"""

ORACLE["referential_audit"] = """
    SELECT 'lineitem->orders' AS relationship,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
             AS n_orphans
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem->supplier',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders->customer',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    ORDER BY relationship
"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007), the
    k-anonymity companion: a class can be large (k-anonymous) yet
    leak the sensitive attribute if every member shares one value.
    Per quasi-identifier class (nation, market segment): class size,
    DISTINCT-l over the sensitive attribute (account-balance
    thousand-bucket), and the Simpson-index numerator Σcnt² — the
    skew statistic behind Simpson-l = class_size²/Σcnt² (the
    effective number of sensitive values under the Simpson/collision
    measure, which distinct-l overstates when skewed; the consumer's
    one-line division). Classes with distinct-l below 5 are flagged
    for generalization/suppression.

    Two aggregations over an already-aggregate-sized relation: one
    map-side-combined (QI, bucket) count shuffle (the only
    corpus-sized exchange), then a (QI) rollup of ≤ |buckets| rows
    per class. The output is PURE INTEGER (r11, VERDICT r10 ask
    #1c): the earlier Shannon ``plogp`` column stayed driver-red
    across four rounds in every float formulation — rounded double
    (r7/r8), DECIMAL (r9), decimal→DOUBLE (r10) — while bit-exact
    green locally, so the entropy summand was replaced by the
    integer-exact Simpson numerator, which captures the same
    skew-vs-distinct-l gap with zero transcendentals.

    Envelope: Σcnt² ≤ class_size · max(cnt), so the BIGINT sum is
    exact while every (QI, bucket) cell stays under ~3e9 rows
    (cnt² < 2^63); beyond that, promote the summand to DECIMAL(38,0)
    on BOTH sides before shipping — Spark's BIGINT sum would wrap or
    ANSI-error exactly where DuckDB silently promotes to int128."""
    c = read_table(spark, sf_dir, "customer")
    per = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("sbucket"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    cls = per.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").alias("class_size"),
        F.count(F.lit(1)).alias("l_distinct"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("simpson_num"),
    )
    # Simpson-l = class_size² / simpson_num — derived by the consumer
    return cls.select(
        "c_nationkey",
        "c_mktsegment",
        "class_size",
        "l_distinct",
        "simpson_num",
        (F.col("l_distinct") < 5).cast("bigint").alias("flagged"),
    ).orderBy("c_nationkey", "c_mktsegment")


QUERIES["l_diversity"] = q_l_diversity

ORACLE["l_diversity"] = """
    WITH per AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 1000) AS BIGINT) AS sbucket,
               count(*) AS cnt
        FROM customer GROUP BY 1, 2, 3
    ),
    cls AS (
        SELECT c_nationkey, c_mktsegment,
               -- CAST: DuckDB promotes SUM(BIGINT) to HUGEINT, which crosses
               -- Arrow as decimal128(38,0) -> Python Decimal while Spark
               -- emits int64; a typed hasher then diverges on identical
               -- values. BIGINT keeps both engines on int64.
               CAST(SUM(cnt) AS BIGINT) AS class_size,
               count(*) AS l_distinct,
               CAST(SUM(cnt * cnt) AS BIGINT) AS simpson_num
        FROM per GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment, class_size, l_distinct,
           simpson_num,
           CASE WHEN l_distinct < 5 THEN 1 ELSE 0 END AS flagged
    FROM cls ORDER BY c_nationkey, c_mktsegment
"""


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit per order priority — the classic
    fabricated-data / data-quality screen (Nigrini's forensic
    standard): observed first-significant-digit counts vs the Benford
    expectation n·log10(1+1/d), scored by the χ² statistic and
    flagged above the df=8 / 95% critical value (15.507). The
    synthetic TPC-H price domain is decidedly non-Benford, so every
    group flags — the audit's point is the deterministic report, and
    the oracle predicts every count, χ² contribution and flag
    bit-for-bit.

    First digit is extracted LEXICALLY (round to DECIMAL(18,2) →
    string → first [1-9]), not via floor(log10): both engines print
    the decimal identically, while log10 of a double sitting on a
    power-of-ten boundary can land on either side in the last ulp.
    One map-side-combined (priority, digit) count shuffle; χ² sums
    9 ordered digit contributions through round-9dp DECIMAL (order-
    independent, char_entropy's contract)."""
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = o.select(
        "o_orderpriority",
        F.regexp_extract(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            "[1-9]",
            0,
        ).cast("int").alias("fd"),
    )
    cnt = d.groupBy("o_orderpriority", "fd").agg(F.count(F.lit(1)).alias("obs"))
    tot = cnt.groupBy("o_orderpriority").agg(F.sum("obs").alias("n"))
    exp = (
        F.col("n").cast("double")
        * F.log10(1.0 + 1.0 / F.col("fd").cast("double"))
    )
    contrib = F.round(
        (F.col("obs").cast("double") - exp) * (F.col("obs").cast("double") - exp) / exp,
        9,
    ).cast("decimal(28,9)")
    chi = (
        cnt.join(tot, "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(F.sum(contrib).alias("chi2_dec"))
    )
    return chi.select(
        "o_orderpriority",
        F.col("chi2_dec").cast("double").alias("chi2"),
        (F.col("chi2_dec").cast("double") > 15.507).cast("bigint").alias(
            "flagged"
        ),
    ).orderBy("o_orderpriority")


QUERIES["benford_audit"] = q_benford_audit

ORACLE["benford_audit"] = """
    WITH d AS (
        SELECT o_orderpriority,
               CAST(regexp_extract(
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                   '[1-9]') AS INTEGER) AS fd
        FROM orders WHERE o_totalprice > 0
    ),
    cnt AS (
        SELECT o_orderpriority, fd, count(*) AS obs FROM d GROUP BY 1, 2
    ),
    tot AS (
        SELECT o_orderpriority, SUM(obs) AS n FROM cnt GROUP BY 1
    ),
    chi AS (
        SELECT c.o_orderpriority,
               SUM(CAST(round(
                   (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / fd))
                   * (CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / fd))
                   / (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / fd)), 9)
                   AS DECIMAL(28,9))) AS chi2_dec
        FROM cnt c JOIN tot t USING (o_orderpriority)
        GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(chi2_dec AS DOUBLE) AS chi2,
           CASE WHEN CAST(chi2_dec AS DOUBLE) > 15.507 THEN 1 ELSE 0 END
             AS flagged
    FROM chi ORDER BY o_orderpriority
"""


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration Gini coefficient per market segment —
    the inequality/concentration KPI (is 80% of revenue coming from
    3 accounts?). Exact rank formula on ascending per-customer
    revenue: G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n, ties broken by
    custkey so the rank sum is deterministic. Revenue stays in
    DECIMAL(18,2) from the per-customer rollup through Σ i·xᵢ (scale
    30 intermediates — no fp until the single final division), so
    the oracle matches without tolerance.

    Scale: one (custkey) revenue rollup (corpus-sized, map-side
    combined), one rank window + moment aggregate over the customer-
    cardinality relation. No joins, no self-products."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rev = (
        o.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
        )
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("c_mktsegment").orderBy("rev", "c_custkey")
    ranked = rev.select(
        "c_mktsegment", "rev", F.row_number().over(w).alias("i")
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev").alias("sx"),
        F.sum(F.col("i") * F.col("rev")).alias("six"),
    )
    n = F.col("n").cast("double")
    gini = (
        2.0 * F.col("six").cast("double") / (n * F.col("sx").cast("double"))
        - (n + 1.0) / n
    )
    return agg.select(
        "c_mktsegment", "n", F.round(gini, 6).alias("gini")
    ).orderBy("c_mktsegment")


QUERIES["gini_concentration"] = q_gini_concentration

ORACLE["gini_concentration"] = """
    WITH rev AS (
        SELECT c.c_mktsegment, o.o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT c_mktsegment, rev,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY rev, o_custkey) AS i
        FROM rev
    ),
    agg AS (
        SELECT c_mktsegment, count(*) AS n, SUM(rev) AS sx,
               SUM(i * rev) AS six
        FROM ranked GROUP BY 1
    )
    SELECT c_mktsegment, n,
           round(2.0 * CAST(six AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE))
                 - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini
    FROM agg ORDER BY c_mktsegment
"""


def q_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over order baskets — the classic
    support/confidence/lift readout on top of the frequent_pairs
    co-occurrence counts (recommendation / cross-sell mining): for
    each brand pair in the same order, directional confidences
    P(b|a), P(a|b) and the symmetric lift
    n_ab·N / (n_a·n_b), top-20 by lift with deterministic
    tie-breaks. Exact integer counts; the only fp ops are the final
    per-row divisions (identical operands both engines, round 6dp).

    Scale shape: the brand dim broadcasts onto the fact scan; the
    basket relation (order → ≤25-brand sorted array) feeds three
    consumers (pair expansion, supports, basket count — the FP-growth
    first-pass contract) unpersisted: a persist there did not beat
    the re-derivation by more than run spread on a 10× corpus; pair
    expansion is in-row over the sorted array, bounded by
    Σ|basket|² ≤ 25·|baskets|, then ONE count shuffle of integer
    pairs."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    p = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("bs"))
    )
    pairs = (
        baskets.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, (a, i) -> "
                    "transform(slice(bs, i + 2, size(bs)), b -> struct(a, b))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.a").alias("ant"), F.col("pr.b").alias("cons"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    supp = (
        baskets.select(F.explode("bs").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_s"))
    )
    n_orders = baskets.agg(F.count(F.lit(1)).alias("n_orders"))
    out = (
        pairs.join(
            F.broadcast(supp.select(F.col("p_brand").alias("ant"),
                                    F.col("n_s").alias("n_a"))), "ant")
        .join(
            F.broadcast(supp.select(F.col("p_brand").alias("cons"),
                                    F.col("n_s").alias("n_b"))), "cons")
        .crossJoin(F.broadcast(n_orders))
    )
    lift = (
        F.col("n_ab").cast("double")
        * F.col("n_orders")
        / (F.col("n_a") * F.col("n_b"))
    )
    return (
        out.select(
            "ant",
            "cons",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("n_a")).alias(
                "conf_ab"
            ),
            (F.col("n_ab").cast("double") / F.col("n_b")).alias(
                "conf_ba"
            ),
            lift.alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "ant", "cons")
        .limit(20)
    )


QUERIES["association_rules"] = q_association_rules

ORACLE["association_rules"] = """
    WITH b AS (
        SELECT DISTINCT l_orderkey, p_brand
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM b),
    supp AS (SELECT p_brand, count(*) AS n_s FROM b GROUP BY 1),
    pairs AS (
        SELECT a.p_brand AS ant, c.p_brand AS cons, count(*) AS n_ab
        FROM b a JOIN b c
          ON a.l_orderkey = c.l_orderkey AND a.p_brand < c.p_brand
        GROUP BY 1, 2
    )
    SELECT ant, cons, n_ab,
           CAST(n_ab AS DOUBLE) / sa.n_s AS conf_ab,
           CAST(n_ab AS DOUBLE) / sc.n_s AS conf_ba,
           CAST(n_ab AS DOUBLE) * n.n_orders / (sa.n_s * sc.n_s)
             AS lift
    FROM pairs
    JOIN supp sa ON sa.p_brand = ant
    JOIN supp sc ON sc.p_brand = cons, n
    ORDER BY lift DESC, ant, cons LIMIT 20
"""


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature-leakage screen — the pre-training
    audit that catches a feature encoding the label (target leakage):
    MI(label; feature) in nats for each candidate feature, flagged
    above 0.05. Planted fixture: the 'leaky' feature moves to a
    disjoint value range exactly on purchase rows (a sanitized-ID
    parity leak), the 'clean' feature is the same k%4 for everyone —
    the screen must separate them (measured 0.498 vs 0.0005 nats, a
    10×/100× two-sided margin at the threshold). Distinct from
    cooccurrence_pmi: PMI scores individual value PAIRS inside one
    column; MI integrates the full joint to score the COLUMN
    dependency.

    One corpus scan (both features unpivot in-row before the single
    map-side-combined (feature, label, value) count shuffle); the
    joint relation is ≤ |features|·|labels|·|values| rows and the
    marginals fold out of it by re-aggregation, never re-scanning.
    MI contributions go through round-9dp DECIMAL (order-independent
    sum, the char_entropy contract), and the EMITTED score is that
    accumulator cast to DOUBLE (_dec_sum form) — a final
    round(double, 6) is the r7/r8 libm red class, a DECIMAL-typed
    output the r9 driver-hasher red class. The 0.05 leak threshold
    compares decimal-to-decimal, so the flag bit is exact."""
    ev = read_table(spark, sf_dir, "events").select(
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )
    feats = ev.select(
        "event_type",
        F.explode(
            F.array(
                F.struct(
                    F.lit("leaky").alias("feature"),
                    F.when(
                        F.col("event_type") == "purchase",
                        4 + F.pmod("k", F.lit(2)),
                    )
                    .otherwise(F.pmod("k", F.lit(4)))
                    .alias("fval"),
                ),
                F.struct(
                    F.lit("clean").alias("feature"),
                    F.pmod("k", F.lit(4)).alias("fval"),
                ),
            )
        ).alias("x"),
    ).select("event_type", "x.feature", "x.fval")
    # kept (off re-reads events); 10x A/B local[4], best on / off s:
    # 2.77/5.27, 1.98/4.05, 2.46/4.69
    jt = tracked_persist(
        feats.groupBy("feature", "event_type", "fval").agg(
            F.count(F.lit(1)).alias("n_xy")
        )
    )
    mx = jt.groupBy("feature", "event_type").agg(F.sum("n_xy").alias("n_x"))
    my = jt.groupBy("feature", "fval").agg(F.sum("n_xy").alias("n_y"))
    nn = jt.groupBy("feature").agg(F.sum("n_xy").alias("n"))
    joined = (
        jt.join(F.broadcast(mx), ["feature", "event_type"])
        .join(F.broadcast(my), ["feature", "fval"])
        .join(F.broadcast(nn), "feature")
    )
    contrib = F.round(
        (F.col("n_xy").cast("double") / F.col("n"))
        * F.log(
            F.col("n_xy").cast("double")
            * F.col("n")
            / (F.col("n_x").cast("double") * F.col("n_y"))
        ),
        9,
    ).cast("decimal(28,9)")
    mi = joined.groupBy("feature").agg(F.sum(contrib).alias("mi_dec"))
    # flag compares decimal-to-decimal (exact); the EMITTED score is
    # the accumulator cast to DOUBLE — DecimalType never leaves a
    # query (r9 driver-red class: the driver hashes Decimal
    # differently from both local engines)
    return mi.select(
        "feature",
        F.col("mi_dec").cast("double").alias("mi_dec"),
        (F.col("mi_dec") > F.lit("0.05").cast("decimal(38,9)"))
        .cast("bigint")
        .alias("flagged"),
    ).orderBy("feature")


QUERIES["mutual_information"] = q_mutual_information

ORACLE["mutual_information"] = """
    WITH f AS (
        SELECT event_type,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events
    ),
    feats AS (
        SELECT event_type, 'leaky' AS feature,
               CASE WHEN event_type = 'purchase' THEN 4 + k % 2
                    ELSE k % 4 END AS fval
        FROM f
        UNION ALL
        SELECT event_type, 'clean', k % 4 FROM f
    ),
    jt AS (
        SELECT feature, event_type, fval, count(*) AS n_xy
        FROM feats GROUP BY 1, 2, 3
    ),
    mx AS (SELECT feature, event_type, SUM(n_xy) AS n_x FROM jt GROUP BY 1, 2),
    my AS (SELECT feature, fval, SUM(n_xy) AS n_y FROM jt GROUP BY 1, 2),
    nn AS (SELECT feature, SUM(n_xy) AS n FROM jt GROUP BY 1),
    mi AS (
        SELECT jt.feature,
               SUM(CAST(round(
                   (CAST(n_xy AS DOUBLE) / n)
                   * ln(CAST(n_xy AS DOUBLE) * n
                        / (CAST(n_x AS DOUBLE) * n_y)), 9)
                   AS DECIMAL(28,9))) AS mi_dec
        FROM jt
        JOIN mx USING (feature, event_type)
        JOIN my ON my.feature = jt.feature AND my.fval = jt.fval
        JOIN nn ON nn.feature = jt.feature
        GROUP BY 1
    )
    SELECT feature,
           CAST(mi_dec AS DOUBLE) AS mi_dec,
           CASE WHEN mi_dec > CAST(0.05 AS DECIMAL(38,9)) THEN 1 ELSE 0 END
             AS flagged
    FROM mi ORDER BY feature
"""


def q_theil_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality decomposition of customer revenue by market
    segment — the additive counterpart to gini_concentration:
    T_total = Σ_g s_g·T_g + Σ_g s_g·ln(μ_g/μ) splits inequality into
    WITHIN-segment and BETWEEN-segment components (Gini cannot be
    decomposed additively), the lens for "is revenue concentration a
    segment story or a whales-everywhere story". Output per segment:
    population n_g, segment revenue sx_g and within-contribution sum
    s_dec — both accumulated in exact DECIMAL, EMITTED as DOUBLE
    (_dec_sum form) — every decomposition term (s_g = sx_g/Σsx_g,
    T_g = s_dec/n_g, between = s_g·ln(μ_g/μ)) is a one-line
    derivation from these. Earlier rounds emitted derived round(…,6)
    doubles (the r7/r8 libm red class), then the raw decimals (the
    r9 driver-hasher red class); the double-cast accumulator is the
    9-round-green form.

    One corpus-sized (custkey) revenue rollup joined to the broadcast
    customer dim; its three consumers (totals, segment moments, the
    contribution sum) share the rollup's exchange; log contributions
    go through round-9dp DECIMAL."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    rev = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("x"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(F.col("c_mktsegment").alias("seg"), "x")
    )
    seg = rev.groupBy("seg").agg(
        F.count(F.lit(1)).alias("n_g"), F.sum("x").alias("sx_g")
    )
    mu_g = F.col("sx_g").cast("double") / F.col("n_g")
    contrib = F.round(
        (F.col("x").cast("double") / mu_g)
        * F.log(F.col("x").cast("double") / mu_g),
        9,
    ).cast("decimal(28,9)")
    within = (
        rev.join(F.broadcast(seg), "seg")
        .groupBy("seg")
        .agg(F.sum(contrib).alias("s_dec"))
    )
    # decimal accumulators → DOUBLE emit (_dec_sum contract): the r9
    # driver hashes Decimal output divergently, so sums ride decimal
    # internally and leave as double
    return (
        within.join(F.broadcast(seg), "seg")
        .select(
            "seg",
            "n_g",
            F.col("sx_g").cast("double").alias("sx_g"),
            F.col("s_dec").cast("double").alias("s_dec"),
        )
        .orderBy("seg")
    )


QUERIES["theil_decomposition"] = q_theil_decomposition

ORACLE["theil_decomposition"] = """
    WITH rev AS (
        SELECT c.c_mktsegment AS seg,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ),
    seg AS (
        SELECT seg, count(*) AS n_g, SUM(x) AS sx_g FROM rev GROUP BY 1
    ),
    within AS (
        SELECT r.seg,
               SUM(CAST(round(
                   (CAST(r.x AS DOUBLE) / (CAST(s.sx_g AS DOUBLE) / s.n_g))
                   * ln(CAST(r.x AS DOUBLE)
                        / (CAST(s.sx_g AS DOUBLE) / s.n_g)), 9)
                   AS DECIMAL(28,9))) AS s_dec
        FROM rev r JOIN seg s USING (seg) GROUP BY 1
    )
    SELECT w.seg, s.n_g,
           CAST(s.sx_g AS DOUBLE) AS sx_g,
           CAST(w.s_dec AS DOUBLE) AS s_dec
    FROM within w JOIN seg s USING (seg) ORDER BY w.seg
"""


def q_two_hop_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hop neighborhood feature aggregation — the GraphSAGE/GNN
    feature-engineering shape (node embeddings from aggregated
    neighbor attributes, two message-passing rounds): over the
    deterministic same-nation offset graph (label_propagation's edge
    builder), each sampled node gets its 1-hop and 2-hop path-count
    and PATH-WEIGHTED mean account balance (A·x and A²·x semantics —
    multiplicity-weighted, exactly what two rounds of sum-aggregate
    message passing compute; distinct-node means would need a 2-hop
    DISTINCT blowup the message-passing form avoids on purpose).

    Scale: hop 1 = one co-partitioned edge⋈feature join + sum
    aggregate keyed by destination (linear in |E|); hop 2 repeats
    the same join against the HOP-1 AGGREGATE (node-cardinality, so
    the A² term never materializes 2-hop paths — sums compose).
    Output bounded by the node sample. The emitted features are the
    sum + count components (sum_1hop/n1, sum_2hop/n2) — the GNN
    consumer divides; the output is PURE INTEGER (r11, VERDICT r10
    ask #1b): sums accumulate in exact DECIMAL(·,2) and emit as
    exact-shift cents BIGINT (``sum * 100`` inside decimal
    arithmetic, never through a double). Every float emit — rounded
    double (r7/r8), DECIMAL (r9), decimal→DOUBLE (r10) — stayed
    driver-red across four rounds while bit-exact green locally,
    despite this query being transcendental-free; cents BIGINT is
    the decisive float-free formulation."""
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    b = c.select(
        F.col("c_custkey").alias("v"),
        F.col("c_nationkey").alias("bn"),
    )
    offs = F.array(*[F.lit(d) for d in (1, 2, 3, 4, 5, 6, 8, 10)])
    pairs = (
        c.withColumn("d", F.explode(offs))
        .withColumn("vk", F.col("d") + F.col("c_custkey"))
        .join(
            b,
            (F.col("vk") == F.col("v"))
            & (F.col("c_nationkey") == F.col("bn")),
        )
        .select(F.col("c_custkey").alias("u"), "v")
    )
    # in-row symmetrization: the pairs ∪ pairs.swap union form ran
    # the customer self-join lineage twice INSIDE the cache build
    # (4 scans for one materialization — r8 lineage audit)
    from lightlane_spark.operators.clustering import symmetrize

    # kept (off re-reads customer); cold A/B sf0.1 local[4]: on 0.35 s, off 0.37 s
    edges = tracked_persist(symmetrize(pairs))
    feat = c.select(
        F.col("c_custkey").alias("node"),
        F.col("c_acctbal").cast("decimal(18,2)").alias("f"),
    )
    # hop 1: sum/count of neighbor features keyed by destination
    h1 = (
        edges.join(feat, edges["u"] == feat["node"])
        .groupBy(F.col("v").alias("node1"))
        .agg(F.sum("f").alias("s1"), F.count(F.lit(1)).alias("n1"))
    )
    # hop 2: the SAME edge join against the hop-1 aggregate — sums
    # compose (A²·x = A·(A·x)), so 2-hop paths are never materialized
    h2 = (
        edges.join(h1, edges["u"] == h1["node1"])
        .groupBy(F.col("v").alias("node2"))
        .agg(F.sum("s1").alias("s2"), F.sum("n1").alias("n2"))
    )
    out = (
        h1.withColumnRenamed("node1", "node")
        .join(h2, F.col("node") == F.col("node2"))
        .filter(F.col("node") % 50 == 0)
    )
    # exact-shift cents: scale-2 decimal × 100 is integral and stays
    # in decimal arithmetic (no double anywhere on the emit path)
    return out.select(
        "node",
        "n1",
        (F.col("s1") * 100).cast("bigint").alias("sum_1hop_cents"),
        "n2",
        (F.col("s2") * 100).cast("bigint").alias("sum_2hop_cents"),
    ).orderBy("node")


QUERIES["two_hop_features"] = q_two_hop_features

ORACLE["two_hop_features"] = """
    WITH pairs AS (
        SELECT a.c_custkey AS u, b.c_custkey AS v
        FROM customer a
        JOIN (SELECT unnest([1,2,3,4,5,6,8,10]) AS d) o ON TRUE
        JOIN customer b
          ON b.c_custkey = a.c_custkey + o.d
         AND b.c_nationkey = a.c_nationkey
    ),
    edges AS (
        SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ),
    feat AS (
        SELECT c_custkey AS node, CAST(c_acctbal AS DECIMAL(18,2)) AS f
        FROM customer
    ),
    h1 AS (
        SELECT e.v, SUM(f.f) AS s1, count(*) AS n1
        FROM edges e JOIN feat f ON e.u = f.node GROUP BY e.v
    ),
    h2 AS (
        SELECT e.v AS node2, SUM(h.s1) AS s2, SUM(h.n1) AS n2
        FROM edges e JOIN h1 h ON e.u = h.v GROUP BY e.v
    )
    SELECT h1.v AS node, n1,
           CAST(s1 * 100 AS BIGINT) AS sum_1hop_cents,
           -- CAST: SUM(BIGINT) is HUGEINT in DuckDB (Arrow Decimal vs
           -- Spark int64); pin to BIGINT for typed comparators.
           CAST(n2 AS BIGINT) AS n2,
           CAST(s2 * 100 AS BIGINT) AS sum_2hop_cents
    FROM h1 JOIN h2 ON h1.v = h2.node2
    WHERE h1.v % 50 = 0
    ORDER BY node
"""


def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic CRM/customer-value grid:
    per customer, Recency (days since last order, vs the dataset's
    max date), Frequency (order count) and Monetary (exact-decimal
    revenue), each scored into quintiles (ntile(5), deterministic
    (metric, custkey) order — Spark and DuckDB share the even-bucket
    remainder-to-first ntile definition), then the 5×5×5 cell census
    with per-cell revenue. "Champions" are (5,5,5); win-back targets
    are (1, high F, high M).

    Scale: ONE fact rollup keyed by customer (map-side combined),
    then three window ranks over the customer-cardinality relation —
    a global sort each, the documented cost of exact global
    quantiles (swap to approx percentile cuts when customers stop
    fitting a sort, quantile_summary's contract); final census is a
    tiny aggregate."""
    from pyspark.sql import Window

    o = read_table(spark, sf_dir, "orders").select(
        "o_custkey", F.to_date("o_orderdate").alias("d"), "o_totalprice"
    )
    cust = o.groupBy("o_custkey").agg(
        F.max("d").alias("last_d"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    d0 = cust.agg(F.max("last_d").alias("d0"))
    scored = (
        cust.crossJoin(F.broadcast(d0))
        .withColumn("recency", F.datediff("d0", "last_d"))
        .select(
            "o_custkey",
            "monetary",
            F.ntile(5)
            .over(Window.orderBy(F.col("recency").desc(), "o_custkey"))
            .alias("r_score"),
            F.ntile(5)
            .over(Window.orderBy("frequency", "o_custkey"))
            .alias("f_score"),
            F.ntile(5)
            .over(Window.orderBy("monetary", "o_custkey"))
            .alias("m_score"),
        )
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary").cast("double").alias("cell_revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


QUERIES["rfm_segmentation"] = q_rfm_segmentation

ORACLE["rfm_segmentation"] = """
    WITH cust AS (
        SELECT o_custkey,
               max(CAST(o_orderdate AS DATE)) AS last_d,
               count(*) AS frequency,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
        FROM orders GROUP BY 1
    ),
    mx AS (SELECT max(last_d) AS d0 FROM cust),
    scored AS (
        SELECT o_custkey, monetary,
               ntile(5) OVER (
                   ORDER BY date_diff('day', last_d, (SELECT d0 FROM mx)) DESC,
                            o_custkey) AS r_score,
               ntile(5) OVER (ORDER BY frequency, o_custkey) AS f_score,
               ntile(5) OVER (ORDER BY monetary, o_custkey) AS m_score
        FROM cust
    )
    SELECT r_score, f_score, m_score,
           count(*) AS n_customers,
           CAST(SUM(monetary) AS DOUBLE) AS cell_revenue
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

# the registries are complete: read-only from here on
QUERIES = MappingProxyType(QUERIES)
ORACLE = MappingProxyType(ORACLE)
