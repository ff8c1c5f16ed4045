"""OP-10/28/29/32 catalog utilities + OP-37 observability."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from lightlane_spark.catalog import (
    analyze_table,
    create_table_if_missing,
    row_count_stat,
    schema_only,
    table_exists,
)
from lightlane_spark.observe import PipelineMetrics
from lightlane_spark.sources.parquet import read_table


def test_table_exists_and_create_if_missing(spark):
    spark.sql("DROP TABLE IF EXISTS t_cat_demo")
    assert not table_exists(spark, "t_cat_demo")
    created = create_table_if_missing(
        spark, "t_cat_demo", "CREATE TABLE t_cat_demo (id BIGINT, v STRING) USING PARQUET"
    )
    assert created and table_exists(spark, "t_cat_demo")
    # second call: present → no-op
    assert create_table_if_missing(spark, "t_cat_demo", "SELECT broken") is False
    with pytest.raises(ValueError):
        create_table_if_missing(spark, "t_missing_no_ddl")
    spark.sql("DROP TABLE t_cat_demo")


def test_schema_only_clone(spark, sf_dir):
    df = read_table(spark, sf_dir, "orders")
    clone = schema_only(df)
    assert clone.schema == df.schema and clone.count() == 0


def test_analyze_table_feeds_cbo(spark):
    spark.sql("DROP TABLE IF EXISTS t_stats_demo")
    spark.range(123).write.saveAsTable("t_stats_demo")
    analyze_table(spark, "t_stats_demo")
    assert row_count_stat(spark, "t_stats_demo") == 123
    spark.sql("DROP TABLE t_stats_demo")


def test_observe_counts_without_extra_pass(spark, sf_dir):
    m = PipelineMetrics()
    df = read_table(spark, sf_dir, "lineitem")
    df = m.observe_count(df, "scanned")
    df = m.observe_count(df.filter(F.col("l_quantity") > 30), "filtered")
    out = df.count()  # single action drives both observations
    res = m.results()
    assert res["scanned"]["rows"] == 6000 or res["scanned"]["rows"] > out
    assert res["filtered"]["rows"] == out
    assert res["__elapsed_sec"] >= 0


def test_profile_columns_approx_no_expand(spark, sf_dir):
    """approx=True is the 100 TB profile: HLL++ sketches instead of the
    Expand-based exact count-distincts. Plan must drop the Expand;
    cardinalities within the 5% rsd; nulls/min/max stay exact."""
    from lightlane_spark.catalog import profile_columns

    li = read_table(spark, sf_dir, "lineitem")
    cols = ["l_orderkey", "l_quantity", "l_extendedprice"]
    exact = {r.column: r for r in profile_columns(li, cols).collect()}
    approx = profile_columns(li, cols, approx=True, approx_rsd=0.01)
    assert "Expand" not in approx._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in (
        profile_columns(li, cols)._jdf.queryExecution().executedPlan().toString()
    )
    for r in approx.collect():
        e = exact[r.column]
        assert r.n_nulls == e.n_nulls
        assert r.min_val == e.min_val and r.max_val == e.max_val
        assert abs(r.n_distinct - e.n_distinct) <= max(0.05 * e.n_distinct, 2), (
            r.column, r.n_distinct, e.n_distinct,
        )


def test_corr_matrix_matches_builtin_and_validates(spark, sf_dir):
    """Exact-decimal Pearson r agrees with Spark's streaming corr to
    float tolerance (the decimal form exists for cross-engine
    bit-exactness, not different math)."""
    import pytest

    from lightlane_spark.catalog import corr_matrix
    from lightlane_spark.sources.parquet import read_table

    li = read_table(spark, sf_dir, "lineitem")
    got = {
        (r.col_a, r.col_b): r.corr
        for r in corr_matrix(li, ["l_quantity", "l_extendedprice"]).collect()
    }
    builtin = li.stat.corr("l_quantity", "l_extendedprice")
    assert abs(got[("l_quantity", "l_extendedprice")] - builtin) < 1e-9
    with pytest.raises(ValueError):
        corr_matrix(li, ["l_quantity"])


def test_corr_matrix_exact_at_full_scale_digits(spark):
    """Summation-exactness regression: inputs that use ALL ``scale``
    fractional digits (products carry 2·scale digits — e.g.
    1.2345 × 1.1111 = 1.37165295). With DECIMAL(19,scale) operands
    Spark's allowPrecisionLoss trimmed the product to 2·scale−1 digits
    and the moment sums silently rounded; DECIMAL(18) operands keep
    the product at DECIMAL(37,2·scale), exact. Compare against
    r computed from exact rational moment sums."""
    from fractions import Fraction

    from lightlane_spark.catalog import corr_matrix

    rows = [
        (1.2345, 1.1111),
        (2.6789, 3.9999),
        (0.0001, 9.8765),
        (7.5557, 0.0203),
        (5.5555, 5.5555),
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    got = corr_matrix(df, ["x", "y"], scale=4).first().corr

    fx = [Fraction(str(x)) for x, _ in rows]
    fy = [Fraction(str(y)) for _, y in rows]
    n = len(rows)
    sx, sy = sum(fx), sum(fy)
    qx, qy = sum(v * v for v in fx), sum(v * v for v in fy)
    pxy = sum(a * b for a, b in zip(fx, fy))
    # mirror the operator: each exact decimal moment → double, then
    # double closed form
    import math

    nd, sxd, syd, qxd, qyd, pd_ = (float(v) for v in (n, sx, sy, qx, qy, pxy))
    want = (nd * pd_ - sxd * syd) / math.sqrt(
        (nd * qxd - sxd * sxd) * (nd * qyd - syd * syd)
    )
    assert got == want, (got, want)


def test_hll_rollup_merges_daily_sketches(spark, sf_dir):
    """The weekly estimate from MERGED daily sketches must land within
    HLL tolerance of exact (and of a direct weekly sketch): merging
    sketch state, never raw values, is the whole point."""
    from pyspark.sql import functions as F

    from lightlane_spark.catalog import hll_rollup
    from lightlane_spark.sources.parquet import read_table

    ev = read_table(spark, sf_dir, "events")
    week = F.date_trunc("week", F.col("ts"))
    merged = {
        r.coarse: r.approx_distinct
        for r in hll_rollup(
            ev, F.date_trunc("day", F.col("ts")), week, "user_id"
        ).collect()
    }
    exact = {
        r.coarse: r.n
        for r in ev.groupBy(week.alias("coarse"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert merged.keys() == exact.keys()
    for wk, n in exact.items():
        assert abs(merged[wk] - n) / n <= 0.05, (wk, merged[wk], n)


def test_group_zscore_moments(spark):
    """z-scores match a scipy-free closed form and zero-variance
    groups normalize to 0."""
    import math

    from lightlane_spark.catalog import group_zscore

    rows = [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 5.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {(r.k, r.v): r.z for r in group_zscore(df, ["k"], "v").collect()}
    # group a: mean 2, sample sd 1
    assert got[("a", 1.0)] == -1.0 and got[("a", 3.0)] == 1.0
    assert got[("a", 2.0)] == 0.0
    # zero variance → z = 0, not NaN
    assert got[("b", 5.0)] == 0.0


def test_hll_overlap_known_sets(spark):
    """Known overlap structure: A∩B half of each, C disjoint — the
    inclusion-exclusion estimates must land within HLL tolerance."""
    from pyspark.sql import functions as F

    from lightlane_spark.catalog import hll_overlap

    rows = (
        [("A", i) for i in range(1000)]
        + [("B", i) for i in range(500, 1500)]
        + [("C", i) for i in range(10_000, 10_400)]
    )
    df = spark.createDataFrame(rows, "grp: string, uid: bigint")
    out = {
        (r.grp_a, r.grp_b): r.est_inter
        for r in hll_overlap(df, "grp", "uid").collect()
    }
    assert abs(out[("A", "B")] - 500) <= 0.1 * 500
    assert abs(out[("A", "C")]) <= 40  # ~disjoint
    assert abs(out[("B", "C")]) <= 40
