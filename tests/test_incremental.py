"""Watermark incremental loads: N runs == one full load; idempotency."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from lightlane_spark.operators.incremental import (
    extract_since,
    high_watermark,
    incremental_merge_load,
)
from lightlane_spark.sources.parquet import read_table


def test_incremental_equals_full_load(spark, sf_dir, tmp_path):
    target = str(tmp_path / "t")
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    # split source by median event_id for two deterministic phases
    mid = ev.agg(F.expr("percentile(event_id, 0.5)")).first()[0]
    phase1 = ev.filter(F.col("event_id") <= mid)
    n1 = incremental_merge_load(spark, phase1, target, "ts", ["event_id"])
    assert n1 == phase1.count()
    n2 = incremental_merge_load(spark, ev, target, "ts", ["event_id"])
    assert 0 < n2 < ev.count()  # only rows past the watermark moved
    back = spark.read.parquet(target)
    assert back.count() <= ev.count()
    # rows past phase-1's watermark are all present; idempotent rerun
    n3 = incremental_merge_load(spark, ev, target, "ts", ["event_id"])
    assert n3 == 0
    assert spark.read.parquet(target).count() == back.count()


def test_incremental_merge_load_sees_uri_target(spark, sf_dir, tmp_path):
    """A ``file://`` target is found through its Hadoop filesystem, so
    a rerun over an unchanged source extracts nothing."""
    target = "file://" + str(tmp_path / "t")
    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    assert incremental_merge_load(spark, ev, target, "ts", ["event_id"]) == ev.count()
    assert incremental_merge_load(spark, ev, target, "ts", ["event_id"]) == 0
    assert spark.read.parquet(target).count() == ev.count()


def test_extract_since_overlap(spark):
    t0 = dt.datetime(2025, 1, 1)
    df = spark.createDataFrame(
        [(i, t0 + dt.timedelta(hours=i)) for i in range(10)], "id: bigint, ts: timestamp"
    )
    hw = high_watermark(df, "ts")
    assert hw == t0 + dt.timedelta(hours=9)
    assert extract_since(df, "ts", hw).count() == 0
    assert extract_since(df, "ts", hw, overlap=dt.timedelta(hours=3)).count() == 3
    assert extract_since(df, "ts", None).count() == 10


def test_incremental_agg_merge_equals_recompute(spark, sf_dir):
    """The IVM identity: merge(state(base), delta) == state(base ∪
    delta) for sum/count/min/max — including delta-only keys (new
    customers) and state-only keys (untouched)."""
    from pyspark.sql import functions as F

    from lightlane_spark.operators.incremental import (
        incremental_agg_merge,
        incremental_agg_state,
    )
    from lightlane_spark.sources.parquet import read_table

    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    base = orders.where("o_orderkey % 4 != 0")
    delta = orders.where("o_orderkey % 4 = 0")
    aggs = {
        "o_totalprice": "sum",
        "o_orderkey": "count",
    }
    merged = incremental_agg_merge(
        incremental_agg_state(base, ["o_custkey"], aggs), delta, ["o_custkey"], aggs
    )
    full = incremental_agg_state(orders, ["o_custkey"], aggs)
    m = {r.o_custkey: (round(r.sum_o_totalprice, 6), r.count_o_orderkey) for r in merged.collect()}
    f = {r.o_custkey: (round(r.sum_o_totalprice, 6), r.count_o_orderkey) for r in full.collect()}
    assert m == f

    # min/max path + delta-only keys
    aggs2 = {"o_totalprice": "min", "o_orderkey": "max"}
    base2 = orders.where("o_custkey % 10 != 0")
    merged2 = incremental_agg_merge(
        incremental_agg_state(base2, ["o_custkey"], aggs2),
        orders.where("o_custkey % 2 = 0"),
        ["o_custkey"],
        aggs2,
    )
    full2 = incremental_agg_state(
        base2.unionByName(orders.where("o_custkey % 2 = 0")), ["o_custkey"], aggs2
    )
    m2 = sorted(map(tuple, merged2.collect()))
    f2 = sorted(map(tuple, full2.collect()))
    assert m2 == f2


def test_retract_merge_full_churn_key_goes_to_zero(spark):
    """A key whose every row departs converges to a zero row (the
    documented filterable state), and pure updates retract exactly."""
    from pyspark.sql import functions as F

    from lightlane_spark.operators.incremental import (
        incremental_agg_retract_merge,
        incremental_agg_state,
    )

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 5)],
        "pk: bigint, grp: string, v: bigint",
    )
    # b's only row deleted; row 1 updated 10 -> 13
    new = spark.createDataFrame(
        [(1, "a", 13), (2, "a", 20)], "pk: bigint, grp: string, v: bigint"
    )
    aggs = {"v": "sum", "pk": "count"}
    state = incremental_agg_state(old, ["grp"], aggs)
    out = {
        r.grp: (r.sum_v, r.count_pk)
        for r in incremental_agg_retract_merge(
            state, old, new, ["pk"], ["grp"], aggs
        ).collect()
    }
    assert out["a"] == (33, 2)
    assert out["b"] == (0, 0)  # fully-departed key zeroes out


def test_incremental_join_delta_counts_both_new_once(spark):
    """The ΔA⋈ΔB containment subtlety: a pair whose rows are new on
    BOTH sides must appear exactly once in ΔV (it lands in the
    ΔA⋈(B∪ΔB) term and must NOT also come from A⋈ΔB)."""
    from pyspark.sql import functions as F
    from lightlane_spark.operators.incremental import incremental_join_delta

    a_old = spark.createDataFrame([(1, "a1")], "k: bigint, av: string")
    a_new = spark.createDataFrame([(2, "a2")], "k: bigint, av: string")
    b_old = spark.createDataFrame([(1, "b1")], "k: bigint, bv: string")
    b_new = spark.createDataFrame([(1, "b1x"), (2, "b2")], "k: bigint, bv: string")

    dv = incremental_join_delta(a_old, a_new, b_old, b_new, on=["k"])
    got = sorted(tuple(r) for r in dv.collect())
    # ΔA⋈(B∪ΔB): (2,a2,b2); A⋈ΔB: (1,a1,b1x). (2,a2,b2) appears once.
    assert got == [(1, "a1", "b1x"), (2, "a2", "b2")]

    v_new = a_old.unionByName(a_new).join(b_old.unionByName(b_new), on=["k"])
    v_maintained = a_old.join(b_old, on=["k"]).unionByName(dv)
    assert sorted(tuple(r) for r in v_new.collect()) == sorted(
        tuple(r) for r in v_maintained.collect()
    )


def test_retract_merge_nullable_count_matches_recompute(spark):
    """count(c) counts NON-NULL values; the signed retraction must do
    the same. An update that flips c between NULL and non-NULL is the
    adversarial case: the merged state must equal the recompute."""
    from pyspark.sql import functions as F

    from lightlane_spark.operators.incremental import (
        incremental_agg_retract_merge,
        incremental_agg_state,
    )

    old = spark.createDataFrame(
        [(1, "k", 10.0), (2, "k", None), (3, "k", 5.0), (4, "j", None)],
        "pk bigint, grp string, v double",
    )
    # pk1: value -> NULL (count must drop); pk2: NULL -> value (count
    # must rise); pk3 deleted; pk4 unchanged NULL
    new = spark.createDataFrame(
        [(1, "k", None), (2, "k", 7.0), (4, "j", None)],
        "pk bigint, grp string, v double",
    )
    aggs = {"v": "count"}
    state = incremental_agg_state(old, ["grp"], aggs)
    merged = {
        r.grp: r.count_v
        for r in incremental_agg_retract_merge(
            state, old, new, ["pk"], ["grp"], aggs
        ).collect()
    }
    recomputed = {
        r.grp: r.count_v
        for r in incremental_agg_state(new, ["grp"], aggs).collect()
    }
    for g, n in recomputed.items():
        assert merged[g] == n, (g, merged[g], n)
    # group k: old had 2 non-null (pk1, pk3), new has 1 (pk2)
    assert merged["k"] == 1
