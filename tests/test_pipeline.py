"""End-to-end Pipeline API (the reference's three entry points)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from lightlane_spark.pipeline import Pipeline


def test_dump_pipeline_csv_and_parquet(spark, sf_dir, tmp_path):
    """Entry point 1 (dump): extract → transform → fan-out sinks."""
    csv_path = str(tmp_path / "csv")
    pq_path = str(tmp_path / "pq")
    metrics = (
        Pipeline(spark)
        .extract_parquet(
            sf_dir, "lineitem",
            columns=["l_orderkey", "l_quantity", "l_returnflag"],
            where="l_quantity > 30",
            splitby="l_orderkey", splits=4,
        )
        .transform(lambda df: df.withColumn("qty2", F.col("l_quantity") * 2))
        .to_csv(csv_path)
        .to_parquet(pq_path)
        .run()
    )
    assert metrics["extracted"]["rows"] > 0
    back = spark.read.parquet(pq_path)
    assert back.count() == metrics["extracted"]["rows"]
    assert "qty2" in back.columns
    assert os.path.isdir(csv_path)


def test_load_pipeline_with_dedup_and_merge(spark, sf_dir, tmp_path):
    """Entry points 2/3 (load): staging → dedup → MERGE into target."""
    target = str(tmp_path / "t")
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    Pipeline(spark).extract_df(orders).load(target, "overwrite").run()
    modified = orders.filter("o_orderkey % 3 = 0").withColumn(
        "o_orderpriority", F.lit("NEW")
    )
    staging = modified.unionByName(modified)  # exact dup rows in staging
    Pipeline(spark).extract_df(staging).load(
        target,
        "merge",
        primary_keys=["o_orderkey"],
        dedup=True,
        dedup_uniq_keys=["o_orderkey"],
        dedup_orderby=["o_orderpriority"],
    ).run()
    back = spark.read.parquet(target)
    assert back.count() == orders.count()
    assert back.filter("o_orderpriority = 'NEW'").count() == orders.filter(
        "o_orderkey % 3 = 0"
    ).count()


def test_quarantine_routing(spark, tmp_path):
    bad_path = str(tmp_path / "bad")
    good_path = str(tmp_path / "good")
    df = spark.createDataFrame(
        [(1, '{"k":1}'), (2, "garbage"), (3, '{"k":3}')], "id: bigint, payload: string"
    )
    m = (
        Pipeline(spark)
        .extract_df(df)
        .quarantine(F.get_json_object("payload", "$.k").isNotNull())
        .to_parquet(good_path)
        .bad_to_parquet(bad_path)
        .run()
    )
    assert spark.read.parquet(good_path).count() == 2
    assert spark.read.parquet(bad_path).count() == 1
    assert m["quarantined"]["rows"] == 1 and m["good"]["rows"] == 2


def test_pipeline_validation():
    with pytest.raises(ValueError):
        Pipeline(None).transform(lambda d: d)
    with pytest.raises(ValueError):
        Pipeline(None).run()


def test_pipeline_dedup_fuzzy_end_to_end(spark, sf_dir, tmp_path):
    """Reference-user story: extract docs -> fuzzy-dedup -> load — one
    fluent chain. Exact dups (verbatim copies) must collapse."""
    from pyspark.sql import functions as F

    from lightlane_spark.cache import cache_scope
    from lightlane_spark.pipeline import Pipeline
    from lightlane_spark.sources.parquet import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter("doc_id % 5 = 0").select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(dups)
    out_path = str(tmp_path / "deduped")
    with cache_scope():  # releases the stage's persisted input
        Pipeline(spark).extract_df(corpus).dedup_fuzzy().to_parquet(out_path).run()
    kept = spark.read.parquet(out_path)
    kept_ids = {r.doc_id for r in kept.collect()}
    # every injected verbatim dup must be gone (its base doc has min id)
    assert not any(i >= 1_000_000 for i in kept_ids)
    # base docs survive except genuine natural near-dups in the corpus
    assert 0.8 * docs.count() <= kept.count() <= docs.count()
