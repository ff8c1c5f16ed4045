"""Streaming near-dup-filtered ingestion: batches land one at a time
(maxFilesPerTrigger=1); later batches dedup against the accepted
corpus from earlier batches."""

from __future__ import annotations

from lightlane_spark import cache
from lightlane_spark.streaming.incremental import (
    run_to_completion,
    stream_from_directory,
    streaming_neardup_ingest,
)

SCHEMA = "doc_id bigint, text string"

BATCH1 = [
    (1, "the quick brown fox jumps over the lazy dog today"),
    (2, "completely different content about database engines and query plans"),
]
# 11 = exact dup of 1 (cross-batch), 12 = fresh, 13 = in-batch dup of 12
BATCH2 = [
    (11, "the quick brown fox jumps over the lazy dog today"),
    (12, "yet another unique document mentioning spark structured streaming state"),
    (13, "yet another unique document mentioning spark structured streaming state"),
]


def test_streaming_neardup_ingest(spark, tmp_path):
    base = str(tmp_path)
    land, corpus, index, ckpt = (
        f"{base}/landing",
        f"{base}/corpus",
        f"{base}/index",
        f"{base}/ckpt",
    )
    df1 = spark.createDataFrame(BATCH1, SCHEMA).coalesce(1)
    df1.write.mode("append").parquet(land)
    df2 = spark.createDataFrame(BATCH2, SCHEMA).coalesce(1)
    df2.write.mode("append").parquet(land)

    stream = stream_from_directory(
        spark, land, SCHEMA, max_files_per_trigger=1
    )
    tracked = len(cache._TRACKED)
    q = streaming_neardup_ingest(stream, corpus, index, ckpt)
    run_to_completion(q)
    # each micro-batch releases its persists and leaves no registry entry
    assert len(cache._TRACKED) == tracked

    accepted = sorted(r.doc_id for r in spark.read.parquet(corpus).collect())
    # 11 rejected (dup of accepted 1), 13 rejected (in-batch dup of 12)
    assert set(accepted) >= {1, 2, 12}
    assert 11 not in accepted and 13 not in accepted
    indexed = sorted(r.doc_id for r in spark.read.parquet(index).collect())
    assert indexed == accepted
