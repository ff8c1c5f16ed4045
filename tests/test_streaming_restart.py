"""Checkpoint restart semantics: a stopped availableNow query resumed
with the same checkpoint must process ONLY files that arrived while it
was down — source offsets live in the checkpoint, so restarts never
reprocess (the foundation of incremental exactly-once ingest)."""

from __future__ import annotations

from lightlane_spark.streaming.incremental import (
    run_to_completion,
    stream_from_directory,
)

SCHEMA = "doc_id bigint, text string"


def _run_once(spark, land, out, ckpt):
    stream = stream_from_directory(spark, land, SCHEMA)

    def append_batch(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (
        stream.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)


def test_restart_processes_only_new_files(spark, tmp_path):
    base = str(tmp_path)
    land, out, ckpt = f"{base}/landing", f"{base}/out", f"{base}/ckpt"

    spark.createDataFrame([(1, "first"), (2, "second")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    _run_once(spark, land, out, ckpt)
    first = [r.doc_id for r in spark.read.parquet(out).collect()]
    assert sorted(first) == [1, 2]

    spark.createDataFrame([(3, "third")], SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(land)
    _run_once(spark, land, out, ckpt)
    second = [r.doc_id for r in spark.read.parquet(out).collect()]
    # 1 and 2 appear exactly once — the restart did not reprocess them
    assert sorted(second) == [1, 2, 3]
