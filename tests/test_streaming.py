"""Streaming extension: file-source windows + foreachBatch MERGE."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from lightlane_spark.sources.parquet import read_table
from lightlane_spark.streaming.incremental import (
    run_to_completion,
    stream_from_directory,
    streaming_merge,
    windowed_counts,
)


def _stage_event_files(spark, sf_dir, out_dir, parts=3):
    """Split events into N parquet files to simulate arriving batches.
    repartitionByRange (not hash repartition): N distinct bucket
    values hash-collide into fewer than N partitions often enough that
    multi-batch tests would flake."""
    ev = read_table(spark, sf_dir, "events")
    ev.withColumn("__p", F.col("event_id") % parts).repartitionByRange(
        parts, "__p"
    ).drop("__p").write.mode("overwrite").parquet(out_dir)
    return ev.schema, ev


def test_windowed_counts_matches_batch(spark, sf_dir, tmp_path):
    land = str(tmp_path / "landing")
    schema, ev = _stage_event_files(spark, sf_dir, land)
    stream = stream_from_directory(spark, land, schema)
    assert stream.isStreaming
    agg = windowed_counts(stream, ts_col="ts", window="1 day", watermark="2 days",
                          group_cols=["event_type"])
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)
    got = {
        (r.window_start, r.event_type): r.n
        for r in spark.table("win_counts").collect()
    }
    exp = {
        (r.ws, r.event_type): r.n
        for r in ev.groupBy(
            F.date_trunc("day", F.col("ts")).alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp


def test_stateful_running_counts_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState: per-key state must persist ACROSS
    micro-batches (maxFilesPerTrigger=1 forces several), and the final
    running total per key must equal the batch groupBy count."""
    from lightlane_spark.streaming.incremental import stateful_running_counts

    land = str(tmp_path / "landing")
    schema, ev = _stage_event_files(spark, sf_dir, land)
    stream = stream_from_directory(spark, land, schema, max_files_per_trigger=1)
    counts = stateful_running_counts(stream, ["event_type"])
    q = (
        counts.writeStream.format("memory")
        .queryName("run_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    run_to_completion(q)
    fed = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(fed) >= 2, "state never crossed a batch boundary"
    got = {
        (r.event_type, r.n)
        for r in spark.table("run_counts")
        .groupBy("event_type")
        .agg(F.max("n").alias("n"))
        .collect()
    }
    exp = {
        (r.event_type, r.n)
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == exp


def test_streaming_merge_upserts(spark, tmp_path):
    target = str(tmp_path / "target")
    land = str(tmp_path / "land")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(land)
    base = spark.createDataFrame(
        [(1, "old", 1), (2, "old", 1)], "pk: bigint, val: string, ver: int"
    )
    base.write.parquet(target)
    # one batch containing an update, an insert, and a within-batch dup
    batch = spark.createDataFrame(
        [(2, "new", 2), (3, "ins", 2), (3, "dup-late", 3)],
        "pk: bigint, val: string, ver: int",
    )
    batch.write.mode("append").parquet(land)
    stream = stream_from_directory(spark, land, "pk bigint, val string, ver int")
    q = streaming_merge(
        stream, target, ["pk"], ckpt, orderby=[F.col("ver").desc()]
    )
    run_to_completion(q)
    rows = {r.pk: (r.val, r.ver) for r in spark.read.parquet(target).collect()}
    assert rows == {1: ("old", 1), 2: ("new", 2), 3: ("dup-late", 3)}


def test_sliding_window_counts(spark, tmp_path):
    """Sliding windows: a 2h window sliding hourly puts each event in
    exactly 2 windows; counts must double-count accordingly."""
    from lightlane_spark.streaming.incremental import (
        run_to_completion,
        stream_from_directory,
        windowed_counts,
    )

    base = str(tmp_path)
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00"), (2, "2024-01-01 01:30:00")],
        "id bigint, ts_s string",
    ).selectExpr("id", "CAST(ts_s AS TIMESTAMP) AS ts")
    df.write.parquet(f"{base}/land")
    stream = stream_from_directory(spark, f"{base}/land", df.schema)
    agg = windowed_counts(stream, ts_col="ts", window="2 hours", watermark="4 hours", slide="1 hour")
    import uuid

    name = "slide_" + uuid.uuid4().hex[:8]
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    run_to_completion(q)
    rows = spark.table(name).collect()
    # event@00:30 -> windows [23:00,01:00) and [00:00,02:00);
    # event@01:30 -> [00:00,02:00) and [01:00,03:00)
    total = sum(r.n for r in rows)
    assert total == 4
    by_start = {str(r.window_start): r.n for r in rows}
    assert by_start["2024-01-01 00:00:00"] == 2


def test_session_window_streaming(spark, sf_dir, tmp_path):
    """The native session_window groupBy runs unchanged in Structured
    Streaming (append mode + watermark evicting closed sessions) and
    matches the batch rollup for sessions the watermark has closed."""
    from lightlane_spark.operators.sessions import session_window_stats

    from lightlane_spark.streaming.incremental import _as_event_time

    land = str(tmp_path / "landing_sess")
    schema, ev = _stage_event_files(spark, sf_dir, land)
    stream = _as_event_time(stream_from_directory(spark, land, schema), "ts")
    agg = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), "60 minutes").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sess_stream").collect()
    }
    batch = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in session_window_stats(ev, gap_minutes=60).collect()
    }
    # append mode only emits sessions the watermark closed; with a
    # 0-second watermark on a drained availableNow run that is all of
    # them except possibly the max-ts stragglers
    assert got <= batch
    assert len(got) >= 0.9 * len(batch)


def test_streaming_cms_merge_equals_batch_sketch(spark, sf_dir, tmp_path):
    """Incremental sketching: each micro-batch builds a partial CMS and
    foreachBatch cms_merge's it into a running sketch table; after the
    stream drains, the merged sketch is cell-for-cell the batch-built
    sketch of all data — the property that lets a 100 TB corpus keep a
    live frequency sketch without ever re-scanning history."""
    from lightlane_spark.operators.sketches import cms_build, cms_merge
    from lightlane_spark.streaming.incremental import (
        run_to_completion,
        stream_from_directory,
    )

    land = str(tmp_path / "landing_cms")
    schema, ev = _stage_event_files(spark, sf_dir, land)

    state = {"sketch": None}

    def merge_batch(batch_df, _bid):
        part = cms_build(batch_df, "event_type", depth=3, width=32)
        cur = state["sketch"]
        merged = part if cur is None else cms_merge(cur, part)
        # pin the running sketch (localCheckpoint: keeps lineage flat
        # across many batches, the standard foreachBatch-state idiom)
        state["sketch"] = merged.localCheckpoint(eager=True)

    q = (
        stream_from_directory(spark, land, schema)
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)

    whole = cms_build(ev, "event_type", depth=3, width=32)
    assert sorted(map(tuple, state["sketch"].collect())) == sorted(
        map(tuple, whole.collect())
    )


def test_streaming_incremental_rollup_equals_batch(spark, sf_dir, tmp_path):
    """Streaming IVM: each micro-batch merges into the running rollup
    state via incremental_agg_merge; after the stream drains the state
    equals the batch aggregation of all data — a continuously-fresh
    materialized rollup with per-batch cost agg(|batch|)."""
    from pyspark.sql import functions as F

    from lightlane_spark.operators.incremental import (
        incremental_agg_merge,
        incremental_agg_state,
    )
    from lightlane_spark.streaming.incremental import (
        run_to_completion,
        stream_from_directory,
    )

    land = str(tmp_path / "landing_ivm")
    schema, ev = _stage_event_files(spark, sf_dir, land)
    aggs = {"value": "sum", "event_id": "count"}
    state = {"df": None}

    def merge_batch(batch_df, _bid):
        b = batch_df.withColumn("value", F.col("value").cast("decimal(28,6)"))
        cur = state["df"]
        nxt = (
            incremental_agg_state(b, ["event_type"], aggs)
            if cur is None
            else incremental_agg_merge(cur, b, ["event_type"], aggs)
        )
        state["df"] = nxt.localCheckpoint(eager=True)

    q = (
        stream_from_directory(spark, land, schema)
        .writeStream.foreachBatch(merge_batch)
        .trigger(availableNow=True)
        .start()
    )
    run_to_completion(q)

    whole = incremental_agg_state(
        ev.withColumn("value", F.col("value").cast("decimal(28,6)")),
        ["event_type"],
        aggs,
    )
    got = sorted(map(tuple, state["df"].collect()))
    want = sorted(map(tuple, whole.collect()))
    assert got == want


def test_windowed_counts_emits_timestamp_ntz(spark, sf_dir, tmp_path):
    """The host-timezone output class (SCALE.md r10): TimestampType
    collects via datetime.fromtimestamp — the host PYTHON process
    zone, independent of the pinned session zone — so windowed_counts
    must emit TIMESTAMP_NTZ, whose collection is TZ-free."""
    land = str(tmp_path / "landing_ntz")
    schema, _ = _stage_event_files(spark, sf_dir, land)
    stream = stream_from_directory(spark, land, schema)
    agg = windowed_counts(
        stream, ts_col="ts", window="1 day", watermark="2 days"
    )
    dtypes = dict(agg.dtypes)
    assert dtypes["window_start"] == "timestamp_ntz"
    assert dtypes["window_end"] == "timestamp_ntz"


def test_entry_queries_build_under_utc(spark, sf_dir):
    """The correctness harness runs ``__spark_entry__.queries()`` on a
    plain session in the host's zone. Each callable pins UTC before it
    builds, so day windows start at UTC midnight, where the DuckDB
    oracle's naive timestamps put them."""
    import __spark_entry__ as m

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = m.queries()["streaming_window_counts"](spark, sf_dir)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        starts = {r.window_start for r in df.select("window_start").distinct().collect()}
        assert starts and all(t.hour == 0 and t.minute == 0 for t in starts)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
