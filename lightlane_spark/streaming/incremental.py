"""Streaming / incremental pipelines — an EXTENSION beyond reference
parity (the reference has no streaming at all, SURVEY §2.5; its only
incremental mechanism is batch MERGE mode, OP-27).

Three composable pieces:
  - ``stream_from_directory``: file-source stream (new files = new
    data), the natural continuous form of the reference's
    dump-then-load loop.
  - ``windowed_counts``: event-time tumbling windows with a watermark
    bounding state for late data.
  - ``streaming_merge``: ``foreachBatch`` → the SAME ``Loader`` MERGE
    used in batch, turning the reference's periodic full reloads into
    continuous upserts. Each micro-batch is deduped on the PKs before
    merging (within-batch duplicates would make the upsert ambiguous).

Tests drive these with ``trigger(availableNow=True)`` so they run to
completion on static testdata — the identical code ships as a
long-running query against a landing directory at scale. State
(watermarks, offsets) lives in the checkpoint dir; size executor
state via watermark delay × event rate.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql import functions as F

from lightlane_spark.loaders.loader import Loader
from lightlane_spark.operators.dedup import dedup_keep_first

from lightlane_spark.cache import tracked_persist


def stream_from_directory(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream: picks up new files dropped into ``path``.
    ``max_files_per_trigger`` bounds micro-batch size (backpressure)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def _as_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Watermarks require TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    on TIMESTAMP_NTZ — the type naive parquet timestamps load as in
    Spark 4). Cast NTZ event-time columns to TIMESTAMP; with the UTC
    session timezone (session.py default) the cast is a stable UTC
    interpretation of the naive wall-clock."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def windowed_counts(
    df: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
    group_cols: list[str] | None = None,
    slide: str | None = None,
) -> DataFrame:
    """Event-time window counts with late-data watermark — tumbling by
    default, sliding (overlapping) when ``slide`` < ``window`` is
    given (each event then lands in window/slide buckets; state scales
    by the same factor).

    The watermark lets Spark drop window state once events older than
    ``watermark`` can no longer arrive — bounded memory forever."""
    win = (
        F.window(F.col(ts_col), window, slide)
        if slide
        else F.window(F.col(ts_col), window)
    )
    df = _as_event_time(df, ts_col)
    grouped = df.withWatermark(ts_col, watermark).groupBy(
        win.alias("win"),
        *[F.col(c) for c in (group_cols or [])],
    )
    # TIMESTAMP_NTZ emit: TimestampType collects in the host PYTHON
    # process zone (pyspark fromInternal uses datetime.fromtimestamp),
    # shifting window bounds on any non-UTC host even with the session
    # zone pinned; NTZ conversion is TZ-free and, under the UTC
    # session pin, keeps the exact wall clock UTC hosts always saw.
    return grouped.agg(F.count(F.lit(1)).alias("n")).select(
        F.col("win.start").cast("timestamp_ntz").alias("window_start"),
        F.col("win.end").cast("timestamp_ntz").alias("window_end"),
        *[F.col(c) for c in (group_cols or [])],
        "n",
    )


def streaming_dedup(
    stream_df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: drop key-duplicates arriving within the
    watermark horizon (``dropDuplicatesWithinWatermark``) — state per
    live key, evicted as the watermark advances. The streaming face of
    OP-30/dedup_exact for at-least-once sources."""
    stream_df = _as_event_time(stream_df, ts_col)
    return stream_df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    watermark: str = "1 hour",
    max_delay: str = "30 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with an event-time bound:
    matches require ``left_ts <= right_ts <= left_ts + max_delay``
    (the impressions→clicks attribution shape).

    Both the watermark AND the time-range condition are load-bearing:
    together they let Spark evict join state once a row can no longer
    find a partner — without them the state store grows forever. State
    per key ≈ rows within (watermark + max_delay) of the front.
    ``how`` may be ``inner`` or the outer variants Spark supports for
    stream-stream joins (outer rows emit only after the watermark
    passes their eviction bound).
    """
    l_ = _as_event_time(left, left_ts).withWatermark(left_ts, watermark).alias("l")
    r_ = _as_event_time(right, right_ts).withWatermark(right_ts, watermark).alias("r")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    cond = (
        cond
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_delay}")
        )
    )
    return l_.join(r_, on=cond, how=how)


def streaming_merge(
    stream_df: DataFrame,
    table_path: str,
    primary_keys: list[str],
    checkpoint_dir: str,
    orderby: list[str] | None = None,
    trigger_available_now: bool = True,
):
    """Continuous upsert: every micro-batch MERGEs into the target via
    the batch Loader (anti-join + union + atomic swap, OP-27).

    ``orderby`` picks the winner among same-PK rows WITHIN a batch
    (defaults to the PKs — deterministic either way via dedup's
    tie-break). Returns the started StreamingQuery.
    """

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        deduped = dedup_keep_first(batch_df, primary_keys, orderby)
        Loader(spark, table_path, "merge", primary_keys=primary_keys).execute(deduped)

    writer = (
        stream_df.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_running_counts(
    stream: DataFrame,
    key_cols: list[str],
    count_col: str = "n",
) -> DataFrame:
    """CUSTOM stateful streaming operator via ``applyInPandasWithState``:
    a per-key running event count whose state (one long per key)
    persists in the state store ACROSS micro-batches — the skeleton
    every bespoke stateful op (counters, rate limiters, incremental
    sketches, per-key models) builds on when ``dropDuplicates`` /
    windowed aggs can't express the logic.

    Each micro-batch emits one updated (key, running_total) row per
    key seen in that batch (output mode ``update``); totals are
    monotone, so the final value per key equals the batch
    ``groupBy().count()`` — which is exactly how the oracle checks it.

    Scale: state is O(distinct keys) longs, hash-partitioned by key
    across executors by the streaming aggregation exchange; an
    unbounded key universe needs a TTL — switch ``NoTimeout`` to
    ``ProcessingTimeTimeout`` and drop idle keys in the timeout
    branch.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    dtypes = dict(stream.dtypes)
    out_schema = (
        ", ".join(f"{k} {dtypes[k]}" for k in key_cols) + f", {count_col} bigint"
    )
    state_schema = "n bigint"

    def update(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        row = {k: [v] for k, v in zip(key_cols, key)}
        row[count_col] = [n]
        yield pd.DataFrame(row)

    grouped = stream.select(*key_cols).groupBy(*key_cols)
    return grouped.applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _default_stream_timeout() -> int:
    """Default wait for test/query streams (seconds). A healthy
    availableNow micro-batch run at these data sizes finishes in
    single-digit seconds, so the timeout only bounds pathological
    hangs — generous is free. 300 s (override:
    SPARK_GRAFT_STREAM_TIMEOUT) because a contended box has been
    observed to push a normally-3 s drain past 120 s (r7: a sweep
    sharing local[32] with a second Spark session false-failed
    streaming_interval_join at the old 120 s default)."""
    import os as _os

    return int(_os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "300"))


def run_to_completion(query, timeout_sec: int | None = None) -> None:
    """Await an availableNow query; raises on streaming failure."""
    if timeout_sec is None:
        timeout_sec = _default_stream_timeout()
    if not query.awaitTermination(timeout_sec):
        query.stop()
        raise TimeoutError(f"streaming query did not finish in {timeout_sec}s")


def drain_to_frame(
    df: DataFrame, output_mode: str, checkpoint_location: str | None = None
) -> DataFrame:
    """Run an availableNow stream into a memory sink and return the
    sink's rows as a batch DataFrame.

    The sink's table is resolved, then its view is dropped through the
    session catalog: the frame keeps the rows, and the caller's catalog
    is left as it was."""
    name = "__llsq_" + uuid.uuid4().hex
    writer = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint_location is not None:
        writer = writer.option("checkpointLocation", checkpoint_location)
    query = writer.start()
    spark = df.sparkSession
    try:
        run_to_completion(query)
        return spark.table(name)
    finally:
        spark._jsparkSession.sessionState().catalog().dropTempView(name)  # noqa: SLF001


def drain_until(query, condition, timeout_sec: int | None = None, poll_sec: float = 1.0) -> None:
    """Run a streaming query until ``condition()`` is truthy, then stop
    it gracefully.

    For queries that never self-terminate by design — continuous
    triggers, and stateful operators with processing-time timeouts
    (an availableNow drain keeps scheduling state-cleanup batches
    even after state empties, observed on Spark 4.1). Raises on query
    failure; TimeoutError if the condition never holds.
    """
    import time as _time

    if timeout_sec is None:
        timeout_sec = _default_stream_timeout()
    deadline = _time.monotonic() + timeout_sec
    try:
        while _time.monotonic() < deadline:
            if condition():
                return
            if not query.isActive:
                if query.exception():
                    raise query.exception()
                if condition():
                    return
                raise RuntimeError("query terminated before condition held")
            _time.sleep(poll_sec)
        raise TimeoutError(f"condition not reached in {timeout_sec}s")
    finally:
        if query.isActive:
            query.stop()


def streaming_neardup_ingest(
    stream_df: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sim_threshold: float = 0.7,
    trigger_available_now: bool = True,
):
    """Continuous near-dup-filtered ingestion: each micro-batch of
    documents is MinHash-deduped against the ALREADY-ACCEPTED corpus
    before landing.

    Per batch (foreachBatch):
      1. signatures for the batch (one shuffle over batch shingles);
      2. LSH band keys for batch + accepted index (band keys derive
         from stored signatures by pure projection — the index stores
         only (id, sig), ~128 B/doc at the defaults);
      3. candidates = bucket collisions (batch x index, plus in-batch
         pairs); similarity = fraction of agreeing minhashes (the
         unbiased Jaccard estimate) via one zip_with — no shingle
         storage, no re-tokenization of old docs;
      4. batch docs matching an accepted doc (or a smaller-id batch
         doc) at >= sim_threshold are rejected; survivors append to
         corpus and index.

    Scale: index lookups are equi-joins on (band, band_sig) — the
    accepted-index side shuffles once per batch; at 10^9 accepted docs
    the index is ~100 GB, bucket-partitioned storage keeps per-batch
    work proportional to collision count, not corpus size. Greedy
    pair rule within a batch (min-id wins) — full transitive
    clustering is the batch operator (operators/clustering.py).

    Parquet appends in foreachBatch are at-least-once under task
    retry; use an ACID table format for exactly-once at production
    scale (the checkpoint makes whole-batch replays idempotent-ish
    but not partial-task failures).
    """
    from lightlane_spark.operators.fuzzy_dedup import (
        lsh_band_keys,
        minhash_signature_arrays,
        shingle,
    )

    rows_per_band = num_hashes // bands

    def _sig_match(a, b):
        eq = F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0))
        return F.aggregate(eq, F.lit(0), lambda acc, x: acc + x) / F.lit(num_hashes)

    from pyspark.errors import AnalysisException

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        to_unpersist = []
        try:
            # kept (isEmpty + the batch's writes); cold A/B 4 sf0.1 batches local[4]: on 6.22 s, off 6.29 s
            batch_df = batch_df.transform(tracked_persist)
            to_unpersist.append(batch_df)
            if batch_df.isEmpty():
                return
            _ingest_batch_body(spark, batch_df, to_unpersist)
        finally:
            for df in to_unpersist:
                df.unpersist()

    def _ingest_batch_body(spark, batch_df: DataFrame, to_unpersist: list) -> None:
        sh = shingle(batch_df, text_col, id_col, k, distinct=False)
        # kept (match + index write); cold A/B 4 sf0.1 batches local[4]: on 6.04 s, off 6.56 s
        sigs = minhash_signature_arrays(sh, id_col, num_hashes).transform(tracked_persist)
        to_unpersist.append(sigs)
        new_keys = lsh_band_keys(sigs, id_col, bands, rows_per_band)
        # First batch: no accepted index yet. Only a missing path may be
        # treated as "empty index" — any other read failure must fail the
        # batch, or the batch would silently bypass dedup vs the corpus.
        try:
            old_sigs = spark.read.parquet(index_path)
            old_keys = lsh_band_keys(old_sigs, id_col, bands, rows_per_band)
        except AnalysisException as exc:
            if "PATH_NOT_FOUND" not in str(exc) and "Path does not exist" not in str(exc):
                raise
            old_sigs = old_keys = None

        # candidate (new, other) pairs: vs accepted corpus...
        cand = None
        if old_keys is not None:
            cand = (
                new_keys.select(F.col(id_col).alias("id_new"), "band", "band_sig")
                .join(
                    old_keys.select(F.col(id_col).alias("id_old"), "band", "band_sig"),
                    on=["band", "band_sig"],
                )
                .select("id_new", F.col("id_old").alias("id_other"))
            )
        # ...plus in-batch pairs (smaller id wins)
        in_batch = (
            new_keys.select(F.col(id_col).alias("id_new"), "band", "band_sig")
            .join(
                new_keys.select(F.col(id_col).alias("id_other"), "band", "band_sig"),
                on=["band", "band_sig"],
            )
            .filter(F.col("id_other") < F.col("id_new"))
            .select("id_new", "id_other")
        )
        cand = in_batch if cand is None else cand.unionByName(in_batch)
        cand = cand.distinct()

        sig_pool = sigs if old_sigs is None else sigs.unionByName(old_sigs)
        matched = (
            cand.join(
                sigs.select(F.col(id_col).alias("id_new"), F.col("sig").alias("__sn")),
                on="id_new",
            )
            .join(
                sig_pool.select(
                    F.col(id_col).alias("id_other"), F.col("sig").alias("__so")
                ),
                on="id_other",
            )
            .filter(_sig_match(F.col("__sn"), F.col("__so")) >= sim_threshold)
            .select("id_new")
            .distinct()
        )
        # kept (corpus write + index write); cold A/B 4 sf0.1 batches local[4]: on 5.81 s, off 6.44 s
        novel = batch_df.join(
            matched.withColumnRenamed("id_new", id_col), on=id_col, how="left_anti"
        ).transform(tracked_persist)
        to_unpersist.append(novel)
        novel.write.mode("append").parquet(corpus_path)
        sigs.join(novel.select(id_col), on=id_col, how="left_semi").write.mode(
            "append"
        ).parquet(index_path)

    writer = (
        stream_df.writeStream.foreachBatch(ingest_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
