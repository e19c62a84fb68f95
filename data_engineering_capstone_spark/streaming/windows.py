"""Structured Streaming over the events table (SURVEY.md §2 C-stream).

The reference has no streaming surface; this is the extension tier
(BASELINE.json). Everything is event-time based: watermarks bound state,
windows aggregate, ``availableNow`` drains the backlog so results are
deterministic and comparable to batch oracles (SURVEY.md §7 P6).

Scale notes: streaming state lives in the state store keyed by
(window/session, group) — watermarks are what keep it bounded at 100 TB/
day ingest; every aggregation here declares one. File-source streaming
shards by input file; on a real bus swap ``readStream.parquet`` for the
Kafka source with identical downstream code.
"""

from __future__ import annotations

import itertools
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import scratch_dir
from ..sources.pqmeta import spark_schema

_MEM_COUNTER = itertools.count()


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file-source stream with event-time ``ts``.

    Schema comes from the file's cached footer (streaming sources
    require an explicit schema), else from a batch read; the
    TIMESTAMP(NANOS) workaround matches ``sources.testdata.load_table``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"
    if os.path.isdir(path):
        # Spark-written table: already a directory of part files — the
        # file stream source monitors it directly. (The symlink staging
        # below used to run for this case too, but a DIRECTORY symlinked
        # inside the stage dir is invisible to the non-recursive file
        # lister: the stream read 0 files and every replica-scale
        # streaming measurement silently drained nothing — caught by the
        # round-6 multi-executor probe's row counts, 0 rows at 256×.)
        src = path
    else:
        # The testdata ships a single parquet FILE; the file streaming
        # source requires a directory to monitor. Stage a symlink
        # directory — zero copy, still read-only on the source data.
        stage = scratch_dir(spark, "stream_src", os.path.basename(sf_dir.rstrip("/")))
        link = os.path.join(stage, "events.parquet")
        if not os.path.exists(link):
            try:
                os.symlink(path, link)
            except OSError:
                shutil.copyfile(path, link)
        src = stage
    schema = spark_schema(path, nanos_as_long=True) or spark.read.parquet(path).schema
    raw = spark.readStream.schema(schema).parquet(src)
    # dtype-aware ts normalization — see sources.testdata._normalize_event_ts
    from ..sources.testdata import _normalize_event_ts

    return _normalize_event_ts(raw)


def run_available_now(
    stream_df: DataFrame, output_mode: str, partitions: int | None = None
) -> DataFrame:
    """Drain the stream through an executor-side snapshot sink and
    return the result as a DataFrame.

    ``availableNow`` processes the full backlog then stops — the
    streaming query becomes a deterministic function of its input, which
    is what lets a batch SQL oracle check it.

    State-store partitioning: a stateful query creates one state store
    per shuffle partition per micro-batch, so partition count should
    track STATE size, not core count. The two state regimes want
    opposite settings (round-7 measurement):

    - **group-count state** (windowed/session aggregates — a few hundred
      groups): 32 partitions is pure per-batch overhead, measured 2× the
      whole drain at sf0.1 (1.18 s → 0.58 s). Default cap of 8 applies.
    - **row-count state** (stream-stream join buffers, watermark dedup —
      state rows ≈ input rows in the watermark horizon): the cap
      SERIALIZES the state store; at 64× the interval join drained
      116.8 s on 8 partitions vs 32.4 s on 32 (3.6×, identical rows).
      Callers in this regime pass ``partitions`` explicitly.

    A production job sizes it to its own state cardinality — the count
    is pinned into the checkpoint on first run.
    """
    spark_ = stream_df.sparkSession
    old_parts = spark_.conf.get("spark.sql.shuffle.partitions")
    old_nodata = spark_.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    eff = partitions if partitions is not None else min(int(old_parts), 8)
    spark_.conf.set("spark.sql.shuffle.partitions", str(eff))
    # no work left after the backlog drains — skip the empty flush batch
    spark_.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    # Round-12 snapshot rework (verdict item 3 → guide §5: the driver
    # does no data work). The memory sink accumulated EVERY result row
    # on the driver before any snapshot could detach it — the last
    # driver-memory-proportional structure in the streaming family —
    # and the r11 localCheckpoint detach was additionally non-reliable
    # (an executor loss after lineage truncation kills the query instead
    # of recomputing; ADVICE r11). A foreachBatch parquet sink writes
    # each micro-batch's output from the EXECUTORS to local disk
    # (complete mode overwrites with the full result, append/update
    # modes accumulate emitted rows — the same per-batch semantics the
    # memory sink applied driver-side), and the returned DataFrame is a
    # plain parquet scan of that snapshot: immutable (fresh dir per
    # call, later stream runs can't touch it), executor-loss-safe
    # (re-readable from disk), and never driver-resident.
    #
    # Deployment contract: like any bare-path Spark write, the snapshot
    # dir must be on storage every executor and the driver can reach.
    # Only local[N] and local-cluster masters share the driver's tempdir,
    # so session.scratch_dir raises on any other master.
    snap_dir, _snapshot = snapshot_sink(spark_, output_mode)
    try:
        q = (
            stream_df.writeStream.foreachBatch(_snapshot)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark_.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark_.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old_nodata)
    return read_snapshot(spark_, snap_dir, stream_df.schema)


def snapshot_sink(spark: SparkSession, output_mode: str):
    """(snap_dir, foreachBatch fn) for an executor-side parquet snapshot
    of a drained stream — ONE implementation of the per-batch write
    semantics (complete overwrites the full state, append/update
    accumulate emitted rows) shared by every drain in this module and
    by queries_streaming's custom-source replay."""
    snap_dir = scratch_dir(spark, "stream_snap", str(next(_MEM_COUNTER)))
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def _snapshot(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(snap_dir)

    return snap_dir, _snapshot


def read_snapshot(spark, snap_dir: str, schema) -> DataFrame:
    """The drained snapshot as a DataFrame. The explicit schema makes a
    zero-batch / all-empty drain a plain empty scan (verified: a
    schema'd parquet read of an empty dir returns 0 rows, no inference
    error), so genuine read failures — corrupt footer, filesystem — are
    left to RAISE instead of being masked as an empty result."""
    return spark.read.schema(schema).parquet(snap_dir)


def tumbling_counts(events: DataFrame, width: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window aggregate with a state-bounding watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal summation: double adds are order-dependent across
            # engines/partitionings and flip ROUND at .5 boundaries
            F.round(F.sum(F.col("value").cast("decimal(14,2)")).cast("double"), 4).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def sliding_avg(events: DataFrame, width: str = "2 hours", slide: str = "1 hour",
                watermark: str = "4 hours") -> DataFrame:
    """Sliding window: each event lands in width/slide overlapping windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            # no ROUND: the decimal sum is exact on both engines, so one
            # double division is IEEE-identical — rounding would instead
            # REINTRODUCE divergence (Spark rounds the shortest decimal
            # repr half-up; DuckDB rounds the binary value) on .5 ties
            (F.sum(F.col("value").cast("decimal(14,2)")).cast("double") / F.count(F.lit(1))).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n", "avg_value")
    )


def session_windows(events: DataFrame, gap: str = "10 minutes", watermark: str = "30 minutes") -> DataFrame:
    """Per-user session windows: a session extends while successive events
    arrive within ``gap``; state is evicted past the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup: first event per key within the watermark
    horizon survives; state for expired keys is dropped."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def run_foreach_batch_to_parquet(stream_df: DataFrame, out_dir: str) -> None:
    """foreachBatch sink: per-microbatch custom write (the escape hatch
    for sinks Structured Streaming lacks natively — JDBC upserts, multi-
    table fan-out...). Here: append parquet keyed by batch id."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(out_dir)
        )

    q = stream_df.writeStream.foreachBatch(write_batch).trigger(availableNow=True).start()
    q.awaitTermination()


def stateful_user_stats(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running event count / value sum carried in explicit state
    across microbatches (the escape hatch when built-in windows/dedup
    can't express the state machine — per-entity models, conversion
    funnels, fraud counters).

    Arrow-batched per key-partition; state is a typed tuple persisted in
    the state store (swap NoTimeout for a processing/event-time timeout
    to bound state at production ingest rates). Emits the updated
    per-user row each batch ("update" mode).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]})

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def interval_join_clicks_purchases(
    clicks_src: DataFrame,
    purchases_src: DataFrame,
    lookback: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: each purchase matched to the same
    user's clicks within ``lookback`` before it.

    Both sides carry watermarks and the join condition bounds BOTH
    event-time columns — that is what lets Spark evict buffered rows
    from the join state store once the watermark passes
    ``purchase_ts - lookback`` (unbounded state otherwise; the
    difference between a join that survives a day of 100 TB ingest and
    one that OOMs). Inner join emits pairs as soon as both sides
    arrive — no watermark wait on output.
    """
    clicks = (
        clicks_src.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        purchases_src.filter(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("c_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
    )
    return clicks.join(purchases, cond, "inner").drop("c_user")
