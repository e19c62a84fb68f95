"""Streaming-tier catalog queries (SURVEY.md §2 C-stream, §7 P6).

Each query drains the events stream with ``availableNow`` into a memory
sink, making the streaming computation a deterministic function of the
input — tumbling/sliding aggregates then carry real batch-SQL oracles
(the strategy SURVEY.md §7 pins for streaming correctness). Stateful
dedup and watermark-dependent append-mode output are engine-specific →
rows-only, cross-checked against batch equivalents in
tests/test_streaming.py.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import query
from .session import prep, scratch_dir
from .sources.readers import local_frame
from .streaming.windows import (
    dedup_within_watermark,
    interval_join_clicks_purchases,
    stateful_user_stats,
    run_available_now,
    run_foreach_batch_to_parquet,
    session_windows,
    sliding_avg,
    stream_events,
    tumbling_counts,
)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    return stream_events(spark, sf_dir)


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event type, drained with
    availableNow (complete mode) — hash-equal to the batch time-bucket
    aggregation the oracle runs.
    """
    out = run_available_now(tumbling_counts(_events(spark, sf_dir)), "complete")
    return out.orderBy("window_start", "event_type")


@query(
    "stream_sliding_avg",
    oracle="""
    WITH expanded AS (
      SELECT unnest([time_bucket(INTERVAL '1 hour', ts),
                     time_bucket(INTERVAL '1 hour', ts) - INTERVAL '1 hour']) AS window_start,
             value
      FROM events
    )
    SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM expanded
    GROUP BY 1
    ORDER BY 1
    """,
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h windows every 1h: each event belongs to two windows.
    The oracle expands each event into its two window starts and
    aggregates — identical semantics, batch form.
    """
    out = run_available_now(sliding_avg(_events(spark, sf_dir)), "complete")
    return out.orderBy("window_start")


@query(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       > INTERVAL '10 minutes'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '10 minutes' AS session_end,
           user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 10-minute-gap session windows. The oracle rebuilds the
    identical sessions with the classic gaps-and-islands window SQL
    (session_end = last event + gap, Spark's session_window definition).
    """
    out = run_available_now(session_windows(_events(spark, sf_dir)), "complete")
    return out.orderBy("user_id", "session_start")


@query("stream_dedup_watermark", oracle=None)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming dedup (dropDuplicatesWithinWatermark) on
    (user_id, event_type): first arrival per key within the 1h watermark
    horizon survives; late duplicates are suppressed, expired state is
    evicted. Output depends on arrival order within microbatches →
    rows-only here; batch-equivalence bounds asserted in
    tests/test_streaming.py.
    """
    out = run_available_now(
        dedup_within_watermark(_events(spark, sf_dir), ["user_id", "event_type"]),
        "append",
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).orderBy("event_type")


@query(
    "stream_foreach_batch_sink",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch custom sink: stream events to parquet per microbatch,
    then aggregate the landed data — end-to-end completeness is exactly
    the batch aggregate (no rows lost or duplicated across batches).
    """
    events = _events(spark, sf_dir)
    out_dir = os.path.join(
        scratch_dir(spark, "stream", os.path.basename(sf_dir.rstrip("/"))), "events_sink"
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    run_foreach_batch_to_parquet(events, out_dir)
    landed = spark.read.parquet(out_dir)
    return (
        landed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(14,2)")).cast("double"), 4).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_static_join_segments",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_static_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the static
    customer dimension (broadcast — re-read per micro-batch, so at
    production scale the static side should be a small table or a
    pre-broadcast dim), then windowed per segment. The oracle is the
    identical batch join + time-bucket aggregate.
    """
    from .sources.testdata import load_table

    events = _events(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(F.broadcast(cust), events.user_id == cust.c_custkey)
    agg = (
        joined.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "segment", "n", "sum_value")
    )
    out = run_available_now(agg, "complete")
    return out.orderBy("window_start", "segment")


@query("stream_stateful_user_stats", oracle=None)
def stream_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-user
    running totals held in explicit typed state across microbatches.
    Output depends on microbatch boundaries (update mode emits one row
    per key per batch) → rows-only; equality of the FINAL per-user state
    with the batch aggregate is asserted in tests/test_streaming.py.
    """
    out = run_available_now(stateful_user_stats(_events(spark, sf_dir)), "update")
    # final state per user = last emitted row (update mode)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
        .orderBy("user_id")
    )


@query("stream_count_min_top_users", oracle=None)
def stream_count_min_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters via a count-min sketch maintained as
    streaming state (operators/sketches.py:count_min_table): the
    (row, pos) counter table is an additive aggregation, so the
    incremental streaming agg IS the sketch-merge and state stays
    bounded at depth x width counters no matter how long the stream
    runs — the only frequency state shape that survives unbounded
    ingestion. The drained sketch is probed with the key universe via
    count_min_estimate (depth broadcast lookups) for the top-10 users
    by estimated event count, ties broken by user_id. Rows-only by
    nature (estimator, same contract as agg_count_min_heavy_hitters);
    the streaming sketch is differential-tested row-identical to the
    batch count_min_table and its estimates bounded below by exact
    counts in tests/test_streaming.py.
    """
    from .operators.sketches import count_min_estimate, count_min_table
    from .sources.testdata import load_table

    sketch = run_available_now(
        count_min_table(_events(spark, sf_dir), "user_id"), "complete"
    )
    keys = load_table(spark, sf_dir, "events").select("user_id").distinct()
    est = count_min_estimate(sketch, keys, "user_id")
    return est.orderBy(F.col("cms_estimate").desc(), "user_id").limit(10)


@query("stream_minhash_dedup", oracle=None)
def stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-duplicate detection: MinHash-LSH with per-bucket
    state (applyInPandasWithState) — the online form of corpus dedup
    for continuous ingestion, where built-in streaming dedup only
    handles exact keys. Each arriving document is banded and compared
    against its buckets' stored members, so a near-dup of a document
    from an EARLIER micro-batch is still caught (streaming/dedup.py).
    Rows-only (micro-batch-dependent emission order); cross-batch
    state persistence and equality with a sequential pure-Python
    reference are pinned in tests/test_streaming.py.
    """
    from .streaming.dedup import streaming_minhash_pairs
    from .streaming.windows import run_available_now

    # the file-stream source lists a DIRECTORY; testdata ships
    # documents as a single parquet file — stage it into one. A
    # Spark-written replica table is ALREADY a directory of part files,
    # and the round-6 stream_events lesson applies verbatim: stage
    # nothing, monitor it directly (a symlinked/copied DIRECTORY inside
    # a stage dir would be invisible to the non-recursive lister).
    src_path = f"{sf_dir}/documents.parquet"
    if os.path.isdir(src_path):
        src_dir = src_path
    else:
        # the copy lands via os.replace (atomic — a reader never opens a
        # half-written parquet). Staleness guard: reuse only if mtime+size
        # still match the source, so a regenerated testdata set is
        # re-staged instead of read stale.
        sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
        src_dir = scratch_dir(spark, "stream_docs", sf_tag)
        dst = os.path.join(src_dir, "documents.parquet")
        st = os.stat(src_path)
        fresh = (
            os.path.isfile(dst)
            and os.path.getsize(dst) == st.st_size
            and os.path.getmtime(dst) >= st.st_mtime
        )
        if not fresh:
            tmp = dst + ".tmp"
            shutil.copyfile(src_path, tmp)
            os.replace(tmp, dst)
    src = (
        spark.readStream.schema("doc_id bigint, text string")
        .parquet(src_dir)
    )
    pairs = streaming_minhash_pairs(
        src, "text", "doc_id", threshold=0.35, num_hashes=64, num_bands=16
    )
    # ROW-COUNT state regime (round-9 fix — this entry crashed the 256×
    # rows-only sweep where it had only ever been drained at 8×): state
    # rows ≈ 16 bands × corpus docs (20.5M buckets at 256×), so (a) the
    # drain must NOT sit on run_available_now's 8-partition group-regime
    # cap — pass the session width, same law as stream_stream_join —
    # and (b) linear-in-corpus state cannot live on the heap-backed
    # default store: RocksDB spills it to disk (provider equality with
    # the default is pinned by tests/test_streaming.py's rocksdb test).
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old_provider = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        out = run_available_now(
            pairs, "append",
            partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
        )
    finally:
        if old_provider is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old_provider)
    return out.distinct().orderBy("id_a", "id_b")


@query(
    "stream_stream_join",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', p.ts) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT p.user_id) AS BIGINT) AS n_users
    FROM events c
    JOIN events p ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (clicks x purchases within 30 min,
    same user), drained with availableNow then aggregated per purchase
    hour. Watermarks + two-sided time bounds keep the join state store
    bounded; the drained pair set is exactly the batch interval join,
    which is what the oracle runs.
    """
    joined = interval_join_clicks_purchases(
        _events(spark, sf_dir), _events(spark, sf_dir)
    )
    # row-count state regime: the join buffers every in-horizon row in
    # the state store, so partitions track the session's full width —
    # the group-count cap of 8 serialized the drain 3.6× at 64×
    # (run_available_now docstring)
    out = run_available_now(
        joined, "append",
        partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return (
        out.groupBy(F.date_trunc("hour", "purchase_ts").alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("window_start")
    )


@query(
    "stream_custom_source_replay",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def stream_custom_source_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling windows over a CUSTOM Python streaming source
    (streaming/pysource.py): the events table replayed as a
    deterministic chunked bus through Spark 4's
    SimpleDataSourceStreamReader contract, drained with
    processAllAvailable. The replay is finite and ordered, so the final
    complete-mode state equals the batch aggregation — the oracle is
    the SAME SQL as stream_tumbling_counts, proving the custom-source
    path end to end (offsets, recovery range reads, micro-batch
    boundaries included).
    """
    from .streaming.pysource import EventsReplayDataSource

    prep(spark)
    try:
        spark.dataSource.register(EventsReplayDataSource)
    except Exception:
        pass
    # scale-aware chunking (round-5 verdict task 6): a FIXED 5000-row
    # chunk made the sf0.1 drain 20 micro-batches at ~0.7 s of
    # planning/commit floor each — 14.2 s for a 100k-row table, the
    # slowest parity entry. Sizing the chunk to ~6 batches keeps the
    # multi-batch contract (offset advance, range re-reads, cross-batch
    # state) exercised IDENTICALLY at every scale while holding the
    # per-batch floor constant: 14.2 s -> ~4 s at sf0.1. The floor
    # itself is micro-batch machinery, not the source (SCALE.md).
    from .sources.pqmeta import parquet_row_count

    epath = f"{sf_dir}/events.parquet"
    nrows = parquet_row_count(epath)  # file or replica directory, footers only
    chunk = max(2000, -(-nrows // 6))
    raw = (
        spark.readStream.format("events_replay")
        .option("path", epath)
        .option("rowsPerBatch", str(chunk))
        .load()
    )
    agg = (
        raw.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    old_nodata = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    spark.conf.set("spark.sql.shuffle.partitions", str(min(int(old_parts), 8)))
    # No-data micro-batches must be OFF for this drain (round-12 review):
    # after processAllAvailable() returns, a no-data flush batch could
    # re-invoke the snapshot's complete-mode OVERWRITE concurrently with
    # q.stop() — stop() would interrupt it in the delete-before-commit
    # window and leave a partial/empty snapshot. (run_available_now
    # disables it for the cheaper skip-the-flush reason; here it is a
    # correctness guard.)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    # round-12: executor-side foreachBatch snapshot, same rationale as
    # run_available_now — the old memory sink + collect() round-tripped
    # the complete-mode state through driver Python objects every drain
    from .streaming.windows import read_snapshot, snapshot_sink

    snap_dir, _snap = snapshot_sink(spark, "complete")
    try:
        q = (
            agg.writeStream.foreachBatch(_snap)
            .outputMode("complete")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", old_nodata)
    return read_snapshot(spark, snap_dir, agg.schema).orderBy(
        "window_start", "event_type"
    )


@query(
    "stream_custom_sink_avro",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 4) AS sum_value
    FROM events
    GROUP BY 1 ORDER BY 1
    """,
)
def stream_custom_sink_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python STREAMING SINK (Spark 4 DataSourceStreamWriter):
    the events stream lands in per-batch Avro OCF directories through
    sources/avroplain.py — tasks stage part files, the driver moves a
    batch into place and appends its commit log atomically, so readers
    of the committed output see whole batches or nothing. Aggregating
    what actually landed must equal the batch aggregate: end-to-end
    no-loss/no-dup across microbatches. Completes the custom-DataSource
    matrix (batch read, stream read, batch write, stream write).
    """
    from .sources.avroplain import (
        AvroPlainDataSource,
        committed_stream_batches,
    )

    events = _events(spark, sf_dir).select("event_id", "event_type", "value")
    try:
        spark.dataSource.register(AvroPlainDataSource)
    except Exception:
        pass  # already registered in this session
    out_dir = os.path.join(
        scratch_dir(spark, "stream", os.path.basename(sf_dir.rstrip("/"))), "events_avro_sink"
    )
    shutil.rmtree(out_dir, ignore_errors=True)
    ckpt = out_dir + "_ckpt"
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        events.writeStream.format("avroplain")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # round-12 (guide §5): consume the sink's committed output with the
    # avroplain BATCH reader — the driver reads only the _commits log
    # (metadata); the old read_committed_stream_output + createDataFrame
    # path decoded every landed row into driver Python objects, a
    # corpus-proportional driver structure at scale. Per-batch reads
    # unioned = exactly the commit log's visibility contract, and the
    # entry now exercises the custom source's batch-read and
    # stream-write halves TOGETHER.
    batches = committed_stream_batches(out_dir)
    schema = "event_id bigint, event_type string, value double"
    parts = [
        spark.read.format("avroplain")
        .schema(schema)
        .option("path", os.path.join(out_dir, f"batch={b}"))
        .load()
        for b in batches
    ]
    if parts:
        landed = parts[0]
        for p in parts[1:]:
            landed = landed.unionByName(p)
    else:
        landed = local_frame(spark, [], schema)
    return (
        landed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(14,2)")).cast("double"), 4
            ).alias("sum_value"),
        )
        .orderBy("event_type")
    )


@query(
    "stream_psi_drift",
    oracle="""
    WITH cents AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    ), bounds AS (
      SELECT quantile_cont(c, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
      FROM cents
    ), binned AS (
      SELECT window_start,
             CAST(LEN(list_filter(b.bs, x -> x <= cn.c)) AS INT) AS bucket
      FROM cents cn, bounds b
    ), ref AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_ref FROM binned GROUP BY 1
    ), reft AS (SELECT SUM(n_ref) AS t_ref FROM ref),
    wtot AS (
      SELECT window_start, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM binned GROUP BY 1
    ), wcounts AS (
      SELECT window_start, bucket, CAST(COUNT(*) AS BIGINT) AS n_wb
      FROM binned GROUP BY 1, 2
    ), grid AS (
      SELECT w.window_start, r.bucket, COALESCE(c.n_wb, 0) AS n_wb,
             w.n_events, r.n_ref, t.t_ref
      FROM wtot w CROSS JOIN ref r
      LEFT JOIN wcounts c
        ON c.window_start = w.window_start AND c.bucket = r.bucket, reft t
    ), terms AS (
      SELECT window_start, n_events,
             CAST((GREATEST(n_wb * 1.0 / n_events, 1e-6)
                   - GREATEST(n_ref * 1.0 / t_ref, 1e-6))
                  * LN(GREATEST(n_wb * 1.0 / n_events, 1e-6)
                       / GREATEST(n_ref * 1.0 / t_ref, 1e-6))
                  AS DECIMAL(28, 15)) AS d
      FROM grid
    )
    SELECT window_start, CAST(MIN(n_events) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(d) AS DOUBLE), 6) AS psi
    FROM terms GROUP BY window_start ORDER BY window_start
    """,
)
def stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming drift gate: per-DAY Population Stability Index of the
    event value distribution against the corpus decile profile — the
    ``etl_psi_drift`` metric run as an ingestion monitor, flagging the
    window where a feed's distribution shifted instead of discovering
    it at training time. The static side (decile boundary array + the
    10-bucket reference profile) is computed ONCE batch-side; the
    STREAM does only what must be incremental — bin each event against
    the 1-row broadcast boundary array (stream-static join) and count
    per (day window, bucket), a stateless windowed aggregate whose
    state is 10 rows per window regardless of event volume. The PSI
    assembly (dense window×bucket grid so empty buckets contribute
    their floored term, decimal-summed per window) runs post-drain
    over the window×10 summary — dimension-scale at any corpus size.
    Drained with availableNow (complete mode), so the batch SQL oracle
    reproduces it exactly.

    Reference-profile trade-off: the baseline here is the FULL corpus,
    which includes each scored window's own events, so the drift
    signal is diluted for windows that are large relative to the
    corpus (a self-contaminated baseline can never flag the whole
    corpus as drifted). In production the boundary/profile batch would
    be a frozen historical slice — exactly what ``etl_psi_drift`` does
    with its pre-1998 reference split; this entry keeps the full-corpus
    profile because the monitor's job is "did THIS window deviate from
    the norm", and every window participating in the norm is the
    steady-state shape of a rolling ingestion monitor.
    """
    from .sources.testdata import load_table

    events = _events(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events")
    cents_b = batch.select(
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c")
    )
    bounds = cents_b.agg(
        F.percentile("c", F.lit([i / 10 for i in range(1, 10)])).alias("bs")
    )
    from .functions.drift import bucket_expr, psi_term

    ref = (
        cents_b.join(F.broadcast(bounds))
        .select(bucket_expr("bs", "c").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ref"))
    )
    reft = ref.agg(F.sum("n_ref").alias("t_ref"))

    binned_s = (
        events.select(
            "ts", F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c")
        )
        .join(F.broadcast(bounds))
        .select("ts", bucket_expr("bs", "c").alias("bucket"))
    )
    wcounts_s = (
        binned_s.groupBy(F.window("ts", "1 day").alias("w"), "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_wb"))
        .select(F.col("w.start").alias("window_start"), "bucket", "n_wb")
    )
    out = run_available_now(wcounts_s, "complete")

    wtot = out.groupBy("window_start").agg(
        F.sum("n_wb").cast("bigint").alias("n_events")
    )
    grid = (
        wtot.crossJoin(F.broadcast(ref))
        .join(out, ["window_start", "bucket"], "left")
        .crossJoin(F.broadcast(reft))
        .select(
            "window_start", "n_events", "n_ref", "t_ref",
            F.coalesce(F.col("n_wb"), F.lit(0)).alias("n_wb"),
        )
    )
    terms = grid.select(
        "window_start", "n_events",
        psi_term(
            F.col("n_wb") * 1.0 / F.col("n_events"),
            F.col("n_ref") * 1.0 / F.col("t_ref"),
        ).alias("d"),
    )
    return (
        terms.groupBy("window_start")
        .agg(
            F.min("n_events").cast("bigint").alias("n_events"),
            F.round(F.sum("d").cast("double"), 6).alias("psi"),
        )
        .orderBy("window_start")
    )
