"""Streaming tier tests: availableNow determinism and batch equivalence
(SURVEY.md §7 P6 strategy)."""

from __future__ import annotations

import os
import re
import subprocess
import sys
import tempfile
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from data_engineering_capstone_spark.sources.testdata import load_table
from data_engineering_capstone_spark.streaming.windows import (
    dedup_within_watermark,
    run_available_now,
    stream_events,
    tumbling_counts,
)


def test_stream_matches_batch_window_agg(spark, sf_dir):
    streamed = run_available_now(tumbling_counts(stream_events(spark, sf_dir)), "complete")
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    a = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_stream_dedup_bounds(spark, sf_dir):
    """Streaming dedup output must lie between the distinct-key count
    (perfect dedup) and the raw count, and keep >=1 row per key."""
    events = load_table(spark, sf_dir, "events")
    n_keys = events.select("user_id", "event_type").distinct().count()
    n_raw = events.count()
    out = run_available_now(
        dedup_within_watermark(stream_events(spark, sf_dir), ["user_id", "event_type"]),
        "append",
    )
    n_out = out.count()
    assert n_keys <= n_out <= n_raw
    keys_out = out.select("user_id", "event_type").distinct().count()
    assert keys_out == n_keys


def test_stateful_user_stats_matches_batch(spark, sf_dir):
    """The custom stateful operator's final state must equal the batch
    per-user aggregate regardless of how many microbatches ran."""
    from data_engineering_capstone_spark.streaming.windows import stateful_user_stats
    from pyspark.sql import Window

    out = run_available_now(stateful_user_stats(stream_events(spark, sf_dir)), "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in out.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("t"))
        .collect()
    }
    assert final == batch


def test_stream_static_join_matches_batch(spark, sf_dir):
    """Stream-static join + window agg must equal the batch join twin."""
    from data_engineering_capstone_spark.catalog import load_all

    streamed = load_all()["stream_static_join_segments"].fn(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    e = load_table(spark, sf_dir, "events")
    batch = (
        e.join(cust, e.user_id == cust.c_custkey)
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(14,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "segment", "n", "sum_value")
    )
    a = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0


def test_run_available_now_restores_session_confs(spark, sf_dir):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    run_available_now(tumbling_counts(stream_events(spark, sf_dir)), "complete")
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_snapshot_is_executor_side_and_detached(spark, sf_dir):
    """Round-12 snapshot rework: the drained result must be (a) a plain
    file scan — no driver-resident LocalRelation / memory-sink table, the
    guide-§5 'driver does no data work' contract — and (b) detached: a
    later drain of the same query shape cannot mutate an earlier
    snapshot."""
    out1 = run_available_now(tumbling_counts(stream_events(spark, sf_dir)), "complete")
    plan = out1._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan or "BatchScan" in plan, plan[:1500]
    assert "LocalTableScan" not in plan and "MemoryPlan" not in plan
    rows1 = {tuple(r) for r in out1.collect()}
    assert rows1
    out2 = run_available_now(tumbling_counts(stream_events(spark, sf_dir)), "complete")
    assert {tuple(r) for r in out2.collect()} == rows1  # deterministic drain
    # first snapshot unchanged after the second drain
    assert {tuple(r) for r in out1.collect()} == rows1


def test_kafka_plumbing_raises_clear_error_without_connector(spark):
    """No Kafka jar in this container: the wiring must fail fast with an
    actionable message at plan-construction time, not a stack bomb at
    stream start."""
    from pyspark.sql import types as T

    from data_engineering_capstone_spark.sources.kafka import read_kafka_stream

    schema = T.StructType([T.StructField("x", T.LongType())])
    with pytest.raises(RuntimeError, match="--packages"):
        read_kafka_stream(spark, "localhost:9092", "events", schema)


def test_stream_stream_join_equals_batch_interval_join(spark, sf_dir):
    from data_engineering_capstone_spark.queries_streaming import _events
    from data_engineering_capstone_spark.sources.testdata import load_table
    from data_engineering_capstone_spark.streaming.windows import (
        interval_join_clicks_purchases,
        run_available_now,
    )
    from pyspark.sql import functions as F

    streamed = run_available_now(
        interval_join_clicks_purchases(_events(spark, sf_dir), _events(spark, sf_dir)),
        "append",
    )
    e = load_table(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("click_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    batch = c.join(
        p,
        (F.col("u") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    ).drop("u")

    got = {tuple(r) for r in streamed.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """File-source -> file-sink with an explicit checkpoint: a second
    drain from the same checkpoint processes ONLY files that arrived
    after the first — no reprocessing, no duplicates (the exactly-once
    contract recovery relies on)."""
    import os

    src = tmp_path / "src"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    part1 = ev.filter(F.col("event_id") % 2 == 0)
    part2 = ev.filter(F.col("event_id") % 2 == 1)
    n1, n2 = part1.count(), part2.count()
    part1.coalesce(1).write.parquet(str(src / "batch1"))

    schema = ev.schema

    def drain():
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    assert spark.read.parquet(sink).count() == n1

    part2.coalesce(1).write.parquet(str(src / "batch2"))
    drain()
    got = spark.read.parquet(sink)
    assert got.count() == n1 + n2
    # no duplicates: every event_id exactly once
    assert got.select("event_id").distinct().count() == n1 + n2


def test_streaming_incremental_upsert_versioned(spark, sf_dir, tmp_path):
    """End-to-end incremental pipeline: stream drains in two
    checkpointed runs; each foreachBatch aggregates its micro-batch and
    UPSERTS into a versioned table (operators/merge + versioned). The
    final version equals the one-shot batch aggregate — incremental ==
    batch, the invariant every incremental pipeline owes its users."""
    import os

    from data_engineering_capstone_spark.operators.merge import upsert
    from data_engineering_capstone_spark.operators.versioned import (
        read_version,
        write_version,
    )

    src = tmp_path / "src"
    tbl = str(tmp_path / "agg_table")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "event_type")
    part1 = ev.filter(F.col("event_id") % 2 == 0)
    part2 = ev.filter(F.col("event_id") % 2 == 1)
    part1.coalesce(1).write.parquet(str(src / "b1"))

    schema = ev.schema

    def on_batch(batch_df, batch_id):
        inc = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("user_id").alias("uid_sum")
        )
        try:
            cur = read_version(spark, tbl)
            # re-aggregate only the keys this batch touched, then upsert
            touched = (
                cur.join(inc, "event_type", "left_semi")
                .unionByName(inc)
                .groupBy("event_type")
                .agg(F.sum("n").alias("n"), F.sum("uid_sum").alias("uid_sum"))
            )
            merged = upsert(cur, touched, ["event_type"])
        except FileNotFoundError:
            merged = inc
        write_version(merged.localCheckpoint(eager=True), tbl)

    def drain():
        q = (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    part2.coalesce(1).write.parquet(str(src / "b2"))
    drain()

    got = {
        r["event_type"]: (r["n"], r["uid_sum"])
        for r in read_version(spark, tbl).collect()
    }
    want = {
        r["event_type"]: (r["n"], r["uid_sum"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("user_id").alias("uid_sum"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_data_deterministically(spark, tmp_path):
    """Three files drained one-per-micro-batch. Spark's late-data drop
    is best-effort while a window is still in state (a late row may
    merge right up until eviction); once the watermark has EVICTED the
    window, the state store refuses re-insertion — that hard guarantee
    is what this pins. File order (lexicographic path) makes the batch
    sequence, the eviction point, and therefore the drop deterministic."""
    import os

    src = tmp_path / "src"
    os.makedirs(src)
    base = "2024-01-01 {:02d}:00:00"
    # batch a: hours 0-3 + 10 (advances watermark to 08:00 after batch)
    rows1 = [(i, base.format(h)) for i, h in enumerate([0, 1, 2, 3, 10])]
    # batch b: on-time rows; processing this batch evicts+emits all
    # windows ending <= 08:00 (hour 3 included, with count 1)
    rows2 = [(50, base.format(9)), (51, base.format(11))]
    # batch c: replay of hour 3 AFTER its window was evicted -> refused
    rows3 = [(100, base.format(3)), (101, base.format(12))]

    def write(rows, name):
        df = spark.createDataFrame(rows, "event_id int, ts_s string").selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts"
        )
        df.coalesce(1).write.parquet(str(src / name))

    write(rows1, "a_batch1")
    write(rows2, "b_batch2")
    write(rows3, "c_batch3")

    agg = (
        spark.readStream.schema("event_id int, ts timestamp")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_drop_t")
        .outputMode("append")  # append emits only finalized windows
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("late_drop_t").collect()
    out = {}
    for r in rows:
        out.setdefault(r["w"]["start"].hour, []).append(r["n"])
    # hour 3 emitted exactly ONCE, with only the original event — the
    # post-eviction replay was refused (no duplicate emission either)
    assert out.get(3) == [1], out
    assert out.get(0) == [1] and out.get(1) == [1] and out.get(2) == [1]


def test_rocksdb_state_store_matches_default(spark, sf_dir):
    """Stateful aggregation under the RocksDB state-store provider —
    the large-state scale path (state spills off-heap/disk instead of
    living on the JVM heap) — must produce exactly the default
    provider's results."""
    from data_engineering_capstone_spark.streaming.windows import (
        run_available_now,
        stream_events,
        tumbling_counts,
    )

    def run():
        return {
            (r["window_start"], r["event_type"]): (r["n"], r["sum_value"])
            for r in run_available_now(
                tumbling_counts(stream_events(spark, sf_dir)), "complete"
            ).collect()
        }

    base = run()
    prov = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov, None)
    spark.conf.set(
        prov,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        rocks = run()
    finally:
        if old:
            spark.conf.set(prov, old)
        else:
            spark.conf.unset(prov)
    assert rocks == base and len(base) > 0


def test_streaming_minhash_dedup_cross_batch_state(spark, tmp_path):
    """The streaming LSH dedup must catch a near-dup whose twin arrived
    in an EARLIER micro-batch (bucket state persists), and the drained
    pair set must equal the sequential pure-Python reference over the
    same kernel regardless of batch boundaries."""
    from data_engineering_capstone_spark.streaming.dedup import (
        reference_pairs,
        streaming_minhash_pairs,
    )
    from data_engineering_capstone_spark.streaming.windows import run_available_now

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps on the warm mat near the open door tonight")
    near = base.replace("warm mat", "cold mat")
    far = "completely different text about spark query engines and joins"
    batch1 = [(1, base), (2, far)]
    batch2 = [(3, near), (4, "another unrelated page on parquet footers")]

    src = str(tmp_path / "docs_stream")
    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    out = run_available_now(
        streaming_minhash_pairs(stream, "text", "doc_id", threshold=0.35),
        "append",
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    want = reference_pairs(batch1 + batch2, threshold=0.35)
    assert (1, 3) in want, "fixture must plant a cross-batch near-dup"
    assert got == want


def test_streaming_minhash_state_survives_checkpoint_restart(spark, tmp_path):
    """Round-5 verdict task 4: the applyInPandasWithState bucket state
    must survive a checkpoint restart. Run 1 drains batch1 through an
    explicit checkpoint and terminates; run 2 is a BRAND-NEW streaming
    query resuming from the same checkpoint over newly arrived files —
    the cross-RUN near-dup pair (its twin lives only in the recovered
    state store, not in run 2's input) must still be emitted, and the
    total drained pair set must equal the uninterrupted sequential
    reference. The file-source/foreachBatch resume tests above don't
    exercise stateful-operator recovery."""
    import os

    from data_engineering_capstone_spark.streaming.dedup import (
        reference_pairs,
        streaming_minhash_pairs,
    )

    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps on the warm mat near the open door tonight")
    near = base.replace("warm mat", "cold mat")
    batch1 = [(1, base), (2, "completely different text about spark engines")]
    batch2 = [(3, near), (4, "another unrelated page on parquet footers")]

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def drain():
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            streaming_minhash_pairs(stream, "text", "doc_id", threshold=0.35)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    spark.createDataFrame(batch1, "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)
    drain()  # run 1: state now holds docs 1 and 2, then the query STOPS

    spark.createDataFrame(batch2, "doc_id long, text string").coalesce(1) \
        .write.mode("append").parquet(src)
    drain()  # run 2: fresh query, state recovered from the checkpoint

    got = {
        (r["id_a"], r["id_b"])
        for r in spark.read.parquet(sink).collect()
    }
    want = reference_pairs(batch1 + batch2, threshold=0.35)
    assert (1, 3) in want, "fixture must plant a cross-run near-dup"
    # (1,3) can only be emitted if doc 1's signature survived recovery
    assert got == want


def test_streaming_count_min_equals_batch_sketch(spark, sf_dir):
    """Mergeability made executable: the count-min counter table drained
    from the stream must be ROW-IDENTICAL to the batch sketch over the
    same events (additive counters + same seeded hash family), and every
    probe estimate must bound the exact count from above (classic CMS
    one-sided error)."""
    from data_engineering_capstone_spark.operators.sketches import (
        count_min_estimate,
        count_min_table,
    )
    events = load_table(spark, sf_dir, "events")
    streamed = run_available_now(
        count_min_table(stream_events(spark, sf_dir), "user_id"), "complete"
    )
    batch = count_min_table(events, "user_id")
    a = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert a == b and len(a) > 0

    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_n"))
    probed = count_min_estimate(batch, exact, "user_id").collect()
    assert all(r["cms_estimate"] >= r["exact_n"] for r in probed)
    # at this key cardinality vs 4x4096 counters, all-rows collisions
    # are essentially impossible: estimates should be exact
    assert all(r["cms_estimate"] == r["exact_n"] for r in probed)


def test_stateful_user_stats_survives_checkpoint_restart(spark, tmp_path):
    """Round-5 verdict task 5a: the applyInPandasWithState per-user
    state must survive a checkpoint restart. Run 1 drains batch1 and
    terminates; run 2 is a BRAND-NEW query resuming from the same
    checkpoint over newly arrived files. User 1 has events in BOTH
    runs — its final counter can only equal the whole-corpus aggregate
    if run 2 recovered (n=2, total=3.0) from the state store before
    folding in batch2 (a cold run 2 would emit n=1 and the max-n pick
    below would surface run 1's stale (2, 3.0) instead of (3, 7.0))."""
    import os

    from data_engineering_capstone_spark.streaming.windows import stateful_user_stats

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def drain():
        stream = (
            spark.readStream.schema("user_id bigint, value double")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            stateful_user_stats(stream)
            .writeStream.foreachBatch(
                lambda b, _bid: b.write.mode("append").parquet(sink)
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1 = [(1, 1.0), (1, 2.0), (2, 10.0)]
    batch2 = [(1, 4.0), (3, 5.0)]
    spark.createDataFrame(batch1, "user_id long, value double").coalesce(1) \
        .write.mode("append").parquet(src)
    drain()  # run 1: state now holds users 1 and 2, then the query STOPS

    spark.createDataFrame(batch2, "user_id long, value double").coalesce(1) \
        .write.mode("append").parquet(src)
    drain()  # run 2: fresh query, state recovered from the checkpoint

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    final = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in spark.read.parquet(sink)
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .collect()
    }
    assert final == {1: (3, 7.0), 2: (1, 10.0), 3: (1, 5.0)}, final


def test_streaming_count_min_survives_checkpoint_restart(spark, tmp_path):
    """Round-5 verdict task 5b: the count-min counter table is streaming
    AGGREGATION state — a restart must resume the counters, not restart
    them. Run 1 drains batch1 through a checkpoint and stops; run 2
    resumes over batch2 only. The final complete-mode snapshot must be
    ROW-IDENTICAL to the batch sketch over batch1+batch2 — achievable
    only if run 2 recovered batch1's counters from the state store (a
    cold run 2 would emit a sketch of batch2 alone)."""
    import os

    from data_engineering_capstone_spark.operators.sketches import count_min_table

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    def drain():
        stream = (
            spark.readStream.schema("user_id bigint")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = (
            count_min_table(stream, "user_id")
            .writeStream.foreachBatch(
                lambda b, _bid: b.write.mode("overwrite").parquet(sink)
            )
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    batch1 = [(u,) for u in [1] * 5 + [2] * 3]
    batch2 = [(u,) for u in [1] * 2 + [3] * 4]
    spark.createDataFrame(batch1, "user_id long").coalesce(1) \
        .write.mode("append").parquet(src)
    drain()

    spark.createDataFrame(batch2, "user_id long").coalesce(1) \
        .write.mode("append").parquet(src)
    drain()

    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    both = spark.createDataFrame(batch1 + batch2, "user_id long")
    want = {tuple(r) for r in count_min_table(both, "user_id").collect()}
    assert got == want and len(got) > 0


def _stub_session(master: str):
    """Just enough of a SparkSession for ``scratch_dir``'s master check."""
    return SimpleNamespace(sparkContext=SimpleNamespace(master=master))


@pytest.mark.parametrize(
    "master, accepted",
    [("local", True), ("local[2]", True), ("local-cluster[2,1,1024]", True),
     ("yarn", False), ("spark://h:7077", False)],
)
def test_scratch_dir_admits_only_local_masters(tmp_path, monkeypatch, master, accepted):
    """Scratch lives in the driver's tempdir, which only local masters'
    executors share; any other master must fail loudly, naming itself."""
    from data_engineering_capstone_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_SCRATCH_PID", None)
    if accepted:
        assert os.path.isdir(session.scratch_dir(_stub_session(master), "x"))
    else:
        with pytest.raises(RuntimeError, match=re.escape(master)):
            session.scratch_dir(_stub_session(master), "x")


def test_scratch_dir_empties_own_root_once(tmp_path, monkeypatch):
    """A root under this process's pid is a crashed process's leftover
    (recycled pid): the first call empties it, later calls keep what this
    process placed."""
    from data_engineering_capstone_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_SCRATCH_PID", None)
    stale = tmp_path / "dec_spark" / str(os.getpid()) / "fmt"
    stale.mkdir(parents=True)
    (stale / "old.parquet").write_text("stale")
    spark = _stub_session("local[2]")
    path = session.scratch_dir(spark, "fmt")
    assert path == str(stale) and os.listdir(path) == []
    (stale / "new.parquet").write_text("ours")
    assert os.listdir(session.scratch_dir(spark, "fmt")) == ["new.parquet"]


def test_snapshot_root_sweep_keeps_live_sibling_roots(tmp_path, monkeypatch):
    """The stale-root sweep removes a dead PID's root and keeps live
    ones, including a process the signal probe may not signal (another
    user's), without consulting Linux-only /proc."""
    from data_engineering_capstone_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_SCRATCH_PID", None)
    base = tmp_path / "dec_spark"
    dead = subprocess.Popen([sys.executable, "-c", ""])
    dead.wait()
    live = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    foreign = 99_999_999  # no such PID; the probe is told it is not ours to signal
    kill = os.kill

    def probe(pid, sig):
        if pid == foreign:
            raise PermissionError(pid)
        return kill(pid, sig)

    monkeypatch.setattr(os, "kill", probe)
    for pid in (dead.pid, live.pid, foreign):
        (base / str(pid)).mkdir(parents=True)
    try:
        path = session.scratch_dir(_stub_session("local[2]"), "stream_snap")
    finally:
        live.kill()
        live.wait()
    assert path == str(base / str(os.getpid()) / "stream_snap")
    assert set(os.listdir(base)) == {str(os.getpid()), str(live.pid), str(foreign)}
