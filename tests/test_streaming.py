"""Streaming semantics tests (SURVEY §2.9): the batch-equivalent graded
queries must equal the true micro-batch execution — availableNow drains, file-at-
a-time triggers, watermark late-drops, and stateful accumulation."""

from __future__ import annotations

import os
import tempfile
import uuid

import pandas as pd
import pytest

from pyspark.sql import functions as F

from filemap_spark.streaming.harness import (
    make_stream_input,
    read_stream,
    run_available_now,
)
from filemap_spark.testing import canonical_rows


def _tumbling(df):
    return (
        df.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


def test_tumbling_stream_equals_batch(spark, sf_dir):
    input_dir, schema = make_stream_input(spark, sf_dir, n_files=4)
    stream = read_stream(spark, input_dir, schema)
    got = run_available_now(spark, stream, _tumbling, output_mode="complete")
    batch = _tumbling(spark.read.parquet(input_dir))
    assert canonical_rows(got.toPandas()) == canonical_rows(batch.toPandas())


def test_multi_batch_equals_single_batch(spark, sf_dir):
    """File-at-a-time micro-batches (filemap's incremental arrival) converge
    to the same final state as one big batch."""
    input_dir, schema = make_stream_input(spark, sf_dir, n_files=4)
    stream = read_stream(spark, input_dir, schema, max_files_per_trigger=1)
    got = run_available_now(spark, stream, _tumbling, output_mode="complete")
    batch = _tumbling(spark.read.parquet(input_dir))
    assert canonical_rows(got.toPandas()) == canonical_rows(batch.toPandas())


def test_stream_dedup_within_watermark(spark, sf_dir):
    """Doubled (at-least-once) feed deduped by event_id exactly-once."""
    input_dir, schema = make_stream_input(spark, sf_dir, n_files=2)
    # second copy of the same events = redelivery
    dup_dir = os.path.join(os.path.dirname(input_dir), "input2")
    ev = spark.read.parquet(input_dir)
    ev.write.mode("overwrite").parquet(dup_dir)
    for f in os.listdir(dup_dir):
        if f.endswith(".parquet"):
            os.rename(
                os.path.join(dup_dir, f), os.path.join(input_dir, "redelivered_" + f)
            )
    stream = read_stream(spark, input_dir, schema)

    def dedup(df):
        return (
            df.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy("event_type")
            .agg(F.count("*").alias("n_unique"))
        )

    got = run_available_now(spark, stream, dedup, output_mode="complete")
    expect = ev.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    assert canonical_rows(got.toPandas()) == canonical_rows(expect.toPandas())


def test_late_data_dropped(spark, sf_dir):
    """True watermark semantics: an event arriving in a later micro-batch,
    behind the advanced watermark, is dropped from its (closed) window."""
    base = tempfile.mkdtemp(prefix="filemap_late_")
    input_dir = os.path.join(base, "in")
    os.makedirs(input_dir)
    mk = lambda ts, eid: (eid, pd.Timestamp(ts), 1, "click", 1.0, "{}")
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    batch1 = pd.DataFrame(
        [mk("2024-01-01 00:10:00", 1), mk("2024-01-01 03:00:00", 2)], columns=cols
    )
    sdf1 = spark.createDataFrame(batch1)
    sdf1.write.mode("append").parquet(input_dir)
    schema = sdf1.schema

    name = f"late_{uuid.uuid4().hex[:8]}"
    ckpt = tempfile.mkdtemp(prefix="filemap_late_ckpt_")
    agg = (
        spark.readStream.schema(schema)
        .parquet(input_dir)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()  # watermark advances to 02:50
        # late event for the long-closed 00:00 window + a fresh event
        batch2 = pd.DataFrame(
            [mk("2024-01-01 00:20:00", 3), mk("2024-01-01 05:00:00", 4)], columns=cols
        )
        spark.createDataFrame(batch2).write.mode("append").parquet(input_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["ws"].strftime("%H:%M"): r["n"] for r in spark.table(name).collect()}
    # the 00:00 window was finalized with exactly 1 event; the late one dropped
    assert rows.get("00:00") == 1


def test_stateful_final_equals_batch(spark, sf_dir):
    """applyInPandasWithState running count/sum per user over file-at-a-time
    micro-batches; final emitted state == batch groupBy (stream_stateful_final)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    input_dir, schema = make_stream_input(spark, sf_dir, n_files=3)
    stream = read_stream(spark, input_dir, schema, max_files_per_trigger=1)

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
        )

    def transform(df):
        return df.groupBy("user_id").applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    got = run_available_now(spark, stream, transform, output_mode="update")
    # update-mode sink keeps every emission; final state = last per user
    final = (
        got.toPandas()
        .sort_index()
        .groupby("user_id", as_index=False)
        .last()
    )
    ev = spark.read.parquet(input_dir)
    expect = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .toPandas()
    )
    assert canonical_rows(final) == canonical_rows(expect)


def _protobuf_available() -> bool:
    # transformWithStateInPandas runs a driver-side state server speaking
    # protobuf; without it the runner crashes with
    # STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE. Probe before testing.
    # Round-7 unskip attempt (VERDICT r6 task 8), evidence recorded:
    # `from google.protobuf import descriptor` raises ModuleNotFoundError
    # ("No module named 'google'" — the package is entirely absent, not
    # merely broken); a filesystem sweep finds no protobuf wheel or
    # site-packages copy to vendor (only pyi stubs under a typeshed and
    # pyspark's own .proto-generated SQL modules, which need the runtime);
    # `pip download protobuf --no-deps` produces nothing (no network).
    # Round-9 re-probe (VERDICT r8 task 8), 2026-08-14: still
    # ModuleNotFoundError ("No module named 'google'") — unchanged.
    # Round-10 re-probe (VERDICT r9 task 8), 2026-08-15: still
    # ModuleNotFoundError ("No module named 'google'") — unchanged.
    # Round-12 re-probe (VERDICT r11 task 8), 2026-08-15: still
    # ModuleNotFoundError ("No module named 'google'"); PIL likewise
    # still absent ("No module named 'PIL'") — both unchanged.
    # The skip stands until the container gains the package; the legacy
    # applyInPandasWithState twin keeps the stateful contract covered.
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_available(),
    reason="transformWithStateInPandas needs google.protobuf (broken in this env); "
    "applyInPandasWithState above covers the stateful contract",
)
def test_transform_with_state_equals_batch(spark, sf_dir):
    """Spark 4's transformWithStateInPandas (StatefulProcessor + ValueState)
    running per-user count/sum; final state == batch groupBy — the modern
    replacement for applyInPandasWithState, same grading rule. Requires the
    RocksDB state store provider."""
    import pandas as pd

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    input_dir, schema = make_stream_input(spark, sf_dir, n_files=3)
    stream = read_stream(spark, input_dir, schema, max_files_per_trigger=1)

    class CountSum(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.state = handle.getValueState("acc", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):
            n, total = self.state.get() if self.state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self.state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 6)]}
            )

        def close(self):
            pass

    def transform(df):
        return df.groupBy("user_id").transformWithStateInPandas(
            CountSum(),
            outputStructType="user_id long, n_events long, total_value double",
            outputMode="Update",
            timeMode="None",
        )

    got = run_available_now(spark, stream, transform, output_mode="update")
    final = got.toPandas().sort_index().groupby("user_id", as_index=False).last()
    ev = spark.read.parquet(input_dir)
    expect = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .toPandas()
    )
    assert canonical_rows(final) == canonical_rows(expect)


def test_session_window_native_equals_lag_cumsum(spark, sf_dir):
    """The graded lag+cumsum sessionization must equal native
    F.session_window (the streaming-capable form) row for row — this is the
    semantics pin that lets the batch op use the cheaper plan."""
    from filemap_spark.io import load_table
    from filemap_spark.operators.streaming import stream_session_window

    ev = load_table(spark, sf_dir, "events")
    native = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_micros(F.min("ts")).alias("session_start_us"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "duration_us"
            ),
        )
        .select("user_id", "session_start_us", "n_events", "duration_us")
    )
    got = stream_session_window(spark, sf_dir)
    assert canonical_rows(got.toPandas()) == canonical_rows(native.toPandas())


def test_incremental_lsh_stream_converges_to_exact_pairs(spark, sf_dir, tmp_path):
    """filemap's signature incremental model applied to LLM dedup: documents
    arrive as a file stream; each availableNow micro-batch ingests only its
    new docs into the persisted LSH index via foreachBatch. The union of
    per-batch delta pairs must equal the exact all-pairs >=0.8-Jaccard set —
    no pair missed across batch boundaries, none emitted twice."""
    from filemap_spark import all_queries
    from filemap_spark.io import load_table
    from filemap_spark.operators.text import incremental_lsh_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    input_dir = str(tmp_path / "docs_in")
    docs.repartition(3).write.parquet(input_dir)
    schema = spark.read.parquet(input_dir).schema

    state = str(tmp_path / "lsh_state")
    seen: list[tuple] = []

    def sink(batch_df, _batch_id):
        pairs = incremental_lsh_ingest(spark, batch_df, state)
        seen.extend((r["doc_a"], r["doc_b"]) for r in pairs.collect())

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    exact = {
        (r["doc_a"], r["doc_b"])
        for r in all_queries()["dedup_near_jaccard"](spark, sf_dir).collect()
    }
    assert len(seen) == len(set(seen)), "a pair was emitted by two batches"
    assert set(seen) == exact


def test_cms_stream_state_merges_to_batch_sketch(spark, sf_dir, tmp_path):
    """The count-min sketch as STREAMING state: documents arrive in
    micro-batches; foreachBatch sketches ONLY the batch's docs and merges
    into the running state by cell-wise addition — old batches are never
    re-read. The merged state must equal the one-shot batch sketch cell
    for cell: the property that makes constant-size heavy-hitter state
    possible on an unbounded 100 TB ingest (agg_cms_topk's streaming
    deployment form)."""
    from filemap_spark.io import load_table
    from filemap_spark.operators.aggregates import cms_sketch

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    input_dir = str(tmp_path / "docs_in")
    docs.repartition(3).write.parquet(input_dir)
    schema = spark.read.parquet(input_dir).schema

    state: dict = {}
    batches = []

    def sink(batch_df, batch_id):
        toks = batch_df.select(F.explode(F.split("text", " ")).alias("word"))
        for r in cms_sketch(toks).collect():
            cell = (r["i"], r["bucket"])
            state[cell] = state.get(cell, 0) + r["c"]
        batches.append(batch_id)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2, "stream must actually run multiple micro-batches"

    toks = spark.read.parquet(input_dir).select(
        F.explode(F.split("text", " ")).alias("word")
    )
    full = {(r["i"], r["bucket"]): r["c"] for r in cms_sketch(toks).collect()}
    assert state == full


def test_scd1_upsert_stream_converges_to_batch(spark, sf_dir, tmp_path):
    """stream_scd1_upsert's REAL streaming twin: events arrive as a file
    stream, each availableNow micro-batch upserts into the parquet state
    table via foreachBatch(upsert_latest_wins); the final table must equal
    latest-per-user over all events (the graded op's oracle semantics),
    and replaying the drained stream must change nothing (idempotence)."""
    from pyspark.sql.window import Window

    from filemap_spark.operators.streaming import upsert_latest_wins

    input_dir, schema = make_stream_input(spark, sf_dir, n_files=3)
    table_dir = str(tmp_path / "state")

    def run_drain():
        stream = read_stream(spark, input_dir, schema, max_files_per_trigger=1)
        q = (
            stream.withColumn("ts_us", F.unix_micros("ts"))
            .writeStream.foreachBatch(
                lambda bdf, _id: upsert_latest_wins(spark, table_dir, bdf)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_drain()
    got = {
        r["user_id"]: (r["event_id"], r["ts_us"])
        for r in spark.read.parquet(table_dir).collect()
    }
    ev = spark.read.parquet(input_dir).withColumn("ts_us", F.unix_micros("ts"))
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    expect = {
        r["user_id"]: (r["event_id"], r["ts_us"])
        for r in ev.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert got == expect

    run_drain()  # nothing new: checkpoint drains zero files, state unchanged
    again = {
        r["user_id"]: (r["event_id"], r["ts_us"])
        for r in spark.read.parquet(table_dir).collect()
    }
    assert again == expect


@pytest.mark.parametrize("crash", ["before_rename", "before_delete"])
def test_scd1_upsert_survives_a_crash_in_its_replace(
    spark, sf_dir, tmp_path, state_crash, crash
):
    """upsert_latest_wins commits its rewrite by replace: a crash after
    the merged files are moved in but before the manifest rename leaves
    the previous table, and one after the rename but before the old files
    are deleted leaves the new one. Either way the next reader sees
    exactly one committed table, and a replay of the batch converges to
    latest-per-user over all events."""
    from pyspark.sql.window import Window

    from filemap_spark import state
    from filemap_spark.io import load_table
    from filemap_spark.operators.streaming import upsert_latest_wins

    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", F.unix_micros("ts"))
    cut = F.col("event_id") % 2 == 0
    table_dir = str(tmp_path / "state")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts_us"), F.desc("event_id"))
    expect = sorted(
        (r["user_id"], r["event_id"])
        for r in ev.withColumn("rn", F.row_number().over(w)).where("rn = 1").collect()
    )

    def rows():
        state.Transaction(table_dir)  # a reader opens the root first
        return sorted(
            (r["user_id"], r["event_id"]) for r in spark.read.parquet(table_dir).collect()
        )

    upsert_latest_wins(spark, table_dir, ev.where(cut))
    first = rows()
    assert first != expect
    state_crash(crash)
    with pytest.raises(Exception, match=crash):
        upsert_latest_wins(spark, table_dir, ev.where(~cut))
    assert rows() == (first if crash == "before_rename" else expect)
    upsert_latest_wins(spark, table_dir, ev.where(~cut))  # the replay
    assert rows() == expect


def test_stream_stream_join_equals_batch(spark, sf_dir):
    """stream_stream_join's true two-unbounded-sides form: both sides
    watermarked, the same user-key + 30-minute range condition, append
    mode — the availableNow drain must emit exactly the batch-equivalent
    pair set. The time bound is what lets the engine evict click state
    older than watermark + 30 min; without it a stream-stream inner join
    is unbounded-state and Spark rejects append mode."""
    from filemap_spark.operators.streaming import stream_stream_join

    input_dir, schema = make_stream_input(spark, sf_dir, n_files=4)
    stream = read_stream(spark, input_dir, schema)

    def _join(df):
        clicks = (
            df.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                "user_id",
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            df.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
        )

    got = run_available_now(spark, stream, _join, output_mode="append")
    batch = stream_stream_join(spark, sf_dir)
    assert canonical_rows(got.toPandas()) == canonical_rows(batch.toPandas())


def test_stream_stream_join_multi_batch_time_ordered(spark, sf_dir, tmp_path):
    """stream_stream_join under file-at-a-time micro-batches with TIME-ORDERED
    arrival (the realistic ingest shape): the watermark advances batch to
    batch and evicts old click state, yet every cross-batch match inside the
    30-minute bound survives — the availableNow drain must still equal the
    batch join exactly. (Random file order would legitimately drop
    late-arriving matches; ordered arrival must not.)"""
    import time as _time

    from filemap_spark.io import load_table
    from filemap_spark.operators.streaming import stream_stream_join

    ev = load_table(spark, sf_dir, "events")
    # four time-range quartiles appended SEQUENTIALLY: FileStreamSource
    # admits files oldest-mtime-first, so arrival order == event-time order
    w = F.ntile(4).over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy(
            "ts", "event_id"
        )
    )
    quartiled = ev.withColumn("q", w).localCheckpoint()
    input_dir = str(tmp_path / "ordered_input")
    for i in range(1, 5):
        quartiled.where(F.col("q") == i).drop("q").coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)
        _time.sleep(0.05)
    stream = read_stream(spark, input_dir, ev.schema, max_files_per_trigger=1)

    def _join(df):
        clicks = (
            df.where(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
            )
            .withWatermark("c_ts", "1 hour")
        )
        purchases = (
            df.where(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        return clicks.join(
            purchases,
            (F.col("user_id") == F.col("p_user_id"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        ).select(
            "click_id",
            "purchase_id",
            "user_id",
            (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("gap_us"),
        )

    got = run_available_now(spark, stream, _join, output_mode="append")
    batch = stream_stream_join(spark, sf_dir)
    assert canonical_rows(got.toPandas()) == canonical_rows(batch.toPandas())


def test_windowed_topk_stream_state_ranks_to_batch(spark, sf_dir):
    """stream_windowed_topk's micro-batch twin: run the (window, user)
    count as a file-at-a-time stream (the stateful layer), rank the FINAL
    state in batch (the per-window leaderboard read), and require the
    graded batch form's exact result."""
    from filemap_spark import all_queries
    from pyspark.sql.window import Window

    def counts(df):
        return (
            df.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "user_id", "n_events")
        )

    input_dir, schema = make_stream_input(spark, sf_dir, n_files=4)
    stream = read_stream(spark, input_dir, schema, max_files_per_trigger=1)
    state = run_available_now(spark, stream, counts, output_mode="complete")
    rank_w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "user_id"
    )
    got = (
        state.withColumn("rn", F.row_number().over(rank_w))
        .where(F.col("rn") <= 3)
        .drop("rn")
    )
    batch = all_queries()["stream_windowed_topk"](spark, sf_dir)
    assert canonical_rows(got.toPandas()) == canonical_rows(batch.toPandas())


def test_incremental_mm_dedup_stream_converges_to_batch_pairs(
    spark, sf_dir, tmp_path
):
    """Round 14 (VERDICT r13 task 6): the incremental multimodal ingest as
    a REAL stream — image docs arrive as a file stream, each availableNow
    micro-batch decodes+hashes ONLY its own docs and probes the persisted
    fingerprint ledger via foreachBatch. The union of per-batch delta
    pairs must equal the batch op's full pair set (hamming included) —
    no pair missed across batch boundaries, none emitted twice."""
    from filemap_spark.functions.blocked import (
        CORPUS_MATCHED_KNOB,
        incremental_fingerprint_ingest,
    )
    from filemap_spark.io import load_table
    from filemap_spark.operators.multimodal import (
        _image_dhash_frame,
        mm_dhash_near_dup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    input_dir = str(tmp_path / "imgs_in")
    docs.repartition(3).write.parquet(input_dir)
    schema = spark.read.parquet(input_dir).schema

    nb, bb, t = CORPUS_MATCHED_KNOB
    state = str(tmp_path / "fp_state")
    seen: list[tuple] = []

    def sink(batch_df, _batch_id):
        pairs = incremental_fingerprint_ingest(
            spark, batch_df, _image_dhash_frame, state,
            n_blocks=nb, block_bits=bb, threshold=t,
        )
        seen.extend(
            (r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs.collect()
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    exact = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in mm_dhash_near_dup(spark, sf_dir).collect()
    }
    assert len(seen) == len(set(seen)), "a pair was emitted by two batches"
    assert set(seen) == exact


def test_nb_count_ledger_stream_merges_to_full_retrain(spark, sf_dir, tmp_path):
    """The learned quality tier's foreachBatch twin (round 16, VERDICT
    r15 task 4): documents arrive in micro-batches; each batch is
    ingested with `nb_ingest_counts` — ONE hash agg over the batch's
    docs only — and merged into the running count ledger by bucket-keyed
    integer addition; old batches are never re-read. The merged ledger
    must equal the one-shot full-corpus count table ROW FOR ROW (it is
    the classifier's complete sufficient statistic, so ledger == table
    proves streamed-incremental ≡ full retrain — the same argument
    `text_quality_incremental`'s oracle grades in batch form)."""
    from filemap_spark.io import load_table
    from filemap_spark.operators.text import nb_ingest_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    input_dir = str(tmp_path / "docs_in")
    docs.repartition(3).write.parquet(input_dir)
    schema = spark.read.parquet(input_dir).schema

    ledger: dict[int, tuple[int, int]] = {}
    batches = []

    def sink(batch_df, batch_id):
        for r in nb_ingest_counts(batch_df).collect():
            nk, nd = ledger.get(r["bucket"], (0, 0))
            ledger[r["bucket"]] = (nk + r["nk"], nd + r["nd"])
        batches.append(batch_id)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2, "stream must actually run multiple micro-batches"

    full = {
        r["bucket"]: (r["nk"], r["nd"])
        for r in nb_ingest_counts(spark.read.parquet(input_dir)).collect()
    }
    assert ledger == full
    assert -1 in ledger, "doc-prior row (bucket = -1) missing from the ledger"


def test_contamination_stream_probe_unions_to_batch_report(spark, sf_dir, tmp_path):
    """The decontamination pass's foreachBatch twin (round 16): the
    benchmark n-gram index is built ONCE; train documents arrive in
    micro-batches and each batch pays only its own 13-gram explode +
    probe against that fixed index — old batches are never re-read. The
    union of per-batch collision reports must equal the one-shot
    `text_contamination_ngram` report row for row (per-doc independence
    — the same argument `text_contamination_incremental`'s oracle
    grades in batch form)."""
    from filemap_spark.io import load_table
    from filemap_spark.operators.text import (
        _contam_ngrams,
        _contam_report,
        text_contamination_ngram,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = (
        _contam_ngrams(
            docs.where("doc_id % 10 = 7").select(
                "doc_id", F.split("text", " ").alias("ws")
            )
        )
        .select("ng")
        .distinct()
        .localCheckpoint()  # the fixed benchmark index, built once
    )
    input_dir = str(tmp_path / "train_in")
    docs.where("doc_id % 10 != 7").repartition(3).write.parquet(input_dir)
    schema = spark.read.parquet(input_dir).schema

    rows: list = []
    batches: list = []

    def sink(batch_df, batch_id):
        ws = batch_df.select("doc_id", F.split("text", " ").alias("ws"))
        rows.extend(_contam_report(_contam_ngrams(ws), ev).collect())
        batches.append(batch_id)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) >= 2, "stream must actually run multiple micro-batches"

    key = (
        "doc_id", "n_ngrams", "n_hit_ngrams", "n_hit_occurrences",
        "contamination_frac",
    )
    got = [tuple(r[k] for k in key) for r in rows]
    assert len(got) == len({t[0] for t in got}), "a doc reported twice"
    want = {
        tuple(r[k] for k in key)
        for r in text_contamination_ngram(spark, sf_dir).collect()
    }
    assert set(got) == want
