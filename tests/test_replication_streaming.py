"""Replication-semantics tests via the broker-free micro-batch harness
(SURVEY.md §5.2 item 3): envelope preservation, partition routing
modes, exactly-once replay idempotence, and streaming windowed aggs."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from flink_kafka_replicator_spark.model import KAFKA_MESSAGE
from flink_kafka_replicator_spark.sources.files import envelope_batch
from flink_kafka_replicator_spark.streaming.exactly_once import (
    IdempotentBatchSink,
    ParquetBatchWriter,
    start_exactly_once_file_replication,
)
from flink_kafka_replicator_spark.streaming.replicate import (
    ReplicateConfig,
    start_file_replication,
    start_kafka_replication,
)

import datetime as dt
from tests.streamutil import drain


def _envelope_rows(n=50):
    base = dt.datetime(2024, 1, 1)
    return [
        Row(
            topic=f"topic-{i % 3}",
            partition=i % 4,
            offset=i,
            timestamp=base + dt.timedelta(seconds=i),
            key=f"k{i}".encode(),
            value=f"v{i}".encode(),
            headers=[Row(key="h", value=b"x")],
        )
        for i in range(n)
    ]


@pytest.fixture()
def envelope_dir(spark, tmp_path):
    path = str(tmp_path / "input")
    spark.createDataFrame(_envelope_rows(), KAFKA_MESSAGE).coalesce(2).write.parquet(
        path
    )
    return path


def test_replication_preserves_envelope(spark, tmp_path, envelope_dir):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    cfg = ReplicateConfig(topics=".*")
    q = start_file_replication(spark, cfg, envelope_dir, out, ckpt)
    drain(q)
    got = spark.read.parquet(out)
    assert got.count() == 50
    assert set(got.columns) == {"topic", "partition", "timestamp", "key", "value", "headers"}
    # replication output is a permutation of the input envelope
    src = envelope_batch(spark, envelope_dir).select(
        "topic", "partition", "timestamp", "key", "value"
    )
    assert got.select("topic", "partition", "timestamp", "key", "value").exceptAll(
        src
    ).count() == 0
    row = got.filter(F.col("topic") == "topic-1").first()
    assert row.headers[0].key == "h" and bytes(row.headers[0].value) == b"x"


def test_repartitioning_mode_drops_partition(spark, tmp_path, envelope_dir):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    cfg = ReplicateConfig(topics=".*", preserve_partitioning=False)
    q = start_file_replication(spark, cfg, envelope_dir, out, ckpt)
    drain(q)
    got = spark.read.parquet(out)
    assert "partition" not in got.columns, "repartition mode must drop partition"
    assert got.count() == 50


def test_exactly_once_replay_is_idempotent(spark, tmp_path, envelope_dir):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    cfg = ReplicateConfig(topics=".*", exactly_once=True)
    q = start_exactly_once_file_replication(spark, cfg, envelope_dir, out, ckpt)
    drain(q)
    first = spark.read.parquet(os.path.join(out, "*")).count()
    assert first == 50

    # simulate a post-commit replay of the same batch: the engine calls
    # foreachBatch again with an already-committed batch_id
    sink = IdempotentBatchSink(
        ParquetBatchWriter(out), ledger_dir=os.path.join(ckpt, "_ledger")
    )
    replay_df = envelope_batch(spark, envelope_dir)
    sink(replay_df, 0)  # batch 0 already committed → must be a no-op
    assert spark.read.parquet(os.path.join(out, "*")).count() == first
    assert sink.is_committed(0)

    # an uncommitted batch id must write
    sink(replay_df.limit(7), 99)
    assert spark.read.parquet(os.path.join(out, "*")).count() == first + 7


def test_transaction_timeout_validation():
    cfg = ReplicateConfig(
        topics=".*", exactly_once=True,
        checkpoint_interval_ms=10_000, transaction_timeout_ms=5_000,
    )
    with pytest.raises(ValueError, match="transaction-timeout-ms"):
        cfg.validate()
    # non-exactly-once mode does not enforce it (reference gates the check
    # on EXACTLY_ONCE semantic)
    ReplicateConfig(
        topics=".*", checkpoint_interval_ms=10_000, transaction_timeout_ms=5_000
    ).validate()


def test_kafka_replication_refuses_exactly_once(spark, tmp_path):
    """Spark's built-in Kafka sink is at-least-once: an exactly-once
    config must be refused before any source or query is built, not
    silently run with weaker delivery."""
    cfg = ReplicateConfig(
        topics=".*",
        exactly_once=True,
        consumer_props={"bootstrap.servers": "localhost:9"},
        producer_props={"bootstrap.servers": "localhost:9"},
    )
    before = {q.id for q in spark.streams.active}
    with pytest.raises(
        ValueError, match="start_exactly_once_kafka_replication"
    ):
        start_kafka_replication(spark, cfg, str(tmp_path / "ckpt"))
    assert {q.id for q in spark.streams.active} == before
    assert not os.path.exists(tmp_path / "ckpt")


def test_streaming_tumbling_agg_matches_batch(spark, tmp_path):
    """Unified-model check: the same windowed agg over a stream equals
    the batch result (micro-batch harness, availableNow)."""
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    from flink_kafka_replicator_spark.io import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(str(tmp_path / "stream_in"))

    stream = (
        spark.readStream.schema(ev.schema).parquet(str(tmp_path / "stream_in"))
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "stream_out"))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = spark.read.parquet(str(tmp_path / "stream_out"))
    want = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    # watermark closes all windows strictly before max(ts) - 1min; the
    # final (still-open) windows are withheld in append mode
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0, "stream emitted a row batch never would"


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """session_window in a real micro-batch run (append mode + watermark)
    equals the batch session_window result for all closed sessions."""
    from flink_kafka_replicator_spark.io import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(str(tmp_path / "sess_in"))

    def sessionize(df):
        return (
            df.groupBy(
                F.session_window("ts", "10 minutes").alias("w"), F.col("user_id")
            )
            .agg(F.count("*").alias("n_events"))
            .select(
                F.col("w.start").alias("session_start"),
                "user_id",
                "n_events",
            )
        )

    stream = sessionize(
        spark.readStream.schema(ev.schema)
        .parquet(str(tmp_path / "sess_in"))
        .withWatermark("ts", "1 minute")
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", str(tmp_path / "sess_out"))
        .option("checkpointLocation", str(tmp_path / "sess_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = {
        (r.session_start, r.user_id, r.n_events)
        for r in spark.read.parquet(str(tmp_path / "sess_out")).collect()
    }
    batch = {
        (r.session_start, r.user_id, r.n_events) for r in sessionize(ev).collect()
    }
    # append mode emits only watermark-closed sessions; everything emitted
    # must match the batch result, and most sessions should have closed
    assert got <= batch
    assert len(got) >= 0.8 * len(batch), f"{len(got)}/{len(batch)} sessions closed"


def test_streaming_sliding_window_matches_batch(spark, tmp_path):
    """Sliding windows in a real micro-batch run equal the batch result
    for watermark-closed windows."""
    from flink_kafka_replicator_spark.io import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.parquet(str(tmp_path / "slide_in"))

    def slide(df):
        return (
            df.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
        )

    q = (
        slide(
            spark.readStream.schema(ev.schema)
            .parquet(str(tmp_path / "slide_in"))
            .withWatermark("ts", "1 minute")
        )
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "slide_out"))
        .option("checkpointLocation", str(tmp_path / "slide_ck"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    drain(q)
    got = {
        (r.window_start, r.n_events)
        for r in spark.read.parquet(str(tmp_path / "slide_out")).collect()
    }
    batch = {(r.window_start, r.n_events) for r in slide(ev).collect()}
    assert got <= batch
    assert len(got) >= 0.8 * len(batch), f"{len(got)}/{len(batch)} windows closed"


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """True late-data drop through a real micro-batch run, not the batch
    simulation: run 1 (availableNow) advances the watermark past the
    [00:00, 00:10) window and append-emits it; run 2 against the SAME
    checkpoint delivers a late event inside that closed window plus an
    on-time event. The late row must be dropped — the emitted count for
    the closed window stays at the on-time count, while the batch query
    over the full fixture would count the late row."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    src, out, ck = (str(tmp_path / d) for d in ("src", "out", "ck"))
    schema = "ts timestamp, user_id int"

    def run(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(schema)
            .parquet(src)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("window_start"), "n_events")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        drain(q)
    on_time = [(base + dt.timedelta(minutes=m), 1) for m in (1, 2, 3)] + [
        (base + dt.timedelta(minutes=60), 1)
    ]
    run(on_time)
    first = {
        (r.window_start, r.n_events)
        for r in spark.read.parquet(out).collect()
    }
    assert (base, 3) in first, f"window [0,10) should have closed: {first}"

    # run 2: one LATE row in the closed window + one on-time row
    run([(base + dt.timedelta(minutes=5), 9), (base + dt.timedelta(minutes=70), 1)])
    got = [r for r in spark.read.parquet(out).collect() if r.window_start == base]
    assert [(r.window_start, r.n_events) for r in got] == [(base, 3)], (
        f"late row must be dropped, not re-emitted or re-counted: {got}"
    )
    # the batch query over the same (now full) fixture counts the late row
    batch = (
        spark.read.parquet(src)
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("w.start") == base)
        .collect()
    )
    assert batch[0].n_events == 4, "fixture sanity: batch sees the late row"


def test_metrics_listener_counts_every_replicated_row(spark, tmp_path, envelope_dir):
    """The progress listener must account for every input row of a
    replication run (the Flink-dashboard-equivalent observability)."""
    import time as _time

    from flink_kafka_replicator_spark.streaming.metrics import (
        ReplicationMetricsListener,
    )

    listener = ReplicationMetricsListener()
    spark.streams.addListener(listener)
    try:
        cfg = ReplicateConfig(topics=".*")
        q = start_file_replication(
            spark, cfg, envelope_dir, str(tmp_path / "m_out"), str(tmp_path / "m_ck")
        )
        drain(q)
        # listener events are delivered asynchronously after termination
        for _ in range(50):
            if listener.total_rows >= 50:
                break
            _time.sleep(0.2)
        assert listener.total_rows == 50, f"saw {listener.total_rows} rows"
        assert listener.total_batches >= 1
        assert listener.throughput_rows_per_sec() > 0
    finally:
        spark.streams.removeListener(listener)
