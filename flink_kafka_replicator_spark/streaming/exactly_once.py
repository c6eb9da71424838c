"""Exactly-once sink: foreachBatch + batch-id idempotence ledger.

Spark's Kafka sink is at-least-once; the reference's exactly-once mode
(two-phase-commit producer bound to checkpoints, reference:
FlinkKafkaReplicator.java:124 EXACTLY_ONCE semantic) is rebuilt here
the Structured-Streaming way (SURVEY.md §4.3):

  - the streaming engine guarantees ``foreachBatch`` is invoked with a
    monotonically increasing ``batch_id``, replayed with the SAME id
    after failure;
  - the writer consults a committed-batch ledger and skips batches it
    has already committed → replays become no-ops → end-to-end
    exactly-once for any transactional/atomic downstream write.

The downstream "transaction" here is pluggable: the bundled
ParquetBatchWriter commits atomically via write-to-staging + rename,
which is the broker-free stand-in for a Kafka transactional producer
(send all + commitTransaction). A real Kafka writer plugs in behind
the same BatchWriter protocol.
"""

from __future__ import annotations

import os
import shutil
import sys
import zipimport
from typing import Protocol

from pyspark.sql import DataFrame


class BatchWriter(Protocol):
    def write(self, df: DataFrame, batch_id: int) -> None:
        """Atomically publish one micro-batch. Must either fully commit
        or leave no visible output (the transactional contract)."""
        ...


class ParquetBatchWriter:
    """Atomic per-batch parquet publication: write to a staging dir,
    rename into place. Rename is the commit point."""

    def __init__(self, output_dir: str):
        self.output_dir = output_dir

    def write(self, df: DataFrame, batch_id: int) -> None:
        final = os.path.join(self.output_dir, f"batch={batch_id}")
        staging = os.path.join(self.output_dir, f".staging-{batch_id}")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        df.write.mode("overwrite").parquet(staging)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(staging, final)


class IdempotentBatchSink:
    """The foreachBatch function with a committed-batch ledger.

    Ledger = one empty file per committed batch id, created *after* the
    writer's atomic commit. On replay (same batch_id) the write is
    skipped — the semantics of the reference's checkpoint-committed
    transactions, without requiring broker transactions.
    """

    def __init__(self, writer: BatchWriter, ledger_dir: str):
        # The marker files are plain local-filesystem writes from the
        # DRIVER. A remote URI (hdfs://, s3a://) would silently create a
        # literal local directory named "hdfs:/..." and the ledger would
        # not survive driver failover — replayed batches re-committed,
        # duplicates under an exactly-once label. Reject loudly; on a
        # cluster use the control-topic ledger
        # (KafkaTransactionalBatchWriter control_topic=...), which is
        # atomic with the data anyway.
        scheme, sep, rest = ledger_dir.partition("://")
        if sep and scheme != "file":
            raise ValueError(
                f"ledger_dir {ledger_dir!r} has a remote URI scheme; the "
                "file ledger is local-driver-only — use the control-topic "
                "ledger for cluster deployments"
            )
        if sep:
            ledger_dir = rest if rest.startswith("/") else "/" + rest
        self.writer = writer
        self.ledger_dir = ledger_dir
        os.makedirs(ledger_dir, exist_ok=True)

    def _marker(self, batch_id: int) -> str:
        return os.path.join(self.ledger_dir, f"committed-{batch_id}")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def __call__(self, df: DataFrame, batch_id: int) -> None:
        if self.is_committed(batch_id):
            return  # replayed batch → exactly-once skip
        self.writer.write(df, batch_id)
        with open(self._marker(batch_id), "w") as f:
            f.write("")


class KafkaTransactionalBatchWriter:
    """BatchWriter publishing each micro-batch through per-partition
    Kafka transactions (the reference's EXACTLY_ONCE producer semantic,
    FlinkKafkaReplicator.java:124, rebuilt for Spark's execution model).

    Each task opens its own transactional producer with a
    ``transactional.id`` derived from (prefix, batch_id, partition_id).
    Stable ids across batch replays mean a retried task *fences* any
    zombie producer from the failed attempt (broker bumps the producer
    epoch on init_transactions and aborts its in-flight transaction), so
    a partially-failed batch leaves no uncommitted garbage and the retry
    is clean. Combined with IdempotentBatchSink's ledger, replayed
    batches are skipped entirely.

    Delivery-semantics (vs Flink's 2PC): Flink commits transactions on
    checkpoint-complete and re-commits them from checkpoint state on
    recovery, closing the crash window between data commit and progress
    record. Here that window is closed by the CONTROL-TOPIC ledger:
    with ``control_topic`` set, every partition's transaction also
    produces one marker record (key = ``b<batch>-p<partition>``) to the
    control topic — marker and data commit atomically, by definition of
    the transaction. ``committed_reader()`` (a read-committed scan of
    the control topic, run on the driver at batch start) tells a replay
    exactly which partitions already committed, and those tasks no-op.
    A crash between two partitions' commits therefore re-runs only the
    uncommitted partitions: zero duplicates for read-committed
    consumers, with no atomicity assumption linking the file ledger to
    the data. (The file ledger remains as the fast whole-batch skip.)
    The control topic needs log retention covering the replay horizon;
    compaction on key keeps it tiny.

    ``producer_factory(transactional_id) -> producer`` must be a
    top-level picklable callable returning an object with the
    confluent-kafka transactional API: ``init_transactions``,
    ``begin_transaction``, ``produce(topic, value=…, key=…,
    partition=…, timestamp=…, headers=…)``, ``commit_transaction``,
    ``abort_transaction``. The real implementation is
    :func:`confluent_producer_factory` (import-gated — the library is
    optional); tests inject a fake.
    """

    def __init__(
        self,
        producer_factory,
        txn_prefix: str = "fkr-eo",
        transactional: bool = True,
        control_topic: str | None = None,
        committed_reader=None,
    ):
        self.producer_factory = producer_factory
        self.txn_prefix = txn_prefix
        # transactional=False degrades to a plain flushed producer — the
        # at-least-once semantic, but unlike Spark's built-in Kafka sink
        # it still forwards record timestamps (the built-in sink has no
        # timestamp column; reference KafkaMessageSerializationSchema
        # passes them through).
        self.transactional = transactional
        # control-topic ledger: marker record produced INSIDE each
        # partition's transaction; committed_reader() -> set[str] of
        # marker keys, consulted at batch start so replayed tasks whose
        # transaction already committed become no-ops.
        self.control_topic = control_topic
        self.committed_reader = committed_reader

    def write(self, df: DataFrame, batch_id: int) -> None:
        factory, prefix = self.producer_factory, self.txn_prefix
        transactional = self.transactional
        control_topic = self.control_topic
        # only this batch's markers ride in the task closure: the reader
        # returns every marker the stream ever committed, which would
        # grow the pickled closure by one entry per partition per
        # trigger. The trailing "-" keeps b1- from matching b10-p0.
        batch_prefix = f"b{batch_id}-"
        markers = (
            self.committed_reader()
            if (control_topic and self.committed_reader is not None)
            else ()
        )
        committed: frozenset[str] = frozenset(
            m for m in markers if m.startswith(batch_prefix)
        )
        cols = df.columns
        has_partition = "partition" in cols
        has_timestamp = "timestamp" in cols
        has_headers = "headers" in cols

        def send_partition(rows) -> None:
            try:
                _send_partition(rows)
            finally:
                _drop_zip_importers()

        def _send_partition(rows) -> None:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            marker = f"b{batch_id}-p{pid}"
            if marker in committed:
                return  # this partition's transaction already committed
            producer = factory(f"{prefix}-{marker}")
            poll = getattr(producer, "poll", lambda timeout: None)
            if transactional:
                producer.init_transactions()
                producer.begin_transaction()

            def produce_with_backpressure(**kw) -> None:
                # librdkafka's local queue (default 100k msgs) fills far
                # below one partition's row count at scale; poll() drains
                # delivery callbacks and frees queue slots
                while True:
                    try:
                        producer.produce(**kw)
                        return
                    except BufferError:
                        poll(0.5)

            try:
                sent = 0
                for row in rows:
                    partition = row["partition"] if has_partition else None
                    ts = row["timestamp"] if has_timestamp else None
                    headers = row["headers"] if has_headers else None
                    produce_with_backpressure(
                        topic=row["topic"],
                        key=bytes(row["key"]) if row["key"] is not None else None,
                        value=bytes(row["value"]) if row["value"] is not None else None,
                        partition=int(partition) if partition is not None else -1,
                        timestamp=(
                            int(ts.timestamp() * 1000) if ts is not None else 0
                        ),
                        headers=(
                            [(h["key"], bytes(h["value"])) for h in headers]
                            if headers is not None
                            else None
                        ),
                    )
                    sent += 1
                    if sent % 10_000 == 0:
                        poll(0)
                if transactional and control_topic is not None:
                    # the ledger marker rides in the SAME transaction:
                    # data and marker become visible atomically
                    produce_with_backpressure(
                        topic=control_topic,
                        key=marker.encode(),
                        value=b"committed",
                        partition=-1,
                        timestamp=0,
                        headers=None,
                    )
            except Exception:
                if transactional:
                    producer.abort_transaction()
                raise
            if transactional:
                producer.commit_transaction()
            else:
                flush = getattr(producer, "flush", lambda: None)
                flush()

        df.foreachPartition(send_partition)


def _drop_zip_importers() -> None:
    """Forget this worker's cached zip importers at task exit.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``). On CPython
    3.11 that makes each ``zipimport.zipimporter`` in
    ``sys.path_importer_cache`` re-read its whole archive directory, once
    per importer instance: a reused worker holds one per imported
    subpackage of ``pyspark.zip``, plus the py4j zip, the spark-core jar
    and the shipped engine zip, and re-reading them all cost ~80 ms of
    every task on a 4-vCPU VM. (Later CPython makes the refresh lazy,
    gh-103200.)
    Dropping the entries is safe: the path importer cache is rebuilt on
    demand, and a later import from one of these archives makes one new
    importer from the process-wide ``zipimport._zip_directory_cache``
    without reading the archive again.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def confluent_producer_factory(bootstrap_servers: str, **props):
    """Factory-of-factories for the real confluent-kafka producer.
    Import-gated: the container has no Kafka client library; on a real
    deployment `pip install confluent-kafka` enables this path."""
    try:
        from confluent_kafka import Producer  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "confluent-kafka is not installed; KafkaTransactionalBatchWriter "
            "requires it (or inject a custom producer_factory)"
        ) from exc

    def factory(transactional_id: str):
        return Producer(
            {
                "bootstrap.servers": bootstrap_servers,
                "transactional.id": transactional_id,
                "enable.idempotence": True,
                **props,
            }
        )

    return factory


def confluent_committed_reader(bootstrap_servers: str, control_topic: str, **props):
    """``committed_reader`` for the real broker: a read-committed scan
    of the control topic from the beginning, returning the set of
    marker keys. Aborted transactions' markers are invisible by
    isolation level, so the set contains exactly the durably committed
    (batch, partition) pairs. Import-gated like the producer factory."""
    try:
        from confluent_kafka import Consumer, TopicPartition  # type: ignore[import-not-found]
    except ImportError as exc:  # pragma: no cover
        raise NotImplementedError(
            "confluent-kafka is not installed; inject a custom "
            "committed_reader (or omit control_topic)"
        ) from exc

    def reader() -> set[str]:  # pragma: no cover — needs live brokers
        consumer = Consumer(
            {
                "bootstrap.servers": bootstrap_servers,
                "group.id": f"{control_topic}-ledger-reader",
                "isolation.level": "read_committed",
                "auto.offset.reset": "earliest",
                "enable.auto.commit": False,
                **props,
            }
        )
        try:
            md = consumer.list_topics(control_topic, timeout=10).topics.get(
                control_topic
            )
            if md is None or md.error is not None:
                return set()
            parts = [TopicPartition(control_topic, p) for p in md.partitions]
            ends = {
                p.partition: consumer.get_watermark_offsets(p, timeout=10)[1]
                for p in parts
            }
            consumer.assign(parts)
            seen: set[str] = set()
            done = {p: ends[p] == 0 for p in ends}
            while not all(done.values()):
                msg = consumer.poll(1.0)
                if msg is None or msg.error():
                    continue
                if msg.key() is not None:
                    seen.add(msg.key().decode())
                if msg.offset() + 1 >= ends[msg.partition()]:
                    done[msg.partition()] = True
            return seen
        finally:
            consumer.close()

    return reader


def start_exactly_once_file_replication(
    spark,
    cfg,
    input_path: str,
    output_path: str,
    checkpoint_location: str,
):
    """Exactly-once variant of the file replication harness."""
    from ..sources.files import envelope_stream
    from .replicate import build_replication

    cfg.validate()
    df = build_replication(spark, cfg, source_df=envelope_stream(spark, input_path))
    sink = IdempotentBatchSink(
        ParquetBatchWriter(output_path),
        ledger_dir=os.path.join(checkpoint_location, "_ledger"),
    )
    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_location)
        .trigger(availableNow=True)
        .start()
    )


def start_exactly_once_kafka_replication(
    spark,
    cfg,
    checkpoint_location: str,
    producer_factory=None,
    source_df=None,
    available_now: bool = False,
    control_topic: str | None = None,
    committed_reader=None,
):
    """Exactly-once replication to Kafka: the reference's
    ``--exactly-once`` mode (FlinkKafkaReplicator.java:124 EXACTLY_ONCE),
    as foreachBatch → per-partition transactional producers behind the
    batch-id ledger.

    ``source_df`` injects a non-Kafka envelope stream (the broker-free
    test harness drives the REAL sink path with a fake producer
    factory); production omits it and reads from the configured Kafka
    source. ``producer_factory`` defaults to the confluent-kafka one.
    """
    from .replicate import build_replication

    cfg.validate()
    df = build_replication(spark, cfg, source_df=source_df)
    if producer_factory is None:
        servers = cfg.producer_props.get("bootstrap.servers")
        if not servers:
            raise ValueError("producer.bootstrap.servers is required")
        props = {
            k: v for k, v in cfg.producer_props.items() if k != "bootstrap.servers"
        }
        # reference injects transaction.timeout.ms into producer props
        # (FlinkKafkaReplicator.java:43,90,106)
        props["transaction.timeout.ms"] = str(cfg.transaction_timeout_ms)
        producer_factory = confluent_producer_factory(servers, **props)
        if control_topic is not None and committed_reader is None:
            committed_reader = confluent_committed_reader(servers, control_topic)
    sink = IdempotentBatchSink(
        KafkaTransactionalBatchWriter(
            producer_factory,
            control_topic=control_topic,
            committed_reader=committed_reader,
        ),
        ledger_dir=os.path.join(checkpoint_location, "_ledger"),
    )
    writer = df.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_location
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(
            processingTime=f"{cfg.checkpoint_interval_ms} milliseconds"
        )
    return writer.start()
