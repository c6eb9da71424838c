"""Kafka source/sink builders (Structured Streaming).

Maps the reference's consumer/producer construction onto Spark's Kafka
connector options:

  - regex topic subscription → ``subscribePattern``
    (reference: FlinkKafkaReplicator.java:110-118 builds a
    FlinkKafkaConsumer from a Pattern)
  - start position earliest/latest → ``startingOffsets``
    (reference: FlinkKafkaReplicator.java:114-118)
  - headers propagation → ``includeHeaders``
  - consumer./producer. property prefix split → ``kafka.``-prefixed
    options on source/sink respectively
    (reference: FlinkKafkaReplicator.java:104-106,168-177)

The builders only assemble readers/writers; they do not connect, so
they are unit-testable without a broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..model import ENVELOPE_COLUMNS

KAFKA_FORMAT = "kafka"


def kafka_source_reader(
    spark: SparkSession,
    topics_pattern: str,
    bootstrap_servers: str,
    from_latest: bool = False,
    consumer_props: dict[str, str] | None = None,
    max_offsets_per_trigger: int | None = None,
):
    """DataStreamReader for the replication source.

    ``startingOffsets`` applies to *new* queries only; a restart resumes
    from the checkpoint — same contract as the reference's
    setStartFromLatest/Earliest under Flink checkpointing.
    """
    reader = (
        spark.readStream.format(KAFKA_FORMAT)
        .option("subscribePattern", topics_pattern)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("startingOffsets", "latest" if from_latest else "earliest")
        .option("includeHeaders", "true")
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    for k, v in (consumer_props or {}).items():
        reader = reader.option(f"kafka.{k}", v)
    return reader


def kafka_sink_writer(
    df: DataFrame,
    bootstrap_servers: str,
    checkpoint_location: str,
    producer_props: dict[str, str] | None = None,
):
    """DataStreamWriter for the replication sink (at-least-once — the
    reference's default semantic, FlinkKafkaReplicator.java:124; the
    exactly-once path goes through streaming.exactly_once instead).

    Known divergence: Spark's built-in Kafka sink has no timestamp
    column, so target records get produce-time timestamps, while the
    reference forwards the source timestamp
    (KafkaMessageSerializationSchema.java:16-23). When event-time
    parity on the target matters, use the foreachBatch writer
    (``KafkaTransactionalBatchWriter(..., transactional=False)``), which
    forwards timestamps in both delivery modes."""
    writer = (
        df.writeStream.format(KAFKA_FORMAT)
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("checkpointLocation", checkpoint_location)
    )
    for k, v in (producer_props or {}).items():
        writer = writer.option(f"kafka.{k}", v)
    return writer


def select_envelope(df: DataFrame, preserve_partitioning: bool = True) -> DataFrame:
    """Project the sink-facing envelope.

    Keeping ``partition`` routes each record to the same partition id on
    the target; dropping it delegates to Kafka's DefaultPartitioner
    (hash of key) — exactly the two modes of the reference serializer
    (reference: KafkaMessageSerializationSchema.java:16-24, ignorePartition
    flag :9-13).
    """
    cols = [c for c in ENVELOPE_COLUMNS if c != "offset"]
    if not preserve_partitioning:
        cols = [c for c in cols if c != "partition"]
    return df.select(*[c for c in cols if c in df.columns])
