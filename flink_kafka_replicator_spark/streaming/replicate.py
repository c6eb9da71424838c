"""The replication pipeline: regex source → identity → routed sink.

This is the Spark-native rebuild of the reference's whole job
(reference: FlinkKafkaReplicator.java:108-136): admin pre-flight, then
``addSource(consumer) → addSink(producer)``. Here: control-plane
check (streaming/admin.py) → ``readStream → writeStream`` with the
same eight behavioral options (reference option enum,
FlinkKafkaReplicator.java:48-62).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..sources.files import envelope_stream
from ..sources.kafka import kafka_sink_writer, kafka_source_reader, select_envelope

# reference defaults: FlinkKafkaReplicator.java:42-43
DEFAULT_CHECKPOINT_INTERVAL_MS = 1_000
DEFAULT_TRANSACTION_TIMEOUT_MS = 870_000


@dataclass
class ReplicateConfig:
    """The reference's CLI surface as a config object
    (reference: FlinkKafkaReplicator.java:48-62 option enum and
    README.adoc option table)."""

    topics: str  # regex, required (reference: required params :63-68)
    from_latest: bool = False
    create_topics: bool = False
    create_partitions: bool = False
    sync_properties: bool = False
    preserve_partitioning: bool = True  # --no-preserve-partitioning inverts
    exactly_once: bool = False
    checkpoint_interval_ms: int = DEFAULT_CHECKPOINT_INTERVAL_MS
    transaction_timeout_ms: int = DEFAULT_TRANSACTION_TIMEOUT_MS
    # micro-batch admission control — the Spark analog of Flink's
    # credit-based backpressure (SURVEY.md §4.2): caps records ingested
    # per trigger so a backlogged source can't produce an unbounded batch
    max_offsets_per_trigger: int | None = None
    consumer_props: dict[str, str] = field(default_factory=dict)
    producer_props: dict[str, str] = field(default_factory=dict)

    def validate(self) -> None:
        """Cross-validation mirroring FlinkKafkaReplicator.java:92-96:
        in exactly-once mode the transaction timeout must cover at least
        one full checkpoint interval."""
        if self.exactly_once and self.transaction_timeout_ms < self.checkpoint_interval_ms:
            raise ValueError(
                "transaction-timeout-ms must be >= checkpoint-interval-ms "
                f"({self.transaction_timeout_ms} < {self.checkpoint_interval_ms})"
            )
        if not self.topics:
            raise ValueError("topics regex is required")


def replication_transform(df: DataFrame, cfg: ReplicateConfig) -> DataFrame:
    """The data-plane transform: identity over the envelope, with the
    partition column kept or dropped per routing mode (reference:
    KafkaMessageSerializationSchema.java:16-24)."""
    return select_envelope(df, preserve_partitioning=cfg.preserve_partitioning)


def build_replication(
    spark: SparkSession,
    cfg: ReplicateConfig,
    source_df: DataFrame | None = None,
) -> DataFrame:
    """Assemble the streaming DataFrame for the replication job.

    ``source_df`` overrides the Kafka source (tests inject a file-based
    envelope stream); production resolves bootstrap servers from
    consumer_props like the reference's required
    ``consumer.bootstrap.servers``.

    With an injected source, topic selection is applied as an anchored
    regex filter on the ``topic`` column — the non-Kafka equivalent of
    ``subscribePattern`` (Kafka subscription full-matches topic names).
    """
    cfg.validate()
    if source_df is not None:
        from pyspark.sql import functions as F

        source_df = source_df.filter(
            F.col("topic").rlike(f"^(?:{cfg.topics})$")
        )
    if source_df is None:
        servers = cfg.consumer_props.get("bootstrap.servers")
        if not servers:
            raise ValueError("consumer.bootstrap.servers is required")
        props = {k: v for k, v in cfg.consumer_props.items() if k != "bootstrap.servers"}
        source_df = kafka_source_reader(
            spark,
            topics_pattern=cfg.topics,
            bootstrap_servers=servers,
            from_latest=cfg.from_latest,
            consumer_props=props,
            max_offsets_per_trigger=cfg.max_offsets_per_trigger,
        ).load()
    return replication_transform(source_df, cfg)


def start_file_replication(
    spark: SparkSession,
    cfg: ReplicateConfig,
    input_path: str,
    output_path: str,
    checkpoint_location: str,
    available_now: bool = True,
):
    """Broker-free replication run: file envelope stream → parquet sink.

    The test/backfill harness; identical dataflow to the Kafka path.
    ``available_now`` processes everything currently available then
    stops (bounded run); otherwise runs continuously with the
    configured checkpoint interval as the trigger period.
    """
    cfg.validate()
    df = build_replication(spark, cfg, source_df=envelope_stream(spark, input_path))
    writer = (
        df.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_location)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.checkpoint_interval_ms} milliseconds")
    return writer.start()


def start_kafka_replication(
    spark: SparkSession,
    cfg: ReplicateConfig,
    checkpoint_location: str,
):
    """At-least-once Kafka→Kafka replication through Spark's built-in
    Kafka sink (requires the Kafka connector package and live brokers;
    the file harness above covers the dataflow). That sink cannot be
    transactional, so an exactly-once config is refused here; it runs
    through ``start_exactly_once_kafka_replication``."""
    cfg.validate()
    if cfg.exactly_once:
        raise ValueError(
            "start_kafka_replication is at-least-once; run an exactly-once "
            "config through streaming.exactly_once."
            "start_exactly_once_kafka_replication"
        )
    df = build_replication(spark, cfg)
    servers = cfg.producer_props.get("bootstrap.servers")
    if not servers:
        raise ValueError("producer.bootstrap.servers is required")
    props = {k: v for k, v in cfg.producer_props.items() if k != "bootstrap.servers"}
    writer = kafka_sink_writer(
        df,
        bootstrap_servers=servers,
        checkpoint_location=checkpoint_location,
        producer_props=props,
    ).trigger(processingTime=f"{cfg.checkpoint_interval_ms} milliseconds")
    return writer.start()
