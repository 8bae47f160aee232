"""Kafka source adapters — S1/S2 parity with the reference.

Reference shape (sparkpykafkajoin.py:48-54, :136-142;
sparkpyrediskafkastreamtoconsole.py:46-52; sparkpyeventskafkastreamtoconsole.py:11-17):

    spark.readStream.format("kafka")
         .option("kafka.bootstrap.servers", "localhost:9092")
         .option("subscribe", "redis-server")
         .option("startingOffsets", "earliest")
         .load()

The engine keeps the identical API (the spark-sql-kafka-0-10 package is the
same in Spark 3/4, Scala 2.13) but makes topic/bootstrap/offsets explicit
config, adds maxOffsetsPerTrigger (absent in the reference — without it the
first micro-batch after a long gap reads the whole topic backlog at once),
and standardizes the binary->string cast projection (P1).

No broker exists in the build sandbox, so the wire-format tests replay the
same payloads through file/memory sources (tests/test_streaming.py); this
module is the production-cluster path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class KafkaSourceConfig:
    topic: str
    bootstrap_servers: str = "localhost:9092"
    starting_offsets: str = "earliest"
    # backpressure bound per micro-batch; None = unbounded (reference
    # behavior — fine for a fresh topic, dangerous on a deep backlog)
    max_offsets_per_trigger: int | None = 100_000


# The reference's two topics (sparkpykafkajoin.py:52, :140).
REDIS_SERVER = KafkaSourceConfig(topic="redis-server")
STEDI_EVENTS = KafkaSourceConfig(topic="stedi-events")


def kafka_stream(spark: SparkSession, cfg: KafkaSourceConfig) -> DataFrame:
    """Streaming Kafka scan with the reference's options + backpressure.
    Output schema is the fixed Kafka source schema (key/value binary +
    topic/partition/offset/timestamp metadata).

    At scale: one Spark input partition per Kafka partition; parallelism is
    sized by the topic's partition count, not by Spark config.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", cfg.bootstrap_servers)
        .option("subscribe", cfg.topic)
        .option("startingOffsets", cfg.starting_offsets)
    )
    if cfg.max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(cfg.max_offsets_per_trigger))
    return reader.load()


def cast_kv_string(df: DataFrame) -> DataFrame:
    """P1: the binary->string cast projection every reference script opens
    with (sparkpykafkajoin.py:57, :146)."""
    return df.selectExpr(
        "cast(key as string) as key",
        "cast(value as string) as value",
        "timestamp as ts",
    )
