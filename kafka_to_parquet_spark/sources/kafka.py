"""Real Kafka source/sink builders (Structured Streaming).

Reference parity (d1eg0/kafka-to-parquet, src/main.rs):

- S1 per-partition streaming scan (main.rs:203-229, recv loop 236-270):
  Spark's Kafka source already runs one task per Kafka partition and
  computes per-partition offset ranges correctly — including the
  low/high watermark fetch the reference gets wrong (main.rs:193 always
  queries partition 0; we deliberately do not replicate that bug).
- S3 payload decode with null/invalid → "" (main.rs:240-247):
  ``decode_payload``.
- S6 offset tracking (main.rs:268 commits per-message *before* the
  batch is flushed, losing up to batch_size-1 rows on crash): replaced
  by checkpoint-based exactly-once progress — strictly stronger.

These builders are code-complete but broker-gated: the test container
has no Kafka broker and no spark-sql-kafka connector jar, so tests
exercise the identical DataFrame logic through the brokerless analog in
``kafka_analog.py`` (same columns as the Kafka source's fixed schema).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_to_parquet_spark.sources import kafka_analog

# The Kafka source's fixed schema (public Spark docs: Structured
# Streaming + Kafka integration), mirrored by kafka_analog.py.
KAFKA_COLUMNS = [
    "key",
    "value",
    "topic",
    "partition",
    "offset",
    "timestamp",
    "timestampType",
    "headers",
]


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    include_headers: bool = True,
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """S1: streaming scan of a topic, earliest offset (the reference's
    ``auto.offset.reset=smallest``, main.rs:212).

    ``max_offsets_per_trigger`` bounds each micro-batch — the closest
    Spark analog of the reference's count-based batching knob.
    Requires the spark-sql-kafka connector jar on the classpath.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("includeHeaders", str(include_headers).lower())
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def kafka_batch(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "earliest",
    ending_offsets: str = "latest",
) -> DataFrame:
    """Bounded (batch) read of a topic — what the reference approximates
    by draining from earliest and never stopping (main.rs:236)."""
    return (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("endingOffsets", ending_offsets)
        .load()
    )


def decode_payload(df: DataFrame) -> DataFrame:
    """S3 + P1: project to the decoded payload only, with the
    reference's null semantics — missing or invalid-UTF-8 payload
    becomes the empty string, and the column is non-nullable
    (main.rs:240-247; output schema REQUIRED, main.rs:113-117); the
    rule itself is :func:`kafka_analog.decode_payload`.
    """
    return df.select(kafka_analog.decode_payload(F.col("value")).alias("b"))


def write_kafka(df: DataFrame, brokers: str, topic: str) -> None:
    """Producer-side sink (reference produce(), main.rs:59-96):
    batch DataFrame with string/binary ``key``/``value`` → topic."""
    (
        df.selectExpr("CAST(key AS STRING) AS key", "CAST(value AS STRING) AS value")
        .write.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .save()
    )


def describe_source(spark: SparkSession, brokers: str, topic: str) -> DataFrame:
    """S2 analog (load_topic_properties, main.rs:156-201): partition
    count + min/max offsets per partition, computed correctly per
    partition (the reference queries partition 0 for every watermark,
    main.rs:193). Implemented as a bounded scan aggregation so it needs
    no admin-client API."""
    raw = kafka_batch(spark, brokers, topic)
    return raw.groupBy("partition").agg(
        F.min("offset").alias("low_watermark"),
        F.max("offset").alias("high_watermark"),
        F.count("*").alias("n_messages"),
    )
