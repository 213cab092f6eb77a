"""Kafka-shaped record sources (O1).

One ConnectRecord ≙ one row of ``KAFKA_RECORD_SCHEMA`` (SURVEY.md §1.1) —
the same columns Spark's Kafka source produces, so pipelines written
against fixtures run unchanged against a broker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from byte_convert_avro_spark.engine import KAFKA_RECORD_SCHEMA


def kafka_records(
    spark: SparkSession, bootstrap: str, topics: list[str] | str, **options: str
) -> DataFrame:
    """Batch Kafka source (needs the spark-sql-kafka package on a cluster;
    this container has no broker — use :func:`kafka_records_from_parquet`)."""
    subscribe = topics if isinstance(topics, str) else ",".join(topics)
    reader = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", subscribe)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_record_stream(
    spark: SparkSession, bootstrap: str, topics: list[str] | str, **options: str
) -> DataFrame:
    """Streaming Kafka source.  At scale: one task per topic-partition;
    decode stays narrow, so throughput is linear in partitions."""
    subscribe = topics if isinstance(topics, str) else ",".join(topics)
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", subscribe)
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_records_from_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Fixture-backed batch record source: parquet files in Kafka record
    shape.  The broker-less test/dev path — identical schema, identical
    plans; its streaming twin is ``streaming.stream_records``."""
    return spark.read.schema(KAFKA_RECORD_SCHEMA).parquet(path)


#: the JSONL wire shape: base64 for the binary columns, epoch-ms long for
#: the timestamp (JSON has no binary/timestamp types)
_JSONL_SCHEMA = (
    "key_b64 string, value_b64 string, topic string, partition int, "
    "offset bigint, timestamp_ms bigint, timestampType int"
)


def _from_jsonl_shape(df: DataFrame) -> DataFrame:
    from pyspark.sql import functions as F

    return df.select(
        F.unbase64("key_b64").alias("key"),
        F.unbase64("value_b64").alias("value"),
        "topic",
        "partition",
        "offset",
        F.timestamp_millis("timestamp_ms").alias("timestamp"),
        "timestampType",
    )


def kafka_records_from_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSON-lines record source — the interchange format for Kafka dumps
    (``kcat -e`` style exports, replay fixtures, cross-system handoffs):
    one JSON object per line with base64-encoded ``key_b64``/``value_b64``
    and an epoch-ms ``timestamp_ms``.  Decodes to the exact
    ``KAFKA_RECORD_SCHEMA`` shape, so every pipeline downstream (decode
    engine, streaming jobs) runs unchanged.  ``unbase64``/
    ``timestamp_millis`` are native expressions — the conversion stays
    inside whole-stage codegen, and the JSON parse itself is Spark's
    vectorized JSON reader.  Scale: text-file splits parallelize like any
    line format; prefer parquet fixtures when round-tripping internally
    (base64 costs ~33% size).  Batch only, like the parquet source."""
    return _from_jsonl_shape(spark.read.schema(_JSONL_SCHEMA).json(path))


def write_records_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Export Kafka-shaped records to the JSONL interchange shape (the
    inverse of :func:`kafka_records_from_jsonl`)."""
    from pyspark.sql import functions as F

    (
        df.select(
            F.base64("key").alias("key_b64"),
            F.base64("value").alias("value_b64"),
            "topic",
            "partition",
            "offset",
            F.unix_millis("timestamp").alias("timestamp_ms"),
            "timestampType",
        )
        .write.mode(mode)
        .json(path)
    )
