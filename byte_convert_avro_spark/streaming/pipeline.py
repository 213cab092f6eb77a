"""Streaming decode pipeline (O1 → O4-O17 → O18).

The reference's SMT is a stateless per-record map, so the batch decode
projection (``decoder.decode_records``) is reused verbatim on a streaming
DataFrame — Structured Streaming runs the identical narrow plan per
micro-batch with zero state and zero shuffle (SURVEY.md §3: "no exchange
anywhere in the faithful pipeline").

Scale notes: on a real cluster the source is
``spark.readStream.format("kafka")`` with one task per topic-partition;
decode is a narrow projection so throughput scales linearly with
partitions, and the only non-codegen stage is the dynamic-schema Python
UDF (Arrow-batched, per-executor schema cache).  The file-based helpers
here exist because this container has no Kafka broker — they drive the
same unchanged plan from parquet fixtures in Kafka-record shape.

Harness: ``drain_to_memory`` is the one way to run a finite stream to
completion (memory sink, drain, stop, return the table);
``run_stream_to_memory`` hands back the live query for callers that feed
it step by step.  Shard replay (``replay_shards``) lives next to the
streaming queries that use it (``queries/streaming_queries.py``).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from byte_convert_avro_spark.engine import KAFKA_RECORD_SCHEMA, Engine


#: Spark ships both providers in core; RocksDB keeps state off-heap on
#: local SSD with incremental checkpointing — the posture for large state
#: (billions of keys) where the default in-memory HDFS-backed provider
#: would blow executor heap and re-upload full snapshots.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
HDFS_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
)


def use_rocksdb_state(spark: SparkSession, enable: bool = True) -> None:
    """Switch the state store provider for streaming queries started AFTER
    this call (existing queries keep the provider they started with —
    Spark pins it in the checkpoint).  Idempotent; ``enable=False``
    restores the default in-memory provider."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        ROCKSDB_PROVIDER if enable else HDFS_PROVIDER,
    )


def stream_records(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based stream of Kafka-shaped parquet records (O1 test harness).

    ``max_files_per_trigger=1`` turns each fixture file into its own
    micro-batch — the lever the watermark/late-data tests use to control
    event-time progression batch by batch.
    """
    reader = spark.readStream.schema(KAFKA_RECORD_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def decode_stream(engine: Engine, records: DataFrame) -> DataFrame:
    """O4-O17 over an unbounded stream: the batch transform, unchanged."""
    return engine.transform(records)


def run_stream_to_memory(
    df: DataFrame,
    *,
    name: str | None = None,
    output_mode: str = "append",
) -> tuple[StreamingQuery, str]:
    """Run a streaming DataFrame to a memory sink and drain all available
    input.  Returns (query, table_name); caller reads
    ``spark.table(table_name)`` then ``query.stop()``.

    Memory sink is the test stand-in for O18 (``writeStream.format("kafka")``
    on a cluster); ``processAllAvailable`` gives deterministic batch
    boundaries for assertions.
    """
    table = name or f"mem_{uuid.uuid4().hex[:12]}"
    q = (
        df.writeStream.format("memory")
        .queryName(table)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q, table


def drain_to_memory(df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Run a finite streaming DataFrame to a memory sink, drain it, stop
    the query and return the sink's table — the one-shot harness every
    oracle-gated streaming query uses.  A query whose drain raises has
    already terminated, so there is nothing left to stop on that path."""
    q, table = run_stream_to_memory(df, output_mode=output_mode)
    q.stop()
    return df.sparkSession.table(table)
