"""Sources & sinks.

The reference's only I/O is the Kafka source/sink pair provided by the
Connect runtime (O1/O18, README.md:16-26) — config, not code.  On Spark the
equivalents are one-liners (``spark.read[Stream].format("kafka")``), so this
package adds what a standing deployment actually needs around them:

- ``kafka_records`` / ``kafka_record_stream`` — the broker-backed
  Kafka-shaped record sources (batch and streaming), one schema
  everywhere (``engine.KAFKA_RECORD_SCHEMA``).
- ``kafka_records_from_parquet`` / ``kafka_records_from_jsonl`` — the
  broker-less batch fixture sources in the same shape (the streaming
  twin of a record fixture is ``streaming.stream_records``).
- ``write_partitioned`` / ``write_bucketed`` — scale-aware parquet sinks:
  date/topic partition layout for pruning, bucketing for shuffle-free
  co-located joins on a standing key.
"""

from byte_convert_avro_spark.sources.records import (
    kafka_record_stream,
    kafka_records,
    kafka_records_from_jsonl,
    kafka_records_from_parquet,
    write_records_jsonl,
)
from byte_convert_avro_spark.sources.sinks import write_bucketed, write_partitioned

__all__ = [
    "kafka_records",
    "kafka_record_stream",
    "kafka_records_from_jsonl",
    "kafka_records_from_parquet",
    "write_records_jsonl",
    "write_partitioned",
    "write_bucketed",
]
