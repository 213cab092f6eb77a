"""Structured Streaming surface.

The reference runs as a per-record transform inside MirrorMaker2's
replication flow — an unbounded Kafka stream (README.md:10-26,
AvroTransform.java:118-214).  This package is the Spark-native expression
of that streaming side:

- ``pipeline``  — the decode projection (O4-O17) over ``readStream``
  sources, plus the harness helpers: file-based streams,
  ``drain_to_memory`` (run a finite stream to a memory sink, stop it,
  return the table) and ``run_stream_to_memory`` (the same, query left
  live).  ``queries.streaming_queries.replay_shards`` replays ordered
  shard files one per trigger.
- ``windows``   — event-time tumbling/sliding windowed aggregations with
  watermarks (late-data discipline the reference lacks but any consumer
  of the decoded stream needs).
- ``sessions``  — session windows: the native ``session_window`` plan and
  a custom stateful operator via ``applyInPandasWithState`` for semantics
  the built-in can't express.

Everything here is the streaming twin of a batch query in
``queries/events.py`` — same column names, same integer-µs time
discipline, so batch output is the correctness oracle for the stream.
"""

from byte_convert_avro_spark.streaming.dedup import dedup_stream
from byte_convert_avro_spark.streaming.pipeline import (
    decode_stream,
    drain_to_memory,
    run_stream_to_memory,
    stream_records,
    use_rocksdb_state,
)
from byte_convert_avro_spark.streaming.rank_sketch import streaming_rank_sketch
from byte_convert_avro_spark.streaming.sessions import (
    running_user_totals,
    sessionize_stateful,
    sessionize_stream,
)
from byte_convert_avro_spark.streaming.windows import (
    hourly_tumbling_stream,
    sliding_window_stream,
)

__all__ = [
    "decode_stream",
    "dedup_stream",
    "drain_to_memory",
    "run_stream_to_memory",
    "stream_records",
    "hourly_tumbling_stream",
    "sliding_window_stream",
    "sessionize_stream",
    "running_user_totals",
    "sessionize_stateful",
    "streaming_rank_sketch",
    "use_rocksdb_state",
]
