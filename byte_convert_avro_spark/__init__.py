"""byte_convert_avro_spark — a PySpark-native engine with the query and
data-processing capabilities of ``HeyImAllan/byte-convert-avro``.

The reference is a Kafka Connect Single Message Transform (SMT) that decodes
Confluent-wire-format Avro payloads into self-describing JSON envelopes
(reference: ``src/main/java/com/ing/eventbus/connect/schema/converters/
AvroTransform.java``).  This package re-expresses that dataflow Spark-first:

- :mod:`.wire`          — Confluent wire-format column expressions (O8-O10, O12)
- :mod:`.avro`          — pure-Python Avro schema/binary/JSON codec (O13, O14)
- :mod:`.schema_store`  — schema-id resolution with per-executor LRU (O11)
- :mod:`.decoder`       — Arrow-batched decode + envelope projection (O13-O16)
- :mod:`.engine`        — config surface + batch/streaming pipelines (O2-O7, O17-O20)
- :mod:`.operators`     — analytics/LLM-data-pipeline operators (dedup,
  similarity, text, multimodal, as-of, skew mitigation)
- :mod:`.functions`     — curated pure-Catalyst column-function library
- :mod:`.sources`       — Kafka-shaped record sources + partitioned/bucketed sinks
- :mod:`.streaming`     — Structured Streaming pipeline, watermarked windows,
  stateful sessionization
- :mod:`.plans`         — physical-plan audit tooling (pushdown/pruning/
  exchange/join-strategy assertions)
- :mod:`.queries`       — named queries + DuckDB oracle SQL (driver contract)

Everything here derives from public knowledge only: the Apache Avro
specification, the Apache Spark / PySpark API, and the reference repo's
observable behavior.  No code is copied from the reference (GPL-3).
"""

from pyspark import TaskContext

from byte_convert_avro_spark import worker_env
from byte_convert_avro_spark.engine import Engine, EngineConfig

if TaskContext.get() is not None:  # in a Python worker; the driver keeps the stdlib
    worker_env.install()

__all__ = ["Engine", "EngineConfig"]
__version__ = "0.1.0"
