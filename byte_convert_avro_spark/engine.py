"""Engine: configuration surface + batch/streaming entry points.

Mirrors the reference's ``configure(Map<String,?>)`` (O2,
AvroTransform.java:91-116) and topic-list parsing (O3, :286-314), then runs
the decode projection of ``decoder.py`` over batch DataFrames or Structured
Streaming DataFrames (the transform is a narrow, stateless projection, so
the same code path serves both — the SMT equivalently runs per record
inside MirrorMaker2, README.md:10-26).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from byte_convert_avro_spark.decoder import PERMISSIVE, decode_records
from byte_convert_avro_spark.schema_store import (
    HttpSchemaRegistry,
    LocalSchemaStore,
    SchemaStore,
)

DEFAULT_SCHEMA_CAPACITY = 100  # reference default (AvroTransform.java:49)

#: Kafka-source record shape (same columns Spark's Kafka source produces;
#: one ConnectRecord ≙ one row — SURVEY.md §1.1).
KAFKA_RECORD_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)


def parse_topics(spec: str | list[str] | dict[str, bool]) -> dict[str, bool]:
    """O3 — ``"topic:bool,…"`` -> {topic: decode_keys}.

    Validation matches ``validateAndParseAvroTopics``
    (AvroTransform.java:286-314): empty list and malformed entries raise.
    """
    if isinstance(spec, dict):
        if not spec:
            raise ValueError("avro.topics must not be empty")
        return {str(k): bool(v) for k, v in spec.items()}
    if isinstance(spec, str):
        spec = [s for s in spec.split(",")]
    entries = [s.strip() for s in spec]
    if not entries or all(not e for e in entries):
        raise ValueError("avro.topics must not be empty")
    out: dict[str, bool] = {}
    for e in entries:
        if not e:
            raise ValueError(f"malformed avro.topics entry: {e!r}")
        parts = e.split(":")
        if len(parts) != 2 or not parts[0]:
            raise ValueError(
                f"malformed avro.topics entry {e!r}; expected 'topic:bool'"
            )
        flag = parts[1].strip().lower()
        if flag not in ("true", "false"):
            raise ValueError(
                f"malformed avro.topics flag in {e!r}; expected true/false"
            )
        out[parts[0].strip()] = flag == "true"
    return out


@dataclass
class EngineConfig:
    """Config surface (names mirror the reference's ConfigDef keys,
    AvroTransform.java:62-73,316-322)."""

    avro_topics: str | list[str] | dict[str, bool]
    schema_registry_urls: list[str] | str | None = None
    schema_capacity: int = DEFAULT_SCHEMA_CAPACITY
    include_headers: bool = True  # include.headers, default true (:52-53)
    mode: str = PERMISSIVE  # O19: PERMISSIVE mirrors the swallowed-IOException passthrough
    basic_auth: tuple[str, str] | None = None
    topics: dict[str, bool] = field(init=False)

    def __post_init__(self) -> None:
        self.topics = parse_topics(self.avro_topics)
        if self.schema_capacity <= 0:
            raise ValueError("schema.capacity must be positive")


class Engine:
    """The SMT re-expressed as a Spark transform factory.

    >>> store = LocalSchemaStore(); sid = store.register(schema_json)
    >>> eng = Engine(EngineConfig(avro_topics="events:true"), store=store)
    >>> decoded = eng.transform(kafka_shaped_df)        # batch
    >>> q = eng.transform(stream_df).writeStream...     # streaming: same call
    """

    def __init__(self, config: EngineConfig, store: SchemaStore | None = None) -> None:
        self.config = config
        if store is not None:
            self.store = store
        elif config.schema_registry_urls:
            self.store = HttpSchemaRegistry(
                config.schema_registry_urls,
                capacity=config.schema_capacity,
                auth=config.basic_auth,
            )
        else:
            raise ValueError("either a SchemaStore or schema_registry_urls is required")

    # -- O4-O17 ------------------------------------------------------------
    def transform(self, df: DataFrame) -> DataFrame:
        return decode_records(
            df,
            store=self.store,
            topics=self.config.topics,
            mode=self.config.mode,
            include_headers=self.config.include_headers,
        )

    def close(self) -> None:
        """O20 (AvroTransform.java:281-284) — nothing to release: schema
        caches are per-executor-process and die with the workers."""
