"""Confluent-wire-format Avro -> JSON-envelope decode stage.

Reference behavior (AvroTransform.java:118-214): per record, for enabled
topics, validate wire format, resolve the writer schema by id (LRU-cached
registry lookup), decode the Avro body, re-encode as Avro-JSON, and wrap in
a self-describing envelope:

- value envelope (O16, :230-237):  ``{"originSchema": "<schema json str>",
  "originMessage": "<avro-json str>", "originSchemaId": <id>}`` — note
  ``originMessage`` is a JSON-*string* field (golden TransformTest.java:508);
- key envelope (O15, :224-229): the decoded JSON object itself plus an added
  ``originSchema`` field.  (The reference key path feeds the *unstripped*
  payload into the decoder — a latent quirk its own tests never pin; we
  decode the stripped body, which is the observable intent.  SURVEY.md §3.2.)

Spark design: the wire gates (O8-O10, O12) exist as native column
expressions in ``wire.py`` for source-side pruning, but the decode itself is
one Arrow-batched scalar pandas UDF over (topic, key, value) returning a
struct — because Catalyst extracts Python UDFs out of CASE WHEN and
evaluates them unconditionally, per-row early-outs (disabled topics,
tombstones, invalid payloads) live *inside* the UDF where they cost a
Python ``if`` instead of a decode.  Schema resolution is memoized per
task via ``CachedParser``: the iterator UDF builds a fresh one for each
task, so a reused worker resolves each schema id again in its next task
(reference: one synchronized LRU across Connect task threads,
AvroTransform.java:108).

Every record body, whatever its writer schema, decodes through one
function: the schema's fused decode→Avro-JSON codegen (``avro/fused.py``).
The UDF is the only non-codegen operator in the pipeline (BASELINE.md
engineering budget).
"""

from __future__ import annotations

import json
import struct as _struct
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from json.encoder import encode_basestring as _esc_json

from byte_convert_avro_spark.schema_store import CachedParser, SchemaStore
from byte_convert_avro_spark.wire import MAGIC_BYTE, WIRE_PREFIX_LEN

PERMISSIVE = "PERMISSIVE"
FAILFAST = "FAILFAST"

_DECODE_STRUCT = T.StructType(
    [
        T.StructField("key_out", T.BinaryType()),
        T.StructField("value_out", T.BinaryType()),
        T.StructField("error", T.StringType()),
    ]
)

_unpack_be_int = _struct.Struct(">i").unpack_from


class WireFormatError(ValueError):
    """Analogue of Kafka's SerializationException (AvroTransform.java:140,175,276)."""


def _decode_one(payload: bytes, parser: CachedParser, is_key: bool) -> bytes:
    """Decode one wire-format payload -> envelope bytes.  Raises on bad input."""
    n = len(payload)
    if n <= WIRE_PREFIX_LEN:
        raise WireFormatError(
            f"payload of size {n} is too small to contain the wire-format prefix"
        )
    if payload[0] != MAGIC_BYTE:
        raise WireFormatError("Unknown magic byte!")
    (schema_id,) = _unpack_be_int(payload, 1)
    (_, _, schema_str, _, _, fused, fused_key,
     value_prefix, value_suffix, key_suffix) = parser.get(schema_id)
    msg, _pos = fused(payload, WIRE_PREFIX_LEN)
    # The envelope frame around the message is pre-encoded per schema id
    # (schema_store.CachedParser.get): per record only the message text is
    # escaped and UTF-8-encoded.
    if is_key:
        if fused_key is not None:
            # O15 envelope = the record object with originSchema appended
            # as its last field — splice it into the closing brace (same
            # bytes as dict-insertion + dumps: schema field order, then
            # originSchema).  The key decoder is None for a non-record top
            # level and when the splice would collide with a record field.
            if len(msg) == 2:  # empty record: no separating comma
                return b"{" + key_suffix[1:]
            return msg[:-1].encode() + key_suffix
        # O15: decoded object + originSchema field (ObjectNode.put: an
        # existing originSchema is replaced in place).  Compact Avro-JSON
        # text survives a loads/dumps round trip byte for byte.
        jv = json.loads(msg)
        env = jv if isinstance(jv, dict) else {"value": jv}
        env["originSchema"] = schema_str
        return json.dumps(env, separators=(",", ":"), ensure_ascii=False).encode("utf-8")
    # O16: string-wrapped message + schema + id (field order pinned by the
    # golden test); only the message text needs the (C-accelerated) escape.
    return value_prefix + _esc_json(msg).encode() + value_suffix


def make_decode_udf(
    store: SchemaStore,
    topics: dict[str, bool],
    mode: str = PERMISSIVE,
):
    """Build the combined key+value decode UDF.

    ``topics`` maps topic -> decode_keys flag (reference ``avro.topics``
    "t:bool" list, AvroTransform.java:286-314).  Topics absent from the map
    pass through untouched (O4, :120-121,211-213); the flag gates the key
    path only (O5, :131,216-218) — values of enabled topics always decode.
    ``mode`` is ``PERMISSIVE`` or ``FAILFAST``; anything else raises
    rather than quietly swallowing every decode error.
    """
    if mode not in (PERMISSIVE, FAILFAST):
        raise ValueError(
            f"mode must be {PERMISSIVE!r} or {FAILFAST!r}, got {mode!r}"
        )
    failfast = mode == FAILFAST

    @F.pandas_udf(_DECODE_STRUCT)
    def decode(it: Iterator[tuple[pd.Series, pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        parser = CachedParser(store)  # one memo per task
        for topic_s, key_s, value_s in it:
            keys_out: list[bytes | None] = []
            values_out: list[bytes | None] = []
            errors: list[str | None] = []
            # plain-list iteration: pandas Series element access pays
            # per-item overhead the hot loop doesn't need
            for topic, key, value in zip(
                topic_s.to_list(), key_s.to_list(), value_s.to_list()
            ):
                err = None
                k_out, v_out = key, value
                enabled = topics.get(topic)
                if enabled is not None:
                    # KEY branch (O5; null key passes through, O7 :133-135)
                    if enabled and key is not None:
                        try:
                            k_out = _decode_one(bytes(key), parser, is_key=True)
                        except Exception as e:  # noqa: BLE001
                            if failfast:
                                raise
                            err = f"key: {e}"
                    # VALUE branch (tombstone passthrough, O7 :168-170)
                    if value is not None:
                        try:
                            v_out = _decode_one(bytes(value), parser, is_key=False)
                        except Exception as e:  # noqa: BLE001
                            if failfast:
                                raise
                            err = f"value: {e}" if err is None else f"{err}; value: {e}"
                keys_out.append(k_out)
                values_out.append(v_out)
                errors.append(err)
            yield pd.DataFrame(
                {"key_out": keys_out, "value_out": values_out, "error": errors}
            )

    return decode


def decode_records(
    df: DataFrame,
    store: SchemaStore,
    topics: dict[str, bool],
    mode: str = PERMISSIVE,
    include_headers: bool = True,
) -> DataFrame:
    """Full record transform (O4-O17): returns the input schema with
    ``key``/``value`` replaced by envelope bytes, plus an ``_error`` column
    in PERMISSIVE mode (null when clean).

    Record reconstruction mirrors O17 (AvroTransform.java:199-209): all other
    columns (topic, partition, timestamp, ...) pass through; ``headers`` is
    dropped unless ``include_headers`` (flag :52-53,68-69,110).
    """
    for c in ("topic", "key", "value"):
        if c not in df.columns:
            raise ValueError(f"input is missing required column {c!r}")
    # O6 bytes-schema gate, enforced at plan build like the reference's
    # ByteArrayConverter requirement (ConnectSchemaUtil.java:7-13).
    for c in ("key", "value"):
        dt = df.schema[c].dataType
        if not isinstance(dt, T.BinaryType):
            raise TypeError(
                f"column {c!r} must be binary (got {dt.simpleString()}); "
                "the reference rejects non-bytes schemas (SchemaTest.java:25-57)"
            )
    udf = make_decode_udf(store, topics, mode)
    dec = df.withColumn("_dec", udf(F.col("topic"), F.col("key"), F.col("value")))
    out_cols: list[Column] = []
    for c in df.columns:
        if c == "key":
            out_cols.append(F.col("_dec.key_out").alias("key"))
        elif c == "value":
            out_cols.append(F.col("_dec.value_out").alias("value"))
        elif c == "headers" and not include_headers:
            continue
        else:
            out_cols.append(F.col(c))
    if mode == PERMISSIVE:
        out_cols.append(F.col("_dec.error").alias("_error"))
    return dec.select(*out_cols)
