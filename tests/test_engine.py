"""Engine/decoder tests over Spark — the reference's error-path matrix
(TransformTest.java:157-221,489-524) re-expressed for the Spark pipeline.
"""

from __future__ import annotations

import json
import sys
import zipimport

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from byte_convert_avro_spark import worker_env
from byte_convert_avro_spark.avro import schemaless_encode
from byte_convert_avro_spark.decoder import FAILFAST, make_decode_udf
from byte_convert_avro_spark.engine import Engine, EngineConfig, parse_topics
from byte_convert_avro_spark.schema_store import LocalSchemaStore, SchemaLookupError
from byte_convert_avro_spark.wire import encode_wire

FULLNAME_SCHEMA = (
    '{"type":"record","name":"FullName",'
    '"namespace":"com.ing.eventbus.connect.schema.converters",'
    '"fields":[{"name":"first","type":"string"},{"name":"last","type":"string"}]}'
)

GOLDEN_ENVELOPE = (
    '{"originSchema":"{\\"type\\":\\"record\\",\\"name\\":\\"FullName\\",'
    '\\"namespace\\":\\"com.ing.eventbus.connect.schema.converters\\",'
    '\\"fields\\":[{\\"name\\":\\"first\\",\\"type\\":\\"string\\"},'
    '{\\"name\\":\\"last\\",\\"type\\":\\"string\\"}]}",'
    '"originMessage":"{\\"first\\":\\"fname\\",\\"last\\":\\"lname\\"}",'
    '"originSchemaId":1}'
)

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
        T.StructField("offset", T.LongType()),
    ]
)


@pytest.fixture(scope="module")
def store():
    s = LocalSchemaStore()
    s.register(FULLNAME_SCHEMA, 1)
    return s


@pytest.fixture(scope="module")
def golden_payload():
    return encode_wire(1, schemaless_encode({"first": "fname", "last": "lname"}, FULLNAME_SCHEMA))


def _run(spark, store, rows, topics="t:true", mode=None):
    cfg = EngineConfig(avro_topics=topics, **({"mode": mode} if mode else {}))
    eng = Engine(cfg, store=store)
    df = spark.createDataFrame(rows, RECORD_SCHEMA)
    return eng.transform(df).orderBy("offset").collect()


def test_golden_envelope_byte_exact(spark, store, golden_payload):
    """The reference's single end-to-end oracle (TransformTest.java:503-524)."""
    [row] = _run(spark, store, [("t", None, golden_payload, 0)])
    assert bytes(row.value).decode("utf-8") == GOLDEN_ENVELOPE
    assert row._error is None


def test_tombstone_passthrough(spark, store):
    """Null value flows through unchanged (TransformTest.java:489-500)."""
    [row] = _run(spark, store, [("t", None, None, 0)])
    assert row.value is None and row.key is None and row._error is None


def test_disabled_topic_passthrough(spark, store, golden_payload):
    """Records of non-enabled topics pass through untouched (O4)."""
    [row] = _run(spark, store, [("other", None, golden_payload, 0)])
    assert bytes(row.value) == golden_payload


def test_key_decoding_flag(spark, store, golden_payload):
    """Key decodes only when the topic flag is true (O5)."""
    [flag_off] = _run(spark, store, [("t", golden_payload, golden_payload, 0)], topics="t:false")
    assert bytes(flag_off.key) == golden_payload  # untouched
    [flag_on] = _run(spark, store, [("t", golden_payload, golden_payload, 0)], topics="t:true")
    decoded_key = json.loads(bytes(flag_on.key).decode())
    assert decoded_key["first"] == "fname" and "originSchema" in decoded_key


def test_too_short_payload_permissive(spark, store):
    """len <= 5 -> error channel (TransformTest.java:189-199)."""
    [row] = _run(spark, store, [("t", None, b"x", 0)])
    assert "too small" in row._error
    assert bytes(row.value) == b"x"  # passthrough in PERMISSIVE


def test_bad_magic_byte(spark, store, golden_payload):
    [row] = _run(spark, store, [("t", None, b"\x01" + golden_payload[1:], 0)])
    assert "Unknown magic byte!" in row._error


def test_unknown_schema_id(spark, store):
    """id=0 not registered -> registry failure (TransformTest.java:212-221)."""
    [row] = _run(spark, store, [("t", None, bytes(6), 0)])
    assert "schema id 0" in row._error


def test_failfast_raises(spark, store):
    with pytest.raises(Exception, match="too small"):
        _run(spark, store, [("t", None, b"x", 0)], mode=FAILFAST)


def test_non_bytes_value_schema_rejected(spark, store):
    """Non-bytes schema rejected at build (SchemaTest.java:25-57)."""
    df = spark.createDataFrame([("t", None, "not-bytes", 0)],
                               "topic string, key binary, value string, offset long")
    eng = Engine(EngineConfig(avro_topics="t:true"), store=store)
    with pytest.raises(TypeError, match="must be binary"):
        eng.transform(df)


def test_multi_schema_topic(spark, store, golden_payload):
    """Per-record dynamic schemas within one topic (the general path the
    reference supports via per-record registry lookup, AvroTransform.java:254-279)."""
    other = '{"type":"record","name":"N","fields":[{"name":"n","type":"int"}]}'
    sid = store.register(other)
    p2 = encode_wire(sid, schemaless_encode({"n": 7}, other))
    rows = [("t", None, golden_payload, 0), ("t", None, p2, 1)]
    out = _run(spark, store, rows)
    env0, env1 = (json.loads(bytes(r.value).decode()) for r in out)
    assert env0["originSchemaId"] == 1 and env1["originSchemaId"] == sid
    assert json.loads(env1["originMessage"]) == {"n": 7}


def test_headers_dropped_when_disabled(spark, store, golden_payload):
    schema = T.StructType(RECORD_SCHEMA.fields + [T.StructField("headers", T.StringType())])
    df = spark.createDataFrame([("t", None, golden_payload, 0, "h")], schema)
    eng = Engine(EngineConfig(avro_topics="t:true", include_headers=False), store=store)
    assert "headers" not in eng.transform(df).columns
    eng2 = Engine(EngineConfig(avro_topics="t:true"), store=store)
    assert "headers" in eng2.transform(df).columns


# -- O2/O3 config validation (AvroTransform.java:286-314) -------------------

def test_parse_topics_ok():
    assert parse_topics("a:true, b:FALSE") == {"a": True, "b": False}
    assert parse_topics({"a": 1}) == {"a": True}


@pytest.mark.parametrize("bad", ["", ",", "a", "a:b:c", "a:yes", ":true"])
def test_parse_topics_rejects(bad):
    with pytest.raises(ValueError):
        parse_topics(bad)


@pytest.mark.parametrize("mode", ["permissive", "FAIL_FAST", "DROPMALFORMED", ""])
def test_decode_mode_rejects_unknown(mode):
    """An unknown mode must not fall through to PERMISSIVE's catch-all
    (which would swallow every decode error); the message names both
    accepted values."""
    with pytest.raises(ValueError, match="'PERMISSIVE' or 'FAILFAST'"):
        make_decode_udf(LocalSchemaStore(), {"t": True}, mode=mode)


def test_local_store_lookup_error():
    with pytest.raises(SchemaLookupError):
        LocalSchemaStore().get_schema_text(99)


def test_truncated_avro_body_permissive(spark, store):
    """Payload with a valid wire prefix but a truncated Avro body: the
    decode (fused or general) raises inside the UDF and PERMISSIVE fills
    _error while passing the original bytes through."""
    from byte_convert_avro_spark.avro import schemaless_encode

    good = encode_wire(1, schemaless_encode({"first": "a", "last": "b"}, FULLNAME_SCHEMA))
    truncated = good[:-3]  # cuts into the last string's bytes
    rows = [("t", None, truncated, 0), ("t", None, good, 1)]
    out = {r.offset: r for r in _run(spark, store, rows)}
    assert out[0]._error is not None and "value:" in out[0]._error
    assert bytes(out[0].value) == truncated  # original bytes pass through
    assert out[1]._error is None  # the good record in the same batch decodes


def test_worker_env_installed_in_workers_only(spark):
    """A package UDF's unpickle imports the package, which patches the
    worker's zipimport; the driver keeps the stdlib method."""

    @F.udf("string")
    def invalidate_caches_owner(_):
        # worker_env is pickled by reference, so the worker imports the package
        return worker_env.zipimport.zipimporter.invalidate_caches.__module__

    df = spark.range(4, numPartitions=2).select(invalidate_caches_owner("id").alias("m"))
    df.collect()
    owners = {r.m for r in df.collect()}  # second job: reused workers
    expected = "zipimport" if sys.version_info >= (3, 13) else worker_env.__name__
    assert owners == {expected}
    assert zipimport.zipimporter.invalidate_caches is worker_env._stdlib_invalidate_caches
