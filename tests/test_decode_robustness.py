"""EOF / malformed-payload decode semantics.

The reference's Java ``BinaryDecoder`` throws ``EOFException`` on a payload
cut mid-value and the SMT forwards the undecoded original
(AvroTransform.java:149-152,188-191).  Python slices truncate silently, so
both our readers bounds-check every length-prefixed read; these tests pin
that a payload truncated *inside its last field* raises — on the general
path AND the fused path — and that the Spark pipeline surfaces it
(`_error` set + original forwarded in PERMISSIVE; raise in FAILFAST).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import types as T

from byte_convert_avro_spark.avro import parse_schema, schemaless_encode
from byte_convert_avro_spark.avro.binary import (
    TruncatedPayloadError,
    compile_reader,
)
from byte_convert_avro_spark.avro.fused import compile_fused
from byte_convert_avro_spark.avro.jsonenc import to_avro_json
from byte_convert_avro_spark.decoder import FAILFAST, _decode_one, decode_records
from byte_convert_avro_spark.schema_store import CachedParser, LocalSchemaStore
from byte_convert_avro_spark.wire import encode_wire

FULLNAME_SCHEMA = (
    '{"type":"record","name":"FullName",'
    '"namespace":"com.ing.eventbus.connect.schema.converters",'
    '"fields":[{"name":"first","type":"string"},{"name":"last","type":"string"}]}'
)

GOOD = {"first": "fname", "last": "lname"}


def _truncated_body() -> bytes:
    """Avro body cut inside the LAST field's string bytes — the case a
    naive slice decodes 'successfully' with corrupted data."""
    body = schemaless_encode(GOOD, FULLNAME_SCHEMA)
    return body[:-2]  # drop 2 bytes of "lname" — length prefix says 5


def test_general_reader_raises_on_final_field_truncation():
    reader = compile_reader(FULLNAME_SCHEMA)
    with pytest.raises(TruncatedPayloadError):
        reader(memoryview(_truncated_body()), 0)


def test_fused_reader_raises_on_final_field_truncation():
    fused = compile_fused(parse_schema(FULLNAME_SCHEMA))
    assert fused is not None
    with pytest.raises(TruncatedPayloadError):
        fused(memoryview(_truncated_body()), 0)


@pytest.mark.parametrize("cut", [1, 2, 3, 4])
def test_fixed_and_bytes_truncation(cut):
    schema = json.dumps(
        {
            "type": "record",
            "name": "R",
            "fields": [
                {"name": "b", "type": "bytes"},
                {"name": "f", "type": {"type": "fixed", "name": "Fx", "size": 4}},
            ],
        }
    )
    body = schemaless_encode({"b": b"\x01\x02\x03", "f": b"wxyz"}, schema)
    reader = compile_reader(schema)
    fused = compile_fused(parse_schema(schema))
    with pytest.raises(TruncatedPayloadError):
        reader(memoryview(body[:-cut]), 0)
    with pytest.raises(TruncatedPayloadError):
        fused(memoryview(body[:-cut]), 0)


def test_negative_length_prefix_raises():
    """A corrupt varint decoding to a negative length must raise, not
    slice backwards and desync."""
    # zigzag(-3) = 5 -> a "string" whose length prefix is -3
    body = bytes([5]) + b"xx"
    with pytest.raises(TruncatedPayloadError):
        compile_reader('"string"')(memoryview(body), 0)


def test_map_key_truncation_raises():
    schema = '{"type":"map","values":"long"}'
    body = schemaless_encode({"abcdef": 1}, schema)
    with pytest.raises(TruncatedPayloadError):
        compile_reader(schema)(memoryview(body[:4]), 0)


def test_union_branch_out_of_range_raises_on_both_paths():
    """ADVICE #2: the fused union dispatch must raise on an out-of-range
    branch index (the general reader's branches[i] does), never silently
    skip and keep decoding at a desynced position."""
    schema = json.dumps(
        {
            "type": "record",
            "name": "U",
            "fields": [{"name": "u", "type": ["null", "string", "long"]}],
        }
    )
    parsed = parse_schema(schema)
    bad = bytes([6]) + b"rest"  # branch index 3 of a 3-branch union
    with pytest.raises(Exception):
        compile_reader(parsed)(memoryview(bad), 0)
    fused = compile_fused(parsed)
    assert fused is not None
    with pytest.raises(ValueError):
        fused(memoryview(bad), 0)


# ---------------------------------------------------------------------------
# Array/map-nested multi-branch unions now fuse (round-3 codegen extension)
# ---------------------------------------------------------------------------

NESTED_UNION_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "NU",
        "fields": [
            {
                "name": "vals",
                "type": {"type": "array", "items": ["null", "string", "long", "boolean"]},
            },
            {"name": "props", "type": {"type": "map", "values": ["null", "double", "string"]}},
        ],
    }
)


def test_fused_union_in_array_and_map_equals_spec():
    v = {
        "vals": [None, "x", 7, True, None, -1],
        "props": {"a": None, "b": 1.5, "c": "s"},
    }
    parsed = parse_schema(NESTED_UNION_SCHEMA)
    fused = compile_fused(parsed)
    assert fused is not None, "array/map-nested unions should fuse now"
    buf = schemaless_encode(v, NESTED_UNION_SCHEMA)
    datum, _ = compile_reader(parsed)(memoryview(buf), 0)
    spec = json.dumps(to_avro_json(datum), separators=(",", ":"), ensure_ascii=False)
    got, pos = fused(memoryview(buf), 0)
    assert got == spec and pos == len(buf)


# ---------------------------------------------------------------------------
# Key-envelope originSchema collision (ADVICE #3)
# ---------------------------------------------------------------------------

COLLIDING_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Tricky",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "originSchema", "type": "string"},
            {"name": "z", "type": "string"},
        ],
    }
)


def test_key_envelope_originschema_collision_matches_general_path():
    """When the writer schema already has an `originSchema` field, the key
    envelope OVERWRITES it in place (dict/ObjectNode.put semantics) — the
    fused append-only splice can't express that, so this schema class must
    re-serialize the key and put originSchema in its schema position."""
    store = LocalSchemaStore()
    store.register(COLLIDING_SCHEMA, 9)
    parser = CachedParser(store)
    # fused VALUE decoder exists; fused KEY decoder must be disabled
    entry = parser.get(9)
    assert entry[5] is not None and entry[6] is None
    payload = encode_wire(
        9, schemaless_encode({"a": 1, "originSchema": "user-data", "z": "zz"}, COLLIDING_SCHEMA)
    )
    got = json.loads(_decode_one(payload, parser, is_key=True).decode())
    canonical = entry[0].canonical_str()
    # single key, schema-position preserved, value replaced by the schema
    assert list(got) == ["a", "originSchema", "z"]
    assert got["originSchema"] == canonical and got["a"] == 1 and got["z"] == "zz"
    # and the raw text has no duplicate key
    raw = _decode_one(payload, parser, is_key=True).decode()
    assert raw.count('"originSchema"') == 1


def test_noncolliding_key_envelope_still_fused():
    store = LocalSchemaStore()
    store.register(FULLNAME_SCHEMA, 1)
    entry = CachedParser(store).get(1)
    assert entry[5] is not None and entry[6] is not None


# ---------------------------------------------------------------------------
# Pipeline surface: PERMISSIVE forwards the undecoded original + _error;
# FAILFAST raises (reference forwards on EOFException; we also account)
# ---------------------------------------------------------------------------

_SCHEMA = T.StructType(
    [
        T.StructField("topic", T.StringType()),
        T.StructField("key", T.BinaryType()),
        T.StructField("value", T.BinaryType()),
    ]
)


def test_permissive_truncated_value_sets_error_and_forwards(spark):
    store = LocalSchemaStore()
    store.register(FULLNAME_SCHEMA, 1)
    bad = encode_wire(1, _truncated_body())
    good = encode_wire(1, schemaless_encode(GOOD, FULLNAME_SCHEMA))
    df = spark.createDataFrame([("t", None, bad), ("t", None, good)], _SCHEMA)
    rows = {bytes(r.value): r for r in decode_records(df, store, {"t": True}).collect()}
    bad_row = rows[bad]  # forwarded untouched
    assert bad_row._error is not None and "truncated" in bad_row._error
    good_row = next(r for v, r in rows.items() if v != bad)
    assert good_row._error is None and b"originMessage" in bytes(good_row.value)


def test_failfast_truncated_value_raises(spark):
    store = LocalSchemaStore()
    store.register(FULLNAME_SCHEMA, 1)
    bad = encode_wire(1, _truncated_body())
    df = spark.createDataFrame([("t", None, bad)], _SCHEMA)
    with pytest.raises(Exception, match="truncated|EOF|Truncated"):
        decode_records(df, store, {"t": True}, mode=FAILFAST).collect()
