"""Schema-generic decode: the reference is GenericDatumReader-generic over
ANY Avro schema (AvroTransform.java:241-245) — this file pins the same
breadth for our engine: a kitchen-sink record (enum, fixed, map, array,
nested unions, bytes, all primitives) through the full Spark pipeline, and
a hypothesis round-trip over random record values."""

from __future__ import annotations

import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from byte_convert_avro_spark.avro import schemaless_encode
from byte_convert_avro_spark.avro.binary import compile_reader
from byte_convert_avro_spark.avro.jsonenc import to_avro_json
from byte_convert_avro_spark.avro.schema import parse_schema
from byte_convert_avro_spark.engine import Engine, EngineConfig
from byte_convert_avro_spark.schema_store import LocalSchemaStore
from byte_convert_avro_spark.wire import encode_wire

KITCHEN_SINK = json.dumps(
    {
        "type": "record",
        "name": "Sink",
        "namespace": "x",
        "fields": [
            {"name": "i", "type": "int"},
            {"name": "l", "type": "long"},
            {"name": "f", "type": "float"},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "s", "type": "string"},
            {"name": "raw", "type": "bytes"},
            {"name": "col", "type": {"type": "enum", "name": "Color", "symbols": ["RED", "BLUE"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "F4", "size": 4}},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "counts", "type": {"type": "map", "values": "long"}},
            {"name": "opt", "type": ["null", "string"]},
            {"name": "num", "type": ["null", "int", "double"]},
            {
                "name": "nested",
                "type": {
                    "type": "record",
                    "name": "Inner",
                    "fields": [{"name": "v", "type": ["null", "long"]}],
                },
            },
        ],
    }
)

VALUE = {
    "i": -7,
    "l": 2**40,
    "f": 0.5,
    "d": 1.25,
    "b": True,
    "s": "héllo",
    "raw": b"\x00\xff\x10",
    "col": "BLUE",
    "fx": b"\x01\x02\x03\x04",
    "tags": ["a", "b"],
    "counts": {"x": 1, "y": -2},
    "opt": "present",
    "num": 3.5,
    "nested": {"v": 9},
}


def test_kitchen_sink_through_engine(spark):
    from pyspark.sql import types as T

    store = LocalSchemaStore()
    store.register(KITCHEN_SINK, 5)
    eng = Engine(EngineConfig(avro_topics="t:true"), store=store)
    payload = encode_wire(5, schemaless_encode(VALUE, KITCHEN_SINK))
    schema = T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("key", T.BinaryType()),
            T.StructField("value", T.BinaryType()),
        ]
    )
    [row] = eng.transform(spark.createDataFrame([("t", None, payload)], schema)).collect()
    assert row._error is None
    env = json.loads(bytes(row.value))
    assert env["originSchemaId"] == 5
    msg = json.loads(env["originMessage"])
    # Avro-JSON semantics: union wrapping, latin-1 bytes, enum symbol
    assert msg["i"] == -7 and msg["l"] == 2**40 and msg["b"] is True
    assert msg["s"] == "héllo"
    assert msg["raw"] == "\x00\xff\x10"  # latin-1-decoded JSON string
    assert msg["col"] == "BLUE"
    assert msg["fx"] == "\x01\x02\x03\x04"
    assert msg["tags"] == ["a", "b"]
    assert msg["counts"] == {"x": 1, "y": -2}
    assert msg["opt"] == {"string": "present"}  # union branch wrapped
    assert msg["num"] == {"double": 3.5}  # multi-branch union label
    assert msg["nested"] == {"v": {"long": 9}}
    # field order = schema order (JsonEncoder parity)
    assert list(msg.keys())[:6] == ["i", "l", "f", "d", "b", "s"]


_VALUES = st.fixed_dictionaries(
    {
        "i": st.integers(-(2**31), 2**31 - 1),
        "l": st.integers(-(2**63), 2**63 - 1),
        "f": st.just(0.0),  # float32 rounding tested separately
        "d": st.floats(allow_nan=False, allow_infinity=False),
        "b": st.booleans(),
        "s": st.text(max_size=40),
        "raw": st.binary(max_size=20),
        "col": st.sampled_from(["RED", "BLUE"]),
        "fx": st.binary(min_size=4, max_size=4),
        "tags": st.lists(st.text(max_size=10), max_size=5),
        "counts": st.dictionaries(st.text(max_size=8), st.integers(-(2**40), 2**40), max_size=5),
        "opt": st.one_of(st.none(), st.text(max_size=10)),
        "num": st.one_of(st.none(), st.integers(-100, 100), st.floats(allow_nan=False, allow_infinity=False)),
        "nested": st.fixed_dictionaries({"v": st.one_of(st.none(), st.integers(-(2**50), 2**50))}),
    }
)


@settings(max_examples=60, deadline=None)
@given(v=_VALUES)
def test_binary_roundtrip_random_records(v):
    """encode -> decode is the identity on the datum (pre-JSON), for any
    value of the kitchen-sink schema hypothesis generates."""
    parsed = parse_schema(KITCHEN_SINK)
    reader = compile_reader(parsed)
    buf = schemaless_encode(v, KITCHEN_SINK)
    out, pos = reader(memoryview(buf), 0)
    assert pos == len(buf)
    plain = to_avro_json(out)

    def unwrap(x):
        if isinstance(x, dict) and len(x) == 1 and next(iter(x)) in ("string", "int", "long", "double"):
            return next(iter(x.values()))
        return x

    assert plain["i"] == v["i"] and plain["l"] == v["l"]
    assert plain["s"] == v["s"]
    assert plain["raw"] == v["raw"].decode("latin-1")
    assert plain["col"] == v["col"]
    assert plain["tags"] == v["tags"]
    assert {k: val for k, val in plain["counts"].items()} == v["counts"]
    assert unwrap(plain["opt"]) == v["opt"]
    got_num = unwrap(plain["num"])
    if isinstance(v["num"], float):
        assert got_num == pytest.approx(v["num"], nan_ok=True)
    else:
        assert got_num == v["num"]
    assert unwrap(plain["nested"]["v"]) == v["nested"]["v"]


@settings(max_examples=80, deadline=None)
@given(v=_VALUES)
def test_compiled_writer_equals_dumps(v):
    """compile_json_writer(schema)(datum) must be byte-identical to
    json.dumps(to_avro_json(datum)) — the compiled fast path can never
    drift from the specification path."""
    from byte_convert_avro_spark.avro.jsonenc import compile_json_writer

    parsed = parse_schema(KITCHEN_SINK)
    reader = compile_reader(parsed)
    datum, _ = reader(memoryview(schemaless_encode(v, KITCHEN_SINK)), 0)
    spec = json.dumps(to_avro_json(datum), separators=(",", ":"), ensure_ascii=False)
    assert compile_json_writer(parsed)(datum) == spec


FLAT_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Flat",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "email", "type": ["null", "string"]},
            {"name": "balance", "type": "double"},
            {"name": "ok", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "opt_n", "type": ["null", "long"]},
            {"name": "col", "type": {"type": "enum", "name": "FC", "symbols": ["A", "B", "C"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "FF", "size": 3}},
            {"name": "opt_col", "type": ["null", "FC"]},
        ],
    }
)

_FLAT_VALUES = st.fixed_dictionaries(
    {
        "id": st.integers(-(2**63), 2**63 - 1),
        "name": st.text(max_size=40),
        "email": st.one_of(st.none(), st.text(max_size=20)),
        "balance": st.floats(allow_nan=False, allow_infinity=False),
        "ok": st.booleans(),
        "raw": st.binary(max_size=20),
        "opt_n": st.one_of(st.none(), st.integers(-(2**50), 2**50)),
        "col": st.sampled_from(["A", "B", "C"]),
        "fx": st.binary(min_size=3, max_size=3),
        "opt_col": st.one_of(st.none(), st.sampled_from(["A", "B", "C"])),
    }
)


@settings(max_examples=100, deadline=None)
@given(v=_FLAT_VALUES)
def test_fused_codegen_equals_spec(v):
    """The fused decode->JSON codegen (avro/fused.py) is byte-identical to
    the specification path for flat records."""
    from byte_convert_avro_spark.avro.fused import compile_fused

    parsed = parse_schema(FLAT_SCHEMA)
    fused = compile_fused(parsed)
    assert fused is not None
    buf = schemaless_encode(v, FLAT_SCHEMA)
    datum, _ = compile_reader(parsed)(memoryview(buf), 0)
    spec = json.dumps(to_avro_json(datum), separators=(",", ":"), ensure_ascii=False)
    got, pos = fused(memoryview(buf), 0)
    assert got == spec
    assert pos == len(buf)


_REC_R = {"type": "record", "name": "R", "fields": [{"name": "x", "type": "int"}]}
_UNION = ["null", "string", _REC_R]
#: name -> (writer schema, datum) for non-record top levels
NON_RECORD = {
    "int": ("int", -7),
    "long": ("long", 2**40),
    "float": ("float", 0.5),
    "double_nan": ("double", float("nan")),
    "double_-inf": ("double", float("-inf")),
    "boolean": ("boolean", True),
    "string": ("string", 'héllo "q"\n'),
    "bytes": ("bytes", b"\x00\xff"),
    "null": ("null", None),
    "array_of_unions": ({"type": "array", "items": ["null", "double", "string"]}, [None, -0.0, "x"]),
    "map": ({"type": "map", "values": "long"}, {"a": 1, "zürich": -2}),
    "union_null": (_UNION, None),
    "union_string": (_UNION, "s"),
    "union_record": (_UNION, {"x": 3}),
    "enum": ({"type": "enum", "name": "E", "symbols": ["A", "B"]}, "B"),
    "fixed": ({"type": "fixed", "name": "F3", "size": 3}, b"ab\xff"),
}


@pytest.mark.parametrize("schema, datum", NON_RECORD.values(), ids=NON_RECORD)
def test_fused_non_record_top_level_equals_spec(schema, datum):
    """Every writer schema fuses, a non-record top level included, and the
    text equals the specification path's."""
    from byte_convert_avro_spark.avro.fused import compile_fused

    schema = json.dumps(schema)
    body = schemaless_encode(datum, schema)
    decoded, _ = compile_reader(schema)(memoryview(body), 0)
    spec = json.dumps(to_avro_json(decoded), separators=(",", ":"), ensure_ascii=False)
    assert compile_fused(parse_schema(schema))(body, 0) == (spec, len(body))


def test_fused_empty_union_raises_like_reader():
    """An empty union has no branch: the fused function reads the index and
    raises the general reader's error."""
    from byte_convert_avro_spark.avro.fused import compile_fused

    for fn in (compile_fused(parse_schema("[]")), compile_reader("[]")):
        with pytest.raises(ValueError, match="union branch index 0 out of range"):
            fn(memoryview(b"\x00"), 0)


#: (writer schema, datum) whose key envelope cannot be spliced into the
#: record's JSON: non-record top levels and a record with its own
#: originSchema field (overwritten in place)
KEY_REPARSED = {
    "string": ("string", "k1"),
    "int": ("int", -7),
    "map": ({"type": "map", "values": "long"}, {"a": 1, "zürich": -2}),
    "map_with_originSchema": ({"type": "map", "values": "long"}, {"b": 1, "originSchema": 5, "c": 2}),
    "union_null": (_UNION, None),
    "union_string": (_UNION, "s"),
    "union_record": (_UNION, {"x": 3}),
    "record_with_originSchema": (
        {"type": "record", "name": "Own", "fields": [
            {"name": "a", "type": "double"},
            {"name": "originSchema", "type": "string"},
            {"name": "z", "type": {"type": "map", "values": "string"}}]},
        {"a": float("nan"), "originSchema": "user-data", "z": {"ü": "v"}},
    ),
}


@pytest.mark.parametrize("schema, datum", KEY_REPARSED.values(), ids=KEY_REPARSED)
def test_reparsed_key_envelope_equals_general_reader(schema, datum):
    """Keys the splice cannot build: the envelope is the general reader's
    decoded object (a non-object under "value") with originSchema put
    last or replaced in place, as json.dumps renders it."""
    from byte_convert_avro_spark.decoder import _decode_one
    from byte_convert_avro_spark.schema_store import CachedParser, LocalSchemaStore
    from byte_convert_avro_spark.wire import encode_wire

    schema = json.dumps(schema)
    parser = CachedParser(LocalSchemaStore({4: schema}))
    assert parser.get(4)[6] is None
    payload = encode_wire(4, schemaless_encode(datum, schema))
    datum_read, _ = compile_reader(schema)(memoryview(payload), 5)
    jv = to_avro_json(datum_read)
    env = dict(jv) if isinstance(jv, dict) else {"value": jv}
    env["originSchema"] = parse_schema(schema).canonical_str()
    spec = json.dumps(env, separators=(",", ":"), ensure_ascii=False).encode()
    assert _decode_one(payload, parser, is_key=True) == spec


@settings(max_examples=60, deadline=None)
@given(v=_VALUES)
def test_fused_kitchen_sink_equals_spec(v):
    """The FULL kitchen-sink schema (multi-branch unions, enum, fixed,
    array, map, nested record) now fuses — byte-identical to spec."""
    from byte_convert_avro_spark.avro.fused import compile_fused

    parsed = parse_schema(KITCHEN_SINK)
    fused = compile_fused(parsed)
    assert fused is not None
    buf = schemaless_encode(v, KITCHEN_SINK)
    datum, _ = compile_reader(parsed)(memoryview(buf), 0)
    spec = json.dumps(to_avro_json(datum), separators=(",", ":"), ensure_ascii=False)
    got, pos = fused(memoryview(buf), 0)
    assert got == spec and pos == len(buf)


NESTED_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Outer",
        "fields": [
            {"name": "id", "type": "long"},
            {
                "name": "who",
                "type": {
                    "type": "record",
                    "name": "Name",
                    "fields": [
                        {"name": "first", "type": "string"},
                        {"name": "last", "type": ["null", "string"]},
                    ],
                },
            },
            {"name": "alt", "type": ["null", "Name"]},
        ],
    }
)


@settings(max_examples=60, deadline=None)
@given(
    v=st.fixed_dictionaries(
        {
            "id": st.integers(-(2**62), 2**62),
            "who": st.fixed_dictionaries(
                {"first": st.text(max_size=15), "last": st.one_of(st.none(), st.text(max_size=15))}
            ),
            "alt": st.one_of(
                st.none(),
                st.fixed_dictionaries(
                    {"first": st.text(max_size=15), "last": st.one_of(st.none(), st.text(max_size=15))}
                ),
            ),
        }
    )
)
def test_fused_nested_records_equal_spec(v):
    """Nested records (and [null, record] unions) inline into the fused
    codegen and stay byte-identical to the specification path."""
    from byte_convert_avro_spark.avro.fused import compile_fused

    parsed = parse_schema(NESTED_SCHEMA)
    fused = compile_fused(parsed)
    assert fused is not None
    buf = schemaless_encode(v, NESTED_SCHEMA)
    datum, _ = compile_reader(parsed)(memoryview(buf), 0)
    spec = json.dumps(to_avro_json(datum), separators=(",", ":"), ensure_ascii=False)
    got, pos = fused(memoryview(buf), 0)
    assert got == spec and pos == len(buf)


LINKED_LIST = json.dumps(
    {
        "type": "record",
        "name": "Node",
        "fields": [
            {"name": "v", "type": "long"},
            {"name": "next", "type": ["null", "Node"]},
        ],
    }
)


def _fused_vs_spec(schema: str, v) -> None:
    from byte_convert_avro_spark.avro.fused import compile_fused

    parsed = parse_schema(schema)
    fused = compile_fused(parsed)
    assert fused is not None
    buf = schemaless_encode(v, parsed)
    datum, _ = compile_reader(parsed)(memoryview(buf), 0)
    spec = json.dumps(to_avro_json(datum), separators=(",", ":"), ensure_ascii=False)
    got, pos = fused(memoryview(buf), 0)
    assert got == spec and pos == len(buf)


@settings(max_examples=60, deadline=None)
@given(vs=st.lists(st.integers(-(2**63), 2**63 - 1), max_size=30))
def test_fused_recursive_linked_list_equals_spec(vs):
    """Self-referential record schemas fuse as a per-type function graph
    (no unbounded inlining): a linked list of any length decodes on the
    fused path byte-identically to the general-reader + spec-JSON path."""
    node = None
    for x in reversed(vs):
        node = {"v": x, "next": node}
    if node is None:
        node = {"v": 0, "next": None}
    _fused_vs_spec(LINKED_LIST, node)


def test_fused_mutually_recursive_records_equal_spec():
    """A -> B -> A mutual recursion: both cycle members compile to
    functions; output byte-identical to spec."""
    ab = json.dumps(
        {
            "type": "record",
            "name": "A",
            "fields": [
                {"name": "x", "type": "string"},
                {
                    "name": "b",
                    "type": [
                        "null",
                        {
                            "type": "record",
                            "name": "B",
                            "fields": [
                                {"name": "y", "type": "long"},
                                {"name": "a", "type": ["null", "A"]},
                            ],
                        },
                    ],
                },
            ],
        }
    )
    _fused_vs_spec(ab, {"x": "root", "b": {"y": 1, "a": {"x": "leaf", "b": None}}})


def test_fused_recursion_through_array_and_map_equals_spec():
    """Cycles that pass through array/map containers fuse too."""
    tree = json.dumps(
        {
            "type": "record",
            "name": "T",
            "fields": [
                {"name": "v", "type": "int"},
                {"name": "kids", "type": {"type": "array", "items": "T"}},
            ],
        }
    )
    _fused_vs_spec(
        tree, {"v": 1, "kids": [{"v": 2, "kids": []}, {"v": 3, "kids": [{"v": 4, "kids": []}]}]}
    )
    m = json.dumps(
        {
            "type": "record",
            "name": "M",
            "fields": [
                {"name": "v", "type": "int"},
                {"name": "kids", "type": {"type": "map", "values": "M"}},
            ],
        }
    )
    _fused_vs_spec(m, {"v": 1, "kids": {"a": {"v": 2, "kids": {}}}})


COLL_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Coll",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "nums", "type": {"type": "array", "items": "double"}},
            {"name": "counts", "type": {"type": "map", "values": "long"}},
            {"name": "opt_tags", "type": ["null", {"type": "array", "items": "int"}]},
            {
                "name": "people",
                "type": {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "P",
                        "fields": [{"name": "n", "type": "string"}],
                    },
                },
            },
        ],
    }
)


@settings(max_examples=60, deadline=None)
@given(
    v=st.fixed_dictionaries(
        {
            "id": st.integers(-(2**62), 2**62),
            "tags": st.lists(st.text(max_size=10), max_size=6),
            "nums": st.lists(st.floats(allow_nan=False, allow_infinity=False), max_size=5),
            "counts": st.dictionaries(st.text(max_size=6), st.integers(-(2**40), 2**40), max_size=5),
            "opt_tags": st.one_of(st.none(), st.lists(st.integers(-(2**31), 2**31 - 1), max_size=4)),
            "people": st.lists(st.fixed_dictionaries({"n": st.text(max_size=8)}), max_size=4),
        }
    )
)
def test_fused_collections_equal_spec(v):
    """Arrays (of primitives and records), maps, and [null, array] unions
    through the fused codegen — byte-identical to the specification path."""
    from byte_convert_avro_spark.avro.fused import compile_fused

    parsed = parse_schema(COLL_SCHEMA)
    fused = compile_fused(parsed)
    assert fused is not None
    buf = schemaless_encode(v, COLL_SCHEMA)
    datum, _ = compile_reader(parsed)(memoryview(buf), 0)
    spec = json.dumps(to_avro_json(datum), separators=(",", ":"), ensure_ascii=False)
    got, pos = fused(memoryview(buf), 0)
    assert got == spec and pos == len(buf)


@settings(max_examples=50, deadline=None)
@given(v=_FLAT_VALUES)
def test_fused_key_envelope_equals_general(v):
    """Key envelope (O15) via the fused splice == the general dict path."""
    from byte_convert_avro_spark.decoder import _decode_one
    from byte_convert_avro_spark.schema_store import CachedParser, LocalSchemaStore
    from byte_convert_avro_spark.wire import encode_wire

    store = LocalSchemaStore()
    store.register(FLAT_SCHEMA, 3)
    parser = CachedParser(store)
    payload = encode_wire(3, schemaless_encode(v, FLAT_SCHEMA))
    got = _decode_one(payload, parser, is_key=True).decode()
    # general-path reference: decoded object + originSchema appended
    parsed, reader, canonical = (
        parser.get(3)[0], parser.get(3)[1], parser.get(3)[2]
    )
    datum, _ = reader(memoryview(payload), 5)
    env = dict(to_avro_json(datum))
    env["originSchema"] = canonical
    spec = json.dumps(env, separators=(",", ":"), ensure_ascii=False)
    assert got == spec
