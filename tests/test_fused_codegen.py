"""The fused decode→Avro-JSON kernel (avro/fused.py) against the general
path, on the values its fast paths special-case.

Every example is checked three ways: the fused function on ``bytes``, on a
``memoryview`` and on a ``bytearray`` equals the specification text
(``json.dumps(to_avro_json(reader(...)))``); the value and key envelopes of
``_decode_one`` are the ``json.dumps`` envelopes of that text, with the key
spliced and with it re-serialized alike; and the payload cut at every
offset raises the same error in the fused function and the general reader.
Map blocks repeat keys, which render once with the last value, as the
general reader's dict does.  Out-of-range union and enum indexes, negative
ones included, raise on every reader.
"""

from __future__ import annotations

import json
import math
import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from byte_convert_avro_spark.avro import parse_schema, schemaless_encode
from byte_convert_avro_spark.avro.binary import _write_long, compile_reader
from byte_convert_avro_spark.avro.fused import compile_fused
from byte_convert_avro_spark.avro.jsonenc import to_avro_json
from byte_convert_avro_spark.avro.resolve import compile_resolving_reader
from byte_convert_avro_spark.decoder import _decode_one
from byte_convert_avro_spark.schema_store import CachedParser, LocalSchemaStore
from byte_convert_avro_spark.wire import encode_wire

TREE = {
    "type": "record",
    "name": "Tree",
    "fields": [
        {"name": "v", "type": ["null", "long", "string"]},
        {"name": "kids", "type": {"type": "array", "items": "Tree"}},
    ],
}

#: (field name, field type); ``arr`` and ``m`` are written with
#: hand-chosen blocks (see ``_blocks``), every other field by the encoder;
#: ``m``'s entries are (key, value) pairs whose keys may repeat
FIELDS = [
    ("i", "int"),
    ("l", "long"),
    ("f", "float"),
    ("d", "double"),
    ("s", "string"),
    ("b", "bytes"),
    ("fx", {"type": "fixed", "name": "Fx", "size": 3}),
    ("e", {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]}),
    ("nu", [
        "null",
        "long",
        "string",
        {"type": "array", "items": ["null", "double", "string"]},
        {"type": "map", "values": ["null", "int"]},
    ]),
    ("pts", {"type": "array", "items": {
        "type": "record", "name": "Pt", "fields": [{"name": "x", "type": "int"}]}}),
    ("t", TREE),
    ("arr", {"type": "array", "items": "long"}),
    ("m", {"type": "map", "values": "string"}),
]
SCHEMA = json.dumps({"type": "record", "name": "P", "fields": [
    {"name": n, "type": t} for n, t in FIELDS]})
SID = 7

INT_EDGES = [0, 1, -1, 63, -63, 64, -64, 65, -65, 8191, -8191, 8192, -8192,
             8193, -8193, 2**31 - 1, -(2**31)]
LONG_EDGES = INT_EDGES + [2**63 - 1, -(2**63), 2**32, -(2**32)]
FLOAT_EDGES = [math.nan, math.inf, -math.inf, -0.0, 0.0, 5e-324, 2.2250738585072014e-308 / 3,
               1e-45, 1.5, -1e300]
TEXT_EDGES = ["", "zürich", "naïve ünïcode", "日本語", "quote\"d \\ back", "\x00\x1f\x7f", " "]

ints = st.sampled_from(INT_EDGES) | st.integers(-(2**31), 2**31 - 1)
longs = st.sampled_from(LONG_EDGES) | st.integers(-(2**63), 2**63 - 1)
floats32 = st.sampled_from([x for x in FLOAT_EDGES if abs(x) < 1e38 or x != x or math.isinf(x)]) | st.floats(width=32)
doubles = st.sampled_from(FLOAT_EDGES) | st.floats()
texts = st.sampled_from(TEXT_EDGES) | st.text(max_size=12)
#: map keys drawn from a few so that a block list often repeats one
map_keys = st.sampled_from(["a", "b", "zürich"]) | texts
tree_v = st.none() | longs.map(lambda x: {"long": x}) | texts.map(lambda s: {"string": s})
trees = st.recursive(
    st.fixed_dictionaries({"v": tree_v, "kids": st.just([])}),
    lambda kids: st.fixed_dictionaries({"v": tree_v, "kids": st.lists(kids, max_size=3)}),
    max_leaves=8,
)
nested_union = (
    st.none()
    | longs.map(lambda x: {"long": x})
    | texts.map(lambda s: {"string": s})
    | st.lists(st.none() | doubles | texts, max_size=4).map(lambda xs: {"array": xs})
    | st.dictionaries(texts, st.none() | ints, max_size=3).map(lambda d: {"map": d})
)
VALUES = st.fixed_dictionaries({
    "i": ints,
    "l": longs,
    "f": floats32,
    "d": doubles,
    "s": texts,
    "b": st.sampled_from([b"", bytes(range(256))]) | st.binary(max_size=12),
    "fx": st.binary(min_size=3, max_size=3),
    "e": st.sampled_from(["A", "B", "C"]),
    "nu": nested_union,
    "pts": st.lists(st.fixed_dictionaries({"x": ints}), max_size=3),
    "t": trees,
    "arr": st.lists(longs, max_size=6),
    "m": st.lists(st.tuples(map_keys, texts), max_size=6),
})
#: per block: (item count, written with a negative count + byte size?)
BLOCKS = st.lists(st.tuples(st.integers(1, 3), st.booleans()), max_size=4)


def _blocks(items: list[bytes], plan: list[tuple[int, bool]]) -> bytes:
    """Array/map body of pre-encoded ``items`` in blocks of the planned
    sizes (the rest in one last block); a negative-count block carries its
    byte size, as the Avro spec allows."""
    out = bytearray()
    i = 0
    for n, negative in plan + [(len(items), False)]:
        chunk = items[i:i + n]
        i += len(chunk)
        if not chunk:
            continue
        data = b"".join(chunk)
        if negative:
            _write_long(out, -len(chunk))
            _write_long(out, len(data))
        else:
            _write_long(out, len(chunk))
        out += data
    _write_long(out, 0)
    return bytes(out)


def _body(v: dict, arr_plan, map_plan) -> bytes:
    """A record's body is its fields' encodings back to back."""
    parsed = parse_schema(SCHEMA)
    out = b""
    for f in parsed.fields:
        if f.name == "arr":
            out += _blocks([schemaless_encode(x, "long") for x in v["arr"]], arr_plan)
        elif f.name == "m":
            out += _blocks([schemaless_encode(k, "string") + schemaless_encode(x, "string")
                            for k, x in v["m"]], map_plan)
        else:
            out += schemaless_encode(v[f.name], f.type)
    return out


def _parsers(schema: str, sid: int) -> tuple[CachedParser, CachedParser]:
    """A parser whose entry splices the key envelope, and one whose entry
    has the key decoder removed so ``_decode_one`` re-serializes it."""
    store = LocalSchemaStore({sid: schema})
    splice, reparse = CachedParser(store), CachedParser(store)
    entry = splice.get(sid)
    assert entry[5] is not None and entry[6] is not None
    reparse._by_id[sid] = entry[:6] + (None,) + entry[7:]
    return splice, reparse


def _error(fn, *args) -> type | None:
    """The type of the exception ``fn(*args)`` raises, or None."""
    try:
        fn(*args)
    except Exception as e:  # noqa: BLE001 — compared by type below
        return type(e)
    return None


def _dumps(obj) -> bytes:
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False).encode()


@settings(max_examples=80, deadline=None)
@given(v=VALUES, arr_plan=BLOCKS, map_plan=BLOCKS)
def test_fused_equals_general_on_edge_values(v, arr_plan, map_plan):
    parsed = parse_schema(SCHEMA)
    fused = compile_fused(parsed)
    reader = compile_reader(parsed)
    body = _body(v, arr_plan, map_plan)

    datum, end = reader(memoryview(body), 0)
    assert end == len(body)
    spec = json.dumps(to_avro_json(datum), separators=(",", ":"), ensure_ascii=False)
    assert fused(body, 0) == (spec, len(body))
    assert fused(memoryview(body), 0) == (spec, len(body))
    assert fused(bytearray(body), 0) == (spec, len(body))

    fp, gp = _parsers(SCHEMA, SID)
    payload = encode_wire(SID, body)
    canonical = parsed.canonical_str()
    value_env = _dumps({"originSchema": canonical, "originMessage": spec, "originSchemaId": SID})
    key_env = _dumps({**to_avro_json(datum), "originSchema": canonical})
    for parser in (fp, gp):
        assert _decode_one(payload, parser, False) == value_env
        assert _decode_one(payload, parser, True) == key_env

    # a cut payload raises the same error in the fused function and the
    # general reader: a short slice is a TruncatedPayloadError, a varint
    # or float past the end is not
    for cut in range(len(body)):
        short = body[:cut]
        err = _error(reader, memoryview(short), 0)
        assert err is not None, cut
        assert _error(fused, short, 0) is err, cut
        assert _error(fused, memoryview(short), 0) is err, cut


def test_empty_record_key_envelope_equals_general():
    """An empty record's JSON is ``{}``: the key splice adds no comma."""
    schema = json.dumps({"type": "record", "name": "Empty", "fields": []})
    fp, gp = _parsers(schema, 3)
    payload = encode_wire(3, b"\x00")  # a trailing byte past the empty body
    for is_key in (False, True):
        assert _decode_one(payload, fp, is_key) == _decode_one(payload, gp, is_key)
    assert json.loads(_decode_one(payload, fp, True))["originSchema"]


# -- repeated map keys ---------------------------------------------------

_pack_double = struct.Struct("<d").pack
#: map<double> body a=1.5, b=+Inf, a=-0.0 in one block
REPEAT_BODY = (b"\x06" + b"\x02a" + _pack_double(1.5) + b"\x02b" + _pack_double(math.inf)
               + b"\x02a" + _pack_double(-0.0) + b"\x00")
REPEAT_TEXT = '{"a":-0.0,"b":"Infinity"}'
DOUBLE_MAP = {"type": "map", "values": "double"}
NODE = {"type": "record", "name": "Node", "fields": [
    {"name": "m", "type": DOUBLE_MAP}, {"name": "next", "type": ["null", "Node"]}]}


@pytest.mark.parametrize("schema, body, text", [
    ({"type": "record", "name": "M", "fields": [{"name": "m", "type": DOUBLE_MAP}]},
     REPEAT_BODY, '{"m":' + REPEAT_TEXT + "}"),
    (DOUBLE_MAP, REPEAT_BODY, REPEAT_TEXT),
    # a record on a cycle compiles to a function of its own
    (NODE, REPEAT_BODY + b"\x02" + REPEAT_BODY + b"\x00",
     '{"m":' + REPEAT_TEXT + ',"next":{"Node":{"m":' + REPEAT_TEXT + ',"next":null}}}'),
], ids=["record_field", "top_level", "recursive_record"])
def test_repeated_map_key_keeps_first_position_and_last_value(schema, body, text):
    """A map that repeats a key renders it once, where it first appeared,
    with its last value: the general reader's dict (and Java's map-backed
    GenericDatumReader), not a JSON object with a duplicate key."""
    schema = json.dumps(schema)
    datum, end = compile_reader(schema)(memoryview(body), 0)
    assert end == len(body)
    assert _dumps(to_avro_json(datum)).decode() == text
    assert compile_fused(parse_schema(schema))(body, 0) == (text, end)


# -- out-of-range union and enum indexes ---------------------------------

UE_SCHEMA = json.dumps({"type": "record", "name": "UE", "fields": [
    {"name": "u", "type": ["null", "string"]},
    {"name": "k", "type": {"type": "enum", "name": "K", "symbols": ["A", "B", "C"]}},
]})


def _index_body(index: int, tail: bytes = b"") -> bytes:
    out = bytearray()
    _write_long(out, index)
    return bytes(out) + tail


@pytest.mark.parametrize(
    "body, msg",
    [(_index_body(i, b"\x00"), f"union branch index {i} out of range") for i in (-1, -2, 2, 64, -65, 2**40)]
    # u = null, then the enum index; -1 is the body 00 01, which used to
    # wrap to the last symbol C on both paths
    + [(b"\x00" + _index_body(i), f"enum symbol index {i} out of range") for i in (-1, -3, 3, 64, -65, 2**40)],
)
def test_bad_index_raises_on_every_path(body, msg):
    for fn in (compile_reader(UE_SCHEMA), compile_fused(parse_schema(UE_SCHEMA))):
        with pytest.raises(ValueError, match=msg):
            fn(memoryview(body), 0)
    fp, gp = _parsers(UE_SCHEMA, 1)
    for parser in (fp, gp):
        for is_key in (False, True):
            with pytest.raises(ValueError, match=msg):
                _decode_one(encode_wire(1, body), parser, is_key)


@pytest.mark.parametrize("index", [-1, 2])
def test_resolving_reader_rejects_bad_indexes(index):
    """The resolving reader's union->union, union->scalar and enum->enum
    readers reject the same indexes."""
    union_union = compile_resolving_reader('["null", "string"]', '["null", "string"]')
    union_scalar = compile_resolving_reader('["long", "int"]', '"long"')
    with pytest.raises(ValueError, match=f"union branch index {index} out of range"):
        union_union(memoryview(_index_body(index, b"\x00")), 0)
    with pytest.raises(ValueError, match=f"union branch index {index} out of range"):
        union_scalar(memoryview(_index_body(index, b"\x00")), 0)
    enum = '{"type": "enum", "name": "K", "symbols": ["A", "B"]}'
    with pytest.raises(ValueError, match=f"enum symbol index {index} out of range"):
        compile_resolving_reader(enum, enum)(memoryview(_index_body(index)), 0)
