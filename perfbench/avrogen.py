"""Seeded Avro inputs and their expected Avro-JSON, written from the Avro
1.11 specification without importing the package under test.

A datum mirrors its schema: records are dicts, enums are symbol strings,
bytes are ``bytes``, maps are dicts (insertion order is wire order), and a
union value is ``(branch_index, value)`` so the encoder and the renderer
agree on the branch without guessing it from the Python type.
"""

from __future__ import annotations

import json
import random
import struct

PRIMITIVES = ("null", "boolean", "int", "long", "float", "double", "bytes", "string")


def _named(schema, names: dict) -> dict:
    """Register every named type reachable from ``schema``; names resolve
    without namespaces because the benchmark's schemas use none."""
    if isinstance(schema, dict):
        if schema.get("type") in ("record", "enum", "fixed"):
            names[schema["name"]] = schema
        for f in schema.get("fields", ()):
            _named(f["type"], names)
        for k in ("items", "values"):
            if k in schema:
                _named(schema[k], names)
    elif isinstance(schema, list):
        for b in schema:
            _named(b, names)
    return names


def names_of(schema) -> dict:
    return _named(schema, {})


def _resolve(schema, names: dict):
    if isinstance(schema, str) and schema not in PRIMITIVES:
        return names[schema]
    return schema


def union_label(branch) -> str:
    """Avro-JSON union tag: primitive name, named type's name, or
    ``array``/``map``."""
    if isinstance(branch, str):
        return branch
    t = branch["type"]
    return branch["name"] if t in ("record", "enum", "fixed") else t


# -- binary encoding ---------------------------------------------------------

def _varint(n: int, out: bytearray) -> None:
    z = (n << 1) ^ (n >> 63)
    z &= (1 << 64) - 1
    while z & ~0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)


def encode(schema, datum, names: dict | None = None) -> bytes:
    names = names_of(schema) if names is None else names
    out = bytearray()
    _enc(schema, datum, names, out)
    return bytes(out)


def _enc(schema, v, names: dict, out: bytearray) -> None:
    schema = _resolve(schema, names)
    if isinstance(schema, list):
        idx, inner = (None, None) if v is None else v
        if idx is None:
            idx = next(i for i, b in enumerate(schema) if b == "null")
        _varint(idx, out)
        _enc(schema[idx], inner, names, out)
        return
    t = schema if isinstance(schema, str) else schema["type"]
    if t == "null":
        return
    if t == "boolean":
        out.append(1 if v else 0)
    elif t in ("int", "long"):
        _varint(v, out)
    elif t == "float":
        out += struct.pack("<f", v)
    elif t == "double":
        out += struct.pack("<d", v)
    elif t in ("bytes", "string"):
        b = v if t == "bytes" else v.encode("utf-8")
        _varint(len(b), out)
        out += b
    elif t == "enum":
        _varint(schema["symbols"].index(v), out)
    elif t == "array":
        if v:
            _varint(len(v), out)
            for item in v:
                _enc(schema["items"], item, names, out)
        _varint(0, out)
    elif t == "map":
        if v:
            _varint(len(v), out)
            for k, item in v.items():
                _enc("string", k, names, out)
                _enc(schema["values"], item, names, out)
        _varint(0, out)
    elif t == "record":
        for f in schema["fields"]:
            _enc(f["type"], v[f["name"]], names, out)
    else:
        raise ValueError(f"unsupported type {t!r}")


# -- Avro-JSON rendering -----------------------------------------------------

def render(schema, datum, names: dict | None = None):
    """Datum -> JSON-ready object under the Avro JSON encoding: union values
    tagged by branch label, bytes as ISO-8859-1 text, floats as the float32
    value the wire carries."""
    names = names_of(schema) if names is None else names
    return _render(schema, datum, names)


def _render(schema, v, names: dict):
    schema = _resolve(schema, names)
    if isinstance(schema, list):
        if v is None:
            return None
        idx, inner = v
        branch = schema[idx]
        if branch == "null":
            return None
        return {union_label(_resolve(branch, names)): _render(branch, inner, names)}
    t = schema if isinstance(schema, str) else schema["type"]
    if t in ("null", "boolean", "int", "long", "double", "string", "enum"):
        return v
    if t == "float":
        return struct.unpack("<f", struct.pack("<f", v))[0]
    if t == "bytes":
        return v.decode("latin-1")
    if t == "array":
        return [_render(schema["items"], x, names) for x in v]
    if t == "map":
        return {k: _render(schema["values"], x, names) for k, x in v.items()}
    if t == "record":
        return {f["name"]: _render(f["type"], v[f["name"]], names) for f in schema["fields"]}
    raise ValueError(f"unsupported type {t!r}")


def wire(schema_id: int, body: bytes) -> bytes:
    """Confluent wire format: magic 0, big-endian int32 id, Avro body."""
    return b"\x00" + schema_id.to_bytes(4, "big", signed=True) + body


# -- the decode_wide schema and its records -----------------------------------

ADDRESS = {
    "type": "record",
    "name": "Address",
    "fields": [
        {"name": "street", "type": "string"},
        {"name": "zip", "type": "int"},
        {"name": "country", "type": ["null", "string"]},
    ],
}

WIDE_SCHEMA = {
    "type": "record",
    "name": "WideEvent",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "seq", "type": "int"},
        {"name": "user", "type": "string"},
        {"name": "kind", "type": {"type": "enum", "name": "Kind",
                                  "symbols": ["VIEW", "CLICK", "BUY", "REFUND"]}},
        {"name": "amount", "type": "double"},
        {"name": "ratio", "type": "float"},
        {"name": "active", "type": "boolean"},
        {"name": "email", "type": ["null", "string"]},
        {"name": "score", "type": ["null", "long"]},
        {"name": "tags", "type": {"type": "array", "items": "string"}},
        {"name": "counters", "type": {"type": "map", "values": "long"}},
        {"name": "address", "type": ADDRESS},
        {"name": "billing", "type": ["null", "Address"]},
        {"name": "payload", "type": "bytes"},
        {"name": "created_ms", "type": "long"},
        {"name": "note", "type": ["null", "string"]},
        {"name": "level", "type": "int"},
        {"name": "region", "type": "string"},
    ],
}

_WORDS = ("alpha", "beta", "gamma", "delta", "kafka", "spark", "avro", "zürich",
          "naïve", "oslo", "tokyo", "lima", "quote\"d", "tab\tbed", "ünïcode")


def _address(rng: random.Random) -> dict:
    return {
        "street": f"{rng.randrange(1, 999)} {rng.choice(_WORDS)} st",
        "zip": rng.randrange(10000, 99999),
        "country": None if rng.random() < 0.2 else (1, rng.choice(("NL", "DE", "FR", "JP"))),
    }


def wide_record(rng: random.Random, i: int) -> dict:
    return {
        "id": i * 7919 - 2**40,
        "seq": rng.randrange(-2**31, 2**31),
        "user": f"user_{rng.randrange(100000)}_{rng.choice(_WORDS)}",
        "kind": rng.choice(WIDE_SCHEMA["fields"][3]["type"]["symbols"]),
        "amount": round(rng.uniform(-1e6, 1e6), 4),
        "ratio": rng.random(),
        "active": rng.random() < 0.5,
        "email": None if rng.random() < 0.3 else (1, f"u{i}@example.com"),
        "score": None if rng.random() < 0.5 else (1, rng.randrange(-2**62, 2**62)),
        "tags": [rng.choice(_WORDS) for _ in range(rng.randrange(0, 5))],
        "counters": {f"c{j}": rng.randrange(-10**12, 10**12) for j in range(rng.randrange(0, 4))},
        "address": _address(rng),
        "billing": None if rng.random() < 0.5 else (1, _address(rng)),
        "payload": bytes(rng.randrange(256) for _ in range(rng.randrange(0, 24))),
        "created_ms": 1_700_000_000_000 + rng.randrange(10**9),
        "note": None if rng.random() < 0.7 else (1, rng.choice(_WORDS) * 3),
        "level": rng.randrange(0, 10),
        "region": rng.choice(("eu-west", "us-east", "ap-south")),
    }


# -- the registry mix's schemas -------------------------------------------------

_NARROW_TYPES = (
    ("long", lambda r: r.randrange(-2**40, 2**40)),
    ("int", lambda r: r.randrange(-1000, 1000)),
    ("string", lambda r: r.choice(_WORDS)),
    ("double", lambda r: round(r.uniform(-100, 100), 3)),
    ("boolean", lambda r: r.random() < 0.5),
    (["null", "string"], lambda r: None if r.random() < 0.4 else (1, r.choice(_WORDS))),
)

#: top-level non-record schemas, which take the package's general path
_NON_RECORD = (
    ("string", lambda r: r.choice(_WORDS)),
    ("long", lambda r: r.randrange(-2**50, 2**50)),
    ({"type": "array", "items": "long"}, lambda r: [r.randrange(-99, 99) for _ in range(r.randrange(4))]),
    ({"type": "map", "values": "string"}, lambda r: {f"k{j}": r.choice(_WORDS) for j in range(r.randrange(3))}),
)


class NarrowSchema:
    """One registered id of the registry mix with its datum generator."""

    def __init__(self, schema_id: int, schema, make) -> None:
        self.schema_id = schema_id
        self.schema = schema
        self.text = json.dumps(schema)
        self.names = names_of(schema)
        self.make = make
        self.is_record = isinstance(schema, dict) and schema.get("type") == "record"


def narrow_schema(rng: random.Random, schema_id: int, shape: str) -> NarrowSchema:
    """``shape``: ``record`` (fused path), ``non_record`` or
    ``origin_field`` (a record with its own ``originSchema`` field, which
    takes the general path when decoded as a key). Every record starts
    with a nullable union and ends with a string, so the invalid-payload
    injector can corrupt the union index or cut the string short."""
    if shape == "non_record":
        schema, make = _NON_RECORD[rng.randrange(len(_NON_RECORD))]
        return NarrowSchema(schema_id, schema, make)
    picked = [_NARROW_TYPES[rng.randrange(len(_NARROW_TYPES))] for _ in range(rng.randrange(1, 4))]
    fields = [("flag", ["null", "long"], lambda r: None if r.random() < 0.3 else (1, r.randrange(10**6)))]
    fields += [(f"f{j}", t, g) for j, (t, g) in enumerate(picked)]
    if shape == "origin_field":
        fields.append(("originSchema", "string", lambda r: "kept-" + r.choice(_WORDS)))
    fields.append(("tail", "string", lambda r: "tail-" + r.choice(_WORDS) * 2))
    schema = {
        "type": "record",
        "name": f"Rec{schema_id}",
        "fields": [{"name": n, "type": t} for n, t, _ in fields],
    }
    gens = [(n, g) for n, _, g in fields]
    return NarrowSchema(schema_id, schema, lambda r: {n: g(r) for n, g in gens})


def zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k ** s) for k in range(1, n + 1)]
