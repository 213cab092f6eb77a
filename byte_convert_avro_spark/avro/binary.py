"""Avro binary (schemaless) decode/encode — public Avro spec, "Binary
Encoding".

``compile_reader(schema)`` builds a tree of specialized closures once per
schema (the moral equivalent of the JVM's per-schema ``GenericDatumReader``
construction, AvroTransform.java:241) so the per-record hot path does no
schema interpretation — only byte walking.  Values decode to plain Python:

    record -> dict (insertion order = schema field order, which the
              Avro-JSON encoder relies on; GenericDatumWriter iterates
              field order the same way)
    enum   -> symbol str           fixed/bytes -> bytes
    array  -> list                 map         -> dict
    union  -> (branch_schema, value) handled by the caller via a tag

Unions decode to the branch *value*; the JSON layer needs the branch label,
so union readers return a ``_UnionValue`` carrying both.
"""

from __future__ import annotations

import struct
from typing import Any, Callable

from byte_convert_avro_spark.avro.schema import AvroSchema, parse_schema

_unpack_float = struct.Struct("<f").unpack_from
_unpack_double = struct.Struct("<d").unpack_from
_pack_float = struct.Struct("<f").pack
_pack_double = struct.Struct("<d").pack


class _UnionValue:
    """Decoded union: remembers which branch produced the value (needed for
    Avro-JSON's ``{"branch": value}`` wrapping)."""

    __slots__ = ("label", "value", "schema")

    def __init__(self, label: str, value: Any, schema: AvroSchema) -> None:
        self.label = label
        self.value = value
        self.schema = schema


Reader = Callable[[memoryview, int], tuple[Any, int]]


class TruncatedPayloadError(ValueError):
    """Payload ends mid-value (or carries a negative length prefix).

    The Python analogue of the JVM ``BinaryDecoder``'s ``EOFException`` —
    the reference lets it propagate and forwards the undecoded original
    (AvroTransform.java:149-152,188-191).  Python slices truncate silently,
    so every length-prefixed read must bounds-check before slicing or a
    payload cut inside its last field would "decode" to corrupt data."""


def _need(buf: memoryview, pos: int, ln: int) -> None:
    if ln < 0 or pos + ln > len(buf):
        raise TruncatedPayloadError(
            f"payload truncated: need {ln} bytes at position {pos}, "
            f"have {len(buf) - pos}"
        )


def bad_union(i: int) -> None:
    """An out-of-range union branch index, negative included: raise (like
    Java's ``List.get``) instead of wrapping to a branch from the end."""
    raise ValueError(f"union branch index {i} out of range")


def bad_enum(i: int) -> None:
    """An out-of-range enum symbol index, negative included (see
    :func:`bad_union`)."""
    raise ValueError(f"enum symbol index {i} out of range")


def _read_long(buf: memoryview, pos: int) -> tuple[int, int]:
    """Zigzag varint (spec: int and long use variable-length zig-zag)."""
    b = buf[pos]
    pos += 1
    n = b & 0x7F
    shift = 7
    while b & 0x80:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        shift += 7
    return (n >> 1) ^ -(n & 1), pos


def compile_reader(schema: AvroSchema | str | dict) -> Reader:
    if not isinstance(schema, AvroSchema):
        schema = parse_schema(schema)
    return _compile(schema, {})


def _compile(s: AvroSchema, memo: dict[int, Reader]) -> Reader:
    if id(s) in memo:  # recursive named types: indirect through memo slot
        reader = memo[id(s)]
        return lambda buf, pos: memo[id(s)](buf, pos)  # late-bound
    k = s.kind
    if k == "primitive":
        return _PRIMITIVE_READERS[s.name]
    if k == "enum":
        symbols = s.symbols or []
        n_symbols = len(symbols)

        def read_enum(buf: memoryview, pos: int) -> tuple[str, int]:
            i, pos = _read_long(buf, pos)
            if not 0 <= i < n_symbols:
                bad_enum(i)
            return symbols[i], pos

        return read_enum
    if k == "fixed":
        size = s.size

        def read_fixed(buf: memoryview, pos: int) -> tuple[bytes, int]:
            _need(buf, pos, size)
            return bytes(buf[pos:pos + size]), pos + size

        return read_fixed
    if k == "record":
        # placeholder for recursion, replaced below
        memo[id(s)] = lambda buf, pos: (_ for _ in ()).throw(RuntimeError("uncompiled"))
        field_readers: list[tuple[str, Reader]] = []

        def read_record(buf: memoryview, pos: int) -> tuple[dict, int]:
            out = {}
            for name, rd in field_readers:
                out[name], pos = rd(buf, pos)
            return out, pos

        memo[id(s)] = read_record
        for f in s.fields or []:
            field_readers.append((f.name, _compile(f.type, memo)))
        return read_record
    if k == "array":
        item = _compile(s.items, memo)

        def read_array(buf: memoryview, pos: int) -> tuple[list, int]:
            out: list = []
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:  # block with byte-size prefix
                    n = -n
                    _, pos = _read_long(buf, pos)
                for _ in range(n):
                    v, pos = item(buf, pos)
                    out.append(v)

        return read_array
    if k == "map":
        val = _compile(s.values, memo)

        def read_map(buf: memoryview, pos: int) -> tuple[dict, int]:
            out: dict = {}
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _, pos = _read_long(buf, pos)
                for _ in range(n):
                    ln, pos = _read_long(buf, pos)
                    _need(buf, pos, ln)
                    key = bytes(buf[pos:pos + ln]).decode("utf-8")
                    pos += ln
                    out[key], pos = val(buf, pos)

        return read_map
    if k == "union":
        branches = [(b.union_label, _compile(b, memo), b) for b in s.fields or []]
        n_branches = len(branches)

        def read_union(buf: memoryview, pos: int) -> tuple[Any, int]:
            i, pos = _read_long(buf, pos)
            if not 0 <= i < n_branches:
                bad_union(i)
            label, rd, bs = branches[i]
            v, pos = rd(buf, pos)
            if label == "null":
                return None, pos
            return _UnionValue(label, v, bs), pos

        return read_union
    raise ValueError(f"cannot compile reader for kind {k!r}")


def _read_null(buf: memoryview, pos: int) -> tuple[None, int]:
    return None, pos


def _read_boolean(buf: memoryview, pos: int) -> tuple[bool, int]:
    return buf[pos] == 1, pos + 1


def _read_float(buf: memoryview, pos: int) -> tuple[float, int]:
    return _unpack_float(buf, pos)[0], pos + 4


def _read_double(buf: memoryview, pos: int) -> tuple[float, int]:
    return _unpack_double(buf, pos)[0], pos + 8


def _read_bytes(buf: memoryview, pos: int) -> tuple[bytes, int]:
    ln, pos = _read_long(buf, pos)
    _need(buf, pos, ln)
    return bytes(buf[pos:pos + ln]), pos + ln


def _read_string(buf: memoryview, pos: int) -> tuple[str, int]:
    ln, pos = _read_long(buf, pos)
    _need(buf, pos, ln)
    return bytes(buf[pos:pos + ln]).decode("utf-8"), pos + ln


_PRIMITIVE_READERS: dict[str, Reader] = {
    "null": _read_null,
    "boolean": _read_boolean,
    "int": _read_long,
    "long": _read_long,
    "float": _read_float,
    "double": _read_double,
    "bytes": _read_bytes,
    "string": _read_string,
}


def schemaless_decode(payload: bytes | memoryview, schema: AvroSchema | str | dict) -> Any:
    """Decode one Avro body (no wire prefix, no container framing)."""
    reader = compile_reader(schema)
    value, pos = reader(memoryview(payload), 0)
    return value


# ---------------------------------------------------------------------------
# Encoder — used by tests to build wire-format fixtures, mirroring the
# reference fixture encoder ``encodeAvroObject`` (TransformTest.java:114-131).
# ---------------------------------------------------------------------------

Writer = Callable[[bytearray, Any], None]


def _write_long(out: bytearray, v: int) -> None:
    v = (v << 1) ^ (v >> 63)
    while v & ~0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)


def compile_writer(schema: AvroSchema | str | dict) -> Writer:
    if not isinstance(schema, AvroSchema):
        schema = parse_schema(schema)
    return _compile_writer(schema, {})


def _compile_writer(s: AvroSchema, memo: dict[int, Writer]) -> Writer:
    if id(s) in memo:
        return lambda out, v: memo[id(s)](out, v)
    k = s.kind
    if k == "primitive":
        return _PRIMITIVE_WRITERS[s.name]
    if k == "enum":
        index = {sym: i for i, sym in enumerate(s.symbols or [])}

        def write_enum(out: bytearray, v: Any) -> None:
            _write_long(out, index[v])

        return write_enum
    if k == "fixed":
        def write_fixed(out: bytearray, v: Any) -> None:
            out.extend(v)

        return write_fixed
    if k == "record":
        memo[id(s)] = lambda out, v: (_ for _ in ()).throw(RuntimeError("uncompiled"))
        field_writers: list[tuple[str, Writer, Any, bool]] = []

        def write_record(out: bytearray, v: Any) -> None:
            for name, wr, default, has_default in field_writers:
                if name in v:
                    wr(out, v[name])
                elif has_default:
                    wr(out, default)
                else:
                    raise ValueError(f"missing field {name!r}")

        memo[id(s)] = write_record
        for f in s.fields or []:
            field_writers.append((f.name, _compile_writer(f.type, memo), f.default, f.has_default))
        return write_record
    if k == "array":
        item = _compile_writer(s.items, memo)

        def write_array(out: bytearray, v: Any) -> None:
            if v:
                _write_long(out, len(v))
                for x in v:
                    item(out, x)
            _write_long(out, 0)

        return write_array
    if k == "map":
        val = _compile_writer(s.values, memo)

        def write_map(out: bytearray, v: Any) -> None:
            if v:
                _write_long(out, len(v))
                for key, x in v.items():
                    kb = key.encode("utf-8")
                    _write_long(out, len(kb))
                    out.extend(kb)
                    val(out, x)
            _write_long(out, 0)

        return write_map
    if k == "union":
        branches = [(b, _compile_writer(b, memo)) for b in s.fields or []]

        def write_union(out: bytearray, v: Any) -> None:
            # pick branch: None -> null branch; _UnionValue -> its branch;
            # else first non-null branch that plausibly matches by python type
            if v is None:
                for i, (b, _) in enumerate(branches):
                    if b.kind == "primitive" and b.name == "null":
                        _write_long(out, i)
                        return
                raise ValueError("no null branch for None")
            if isinstance(v, _UnionValue):
                for i, (b, wr) in enumerate(branches):
                    if b.union_label == v.label:
                        _write_long(out, i)
                        wr(out, v.value)
                        return
                raise ValueError(f"no branch {v.label!r}")
            # Avro-JSON tagged form: {"branch_label": value}
            if isinstance(v, dict) and len(v) == 1:
                (label, inner), = v.items()
                for i, (b, wr) in enumerate(branches):
                    if b.union_label == label:
                        _write_long(out, i)
                        wr(out, inner)
                        return
            for i, (b, wr) in enumerate(branches):
                if _matches(b, v):
                    _write_long(out, i)
                    wr(out, v)
                    return
            raise ValueError(f"no union branch matches {type(v)}")

        return write_union
    raise ValueError(f"cannot compile writer for kind {k!r}")


def _matches(b: AvroSchema, v: Any) -> bool:
    if b.kind == "primitive":
        return {
            "boolean": lambda x: isinstance(x, bool),
            "int": lambda x: isinstance(x, int) and not isinstance(x, bool),
            "long": lambda x: isinstance(x, int) and not isinstance(x, bool),
            "float": lambda x: isinstance(x, float),
            "double": lambda x: isinstance(x, float),
            "bytes": lambda x: isinstance(x, (bytes, bytearray)),
            "string": lambda x: isinstance(x, str),
            "null": lambda x: x is None,
        }[b.name](v)
    if b.kind == "record":
        return isinstance(v, dict)
    if b.kind == "array":
        return isinstance(v, list)
    if b.kind == "map":
        return isinstance(v, dict)
    if b.kind == "enum":
        return isinstance(v, str) and v in (b.symbols or [])
    if b.kind == "fixed":
        return isinstance(v, (bytes, bytearray))
    return False


def _write_null(out: bytearray, v: Any) -> None:
    pass


def _write_boolean(out: bytearray, v: Any) -> None:
    out.append(1 if v else 0)


def _write_float(out: bytearray, v: Any) -> None:
    out.extend(_pack_float(v))


def _write_double(out: bytearray, v: Any) -> None:
    out.extend(_pack_double(v))


def _write_bytes(out: bytearray, v: Any) -> None:
    _write_long(out, len(v))
    out.extend(v)


def _write_string(out: bytearray, v: Any) -> None:
    b = v.encode("utf-8")
    _write_long(out, len(b))
    out.extend(b)


_PRIMITIVE_WRITERS: dict[str, Writer] = {
    "null": _write_null,
    "boolean": _write_boolean,
    "int": _write_long,
    "long": _write_long,
    "float": _write_float,
    "double": _write_double,
    "bytes": _write_bytes,
    "string": _write_string,
}


def schemaless_encode(value: Any, schema: AvroSchema | str | dict) -> bytes:
    writer = compile_writer(schema)
    out = bytearray()
    writer(out, value)
    return bytes(out)
