"""Fused decode→Avro-JSON codegen: the per-record body decoder.

For every writer schema (a record or any other top level, built from
primitives/enums/fixed/nested records/arrays/maps/unions of any branch
count, nested anywhere) this module generates ONE Python function:
varint/zigzag decoding inlined (no per-field call), JSON text emitted
directly (no intermediate dict, no _UnionValue allocations, field names
and union labels escaped at compile time).  Truncated payloads raise
(bounds check before every length-prefixed slice) — EOF parity with the
general reader and the JVM BinaryDecoder.  Out-of-range union and enum
indexes raise, negative ones included, with the general reader's
messages; an empty union has no in-range index.

The generated function takes ``(buf, pos)`` where ``buf`` is ``bytes`` or
any buffer (a memoryview is copied to ``bytes`` once at entry), and keeps
each record to few interpreter operations:

- a varint whose first byte is < 0x80 (union and enum indexes, lengths,
  block counts, small ints) decodes by one table lookup; an int field's
  JSON text comes straight from a table of the 128 one-byte values; longer
  varints run the general loop;
- strings, bytes and fixed decode with ``bytes.decode`` on a slice;
- a finite float renders inline as ``repr(v)``; only NaN and ±Inf call
  ``_wf``;
- constant appends that run in sequence (a field's closing brace, the next
  field's name, a nested record's opening) are merged at compile time into
  one append; a merge never crosses a branch or loop boundary;
- helpers and tables are bound as default arguments, so every lookup in
  the body is a local one.

RECURSIVE record types (self-referential directly or through any
union/array/map/record path) fuse too: unbounded inlining is impossible,
so each record type on a cycle compiles to its own memoized function and
references emit calls — a per-type function graph mirroring the data
recursion, with everything off-cycle still inlined.  Decode-time recursion
depth equals data nesting depth, the same bound the general
closure-tree reader has.

A map whose body repeats a key renders each key once, in first-seen
position with the last value, as the general reader's dict (and Java's
map-backed ``GenericDatumReader``) does: each map keeps a set of its raw
keys, and a function that saw a repeat re-renders its text once through
``json.loads``/``json.dumps`` before returning.

Output parity: byte-identical to
``json.dumps(to_avro_json(reader(payload)), separators=(",", ":"),
ensure_ascii=False)`` — the specification path in ``jsonenc.py``.
"""

from __future__ import annotations

import json
import math
import struct
from json.encoder import encode_basestring as _esc

from byte_convert_avro_spark.avro.binary import TruncatedPayloadError, bad_enum, bad_union
from byte_convert_avro_spark.avro.schema import AvroSchema

_unpack_float = struct.Struct("<f").unpack_from
_unpack_double = struct.Struct("<d").unpack_from

#: zigzag value of every one-byte varint, and its decimal JSON text
_ZZ = tuple((b >> 1) ^ -(b & 1) for b in range(128))
_ZZ_TEXT = tuple(str(v) for v in _ZZ)


def _trunc(pos: int, ln: int, blen: int) -> None:
    """EOF parity with the general reader (binary.py _need): slices would
    silently truncate, so every length-prefixed read checks first."""
    raise TruncatedPayloadError(
        f"payload truncated: need {ln} bytes at position {pos}, have {blen - pos}"
    )


def _wf(v: float) -> str:
    """float -> JSON text with Java-literal NaN/Inf parity (jsonenc rules)."""
    if v != v:
        return '"NaN"'
    if v == math.inf:
        return '"Infinity"'
    if v == -math.inf:
        return '"-Infinity"'
    return repr(v)


def _canon(text: str) -> str:
    """Avro-JSON text with each repeated map key kept once, in first-seen
    position with the last value — the general reader's dict semantics."""
    return json.dumps(json.loads(text), separators=(",", ":"), ensure_ascii=False)


#: names every generated function binds as default arguments
_HELPERS = {
    "_bytes": bytes,
    "_str": str,
    "_repr": repr,
    "_esc": _esc,
    "_wf": _wf,
    "_canon": _canon,
    "_zz": _ZZ,
    "_zzt": _ZZ_TEXT,
    "_unpack_float": _unpack_float,
    "_unpack_double": _unpack_double,
    "_trunc": _trunc,
    "_bad_union": bad_union,
    "_bad_enum": bad_enum,
}


class _Code:
    """Lines of one generated function body.  ``text`` appends a constant
    to the output string ``o``; a constant that directly follows another at
    the same indent (so in the same block, in sequence) joins it.
    ``has_map`` marks a body that may see a repeated map key."""

    def __init__(self) -> None:
        # [indent, source line, constant text or None]
        self.lines: list[list] = [[1, "", ""]]  # `o = ''`, itself a constant
        self.has_map = False

    def add(self, ind: int, line: str) -> None:
        self.lines.append([ind, line, None])

    def text(self, ind: int, s: str) -> None:
        last = self.lines[-1]
        if last[2] is not None and last[0] == ind:
            last[2] += s
        else:
            self.lines.append([ind, "", s])

    def render(self) -> str:
        out = []
        for i, (ind, line, const) in enumerate(self.lines):
            if const is not None:
                line = f"o {'=' if i == 0 else '+='} {const!r}"
            out.append("    " * ind + line + "\n")
        return "".join(out)


def _varint(c: _Code, ind: int, out: str) -> None:
    """Zigzag varint at ``pos`` into local ``out``; advances pos."""
    c.add(ind, "b = buf[pos]; pos += 1")
    c.add(ind, f"if b < 128: {out} = _zz[b]")
    c.add(ind, "else:")
    _varint_tail(c, ind + 1)
    c.add(ind + 1, f"{out} = (n >> 1) ^ -(n & 1)")


def _varint_tail(c: _Code, ind: int) -> None:
    """Rest of a varint whose first byte ``b`` has its high bit set: the
    raw unsigned value lands in ``n``."""
    c.add(ind, "n = b & 127; shift = 7")
    c.add(ind, "while True:")
    c.add(ind + 1, "b = buf[pos]; pos += 1")
    c.add(ind + 1, "n |= (b & 127) << shift")
    c.add(ind + 1, "if b < 128: break")
    c.add(ind + 1, "shift += 7")


def _slice_text(c: _Code, ind: int, ln: str, codec: str, keys: str | None = None) -> None:
    """Append the escaped text of ``ln`` bytes at pos (bounds-checked); a
    map key's raw bytes also go into the set named ``keys``."""
    c.add(ind, f"e = pos + {ln}")
    c.add(ind, f"if {ln} < 0 or e > blen: _trunc(pos, {ln}, blen)")
    if keys is None:
        c.add(ind, f"o += _esc(buf[pos:e].decode({codec})); pos = e")
    else:
        c.add(ind, f"k = buf[pos:e]; {keys}.add(k); o += _esc(k.decode({codec})); pos = e")


def _recursive_records(root: AvroSchema) -> set[int]:
    """ids of record nodes that lie on a reference cycle (direct or via
    union/array/map/record paths).  Named-type references are resolved to
    shared instances by ``parse_schema``, so object identity is the type
    identity."""
    cyclic: set[int] = set()
    stack: list[int] = []
    onstack: set[int] = set()
    done: set[int] = set()

    def walk(node: AvroSchema) -> None:
        if node.kind == "record":
            if id(node) in onstack:
                cyclic.update(stack[stack.index(id(node)):])
                return
            if id(node) in done:
                return
            stack.append(id(node))
            onstack.add(id(node))
            for f in node.fields or []:
                walk(f.type)
            stack.pop()
            onstack.discard(id(node))
            done.add(id(node))
        elif node.kind == "union":
            for b in node.fields or []:
                walk(b)
        elif node.kind == "array":
            walk(node.items)
        elif node.kind == "map":
            walk(node.values)

    walk(root)
    return cyclic


def compile_fused(schema: AvroSchema):
    """-> fn(buf: bytes|memoryview, pos: int) -> (Avro-JSON text, end pos)
    for any parsed writer schema."""
    consts: dict[str, object] = {}
    counter = iter(range(1_000_000))
    cyclic = _recursive_records(schema)
    rec_fn_names: dict[int, str] = {}
    rec_fn_srcs: list[str] = []

    def function(name: str, node: AvroSchema) -> str:
        c = _Code()
        # a cycle member's own function renders its body, not a call to itself
        (record if node.kind == "record" else value)(c, 1, node)
        bound = ", ".join(f"{h}={h}" for h in [*_HELPERS, *consts])
        return (
            f"def {name}(buf, pos, {bound}):\n"
            "    if type(buf) is not _bytes: buf = _bytes(buf)\n"
            "    blen = len(buf)\n"
            + ("    dup = False\n" if c.has_map else "")
            + c.render()
            + ("    if dup: o = _canon(o)\n" if c.has_map else "")
            + "    return o, pos\n"
        )

    def rec_fn(rec: AvroSchema) -> str:
        """Memoized per-type decode function for a record on a cycle;
        registered before body generation so self-references emit calls."""
        if id(rec) not in rec_fn_names:
            name = f"_recf{next(counter)}"
            rec_fn_names[id(rec)] = name
            rec_fn_srcs.append(function(name, rec))
        return rec_fn_names[id(rec)]

    def value(c: _Code, ind: int, ft: AvroSchema) -> None:
        """Decode one value of type ft and append its JSON text to o."""
        k = ft.kind
        if k == "primitive":
            primitive(c, ind, ft.name)
        elif k == "enum":
            # symbols escaped at compile time -> pure table lookup
            n = next(counter)
            syms = tuple(_esc(sym) for sym in (ft.symbols or []))
            consts[f"_sym{n}"] = syms
            _varint(c, ind, "si")
            c.add(ind, f"if 0 <= si < {len(syms)}: o += _sym{n}[si]")
            c.add(ind, "else: _bad_enum(si)")
        elif k == "fixed":
            _slice_text(c, ind, str(ft.size), "'latin-1'")
        elif k == "record":
            if id(ft) in cyclic:
                c.add(ind, f"_rs, pos = {rec_fn(ft)}(buf, pos)")
                c.add(ind, "o += _rs")
            else:
                record(c, ind, ft)
        elif k == "union":
            union(c, ind, ft)
        elif k in ("array", "map"):
            collection(c, ind, ft)
        else:
            raise ValueError(f"cannot compile fused decoder for kind {k!r}")

    def primitive(c: _Code, ind: int, name: str) -> None:
        if name in ("int", "long"):
            c.add(ind, "b = buf[pos]; pos += 1")
            c.add(ind, "if b < 128: o += _zzt[b]")
            c.add(ind, "else:")
            _varint_tail(c, ind + 1)
            c.add(ind + 1, "o += _str((n >> 1) ^ -(n & 1))")
        elif name == "boolean":
            c.add(ind, "o += 'true' if buf[pos] == 1 else 'false'; pos += 1")
        elif name in ("float", "double"):
            size = 4 if name == "float" else 8
            c.add(ind, f"v = _unpack_{name}(buf, pos)[0]; pos += {size}")
            c.add(ind, "o += _repr(v) if v - v == 0.0 else _wf(v)")
        elif name in ("string", "bytes"):
            _varint(c, ind, "ln")
            _slice_text(c, ind, "ln", "" if name == "string" else "'latin-1'")
        elif name == "null":
            c.text(ind, "null")
        else:
            raise ValueError(f"cannot compile fused decoder for {name!r}")

    def union(c: _Code, ind: int, ft: AvroSchema) -> None:
        # arbitrary branch count, any fusable branch type (so unions
        # nested inside arrays/maps fuse too); an out-of-range index
        # raises instead of desyncing (general-reader parity)
        branches = ft.fields or []
        bi = f"bi{next(counter)}"
        _varint(c, ind, bi)
        for j, b in enumerate(branches):
            c.add(ind, f"{'if' if j == 0 else 'elif'} {bi} == {j}:")
            if b.union_label == "null":
                c.text(ind + 1, "null")
                continue
            c.text(ind + 1, "{" + json.dumps(b.union_label) + ":")
            value(c, ind + 1, b)
            c.text(ind + 1, "}")
        # an empty union has no branch to test: any index is out of range
        c.add(ind, f"else: _bad_union({bi})" if branches else f"_bad_union({bi})")

    def collection(c: _Code, ind: int, ft: AvroSchema) -> None:
        is_map = ft.kind == "map"
        n = next(counter)
        cnt, first, keys, nkeys = f"cnt{n}", f"fa{n}", f"ks{n}", f"nk{n}"
        c.text(ind, "{" if is_map else "[")
        c.add(ind, f"{first} = True")
        if is_map:
            c.has_map = True
            c.add(ind, f"{keys} = set(); {nkeys} = 0")
        c.add(ind, "while True:")
        _varint(c, ind + 1, cnt)
        c.add(ind + 1, f"if {cnt} == 0: break")
        c.add(ind + 1, f"if {cnt} < 0:")
        c.add(ind + 2, f"{cnt} = -{cnt}")
        _varint(c, ind + 2, "_bsz")
        if is_map:
            c.add(ind + 1, f"{nkeys} += {cnt}")
        c.add(ind + 1, f"for _ in range({cnt}):")
        c.add(ind + 2, f"if {first}: {first} = False")
        c.add(ind + 2, "else: o += ','")
        if is_map:
            _varint(c, ind + 2, "kln")
            _slice_text(c, ind + 2, "kln", "", keys)
            c.text(ind + 2, ":")
        value(c, ind + 2, ft.values if is_map else ft.items)
        if is_map:
            c.add(ind, f"if len({keys}) != {nkeys}: dup = True")
        c.text(ind, "}" if is_map else "]")

    def record(c: _Code, ind: int, rec: AvroSchema) -> None:
        """Append the record's full '{...}' JSON to o (nested inline;
        cycle members referenced from fields go through rec_fn calls, so
        generation always terminates)."""
        fields = rec.fields or []
        for i, f in enumerate(fields):
            c.text(ind, ("," if i else "{") + json.dumps(f.name, ensure_ascii=False) + ":")
            value(c, ind, f.type)
        c.text(ind, "}" if fields else "{}")

    top = function("_fused", schema)
    ns: dict[str, object] = {**_HELPERS, **consts}
    # cycle functions first: each body resolves its callees at call time
    exec("".join(rec_fn_srcs) + top, ns)  # noqa: S102 — source is generated from the schema, no user input
    return ns["_fused"]
