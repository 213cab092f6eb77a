"""Avro SCHEMA RESOLUTION — decode data written with one schema under a
different (evolved) reader schema, per the public spec
(avro.apache.org/docs/current/specification/#schema-resolution).

This is the capability that makes a 100 TB Avro lake readable: files
written over years under evolving schemas are decoded into ONE current
shape — added fields filled from defaults, removed fields skipped,
renamed fields matched through reader aliases, widened numerics promoted.
The reference SMT never resolves (it decodes with the writer schema only,
``GenericDatumReader`` single-arg — AvroTransform.java:241); resolution
enters at OUR file-format boundary (``sources/avro_ocf.read_avro_ocf``'s
``reader_schema=``), where per-file writer schemas genuinely differ.

Implemented rules (spec section "Schema Resolution"):

- identical primitives decode directly;
- promotions: int → long/float/double, long → float/double,
  float → double, string ↔ bytes;
- records match by full name or a reader alias; writer fields are read
  in WRITER order — fields the reader keeps are resolved recursively,
  fields the reader dropped are decoded-and-discarded (the stream must
  advance); reader-only fields take their declared default (plain
  python values; union defaults use the first branch per spec);
- reader field aliases match writer field names;
- enums: writer symbol must exist in the reader (or the reader's enum
  ``default`` is substituted); fixed: names match and sizes equal;
- arrays/maps resolve their element/value schemas;
- unions re-match each WRITER branch against the reader's branches at
  compile time; writer-union → reader-non-union and reverse both work;
  a writer branch no reader branch accepts raises
  :class:`SchemaResolutionError` only if that branch actually occurs.

Compile-time is schema-sized, decode-time adds nothing over the plain
reader except promotions (a float cast) — same closure-tree design as
:func:`byte_convert_avro_spark.avro.binary.compile_reader`.
"""

from __future__ import annotations

from typing import Any

from byte_convert_avro_spark.avro.binary import (
    Reader,
    _UnionValue,
    _compile,
    _need,
    _read_long,
    bad_enum,
    bad_union,
)
from byte_convert_avro_spark.avro.schema import AvroSchema, parse_schema


class SchemaResolutionError(ValueError):
    """Writer and reader schemas cannot be resolved (spec-defined error)."""


_PROMOTIONS: dict[str, tuple[str, ...]] = {
    "int": ("long", "float", "double"),
    "long": ("float", "double"),
    "float": ("double",),
    "string": ("bytes",),
    "bytes": ("string",),
}


def compile_resolving_reader(
    writer: AvroSchema | str | dict, reader: AvroSchema | str | dict
) -> Reader:
    if not isinstance(writer, AvroSchema):
        writer = parse_schema(writer)
    if not isinstance(reader, AvroSchema):
        reader = parse_schema(reader)
    return _resolve(writer, reader, {})


def _names_match(w: AvroSchema, r: AvroSchema) -> bool:
    """Spec named-type matching: reader and writer FULLNAMES equal, or the
    writer's fullname appears in the reader's aliases (an unqualified
    alias is qualified with the reader's namespace per the spec's alias
    rules).  Bare short-name equality across DIFFERENT namespaces is NOT
    a match — two unrelated ``a.Point`` / ``b.Point`` records must fail
    resolution, not silently zip together."""
    if w.name is None or r.name is None:
        return True
    if w.fullname == r.fullname:
        return True
    for al in r.aliases or []:
        if "." not in al and r.namespace:
            al = f"{r.namespace}.{al}"
        if w.fullname == al:
            return True
    return False


def _default_value(r: AvroSchema, default: Any) -> Any:
    """Reader-field default (JSON form) -> runtime python value,
    RECURSIVELY: nested bytes/fixed stay latin-1-decoded strings in the
    JSON form and nested numerics keep their JSON int-ness, so a record/
    array/map default must convert every leaf or the filled rows carry
    different python types than rows decoded from newer files.  Per
    spec, bytes/fixed defaults are unicode strings mapping codepoints
    0-255 to bytes (latin-1); union defaults conform to the FIRST branch.
    Emitted PLAIN (no ``_UnionValue`` wrapper) — the file-format
    consumers unwrap anyway."""
    if default is None:
        return None
    if r.kind == "union":
        return _default_value((r.fields or [])[0], default)
    if r.kind == "record":
        out = {}
        for f in r.fields or []:
            if f.name in default:
                out[f.name] = _default_value(f.type, default[f.name])
            elif f.has_default:
                out[f.name] = _default_value(f.type, f.default)
            else:
                out[f.name] = None
        return out
    if r.kind == "array":
        return [_default_value(r.items, x) for x in default]
    if r.kind == "map":
        return {k: _default_value(r.values, v) for k, v in default.items()}
    if (r.kind == "primitive" and r.name == "bytes") or r.kind == "fixed":
        return default.encode("latin-1") if isinstance(default, str) else default
    if r.kind == "primitive" and r.name in ("float", "double"):
        return float(default)
    return default


def _resolve(w: AvroSchema, r: AvroSchema, memo: dict[tuple[int, int], Reader]) -> Reader:
    key = (id(w), id(r))
    if key in memo:
        # late-bound for recursion; .get so a reference dangling after a
        # failed compile (entry evicted below) raises a typed error at
        # decode time instead of a raw KeyError
        def _late(buf: memoryview, pos: int, _k=key, _m=memo):
            rd = _m.get(_k)
            if rd is None:
                raise SchemaResolutionError(
                    "dangling recursive reference: enclosing record failed "
                    "to resolve"
                )
            return rd(buf, pos)

        return _late

    # -- unions first: either side being a union drives the matching -------
    if w.kind == "union" and r.kind == "union":
        branch_readers: list[Reader | None] = []
        labels: list[tuple[str, AvroSchema] | None] = []
        for wb in w.fields or []:
            match = _first_match(wb, r.fields or [], memo)
            if match is None:
                branch_readers.append(None)
                labels.append(None)
            else:
                rb, rd = match
                branch_readers.append(rd)
                labels.append((rb.union_label, rb))

        def read_union_union(buf: memoryview, pos: int) -> tuple[Any, int]:
            i, pos = _read_long(buf, pos)
            if not 0 <= i < len(branch_readers):
                bad_union(i)
            rd = branch_readers[i]
            if rd is None:
                raise SchemaResolutionError(
                    f"writer union branch {i} has no matching reader branch"
                )
            v, pos = rd(buf, pos)
            label, rb = labels[i]  # type: ignore[misc]
            if label == "null":
                return None, pos
            if isinstance(v, _UnionValue):
                v = v.value
            return _UnionValue(label, v, rb), pos

        return read_union_union

    if w.kind != "union" and r.kind == "union":
        match = _first_match(w, r.fields or [], memo)
        if match is None:
            raise SchemaResolutionError(
                f"writer {w.union_label} matches no branch of reader union"
            )
        rb, rd = match
        label = rb.union_label

        def read_into_union(buf: memoryview, pos: int) -> tuple[Any, int]:
            v, pos = rd(buf, pos)
            if label == "null":
                return None, pos
            if isinstance(v, _UnionValue):
                v = v.value
            return _UnionValue(label, v, rb), pos

        return read_into_union

    if w.kind == "union" and r.kind != "union":
        per_branch: list[Reader | None] = []
        for wb in w.fields or []:
            try:
                per_branch.append(_resolve(wb, r, memo))
            except SchemaResolutionError:
                per_branch.append(None)

        def read_union_scalar(buf: memoryview, pos: int) -> tuple[Any, int]:
            i, pos = _read_long(buf, pos)
            if not 0 <= i < len(per_branch):
                bad_union(i)
            rd = per_branch[i]
            if rd is None:
                raise SchemaResolutionError(
                    f"writer union branch {i} does not resolve to reader "
                    f"{r.union_label}"
                )
            return rd(buf, pos)

        return read_union_scalar

    # -- primitives (incl. promotions) --------------------------------------
    if w.kind == "primitive" and r.kind == "primitive":
        if w.name == r.name:
            return _compile(w, {})
        if r.name in _PROMOTIONS.get(w.name or "", ()):
            base = _compile(w, {})
            if r.name in ("float", "double"):
                return lambda buf, pos: (
                    (lambda v, p: (float(v), p))(*base(buf, pos))
                )
            if r.name == "bytes":  # string -> bytes
                return lambda buf, pos: (
                    (lambda v, p: (v.encode("utf-8"), p))(*base(buf, pos))
                )
            if r.name == "string":  # bytes -> string
                return lambda buf, pos: (
                    (lambda v, p: (v.decode("utf-8"), p))(*base(buf, pos))
                )
            return base  # int -> long: representation identical
        raise SchemaResolutionError(f"cannot promote writer {w.name} to reader {r.name}")

    # -- containers ----------------------------------------------------------
    if w.kind == "array" and r.kind == "array":
        item = _resolve(w.items, r.items, memo)

        def read_array(buf: memoryview, pos: int) -> tuple[list, int]:
            out: list = []
            while True:
                n, pos = _read_long(buf, pos)
                if n == 0:
                    return out, pos
                if n < 0:
                    n = -n
                    _, pos = _read_long(buf, pos)
                for _ in range(n):
                    v, pos = item(buf, pos)
                    out.append(v)

        return read_array

    if w.kind == "map" and r.kind == "map":
        val = _resolve(w.values, r.values, memo)

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
                    _need(buf, pos, ln)  # binary.py's truncation invariant
                    key_ = bytes(buf[pos : pos + ln]).decode("utf-8")
                    pos += ln
                    out[key_], pos = val(buf, pos)

        return read_map

    # -- enums ----------------------------------------------------------------
    if w.kind == "enum" and r.kind == "enum":
        if not _names_match(w, r):
            raise SchemaResolutionError(
                f"enum names do not match: {w.fullname} vs {r.fullname}"
            )
        rset = set(r.symbols or [])
        wsyms = w.symbols or []
        enum_default = r.extras.get("default")

        def read_enum(buf: memoryview, pos: int) -> tuple[str, int]:
            i, pos = _read_long(buf, pos)
            if not 0 <= i < len(wsyms):
                bad_enum(i)
            sym = wsyms[i]
            if sym in rset:
                return sym, pos
            if enum_default is not None:
                return enum_default, pos
            raise SchemaResolutionError(
                f"writer enum symbol {sym!r} absent from reader (no default)"
            )

        return read_enum

    # -- fixed ----------------------------------------------------------------
    if w.kind == "fixed" and r.kind == "fixed":
        if not _names_match(w, r) or w.size != r.size:
            raise SchemaResolutionError(
                f"fixed mismatch: {w.fullname}[{w.size}] vs {r.fullname}[{r.size}]"
            )
        return _compile(w, {})

    # -- records ---------------------------------------------------------------
    if w.kind == "record" and r.kind == "record":
        if not _names_match(w, r):
            raise SchemaResolutionError(
                f"record names do not match: {w.fullname} vs {r.fullname}"
            )
        memo[key] = lambda buf, pos: (_ for _ in ()).throw(
            RuntimeError("uncompiled recursive resolver")
        )
        # (reader-field-name | None-to-skip, reader-of-writer-stream)
        steps: list[tuple[str | None, Reader]] = []
        defaults: list[tuple[str, Any]] = []

        def read_record(buf: memoryview, pos: int) -> tuple[dict, int]:
            out: dict = {}
            for name, rd in steps:
                v, pos = rd(buf, pos)
                if name is not None:
                    out[name] = v
            for name, dv in defaults:
                out[name] = dv
            return out, pos

        memo[key] = read_record
        keys_before = set(memo)

        try:
            rfields = {f.name: f for f in (r.fields or [])}
            # reader aliases: alias -> reader field
            for f in r.fields or []:
                for al in f.aliases or []:
                    rfields.setdefault(al, f)
            matched: set[str] = set()
            for wf in w.fields or []:
                rf = rfields.get(wf.name)
                if rf is None:
                    steps.append((None, _compile(wf.type, {})))  # skip-and-discard
                else:
                    steps.append((rf.name, _resolve(wf.type, rf.type, memo)))
                    matched.add(rf.name)
            for rf in r.fields or []:
                if rf.name in matched:
                    continue
                if not rf.has_default:
                    raise SchemaResolutionError(
                        f"reader field {r.fullname}.{rf.name} missing from writer "
                        f"and has no default"
                    )
                defaults.append((rf.name, _default_value(rf.type, rf.default)))
        except Exception:
            # failed mid-compile: the memo slot holds a PARTIAL reader —
            # a later lookup of the same (writer, reader) pair (e.g. a
            # union's _first_match probed and rejected this record) must
            # re-raise, not silently mis-decode with incomplete steps.
            # Also evict every entry memoized DURING this attempt
            # (mutually recursive sub-records probed through a union):
            # they may hold late-bound references into the failed subtree
            # and must not satisfy a later lookup.
            for k in set(memo) - keys_before:
                del memo[k]
            del memo[key]
            raise
        return read_record

    raise SchemaResolutionError(
        f"cannot resolve writer {w.kind}/{w.name} against reader {r.kind}/{r.name}"
    )


def _first_match(
    wb: AvroSchema, rbranches: list[AvroSchema], memo: dict
) -> tuple[AvroSchema, Reader] | None:
    for rb in rbranches:
        try:
            return rb, _resolve(wb, rb, memo)
        except SchemaResolutionError:
            continue
    return None
