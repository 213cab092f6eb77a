"""Expected outputs, computed from the generator's own datums and schemas
with no call into the package under test.

Envelopes are compared as parsed JSON. Messages and key objects keep
their key order (Avro-JSON record fields and map entries are ordered);
schemas are compared as unordered objects, since ``originSchema`` is the
registry's schema re-serialized.
"""

from __future__ import annotations

import json
import re

import avrogen

#: quarantine causes the registry mix injects, matched on the ``_error`` text
CAUSES = {
    "too_short": re.compile(r"too small to contain the wire-format prefix"),
    "bad_magic": re.compile(r"[Uu]nknown magic byte"),
    "unknown_id": re.compile(r"registry request /schemas/ids/\d+ failed|schema id \d+ not found"),
    "truncated": re.compile(r"truncated"),
    "bad_union": re.compile(r"union branch index -?\d+ out of range"),
}


def classify_error(text: str | None) -> str | None:
    """``_error`` text -> cause name (``other`` if none matches)."""
    if text is None:
        return None
    for cause, pat in CAUSES.items():
        if pat.search(text):
            return cause
    return "other"


def _ordered(text: str):
    return json.loads(text, object_pairs_hook=list)


def _as_ordered(obj):
    return _ordered(json.dumps(obj))


class Expect:
    """What one input payload must become: ``kind`` is ``decode`` (an
    envelope of ``datum`` under ``schema``), ``same`` (bytes pass through
    unchanged) or a quarantine cause."""

    __slots__ = ("kind", "schema", "schema_id", "datum", "raw")

    def __init__(self, kind: str, raw: bytes | None, schema=None, schema_id: int = 0, datum=None):
        self.kind, self.raw, self.schema, self.schema_id, self.datum = kind, raw, schema, schema_id, datum


def check_value(out: bytes | None, e: Expect) -> bool:
    if e.kind != "decode":
        return out == e.raw
    env = _ordered(out.decode("utf-8"))
    if [k for k, _ in env] != ["originSchema", "originMessage", "originSchemaId"]:
        return False
    d = dict(env)
    return (
        json.loads(d["originSchema"]) == e.schema
        and _ordered(d["originMessage"]) == _as_ordered(avrogen.render(e.schema, e.datum))
        and d["originSchemaId"] == e.schema_id
    )


def check_key(out: bytes | None, e: Expect) -> bool:
    """Key envelope: a key that renders as a JSON object (a record or a
    map) gets ``originSchema`` set in it, in place when the object has that
    field and appended otherwise; any other key becomes
    ``{"value": ..., "originSchema": ...}``."""
    if e.kind != "decode":
        return out == e.raw
    env = _ordered(out.decode("utf-8"))
    rendered = avrogen.render(e.schema, e.datum)
    if isinstance(rendered, dict):
        expected = list(_as_ordered(rendered))
        if "originSchema" not in rendered:
            expected.append(["originSchema", None])
    else:
        expected = [["value", _as_ordered(rendered)], ["originSchema", None]]
    if [k for k, _ in env] != [k for k, _ in expected]:
        return False
    for (k, got), (_, want) in zip(env, expected):
        if k == "originSchema":
            if json.loads(got) != e.schema:
                return False
        elif got != want:
            return False
    return True


def check_row(row: dict, key: Expect, value: Expect) -> bool:
    """One output row against its expectation; a quarantined value must
    carry its cause in ``_error`` and keep its original bytes."""
    err = row.get("_error")
    if value.kind in CAUSES:
        return (
            classify_error(err) == value.kind
            and row["value"] == value.raw
            and check_key(row["key"], key)
        )
    return err is None and check_key(row["key"], key) and check_value(row["value"], value)
