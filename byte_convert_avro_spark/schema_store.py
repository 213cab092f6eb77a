"""Schema-id resolution (reference O11: ``getSchema``,
AvroTransform.java:254-279 — LRU-cached Confluent Schema Registry client).

Two implementations behind one protocol:

- :class:`LocalSchemaStore` — dict-backed id->schema map, serializable, used
  in tests and batch jobs (plays the role of the reference's
  ``SchemaRegistryMock``, SchemaRegistryMock.java:155-177 get-by-id).
- :class:`HttpSchemaRegistry` — Confluent REST client: ``GET /schemas/ids/
  {id}`` for the decode hot path, plus the subject/version surface
  (``/subjects``, ``/subjects/{s}/versions[/{v}]``, ``/config``) matching
  the reference mock's endpoints (SchemaRegistryMock.java:238-322);
  lazily constructed **per executor**
  with an LRU cache of ``capacity`` entries, mirroring the reference's
  ``SynchronizedCache(new LRUCache(capacity))`` (AvroTransform.java:108-109,
  default capacity 100 at :49).  The reference shares one synchronized cache
  across Connect task threads; Spark Python workers are processes, so a
  per-process cache is the equivalent (SURVEY.md §3 thread-boundary note).

A store must be **picklable** (it ships inside the decode UDF closure); the
HTTP client and cache are built lazily on first use on each executor.
"""

from __future__ import annotations

import json
from collections import OrderedDict
from dataclasses import dataclass
from typing import Any, Protocol

from byte_convert_avro_spark.avro.schema import parse_schema


class SchemaLookupError(KeyError):
    """Registry/resolution failure — the Spark-side analogue of the
    reference's ``ConnectException`` on REST failure (AvroTransform.java:270-273)."""


@dataclass(frozen=True)
class SchemaVersion:
    """One subject version — the Confluent ``SchemaMetadata`` shape returned
    by ``GET /subjects/{s}/versions/{v}`` (SchemaRegistryMock.java:277-297
    GetVersionHandler)."""

    subject: str
    version: int
    schema_id: int
    schema: str


class SchemaStore(Protocol):
    def get_schema_text(self, schema_id: int) -> str: ...


class LocalSchemaStore:
    """In-memory id -> schema-JSON-text store, with the subject/version
    surface of the reference's mock registry.

    ``register`` returns the id, like the registry's register endpoint
    (SchemaRegistryMock.java:238-259 AutoRegistrationHandler); registering
    under a ``subject`` appends a new version (1-based, monotonic), like
    the mock's ``register``/``listVersions``/``getSubjectVersion``
    (:261-297).  Schema text is stored verbatim; the canonical string used
    in envelopes comes from parsing (see decoder).
    """

    def __init__(self, schemas: dict[int, str] | None = None) -> None:
        self._schemas: dict[int, str] = dict(schemas or {})
        self._next_id = (max(self._schemas) + 1) if self._schemas else 1
        self._subjects: dict[str, list[int]] = {}  # subject -> [id per version]

    def register(
        self,
        schema_text: str | dict,
        schema_id: int | None = None,
        subject: str | None = None,
    ) -> int:
        if not isinstance(schema_text, str):
            schema_text = json.dumps(schema_text)
        if schema_id is None:
            schema_id = self._next_id
        self._schemas[schema_id] = schema_text
        self._next_id = max(self._next_id, schema_id + 1)
        if subject is not None:
            self._subjects.setdefault(subject, []).append(schema_id)
        return schema_id

    def get_schema_text(self, schema_id: int) -> str:
        try:
            return self._schemas[schema_id]
        except KeyError:
            raise SchemaLookupError(f"schema id {schema_id} not found in local store")

    def ids(self) -> list[int]:
        return sorted(self._schemas)

    # -- subject/version surface (SchemaRegistryMock.java:261-297) ---------
    def subjects(self) -> list[str]:
        return sorted(self._subjects)

    def list_versions(self, subject: str) -> list[int]:
        if subject not in self._subjects:
            raise SchemaLookupError(f"subject {subject!r} not found")
        return list(range(1, len(self._subjects[subject]) + 1))

    def get_subject_version(self, subject: str, version: int | str = "latest") -> SchemaVersion:
        ids = self._subjects.get(subject)
        if not ids:
            raise SchemaLookupError(f"subject {subject!r} not found")
        v = len(ids) if version == "latest" else int(version)
        if not 1 <= v <= len(ids):
            raise SchemaLookupError(f"subject {subject!r} has no version {version}")
        sid = ids[v - 1]
        return SchemaVersion(subject, v, sid, self._schemas[sid])


class HttpSchemaRegistry:
    """Confluent Schema Registry REST client with per-process LRU cache.

    Capacity default 100 matches the reference (AvroTransform.java:49).
    Multiple base URLs are tried in order (the reference passes a URL *list*,
    AvroTransform.java:97,109).
    """

    def __init__(self, urls: list[str] | str, capacity: int = 100,
                 auth: tuple[str, str] | None = None, timeout: float = 10.0) -> None:
        self.urls = [urls] if isinstance(urls, str) else list(urls)
        if not self.urls:
            raise ValueError("at least one registry URL is required")
        self.capacity = capacity
        self.auth = auth
        self.timeout = timeout
        self._cache: OrderedDict[int, str] | None = None  # built lazily per process

    def __getstate__(self) -> dict[str, Any]:
        d = self.__dict__.copy()
        d["_cache"] = None  # never ship a warm cache across processes
        return d

    def get_schema_text(self, schema_id: int) -> str:
        cache = self._id_cache()
        if schema_id in cache:
            cache.move_to_end(schema_id)
            return cache[schema_id]
        payload = self._request(f"/schemas/ids/{schema_id}")
        text = payload["schema"]
        self._cache_id(schema_id, text)
        return text

    # -- subject/version surface (Confluent REST; mock parity with
    #    SchemaRegistryMock.java:261-322) ----------------------------------
    def subjects(self) -> list[str]:
        """``GET /subjects``."""
        return list(self._request("/subjects"))

    def list_versions(self, subject: str) -> list[int]:
        """``GET /subjects/{s}/versions`` (ListVersionsHandler:261-275)."""
        return [int(v) for v in self._request(f"/subjects/{subject}/versions")]

    def get_subject_version(self, subject: str, version: int | str = "latest") -> SchemaVersion:
        """``GET /subjects/{s}/versions/{v|latest}`` (GetVersionHandler:
        277-297).  The returned schema text is inserted into the shared
        by-id LRU, so a subsequent ``get_schema_text(result.schema_id)``
        — e.g. from the decode hot path — is a cache hit, not a second
        HTTP round trip."""
        p = self._request(f"/subjects/{subject}/versions/{version}")
        sv = SchemaVersion(
            subject=p.get("subject", subject),
            version=int(p["version"]),
            schema_id=int(p["id"]),
            schema=p["schema"],
        )
        self._cache_id(sv.schema_id, sv.schema)
        return sv

    def register_schema(self, subject: str, schema_text: str | dict) -> int:
        """``POST /subjects/{s}/versions`` -> new id
        (AutoRegistrationHandler:238-259)."""
        if not isinstance(schema_text, str):
            schema_text = json.dumps(schema_text)
        p = self._request(
            f"/subjects/{subject}/versions",
            body=json.dumps({"schema": schema_text}).encode("utf-8"),
        )
        sid = int(p["id"])
        self._cache_id(sid, schema_text)
        return sid

    def get_compatibility(self, subject: str | None = None) -> str:
        """``GET /config`` or ``GET /config/{subject}``
        (GetConfigHandler:299-322)."""
        path = "/config" if subject is None else f"/config/{subject}"
        return self._request(path)["compatibilityLevel"]

    # -- plumbing ----------------------------------------------------------
    def _id_cache(self) -> OrderedDict[int, str]:
        if self._cache is None:
            self._cache = OrderedDict()
        return self._cache

    def _cache_id(self, schema_id: int, text: str) -> None:
        cache = self._id_cache()
        cache[schema_id] = text
        cache.move_to_end(schema_id)
        if len(cache) > self.capacity:
            cache.popitem(last=False)

    def _request(self, path: str, body: bytes | None = None) -> Any:
        import base64
        import urllib.error
        import urllib.request

        last_err: Exception | None = None
        for base in self.urls:
            url = f"{base.rstrip('/')}{path}"
            req = urllib.request.Request(
                url,
                data=body,
                headers={"Accept": "application/vnd.schemaregistry.v1+json"},
            )
            if body is not None:
                req.add_header("Content-Type", "application/vnd.schemaregistry.v1+json")
            if self.auth:
                tok = base64.b64encode(f"{self.auth[0]}:{self.auth[1]}".encode()).decode()
                req.add_header("Authorization", f"Basic {tok}")
            try:
                with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                    return json.loads(resp.read().decode("utf-8"))
            except Exception as e:  # noqa: BLE001 — fall through to next URL
                last_err = e
        raise SchemaLookupError(f"registry request {path} failed on {self.urls}: {last_err}")


class CachedParser:
    """Per-task memo of parsed schemas + compiled readers keyed by id.

    This is the hot-path structure inside the decode UDF: one dict lookup per
    record once a schema id has been seen (the reference pays the same — a
    synchronized LRU get, AvroTransform.java:259-264).
    """

    def __init__(self, store: SchemaStore) -> None:
        self.store = store
        self._by_id: dict[int, tuple] = {}

    def get(self, schema_id: int):
        """-> (parsed schema, compiled binary reader, canonical schema
        string, JSON-escaped schema string, compiled Avro-JSON writer,
        fused value decoder, fused key decoder, value envelope prefix,
        value envelope suffix, key envelope suffix).
        The fused decoder (``avro/fused.py``) is the only body decoder the
        decode stage calls; the compiled reader and JSON writer stay in the
        entry for the layer probes that time them.

        The key decoder is the same fused function, but disabled (None)
        when the record's JSON cannot take ``originSchema`` as an appended
        last field: for a non-record top level, and when the writer schema
        itself has a top-level ``originSchema`` field, which the key
        envelope OVERWRITES (reference: ObjectNode.put replaces in place).
        Those keys are re-parsed and re-serialized instead.

        The last three fields are the envelope frame, UTF-8-encoded once
        per id because every record of the id repeats it: the value
        envelope is ``{"originSchema":<escaped schema>,"originMessage":``
        + the escaped message + ``,"originSchemaId":<id>}``, and a fused
        key envelope is the record's JSON minus its closing brace +
        ``,"originSchema":<escaped schema>}``."""
        hit = self._by_id.get(schema_id)
        if hit is not None:
            return hit
        from json.encoder import encode_basestring

        from byte_convert_avro_spark.avro.binary import compile_reader
        from byte_convert_avro_spark.avro.fused import compile_fused
        from byte_convert_avro_spark.avro.jsonenc import compile_json_writer

        text = self.store.get_schema_text(schema_id)
        parsed = parse_schema(text)
        canonical = parsed.canonical_str()
        esc_schema = encode_basestring(canonical)
        fused = compile_fused(parsed)
        splice_key = parsed.kind == "record" and all(
            f.name != "originSchema" for f in parsed.fields or []
        )
        entry = (
            parsed,
            compile_reader(parsed),
            canonical,
            esc_schema,
            compile_json_writer(parsed),
            fused,
            fused if splice_key else None,
            f'{{"originSchema":{esc_schema},"originMessage":'.encode(),
            f',"originSchemaId":{schema_id}}}'.encode(),
            f',"originSchema":{esc_schema}}}'.encode(),
        )
        self._by_id[schema_id] = entry
        return entry
