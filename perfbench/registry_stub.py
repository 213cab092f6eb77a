"""A single-threaded Confluent-registry stub on the loopback interface:
``GET /schemas/ids/{id}`` only, counting every request it serves."""

from __future__ import annotations

import json
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, HTTPServer


class RegistryStub:
    def __init__(self, schemas: dict[int, str]) -> None:
        self.schemas = dict(schemas)
        self.requests: Counter[int] = Counter()
        self._lock = threading.Lock()
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 — http.server's hook name
                parts = self.path.strip("/").split("/")
                sid = int(parts[2]) if len(parts) == 3 and parts[:2] == ["schemas", "ids"] else None
                with stub._lock:
                    stub.requests[sid] += 1
                text = stub.schemas.get(sid)
                if text is None:
                    body, code = {"error_code": 40403, "message": "Schema not found"}, 404
                else:
                    body, code = {"schema": text}, 200
                data = json.dumps(body).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/vnd.schemaregistry.v1+json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *args) -> None:
                pass

        self._server = HTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    def total(self) -> int:
        with self._lock:
            return sum(self.requests.values())

    def __enter__(self) -> "RegistryStub":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)
