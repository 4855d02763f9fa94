"""In-process mock FHIR R4 store owned by the benchmark.

The store is part of the measuring instrument, so it must never be the
bottleneck it measures:

- HTTP/1.1 keep-alive: a writer partition reuses one connection;
- every response leaves in ONE socket write. A response written as a
  header write followed by a body write waits on Nagle's algorithm for the
  client's delayed ACK, about 40 ms per request; that stall capped a job at
  ~45-73 requests/s and made the harness measure itself (see README.md).

Semantics follow FHIR R4 closely enough for the engine's writer and
snapshot reader: POST /{type} creates with a server id, PUT /{type}/{id}
updates (or creates), DELETE /{type}/{id} is idempotent and honours
``_cascade=delete`` on Patient, GET /{type}?_count=N pages a searchset
Bundle through ``next`` links, and POST / applies a transaction/batch
Bundle (with ``ifNoneExist`` conditional create, and ``urn:uuid:``
references between a transaction's entries resolved).

Counters: requests per verb, 2xx write responses, per-request service
time (handler CPU time from body read to response written), requests in
service at once, and the window from the first to the last write request.
"""

from __future__ import annotations

import collections
import http.server
import json
import threading
import time
from urllib.parse import parse_qs, urlsplit

WRITE_VERBS = ("POST", "PUT", "DELETE")
_REASONS = {200: "OK", 201: "Created", 400: "Bad Request", 405: "Method Not Allowed"}


class _Resource:
    """One stored resource: its JSON text and the fields checks read."""

    __slots__ = ("text", "ident0", "subject", "ident_values")

    def __init__(self, res: dict):
        self.text = json.dumps(res, separators=(",", ":"))
        idents = res.get("identifier") or []
        self.ident0 = (idents[0].get("system"), idents[0].get("value")) if idents else None
        self.subject = (res.get("subject") or {}).get("reference")
        self.ident_values = frozenset(i.get("value") for i in idents)


class Counters:
    """Per-iteration request accounting; reset with the store's counters."""

    def __init__(self):
        self.verbs: collections.Counter = collections.Counter()
        self.write_2xx = 0
        # CPU seconds the handler thread spent on each write request; wall
        # time would add waits for the GIL and for a core, which are
        # contention on the host, not work of the store
        self.write_service_s: list[float] = []
        self.first_write: float | None = None
        self.last_write: float | None = None
        self.in_service = 0
        self.max_in_service = 0
        # store-side actions, whether sent as single requests or in a Bundle
        self.actions: collections.Counter = collections.Counter()


class FhirStore:
    def __init__(self):
        self._lock = threading.Lock()
        self._types: dict[str, dict[str, _Resource]] = {}
        self._next_id = 1
        self.counters = Counters()
        self._server: http.server.ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        self.base_url = ""

    # ------------------------------------------------------------------ life
    def start(self) -> str:
        store = self

        class Handler(_Handler):
            pass

        Handler.store = store
        srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        srv.daemon_threads = True
        srv.request_queue_size = 128
        self._server = srv
        self.base_url = f"http://127.0.0.1:{srv.server_address[1]}"
        self._thread = threading.Thread(target=srv.serve_forever, name="fhir-store", daemon=True)
        self._thread.start()
        return self.base_url

    def stop(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._thread.join(timeout=10)
            self._server = None

    # ----------------------------------------------------------------- state
    def save_state(self):
        with self._lock:
            return {t: dict(r) for t, r in self._types.items()}, self._next_id

    def restore_state(self, state) -> None:
        types, next_id = state
        with self._lock:
            self._types = {t: dict(r) for t, r in types.items()}
            self._next_id = next_id

    def reset_counters(self) -> Counters:
        with self._lock:
            old, self.counters = self.counters, Counters()
        return old

    def identifier_counts(self) -> collections.Counter:
        """(type, identifier[0].system, identifier[0].value) → stored copies."""
        with self._lock:
            return collections.Counter(
                (t, *r.ident0) for t, rs in self._types.items() for r in rs.values()
                if r.ident0 is not None
            )

    def integrity(self) -> dict[str, int]:
        """Stored resources, and those whose subject.reference names no
        stored Patient."""
        with self._lock:
            patients = {f"Patient/{i}" for i in self._types.get("Patient", {})}
            stored = dangling = 0
            for rs in self._types.values():
                for r in rs.values():
                    stored += 1
                    if r.subject is not None and r.subject not in patients:
                        dangling += 1
        return {"stored": stored, "dangling": dangling}

    # -------------------------------------------------------------- handling
    def _new_id(self) -> str:
        rid = str(self._next_id)
        self._next_id += 1
        return rid

    def _create(self, rtype: str, res: dict, rid: str | None = None) -> tuple[int, str]:
        rid = rid or self._new_id()
        res["id"] = rid
        self._types.setdefault(rtype, {})[rid] = stored = _Resource(res)
        self.counters.actions["create"] += 1
        return 201, stored.text

    def _put(self, rtype: str, rid: str, res: dict) -> tuple[int, str]:
        res["id"] = rid
        bucket = self._types.setdefault(rtype, {})
        status = 200 if rid in bucket else 201
        bucket[rid] = stored = _Resource(res)
        self.counters.actions["update" if status == 200 else "create"] += 1
        return status, stored.text

    def _delete(self, rtype: str, rid: str, cascade: bool) -> tuple[int, str]:
        self._types.get(rtype, {}).pop(rid, None)
        self.counters.actions["delete"] += 1
        if cascade and rtype == "Patient":
            ref = f"Patient/{rid}"
            for rs in self._types.values():
                for k in [k for k, r in rs.items() if r.subject == ref]:
                    del rs[k]
                    self.counters.actions["cascade_delete"] += 1
        return 200, '{"resourceType":"OperationOutcome","issue":[]}'

    def _search(self, rtype: str, query: dict) -> tuple[int, str]:
        count = int(query.get("_count", ["100"])[0])
        offset = int(query.get("_offset", ["0"])[0])
        rs = self._types.get(rtype, {})
        page = list(rs.values())[offset:offset + count]
        links = [{"relation": "self", "url": f"{self.base_url}/{rtype}?_count={count}&_offset={offset}"}]
        if offset + count < len(rs):
            links.append({"relation": "next", "url": (
                f"{self.base_url}/{rtype}?_format=json&_count={count}&_offset={offset + count}")})
        head = json.dumps({"resourceType": "Bundle", "type": "searchset",
                           "total": len(rs), "link": links})
        entries = ",".join('{"resource":' + r.text + "}" for r in page)
        return 200, head[:-1] + ',"entry":[' + entries + "]}"

    def _match(self, rtype: str, if_none_exist: str) -> str | None:
        """Id of a stored resource an ``ifNoneExist: identifier=<value>``
        condition matches, if any."""
        if not if_none_exist.startswith("identifier="):
            return None
        value = if_none_exist.partition("=")[2]
        return next((rid for rid, r in self._types.get(rtype, {}).items()
                     if value in r.ident_values), None)

    def _bundle(self, bundle: dict) -> tuple[int, str]:
        """Apply a batch or transaction Bundle. In a transaction, other
        entries may reference a POST entry by its ``fullUrl: urn:uuid:...``;
        those references are rewritten to the created (or, with
        ``ifNoneExist``, the matched) resource before anything is stored."""
        steps, refs = [], {}
        for ent in bundle.get("entry") or []:
            req = ent.get("request") or {}
            path, _, qs = (req.get("url") or "").partition("?")
            parts = path.strip("/").split("/")
            rid = existing = None
            if req.get("method") == "POST":
                existing = self._match(parts[0], req.get("ifNoneExist", ""))
                rid = existing or self._new_id()
                if str(ent.get("fullUrl", "")).startswith("urn:uuid:"):
                    refs[ent["fullUrl"]] = f"{parts[0]}/{rid}"
            steps.append((ent, req.get("method"), parts, qs, rid, existing))
        if bundle.get("type") == "transaction" and refs:
            for ent, *_ in steps:
                _resolve(ent.get("resource"), refs)
        out = []
        for ent, method, parts, qs, rid, existing in steps:
            if method == "POST":
                status = 200 if existing else self._create(parts[0], ent["resource"], rid)[0]
            elif method == "PUT":
                status = self._put(parts[0], parts[1], ent["resource"])[0]
            elif method == "DELETE":
                status = self._delete(parts[0], parts[1], "_cascade=delete" in qs)[0]
            else:
                status = 400
            out.append({"response": {"status": f"{status} {_REASONS[status]}"}})
        rtype = "transaction-response" if bundle.get("type") == "transaction" else "batch-response"
        return 200, json.dumps({"resourceType": "Bundle", "type": rtype, "entry": out})

    def handle(self, verb: str, target: str, body: bytes) -> tuple[int, str]:
        url = urlsplit(target)
        parts = [p for p in url.path.split("/") if p]
        query = parse_qs(url.query)
        with self._lock:
            if verb == "GET" and len(parts) == 1:
                return self._search(parts[0], query)
            if verb == "POST" and not parts:
                return self._bundle(json.loads(body))
            if verb == "POST" and len(parts) == 1:
                return self._create(parts[0], json.loads(body))
            if verb == "PUT" and len(parts) == 2:
                return self._put(parts[0], parts[1], json.loads(body))
            if verb == "DELETE" and len(parts) == 2:
                return self._delete(parts[0], parts[1], query.get("_cascade") == ["delete"])
        return 405, '{"resourceType":"OperationOutcome"}'

    def _enter(self) -> None:
        with self._lock:
            c = self.counters
            c.in_service += 1
            c.max_in_service = max(c.max_in_service, c.in_service)

    def _leave(self, verb: str, status: int, t0: float, t1: float, cpu_s: float) -> None:
        with self._lock:
            c = self.counters
            c.in_service -= 1
            c.verbs[verb] += 1
            if verb in WRITE_VERBS:
                c.write_service_s.append(cpu_s)
                c.write_2xx += 200 <= status < 300
                c.first_write = t0 if c.first_write is None else min(c.first_write, t0)
                c.last_write = t1 if c.last_write is None else max(c.last_write, t1)


def _resolve(node, refs: dict[str, str]) -> None:
    """Rewrite every ``reference`` value found in ``refs``, in place."""
    if isinstance(node, dict):
        for k, v in node.items():
            if k == "reference" and v in refs:
                node[k] = refs[v]
            else:
                _resolve(v, refs)
    elif isinstance(node, list):
        for v in node:
            _resolve(v, refs)


class _Handler(http.server.BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"  # keep-alive
    store: FhirStore

    def _serve(self, verb: str) -> None:
        n = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(n) if n else b""
        t0, cpu0 = time.perf_counter(), time.thread_time()
        self.store._enter()
        try:
            status, payload = self.store.handle(verb, self.path, body)
        except (ValueError, KeyError, IndexError, TypeError) as exc:
            status, payload = 400, json.dumps({"resourceType": "OperationOutcome",
                                               "issue": [{"diagnostics": repr(exc)}]})
        data = payload.encode()
        head = (f"HTTP/1.1 {status} {_REASONS[status]}\r\n"
                "Content-Type: application/fhir+json\r\n"
                f"Content-Length: {len(data)}\r\n\r\n").encode()
        try:
            self.wfile.write(head + data)  # ONE write: see the module docstring
        finally:
            self.store._leave(verb, status, t0, time.perf_counter(), time.thread_time() - cpu0)

    def do_GET(self):
        self._serve("GET")

    def do_POST(self):
        self._serve("POST")

    def do_PUT(self):
        self._serve("PUT")

    def do_DELETE(self):
        self._serve("DELETE")

    def log_message(self, *args):
        pass
