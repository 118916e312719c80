"""SQL-gateway REST endpoint — the reference's wire protocol over HTTP.

The reference embeds a Flink SQL Gateway on port 8083 and its VS Code client
speaks a small REST protocol (reference vscode-extension/src/services/
sqlGatewayClient.ts:71-149):

    GET    /v1/info                                     → {productName, version}
    POST   /v1/sessions {properties}                    → {sessionHandle}
    DELETE /v1/sessions/{h}
    POST   /v1/sessions/{h}/statements {statement}      → {operationHandle}
    GET    /v1/sessions/{h}/operations/{op}/status      → {status}
    DELETE /v1/sessions/{h}/operations/{op}             (cancel)
    GET    /v1/sessions/{h}/operations/{op}/result/{token}?rowFormat=JSON
           → {resultType, results: {columns, data[{kind, fields}]},
              nextResultUri?}

This module serves the same shapes over the in-process engine
(``SessionManager`` / ``Engine`` / ``Statement``) with the stdlib HTTP
server — no extra dependencies, threaded so long statements don't block
health checks. A notebook client written against the reference's gateway
can point at this endpoint unchanged for the covered calls.

Serialization: each page's ``wire()`` view (engine/statement.py) gives
JSON-ready fields — anything not JSON-native goes through ``str``, matching
the JSON rowFormat's stringly encoding; batch results are encoded column by
column from Arrow.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .engine import SessionManager
from .engine.statement import Statement
from .streaming.monitor import JobMonitor

_ROUTES = {
    "info": re.compile(r"^/v1/info$"),
    "sessions": re.compile(r"^/v1/sessions$"),
    "session": re.compile(r"^/v1/sessions/(?P<h>[0-9a-f]+)$"),
    # Flink JobManager REST API surface the reference client polls
    # (flinkJobClient.ts:94-188) — served on the same endpoint.
    "config": re.compile(r"^/config$"),
    "jobs_overview": re.compile(r"^/jobs/overview$"),
    "job": re.compile(r"^/jobs/(?P<jid>[\w-]+)$"),
    "job_metrics": re.compile(r"^/jobs/(?P<jid>[\w-]+)/metrics$"),
    "job_checkpoints": re.compile(r"^/jobs/(?P<jid>[\w-]+)/checkpoints$"),
    "statements": re.compile(r"^/v1/sessions/(?P<h>[0-9a-f]+)/statements/?$"),
    "status": re.compile(
        r"^/v1/sessions/(?P<h>[0-9a-f]+)/operations/(?P<op>[0-9a-f]+)/status$"
    ),
    "cancel": re.compile(
        r"^/v1/sessions/(?P<h>[0-9a-f]+)/operations/(?P<op>[0-9a-f]+)$"
    ),
    "result": re.compile(
        r"^/v1/sessions/(?P<h>[0-9a-f]+)/operations/(?P<op>[0-9a-f]+)"
        r"/result/(?P<token>\d+)$"
    ),
}


class Gateway:
    """In-process gateway state: sessions + operation registry."""

    def __init__(self, spark=None):
        self.manager = SessionManager(spark)
        self.monitor = JobMonitor(
            self.manager.spark,
            sessions=lambda: [e.spark for e in self.manager.sessions.values()],
        )
        self.ops: dict[tuple[str, str], Statement] = {}
        self._lock = threading.Lock()

    # ---- protocol operations (transport-independent; used by the handler
    # and directly unit-testable) ------------------------------------------
    def open_session(self, properties: dict | None) -> dict:
        eng = self.manager.open_session(properties or {})
        return {"sessionHandle": eng.session_handle}

    def get_session(self, h: str) -> dict:
        """GET /v1/sessions/{h} — the reference client's getSession()
        (sqlGatewayClient.ts:86-89)."""
        eng = self.manager.get(h)
        return {"sessionHandle": h, "properties": dict(eng.properties)}

    def close_session(self, h: str) -> dict:
        # session-map pop and op-registry purge are ONE atomic step under the
        # gateway lock, so a concurrent execute_statement observes either an
        # open session (its op lands in the registry and the engine close
        # below cancels it) or a closed one (it cancels its own statement) —
        # never a half-closed state that strands a live streaming query.
        # The engine teardown itself (query.stop() can block for a trigger)
        # runs OUTSIDE the lock so other sessions' polls aren't stalled.
        with self._lock:
            eng = self.manager.sessions.pop(h, None)
            for key in [k for k in self.ops if k[0] == h]:
                del self.ops[key]
        if eng is not None:
            eng.close()
        return {"status": "CLOSED"}

    def _register(self, h: str, stmt: Statement) -> dict:
        """Register a just-started statement under its session — ONE copy of
        the session-close race handling (close_session's atomic pop+purge
        pairs with this check): a session closed while the statement was
        starting means its close() ran against the engine's statement list
        before this statement registered — cancel it here or it leaks."""
        with self._lock:
            if h not in self.manager.sessions:
                try:
                    stmt.cancel()
                except Exception:  # noqa: BLE001 — the 404 is the signal
                    pass
                raise KeyError(f"session {h} closed while statement was starting")
            self.ops[(h, stmt.statement_id)] = stmt
        return {"operationHandle": stmt.statement_id}

    def execute_statement(self, h: str, statement: str) -> dict:
        eng = self.manager.get(h)
        return self._register(h, eng.execute_sql(statement))

    def submit_stream(self, h: str, df) -> dict:
        """Register an arbitrary (streaming) DataFrame as an operation of
        session ``h`` — the in-process embedding surface for the registered
        python-defined stateful queries (TTL'd funnel/sessionize, streaming
        dedup), whose results are then fetched over the SAME HTTP result
        protocol as SQL statements, changelog kinds included."""
        eng = self.manager.get(h)
        return self._register(h, eng.execute_stream_df(df))

    def _stmt(self, h: str, op: str) -> Statement:
        with self._lock:
            stmt = self.ops.get((h, op))
        if stmt is None:
            raise KeyError(f"unknown operation {op}")
        return stmt

    def operation_status(self, h: str, op: str) -> dict:
        return {"status": self._stmt(h, op).status()}

    def cancel_operation(self, h: str, op: str) -> dict:
        self._stmt(h, op).cancel()
        return {"status": "CANCELED"}

    def fetch_result(self, h: str, op: str, token: int) -> dict:
        stmt = self._stmt(h, op)
        page = stmt.fetch(token)
        out = {
            "resultType": page.result_type,
            "results": {"columns": stmt.wire_columns(), "data": page.wire()},
        }
        if page.result_type != "EOS":
            nxt = page.next_token if page.next_token is not None else token
            out["nextResultUri"] = (
                f"/v1/sessions/{h}/operations/{op}/result/{nxt}"
            )
        return out


class _Handler(BaseHTTPRequestHandler):
    gateway: Gateway  # set by serve()

    def log_message(self, *args):  # quiet
        pass

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        return json.loads(self.rfile.read(n) or b"{}") if n else {}

    def _dispatch(self, method: str) -> None:
        path = urlparse(self.path).path
        try:
            g = self.gateway
            if method == "GET" and _ROUTES["info"].match(path):
                return self._send(
                    200, {"productName": "flink-notebooks-spark", "version": "1.0"}
                )
            if method == "POST" and _ROUTES["sessions"].match(path):
                return self._send(
                    200, g.open_session(self._body().get("properties"))
                )
            m = _ROUTES["session"].match(path)
            if method == "GET" and m:
                return self._send(200, g.get_session(m.group("h")))
            if method == "DELETE" and m:
                return self._send(200, g.close_session(m.group("h")))
            # ---- JobManager REST surface (flinkJobClient.ts:94-188) -------
            if method == "GET" and _ROUTES["config"].match(path):
                return self._send(
                    200, {"flink-version": "spark-native", "flink-revision": "n/a"}
                )
            if method == "GET" and _ROUTES["jobs_overview"].match(path):
                return self._send(200, g.monitor.flink_overview())
            m = _ROUTES["job_metrics"].match(path)
            if method == "GET" and m:
                qs = parse_qs(urlparse(self.path).query)
                want = [x for v in qs.get("get", []) for x in v.split(",") if x]
                metrics = g.monitor.flink_metrics(m.group("jid"), want or None)
                if metrics is None:
                    raise KeyError(f"unknown job {m.group('jid')}")
                return self._send(200, metrics)
            m = _ROUTES["job_checkpoints"].match(path)
            if method == "GET" and m:
                ckpt = g.monitor.flink_checkpoints(m.group("jid"))
                if ckpt is None:
                    raise KeyError(f"unknown job {m.group('jid')}")
                return self._send(200, ckpt)
            m = _ROUTES["job"].match(path)
            if method == "GET" and m:
                detail = g.monitor.flink_details(m.group("jid"))
                if detail is None:
                    raise KeyError(f"unknown job {m.group('jid')}")
                return self._send(200, detail)
            if method == "PATCH" and m:
                qs = parse_qs(urlparse(self.path).query)
                if qs.get("mode", ["cancel"])[0] != "cancel":
                    raise ValueError("only mode=cancel is supported")
                if not g.monitor.cancel(m.group("jid")):
                    raise KeyError(f"unknown job {m.group('jid')}")
                return self._send(202, {})
            m = _ROUTES["statements"].match(path)
            if method == "POST" and m:
                return self._send(
                    200,
                    g.execute_statement(m.group("h"), self._body()["statement"]),
                )
            m = _ROUTES["status"].match(path)
            if method == "GET" and m:
                return self._send(
                    200, g.operation_status(m.group("h"), m.group("op"))
                )
            m = _ROUTES["result"].match(path)
            if method == "GET" and m:
                qs = parse_qs(urlparse(self.path).query)
                _ = qs  # rowFormat=JSON is the only supported format
                return self._send(
                    200,
                    g.fetch_result(
                        m.group("h"), m.group("op"), int(m.group("token"))
                    ),
                )
            m = _ROUTES["cancel"].match(path)
            if method == "DELETE" and m:
                return self._send(200, g.cancel_operation(m.group("h"), m.group("op")))
            self._send(404, {"errors": [f"no route for {method} {path}"]})
        except KeyError as e:
            self._send(404, {"errors": [str(e)]})
        except Exception as e:  # noqa: BLE001 — error shape mirrors the gateway
            self._send(500, {"errors": [str(e)]})

    def do_GET(self):  # noqa: N802
        self._dispatch("GET")

    def do_POST(self):  # noqa: N802
        self._dispatch("POST")

    def do_DELETE(self):  # noqa: N802
        self._dispatch("DELETE")

    def do_PATCH(self):  # noqa: N802
        self._dispatch("PATCH")


def serve(spark=None, port: int = 0) -> tuple[ThreadingHTTPServer, Gateway]:
    """Start the gateway on ``port`` (0 = ephemeral). Returns (server,
    gateway); call ``server.shutdown()`` to stop. The server runs on a
    daemon thread — statements execute on request threads against the
    shared SparkSession, like the reference's gateway operation pool
    (MiniClusterRunner.java:124-132)."""
    gw = Gateway(spark)
    handler = type("BoundHandler", (_Handler,), {"gateway": gw})
    server = ThreadingHTTPServer(("127.0.0.1", port), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, gw
