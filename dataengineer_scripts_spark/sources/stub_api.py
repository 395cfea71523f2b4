"""Local stub of the REST API the reference scripts operate against.

The reference's entire input surface is an authenticated JSON-over-HTTP API
(login: ``Sync Job/sync.py:14-32``; project DAG fetch: ``sync.py:35-46``;
paginated schedules/monitoring: ``Job Cek Script/app.py:125-129,161-165``)
and its only side-effecting output is a per-node POST ``…/sync`` fan-out
(``sync.py:60-69``).  To test those operators hermetically, this module runs
an in-process HTTP server with the same contract:

- ``POST /analytic/login``           — JSON ``{username, password}``; on match
  returns 200 with the bearer token in the **Authorization response header**
  (exactly where ``sync.py:30`` reads it); else 401.
- ``GET /analytic/projects``         — paginated node list (``page``,
  ``page_size`` query params, reference default 8 per ``app.py:126``).
  Requires ``Authorization`` header.
- ``GET /analytic/projects/<id>``    — single project document shaped
  ``{"data": {"nodes": [...]}}`` like ``sync.py:46-51``.
- ``POST /analytic/nodes/<id>/sync`` — records a sync receipt; in flaky mode
  returns 500 for each node's first ``fail_first`` attempts (the retry
  surface of ``sync_app3.py:58-74``).
- ``GET /receipts``                  — ``{"synced": [...], "attempts": {...}}``
  so tests and sink operators can read the delivery record back.
- ``POST /reset``                    — clear receipts.

Everything is stdlib (``http.server`` on an ephemeral 127.0.0.1 port, daemon
thread).  In local[N] mode executors share the host so partition functions
can reach it; on a real cluster this stands in for the external API.
"""

from __future__ import annotations

import json
import threading
from collections import defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

USERNAME = "svc_engine"
PASSWORD = "local-stub-secret"
TOKEN = "Bearer stub-token-0001"

LOGIN_PATH = "/analytic/login"
PROJECTS_PATH = "/analytic/projects"
RECEIPTS_PATH = "/receipts"
RECEIPTS_LIST_PATH = "/receipts/list"
RESET_PATH = "/reset"


class StubApi:
    """In-process API stub seeded with a list of node dicts."""

    def __init__(
        self,
        nodes: list[dict[str, Any]],
        fail_first: int = 0,
        fail_first_get: int = 0,
        garble_first_get: int = 0,
        expire_token_after: int | None = None,
    ):
        self.nodes = nodes
        self.fail_first = fail_first
        #: transient-5xx injection on the READ side: the first N GET
        #: requests to the paginated listing answer 500 (a blip mid-
        #: pagination), exercising the source's bounded GET retry the
        #: way ``fail_first`` exercises the sink's POST retry.
        self.fail_first_get = fail_first_get
        self._gets_failed = 0
        #: truncated-payload injection: the first N listing GETs answer
        #: 200 with HALF a JSON body (connection dropped mid-payload) —
        #: the other transient read-failure class the GET retry covers.
        self.garble_first_get = garble_first_get
        self._gets_garbled = 0
        #: token-expiry injection: each issued bearer token is valid for
        #: only N successful listing GETs, then 401s — the failure mode
        #: of the reference's module-global token (``sync.py:14-32``
        #: logs in once and assumes the token outlives the whole run).
        #: ``None`` (default) = tokens never expire and login returns the
        #: fixed ``TOKEN`` constant; when set, each login mints a FRESH
        #: token with its own use budget (so a re-login genuinely
        #: recovers).  POSTs authenticate but don't consume listing uses.
        self.expire_token_after = expire_token_after
        self._issued: set[str] = {TOKEN}
        self._token_listing_uses: dict[str, int] = defaultdict(int)
        self._token_seq = 1
        self.synced: list[int] = []
        #: per node: the set of X-Attempt idempotency keys seen.  A client
        #: replaying the SAME attempt (connection reset after the server
        #: recorded it) does not change the count — sync is idempotent per
        #: attempt key, the real-world contract for retried side effects.
        self.attempt_keys: dict[str, set] = defaultdict(set)
        self.requests_seen: list[str] = []
        self._lock = threading.Lock()

        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # silence per-request stderr noise
                pass

            def _json(self, code: int, payload: Any, headers: dict | None = None):
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                for k, v in (headers or {}).items():
                    self.send_header(k, v)
                self.end_headers()
                self.wfile.write(body)

            def _listing_token_ok(self) -> bool:
                # Atomic check-and-consume of the token's listing-use
                # budget: one lock section, so concurrent page fetches
                # can never both slip past an exhausted budget.  Injected
                # 500s/truncations return before this — an incomplete
                # serve doesn't consume a use.  Only listing GETs expire;
                # POSTs authenticate via the issued set alone.
                if stub.expire_token_after is None:
                    return True
                tok = self.headers.get("Authorization")
                with stub._lock:
                    if (
                        stub._token_listing_uses[tok]
                        >= stub.expire_token_after
                    ):
                        return False
                    stub._token_listing_uses[tok] += 1
                    return True

            def _authed(self) -> bool:
                with stub._lock:
                    return self.headers.get("Authorization") in stub._issued

            def do_POST(self):
                parsed = urlparse(self.path)
                with stub._lock:
                    stub.requests_seen.append(f"POST {self.path}")
                n = int(self.headers.get("Content-Length") or 0)
                raw = self.rfile.read(n) if n else b"{}"
                if parsed.path == LOGIN_PATH:
                    try:
                        creds = json.loads(raw or b"{}")
                    except json.JSONDecodeError:
                        creds = {}
                    if (
                        creds.get("username") == USERNAME
                        and creds.get("password") == PASSWORD
                    ):
                        with stub._lock:
                            if stub.expire_token_after is None:
                                tok = TOKEN
                            else:
                                stub._token_seq += 1
                                tok = f"Bearer stub-token-{stub._token_seq:04d}"
                                stub._issued.add(tok)
                        self._json(200, {"ok": True}, {"Authorization": tok})
                    else:
                        self._json(401, {"error": "bad credentials"})
                    return
                if parsed.path == RESET_PATH:
                    with stub._lock:
                        stub.synced.clear()
                        stub.attempt_keys.clear()
                    self._json(200, {"ok": True})
                    return
                parts = parsed.path.strip("/").split("/")
                # /analytic/nodes/<id>/sync
                if (
                    len(parts) == 4
                    and parts[:2] == ["analytic", "nodes"]
                    and parts[3] == "sync"
                ):
                    if not self._authed():
                        self._json(401, {"error": "unauthorized"})
                        return
                    node_id = parts[2]
                    with stub._lock:
                        keys = stub.attempt_keys[node_id]
                        # Idempotency key: replays of the same attempt (a
                        # connection reset after the server recorded it)
                        # leave the count unchanged and get the same answer.
                        key = self.headers.get("X-Attempt") or f"_{len(keys) + 1}"
                        keys.add(key)
                        if len(keys) <= stub.fail_first:
                            self._json(500, {"error": "transient"})
                            return
                        if int(node_id) not in stub.synced:
                            stub.synced.append(int(node_id))
                    self._json(200, {"synced": node_id})
                    return
                self._json(404, {"error": "not found"})

            def do_GET(self):
                parsed = urlparse(self.path)
                with stub._lock:
                    stub.requests_seen.append(f"GET {self.path}")
                if not self._authed():
                    self._json(401, {"error": "unauthorized"})
                    return
                if parsed.path in (PROJECTS_PATH, RECEIPTS_LIST_PATH):
                    with stub._lock:
                        if stub._gets_failed < stub.fail_first_get:
                            stub._gets_failed += 1
                            self._json(500, {"error": "transient"})
                            return
                        if stub._gets_garbled < stub.garble_first_get:
                            stub._gets_garbled += 1
                            # 200 with a truncated body: headers promise
                            # the full length but the payload stops half
                            # way — what a dropped connection looks like
                            # to the client
                            body = json.dumps({"data": [], "total": 0}).encode()
                            self.send_response(200)
                            self.send_header("Content-Type", "application/json")
                            self.send_header("Content-Length", str(len(body)))
                            self.end_headers()
                            self.wfile.write(body[: len(body) // 2])
                            return
                if parsed.path == RECEIPTS_LIST_PATH:
                    # paginated row-oriented receipts view (REST-source
                    # readable): one {node_id, attempts} row per synced
                    # node, node_id order for deterministic pages.
                    q = parse_qs(parsed.query)
                    page = int(q.get("page", ["0"])[0])
                    size = int(q.get("page_size", ["8"])[0])
                    with stub._lock:
                        # .get(), not [..]: indexing the defaultdict would
                        # insert empty entries — a read must not mutate state
                        rows = [
                            {
                                "node_id": i,
                                "attempts": len(stub.attempt_keys.get(str(i), ())),
                            }
                            for i in sorted(set(stub.synced))
                        ]
                    window = rows[page * size:(page + 1) * size]
                    if not self._listing_token_ok():
                        self._json(401, {"error": "token expired"})
                        return
                    self._json(200, {"data": window, "total": len(rows)})
                    return
                if parsed.path == RECEIPTS_PATH:
                    with stub._lock:
                        payload = {
                            "synced": list(stub.synced),
                            "attempts": {
                                k: len(v) for k, v in stub.attempt_keys.items()
                            },
                        }
                    self._json(200, payload)
                    return
                if parsed.path == PROJECTS_PATH:
                    q = parse_qs(parsed.query)
                    rows = stub.nodes
                    page = int(q.get("page", ["0"])[0])
                    size = int(q.get("page_size", ["8"])[0])
                    window = rows[page * size:(page + 1) * size]
                    if not self._listing_token_ok():
                        self._json(401, {"error": "token expired"})
                        return
                    self._json(200, {"data": window, "total": len(rows)})
                    return
                parts = parsed.path.strip("/").split("/")
                if len(parts) == 3 and parts[:2] == ["analytic", "projects"]:
                    self._json(200, {"data": {"id": parts[2], "nodes": stub.nodes}})
                    return
                self._json(404, {"error": "not found"})

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    @property
    def base_url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_address[1]}"

    @property
    def attempts(self) -> dict[str, int]:
        """Distinct attempt keys per node (what /receipts reports)."""
        with self._lock:
            return {k: len(v) for k, v in self.attempt_keys.items()}

    def start(self) -> "StubApi":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()

    def __enter__(self) -> "StubApi":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
