"""In-process mock ClickHouse HTTP endpoint for writer/staging/lifecycle
tests: records every statement it receives, answers canned queries, and
can simulate failures and a slow server. One port == one 'host'."""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse


class InFlight:
    """In-flight counter shared by several mocks: keeps the (start, end,
    statement) of every POST they answer, so a test can ask how many
    statements of one kind were being answered at once."""

    def __init__(self):
        self.spans: list[tuple[float, float, str]] = []
        self._lock = threading.Lock()

    @contextmanager
    def track(self, body: str):
        start = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.spans.append((start, time.perf_counter(), body))

    def peak(self, prefix: str = "") -> int:
        """Most statements starting with ``prefix`` in flight at once."""
        with self._lock:
            edges = sorted((t, step) for start, end, body in self.spans
                           if body.startswith(prefix)
                           for t, step in ((start, 1), (end, -1)))
        now = most = 0
        for _t, step in edges:   # an end sorts before a start at a tie
            now += step
            most = max(most, now)
        return most


class MockClickHouse:
    def __init__(self, fail_first: int = 0, fail_substring: str | None = None,
                 delay: float = 0.0, inflight: InFlight | None = None):
        self.statements: list[str] = []
        self.applied: list[str] = []      # statements answered 200 (a 500
        #                                   simulates fail-before-apply)
        self.auth_users: list[str] = []   # ?user= of every POST, in order
        self.fail_first = fail_first
        self.fail_substring = fail_substring  # only fail matching stmts
        self._failures = 0
        self.canned: dict[str, str] = {}  # substring → TSV response
        self.delay = delay                # seconds before each POST's answer
        self.inflight = inflight or InFlight()
        self._lock = threading.Lock()

        mock = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_GET(self):
                self.send_response(200)
                self.end_headers()
                self.wfile.write(b"Ok.\n")

            def do_POST(self):
                n = int(self.headers.get("Content-Length", 0))
                body = self.rfile.read(n).decode("utf-8")
                user = parse_qs(urlparse(self.path).query).get("user", [""])[0]
                # the span closes before the reply goes out, so a client
                # that waits for each answer never shows two in flight
                with mock.inflight.track(body):
                    time.sleep(mock.delay)
                    code, reply = mock._answer(body, user)
                self.send_response(code)
                self.end_headers()
                self.wfile.write(reply.encode("utf-8"))

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       daemon=True)
        self.thread.start()

    def _answer(self, body: str, user: str) -> tuple[int, str]:
        with self._lock:
            self.statements.append(body)
            self.auth_users.append(user)
            if ((self.fail_substring is None or self.fail_substring in body)
                    and self._failures < self.fail_first):
                self._failures += 1
                return 500, "simulated failure"
            self.applied.append(body)
        return 200, next((resp for key, resp in self.canned.items()
                          if key in body), "")

    @property
    def host(self) -> str:
        return "127.0.0.1"

    def inserts(self) -> list[str]:
        return [s for s in self.statements if s.upper().startswith("INSERT")]

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
