"""Counting ClickHouse HTTP sink owned by the benchmark.

One ``ThreadingHTTPServer`` per host, all inside the benchmark process.
Each host answers the catalog statements a load issues (``SHOW CREATE``,
``system.clusters``, ``DESC``, ``system.tables``), keeps the temp-table
lifecycle a staged load drives (create, insert, promote, drop), and
counts statements, bytes, rows and pings. Only the current operation's
``INSERT … FORMAT`` bodies are kept, and only until ``reset`` after they
are verified, so memory does not grow from one load to the next.

Every statement other than ``INSERT … FORMAT`` is answered after a fixed
service time, a stand-in for a real server's DDL and ``INSERT … SELECT``
round trip.
"""

from __future__ import annotations

import re
import threading
import time
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_INSERT_FORMAT = re.compile(r"INSERT INTO (\S+) FORMAT \w+")
_PROMOTE = re.compile(r"INSERT INTO (\S+) SELECT \* FROM (temp\.\w+)")
_CREATE_TEMP = re.compile(r"CREATE TABLE (temp\.\w+)")
_DROP = re.compile(r"DROP TABLE IF EXISTS (\S+)")
_LIKE = re.compile(r"database = '(\w+)' AND name LIKE '(\w*)%'")


@dataclass
class HostStats:
    """What one host saw during the current operation."""
    insert_statements: int = 0
    insert_bytes: int = 0
    insert_rows: int = 0
    other_statements: int = 0
    pings: int = 0
    max_rows_per_insert: int = 0
    first_insert: float | None = None      # arrival of the first INSERT
    last_insert_ack: float | None = None   # answer to the last INSERT
    # INSERT … FORMAT bodies, keyed by the table they were sent to
    bodies: dict[str, list[str]] = field(default_factory=dict)
    temp_live: set[str] = field(default_factory=set)
    promoted: list[str] = field(default_factory=list)   # temp tables, in order
    dropped: list[str] = field(default_factory=list)


class SinkHost:
    """One ClickHouse host: an HTTP endpoint on a free localhost port."""

    def __init__(self, sink: "Sink"):
        self.sink = sink
        self.stats = HostStats()
        host = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_GET(self):
                with sink.lock:
                    host.stats.pings += 1
                self._reply(b"Ok.\n")

            def do_POST(self):
                arrived = time.perf_counter()
                sink.enter()
                try:
                    n = int(self.headers.get("Content-Length", 0))
                    body = self.rfile.read(n).decode("utf-8")
                    reply = host.handle(body, n, arrived)
                    self._reply(reply.encode("utf-8"))
                finally:
                    sink.leave()

            def _reply(self, payload: bytes):
                self.send_response(200)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.address = f"127.0.0.1:{self.server.server_address[1]}"
        # a short poll interval, so that stop() returns promptly
        self.thread = threading.Thread(target=self.server.serve_forever,
                                       kwargs={"poll_interval": 0.02},
                                       name=f"sink-{self.address}")
        self.thread.start()

    def handle(self, body: str, nbytes: int, arrived: float) -> str:
        head, _, payload = body.partition("\n")
        m = _INSERT_FORMAT.match(head)
        if m:
            rows = payload.count("\n") + 1 if payload else 0
            with self.sink.lock:
                s = self.stats
                if s.first_insert is None:
                    s.first_insert = arrived
                s.insert_statements += 1
                s.insert_bytes += nbytes
                s.insert_rows += rows
                s.max_rows_per_insert = max(s.max_rows_per_insert, rows)
                s.bodies.setdefault(m.group(1), []).append(payload)
                s.last_insert_ack = time.perf_counter()
            return ""
        if self.sink.service_s:
            time.sleep(self.sink.service_s)
        with self.sink.lock:
            self.stats.other_statements += 1
            return self._statement(body)

    def _statement(self, sql: str) -> str:
        """Answer a non-INSERT statement; called under the sink lock."""
        s = self.stats
        m = _PROMOTE.match(sql)
        if m:
            s.promoted.append(m.group(2))
            return ""
        m = _CREATE_TEMP.match(sql)
        if m:
            s.temp_live.add(m.group(1))
            return ""
        m = _DROP.match(sql)
        if m:
            if m.group(1) in s.temp_live:
                s.temp_live.discard(m.group(1))
                s.dropped.append(m.group(1))
            return ""
        if "system.tables" in sql:
            m = _LIKE.search(sql)
            if m is None:
                return ""
            prefix = f"{m.group(1)}.{m.group(2)}"
            return "".join(t + "\n" for t in sorted(s.temp_live)
                           if t.startswith(prefix))
        for key, answer in self.sink.catalog.items():
            if key in sql:
                return answer
        return ""

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(timeout=10)


class Sink:
    """A set of sink hosts sharing one catalog, one lock and one
    in-flight counter."""

    def __init__(self, n_hosts: int, service_s: float = 0.0):
        self.lock = threading.Lock()
        self.service_s = service_s
        self.catalog: dict[str, str] = {}
        self.inflight = 0
        self.max_inflight = 0
        self.hosts: list[SinkHost] = []
        try:
            for _ in range(n_hosts):
                self.hosts.append(SinkHost(self))
        except BaseException:
            self.stop()
            raise

    def enter(self) -> None:
        with self.lock:
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)

    def leave(self) -> None:
        with self.lock:
            self.inflight -= 1

    def reset(self) -> None:
        """Forget the last operation: counts, bodies and temp tables."""
        with self.lock:
            for h in self.hosts:
                h.stats = HostStats()
            self.max_inflight = 0

    def stop(self) -> None:
        for h in self.hosts:
            h.stop()
