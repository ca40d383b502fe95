"""ClickHouse HTTP client with caching and tiered retries.

Reference parity:
- D5 connection cache — singleton client map keyed by
  ``user:pass@host:port/db`` (ClickhouseClientHolder.java:17-69). Here a
  module-level cache; on executors that means one client per (key,
  python-worker) — the Spark analogue of the reference's per-JVM cache.
- W5 retry tiers — direct insert ``(2^n)·100s``
  (AbstractClickhouseLoaderMapper.java:344), staged insert ``(n+1)·10s``
  (:403), promote ``(n+1)·30s`` (ClickhouseLoaderReducer.java:175), DDL
  ``(n+1)·1s`` (AbstractClickhouseLoaderMapper.java:645), all bounded by
  ``--max-tries`` (MainCliParameterParser.java:47-48). ``backoff_scale``
  exists so tests don't sleep for minutes.
- alive probe — HTTP 200 on ``/`` (AbstractClickhouseLoaderMapper.java:
  678-699).

Plain stdlib urllib: no JDBC jar dependency, and the HTTP interface is
what the reference's insert path ultimately talks to.
"""

from __future__ import annotations

import logging
import time
import urllib.error
import urllib.parse
import urllib.request

log = logging.getLogger(__name__)


class ClickHouseError(RuntimeError):
    pass


# W5 backoff tiers (seconds, attempt n counts from 0)
BACKOFF = {
    "direct": lambda n: (2 ** n) * 100.0,
    "staged": lambda n: (n + 1) * 10.0,
    "promote": lambda n: (n + 1) * 30.0,
    "ddl": lambda n: (n + 1) * 1.0,
}


def with_retries(fn, tier: str = "ddl", max_tries: int = 3,
                 backoff_scale: float = 1.0):
    """Run ``fn`` with the reference's retry ladder for the given tier,
    logging one WARNING per failed attempt."""
    last: Exception | None = None
    for n in range(max_tries):
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — retry ladder mirrors reference
            last = exc
            pause = BACKOFF[tier](n) * backoff_scale if n + 1 < max_tries else 0.0
            log.warning("%s tier: attempt %d/%d failed, sleeping %.3fs: %s",
                        tier, n + 1, max_tries, pause, exc)
            time.sleep(pause)
    raise ClickHouseError(f"failed after {max_tries} tries: {last}") from last


class ClickHouseClient:
    def __init__(self, host: str, http_port: int = 8123, user: str = "default",
                 password: str = "", database: str = "default",
                 timeout: float = 60.0):
        self.host = host
        self.http_port = http_port
        self.user = user
        self.password = password
        self.database = database
        self.timeout = timeout

    @property
    def key(self) -> str:
        """Cache key — same shape as ClickhouseClientHolder.java:33."""
        return f"{self.user}:{self.password}@{self.host}:{self.http_port}/{self.database}"

    @property
    def _base_url(self) -> str:
        """``http://host:port/``, an IPv6 literal host in brackets."""
        return f"http://{bracket_ipv6(self.host)}:{self.http_port}/"

    def _url(self, params: dict[str, str] | None = None) -> str:
        q = {"user": self.user, "database": self.database}
        if self.password:
            q["password"] = self.password
        q.update(params or {})
        return self._base_url + "?" + urllib.parse.urlencode(q)

    def ping(self) -> bool:
        """Replica-alive probe: GET / must return HTTP 200 ('Ok.')
        (AbstractClickhouseLoaderMapper.java:678-699)."""
        try:
            with urllib.request.urlopen(self._base_url, timeout=5) as r:
                return r.status == 200
        except (urllib.error.URLError, OSError):
            return False

    def execute(self, sql: str | bytes) -> str:
        """POST a statement — a ``bytes`` body as is, a ``str`` as UTF-8;
        returns the raw response body (TabSeparated)."""
        body = sql if isinstance(sql, bytes) else sql.encode("utf-8")
        req = urllib.request.Request(self._url(), data=body, method="POST")
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as r:
                return r.read().decode("utf-8")
        except urllib.error.HTTPError as e:
            raise ClickHouseError(
                f"{self.host}:{self.http_port} HTTP {e.code}: "
                f"{e.read().decode('utf-8', 'replace')[:500]}") from e
        except (urllib.error.URLError, OSError) as e:
            raise ClickHouseError(f"{self.host}:{self.http_port}: {e}") from e

    def insert_payload(self, sql_header: str, payload: str) -> None:
        """``INSERT INTO … FORMAT X`` header + newline-joined rows — the
        batch shape of AbstractClickhouseLoaderMapper.java:288-298."""
        self.execute(sql_header + "\n" + payload)

    def query_rows(self, sql: str) -> list[list[str]]:
        body = self.execute(sql)
        return [line.split("\t") for line in body.splitlines() if line != ""]


def split_host_port(host: str) -> tuple[str, int | None]:
    """``"h1:8124"`` → ``("h1", 8124)``, ``"[::1]:8124"`` → ``("::1", 8124)``;
    a bare name or a bare IPv6 address (``"::1"``) carries no port."""
    if host.startswith("["):
        host, _, port_s = host[1:].partition("]")
        return host, int(port_s[1:]) if port_s[1:] else None
    if host.count(":") == 1:
        host, port_s = host.split(":")
        return host, int(port_s)
    return host, None


def bracket_ipv6(host: str) -> str:
    """``host`` as the host part of ``host:port`` — an IPv6 literal in
    brackets."""
    return f"[{host}]" if ":" in host else host


_CACHE: dict[str, ClickHouseClient] = {}


def get_client(host: str, http_port: int = 8123, user: str = "default",
               password: str = "", database: str = "default") -> ClickHouseClient:
    """D5 — process-wide client cache (ClickhouseClientHolder.java:21-68).

    ``host`` may carry an explicit port (``"h1:8124"``, ``"[::1]:8124"``)
    which overrides ``http_port`` — lets topologies address per-host HTTP
    endpoints; a bare IPv6 address (``"::1"``) carries none.
    """
    host, port = split_host_port(host)
    c = ClickHouseClient(host, port or http_port, user, password, database)
    return _CACHE.setdefault(c.key, c)
