"""Table-lifecycle manager — reference D2/D3/D4/D6 (SURVEY §2.A).

Driver-side DDL orchestration over the HTTP client:
- D6 Distributed-table resolution: regex over ``SHOW CREATE TABLE`` output
  → (cluster, local db, local table, sharding key), sharding-key index via
  DESCRIBE scan (ClickhouseHdfsLoader.java:49,248-282,310-329);
- D2 daily tables: clone target DDL with ``_YYYYMMDD`` suffix on every
  host, drop-or-append per ``--mode`` (ClickhouseHdfsLoader.java:338-420);
- D3 daily expiry: find ``<table>_\\d{8}`` older than dt−N, merge
  (``INSERT INTO base SELECT *`` then drop) or just drop
  (OldDailyMergeTask.java:25-142);
- D4 partition drop: resolve to local tables, require *MergeTree,
  ``ALTER TABLE … DROP PARTITION`` per shard — one replica suffices when
  Replicated, else every replica (clickhouse_alter_table:31-189);
- D1 temp GC by prefix (ClickhouseHdfsLoader.java:496-524).
"""

from __future__ import annotations

import logging
import re
import threading
from dataclasses import dataclass
from datetime import datetime, timedelta

from ..operators.sharding import ClusterTopology
from .client import get_client, with_retries

# `= Distributed(cluster, db, table[, sharding_expr])` — the resolution
# regex of ClickhouseHdfsLoader.java:49
DISTRIBUTED_RE = re.compile(
    r"Distributed\s*\(\s*'?(?P<cluster>\w+)'?\s*,\s*'?(?P<db>\w+)'?\s*,"
    r"\s*'?(?P<table>\w+)'?\s*(?:,\s*(?P<shardfn>[^)]+))?\)", re.IGNORECASE)


@dataclass
class DistributedTarget:
    cluster: str
    local_database: str
    local_table: str
    sharding_expr: str | None = None

    @property
    def sharding_key(self) -> str | None:
        """Column inside e.g. ``cityHash64(h_did)``
        (ClickhouseHdfsLoader.java:310-329)."""
        if not self.sharding_expr:
            return None
        # the outer regex stops at the first ')', so a nested fn call may
        # arrive without its closing paren — match the inner column only
        m = re.search(r"\(\s*(\w+)", self.sharding_expr)
        return m.group(1) if m else self.sharding_expr.strip()


def resolve_distributed(create_ddl: str) -> DistributedTarget | None:
    """D6 — parse `SHOW CREATE TABLE` output of a Distributed table."""
    m = DISTRIBUTED_RE.search(create_ddl)
    if not m:
        return None
    return DistributedTarget(m.group("cluster"), m.group("db"),
                             m.group("table"), m.group("shardfn"))


def daily_table_name(table: str, dt: str) -> str:
    return f"{table}_{dt.replace('-', '')}"


class LifecycleManager:
    """All-hosts DDL fan-out over a topology (every op the reference runs
    host-by-host over JDBC, here over HTTP)."""

    def __init__(self, topology: ClusterTopology, http_port: int = 8123,
                 max_tries: int = 3, backoff_scale: float = 1.0,
                 user: str = "default", password: str = ""):
        self.topology = topology
        self.http_port = http_port
        self.max_tries = max_tries
        self.backoff_scale = backoff_scale
        self.user = user
        self.password = password

    def _hosts(self) -> list[str]:
        return [h for n in self.topology.nodes for h in n.hosts]

    def _exec_all(self, sql: str) -> None:
        for h in self._hosts():
            cli = get_client(h, self.http_port, user=self.user, password=self.password)
            with_retries(lambda c=cli: c.execute(sql), tier="ddl",
                         max_tries=self.max_tries,
                         backoff_scale=self.backoff_scale)

    # -- D2 ------------------------------------------------------------
    def create_daily_tables(self, create_ddl: str, database: str, table: str,
                            dt: str, mode: str = "append") -> str:
        """Clone the target's DDL with a ``_YYYYMMDD`` suffix on every host
        (ClickhouseHdfsLoader.java:338-380). ``mode='drop'`` recreates."""
        daily = daily_table_name(table, dt)
        ddl = re.sub(r"CREATE TABLE\s+(\S*?)" + re.escape(table),
                     rf"CREATE TABLE \1{daily}", create_ddl, count=1,
                     flags=re.IGNORECASE)
        ddl = re.sub(r"^CREATE TABLE", "CREATE TABLE IF NOT EXISTS", ddl,
                     count=1, flags=re.IGNORECASE)
        if mode == "drop":
            self._exec_all(f"DROP TABLE IF EXISTS {database}.{daily}")
        self._exec_all(ddl)
        return daily

    # -- D3 ------------------------------------------------------------
    def expire_daily_tables(self, database: str, table: str, dt: str,
                            expires: int = 3, process: str = "merge",
                            distributed_database: str | None = None) -> list[str]:
        """Merge-or-drop daily tables older than dt−expires
        (OldDailyMergeTask.java:25-142). Returns the expired table names.

        ``distributed_database`` set → the reference's distributed branch:
        after dropping the local daily table, also drop the daily
        Distributed wrapper in the target database
        (OldDailyMergeTask.java:111-113) — otherwise daily Distributed
        tables accumulate forever. The branches also differ on the bound:
        distributed compares ``name <`` (:88), non-distributed ``name <=``
        (:115).
        """
        bound = daily_table_name(
            table, (datetime.strptime(dt, "%Y-%m-%d")
                    - timedelta(days=expires)).strftime("%Y-%m-%d"))
        pattern = f"{table}_\\d{{8}}$"
        cmp = "<" if distributed_database is not None else "<="
        expired: set[str] = set()
        for h in self._hosts():
            cli = get_client(h, self.http_port, user=self.user, password=self.password)
            rows = cli.query_rows(
                f"SELECT name FROM system.tables WHERE database = '{database}' "
                f"AND match(name, '{pattern}') AND name {cmp} '{bound}'")
            for (name,) in [r[:1] for r in rows]:
                if process == "merge":
                    with_retries(lambda c=cli, n=name: c.execute(
                        f"INSERT INTO {database}.{table} SELECT * FROM {database}.{n}"),
                        tier="promote", max_tries=self.max_tries,
                        backoff_scale=self.backoff_scale)
                with_retries(lambda c=cli, n=name: c.execute(
                    f"DROP TABLE IF EXISTS {database}.{n}"),
                    tier="ddl", max_tries=self.max_tries,
                    backoff_scale=self.backoff_scale)
                if distributed_database is not None:
                    with_retries(lambda c=cli, n=name: c.execute(
                        f"DROP TABLE IF EXISTS {distributed_database}.{n}"),
                        tier="ddl", max_tries=self.max_tries,
                        backoff_scale=self.backoff_scale)
                expired.add(name)
        return sorted(expired)

    def expire_daily_tables_task(self, *args, **kwargs) -> list[str]:
        """The reference runs expiry on a worker thread it starts and
        immediately joins (ClickhouseHdfsLoader.java:133-139) — so the call
        is synchronous, but ``OldDailyMergeTask.run`` catches every
        exception and only logs it (:48-55): an expiry failure must NOT
        abort the load. This wrapper mirrors both the launch shape and the
        swallow-and-log contract; it returns [] on failure."""
        result: list[str] = []

        def run() -> None:
            try:
                result.extend(self.expire_daily_tables(*args, **kwargs))
            except Exception as e:  # OldDailyMergeTask.java:52-55
                logging.getLogger(__name__).error(
                    "daily expiry failed (load continues): %s", e)

        worker = threading.Thread(target=run, name="OldDailyMergeTask")
        worker.start()
        worker.join()
        return result

    # -- D4 ------------------------------------------------------------
    def drop_partition(self, database: str, table: str, partition: str,
                       engine: str, replicated: bool) -> None:
        """``ALTER TABLE local DROP PARTITION p`` on every shard — one
        replica when Replicated, every replica otherwise
        (clickhouse_alter_table:118-189; engine gate :80-98)."""
        if "MergeTree" not in engine:
            raise ValueError(f"engine {engine!r} does not support DROP PARTITION "
                             "(reference requires *MergeTree)")
        sql = f"ALTER TABLE {database}.{table} DROP PARTITION {partition}"
        for node in self.topology.nodes:
            hosts = node.hosts[:1] if replicated else node.hosts
            for h in hosts:
                cli = get_client(h, self.http_port, user=self.user, password=self.password)
                with_retries(lambda c=cli: c.execute(sql), tier="ddl",
                             max_tries=self.max_tries,
                             backoff_scale=self.backoff_scale)

    def list_partitions(self, database: str, table: str) -> dict[int, list[str]]:
        """Per-shard partition inventory — the discovery step the
        reference's alter tool performs before a drop by walking the
        cluster map (clickhouse_alter_table:100-116 builds shard→hosts
        from ``system.clusters``; eval_alter:155-170 then iterates the
        shards). One ``system.parts`` query per shard against the first
        replica that answers (replicas of a shard hold the same active
        partition set, the same one-replica stance as the Replicated
        drop path); a shard whose every replica fails raises — a silent
        gap would make the caller drop against a partial inventory.

        Returns ``{shard_num: sorted partition ids}``."""
        sql = (f"SELECT DISTINCT partition FROM system.parts "
               f"WHERE database = '{database}' AND table = '{table}' "
               f"AND active")
        out: dict[int, list[str]] = {}
        for node in self.topology.nodes:
            last_err: Exception | None = None
            for h in node.hosts:
                cli = get_client(h, self.http_port, user=self.user,
                                 password=self.password)
                try:
                    rows = with_retries(lambda c=cli: c.query_rows(sql),
                                        tier="ddl", max_tries=self.max_tries,
                                        backoff_scale=self.backoff_scale)
                except Exception as e:  # noqa: BLE001 — try next replica
                    last_err = e
                    continue
                out[node.shard_num] = sorted(r[0] for r in rows if r)
                break
            else:
                raise RuntimeError(
                    f"list_partitions: no replica of shard "
                    f"{node.shard_num} answered") from last_err
        return out

    # -- D1 ------------------------------------------------------------
    def clean_temp_tables(self, prefix: str, temp_db: str = "temp") -> None:
        """Drop ``temp.<prefix>%`` leftovers on every host — the end-of-job
        GC query of ClickhouseHdfsLoader.java:496-524 (which selects
        ``concat(database,'.',name)`` with a LIKE filter)."""
        for h in self._hosts():
            cli = get_client(h, self.http_port, user=self.user, password=self.password)
            try:
                rows = cli.query_rows(
                    f"SELECT concat(database, '.', name) AS tablename "
                    f"FROM system.tables WHERE database = '{temp_db}' "
                    f"AND name LIKE '{prefix}%'")
                for (tablename,) in [r[:1] for r in rows]:
                    cli.execute(f"DROP TABLE IF EXISTS {tablename}")
            except Exception:  # noqa: BLE001 — best-effort GC
                continue
