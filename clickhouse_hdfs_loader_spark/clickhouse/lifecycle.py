"""Cluster handle and table-lifecycle manager — reference D2/D3/D4/D6
(SURVEY §2.A).

``LifecycleManager`` is the one handle through which a load reaches any
topology host: it holds the topology, the HTTP port, the login and the
retry ladder (``client``, ``run``, ``first_alive``, ``replicas_of``).
``main.run_load`` builds it once and hands it to the writer, the staged
path and the streaming sink.

Driver-side DDL orchestration through that handle:
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
from collections.abc import Sequence
from dataclasses import dataclass
from datetime import datetime, timedelta

from ..config import LoaderConfig
from ..operators.sharding import ClusterTopology
from .client import ClickHouseClient, get_client, with_retries

TEMP_DATABASE = "temp"  # database of the staged load's temp tables

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


@dataclass
class LifecycleManager:
    """The cluster handle of a load (D5 client cache + W5 retry tiers):
    every call to a topology host goes through ``client``/``run``, on the
    driver and, pickled, in the write tasks."""

    topology: ClusterTopology
    http_port: int = 8123
    max_tries: int = 3
    backoff_scale: float = 1.0
    user: str = "default"
    password: str = ""

    @classmethod
    def from_config(cls, topology: ClusterTopology, config: LoaderConfig,
                    backoff_scale: float = 1.0) -> LifecycleManager:
        """``--clickhouse-http-port`` for every topology host, plus the
        load's login and ``--max-tries``."""
        return cls(topology, config.clickhouse_http_port, config.max_tries,
                   backoff_scale, config.username, config.password)

    def client(self, host: str) -> ClickHouseClient:
        return get_client(host, self.http_port, user=self.user,
                          password=self.password)

    def run(self, host: str, sql: str, tier: str = "ddl") -> str:
        """POST ``sql`` to ``host`` under the ``tier`` retry ladder; returns
        the response body."""
        cli = self.client(host)
        return with_retries(lambda: cli.execute(sql), tier=tier,
                            max_tries=self.max_tries,
                            backoff_scale=self.backoff_scale)

    def first_alive(self, hosts: Sequence[str]) -> str:
        """First replica answering the HTTP-200 probe, else ``hosts[0]`` —
        the reference's getANodeAddress (AbstractClickhouseLoaderMapper.java:
        318-326)."""
        return next((h for h in hosts if self.client(h).ping()), hosts[0])

    def replicas_of(self, host: str) -> tuple[str, ...]:
        """The other replicas of ``host``'s shard."""
        for n in self.topology.nodes:
            if host in n.hosts:
                return tuple(h for h in n.hosts if h != host)
        return ()

    def _hosts(self) -> list[str]:
        return [h for n in self.topology.nodes for h in n.hosts]

    def exec_all(self, sql: str, alive_only: bool = False) -> None:
        """Run ``sql`` on every topology host (DDL tier); ``alive_only``
        skips the hosts that fail the alive probe."""
        for h in self._hosts():
            if not alive_only or self.client(h).ping():
                self.run(h, sql)

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
            self.exec_all(f"DROP TABLE IF EXISTS {database}.{daily}")
        self.exec_all(ddl)
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
            rows = self.client(h).query_rows(
                f"SELECT name FROM system.tables WHERE database = '{database}' "
                f"AND match(name, '{pattern}') AND name {cmp} '{bound}'")
            for (name,) in [r[:1] for r in rows]:
                if process == "merge":
                    self.run(h, f"INSERT INTO {database}.{table} "
                                f"SELECT * FROM {database}.{name}", "promote")
                self.run(h, f"DROP TABLE IF EXISTS {database}.{name}")
                if distributed_database is not None:
                    self.run(h, f"DROP TABLE IF EXISTS "
                                f"{distributed_database}.{name}")
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
            for h in node.hosts[:1] if replicated else node.hosts:
                self.run(h, sql)

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
                try:
                    body = self.run(h, sql)
                except Exception as e:  # noqa: BLE001 — try next replica
                    last_err = e
                    continue
                out[node.shard_num] = sorted(filter(None, body.splitlines()))
                break
            else:
                raise RuntimeError(
                    f"list_partitions: no replica of shard "
                    f"{node.shard_num} answered") from last_err
        return out

    # -- D1 ------------------------------------------------------------
    def clean_temp_tables(self, prefix: str) -> None:
        """Drop ``temp.<prefix>%`` leftovers on every host — the end-of-job
        GC query of ClickhouseHdfsLoader.java:496-524 (which selects
        ``concat(database,'.',name)`` with a LIKE filter)."""
        for h in self._hosts():
            cli = self.client(h)
            try:
                rows = cli.query_rows(
                    f"SELECT concat(database, '.', name) AS tablename "
                    f"FROM system.tables WHERE database = '{TEMP_DATABASE}' "
                    f"AND name LIKE '{prefix}%'")
                for (tablename,) in [r[:1] for r in rows]:
                    cli.execute(f"DROP TABLE IF EXISTS {tablename}")
            except Exception:  # noqa: BLE001 — best-effort GC
                continue
