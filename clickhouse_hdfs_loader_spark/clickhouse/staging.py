"""Two-phase staged load (``--direct false``) — reference W3/W4/D1.

Protocol (SURVEY §3.2-3.3):
1. the driver creates the ``temp`` database once on every live host;
   each scan task then creates its temp table
   ``temp.<table>_<dtYYYYMMDD>_<epoch>_p<NNNNNN>_A`` on the staging host
   of each shard it writes, with the target's DDL rewritten to
   ``ENGINE = StripeLog`` (ClickhouseHdfsLoader.java:114-118 prefix;
   AbstractClickhouseLoaderMapper.java:568-591 rewrite, :631-651
   create-with-retry);
2. executors batch-insert into their temp table;
3. after the Spark action completes, the DRIVER promotes each
   (host, temp) with ``INSERT INTO target SELECT * FROM temp.x``
   (ClickhouseLoaderReducer.java:218-260) — no reducer stage needed,
   Spark's driver already knows every (partition → shard → host) pair.
   One driver thread per staging host (``LifecycleManager.fan_out``)
   runs that host's promotes in plan order, so the hosts promote at
   once, as the reference's parallel reducers do
   (ClickhouseHdfsLoader.java:142-154); after one host's promote fails,
   no host starts another;
4. non-replicated targets replay on sibling replicas via
   ``INSERT INTO target SELECT * FROM remote('h:9000', temp, u, p)``
   (ClickhouseLoaderReducer.java:231-254), each right after its promote
   on the staging host's thread;
5. temp tables dropped on their staging host on success AND on abort — the
   CleanupTempTableOutputCommitter.java:62-87 / ClickhouseHdfsLoader.java:
   496-524 GC, here a ``try/finally`` around the promote, again one
   thread per host.

Exactly-once posture: temp-table names are attempt-scoped
(partitionId + attemptNumber), so a retried task writes a fresh table and
an aborted attempt's table is simply never promoted — duplicate promotion
is impossible without distributed coordination, which is the same
guarantee level the reference achieves by disabling speculation.

The batch policy — the write tasks' projection, the wire lines built on
Arrow, routing, per-shard buffers, flush cap — is owned by writer.py
(``serialize_for_load``, ``shard_payloads``) and shared with the direct
mode; hosts, login, alive probe and retries come from the cluster handle
(``lifecycle.LifecycleManager``). This module owns only what differs: the
temp-table target, one host per shard per task, and failures that raise (a
retried task writes a fresh table, so re-raising is safe here).
"""

from __future__ import annotations

import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame

from ..config import LoaderConfig
from .client import bracket_ipv6, split_host_port
from .lifecycle import TEMP_DATABASE, LifecycleManager
from .writer import insert_header, serialize_for_load, shard_payloads


def temp_table_prefix(table: str, dt: str) -> str:
    """``<tbl>_<dtYYYYMMDD>_<epochSeconds>_`` (ClickhouseHdfsLoader.java:
    114-118)."""
    return f"{table}_{dt.replace('-', '')}_{int(time.time())}_"


def temp_table_name(prefix: str, partition_id: int, attempt: int) -> str:
    """Attempt-scoped analogue of the MR task id ``m_NNNNNN_A``."""
    return f"{prefix}p{partition_id:06d}_{attempt}"


def rewrite_ddl_to_striplog(create_ddl: str, temp_db: str, temp_table: str) -> str:
    """Rewrite ``SHOW CREATE TABLE`` output to a StripeLog temp table —
    same transformation as AbstractClickhouseLoaderMapper.java:568-591:
    new name, ENGINE → StripeLog, engine parameters dropped."""
    ddl = re.sub(r"CREATE TABLE\s+\S+", f"CREATE TABLE {temp_db}.{temp_table}",
                 create_ddl, count=1, flags=re.IGNORECASE)
    ddl = re.sub(r"ENGINE\s*=\s*\w+(\([^)]*\))?.*$", "ENGINE = StripeLog",
                 ddl, count=1, flags=re.IGNORECASE | re.DOTALL)
    return ddl


@dataclass
class StagedLoadPlan:
    """Driver-side bookkeeping of what must be promoted where."""
    target_database: str
    target_table: str
    temp_tables: list[tuple[str, str]] = field(default_factory=list)  # (host, temp)

    def by_host(self) -> dict[str, list[str]]:
        """Staging host → its temp tables, in plan order."""
        out: dict[str, list[str]] = defaultdict(list)
        for host, temp in self.temp_tables:
            out[host].append(temp)
        return out


def stage_partitions(df: DataFrame, key_col: str | None, cluster: LifecycleManager,
                     config: LoaderConfig, *, create_ddl: str,
                     target_database: str, target_table: str,
                     prefix: str) -> StagedLoadPlan:
    """Phase 1+2: create per-task temp tables named under the run's
    ``prefix`` (``temp_table_prefix``) and batch-insert into them from the
    scan tasks' ``mapInArrow``. Returns the promote plan."""
    from pyspark import TaskContext

    serialized, wire = serialize_for_load(df, key_col, config)
    # once per host from the driver, not once per task per host; a down
    # replica is skipped here just as the tasks' probe skips it
    cluster.exec_all(f"CREATE DATABASE IF NOT EXISTS {TEMP_DATABASE}",
                     alive_only=True)

    def stage_one(batches):
        ctx = TaskContext.get()
        temp = temp_table_name(prefix, ctx.partitionId(), ctx.attemptNumber())
        ddl = rewrite_ddl_to_striplog(create_ddl, TEMP_DATABASE, temp)
        head = (insert_header(TEMP_DATABASE, temp, config.clickhouse_format)
                + "\n").encode("utf-8")
        picked: dict[int, str] = {}   # shard → staging host, once per task
        for shard, _n, payload in shard_payloads(
                batches, wire, cluster.topology.route, config.batch_size):
            if shard not in picked:
                # a single down first-replica must not fail the staged load
                host = cluster.first_alive(cluster.topology.nodes[shard].hosts)
                if host not in picked.values():   # temp table once per host
                    cluster.run(host, ddl)
                picked[shard] = host
            cluster.run(picked[shard], head + payload, tier="staged")
        # mapper output of W3: ("taskId@host", temp_table) pairs
        hosts = sorted(set(picked.values()))
        if hosts:
            yield pa.RecordBatch.from_pydict(
                {"host": hosts, "temp": [f"{TEMP_DATABASE}.{temp}"] * len(hosts)})

    rows = serialized.mapInArrow(stage_one, "host string, temp string").collect()
    plan = StagedLoadPlan(target_database, target_table)
    plan.temp_tables = sorted({(r.host, r.temp) for r in rows})
    return plan


def sql_string(value: str) -> str:
    """``value`` as a ClickHouse string literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def remote_replay(target: str, host: str, temp: str,
                  cluster: LifecycleManager) -> str:
    """The sibling replica's ``INSERT … SELECT`` from ``temp`` on ``host``
    through ``remote()`` on the native port 9000
    (ClickhouseLoaderReducer.java:231-254): any HTTP port the topology
    host carries is dropped and an IPv6 literal is bracketed."""
    address = bracket_ipv6(split_host_port(host)[0]) + ":9000"
    return (f"INSERT INTO {target} SELECT * FROM remote({sql_string(address)}, "
            f"{temp}, {sql_string(cluster.user)}, {sql_string(cluster.password)})")


def promote(plan: StagedLoadPlan, cluster: LifecycleManager, *,
            replicated: bool = False) -> None:
    """Phase 3+4: driver-side ``INSERT INTO target SELECT * FROM temp`` per
    (host, temp) pair, replica replay via remote() for non-replicated
    engines, then drop (ClickhouseLoaderReducer.java:218-260). The staging
    hosts promote at once, each in plan order; once one statement has
    failed, no host starts another promote, and the first error is raised
    after the drop. A statement fails only after its whole retry ladder,
    and until then the other hosts keep promoting, as the reference's
    parallel reducers do, so the partial-promote window (ROADMAP 1(b)) is
    per host: a failed load can leave every other host fully promoted,
    where the serial loop stopped at the first failing host."""
    tgt = f"{plan.target_database}.{plan.target_table}"
    by_host = plan.by_host()
    failed = threading.Event()

    def statements(host: str):
        """(host, sql) of ``host``'s promotes and replays, in order."""
        sibs = () if replicated else cluster.replicas_of(host)
        for temp in by_host[host]:
            yield host, f"INSERT INTO {tgt} SELECT * FROM {temp}"
            for sib in sibs:
                yield sib, remote_replay(tgt, host, temp, cluster)

    def promote_host(host: str) -> None:
        for h, sql in statements(host):
            if failed.is_set():
                return
            try:
                cluster.run(h, sql, tier="promote")
            except Exception:
                failed.set()
                raise

    try:
        cluster.fan_out(promote_host, by_host)
    finally:
        cleanup(plan, cluster)


def cleanup(plan: StagedLoadPlan, cluster: LifecycleManager) -> None:
    """D1 temp-table GC — drop every staged table on the host that holds
    it (siblings replay through ``remote()`` and hold none), all hosts at
    once; errors swallowed per table like the reference's best-effort
    cleaner (ClickhouseHdfsLoader.java:496-524)."""
    by_host = plan.by_host()

    def drop_host(host: str) -> None:
        for temp in by_host[host]:
            try:
                cluster.client(host).execute(f"DROP TABLE IF EXISTS {temp}")
            except Exception:  # noqa: BLE001 — best-effort GC
                pass

    cluster.fan_out(drop_host, by_host)


def staged_load(df: DataFrame, key_col: str | None, cluster: LifecycleManager,
                config: LoaderConfig, *, create_ddl: str,
                target_database: str, target_table: str, prefix: str,
                replicated: bool = False) -> StagedLoadPlan:
    """Full two-phase load: stage → promote (+replica replay) → GC."""
    plan = stage_partitions(df, key_col, cluster, config,
                            create_ddl=create_ddl,
                            target_database=target_database,
                            target_table=target_table, prefix=prefix)
    promote(plan, cluster, replicated=replicated)
    return plan
