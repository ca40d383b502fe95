"""Two-phase staged load (``--direct false``) — reference W3/W4/D1.

Protocol (SURVEY §3.2-3.3):
1. per-task temp table ``temp.<table>_<dtYYYYMMDD>_<epoch>_p<NNNNNN>_A``
   created on every shard host with the target's DDL rewritten to
   ``ENGINE = StripeLog`` (ClickhouseHdfsLoader.java:114-118 prefix;
   AbstractClickhouseLoaderMapper.java:568-591 rewrite, :631-651
   create-with-retry);
2. executors batch-insert into their temp table;
3. after the Spark action completes, the DRIVER promotes each
   (host, temp) with ``INSERT INTO target SELECT * FROM temp.x``
   (ClickhouseLoaderReducer.java:218-260) — no reducer stage needed,
   Spark's driver already knows every (partition → shard → host) pair;
4. non-replicated targets replay on sibling replicas via
   ``INSERT INTO target SELECT * FROM remote('h:9000', temp, u, p)``
   (ClickhouseLoaderReducer.java:231-254);
5. temp tables dropped on success AND on abort — the
   CleanupTempTableOutputCommitter.java:62-87 / ClickhouseHdfsLoader.java:
   496-524 GC, here a ``try/finally`` around the action.

Exactly-once posture: temp-table names are attempt-scoped
(partitionId + attemptNumber), so a retried task writes a fresh table and
an aborted attempt's table is simply never promoted — duplicate promotion
is impossible without distributed coordination, which is the same
guarantee level the reference achieves by disabling speculation.

The batch policy — serialization, per-shard buffers, flush cap and the
alive-replica probe — is owned by writer.py and shared with the direct
mode; this module owns only what differs: the temp-table target, one
host per shard per task, and failures that raise (a retried task writes a
fresh table, so re-raising is safe here).
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..config import LoaderConfig
from ..operators.sharding import ClusterTopology
from .client import get_client, with_retries
from .writer import first_alive, insert_header, serialize_for_load, shard_batches

TEMP_DATABASE = "temp"


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


def stage_partitions(df: DataFrame, key_col: str, topology: ClusterTopology,
                     config: LoaderConfig, *, create_ddl: str,
                     target_database: str, target_table: str, prefix: str,
                     backoff_scale: float = 1.0) -> StagedLoadPlan:
    """Phase 1+2: create per-partition temp tables named under the run's
    ``prefix`` (``temp_table_prefix``) and batch-insert into them from
    ``mapPartitions``. Returns the promote plan."""
    from pyspark import TaskContext

    hosts_per_shard = [n.hosts for n in topology.nodes]
    port = config.clickhouse_http_port
    client_kw = dict(user=config.username, password=config.password)
    serialized, payload_prefix = serialize_for_load(df, key_col, topology, config)

    def stage_one(rows):
        ctx = TaskContext.get()
        temp = temp_table_name(prefix, ctx.partitionId(), ctx.attemptNumber())
        ddl = rewrite_ddl_to_striplog(create_ddl, TEMP_DATABASE, temp)
        header = insert_header(TEMP_DATABASE, temp, config.clickhouse_format)
        picked: dict[int, str] = {}   # shard → staging host, once per task
        created: set[str] = set()
        for shard, _n, payload in shard_batches(rows, config.batch_size,
                                                payload_prefix):
            if shard not in picked:
                # a single down first-replica must not fail the staged load
                picked[shard] = first_alive(hosts_per_shard[shard], port,
                                            **client_kw)
            host = picked[shard]
            cli = get_client(host, port, **client_kw)
            if host not in created:
                for sql in (f"CREATE DATABASE IF NOT EXISTS {TEMP_DATABASE}",
                            ddl):
                    with_retries(lambda: cli.execute(sql), tier="ddl",
                                 max_tries=config.max_tries,
                                 backoff_scale=backoff_scale)
                created.add(host)
            with_retries(lambda: cli.insert_payload(header, payload),
                         tier="staged", max_tries=config.max_tries,
                         backoff_scale=backoff_scale)
        # mapper output of W3: ("taskId@host", temp_table) pairs
        return [(h, f"{TEMP_DATABASE}.{temp}") for h in created]

    pairs = serialized.rdd.mapPartitions(stage_one).collect()
    plan = StagedLoadPlan(target_database, target_table)
    plan.temp_tables = sorted(set(pairs))
    return plan


def promote(plan: StagedLoadPlan, topology: ClusterTopology,
            config: LoaderConfig, *, replicated: bool = False,
            backoff_scale: float = 1.0) -> None:
    """Phase 3+4: driver-side ``INSERT INTO target SELECT * FROM temp`` per
    (host, temp) pair, replica replay via remote() for non-replicated
    engines, then drop (ClickhouseLoaderReducer.java:218-260)."""
    tgt = f"{plan.target_database}.{plan.target_table}"
    port = config.clickhouse_http_port
    user, password = config.username, config.password
    try:
        for host, temp in plan.temp_tables:
            cli = get_client(host, port, user=user, password=password)
            with_retries(lambda c=cli, t=temp: c.execute(
                f"INSERT INTO {tgt} SELECT * FROM {t}"),
                tier="promote", max_tries=config.max_tries,
                backoff_scale=backoff_scale)
            if not replicated:
                siblings = _replicas_of(host, topology)
                for sib in siblings:
                    scli = get_client(sib, port, user=user, password=password)
                    with_retries(lambda c=scli, h=host, t=temp: c.execute(
                        f"INSERT INTO {tgt} SELECT * FROM "
                        f"remote('{h}:9000', {t}, '{user}', '{password}')"),
                        tier="promote", max_tries=config.max_tries,
                        backoff_scale=backoff_scale)
    finally:
        cleanup(plan, topology, config, backoff_scale=backoff_scale)


def _replicas_of(host: str, topology: ClusterTopology) -> tuple[str, ...]:
    for n in topology.nodes:
        if host in n.hosts:
            return tuple(h for h in n.hosts if h != host)
    return ()


def cleanup(plan: StagedLoadPlan, topology: ClusterTopology,
            config: LoaderConfig, backoff_scale: float = 1.0) -> None:
    """D1 temp-table GC — drop every staged table on its host(s); errors
    swallowed per host like the reference's best-effort cleaner
    (ClickhouseHdfsLoader.java:496-524)."""
    port = config.clickhouse_http_port
    for host, temp in plan.temp_tables:
        for h in (host, *_replicas_of(host, topology)):
            try:
                get_client(h, port, user=config.username,
                           password=config.password).execute(
                    f"DROP TABLE IF EXISTS {temp}")
            except Exception:  # noqa: BLE001 — best-effort GC
                pass


def staged_load(df: DataFrame, key_col: str, topology: ClusterTopology,
                config: LoaderConfig, *, create_ddl: str,
                target_database: str, target_table: str, prefix: str,
                replicated: bool = False, backoff_scale: float = 1.0) -> StagedLoadPlan:
    """Full two-phase load: stage → promote (+replica replay) → GC."""
    plan = stage_partitions(df, key_col, topology, config,
                            create_ddl=create_ddl,
                            target_database=target_database,
                            target_table=target_table, prefix=prefix,
                            backoff_scale=backoff_scale)
    promote(plan, topology, config, replicated=replicated,
            backoff_scale=backoff_scale)
    return plan
