"""Operational CLI tools — reference's ``clickhouse_alter_table`` script
(D4, SURVEY §2.A) as a subcommand:

    python -m clickhouse_hdfs_loader_spark.tools drop-partition \
        --connect jdbc:clickhouse://h:8123/db --table t --partition "'2017-01-07'" \
        [--clickhouse-http-port 8123] [--username default] [--password ""]

Same protocol as clickhouse_alter_table:31-189: resolve Distributed →
(cluster, local db/table), require a *MergeTree engine, issue
``ALTER TABLE … DROP PARTITION`` per shard (one replica suffices when
Replicated, every replica otherwise), with the DDL retry tier.
"""

from __future__ import annotations

import argparse

from .clickhouse.client import get_client
from .clickhouse.lifecycle import LifecycleManager, resolve_distributed
from .config import LoaderConfig
from .main import _parse_connect
from .sources import catalog


def drop_partition(connect: str, table: str, partition: str,
                   backoff_scale: float = 1.0, *,
                   clickhouse_http_port: int = 8123,
                   username: str = "default", password: str = "") -> None:
    """Topology hosts are reached on ``clickhouse_http_port`` with the
    given login, the way ``main.run_load`` reaches them."""
    config = LoaderConfig(connect=connect, table=table,
                          clickhouse_http_port=clickhouse_http_port,
                          username=username, password=password)
    host, http_port, database = _parse_connect(connect)
    cli = get_client(host, http_port, user=username, password=password,
                     database=database)
    ddl = catalog.fetch_create_table(cli, database, table)
    dist = resolve_distributed(ddl)
    if dist is None:
        raise ValueError(f"{database}.{table} is not Distributed "
                         "(clickhouse_alter_table:31-78 requires it)")
    topology = catalog.fetch_topology(cli, dist.cluster)
    local_ddl = catalog.fetch_create_table(cli, dist.local_database,
                                           dist.local_table)
    engine = "ReplicatedMergeTree" if "Replicated" in local_ddl else \
        ("MergeTree" if "MergeTree" in local_ddl else "other")
    cluster = LifecycleManager.from_config(topology, config, backoff_scale)
    cluster.drop_partition(dist.local_database, dist.local_table, partition,
                           engine=engine, replicated="Replicated" in local_ddl)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="clickhouse-hdfs-loader-spark-tools")
    sub = p.add_subparsers(dest="cmd", required=True)
    dp = sub.add_parser("drop-partition")
    dp.add_argument("--connect", required=True)
    dp.add_argument("--table", required=True)
    dp.add_argument("--partition", required=True)
    # deployment settings, spelled and defaulted as in the loader's CLI
    dp.add_argument("--clickhouse-http-port", dest="clickhouse_http_port",
                    type=int, default=8123)
    dp.add_argument("--username", default="default")
    dp.add_argument("--password", default="")
    ns = p.parse_args(argv)
    if ns.cmd == "drop-partition":
        drop_partition(ns.connect, ns.table, ns.partition,
                       clickhouse_http_port=ns.clickhouse_http_port,
                       username=ns.username, password=ns.password)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
