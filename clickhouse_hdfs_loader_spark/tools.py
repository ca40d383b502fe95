"""Operational CLI tools — reference's ``clickhouse_alter_table`` script
(D4, SURVEY §2.A) as a subcommand:

    python -m clickhouse_hdfs_loader_spark.tools drop-partition \
        --connect jdbc:clickhouse://h:8123/db --table t --partition "'2017-01-07'" \
        [--clickhouse-http-port 8123] [--username default] [--password ""]

Same protocol as clickhouse_alter_table:31-189: resolve Distributed →
(cluster, local db/table) through the loader's ``main.resolve_target``,
require a *MergeTree engine, issue ``ALTER TABLE … DROP PARTITION`` per
shard (one replica suffices when Replicated, every replica otherwise),
with the DDL retry tier.
"""

from __future__ import annotations

import argparse

from .config import LoaderConfig, add_option
from .main import resolve_target

# deployment settings, spelled and defaulted as in the loader's CLI
SETTINGS = ("clickhouse_http_port", "username", "password")


def drop_partition(connect: str, table: str, partition: str,
                   backoff_scale: float = 1.0, **settings: object) -> None:
    """``settings`` are ``LoaderConfig`` fields of ``SETTINGS``: topology
    hosts are reached on ``clickhouse_http_port`` with the given login,
    the way ``main.run_load`` reaches them."""
    config = LoaderConfig(connect=connect, table=table, **settings)
    _database, dist, local_ddl, replicated, cluster = resolve_target(
        config, backoff_scale)
    engine = "ReplicatedMergeTree" if replicated else \
        ("MergeTree" if "MergeTree" in local_ddl else "other")
    cluster.drop_partition(dist.local_database, dist.local_table, partition,
                           engine=engine, replicated=replicated)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="clickhouse-hdfs-loader-spark-tools")
    sub = p.add_subparsers(dest="cmd", required=True)
    dp = sub.add_parser("drop-partition", argument_default=argparse.SUPPRESS)
    dp.add_argument("--partition", required=True)
    for field in ("connect", "table", *SETTINGS):
        add_option(dp, field)
    ns = vars(p.parse_args(argv))
    if ns.pop("cmd") == "drop-partition":
        drop_partition(**ns)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
