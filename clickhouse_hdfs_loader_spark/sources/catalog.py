"""ClickHouse catalog reads (reference operator S3, SURVEY §2.A).

Driver-side queries against system tables / DDL introspection — the exact
statements the reference issues at job init
(ClickhouseHdfsLoader.java:224-289):

- ``SHOW CREATE TABLE`` → Distributed resolution (ClickhouseClient.java:
  101-109 + regex, see clickhouse/lifecycle.py),
- ``system.clusters`` topology with weights + replica host arrays
  (ClickhouseClient.java:121-132),
- ``DESCRIBE`` → per-column (name, type) map for null rules, sharding-key
  index (ClickhouseLoaderContext.java:42-58) and the target width for T9
  validation (the reference counts ``system.columns``,
  AbstractClickhouseLoaderMapper.java:490-496).

These are one-row/driver-scale reads — plain HTTP, not DataFrames (a
``spark.read.jdbc`` would spin a job for a 5-row catalog query).
"""

from __future__ import annotations

from ..clickhouse.client import ClickHouseClient
from ..operators.sharding import ClusterTopology, ShardNode


def fetch_create_table(cli: ClickHouseClient, database: str, table: str) -> str:
    return cli.execute(f"SHOW CREATE TABLE {database}.{table}").replace("\\n", "\n")


def fetch_topology(cli: ClickHouseClient, cluster: str) -> ClusterTopology:
    """`select cluster, shard_num, shard_weight, groupArray(host_address)
    from system.clusters where cluster='…' group by cluster, shard_num,
    shard_weight order by shard_num desc` (ClickhouseClient.java:124)."""
    rows = cli.query_rows(
        "SELECT shard_num, shard_weight, groupArray(host_address) "
        f"FROM system.clusters WHERE cluster = '{cluster}' "
        "GROUP BY shard_num, shard_weight ORDER BY shard_num DESC")
    nodes = []
    for shard_num, weight, hosts in rows:
        hosts = tuple(h.strip("'\" ") for h in hosts.strip("[]").split(",") if h)
        nodes.append(ShardNode(int(shard_num), int(weight), hosts))
    return ClusterTopology(nodes)


def fetch_describe(cli: ClickHouseClient, database: str, table: str) -> list[tuple[str, str]]:
    """DESCRIBE → ordered (name, type) — the index→(name,type) map of
    ClickhouseLoaderContext.java:42-58."""
    return [(r[0], r[1]) for r in cli.query_rows(f"DESC {database}.{table}")]


def sharding_key_index_or_none(describe_rows: list[tuple[str, str]],
                               key: str) -> int | None:
    """Positional index of the sharding key in the target schema — the
    DESCRIBE walk of ClickhouseHdfsLoader.java:310-329 — or None when
    absent; the reference then falls back to random (UUID) routing
    (AbstractClickhouseLoaderMapper.java:278-280)."""
    for i, (name, _typ) in enumerate(describe_rows):
        if name == key:
            return i
    return None
