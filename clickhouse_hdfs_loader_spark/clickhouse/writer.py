"""Distributed ClickHouse writer: batching, shard routing, replica fan-out.

This module owns the batch policy of BOTH load modes: the ``(key, line)``
serialization (``serialize_for_load``), the in-task routing
(``routed_lines``) and the per-shard buffer flushed at ``--batch-size`` or
``FLUSH_CAP`` (``shard_batches``). The direct mode below and the staged
mode (staging.py) differ only in where a batch goes and how a failure
counts — the reference's single mapper choosing
``batchDirectInsert`` or a staged insert at flush time
(AbstractClickhouseLoaderMapper.java:288-452). Hosts, login, alive probe
and retries come from the cluster handle (``lifecycle.LifecycleManager``)
the caller passes in.

Reference parity (SURVEY §2.A W1/W2/W6 + P1):
- W1 buffered batch INSERT — rows buffered per shard under an
  ``INSERT INTO … FORMAT …`` header, flushed at ``--batch-size`` or the
  1 048 576-row ClickHouse atomic-insert cap
  (AbstractClickhouseLoaderMapper.java:288-298, HostRecordsCache.java:6-17).
- W2 direct insert w/ replica fan-out — Replicated engine → insert into
  ONE alive replica (HTTP-200 probe); non-replicated → insert into EVERY
  replica of the shard (AbstractClickhouseLoaderMapper.java:309-359).
- W6 load accounting — Success/Failed records counted per task; job fails
  if any failed (:135-138; ClickhouseHdfsLoader.java:203-207).

Spark shape: one ``mapInArrow`` over the ``(key, line)`` projection, so
the scan tasks themselves route (``ClusterTopology.route``), batch and
write — the reference's map-only job with 0 reducers. Each task keeps
per-shard buffers, the exact HostRecordsCache design, with connections
from the per-process client cache; write parallelism is the input split
count. Each task yields its ``(ok, failed)`` counts as one row.

Speculative execution must stay off (session.py: spark.speculation=false,
mirroring ClickhouseHdfsLoader.java:194-197) or retried tasks double-insert
in direct mode; the staged mode (staging.py) is the exactly-once-ish path.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LoaderConfig
from ..operators.sharding import ClusterTopology
from ..operators.transform import (format_header_lines, wire_line_col,
                                   wire_separator)
from .lifecycle import LifecycleManager

FLUSH_CAP = 1_048_576  # ClickHouse atomic-insert bound (reference :294-295)


def insert_header(database: str, table: str, fmt: str) -> str:
    """``INSERT INTO db.table FORMAT TabSeparated`` — the sqlHeader of
    AbstractClickhouseLoaderMapper.java:548-553."""
    return f"INSERT INTO {database}.{table} FORMAT {fmt}"


def serialize_for_load(df: DataFrame, key_col: str | None,
                       config: LoaderConfig) -> tuple[DataFrame, str]:
    """Serialize each row to one wire line: returns the ``(key, line)``
    DataFrame (the sharding key as a string) and the payload prefix — the
    names (and types) rows every batch of a WithNames[AndTypes] format
    leads with, empty for bare formats. ``key_col=None`` projects a null
    key, which ``ClusterTopology.route`` routes by a random UUID (P1)."""
    fmt = config.clickhouse_format
    line = wire_line_col(df, df.columns, wire_separator(fmt),
                         config.replace_char)
    prefix = "".join(l + "\n" for l in format_header_lines(fmt, df, df.columns))
    key = F.lit(None) if key_col is None else df[key_col]
    return df.select(key.cast("string").alias("key"),
                     line.alias("line")), prefix


def routed_lines(batches: Iterable[pa.RecordBatch],
                 topology: ClusterTopology) -> Iterator[tuple[int, str]]:
    """``(key, line)`` Arrow batches → ``(shard, line)`` rows."""
    for batch in batches:
        keys, lines = batch.columns
        yield from zip(topology.route(keys.to_pylist()).tolist(),
                       lines.to_pylist())


def shard_batches(rows: Iterable[tuple[int, str]], batch_size: int,
                  prefix: str = "") -> Iterator[tuple[int, int, str]]:
    """Per-shard buffers over ``(shard, line)`` rows (HostRecordsCache.java:
    6-17): yield ``(shard, n_rows, payload)`` whenever a shard's buffer
    reaches ``min(batch_size, FLUSH_CAP)``, then the partial buffers.
    Each payload is ``prefix`` followed by its newline-joined lines."""
    cap = min(batch_size, FLUSH_CAP)
    buffers: dict[int, list[str]] = {}
    for shard, line in rows:
        buf = buffers.setdefault(shard, [])
        buf.append(line)
        if len(buf) >= cap:
            yield shard, len(buf), prefix + "\n".join(buf)
            buffers[shard] = []
    for shard, buf in buffers.items():
        if buf:
            yield shard, len(buf), prefix + "\n".join(buf)


def write_direct(df: DataFrame, key_col: str | None, cluster: LifecycleManager,
                 config: LoaderConfig, *, database: str, table: str,
                 replicated: bool = False) -> dict:
    """Direct-mode load (``--direct true``): route → serialize → buffered
    batch inserts to the shard's local table on the ``cluster`` handle's
    hosts. Returns accounting counters (W6)."""
    header = insert_header(database, table, config.clickhouse_format)
    serialized, payload_prefix = serialize_for_load(df, key_col, config)

    def write_task(batches):
        ok = failed = 0
        for shard, n, payload in shard_batches(
                routed_lines(batches, cluster.topology), config.batch_size,
                payload_prefix):
            # W2 fan-out: Replicated → one alive replica, probed per
            # batch; non-replicated → every replica of the shard
            hosts = cluster.topology.nodes[shard].hosts
            targets = [cluster.first_alive(hosts)] if replicated else hosts
            try:
                for h in targets:
                    cluster.run(h, f"{header}\n{payload}", tier="direct")
                ok += n
            except Exception:
                # Count the failure but do NOT re-raise: a failed Spark task
                # would be re-attempted (spark.task.maxFailures) and the
                # retry would re-insert every batch this attempt already
                # delivered. The reference does the same — it counts Failed
                # records in the mapper (AbstractClickhouseLoaderMapper.java:
                # 350-357) and fails the JOB from the driver verdict
                # (ClickhouseHdfsLoader.java:203-207), which write_direct
                # mirrors below.
                failed += n
        yield pa.RecordBatch.from_pydict({"ok": [ok], "failed": [failed]})

    counts = serialized.mapInArrow(write_task, "ok long, failed long").collect()
    stats = {"success_records": sum(r.ok for r in counts),
             "failed_records": sum(r.failed for r in counts)}
    if stats["failed_records"] > 0:
        # job verdict: exit non-zero when any record failed
        # (ClickhouseHdfsLoader.java:203-207)
        raise RuntimeError(f"load failed: {stats}")
    return stats
