"""Streaming → ClickHouse sink via ``foreachBatch`` ([EXT]).

The reference's incremental story is the daily batch load (D2/D3); the
streaming continuation is a Structured Streaming query whose micro-batches
run the SAME direct-mode writer — identical routing, batching, retries and
accounting — so a Kafka/file stream loads into the sharded cluster with
per-batch atomicity. At scale this is the standard exactly-once-ish
pattern: micro-batch id + attempt-scoped temp tables (staging.py) give
idempotent replays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..clickhouse.lifecycle import LifecycleManager
from ..config import LoaderConfig


def stream_to_clickhouse(stream: DataFrame, key_col: str | None,
                         cluster: LifecycleManager, config: LoaderConfig, *,
                         database: str, table: str, replicated: bool = False,
                         checkpoint_dir: str | None = None,
                         available_now: bool = True,
                         staged: bool = False,
                         create_ddl: str | None = None) -> StreamingQuery:
    """Attach the ClickHouse writer to a stream; each micro-batch is one
    bounded load job against the ``cluster`` handle's hosts.

    ``staged=False`` (default): W1/W2 direct-mode semantics per batch —
    buffered inserts straight into the shard-local tables.

    ``staged=True``: each micro-batch runs the full two-phase W3/W4 load
    (stage into batch-scoped StripeLog temp tables → promote → GC), so a
    batch becomes visible in the target only after all its partitions
    staged successfully — per-batch atomicity-ish. Requires ``create_ddl``
    (the target's SHOW CREATE output). Temp names are scoped by batch id
    AND task attempt, so stage-phase retries never double-count; the
    remaining window is a crash between promote and the checkpoint commit,
    which replays that one batch (the usual foreachBatch bound — true
    exactly-once needs a dedup key downstream, e.g. ReplacingMergeTree).
    """
    from ..clickhouse.staging import staged_load, temp_table_prefix
    from ..clickhouse.writer import write_direct

    if staged and create_ddl is None:
        raise ValueError("staged=True requires create_ddl")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if staged:
            staged_load(batch_df, key_col, cluster, config,
                        create_ddl=create_ddl, target_database=database,
                        target_table=table,
                        prefix=temp_table_prefix(table, f"b{batch_id}"),
                        replicated=replicated)
        else:
            write_direct(batch_df, key_col, cluster, config,
                         database=database, table=table, replicated=replicated)

    writer = stream.writeStream.foreachBatch(write_batch)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
