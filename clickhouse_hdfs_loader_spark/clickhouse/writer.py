"""Distributed ClickHouse writer: batching, shard routing, replica fan-out.

This module owns the batch policy of BOTH load modes: the projection the
write tasks read (``serialize_for_load``: the sharding key, then every
target column cast to string in the JVM) and the one vectorized step that
turns its Arrow batches into per-shard INSERT payloads
(``shard_payloads``: T5 sanitize and T10 join on Arrow, route, gather each
shard's rows, flush at ``--batch-size`` or ``FLUSH_CAP``). The direct mode
below and the staged mode (staging.py) differ only in where a batch goes
and how a failure counts — the reference's single mapper choosing
``batchDirectInsert`` or a staged insert at flush time
(AbstractClickhouseLoaderMapper.java:288-452). Hosts, login, alive probe
and retries come from the cluster handle (``lifecycle.LifecycleManager``)
the caller passes in.

Reference parity (SURVEY §2.A T5/T10/W1/W2/W6 + P1):
- T5/T10 wire line — string fields sanitized (separator, newline and CR →
  ``--replace-char``, ``\\`` → ``/``), nulls → ``\\N``, fields joined by
  the format's separator (AbstractClickhouseLoaderMapper.java:164-205);
  ``transform.wire_line_col`` is the same line built in the JVM, kept as
  the reference the parity test compares against.
- W1 buffered batch INSERT — rows buffered per shard under an
  ``INSERT INTO … FORMAT …`` header, flushed at ``--batch-size`` or the
  1 048 576-row ClickHouse atomic-insert cap
  (AbstractClickhouseLoaderMapper.java:288-298, HostRecordsCache.java:6-17).
- W2 direct insert w/ replica fan-out — Replicated engine → insert into
  ONE alive replica (HTTP-200 probe); non-replicated → insert into EVERY
  replica of the shard (AbstractClickhouseLoaderMapper.java:309-359).
- W6 load accounting — Success/Failed records counted per task; job fails
  if any failed (:135-138; ClickhouseHdfsLoader.java:203-207).

Spark shape: one ``mapInArrow`` over the projection, so the scan tasks
themselves serialize, route (``ClusterTopology.route``), batch and write —
the reference's map-only job with 0 reducers. No per-row Python runs in a
write task: each Arrow batch is sanitized, joined, routed and gathered by
``pyarrow.compute`` and numpy, the murmur router hashing the key column's
Arrow buffers. Each task keeps per-shard buffers, the exact HostRecordsCache
design, with connections from the per-process client cache; write
parallelism is the input split count. Each task yields its ``(ok, failed)``
counts as one row.

Speculative execution must stay off (session.py: spark.speculation=false,
mirroring ClickhouseHdfsLoader.java:194-197) or retried tasks double-insert
in direct mode; the staged mode (staging.py) is the exactly-once-ish path.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import LoaderConfig
from ..operators.transform import format_header_lines, wire_separator
from .lifecycle import LifecycleManager

FLUSH_CAP = 1_048_576  # ClickHouse atomic-insert bound (reference :294-295)


def insert_header(database: str, table: str, fmt: str) -> str:
    """``INSERT INTO db.table FORMAT TabSeparated`` — the sqlHeader of
    AbstractClickhouseLoaderMapper.java:548-553."""
    return f"INSERT INTO {database}.{table} FORMAT {fmt}"


@dataclass(frozen=True)
class WireFormat:
    """How a write task turns the Arrow batches of ``serialize_for_load``'s
    projection into wire lines and payloads."""

    sep: str
    replace_char: str
    sanitized: tuple[bool, ...]  # per target column: string-typed, so T5 applies
    prefix: bytes = b""          # header rows, each ending in a newline

    def lines(self, batch: pa.RecordBatch) -> pa.Array:
        """One wire line per row of ``batch`` (key column first, then the
        target columns as strings): on string fields ``\\`` → ``/`` and
        the separator, ``\\n`` and ``\\r`` → ``replace_char``, all at once,
        so a replace string of any length stands for each of them whole;
        nulls → ``\\N``; fields joined by the separator."""
        rc = self.replace_char.encode("utf-8")
        if len(rc) == 1:   # every map is one byte to one byte
            table = bytes.maketrans(b"\\" + self.sep.encode() + b"\n\r",
                                    b"/" + rc * 3)
            breaks = None
        else:              # lengths change: a one-pass regex does the rest
            table = bytes.maketrans(b"\\", b"/")
            breaks = f"[{self.sep}\n\r]"   # sep is "\t" or ",": literal here
        fields = []
        for values, sanitize in zip(batch.columns[1:], self.sanitized):
            if sanitize:
                values = _translated(values, table)
                if breaks:
                    values = pc.replace_substring_regex(
                        values, breaks, self.replace_char.replace("\\", "\\\\"))
            fields.append(pc.fill_null(values, "\\N"))
        return pc.binary_join_element_wise(
            *fields, pa.scalar(self.sep, fields[0].type))

    def payload(self, chunks: list[pa.Array]) -> bytes:
        """``prefix``, then the lines of ``chunks`` joined by newlines, with
        no trailing newline."""
        return self.prefix + b"\n".join(_joined(c) for c in chunks)


def _translated(values: pa.Array, table: bytes) -> pa.Array:
    """``values`` with every UTF-8 byte mapped through ``table``; the maps
    are ASCII to ASCII, which never meet a byte of a multi-byte character,
    so offsets and nulls stay as they are."""
    validity, offsets, data = values.buffers()
    if data is None:
        return values
    data = pa.py_buffer(data.to_pybytes().translate(table))
    return pa.Array.from_buffers(values.type, len(values),
                                 [validity, offsets, data],
                                 values.null_count, values.offset)


def _joined(lines: pa.Array) -> pa.Buffer:
    """The UTF-8 bytes of ``lines`` joined by newlines."""
    one = pa.ListArray.from_arrays([0, len(lines)], lines)
    return pc.binary_join(one, pa.scalar("\n", lines.type))[0].as_buffer()


def serialize_for_load(df: DataFrame, key_col: str | None,
                       config: LoaderConfig) -> tuple[DataFrame, WireFormat]:
    """The write tasks' projection and its wire format. The projection is
    the sharding key as a string, then every column of ``df`` cast to
    string in the JVM — Spark's cast formatting, nulls kept null; the
    sanitize and join run on its Arrow batches (``WireFormat.lines``). The
    wire prefix is the names (and types) rows every batch of a
    WithNames[AndTypes] format leads with, empty for bare formats.
    ``key_col=None`` projects a null key, which ``ClusterTopology.route``
    routes by a random UUID (P1)."""
    fmt = config.clickhouse_format
    header_rows = format_header_lines(fmt, df, df.columns)
    wire = WireFormat(
        wire_separator(fmt), config.replace_char,
        tuple(f.dataType.typeName() == "string" for f in df.schema.fields),
        "".join(l + "\n" for l in header_rows).encode("utf-8"))
    key = F.lit(None) if key_col is None else F.col(key_col)
    fields = [F.col(c).cast("string").alias(f"c{i}")
              for i, c in enumerate(df.columns)]
    return df.select(key.cast("string").alias("key"), *fields), wire


def shard_payloads(batches: Iterable[pa.RecordBatch], wire: WireFormat,
                   route: Callable[[pa.Array], np.ndarray],
                   batch_size: int) -> Iterator[tuple[int, int, bytes]]:
    """Per-shard buffers over a write task's Arrow batches
    (HostRecordsCache.java:6-17): yield ``(shard, n_rows, payload)``
    whenever a shard's buffer reaches ``min(batch_size, FLUSH_CAP)`` rows,
    in the order of the row where each shard filled, then the partial
    buffers in the order their shards first appeared. ``route`` maps the
    batch's key column to shard indexes; rows keep their order within a shard;
    each payload is ``wire.payload`` of its lines."""
    cap = max(1, min(batch_size, FLUSH_CAP))
    pending: dict[int, list[pa.Array]] = {}   # shard → unflushed line chunks
    for batch in batches:
        lines = wire.lines(batch)
        shards = route(batch.column(0))
        present, first = np.unique(shards, return_index=True)
        full = []   # (row at which the shard filled, shard, its line chunks)
        for shard in present[np.argsort(first)].tolist():
            rows = np.flatnonzero(shards == shard)
            chunks = pending.setdefault(shard, [])
            start = 0
            for end in range(cap - sum(map(len, chunks)), len(rows) + 1, cap):
                full.append((rows[end - 1], shard,
                             chunks + [lines.take(rows[start:end])]))
                chunks, start = [], end
            if start < len(rows):
                chunks.append(lines.take(rows[start:]))
            pending[shard] = chunks
        for _row, shard, chunks in sorted(full, key=lambda f: f[0]):
            yield shard, cap, wire.payload(chunks)
    for shard, chunks in pending.items():
        if chunks:
            yield shard, sum(map(len, chunks)), wire.payload(chunks)


def write_direct(df: DataFrame, key_col: str | None, cluster: LifecycleManager,
                 config: LoaderConfig, *, database: str, table: str,
                 replicated: bool = False) -> dict:
    """Direct-mode load (``--direct true``): serialize → route → buffered
    batch inserts to the shard's local table on the ``cluster`` handle's
    hosts. Returns accounting counters (W6)."""
    head = (insert_header(database, table, config.clickhouse_format)
            + "\n").encode("utf-8")
    serialized, wire = serialize_for_load(df, key_col, config)

    def write_task(batches):
        ok = failed = 0
        for shard, n, payload in shard_payloads(
                batches, wire, cluster.topology.route, config.batch_size):
            # W2 fan-out: Replicated → one alive replica, probed per
            # batch; non-replicated → every replica of the shard
            hosts = cluster.topology.nodes[shard].hosts
            targets = [cluster.first_alive(hosts)] if replicated else hosts
            body = head + payload
            try:
                for h in targets:
                    cluster.run(h, body, tier="direct")
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
