"""Weighted murmur3 shard routing (reference operator P1, SURVEY §2.A).

The reference picks a ClickHouse shard per row with
``murmur3_128(key).asInt() & Integer.MAX_VALUE % total_weight`` followed by
a cumulative-weight walk over ``system.clusters`` topology
(AbstractClickhouseLoaderMapper.java:270-299, :256-264 weight walk;
ClusterNodes.java:38-48). Rows with a blank sharding key are routed by a
random UUID (same site, :278-280).

Spark design: the loader routes inside its write tasks, as the
reference's mapper does — ``ClusterTopology.route`` maps a batch of keys
to node indexes with the numpy murmur (functions/murmur_np), no shuffle.
``assign_shard`` exposes the same placement as a column through an
Arrow-batched pandas UDF for queries (Spark's ``F.hash`` is murmur3_32 and
cannot reproduce Guava's placement — SURVEY §7 "hash parity").
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from ..functions.murmur_np import shard_slots


@dataclass
class ShardNode:
    """One ``system.clusters`` shard: weight + replica hosts
    (ClickhouseClient.java:121-132 pulls cluster, shard_num, shard_weight,
    groupArray(host_address))."""
    shard_num: int
    shard_weight: int = 1
    hosts: tuple[str, ...] = ()


@dataclass
class ClusterTopology:
    nodes: list[ShardNode] = field(default_factory=list)

    @property
    def total_weight(self) -> int:
        return sum(n.shard_weight for n in self.nodes)

    def shard_for_slot(self, slot: int) -> ShardNode:
        """Cumulative-weight walk (AbstractClickhouseLoaderMapper.java:256-264)."""
        cursor = 0
        for n in self.nodes:
            cursor += n.shard_weight
            if slot < cursor:
                return n
        raise IndexError(f"no shard for slot {slot}")

    def slot_to_shard_index(self) -> list[int]:
        """Dense lookup table slot→node index, broadcast-friendly."""
        table: list[int] = []
        for i, n in enumerate(self.nodes):
            table.extend([i] * n.shard_weight)
        return table

    def route(self, keys: "list[str | None]") -> np.ndarray:
        """Node index in ``nodes`` for each key (Guava-parity placement)."""
        slots = shard_slots(keys, self.total_weight)
        return np.asarray(self.slot_to_shard_index())[slots]


def shard_slot_udf(total_weight: int) -> "F.pandas_udf":
    """Vectorized ``key → murmur-code % total_weight``; null/blank keys get a
    per-row random route exactly like the reference's UUID fallback."""
    @F.pandas_udf(IntegerType())
    def _slot(keys: pd.Series) -> pd.Series:
        # the column is cast to string upstream, so tolist() already
        # yields str/None — no per-row str() pass
        return pd.Series(shard_slots(keys.tolist(), total_weight).astype("int32"))

    return _slot


def assign_shard(df: DataFrame, key_col: str, topology: ClusterTopology,
                 out_col: str = "shard", parity: bool = True) -> DataFrame:
    """Adds ``out_col`` = node index in ``topology.nodes`` for each row.

    ``parity=True`` (default) reproduces the reference's Guava murmur3_128
    placement exactly (pandas UDF). ``parity=False`` routes with the
    JVM-native ``xxhash64`` — same weighted distribution, different
    placement — for loads where cross-engine placement parity doesn't
    matter and routing must stay off the Python path entirely (~10× the
    routing throughput at 100 TB).
    """
    slot_table = topology.slot_to_shard_index()
    if parity:
        slot = shard_slot_udf(topology.total_weight)(F.col(key_col).cast("string"))
    else:
        slot = (F.xxhash64(F.col(key_col).cast("string"))
                .bitwiseAND(F.lit(0x7FFFFFFFFFFFFFFF))
                % topology.total_weight).cast("int")
    mapping = F.array(*[F.lit(i) for i in slot_table])
    return df.withColumn(out_col, F.element_at(mapping, slot + 1))


# unused by the loader (it routes in its write tasks); perfbench/trace.py imports it
def repartition_by_shard(df: DataFrame, key_col: str, topology: ClusterTopology,
                         tasks_per_shard: int = 1) -> DataFrame:
    """``assign_shard`` then hash-partition on (shard, crc32 salt): each
    shard's rows land in at most ``tasks_per_shard`` partitions."""
    df = assign_shard(df, key_col, topology)
    n = max(1, len(topology.nodes) * tasks_per_shard)
    salt = (F.crc32(F.col(key_col).cast("string")) % tasks_per_shard).cast("int") \
        if tasks_per_shard > 1 else F.lit(0)
    return df.repartition(n, F.col("shard") * tasks_per_shard + salt)
