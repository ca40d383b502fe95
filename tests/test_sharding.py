"""P1 weighted shard routing tests (AbstractClickhouseLoaderMapper.java:
256-299) — UDF parity with the pure-python Guava-golden hash, weighted
cumulative walk, and partition co-location."""

from __future__ import annotations

from clickhouse_hdfs_loader_spark.functions.murmur import guava_shard_code
from clickhouse_hdfs_loader_spark.operators.sharding import (
    ClusterTopology,
    ShardNode,
    assign_shard,
    repartition_by_shard,
)


def topo(weights):
    return ClusterTopology([ShardNode(i + 1, w, (f"h{i}a", f"h{i}b"))
                            for i, w in enumerate(weights)])


def test_weight_walk():
    t = topo([2, 1, 1])
    assert t.total_weight == 4
    assert [t.shard_for_slot(s).shard_num for s in range(4)] == [1, 1, 2, 3]
    assert t.slot_to_shard_index() == [0, 0, 1, 2]


def test_assign_shard_matches_reference_hash(spark):
    t = topo([2, 1, 1])
    keys = [f"key-{i}" for i in range(50)] + ["20170107", "弹幕"]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    got = {r["k"]: r["shard"] for r in assign_shard(df, "k", t).collect()}
    table = t.slot_to_shard_index()
    for k in keys:
        assert got[k] == table[guava_shard_code(k) % 4], k
    # the loader's in-task routing places every key the same way
    assert t.route(keys).tolist() == [got[k] for k in keys]


def test_blank_key_random_route(spark):
    # missing sharding key → UUID-random route (reference :278-280)
    t = topo([1, 1, 1])
    df = spark.createDataFrame([("",)] * 200, ["k"])
    shards = {r["shard"] for r in assign_shard(df, "k", t).collect()}
    assert shards.issubset({0, 1, 2}) and len(shards) >= 2
    routed = set(t.route([""] * 100 + [None] * 100).tolist())
    assert routed.issubset({0, 1, 2}) and len(routed) >= 2


def test_repartition_colocates_shards(spark):
    t = topo([1, 1])
    df = spark.createDataFrame([(f"k{i}",) for i in range(300)], ["k"])
    parts = repartition_by_shard(df, "k", t, tasks_per_shard=2).rdd \
        .mapPartitions(lambda it: [set(r["shard"] for r in it)]).collect()
    # each shard's rows appear in at most tasks_per_shard partitions
    from collections import Counter
    locations = Counter()
    for p in parts:
        for s in p:
            locations[s] += 1
    assert all(v <= 2 for v in locations.values())


def test_fetch_topology_desc_order_placement_parity():
    """Multi-shard placement parity: the reference reads system.clusters
    ORDER BY shard_num DESC (ClickhouseClient.java:124) and walks the
    returned list in order, so the highest shard_num owns the first weight
    slots. Pins the issued SQL, node order, and slot→host placement."""
    from clickhouse_hdfs_loader_spark.clickhouse.client import ClickHouseClient
    from clickhouse_hdfs_loader_spark.sources.catalog import fetch_topology

    from .mock_clickhouse import MockClickHouse

    m = MockClickHouse()
    try:
        m.canned["system.clusters"] = (
            "3\t1\t['h3']\n"
            "2\t1\t['h2']\n"
            "1\t2\t['h1a','h1b']\n")
        t = fetch_topology(ClickHouseClient(m.host, m.port), "ck")
        assert any("ORDER BY shard_num DESC" in s for s in m.statements)
        assert [n.shard_num for n in t.nodes] == [3, 2, 1]
        assert t.total_weight == 4
        assert [t.shard_for_slot(s).shard_num for s in range(4)] == [3, 2, 1, 1]
        assert t.shard_for_slot(0).hosts == ("h3",)
        assert t.shard_for_slot(3).hosts == ("h1a", "h1b")
        # physical placement of a golden-pinned key must follow DESC order
        slot = guava_shard_code("20170107") % t.total_weight
        table = t.slot_to_shard_index()
        assert t.nodes[table[slot]].shard_num == \
            [3, 2, 1, 1][slot]
    finally:
        m.stop()
