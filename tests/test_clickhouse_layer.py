"""Distribution-layer tests against the mock ClickHouse HTTP endpoint:
W1 batching, W2 direct insert + fan-out, W3/W4 staged load + promote,
W5 retries, D1 GC, D2/D3 lifecycle, D6 resolution."""

from __future__ import annotations

import logging

import pytest

from clickhouse_hdfs_loader_spark.clickhouse import client as client_mod
from clickhouse_hdfs_loader_spark.clickhouse import staging, writer
from clickhouse_hdfs_loader_spark.clickhouse.client import (
    ClickHouseError,
    get_client,
    with_retries,
)
from clickhouse_hdfs_loader_spark.clickhouse.lifecycle import (
    LifecycleManager,
    daily_table_name,
    resolve_distributed,
)
from clickhouse_hdfs_loader_spark.clickhouse.staging import (
    rewrite_ddl_to_striplog,
    temp_table_name,
    temp_table_prefix,
)
from clickhouse_hdfs_loader_spark.clickhouse.writer import (
    insert_header,
    shard_batches,
    write_direct,
)
from clickhouse_hdfs_loader_spark.config import LoaderConfig
from clickhouse_hdfs_loader_spark.operators.sharding import (
    ClusterTopology,
    ShardNode,
)
from clickhouse_hdfs_loader_spark.sources.catalog import sharding_key_index_or_none

from .mock_clickhouse import MockClickHouse


@pytest.fixture()
def mocks():
    servers = [MockClickHouse() for _ in range(3)]
    yield servers
    for s in servers:
        s.stop()


def cluster_of(topo: ClusterTopology, cfg: LoaderConfig) -> LifecycleManager:
    """The load's cluster handle over ``topo``, at test-speed backoff."""
    return LifecycleManager.from_config(topo, cfg, backoff_scale=0.001)


def topo_of(servers, weights=None) -> ClusterTopology:
    weights = weights or [1] * len(servers)
    return ClusterTopology([
        ShardNode(i + 1, w, (f"{s.host}:{s.port}",))
        for i, (s, w) in enumerate(zip(servers, weights))])


def test_client_roundtrip_and_ping(mocks):
    m = mocks[0]
    m.canned["SELECT 1"] = "1\n"
    cli = get_client(f"{m.host}:{m.port}")
    assert cli.ping()
    assert cli.query_rows("SELECT 1") == [["1"]]


def test_retry_ladder_recovers(mocks, caplog):
    m = mocks[0]
    m.fail_first = 2
    cli = get_client(f"{m.host}:{m.port}")
    with caplog.at_level(logging.WARNING, logger=client_mod.__name__):
        with_retries(lambda: cli.execute("SELECT 'x'"), tier="ddl",
                     max_tries=3, backoff_scale=0.001)
    assert len(m.statements) == 3  # two failures + success
    # one WARNING per failed attempt: tier, attempt/max, sleep, host:port
    msgs = [r.getMessage() for r in caplog.records
            if r.levelno == logging.WARNING]
    assert len(msgs) == 2
    for n, msg in enumerate(msgs, start=1):
        assert msg.startswith(f"ddl tier: attempt {n}/3 failed")
        assert f"sleeping {n * 0.001:.3f}s" in msg
        assert f"{m.host}:{m.port} HTTP 500" in msg


def test_retry_ladder_exhausts(mocks):
    m = mocks[0]
    m.fail_first = 99
    cli = get_client(f"{m.host}:{m.port}")
    with pytest.raises(ClickHouseError):
        with_retries(lambda: cli.execute("SELECT 'x'"), tier="ddl",
                     max_tries=3, backoff_scale=0.001)


@pytest.mark.slow
def test_write_direct_batches_and_routes(spark, mocks):
    """W1/W2: every row lands on exactly one shard (non-replicated,
    single-replica shards), payload under an INSERT header, flush at
    batch_size."""
    cfg = LoaderConfig(batch_size=40, clickhouse_format="TabSeparated")
    topo = topo_of(mocks)
    df = spark.createDataFrame([(f"k{i}", i) for i in range(200)], ["k", "v"])
    stats = write_direct(df, "k", cluster_of(topo, cfg), cfg, database="db",
                         table="t", replicated=False)
    assert stats == {"success_records": 200, "failed_records": 0}
    total = 0
    for m in mocks:
        for ins in m.inserts():
            header, _, payload = ins.partition("\n")
            assert header == insert_header("db", "t", "TabSeparated")
            rows = payload.splitlines()
            assert 0 < len(rows) <= 40
            total += len(rows)
    assert total == 200


@pytest.mark.slow
def test_write_direct_routing_matches_reference_hash(spark, mocks):
    """Rows land on the shard the Guava murmur3 walk picks."""
    from clickhouse_hdfs_loader_spark.functions.murmur import guava_shard_code
    cfg = LoaderConfig(batch_size=1000)
    topo = topo_of(mocks, weights=[2, 1, 1][:len(mocks)])
    keys = [f"key-{i}" for i in range(60)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"])
    write_direct(df, "k", cluster_of(topo, cfg), cfg, database="db",
                 table="t")
    table = topo.slot_to_shard_index()
    expected_by_shard = {i: set() for i in range(len(mocks))}
    for k in keys:
        expected_by_shard[table[guava_shard_code(k) % topo.total_weight]].add(k)
    for i, m in enumerate(mocks):
        got = set()
        for ins in m.inserts():
            got.update(line.split("\t")[0] for line in ins.splitlines()[1:])
        assert got == expected_by_shard[i], f"shard {i}"


def test_staged_load_two_phase(spark, mocks):
    """W3: temp StripeLog tables created + loaded on executors; promote
    runs INSERT…SELECT then DROP on the driver; D1 GC always runs."""
    cfg = LoaderConfig(batch_size=50)
    topo = topo_of(mocks)
    ddl = "CREATE TABLE db.t (k String, v Int32) ENGINE = MergeTree ORDER BY k"
    df = spark.createDataFrame([(f"k{i}", i) for i in range(120)], ["k", "v"])
    plan = staging.staged_load(df, "k", cluster_of(topo, cfg), cfg,
                               create_ddl=ddl,
                               target_database="db", target_table="t",
                               prefix=temp_table_prefix("t", "2017-01-07"))
    assert plan.temp_tables  # something was staged
    all_stmts = [s for m in mocks for s in m.statements]
    creates = [s for s in all_stmts if s.startswith("CREATE TABLE temp.")]
    assert creates and all("ENGINE = StripeLog" in s for s in creates)
    promotes = [s for s in all_stmts
                if s.startswith("INSERT INTO db.t SELECT * FROM temp.")]
    assert len(promotes) == len(plan.temp_tables)
    drops = [s for s in all_stmts if s.startswith("DROP TABLE IF EXISTS temp.")]
    assert len(drops) >= len(plan.temp_tables)
    # every staged row is covered by exactly one promoted temp table
    staged_rows = sum(len(s.splitlines()) - 1 for s in all_stmts
                      if s.startswith("INSERT INTO temp."))
    assert staged_rows == 120


def test_staged_replica_replay(spark, mocks):
    """W4: non-replicated shard with 2 replicas — promote replays via
    remote() on the sibling."""
    a, b = mocks[0], mocks[1]
    topo = ClusterTopology([
        ShardNode(1, 1, (f"{a.host}:{a.port}", f"{b.host}:{b.port}"))])
    cfg = LoaderConfig(batch_size=50)
    ddl = "CREATE TABLE db.t (k String) ENGINE = MergeTree ORDER BY k"
    df = spark.createDataFrame([(f"k{i}",) for i in range(10)], ["k"])
    plan = staging.staged_load(df, "k", cluster_of(topo, cfg), cfg,
                               create_ddl=ddl, target_database="db",
                               target_table="t",
                               prefix=temp_table_prefix("t", "00000000"),
                               replicated=False)
    replays = [s for s in b.statements if "FROM remote(" in s]
    assert len(replays) == len(
        [s for s in a.statements if s.startswith("INSERT INTO db.t SELECT")])
    # temp tables live on the staging host only: a drops each one, the
    # sibling that replayed through remote() is sent no DROP
    assert plan.temp_tables
    for _host, temp in plan.temp_tables:
        assert f"DROP TABLE IF EXISTS {temp}" in a.statements
    assert not [s for s in b.statements
                if s.startswith("DROP TABLE IF EXISTS temp.")]


def test_staged_load_creates_temp_database_once_per_host(spark, mocks):
    """The driver creates the temp database once per host before the
    Spark action; the write tasks (six, each writing every shard) send
    only their own temp-table DDL."""
    cfg = LoaderConfig(batch_size=50)
    topo = topo_of(mocks)
    ddl = "CREATE TABLE db.t (k String, v Int32) ENGINE = MergeTree ORDER BY k"
    df = spark.createDataFrame([(f"k{i}", i) for i in range(300)],
                               ["k", "v"]).repartition(6)
    plan = staging.staged_load(df, "k", cluster_of(topo, cfg), cfg,
                               create_ddl=ddl, target_database="db",
                               target_table="t",
                               prefix=temp_table_prefix("t", "2017-01-07"))
    assert len(plan.temp_tables) > len(mocks)   # several tasks per shard
    for m in mocks:
        creates = [s for s in m.statements if s.startswith("CREATE DATABASE")]
        assert creates == ["CREATE DATABASE IF NOT EXISTS temp"]
        # the database exists before the first temp table is created
        assert m.statements.index(creates[0]) < min(
            i for i, s in enumerate(m.statements)
            if s.startswith("CREATE TABLE temp."))


def jobs_and_stages(spark, group: str, action) -> tuple[int, int]:
    """Spark jobs and stages that ``action()`` runs, counted through the
    status tracker under a job group of its own."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()   # tracker is listener-fed
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    return len(jobs), len({s for j in jobs for s in tracker.getJobInfo(j).stageIds})


def test_both_modes_write_in_one_stage(spark, mocks):
    """The scan tasks route, batch and write: each mode is one Spark job
    of one stage — no routing stage and no shard shuffle."""
    cfg = LoaderConfig(batch_size=50)
    cluster = cluster_of(topo_of(mocks), cfg)
    df = spark.createDataFrame([(f"k{i}", i) for i in range(120)], ["k", "v"])
    ddl = "CREATE TABLE db.t (k String, v Int32) ENGINE = MergeTree ORDER BY k"
    assert jobs_and_stages(spark, "plan-shape-direct", lambda: write_direct(
        df, "k", cluster, cfg, database="db", table="t")) == (1, 1)
    assert jobs_and_stages(spark, "plan-shape-staged", lambda: (
        staging.stage_partitions(df, "k", cluster, cfg, create_ddl=ddl,
                                 target_database="db", target_table="t",
                                 prefix=temp_table_prefix("t", "2017-01-07")))
    ) == (1, 1)


def test_ddl_rewrite_to_striplog():
    ddl = ("CREATE TABLE test_local.t1 (a String, b Int32) "
           "ENGINE = ReplicatedMergeTree('/ch/t1', 'r1') "
           "PARTITION BY b ORDER BY a")
    out = rewrite_ddl_to_striplog(ddl, "temp", "t1_x_p000001_0")
    assert out.startswith("CREATE TABLE temp.t1_x_p000001_0 ")
    assert out.endswith("ENGINE = StripeLog")
    assert "Replicated" not in out


def test_temp_table_name_shape():
    assert temp_table_name("t_20170107_123_", 7, 0) == "t_20170107_123_p000007_0"


def test_resolve_distributed_and_key_index():
    ddl = ("CREATE TABLE test.t1 (plat Int8, h_did String) "
           "ENGINE = Distributed(ck_cluster, test_local, t1, cityHash64(h_did))")
    t = resolve_distributed(ddl)
    assert (t.cluster, t.local_database, t.local_table) == \
        ("ck_cluster", "test_local", "t1")
    assert t.sharding_key == "h_did"
    rows = [["plat", "Int8"], ["h_did", "String"]]
    assert sharding_key_index_or_none(rows, "h_did") == 1
    assert sharding_key_index_or_none(rows, "missing") is None
    assert resolve_distributed("CREATE TABLE x (a Int8) ENGINE = MergeTree") is None


def test_lifecycle_daily_create_and_expire(mocks):
    m = mocks[0]
    topo = topo_of([m])
    lm = LifecycleManager(topo, backoff_scale=0.001)
    ddl = "CREATE TABLE db.t (a String) ENGINE = MergeTree ORDER BY a"
    daily = lm.create_daily_tables(ddl, "db", "t", "2017-01-07", mode="drop")
    assert daily == daily_table_name("t", "2017-01-07") == "t_20170107"
    assert any(s.startswith("DROP TABLE IF EXISTS db.t_20170107")
               for s in m.statements)
    assert any("CREATE TABLE IF NOT EXISTS db.t_20170107" in s
               for s in m.statements)

    # expiry: the mock reports two old dailies; merge → INSERT+DROP each
    m.canned["system.tables"] = "t_20170101\nt_20170102\n"
    expired = lm.expire_daily_tables("db", "t", "2017-01-07", expires=3,
                                     process="merge")
    assert expired == ["t_20170101", "t_20170102"]
    assert any(s == "INSERT INTO db.t SELECT * FROM db.t_20170101"
               for s in m.statements)
    assert any(s == "DROP TABLE IF EXISTS db.t_20170102" for s in m.statements)


def test_lifecycle_partition_drop_gate_and_fanout(mocks):
    topo = ClusterTopology([ShardNode(1, 1, (f"{mocks[0].host}:{mocks[0].port}",
                                             f"{mocks[1].host}:{mocks[1].port}"))])
    lm = LifecycleManager(topo, backoff_scale=0.001)
    with pytest.raises(ValueError):
        lm.drop_partition("db", "t", "'2017-01-07'", engine="StripeLog",
                          replicated=False)
    lm.drop_partition("db", "t", "'2017-01-07'", engine="MergeTree",
                      replicated=False)
    for m in mocks[:2]:  # every replica when non-replicated
        assert any("DROP PARTITION '2017-01-07'" in s for s in m.statements)
    before = len(mocks[1].statements)
    lm.drop_partition("db", "t", "'2017-01-08'", engine="ReplicatedMergeTree",
                      replicated=True)
    assert any("DROP PARTITION '2017-01-08'" in s for s in mocks[0].statements)
    assert len(mocks[1].statements) == before  # one replica suffices


def test_list_partitions_inventory_failover_and_loud_gap(mocks):
    """D4 round-out: per-shard partition inventory before the drop
    (clickhouse_alter_table:100-116 cluster walk + eval_alter shard
    loop). One replica per shard suffices; a dead first replica fails
    over; a fully-dead shard raises instead of returning a partial
    inventory."""
    import pytest as PT

    # two shards, distinct partition sets, unsorted on the wire
    mocks[0].canned["system.parts"] = "202001\n201912\n"
    mocks[1].canned["system.parts"] = "202002\n"
    topo = ClusterTopology([
        ShardNode(1, 1, (f"{mocks[0].host}:{mocks[0].port}",)),
        ShardNode(2, 1, (f"{mocks[1].host}:{mocks[1].port}",))])
    lm = LifecycleManager(topo, backoff_scale=0.001)
    assert lm.list_partitions("db", "t") == {
        1: ["201912", "202001"], 2: ["202002"]}
    assert any("system.parts" in s and "database = 'db'" in s
               and "active" in s for s in mocks[0].statements)

    # replica failover: first replica dead for this query, second answers
    mocks[2].canned["system.parts"] = "202003\n"
    dead_then_alive = ClusterTopology([
        ShardNode(1, 1, (f"{mocks[0].host}:{mocks[0].port}",
                         f"{mocks[2].host}:{mocks[2].port}"))])
    mocks[0].fail_substring = "system.parts"
    mocks[0].fail_first = 99
    lm2 = LifecycleManager(dead_then_alive, max_tries=2,
                           backoff_scale=0.001)
    assert lm2.list_partitions("db", "t") == {1: ["202003"]}

    # every replica dead -> loud error, never a silent partial inventory
    all_dead = ClusterTopology([
        ShardNode(7, 1, (f"{mocks[0].host}:{mocks[0].port}",))])
    with PT.raises(RuntimeError, match="shard 7"):
        LifecycleManager(all_dead, max_tries=2,
                         backoff_scale=0.001).list_partitions("db", "t")


def test_clean_temp_tables(mocks):
    m = mocks[0]
    m.canned["system.tables"] = "temp.t_x_p000001_0\ntemp.t_x_p000002_0\n"
    lm = LifecycleManager(topo_of([m]), backoff_scale=0.001)
    lm.clean_temp_tables("t_x_")
    drops = [s for s in m.statements if s.startswith("DROP TABLE IF EXISTS temp.")]
    assert len(drops) == 2


def test_drop_partition_cli_tool(mocks):
    """D4 CLI: resolve Distributed → gate engine → fan out ALTER."""
    from clickhouse_hdfs_loader_spark.tools import drop_partition
    entry = mocks[0]
    entry.canned["SHOW CREATE TABLE db.t1"] = (
        "CREATE TABLE db.t1 (a Int8) ENGINE = Distributed(ck, db_local, t1, rand())")
    entry.canned["SHOW CREATE TABLE db_local.t1"] = (
        "CREATE TABLE db_local.t1 (a Int8) ENGINE = MergeTree ORDER BY a")
    entry.canned["system.clusters"] = (
        f"2\t1\t['{mocks[1].host}:{mocks[1].port}']\n"
        f"1\t1\t['{mocks[0].host}:{mocks[0].port}']\n")
    drop_partition(f"jdbc:clickhouse://{entry.host}:{entry.port}/db",
                   "t1", "'2017-01-07'", backoff_scale=0.001)
    for m in mocks[:2]:
        assert any("ALTER TABLE db_local.t1 DROP PARTITION '2017-01-07'" in s
                   for s in m.statements)


def test_drop_partition_cli_tool_port_and_login(mocks):
    """D4 CLI with bare ``system.clusters`` addresses: the ALTER reaches
    the shard on ``--clickhouse-http-port``, and every call logs in with
    ``--username``; the connect URL's port serves only the catalog."""
    from clickhouse_hdfs_loader_spark.tools import main as tools_main
    entry, shard = mocks[0], mocks[1]
    entry.canned["SHOW CREATE TABLE db.t1"] = (
        "CREATE TABLE db.t1 (a Int8) ENGINE = Distributed(ck, db_local, t1, rand())")
    entry.canned["SHOW CREATE TABLE db_local.t1"] = (
        "CREATE TABLE db_local.t1 (a Int8) ENGINE = MergeTree ORDER BY a")
    entry.canned["system.clusters"] = f"1\t1\t['{shard.host}']\n"
    assert tools_main([
        "drop-partition", "--connect",
        f"jdbc:clickhouse://{entry.host}:{entry.port}/db", "--table", "t1",
        "--partition", "'2017-01-07'",
        "--clickhouse-http-port", str(shard.port),
        "--username", "ops", "--password", "s3cret"]) == 0
    assert shard.statements == [
        "ALTER TABLE db_local.t1 DROP PARTITION '2017-01-07'"]
    assert not [s for s in entry.statements if s.startswith("ALTER")]
    for m in (entry, shard):
        assert m.auth_users and all(u == "ops" for u in m.auth_users)


def test_staged_cleanup_on_promote_failure(spark, mocks):
    """Abort path (CleanupTempTableOutputCommitter parity): when promote
    fails permanently, the staged temp tables are still dropped."""
    import pytest as _pytest

    from clickhouse_hdfs_loader_spark.clickhouse.client import ClickHouseError
    cfg = LoaderConfig(batch_size=50, max_tries=2)
    topo = topo_of(mocks[:1])
    ddl = "CREATE TABLE db.t (k String) ENGINE = MergeTree ORDER BY k"
    df = spark.createDataFrame([(f"k{i}",) for i in range(10)], ["k"])
    plan = staging.stage_partitions(df, "k", cluster_of(topo, cfg), cfg,
                                    create_ddl=ddl,
                                    target_database="db", target_table="t",
                                    prefix=temp_table_prefix("t", "2017-01-07"))
    assert plan.temp_tables
    m = mocks[0]
    m.fail_first = 99  # every subsequent statement fails...
    with _pytest.raises(ClickHouseError):
        staging.promote(plan, cluster_of(topo, cfg))
    # ...yet the cleanup DROPs were attempted for every staged table
    drops = [s for s in m.statements if s.startswith("DROP TABLE IF EXISTS temp.")]
    assert len(drops) >= len(plan.temp_tables)


def test_write_direct_sanitizes_wire_fields(spark, mocks):
    """T5 at the wire (AbstractClickhouseLoaderMapper.java:201): embedded
    tab/newline/backslash in a string value must not shift the row width
    or split the row on the TabSeparated payload."""
    cfg = LoaderConfig(batch_size=10, clickhouse_format="TabSeparated")
    topo = topo_of(mocks[:1])
    df = spark.createDataFrame(
        [("k1", "a\tb", 1), ("k2", "c\nd", 2), ("k3", "e\\f", 3)],
        ["k", "s", "v"])
    write_direct(df, "k", cluster_of(topo, cfg), cfg, database="db",
                 table="t")
    rows = [line for ins in mocks[0].inserts()
            for line in ins.splitlines()[1:]]
    assert len(rows) == 3                       # no row split by newline
    assert all(len(r.split("\t")) == 3 for r in rows)  # width stable
    by_key = {r.split("\t")[0]: r.split("\t") for r in rows}
    assert by_key["k1"][1] == "a b"
    assert by_key["k2"][1] == "c d"
    assert by_key["k3"][1] == "e/f"


def test_write_direct_honours_replace_char(spark, mocks):
    """``--replace-char`` reaches the wire: the in-field separator and
    newline become the configured character, not the default space."""
    cfg = LoaderConfig(batch_size=10, replace_char="_")
    topo = topo_of(mocks[:1])
    df = spark.createDataFrame([("k1", "a\tb\\c"), ("k2", "d\ne")],
                               ["k", "s"])
    write_direct(df, "k", cluster_of(topo, cfg), cfg, database="db",
                 table="t")
    rows = sorted(line for ins in mocks[0].inserts()
                  for line in ins.splitlines()[1:])
    assert rows == ["k1\ta_b/c", "k2\td_e"]


def test_shard_batches_clamps_orders_and_prefixes(monkeypatch):
    """The per-shard batch loop both load modes share: a batch never
    exceeds FLUSH_CAP even when batch_size is larger, rows keep their
    order within a shard, the tail flush emits the partial buffers, and
    the WithNames prefix leads every payload."""
    monkeypatch.setattr(writer, "FLUSH_CAP", 3)
    rows = [(i % 2, f"r{i}") for i in range(11)]   # shard 0: 6 rows, 1: 5
    batches = list(shard_batches(rows, 100, prefix="k\tv\n"))
    assert all(n <= 3 for _s, n, _p in batches)
    assert [(s, n) for s, n, _p in batches] == [(0, 3), (1, 3), (0, 3), (1, 2)]
    for shard in (0, 1):
        sent = [line for s, _n, p in batches if s == shard
                for line in p.split("\n")[1:]]
        assert sent == [f"r{i}" for i in range(shard, 11, 2)]
    for _s, n, payload in batches:
        assert payload.startswith("k\tv\n")
        assert len(payload.split("\n")) == n + 1
    assert [n for _s, n, _p in shard_batches(rows, 2)] == [2, 2, 2, 2, 2, 1]


def test_write_direct_failure_counts_without_task_retry(spark, mocks):
    """W6 failure semantics: a dead shard must not re-raise inside the task
    (a Spark task retry would double-insert already-delivered batches) —
    the failure is counted and the JOB fails from the driver verdict
    (AbstractClickhouseLoaderMapper.java:350-357;
    ClickhouseHdfsLoader.java:203-207)."""
    cfg = LoaderConfig(batch_size=50, max_tries=2)
    dead = MockClickHouse(fail_first=10**6)
    try:
        topo = topo_of([mocks[0], dead])
        df = spark.createDataFrame([(f"key-{i}", i) for i in range(60)],
                                   ["k", "v"])
        with pytest.raises(RuntimeError, match="load failed") as exc:
            write_direct(df, "k", cluster_of(topo, cfg), cfg, database="db",
                         table="t")
        stats = eval(str(exc.value).split("load failed: ")[1])
        assert stats["failed_records"] > 0
        assert stats["success_records"] + stats["failed_records"] == 60
        # the alive shard's rows were delivered exactly once
        delivered = [line for ins in mocks[0].inserts()
                     for line in ins.splitlines()[1:]]
        assert len(delivered) == stats["success_records"]
        assert len(set(delivered)) == len(delivered)
    finally:
        dead.stop()


def test_staged_load_falls_back_to_alive_replica(spark, mocks):
    """A down first-replica must not fail the staged load — stage_one
    probes and falls through the replica list (reference getANodeAddress,
    AbstractClickhouseLoaderMapper.java:318-326)."""
    cfg = LoaderConfig(batch_size=50, max_tries=2)
    dead = MockClickHouse(fail_first=10**6)
    dead_addr = f"{dead.host}:{dead.port}"
    dead.stop()   # truly down: connection refused
    topo = ClusterTopology([ShardNode(1, 1, (dead_addr,
                                             f"{mocks[0].host}:{mocks[0].port}"))])
    ddl = "CREATE TABLE db.t (k String, v Int32) ENGINE = MergeTree ORDER BY k"
    df = spark.createDataFrame([(f"k{i}", i) for i in range(20)], ["k", "v"])
    plan = staging.stage_partitions(
        df, "k", cluster_of(topo, cfg), cfg, create_ddl=ddl,
        target_database="db", target_table="t",
        prefix=temp_table_prefix("t", "2017-01-07"))
    assert plan.temp_tables
    assert all(h == f"{mocks[0].host}:{mocks[0].port}"
               for h, _t in plan.temp_tables)
    staged_rows = [line for ins in mocks[0].inserts()
                   for line in ins.splitlines()[1:]]
    assert len(staged_rows) == 20


def test_write_direct_transient_failure_rows_counted_once(spark, mocks):
    """W5×W6: a transient mid-batch 500 recovers through the retry ladder
    and each row is counted exactly once — the retry re-posts the SAME
    batch payload, it does not re-run the task (which would double-insert
    every batch delivered before the failure)."""
    # ONE input partition → ONE write task: the POST sequence is
    # deterministic (fail, retry, second batch) even on local[8]
    cfg = LoaderConfig(batch_size=30, max_tries=3)
    m = mocks[0]
    m.fail_first = 1          # first insert POST 500s, retry succeeds
    topo = topo_of([m])
    df = spark.createDataFrame([(f"k{i}", i) for i in range(60)],
                               ["k", "v"]).coalesce(1)
    stats = write_direct(df, "k", cluster_of(topo, cfg), cfg, database="db",
                         table="t")
    assert stats == {"success_records": 60, "failed_records": 0}
    # the failed attempt and its retry carry an identical payload — the
    # retry re-POSTs the same batch, it does not rebuild or split it
    ins = m.inserts()
    assert len(ins) == 3 and ins[0] == ins[1]   # fail, retry, second batch
    delivered = {line for body in set(ins) for line in body.splitlines()[1:]}
    assert len(delivered) == 60


def test_write_direct_replicated_skips_dead_replica(spark, mocks):
    """W2 replica fan-out: Replicated engines insert into ONE alive
    replica — a connection-refused first replica is probed and skipped
    (AbstractClickhouseLoaderMapper.java:309-359), and the dead host
    receives nothing."""
    cfg = LoaderConfig(batch_size=100, max_tries=2)
    dead = MockClickHouse()
    dead_addr = f"{dead.host}:{dead.port}"
    dead.stop()   # truly down: ping → connection refused
    alive = mocks[0]
    topo = ClusterTopology([
        ShardNode(1, 1, (dead_addr, f"{alive.host}:{alive.port}"))])
    df = spark.createDataFrame([(f"k{i}", i) for i in range(40)], ["k", "v"])
    stats = write_direct(df, "k", cluster_of(topo, cfg), cfg, database="db",
                         table="t", replicated=True)
    assert stats == {"success_records": 40, "failed_records": 0}
    rows = [line for ins in alive.inserts() for line in ins.splitlines()[1:]]
    assert len(rows) == 40 and len(set(rows)) == 40  # alive replica, once


def test_write_direct_all_replicas_down_fails_job_verdict(spark, mocks):
    """W2+W6: every replica down → the probe falls back to hosts[0], the
    insert fails after the retry ladder, the failure is COUNTED in-task
    (never re-raised — a task retry would double-insert), and the job
    fails from the driver verdict."""
    cfg = LoaderConfig(batch_size=100, max_tries=2)
    d1, d2 = MockClickHouse(), MockClickHouse()
    addr1, addr2 = (f"{d.host}:{d.port}" for d in (d1, d2))
    d1.stop(); d2.stop()
    topo = ClusterTopology([ShardNode(1, 1, (addr1, addr2))])
    df = spark.createDataFrame([(f"k{i}", i) for i in range(10)], ["k", "v"])
    with pytest.raises(RuntimeError, match="load failed") as exc:
        write_direct(df, "k", cluster_of(topo, cfg), cfg, database="db",
                     table="t", replicated=True)
    stats = eval(str(exc.value).split("load failed: ")[1])
    assert stats == {"success_records": 0, "failed_records": 10}


def test_expire_daily_distributed_drops_wrapper(mocks):
    """OldDailyMergeTask.java:111-113: the distributed branch drops the
    daily Distributed wrapper in the target database after the local
    daily table."""
    m = mocks[0]
    topo = topo_of([m])
    lm = LifecycleManager(topo, backoff_scale=0.001)
    m.canned["system.tables"] = "t_20170101\n"
    expired = lm.expire_daily_tables("db_local", "t", "2017-01-07", expires=3,
                                     process="merge",
                                     distributed_database="db")
    assert expired == ["t_20170101"]
    assert any(s == "DROP TABLE IF EXISTS db_local.t_20170101"
               for s in m.statements)
    assert any(s == "DROP TABLE IF EXISTS db.t_20170101"
               for s in m.statements)
    # distributed branch uses the strict bound (reference :88)
    assert any("name < 't_20170104'" in s for s in m.statements)


@pytest.mark.parametrize("ddl,expected", [
    # multi-line SHOW CREATE with Replicated args, TTL and SETTINGS —
    # everything after ENGINE must be dropped with it
    ("CREATE TABLE db.t1\n(\n    `a` String,\n    `b` Int32,\n"
     "    `d` Date\n)\n"
     "ENGINE = ReplicatedMergeTree('/clickhouse/tables/{shard}/t1', "
     "'{replica}')\nPARTITION BY toYYYYMMDD(d)\nORDER BY (a, b)\n"
     "TTL d + INTERVAL 90 DAY\nSETTINGS index_granularity = 8192",
     "CREATE TABLE temp.tmp_x\n(\n    `a` String,\n    `b` Int32,\n"
     "    `d` Date\n)\nENGINE = StripeLog"),
    # Distributed engine with a nested function in the sharding key
    # (nested parens inside the engine args)
    ("CREATE TABLE `test`.`t1` (`plat` Int8, `h_did` String) "
     "ENGINE = Distributed(ck_cluster, test_local, t1, cityHash64(h_did))",
     "CREATE TABLE temp.tmp_x (`plat` Int8, `h_did` String) "
     "ENGINE = StripeLog"),
    # column DEFAULTs and CODECs (parens + '=' inside the column list
    # must survive; SETTINGS with '=' after the engine must not)
    ("CREATE TABLE db.m\n(\n    `k` String,\n"
     "    `v` Float64 CODEC(Gorilla, ZSTD(3)),\n"
     "    `flag` UInt8 DEFAULT 1,\n    `ts` DateTime DEFAULT now()\n)\n"
     "ENGINE = MergeTree\nORDER BY k\n"
     "SETTINGS index_granularity = 8192, storage_policy = 'ssd'",
     "CREATE TABLE temp.tmp_x\n(\n    `k` String,\n"
     "    `v` Float64 CODEC(Gorilla, ZSTD(3)),\n"
     "    `flag` UInt8 DEFAULT 1,\n    `ts` DateTime DEFAULT now()\n)\n"
     "ENGINE = StripeLog"),
    # pre-20.x legacy engine syntax with inline parameters
    ("CREATE TABLE db.old (d Date, a String, n Int32) "
     "ENGINE = MergeTree(d, (a, n), 8192)",
     "CREATE TABLE temp.tmp_x (d Date, a String, n Int32) "
     "ENGINE = StripeLog"),
])
def test_ddl_rewrite_goldens(ddl, expected):
    """Golden round-trips for the StripeLog rewrite over real SHOW CREATE
    shapes (AbstractClickhouseLoaderMapper.java:568-591 truncates at the
    first '=' — the regex here must reach the same result on DDLs where
    '=' also appears in column DEFAULTs or SETTINGS)."""
    assert rewrite_ddl_to_striplog(ddl, "temp", "tmp_x") == expected


def test_write_direct_with_names_and_types_header_rows(spark, mocks):
    """WithNames[AndTypes] FORMAT variants (ConfigurationOptions.java:45-69):
    every batch INSERT payload leads with the column-names row (and the
    ClickHouse type-names row for AndTypes) so ClickHouse can parse it."""
    cfg = LoaderConfig(batch_size=40,
                       clickhouse_format="TabSeparatedWithNamesAndTypes")
    topo = topo_of(mocks)
    df = spark.createDataFrame([(f"k{i}", i) for i in range(100)], ["k", "v"])
    write_direct(df, "k", cluster_of(topo, cfg), cfg, database="db",
                 table="t")
    total = 0
    for m in mocks:
        for ins in m.inserts():
            lines = ins.splitlines()
            assert lines[0] == insert_header(
                "db", "t", "TabSeparatedWithNamesAndTypes")
            assert lines[1] == "k\tv"
            assert lines[2] == "String\tInt64"
            total += len(lines) - 3
    assert total == 100


def test_staged_load_csv_with_names_header_row(spark, mocks):
    """CSVWithNames on the staged path: comma separator + names row per
    batch payload."""
    cfg = LoaderConfig(batch_size=1000, clickhouse_format="CSVWithNames")
    topo = topo_of(mocks[:1])
    df = spark.createDataFrame([(f"k{i}", i) for i in range(30)], ["k", "v"])
    plan = staging.stage_partitions(
        df, "k", cluster_of(topo, cfg), cfg,
        create_ddl="CREATE TABLE db.t (k String, v Int64) ENGINE = MergeTree ORDER BY k",
        target_database="db", target_table="t",
        prefix=temp_table_prefix("t", "20260813"))
    assert plan.temp_tables
    payload_inserts = [i for i in mocks[0].inserts() if "FORMAT" in i]
    assert payload_inserts
    for ins in payload_inserts:
        lines = ins.splitlines()
        assert lines[1] == "k,v"
        assert all("," in l for l in lines[2:])


def test_unsupported_clickhouse_format_rejected():
    """Unknown FORMAT names raise, mirroring the reference enum's
    UnsupportedOperationException (ConfigurationOptions.java:66)."""
    from clickhouse_hdfs_loader_spark.operators.transform import (
        format_header_lines, wire_separator)
    with pytest.raises(ValueError, match="Unsupported Clickhouse Format"):
        wire_separator("JSONEachRow")
    assert wire_separator("TabSeparatedRaw") == "\t"
    assert wire_separator("CSVWithNames") == ","


def test_format_header_lines_bare_formats_empty(spark):
    from clickhouse_hdfs_loader_spark.operators.transform import (
        format_header_lines)
    df = spark.createDataFrame([("a", 1)], ["k", "v"])
    assert format_header_lines("TabSeparated", df, ["k", "v"]) == []
    assert format_header_lines("CSV", df, ["k", "v"]) == []
    assert format_header_lines("TabSeparatedWithNames", df, ["k", "v"]) == \
        ["k\tv"]


def test_expire_daily_task_swallows_failure_and_runs_on_thread(mocks):
    """Launch-shape parity (ClickhouseHdfsLoader.java:133-139 +
    OldDailyMergeTask.java:48-55): expiry runs on a started-then-joined
    worker thread, and any exception inside it is logged, never raised —
    a broken expiry must not abort the load."""
    m = mocks[0]
    lm = LifecycleManager(topo_of([m]), max_tries=1, backoff_scale=0.001)
    m.fail_first = 99  # every statement errors -> expire_daily_tables raises
    assert lm.expire_daily_tables_task("db", "t", "2017-01-07") == []
    # direct call still raises (the task wrapper is the swallow point)
    with pytest.raises(ClickHouseError):
        lm.expire_daily_tables("db", "t", "2017-01-07")
    # happy path returns the expired names through the thread
    m.fail_first = 0
    m.canned["system.tables"] = "t_20170101\n"
    assert lm.expire_daily_tables_task(
        "db", "t", "2017-01-07", expires=3, process="drop") == ["t_20170101"]
