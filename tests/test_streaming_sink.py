"""Streaming→ClickHouse foreachBatch sink + ORC source round-trip."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from clickhouse_hdfs_loader_spark.clickhouse.lifecycle import LifecycleManager
from clickhouse_hdfs_loader_spark.config import LoaderConfig
from clickhouse_hdfs_loader_spark.operators.sharding import (
    ClusterTopology,
    ShardNode,
)
from clickhouse_hdfs_loader_spark.streaming.sink import stream_to_clickhouse

from .mock_clickhouse import MockClickHouse


def cluster_of(topo: ClusterTopology, cfg: LoaderConfig) -> LifecycleManager:
    return LifecycleManager.from_config(topo, cfg, backoff_scale=0.001)


def test_stream_to_clickhouse_delivers_all_rows(spark, sf_dir, tmp_path):
    servers = [MockClickHouse() for _ in range(2)]
    try:
        topo = ClusterTopology([
            ShardNode(i + 1, 1, (f"{s.host}:{s.port}",))
            for i, s in enumerate(servers)])
        cfg = LoaderConfig(batch_size=500, direct=True)
        schema = spark.read.parquet(f"{sf_dir}/nation.parquet").schema
        stream = (spark.readStream.schema(schema)
                  .option("pathGlobFilter", "nation.parquet").parquet(sf_dir))
        q = stream_to_clickhouse(
            stream, "n_name", cluster_of(topo, cfg), cfg, database="db",
            table="nation", checkpoint_dir=str(tmp_path / "ckpt"))
        q.awaitTermination(120)
        q.stop()
        rows = [line for s in servers for ins in s.inserts()
                for line in ins.splitlines()[1:]]
        assert len(rows) == 25
        assert all(len(line.split("\t")) == 3 for line in rows)
    finally:
        for s in servers:
            s.stop()


def test_orc_roundtrip_stringly(spark, sf_dir, tmp_path):
    """S2/T2: ORC source decoded with every field coerced to string
    (OrcRecordDecoder.java:32-45 parity)."""
    from clickhouse_hdfs_loader_spark.sources.tables import read_orc_stringly
    src = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orc_path = str(tmp_path / "nation_orc")
    src.write.orc(orc_path)
    back = read_orc_stringly(spark, orc_path)
    assert [f.dataType.typeName() for f in back.schema.fields] == ["string"] * 3
    assert back.count() == 25
    assert {r["n_nationkey"] for r in back.collect()} == {str(i) for i in range(25)}


NATION_DDL = ("CREATE TABLE db.nation (n_nationkey Int64, n_name String, "
              "n_regionkey Int64) ENGINE = MergeTree ORDER BY n_nationkey")


def nation_stream(spark, sf_dir):
    schema = spark.read.parquet(f"{sf_dir}/nation.parquet").schema
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", "nation.parquet").parquet(sf_dir))


def gc_queries(server) -> list[str]:
    """Batch 0's end-of-job temp GC queries this host received."""
    return [s for s in server.statements if "FROM system.tables" in s
            and re.search(r"LIKE 'nation_b0_\d+_%'", s)]


def test_stream_to_clickhouse_staged_two_phase_per_batch(spark, sf_dir, tmp_path):
    """``config.direct`` false: each micro-batch runs the full W3/W4
    two-phase load — batch-scoped StripeLog temp tables, INSERT...SELECT
    promote into the target, drop, then the job's temp GC on every host —
    so the batch lands atomically-ish."""
    servers = [MockClickHouse() for _ in range(2)]
    try:
        topo = ClusterTopology([
            ShardNode(i + 1, 1, (f"{s.host}:{s.port}",))
            for i, s in enumerate(servers)])
        cfg = LoaderConfig(batch_size=500, direct=False)
        stream = nation_stream(spark, sf_dir)
        q = stream_to_clickhouse(
            stream, "n_name", cluster_of(topo, cfg), cfg, database="db",
            table="nation", checkpoint_dir=str(tmp_path / "ckpt2"),
            create_ddl=NATION_DDL)
        q.awaitTermination(120)
        q.stop()
        stmts = [s for srv in servers for s in srv.statements]
        creates = [s for s in stmts if "ENGINE = StripeLog" in s]
        promotes = [s for s in stmts if s.startswith("INSERT INTO db.nation")
                    and "SELECT" in s]
        drops = [s for s in stmts if s.startswith("DROP TABLE IF EXISTS temp.")]
        assert creates and promotes and drops
        # batch-scoped temp names: <table>_b<batchid>_<epoch>_p<part>_<attempt>
        assert any("nation_b0_" in s for s in creates)
        staged_rows = sum(len(ins.splitlines()) - 1
                          for srv in servers for ins in srv.inserts()
                          if "FORMAT" in ins.splitlines()[0]
                          and ins.splitlines()[0].startswith("INSERT INTO temp."))
        assert staged_rows == 25
        # the micro-batch ends with the load job's temp GC on every host
        assert all(gc_queries(srv) for srv in servers)
        # a staged stream requires create_ddl
        with pytest.raises(ValueError):
            stream_to_clickhouse(stream, "n_name", cluster_of(topo, cfg), cfg,
                                 database="db", table="nation")
    finally:
        for s in servers:
            s.stop()


def test_staged_stream_failed_stage_still_collects_temp_tables(spark, sf_dir, tmp_path):
    """A micro-batch whose stage fails stops the query with the error,
    and its temp GC still runs on every host, the failing one included."""
    from pyspark.errors import StreamingQueryException
    servers = [MockClickHouse(fail_first=10**6, fail_substring="INSERT INTO temp."),
               MockClickHouse()]
    try:
        topo = ClusterTopology([
            ShardNode(i + 1, 1, (f"{s.host}:{s.port}",))
            for i, s in enumerate(servers)])
        cfg = LoaderConfig(batch_size=500, max_tries=1)
        q = stream_to_clickhouse(
            nation_stream(spark, sf_dir), "n_name", cluster_of(topo, cfg), cfg,
            database="db", table="nation",
            checkpoint_dir=str(tmp_path / "ckpt4"), create_ddl=NATION_DDL)
        with pytest.raises(StreamingQueryException, match="simulated failure"):
            q.awaitTermination(120)
        q.stop()
        assert [s for s in servers[0].statements if s.startswith("INSERT INTO temp.")]
        assert not [s for srv in servers for s in srv.applied
                    if s.startswith("INSERT INTO db.nation")]
        assert all(gc_queries(srv) for srv in servers)
    finally:
        for s in servers:
            s.stop()


def test_staged_sink_no_duplicates_after_midload_failure(spark, sf_dir, tmp_path):
    """Exactly-once bookkeeping under a mid-batch writer failure: one
    shard's FIRST temp-table insert dies with a 500 (fail-before-apply,
    the retryable tier W5 handles — AbstractClickhouseLoaderMapper.java:
    631-651); the retry must re-post the SAME buffer into the SAME
    attempt-scoped temp table, every source row must land in a temp table
    EXACTLY once, and each temp table must be promoted into the target
    EXACTLY once — a double-promote (or a retry writing a second copy)
    fails this test."""
    servers = [MockClickHouse(fail_first=1, fail_substring="INSERT INTO temp."),
               MockClickHouse()]
    try:
        topo = ClusterTopology([
            ShardNode(i + 1, 1, (f"{s.host}:{s.port}",))
            for i, s in enumerate(servers)])
        cfg = LoaderConfig(batch_size=500, direct=False)
        q = stream_to_clickhouse(
            nation_stream(spark, sf_dir), "n_name", cluster_of(topo, cfg), cfg,
            database="db", table="nation",
            checkpoint_dir=str(tmp_path / "ckpt3"), create_ddl=NATION_DDL)
        assert q.awaitTermination(120)
        q.stop()

        # the injected failure actually happened and was retried: the
        # retry re-posts an IDENTICAL body, so received > applied for it
        srv0_temp_received = [s for s in servers[0].statements
                              if s.startswith("INSERT INTO temp.")]
        srv0_temp_applied = [s for s in servers[0].applied
                             if s.startswith("INSERT INTO temp.")]
        assert len(srv0_temp_received) == len(srv0_temp_applied) + 1
        assert set(srv0_temp_received) == set(srv0_temp_applied)

        applied = [s for srv in servers for s in srv.applied]
        # every nation row staged EXACTLY once across all APPLIED inserts
        staged_lines = [line
                        for s in applied if s.startswith("INSERT INTO temp.")
                        for line in s.splitlines()[1:]]
        assert len(staged_lines) == 25
        assert len(set(staged_lines)) == 25          # no duplicate row
        # promote identity is (host, temp): the same temp NAME may exist
        # on both hosts when a Spark partition held rows of both shards —
        # each (host, temp) pair must be promoted EXACTLY once
        staged_pairs = {(i, s.splitlines()[0].split()[2].split(".")[1])
                        for i, srv in enumerate(servers)
                        for s in srv.applied
                        if s.startswith("INSERT INTO temp.")}
        promoted_pairs = [(i, s.rsplit("FROM temp.", 1)[1].strip())
                          for i, srv in enumerate(servers)
                          for s in srv.applied
                          if s.startswith("INSERT INTO db.nation")
                          and "SELECT" in s]
        assert sorted(promoted_pairs) == sorted(set(promoted_pairs))
        assert set(promoted_pairs) == staged_pairs
        # GC dropped every staged temp table on its host
        dropped_pairs = {(i, s.split("temp.", 1)[1].strip())
                         for i, srv in enumerate(servers)
                         for s in srv.statements
                         if s.startswith("DROP TABLE IF EXISTS temp.")}
        assert staged_pairs <= dropped_pairs
    finally:
        for s in servers:
            s.stop()
