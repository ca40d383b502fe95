"""End-to-end load-job test mirroring the reference's quick-start worked
example (doc/quick-start.md, FIXTURES.md §2): pipe-delimited text read →
exclude-fields → null rules → width check against the DESCRIBEd target →
murmur shard routing → staged/direct write — all against mock ClickHouse
hosts with a canned catalog."""

from __future__ import annotations

import re

import pytest

from clickhouse_hdfs_loader_spark.config import parse_args
from clickhouse_hdfs_loader_spark.main import _parse_connect, run_load

from .mock_clickhouse import MockClickHouse

TARGET_DDL = ("CREATE TABLE test.t1 (plat Int8, h_did String, v Int32) "
              "ENGINE = Distributed(ck, test_local, t1, cityHash64(h_did))")
LOCAL_DDL = ("CREATE TABLE test_local.t1 (plat Int8, h_did String, v Int32) "
             "ENGINE = MergeTree ORDER BY h_did")


@pytest.fixture()
def cluster():
    servers = [MockClickHouse() for _ in range(2)]
    entry = servers[0]
    hosts = "','".join(f"{s.host}:{s.port}" for s in servers)
    entry.canned["SHOW CREATE TABLE test.t1"] = TARGET_DDL
    entry.canned["SHOW CREATE TABLE test_local.t1"] = LOCAL_DDL
    # a real server answers ORDER BY shard_num DESC — highest shard first
    entry.canned["system.clusters"] = (
        f"2\t1\t['{servers[1].host}:{servers[1].port}']\n"
        f"1\t1\t['{servers[0].host}:{servers[0].port}']\n")
    entry.canned["DESC test_local.t1"] = \
        "plat\tInt8\nh_did\tString\nv\tInt32\n"
    entry.canned["system.columns"] = "3\n"
    for s in servers:
        s.canned.setdefault("system.tables", "")
    yield servers
    for s in servers:
        s.stop()


def _write_input(tmp_path, lines):
    p = tmp_path / "input" / "dt=2017-01-07"
    p.mkdir(parents=True)
    (p / "part-00000").write_text("\n".join(lines) + "\n")
    return str(p)


def test_parse_connect():
    assert _parse_connect("jdbc:clickhouse://h1:8123/db") == ("h1", 8123, "db")
    assert _parse_connect("clickhouse://h2:9000/") == ("h2", 9000, "default")


def test_quickstart_shaped_direct_load(spark, tmp_path, cluster):
    """5 source fields, exclude {1, 3} → 3 target columns; \\N nulls
    normalized per target type; rows land sharded by h_did."""
    lines = [
        f"{i % 7}|junk|did_{i}|junk2|{i}" for i in range(50)
    ] + ["\\N|junk|did_x|junk2|\\N"]      # null plat (non-string) + null v
    export_dir = _write_input(tmp_path, lines)
    entry = cluster[0]
    cfg = parse_args([
        "--dt", "2021-06-01",
        "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--table", "t1", "--export-dir", export_dir,
        "--fields-terminated-by", "|", "--exclude-fields", "1,3",
        "--direct", "true", "--batch-size", "20", "--input-format", "text",
    ])
    stats = run_load(cfg, spark, backoff_scale=0.001)
    assert stats == {"success_records": 51, "failed_records": 0}

    rows = [line for s in cluster for ins in s.inserts()
            if ins.startswith("INSERT INTO test_local.t1 FORMAT")
            for line in ins.splitlines()[1:]]
    assert len(rows) == 51
    # null normalization: \N → "0" for the non-string cols (plat, v)
    assert "0\tdid_x\t0" in rows
    # both shards received data (murmur spread over 51 distinct keys)
    per_shard = [sum(len(i.splitlines()) - 1 for i in s.inserts()) for s in cluster]
    assert all(n > 0 for n in per_shard)


def test_quickstart_shaped_staged_load(spark, tmp_path, cluster):
    lines = [f"{i % 7}|junk|did_{i}|junk2|{i}" for i in range(30)]
    export_dir = _write_input(tmp_path, lines)
    entry = cluster[0]
    cfg = parse_args([
        "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--table", "t1", "--export-dir", export_dir,
        "--exclude-fields", "1,3", "--direct", "false", "--dt", "2017-01-07",
    ])
    stats = run_load(cfg, spark, backoff_scale=0.001)
    assert stats["staged_tables"] >= 1
    all_stmts = [s for m in cluster for s in m.statements]
    assert any(s.startswith("CREATE TABLE temp.t1_20170107_") for s in all_stmts)
    assert any(s.startswith("INSERT INTO test_local.t1 SELECT * FROM temp.")
               for s in all_stmts)
    # the temp-table GC collects this run's prefix only, not every
    # t1_* table a concurrent load (another dt) may be staging
    gc = [s for s in all_stmts if "FROM system.tables" in s]
    assert gc and all(re.search(r"LIKE 't1_20170107_\d+_%'", s) for s in gc)


def test_width_mismatch_rejected(spark, tmp_path, cluster):
    """T9: wrong produced-column count must abort before any write
    (AbstractClickhouseLoaderMapper.java:242-245)."""
    export_dir = _write_input(tmp_path, ["a|b|c|d|e"])
    entry = cluster[0]
    cfg = parse_args([
        "--dt", "2021-06-01",
        "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--table", "t1", "--export-dir", export_dir,
        "--exclude-fields", "1",    # 5 − 1 = 4 ≠ 3 target columns
        "--direct", "true",
    ])
    with pytest.raises(ValueError, match="Illegal format"):
        run_load(cfg, spark, backoff_scale=0.001)
    assert not [i for s in cluster for i in s.inserts()]


def test_daily_mode_creates_and_expires(spark, tmp_path, cluster):
    entry = cluster[0]
    for s in cluster:
        s.canned["system.tables"] = ""
    export_dir = _write_input(tmp_path, ["1|x|did_1|y|2"])
    cfg = parse_args([
        "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--table", "t1", "--export-dir", export_dir,
        "--exclude-fields", "1,3", "--direct", "true",
        "--daily", "true", "--dt", "2017-01-07", "--mode", "drop",
    ])
    run_load(cfg, spark, backoff_scale=0.001)
    all_stmts = [s for m in cluster for s in m.statements]
    assert any("CREATE TABLE IF NOT EXISTS test_local.t1_20170107" in s
               for s in all_stmts)
    # direct insert goes to the daily table
    assert any(s.startswith("INSERT INTO test_local.t1_20170107 FORMAT")
               for s in all_stmts)


def test_topology_hosts_use_the_clickhouse_http_port(spark, tmp_path):
    """``system.clusters`` answers bare host addresses: every topology
    host — daily DDL and INSERTs alike — is reached on
    ``--clickhouse-http-port``; the connect URL's port reaches only the
    entry node's catalog reads."""
    entry, shard = MockClickHouse(), MockClickHouse()
    try:
        entry.canned["SHOW CREATE TABLE test.t1"] = TARGET_DDL
        entry.canned["SHOW CREATE TABLE test_local.t1"] = LOCAL_DDL
        entry.canned["system.clusters"] = f"1\t1\t['{shard.host}']\n"
        entry.canned["DESC test_local.t1"] = \
            "plat\tInt8\nh_did\tString\nv\tInt32\n"
        export_dir = _write_input(tmp_path, ["1|x|did_1|y|2", "3|x|did_2|y|4"])
        cfg = parse_args([
            "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
            "--clickhouse-http-port", str(shard.port),
            "--table", "t1", "--export-dir", export_dir,
            "--exclude-fields", "1,3", "--direct", "true",
            "--daily", "true", "--dt", "2017-01-07",
        ])
        stats = run_load(cfg, spark, backoff_scale=0.001)
        assert stats == {"success_records": 2, "failed_records": 0}
        assert any(s.startswith("CREATE TABLE IF NOT EXISTS test_local.t1_20170107")
                   for s in shard.statements)
        assert any(s.startswith("INSERT INTO test_local.t1_20170107 FORMAT")
                   for s in shard.statements)
        # the entry node saw the catalog reads and nothing else
        assert all(s.startswith(("SHOW CREATE TABLE", "DESC"))
                   or "system.clusters" in s for s in entry.statements)
    finally:
        entry.stop()
        shard.stop()


def test_input_split_max_bytes_reaches_the_session(monkeypatch):
    """S1: ``--input-split-max-bytes`` sets
    ``spark.sql.files.maxPartitionBytes`` where ``main()`` builds the
    session."""
    from clickhouse_hdfs_loader_spark import main as main_mod
    from clickhouse_hdfs_loader_spark import session

    seen = {}

    class FakeSpark:
        def stop(self):
            seen["stopped"] = True

    def fake_get_spark(**kwargs):
        seen.update(kwargs)
        return FakeSpark()

    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    monkeypatch.setattr(main_mod, "run_load", lambda config, spark: {})
    assert main_mod.main(REQUIRED_MIN + ["--input-split-max-bytes",
                                         "1048576"]) == 0
    assert seen["extra_conf"]["spark.sql.files.maxPartitionBytes"] == "1048576"
    assert seen["stopped"]


def test_hive_partition_and_additional_cols_load(spark, tmp_path, cluster):
    """T6+T7 through the CLI: partition value from the path and a constant
    column both count toward the target width (5 data − 2 excl + dt +
    const = 5 target columns)."""
    entry = cluster[0]
    entry.canned["DESC test_local.t1"] = \
        "plat\tInt8\nh_did\tString\nv\tInt32\ndt\tString\nsrc\tString\n"
    lines = [f"{i % 3}|x|did_{i}|y|{i}" for i in range(12)]
    export_dir = _write_input(tmp_path, lines)
    cfg = parse_args([
        "--dt", "2021-06-01",
        "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--table", "t1", "--export-dir", export_dir,
        "--exclude-fields", "1,3", "--direct", "true",
        "--extract-hive-partitions", "true",
        "--additional-cols", "batch7",
    ])
    stats = run_load(cfg, spark, backoff_scale=0.001)
    assert stats["success_records"] == 12
    rows = [line for s in cluster for ins in s.inserts()
            for line in ins.splitlines()[1:]]
    # every wire row carries the path partition value and the constant
    assert all(line.endswith("\t2017-01-07\tbatch7") for line in rows)


@pytest.mark.slow
def test_orc_input_direct_load(spark, tmp_path, cluster):
    """S2+T2 through the CLI: ORC source decoded stringly (every field
    coerced to string, OrcRecordDecoder.java:32-45 semantics), excluded
    positionally, null-normalized per target type, sharded and written."""
    orc_dir = str(tmp_path / "orc_in" / "dt=2017-01-07")
    rows = [(i % 7, "junk", f"did_{i}", "junk2", i) for i in range(20)]
    df = spark.createDataFrame(
        rows, ["plat", "skip1", "h_did", "skip2", "v"])
    # one ORC file with a null in a non-string target column
    df = df.union(spark.createDataFrame(
        [(None, "junk", "did_x", "junk2", None)], df.schema))
    df.coalesce(1).write.orc(orc_dir)
    entry = cluster[0]
    cfg = parse_args([
        "--dt", "2021-06-01",
        "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--table", "t1", "--export-dir", orc_dir,
        "--exclude-fields", "1,3", "--direct", "true",
        "--input-format", "orc",
    ])
    stats = run_load(cfg, spark, backoff_scale=0.001)
    assert stats == {"success_records": 21, "failed_records": 0}
    wire = [line for s in cluster for ins in s.inserts()
            if ins.startswith("INSERT INTO test_local.t1 FORMAT")
            for line in ins.splitlines()[1:]]
    assert len(wire) == 21
    # ORC null → "0" for the non-string cols (plat Int8, v Int32)
    assert "0\tdid_x\t0" in wire
    # stringly decode keeps integer field text form
    assert any(line.split("\t") == ["3", "did_3", "3"] for line in wire)


def test_json_input_direct_load(spark, tmp_path, cluster):
    """JSON-lines source through the decoder registry: fields arrive
    alphabetically ordered and stringly-coerced, then the positional
    transform chain applies unchanged."""
    import json as _json
    p = tmp_path / "json_in" / "dt=2017-01-07"
    p.mkdir(parents=True)
    # alphabetical field order: a_plat, b_skip, c_did, d_skip, e_v
    lines = [_json.dumps({"a_plat": i % 7, "b_skip": "junk",
                          "c_did": f"did_{i}", "d_skip": "junk2", "e_v": i})
             for i in range(15)]
    (p / "part-00000.json").write_text("\n".join(lines) + "\n")
    entry = cluster[0]
    cfg = parse_args([
        "--dt", "2021-06-01",
        "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--table", "t1", "--export-dir", str(p),
        "--exclude-fields", "1,3", "--direct", "true",
        "--input-format", "json",
    ])
    stats = run_load(cfg, spark, backoff_scale=0.001)
    assert stats == {"success_records": 15, "failed_records": 0}
    wire = [line for s in cluster for ins in s.inserts()
            for line in ins.splitlines()[1:]]
    assert any(line.split("\t") == ["3", "did_3", "3"] for line in wire)


def test_csv_input_direct_load(spark, tmp_path, cluster):
    p = tmp_path / "csv_in" / "dt=2017-01-07"
    p.mkdir(parents=True)
    (p / "part-00000.csv").write_text(
        "\n".join(f"{i % 7},junk,did_{i},junk2,{i}" for i in range(15)) + "\n")
    entry = cluster[0]
    cfg = parse_args([
        "--dt", "2021-06-01",
        "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--table", "t1", "--export-dir", str(p),
        "--exclude-fields", "1,3", "--direct", "true",
        "--input-format", "csv", "--fields-terminated-by", ",",
    ])
    stats = run_load(cfg, spark, backoff_scale=0.001)
    assert stats == {"success_records": 15, "failed_records": 0}


def test_credentials_and_reduce_tasks_options(spark, tmp_path, cluster):
    """--username/--password flow to every HTTP call; --num-reduce-tasks
    parses into the P4 figure (parity only: the write is map-side and
    sized by the input splits); --mapper-class (deprecated) maps
    reference mapper class names onto the input-format registry."""
    lines = [f"{i % 7}|x|did_{i}|y|{i}" for i in range(10)]
    export_dir = _write_input(tmp_path, lines)
    entry = cluster[0]
    cfg = parse_args([
        "--dt", "2021-06-01",
        "--connect", f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--table", "t1", "--export-dir", export_dir,
        "--exclude-fields", "1,3", "--direct", "true",
        "--username", "loader_user", "--password", "s3cret",
        "--num-reduce-tasks", "8",
        "--mapper-class",
        "com.kugou.loader.clickhouse.mapper.TextLoaderMapper",
    ])
    assert cfg.username == "loader_user" and cfg.password == "s3cret"
    assert cfg.input_format == "text"
    # 8 total reduce tasks over 2 shards → 4 per shard
    assert cfg.tasks_per_shard(2) == 4
    stats = run_load(cfg, spark, backoff_scale=0.001)
    assert stats["failed_records"] == 0
    for s in cluster:
        assert s.auth_users and all(u == "loader_user" for u in s.auth_users)


# --- the reference's quick-start worked example, traced EXACTLY ---------
# doc/quick-start.md:3-31 (22-col pipe-delimited hive table) + :36-73 (13-col
# ReplicatedMergeTree local + Distributed(cityHash64(h_did)) wrapper) +
# :83-88 (the hadoop-jar invocation flags).

QS_COLS = [  # (name, ch_type) of test_local.t_lzj_test01, quick-start.md:38-51
    ("plat", "Int8"), ("h_appver", "Int16"), ("imei", "String"),
    ("h_id", "Int32"), ("type_id", "Int8"), ("path", "Int64"),
    ("parent_path", "Int64"), ("time", "String"),
    ("parent_path_name", "String"), ("path_name", "String"),
    ("dt", "Date"), ("source_type", "Int8"), ("h_did", "String"),
]
QS_DIST_DDL = (
    "CREATE TABLE test.t_lzj_test01 ("
    + ", ".join(f"{n} {t}" for n, t in QS_COLS)
    + ") ENGINE = Distributed(kg_bi_cluster, 'test_local', 't_lzj_test01', "
    "cityHash64(h_did))")
QS_LOCAL_DDL = (
    "CREATE TABLE test_local.t_lzj_test01 ("
    + ", ".join(f"{n} {t}" for n, t in QS_COLS)
    + ") ENGINE = ReplicatedMergeTree('/clickhouse/tables/test_local/"
    "t_lzj_test01/{shard}', '{replica}') PARTITION BY dt "
    "ORDER BY (dt, h_did, imei) SETTINGS index_granularity = 8192")


def _quickstart_line(i: int) -> str:
    """One 22-field source row (hive schema order, quick-start.md:3-26):
    h_lst plat h_appver imei h_id type_id path parent_path time content row
    parent_path_name path_name content_chinese action h_plugin0-3 etldate
    source_type h_did."""
    return "|".join([
        f"lst{i}", str(i % 5), "90", f"imei_{i}", str(1000 + i), str(i % 3),
        str(10_000_000 + i), str(20_000_000 + i), f"2019-05-13 10:0{i % 6}:00",
        str(i), str(i % 9), f"parent {i}", f"path {i}", f"中文{i}", "click",
        "1", "2", "3", "4", "2019-05-13", "1", f"did_{i:04d}",
    ])


@pytest.fixture()
def qs_cluster():
    from .mock_clickhouse import MockClickHouse
    servers = [MockClickHouse() for _ in range(2)]
    entry = servers[0]
    entry.canned["SHOW CREATE TABLE test.t_lzj_test01"] = QS_DIST_DDL
    entry.canned["SHOW CREATE TABLE test_local.t_lzj_test01"] = QS_LOCAL_DDL
    entry.canned["system.clusters"] = (
        f"2\t1\t['{servers[1].host}:{servers[1].port}']\n"
        f"1\t1\t['{servers[0].host}:{servers[0].port}']\n")
    entry.canned["DESC test_local.t_lzj_test01"] = \
        "".join(f"{n}\t{t}\n" for n, t in QS_COLS)
    entry.canned["system.columns"] = f"{len(QS_COLS)}\n"
    for s in servers:
        s.canned.setdefault("system.tables", "")
    yield servers
    for s in servers:
        s.stop()


def _qs_config(entry, export_dir, direct: str):
    """The quick-start.md:83-88 flags verbatim (host/jar/queue aside)."""
    return parse_args([
        "--input-format", "text",                      # -i text
        "--connect",
        f"jdbc:clickhouse://{entry.host}:{entry.port}/test",
        "--username", "u", "--password", "p",
        "--table", "t_lzj_test01",
        "--dt", "2019-05-13",
        "--export-dir", export_dir,
        "--daily", "false",
        "--direct", direct,
        "--input-split-max-bytes", "8589934592",
        "--batch-size", "200000",
        "--exclude-fields", "0,9,10,13,14,15,16,17,18",
        "--fields-terminated-by", "|",
    ])


def test_quickstart_exact_invocation_direct(spark, tmp_path, qs_cluster):
    """The full §2.A chain in one trace: 22-col pipe text → exclude 9
    fields → 13 produced columns == DESCRIBEd target width (T9) → null
    rules per CH type → murmur route on h_did (the DESCRIBE-indexed
    sharding key) → TabSeparated wire rows on both shards."""
    lines = [_quickstart_line(i) for i in range(24)]
    # a row with \N in a non-string (plat Int8) and a string (imei) field
    null_row = _quickstart_line(99).split("|")
    null_row[1], null_row[3] = "\\N", "\\N"
    lines.append("|".join(null_row))
    p = tmp_path / "t_lzj_test01" / "dt=2019-05-13"
    p.mkdir(parents=True)
    (p / "000000_0").write_text("\n".join(lines) + "\n")
    entry = qs_cluster[0]
    stats = run_load(_qs_config(entry, str(p), "true"), spark,
                     backoff_scale=0.001)
    assert stats == {"success_records": 25, "failed_records": 0}
    wire = [line for s in qs_cluster for ins in s.inserts()
            if ins.startswith("INSERT INTO test_local.t_lzj_test01 FORMAT")
            for line in ins.splitlines()[1:]]
    assert len(wire) == 25
    fields = [w.split("\t") for w in wire]
    assert all(len(f) == 13 for f in fields)       # T9 width == target
    assert all(f[10] == "2019-05-13" for f in fields)  # etldate → dt slot
    by_did = {f[12]: f for f in fields}
    assert by_did["did_0007"][0] == "2"            # plat passthrough
    assert by_did["did_0007"][2] == "imei_7"
    # \N → 0 for Int8 plat, → empty for String imei (null rules per type)
    assert by_did["did_0099"][0] == "0" and by_did["did_0099"][2] == ""
    # both shards receive rows (murmur spread over 25 distinct h_did keys)
    per_shard = [sum(len(i.splitlines()) - 1 for i in s.inserts())
                 for s in qs_cluster]
    assert all(n > 0 for n in per_shard)


def test_quickstart_exact_invocation_staged(spark, tmp_path, qs_cluster):
    """Same invocation with --direct false: temp StripeLog tables created
    under the dt-scoped prefix, promoted into the target, then dropped
    (W3→W4→D1)."""
    lines = [_quickstart_line(i) for i in range(12)]
    p = tmp_path / "t_lzj_test01" / "dt=2019-05-13"
    p.mkdir(parents=True)
    (p / "000000_0").write_text("\n".join(lines) + "\n")
    entry = qs_cluster[0]
    stats = run_load(_qs_config(entry, str(p), "false"), spark,
                     backoff_scale=0.001)
    assert stats["staged_tables"] >= 1
    stmts = [s for m in qs_cluster for s in m.statements]
    assert any(s.startswith("CREATE TABLE temp.t_lzj_test01_20190513_")
               and "ENGINE = StripeLog" in s for s in stmts)
    assert any(s.startswith(
        "INSERT INTO test_local.t_lzj_test01 SELECT * FROM temp.")
        for s in stmts)
    assert any(s.startswith("DROP TABLE IF EXISTS temp.t_lzj_test01_")
               for s in stmts)


REQUIRED_MIN = ["--connect", "jdbc:clickhouse://h:9000/db",
                "--table", "t", "--export-dir", "/tmp/x",
                "--dt", "2021-06-01"]


def test_mapper_class_orc_mapping():
    cfg = parse_args(REQUIRED_MIN + [
        "--mapper-class", "com.kugou.loader.clickhouse.mapper.OrcLoaderMapper",
    ])
    assert cfg.input_format == "orc"
    # explicit -i wins over the deprecated alias
    cfg2 = parse_args(REQUIRED_MIN + ["--input-format", "parquet",
                       "--mapper-class", "whatever.OrcLoaderMapper"])
    assert cfg2.input_format == "parquet"
    # an EXPLICIT "-i text" also wins over --mapper-class — any
    # non-blank -i has priority (ClickhouseHdfsLoader.java:165), so the
    # default must be distinguishable from the explicit spelling
    cfg3 = parse_args(REQUIRED_MIN + ["-i", "text",
                       "--mapper-class", "whatever.OrcLoaderMapper"])
    assert cfg3.input_format == "text"
    # with neither flag, the default stays text
    assert parse_args(REQUIRED_MIN).input_format == "text"


def test_primary_i_flag_and_required_options():
    """-i is the reference's PRIMARY input-format spelling
    (MainCliParameterParser.java:56; --input-format is the deprecated
    alias, :59) and --connect/--table/--export-dir/--dt are
    required=true (:14,20,23,41)."""
    cfg = parse_args(REQUIRED_MIN + ["-i", "orc"])
    assert cfg.input_format == "orc"
    with pytest.raises(SystemExit):      # required options enforced
        parse_args(["-i", "orc"])
    with pytest.raises(SystemExit):      # --dt missing
        parse_args(["--connect", "jdbc:clickhouse://h:9000/db",
                    "--table", "t", "--export-dir", "/tmp/x"])
