"""End-to-end load job — the Spark shape of the reference's orchestration
(SURVEY §3.1, ClickhouseHdfsLoader.run:68-214).

Sequence parity:
 1. parse CLI → LoaderConfig                  (args4j parse :69-78)
 2. resolve target: SHOW CREATE → Distributed(cluster, db, table, key),
    system.clusters topology, DESCRIBE key index  (initClickhouse :224-289)
 3. (--daily) create daily tables + expiry    (:125-140)
 4. read input (text|orc|parquet), run the transform chain T1–T9
 5. route on the sharding key and write: direct (W2) or two-phase staged
    (W3/W4) — ONE DataFrame action replacing the MR job (:158-201)
 6. accounting verdict: raise if failed records  (:203-207)
 7. finally: temp-table GC                    (:209-211,496-524)

Everything before/after step 5 is driver-side Python against ClickHouse
HTTP; step 5 is the only cluster-scale operation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .clickhouse.client import get_client
from .clickhouse.lifecycle import LifecycleManager, resolve_distributed
from .clickhouse.staging import staged_load, temp_table_prefix
from .clickhouse.writer import write_direct
from .config import LoaderConfig, parse_args
from .operators.transform import transform_pipeline
from .sources import catalog


def _parse_connect(connect: str) -> tuple[str, int, str]:
    """``jdbc:clickhouse://host:port/db`` → (host, http_port, database)."""
    body = connect.split("://", 1)[-1]
    hostport, _, db = body.partition("/")
    host, _, port = hostport.partition(":")
    return host, int(port or 8123), db or "default"


def read_input(spark: SparkSession, config: LoaderConfig,
               num_fields: int | None = None) -> DataFrame:
    """Decode via the pluggable format registry (sources/registry.py) —
    the Spark analogue of getRowRecordDecoder
    (AbstractClickhouseLoaderMapper.java:147-150)."""
    from .sources.registry import get_decoder
    if config.input_format == "text" and num_fields is None:
        # infer the source width from the first line (the reference
        # decodes per-row with no declared width; a DataFrame needs a
        # fixed projection) — trailing-empty-field semantics included
        first = spark.read.text(config.export_dir).first()
        sep = config.fields_terminated_by
        num_fields = (first["value"].count(sep) + 1) if first else 1
    return get_decoder(config.input_format)(
        spark, config.export_dir, sep=config.fields_terminated_by,
        num_fields=num_fields)


def run_load(config: LoaderConfig, spark: SparkSession,
             source_df: DataFrame | None = None,
             backoff_scale: float = 1.0) -> dict:
    host, http_port, database = _parse_connect(config.connect)
    cli = get_client(host, http_port, user=config.username,
                     password=config.password, database=database)

    # step 2 — resolve the distributed target
    create_ddl = catalog.fetch_create_table(cli, database, config.table)
    dist = resolve_distributed(create_ddl)
    if dist is None:
        raise ValueError(f"{database}.{config.table} is not a Distributed table "
                         "(reference requires Distributed targets)")
    topology = catalog.fetch_topology(cli, dist.cluster)
    local_ddl = catalog.fetch_create_table(
        cli, dist.local_database, dist.local_table)
    describe = catalog.fetch_describe(cli, dist.local_database, dist.local_table)
    target_width = len(describe)
    replicated = "Replicated" in local_ddl

    # the connect URL's port reaches only the entry node above; every
    # topology host is reached through this handle
    cluster = LifecycleManager.from_config(topology, config, backoff_scale)
    target_table = dist.local_table
    # step 3 — daily tables
    if config.daily and config.dt:
        target_table = cluster.create_daily_tables(
            local_ddl, dist.local_database, dist.local_table, config.dt,
            mode=config.mode)
        # started-and-joined worker thread; expiry failure logs, never
        # aborts the load (ClickhouseHdfsLoader.java:133-139)
        cluster.expire_daily_tables_task(
            dist.local_database, dist.local_table, config.dt,
            config.daily_expires, config.daily_expires_process,
            distributed_database=database)

    # step 4 — read + transform
    df = source_df if source_df is not None else read_input(spark, config)
    string_positions = {i for i, (_n, typ) in enumerate(describe)
                        if typ in ("String", "Nullable(String)")}
    df = transform_pipeline(
        df, exclude=config.exclude_fields,
        input_path=config.export_dir if config.extract_hive_partitions else "",
        additional=config.additional_cols,
        target_width=target_width,
        null_string=config.null_string,
        null_non_string=config.null_non_string,
        escape_null=config.escape_null,
        target_string_positions=string_positions)

    # sharding key: positional index in the TARGET schema → our column name
    # at the same position (ClickhouseHdfsLoader.java:310-329)
    key = dist.sharding_key
    if key is not None:
        idx = catalog.sharding_key_index_or_none(describe, key)
        key_col = df.columns[idx] if idx is not None else df.columns[0]
    else:
        key_col = df.columns[0]

    # step 5+6 — the one cluster action
    prefix = temp_table_prefix(target_table, config.dt or "00000000")
    try:
        if config.direct:
            return write_direct(df, key_col, cluster, config,
                                database=dist.local_database,
                                table=target_table, replicated=replicated)
        plan = staged_load(df, key_col, cluster, config,
                           create_ddl=local_ddl,
                           target_database=dist.local_database,
                           target_table=target_table, prefix=prefix,
                           replicated=replicated)
        return {"staged_tables": len(plan.temp_tables)}
    finally:
        # step 7 — GC this run's leftovers from aborted attempts; the run
        # prefix leaves a concurrent load of the same table alone
        cluster.clean_temp_tables(prefix)


def main(argv: list[str] | None = None) -> int:
    from .session import get_spark
    config = parse_args(argv)
    spark = get_spark(app_name=f"load-{config.table}", extra_conf={
        "spark.sql.files.maxPartitionBytes": str(config.input_split_max_bytes)})
    try:
        stats = run_load(config, spark)
        print(stats)
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
