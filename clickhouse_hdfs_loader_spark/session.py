"""SparkSession factory with scale-oriented defaults.

Defaults mirror the reference's performance-relevant knobs (SURVEY §6 /
BASELINE.md): 256 MiB input splits (``--input-split-max-bytes`` default,
MainCliParameterParser.java:102-103) map to
``spark.sql.files.maxPartitionBytes`` (``main.main`` passes the option
through ``extra_conf``); speculative execution is disabled
exactly like ClickhouseHdfsLoader.java:194-197 (duplicate-insert
protection on the write path).

Scale posture (100 TB / 1000 executors): AQE enabled for runtime shuffle
coalescing + skew-join splitting, broadcast threshold left to Spark (dims
like region/nation are broadcast automatically; big joins hint
explicitly), Arrow enabled so the few pandas UDFs are batch-transferred.

How the package reaches Spark's Python workers: the UDFs and the
``mapInArrow`` / ``applyInPandas`` functions Spark sends to them refer to
this package's modules by name, so each worker imports the package.
:func:`ship_package` prepends the package's parent directory to the
session's worker environment (``SparkContext.environment["PYTHONPATH"]``),
which PySpark reads each time it wraps a Python function. That is enough
in local mode, where the workers run on the session's own machine.
``get_spark`` calls it on the session it returns, and
``__spark_entry__.py`` calls it on a session someone else built. On a
cluster the executors need their own copy: ``spark-submit --py-files <zip
of clickhouse_hdfs_loader_spark>`` or the package installed as a wheel on
every node.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds the ``clickhouse_hdfs_loader_spark`` package
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ship_package(spark: SparkSession) -> SparkSession:
    """Put this package on the Python workers' import path; idempotent.

    Python functions wrapped before this call keep the environment they
    were wrapped with, so call it before building any query.
    """
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])
    return spark


def get_spark(
    app_name: str = "clickhouse-hdfs-loader-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "268435456")
        .config("spark.speculation", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # one Arrow batch per ~64k rows: the default 10k splits a typical
        # task's rows into several python round-trips; measured ~1.4× on
        # the Guava-parity routing UDF at sf0.1 (2.4s → 1.7s median),
        # ~1-15 MB per batch at our row widths — safe at executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet carries TIMESTAMP(NANOS) which Spark has no
        # native type for; read as long ns and normalize in sources.tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return ship_package(builder.getOrCreate())
