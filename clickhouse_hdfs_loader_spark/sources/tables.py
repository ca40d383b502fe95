"""Columnar sources: Parquet / ORC readers over the test-data star schema.

Reference coverage: ORC source = OrcLoaderMapper.java:22-30 +
OrcRecordDecoder.java:26-45 (positional struct fields coerced to string);
Parquet is [EXT] (the driver's fixtures are parquet — SURVEY §2.C). At
scale both formats give Catalyst predicate pushdown, column pruning and
partition pruning for free; readers here simply centralize table access.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize_event_time(spark: SparkSession, df: DataFrame,
                         col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP_LTZ regardless of the
    parquet physical type. The fixtures have shipped as both
    TIMESTAMP(NANOS) (read as raw ns-long under ``nanosAsLong``) and plain
    ``timestamp[us]`` (read as TIMESTAMP_NTZ by Spark 4); downstream code
    (``unix_micros``, ``session_window``, ``withWatermark``) requires LTZ.
    """
    for f_ in df.schema.fields:
        if f_.name != col:
            continue
        tn = f_.dataType.typeName()
        if tn in ("long", "bigint"):
            # TIMESTAMP(NANOS) under nanosAsLong: raw ns since epoch.
            # Truncate to µs with integer DIV (a double round-trip loses
            # precision at 2^63 ns scale) exactly like DuckDB's ns→µs read.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} DIV 1000")))
        elif tn == "timestamp_ntz":
            # timestamp[us] physical: DuckDB reads the same file as a naive
            # timestamp, so interpreting the naive value as UTC keeps epoch
            # outputs hash-identical. Session timezone is runtime-settable
            # and must be pinned even under a caller-provided vanilla
            # session (the driver's).
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # runtime-settable; required even under a caller-provided vanilla
        # session (the driver's), not just our session factory. Harmless
        # when the file is already timestamp[us].
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        df = normalize_event_time(spark, df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Expose every table as a SQL view so ``spark.sql`` mirrors the DuckDB
    oracle's pre-registered views."""
    for t in TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)


def read_orc_stringly(spark: SparkSession, path: str) -> DataFrame:
    """ORC read with every field coerced to string — byte-parity with the
    reference's ``OrcStruct.getFieldValue(i).toString()`` decode
    (OrcRecordDecoder.java:32-45). Prefer native types when the target
    schema is known; this exists for strict parity loads."""
    df = spark.read.orc(path)
    return df.select([F.col(c).cast("string").alias(c) for c in df.columns])
