"""Delimited-text source (reference operators S1 + T1, SURVEY §2.A).

The reference reads text lines through ``CombineTextInputFormat`` with a
256 MiB max split so small HDFS files are packed into few map tasks
(ConfigurationOptions.java:81-84, ClickhouseHdfsLoader.java:161,
MainCliParameterParser.java:102-103). Spark's file source does the same
packing natively via ``spark.sql.files.maxPartitionBytes`` /
``openCostInBytes`` — set in session.py — so no custom input format is
needed at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.transform import tokenize_lines


def read_delimited(spark: SparkSession, path: str, sep: str = "|",
                   num_fields: int | None = None,
                   schema: str | None = None) -> DataFrame:
    """Read ``sep``-delimited text with the reference's splitter semantics.

    No quoting/escaping and trailing empty fields kept
    (TextRecordDecoder.java:19-46) — i.e. **not** the CSV reader's RFC-4180
    behavior, hence ``spark.read.text`` + split-with-limit=-1. With
    ``schema`` (DDL string) the typed CSV fast path is used instead, with
    quoting disabled to stay byte-compatible.
    """
    if schema is not None:
        return (spark.read.schema(schema)
                .options(sep=sep, quote="", escape="", header="false",
                         mode="PERMISSIVE", columnNameOfCorruptRecord="_corrupt_record")
                .csv(path))
    df = spark.read.text(path)
    return tokenize_lines(df, sep=sep, num_fields=num_fields)
