"""Input decoding by ``-i`` name — the Spark side of the reference's
decoder pair ``RecordDecoder``/``RowRecordDecoder`` (RecordDecoder.java:
7-14, RowRecordDecoder.java:8-25), which
``AbstractClickhouseLoaderMapper.getRowRecordDecoder``
(AbstractClickhouseLoaderMapper.java:147-150) picks per input format
(TextLoaderMapper/OrcLoaderMapper). ``decode`` knows a fixed set of
formats; a new one is one more branch here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def decode(spark: SparkSession, input_format: str, path: str, *, sep: str,
           num_fields: int | None = None) -> DataFrame:
    """Read ``path`` as ``input_format``; ``sep`` and ``num_fields`` apply
    to the delimited formats (text, csv)."""
    if input_format == "text":
        from .text import read_delimited
        return read_delimited(spark, path, sep=sep, num_fields=num_fields)
    if input_format == "orc":
        from .tables import read_orc_stringly
        return read_orc_stringly(spark, path)
    if input_format == "parquet":
        return spark.read.parquet(path)
    if input_format == "csv":
        # no inferSchema: every field arrives as string, exactly like the
        # text decoder — the transform chain owns typing (T2/T4 semantics)
        df = spark.read.option("sep", sep).csv(path)
        if num_fields is not None and len(df.columns) != num_fields:
            raise ValueError(f"csv width {len(df.columns)} != declared {num_fields}")
        return df
    if input_format == "json":
        # JSON-lines with inferred schema; Spark orders inferred fields
        # alphabetically, which makes positional ops (T3 exclusion, T9
        # width) deterministic. Stringly-coerced like the ORC decoder so
        # the downstream chain is format-agnostic.
        from pyspark.sql import functions as F
        df = spark.read.json(path)
        return df.select([F.col(c).cast("string").alias(c) for c in df.columns])
    raise ValueError(f"unknown input format {input_format!r}; known: "
                     "text, orc, parquet, csv, json")
