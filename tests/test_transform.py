"""Unit tests for the T1–T10 transform dataflow, modeled on the reference's
own tests (TextRecordDecoderTest.java, TextLoaderMapperTest.java) and the
quick-start worked example (doc/quick-start.md, FIXTURES.md §2)."""

from __future__ import annotations

from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from clickhouse_hdfs_loader_spark.clickhouse.writer import serialize_for_load
from clickhouse_hdfs_loader_spark.config import LoaderConfig
from clickhouse_hdfs_loader_spark.operators import transform as T


def wire_lines(df, fmt="TabSeparated"):
    """T10 — the loader's wire line per row, built as the write tasks
    build it: ``serialize_for_load``'s projection, then
    ``WireFormat.lines`` over its Arrow batches."""
    serialized, wire = serialize_for_load(df, df.columns[0],
                                          LoaderConfig(clickhouse_format=fmt))
    return [line for batch in serialized.toArrow().to_batches()
            for line in wire.lines(batch).to_pylist()]


def test_tokenize_trailing_delimiter(spark):
    # TextRecordDecoder.java:41-44 — a line ending in the delimiter yields a
    # final empty field (13 fields for the TextLoaderMapperTest.java:26 row).
    line = "xxx|网络汇总|版本汇总|搜索|关键字搜索|0|6418521|20317388|100|xxx|\\N|2017-03-13|"
    df = spark.createDataFrame([(line,)], ["value"])
    out = T.tokenize_lines(df, "|", num_fields=13).first()
    assert out["c12"] == ""          # trailing empty field kept
    assert out["c10"] == "\\N"       # literal null marker untouched by T1
    assert out["c1"] == "网络汇总"


def test_tokenize_array_mode(spark):
    df = spark.createDataFrame([("a|b|",), ("x",)], ["value"])
    rows = T.tokenize_lines(df, "|").select(F.size("fields").alias("n")).collect()
    assert sorted(r["n"] for r in rows) == [1, 3]


def test_exclude_columns_quickstart_invariant(spark):
    # doc/quick-start.md:88 — 22 source fields − 9 excluded = 13 target cols.
    df = spark.createDataFrame([tuple(str(i) for i in range(22))],
                               [f"f{i}" for i in range(22)])
    out = T.exclude_columns(df, (0, 9, 10, 13, 14, 15, 16, 17, 18))
    assert len(out.columns) == 13
    # surviving source field 19 (etldate position) is retained in order
    assert out.columns[10] == "f19"
    T.validate_width(out, 13)
    with pytest.raises(ValueError):
        T.validate_width(out, 12)


def test_null_normalize_string_and_non_string(spark):
    df = spark.createDataFrame(
        [("ok", 1), ("\\N", None), (None, 3)], ["s", "i"])
    out = T.null_normalize(df, null_string="", null_non_string="0").collect()
    vals = {(r["s"], r["i"]) for r in out}
    assert ("ok", 1) in vals
    assert ("", 0) in vals          # \N → "" (string), null int → 0
    assert ("", 3) in vals


def test_null_normalize_escape_false_keeps_marker(spark):
    df = spark.createDataFrame([("\\N",), (None,), ("v",)], ["s"])
    out = T.null_normalize(df, escape_null=False).collect()
    assert sorted(r["s"] for r in out) == ["\\N", "\\N", "v"]


def test_hive_partition_extraction_and_append(spark):
    path = "/data/hive/t1/dt=2017-01-07/hour=12/part-0000"
    assert T.extract_hive_partitions(path) == [("dt", "2017-01-07"), ("hour", "12")]
    df = spark.createDataFrame([(1,)], ["x"])
    out = T.append_hive_partitions(df, path)
    assert out.columns == ["x", "dt", "hour"]
    assert out.first()["dt"] == "2017-01-07"


def test_additional_columns_and_serialize(spark):
    df = spark.createDataFrame([("a", 1)], ["s", "i"])
    out = T.append_additional_columns(df, ("2017-01-07", "9"))
    assert out.columns == ["s", "i", "addcol0", "addcol1"]
    line = wire_lines(out, "TabSeparated")[0]
    assert line == "a\t1\t2017-01-07\t9"
    csv = wire_lines(out, "CSV")[0]
    assert csv == "a,1,2017-01-07,9"


def test_full_pipeline_width(spark):
    df = spark.createDataFrame([("a", "b", "c", "d")], ["f0", "f1", "f2", "f3"])
    out = T.transform_pipeline(
        df, exclude=(1,), input_path="/in/dt=2020-01-01",
        additional=("k",), target_width=5)
    assert out.columns == ["f0", "f2", "f3", "dt", "addcol0"]


def test_count_malformed(spark):
    df = spark.createDataFrame(
        [("row", None), ("bad", "raw"), ("row2", None)],
        ["v", "_corrupt_record"])
    stats = T.count_malformed(df)
    assert (stats.total, stats.rejected) == (3, 1)


def test_serialize_nulls_as_marker(spark):
    # concat_ws drops nulls by default — serialization must emit \N and
    # keep the column count stable (wire-format width invariant)
    df = spark.createDataFrame([("a", None, 1), (None, "b", None)],
                               ["s1", "s2", "i"])
    lines = sorted(wire_lines(df))
    assert lines == ["\\N\tb\t\\N", "a\t\\N\t1"]


@pytest.mark.parametrize(
    "fmt", ["TabSeparated", "CSV", "TabSeparatedWithNamesAndTypes"])
def test_arrow_wire_lines_match_jvm_wire_line_col(spark, fmt):
    """The write tasks' Arrow wire lines equal the JVM ``wire_line_col``
    line for every row: sanitized separators, backslashes, newlines and
    CRs, nulls and a literal ``\\N``, empty and non-ASCII strings, and
    Spark's cast-to-string formatting of non-string columns."""
    schema = ("id INT, s STRING, t STRING, i LONG, d DOUBLE, "
              "m DECIMAL(10,3), day DATE, ts TIMESTAMP, b BOOLEAN")
    ts = datetime(2017, 1, 7, 12, 0, 1, 500)
    df = spark.createDataFrame([
        (1, "a\tb,c", "c\\d", 7, 1.5, Decimal("1.250"), date(2017, 1, 7),
         ts, True),
        (2, "e\nf\rg", None, None, None, None, None, None, None),
        (3, "\\N", "", -3, 1e20, Decimal("-0.001"), date(1970, 1, 1),
         datetime(1999, 12, 31, 23, 59, 59), False),
        (4, "数据\tключ", "café\r\n\\", 2**40, -0.25, Decimal("0.000"),
         date(2024, 2, 29), ts, None),
        (5, None, ",\t,", 0, float("nan"), Decimal("1234567.5"), None, ts,
         True),
    ], schema)
    ref = [r[0] for r in df.select(T.wire_line_col(
        df, df.columns, T.wire_separator(fmt))).collect()]
    got = wire_lines(df, fmt)
    assert sorted(got) == sorted(ref) and len(got) == 5
    if fmt == "TabSeparated":
        assert sorted(got)[0] == ("1\ta b,c\tc/d\t7\t1.5\t1.250\t2017-01-07\t"
                                  "2017-01-07 12:00:01.0005\ttrue")


def test_permissive_csv_reject_accounting(spark, tmp_path):
    # source-level reject counter: PERMISSIVE typed read marks rows whose
    # fields don't parse; count_malformed mirrors the reference's
    # "Illegal format records" counter (W6)
    from clickhouse_hdfs_loader_spark.sources.text import read_delimited
    p = tmp_path / "in.txt"
    p.write_text("1|a\n2|b\nxx|c\n3|d\n")
    df = read_delimited(spark, str(p), sep="|",
                        schema="id INT, name STRING, _corrupt_record STRING")
    df = df.cache()  # SPARK-21610: corrupt-col-only queries need persisted input
    stats = T.count_malformed(df)
    assert (stats.total, stats.rejected) == (4, 1)


def test_json_tabularize_typed_and_permissive(spark, sf_dir, tmp_path):
    """from_json under an explicit schema: typed columns come back
    exactly (DuckDB json_extract twin over the same serialized rows);
    malformed JSON and missing keys yield NULL fields, not failures."""
    import duckdb
    from pyspark.sql import functions as F
    from clickhouse_hdfs_loader_spark.operators.transform import (
        json_tabularize)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    docs = read_table(spark, sf_dir, "documents")
    js = docs.select(
        "doc_id",
        F.to_json(F.struct("lang", "n_chars",
                           F.struct(F.col("source").alias("d")).alias("meta"))
                  ).alias("payload"))
    path = str(tmp_path / "js")
    js.write.parquet(path)
    back = spark.read.parquet(path)
    got = sorted(map(tuple, json_tabularize(
        back, "payload",
        "lang string, n_chars long, meta struct<d: string>",
        keep=("doc_id",))
        .select("doc_id", "lang", "n_chars", F.col("meta.d").alias("d"))
        .collect()))
    con = duckdb.connect()
    want = sorted(map(tuple, con.execute(f"""
        SELECT doc_id,
               json_extract_string(payload, '$.lang') AS lang,
               CAST(json_extract(payload, '$.n_chars') AS BIGINT) AS n_chars,
               json_extract_string(payload, '$.meta.d') AS d
        FROM '{path}/*.parquet'
    """).fetchall()))
    assert got == want and len(got) > 0
    bad = spark.createDataFrame(
        [(1, '{"lang": "en", "n_chars": 7}'),   # missing meta -> NULL
         (2, 'not json at all'),                # corrupt -> all NULL
         (3, None)],                            # null input -> all NULL
        ["doc_id", "payload"])
    rows = {r["doc_id"]: r for r in json_tabularize(
        bad, "payload", "lang string, n_chars long, meta struct<d: string>",
        keep=("doc_id",)).collect()}
    assert rows[1]["lang"] == "en" and rows[1]["meta"] is None
    assert rows[2]["lang"] is None and rows[3]["n_chars"] is None


def test_json_tabularize_rejects_column_collisions(spark):
    import pytest as PT
    from clickhouse_hdfs_loader_spark.operators.transform import (
        json_tabularize)
    df = spark.createDataFrame([(1, '{"doc_id": 9, "x": "a"}')],
                               ["doc_id", "payload"])
    with PT.raises(ValueError, match="collide"):
        json_tabularize(df, "payload", "doc_id long, x string",
                        keep=("doc_id",))
    with PT.raises(ValueError, match="reserved"):
        json_tabularize(df, "payload", "x string", keep=("_j",))
    ok = json_tabularize(df, "payload", "x string", keep=("doc_id",))
    assert ok.columns == ["doc_id", "x"]
