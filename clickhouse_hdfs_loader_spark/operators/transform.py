"""Row-transformation dataflow (reference operators T1–T10, SURVEY §2.A).

The reference applies, per input line: decode/tokenize → positional column
exclusion → null normalization → field sanitization → hive-partition
append → additional constant columns → row-width validation → serialize
(AbstractClickhouseLoaderMapper.java:128-248). Here each step is a pure
``DataFrame -> DataFrame`` function; Catalyst fuses the whole chain into a
single whole-stage-codegen projection, so at 100 TB the pipeline is one
scan + one narrow map stage with zero shuffles.

Positional semantics: the reference has no column names in flight — all
ops are index arithmetic (RowRecordDecoderConfigurable.java:22-27,65-78).
We keep named columns (so Catalyst can prune/push down) but expose
index-based APIs that resolve through ``df.columns`` ordering.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hive partition path segment, e.g. ``dt=2017-01-07`` — same charset as the
# reference's pattern (AbstractClickhouseLoaderMapper.java:40,658-676).
HIVE_PARTITION_RE = r"([0-9a-zA-Z_]+)=([0-9a-zA-Z_\-]+)"


def tokenize_lines(df: DataFrame, sep: str = "|", line_col: str = "value",
                   num_fields: int | None = None,
                   prefix: str = "c") -> DataFrame:
    """T1 — split a line column on a single-char delimiter.

    Matches TextRecordDecoder.java:19-46: no quoting/escaping, and a
    trailing delimiter yields a final empty field — hence ``limit=-1``
    (``str.split``-style trailing-empty dropping would be wrong).

    If ``num_fields`` is given, fields are projected out as columns
    ``{prefix}0..{prefix}{n-1}`` (missing → null), mirroring the decoder's
    fixed-width iteration.
    """
    toks = F.split(F.col(line_col), re.escape(sep), -1)
    if num_fields is None:
        return df.withColumn("fields", toks)
    cols = [toks.getItem(i).alias(f"{prefix}{i}") for i in range(num_fields)]
    return df.select(*cols)


def exclude_columns(df: DataFrame, exclude_indexes: tuple[int, ...]) -> DataFrame:
    """T3 — drop columns by 0-based source index, keep order dense.

    Mirrors RowRecordDecoderConfigurable.java:36-42,65-78 (cursor /
    target-column-cursor re-numbering). Catalyst turns this into column
    pruning at the scan — excluded columns are never read from parquet/ORC.
    """
    keep = [c for i, c in enumerate(df.columns) if i not in set(exclude_indexes)]
    return df.select(*keep)


def null_normalize(df: DataFrame, string_cols: set[str] | None = None,
                   null_string: str = "", null_non_string: str = "0",
                   escape_null: bool = True) -> DataFrame:
    """T4 — three-way null rule (AbstractClickhouseLoaderMapper.java:189-199).

    null / literal ``\\N`` → ``null_string`` for string-typed target columns,
    ``null_non_string`` otherwise; with ``escape_null=False`` the literal
    ``\\N`` marker is preserved (ClickHouse-native NULL). "Is string" is
    decided by the *target* column type in the reference
    (ClickhouseLoaderContext.java:98-111); callers pass that set, defaulting
    to the DataFrame's own string columns.
    """
    if string_cols is None:
        string_cols = {f.name for f in df.schema.fields if f.dataType.typeName() == "string"}
    out = []
    for f_ in df.schema.fields:
        c = F.col(f_.name)
        if f_.dataType.typeName() != "string":
            out.append(F.when(c.isNull(), F.lit(None if not escape_null else null_non_string)
                              .cast(f_.dataType)).otherwise(c).alias(f_.name)
                       if escape_null else c.alias(f_.name))
            continue
        is_null = c.isNull() | (c == F.lit("\\N"))
        subst = null_string if f_.name in string_cols else null_non_string
        if escape_null:
            out.append(F.when(is_null, F.lit(subst)).otherwise(c).alias(f_.name))
        else:
            out.append(F.when(is_null, F.lit("\\N")).otherwise(c).alias(f_.name))
    return df.select(*out)


def extract_hive_partitions(path: str) -> list[tuple[str, str]]:
    """T6 (driver side) — ordered ``k=v`` pairs parsed from an input path,
    same regex walk as AbstractClickhouseLoaderMapper.java:658-676.
    """
    return re.findall(HIVE_PARTITION_RE + r"(?=/|$)", path)


def append_hive_partitions(df: DataFrame, path: str) -> DataFrame:
    """T6 — append each path partition value as a trailing constant column
    (AbstractClickhouseLoaderMapper.java:210-226). For real partitioned
    datasets prefer ``spark.read.option('basePath', ...)`` which lets
    Catalyst *prune* partitions; this literal form is for parity.
    """
    out = df
    for k, v in extract_hive_partitions(path):
        out = out.withColumn(k, F.lit(v))
    return out


def append_additional_columns(df: DataFrame, values: tuple[str, ...],
                              prefix: str = "addcol") -> DataFrame:
    """T7 — constant columns appended after hive partitions
    (AbstractClickhouseLoaderMapper.java:227-240). The reference appends
    *values* only (no names); we synthesize names for Spark.
    """
    out = df
    for i, v in enumerate(values):
        out = out.withColumn(f"{prefix}{i}", F.lit(v))
    return out


def validate_width(df: DataFrame, expected: int) -> DataFrame:
    """T9 — the produced column count must equal the target table width or
    the load aborts (AbstractClickhouseLoaderMapper.java:207,242-245; the
    per-row "Illegal format records" counter is :133-139). With a typed
    DataFrame this is a plan-time check, not a per-row one — malformed rows
    are handled at the source (PERMISSIVE mode + corrupt-record column).
    """
    if len(df.columns) != expected:
        raise ValueError(
            f"Illegal format: produced {len(df.columns)} columns, target "
            f"table expects {expected} (reference: 'clickhouse table column "
            f"size must be equal to the size of output fields')")
    return df


#: the reference's closed FORMAT set (ConfigurationOptions.java:45-69,
#: ``ClickhouseFormats`` enum) — anything else raised
#: UnsupportedOperationException there and ValueError here.
CLICKHOUSE_FORMATS: dict[str, str] = {
    "TabSeparated": "\t",
    "TabSeparatedWithNames": "\t",
    "TabSeparatedWithNamesAndTypes": "\t",
    "TabSeparatedRaw": "\t",
    "CSV": ",",
    "CSVWithNames": ",",
}

#: Spark → ClickHouse type names for the WithNamesAndTypes header row.
_CLICKHOUSE_TYPES = {
    "byte": "Int8", "short": "Int16", "integer": "Int32", "long": "Int64",
    "float": "Float32", "double": "Float64", "boolean": "UInt8",
    "string": "String", "date": "Date", "timestamp": "DateTime64(6)",
    "binary": "String",
}


def wire_separator(fmt: str) -> str:
    """FORMAT → field separator (ConfigurationOptions.java:45-69:
    TabSeparated* → ``\\t``, CSV* → ``,``); unknown names rejected like the
    reference enum constructor."""
    try:
        return CLICKHOUSE_FORMATS[fmt]
    except KeyError:
        raise ValueError(f"Unsupported Clickhouse Format: {fmt!r} "
                         f"(supported: {sorted(CLICKHOUSE_FORMATS)})") from None


def format_header_lines(fmt: str, df: DataFrame,
                        data_cols: list[str]) -> list[str]:
    """Per-INSERT header rows for the WithNames[AndTypes] FORMAT variants:
    ClickHouse expects the payload's first row(s) to carry column names
    (and types) for those formats, so every batch INSERT must lead with
    them. Bare formats get no header rows."""
    sep = wire_separator(fmt)
    if not fmt.endswith(("WithNames", "WithNamesAndTypes")):
        return []
    lines = [sep.join(data_cols)]
    if fmt.endswith("AndTypes"):
        spark_types = {f.name: f.dataType.typeName() for f in df.schema.fields}
        lines.append(sep.join(
            _CLICKHOUSE_TYPES.get(spark_types.get(c, "string"), "String")
            for c in data_cols))
    return lines


def wire_line_col(df: DataFrame, data_cols: list[str], sep: str,
                  replace_char: str = " ") -> F.Column:
    """One serialized wire line as a Column: T5 sanitize on string fields —
    wire separator → ``replace_char``, ``\\`` → ``/``
    (AbstractClickhouseLoaderMapper.java:201) plus newline/CR →
    ``replace_char`` because payload rows join on ``\\n`` — then nulls →
    ``\\N`` and ``concat_ws``. Unsanitized tabs/newlines in a value would
    shift the row width or split the row on the TabSeparated wire.

    The loader builds the same line on Arrow in its write tasks
    (``clickhouse.writer.WireFormat.lines``); this JVM form is the
    reference its parity test compares against. ``translate`` maps
    characters by position, so it is exact only for a one-character
    ``replace_char``.
    """
    string_cols = {f.name for f in df.schema.fields
                   if f.dataType.typeName() == "string"}
    parts = []
    for c in data_cols:
        col = F.col(c)
        if c in string_cols:
            col = F.translate(col, sep + "\\\n\r",
                              replace_char + "/" + replace_char * 2)
        parts.append(F.coalesce(col.cast("string"), F.lit("\\N")))
    return F.concat_ws(sep, *parts)


@dataclass
class RejectStats:
    """W6 — load accounting (AbstractClickhouseLoaderMapper.java:133-139)."""
    total: int = 0
    rejected: int = 0


def count_malformed(df: DataFrame, corrupt_col: str = "_corrupt_record") -> RejectStats:
    """Count PERMISSIVE-mode rejects in one pass (distributed, no collect).

    Spark forbids aggregating the internal corrupt-record column straight
    off a CSV/JSON scan (SPARK-21610) — persist the parsed frame first
    (``df.cache()``) when the frame comes directly from a reader.
    """
    row = df.select(
        F.count(F.lit(1)).alias("total"),
        F.count(F.col(corrupt_col)).alias("rejected"),
    ).first()
    return RejectStats(total=row["total"], rejected=row["rejected"])


def transform_pipeline(df: DataFrame, *, exclude: tuple[int, ...] = (),
                       input_path: str = "", additional: tuple[str, ...] = (),
                       target_width: int | None = None,
                       null_string: str = "", null_non_string: str = "0",
                       escape_null: bool = True,
                       target_string_positions: set[int] | None = None) -> DataFrame:
    """The full reference dataflow T3→T4→T6→T7→T9 as one fused projection.

    ``target_string_positions``: 0-based positions (post-exclusion) whose
    TARGET column type is String/Nullable(String) — the reference picks the
    null substitution by target type, not source type
    (ClickhouseLoaderContext.java:98-111).
    """
    out = exclude_columns(df, exclude)
    string_cols = None
    if target_string_positions is not None:
        string_cols = {c for i, c in enumerate(out.columns)
                       if i in target_string_positions}
    out = null_normalize(out, string_cols=string_cols, null_string=null_string,
                         null_non_string=null_non_string, escape_null=escape_null)
    if input_path:
        out = append_hive_partitions(out, input_path)
    if additional:
        out = append_additional_columns(out, additional)
    if target_width is not None:
        validate_width(out, target_width)
    return out


def json_tabularize(df, json_col: str, schema: str,
                    keep: tuple = ()) -> "DataFrame":
    """Parse a JSON string column into typed top-level columns under an
    EXPLICIT schema — schema-on-read without schema INFERENCE (an
    inference pass over 100 TB of logs is a full extra scan; a declared
    schema makes the parse one codegen'd projection). Malformed records
    and missing keys yield NULL fields instead of failing the scan —
    the PERMISSIVE posture an ingest pipeline needs; pair with an
    expectations gate (operators/expectations.py) to count them.
    Extends the reference's fixed TSV/ORC field decode
    (AbstractClickhouseLoaderMapper.java:154-205) to the third common
    log format."""
    if "_j" in keep:
        raise ValueError("'_j' is reserved by json_tabularize")
    parsed = df.select(*keep,
                       F.from_json(F.col(json_col), schema).alias("_j"))
    out = parsed.select(*keep, "_j.*")
    dupes = sorted({c for c in out.columns if out.columns.count(c) > 1})
    if dupes:
        # logs usually repeat the record id inside the JSON — fail HERE
        # with the cause named, not later with AMBIGUOUS_REFERENCE
        raise ValueError(
            f"keep columns collide with JSON schema fields: {dupes}; "
            f"rename one side (e.g. alias the keep column first)")
    return out
