"""Loader configuration mirroring the reference CLI.

Every option below corresponds 1:1 to an args4j option in the reference's
``MainCliParameterParser.java:14-106`` (names kept, ``--`` and ``-``
normalized to underscores). Defaults are the reference's code defaults —
note the documented batch-size (196608, README.md:5) disagrees with the
code default (150000, MainCliParameterParser.java:45); we keep the code
default like the reference binary actually does.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass


@dataclass
class LoaderConfig:
    # I/O  (MainCliParameterParser.java:17-24)
    connect: str = ""                      # jdbc:clickhouse://host:port/db
    driver: str = "clickhouse"             # jdbc driver selector
    export_dir: str = ""                   # HDFS input dir
    clickhouse_format: str = "TabSeparated"  # ConfigurationOptions.java:47-71
    # Row shaping  (:26-42)
    fields_terminated_by: str = "|"        # default delimiter (:26-27)
    null_string: str = ""                  # string-col null subst (:29-30)
    null_non_string: str = "0"             # non-string-col null subst (:32-33)
    replace_char: str = " "                # in-field delimiter subst (:38-39)
    escape_null: bool = True               # three-way null rule (:105-106)
    # Batching / retry  (:44-48)
    batch_size: int = 150_000
    max_tries: int = 3
    # Target table  (:50-63)
    table: str = ""
    dt: str = ""                           # partition date YYYY-MM-DD
    daily: bool = False                    # deprecated daily tables (:65-66)
    daily_expires: int = 3                 # (:68-69)
    daily_expires_process: str = "merge"   # merge|drop (:70)
    mode: str = "append"                   # append|drop (:67)
    loader_task_executor: int = 1          # reducer multiplier (:72-73)
    extract_hive_partitions: bool = False  # (:75-76)
    exclude_fields: tuple[int, ...] = ()   # 0-based source indexes (:84-85)
    additional_cols: tuple[str, ...] = ()  # constant appends (:93-94)
    direct: bool = False                   # direct vs two-phase (:96-97)
    input_format: str = "text"             # text|orc|parquet (:99-100)
    input_split_max_bytes: int = 268_435_456  # 256 MiB (:102-103)
    clickhouse_http_port: int = 8123
    username: str = "default"              # ClickHouse auth (:87-88)
    password: str = ""                     # (:90-91)
    num_reduce_tasks: int = -1             # reduce-task count (:50)
    mapper_class: str = ""                 # deprecated alias of -i (:62)

    # no longer sizes the write; perfbench/trace.py imports it for its route prefix
    def tasks_per_shard(self, num_shards: int) -> int:
        """P4 sizing: ``--num-reduce-tasks`` (total reduce tasks) wins when
        set, else shards × ``--loader-task-executor``
        (ClickhouseHdfsLoader.java:142-154)."""
        if self.num_reduce_tasks > 0:
            return max(1, -(-self.num_reduce_tasks // max(1, num_shards)))
        return self.loader_task_executor


def _parse_int_set(s: str) -> tuple[int, ...]:
    return tuple(int(x) for x in s.split(",") if x.strip() != "")


def parse_args(argv: list[str] | None = None) -> LoaderConfig:
    p = argparse.ArgumentParser(prog="clickhouse-hdfs-loader-spark")
    # --connect/--table/--export-dir/--dt are required=true in the
    # reference (MainCliParameterParser.java:14,20,23,41)
    p.add_argument("--connect", required=True)
    p.add_argument("--driver", default="clickhouse")
    p.add_argument("--export-dir", dest="export_dir", required=True)
    p.add_argument("--clickhouse-format", dest="clickhouse_format", default="TabSeparated")
    p.add_argument("--fields-terminated-by", dest="fields_terminated_by", default="|")
    p.add_argument("--null-string", dest="null_string", default="")
    p.add_argument("--null-non-string", dest="null_non_string", default="0")
    p.add_argument("--replace-char", dest="replace_char", default=" ")
    p.add_argument("--escape-null", dest="escape_null", default="true")
    p.add_argument("--batch-size", dest="batch_size", type=int, default=150_000)
    p.add_argument("--max-tries", dest="max_tries", type=int, default=3)
    p.add_argument("--table", required=True)
    p.add_argument("--dt", required=True)
    p.add_argument("--daily", default="false")
    p.add_argument("--daily-expires", dest="daily_expires", type=int, default=3)
    p.add_argument("--daily-expires-process", dest="daily_expires_process", default="merge")
    p.add_argument("--mode", default="append")
    p.add_argument("--loader-task-executor", dest="loader_task_executor", type=int, default=1)
    p.add_argument("--extract-hive-partitions", dest="extract_hive_partitions", default="false")
    p.add_argument("--exclude-fields", dest="exclude_fields", default="")
    p.add_argument("--additional-cols", dest="additional_cols", default="")
    p.add_argument("--direct", default="false")
    # "-i" is the reference's PRIMARY spelling (MainCliParameterParser
    # .java:56); "--input-format" is its deprecated alias (:59).
    # default=None so an EXPLICIT "-i text" is distinguishable from the
    # default: any non-blank -i takes priority over --mapper-class
    # (ClickhouseHdfsLoader.java:165)
    p.add_argument("-i", "--input-format", dest="input_format", default=None)
    p.add_argument("--input-split-max-bytes", dest="input_split_max_bytes", type=int,
                   default=268_435_456)
    p.add_argument("--clickhouse-http-port", dest="clickhouse_http_port", type=int, default=8123)
    p.add_argument("--username", default="default")
    p.add_argument("--password", default="")
    p.add_argument("--num-reduce-tasks", dest="num_reduce_tasks", type=int, default=-1)
    p.add_argument("--mapper-class", dest="mapper_class", default="")
    ns = p.parse_args(argv)

    # deprecated --mapper-class (MainCliParameterParser.java:62): derive the
    # input format from the reference mapper class name whenever -i is
    # absent OR blank (ClickhouseHdfsLoader.java:165 gates on
    # StringUtils.isNotBlank — only a non-blank -i takes priority)
    if ns.input_format is None or not ns.input_format.strip():
        if ns.mapper_class:
            ns.input_format = ("orc" if "orc" in ns.mapper_class.lower()
                               else "text")
        else:
            ns.input_format = "text"

    def b(v: str | bool) -> bool:
        return v if isinstance(v, bool) else v.strip().lower() in ("true", "1", "yes")

    return LoaderConfig(
        connect=ns.connect, driver=ns.driver, export_dir=ns.export_dir,
        clickhouse_format=ns.clickhouse_format,
        fields_terminated_by=ns.fields_terminated_by,
        null_string=ns.null_string, null_non_string=ns.null_non_string,
        replace_char=ns.replace_char, escape_null=b(ns.escape_null),
        batch_size=ns.batch_size, max_tries=ns.max_tries, table=ns.table,
        dt=ns.dt, daily=b(ns.daily), daily_expires=ns.daily_expires,
        daily_expires_process=ns.daily_expires_process, mode=ns.mode,
        loader_task_executor=ns.loader_task_executor,
        extract_hive_partitions=b(ns.extract_hive_partitions),
        exclude_fields=_parse_int_set(ns.exclude_fields),
        additional_cols=tuple(x for x in ns.additional_cols.split(",") if x != ""),
        direct=b(ns.direct), input_format=ns.input_format,
        input_split_max_bytes=ns.input_split_max_bytes,
        clickhouse_http_port=ns.clickhouse_http_port,
        username=ns.username, password=ns.password,
        num_reduce_tasks=ns.num_reduce_tasks, mapper_class=ns.mapper_class,
    )
