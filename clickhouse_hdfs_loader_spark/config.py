"""Loader configuration mirroring the reference CLI.

Every field below is one option of the reference's
``MainCliParameterParser.java:14-106``, declared once: ``parse_args``
builds ``--<field-with-dashes>`` from the field's name and type, and the
field holds the only default. Defaults are the reference's code defaults —
note the documented batch-size (196608, README.md:5) disagrees with the
code default (150000, MainCliParameterParser.java:45); we keep the code
default like the reference binary actually does. ``--driver`` and the
deprecated ``--mapper-class`` still parse but have no field: the first
selects nothing here, the second only names the input format.
"""

from __future__ import annotations

import argparse
from dataclasses import dataclass
from typing import get_type_hints


@dataclass
class LoaderConfig:
    # I/O  (MainCliParameterParser.java:17-24)
    connect: str = ""                      # jdbc:clickhouse://host:port/db
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

    # no longer sizes the write; perfbench/trace.py imports it for its route prefix
    def tasks_per_shard(self, num_shards: int) -> int:
        """P4 sizing: ``--num-reduce-tasks`` (total reduce tasks) wins when
        set, else shards × ``--loader-task-executor``
        (ClickhouseHdfsLoader.java:142-154)."""
        if self.num_reduce_tasks > 0:
            return max(1, -(-self.num_reduce_tasks // max(1, num_shards)))
        return self.loader_task_executor


def _flag(value: str) -> bool:
    return value.strip().lower() in ("true", "1", "yes")


# option value text → field value, by the field's annotated type; the
# list options take comma-separated values and skip empty items
_CONVERTERS = {
    bool: _flag, int: int, str: str,
    tuple[int, ...]: lambda s: tuple(int(x) for x in s.split(",") if x.strip()),
    tuple[str, ...]: lambda s: tuple(x for x in s.split(",") if x),
}
# required=true in the reference (MainCliParameterParser.java:14,20,23,41)
_REQUIRED = ("connect", "table", "export_dir", "dt")


def add_option(p: argparse.ArgumentParser, field: str) -> None:
    """``--<field-with-dashes>`` for one ``LoaderConfig`` field, converted
    by the field's type. On a parser built with
    ``argument_default=argparse.SUPPRESS`` an absent option leaves the
    field's default."""
    flags = [f"--{field.replace('_', '-')}"]
    if field == "input_format":
        # -i is the reference's primary spelling (MainCliParameterParser
        # .java:56), --input-format its deprecated alias (:59)
        flags.insert(0, "-i")
    p.add_argument(*flags, required=field in _REQUIRED,
                   type=_CONVERTERS[get_type_hints(LoaderConfig)[field]])


def parse_args(argv: list[str] | None = None) -> LoaderConfig:
    p = argparse.ArgumentParser(prog="clickhouse-hdfs-loader-spark",
                                argument_default=argparse.SUPPRESS)
    for field in get_type_hints(LoaderConfig):
        add_option(p, field)
    p.add_argument("--driver")   # jdbc driver selector: parsed, not used
    p.add_argument("--mapper-class", default="")
    ns = vars(p.parse_args(argv))
    ns.pop("driver", None)
    mapper_class = ns.pop("mapper_class")
    # deprecated --mapper-class (MainCliParameterParser.java:62) names the
    # input format whenever -i is absent OR blank (ClickhouseHdfsLoader
    # .java:165 gates on StringUtils.isNotBlank: only a non-blank -i,
    # "-i text" included, takes priority)
    if not ns.get("input_format", "").strip():
        ns["input_format"] = "orc" if "orc" in mapper_class.lower() else "text"
    return LoaderConfig(**ns)
