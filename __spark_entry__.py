"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The actual registry lives in
``clickhouse_hdfs_loader_spark/plans/queries.py`` — one entry per operator
from SURVEY.md §2 plus the [EXT] LLM-pipeline operators.

Callers of this module build their own session, so ``session.get_spark``
never runs on it: ``entry`` and every ``queries()`` function first call
``session.ship_package`` so that the session's Python workers can import
the package.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# resolvable regardless of the driver's CWD
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
from clickhouse_hdfs_loader_spark.session import ship_package


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's full mapper transform chain
    (T3→T4→T6→T7→T9) + aggregation on sf0.001 lineitem."""
    ship_package(spark)
    return REGISTRY["transform_chain"].fn(spark, "/root/testdata/sf0.001")


def _shipped(fn: Callable[[SparkSession, str], DataFrame]
             ) -> Callable[[SparkSession, str], DataFrame]:
    """``fn`` on a session whose Python workers can import the package
    (the caller's session is built without ``session.get_spark``)."""
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(ship_package(spark), sf_dir)
    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _shipped(spec.fn) for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items()
            if spec.oracle is not None}
