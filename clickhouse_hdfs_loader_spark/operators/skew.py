"""Skew-handling operators ([EXT] — 100 TB posture, build brief: "skewed
keys → salting or AQE skew-join").

AQE's skew-join splitting (on by default in session.py) covers sort-merge
joins; these helpers cover the two cases AQE does not:

- ``salted_aggregation`` — hot grouping keys: pre-aggregate on
  (key, salt) so the hot key's rows spread over N reducers, then combine.
  Result is EXACTLY the plain groupBy result for algebraic aggregates.
- ``salted_broadcast_left`` — hot join keys against a small-but-not-tiny
  dim: replicate the dim N× with salt, salt the fact side randomly; every
  fact row still matches exactly one dim copy.

``_spread_to_parallelism`` covers the opposite case: too few tasks for a
table that is small in bytes but costly per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to the session's default parallelism.

    For a table that is small in bytes but feeds costly per-row work (a
    Python UDF, a quadratic kernel, the streamed side of a nested-loop
    join): left alone it keeps its input split count, or AQE coalesces
    its exchange by bytes, blind to the per-row CPU downstream, so that
    work runs on one or a few tasks. The width derives from the session,
    not a constant, so it follows the core count."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def salted_aggregation(df: DataFrame, keys: list[str], num_salts: int = 16,
                       **aggs: tuple[str, str]) -> DataFrame:
    """Two-phase aggregation: ``aggs`` maps output name → (fn, col) with fn
    in {sum, count, min, max}. Phase 1 groups on keys+salt (spreads hot
    keys); phase 2 merges partials (sum of counts/sums, min of mins, …).
    """
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    phase1_fn = {"sum": F.sum, "count": lambda c: F.count(F.lit(1)),
                 "min": F.min, "max": F.max}
    salted = df.withColumn("_salt", (F.rand(seed=7) * num_salts).cast("int"))
    p1 = salted.groupBy(*keys, "_salt").agg(
        *[phase1_fn[fn](col).alias(name) for name, (fn, col) in aggs.items()])
    return p1.groupBy(*keys).agg(
        *[merge_fn[fn](name).alias(name) for name, (fn, _col) in aggs.items()])


def salted_broadcast_left(fact: DataFrame, dim: DataFrame, on: str,
                          num_salts: int = 8) -> DataFrame:
    """Join a skewed fact to a dim by replicating the dim ``num_salts``×
    and salting the fact randomly — each fact row matches exactly one
    (key, salt) dim copy, so row multiplicity is preserved."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1))).alias("_salt")
    dim_rep = dim.select("*", salts)
    fact_s = fact.withColumn("_salt", (F.rand(seed=11) * num_salts).cast("int"))
    out = fact_s.join(F.broadcast(dim_rep), [on, "_salt"])
    return out.drop("_salt")
