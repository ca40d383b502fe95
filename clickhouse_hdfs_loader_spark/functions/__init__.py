"""Engine function surface.

``register_sql_functions`` exposes the Python-side engine functions to
``spark.sql`` users — the SQL twin of the DataFrame helpers (the murmur
routing hash is otherwise unreachable from pure SQL).

Reference parity: the routing hash is the loader's P1 shard hash
(AbstractClickhouseLoaderMapper.java:60,276-284 — Guava murmur3_128
``hashString`` UTF-16LE, ``asInt() & Integer.MAX_VALUE``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession


def register_sql_functions(spark: SparkSession) -> None:
    """Register engine UDFs in the session's SQL function registry:

    - ``guava_shard_code(key)`` — murmur3_128 ``asInt() & MAX_INT``
      (reference P1 routing hash, Guava-parity, vectorized numpy);
      NULL for a NULL key
    - ``guava_shard(key, total_weight)`` — weighted slot in
      ``[0, total_weight)``: ``guava_shard_code(key) % total_weight``,
      the value the cumulative-weight walk maps onto a shard; NULL for a
      NULL key or a NULL weight; a weight below 1 raises, naming it (a
      cluster's total weight is at least 1, and Spark's ANSI ``%`` also
      raises on a zero divisor)
    - ``winnow_size(text)`` — number of winnowing fingerprints

    Safe to call more than once per session (re-registration replaces).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, LongType

    from .fingerprint import winnow_batch
    from .murmur_np import guava_shard_codes

    def codes(keys: pa.Array):
        keys = keys.cast(pa.string())
        return guava_shard_codes(keys), keys.is_null().to_numpy(zero_copy_only=False)

    @F.arrow_udf(LongType())
    def _code(keys: pa.Array) -> pa.Array:
        code, null = codes(keys)
        return pa.array(code, mask=null)

    @F.arrow_udf(LongType())
    def _slot(keys: pa.Array, weights: pa.Array) -> pa.Array:
        code, null = codes(keys)
        weights = weights.cast(pa.int64())
        null |= weights.is_null().to_numpy(zero_copy_only=False)
        weight = weights.fill_null(1).to_numpy()
        bad = weight[~null & (weight < 1)]
        if bad.size:
            raise ValueError(
                f"guava_shard: total_weight must be >= 1, got {bad[0]}")
        return pa.array(code % np.where(null, 1, weight), mask=null)

    @F.arrow_udf(IntegerType())
    def _winnow_size(texts: pa.Array) -> pa.Array:
        fps = winnow_batch(texts.to_pylist())
        return pa.array([len(f) for f in fps], pa.int32())

    spark.udf.register("guava_shard_code", _code)
    spark.udf.register("guava_shard", _slot)
    spark.udf.register("winnow_size", _winnow_size)
