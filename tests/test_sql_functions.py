"""SQL-registry twin of the engine function surface: register the engine
UDFs in a session and drive them from ``spark.sql`` only, checking
against the same Guava goldens as tests/test_murmur.py (reference P1
routing hash — AbstractClickhouseLoaderMapper.java:60,276-284)."""

from __future__ import annotations

import pytest

from clickhouse_hdfs_loader_spark.functions import register_sql_functions
from clickhouse_hdfs_loader_spark.functions.fingerprint import winnow

from .test_murmur import GOLDEN


def test_sql_guava_shard_code_matches_goldens(spark):
    register_sql_functions(spark)
    keys = [k for k, _, _ in GOLDEN] + [None]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    df.createOrReplaceTempView("golden_keys")
    rows = spark.sql(
        "SELECT key, guava_shard_code(key) AS code, "
        "guava_shard(key, 7) AS slot FROM golden_keys"
    ).collect()
    expected = {k: a & 0x7FFFFFFF for k, a, _ in GOLDEN}
    assert len(rows) == len(keys)
    for r in rows:
        if r.key is None:   # a NULL key has no code, not the code of "None"
            assert r.code is None and r.slot is None
            continue
        assert r.code == expected[r.key], r.key
        assert r.slot == expected[r.key] % 7, r.key


def test_sql_guava_shard_null_and_zero_weight(spark):
    """A NULL key or a NULL weight gives NULL; a weight below 1 raises
    an error that names it (as Spark's ANSI ``%`` raises on zero)."""
    register_sql_functions(spark)
    key, asint, _ = GOLDEN[0]
    df = spark.createDataFrame(
        [(key, 7), (key, None), (None, 7), (None, None)],
        "key string, w int")
    df.createOrReplaceTempView("weighted_keys")
    rows = spark.sql("SELECT key, w, guava_shard(key, w) AS slot "
                     "FROM weighted_keys").collect()
    got = {(r.key, r.w): r.slot for r in rows}
    assert got == {(key, 7): (asint & 0x7FFFFFFF) % 7, (key, None): None,
                   (None, 7): None, (None, None): None}
    for bad in (0, -3):
        with pytest.raises(Exception, match=f"total_weight must be >= 1, "
                                            f"got {bad}"):
            spark.sql(f"SELECT guava_shard(key, {bad}) AS slot "
                      "FROM weighted_keys WHERE key IS NOT NULL").collect()


def test_sql_registration_is_idempotent(spark):
    register_sql_functions(spark)
    register_sql_functions(spark)
    got = spark.sql("SELECT guava_shard_code('20170107') AS c").collect()[0].c
    assert got == 1819975014 & 0x7FFFFFFF


def test_sql_winnow_size(spark):
    register_sql_functions(spark)
    texts = ["the quick brown fox jumps over the lazy dog", "abc", ""]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    df.createOrReplaceTempView("winnow_texts")
    rows = spark.sql(
        "SELECT text, winnow_size(text) AS n FROM winnow_texts"
    ).collect()
    for r in rows:
        assert r.n == len(winnow(r.text or ""))
