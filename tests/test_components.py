"""Connected-components operator tests: chain transitivity, fixpoint,
isolated nodes."""

from __future__ import annotations

import pytest

from clickhouse_hdfs_loader_spark.operators.components import (
    connected_components,
    dedup_components,
)
from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY


def test_chain_collapses_to_one_component(spark):
    # a~b, b~c, c~d → all labeled min(a)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"])
    comp = {r["id"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_star_and_reverse_chain(spark):
    # reverse-ordered chain exercises propagation through high→low ids
    pairs = spark.createDataFrame(
        [(8, 9), (7, 8), (6, 7), (5, 6)], ["id_a", "id_b"])
    comp = {r["id"]: r["component"]
            for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {5}


def test_dedup_components_keeps_isolated_docs(spark):
    docs = spark.createDataFrame([(i, f"t{i}") for i in range(6)],
                                 ["doc_id", "text"])
    pairs = spark.createDataFrame([(0, 3), (3, 5)], ["id_a", "id_b"])
    out = {r["doc_id"]: r["keeper"]
           for r in dedup_components(docs, pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 0, 4: 4, 5: 0}
    # greedy pair-dropping would have kept 3 docs {0,1,2,4} minus... the
    # component answer keeps exactly one per cluster: keepers {0,1,2,4}
    assert sorted(set(out.values())) == [0, 1, 2, 4]


@pytest.mark.slow
def test_triangle_count_oracle_and_hand_cases(spark, sf_dir):
    """triangle_count: in-test DuckDB oracle (registry standard, r16
    queue) — the degree-oriented wedge count equals the plain
    id-ordered a < b < c 3-way self-join on the supplier co-supply
    graph; hand cases pin a known triangle census, self-loop /
    duplicate / reversed-edge collapse, and the empty graph."""
    import duckdb
    from pyspark.sql import functions as F

    from clickhouse_hdfs_loader_spark.operators.components import (
        triangle_count)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    ps = (read_table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey").distinct())
    pairs = (ps.alias("a").join(
        ps.alias("b"),
        (F.col("a.l_partkey") == F.col("b.l_partkey"))
        & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
        .select(F.col("a.l_suppkey").alias("id_a"),
                F.col("b.l_suppkey").alias("id_b")))
    got = [tuple(r) for r in triangle_count(pairs).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{sf_dir}/lineitem.parquet'")
    want = [tuple(r) for r in con.execute(
        REGISTRY["triangle_count"].oracle).fetchall()]
    assert got == want and len(got) == 1
    assert got[0][2] > 0

    def run(rows):
        df = spark.createDataFrame(rows, ["id_a", "id_b"])
        return tuple(triangle_count(df).collect()[0])

    # K4 has exactly 4 triangles; an extra pendant edge adds none
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    assert run(k4) == (4, 6, 4)
    assert run(k4 + [(4, 5)]) == (5, 7, 4)
    # duplicates, reversals and self-loops collapse/drop
    assert run([(1, 2), (2, 1), (1, 2), (2, 3), (3, 1),
                (2, 2)]) == (3, 3, 1)
    # triangle-free path
    assert run([(1, 2), (2, 3), (3, 4)]) == (4, 3, 0)
    # empty after cleaning: zero row, never a crash
    assert run([(7, 7)]) == (0, 0, 0)
