"""Statistical combinators (operators/stats.py): groupArraySorted,
deterministic argMin/argMax, Mann-Whitney U, Welch/Student t (+ the
incremental state and streaming A/B twin), Kolmogorov-Smirnov, Theil's
U, Cramér's V + contingency, skewness/kurtosis, Spearman rank
correlation, sumMap/minMap/maxMap, reciprocal-rank fusion, and the
exponential moving average — DuckDB exact-replay oracles on the real
events table (promoted to the registry in r11; the scalar twins
execute REGISTRY[name].oracle so there is one copy to harden) plus
hand cases for the tie/degenerate semantics the fixtures can't force,
the EMA/LTTB golden re-derivations, and the late-r11 odds-and-ends
batch (bit aggregates, avgWeighted, Pearson corr, meanZTest — r12
promotion queue)."""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from clickhouse_hdfs_loader_spark.operators.stats import (
    arg_min_max_by_group, group_array_sorted, ks_test, mann_whitney_u,
    welch_ttest)
from clickhouse_hdfs_loader_spark.operators.analytics import (
    _quantizable_col)
from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
from clickhouse_hdfs_loader_spark.sources.tables import read_table

# The scalar stats oracles were promoted to the registry in r11; these
# tests execute THE SAME oracle text via REGISTRY[name].oracle so there
# is exactly one copy to harden (the r10 'unhardened in-test twin'
# hazard). group_array_sorted / map_aggregate keep richer array-level
# in-test twins (the registry projections serialize to CSV).


def _oracle(name: str) -> str:
    sql = REGISTRY[name].oracle
    assert sql is not None, name
    return sql


def _duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    return con


def _sided(spark, sf_dir):
    return (read_table(spark, sf_dir, "events")
            .where(F.col("user_id").isNotNull())
            .withColumn("side", F.pmod(F.col("user_id"), F.lit(2))))


def test_group_array_sorted_oracle_and_ties(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    got = {r["event_type"]: list(r["vals_milli"]) for r in
           group_array_sorted(ev, "event_type", "value", n=5).collect()}
    want = dict(_duck(sf_dir).execute("""
        WITH v AS (SELECT event_type,
                          CAST(floor(value * 1000) AS BIGINT) AS vm,
                          event_id
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)),
        r AS (SELECT event_type, vm FROM v
              QUALIFY row_number() OVER (PARTITION BY event_type
                ORDER BY vm, event_id) <= 5)
        SELECT event_type, array_agg(vm ORDER BY vm) AS vals_milli
        FROM r GROUP BY 1
    """).fetchall())
    assert got == {k: list(v) for k, v in want.items()} and len(got) == 5

    # ties at the cut: which ROW survives is arbitrary, the VALUE
    # multiset is not — three 2.0s competing for two slots
    synth = spark.createDataFrame(
        [("g", 1.0), ("g", 2.0), ("g", 2.0), ("g", 2.0), ("g", 9.0)],
        "event_type string, value double")
    rows = group_array_sorted(synth, "event_type", "value", n=3).collect()
    assert list(rows[0]["vals_milli"]) == [1000, 2000, 2000]


def test_arg_min_max_oracle_and_tie_break(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, arg_min_max_by_group(
        ev, "event_type", "user_id", "value", "event_id").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        _oracle("arg_min_max_by_group")).fetchall()))
    assert got == want and len(got) == 5

    # tied extreme values: min event_id wins on BOTH ends
    synth = spark.createDataFrame(
        [(2, "g", "b", 1.0), (1, "g", "a", 1.0),
         (4, "g", "d", 9.0), (3, "g", "c", 9.0)],
        "event_id long, event_type string, who string, value double")
    r = arg_min_max_by_group(synth, "event_type", "who", "value",
                             "event_id").collect()[0]
    assert (r["arg_at_min"], r["arg_at_max"]) == ("a", "c")


def test_mann_whitney_u_oracle_and_midranks(spark, sf_dir):
    got = sorted(map(tuple, mann_whitney_u(
        _sided(spark, sf_dir), "event_type", "value", "side").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        _oracle("mann_whitney_u")).fetchall()))
    assert got == want and len(got) == 5
    # U identity: U1 + U2 = n1*n2 (doubled: u2_1 + u2_2 = 2*n1*n2);
    # re-derive side-2's U by swapping the sides
    swapped = {r["event_type"]: r["u2"] for r in mann_whitney_u(
        _sided(spark, sf_dir).withColumn(
            "side", F.lit(1) - F.col("side")),
        "event_type", "value", "side").collect()}
    for g, n1, n2, u2 in got:
        assert u2 + swapped[g] == 2 * n1 * n2

    # hand case with ties (midranks): side1 = {1, 2}, side0 = {2, 3}.
    # doubled ranks: 1→2, the 2s→(2+3 doubled)=5 each, 3→8.
    # R2_1 = 2 + 5 = 7; u2 = 7 − n1(n1+1) = 7 − 6 = 1 (i.e. U1 = 0.5)
    synth = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 2.0, 0), ("g", 3.0, 0)],
        "event_type string, value double, side int")
    r = mann_whitney_u(synth, "event_type", "value", "side").collect()[0]
    assert (r["n1"], r["n2"], r["u2"]) == (2, 2, 1)
    # invalid side raises loudly
    bad = spark.createDataFrame([("g", 1.0, 2)],
                                "event_type string, value double, side int")
    with pytest.raises(Exception, match="side_col"):
        mann_whitney_u(bad, "event_type", "value", "side").collect()


def test_welch_ttest_oracle_and_degenerates(spark, sf_dir):
    got = sorted(map(tuple, welch_ttest(
        _sided(spark, sf_dir), "event_type", "value", "side").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        _oracle("welch_ttest")).fetchall()))
    assert got == want and len(got) == 5
    # the fixtures exercise the live branch: at least one non-NULL t
    assert any(r[7] is not None for r in got)

    # degenerate guards: n<2 side → NULL; both sides constant → NULL;
    # a known hand value: side1={1,3} (m=2, v=2), side0={0} → n2<2 NULL
    synth = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 3.0, 1), ("g", 0.0, 0)],
        "event_type string, value double, side int")
    assert welch_ttest(synth, "event_type", "value",
                       "side").collect()[0]["t_e4"] is None
    const = spark.createDataFrame(
        [("g", 2.0, 1), ("g", 2.0, 1), ("g", 2.0, 0), ("g", 2.0, 0)],
        "event_type string, value double, side int")
    assert welch_ttest(const, "event_type", "value",
                       "side").collect()[0]["t_e4"] is None
    # exact pinned case: side1={0,2}, side0={10,14}:
    # m1=1000, m2=12000, v1=2e6, v2=8e6 (milli² units)
    # t = -11000/sqrt(2e6/2 + 8e6/2) = -11000/sqrt(5e6) ≈ -4.9193
    known = spark.createDataFrame(
        [("g", 0.0, 1), ("g", 2.0, 1), ("g", 10.0, 0), ("g", 14.0, 0)],
        "event_type string, value double, side int")
    t = welch_ttest(known, "event_type", "value",
                    "side").collect()[0]["t_e4"]
    assert t == pytest.approx(-4.9193, abs=1e-4)


@pytest.mark.slow
def test_stats_nonfinite_and_null_exclusion(spark):
    """NaN/±Inf/NULL value rows are dropped identically by every stats
    operator (the _quantizable_col stance)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, "g", t0, 1.0, 1), (2, "g", t0, float("nan"), 0),
            (3, "g", t0, float("inf"), 1), (4, "g", t0, None, 0),
            (5, "g", t0, 3.0, 0)]
    schema = ("event_id long, event_type string, ts timestamp, "
              "value double, side int")
    df = spark.createDataFrame(rows, schema)
    clean = spark.createDataFrame([rows[0], rows[4]], schema)
    for op in (lambda d: group_array_sorted(d, "event_type", "value",
                                            n=3),
               lambda d: arg_min_max_by_group(d, "event_type", "side",
                                              "value", "event_id"),
               lambda d: mann_whitney_u(d, "event_type", "value",
                                        "side"),
               lambda d: welch_ttest(d, "event_type", "value", "side"),
               lambda d: ks_test(d, "event_type", "value", "side")):
        assert sorted(map(tuple, op(df).collect())) \
            == sorted(map(tuple, op(clean).collect()))


def test_ks_test_oracle_and_hand_cases(spark, sf_dir):
    got = sorted(map(tuple, ks_test(
        _sided(spark, sf_dir), "event_type", "value", "side").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        _oracle("ks_test")).fetchall()))
    assert got == want and len(got) == 5
    # D in (0, 1]: the numerator never exceeds n1*n2
    for _g, n1, n2, d_num, d_e4 in got:
        assert 0 <= d_num <= n1 * n2 and d_e4 is not None

    # hand cases: disjoint supports -> D = 1; identical samples -> the
    # ECDFs coincide at every step -> D = 0
    disjoint = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 3.0, 0), ("g", 4.0, 0)],
        "event_type string, value double, side int")
    r = ks_test(disjoint, "event_type", "value", "side").collect()[0]
    assert (r["d_num"], r["d_e4"]) == (4, 1.0)
    same = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 1), ("g", 1.0, 0), ("g", 2.0, 0)],
        "event_type string, value double, side int")
    r = ks_test(same, "event_type", "value", "side").collect()[0]
    assert (r["d_num"], r["d_e4"]) == (0, 0.0)
    # empty side -> NULL d
    one = spark.createDataFrame(
        [("g", 1.0, 1)], "event_type string, value double, side int")
    assert ks_test(one, "event_type", "value",
                   "side").collect()[0]["d_e4"] is None


def test_theils_u_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import theils_u

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .withColumn("ybin", F.pmod(F.col("user_id"), F.lit(5))))
    got = sorted(map(tuple, theils_u(
        ev, "event_type", "event_type", "ybin").collect()))
    # X = the group key itself is constant per group -> numX = 0 -> NULL
    assert all(r[2] == 0 and r[4] is None for r in got)

    # real oracle: X = value decile bucket, Y = user parity class
    ev2 = ev.withColumn("xbin",
                        F.pmod(F.floor(F.col("value")).cast("long"),
                               F.lit(7)))
    got = sorted(map(tuple, theils_u(
        ev2.where(_quantizable_col("value")),
        "event_type", "xbin", "ybin").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        _oracle("theils_u")).fetchall()))
    assert got == want and len(got) == 5

    # hand cases: X a function of Y -> u = 1000; X independent of Y
    # with exactly balanced counts -> u = 0
    det = spark.createDataFrame(
        [("g", i, i) for i in range(4)], "g string, x long, y long")
    r = theils_u(det, "g", "x", "y").collect()[0]
    assert (r["hcond_n_milli"], r["u_milli"]) == (0, 1000)
    ind = spark.createDataFrame(
        [("g", x, y) for x in range(2) for y in range(2)],
        "g string, x long, y long")
    r = theils_u(ind, "g", "x", "y").collect()[0]
    assert r["u_milli"] == 0


def test_cramers_v_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import cramers_v

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()
                 & _quantizable_col("value"))
          .withColumn("xbin",
                      F.pmod(F.floor(F.col("value")).cast("long"),
                             F.lit(7)))
          .withColumn("ybin", F.pmod(F.col("user_id"), F.lit(5))))
    got = sorted(map(tuple, cramers_v(
        ev, "event_type", "xbin", "ybin").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        _oracle("cramers_v")).fetchall()))
    assert got == want and len(got) == 5
    for _g, _n, r, c, phi2, v, cg in got:
        assert r == 7 and c == 5 and v is not None and 0.0 <= v <= 1.0
        assert 0.0 <= cg < 1.0

    # hand cases: perfect association -> V = 1; exact independence ->
    # V = 0; constant Y -> NULL
    perfect = spark.createDataFrame(
        [("g", "a", "a")] * 2 + [("g", "b", "b")] * 2,
        "g string, x string, y string")
    r = cramers_v(perfect, "g", "x", "y").collect()[0]
    assert (r["phi2_micro"], r["v_e4"]) == (1_000_000, 1.0)
    # contingency at perfect 2x2 association: sqrt(1/2) -> 0.7071
    assert r["contingency_e4"] == pytest.approx(0.7071, abs=1e-4)
    ind = spark.createDataFrame(
        [("g", str(x), str(y)) for x in range(2) for y in range(2)],
        "g string, x string, y string")
    r = cramers_v(ind, "g", "x", "y").collect()[0]
    assert (r["phi2_micro"], r["v_e4"], r["contingency_e4"]) \
        == (0, 0.0, 0.0)
    const = spark.createDataFrame(
        [("g", "a", "z"), ("g", "b", "z")], "g string, x string, y string")
    assert cramers_v(const, "g", "x", "y").collect()[0]["v_e4"] is None


def test_skew_kurt_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import skew_kurt

    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, skew_kurt(ev, "event_type",
                                      "value").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        _oracle("skew_kurt")).fetchall()))
    assert got == want and len(got) == 5
    # the fixture's value distribution is right-skewed (exponential-
    # ish): positive skew, heavy-tailed kurtosis, on every group
    assert all(r[3] > 1.0 and r[4] is not None and r[4] > 3.0
               for r in got)

    # hand case: symmetric {0, 10, 20} -> skew exactly 0; deci-mean 100,
    # d in {-100, 0, 100}: s2=20000, s3=0, s4=2e8; v=10000;
    # kurt = (2e8/3)/1e8 = 0.6667 -> floor-rounded 0.6667
    sym = spark.createDataFrame(
        [("g", 0.0), ("g", 10.0), ("g", 20.0)],
        "event_type string, value double")
    r = skew_kurt(sym, "event_type", "value").collect()[0]
    assert (r["n"], r["mean_deci"], r["skew_e4"]) == (3, 100, 0.0)
    assert r["kurt_e4"] == pytest.approx(0.6667, abs=1e-4)
    # right-skewed {0, 0, 30}: positive skew; constant -> NULLs
    skewed = spark.createDataFrame(
        [("g", 0.0), ("g", 0.0), ("g", 30.0)],
        "event_type string, value double")
    assert skew_kurt(skewed, "event_type",
                     "value").collect()[0]["skew_e4"] > 0
    const = spark.createDataFrame(
        [("g", 5.0), ("g", 5.0)], "event_type string, value double")
    r = skew_kurt(const, "event_type", "value").collect()[0]
    assert r["skew_e4"] is None and r["kurt_e4"] is None


def test_map_aggregate_oracle_and_guards(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import map_aggregate

    # build the nested (keys, vals) shape from events: per user, the
    # parallel arrays of their event types and values in (ts, id) order
    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()
                 & F.col("event_type").isNotNull()
                 & F.col("value").isNotNull() & ~F.isnan("value")
                 & (F.abs("value") != F.lit(float("inf"))))
          .withColumn("grp", F.pmod(F.col("user_id"), F.lit(10))))
    nested = (ev.groupBy("grp", "user_id")
              .agg(F.sort_array(F.collect_list(F.struct(
                  "ts", "event_id", "event_type", "value"))).alias("_s"))
              .select("grp",
                      F.expr("transform(_s, x -> x.event_type)")
                      .alias("ks"),
                      F.expr("transform(_s, x -> x.value)")
                      .alias("vs")))
    for how, duck_fn in (("sum", "sum"), ("min", "min"), ("max", "max")):
        got = {r["grp"]: (list(r["map_keys"]), list(r["map_vals_milli"]))
               for r in map_aggregate(nested, "grp", "ks", "vs",
                                      how=how).collect()}
        want = {g: (list(ks), list(vsm)) for g, ks, vsm in
                _duck(sf_dir).execute(f"""
            WITH b AS (SELECT ((user_id % 10 + 10) % 10) AS grp,
                              event_type AS k,
                              CAST(floor(value * 1000) AS BIGINT) AS vm
                       FROM events
                       WHERE user_id IS NOT NULL
                         AND event_type IS NOT NULL
                         AND value IS NOT NULL AND isfinite(value)),
            a AS (SELECT grp, k, CAST({duck_fn}(vm) AS BIGINT) AS vagg
                  FROM b GROUP BY 1, 2)
            SELECT grp, array_agg(k ORDER BY k) AS map_keys,
                   array_agg(vagg ORDER BY k) AS map_vals_milli
            FROM a GROUP BY grp
        """).fetchall()}
        assert got == want and len(got) == 10, how

    # hand case: key-wise sums merge across rows; NULL pairs drop
    synth = spark.createDataFrame(
        [("g", ["a", "b"], [1.0, 2.0]),
         ("g", ["b", "c", None], [3.0, 4.0, 9.0]),
         ("g", None, None)],
        "grp string, ks array<string>, vs array<double>")
    r = map_aggregate(synth, "grp", "ks", "vs", how="sum").collect()[0]
    assert (list(r["map_keys"]), list(r["map_vals_milli"])) \
        == (["a", "b", "c"], [1000, 5000, 4000])
    # ragged arrays raise loudly
    ragged = spark.createDataFrame(
        [("g", ["a"], [1.0, 2.0])],
        "grp string, ks array<string>, vs array<double>")
    with pytest.raises(Exception, match="ragged"):
        map_aggregate(ragged, "grp", "ks", "vs").collect()
    with pytest.raises(ValueError, match="how"):
        map_aggregate(synth, "grp", "ks", "vs", how="avg")


def test_student_ttest_oracle_and_degenerates(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import student_ttest

    got = sorted(map(tuple, student_ttest(
        _sided(spark, sf_dir), "event_type", "value", "side").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        _oracle("student_ttest")).fetchall()))
    assert got == want and len(got) == 5
    assert any(r[7] is not None for r in got)

    # hand case: side1={0,2} (m=1000, ss=2e6), side0={10,14}
    # (m=12000, ss=8e6): sp^2 = 1e7/2 = 5e6,
    # t = -11000 / (sqrt(5e6)*sqrt(1)) = -4.9193 (equal n: same
    # denominator value as the Welch hand case by coincidence of
    # balanced sizes)
    known = spark.createDataFrame(
        [("g", 0.0, 1), ("g", 2.0, 1), ("g", 10.0, 0), ("g", 14.0, 0)],
        "event_type string, value double, side int")
    t = student_ttest(known, "event_type", "value",
                      "side").collect()[0]["t_e4"]
    assert t == pytest.approx(-4.9193, abs=1e-4)
    # n1 + n2 < 3 -> NULL; all-constant -> zero pooled variance -> NULL
    tiny = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 2.0, 0)],
        "event_type string, value double, side int")
    assert student_ttest(tiny, "event_type", "value",
                         "side").collect()[0]["t_e4"] is None
    const = spark.createDataFrame(
        [("g", 2.0, 1), ("g", 2.0, 1), ("g", 2.0, 0)],
        "event_type string, value double, side int")
    assert student_ttest(const, "event_type", "value",
                         "side").collect()[0]["t_e4"] is None


def test_rrf_fuse_oracle_and_hand_case(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import rrf_fuse
    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    # two synthetic ranked lists over documents: source A ranks by
    # doc_id asc, source B by (n_chars desc, doc_id) — 15 deep each
    docs = (read_table(spark, sf_dir, "documents")
            .withColumn("q", F.pmod(F.col("doc_id"), F.lit(3))))
    wa = Window.partitionBy("q").orderBy(F.col("doc_id").asc())
    wb = Window.partitionBy("q").orderBy(F.col("n_chars").desc(),
                                         F.col("doc_id").asc())
    src_a = (docs.withColumn("rank", F.row_number().over(wa))
             .where(F.col("rank") <= 15).select("q", "doc_id", "rank"))
    src_b = (docs.withColumn("rank", F.row_number().over(wb))
             .where(F.col("rank") <= 15).select("q", "doc_id", "rank"))
    fused = rrf_fuse(src_a.unionByName(src_b), "q", "doc_id", "rank",
                     k=60, top_n=10)
    got = sorted(map(tuple, fused.collect()))

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf_dir}/documents.parquet'")
    want = sorted(map(tuple, con.execute(
        _oracle("rrf_fuse")).fetchall()))
    assert got == want and len(got) == 30  # 3 queries x top 10

    # hand case: doc appearing in BOTH lists outranks single-list docs
    rows = spark.createDataFrame(
        [(1, "d1", 1), (1, "d2", 2),          # source A
         (1, "d2", 1), (1, "d3", 2)],         # source B
        "q long, doc string, rank int")
    fused = {r["doc"]: (r["rrf_micro"], r["fused_rank"]) for r in
             rrf_fuse(rows, "q", "doc", "rank", k=60).collect()}
    assert fused["d2"] == (1_000_000 // 62 + 1_000_000 // 61, 1)
    assert fused["d1"] == (1_000_000 // 61, 2)
    assert fused["d3"] == (1_000_000 // 62, 3)
    # score-tied docs order by doc id
    tied = spark.createDataFrame(
        [(1, "z", 1), (1, "a", 1)], "q long, doc string, rank int")
    order = [r["doc"] for r in rrf_fuse(tied, "q", "doc", "rank")
             .orderBy("fused_rank").collect()]
    assert order == ["a", "z"]
    # a non-positive rank raises (scores passed where ranks expected)
    bad = spark.createDataFrame([(1, "d", 0)],
                                "q long, doc string, rank int")
    with pytest.raises(Exception, match="1-based rank"):
        rrf_fuse(bad, "q", "doc", "rank").collect()


@pytest.mark.slow
def test_stream_ab_test_matches_batch_any_partition(spark, sf_dir):
    """The foreachBatch A/B twin reproduces the batch t-tests exactly,
    and folding ANY random partition of the rows (order-free — the
    six-moment state is an int-sum monoid) equals the one-shot
    report."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.stats import (
        student_ttest, ttest_from_state, ttest_update)
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_ab_test)

    sided = _sided(spark, sf_dir)
    w = {r["event_type"]: r["t_e4"] for r in welch_ttest(
        sided, "event_type", "value", "side").collect()}
    s = {r["event_type"]: r["t_e4"] for r in student_ttest(
        sided, "event_type", "value", "side").collect()}
    got = {r["event_type"]: (r["welch_t_e4"], r["student_t_e4"])
           for r in stream_ab_test(spark, sf_dir).collect()}
    assert got == {g: (w[g], s[g]) for g in w} and len(got) == 5

    schema = "event_type string, value double, side int"

    @given(st.lists(st.tuples(st.integers(0, 1),          # group
                              st.integers(-20, 20),       # value
                              st.integers(0, 1)),         # side
                    min_size=1, max_size=20),
           st.lists(st.integers(0, 2), min_size=1, max_size=20))
    @settings(max_examples=6, deadline=None)
    def check(evs, assignment):
        rows = [(f"g{g}", float(v), sd) for g, v, sd in evs]
        full = spark.createDataFrame(rows, schema)
        one_shot = sorted(map(tuple, ttest_from_state(
            ttest_update(None, full)).collect()))
        parts: dict = {}
        for i, r in enumerate(rows):
            parts.setdefault(assignment[i % len(assignment)], []).append(r)
        state = None
        for _k, chunk in sorted(parts.items(), reverse=True):
            bdf = spark.createDataFrame(chunk, schema)
            state = ttest_update(state, bdf).localCheckpoint(eager=True)
        got2 = sorted(map(tuple, ttest_from_state(state).collect()))
        assert got2 == one_shot

    check()


@pytest.mark.slow
def test_stream_two_proportion_matches_batch_any_partition(spark,
                                                           sf_dir):
    """The foreachBatch conversion-rate twin reproduces the batch
    two_proportion_z exactly (same user/event_id parity derivation),
    and folding ANY random partition of the rows equals the one-shot
    report (the four-count state is an int-sum monoid) — registry
    standard, r14 queue (graded against the batch oracle, the
    stream_ab_test precedent)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.stats import (
        prop_from_state, prop_update, two_proportion_z)
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_two_proportion)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()
                 & F.col("event_id").isNotNull()
                 & F.col("event_type").isNotNull())
          .withColumn("side", F.pmod(F.col("user_id"), F.lit(2)))
          .withColumn("flag", F.pmod(F.col("event_id"), F.lit(2))))
    want = sorted(map(tuple, two_proportion_z(
        ev, "event_type", "side", "flag").collect()))
    got = sorted(map(tuple, stream_two_proportion(
        spark, sf_dir).collect()))
    assert got == want and len(got) == 5

    schema = "event_type string, side int, flag int"

    @given(st.lists(st.tuples(st.integers(0, 1),          # group
                              st.integers(0, 1),          # side
                              st.integers(0, 1)),         # flag
                    min_size=1, max_size=20),
           st.lists(st.integers(0, 2), min_size=1, max_size=20))
    @settings(max_examples=6, deadline=None)
    def check(evs, assignment):
        rows = [(f"g{g}", sd, fl) for g, sd, fl in evs]
        full = spark.createDataFrame(rows, schema)
        one_shot = sorted(map(tuple, prop_from_state(
            prop_update(None, full)).collect()))
        parts: dict = {}
        for i, r in enumerate(rows):
            parts.setdefault(assignment[i % len(assignment)], []).append(r)
        state = None
        for _k, chunk in sorted(parts.items(), reverse=True):
            bdf = spark.createDataFrame(chunk, schema)
            state = prop_update(state, bdf).localCheckpoint(eager=True)
        got2 = sorted(map(tuple, prop_from_state(state).collect()))
        assert got2 == one_shot

    check()


@pytest.mark.slow
def test_exponential_moving_average_bitwise_replay(spark, sf_dir):
    """Independent pure-Python replay of the EMA fold over the raw
    parquet (duckdb read, same (ts, id) order, same-order IEEE ops) —
    BITWISE equality, no tolerance (the pca_whiten stance). Plus hand
    cases: half-life silence halves influence exactly; partitioning
    invariance; guards."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        exponential_moving_average)

    hl = 3600.0
    ev = read_table(spark, sf_dir, "events")
    got = {r["event_type"]: (r["n"], r["last_ts_us"], r["ema"]) for r in
           exponential_moving_average(ev, half_life_s=hl).collect()}

    rows = _duck(sf_dir).execute(
        "SELECT event_type, epoch_us(ts) AS us, CAST(value AS DOUBLE) "
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL "
        "AND isfinite(value) ORDER BY event_type, us, event_id"
    ).fetchall()
    series: dict = {}
    for g, us, v in rows:
        series.setdefault(g, []).append((us, v))
    want = {}
    for g, pts in series.items():
        ema, prev = None, None
        for us, v in pts:
            if ema is None:
                ema = float(v)
            else:
                alpha = 1.0 - 2.0 ** (-((us - prev) / 1e6) / hl)
                ema = alpha * float(v) + (1.0 - alpha) * ema
            prev = int(us)
        want[g] = (len(pts), prev, ema)
    assert got == want and len(got) == 5   # bitwise: == on doubles

    # partitioning invariance (one shuffle on the series key)
    repart = {r["event_type"]: (r["n"], r["last_ts_us"], r["ema"])
              for r in exponential_moving_average(
                  ev.repartition(13), half_life_s=hl).collect()}
    assert repart == got

    # hand case: v=0 then v=1 exactly one half-life later ->
    # alpha = 0.5 -> ema = 0.5; a third point after two half-lives
    # pulls 3/4 of the way to its value
    t0 = dt.datetime(2024, 1, 1)
    synth = spark.createDataFrame(
        [(1, "g", t0, 0.0), (2, "g", t0 + dt.timedelta(seconds=3600), 1.0)],
        "event_id long, event_type string, ts timestamp, value double")
    r = exponential_moving_average(synth, half_life_s=3600).collect()[0]
    assert r["ema"] == 0.5 and r["n"] == 2
    synth3 = spark.createDataFrame(
        [(1, "g", t0, 0.0),
         (2, "g", t0 + dt.timedelta(seconds=3600), 1.0),
         (3, "g", t0 + dt.timedelta(seconds=3600 * 3), 2.0)],
        "event_id long, event_type string, ts timestamp, value double")
    r = exponential_moving_average(synth3, half_life_s=3600).collect()[0]
    # alpha = 1 - 2^-2 = 0.75: ema = 0.75*2 + 0.25*0.5 = 1.625
    assert r["ema"] == 1.625
    with pytest.raises(ValueError, match="half_life"):
        exponential_moving_average(synth, half_life_s=0.0)

    # tied timestamps (ADVICE r10, the r7 fixture-luck hazard): the
    # DOCUMENTED semantics is first-at-instant wins — a later row at
    # the same ts has delta-t = 0 -> alpha = 0 -> inert. Here the tied
    # pair (ids 2, 3) lands one half-life after v=0: only id 2's v=1.0
    # registers (ema 0.5); id 3's v=99 changes nothing but n.
    tied = spark.createDataFrame(
        [(1, "g", t0, 0.0),
         (2, "g", t0 + dt.timedelta(seconds=3600), 1.0),
         (3, "g", t0 + dt.timedelta(seconds=3600), 99.0)],
        "event_id long, event_type string, ts timestamp, value double")
    r = exponential_moving_average(tied, half_life_s=3600).collect()[0]
    assert (r["ema"], r["n"]) == (0.5, 3)

    # non-string group keys carry their INPUT type through the output
    # schema (was hardcoded '_g string' — ADVICE r10)
    intg = spark.createDataFrame(
        [(1, 7, t0, 2.0), (2, 7, t0 + dt.timedelta(seconds=60), 4.0)],
        "event_id long, gk long, ts timestamp, value double")
    rows = exponential_moving_average(
        intg, group_col="gk", half_life_s=3600).collect()
    assert rows[0]["gk"] == 7 and isinstance(rows[0]["gk"], int)


def test_exponential_time_decayed_bitwise_replay(spark, sf_dir):
    """exponentialTimeDecayedSum/Count/Max: independent pure-Python
    replay of the triple fold over the raw parquet — BITWISE equality
    (the EMA stance). Hand cases pin exact power-of-two decay, the
    tied-ts full-contribution rule (the documented CONTRAST with the
    EMA's first-at-instant rule), the decayed max race, and guards."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        exponential_time_decayed)

    hl = 3600.0
    ev = read_table(spark, sf_dir, "events")
    got = {r["event_type"]: (r["n"], r["last_ts_us"], r["dsum"],
                             r["dcnt"], r["dmax"]) for r in
           exponential_time_decayed(ev, half_life_s=hl).collect()}

    rows = _duck(sf_dir).execute(
        "SELECT event_type, epoch_us(ts) AS us, CAST(value AS DOUBLE) "
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL "
        "AND isfinite(value) ORDER BY event_type, us, event_id"
    ).fetchall()
    series: dict = {}
    for g, us, v in rows:
        series.setdefault(g, []).append((us, v))
    want = {}
    for g, pts in series.items():
        dsum = dcnt = dmax = prev = None
        for us, v in pts:
            if dsum is None:
                dsum, dcnt, dmax = float(v), 1.0, float(v)
            else:
                decay = 2.0 ** (-((us - prev) / 1e6) / hl)
                dsum = float(v) + dsum * decay
                dcnt = 1.0 + dcnt * decay
                dmax = max(float(v), dmax * decay)
            prev = int(us)
        want[g] = (len(pts), prev, dsum, dcnt, dmax)
    assert got == want and len(got) == 5   # bitwise: == on doubles

    # partitioning invariance (one shuffle on the series key)
    repart = {r["event_type"]: (r["n"], r["dsum"], r["dcnt"], r["dmax"])
              for r in exponential_time_decayed(
                  ev.repartition(13), half_life_s=hl).collect()}
    assert repart == {g: (n, s, c, m)
                      for g, (n, _us, s, c, m) in want.items()}

    t0 = dt.datetime(2024, 1, 1)
    schema = ("event_id long, event_type string, ts timestamp, "
              "value double")

    def run(rows, hl_s=3600):
        df = spark.createDataFrame(rows, schema)
        return exponential_time_decayed(df, half_life_s=hl_s).collect()[0]

    # exact power-of-two decay: v=8 then v=0 one half-life later ->
    # dsum = 0 + 8*0.5 = 4, dcnt = 1 + 0.5 = 1.5, dmax = max(0, 4) = 4
    r = run([(1, "g", t0, 8.0),
             (2, "g", t0 + dt.timedelta(seconds=3600), 0.0)])
    assert (r["dsum"], r["dcnt"], r["dmax"]) == (4.0, 1.5, 4.0)
    # tied timestamps CONTRIBUTE IN FULL (decay = 1): two rows at the
    # same instant sum and count fully (contrast the EMA tie rule)
    r = run([(1, "g", t0, 3.0), (2, "g", t0, 4.0)])
    assert (r["dsum"], r["dcnt"], r["dmax"]) == (7.0, 2.0, 4.0)
    # decayed-max race: an old peak of 16 beats a fresh 3 for one
    # half-life (16*0.5 = 8 > 3) — the peak's ghost outweighs the new
    r = run([(1, "g", t0, 16.0),
             (2, "g", t0 + dt.timedelta(seconds=3600), 3.0)])
    assert r["dmax"] == 8.0
    with pytest.raises(ValueError, match="half_life"):
        exponential_time_decayed(ev, half_life_s=-1.0)


def test_holt_linear_bitwise_replay(spark, sf_dir):
    """holt_linear: independent pure-Python replay of the level/trend
    fold over the raw parquet — BITWISE equality (the EMA/ETD stance).
    Hand cases pin the exact first-step arithmetic with decimal-exact
    params, the b0 = 0 init, the index-based (gap-blind) smoothing,
    and the param validation."""
    from clickhouse_hdfs_loader_spark.operators.stats import holt_linear

    ev = read_table(spark, sf_dir, "events")
    got = {r["event_type"]: (r["n"], r["last_ts_us"], r["level"],
                             r["trend"], r["forecast1"]) for r in
           holt_linear(ev).collect()}

    rows = _duck(sf_dir).execute(
        "SELECT event_type, epoch_us(ts) AS us, CAST(value AS DOUBLE) "
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL "
        "AND isfinite(value) ORDER BY event_type, us, event_id"
    ).fetchall()
    a, b = 0.3, 0.1
    series: dict = {}
    for g, us, v in rows:
        series.setdefault(g, []).append((us, v))
    want = {}
    for g, pts in series.items():
        lvl = tr = prev = None
        for us, v in pts:
            if lvl is None:
                lvl, tr = float(v), 0.0
            else:
                p = lvl
                lvl = a * float(v) + (1.0 - a) * (lvl + tr)
                tr = b * (lvl - p) + (1.0 - b) * tr
            prev = int(us)
        want[g] = (len(pts), prev, lvl, tr, lvl + tr)
    assert got == want and len(got) == 5   # bitwise: == on doubles

    # partitioning invariance (one shuffle on the series key)
    repart = {r["event_type"]: (r["level"], r["trend"]) for r in
              holt_linear(ev.repartition(13)).collect()}
    assert repart == {g: (l, t) for g, (_n, _us, l, t, _f)
                      in want.items()}

    t0 = dt.datetime(2024, 1, 1)
    schema = ("event_id long, event_type string, ts timestamp, "
              "value double")

    def run(rows, **kw):
        df = spark.createDataFrame(rows, schema)
        return holt_linear(df, **kw).collect()[0]

    # α = 0.5, β = 0.5 (decimal-exact doubles): v = [4, 8] ->
    # l1 = 0.5·8 + 0.5·(4 + 0) = 6; b1 = 0.5·(6 − 4) + 0.5·0 = 1;
    # forecast1 = 7
    r = run([(1, "g", t0, 4.0),
             (2, "g", t0 + dt.timedelta(seconds=60), 8.0)],
            alpha_milli=500, beta_milli=500)
    assert (r["level"], r["trend"], r["forecast1"]) == (6.0, 1.0, 7.0)
    # single observation: level = v, trend = 0 (the b0 init)
    r = run([(1, "g", t0, 9.0)])
    assert (r["n"], r["level"], r["trend"]) == (1, 9.0, 0.0)
    # index-based smoothing is GAP-BLIND: stretching the gaps changes
    # nothing (the documented contrast with the time-aware EMA)
    near = run([(1, "g", t0, 4.0),
                (2, "g", t0 + dt.timedelta(seconds=1), 8.0),
                (3, "g", t0 + dt.timedelta(seconds=2), 2.0)],
               alpha_milli=500, beta_milli=500)
    far = run([(1, "g", t0, 4.0),
               (2, "g", t0 + dt.timedelta(days=10), 8.0),
               (3, "g", t0 + dt.timedelta(days=40), 2.0)],
              alpha_milli=500, beta_milli=500)
    assert (near["level"], near["trend"]) == (far["level"],
                                              far["trend"])
    with pytest.raises(ValueError, match="alpha_milli"):
        holt_linear(ev, alpha_milli=0)
    with pytest.raises(ValueError, match="beta_milli"):
        holt_linear(ev, beta_milli=2000)


# The holt_linear promotion golden PROMOTED r16: the ONE copy of the
# pinned literals + guarded oracle now lives at plans/queries.py
# (HOLT_GOLDEN / HOLT_GOLDEN_ORACLE, the holt_summary registry entry —
# the etd_summary single-source lesson); these tests import it so the
# literals the registry grades are exactly the ones re-derived
# Spark-free here.
from clickhouse_hdfs_loader_spark.plans.queries import (  # noqa: E402
    HOLT_GOLDEN, HOLT_GOLDEN_ORACLE)


def test_holt_summary_golden_rederivation():
    """The holt_linear promotion golden, re-derived 100% Spark-free at
    the grading scale: the pinned HOLT_GOLDEN literals must equal the
    independent pure-Python fold."""
    import math

    con = _duck("/root/testdata/sf0.01")
    rows = con.execute(
        "SELECT event_type, epoch_us(ts) AS us, CAST(value AS DOUBLE) "
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL "
        "AND isfinite(value) ORDER BY event_type, us, event_id"
    ).fetchall()
    a, b = 0.3, 0.1
    series: dict = {}
    for g, us, v in rows:
        series.setdefault(g, []).append((us, v))
    derived = []
    for g in sorted(series):
        lvl = tr = prev = None
        for us, v in series[g]:
            if lvl is None:
                lvl, tr = float(v), 0.0
            else:
                p = lvl
                lvl = a * float(v) + (1.0 - a) * (lvl + tr)
                tr = b * (lvl - p) + (1.0 - b) * tr
            prev = int(us)
        derived.append((g, len(series[g]), prev,
                        math.floor(lvl * 1e6), math.floor(tr * 1e6),
                        math.floor((lvl + tr) * 1e6)))
    assert derived == HOLT_GOLDEN


def test_holt_summary_golden_vs_operator(spark):
    """The golden's promotion-ready twin runs end-to-end at sf0.01:
    the operator's floor(x·1e6) projection equals the guarded literal
    oracle exactly (registry standard, r16 queue — tag golden-sf0.01
    on promotion)."""
    from clickhouse_hdfs_loader_spark.operators.stats import holt_linear

    sf01 = "/root/testdata/sf0.01"
    ev = read_table(spark, sf01, "events")
    out = holt_linear(ev)
    got = sorted(map(tuple, out.select(
        "event_type", "n", "last_ts_us",
        F.floor(F.col("level") * F.lit(1_000_000.0)).cast("long")
        .alias("level_micro"),
        F.floor(F.col("trend") * F.lit(1_000_000.0)).cast("long")
        .alias("trend_micro"),
        F.floor(F.col("forecast1") * F.lit(1_000_000.0)).cast("long")
        .alias("forecast1_micro")).collect()))
    want = sorted(map(tuple,
                      _duck(sf01).execute(HOLT_GOLDEN_ORACLE).fetchall()))
    assert got == want and len(got) == 5


def test_ema_summary_golden_rederivation():
    """The ema_summary driver golden, re-derived 100% Spark-free at the
    grading scale (duckdb parquet read + the same-order pure-Python
    IEEE fold the operator's replay test pins bitwise): the pinned
    EMA_GOLDEN literals must equal this independent computation."""
    import math

    from clickhouse_hdfs_loader_spark.plans.queries import EMA_GOLDEN

    con = _duck("/root/testdata/sf0.01")
    rows = con.execute(
        "SELECT event_type, epoch_us(ts) AS us, CAST(value AS DOUBLE) "
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL "
        "AND isfinite(value) ORDER BY event_type, us, event_id"
    ).fetchall()
    hl = 3600.0
    series: dict = {}
    for g, us, v in rows:
        series.setdefault(g, []).append((us, v))
    derived = []
    for g in sorted(series):
        ema, prev = None, None
        for us, v in series[g]:
            if ema is None:
                ema = float(v)
            else:
                alpha = 1.0 - 2.0 ** (-((us - prev) / 1e6) / hl)
                ema = alpha * float(v) + (1.0 - alpha) * ema
            prev = int(us)
        derived.append((g, len(series[g]), prev,
                        math.floor(ema * 1_000_000.0)))
    assert derived == EMA_GOLDEN


def test_lttb_summary_golden_rederivation():
    """The lttb_summary driver golden, re-derived Spark-free at the
    grading scale: duckdb read + the pure-Python ``_lttb_indices`` fold
    (no Spark session anywhere). Importing the fold rather than copying
    it means an edit to the operator's pick order fails THIS test
    immediately instead of surfacing at driver-grade time; genuine
    algorithmic independence lives in the exact-rational Fraction
    replay (test_interval_combinators). The pinned LTTB_GOLDEN literals
    must equal this computation."""
    import math

    from clickhouse_hdfs_loader_spark.operators.downsample import (
        _lttb_indices)
    from clickhouse_hdfs_loader_spark.plans.queries import LTTB_GOLDEN

    con = _duck("/root/testdata/sf0.01")
    # mirror the operator's exact input filter: NULL and NaN excluded,
    # ±Inf kept (the guard checksums would flag an Inf-drifted fixture)
    pts = con.execute(
        "SELECT event_type, CAST(epoch_us(ts) AS DOUBLE) AS x, "
        "CAST(value AS DOUBLE) AS y FROM events "
        "WHERE ts IS NOT NULL AND value IS NOT NULL "
        "AND NOT isnan(value) ORDER BY event_type, x, y").fetchall()
    series: dict = {}
    for g, x, y in pts:
        series.setdefault(g, []).append((x, y))
    derived = []
    for g in sorted(series):
        xs = [p[0] for p in series[g]]
        ys = [p[1] for p in series[g]]
        idx = _lttb_indices(xs, ys, 24)
        derived.append((g, len(idx),
                        sum(int(xs[i]) for i in idx),
                        # finite-y mirror of the graded projection's
                        # quantize guard (Inf quantizes to NULL there)
                        sum(math.floor(ys[i] * 1000) for i in idx
                            if math.isfinite(ys[i]))))
    assert derived == LTTB_GOLDEN


def test_rank_corr_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import rank_corr

    ev = (read_table(spark, sf_dir, "events")
          .withColumn("y2", (F.col("value") * F.col("value"))
                      .cast("double")))
    got = sorted(map(tuple, rank_corr(ev, "event_type", "value",
                                      "y2").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        _oracle("rank_corr")).fetchall()))
    assert got == want and len(got) == 5
    # y = x² on positive values is a monotone map -> ranks identical
    # -> rho exactly 1.0 in every group (a strong structural check)
    assert all(r[2] == 1.0 for r in got)

    # hand cases: reversed order -> -1; ties handled via midranks
    mono = spark.createDataFrame(
        [("g", float(i), float(10 - i)) for i in range(6)],
        "g string, x double, y double")
    assert rank_corr(mono, "g", "x", "y").collect()[0]["rho_e4"] == -1.0
    # x has a tie pair straddling y's order: classic midrank value.
    # x = [1, 2, 2, 3], y = [1, 2, 3, 4]: doubled ranks
    # rx = [2, 5, 5, 8], ry = [2, 4, 6, 8] -> rho = 0.9487
    tied = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 2.0), ("g", 2.0, 3.0),
         ("g", 3.0, 4.0)],
        "g string, x double, y double")
    assert rank_corr(tied, "g", "x", "y").collect()[0]["rho_e4"] \
        == pytest.approx(0.9487, abs=1e-4)
    # constant column -> NULL
    const = spark.createDataFrame(
        [("g", 1.0, 5.0), ("g", 2.0, 5.0)], "g string, x double, y double")
    assert rank_corr(const, "g", "x", "y").collect()[0]["rho_e4"] is None


@pytest.mark.slow
def test_stats_symmetry_properties(spark):
    """Structural identities over random frames (hypothesis): swapping
    the two samples negates both t statistics and leaves the KS D
    unchanged; rank correlation is symmetric in its arguments; Theil's
    U is NOT (asymmetry is its point — pin that it can differ)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.stats import (
        ks_test, rank_corr, student_ttest, welch_ttest)

    schema = "g string, value double, side int"

    @given(st.lists(st.tuples(st.integers(0, 1),        # group
                              st.integers(-15, 15),     # value
                              st.integers(0, 1)),       # side
                    min_size=4, max_size=18))
    @settings(max_examples=6, deadline=None)
    def check(evs):
        rows = [(f"g{g}", float(v), s) for g, v, s in evs]
        df = spark.createDataFrame(rows, schema)
        sw = df.withColumn("side", F.lit(1) - F.col("side"))
        for op in (welch_ttest, student_ttest):
            a = {r["g"]: r["t_e4"] for r in op(df, "g", "value",
                                               "side").collect()}
            b = {r["g"]: r["t_e4"] for r in op(sw, "g", "value",
                                               "side").collect()}
            for g in a:
                if a[g] is None:
                    assert b[g] is None
                else:
                    # knife-edge rounding is floor(x+.5), so the
                    # negation identity holds within one e4 step
                    assert abs(a[g] + b[g]) <= 1e-4 + 1e-12, (g, a, b)
        ka = {r["g"]: (r["n1"], r["n2"], r["d_num"]) for r in
              ks_test(df, "g", "value", "side").collect()}
        kb = {r["g"]: (r["n2"], r["n1"], r["d_num"]) for r in
              ks_test(sw, "g", "value", "side").collect()}
        assert ka == kb

    check()

    # rank_corr symmetry on a fixed frame with ties in both columns
    rows = [("g", 1.0, 3.0), ("g", 2.0, 3.0), ("g", 2.0, 1.0),
            ("g", 5.0, 2.0), ("g", 7.0, 2.0), ("g", 7.0, 9.0)]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    rxy = rank_corr(df, "g", "x", "y").collect()[0]["rho_e4"]
    ryx = rank_corr(df, "g", "y", "x").collect()[0]["rho_e4"]
    assert rxy == ryx

    # theils_u asymmetry: Y determines X (each y maps to one x) but X
    # does not determine Y -> U(X|Y) = 1000, U(Y|X) < 1000
    from clickhouse_hdfs_loader_spark.operators.stats import theils_u
    det = spark.createDataFrame(
        [("g", "a", 0), ("g", "a", 1), ("g", "b", 2), ("g", "b", 3)],
        "g string, x string, y int")
    uxy = theils_u(det, "g", "x", "y").collect()[0]["u_milli"]
    uyx = theils_u(det, "g", "y", "x").collect()[0]["u_milli"]
    assert uxy == 1000 and uyx is not None and uyx < 1000


# --- late-r11 odds-and-ends aggregates (r12 promotion queue): these
# oracles are the single in-test copy until promotion moves them into
# the registry (the group_array_sorted precedent)

def test_group_bit_aggregate_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import (
        group_bit_aggregate)

    ev = read_table(spark, sf_dir, "events")
    for how in ("and", "or", "xor"):
        got = sorted(map(tuple, group_bit_aggregate(
            ev, "event_type", "user_id", how=how).collect()))
        want = sorted(map(tuple, _duck(sf_dir).execute(f"""
            SELECT event_type,
                   CAST(bit_{how}(CAST(user_id AS BIGINT)) AS BIGINT)
                     AS bits
            FROM events WHERE user_id IS NOT NULL GROUP BY 1
        """).fetchall()))
        assert got == want and len(got) == 5, how

    # hand cases: masks 0b1100 & 0b1010 = 0b1000, | = 0b1110, ^ = 0b0110
    synth = spark.createDataFrame(
        [("g", 12), ("g", 10), ("g", None)], "g string, v long")
    assert group_bit_aggregate(synth, "g", "v", "and") \
        .collect()[0]["bits"] == 8
    assert group_bit_aggregate(synth, "g", "v", "or") \
        .collect()[0]["bits"] == 14
    assert group_bit_aggregate(synth, "g", "v", "xor") \
        .collect()[0]["bits"] == 6
    with pytest.raises(ValueError, match="how"):
        group_bit_aggregate(synth, "g", "v", "nand")


def test_avg_weighted_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import (
        AVG_WEIGHTED_SQL, avg_weighted)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_id").isNotNull())
          .withColumn("w", F.pmod(F.col("event_id"), F.lit(5))))
    got = sorted(map(tuple, avg_weighted(
        ev, "event_type", "value", "w").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type,
                          ((event_id % 5 + 5) % 5) AS w,
                          CAST(floor(value * 1000) AS BIGINT) AS vm
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND event_id IS NOT NULL),
        a AS (SELECT event_type, CAST(sum(w) AS BIGINT) AS wsum,
                     CAST(sum(w * vm) AS BIGINT) AS wvsum_milli
              FROM b GROUP BY 1)
        SELECT event_type, wsum, wvsum_milli,
               {AVG_WEIGHTED_SQL} AS avg_w_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    assert all(r[3] is not None for r in got)

    # hand case: values {2 w=1, 5 w=3} -> mean = 17/4 = 4.25 exactly
    synth = spark.createDataFrame(
        [("g", 2.0, 1), ("g", 5.0, 3)], "g string, v double, w int")
    r = avg_weighted(synth, "g", "v", "w").collect()[0]
    assert (r["wsum"], r["wvsum_milli"], r["avg_w_e4"]) \
        == (4, 17000, 4.25)
    # all-zero weights -> NULL mean, not a division error
    zero = spark.createDataFrame(
        [("g", 2.0, 0), ("g", 5.0, 0)], "g string, v double, w int")
    r = avg_weighted(zero, "g", "v", "w").collect()[0]
    assert r["wsum"] == 0 and r["avg_w_e4"] is None
    # negative, fractional, and non-finite weights all raise loudly
    # (review-caught: CAST(0.7 AS BIGINT) would silently zero-weight,
    # NaN would cast to 0, Inf would saturate-then-overflow)
    for bad_w in (-1.0, 0.7, 2.5, float("nan"), float("inf")):
        bad = spark.createDataFrame(
            [("g", 2.0, bad_w)], "g string, v double, w double")
        with pytest.raises(Exception, match="non-negative integers"):
            avg_weighted(bad, "g", "v", "w").collect()
    # integer-valued doubles are accepted (2.0 == floor(2.0))
    okf = spark.createDataFrame(
        [("g", 3.0, 2.0)], "g string, v double, w double")
    assert avg_weighted(okf, "g", "v", "w").collect()[0]["wsum"] == 2


def test_pearson_corr_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import (
        RANK_CORR_SQL, pearson_corr)

    ev = (read_table(spark, sf_dir, "events")
          .withColumn("y2", (F.col("value") * F.col("value"))
                      .cast("double")))
    got = sorted(map(tuple, pearson_corr(ev, "event_type", "value",
                                         "y2").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g,
                          CAST(floor(value * 1000) AS BIGINT) AS x,
                          CAST(floor((value * value) * 1000) AS BIGINT)
                            AS y
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND (value * value) IS NOT NULL
                     AND isfinite(value * value)),
        j AS (SELECT g, CAST(x AS HUGEINT) AS _qx,
                     CAST(y AS HUGEINT) AS _qy FROM b),
        a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                     sum(_qx) AS _sx, sum(_qy) AS _sy,
                     sum(_qx * _qx) AS _sxx, sum(_qy * _qy) AS _syy,
                     sum(_qx * _qy) AS _sxy
              FROM j GROUP BY 1)
        SELECT g AS event_type, n, {RANK_CORR_SQL} AS corr_e4 FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    # y = x² on a positive-valued fixture: strong but NOT perfect
    # linear correlation — a structural sanity band, oracle is the check
    assert all(r[2] is not None and 0.8 < r[2] <= 1.0 for r in got)

    # hand cases: exact affine integers -> corr exactly ±1.0
    lin = spark.createDataFrame(
        [("g", float(i), float(2 * i + 3)) for i in range(6)],
        "g string, x double, y double")
    assert pearson_corr(lin, "g", "x", "y").collect()[0]["corr_e4"] \
        == 1.0
    rev = spark.createDataFrame(
        [("g", float(i), float(-3 * i)) for i in range(6)],
        "g string, x double, y double")
    assert pearson_corr(rev, "g", "x", "y").collect()[0]["corr_e4"] \
        == -1.0
    const = spark.createDataFrame(
        [("g", 1.0, 5.0), ("g", 2.0, 5.0)], "g string, x double, y double")
    assert pearson_corr(const, "g", "x", "y").collect()[0]["corr_e4"] \
        is None


def test_mean_z_test_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import (
        mean_z_sql, mean_z_test)

    got = sorted(map(tuple, mean_z_test(
        _sided(spark, sf_dir), "event_type", "value", "side",
        var1=4.0, var2=9.0).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type,
                          CAST(floor(value * 1000) AS BIGINT) AS vm,
                          CAST(((user_id % 2 + 2) % 2) AS BIGINT) AS s
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND user_id IS NOT NULL),
        a AS (SELECT event_type,
                CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n1,
                CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n2,
                CAST(sum(CASE WHEN s = 1 THEN vm ELSE 0 END) AS BIGINT)
                  AS sum1,
                CAST(sum(CASE WHEN s = 0 THEN vm ELSE 0 END) AS BIGINT)
                  AS sum2
              FROM b GROUP BY 1)
        SELECT event_type, n1, n2, sum1, sum2,
               {mean_z_sql(4.0, 9.0)} AS z_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    assert all(r[5] is not None for r in got)

    # hand case: side1={0,2}, side0={10,14}, var1=var2=4 ->
    # z = (1000-12000)/sqrt(4e6/2+4e6/2) = -11000/2000 = -5.5 exactly
    known = spark.createDataFrame(
        [("g", 0.0, 1), ("g", 2.0, 1), ("g", 10.0, 0), ("g", 14.0, 0)],
        "event_type string, value double, side int")
    r = mean_z_test(known, "event_type", "value", "side",
                    var1=4.0, var2=4.0).collect()[0]
    assert r["z_e4"] == -5.5
    # empty side -> NULL; negative variance raises
    one = spark.createDataFrame(
        [("g", 1.0, 1)], "event_type string, value double, side int")
    assert mean_z_test(one, "event_type", "value", "side",
                       var1=1.0, var2=1.0).collect()[0]["z_e4"] is None
    with pytest.raises(ValueError, match="variances"):
        mean_z_test(known, "event_type", "value", "side",
                    var1=-1.0, var2=1.0)
    # non-finite variances raise a clean ValueError instead of
    # interpolating repr(inf) into SQL (where a bare `inf` token
    # resolves as a column reference — review-caught)
    for v1, v2 in ((float("inf"), 1.0), (float("nan"), 1.0),
                   (1e303, 1.0)):
        with pytest.raises(ValueError, match="finite"):
            mean_z_test(known, "event_type", "value", "side",
                        var1=v1, var2=v2)


def test_odds_and_ends_structural_properties(spark):
    """Structural identities for the late-r11 batch: XOR of a
    duplicated multiset is 0; unit-weight avg_weighted equals the plain
    quantized mean; Pearson corr is symmetric and side-swapping negates
    the z statistic (within one e4 rounding step)."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        avg_weighted, group_bit_aggregate, mean_z_test, pearson_corr)

    # xor: every value appearing twice cancels to 0
    dup = spark.createDataFrame(
        [("g", v) for v in (5, 12, 99, 5, 12, 99)], "g string, v long")
    assert group_bit_aggregate(dup, "g", "v", "xor") \
        .collect()[0]["bits"] == 0

    # unit weights reduce to the floor-milli mean, knife-edge rounded
    vals = [1.37, 2.91, -4.02, 7.5]
    df = spark.createDataFrame([("g", v, 1) for v in vals],
                               "g string, v double, w int")
    r = avg_weighted(df, "g", "v", "w").collect()[0]
    import math
    ms = sum(math.floor(v * 1000) for v in vals)
    assert r["wvsum_milli"] == ms and r["wsum"] == len(vals)
    assert r["avg_w_e4"] == math.floor(ms / len(vals) * 10 + 0.5) / 1e4

    # Pearson symmetry on a frame with ties in both columns
    rows = [("g", 1.0, 3.0), ("g", 2.0, 3.0), ("g", 2.0, 1.0),
            ("g", 5.0, 2.0), ("g", 7.0, 2.0), ("g", 7.0, 9.0)]
    df2 = spark.createDataFrame(rows, "g string, x double, y double")
    rxy = pearson_corr(df2, "g", "x", "y").collect()[0]["corr_e4"]
    ryx = pearson_corr(df2, "g", "y", "x").collect()[0]["corr_e4"]
    assert rxy == ryx and -1.0 <= rxy <= 1.0

    # z-test antisymmetry under side swap
    zdf = spark.createDataFrame(
        [("g", 0.0, 1), ("g", 2.0, 1), ("g", 10.0, 0), ("g", 14.0, 0),
         ("g", 3.0, 1)],
        "event_type string, value double, side int")
    sw = zdf.withColumn("side", F.lit(1) - F.col("side"))
    za = mean_z_test(zdf, "event_type", "value", "side",
                     var1=2.0, var2=3.0).collect()[0]["z_e4"]
    zb = mean_z_test(sw, "event_type", "value", "side",
                     var1=3.0, var2=2.0).collect()[0]["z_e4"]
    assert abs(za + zb) <= 1e-4 + 1e-12


def test_anova_f_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import (
        ANOVA_F_SQL, anova_f)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .withColumn("cls", F.pmod(F.col("user_id"), F.lit(3))))
    got = sorted(map(tuple, anova_f(ev, "event_type", "value",
                                    "cls").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g,
                          ((user_id % 3 + 3) % 3) AS c,
                          CAST(floor(value * 1000) AS BIGINT) AS vm
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND user_id IS NOT NULL),
        pc AS (SELECT g, c, CAST(count(*) AS BIGINT) AS nc,
                      CAST(sum(vm) AS HUGEINT) AS s,
                      sum(CAST(vm AS HUGEINT) * CAST(vm AS HUGEINT))
                        AS ss
               FROM b GROUP BY 1, 2),
        pt AS (SELECT g, c, nc, s, ss, (s * s * 1000) // nc AS t
               FROM pc),
        pg AS (SELECT g, CAST(count(DISTINCT c) AS BIGINT) AS k,
                      CAST(sum(nc) AS BIGINT) AS n,
                      sum(s) AS stot, sum(ss) AS sstot,
                      sum(t) AS tsum
               FROM pt GROUP BY 1),
        a AS (SELECT g, k, n,
                     CAST(greatest(0, tsum - (stot * stot * 1000) // n)
                       AS BIGINT) AS ssb_milli,
                     CAST(sstot * 1000 - tsum AS BIGINT) AS ssw_milli
              FROM pg)
        SELECT g AS event_type, k, n, ssb_milli, ssw_milli,
               {ANOVA_F_SQL} AS f_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    # user parity classes are value-independent: F small but defined
    assert all(r[5] is not None and r[3] >= 0 and r[4] > 0 for r in got)

    # hand case: classes {0,2} vs {10,14} (the t-test fixture) — for
    # k=2, F = t² exactly in real arithmetic; quantized: means 1000 /
    # 12000, grand 6500; ssb = 2*(5500)²*2 = 121e6 (milli: 121e9);
    # ssw = (2e6 + 8e6) (milli: 1e10); F = (121e9/1)/(1e10/2) = 24.2
    known = spark.createDataFrame(
        [("g", 0.0, 0), ("g", 2.0, 0), ("g", 10.0, 1), ("g", 14.0, 1)],
        "event_type string, value double, cls int")
    r = anova_f(known, "event_type", "value", "cls").collect()[0]
    assert (r["k"], r["n"]) == (2, 4)
    assert r["f_e4"] == pytest.approx(24.2, abs=1e-3)
    # single class -> NULL; constant values -> ssw 0 -> NULL
    one = spark.createDataFrame(
        [("g", 1.0, 0), ("g", 2.0, 0)],
        "event_type string, value double, cls int")
    assert anova_f(one, "event_type", "value",
                   "cls").collect()[0]["f_e4"] is None
    const = spark.createDataFrame(
        [("g", 5.0, 0), ("g", 5.0, 0), ("g", 5.0, 1), ("g", 5.0, 1)],
        "event_type string, value double, cls int")
    assert anova_f(const, "event_type", "value",
                   "cls").collect()[0]["f_e4"] is None

    # near-constant truncation hand case (review-caught): two classes
    # of {0.001, 0 x6} give per-class t = 1000 div 7 = 142 twice
    # (tsum 284) vs grand (4*1000) div 14 = 285 -> raw ssb = -1; the
    # clamp pins ssb_milli to 0 so F is 0.0, never negative
    near = spark.createDataFrame(
        [("g", 0.001, c) for c in (0, 1)]
        + [("g", 0.0, c) for c in (0, 1) for _ in range(6)],
        "event_type string, value double, cls int")
    r = anova_f(near, "event_type", "value", "cls").collect()[0]
    assert (r["ssb_milli"], r["f_e4"]) == (0, 0.0)
    # the exact-quotient scale guard raises loudly instead of wrapping
    big = spark.createDataFrame(
        [("g", 4.0e11, 0), ("g", 4.0e11, 0), ("g", 1.0, 1)],
        "event_type string, value double, cls int")
    with pytest.raises(Exception, match="exact-quotient bound"):
        anova_f(big, "event_type", "value", "cls").collect()


def test_brown_forsythe_oracle_and_hand_cases(spark, sf_dir):
    """brown_forsythe: in-test DuckDB oracle (registry standard, r14
    queue) — exact lower medians per (group, class), |vm − med|
    deviations, then the anova_f integer body verbatim; hand cases pin
    the deviation moments, the equal-spread zero, and the k<2 NULL."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        ANOVA_F_SQL, brown_forsythe)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .withColumn("cls", F.pmod(F.col("user_id"), F.lit(3))))
    got = sorted(map(tuple, brown_forsythe(
        ev, "event_type", "value", "cls").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b0 AS (SELECT event_type AS g,
                           ((user_id % 3 + 3) % 3) AS c,
                           CAST(floor(value * 1000) AS BIGINT) AS vm
                    FROM events
                    WHERE value IS NOT NULL AND isfinite(value)
                      AND user_id IS NOT NULL),
        r AS (SELECT g, c, vm,
                     row_number() OVER (PARTITION BY g, c ORDER BY vm)
                       AS rn,
                     count(*) OVER (PARTITION BY g, c) AS nn
              FROM b0),
        md AS (SELECT g, c, max(CASE WHEN rn = (nn + 1) // 2
                          THEN vm END) AS med
               FROM r GROUP BY 1, 2),
        b AS (SELECT b0.g, b0.c, abs(vm - med) AS vm
              FROM b0 JOIN md USING (g, c)),
        pc AS (SELECT g, c, CAST(count(*) AS BIGINT) AS nc,
                      CAST(sum(vm) AS HUGEINT) AS s,
                      sum(CAST(vm AS HUGEINT) * CAST(vm AS HUGEINT))
                        AS ss
               FROM b GROUP BY 1, 2),
        pt AS (SELECT g, c, nc, s, ss, (s * s * 1000) // nc AS t
               FROM pc),
        pg AS (SELECT g, CAST(count(DISTINCT c) AS BIGINT) AS k,
                      CAST(sum(nc) AS BIGINT) AS n,
                      sum(s) AS stot, sum(ss) AS sstot,
                      sum(t) AS tsum
               FROM pt GROUP BY 1),
        a AS (SELECT g, k, n,
                     CAST(greatest(0, tsum - (stot * stot * 1000) // n)
                       AS BIGINT) AS ssb_milli,
                     CAST(sstot * 1000 - tsum AS BIGINT) AS ssw_milli
              FROM pg)
        SELECT g AS event_type, k, n, ssb_milli, ssw_milli,
               {ANOVA_F_SQL} AS f_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5

    # hand case, fully pinned: class 0 = [0, 10] -> lower median 0,
    # z = [0, 10000]; class 1 = [5, 5, 5] -> z = [0, 0, 0].
    # moments: t0 = (10000²·1000)//2 = 5e10, tsum = 5e10,
    # ssb = 5e10 − (10000²·1000)//5 = 3e10, ssw = 1e11 − 5e10 = 5e10,
    # F = (3e10/1)/(5e10/3) = 1.8
    known = spark.createDataFrame(
        [("g", 0.0, 0), ("g", 10.0, 0),
         ("g", 5.0, 1), ("g", 5.0, 1), ("g", 5.0, 1)],
        "event_type string, value double, cls int")
    r = brown_forsythe(known, "event_type", "value",
                       "cls").collect()[0]
    assert (r["k"], r["n"], r["ssb_milli"], r["ssw_milli"],
            r["f_e4"]) == (2, 5, 30000000000, 50000000000, 1.8)
    # identical spreads (shifted copies): deviations match exactly ->
    # ssb clamps to 0 -> F = 0
    same = spark.createDataFrame(
        [("g", 0.0, 0), ("g", 4.0, 0), ("g", 100.0, 1),
         ("g", 104.0, 1)],
        "event_type string, value double, cls int")
    r = brown_forsythe(same, "event_type", "value",
                       "cls").collect()[0]
    assert (r["ssb_milli"], r["f_e4"]) == (0, 0.0)
    # a single class -> NULL F (the anova_f guard carries over)
    one = spark.createDataFrame(
        [("g", 1.0, 0), ("g", 2.0, 0)],
        "event_type string, value double, cls int")
    assert brown_forsythe(one, "event_type", "value",
                          "cls").collect()[0]["f_e4"] is None


def test_autocorr_lag_oracle_and_hand_cases(spark, sf_dir):
    """autocorr_lag: in-test DuckDB oracle (registry standard, r14
    queue) — lead-paired Pearson under the quantized contract, all
    lags in one pass; hand cases pin the perfect ±1 series, the
    closed-gap subsequence rule, and the n<2 / constant NULLs."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        RANK_CORR_SQL, autocorr_lag)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_type").isNotNull()))
    got = sorted(map(tuple, autocorr_lag(ev, lags=(1, 2)).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g, ts, event_id,
                          CAST(floor(value * 1000) AS BIGINT) AS vm
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND ts IS NOT NULL AND event_id IS NOT NULL
                     AND event_type IS NOT NULL),
        l AS (SELECT g, vm,
                     lead(vm, 1) OVER w AS y1,
                     lead(vm, 2) OVER w AS y2
              FROM b
              WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)),
        p AS (SELECT g, 1 AS lag, vm AS x, y1 AS y FROM l
              WHERE y1 IS NOT NULL
              UNION ALL
              SELECT g, 2, vm, y2 FROM l WHERE y2 IS NOT NULL),
        a AS (SELECT g, lag, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(x AS HUGEINT)) AS _sx,
                     sum(CAST(y AS HUGEINT)) AS _sy,
                     sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
                       AS _sxx,
                     sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                       AS _syy,
                     sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
                       AS _sxy
              FROM p GROUP BY 1, 2)
        SELECT g AS event_type, CAST(lag AS BIGINT) AS lag, n,
               {RANK_CORR_SQL} AS corr_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 10   # 5 groups x 2 lags

    def run(vals, lags=(1,)):
        rows = [(i, "g", dt.datetime(2024, 1, 1)
                 + dt.timedelta(hours=i), float(v))
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id long, event_type string, ts timestamp, "
            "value double")
        return {(r["lag"]): (r["n"], r["corr_e4"]) for r in
                autocorr_lag(df, "event_type", "ts", "value",
                             "event_id", lags=lags).collect()}

    # a strictly linear series is perfectly lag-1 AND lag-2 correlated
    r = run([1, 2, 3, 4, 5], lags=(1, 2))
    assert r[1] == (4, 1.0) and r[2] == (3, 1.0)
    # an alternating series: lag 1 anti-correlated, lag 2 perfect
    r = run([1, -1, 1, -1, 1, -1], lags=(1, 2))
    assert r[1] == (5, -1.0) and r[2] == (4, 1.0)
    # NULL gaps CLOSE UP (the subsequence rule): [1, NULL, 2, 3]
    # pairs as (1,2),(2,3) — n = 2, still perfectly correlated
    rows = [(0, "g", dt.datetime(2024, 1, 1), 1.0),
            (1, "g", dt.datetime(2024, 1, 1, 1), None),
            (2, "g", dt.datetime(2024, 1, 1, 2), 2.0),
            (3, "g", dt.datetime(2024, 1, 1, 3), 3.0)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, "
        "value double")
    out = {r["lag"]: (r["n"], r["corr_e4"]) for r in
           autocorr_lag(df, "event_type", "ts", "value", "event_id",
                        lags=(1,)).collect()}
    assert out[1] == (2, 1.0)
    # n < 2 and constant series yield NULL, never a divide error
    assert run([1, 2])[1] == (1, None)
    assert run([7, 7, 7, 7])[1] == (3, None)
    # validation raises before any job
    with pytest.raises(ValueError, match="non-empty"):
        autocorr_lag(ev, lags=())
    with pytest.raises(ValueError, match="distinct"):
        autocorr_lag(ev, lags=(1, 1))
    with pytest.raises(ValueError, match="positive integers"):
        autocorr_lag(ev, lags=(0,))


def test_series_period_detect_oracle_and_hand_cases(spark, sf_dir):
    """series_period_detect: in-test DuckDB oracle (registry standard,
    r14 queue) — the autocorrelation-argmax criterion with the
    smallest-lag tie rule replays exactly in SQL; the planted period-3
    hand case exercises the tie (lags 3 and 6 both hit corr 1.0 and
    the SMALLER must win)."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        RANK_CORR_SQL, series_period_detect)

    MAXL = 8
    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_type").isNotNull()))
    got = sorted(map(tuple, series_period_detect(
        ev, max_lag=MAXL).collect()))
    leads = ",\n".join(
        f"lead(vm, {k}) OVER w AS y{k}" for k in range(1, MAXL + 1))
    pieces = " UNION ALL ".join(
        f"SELECT g, {k} AS lag, vm AS x, y{k} AS y FROM l "
        f"WHERE y{k} IS NOT NULL" for k in range(1, MAXL + 1))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g, ts, event_id,
                          CAST(floor(value * 1000) AS BIGINT) AS vm
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND ts IS NOT NULL AND event_id IS NOT NULL
                     AND event_type IS NOT NULL),
        l AS (SELECT g, vm, {leads}
              FROM b
              WINDOW w AS (PARTITION BY g ORDER BY ts, event_id)),
        p AS ({pieces}),
        a AS (SELECT g, lag, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(x AS HUGEINT)) AS _sx,
                     sum(CAST(y AS HUGEINT)) AS _sy,
                     sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
                       AS _sxx,
                     sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT))
                       AS _syy,
                     sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
                       AS _sxy
              FROM p GROUP BY 1, 2),
        c AS (SELECT g, lag, n, {RANK_CORR_SQL} AS corr_e4 FROM a)
        SELECT g AS event_type, CAST(lag AS BIGINT) AS period,
               corr_e4, n
        FROM c WHERE corr_e4 IS NOT NULL
        QUALIFY row_number() OVER (PARTITION BY g
                ORDER BY corr_e4 DESC, lag) = 1
    """).fetchall()))
    assert got == want and len(got) == 5

    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)

    def run(vals, max_lag=8):
        rows = [(i, "g", t0 + dt.timedelta(hours=i), float(v))
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "event_id long, event_type string, ts timestamp, "
            "value double")
        return series_period_detect(df, max_lag=max_lag).collect()

    # planted period 3: lags 3 AND 6 both reach corr 1.0 — the
    # smallest-lag tie rule must pick 3
    r = run([5, -3, -2] * 5)
    assert len(r) == 1 and (r[0]["period"], r[0]["corr_e4"]) == (3, 1.0)
    # a strictly linear series is maximally correlated at EVERY lag —
    # ties all the way down, so period = 1
    r = run(list(range(12)))
    assert r[0]["period"] == 1 and r[0]["corr_e4"] == 1.0
    # constant series: every lag NULL -> the group is ABSENT
    assert run([7, 7, 7, 7, 7, 7]) == []
    with pytest.raises(ValueError, match="max_lag"):
        series_period_detect(ev, max_lag=0)


def test_two_proportion_z_oracle_and_hand_cases(spark, sf_dir):
    """two_proportion_z: in-test DuckDB oracle (registry standard, r14
    queue) — exact integer conversion counts, one verbatim PROP_Z_SQL
    finish; hand cases pin a known z, the degenerate pooled rates, and
    the loud 0/1 validation on BOTH the side and the flag."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        PROP_Z_SQL, two_proportion_z)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()
                 & F.col("event_id").isNotNull()
                 & F.col("event_type").isNotNull())
          .withColumn("side", F.pmod(F.col("user_id"), F.lit(2)))
          .withColumn("flag", F.pmod(F.col("event_id"), F.lit(2))))
    got = sorted(map(tuple, two_proportion_z(
        ev, "event_type", "side", "flag").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g,
                          ((user_id % 2 + 2) % 2) AS s,
                          ((event_id % 2 + 2) % 2) AS x
                   FROM events
                   WHERE user_id IS NOT NULL AND event_id IS NOT NULL
                     AND event_type IS NOT NULL),
        a AS (SELECT g,
                     CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n1,
                     CAST(sum(CASE WHEN s = 1 THEN x ELSE 0 END)
                          AS BIGINT) AS x1,
                     CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n2,
                     CAST(sum(CASE WHEN s = 0 THEN x ELSE 0 END)
                          AS BIGINT) AS x2
              FROM b GROUP BY 1)
        SELECT g AS event_type, n1, x1, n2, x2,
               {PROP_Z_SQL} AS z_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5

    def run(rows):
        df = spark.createDataFrame(rows, "g string, s int, x int")
        return two_proportion_z(df, "g", "s", "x").collect()[0]

    # known z: 3/4 vs 1/4 converts, pooled 1/2 ->
    # z = 0.5 / sqrt(0.25 * 0.5) = sqrt(2) -> 1.4142 at e4
    rows = ([("g", 1, 1)] * 3 + [("g", 1, 0)]
            + [("g", 0, 1)] + [("g", 0, 0)] * 3)
    r = run(rows)
    assert (r["n1"], r["x1"], r["n2"], r["x2"], r["z_e4"]) == (
        4, 3, 4, 1, 1.4142)
    # degenerate pooled rates (all 0 / all 1) and an empty side -> NULL
    assert run([("g", 1, 0), ("g", 0, 0)])["z_e4"] is None
    assert run([("g", 1, 1), ("g", 0, 1)])["z_e4"] is None
    assert run([("g", 1, 1), ("g", 1, 0)])["z_e4"] is None
    # non-0/1 side or flag raises loudly (never silent truncation)
    bad = spark.createDataFrame([("g", 2, 1)], "g string, s int, x int")
    with pytest.raises(Exception, match="side_col must be 0 or 1"):
        two_proportion_z(bad, "g", "s", "x").collect()
    bad = spark.createDataFrame([("g", 1, 5)], "g string, s int, x int")
    with pytest.raises(Exception, match="flag_col must be 0 or 1"):
        two_proportion_z(bad, "g", "s", "x").collect()


def test_cramers_v_bias_corrected_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import (
        CRAMERS_V_BC_SQL, cramers_v, cramers_v_bias_corrected)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()
                 & _quantizable_col("value"))
          .withColumn("xbin",
                      F.pmod(F.floor(F.col("value")).cast("long"),
                             F.lit(7)))
          .withColumn("ybin", F.pmod(F.col("user_id"), F.lit(5))))
    got = sorted(map(tuple, cramers_v_bias_corrected(
        ev, "event_type", "xbin", "ybin").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g,
                          ((CAST(floor(value) AS BIGINT) % 7 + 7) % 7)
                            AS x,
                          ((user_id % 5 + 5) % 5) AS y
                   FROM events
                   WHERE user_id IS NOT NULL AND value IS NOT NULL
                     AND isfinite(value)),
        nxy AS (SELECT g, x, y, CAST(count(*) AS BIGINT) AS c
                FROM b GROUP BY 1, 2, 3),
        nx AS (SELECT g, x, CAST(sum(c) AS BIGINT) AS nx FROM nxy
               GROUP BY 1, 2),
        ny AS (SELECT g, y, CAST(sum(c) AS BIGINT) AS ny FROM nxy
               GROUP BY 1, 2),
        cells AS (SELECT nxy.g, (c * c * 1000000) // (nx * ny) AS term,
                         c
                  FROM nxy JOIN nx USING (g, x) JOIN ny USING (g, y)),
        pg AS (SELECT g, CAST(sum(c) AS BIGINT) AS n,
                      (SELECT count(DISTINCT x) FROM nxy i
                       WHERE i.g = cells.g) AS r,
                      (SELECT count(DISTINCT y) FROM nxy i
                       WHERE i.g = cells.g) AS c,
                      CAST(greatest(0, sum(term) - 1000000) AS BIGINT)
                        AS phi2_micro
               FROM cells GROUP BY g),
        a AS (SELECT g AS event_type, n, CAST(r AS BIGINT) AS r,
                     CAST(c AS BIGINT) AS c,
                     CAST(CASE WHEN n < 2 THEN NULL ELSE
                       greatest(0, phi2_micro
                         - ((r - 1) * (c - 1) * 1000000) // (n - 1))
                       END AS BIGINT) AS phi2c_micro,
                     CAST(CASE WHEN n < 2 THEN NULL ELSE
                       r * 1000 - ((r - 1) * (r - 1) * 1000) // (n - 1)
                       END AS BIGINT) AS rk_milli,
                     CAST(CASE WHEN n < 2 THEN NULL ELSE
                       c * 1000 - ((c - 1) * (c - 1) * 1000) // (n - 1)
                       END AS BIGINT) AS ck_milli
              FROM pg)
        SELECT event_type, n, r, c, phi2c_micro, rk_milli, ck_milli,
               {CRAMERS_V_BC_SQL} AS v_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    # bias correction shrinks V vs the uncorrected estimate on real
    # data (and stays within [0, 1])
    v_raw = {r["event_type"]: r["v_e4"] for r in cramers_v(
        ev, "event_type", "xbin", "ybin").collect()}
    for g, _n, _r, _c, _p, _rk, _ck, v in got:
        assert v is not None and 0.0 <= v <= v_raw[g]

    # hand cases: exact 2x2 independence -> corrected V = 0 (the min
    # corrected dimension stays > 1 at n = 4); constant y -> NULL;
    # a single row (n = 1) -> NULL correction terms -> NULL V
    ind = spark.createDataFrame(
        [("g", str(x), str(y)) for x in range(2) for y in range(2)],
        "g string, x string, y string")
    r = cramers_v_bias_corrected(ind, "g", "x", "y").collect()[0]
    assert (r["phi2c_micro"], r["v_e4"]) == (0, 0.0)
    assert r["rk_milli"] == r["ck_milli"] == 2000 - 1000 // 3
    const = spark.createDataFrame(
        [("g", "a", "z"), ("g", "b", "z")], "g string, x string, y string")
    assert cramers_v_bias_corrected(const, "g", "x", "y") \
        .collect()[0]["v_e4"] is None
    single = spark.createDataFrame(
        [("g", "a", "b")], "g string, x string, y string")
    r = cramers_v_bias_corrected(single, "g", "x", "y").collect()[0]
    assert r["phi2c_micro"] is None and r["v_e4"] is None


def test_categorical_iv_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import (
        categorical_iv)
    from clickhouse_hdfs_loader_spark.plans.queries import _ILOG2

    # a REAL category column (event_id mod 4) with a user-parity tag:
    # WoE genuinely varies across categories, so the oracle grades the
    # whole milli-log2 machinery (the first cut used cat == group,
    # which forces g=G/b=B and woe == 0 everywhere — it masked the
    # oracle's own case-insensitive GG->gg alias collision, the SAME
    # bug class as the operator's _G/_g clash; review-caught)
    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull())
          .withColumn("tag", F.pmod(F.col("user_id"), F.lit(2)))
          .withColumn("cat4", F.pmod(F.col("event_id"), F.lit(4))))
    got = sorted(map(tuple, categorical_iv(
        ev, "event_type", "cat4", "tag").collect()))
    lg = {k: _ILOG2.format(x=k) for k in ("zg", "zb", "ztg", "ztb")}
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g,
                          ((event_id % 4 + 4) % 4) AS cat,
                          ((user_id % 2 + 2) % 2) AS t
                   FROM events WHERE user_id IS NOT NULL),
        pc AS (SELECT g, cat, CAST(sum(t) AS BIGINT) AS gp,
                      CAST(sum(1 - t) AS BIGINT) AS bn
               FROM b GROUP BY 1, 2),
        tt AS (SELECT g, CAST(sum(gp) AS BIGINT) AS tgp,
                      CAST(sum(bn) AS BIGINT) AS tbn
               FROM pc GROUP BY 1),
        l AS (SELECT pc.g, cat, gp, bn, tgp, tbn,
                     CASE WHEN gp > 0 THEN gp ELSE 1 END AS zg,
                     CASE WHEN bn > 0 THEN bn ELSE 1 END AS zb,
                     tgp AS ztg, tbn AS ztb
              FROM pc JOIN tt ON pc.g = tt.g),
        w AS (SELECT g, cat, gp, bn, tgp, tbn,
                CAST(CASE WHEN gp = 0 OR bn = 0 THEN NULL ELSE
                  ({lg['zg']} + {lg['ztb']}) - ({lg['zb']} + {lg['ztg']})
                  END AS BIGINT) AS woe_milli
              FROM l)
        SELECT g AS event_type, cat AS cat4,
               gp AS pos_cnt, bn AS neg_cnt, woe_milli,
               CAST(CASE WHEN woe_milli IS NULL THEN NULL ELSE
                 (CAST(gp AS HUGEINT) * tbn - CAST(bn AS HUGEINT) * tgp)
                 * woe_milli // (CAST(tgp AS HUGEINT) * tbn)
                 END AS BIGINT) AS iv_milli
        FROM w
    """).fetchall()))
    assert got == want and len(got) == 20   # 5 groups x 4 categories
    # the real-category fixture must exercise nonzero WoE somewhere —
    # otherwise the oracle is vacuous again
    assert any(t[4] not in (None, 0) for t in got)

    # hand case: cat 'a' has odds ratio exactly 2 (g=2, b=1 vs G=4,
    # B=4): woe = lgm(2)+lgm(4)-lgm(1)-lgm(4) = 1000 milli-bits;
    # iv = ((2*4 - 1*4) * 1000) div 16 = 250
    rows = ([("g", "a", 1)] * 2 + [("g", "a", 0)] * 1
            + [("g", "r", 1)] * 2 + [("g", "r", 0)] * 3)
    df = spark.createDataFrame(rows, "g string, cat string, tag int")
    out = {r["cat"]: (r["pos_cnt"], r["neg_cnt"], r["woe_milli"],
                    r["iv_milli"])
           for r in categorical_iv(df, "g", "cat", "tag").collect()}
    assert out["a"] == (2, 1, 1000, 250)
    # perfectly separating category -> NULL woe/iv (±inf in real
    # arithmetic; smooth upstream if it must score)
    sep = spark.createDataFrame(
        [("g", "pos", 1), ("g", "pos", 1), ("g", "neg", 0)],
        "g string, cat string, tag int")
    o = {r["cat"]: r["woe_milli"] for r in
         categorical_iv(sep, "g", "cat", "tag").collect()}
    assert o["pos"] is None and o["neg"] is None
    # non-binary tag raises loudly
    bad = spark.createDataFrame([("g", "a", 2)],
                                "g string, cat string, tag int")
    with pytest.raises(Exception, match="0 or 1"):
        categorical_iv(bad, "g", "cat", "tag").collect()


def test_mutual_information_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import (
        mutual_information, theils_u)
    from clickhouse_hdfs_loader_spark.plans.queries import _ILOG2

    # the theils_u grading projection (value mod-7 bucket x user
    # parity class) so MI grades the same shared rollup end to end
    ev = (_sided(spark, sf_dir)
          .where(_quantizable_col("value"))
          .withColumn("xbin",
                      F.pmod(F.floor(F.col("value")).cast("long"),
                             F.lit(7)))
          .withColumn("ybin", F.pmod(F.col("user_id"), F.lit(5))))
    got = sorted(map(tuple, mutual_information(
        ev, "event_type", "xbin", "ybin").collect()))
    lg = _ILOG2.format(x="c")
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g,
                          ((CAST(floor(value) AS BIGINT) % 7 + 7) % 7)
                            AS x,
                          ((user_id % 5 + 5) % 5) AS y
                   FROM events
                   WHERE user_id IS NOT NULL AND value IS NOT NULL
                     AND isfinite(value)),
        nxy AS (SELECT g, x, y, CAST(count(*) AS BIGINT) AS c
                FROM b GROUP BY 1, 2, 3),
        sxy AS (SELECT g, CAST(sum(c * {lg}) AS BIGINT) AS sxy
                FROM nxy GROUP BY 1),
        nx AS (SELECT g, x, CAST(sum(c) AS BIGINT) AS c FROM nxy
               GROUP BY 1, 2),
        sx AS (SELECT g, CAST(sum(c * {lg}) AS BIGINT) AS sx,
                      CAST(sum(c) AS BIGINT) AS n
               FROM nx GROUP BY 1),
        ny AS (SELECT g, y, CAST(sum(c) AS BIGINT) AS c FROM nxy
               GROUP BY 1, 2),
        sy AS (SELECT g, CAST(sum(c * {lg}) AS BIGINT) AS sy
               FROM ny GROUP BY 1),
        a AS (SELECT g, n,
                     n * {_ILOG2.format(x="n")} - sx AS hx,
                     n * {_ILOG2.format(x="n")} - sy AS hy,
                     n * {_ILOG2.format(x="n")} - sx - sy + sxy AS mi
              FROM sx JOIN sy USING (g) JOIN sxy USING (g))
        SELECT g AS event_type, n,
               CAST(hx AS BIGINT) AS hx_n_milli,
               CAST(hy AS BIGINT) AS hy_n_milli,
               CAST(mi AS BIGINT) AS mi_n_milli,
               CAST(CASE WHEN least(hx, hy) <= 0 THEN NULL ELSE
                 (mi * 1000) // least(hx, hy) END AS BIGINT)
                 AS nmi_milli
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5

    # power-of-two hand cases (milli-log2 EXACT there):
    # perfect dependence X == Y, counts 2+2: MI = H(X) = 1 bit, NMI = 1
    dep = spark.createDataFrame(
        [("g", "a", "a")] * 2 + [("g", "b", "b")] * 2,
        "g string, x string, y string")
    r = mutual_information(dep, "g", "x", "y").collect()[0]
    assert (r["hx_n_milli"], r["mi_n_milli"], r["nmi_milli"]) == (
        4000, 4000, 1000)
    # exact independence (uniform 2x2 grid): MI = 0 exactly, NMI = 0
    ind = spark.createDataFrame(
        [("g", x, y) for x in ("a", "b") for y in ("c", "d")],
        "g string, x string, y string")
    r = mutual_information(ind, "g", "x", "y").collect()[0]
    assert (r["mi_n_milli"], r["nmi_milli"]) == (0, 0)
    # constant Y: MI = 0 and NMI is NULL (min entropy is 0)
    const = spark.createDataFrame(
        [("g", "a", "c"), ("g", "b", "c")],
        "g string, x string, y string")
    r = mutual_information(const, "g", "x", "y").collect()[0]
    assert r["hy_n_milli"] == 0 and r["nmi_milli"] is None

    # symmetry + the chain identity vs theils_u on the SAME rollup:
    # mi_n = hx_n - hcond_n(X|Y) holds EXACTLY (both sides are the
    # same integer combination of the same sums)
    swapped = sorted(map(tuple, mutual_information(
        ev, "event_type", "ybin", "xbin")
        .select("event_type", "n", "hy_n_milli", "hx_n_milli",
                "mi_n_milli", "nmi_milli").collect()))
    assert swapped == got
    tu = {r["event_type"]: r for r in theils_u(
        ev, "event_type", "xbin", "ybin").collect()}
    for (g, n, hx, hy, mi, nmi) in got:
        assert mi == tu[g]["hx_n_milli"] - tu[g]["hcond_n_milli"]


def _kendall_brute(xs, ys):
    """O(n²) pure-Python pair counts: the literal tau-b definition."""
    n = len(xs)
    n1 = n2 = n3 = c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = (xs[i] > xs[j]) - (xs[i] < xs[j])
            dy = (ys[i] > ys[j]) - (ys[i] < ys[j])
            if dx == 0 and dy == 0:
                n1, n2, n3 = n1 + 1, n2 + 1, n3 + 1
            elif dx == 0:
                n1 += 1
            elif dy == 0:
                n2 += 1
            elif dx == dy:
                c += 1
            else:
                d += 1
    n0 = n * (n - 1) // 2
    return n0, n1, n2, n3, d, c - d


def test_strict_inversions_hypothesis():
    """The Knight-merge inversion counter vs the O(n²) definition —
    ties must NOT count (strict inversions only)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.stats import (
        _strict_inversions)

    @given(st.lists(st.integers(-5, 5), max_size=60))
    @settings(max_examples=200, deadline=None)
    def check(vals):
        a = np.asarray(vals, dtype="int64")
        brute = sum(1 for i in range(len(vals))
                    for j in range(i + 1, len(vals))
                    if vals[i] > vals[j])
        assert _strict_inversions(a) == brute

    check()


def test_kendall_tau_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import kendall_tau

    # NULL group keys are excluded by the operator itself; NULL ids
    # must be excluded HERE because the twin's pair join (a.id < b.id)
    # silently forms no pairs for them while the operator (which never
    # reads the id) would count the row — the review-caught drift class
    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_id").isNotNull()))
    got = sorted(map(tuple, kendall_tau(
        ev, "event_type", "value", "user_id").collect()))
    # the literal O(n²) pair self-join — exactly the definition the
    # Knight algorithm must reproduce (quantization mirrored; the
    # brute force is the ORACLE, never the engine path)
    want = sorted(map(tuple, _duck(sf_dir).execute("""
        WITH v AS (SELECT event_type AS g, event_id AS id,
                          CAST(floor(value * 1000) AS BIGINT) AS x,
                          CAST(floor(CAST(user_id AS DOUBLE) * 1000)
                               AS BIGINT) AS y
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND user_id IS NOT NULL
                     AND event_type IS NOT NULL
                     AND event_id IS NOT NULL),
        n AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM v
              GROUP BY 1),
        p AS (SELECT a.g,
                CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END)
                     AS BIGINT) AS n1,
                CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END)
                     AS BIGINT) AS n2,
                CAST(sum(CASE WHEN a.x = b.x AND a.y = b.y
                     THEN 1 ELSE 0 END) AS BIGINT) AS n3,
                CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
                     OR (a.x > b.x AND a.y < b.y)
                     THEN 1 ELSE 0 END) AS BIGINT) AS dis,
                CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
                     OR (a.x > b.x AND a.y > b.y) THEN 1
                     WHEN (a.x < b.x AND a.y > b.y)
                     OR (a.x > b.x AND a.y < b.y) THEN -1
                     ELSE 0 END) AS BIGINT) AS cmd
              FROM v a JOIN v b ON a.g = b.g AND a.id < b.id
              GROUP BY 1)
        SELECT g AS event_type, n, n * (n - 1) // 2 AS n0,
               n1, n2, n3, dis, cmd AS con_minus_dis,
               CAST(CASE WHEN n * (n - 1) // 2 - n1 <= 0
                 OR n * (n - 1) // 2 - n2 <= 0 THEN NULL ELSE
                 CAST(floor(CAST(cmd AS DOUBLE)
                  / (sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE))
                     * sqrt(CAST(n * (n - 1) // 2 - n2 AS DOUBLE)))
                  * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
                  AS DOUBLE) / CAST(10000 AS DOUBLE) END AS DOUBLE)
                 AS tau_b_e4
        FROM p JOIN n USING (g)
    """).fetchall()))
    assert got == want and len(got) == 5

    # hand cases: monotone -> tau = 1 / -1; the classic tie grid ->
    # exactly one concordant and one discordant untied pair (tau = 0);
    # joint ties land in n3 and KEEP the two concordant pairs
    def run(rows):
        df = spark.createDataFrame(
            [("g", float(x), float(y)) for x, y in rows],
            "g string, x double, y double")
        return kendall_tau(df, "g", "x", "y").collect()[0]

    r = run([(1, 1), (2, 2), (3, 3)])
    assert (r["con_minus_dis"], r["tau_b_e4"]) == (3, 1.0)
    r = run([(1, 3), (2, 2), (3, 1)])
    assert (r["con_minus_dis"], r["tau_b_e4"]) == (-3, -1.0)
    r = run([(1, 1), (1, 2), (2, 1), (2, 2)])
    assert (r["n1"], r["n2"], r["n3"], r["dis"],
            r["con_minus_dis"], r["tau_b_e4"]) == (2, 2, 0, 1, 0, 0.0)
    r = run([(1, 1), (1, 1), (2, 2)])
    assert (r["n1"], r["n2"], r["n3"], r["dis"],
            r["con_minus_dis"], r["tau_b_e4"]) == (1, 1, 1, 0, 2, 1.0)
    # constant x -> every pair x-tied -> tau NULL
    r = run([(1, 1), (1, 2), (1, 3)])
    assert r["n1"] == 3 and r["tau_b_e4"] is None


@pytest.mark.slow
def test_kendall_tau_hypothesis_vs_brute(spark):
    """Property: the full operator (quantization aside — integer
    inputs) equals the O(n²) definition on arbitrary small tied
    samples, and negating y negates con_minus_dis exactly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.stats import kendall_tau

    @given(st.lists(st.tuples(st.integers(-3, 3), st.integers(-3, 3)),
                    min_size=2, max_size=25))
    @settings(max_examples=8, deadline=None)
    def check(pairs):
        xs = [p[0] for p in pairs]
        ys = [p[1] for p in pairs]
        df = spark.createDataFrame(
            [("g", float(x), float(y)) for x, y in pairs],
            "g string, x double, y double")
        r = kendall_tau(df, "g", "x", "y").collect()[0]
        n0, n1, n2, n3, dis, cmd = _kendall_brute(xs, ys)
        assert (r["n0"], r["n1"], r["n2"], r["n3"], r["dis"],
                r["con_minus_dis"]) == (n0, n1, n2, n3, dis, cmd)
        neg = kendall_tau(
            df.withColumn("y", -F.col("y")), "g", "x", "y").collect()[0]
        assert neg["con_minus_dis"] == -cmd

    check()


@pytest.mark.slow
def test_stream_mutual_information_matches_batch_any_partition(
        spark, sf_dir):
    """The foreachBatch MI twin reproduces the batch operator exactly
    (same rollup code path by construction), and folding ANY random
    partition of the rows through mi_update (counts are an int-sum
    monoid) equals the one-shot report."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.stats import (
        mi_from_state, mi_update, mutual_information)
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_mutual_information)

    ev = (_sided(spark, sf_dir)
          .where(_quantizable_col("value"))
          .withColumn("xbin",
                      F.pmod(F.floor(F.col("value")).cast("long"),
                             F.lit(7)))
          .withColumn("ybin", F.pmod(F.col("user_id"), F.lit(5))))
    batch = sorted(map(tuple, mutual_information(
        ev, "event_type", "xbin", "ybin").collect()))
    stream = sorted(map(tuple, stream_mutual_information(
        spark, sf_dir).collect()))
    assert stream == batch and len(stream) == 5

    schema = "g string, x long, y long"

    @given(st.lists(st.tuples(st.integers(0, 1),       # group
                              st.integers(0, 2),       # x
                              st.integers(0, 2)),      # y
                    min_size=1, max_size=20),
           st.lists(st.integers(0, 2), min_size=1, max_size=20))
    @settings(max_examples=8, deadline=None)
    def check(evs, assignment):
        rows = [(f"g{g}", x, y) for g, x, y in evs]
        full = spark.createDataFrame(rows, schema)
        one_shot = sorted(map(tuple, mutual_information(
            full, "g", "x", "y").collect()))
        parts: dict = {}
        for i, r in enumerate(rows):
            parts.setdefault(assignment[i % len(assignment)], []).append(r)
        state = None
        for _k, chunk in sorted(parts.items(), reverse=True):
            bdf = spark.createDataFrame(chunk, schema)
            state = mi_update(state, bdf, "g", "x", "y") \
                .localCheckpoint(eager=True)
        got = sorted(map(tuple, mi_from_state(
            state, "g", "x", "y").collect()))
        assert got == one_shot

    check()


def test_group_array_intersect_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.stats import (
        group_array_intersect)

    # rows = a user-week's active DAYS, each carrying its distinct
    # event-type array; intersection = the types hit on EVERY active
    # day of the week (habitual actions) — genuinely varied on the
    # fixtures (the per-user or per-day extremes are vacuous: 15 users
    # all hit all 5 types; no user hits any type all 65 days)
    ev = read_table(spark, sf_dir, "events")
    week = F.pmod(F.expr(
        "(unix_date(to_date(ts)) * CAST(86400 AS BIGINT)) div 604800"),
        F.lit(100))
    # NULL event_type filtered at ROW level (not just as dropped set
    # elements): an all-NULL day would otherwise stay an empty-array
    # row Spark-side while the twin's WHERE deletes the whole day
    arr = (ev.where(F.col("user_id").isNotNull()
                    & F.col("ts").isNotNull()
                    & F.col("event_type").isNotNull())
           .withColumn("g", F.col("user_id") * 100 + week)
           .groupBy("g", F.to_date("ts").alias("d"))
           .agg(F.sort_array(F.collect_set("event_type"))
                .alias("types")))
    got = sorted(map(tuple, group_array_intersect(
        arr, "g", "types").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["group_array_intersect"].oracle).fetchall()))
    # 8 intersect rows over ~400 user-week groups at sf0.001 — most
    # weeks have NO every-day type (non-vacuous in both directions)
    assert got == want and len(got) >= 5
    assert len({g for g, _e, _r in got}) < arr.select("g").distinct().count()

    def run(rows):
        df = spark.createDataFrame(rows, "g string, a array<string>")
        return sorted(map(tuple, group_array_intersect(
            df, "g", "a").collect()))

    # shared element survives; within-row duplicates count once
    assert run([("g", ["a", "b", "b"]), ("g", ["b", "c"])]) == [
        ("g", "b", 2)]
    # an EMPTY array forces an empty intersection (it is a row)
    assert run([("g", ["a"]), ("g", ["a", "b"]), ("g", [])]) == []
    # a NULL array is excluded entirely (the repo NULL stance)
    assert run([("g", ["a"]), ("g", None)]) == [("g", "a", 1)]
    # disjoint rows -> empty; single row -> its own distinct set
    assert run([("g", ["a"]), ("g", ["b"])]) == []
    assert run([("g", ["x", "y", "x"])]) == [("g", "x", 1),
                                             ("g", "y", 1)]


def test_mann_kendall_trend_identity_and_planted(spark, sf_dir):
    """mann_kendall_trend IS kendall_tau against second-resolution
    time (identity pinned on the real events), with planted monotone
    trends recovering tau = ±1 and same-second events landing in the
    time-tie count."""
    import datetime as _dt

    from clickhouse_hdfs_loader_spark.operators.stats import (
        kendall_tau, mann_kendall_trend)

    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, mann_kendall_trend(ev).collect()))
    twin = sorted(map(tuple, kendall_tau(
        ev.withColumn("_mk_sec",
                      F.unix_seconds(F.col("ts")).cast("double")),
        "event_type", "_mk_sec", "value").collect()))
    assert got == twin and len(got) == 5

    base = _dt.datetime(2024, 1, 1)

    def run(vals, secs=None):
        secs = secs or range(len(vals))
        rows = [("g", base + _dt.timedelta(seconds=int(s)), float(v))
                for s, v in zip(secs, vals)]
        df = spark.createDataFrame(rows,
                                   "g string, ts timestamp, v double")
        return mann_kendall_trend(df, "g", "ts", "v").collect()[0]

    r = run([1, 2, 3, 4])
    assert (r["s"], r["tau_b_e4"]) == (6, 1.0)
    r = run([4, 3, 2, 1])
    assert (r["s"], r["tau_b_e4"]) == (-6, -1.0)
    # two events in the SAME second are a time tie (n1), not a pair
    r = run([1, 2, 3], secs=[0, 0, 5])
    assert r["n1"] == 1 and r["s"] == 2


def test_cohens_d_oracle_and_hand_cases(spark, sf_dir):
    """cohens_d: in-test DuckDB oracle (registry standard, r15 queue)
    — the six-moment base verbatim (_MOMENTS_CTE) with the shared
    COHENS_D_SQL finish; hand cases pin a known d, the zero-pooled-
    variance NULL, and the n1+n2 < 3 NULL."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        COHENS_D_SQL, cohens_d)
    from clickhouse_hdfs_loader_spark.plans.queries import _MOMENTS_CTE

    got = sorted(map(tuple, cohens_d(
        _sided(spark, sf_dir), "event_type", "value", "side").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""{_MOMENTS_CTE}
        SELECT event_type, n1, n2, sum1, sum2, sumsq1, sumsq2,
               {COHENS_D_SQL} AS d_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    assert any(r[7] is not None for r in got)

    # pinned hand value: side1={2,4} (m1=3000, ss=2e6), side0={0,2}
    # (m2=1000, ss=2e6) -> sp² = 4e6/2 = 2e6, d = 2000/sqrt(2e6)
    # = sqrt(2) -> 1.4142 at e4
    known = spark.createDataFrame(
        [("g", 2.0, 1), ("g", 4.0, 1), ("g", 0.0, 0), ("g", 2.0, 0)],
        "event_type string, value double, side int")
    r = cohens_d(known, "event_type", "value", "side").collect()[0]
    assert (r["n1"], r["n2"], r["d_e4"]) == (2, 2, 1.4142)
    # zero pooled variance (both sides constant) -> NULL, never a trap
    const = spark.createDataFrame(
        [("g", 2.0, 1), ("g", 2.0, 1), ("g", 5.0, 0), ("g", 5.0, 0)],
        "event_type string, value double, side int")
    assert cohens_d(const, "event_type", "value",
                    "side").collect()[0]["d_e4"] is None
    # n1 + n2 < 3 -> NULL
    tiny = spark.createDataFrame(
        [("g", 1.0, 1), ("g", 4.0, 0)],
        "event_type string, value double, side int")
    assert cohens_d(tiny, "event_type", "value",
                    "side").collect()[0]["d_e4"] is None


def test_linear_trend_oracle_and_hand_cases(spark, sf_dir):
    """linear_trend: in-test DuckDB oracle (registry standard, r15
    queue) — DECIMAL(38) Spark moments twin HUGEINT sums exactly, the
    TREND_*_SQL finishes are verbatim-shared; hand cases pin a perfect
    line (exact slope AND intercept), the constant-x NULL, and n < 2."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        TREND_ICEPT_SQL, TREND_SLOPE_SQL, linear_trend)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_type").isNotNull()))
    got = sorted(map(tuple, linear_trend(ev).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g,
                          epoch_us(ts) // 1000000 AS x,
                          CAST(floor(value * 1000) AS BIGINT) AS y
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND ts IS NOT NULL AND event_type IS NOT NULL),
        a AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(x AS HUGEINT)) AS _sx,
                     sum(CAST(y AS HUGEINT)) AS _sy,
                     sum(CAST(x AS HUGEINT) * CAST(y AS HUGEINT))
                       AS _sxy,
                     sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT))
                       AS _sxx
              FROM b GROUP BY 1)
        SELECT g AS event_type, n, {TREND_SLOPE_SQL} AS slope_e6,
               {TREND_ICEPT_SQL} AS icept_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    assert any(r[2] is not None for r in got)

    # perfect line: vm = 2·(x − x0) + 5 -> slope exactly 2 milli/s and
    # intercept exactly 5 − 2·x0 milli (both rationals are integers,
    # so the e6/e4 roundings are exact — no tolerance)
    t0 = dt.datetime(2024, 1, 1)
    x0 = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    rows = [(i, "g", t0 + dt.timedelta(seconds=i), (2 * i + 5) / 1000.0)
            for i in range(9)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, "
        "value double")
    r = linear_trend(df).collect()[0]
    assert (r["n"], r["slope_e6"], r["icept_e4"]) == (
        9, 2.0, float(5 - 2 * x0))
    # constant x (all rows in the same second): den = 0 -> NULL both
    same = spark.createDataFrame(
        [(1, "g", t0, 1.0), (2, "g", t0, 9.0)],
        "event_id long, event_type string, ts timestamp, value double")
    r = linear_trend(same).collect()[0]
    assert r["slope_e6"] is None and r["icept_e4"] is None
    # n < 2 -> NULL
    one = spark.createDataFrame(
        [(1, "g", t0, 1.0)],
        "event_id long, event_type string, ts timestamp, value double")
    r = linear_trend(one).collect()[0]
    assert (r["n"], r["slope_e6"], r["icept_e4"]) == (1, None, None)


@pytest.mark.slow
def test_stream_linear_trend_matches_batch_any_partition(spark, sf_dir):
    """The foreachBatch regression twin reproduces the batch
    linear_trend exactly, and folding ANY random partition of the rows
    equals the one-shot report (the five-moment state is an int-sum
    monoid over absolute-x seconds — registry standard, r15 queue,
    graded against the batch oracle per the stream_two_proportion
    precedent)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.stats import (
        linear_trend, trend_from_state, trend_update)
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_linear_trend)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_type").isNotNull()))
    want = sorted(map(tuple, linear_trend(ev).collect()))
    got = sorted(map(tuple, stream_linear_trend(
        spark, sf_dir).collect()))
    assert got == want and len(got) == 5

    t0 = dt.datetime(2024, 1, 1)
    schema = "event_type string, ts timestamp, value double"

    @given(st.lists(st.tuples(st.integers(0, 1),           # group
                              st.integers(0, 5000),        # t offset s
                              st.integers(-50, 50)),       # milli value
                    min_size=1, max_size=16),
           st.lists(st.integers(0, 2), min_size=1, max_size=16))
    @settings(max_examples=6, deadline=None)
    def check(evs, assignment):
        rows = [(f"g{g}", t0 + dt.timedelta(seconds=s), v / 1000.0)
                for g, s, v in evs]
        full = spark.createDataFrame(rows, schema)
        one_shot = sorted(map(tuple, trend_from_state(
            trend_update(None, full)).collect()))
        parts: dict = {}
        for i, r in enumerate(rows):
            parts.setdefault(assignment[i % len(assignment)],
                             []).append(r)
        state = None
        for _k, chunk in sorted(parts.items(), reverse=True):
            bdf = spark.createDataFrame(chunk, schema)
            state = trend_update(state, bdf).localCheckpoint(eager=True)
        got2 = sorted(map(tuple, trend_from_state(state).collect()))
        assert got2 == one_shot

    check()


def test_roc_auc_oracle_and_hand_cases(spark, sf_dir):
    """roc_auc: in-test DuckDB oracle (registry standard, r16 queue)
    — the mann_whitney_u doubled-midrank CTE verbatim with the
    ROC_AUC_E6_DUCK two-step exact-e6 finish; coherence with the
    graded U statistic; hand cases pin perfect/reversed/tied AUC, the
    single-class NULL, and the loud label validation."""
    import duckdb

    from clickhouse_hdfs_loader_spark.operators.stats import (
        ROC_AUC_E6_DUCK, mann_whitney_u, roc_auc)

    got = sorted(map(tuple, roc_auc(
        _sided(spark, sf_dir), "event_type", "value", "side").collect()))
    con = _duck(sf_dir)
    want = sorted(map(tuple, con.execute(f"""
        WITH b AS (SELECT event_type,
                          CAST(floor(value * 1000) AS BIGINT) AS vm,
                          CAST(((user_id % 2 + 2) % 2) AS BIGINT) AS s
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND user_id IS NOT NULL),
        pv AS (SELECT event_type, vm, CAST(count(*) AS BIGINT) AS cnt,
                      CAST(sum(s) AS BIGINT) AS c1
               FROM b GROUP BY 1, 2),
        rk AS (SELECT event_type, vm, cnt, c1,
                 coalesce(sum(cnt) OVER (PARTITION BY event_type
                   ORDER BY vm ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS lt
               FROM pv),
        a AS (SELECT event_type,
                     CAST(sum(c1) AS BIGINT) AS n1,
                     CAST(sum(cnt - c1) AS BIGINT) AS n2,
                     CAST(sum(c1 * (2 * lt + cnt + 1))
                          - sum(c1) * (sum(c1) + 1) AS BIGINT) AS u2
              FROM rk GROUP BY 1)
        SELECT event_type, n1, n2, u2,
               CAST({ROC_AUC_E6_DUCK} AS BIGINT) AS auc_e6
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    assert all(r[4] is not None for r in got)
    # coherence: auc_e6 derives from the SAME u2 the graded
    # mann_whitney_u emits
    u = {tuple(r)[:4] for r in mann_whitney_u(
        _sided(spark, sf_dir), "event_type", "value", "side").collect()}
    assert {t[:4] for t in got} == u

    def run(rows):
        df = spark.createDataFrame(
            rows, "g string, score double, y int")
        return roc_auc(df, "g", "score", "y").collect()[0]

    # perfect separation -> exactly 1e6; reversed -> 0
    r = run([("g", 3.0, 1), ("g", 2.0, 1), ("g", 1.0, 0)])
    assert (r["n1"], r["n2"], r["auc_e6"]) == (2, 1, 1_000_000)
    assert run([("g", 1.0, 1), ("g", 2.0, 0)])["auc_e6"] == 0
    # all scores tied -> exactly 1/2
    assert run([("g", 5.0, 1), ("g", 5.0, 0),
                ("g", 5.0, 0)])["auc_e6"] == 500_000
    # 2/3 concordant + the exact e6 of a non-terminating fraction
    r = run([("g", 3.0, 1), ("g", 2.0, 0), ("g", 1.0, 1)])
    assert r["auc_e6"] == 500_000     # (1 + 0)/2 pairs... u2=2 -> 2/4
    # single-class group -> NULL, never a division trap
    assert run([("g", 1.0, 1), ("g", 2.0, 1)])["auc_e6"] is None
    # loud 0/1 validation, named for THIS operator's parameter (the
    # r14 domain-specific-message rule)
    with pytest.raises(Exception,
                       match="roc_auc: label_col must be 0 or 1"):
        run([("g", 1.0, 2)])


def test_rolling_corr_oracle_and_hand_cases(spark, sf_dir):
    """rolling_corr: in-test DuckDB oracle (registry standard, r16
    queue) — six int64 moment sums over one trailing ROWS frame with
    the verbatim RANK_CORR_SQL finish (rolling autocorrelation shape:
    y = lagged value); hand cases pin the ±1 perfect frames, the
    warm-up NULL, the locally-constant NULL, and the validation."""
    from pyspark.sql import Window

    from clickhouse_hdfs_loader_spark.operators.stats import (
        RANK_CORR_SQL, rolling_corr)

    # the lag preamble excludes NULL ordering keys BEFORE the lag on
    # BOTH sides (the r9 window-ordered-oracle rule — Spark sorts NULL
    # keys FIRST, DuckDB LAST, so fixture drift would shift every lag
    # neighbor; review-caught r15)
    wlag = Window.partitionBy("event_type").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id"))
    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
          .withColumn("vlag", F.lag("value").over(wlag)))
    got = sorted(map(tuple, rolling_corr(
        ev, "event_type", "value", "vlag", n=10).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH l AS (SELECT event_type, epoch_us(ts) AS tus, event_id,
                          value,
                          lag(value) OVER (PARTITION BY event_type
                            ORDER BY epoch_us(ts), event_id) AS vlag
                   FROM events
                   WHERE ts IS NOT NULL AND event_id IS NOT NULL),
        b AS (SELECT event_type, tus, event_id,
                     CAST(floor(value * 1000) AS BIGINT) AS qx,
                     CAST(floor(vlag * 1000) AS BIGINT) AS qy
              FROM l
              WHERE value IS NOT NULL AND isfinite(value)
                AND vlag IS NOT NULL AND isfinite(vlag)
                AND tus IS NOT NULL AND event_id IS NOT NULL),
        f AS (SELECT event_type, tus, event_id,
                     CAST(count(*) OVER w AS BIGINT) AS n,
                     CAST(sum(qx) OVER w AS BIGINT) AS _sx,
                     CAST(sum(qy) OVER w AS BIGINT) AS _sy,
                     CAST(sum(qx * qx) OVER w AS BIGINT) AS _sxx,
                     CAST(sum(qy * qy) OVER w AS BIGINT) AS _syy,
                     CAST(sum(qx * qy) OVER w AS BIGINT) AS _sxy
              FROM b
              WINDOW w AS (PARTITION BY event_type
                           ORDER BY tus, event_id
                           ROWS BETWEEN 9 PRECEDING AND CURRENT ROW))
        SELECT event_type, CAST(tus AS BIGINT) AS t_us, event_id, n,
               {RANK_CORR_SQL} AS corr_e4
        FROM f
    """).fetchall()))
    assert got == want and len(got) > 0
    assert any(r[4] is not None for r in got)

    import datetime as _dt
    t0 = _dt.datetime(2024, 1, 1)

    def run(pairs, n=3):
        df = spark.createDataFrame(
            [(i, "g", t0 + _dt.timedelta(seconds=i), x, y)
             for i, (x, y) in enumerate(pairs)],
            "event_id long, event_type string, ts timestamp, "
            "x double, y double")
        return [r["corr_e4"] for r in rolling_corr(
            df, "event_type", "x", "y", n=n).orderBy("t_us").collect()]

    # y = x: warm-up row NULL (frame of 1), then exactly +1
    assert run([(1.0, 1.0), (2.0, 2.0), (3.0, 3.0)]) == [
        None, 1.0, 1.0]
    # y = -x: exactly -1 after warm-up
    assert run([(1.0, -1.0), (2.0, -2.0), (3.0, -3.0)]) == [
        None, -1.0, -1.0]
    # locally-constant y: NULL through the RANK_CORR_SQL guard
    assert run([(1.0, 5.0), (2.0, 5.0), (3.0, 5.0)]) == [
        None, None, None]
    # the frame is TRAILING n rows: an anticorrelated tail flips the
    # sign once the correlated head leaves the frame
    r = run([(1.0, 1.0), (2.0, 2.0), (3.0, 2.0), (4.0, 1.0),
             (5.0, 0.0)], n=2)
    assert r[1] == 1.0 and r[4] == -1.0
    with pytest.raises(ValueError, match="n must be >= 2"):
        rolling_corr(ev, "event_type", "value", "vlag", n=1)
    # the n-aware moment-overflow guard raises NAMED, before any
    # generic ANSI sum overflow (review-caught r15)
    big = spark.createDataFrame(
        [(1, "g", dt.datetime(2024, 1, 1), 4.0e9, 1.0)],
        "event_id long, event_type string, ts timestamp, "
        "x double, y double")
    with pytest.raises(Exception, match="overflows the int64 frame"):
        rolling_corr(big, "event_type", "x", "y", n=3).collect()


def test_brier_score_oracle_and_hand_cases(spark, sf_dir):
    """brier_score: in-test DuckDB oracle (registry standard, r16
    queue) — Σ(pm − 1000y)² div n replays verbatim; hand cases pin the
    perfect/anti-perfect/coin-flip scores and the loud validation."""
    from clickhouse_hdfs_loader_spark.operators.stats import brier_score

    # raw value stands in for the probability — the operator contract
    # only needs finiteness (quantization IS the contract)
    got = sorted(map(tuple, brier_score(
        _sided(spark, sf_dir), "event_type", "value", "side").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["brier_score"].oracle).fetchall()))
    assert got == want and len(got) == 5

    def run(rows):
        df = spark.createDataFrame(rows, "g string, p double, y int")
        return brier_score(df, "g", "p", "y").collect()[0]

    assert run([("g", 1.0, 1), ("g", 0.0, 0)])["brier_e6"] == 0
    assert run([("g", 0.0, 1)])["brier_e6"] == 1_000_000
    assert run([("g", 0.5, 1), ("g", 0.5, 0)])["brier_e6"] == 250_000
    with pytest.raises(Exception,
                       match="brier_score: label_col must be 0 or 1"):
        run([("g", 0.5, 7)])


def test_classification_report_oracle_and_hand_cases(spark, sf_dir):
    """classification_report: the graded registry oracle, on the input
    the registry query builds (``events_pred_label``) — confusion counts
    + four exact e6 integer metrics, each a single guarded division;
    hand cases pin a known confusion matrix, every zero-denominator
    NULL, and the loud validation on BOTH columns."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        classification_report, events_pred_label)

    ev = events_pred_label(read_table(spark, sf_dir, "events"))
    got = sorted(map(tuple, classification_report(
        ev, "event_type", "pred", "label").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["classification_report"].oracle).fetchall()))
    assert got == want and len(got) == 5
    # the fixture exercises non-degenerate metrics
    assert all(r[6] is not None and r[8] is not None for r in got)

    def run(rows):
        df = spark.createDataFrame(rows, "g string, p int, y int")
        return classification_report(df, "g", "p", "y").collect()[0]

    # known matrix: tp=2 fp=1 fn=1 tn=1 -> P=2/3, R=2/3, F1=2/3, A=3/5
    r = run([("g", 1, 1), ("g", 1, 1), ("g", 1, 0), ("g", 0, 1),
             ("g", 0, 0)])
    assert (r["tp"], r["fp"], r["fn"], r["tn"]) == (2, 1, 1, 1)
    assert (r["precision_e6"], r["recall_e6"], r["f1_e6"],
            r["accuracy_e6"]) == (666_666, 666_666, 666_666, 600_000)
    # all-negative predictions AND labels: every ratio NULL but
    # accuracy (tn = n)
    r = run([("g", 0, 0), ("g", 0, 0)])
    assert (r["precision_e6"], r["recall_e6"], r["f1_e6"],
            r["accuracy_e6"]) == (None, None, None, 1_000_000)
    # loud validation on BOTH columns
    with pytest.raises(Exception, match="pred_col must be 0 or 1"):
        run([("g", 3, 1)])
    with pytest.raises(Exception, match="label_col must be 0 or 1"):
        run([("g", 1, -1)])


def test_vwap_resample_oracle_and_hand_cases(spark, sf_dir):
    """vwap_resample: in-test DuckDB oracle (registry standard, r16
    queue) — the avg_weighted contract per (series, hour) bucket with
    the verbatim AVG_WEIGHTED_SQL finish; hand cases pin the weighted
    crossing, the zero-volume-bucket NULL, and the loud volume
    validation named for THIS operator."""
    from clickhouse_hdfs_loader_spark.operators.asof import (
        vwap_resample)
    from clickhouse_hdfs_loader_spark.operators.stats import (
        AVG_WEIGHTED_SQL)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_id").isNotNull())
          .withColumn("vol", F.pmod(F.col("event_id"), F.lit(5))))
    got = sorted(map(tuple, vwap_resample(ev).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type, date_trunc('hour', ts) AS h,
                          CAST(floor(value * 1000) AS BIGINT) AS pm,
                          CAST(((event_id % 5 + 5) % 5) AS BIGINT) AS w
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND ts IS NOT NULL AND event_id IS NOT NULL),
        a AS (SELECT event_type,
                     CAST(floor(epoch(h)) AS BIGINT) AS hour_epoch,
                     CAST(sum(w) AS BIGINT) AS wsum,
                     CAST(sum(w * pm) AS BIGINT) AS wvsum_milli
              FROM b GROUP BY 1, 2)
        SELECT event_type, hour_epoch, wsum, wvsum_milli,
               {AVG_WEIGHTED_SQL} AS vwap_e4
        FROM a
    """).fetchall()))
    assert got == want and len(got) > 0
    assert any(r[4] is not None for r in got)

    t0 = dt.datetime(2024, 1, 1, 9, 30)
    schema = ("event_type string, ts timestamp, value double, "
              "vol long")

    def run(rows):
        df = spark.createDataFrame(rows, schema)
        return vwap_resample(df).collect()

    # volume pulls the average toward the heavy trade:
    # (10·1 + 20·3) / 4 = 17.5
    r = run([("g", t0, 10.0, 1), ("g", t0, 20.0, 3)])
    assert (r[0]["wsum"], r[0]["vwap_e4"]) == (4, 17.5)
    # an all-zero-volume bucket is NULL, never a division trap
    r = run([("g", t0, 10.0, 0)])
    assert r[0]["vwap_e4"] is None and r[0]["wsum"] == 0
    # loud validation, named for vwap's volume
    for bad, msg in ((0.5, "integral counts"),
                     (-2.0, "not a valid trade volume")):
        df = spark.createDataFrame(
            [("g", t0, 1.0, float(bad))],
            "event_type string, ts timestamp, value double, "
            "vol double")
        with pytest.raises(Exception, match=msg):
            vwap_resample(df).collect()


@pytest.mark.slow
def test_stream_classification_report_matches_batch_any_partition(
        spark, sf_dir):
    """The foreachBatch classifier-monitor twin reproduces the batch
    classification_report exactly, and folding ANY random partition of
    the rows equals the one-shot report (the confusion counts are an
    int-sum monoid — registry standard, r16 queue, graded against the
    batch oracle per the stream_two_proportion precedent)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.stats import (
        classification_report, clsrep_from_state, clsrep_update)
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_classification_report)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()
                 & F.col("event_id").isNotNull())
          .withColumn("pred", F.pmod(F.col("event_id"), F.lit(2)))
          .withColumn("label", F.pmod(F.col("user_id"), F.lit(2))))
    want = sorted(map(tuple, classification_report(
        ev, "event_type", "pred", "label").collect()))
    got = sorted(map(tuple, stream_classification_report(
        spark, sf_dir).collect()))
    assert got == want and len(got) == 5

    schema = "event_type string, pred int, label int"

    @given(st.lists(st.tuples(st.integers(0, 1),    # group
                              st.integers(0, 1),    # pred
                              st.integers(0, 1)),   # label
                    min_size=1, max_size=14),
           st.lists(st.integers(0, 2), min_size=1, max_size=14))
    @settings(max_examples=5, deadline=None)
    def check(rows_in, assignment):
        rows = [(f"g{g}", p, y) for g, p, y in rows_in]
        full = spark.createDataFrame(rows, schema)
        one_shot = sorted(map(tuple, clsrep_from_state(
            clsrep_update(None, full)).collect()))
        parts: dict = {}
        for i, r in enumerate(rows):
            parts.setdefault(assignment[i % len(assignment)],
                             []).append(r)
        state = None
        for _k, chunk in sorted(parts.items(), reverse=True):
            bdf = spark.createDataFrame(chunk, schema)
            state = clsrep_update(state, bdf).localCheckpoint(
                eager=True)
        got2 = sorted(map(tuple, clsrep_from_state(state).collect()))
        assert got2 == one_shot

    check()


# The exponential_time_decayed promotion golden PROMOTED r15: the ONE
# copy of the pinned literals + guarded oracle now lives at
# plans/queries.py (ETD_GOLDEN / ETD_GOLDEN_ORACLE, the etd_summary
# registry entry); these tests import it so the literals the registry
# grades are exactly the ones re-derived Spark-free here.
from clickhouse_hdfs_loader_spark.plans.queries import (  # noqa: E402
    ETD_GOLDEN, ETD_GOLDEN_ORACLE)


def test_etd_summary_golden_rederivation():
    """The exponential_time_decayed promotion golden, re-derived 100%
    Spark-free at the grading scale (the ema_summary recipe): the
    pinned ETD_GOLDEN literals must equal the independent pure-Python
    triple fold."""
    import math

    con = _duck("/root/testdata/sf0.01")
    rows = con.execute(
        "SELECT event_type, epoch_us(ts) AS us, CAST(value AS DOUBLE) "
        "FROM events WHERE ts IS NOT NULL AND value IS NOT NULL "
        "AND isfinite(value) ORDER BY event_type, us, event_id"
    ).fetchall()
    hl = 3600.0
    series: dict = {}
    for g, us, v in rows:
        series.setdefault(g, []).append((us, v))
    derived = []
    for g in sorted(series):
        dsum = dcnt = dmax = prev = None
        for us, v in series[g]:
            if dsum is None:
                dsum, dcnt, dmax = float(v), 1.0, float(v)
            else:
                decay = 2.0 ** (-((us - prev) / 1e6) / hl)
                dsum = float(v) + dsum * decay
                dcnt = 1.0 + dcnt * decay
                dmax = max(float(v), dmax * decay)
            prev = int(us)
        derived.append((g, len(series[g]), prev,
                        math.floor(dsum * 1e6), math.floor(dcnt * 1e6),
                        math.floor(dmax * 1e6)))
    assert derived == ETD_GOLDEN


def test_etd_summary_golden_vs_operator(spark):
    """The golden's promotion-ready twin runs end-to-end at sf0.01:
    the operator's floor(x·1e6) projection equals the guarded literal
    oracle exactly (registry standard, r15 queue — tag golden-sf0.01
    on promotion)."""
    from clickhouse_hdfs_loader_spark.operators.stats import (
        exponential_time_decayed)

    sf01 = "/root/testdata/sf0.01"
    ev = read_table(spark, sf01, "events")
    out = exponential_time_decayed(ev, half_life_s=3600.0)
    got = sorted(map(tuple, out.select(
        "event_type", "n", "last_ts_us",
        F.floor(F.col("dsum") * F.lit(1_000_000.0)).cast("long")
        .alias("dsum_micro"),
        F.floor(F.col("dcnt") * F.lit(1_000_000.0)).cast("long")
        .alias("dcnt_micro"),
        F.floor(F.col("dmax") * F.lit(1_000_000.0)).cast("long")
        .alias("dmax_micro")).collect()))
    want = sorted(map(tuple,
                      _duck(sf01).execute(ETD_GOLDEN_ORACLE).fetchall()))
    assert got == want and len(got) == 5
