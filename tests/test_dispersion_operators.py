"""Corpus-composition and dispersion measures (the post-endgame r11
batches, r12 promotion queue): Simpson's index, the Gini coefficient,
MAD outliers + the robust_scale row transform, trimmed means, the
Benford first-digit screen, and PSI drift (operators/dispersion.py);
the Zipf power-law fit (corpus.zipf_fit); the cohort-overlap matrix,
equi-depth histogram, CUSUM change point, Kaplan-Meier survival, and
the deterministic adaptive histogram (operators/analytics.py) —
DuckDB exact-replay oracles on the real events table (written to
registry standards, NULL-group/id hardening mirrored on both sides)
or exact Fraction/stepwise replays for the non-SQL folds, plus the
degenerate / tie hand cases the fixtures can't force and the
structural invariances (scale invariance, complement identity, mass
preservation, monotonicity) each measure must satisfy."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from clickhouse_hdfs_loader_spark.operators.dispersion import (
    gini_coefficient, mad_outliers, simpson_diversity)
from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
from clickhouse_hdfs_loader_spark.sources.tables import read_table


def _duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    return con


def _ev(spark, sf_dir):
    """The promotion-ready grading input: NULL group keys excluded on
    BOTH sides even though today's fixtures have none (the r9 fixture-
    drift stance — Spark and DuckDB disagree on NULL-key join/sort
    placement, and every twin below mirrors this WHERE)."""
    return (read_table(spark, sf_dir, "events")
            .where(F.col("event_type").isNotNull()))


def test_tukey_outliers_oracle_and_hand_cases(spark, sf_dir):
    """tukey_outliers: in-test DuckDB oracle (registry standard, r14
    queue) — exact lower-quantile Q1/Q3 at rank ceil(n·q/1000), integer
    k_e3 fences, all int64; hand cases pin the rank rule, the
    1.5→1 margin truncation, and the degenerate identical-rows group."""
    from clickhouse_hdfs_loader_spark.operators.dispersion import (
        tukey_outliers)

    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, tukey_outliers(
        ev, "event_type", "value").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["tukey_outliers"].oracle).fetchall()))
    assert got == want and len(got) == 5

    def run(vals, k_e3=1500):
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "g string, v double")
        return tukey_outliers(df, "g", "v", k_e3=k_e3).collect()[0]

    # rank rule on n=4: pos1 = (1000+999)//1000 = 1, pos3 = 3 ->
    # Q1 = 1000, Q3 = 3000, margin = 3000; only the 100 flags (high)
    r = run([1, 2, 3, 100])
    assert (r["q1_milli"], r["q3_milli"], r["lo_milli"], r["hi_milli"],
            r["n_low"], r["n_high"], r["outlier_rate_e4"]) == (
        1000, 3000, -2000, 6000, 0, 1, 2500)
    # margin truncation: IQR = 1 milli -> 1.5 truncates to 1 (toward
    # zero == floor for the non-negative IQR)
    r = run([0, 0.001])
    assert (r["q1_milli"], r["q3_milli"], r["lo_milli"],
            r["hi_milli"]) == (0, 1, -1, 2)
    # identical rows: zero-width box, zero outliers (never a raise)
    r = run([7, 7, 7])
    assert (r["lo_milli"], r["hi_milli"], r["n_low"], r["n_high"],
            r["outlier_rate_e4"]) == (7000, 7000, 0, 0, 0)
    # k_e3 = 0: the fences ARE the quartiles
    r = run([1, 2, 3, 100], k_e3=0)
    assert (r["lo_milli"], r["hi_milli"], r["n_high"]) == (
        1000, 3000, 1)
    # negative k_e3 raises before any job
    with pytest.raises(ValueError, match="k_e3 must be"):
        tukey_outliers(ev, "event_type", "value", k_e3=-1)


def test_simpson_diversity_oracle_and_hand_cases(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, simpson_diversity(
        ev, "event_type", "user_id").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["simpson_diversity"].oracle).fetchall()))
    assert got == want and len(got) == 5
    # the complement identity holds row-for-row by construction
    assert all(d + gs == 1_000_000 for (_, _, _, d, gs) in got)

    # hand cases: two categories 2+2 -> D = 4/12 exactly; a constant
    # column -> D = 1; a single row -> NULL (undefined without a pair)
    def run(cats):
        df = spark.createDataFrame([("g", c) for c in cats],
                                   "g string, c string")
        return simpson_diversity(df, "g", "c").collect()[0]

    r = run(["a", "a", "b", "b"])
    assert (r["n"], r["k"], r["d_e6"], r["gs_e6"]) == (
        4, 2, 333333, 666667)
    r = run(["a", "a", "a"])
    assert (r["k"], r["d_e6"], r["gs_e6"]) == (1, 1_000_000, 0)
    r = run(["a"])
    assert r["d_e6"] is None and r["gs_e6"] is None
    # all-distinct -> D = 0 (max diversity)
    r = run(["a", "b", "c", "d"])
    assert (r["d_e6"], r["gs_e6"]) == (0, 1_000_000)


def test_gini_coefficient_oracle_and_hand_cases(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, gini_coefficient(
        ev, "event_type", "value").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["gini_coefficient"].oracle).fetchall()))
    assert got == want and len(got) == 5
    assert all(0 <= g <= 1_000_000 for (_, _, _, g) in got)

    def run(vals):
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "g string, v double")
        return gini_coefficient(df, "g", "v").collect()[0]

    # perfectly equal -> 0; one-holder -> (n-1)/n exactly
    assert run([5, 5, 5, 5])["g_e6"] == 0
    assert run([0, 0, 0, 10])["g_e6"] == 750_000
    # textbook: [1, 2, 3, 4] -> G = 2*(1+4+9+16)-5*10 / 40 = 10/40
    assert run([1, 2, 3, 4])["g_e6"] == 250_000
    # all-zero mass -> NULL (undefined ratio, never an ANSI trap)
    assert run([0, 0])["g_e6"] is None
    # scale invariance on integer-valued doubles: milli-quantization
    # is exact there, so G(7x) == G(x) to the last micro-unit
    base = [1, 5, 2, 9, 4, 4, 0, 3]
    assert (run(base)["g_e6"]
            == run([7 * v for v in base])["g_e6"])
    # negative values raise loudly (Gini undefined; never clamped)
    with pytest.raises(Exception, match="negative"):
        run([1.0, -2.0])


def test_mad_outliers_oracle_and_hand_cases(spark, sf_dir):
    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, mad_outliers(
        ev, "event_type", "value", k=3).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["mad_outliers"].oracle).fetchall()))
    assert got == want and len(got) == 5

    def run(vals, k=3):
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "g string, v double")
        return mad_outliers(df, "g", "v", k=k).collect()[0]

    # hand case: sorted [1,2,3,100] -> lower median 2, devs [1,0,1,98]
    # -> MAD 1, the 98 is the only row beyond 3 MADs
    r = run([1, 2, 3, 100])
    assert (r["median_milli"], r["mad_milli"], r["outlier_cnt"],
            r["outlier_rate_e4"]) == (2000, 1000, 1, 2500)
    # MAD = 0 degenerates to dev > 0 (the Hampel convention): every
    # row off the median flags
    r = run([5, 5, 5, 9])
    assert (r["mad_milli"], r["outlier_cnt"]) == (0, 1)
    # a robust screen must NOT flag everything when the distribution
    # is tight: identical rows -> zero outliers
    r = run([7, 7, 7])
    assert (r["outlier_cnt"], r["outlier_rate_e4"]) == (0, 0)
    # k widens the fence monotonically
    wide = [0, 10, 20, 30, 200]
    assert (run(wide, k=3)["outlier_cnt"]
            >= run(wide, k=8)["outlier_cnt"])
    # invalid k raises before any job runs
    with pytest.raises(ValueError, match="k must be"):
        mad_outliers(read_table(spark, sf_dir, "events"),
                     "event_type", "value", k=0)


def test_zipf_fit_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.corpus import (
        ZIPF_R2_SQL, ZIPF_S_SQL, zipf_fit)
    from clickhouse_hdfs_loader_spark.plans.queries import _ILOG2

    # term = user activity (user_id) per event_type: a genuinely
    # skewed frequency table that exercises ranks, ties, and both logs
    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, zipf_fit(
        ev, "event_type", "user_id").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH c AS (SELECT event_type AS g, user_id AS t,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events WHERE user_id IS NOT NULL
                     AND event_type IS NOT NULL
                   GROUP BY 1, 2),
        r AS (SELECT g, c,
                     CAST(row_number() OVER (PARTITION BY g
                       ORDER BY c DESC, t ASC) AS BIGINT) AS r
              FROM c),
        l AS (SELECT g, c, {_ILOG2.format(x="r")} AS x,
                     {_ILOG2.format(x="c")} AS y
              FROM r),
        s AS (SELECT g, CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(c) AS BIGINT) AS total_cnt,
                     CAST(sum(x) AS BIGINT) AS _sx,
                     CAST(sum(y) AS BIGINT) AS _sy,
                     CAST(sum(x * y) AS BIGINT) AS _sxy,
                     CAST(sum(x * x) AS BIGINT) AS _sxx,
                     CAST(sum(y * y) AS BIGINT) AS _syy
              FROM l GROUP BY 1)
        SELECT g AS event_type, k, total_cnt,
               {ZIPF_S_SQL} AS s_e4, {ZIPF_R2_SQL} AS r2_e4
        FROM s
    """).fetchall()))
    assert got == want and len(got) == 5

    def run(term_counts):
        rows = [("g", f"t{i:03d}")
                for i, c in enumerate(term_counts) for _ in range(c)]
        df = spark.createDataFrame(rows, "g string, term string")
        return zipf_fit(df, "g", "term").collect()[0]

    # two points are always a perfect line: counts (2, 1) -> ranks
    # (1, 2), milli-log2 exact on powers of two -> s = 1, r² = 1
    r = run([2, 1])
    assert (r["k"], r["total_cnt"], r["s_e4"], r["r2_e4"]) == (
        2, 3, 1.0, 1.0)
    # steeper decay -> larger exponent: (8,1) is steeper than (2,1)
    assert run([8, 1])["s_e4"] == 3.0
    # uniform frequencies -> flat line: s = 0, r² NULL (zero y-variance)
    r = run([3, 3, 3, 3])
    assert r["s_e4"] == 0.0 and r["r2_e4"] is None
    # a single term has no line through it
    r = run([5])
    assert r["s_e4"] is None and r["r2_e4"] is None
    # rank ties break on term ASC identically in both engines -- the
    # oracle above grades it at fixture scale; here pin determinism
    # (two runs, same result) on a tie-heavy input
    a = run([2, 2, 2, 1, 1])
    b = run([2, 2, 2, 1, 1])
    assert tuple(a) == tuple(b)


def test_cohort_overlap_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        cohort_overlap)

    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, cohort_overlap(
        ev, "event_type", "user_id").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["cohort_overlap"].oracle).fetchall()))
    assert got == want and len(got) == 10   # C(5, 2) pairs, zero-filled

    # hand case: A={1,2,3}, B={2,3}, C={9}; duplicates collapse; the
    # zero-overlap pairs (A,C)/(B,C) MUST appear with jaccard 0
    rows = ([("A", i) for i in (1, 2, 3, 3)] + [("B", i) for i in (2, 3)]
            + [("C", 9)])
    df = spark.createDataFrame(rows, "g string, uid long")
    out = {(r["g_a"], r["g_b"]): (r["n_a"], r["n_b"], r["overlap_cnt"],
                                  r["jaccard_e4"])
           for r in cohort_overlap(df, "g", "uid").collect()}
    assert out == {("A", "B"): (3, 2, 2, 6666),
                   ("A", "C"): (3, 1, 0, 0),
                   ("B", "C"): (2, 1, 0, 0)}
    # identical cohorts -> jaccard exactly 1
    dup = spark.createDataFrame(
        [("X", 1), ("X", 2), ("Y", 1), ("Y", 2)], "g string, uid long")
    r = cohort_overlap(dup, "g", "uid").collect()[0]
    assert (r["overlap_cnt"], r["jaccard_e4"]) == (2, 10000)
    # a single group yields an EMPTY matrix (no pairs), not a crash
    single = spark.createDataFrame([("Z", 1)], "g string, uid long")
    assert cohort_overlap(single, "g", "uid").count() == 0


def test_histogram_equi_depth_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        histogram_equi_depth)

    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, histogram_equi_depth(
        ev, "event_type", "value", buckets=7).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["histogram_equi_depth"].oracle).fetchall()))
    assert got == want and len(got) == 35   # 5 groups x 7 buckets
    # equi-depth invariant: per-group bucket counts differ by <= 1
    from collections import defaultdict
    per_g = defaultdict(list)
    for g, _b, cnt, _lo, _hi in got:
        per_g[g].append(cnt)
    assert all(max(c) - min(c) <= 1 for c in per_g.values())

    # hand case: ranks 1..8 into 3 buckets -> 3/3/2 by the div formula
    df = spark.createDataFrame([("g", float(i)) for i in range(1, 9)],
                               "g string, v double")
    rows = sorted(map(tuple, histogram_equi_depth(
        df, "g", "v", buckets=3).collect()))
    assert rows == [("g", 0, 3, 1000, 3000), ("g", 1, 3, 4000, 6000),
                    ("g", 2, 2, 7000, 8000)]
    # ties straddle rank boundaries by design: 4x the same value in 2
    # buckets still counts 2/2 (count is the invariant, not boundaries)
    tied = spark.createDataFrame([("g", 5.0)] * 4, "g string, v double")
    rows = sorted(map(tuple, histogram_equi_depth(
        tied, "g", "v", buckets=2).collect()))
    assert rows == [("g", 0, 2, 5000, 5000), ("g", 1, 2, 5000, 5000)]
    with pytest.raises(ValueError, match="buckets"):
        histogram_equi_depth(tied, "g", "v", buckets=0)


def test_cusum_changepoint_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        cusum_changepoint)

    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, cusum_changepoint(ev).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["cusum_changepoint"].oracle).fetchall()))
    assert got == want and len(got) == 5

    # hand case: a clean level shift 0,0,0 -> 10,10,10; the extreme
    # |S| sits exactly at the last pre-shift point (k = 3)
    import datetime as dt
    base = dt.datetime(2024, 1, 1)
    rows = [(i, base + dt.timedelta(seconds=i), "g",
             0.0 if i <= 3 else 10.0) for i in range(1, 7)]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, g string, value double")
    r = cusum_changepoint(df, "g", "ts", "value", "event_id").collect()[0]
    assert (r["n"], r["sum_milli"], r["s_n_max"], r["s_n_min"],
            r["cp_pos"]) == (6, 30000, 0, -90000, 3)
    # constant series: S == 0 everywhere, the earliest row is the
    # (degenerate) change point
    flat = spark.createDataFrame(
        [(i, base + dt.timedelta(seconds=i), "g", 5.0)
         for i in range(1, 5)],
        "event_id long, ts timestamp, g string, value double")
    r = cusum_changepoint(flat, "g", "ts", "value",
                          "event_id").collect()[0]
    assert (r["s_n_max"], r["s_n_min"], r["cp_pos"]) == (0, 0, 1)


def test_benford_deviation_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.dispersion import (
        BENFORD_P_E6, benford_deviation)

    t_all = sum(BENFORD_P_E6)
    p_cases = " ".join(
        f"WHEN {d} THEN {p}"
        for d, p in enumerate(BENFORD_P_E6, start=1))
    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, benford_deviation(
        ev, "event_type", "value").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH v AS (SELECT event_type AS g,
                          CAST(floor(value * 1000) AS BIGINT) AS vm
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND event_type IS NOT NULL),
        d AS (SELECT g, CAST(substr(CAST(abs(vm) AS VARCHAR), 1, 1)
                             AS INT) AS dg
              FROM v WHERE vm != 0),
        c AS (SELECT g, dg, CAST(count(*) AS BIGINT) AS c,
                     CAST(CASE dg {p_cases} END AS BIGINT) AS p
              FROM d GROUP BY 1, 2),
        w AS (SELECT g, dg, c, p,
                     CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
              FROM c)
        SELECT g AS event_type, CAST(max(n) AS BIGINT) AS n,
               CAST((sum(abs(c * 1000000 - p * n))
                     + ({t_all} - sum(p)) * max(n)) // max(n)
                    AS BIGINT) AS dev_e6,
               CAST(min(CASE WHEN c = (SELECT max(c2.c) FROM w c2
                        WHERE c2.g = w.g) THEN dg END) AS INT)
                 AS top_digit,
               CAST(max(c) AS BIGINT) AS top_cnt
        FROM w GROUP BY 1
    """).fetchall()))
    assert got == want and len(got) == 5

    def run(vals):
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "g string, v double")
        return benford_deviation(df, "g", "v").collect()[0]

    # uniform digits 1..9: dev = Σ|1/9 − p_d| exactly, in the
    # quantized contract's own units (re-derived from the literals)
    r = run(range(1, 10))
    expect = (sum(abs(9 * 1_000_000 // 9 - p * 9) for p in BENFORD_P_E6)
              + 0) // 9
    assert (r["n"], r["dev_e6"]) == (9, expect)
    # all mass on digit 1: observed term |1e6 − p1| plus every
    # missing digit's p_d — re-derived, not hardcoded
    r = run([1.5, 100.0, 0.0195])
    expect = (abs(3 * 1_000_000 - BENFORD_P_E6[0] * 3)
              + (t_all - BENFORD_P_E6[0]) * 3) // 3
    assert (r["n"], r["dev_e6"], r["top_digit"], r["top_cnt"]) == (
        3, expect, 1, 3)
    # zero values carry no leading digit and are excluded
    assert run([0.0, 1.0])["n"] == 1
    # top-digit ties break on the SMALLER digit
    r = run([1.0, 2.0])
    assert (r["top_digit"], r["top_cnt"]) == (1, 1)


def test_trimmed_mean_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.dispersion import (
        trimmed_mean)

    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, trimmed_mean(
        ev, "event_type", "value", trim_milli=100).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["trimmed_mean"].oracle).fetchall()))
    assert got == want and len(got) == 5
    # robustness direction: trimming pulls the mean toward the median
    # on the right-skewed fixture values (sanity, not a pin)

    def run(vals, t=100):
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "g string, v double")
        return trimmed_mean(df, "g", "v", trim_milli=t).collect()[0]

    # hand case: 0..9 trimmed 10% each side keeps ranks 2..9
    r = run(range(10))
    assert (r["n"], r["kept"], r["sum_kept_milli"], r["mean_milli"]) \
        == (10, 8, 36000, 4500)
    # trim 0 = plain truncated mean; outlier suppressed at 20%
    assert run([1, 1, 1, 1000], t=0)["mean_milli"] == 250750
    assert run([1, 1, 1, 1000], t=250)["mean_milli"] == 1000
    # invalid trim raises before any job
    with pytest.raises(ValueError, match="trim_milli"):
        trimmed_mean(read_table(spark, sf_dir, "events"),
                     "event_type", "value", trim_milli=500)


def test_robust_scale_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.dispersion import (
        robust_scale)

    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, robust_scale(ev, "event_type", "value")
                     .select("event_id", "scaled_milli").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["robust_scale"].oracle).fetchall()))
    assert got == want and len(got) == 1000

    # hand case: [1,2,3,100] -> med 2, MAD 1; the row set passes
    # through intact with the appended column
    df = spark.createDataFrame(
        [(i, "g", float(v)) for i, v in enumerate([1, 2, 3, 100])],
        "id long, g string, v double")
    out = {r["id"]: r["scaled_milli"]
           for r in robust_scale(df, "g", "v").collect()}
    assert out == {0: -1000, 1: 0, 2: 1000, 3: 98000}
    # constant-majority group: MAD = 0 -> NULL everywhere (never a
    # division trap); non-finite rows pass through with NULL
    deg = spark.createDataFrame(
        [(0, "g", 5.0), (1, "g", 5.0), (2, "g", 9.0),
         (3, "g", float("nan"))],
        "id long, g string, v double")
    out = {r["id"]: r["scaled_milli"]
           for r in robust_scale(deg, "g", "v").collect()}
    assert out == {0: None, 1: None, 2: None, 3: None}
    mixed = spark.createDataFrame(
        [(0, "g", 1.0), (1, "g", 2.0), (2, "g", 3.0),
         (3, "g", float("nan"))],
        "id long, g string, v double")
    out = {r["id"]: r["scaled_milli"]
           for r in robust_scale(mixed, "g", "v").collect()}
    assert out == {0: -1000, 1: 0, 2: 1000, 3: None}


def test_psi_drift_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.dispersion import (
        psi_drift)
    from clickhouse_hdfs_loader_spark.plans.queries import _ILOG2

    # reference/current split by event parity, categories = the value
    # mod-7 bucket (the theils_u grading projection's cat derivation)
    ev = (_ev(spark, sf_dir)
          .where(F.col("value").isNotNull() & ~F.isnan("value"))
          .withColumn("cat7",
                      F.pmod(F.floor(F.col("value")).cast("long"),
                             F.lit(7)))
          .withColumn("side", F.pmod(F.col("event_id"), F.lit(2))))
    got = sorted(map(tuple, psi_drift(
        ev, "event_type", "cat7", "side").collect()))
    lg = {c: _ILOG2.format(x=c) for c in ("x", "y")}
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g,
                          ((CAST(floor(value) AS BIGINT) % 7 + 7) % 7)
                            AS cat,
                          ((event_id % 2 + 2) % 2) AS s
                   FROM events
                   WHERE event_type IS NOT NULL
                     AND value IS NOT NULL AND isfinite(value)
                     AND event_id IS NOT NULL),
        c AS (SELECT g, cat,
                     CAST(sum(CASE WHEN s = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS ca,
                     CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) AS cb
              FROM b GROUP BY 1, 2),
        w AS (SELECT g, ca, cb,
                     CAST(count(*) OVER (PARTITION BY g) AS BIGINT)
                       AS k,
                     CAST(sum(ca) OVER (PARTITION BY g) AS BIGINT)
                       + CAST(count(*) OVER (PARTITION BY g)
                              AS BIGINT) AS A,
                     CAST(sum(cb) OVER (PARTITION BY g) AS BIGINT)
                       + CAST(count(*) OVER (PARTITION BY g)
                              AS BIGINT) AS B
              FROM c),
        t AS (SELECT g, k, A, B, (ca + 1) * B AS x, (cb + 1) * A AS y
              FROM w)
        SELECT g AS event_type,
               CAST(max(A) - max(k) AS BIGINT) AS n_ref,
               CAST(max(B) - max(k) AS BIGINT) AS n_cur,
               CAST(max(k) AS BIGINT) AS k,
               CAST(sum((x - y) * ({lg['x']} - {lg['y']}))
                    // (max(A) * max(B)) AS BIGINT) AS psi_milli
        FROM t GROUP BY 1
    """).fetchall()))
    assert got == want and len(got) == 5
    # a parity split of the same stream is not REAL drift: PSI stays
    # under a bit (small-sample noise at sf0.001 is ~tens-to-hundreds
    # of milli-bits with ~14-row cells; nonneg is the hard invariant)
    assert all(0 <= p < 1000 for (_, _, _, _, p) in got)

    def run(rows):
        df = spark.createDataFrame(rows, "g string, cat string, s int")
        return psi_drift(df, "g", "cat", "s").collect()[0]

    # hand case (power-of-two exact): ref a:3,b:1 vs cur a:1,b:3 ->
    # smoothed a=(4,2) b=(2,4), A=B=6: both terms 12000, psi =
    # 24000 div 36 = 666 milli-bits
    rows = ([("g", "a", 0)] * 3 + [("g", "b", 0)]
            + [("g", "a", 1)] + [("g", "b", 1)] * 3)
    r = run(rows)
    assert (r["n_ref"], r["n_cur"], r["k"], r["psi_milli"]) == (
        4, 4, 2, 666)
    # identical side distributions -> x == y cellwise -> PSI exactly 0
    same = ([("g", "a", 0)] * 2 + [("g", "b", 0)]
            + [("g", "a", 1)] * 2 + [("g", "b", 1)])
    assert run(same)["psi_milli"] == 0
    # a category absent on one side stays finite via the smoothing
    r = run([("g", "a", 0), ("g", "a", 1), ("g", "b", 1)])
    assert r["psi_milli"] is not None and r["k"] == 2
    # non-binary side raises loudly
    import pytest as _pt
    with _pt.raises(Exception, match="0 or 1"):
        run([("g", "a", 2)])


def test_kaplan_meier_replay_and_hand_cases(spark, sf_dir):
    """kaplan_meier: pure-Python stepwise replay on a fixture-derived
    lifetime table (user active-span per type, purchase = event),
    the textbook small-sample curve, censoring semantics, and the
    monotone/telescoping invariants."""
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        kaplan_meier)

    # per (event_type, user): duration = active span in ks, event =
    # "ever purchased in type"? purchase IS a type — instead: event =
    # user's last event has value above their median (arbitrary but
    # deterministic); built once, used by operator AND replay
    ev = _ev(spark, sf_dir).where(F.col("user_id").isNotNull()
                                  & F.col("ts").isNotNull())
    life = (ev.groupBy("event_type", "user_id")
            .agg(((F.unix_seconds(F.max("ts"))
                   - F.unix_seconds(F.min("ts"))) / 1000.0)
                 .alias("dur_ks"),
                 F.pmod(F.count(F.lit(1)), F.lit(2)).cast("int")
                 .alias("ended")))
    got = sorted(map(tuple, kaplan_meier(
        life, "event_type", "dur_ks", "ended").collect()))

    # Spark-free replay: duckdb derives the same lifetime table, then
    # the same stepwise integer fold in pure Python
    rows = _duck(sf_dir).execute("""
        SELECT event_type,
               -- floor(), never CAST: DuckDB's epoch() is a DOUBLE
               -- with fractional seconds and CAST rounds half-up,
               -- while Spark's unix_seconds truncates
               CAST(floor(((CAST(floor(epoch(max(ts))) AS BIGINT)
                 - CAST(floor(epoch(min(ts))) AS BIGINT)) / 1000.0)
                 * 1000) AS BIGINT) AS t,
               CAST(count(*) % 2 AS INT) AS ended
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          AND ts IS NOT NULL
        GROUP BY event_type, user_id
    """).fetchall()
    from collections import defaultdict
    agg = defaultdict(lambda: defaultdict(lambda: [0, 0]))
    for g, t, e in rows:
        agg[g][t][0 if e else 1] += 1
    want = []
    for g, times in agg.items():
        at_risk = sum(d + c for d, c in times.values())
        s = 1_000_000
        for t in sorted(times):
            d, c = times[t]
            if d > 0:
                s = (s * (at_risk - d)) // at_risk
            want.append((g, t, at_risk, d, c, s))
            at_risk -= d + c
    assert got == sorted(want) and len(got) > 0
    # survival is non-increasing within each group
    from itertools import groupby
    for g, grp in groupby(got, key=lambda r: r[0]):
        ss = [r[5] for r in sorted(grp, key=lambda r: r[1])]
        assert ss == sorted(ss, reverse=True)

    def run(rows):
        df = spark.createDataFrame(rows, "g string, d double, e int")
        return sorted(map(tuple, kaplan_meier(
            df, "g", "d", "e").collect()))

    # textbook: deaths at 1, 2 of 4 subjects with a censoring at 1.5:
    # S(1) = 3/4; at-risk at 2 is 2 (one censored left) -> S(2) = 3/8
    out = run([("g", 1.0, 1), ("g", 1.5, 0), ("g", 2.0, 1),
               ("g", 3.0, 0)])
    assert out == [("g", 1000, 4, 1, 0, 750000),
                   ("g", 1500, 3, 0, 1, 750000),
                   ("g", 2000, 2, 1, 0, 375000),
                   ("g", 3000, 1, 0, 1, 375000)]
    # no censoring: the curve telescopes to remaining/total at each
    # event time (stepwise truncation stays within a micro-unit)
    out = run([("g", float(t), 1) for t in (1, 2, 3)])
    assert [r[5] for r in out] == [666666, 333333, 0]
    # all-censored: S stays exactly 1
    out = run([("g", 1.0, 0), ("g", 2.0, 0)])
    assert [r[5] for r in out] == [1_000_000, 1_000_000]
    # invalid flag raises loudly
    with pytest.raises(Exception, match="0 or 1"):
        run([("g", 1.0, 7)])


def _adaptive_fraction_replay(points, bins):
    """Independent exact-rational greedy merge: points = sorted
    [(vm, c)]; Fraction centers, leftmost-tie merges, trunc-div
    centers out."""
    from fractions import Fraction

    cur = [[v, v, c, v * c] for v, c in points]
    while len(cur) > bins:
        best, bd = 0, None
        for i in range(len(cur) - 1):
            d = (Fraction(cur[i + 1][3], cur[i + 1][2])
                 - Fraction(cur[i][3], cur[i][2]))
            if bd is None or d < bd:
                best, bd = i, d
        l, r = cur[best], cur[best + 1]
        cur[best:best + 2] = [[l[0], r[1], l[2] + r[2], l[3] + r[3]]]
    out = []
    for k, (lo, hi, c, w) in enumerate(cur):
        center = w // c if w >= 0 else -((-w) // c)
        out.append((k, lo, hi, c, center))
    return out


def test_histogram_adaptive_replay_and_hand_cases(spark, sf_dir):
    """histogram_adaptive: exact-Fraction replay of the deterministic
    greedy merge on the real events, the structural invariants
    (ordered disjoint bins, exact mass preservation, bin count), and
    clustered hand cases."""
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        histogram_adaptive)

    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, histogram_adaptive(
        ev, "event_type", "value", bins=8).collect()))
    rows = _duck(sf_dir).execute("""
        SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS vm,
               CAST(count(*) AS BIGINT) AS c
        FROM events
        WHERE value IS NOT NULL AND isfinite(value)
          AND event_type IS NOT NULL
        GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    from itertools import groupby
    want = []
    for g, grp in groupby(rows, key=lambda r: r[0]):
        pts = [(vm, c) for _, vm, c in grp]
        want.extend((g,) + t
                    for t in _adaptive_fraction_replay(pts, 8))
    assert got == sorted(want) and len(got) == 40   # 5 groups x 8

    # invariants: ordered disjoint bins, mass preserved exactly
    from collections import defaultdict
    per_g = defaultdict(list)
    for g, k, lo, hi, c, ctr in got:
        per_g[g].append((k, lo, hi, c, ctr))
    totals = dict(_duck(sf_dir).execute("""
        SELECT event_type, CAST(count(*) AS BIGINT) FROM events
        WHERE value IS NOT NULL AND isfinite(value)
          AND event_type IS NOT NULL GROUP BY 1""").fetchall())
    for g, bs in per_g.items():
        bs.sort()
        assert sum(c for _, _, _, c, _ in bs) == totals[g]
        for (_, _, hi1, _, _), (_, lo2, _, _, _) in zip(bs, bs[1:]):
            assert hi1 < lo2
        assert all(lo <= ctr <= hi for _, lo, hi, _, ctr in bs)

    def run(vals, bins):
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "g string, v double")
        return sorted(map(tuple, histogram_adaptive(
            df, "g", "v", bins=bins).collect()))

    # fewer distinct values than bins: identity bins
    assert run([1, 2, 3], 5) == [
        ("g", 0, 1000, 1000, 1, 1000), ("g", 1, 2000, 2000, 1, 2000),
        ("g", 2, 3000, 3000, 1, 3000)]
    # bins=1 pools everything; center = truncated grand mean
    assert run([1, 2, 6], 1) == [("g", 0, 1000, 6000, 3, 3000)]
    # two tight clusters survive a bins=2 cut intact (values a clean
    # half-milli apart — 1.001·1000 floors to 1000 in double, the
    # quantization collapse trap)
    assert run([1.0, 1.5, 10.0, 10.5], 2) == [
        ("g", 0, 1000, 1500, 2, 1250), ("g", 1, 10000, 10500, 2,
                                        10250)]
    # duplicate values collapse to one weighted point first
    assert run([5, 5, 5, 9], 2) == [
        ("g", 0, 5000, 5000, 3, 5000), ("g", 1, 9000, 9000, 1, 9000)]
    with pytest.raises(ValueError, match="bins"):
        histogram_adaptive(ev, "event_type", "value", bins=0)


def test_runs_test_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        RUNS_Z_SQL, runs_test)

    ev = _ev(spark, sf_dir)
    got = sorted(map(tuple, runs_test(ev).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH v AS (SELECT event_type AS g, epoch_us(ts) AS us,
                          event_id AS id,
                          CAST(floor(value * 1000) AS BIGINT) AS vm
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND ts IS NOT NULL AND event_id IS NOT NULL
                     AND event_type IS NOT NULL),
        m AS (SELECT *, max(CASE WHEN rn = (n + 1) // 2 THEN vm END)
                          OVER (PARTITION BY g) AS med
              FROM (SELECT *,
                           row_number() OVER (PARTITION BY g
                             ORDER BY vm) AS rn,
                           count(*) OVER (PARTITION BY g) AS n
                    FROM v)),
        s AS (SELECT g, us, id,
                     CASE WHEN vm > med THEN 1
                          WHEN vm < med THEN -1 END AS sgn
              FROM m),
        r AS (SELECT g, sgn,
                     last_value(sgn IGNORE NULLS) OVER (
                       PARTITION BY g ORDER BY us, id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS prev
              FROM s)
        SELECT g AS event_type,
               CAST(sum(CASE WHEN sgn = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_plus,
               CAST(sum(CASE WHEN sgn = -1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_minus,
               CAST(sum(CASE WHEN sgn IS NOT NULL
                    AND (prev IS NULL OR sgn != prev)
                    THEN 1 ELSE 0 END) AS BIGINT) AS runs,
               {RUNS_Z_SQL.replace(' div ', ' // ')} AS z_e4
        FROM r GROUP BY 1
    """).fetchall()))
    assert got == want and len(got) == 5
    # a random-ish fixture shouldn't streak pathologically: |z| < 5
    assert all(abs(z) < 5 for (_, _, _, _, z) in got)

    import datetime as _dt
    base = _dt.datetime(2024, 1, 1)

    def run(vals):
        rows = [("g", base + _dt.timedelta(seconds=i), i, float(v))
                for i, v in enumerate(vals)]
        df = spark.createDataFrame(
            rows, "g string, ts timestamp, event_id long, v double")
        return runs_test(df, "g", "ts", "v", "event_id").collect()[0]

    # perfectly alternating around the median: every step is a new
    # run (median rows excluded: [1,9]*4 has median 1 -> only the 9s?
    # no: lower median of [1,1,1,1,9,9,9,9] is 1 -> 1s EXCLUDED, so
    # use 3 levels to keep both sides: [1,9,1,9,...] median 1 drops
    # the 1s — instead plant values straddling a median row set)
    r = run([0, 9, 0, 9, 0, 9, 5, 5])   # median 5: the 5s drop
    assert (r["n_plus"], r["n_minus"], r["runs"]) == (3, 3, 6)
    # a sorted (maximally streaky) sequence has exactly 2 runs
    r = run([0, 0, 0, 9, 9, 9, 5, 5])   # median 5 excluded
    assert (r["n_plus"], r["n_minus"], r["runs"]) == (3, 3, 2)
    # one-sided after median exclusion -> z NULL (no randomness to
    # test), counts still reported
    r = run([5, 5, 9, 9])               # median 5 -> only +1s remain
    assert r["n_minus"] == 0 and r["z_e4"] is None
    # a = b = 1 is the zero-variance knife edge (2ab = a+b): the z
    # formula is 0/0 there — must be NULL, not an ANSI divide error
    # (ADVICE r11 hand case)
    r = run([0, 9, 5, 5])               # median 5 -> one row per side
    assert (r["n_plus"], r["n_minus"], r["runs"]) == (1, 1, 2)
    assert r["z_e4"] is None
    # a constant group still emits its counts row (all rows tie the
    # median — previously the group vanished from the output)
    r = run([5, 5, 5])
    assert (r["n_plus"], r["n_minus"], r["runs"]) == (0, 0, 0)
    assert r["z_e4"] is None
    # ties interleaved among signed rows must not break a run: the
    # skipped tie row sits between two same-sign rows
    r = run([0, 9, 5, 9, 0])            # median 5; [−,+,(tie),+,−]
    assert (r["n_plus"], r["n_minus"], r["runs"]) == (2, 2, 3)


def test_js_divergence_oracle_and_hand_cases(spark, sf_dir):
    """js_divergence: in-test DuckDB oracle (registry standard, r16
    queue) — the group-vs-complement JSD under the exact milli-log2
    contract, missing categories folded algebraically (L(2x) − L(x) =
    1000 exactly); hand cases pin the EXACT 0 of identical
    distributions, the EXACT 1000 of disjoint supports, the
    single-group NULL, and the [0, 1000] bound."""
    from clickhouse_hdfs_loader_spark.operators.dispersion import (
        js_divergence)
    from clickhouse_hdfs_loader_spark.plans.queries import _ILOG2

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("user_id").isNotNull()))
    got = sorted(map(tuple, js_divergence(
        ev, "event_type", "user_id").collect()))
    lg = {k: _ILOG2.format(x=f"greatest(1, {a})")
          for k, a in (("l1", "2 * p * nq"),
                       ("l2", "p * nq + q * np"),
                       ("l3", "2 * q * np"))}
    want = sorted(map(tuple, _duck(sf_dir).execute(f"""
        WITH b AS (SELECT event_type AS g, user_id AS c FROM events
                   WHERE event_type IS NOT NULL
                     AND user_id IS NOT NULL),
        cnt AS (SELECT g, c, CAST(count(*) AS BIGINT) AS p
                FROM b GROUP BY 1, 2),
        t AS (SELECT g, c, p,
                     CAST(sum(p) OVER (PARTITION BY g) AS BIGINT)
                       AS np,
                     CAST(sum(p) OVER (PARTITION BY c) AS BIGINT)
                       AS ct,
                     CAST((SELECT sum(p) FROM cnt) AS BIGINT) AS n
              FROM cnt),
        cells AS (SELECT g, p, np, ct - p AS q, n - np AS nq FROM t),
        l AS (SELECT g, p, q, np, nq,
                     {lg['l1']} AS l1, {lg['l2']} AS l2,
                     {lg['l3']} AS l3
              FROM cells),
        a AS (SELECT g, max(np) AS n, max(nq) AS n_rest,
                     CAST(count(*) AS BIGINT) AS k,
                     CAST(sum(p * (l1 - l2)) AS BIGINT) AS aa,
                     CAST(sum(CASE WHEN q >= 1
                          THEN q * (l3 - l2) ELSE 0 END) AS BIGINT)
                       AS bs,
                     CAST(sum(q) AS BIGINT) AS qs
              FROM l GROUP BY 1)
        SELECT g AS event_type, n, n_rest, k,
               CAST(CASE WHEN n_rest = 0 THEN NULL ELSE
                 (aa * n_rest + (bs + 1000 * (n_rest - qs)) * n)
                 // (2 * n * n_rest) END AS BIGINT) AS jsd_milli
        FROM a
    """).fetchall()))
    assert got == want and len(got) == 5
    assert all(0 <= r[4] <= 1000 for r in got)

    def run(rows):
        df = spark.createDataFrame(rows, "g string, c string")
        return {r["g"]: r["jsd_milli"] for r in
                js_divergence(df, "g", "c").collect()}

    # identical distributions: EXACTLY 0 (the quantization cancels)
    same = [("a", c) for c in "xxyz"] + [("b", c) for c in "xxyz"]
    assert run(same) == {"a": 0, "b": 0}
    # disjoint supports: EXACTLY 1000 milli-bits (1 full bit)
    disj = [("a", "x"), ("a", "y"), ("b", "u"), ("b", "v"),
            ("b", "u")]
    assert run(disj) == {"a": 1000, "b": 1000}
    # a single-group frame has no complement: NULL, never a trap
    assert run([("a", "x"), ("a", "y")]) == {"a": None}
    # a partial overlap sits strictly inside the bound
    mid = run([("a", "x"), ("a", "y"), ("b", "y"), ("b", "z")])
    assert 0 < mid["a"] < 1000 and mid["a"] == mid["b"]
