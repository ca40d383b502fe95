"""The features.py family — covariance_stats, pca_whiten, ols_fit,
corr_matrix, isotonic_fit, feature_hashing: exact integer moment sums
(DuckDB oracles, the corr finish shared verbatim), bitwise
projection/solve replays, the Fraction PAVA replay, the XXH64 golden,
and the whitening/regression/vectorizer contracts."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY

COV_SQL = """
    WITH q AS (SELECT vec_id AS rid,
                      generate_subscripts(embedding, 1) - 1 AS d2,
                      CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                           * 1000.0) AS BIGINT) AS q
               FROM embeddings WHERE embedding IS NOT NULL),
    p AS (SELECT a.d2 AS i, b.d2 AS j,
                 CAST(sum(a.q * b.q) AS BIGINT) AS s_ij
          FROM q a JOIN q b ON a.rid = b.rid AND a.d2 <= b.d2
          GROUP BY 1, 2),
    s AS (SELECT d2, CAST(sum(q) AS BIGINT) AS sv FROM q GROUP BY 1),
    nn AS (SELECT CAST(count(DISTINCT rid) AS BIGINT) AS n FROM q)
    SELECT p.i, p.j, nn.n, si.sv AS s_i, sj.sv AS s_j, p.s_ij
    FROM p
    JOIN s si ON si.d2 = p.i
    JOIN s sj ON sj.d2 = p.j
    CROSS JOIN nn
"""


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_covariance_stats_oracle(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.features import (
        covariance_stats)

    got = sorted(map(tuple, covariance_stats(_emb(spark, sf_dir))
                     .collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf_dir}/embeddings.parquet'")
    want = sorted(map(tuple, con.execute(COV_SQL).fetchall()))
    assert got == want
    d = 64
    assert len(got) == d * (d + 1) // 2


@pytest.mark.slow
def test_covariance_stats_partition_invariance_and_guards(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.features import (
        covariance_stats)

    emb = _emb(spark, sf_dir)
    one = sorted(map(tuple,
                     covariance_stats(emb.coalesce(1)).collect()))
    many = sorted(map(tuple,
                      covariance_stats(emb.repartition(7)).collect()))
    assert one == many  # int partials are order-free-exact

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="ragged"):
        covariance_stats(ragged)
    withnan = spark.createDataFrame(
        [(1, [1.0, float("nan")])], "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="non-finite"):
        covariance_stats(withnan).collect()
    empty = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no non-NULL"):
        covariance_stats(empty)


@pytest.mark.slow
def test_pca_whiten_bitwise_replay_and_contracts(spark, sf_dir):
    """Replay the driver combine (python ints -> eigh -> sign fix) and
    the sequential projection fold in pure Python: results must be
    BITWISE equal. Then check the whitening contract: empirical
    covariance of the projected data ~ identity."""
    from clickhouse_hdfs_loader_spark.operators.features import (
        covariance_stats, pca_whiten)

    emb = _emb(spark, sf_dir)
    k = 8
    stats = covariance_stats(emb)
    out = {r["vec_id"]: (list(r["embedding"]), list(r["whitened"]))
           for r in pca_whiten(emb, stats=stats, k=k).collect()}

    # independent driver-combine replay from the same stats rows
    rows = stats.collect()
    d = max(r["j"] for r in rows) + 1
    cov = np.zeros((d, d))
    mu = np.zeros(d)
    for r in rows:
        num = int(r["n"]) * int(r["s_ij"]) - int(r["s_i"]) * int(r["s_j"])
        cov[r["i"], r["j"]] = cov[r["j"], r["i"]] = \
            num / (int(r["n"]) ** 2 * 1_000_000)
        mu[r["i"]] = int(r["s_i"]) / (int(r["n"]) * 1000.0)
        mu[r["j"]] = int(r["s_j"]) / (int(r["n"]) * 1000.0)
    lam, vecs = np.linalg.eigh(cov)
    order = list(range(d - 1, d - 1 - k, -1))
    comps = vecs[:, order].copy()
    for t in range(k):
        col = comps[:, t]
        if col[int(np.argmax(np.abs(col)))] < 0:
            comps[:, t] = -col
    W = comps * (1.0 / np.sqrt(np.maximum(lam[order], 1e-9)))

    proj = np.zeros((len(out), k))
    for row_i, (vid, (vec, got_w)) in enumerate(sorted(out.items())):
        assert len(got_w) == k
        for t in range(k):
            acc = 0.0                       # the fold, sequentially
            for j in range(d):
                c = float(np.float32(vec[j])) - float(mu[j])
                acc = acc + c * float(W[j, t])
            assert acc == got_w[t], (vid, t)
        proj[row_i] = got_w

    # whitening contract: projected covariance ~ I_k (population form,
    # matching the /n covariance the operator diagonalizes)
    pc = (proj - proj.mean(axis=0)).T @ (proj - proj.mean(axis=0))
    pc /= proj.shape[0]
    assert np.allclose(pc, np.eye(k), atol=0.05)

    # NULL vectors pass through with NULL output
    withnull = _emb(spark, sf_dir).unionByName(
        spark.createDataFrame([(99999, None, None)],
                              _emb(spark, sf_dir).schema))
    r = (pca_whiten(withnull, stats=stats, k=2)
         .where(F.col("vec_id") == 99999).first())
    assert r["whitened"] is None

    with pytest.raises(ValueError, match="k must be"):
        pca_whiten(emb, stats=stats, k=d + 1)


def test_covariance_stats_dims_path_empty_and_ragged(spark):
    """dims= skips the eager bounds job, so the degenerate contracts
    move into the gemm pass: an empty/all-NULL input yields ZERO rows
    (matching the SQL twin's empty q CTE — review-caught: it used to
    yield d² rows of n=0 zeros), and raggedness still raises."""
    from clickhouse_hdfs_loader_spark.operators.features import (
        covariance_stats)

    empty = spark.createDataFrame([(1, None)],
                                  "vec_id long, embedding array<float>")
    assert covariance_stats(empty, dims=64).count() == 0
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="ragged"):
        covariance_stats(ragged, dims=2).collect()


@pytest.mark.slow
def test_ols_fit_bitwise_replay_and_contracts(spark, sf_dir):
    """ols_fit (closed-form normal-equations OLS on the covariance
    gemm): bitwise Spark-free replay on the real embeddings (label as
    the target), exact planted-relation recovery, the no-intercept
    path, loud singularity, and the exclusion rules."""
    from clickhouse_hdfs_loader_spark.operators.features import ols_fit

    # --- bitwise replay on the fixture (the pca_whiten discipline):
    # duckdb parquet read + the same integer gemm + the same-order
    # LAPACK solve and float combines must reproduce EVERY output bit
    emb = _emb(spark, sf_dir).where(F.col("label").isNotNull())
    got = {r["term"]: (r["beta"], r["n"], r["r2"])
           for r in ols_fit(emb, "embedding", "label").collect()}

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT embedding, label FROM "
        f"'{sf_dir}/embeddings.parquet' "
        f"WHERE embedding IS NOT NULL AND label IS NOT NULL"
    ).fetchall()
    X = np.stack([np.asarray(v, dtype=np.float64) for v, _ in rows])
    y = np.asarray([float(t) for _, t in rows], dtype=np.float64)
    Z = np.concatenate([X, y[:, None]], axis=1)
    Q = np.floor(Z * 1000.0).astype(np.int64)
    d = X.shape[1]
    n = Q.shape[0]
    # exact integer sums (python ints — partition order can't matter)
    S = [[int(v) for v in row] for row in (Q.T @ Q)]
    s = [int(v) for v in Q.sum(axis=0)]
    A = np.zeros((d + 1, d + 1))
    b = np.zeros(d + 1)
    A[0, 0] = float(n)
    for i in range(d):
        A[0, i + 1] = A[i + 1, 0] = float(s[i])
        b[i + 1] = float(S[i][d])
        for j in range(d):
            A[i + 1, j + 1] = float(S[i][j])
    b[0] = float(s[d])
    beta = np.linalg.solve(A, b)
    yy = float(S[d][d])
    sse = yy - float(np.dot(beta, b))
    sst = yy - float(s[d]) * float(s[d]) / float(n)
    r2 = 1.0 - sse / sst
    want = {-1: (float(beta[0]) / 1000.0, n, r2)}
    want.update({t: (float(beta[t + 1]), n, r2) for t in range(d)})
    assert got == want and len(got) == d + 1   # bitwise, no tolerance

    # --- planted exact relation: y = 2·x0 − 3·x1 + 5 on integer-valued
    # features (milli-quantization exact) -> coefficients to 1e-9, R²=1
    import random
    random.seed(7)
    planted = [([float(random.randint(-9, 9)),
                 float(random.randint(-9, 9))], 0.0) for _ in range(60)]
    planted = [(v, 2 * v[0] - 3 * v[1] + 5) for v, _ in planted]
    df = spark.createDataFrame(planted,
                               "embedding array<double>, y double")
    out = {r["term"]: r for r in ols_fit(df, "embedding", "y").collect()}
    assert abs(out[-1]["beta"] - 5) < 1e-9
    assert abs(out[0]["beta"] - 2) < 1e-9
    assert abs(out[1]["beta"] + 3) < 1e-9
    assert abs(out[-1]["r2"] - 1.0) < 1e-12

    # --- through-the-origin path: no intercept row, exact recovery
    df2 = spark.createDataFrame(
        [([float(i), float(i % 3)], float(2 * i)) for i in range(1, 40)],
        "embedding array<double>, y double")
    out = {r["term"]: r["beta"]
           for r in ols_fit(df2, "embedding", "y",
                            intercept=False).collect()}
    assert set(out) == {0, 1} and abs(out[0] - 2.0) < 1e-9

    # --- collinear features raise the named error (never silently
    # pseudo-inverted)
    sing = spark.createDataFrame(
        [([1.0, 1.0], 3.0), ([2.0, 2.0], 5.0), ([3.0, 3.0], 9.0)],
        "embedding array<double>, y double")
    with pytest.raises(ValueError, match="singular"):
        ols_fit(sing, "embedding", "y")

    # --- NULL vectors and non-finite targets are excluded, not poison
    noisy = df.unionByName(spark.createDataFrame(
        [(None, 1.0), ([1.0, 1.0], float("nan")), ([2.0, 0.0], None)],
        "embedding array<double>, y double"))
    clean = {r["term"]: r["beta"]
             for r in ols_fit(df, "embedding", "y").collect()}
    dirty = {r["term"]: r["beta"]
             for r in ols_fit(noisy, "embedding", "y").collect()}
    assert clean == dirty

    # --- constant target: SST = 0 -> NULL r2 (never a division trap)
    const = spark.createDataFrame(
        [([float(i)], 4.0) for i in range(5)],
        "embedding array<double>, y double")
    r = ols_fit(const, "embedding", "y").collect()[0]
    assert r["r2"] is None


def test_feature_hashing_golden_replay_and_contracts(spark, sf_dir):
    """feature_hashing: every (doc, dim, weight) row re-derived
    Spark-free — duckdb parquet read + the same tokenizer regex + the
    spec-written XXH64 model (chained for the sign hash, the
    multi-arg golden recipe) — plus the signed/unsigned and bounds
    contracts."""
    import re
    import struct

    from clickhouse_hdfs_loader_spark.operators.features import (
        feature_hashing)
    from tests.test_loader_golden import xxh64

    DIMS = 64
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(map(tuple, feature_hashing(
        docs, dims=DIMS).collect()))

    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet' "
        f"WHERE doc_id IS NOT NULL").fetchall()
    expect: dict = {}
    for did, text in rows:
        for w in re.split(r"[^a-z0-9]+", (text or "").lower()):
            if not w:
                continue
            h = xxh64(w.encode("utf-8"), 42)
            # Spark's pmod on the SIGNED 64-bit hash value
            signed_h = h - (1 << 64) if h >= (1 << 63) else h
            dim = signed_h % DIMS
            s2 = xxh64(struct.pack("<i", 1), h)
            sign = 1 if s2 % 2 == 0 else -1
            key = (did, dim)
            expect[key] = expect.get(key, 0) + sign
    want = sorted((d, dim, w) for (d, dim), w in expect.items())
    assert got == want and len(got) > 0

    # unsigned mode counts plain occurrences: per-doc weight sums to
    # the doc's token count (signed weights cancel instead)
    uns = feature_hashing(docs, dims=DIMS, signed=False)
    per_doc = {r["doc_id"]: r["tot"] for r in
               uns.groupBy("doc_id")
               .agg(F.sum("weight").alias("tot")).collect()}
    toks = {did: len([w for w in
                      re.split(r"[^a-z0-9]+", (t or "").lower()) if w])
            for did, t in rows}
    assert per_doc == {d: t for d, t in toks.items() if t > 0}
    # dims bound holds on every row
    assert uns.where((F.col("dim") < 0)
                     | (F.col("dim") >= DIMS)).count() == 0
    # deterministic: same input, same rows (hash, not rand)
    again = sorted(map(tuple, feature_hashing(
        docs, dims=DIMS).collect()))
    assert again == got
    with pytest.raises(ValueError, match="dims"):
        feature_hashing(docs, dims=0)


def test_feature_hashing_summary_golden(spark):
    """feature_hashing promotion golden (registry standard, r14 queue,
    golden-sf0.01 tag): the per-corpus summary of the dims=64 signed
    hashing — row count and four weight checksums — pinned as sf0.01
    literals RE-DERIVED Spark-free (duckdb parquet read + the
    tokenizer regex + the spec-written XXH64 model; the derivation
    script is this test's sibling replay above), with the r6 content
    guard (count alone cannot distinguish sf0.001 from sf0.01 — both
    have 500 docs with the same ids but DIFFERENT text, so the guard
    pins sum(length(text)) too)."""
    from clickhouse_hdfs_loader_spark.operators.features import (
        feature_hashing)

    sf01 = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf01}/documents.parquet")
    fh = feature_hashing(docs, dims=64)
    got = [tuple(r) for r in fh.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("weight").alias("sum_w"),
        F.sum(F.abs(F.col("weight"))).alias("sum_abs_w"),
        F.sum(F.col("dim").cast("long") * F.col("weight"))
        .alias("sum_dim_w"),
        F.sum(F.col("doc_id") * F.col("weight"))
        .alias("sum_doc_w")).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf01}/documents.parquet'")
    want = [tuple(r) for r in con.execute(
        REGISTRY["feature_hashing_summary"].oracle).fetchall()]
    assert got == want and len(got) == 1


def _pava_fraction_replay(points):
    """Independent exact-rational PAVA: points = [(x, n, s)] sorted by
    x; returns [(x, n, pool_s, pool_c, fit)] with Fraction pooling and
    trunc-div fits."""
    from fractions import Fraction

    pools = []
    for x, n, s in points:
        cur = [s, n, [(x, n)]]
        while pools and Fraction(pools[-1][0], pools[-1][1]) \
                > Fraction(cur[0], cur[1]):
            p = pools.pop()
            cur = [p[0] + cur[0], p[1] + cur[1], p[2] + cur[2]]
        pools.append(cur)
    out = []
    for s, c, members in pools:
        fit = s // c if s >= 0 else -((-s) // c)
        for x, n in members:
            out.append((x, n, s, c, fit))
    return out


@pytest.mark.slow
def test_isotonic_fit_replay_and_contracts(spark, sf_dir):
    """isotonic_fit (PAVA): exact-Fraction Python replay on the real
    events (value vs user activity per type), the monotonicity and
    mean-preservation invariants, and the tie/degenerate hand cases."""
    import duckdb as _dd

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.features import (
        isotonic_fit)

    from clickhouse_hdfs_loader_spark.sources.tables import read_table

    # read_table, never raw spark.read.parquet — the events ts-drift
    # rule applies to the READ even when ts is unused (review-caught)
    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_type").isNotNull()))
    got = sorted(map(tuple, isotonic_fit(
        ev, "event_type", "user_id", "value").collect()))

    rows = _dd.connect().execute(f"""
        SELECT event_type,
               CAST(floor(CAST(user_id AS DOUBLE) * 1000) AS BIGINT)
                 AS x,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(value * 1000) AS BIGINT))
                    AS BIGINT) AS s
        FROM '{sf_dir}/events.parquet'
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
          AND value IS NOT NULL AND isfinite(value)
        GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    want = []
    from itertools import groupby
    for g, grp in groupby(rows, key=lambda r: r[0]):
        pts = [(x, n, s) for _, x, n, s in grp]
        want.extend((g, x, n, ps, pc, fit)
                    for x, n, ps, pc, fit in _pava_fraction_replay(pts))
    assert got == sorted(want) and len(got) > 0

    # invariants on the real data: fits monotone within each group;
    # pool means preserve the group's total y mass exactly
    from collections import defaultdict
    per_g = defaultdict(list)
    for g, x, n, ps, pc, fit in got:
        per_g[g].append((x, n, ps, pc, fit))
    for g, pts in per_g.items():
        pts.sort()
        fits = [f for _, _, _, _, f in pts]
        assert fits == sorted(fits)
        # pool mass: a run of rows sharing (s, c) in x order may span
        # SEVERAL adjacent equal-mean pools (PAVA merges only strict
        # violations), so count pools per run as Σn_run / c — each
        # pool's member counts sum to exactly c (review-caught: a
        # set-dedup by (s, c) collapses such twins)
        mass = 0
        run_key, run_n = None, 0
        for _x, n, s, c, _f in pts + [(None, 0, None, None, None)]:
            if (s, c) != run_key:
                if run_key is not None:
                    assert run_n % run_key[1] == 0
                    mass += run_key[0] * (run_n // run_key[1])
                run_key, run_n = (s, c), 0
            run_n += n
        assert mass == sum(r[3] for r in rows if r[0] == g)

    def run(pairs):
        df = spark.createDataFrame(
            [("g", float(x), float(y)) for x, y in pairs],
            "g string, x double, y double")
        return sorted(map(tuple, isotonic_fit(
            df, "g", "x", "y").collect()))

    # already-monotone input is untouched (fit = per-x mean)
    assert run([(1, 1), (2, 2), (3, 3)]) == [
        ("g", 1000, 1, 1000, 1, 1000), ("g", 2000, 1, 2000, 1, 2000),
        ("g", 3000, 1, 3000, 1, 3000)]
    # a decreasing series pools globally to the grand mean
    assert run([(1, 3), (2, 2), (3, 1)]) == [
        ("g", 1000, 1, 6000, 3, 2000), ("g", 2000, 1, 6000, 3, 2000),
        ("g", 3000, 1, 6000, 3, 2000)]
    # tied x pre-averages into ONE point (equal x -> equal fit)
    assert run([(1, 0), (1, 4), (2, 5)]) == [
        ("g", 1000, 2, 4000, 2, 2000), ("g", 2000, 1, 5000, 1, 5000)]
    # the textbook violator: [1, 3, 2] pools only the tail
    assert run([(1, 1), (2, 3), (3, 2)]) == [
        ("g", 1000, 1, 1000, 1, 1000), ("g", 2000, 1, 5000, 2, 2500),
        ("g", 3000, 1, 5000, 2, 2500)]

    # hypothesis: monotone fits + exact mass preservation on random
    # small inputs (pure-python replay equality re-checked per case)
    @given(st.lists(st.tuples(st.integers(0, 6), st.integers(-5, 5)),
                    min_size=1, max_size=15))
    @settings(max_examples=8, deadline=None)
    def check(pairs):
        out = run(pairs)
        fits = [f for _, _, _, _, _, f in out]
        assert fits == sorted(fits)
        agg = {}
        for x, y in pairs:
            k = x * 1000
            n, s = agg.get(k, (0, 0))
            agg[k] = (n + 1, s + y * 1000)
        pts = [(x, n, s) for x, (n, s) in sorted(agg.items())]
        want = [("g",) + t for t in _pava_fraction_replay(pts)]
        assert out == sorted(want)

    check()


def test_corr_matrix_oracle_and_hand_cases(spark, sf_dir):
    """corr_matrix (ClickHouse corrMatrix): DuckDB oracle via the
    covariance-sum CTE + the VERBATIM shared finish, the diagonal/
    bounds invariants, and exact ±1 planted hand cases."""
    from clickhouse_hdfs_loader_spark.operators.features import (
        CORR_MATRIX_SQL, corr_matrix)

    got = sorted(map(tuple, corr_matrix(
        _emb(spark, sf_dir), dims=64).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{sf_dir}/embeddings.parquet'")
    want = sorted(map(tuple, con.execute(f"""
        WITH base AS ({COV_SQL}),
        diag AS (SELECT i AS d, s_ij AS ss FROM base WHERE i = j),
        t AS (SELECT b.i, b.j, b.n, b.s_i, b.s_j, b.s_ij,
                     di.ss AS _sii, dj.ss AS _sjj
              FROM base b
              JOIN diag di ON di.d = b.i
              JOIN diag dj ON dj.d = b.j)
        SELECT i, j, n, {CORR_MATRIX_SQL.replace('div', '//')}
                 AS corr_e4
        FROM t
    """).fetchall()))
    assert got == want and len(got) == 64 * 65 // 2
    # diagonal exactly 1; every entry in [-1, 1] (the e4 round can't
    # escape the Cauchy-Schwarz bound by more than half a unit)
    for i, j, _n, c in got:
        if i == j:
            assert c == 1.0
        assert c is None or -1.0001 <= c <= 1.0001

    # planted: dim1 = 2·dim0 -> corr exactly 1; dim2 = −dim0 -> −1;
    # dim3 constant -> NULL against everything
    rows = [([float(v), 2.0 * v, -1.0 * v, 7.0],)
            for v in (1, 2, 5, 9, 3)]
    df = spark.createDataFrame(rows, "embedding array<double>")
    out = {(r["i"], r["j"]): r["corr_e4"]
           for r in corr_matrix(df).collect()}
    assert out[(0, 1)] == 1.0 and out[(0, 2)] == -1.0
    assert out[(1, 2)] == -1.0
    assert out[(0, 3)] is None and out[(3, 3)] is None
