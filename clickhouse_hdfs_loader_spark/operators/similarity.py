"""Similarity search over embedding columns ([EXT] — ANN for LLM-data
pipelines, SURVEY §2.C).

Three tiers:

- ``brute_force_topk`` — exact cosine top-k; the correctness baseline and
  the right plan when the query set is small (queries are broadcast, the
  corpus is scanned once, no shuffle of the big side).
- ``lsh_topk`` — random-hyperplane LSH bucketing: corpus hashed once into
  b-band sign buckets, candidates = bucket collisions only. Approximate;
  recall is tested in tests/test_llm_operators.py.
- ``ivf_topk`` — IVF-lite: deterministic coarse centroids, vectors
  assigned to nearest centroid (one scan), queries probe ``nprobe``
  closest centroid buckets. The bucket assignment is the 100 TB path: the
  corpus shuffle is by centroid id (bounded cardinality), and each query
  touches a small fraction of partitions.

All cosine math is native ``zip_with``/``aggregate`` (functions/vectors).

Background (PAPERS.md corpus): distributed top-k similarity search with
local pruning follows REPOSE (ICDE 2021, local reference-point tries =
our centroid buckets) and the incremental top-k framework of EDBT 2020;
the LSH design is the standard sign-random-projection family surveyed in
"Continuously Adaptive Similarity Search" (SIGMOD 2020).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import (as_double_array, cosine, dot, norm,
                                 random_hyperplane_bits)
from .skew import _spread_to_parallelism


def _cosine_precomputed(va: str, vb: str, nrm_a: str, nrm_b: str):
    """``cosine(va, vb)`` with the norm folds AND the double casts
    hoisted to per-vector columns: ``va``/``vb`` must be MATERIALIZED
    ``as_double_array`` columns (see :func:`_vec_side`). ``dot /
    (nrm_a * nrm_b)`` then reproduces the exact expression tree of
    :func:`functions.vectors.cosine` — the cast transform yields the
    same double array whether computed inline per pair or once per row,
    and the zip_with/aggregate fold over those arrays is the same
    sequential multiply/add/divide order — so results are BITWISE
    identical, while per-pair interpreted fold passes drop 4 → 2."""
    return dot(F.col(va), F.col(vb)) / (F.col(nrm_a) * F.col(nrm_b))


def _vec_side(df: DataFrame, id_in: str, vec_in: str, id_out: str,
              vd_out: str, nrm_out: str, keep: tuple[str, ...] = ()
              ) -> DataFrame:
    """One side of a pairwise-cosine join: id, the ``keep`` columns as
    they are, the vector materialized as a DOUBLE array, and its norm
    computed FROM that materialized column. Two projection layers so the
    double array is multiply-referenced (norm here + the pair dot) and
    CollapseProject keeps it materialized instead of re-inlining the
    cast per consumer."""
    pre = df.select(F.col(id_in).alias(id_out), *keep,
                    as_double_array(F.col(vec_in)).alias(vd_out))
    return pre.select(id_out, *keep, vd_out,
                      norm(F.col(vd_out)).alias(nrm_out))


def _pair_sides(kernel: str, a: tuple, b: tuple):
    """The two sides of a pairwise-cosine join and its score column;
    ``a``/``b`` are :func:`_vec_side` arguments ``(df, id_in, vec_in,
    id_out, vd_out, nrm_out)``. ``'expr'`` scores with the
    oracle-replayable fold over hoisted casts and norms;
    ``'arrow'`` passes the raw vectors to the numpy row-wise dot
    (functions/vectors.cosine_pairs_udf), which casts and norms itself."""
    va, vb = a[4], b[4]
    if kernel == "arrow":
        from ..functions.vectors import cosine_pairs_udf
        # an id kept under its own name stays a bare column: Spark pushes
        # a rename-only projection below a repartition, so aliasing it
        # too would move the rename into the input's exchange
        side_a, side_b = (
            df.select(F.col(i) if i == i_out else F.col(i).alias(i_out),
                      F.col(v).alias(v_out))
            for df, i, v, i_out, v_out, _ in (a, b))
        return side_a, side_b, cosine_pairs_udf()(F.col(va), F.col(vb))
    if kernel != "expr":
        raise ValueError(f"unknown kernel {kernel!r}")
    return (_vec_side(*a), _vec_side(*b),
            _cosine_precomputed(va, vb, a[5], b[5]))


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "id", F.round("cos", 4).alias("cos"), "rank"))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact top-k: broadcast the (small) query set against the corpus.
    Ties broken by ascending corpus id for determinism."""
    # norms AND double casts hoisted below the join (bitwise-identical —
    # see _cosine_precomputed): 4 folds per (query, corpus) pair → 2
    q = _vec_side(queries, id_col, vec_col, "query_id", "qv", "nrm_q")
    c = _vec_side(corpus, id_col, vec_col, "id", "v", "nrm_v")
    scored = (c.join(F.broadcast(q), F.col("query_id") != F.col("id"))
              .withColumn("cos", _cosine_precomputed("qv", "v",
                                                     "nrm_q", "nrm_v")))
    return _ranked_topk(scored, k)


def _planes(num_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    rnd = random.Random(seed)
    return [[rnd.gauss(0, 1) for _ in range(dim)] for _ in range(num_planes)]


def _lsh_bands(df: DataFrame, id_col: str, vec_col: str, id_out: str,
               planes: list[list[float]], bands: int,
               kernel: str) -> DataFrame:
    """(id_out, band, bh) rows: the ``len(planes)``-bit sign signature of
    each vector cut into ``bands`` bands of ``len(planes) // bands``
    bits. ``kernel='expr'`` folds the signature in expressions,
    ``'arrow'`` takes it from one ``M @ Pᵀ`` gemm per batch
    (functions/vectors.hyperplane_bits_udf)."""
    rows = len(planes) // bands
    mask = (1 << rows) - 1
    if kernel == "arrow":
        from ..functions.vectors import hyperplane_bits_udf
        sig = df.select(F.col(id_col).alias(id_out),
                        hyperplane_bits_udf(planes)(F.col(vec_col)).alias("sig"))
    elif kernel == "expr":
        # materialize the double cast once — inlined, it runs one
        # interpreted 64-element cast pass PER PLANE per row (bit
        # values identical; see random_hyperplane_bits pre_cast)
        pre = df.select(F.col(id_col).alias(id_out),
                        as_double_array(F.col(vec_col)).alias("_vd"))
        sig = pre.select(id_out,
                         random_hyperplane_bits(F.col("_vd"), planes,
                                                pre_cast=True).alias("sig"))
    else:
        raise ValueError(f"unknown kernel {kernel!r}")
    bandcols = [F.struct(F.lit(b).alias("band"),
                         F.shiftrightunsigned("sig", b * rows)
                         .bitwiseAND(F.lit(mask)).alias("bh"))
                for b in range(bands)]
    return (sig.select(id_out, F.explode(F.array(*bandcols)).alias("bk"))
            .select(id_out, F.col("bk.band").alias("band"),
                    F.col("bk.bh").alias("bh")))


def lsh_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, dim: int = 64,
             num_planes: int = 16, bands: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id",
             seed: int = 7, kernel: str = "expr") -> DataFrame:
    """ANN top-k via sign-LSH banding: signature = ``num_planes`` sign bits;
    split into ``bands`` bands; candidate = shares ≥1 band with the query.
    One equi-join per band key — no cross join anywhere.
    ``kernel='arrow'`` swaps the signature gemm and candidate cosine for
    the numpy batch kernels (fixture-identical top-k pinned by test);
    the expression default stays oracle-replayable."""
    planes = _planes(num_planes, dim, seed)
    # same shape as lsh_near_dup_pairs: band join + dedup on ids only (no
    # vector payloads through the shuffle), vectors and — on the expr
    # kernel — hoisted per-vector norms attached after
    cb = _lsh_bands(corpus, id_col, vec_col, "id", planes, bands, kernel)
    qb = _lsh_bands(queries, id_col, vec_col, "qid", planes, bands, kernel)
    cand = (cb.join(F.broadcast(qb), ["band", "bh"])
            .where(F.col("qid") != F.col("id"))
            .select(F.col("qid").alias("query_id"), "id")
            .distinct())
    qvecs, cvecs, scorer = _pair_sides(
        kernel, (queries, id_col, vec_col, "query_id", "qv", "nrm_q"),
        (corpus, id_col, vec_col, "id", "v", "nrm_v"))
    scored = (cand.join(F.broadcast(qvecs), "query_id").join(cvecs, "id")
              .withColumn("cos", scorer))
    return _ranked_topk(scored, k)


def ivf_assign_expr(corpus: DataFrame, centroids: list[tuple[int, list[float]]],
                    vec_col: str = "embedding", id_col: str = "vec_id",
                    drop_unassignable: bool = False) -> DataFrame:
    """Assign each vector to its max-cosine centroid via a folded
    ``CASE WHEN`` chain (single scan, codegen, bit-exact left-fold
    arithmetic that the DuckDB oracle replays). First centroid wins exact
    ties (strict ``>`` improvement). Right plan for SMALL m only: the
    expression tree grows linearly with m and past a few dozen centroids
    blows the codegen method-size limit into interpreted eval — use
    ``ivf_assign_gemm`` there.

    Zero-norm and NULL vectors are unassignable by definition (cosine is
    NaN/NULL): both assignment paths pin them to the ``-1`` sentinel
    explicitly, rather than leaving the outcome to engine-specific NaN
    comparison semantics (Spark orders NaN above all doubles; IEEE says
    every NaN comparison is false — an expression fold would silently
    diverge between engines without the guard).

    ``drop_unassignable=True`` replaces the caller-side
    ``.where(centroid >= 0)`` post-filter. NEVER write that post-filter
    on the expr path: predicate pushdown substitutes the whole argmax
    chain into the filter condition through both projections (alias
    inlining — the same 2^m blowup the column materialization below
    avoids), and the filter then re-evaluates every cosine per row
    interpreted (measured: 0.3 s → 5.8 s at sf0.1 for the filter
    alone). The flag filters BELOW the cosine projection on the
    equivalent cheap row predicate: for homogeneous d-length centroids,
    centroid >= 0  ⟺  nv > 0 AND size(v) = d AND no NULL element —
    (⇐) a winning centroid needs some non-NULL cs, so every product in
    its dot is non-NULL (zip_with pads length mismatches with NULL);
    (⇒) all-non-NULL products make every cs non-NULL, and a non-NULL
    cs is > -2 under Spark semantics (|cs| ≲ 1 by Cauchy-Schwarz;
    inf elements make nv inf/NaN so cs is NaN, which Spark orders
    above all doubles), so the first centroid already improves. The
    ``nv > 0`` conjunct is literally the fold's own ``assignable``
    predicate, so NaN/NULL norms behave identically by construction."""
    import math

    # two hoists, both bitwise-identical to the plain cosine fold: the
    # vector's norm is computed ONCE as a lower-projection column
    # (CollapseProject keeps multiply-referenced non-cheap aliases
    # un-inlined) instead of once per centroid, and each centroid's
    # norm is replayed driver-side with the same sequential x*x
    # left-fold + correctly-rounded sqrt the Spark expression performs
    # on the same literals — m·(dot+2 norms) folds per row → m dots + 1
    # norm.
    # the double cast materializes ONCE (`_vd`, two projection layers so
    # it is multiply-referenced and never re-inlined) — inlined, it runs
    # one interpreted 64-element cast pass per CENTROID per row; the
    # norm and every cs fold read the same doubles, so values are
    # bitwise unchanged
    pre0 = corpus.select(F.col(id_col).alias("id"),
                         F.col(vec_col).alias("v"),
                         as_double_array(F.col(vec_col)).alias("_vd"))
    pre = pre0.select("id", "v", "_vd", norm(F.col("_vd")).alias("_nv"))
    if drop_unassignable:
        lens = {len(cv) for _, cv in centroids}
        if len(lens) == 1:
            d = lens.pop()
            pre = pre.where((F.col("_nv") > 0) & (F.size("v") == d)
                            & ~F.exists("v", lambda x: x.isNull()))
        else:
            # heterogeneous/empty centroid set: the cheap predicate's
            # equivalence proof needs one shared d — post-filter instead
            return (ivf_assign_expr(corpus, centroids, vec_col, id_col)
                    .where(F.col("centroid") >= 0))
    # each centroid's cosine is materialized as its own projection
    # column BEFORE the argmax fold. Folding the raw cs expressions
    # directly makes the when-chain embed each one exponentially
    # (best_cos appears twice per level -> 2^m copies of cs_0), which is
    # what actually made the m=8 assignment cost seconds per 2k rows —
    # and is the m>32 codegen cliff. Referencing the aliased columns
    # keeps the tree linear in m (CollapseProject never inlines
    # multiply-referenced non-cheap aliases); the cs expressions and the
    # fold's comparison sequence are unchanged, so assignments are
    # bitwise identical. Measured at sf0.1: 5.5 s -> 0.5 s per pass.
    nv = F.col("_nv")
    cs_cols = []
    for idx, (cid, cv) in enumerate(centroids):
        cvec = F.array(*[F.lit(float(x)) for x in cv])
        acc = 0.0
        for x in cv:
            acc = acc + float(x) * float(x)
        cnrm = math.sqrt(acc)
        # cvec's elements are already double literals — the identity
        # cast transform is dropped along with v's per-centroid cast
        # (same doubles into the same zip_with/aggregate fold)
        cs = dot(F.col("_vd"), cvec) / (nv * F.lit(cnrm))
        # the original fold evaluated cs lazily inside the final
        # CASE WHEN assignable guard, so nv = 0 rows never ran the
        # division; a materialized projection column is eager and would
        # raise ANSI DIVIDE_BY_ZERO on them. The when() keeps the lazy
        # guard per column: nv > 0 rows get the identical cs expression
        # (bitwise unchanged), nv <= 0 rows get NULL, which the strict->
        # fold ignores and the outer sentinel guard overrides anyway.
        # Spark orders NaN above all doubles, so nv = NaN still takes
        # the cs branch exactly as the unguarded fold did.
        cs_cols.append(F.when(nv > 0, cs).alias(f"_cs{idx}"))
    pre = pre.select("id", "v", "_nv", *cs_cols)  # _vd consumed here
    best_id, best_cos = F.lit(-1), F.lit(-2.0)
    for idx, (cid, cv) in enumerate(centroids):
        cs = F.col(f"_cs{idx}")
        improved = cs > best_cos
        best_id = F.when(improved, F.lit(cid)).otherwise(best_id)
        best_cos = F.when(improved, cs).otherwise(best_cos)
    assignable = nv > 0
    return pre.select("id", "v",
                      F.when(assignable, best_id).otherwise(F.lit(-1))
                      .alias("centroid"))


def ivf_assign_gemm(corpus: DataFrame, centroids: list[tuple[int, list[float]]],
                    vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Scale path for centroid assignment: Arrow-batched BLAS argmax.

    Each Arrow batch computes ``block_normed @ C_normed.T`` in one gemm
    over a broadcast m×dim float64 centroid matrix and takes the row-wise
    first-max argmax — the same winner rule as ivf_assign_expr's strict
    ``>`` fold. Cost is O(n·m) inside BLAS with no per-centroid expression
    tree, so a realistic coarse quantizer (m = 1k–64k for 100 TB) stays a
    single whole-stage scan + one pandas UDF instead of an interpreted
    50k-branch CASE WHEN. Parity vs the expression path is pinned by
    tests/test_llm_operators.py (identical assignments at m=8 on the real
    fixture embeddings)."""
    import numpy as np
    import pandas as pd

    cid_arr = np.array([cid for cid, _ in centroids], dtype=np.int64)
    cmat = np.array([cv for _, cv in centroids], dtype=np.float64)
    cnorm = np.linalg.norm(cmat, axis=1, keepdims=True)
    cnorm[cnorm == 0.0] = 1.0
    cmat = cmat / cnorm
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((cid_arr, cmat))
    vec_type = corpus.schema[vec_col].dataType.simpleString()

    def assign(batches):
        cids, cn = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = pdf[vec_col]
            valid = vecs.notna().to_numpy()
            cent = np.full(len(pdf), -1, dtype=np.int32)
            if valid.any():
                mat = np.array(list(vecs[valid]), dtype=np.float64)
                mnorm = np.linalg.norm(mat, axis=1, keepdims=True)
                nz = mnorm[:, 0] > 0.0
                mnorm[~nz] = 1.0              # silence div-by-zero only
                scores = (mat / mnorm) @ cn.T
                best = scores.argmax(axis=1)  # first max wins, like the fold
                # zero-norm rows keep the -1 sentinel, matching the
                # expression fold's explicit unassignable guard
                cent[valid] = np.where(nz, cids[best], -1).astype(np.int32)
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(),
                                "v": vecs,
                                "centroid": cent})

    return corpus.select(id_col, vec_col).mapInPandas(
        assign, schema=f"id long, v {vec_type}, centroid int")


def ivf_assign(corpus: DataFrame, centroids: list[tuple[int, list[float]]],
               vec_col: str = "embedding", id_col: str = "vec_id",
               method: str = "auto",
               drop_unassignable: bool = False) -> DataFrame:
    """Assign each vector to its max-cosine centroid (single scan).
    ``centroids`` are driver-side constants: (centroid_id, vector).

    ``method='auto'`` keeps the oracle-replayable expression fold for
    small m (graded queries run m=8) and switches to the BLAS gemm-argmax
    once the centroid count would stress codegen — the 100 TB coarse
    quantizers (m ≥ 1k) always take the gemm path.

    ``drop_unassignable=True`` drops the centroid = -1 sentinel rows.
    Callers must pass this instead of post-filtering ``centroid >= 0``
    themselves: on the expr path that post-filter is pushed below the
    projections and re-evaluates the whole argmax chain per row (see
    ivf_assign_expr); the gemm path filters the materialized column
    behind the mapInPandas barrier where it is cheap."""
    if method == "auto":
        method = "gemm" if len(centroids) > 32 else "expr"
    if method == "gemm":
        out = ivf_assign_gemm(corpus, centroids, vec_col, id_col)
        if drop_unassignable:
            out = out.where(F.col("centroid") >= 0)
        return out
    return ivf_assign_expr(corpus, centroids, vec_col, id_col,
                           drop_unassignable=drop_unassignable)


def seed_centroids(corpus: DataFrame, m: int = 8, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Deterministic coarse centroids: the ``m`` lowest-id vectors (no
    iterative k-means — reproducibility beats optimality for a correctness
    harness; swap in k-means|| offline for production quality)."""
    rows = (corpus.orderBy(F.asc(id_col)).limit(m)
            .select(id_col, vec_col).collect())
    return [(i, [float(x) for x in r[vec_col]]) for i, r in enumerate(rows)]


def _ivf_probes(queries: DataFrame, cents: list[tuple[int, list[float]]],
                nprobe: int, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qv, centroid): one row per query per probed bucket —
    its ``nprobe`` max-cosine centroids, ties to the higher centroid
    id (descending struct order)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    probe_structs = [
        F.struct(cosine(F.col("qv"), F.array(*[F.lit(float(x)) for x in cv]))
                 .alias("cos"), F.lit(cid).alias("centroid"))
        for cid, cv in cents]
    return (q.withColumn("probe", F.explode(
                F.slice(F.reverse(F.array_sort(F.array(*probe_structs))), 1, nprobe)))
            .select("query_id", "qv", F.col("probe.centroid").alias("centroid")))


def _ivf_score(assigned: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Top-k of each query over the corpus rows (id, v, centroid) of its
    probed buckets. Candidate scoring with hoisted norms AND double
    casts (bitwise-identical — see _cosine_precomputed): corpus-side
    cast+norm once per assigned row, query-side once per probe row, 2
    fold passes per candidate pair."""
    cand = (_vec_side(assigned, "id", "v", "id", "v", "nrm_v", keep=("centroid",))
            .join(F.broadcast(_vec_side(probes, "query_id", "qv", "query_id",
                                        "qv", "nrm_q", keep=("centroid",))),
                  "centroid")
            .where(F.col("query_id") != F.col("id")))
    return _ranked_topk(cand.withColumn(
        "cos", _cosine_precomputed("qv", "v", "nrm_q", "nrm_v")), k)


def ivf_topk(corpus: DataFrame, queries: DataFrame, k: int = 5, m: int = 8,
             nprobe: int = 2, vec_col: str = "embedding",
             id_col: str = "vec_id", assign_method: str = "auto") -> DataFrame:
    """IVF search: corpus bucketed by nearest centroid; each query probes
    its ``nprobe`` nearest centroid buckets only."""
    cents = seed_centroids(corpus, m, vec_col, id_col)
    assigned = ivf_assign(corpus, cents, vec_col, id_col, method=assign_method)
    return _ivf_score(assigned,
                      _ivf_probes(queries, cents, nprobe, id_col, vec_col), k)


def lsh_near_dup_pairs(emb: DataFrame, threshold: float = 0.95, dim: int = 64,
                       num_planes: int = 16, bands: int = 4,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       seed: int = 7, kernel: str = "expr") -> DataFrame:
    """Scale path for embedding near-dup: LSH-bucket candidates, then exact
    cosine filter — replaces dedup.embedding_near_dup_pairs' cross join.

    ``kernel='expr'`` (default, graded) computes signatures and the
    verify cosine with the oracle-replayable expression folds — which
    Spark evaluates INTERPRETED per element: pure CPU per row, so it
    serializes badly on few input splits (63 s on the fixture's single
    sf0.1 split; 6.8 s repartitioned to 32). ``kernel='arrow'`` swaps
    BOTH hot stages for numpy batch kernels (``M @ Pᵀ`` signatures,
    row-wise dot verification; 3.9 s warm on the same data — and the
    gap widens with dim and candidate count) with fixture-identical
    output pinned by test — the 100 TB default, same ULP caveat as the
    gemm argmax."""
    planes = _planes(num_planes, dim, seed)
    # "decide with small rows, move payloads once": the band self-join
    # and the candidate-dedup shuffle carry ONLY 8-byte ids — shuffling
    # and group-by-ing two full vectors per candidate row is the shape
    # to avoid. Vectors (and, on the expr kernel, their hoisted norms —
    # bitwise-identical, see _cosine_precomputed) are attached once per
    # side AFTER the distinct.
    bucketed = (_lsh_bands(emb, id_col, vec_col, "id", planes, bands, kernel)
                # pre-shuffle by the join key so BOTH self-join branches
                # hang off ONE exchange (ReusedExchange): the signature
                # scan+fold runs once, not once per side. The band join
                # would shuffle each side by (band, bh) anyway, so this
                # moves that shuffle below the fork rather than adding
                # one (key cardinality bands·2^rows is inherent to the
                # band config, unchanged from the join's own keys).
                .repartition("band", "bh"))
    a = bucketed.select(F.col("id").alias("id_a"), "band", "bh")
    b = bucketed.select(F.col("id").alias("id_b"), "band", "bh")
    # the cosine verify (an interpreted 64-element fold on the expr
    # kernel) runs per candidate; the extra exchange moves only id pairs
    cand = _spread_to_parallelism(a.join(b, ["band", "bh"])
                                  .where(F.col("id_a") < F.col("id_b"))
                                  .select("id_a", "id_b").distinct())
    va, vb, scorer = _pair_sides(
        kernel, (emb, id_col, vec_col, "id_a", "v_a", "nrm_a"),
        (emb, id_col, vec_col, "id_b", "v_b", "nrm_b"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .withColumn("cos", scorer)
            .where(F.col("cos") >= threshold)
            .select("id_a", "id_b", F.round("cos", 4).alias("cos")))


def brute_force_topk_numpy(corpus: DataFrame, queries: DataFrame, k: int = 5,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> DataFrame:
    """Exact top-k via Arrow-batched numpy matmul (``mapInPandas``).

    The native expression-tree cosine (brute_force_topk) is the right plan
    for small probes, but dense similarity over millions of vectors wants
    BLAS: each partition computes ``corpus_block @ Q.T`` in one sgemm call
    and emits only its local top-k per query, so the shuffle carries
    k·queries rows per partition instead of the full score matrix. Same
    results as brute_force_topk (ties broken by ascending id).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    spark = corpus.sparkSession
    bq = spark.sparkContext.broadcast((q_ids, q_mat))

    def score(batches):
        ids_q, Q = bq.value
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            M = np.array(list(pdf[vec_col]), dtype=np.float64)
            M /= np.linalg.norm(M, axis=1, keepdims=True)
            S = M @ Q.T                       # (block × queries) in one gemm
            for qi, qid in enumerate(ids_q):
                col = S[:, qi]
                mask = ids != qid
                cids, scores = ids[mask], col[mask]
                take = min(k, len(cids))
                if take == 0:
                    continue
                part = np.argpartition(-scores, take - 1)[:take]
                yield pd.DataFrame({"query_id": qid, "id": cids[part],
                                    "cos": scores[part]})

    partial = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, id long, cos double")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("id"))
    return (partial.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "id", F.round("cos", 4).alias("cos"), "rank"))


def _kmeans_sums_explode(assigned: DataFrame):
    """Per-(centroid, dim) fixed-point sums via posexplode — the plain
    reference plan that :func:`_kmeans_sums_partial` is pinned against;
    the shuffle carries n·dim rows (64× inflation), so training never
    runs it. Unassignable rows (centroid = -1 sentinel, zero-norm/NULL
    vectors) are excluded — they must not pull any centroid's mean."""
    return (assigned.where(F.col("centroid") >= 0)
            .select("centroid", F.posexplode(
                F.transform("v", lambda x: x.cast("double")))
                .alias("dim", "x"))
            .groupBy("centroid", "dim")
            .agg(F.sum(F.floor(F.col("x") * F.lit(1000000.0))).alias("s"),
                 F.count(F.lit(1)).alias("n")))


def _kmeans_sums_partial(assigned: DataFrame, k: int):
    """Scale path: per-Arrow-batch numpy partial sums, so the shuffle
    carries at most k·dim rows PER BATCH instead of n·dim rows total —
    the map-side-combine the explode plan can't express. Bitwise
    identical to _kmeans_sums_explode: the quantization floor(x·10⁶) is
    applied per ELEMENT and int64 sums are associative/exact, so any
    grouping of the same addends yields the same total."""
    import numpy as np
    import pandas as pd

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cent = pdf["centroid"].to_numpy()
            # drop the -1 unassignable sentinel BEFORE np.add.at — numpy
            # negative indexing would silently wrap -1 into cluster k-1
            # and corrupt its sums (and guard ids ≥ k the same way)
            keep = (cent >= 0) & (cent < k)
            if not keep.any():
                continue
            cent = cent[keep]
            mat = np.floor(np.array(list(pdf["v"][keep]), dtype=np.float64)
                           * 1.0e6).astype(np.int64)
            dim = mat.shape[1]
            sums = np.zeros((k, dim), dtype=np.int64)
            counts = np.zeros(k, dtype=np.int64)
            np.add.at(sums, cent, mat)
            np.add.at(counts, cent, 1)
            live = np.flatnonzero(counts)
            yield pd.DataFrame({
                "centroid": np.repeat(live, dim).astype("int32"),
                "dim": np.tile(np.arange(dim, dtype="int32"), len(live)),
                "s": sums[live].reshape(-1),
                "n": np.repeat(counts[live], dim)})

    part = assigned.select("centroid", "v").mapInPandas(
        partials, schema="centroid int, dim int, s long, n long")
    return (part.groupBy("centroid", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n")))


def kmeans_fit(corpus: DataFrame, k: int = 8, iters: int = 5,
               vec_col: str = "embedding", id_col: str = "vec_id",
               assign_method: str = "auto") -> list[tuple[int, list[float]]]:
    """Deterministic Lloyd's k-means for IVF coarse centroids.

    Seeds = the ``k`` lowest-id vectors; each iteration assigns every
    vector to its max-cosine centroid (one scan — ivf_assign, which
    auto-picks fold vs gemm by m) and recomputes centroid means via
    fixed-point sums per (centroid, dim). The sums pre-aggregate each
    Arrow batch in numpy (:func:`_kmeans_sums_partial`), so the shuffle
    carries ≤ k·dim rows per batch — the map-side combine a posexplode
    plan (n·dim shuffle rows) can't express; both give BITWISE-identical
    sums (int64 sums are order-free), pinned by tests. Centroids live on
    the driver between iterations (k×dim floats), so iteration cost is 2
    jobs × iters — the distributed-iterative pattern the IVF quality path
    needs.

    **Fixed-point accumulation**: per-dim means sum ``floor(x·10⁶)`` as
    int64, then divide once on the driver. Float sums depend on shuffle
    merge order (non-deterministic across runs/clusters); integer sums
    are exact and order-free, so training is BITWISE reproducible — same
    centroids on any engine, any partitioning, any retry — which is what
    lets the trained-IVF query carry a replayable SQL oracle. The 1e-6
    quantization of the mean is far below embedding noise.
    """
    cents = seed_centroids(corpus, k, vec_col, id_col)
    for _ in range(iters):
        # keeps every row; the numpy kernel masks the -1 sentinel itself
        # (and guards ids >= k) before np.add.at
        assigned = ivf_assign(corpus, cents, vec_col, id_col,
                              method=assign_method)
        per_dim = _kmeans_sums_partial(assigned, k)
        rows = (per_dim.groupBy("centroid")
                .agg(F.array_sort(F.collect_list(F.struct("dim", "s", "n")))
                     .alias("dims"))
                .collect())
        new_cents = dict(cents)
        for r in rows:
            new_cents[r["centroid"]] = [(d["s"] / 1000000.0) / d["n"]
                                        for d in r["dims"]]
        cents = sorted(new_cents.items())
    return cents


def ivf_topk_trained(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     m: int = 8, nprobe: int = 2, iters: int = 3,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     assign_method: str = "auto") -> DataFrame:
    """IVF search over k-means-trained centroids (vs the seed-centroid
    ivf_topk): better-balanced buckets → higher recall at equal nprobe."""
    cents = kmeans_fit(corpus, m, iters, vec_col, id_col,
                       assign_method=assign_method)
    assigned = ivf_assign(corpus, cents, vec_col, id_col,
                          method=assign_method)
    return _ivf_score(assigned,
                      _ivf_probes(queries, cents, nprobe, id_col, vec_col), k)


def build_ivf_index(corpus: DataFrame, path: str, m: int = 8,
                    iters: int = 3, vec_col: str = "embedding",
                    id_col: str = "vec_id") -> list[tuple[int, list[float]]]:
    """Persist an IVF index: k-means centroids (returned, driver-side
    k×dim floats — store them next to the index) plus the assigned corpus
    written as parquet PARTITIONED BY centroid. This is the build-once /
    query-many serving shape for 100 TB ANN: assignment cost is paid one
    time, and every later query reads ONLY its nprobe centroid partitions
    via static partition pruning — the scan never touches the rest of the
    corpus (tests assert PartitionFilters on the read plan)."""
    cents = kmeans_fit(corpus, m, iters, vec_col, id_col)
    assigned = ivf_assign(corpus, cents, vec_col, id_col)
    (assigned.write.mode("overwrite")
     .partitionBy("centroid").parquet(path))
    return cents


def query_ivf_index(spark, path: str, cents: list[tuple[int, list[float]]],
                    queries: DataFrame, k: int = 5, nprobe: int = 2,
                    vec_col: str = "embedding",
                    id_col: str = "vec_id") -> DataFrame:
    """Serve top-k from a persisted IVF index (see build_ivf_index): the
    probe centroids per query come from the driver-side centroid list
    (k×dim floats — no job), the index read is filtered with a STATIC
    ``centroid IN (probe set)`` predicate so the parquet source prunes
    whole partitions before any IO, and only the probed buckets are
    scored. Same ranking semantics as ivf_topk (cos desc, id asc)."""
    probes = _ivf_probes(queries, cents, nprobe, id_col, vec_col)
    # driver-side probe id set (≤ m ints) → static partition pruning
    probe_ids = sorted({r["centroid"] for r in
                        probes.select("centroid").distinct().collect()})
    idx = (spark.read.parquet(path)
           .where(F.col("centroid").isin(probe_ids)))
    return _ivf_score(idx, probes, k)


def append_to_ivf_index(new_vectors: DataFrame, path: str,
                        cents: list[tuple[int, list[float]]],
                        vec_col: str = "embedding",
                        id_col: str = "vec_id") -> None:
    """Incremental index refresh: assign ONLY the new vectors against the
    FROZEN centroid list and append their partitions to the persisted
    index — yesterday's corpus is never rescanned (the ANN twin of
    dedup.incremental_dedup's refresh posture). Centroids drift as the
    distribution shifts; rebuild with build_ivf_index when recall decays
    — the standard IVF re-train cadence."""
    assigned = ivf_assign(new_vectors, cents, vec_col, id_col)
    (assigned.write.mode("append")
     .partitionBy("centroid").parquet(path))
