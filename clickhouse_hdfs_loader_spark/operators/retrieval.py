"""BM25 full-text retrieval over the document corpus ([EXT]) — the
classic inverted-index ranking function, expressed as pure DataFrame
algebra with EXACT integer arithmetic so results replay hash-identically
in any SQL engine (the repo-wide determinism contract; see
``bigram_likelihood`` for the same floor-quantized style).

Why integer: BM25's idf is a logarithm, and cross-engine ``ln``/``log2``
can differ in the last ulp — enough to flip a ``floor``. Instead of a
transcendental we use an exact piecewise-linear milli-log2 computed from
integer bit-length (``floor(log2 x)`` = number of binary digits − 1,
identical in Spark's ``conv(x,10,2)`` and DuckDB's ``bin(x)``) plus a
linearly interpolated fractional part in pure integer division. The
result is a monotone, deterministic, engine-exact approximation of
log2 — ranking-faithful (monotone in the true idf) and reproducible.

Scale shape (the 100 TB plan):
- the postings table (term, doc_id, tf) is ONE explode + one map-side
  combinable aggregate over the corpus;
- query terms are broadcast (a query set is small by construction), so
  matching never shuffles the postings;
- corpus scalars (N docs, total tokens) ride a broadcast 1-row
  aggregate — fully lazy, no driver collect;
- scores aggregate on (query_id, doc_id) — bounded by matched postings,
  not corpus size — and per-query top-k goes through a rank window that
  Spark pushes down as ``WindowGroupLimit`` partial top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import words_array

# milli-log2 of 1e6 under the same piecewise-linear scheme (e=19,
# frac=(1e6-2^19)*1000 div 2^19 = 907); subtracting it rescales
# ilog2_milli(x * 1e6) back to milli-log2(x) deterministically.
_ILOG2_MILLI_1E6 = 19907


def with_ilog2_milli(df: DataFrame, x_col: str, out_col: str) -> DataFrame:
    """Append ``out_col`` = exact-integer milli-log2 of positive integer
    column ``x_col``: ``e*1000 + ((x - 2^e) * 1000) div 2^e`` with
    ``e = bitlength(x) - 1``. Monotone in x, pure integer ops, and
    SQL-replayable (DuckDB: ``length(ltrim(bin(x),'0'))-1`` and
    ``1::BIGINT << e``). Valid for 1 <= x < 2^54: the interior product
    ``(x - 2^e)*1000`` reaches ``(2^e - 1)*1000``, which crosses 2^63
    at e = 54 and ANSI-raises (a pre-r16 docstring claimed 2^62 —
    wrong by the same arithmetic on the same formula; every caller
    passes counts/ranks or e6-scaled ratios well under 2^53).

    The exponent comes from ``floor(log2(x))`` corrected by one
    shift-compare in each direction (r16 — 3x cheaper per row than the
    previous ``conv(x, 10, 2)`` string round-trip). Exactness: for
    1 <= x < 2^62 the computed double log2 is within ~1e-13 of the
    truth, so its floor is within +-1 of the true exponent, and the two
    CASE corrections are exact integer comparisons against 2^e0 /
    2^e0+1. The up-correction is gated at _e0 < 62 so the second shift
    never reaches 63 (shiftleft(1, 63) is INT64_MIN and its '<= x'
    would be vacuously true — review-caught r16); beyond the domain
    the gate keeps e = 62 for x >= 2^62, matching the old conv() path
    (which also raised past 2^62 + ~9.2e15 on the interior product).
    Rows with x < 1 keep the old conv() branch so out-of-domain
    behaviour is unchanged (x = 0 still yields -1000, negatives still
    fail the ANSI power cast, NULL stays NULL); every caller's domain
    is counts >= 1, so the hot path never evaluates it.

    ``_e0``, ``_e`` and ``_p`` are its scratch columns: a ``df`` that
    already has one (or an ``out_col`` named so) raises ``ValueError``
    instead of losing that column."""
    clash = {"_e0", "_e", "_p"} & {c.lower() for c in (*df.columns, out_col)}
    if clash:
        raise ValueError(f"with_ilog2_milli: columns {sorted(clash)} are "
                         "reserved for its scratch values")
    e_fast = (f"CASE WHEN shiftleft(CAST(1 AS BIGINT), CAST(_e0 AS INT))"
              f" > {x_col} THEN _e0 - 1 "
              f"WHEN _e0 < 62 AND "
              f"shiftleft(CAST(1 AS BIGINT), CAST(_e0 AS INT) + 1)"
              f" <= {x_col} THEN _e0 + 1 ELSE _e0 END")
    return (df
            .withColumn("_e0", F.expr(
                f"CASE WHEN {x_col} >= 1 THEN "
                f"CAST(floor(log2(CAST({x_col} AS DOUBLE))) AS BIGINT) "
                f"ELSE CAST(length(conv({x_col}, 10, 2)) - 1 AS BIGINT) "
                f"END"))
            .withColumn("_e", F.expr(
                f"CASE WHEN {x_col} >= 1 THEN {e_fast} ELSE _e0 END"))
            # 2^e: exact for e <= 61 (shift) / e <= 62 (double pow on
            # the degenerate branch, matching the pre-r16 behaviour)
            .withColumn("_p", F.expr(
                f"CASE WHEN {x_col} >= 1 THEN "
                f"shiftleft(CAST(1 AS BIGINT), CAST(_e AS INT)) "
                f"ELSE CAST(pow(CAST(2.0 AS DOUBLE), _e) AS BIGINT) END"))
            .withColumn(out_col,
                        F.col("_e") * 1000
                        + F.expr(f"(({x_col} - _p) * 1000) div _p"))
            .drop("_e0", "_e", "_p"))


def bm25_topk(docs: DataFrame, queries: DataFrame, k: int = 10,
              text_col: str = "text", id_col: str = "doc_id",
              query_id_col: str = "query_id",
              query_text_col: str = "query_text",
              k1_milli: int = 1200, b_milli: int = 750) -> DataFrame:
    """Top-k documents per query under quantized-rational BM25
    (k1=1.2, b=0.75 by default, in milli-units).

    Per matched (query term, doc) posting, all in int64:

    - ``idf_milli = ilog2m((2*(N+1)*1e6) div (2*df+1)) - ilog2m(1e6)``
      — milli-log2 of ``(N+1)/(df+0.5)``, the Robertson idf with the
      +1-inside-the-log smoothing (never negative);
    - ``dl_rel_milli = (dl * 1000 * N) div S`` — dl/avgdl;
    - ``ndl_milli = (1000 - b) + (b * dl_rel_milli) div 1000``;
    - ``denom_milli = tf*1000 + (k1 * ndl_milli) div 1000``;
    - contribution ``(idf_milli * tf * (k1+1000) * 1000) div denom_milli``
      (micro-units), summed per (query, doc).

    Ties break deterministically: score desc, then doc_id asc. Duplicate
    query terms are collapsed (set semantics — the common BM25 practice
    for short queries). Overflow bound: the contribution numerator is
    ``idf_milli(<~63e3) * tf * 2.2e6`` — safe for tf up to ~6e10.

    Returns ``query_id, doc_id, score_micro, rank``.
    """
    # the explicit isnotnull is a no-op (regexp tokens are never NULL)
    # but matches the filter the term-join pushes into its branches, so
    # every tf consumer's subtree stays canonically equal to the main
    # one and reuses its exchange at runtime (r15: dl/stats branches
    # lacked the pushed filter and re-ran the explode scan)
    toks = (docs.select(F.col(id_col).alias("doc_id"),
                        F.explode(words_array(F.col(text_col)))
                        .alias("term"))
            .where(F.col("term").isNotNull()))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # df written as count(tf >= 1) — always-true predicate, value equals
    # count(*), but it stops Catalyst degenerating this branch's tf
    # aggregate into a distinct (which broke canonical equality with the
    # main tf subtree and forced a second explode scan; the tf_idf_topk
    # ReusedExchange fix, r15)
    dfreq = (tf.groupBy("term")
             .agg(F.count(F.when(F.col("tf") >= 1, True)).alias("df")))
    # corpus scalars as a lazy 1-row broadcast (token-less docs count
    # toward N and add 0 to S) — no driver action inside the operator.
    # S = Σ tf ≡ |toks| exactly, but summing tf hangs the branch off the
    # shared tf exchange instead of re-running the explode scan (r15)
    stats = (docs.agg(F.count(F.lit(1)).alias("n"))
             .crossJoin(tf.agg(F.sum("tf").alias("s"))))

    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(words_array(F.col(query_text_col))))
        .alias("term"))

    matched = (tf
               .join(F.broadcast(qterms), "term")
               .join(dfreq, "term")
               .join(dl, "doc_id")
               .crossJoin(F.broadcast(stats)))
    matched = matched.withColumn(
        "_x", F.expr("(2 * (n + 1) * 1000000) div (2 * df + 1)"))
    matched = with_ilog2_milli(matched, "_x", "_lg")
    contrib = (matched
               .withColumn("idf_milli",
                           F.col("_lg") - F.lit(_ILOG2_MILLI_1E6))
               .withColumn("dl_rel_milli",
                           F.expr("(dl * 1000 * n) div s"))
               .withColumn("ndl_milli",
                           F.lit(1000 - b_milli)
                           + F.expr(f"({b_milli} * dl_rel_milli) div 1000"))
               .withColumn("denom_milli",
                           F.expr(f"tf * 1000 "
                                  f"+ ({k1_milli} * ndl_milli) div 1000"))
               .withColumn("contrib_micro",
                           F.expr(f"(idf_milli * tf * {k1_milli + 1000} "
                                  f"* 1000) div denom_milli")))
    scored = (contrib.groupBy("query_id", "doc_id")
              .agg(F.sum("contrib_micro").alias("score_micro")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_micro").desc(), F.col("doc_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score_micro", "rank"))


def ranking_metrics(df: DataFrame, query_col: str = "query_id",
                    score_col: str = "score", rel_col: str = "rel",
                    id_col: str = "doc_id", k: int = 10) -> DataFrame:
    """Retrieval-evaluation metrics per query — NDCG@k, MRR, hits@k —
    under the repo's EXACT integer contract (the training-data-pipeline
    question: "did the retriever put the labeled-relevant documents on
    top?"). Rows carry a ranking score, an integral non-negative gain
    (graded relevance), and an id tie-break:

    - ``rank``  = row_number by (score DESC, id ASC) — deterministic
      under score ties; ``irank`` = row_number by (rel DESC, id ASC)
      (the ideal ordering; which tied-gain row sits first cannot change
      any sum, so no extra tie rule is needed);
    - per-position gain ``(rel · 10⁹) div ilog2_milli(rank + 1)`` —
      rel/log2(rank+1) in exact e6 units via the monotone engine-exact
      milli-log2 (:func:`with_ilog2_milli`, the bm25 idf machinery);
      DCG@k sums it over rank ≤ k, IDCG@k over irank ≤ k;
    - ``ndcg_e6 = (dcg_e6 · 10⁶) div idcg_e6`` (NULL when no positive
      gain exists; a perfect ranking is exactly 10⁶; per-term floors
      can nudge it a hair past 10⁶ on near-tied log values — the
      quantized formula IS the contract, identical on every engine);
    - ``rr_e6 = 10⁶ div (first rank with rel > 0)`` over the FULL
      ranking (the standard MRR, not cut at k); ``hits_k`` counts
      rel > 0 within the top k.

    Gains are validated loudly (the ONE shared integral validator —
    fractional/negative/NaN raise; NULL-gain rows are excluded like
    NULL scores/ids/queries); gains beyond ``min(9·10⁹, 9·10¹²/k)``
    (the k-term DCG-sum bound — so the named raise fires before any
    generic ANSI sum overflow) and DCG values beyond 9·10¹² at the
    ndcg product raise NAMED errors, never a silent int64 wrap.

    Plan: two rank windows over ONE query-key exchange (same
    partitioning, Spark only re-sorts — the r13 subsumption rule),
    then one aggregate; O(|queries|) output rows.

    Returns ``query, n, hits_k, rr_e6, dcg_e6, idcg_e6, ndcg_e6``
    (all BIGINT)."""
    from .analytics import _integral_weight_expr, _quantizable_col

    if int(k) < 1:
        raise ValueError(f"ranking_metrics: k must be >= 1, got {k!r}")
    k = int(k)
    dtypes = dict(df.dtypes)
    score_ok = (_quantizable_col(score_col)
                if dtypes.get(score_col) in ("float", "double")
                else F.col(score_col).isNotNull())
    base = (df.where(score_ok
                     & F.col(query_col).isNotNull()
                     & F.col(id_col).isNotNull()
                     & F.col(rel_col).isNotNull())
            .select(F.col(query_col).alias("_q"),
                    F.col(score_col).alias("_sc"),
                    F.col(id_col).alias("_id"),
                    _integral_weight_expr(
                        "ranking_metrics", rel_col,
                        noun="relevance gain",
                        neg_reason="is not a valid graded relevance")
                    .alias("_rel")))
    wr = Window.partitionBy("_q").orderBy(F.col("_sc").desc(),
                                          F.col("_id").asc())
    wi = Window.partitionBy("_q").orderBy(F.col("_rel").desc(),
                                          F.col("_id").asc())
    ranked = (base.withColumn("_rnk", F.row_number().over(wr))
              .withColumn("_irnk", F.row_number().over(wi))
              .withColumn("_r1", F.col("_rnk") + 1)
              .withColumn("_i1", F.col("_irnk") + 1))
    ranked = with_ilog2_milli(ranked, "_r1", "_lg")
    ranked = with_ilog2_milli(ranked, "_i1", "_ilg")
    # per-term: rel·1e9 < 2^63 needs rel <= 9e9; the k-term DCG sum
    # (each term <= rel·1e6) needs rel <= 9e12/k — bound BOTH here so
    # the named raise fires before any generic ANSI sum overflow
    # (review-caught r14: a flat 9e9 bound let k >= ~1024 overflow
    # inside the aggregate first)
    bound = min(9_000_000_000, 9_000_000_000_000 // k)
    gain = (f"CASE WHEN _rel > {bound} THEN "
            f"raise_error('ranking_metrics: gains beyond {bound} "
            f"overflow the exact e6 DCG sum at k={k} — rescale the "
            f"relevance grades or reduce k') "
            "ELSE (_rel * 1000000000) div {lg} END")
    scored = (ranked
              .withColumn("_dc", F.expr(gain.format(lg="_lg")))
              .withColumn("_ic", F.expr(gain.format(lg="_ilg"))))
    agg = (scored.groupBy("_q")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when((F.col("_rel") > 0)
                             & (F.col("_rnk") <= k), 1)
                      .otherwise(0).cast("long")).alias("hits_k"),
                F.min(F.when(F.col("_rel") > 0, F.col("_rnk")))
                .alias("_mr"),
                F.sum(F.when(F.col("_rnk") <= k, F.col("_dc"))
                      .otherwise(F.lit(0).cast("long")))
                .alias("dcg_e6"),
                F.sum(F.when(F.col("_irnk") <= k, F.col("_ic"))
                      .otherwise(F.lit(0).cast("long")))
                .alias("idcg_e6")))
    return agg.select(
        F.col("_q").alias(query_col), "n", "hits_k",
        F.expr("CASE WHEN _mr IS NULL THEN NULL "
               "ELSE 1000000 div _mr END").cast("long").alias("rr_e6"),
        "dcg_e6", "idcg_e6",
        F.expr("CASE WHEN idcg_e6 = 0 THEN NULL "
               "WHEN dcg_e6 > 9000000000000 THEN "
               "raise_error('ranking_metrics: DCG beyond 9e12 exceeds "
               "the ndcg product bound — rescale the relevance grades "
               "or reduce k') "
               "ELSE (dcg_e6 * 1000000) div idcg_e6 END").cast("long")
        .alias("ndcg_e6"))
