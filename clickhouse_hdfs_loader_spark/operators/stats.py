"""Statistical combinators ([EXT]): the ClickHouse aggregate-function
surface for exploratory statistics — ``groupArraySorted(N)``,
``argMin``/``argMax`` (made deterministic), ``mannWhitneyUTest``,
``welchTTest``/``studentTTest`` (+ the incremental six-moment state and
its streaming A/B twin), ``kolmogorovSmirnovTest``, ``theilsU``,
mutual information (the symmetric MI/NMI sibling on the same milli-log2
rollup), ``cramersV``/``contingency``, ``skewSamp``/``kurtSamp``,
``rankCorr``, Kendall's τ-b (Knight-algorithm exact pair counts),
``sumMap``/``minMap``/``maxMap``, ``exponentialMovingAverage``, and
reciprocal-rank fusion for hybrid retrieval — re-expressed as
deterministic, engine-exact DataFrame compositions (reference family:
the public ClickHouse aggregate-function docs; semantics re-derived,
not ported; the fixed-bin histogram sibling has lived in
analytics.py:histogram_fixed since r7).

House rules (the graded-oracle discipline):
- float values quantize to integer milli/micro units BEFORE any
  aggregate, so partial sums are order-free-exact and a DuckDB twin
  replays hash-identically (the kmeans quantize-then-sum trick);
- NULL/NaN/±Inf value rows are excluded up-front
  (``analytics._quantizable_col``) with ``AND isfinite(v)`` mirrored in
  every SQL twin;
- ties break on explicit ``(value, id)`` keys or cancel out
  structurally (average ranks), never on engine-specific pick order;
- the only float arithmetic (Welch's t) happens AFTER exact integer
  moments, in one written-down expression order both engines copy —
  IEEE division/sqrt are correctly rounded, so the replay is bitwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .analytics import _quantizable_col


def _zero_one_expr(col: str, op: str, label: str,
                   cast_to: str = "INT"):
    """The ONE copy of the 0/1 column validator: NULL short-circuits
    FIRST because ``NULL IN (0,1)`` is NULL and would otherwise fall
    through to the raise branch if Catalyst evaluates the projection
    before the isNotNull filter; anything else raises a named error
    (never silent truncation)."""
    return F.expr(
        f"CASE WHEN {col} IS NULL THEN NULL "
        f"WHEN {col} IN (0, 1) THEN CAST({col} AS {cast_to}) "
        f"ELSE raise_error('{op}: {label} must be 0 or 1') END")


def _sided_base(df: DataFrame, group_col: str, value_col: str,
                side_col: str, op: str,
                side_label: str = "side_col") -> DataFrame:
    """The ONE copy of the two-sample preamble (review-caught
    triplication): validate the 0/1 side column via
    :func:`_zero_one_expr` and milli-quantize the value with the
    repo-wide finite guard. ``side_label`` names the caller's OWN
    parameter in the raise (the r14 domain-specific-message rule —
    a brier_score caller must not be told about a side_col it does
    not have). Returns ``group, _vm, _s``."""
    side = _zero_one_expr(side_col, op, side_label)
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    return (df.where(_quantizable_col(value_col)
                     & F.col(side_col).isNotNull())
            .select(F.col(group_col), vm.alias("_vm"),
                    side.alias("_s")))


def group_array_sorted(df: DataFrame, group_col: str, value_col: str,
                       n: int = 10) -> DataFrame:
    """ClickHouse ``groupArraySorted(N)``: the N smallest milli-
    quantized values per group, as a sorted array. Deterministic even
    under ties: which tied ROW survives the cut is engine-specific, but
    the surviving VALUE multiset is not — so the operator emits values,
    never row ids.

    Plan: rank-filter window (Spark compiles row_number ≤ N to
    WindowGroupLimit — partial top-N inside each map task, the bm25
    idiom) then one collect per group; state bounded by N everywhere.

    Returns ``group, vals_milli`` (array<long>, ascending)."""
    if int(n) < 1:
        raise ValueError(f"group_array_sorted: n must be >= 1, got {n}")
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    w = Window.partitionBy(group_col).orderBy("_vm")
    return (df.where(_quantizable_col(value_col))
            .select(F.col(group_col), vm.alias("_vm"))
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= int(n))
            .groupBy(group_col)
            .agg(F.sort_array(F.collect_list("_vm")).alias("vals_milli")))


def arg_min_max_by_group(df: DataFrame, group_col: str, arg_col: str,
                         value_col: str, id_col: str) -> DataFrame:
    """ClickHouse ``argMin(a, v)`` / ``argMax(a, v)`` with the
    determinism ClickHouse does NOT promise on ties: the row is picked
    by ``(value, id)`` / ``(value DESC, id)`` order, so equal-value rows
    resolve identically on every engine (the asof/bounding_ratio
    row_number stance — never ``min_by``/``max_by``, whose tie pick is
    engine-arbitrary).

    One shuffle on the group key, two rank windows over the same sort.
    NULL values excluded (neither engine ranks them consistently);
    NaN/±Inf excluded when the value column is floating.

    Returns ``group, arg_at_min, arg_at_max``."""
    wa = Window.partitionBy(group_col).orderBy(
        F.col(value_col).asc(), F.col(id_col).asc())
    wd = Window.partitionBy(group_col).orderBy(
        F.col(value_col).desc(), F.col(id_col).asc())
    dtypes = dict(df.dtypes)
    cond = (F.col(value_col).isNotNull()
            if dtypes.get(value_col) not in ("float", "double")
            else _quantizable_col(value_col))
    return (df.where(cond)
            .withColumn("_ra", F.row_number().over(wa))
            .withColumn("_rd", F.row_number().over(wd))
            .groupBy(group_col)
            .agg(F.max(F.when(F.col("_ra") == 1, F.col(arg_col)))
                 .alias("arg_at_min"),
                 F.max(F.when(F.col("_rd") == 1, F.col(arg_col)))
                 .alias("arg_at_max")))


def mann_whitney_u(df: DataFrame, group_col: str, value_col: str,
                   side_col: str, _op: str = "mann_whitney_u",
                   _side_label: str = "side_col") -> DataFrame:
    """ClickHouse ``mannWhitneyUTest``'s U statistic per group, exact:
    rank-sum of the ``side = 1`` sample with AVERAGE ranks for ties,
    carried as DOUBLED integers so no fraction ever appears —
    ``2·rank(v) = 2·|{x < v}| + |{x = v}| + 1`` (the midrank identity),
    ``u2 = Σ 2·rank − n₁(n₁+1)``. Both engines compute identical
    integers; the z-score/p-value normalization is a driver-side
    formality left to the caller (it is a pure function of u2, n1, n2).

    Plan: one (group, value) count aggregate, one cumulative window per
    group ordered by value, one broadcast-sized join back — never a
    per-row rank over raw data twice. ``side_col`` must be 0/1 ints;
    other values raise loudly inside the expression (never silently
    dropped).

    Returns ``group, n1, n2, u2`` (u2 = 2·U₁, integer-exact).
    ``_op``/``_side_label`` let delegating callers (roc_auc) name
    THEIR operator and parameter in the 0/1 raise."""
    base = _sided_base(df, group_col, value_col, side_col, _op,
                       side_label=_side_label)
    # per (group, value): total ties and side-1 count
    per_v = (base.groupBy(group_col, "_vm")
             .agg(F.count(F.lit(1)).alias("_cnt"),
                  F.sum("_s").alias("_c1")))
    wcum = (Window.partitionBy(group_col).orderBy("_vm")
            .rowsBetween(Window.unboundedPreceding, -1))
    # doubled midrank of every row with value v: 2·cnt_lt + cnt_eq + 1
    ranked = per_v.withColumn(
        "_lt", F.coalesce(F.sum("_cnt").over(wcum), F.lit(0).cast("long")))
    dbl = (F.lit(2).cast("long") * F.col("_lt") + F.col("_cnt")
           + F.lit(1).cast("long"))
    return (ranked.groupBy(group_col)
            .agg(F.sum(F.col("_c1") * dbl).alias("_r2_1"),
                 F.sum("_c1").alias("n1"),
                 F.sum(F.col("_cnt") - F.col("_c1")).alias("n2"))
            .select(group_col, "n1", "n2",
                    (F.col("_r2_1") - F.col("n1") * (F.col("n1") + 1))
                    .alias("u2")))


# AUC = U₁/(n₁·n₂) = u2/(2·n₁·n₂) at exact e6 via the gini two-step
# remainder identity (num ≤ den, so exact over the full range the
# products cover). ONE copy per engine dialect (Spark `div` vs DuckDB
# `//` — the r13 timing-sketch stance); the DuckDB copy is exported
# for twins. Overflow: (u2·1000) needs u2 ≤ 9.2·10¹⁵, i.e.
# n₁·n₂ ≤ 4.6·10¹⁵ (~1.4·10⁸ balanced rows/group) — beyond that the
# ANSI product RAISES loudly (shard or sample the group), never wraps.
ROC_AUC_E6_SPARK = (
    "CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE "
    "((u2 * 1000) div (2 * n1 * n2)) * 1000 "
    "+ (((u2 * 1000) % (2 * n1 * n2)) * 1000) div (2 * n1 * n2) END")
ROC_AUC_E6_DUCK = (
    "CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE "
    "((u2 * 1000) // (2 * n1 * n2)) * 1000 "
    "+ (((u2 * 1000) % (2 * n1 * n2)) * 1000) // (2 * n1 * n2) END")


def roc_auc(df: DataFrame, group_col: str, score_col: str,
            label_col: str) -> DataFrame:
    """ROC AUC per group, EXACT — the retrieval/classifier-eval
    question "does the score rank positives above negatives?" (the
    probabilistic reading: ``AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻)``,
    ties at half credit — the standard Mann-Whitney identity
    ``AUC = U₁/(n₁·n₂)``). Rides :func:`mann_whitney_u` verbatim
    (doubled integer midranks over milli-quantized scores — one
    (group, score) aggregate + one cumulative window, never an O(n²)
    pair join), then ONE integer finish at exact e6 via the two-step
    remainder identity (`ROC_AUC_E6_SPARK`, DuckDB copy exported for
    twins). Labels must be 0/1 (the ONE shared validator raises
    loudly); single-class groups → NULL AUC, never a division trap.

    Returns ``group, n1, n2, u2, auc_e6`` (n1 = positives; all
    BIGINT)."""
    u = mann_whitney_u(df, group_col, score_col, label_col,
                       _op="roc_auc", _side_label="label_col")
    return u.select(group_col, "n1", "n2", "u2",
                    F.expr(ROC_AUC_E6_SPARK).cast("long")
                    .alias("auc_e6"))


def brier_score(df: DataFrame, group_col: str, prob_col: str,
                label_col: str) -> DataFrame:
    """Brier score per group under the repo's exact integer contract:
    probabilities milli-quantize (``pm = floor(p·1000)``), labels are
    0/1 (the ONE shared validator), and

        brier_e6 = Σ (pm − 1000·y)² div n

    — the mean squared error in milli² units IS the e6-scaled Brier,
    so no float ever appears (each d² ≤ 10⁶; the sum holds to ~9·10¹²
    rows/group). NULL/NaN/±Inf probabilities and NULL labels are
    excluded up-front (mirror in twins).

    Plan: ONE group-key aggregate with map-side combine.

    Returns ``group, n, brier_e6``."""
    base = _sided_base(df, group_col, prob_col, label_col,
                       "brier_score", side_label="label_col")
    d = F.col("_vm") - F.lit(1000).cast("long") * F.col("_s")
    return (base.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(d * d).alias("_sq"))
            .select(group_col, "n",
                    F.expr("_sq div n").alias("brier_e6")))


def events_pred_label(events: DataFrame) -> DataFrame:
    """The graded classification input over the events table: pred =
    event_id parity, label = user parity, NULL user/event_id rows out.
    One copy for the registry wrapper and the stream twin."""
    return (events.where(F.col("user_id").isNotNull()
                         & F.col("event_id").isNotNull())
            .withColumn("pred", F.pmod(F.col("event_id"), F.lit(2)))
            .withColumn("label", F.pmod(F.col("user_id"), F.lit(2))))


def clsrep_update(state: "DataFrame | None", batch: DataFrame,
                  group_col: str = "event_type",
                  pred_col: str = "pred",
                  label_col: str = "label") -> DataFrame:
    """Fold a batch into the per-group confusion-count state
    ``group, n, tp, fp, fn, tn`` — an int-sum MONOID, so per-batch
    folding ≡ one-shot for ANY partition of the rows (the
    prop_update contract). Predictions AND labels must be 0/1 (the
    ONE shared validator, named for each column); NULL group keys and
    NULL pred/label rows are excluded up-front per batch (the stream
    twin has no registry wrapper — exclusions live in the fold, the
    r14 rule). State is O(|groups|) rows."""
    p = _zero_one_expr(pred_col, "classification_report", "pred_col",
                       cast_to="BIGINT")
    y = _zero_one_expr(label_col, "classification_report", "label_col",
                       cast_to="BIGINT")
    base = (batch.where(F.col(pred_col).isNotNull()
                        & F.col(label_col).isNotNull()
                        & F.col(group_col).isNotNull())
            .select(F.col(group_col), p.alias("_p"), y.alias("_y")))
    fresh = (base.groupBy(group_col)
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.col("_p") * F.col("_y")).alias("tp"),
                  F.sum(F.col("_p") * (1 - F.col("_y"))).alias("fp"),
                  F.sum((1 - F.col("_p")) * F.col("_y")).alias("fn"),
                  F.sum((1 - F.col("_p")) * (1 - F.col("_y")))
                  .alias("tn")))
    if state is None:
        return fresh
    return (state.unionByName(fresh).groupBy(group_col)
            .agg(F.sum("n").alias("n"), F.sum("tp").alias("tp"),
                 F.sum("fp").alias("fp"), F.sum("fn").alias("fn"),
                 F.sum("tn").alias("tn")))


def clsrep_from_state(state: DataFrame,
                      group_col: str = "event_type") -> DataFrame:
    """Derive the classification metrics from the O(|groups|)
    confusion state alone — each one exact integer division, guarded
    to NULL on a zero denominator (see
    :func:`classification_report`)."""
    return state.select(
        group_col, "n", "tp", "fp", "fn", "tn",
        F.expr("CASE WHEN tp + fp = 0 THEN NULL "
               "ELSE (tp * 1000000) div (tp + fp) END")
        .alias("precision_e6"),
        F.expr("CASE WHEN tp + fn = 0 THEN NULL "
               "ELSE (tp * 1000000) div (tp + fn) END")
        .alias("recall_e6"),
        F.expr("CASE WHEN 2 * tp + fp + fn = 0 THEN NULL "
               "ELSE (2 * tp * 1000000) div (2 * tp + fp + fn) END")
        .alias("f1_e6"),
        F.expr("(tp + tn) * 1000000 div n").alias("accuracy_e6"))


def classification_report(df: DataFrame, group_col: str,
                          pred_col: str, label_col: str) -> DataFrame:
    """Binary-classification confusion counts + the exact e6 metrics
    per group: tp/fp/fn/tn, then

        precision_e6 = tp·10⁶ div (tp + fp)
        recall_e6    = tp·10⁶ div (tp + fn)
        f1_e6        = 2·tp·10⁶ div (2·tp + fp + fn)
        accuracy_e6  = (tp + tn)·10⁶ div n

    — every metric a single exact integer division (the harmonic-mean
    F1 reduces to ``2tp/(2tp+fp+fn)`` algebraically, so no float
    composition is ever needed), each guarded to NULL on a zero
    denominator. Predictions AND labels must be 0/1 (the ONE shared
    validator raises loudly); NULL group/pred/label rows are excluded
    up-front (mirror in twins).

    Implemented as :func:`clsrep_from_state` over
    :func:`clsrep_update` (the trend_update shape) — the confusion
    counts are an int-sum monoid, so the streaming twin
    (``streaming.events.stream_classification_report``) grades
    against the SAME batch oracle.

    Plan: ONE group-key aggregate with map-side combine.

    Returns ``group, n, tp, fp, fn, tn, precision_e6, recall_e6,
    f1_e6, accuracy_e6``."""
    return clsrep_from_state(
        clsrep_update(None, df, group_col, pred_col, label_col),
        group_col)


def _moments_by_side(base: DataFrame, group_col: str) -> DataFrame:
    """Per-side exact integer moments ``n, Σq, Σq²`` from a
    ``_sided_base`` frame — shared by the t-tests (order-free int64
    partials; overflow-safe past 10^9 rows at |v| < 10^3)."""
    return (base.groupBy(group_col)
            .agg(F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)
                       .cast("long")).alias("n1"),
                 F.sum(F.when(F.col("_s") == 0, 1).otherwise(0)
                       .cast("long")).alias("n2"),
                 F.sum(F.when(F.col("_s") == 1, F.col("_vm"))
                       .otherwise(F.lit(0).cast("long"))).alias("sum1"),
                 F.sum(F.when(F.col("_s") == 0, F.col("_vm"))
                       .otherwise(F.lit(0).cast("long"))).alias("sum2"),
                 F.sum(F.when(F.col("_s") == 1,
                              F.col("_vm") * F.col("_vm"))
                       .otherwise(F.lit(0).cast("long"))).alias("sumsq1"),
                 F.sum(F.when(F.col("_s") == 0,
                              F.col("_vm") * F.col("_vm"))
                       .otherwise(F.lit(0).cast("long"))).alias("sumsq2")))


def welch_ttest(df: DataFrame, group_col: str, value_col: str,
                side_col: str) -> DataFrame:
    """ClickHouse ``welchTTest`` per group from EXACT integer moments:
    each side's ``n, Σq, Σq²`` over milli-quantized values (order-free
    int64 partials — overflow-safe past 1e9 rows at |v| < 1e3), then the
    t statistic in one written-down double expression both engines copy
    verbatim — IEEE ``/`` and ``sqrt`` are correctly rounded, so from
    identical integer moments the float replays bitwise; the output is
    knife-edge-rounded (``floor(x·1e4 + 0.5)/1e4``).

    Degenerate guards are explicit CASEs (never ANSI division traps):
    a side with n < 2 or both variances zero → NULL t.

    Returns ``group, n1, n2, sum1, sum2, sumsq1, sumsq2, t_e4``."""
    agg = _moments_by_side(
        _sided_base(df, group_col, value_col, side_col, "welch_ttest"),
        group_col)
    return agg.select(group_col, "n1", "n2", "sum1", "sum2",
                      "sumsq1", "sumsq2", F.expr(WELCH_T_SQL).alias("t_e4"))


# THE Welch-t expression, shared VERBATIM by the operator (F.expr) and
# every SQL twin (embed the same string) so the float expression order
# is identical by construction:
#   m_i  = sum_i / n_i                       (double)
#   v_i  = (sumsq_i - sum_i*sum_i/n_i) / (n_i - 1)
#   t    = (m1 - m2) / sqrt(v1/n1 + v2/n2)
# Every literal is CAST — a bare 1.0/10000.0 types DECIMAL on BOTH
# engines (the r7 DuckDB and r9 Spark traps).
_V1 = ("(CAST(sumsq1 AS DOUBLE) - CAST(sum1 AS DOUBLE)"
       " * CAST(sum1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
       " / (CAST(n1 AS DOUBLE) - CAST(1 AS DOUBLE))"
       " / CAST(n1 AS DOUBLE)")
_V2 = ("(CAST(sumsq2 AS DOUBLE) - CAST(sum2 AS DOUBLE)"
       " * CAST(sum2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
       " / (CAST(n2 AS DOUBLE) - CAST(1 AS DOUBLE))"
       " / CAST(n2 AS DOUBLE)")
WELCH_T_SQL = (
    "CASE WHEN n1 < 2 OR n2 < 2 THEN NULL ELSE "
    "CASE WHEN " + _V1 + " + " + _V2 + " <= CAST(0 AS DOUBLE) "
    "THEN NULL ELSE "
    "CAST(floor("
    "(CAST(sum1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(sum2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / sqrt(" + _V1 + " + " + _V2 + ")"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END END")


def ks_test(df: DataFrame, group_col: str, value_col: str,
            side_col: str) -> DataFrame:
    """ClickHouse ``kolmogorovSmirnovTest``'s two-sample D statistic per
    group, EXACT: the ECDF sup-gap is attained at sample points, so
    ``D = max over distinct v of |cum1(v)·n2 − cum2(v)·n1| / (n1·n2)``
    — the numerator is pure int64 (overflow-safe to ~3·10^9 rows per
    group), and only the final ratio is float, in one verbatim
    knife-edge-rounded expression. The p-value (asymptotic Kolmogorov
    series) is a driver-side pure function of (d, n1, n2), left to the
    caller like mann_whitney_u's z-score.

    Plan: one (group, value) count aggregate, one cumulative window,
    one group rollup — the mann_whitney_u shape exactly.

    Returns ``group, n1, n2, d_num, d_e4`` (``d = d_num/(n1·n2)``;
    NULL d_e4 when either sample is empty)."""
    base = _sided_base(df, group_col, value_col, side_col, "ks_test")
    per_v = (base.groupBy(group_col, "_vm")
             .agg(F.sum("_s").alias("_c1"),
                  F.sum(F.lit(1) - F.col("_s")).alias("_c2")))
    wcum = (Window.partitionBy(group_col).orderBy("_vm")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy(group_col)
    stepped = (per_v
               .withColumn("_cum1", F.sum("_c1").over(wcum))
               .withColumn("_cum2", F.sum("_c2").over(wcum))
               .withColumn("n1", F.sum("_c1").over(wall))
               .withColumn("n2", F.sum("_c2").over(wall)))
    gap = F.abs(F.col("_cum1") * F.col("n2")
                - F.col("_cum2") * F.col("n1"))
    return (stepped.groupBy(group_col)
            .agg(F.max("n1").alias("n1"), F.max("n2").alias("n2"),
                 F.max(gap).alias("d_num"))
            .withColumn("d_e4", F.expr(KS_D_SQL)))


# shared verbatim by the operator and every SQL twin (the WELCH_T_SQL
# convention — identical float expression order by construction)
KS_D_SQL = (
    "CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE "
    "CAST(floor(CAST(d_num AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


def theils_u(df: DataFrame, group_col: str, x_col: str,
             y_col: str) -> DataFrame:
    """ClickHouse ``theilsU``: the uncertainty coefficient U(X|Y) =
    (H(X) − H(X|Y)) / H(X) per group — the asymmetric categorical
    association ("how much does knowing Y reduce X's entropy?") used to
    pick stratification keys and detect leaky features.

    INTEGER-EXACT end to end via the milli-log2 idiom (the graded
    entropy_by_group / bm25 contract): with per-cell counts ``n_xy``
    and marginals ``n_x, n_y, n``,

        numX    = n·lg(n) − Σ_x n_x·lg(n_x)          (= n·H(X), milli)
        numCond = Σ_y n_y·lg(n_y) − Σ_xy n_xy·lg(n_xy)  (= n·H(X|Y))
        u_milli = (numX − numCond)·1000 div numX

    — the shared ``n`` denominator cancels, so the ONLY division is the
    final one (guarded: constant X → numX = 0 → NULL). The CONTRACT is
    this exact formula with the piecewise-linear lg (±~86 milli-bits
    per log term vs IEEE; u_milli may stray marginally outside
    [0, 1000] on adversarial counts — emitted as computed, never
    silently clamped).

    Scale: one (group, x, y) count shuffle; every later aggregate rolls
    up the |distinct cells| table. NULL x or y rows are excluded
    (mirror the WHERE in twins).

    Returns ``group, n, hx_n_milli, hcond_n_milli, u_milli`` (the two
    ``·n`` entropy numerators are exposed for auditability)."""
    joined = _xy_entropy_sums(df, group_col, x_col, y_col)
    return (joined
            .withColumn("hx_n_milli",
                        F.col("n") * F.col("_lgn") - F.col("_sx"))
            .withColumn("hcond_n_milli", F.col("_sy") - F.col("_sxy"))
            .withColumn("u_milli", F.expr(
                "CASE WHEN hx_n_milli = 0 THEN NULL ELSE "
                "((hx_n_milli - hcond_n_milli) * 1000) div hx_n_milli "
                "END"))
            .select(F.col("_g").alias(group_col), "n", "hx_n_milli",
                    "hcond_n_milli", "u_milli"))


def _xy_entropy_sums(df: DataFrame, group_col: str, x_col: str,
                     y_col: str) -> DataFrame:
    """The ONE copy of the categorical-pair entropy rollup (theils_u +
    mutual_information): per group, the three milli-log2 sums the
    entropy numerators combine — ``Σ n_x·lg(n_x)``, ``Σ n_y·lg(n_y)``,
    ``Σ n_xy·lg(n_xy)`` — plus ``n`` and ``lg(n)``. One (group, x, y)
    count shuffle; every later aggregate rolls up the |distinct cells|
    table. NULL x or y rows are excluded (mirror the WHERE in twins).

    Returns ``_g, n, _sx, _sy, _sxy, _lgn``."""
    base = (df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.col(x_col).alias("_x"), F.col(y_col).alias("_y")))
    nxy = (base.groupBy("_g", "_x", "_y")
           .agg(F.count(F.lit(1)).alias("_c")))
    return _entropy_sums_from_cells(nxy)


def _entropy_sums_from_cells(nxy: DataFrame) -> DataFrame:
    """The cell-count half of :func:`_xy_entropy_sums`, split out so
    the incremental/streaming MI state (``mi_update`` carries exactly
    this ``_g, _x, _y, _c`` table) derives its report from the same
    code path as the batch operator."""
    from .retrieval import with_ilog2_milli

    cell_term = (with_ilog2_milli(nxy, "_c", "_lg")
                 .groupBy("_g")
                 .agg(F.sum(F.col("_c") * F.col("_lg")).alias("_sxy")))
    nx = (nxy.groupBy("_g", "_x").agg(F.sum("_c").alias("_c")))
    x_term = (with_ilog2_milli(nx, "_c", "_lg")
              .groupBy("_g")
              .agg(F.sum(F.col("_c") * F.col("_lg")).alias("_sx"),
                   F.sum("_c").alias("n")))
    ny = (nxy.groupBy("_g", "_y").agg(F.sum("_c").alias("_c")))
    y_term = (with_ilog2_milli(ny, "_c", "_lg")
              .groupBy("_g")
              .agg(F.sum(F.col("_c") * F.col("_lg")).alias("_sy")))
    joined = (x_term.join(y_term, "_g").join(cell_term, "_g"))
    return with_ilog2_milli(joined, "n", "_lgn")


def mutual_information(df: DataFrame, group_col: str, x_col: str,
                       y_col: str) -> DataFrame:
    """Mutual information I(X;Y) between two categorical columns per
    group — the symmetric sibling of :func:`theils_u` (public
    information-theory semantics; ClickHouse exposes the same family
    via ``entropy``/``theilsU``), the standard feature-redundancy and
    leakage screen for training-data pipelines.

    INTEGER-EXACT end to end on the shared milli-log2 rollup: with
    ``numX = n·lg(n) − Σ n_x·lg(n_x)`` (= n·H(X), milli-bits) and
    likewise numY/numXY,

        mi_n_milli  = numX + numY − numXY
                    = n·lg(n) − Σn_x·lg(n_x) − Σn_y·lg(n_y)
                      + Σn_xy·lg(n_xy)        (= n·I(X;Y), milli)
        nmi_milli   = mi_n_milli·1000 div min(numX, numY)

    The CONTRACT is this formula with the piecewise-linear lg (the
    theils_u stance): mi_n_milli may stray a few milli-units negative
    on independent data — emitted as computed, never clamped — but is
    EXACT (0 or the full marginal entropy) whenever every count is a
    power of two, which the hand cases pin. The only division is the
    guarded NMI normalization (NULL when either variable is constant).

    Scale: one (group, x, y) count shuffle; aggregates roll up the
    |distinct cells| table. NULL x or y rows excluded (mirror in
    twins).

    Returns ``group, n, hx_n_milli, hy_n_milli, mi_n_milli,
    nmi_milli``."""
    return _mi_report(_xy_entropy_sums(df, group_col, x_col, y_col),
                      group_col)


def _mi_report(joined: DataFrame, group_col: str) -> DataFrame:
    """The MI finish over the entropy-sum rollup — one copy shared by
    the batch operator and :func:`mi_from_state`."""
    return (joined
            .withColumn("hx_n_milli",
                        F.col("n") * F.col("_lgn") - F.col("_sx"))
            .withColumn("hy_n_milli",
                        F.col("n") * F.col("_lgn") - F.col("_sy"))
            .withColumn("mi_n_milli",
                        F.col("n") * F.col("_lgn") - F.col("_sx")
                        - F.col("_sy") + F.col("_sxy"))
            .withColumn("nmi_milli", F.expr(
                "CASE WHEN least(hx_n_milli, hy_n_milli) <= 0 THEN NULL "
                "ELSE (mi_n_milli * 1000)"
                " div least(hx_n_milli, hy_n_milli) END"))
            .select(F.col("_g").alias(group_col), "n", "hx_n_milli",
                    "hy_n_milli", "mi_n_milli", "nmi_milli"))


def events_xy_bins(events: DataFrame) -> DataFrame:
    """The contingency grading input over the events table: value mod-7
    bucket x user mod-5 class, NULL users and non-finite values out
    (an Inf would saturate floor().cast(long) Spark-side while DuckDB
    drops the row). One copy for the registry wrappers and the stream
    twin."""
    return (events.where(F.col("user_id").isNotNull()
                         & _quantizable_col("value"))
            .withColumn("xbin",
                        F.pmod(F.floor(F.col("value")).cast("long"),
                               F.lit(7)))
            .withColumn("ybin", F.pmod(F.col("user_id"), F.lit(5))))


def mi_update(state: "DataFrame | None", batch: DataFrame,
              group_col: str, x_col: str, y_col: str) -> DataFrame:
    """Incremental mutual-information maintenance (the entropy_update
    shape): fold one micro-batch into the ``(group, x, y, c)`` cell
    count state and return the new state. Counts are a commutative
    int-sum monoid, so folding ANY partition of the data in ANY order
    equals the one-shot computation; state is |distinct cells| rows and
    each fold shuffles the batch plus state, never history."""
    b = (batch.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
         .groupBy(group_col, x_col, y_col)
         .agg(F.count(F.lit(1)).alias("c")))
    if state is not None:
        b = (state.unionByName(b)
             .groupBy(group_col, x_col, y_col)
             .agg(F.sum("c").alias("c")))
    return b


def mi_from_state(state: DataFrame, group_col: str, x_col: str,
                  y_col: str) -> DataFrame:
    """The :func:`mutual_information` report derived purely from the
    maintained cell-count state (raw rows never rescanned) — the same
    rollup + finish code path as the batch operator, so identity with
    it is by construction."""
    nxy = state.select(F.col(group_col).alias("_g"),
                       F.col(x_col).alias("_x"),
                       F.col(y_col).alias("_y"),
                       F.col("c").alias("_c"))
    return _mi_report(_entropy_sums_from_cells(nxy), group_col)


def cramers_v(df: DataFrame, group_col: str, x_col: str,
              y_col: str) -> DataFrame:
    """ClickHouse ``cramersV``: categorical association per group from
    the mean-square contingency ``φ² = Σ_cells n_xy²/(n_x·n_y) − 1``
    (absent cells contribute exactly 0 in this form — no dense grid
    join needed), ``V = sqrt(φ² / (min(r, c) − 1))``.

    Per-cell ratios micro-quantize to int64 — ``(n_xy²·10^6) div
    (n_x·n_y)`` — so the sum is order-free-exact and twin-replayable;
    truncation makes the sum undershoot by < #cells micro-units, so the
    ``− 10^6`` subtraction is clamped at 0 explicitly (φ² ≥ 0 is a
    theorem for the true ratios). Only the final sqrt is float, in the
    shared verbatim expression. Overflow bound: per-CELL count below
    ~3·10^6 (n_xy²·10^6 < 2^63); quantize coarser for hotter cells.

    Returns ``group, n, r, c, phi2_micro, v_e4, contingency_e4`` (NULL
    v_e4 when either variable is constant — min(r,c) = 1; ClickHouse's
    ``contingency()`` coefficient rides along for free because
    χ²/(χ²+n) = φ²/(φ²+1) — the n cancels)."""
    per_g = _contingency_per_g(df, group_col, x_col, y_col)
    return (per_g.withColumn("v_e4", F.expr(CRAMERS_V_SQL))
            .withColumn("contingency_e4", F.expr(CONTINGENCY_SQL))
            .select(F.col("_g").alias(group_col), "n", "r", "c",
                    "phi2_micro", "v_e4", "contingency_e4"))


def _contingency_per_g(df: DataFrame, group_col: str, x_col: str,
                       y_col: str) -> DataFrame:
    """The shared contingency rollup (cramers_v + the bias-corrected
    variant): per group, ``_g, n, r, c, phi2_micro`` via the φ²
    identity — one (group, x, y) count shuffle, every later aggregate
    on the |distinct cells| table."""
    base = (df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.col(x_col).alias("_x"), F.col(y_col).alias("_y")))
    nxy = (base.groupBy("_g", "_x", "_y")
           .agg(F.count(F.lit(1)).alias("_c")))
    nx = nxy.groupBy("_g", "_x").agg(F.sum("_c").alias("_nx"))
    ny = nxy.groupBy("_g", "_y").agg(F.sum("_c").alias("_ny"))
    cells = (nxy.join(nx, ["_g", "_x"]).join(ny, ["_g", "_y"])
             .withColumn("_term", F.expr(
                 "(_c * _c * 1000000) div (_nx * _ny)")))
    return (cells.groupBy("_g")
            .agg(F.sum("_c").alias("n"),
                 F.countDistinct("_x").alias("r"),
                 F.countDistinct("_y").alias("c"),
                 F.greatest(
                     F.lit(0).cast("long"),
                     F.sum("_term") - F.lit(1_000_000).cast("long"))
                 .alias("phi2_micro")))


def cramers_v_bias_corrected(df: DataFrame, group_col: str, x_col: str,
                             y_col: str) -> DataFrame:
    """ClickHouse ``cramersVBiasCorrected``: the Bergsma-Wicher
    small-sample correction of Cramér's V, on the same quantized
    contingency core as :func:`cramers_v`:

        φ̃²_micro = max(0, φ²_micro − ((r−1)(c−1)·10⁶) div (n−1))
        r̃_milli  = r·1000 − ((r−1)²·1000) div (n−1)   (c̃ likewise)
        Ṽ = sqrt( (φ̃²/10⁶) / ((min(r̃, c̃)_milli − 1000)/1000) )

    — the rational corrections TRUNCATE to integer micro/milli units
    (order-free, twin-replayable; the quantized formula is the
    CONTRACT, within a milli of the real-arithmetic value). NULL Ṽ
    when n < 2 or the corrected min dimension is ≤ 1 (the correction
    can collapse a barely-2-level variable on tiny n — ClickHouse
    yields NaN there; we NULL, the repo stance).

    Returns ``group, n, r, c, phi2c_micro, rk_milli, ck_milli,
    v_e4``."""
    per_g = _contingency_per_g(df, group_col, x_col, y_col)
    derived = (per_g
               .withColumn("phi2c_micro", F.expr(
                   "CASE WHEN n < 2 THEN NULL ELSE "
                   "greatest(CAST(0 AS BIGINT), phi2_micro"
                   " - ((r - 1) * (c - 1) * 1000000) div (n - 1)) END"))
               .withColumn("rk_milli", F.expr(
                   "CASE WHEN n < 2 THEN NULL ELSE "
                   "r * 1000 - ((r - 1) * (r - 1) * 1000) div (n - 1) "
                   "END"))
               .withColumn("ck_milli", F.expr(
                   "CASE WHEN n < 2 THEN NULL ELSE "
                   "c * 1000 - ((c - 1) * (c - 1) * 1000) div (n - 1) "
                   "END")))
    return (derived.withColumn("v_e4", F.expr(CRAMERS_V_BC_SQL))
            .select(F.col("_g").alias(group_col), "n", "r", "c",
                    "phi2c_micro", "rk_milli", "ck_milli", "v_e4"))


# shared verbatim: the bias-corrected V from the integer-quantized
# correction terms (min via CASE — engine-portable)
_MIN_K = ("CAST(CASE WHEN rk_milli < ck_milli THEN rk_milli"
          " ELSE ck_milli END AS DOUBLE)")
CRAMERS_V_BC_SQL = (
    "CASE WHEN n < 2 OR phi2c_micro IS NULL"
    " OR (CASE WHEN rk_milli < ck_milli THEN rk_milli ELSE ck_milli"
    " END) <= 1000 THEN NULL ELSE "
    "CAST(floor(sqrt((CAST(phi2c_micro AS DOUBLE)"
    " / CAST(1000000 AS DOUBLE))"
    " / ((" + _MIN_K + " - CAST(1000 AS DOUBLE))"
    " / CAST(1000 AS DOUBLE)))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


# shared verbatim by the operator and every SQL twin
CRAMERS_V_SQL = (
    "CASE WHEN r < 2 OR c < 2 THEN NULL ELSE "
    "CAST(floor(sqrt(CAST(phi2_micro AS DOUBLE)"
    " / CAST(1000000 AS DOUBLE)"
    " / (CAST(CASE WHEN r < c THEN r ELSE c END AS DOUBLE)"
    " - CAST(1 AS DOUBLE)))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


def skew_kurt(df: DataFrame, group_col: str,
              value_col: str) -> DataFrame:
    """ClickHouse ``skewSamp`` / ``kurtSamp`` analogs per group, with
    the repo's engine-exact quantized CONTRACT: values deci-quantize
    (``floor(v·10)``), the center is the TRUNCATED integer deci-mean
    ``m = Σq div n``, and the centered power sums ``s2, s3, s4 =
    Σ(q−m)^k`` accumulate in 128-bit exact integers (Spark
    DECIMAL(38,0) / DuckDB HUGEINT — int64 would overflow at d⁴) —
    order-free, so map-side combines cannot change them. Only then one
    verbatim float finish:

        skew = (s3/n) / (v·sqrt(v)),  v = s2/(n−1)
        kurt = (s4/n) / v²

    (sqrt·product, never pow — IEEE pow is not correctly rounded;
    sqrt and · are). The deci-mean centering is part of the contract —
    these are moments about m, not about the exact mean; for scoring
    and anomaly gates the distinction is immaterial and the replay is
    bitwise. Overflow: |q−m|⁴·n < 10^38 — safe to |v| < 10^6 at 10^12
    rows per group.

    Two passes (mean, then centered sums) = two source scans with a
    broadcast |groups|-row join between them — the price of exact
    centering; at scale prefer persisting the quantized projection if
    the source scan is the bottleneck.

    Returns ``group, n, mean_deci, skew_e4, kurt_e4`` (NULL stats when
    n < 2 or the variance is zero)."""
    q = F.floor(F.col(value_col).cast("double") * 10).cast("long")
    base = (df.where(_quantizable_col(value_col))
            .select(F.col(group_col), q.alias("_q")))
    means = (base.groupBy(group_col)
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("_q").alias("_qs"))
             .withColumn("mean_deci", F.expr("_qs div n"))
             .drop("_qs"))
    centered = (base.join(F.broadcast(means), group_col)
                .withColumn("_d", F.col("_q") - F.col("mean_deci"))
                .withColumn("_dd", F.col("_d").cast("decimal(38,0)")))
    sums = (centered.groupBy(group_col, "n", "mean_deci")
            .agg(F.sum(F.expr("_dd * _dd")).alias("_s2"),
                 F.sum(F.expr("_dd * _dd * _dd")).alias("_s3"),
                 F.sum(F.expr("_dd * _dd * _dd * _dd")).alias("_s4")))
    return (sums.select(
        group_col, "n", "mean_deci",
        F.expr(SKEW_SQL).alias("skew_e4"),
        F.expr(KURT_SQL).alias("kurt_e4")))


# shared verbatim by the operator and every SQL twin (cast the exact
# 128-bit sums to DOUBLE first — correctly rounded from the same
# integer on both engines — then one written-down float order)
_VAR_D = ("(CAST(_s2 AS DOUBLE) / (CAST(n AS DOUBLE)"
          " - CAST(1 AS DOUBLE)))")
SKEW_SQL = (
    "CASE WHEN n < 2 OR _s2 = 0 THEN NULL ELSE "
    "CAST(floor((CAST(_s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    " / (" + _VAR_D + " * sqrt(" + _VAR_D + "))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")
KURT_SQL = (
    "CASE WHEN n < 2 OR _s2 = 0 THEN NULL ELSE "
    "CAST(floor((CAST(_s4 AS DOUBLE) / CAST(n AS DOUBLE))"
    " / (" + _VAR_D + " * " + _VAR_D + ")"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


def map_aggregate(df: DataFrame, group_col: str, keys_col: str,
                  vals_col: str, how: str = "sum") -> DataFrame:
    """ClickHouse's ``sumMap`` / ``minMap`` / ``maxMap`` combinators:
    per group, key-wise aggregation of parallel (keys, values) arrays,
    returned as key-sorted parallel arrays — the nested-metrics shape
    (per-status counters, per-code latencies) ClickHouse users lean on
    sumMap for.

    Values milli-quantize before aggregating (sum stays order-free-
    exact; min/max are order-free anyway). Ragged rows — key and value
    arrays of different lengths — RAISE (ClickHouse errors too; a
    silent zip-truncate would drop metrics), with the check inside the
    projected expression so pruning can't elide it. NULL arrays are
    excluded; NULL keys/values inside arrays are excluded pair-wise
    (neither engine aggregates a NULL key usefully).

    Plan: one explode (Generate) + one (group, key) aggregate + one
    key-sorted re-collect per group — never a per-row map merge.
    Output arrays are bounded by the distinct-key count per group.

    Returns ``group, map_keys, map_vals_milli`` (parallel, key-asc)."""
    if how not in ("sum", "min", "max"):
        raise ValueError(f"map_aggregate: how must be sum/min/max, "
                         f"got {how!r}")
    sized = F.expr(
        f"CASE WHEN size({keys_col}) = size({vals_col}) "
        f"THEN arrays_zip({keys_col}, {vals_col}) "
        f"ELSE raise_error('map_aggregate: ragged keys/values arrays') "
        f"END")
    agg = {"sum": F.sum, "min": F.min, "max": F.max}[how]
    pairs = (df.where(F.col(keys_col).isNotNull()
                      & F.col(vals_col).isNotNull())
             .select(F.col(group_col), F.explode(sized).alias("_p"))
             .select(F.col(group_col),
                     F.col(f"_p.{keys_col}").alias("_k"),
                     F.floor(F.col(f"_p.{vals_col}").cast("double")
                             * 1000).cast("long").alias("_vm"))
             .where(F.col("_k").isNotNull() & F.col("_vm").isNotNull()))
    per_key = (pairs.groupBy(group_col, "_k")
               .agg(agg("_vm").alias("_a")))
    collected = (per_key.groupBy(group_col)
                 .agg(F.sort_array(
                     F.collect_list(F.struct("_k", "_a"))).alias("_s")))
    return collected.select(
        group_col,
        F.expr("transform(_s, x -> x._k)").alias("map_keys"),
        F.expr("transform(_s, x -> x._a)").alias("map_vals_milli"))


def student_ttest(df: DataFrame, group_col: str, value_col: str,
                  side_col: str) -> DataFrame:
    """ClickHouse ``studentTTest``: the equal-variance two-sample t per
    group — same exact integer moments as :func:`welch_ttest`, pooled
    sample variance in the denominator:

        sp² = (ss1 + ss2) / (n1 + n2 − 2),  ss_i = Σq² − (Σq)²/n_i
        t   = (m1 − m2) / (sqrt(sp²) · sqrt(1/n1 + 1/n2))

    in the shared verbatim float expression. NULL t when n1 + n2 < 3,
    either side is empty, or the pooled variance is zero.

    Returns ``group, n1, n2, sum1, sum2, sumsq1, sumsq2, t_e4``."""
    agg = _moments_by_side(
        _sided_base(df, group_col, value_col, side_col,
                    "student_ttest"),
        group_col)
    return agg.select(group_col, "n1", "n2", "sum1", "sum2",
                      "sumsq1", "sumsq2",
                      F.expr(STUDENT_T_SQL).alias("t_e4"))


# pooled-variance t, shared verbatim (the WELCH_T_SQL convention)
_SS1 = ("(CAST(sumsq1 AS DOUBLE) - CAST(sum1 AS DOUBLE)"
        " * CAST(sum1 AS DOUBLE) / CAST(n1 AS DOUBLE))")
_SS2 = ("(CAST(sumsq2 AS DOUBLE) - CAST(sum2 AS DOUBLE)"
        " * CAST(sum2 AS DOUBLE) / CAST(n2 AS DOUBLE))")
_SP2 = ("((" + _SS1 + " + " + _SS2 + ")"
        " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)"
        " - CAST(2 AS DOUBLE)))")
STUDENT_T_SQL = (
    "CASE WHEN n1 < 1 OR n2 < 1 OR n1 + n2 < 3 THEN NULL ELSE "
    "CASE WHEN " + _SP2 + " <= CAST(0 AS DOUBLE) THEN NULL ELSE "
    "CAST(floor("
    "(CAST(sum1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(sum2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / (sqrt(" + _SP2 + ")"
    " * sqrt(CAST(1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " + CAST(1 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END END")


# Cohen's d rides the SAME pooled variance (_SP2) as the Student t —
# d = (m1 - m2) / s_p, scale-invariant so the milli-quantized units
# cancel; shared verbatim by the operator and every SQL twin.
COHENS_D_SQL = (
    "CASE WHEN n1 < 1 OR n2 < 1 OR n1 + n2 < 3 THEN NULL ELSE "
    "CASE WHEN " + _SP2 + " <= CAST(0 AS DOUBLE) THEN NULL ELSE "
    "CAST(floor("
    "(CAST(sum1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(sum2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / sqrt(" + _SP2 + ")"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END END")


def cohens_d(df: DataFrame, group_col: str, value_col: str,
             side_col: str) -> DataFrame:
    """Cohen's d effect size per group (the companion to
    student_ttest — "the difference is significant, but is it BIG?"):
    ``d = (m1 − m2) / s_p`` with the pooled standard deviation from the
    SAME exact integer six-moment base as the t-tests (order-free int64
    partials), one verbatim COHENS_D_SQL float finish (knife-edge-
    rounded e4; d is scale-invariant, so the milli quantization
    cancels). Degenerate guards are explicit CASEs: n1+n2 < 3 or zero
    pooled variance → NULL d.

    Plan: identical to welch_ttest — ONE group-key aggregate with
    map-side combine; O(|groups|) output.

    Returns ``group, n1, n2, sum1, sum2, sumsq1, sumsq2, d_e4``."""
    agg = _moments_by_side(
        _sided_base(df, group_col, value_col, side_col, "cohens_d"),
        group_col)
    return agg.select(group_col, "n1", "n2", "sum1", "sum2",
                      "sumsq1", "sumsq2",
                      F.expr(COHENS_D_SQL).alias("d_e4"))


def rrf_fuse(rankings: DataFrame, query_col: str = "query_id",
             doc_col: str = "doc_id", rank_col: str = "rank",
             k: int = 60, top_n: int = 10) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009 — the standard
    hybrid-retrieval merge of lexical BM25 and embedding-ANN result
    lists): per (query, doc), ``score = Σ_sources 1/(k + rank)``, then
    the top-``n`` fused docs per query.

    Integer-exact: each contribution quantizes to
    ``1 000 000 div (k + rank)`` micro-units — an int-sum monoid, so
    map-side combines are exact and a SQL twin replays hash-identically
    (1/(k+r) needs no float at all). Ties break on doc id. NULL docs
    and NULL/non-positive ranks are excluded loudly in the projection
    (a 0-or-negative rank means the caller passed scores, not ranks).

    Plan: one (query, doc) aggregate + one per-query top-n window
    (WindowGroupLimit — partial top-n inside each map task). Input is
    the UNION of per-source ranked lists ``query, doc, rank``; at scale
    each source list is already small (top-k per query), so the shuffle
    is bounded by queries × sources × k.

    Returns ``query, doc, rrf_micro, fused_rank`` (fused_rank 1-based,
    score-desc, doc-asc)."""
    if int(k) < 1 or int(top_n) < 1:
        raise ValueError(
            f"rrf_fuse: k and top_n must be >= 1, got k={k}, "
            f"top_n={top_n}")
    contrib = F.expr(
        f"CASE WHEN {rank_col} IS NULL OR {rank_col} < 1 "
        f"THEN raise_error('rrf_fuse: rank_col must be a 1-based rank') "
        f"ELSE 1000000 div (CAST({rank_col} AS BIGINT) + {int(k)}) END")
    per_doc = (rankings.where(F.col(doc_col).isNotNull())
               .select(F.col(query_col), F.col(doc_col),
                       contrib.alias("_c"))
               .groupBy(query_col, doc_col)
               .agg(F.sum("_c").alias("rrf_micro")))
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_micro").desc(), F.col(doc_col).asc())
    return (per_doc.withColumn("fused_rank", F.row_number().over(w))
            .where(F.col("fused_rank") <= int(top_n)))


def events_user_sides(events: DataFrame) -> DataFrame:
    """The graded two-sample input over the events table: side = user
    parity, NULL users out. One copy for the registry wrappers and the
    stream twin."""
    return (events.where(F.col("user_id").isNotNull())
            .withColumn("side", F.pmod(F.col("user_id"), F.lit(2))))


def ttest_update(state: "DataFrame | None", batch: DataFrame,
                 group_col: str = "event_type",
                 value_col: str = "value",
                 side_col: str = "side") -> DataFrame:
    """Fold a batch into the per-group six-moment t-test state
    (``group, n1, n2, sum1, sum2, sumsq1, sumsq2``) — an int-sum
    MONOID, so folding is order-insensitive and per-batch folding ≡
    one-shot for ANY partition of the rows (the entropy_update /
    retention_update contract; hypothesis-tested). The state is
    O(|groups|) rows; raw history is never rescanned."""
    fresh = _moments_by_side(
        _sided_base(batch, group_col, value_col, side_col,
                    "ttest_update"), group_col)
    if state is None:
        return fresh
    cols = ["n1", "n2", "sum1", "sum2", "sumsq1", "sumsq2"]
    return (state.unionByName(fresh)
            .groupBy(group_col)
            .agg(*[F.sum(c).alias(c) for c in cols]))


def ttest_from_state(state: DataFrame,
                     group_col: str = "event_type") -> DataFrame:
    """Derive BOTH t statistics from the six-moment state alone —
    ``group, n1, n2, welch_t_e4, student_t_e4`` via the shared verbatim
    expressions (continuous A/B monitoring: the report is O(|groups|)
    and recomputes from state in milliseconds)."""
    return state.select(group_col, "n1", "n2",
                        F.expr(WELCH_T_SQL).alias("welch_t_e4"),
                        F.expr(STUDENT_T_SQL).alias("student_t_e4"))


def exponential_moving_average(events: DataFrame,
                               group_col: str = "event_type",
                               ts_col: str = "ts",
                               value_col: str = "value",
                               id_col: str = "event_id",
                               half_life_s: float = 3600.0) -> DataFrame:
    """ClickHouse ``exponentialMovingAverage``-family analog for
    IRREGULAR series: per group, in (ts, id) order,

        ema_0 = v_0
        ema_i = α_i·v_i + (1 − α_i)·ema_{i−1},
        α_i   = 1 − 2^(−Δt_i / half_life)        (Δt in seconds)

    — after ``half_life`` seconds of silence an observation's influence
    has halved; for unit spacing this is the classic EMA with
    α = 1 − 2^(−1/hl). The fold is inherently SEQUENTIAL (each step
    depends on the previous), which is genuinely outside DataFrame
    algebra — the escalation ladder lands on ``applyInPandas`` per
    group: one shuffle on the series key, each series held whole (the
    LTTB bound — pre-split the group key by coarse time range for
    unbounded series; re-seeding at range heads decays exponentially).

    TIED TIMESTAMPS are an explicit semantic choice (ADVICE r10 — the
    r7 'fixture luck' hazard): rows sort by (ts, id), and a later row
    at the SAME instant has Δt = 0 → α = 0 → contributes NOTHING — the
    first row at an instant (smallest id) wins, because the EMA is a
    function of the time axis and two observations cannot both be
    "latest" at one instant. This falls out of the decay formula rather
    than being a special case; dedupe or jitter upstream if every tied
    observation must count. Pinned by a tied-ts hand case in the replay
    test.

    The float path is a same-order IEEE fold, so the independent
    pure-Python replay in the tests asserts BITWISE equality (the
    pca_whiten precedent) — no tolerance, no quantized twin. NULL ts /
    NULL/NaN/±Inf values are excluded up-front (the repo stance).

    Returns ``group, n, last_ts_us, ema`` (ema as the raw double — this
    operator is replay-pinned, not oracle-graded; round at the edge if
    a driver grade ever needs it). The output group column carries the
    INPUT column's type (derived from ``events.schema``, not hardcoded
    string — ADVICE r10)."""
    import pandas as pd

    base, g_ddl, hl = _series_fold_base(
        events, group_col, ts_col, value_col, id_col, half_life_s,
        "exponential_moving_average")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _series_sorted(pdf)
        ema = None
        prev_us = None
        for us, v in zip(pdf["_us"], pdf["_v"]):
            if ema is None:
                ema = float(v)
            else:
                # alpha from the exact microsecond gap; same-order IEEE
                # ops as the replay (2.0 ** x, never exp(log2...))
                alpha = 1.0 - 2.0 ** (-((us - prev_us) / 1e6) / hl)
                ema = alpha * float(v) + (1.0 - alpha) * ema
            prev_us = int(us)
        return pd.DataFrame({
            "_g": [pdf["_g"].iloc[0]], "n": [len(pdf)],
            "last_ts_us": [prev_us], "ema": [ema]})

    out = base.groupBy("_g").applyInPandas(
        fold, schema=f"_g {g_ddl}, n long, last_ts_us long, ema double")
    return out.withColumnRenamed("_g", group_col)


def _series_fold_base(events: DataFrame, group_col: str, ts_col: str,
                      value_col: str, id_col: str,
                      half_life_s: "float | None", op: str):
    """The ONE copy of the sequential-series-fold scaffold (the
    r13 _zero_one_expr drift class, applied to the EMA/decayed pair):
    validate the half-life loudly (``None`` skips it — for folds like
    holt_linear that have no time constant; review-caught r15), derive
    the group column's INPUT type for the applyInPandas output schema
    (ADVICE r10), and project the quantizable-value / non-NULL-ts
    series rows. Returns ``(base, group_ddl, half_life)``."""
    hl = None
    if half_life_s is not None:
        hl = float(half_life_s)
        if not hl > 0:
            raise ValueError(
                f"{op}: half_life_s must be > 0, got {half_life_s}")
    g_ddl = events.schema[group_col].dataType.simpleString()
    base = (events.where(_quantizable_col(value_col)
                         & F.col(ts_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.unix_micros(F.col(ts_col)).alias("_us"),
                    F.col(id_col).alias("_id"),
                    F.col(value_col).cast("double").alias("_v")))
    return base, g_ddl, hl


def _series_sorted(pdf):
    """The ONE copy of the per-series sort: stable mergesort on
    (ts, id) — the tie key every replay mirrors."""
    return pdf.sort_values(["_us", "_id"], kind="mergesort")


def exponential_time_decayed(events: DataFrame,
                             group_col: str = "event_type",
                             ts_col: str = "ts",
                             value_col: str = "value",
                             id_col: str = "event_id",
                             half_life_s: float = 3600.0) -> DataFrame:
    """ClickHouse ``exponentialTimeDecayedSum/Count/Max`` for
    IRREGULAR series, read at the series end (the monitoring
    question: "what is the decayed total / event rate mass / decayed
    peak RIGHT NOW?"): per group, in (ts, id) order, with
    ``decay_i = 2^(−Δt_i / half_life)``,

        dsum_i = v_i + dsum_{i−1} · decay_i
        dcnt_i = 1  + dcnt_{i−1} · decay_i
        dmax_i = max(v_i, dmax_{i−1} · decay_i)

    all three folds in ONE :func:`exponential_moving_average`-style
    ``applyInPandas`` pass (sequential by nature — outside DataFrame
    algebra; one shuffle on the series key, each series held whole,
    the EMA/LTTB bound and pre-split posture).

    TIED TIMESTAMPS: Δt = 0 → decay = 1, so every tied row
    CONTRIBUTES in full (sum/count accumulate, max compares) — the
    opposite of the EMA's first-at-instant rule, because these are
    mass aggregates of the events themselves, not estimates of a
    signal's value at an instant (both semantics documented, both
    pinned by hand cases).

    The float path is a same-order IEEE fold — the independent
    pure-Python replay asserts BITWISE equality (the EMA/pca_whiten
    stance; replay-pinned, not oracle-graded; golden-ladder candidate
    via floor(x·1e6) if a driver grade is wanted later). NULL ts and
    NULL/NaN/±Inf values are excluded up-front.

    Returns ``group, n, last_ts_us, dsum, dcnt, dmax`` (raw
    doubles)."""
    import pandas as pd

    base, g_ddl, hl = _series_fold_base(
        events, group_col, ts_col, value_col, id_col, half_life_s,
        "exponential_time_decayed")

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _series_sorted(pdf)
        dsum = dcnt = dmax = None
        prev_us = None
        for us, v in zip(pdf["_us"], pdf["_v"]):
            if dsum is None:
                dsum, dcnt, dmax = float(v), 1.0, float(v)
            else:
                # same-order IEEE ops as the replay (2.0 ** x)
                decay = 2.0 ** (-((us - prev_us) / 1e6) / hl)
                dsum = float(v) + dsum * decay
                dcnt = 1.0 + dcnt * decay
                dmax = max(float(v), dmax * decay)
            prev_us = int(us)
        return pd.DataFrame({
            "_g": [pdf["_g"].iloc[0]], "n": [len(pdf)],
            "last_ts_us": [prev_us], "dsum": [dsum], "dcnt": [dcnt],
            "dmax": [dmax]})

    out = base.groupBy("_g").applyInPandas(
        fold, schema=f"_g {g_ddl}, n long, last_ts_us long, "
                     f"dsum double, dcnt double, dmax double")
    return out.withColumnRenamed("_g", group_col)


def holt_linear(events: DataFrame, group_col: str = "event_type",
                ts_col: str = "ts", value_col: str = "value",
                id_col: str = "event_id",
                alpha_milli: int = 300,
                beta_milli: int = 100) -> DataFrame:
    """Holt's double exponential smoothing (level + trend) per group —
    the one-step-ahead forecaster beside :func:`linear_trend`'s global
    fit and :func:`exponential_moving_average`'s level-only smoother:
    in (ts, id) order over the OBSERVATION INDEX (Holt's method is
    defined on regular series; irregular gaps do not rescale the
    smoothing — documented, unlike the time-aware EMA),

        l_0 = v_0,  b_0 = 0
        l_i = α·v_i + (1−α)·(l_{i−1} + b_{i−1})
        b_i = β·(l_i − l_{i−1}) + (1−β)·b_{i−1}

    with α = alpha_milli/1000, β = beta_milli/1000 (integer params so
    both sides construct the IDENTICAL doubles). The float path is a
    same-order IEEE fold — the independent pure-Python replay asserts
    BITWISE equality, and floor(x·1e6) of the terminals is the stable
    golden summary (the EMA/ETD golden-ladder recipe; holt_summary is
    the promotion shape). ``forecast1 = l_n + b_n`` is the
    one-step-ahead point forecast. NULL ts and NULL/NaN/±Inf values
    are excluded up-front; params outside (0, 1000] / [0, 1000] raise.

    Scale: one shuffle on the series key, each series held whole
    (the EMA/LTTB applyInPandas bound — pre-split very long series
    upstream).

    Returns ``group, n, last_ts_us, level, trend, forecast1`` (raw
    doubles)."""
    import pandas as pd

    am, bm = int(alpha_milli), int(beta_milli)
    if not 0 < am <= 1000:
        raise ValueError(f"holt_linear: alpha_milli must be in "
                         f"(0, 1000], got {alpha_milli}")
    if not 0 <= bm <= 1000:
        raise ValueError(f"holt_linear: beta_milli must be in "
                         f"[0, 1000], got {beta_milli}")
    base, g_ddl, _hl = _series_fold_base(
        events, group_col, ts_col, value_col, id_col, None,
        "holt_linear")
    a, b = am / 1000.0, bm / 1000.0

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = _series_sorted(pdf)
        lvl = tr = None
        prev_us = None
        for us, v in zip(pdf["_us"], pdf["_v"]):
            if lvl is None:
                lvl, tr = float(v), 0.0
            else:
                # same-order IEEE ops as the replay
                prev = lvl
                lvl = a * float(v) + (1.0 - a) * (lvl + tr)
                tr = b * (lvl - prev) + (1.0 - b) * tr
            prev_us = int(us)
        return pd.DataFrame({
            "_g": [pdf["_g"].iloc[0]], "n": [len(pdf)],
            "last_ts_us": [prev_us], "level": [lvl], "trend": [tr],
            "forecast1": [lvl + tr]})

    out = base.groupBy("_g").applyInPandas(
        fold, schema=f"_g {g_ddl}, n long, last_ts_us long, "
                     f"level double, trend double, forecast1 double")
    return out.withColumnRenamed("_g", group_col)


# ClickHouse contingency(): sqrt(chi2/(chi2+n)) = sqrt(phi2/(phi2+1))
# — shared verbatim (defined for any non-degenerate table; NULL only on
# an empty group, which the operator never emits)
CONTINGENCY_SQL = (
    "CAST(floor(sqrt(CAST(phi2_micro AS DOUBLE)"
    " / (CAST(phi2_micro AS DOUBLE) + CAST(1000000 AS DOUBLE)))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE)")


def rank_corr(df: DataFrame, group_col: str, x_col: str,
              y_col: str) -> DataFrame:
    """ClickHouse ``rankCorr``: Spearman's ρ per group — the Pearson
    correlation of the two columns' midranks, with the tie handling the
    naive d²-formula gets wrong. Exact by the mann_whitney_u machinery:
    DOUBLED midranks (``2·|{<v}| + |{=v}| + 1``, always integer) per
    distinct value of each column join back to rows, and the five
    moment sums accumulate in 128-bit exact integers (ranks ≤ 2n, so
    Σrx·ry grows as n³ — DECIMAL(38,0)/HUGEINT keeps it exact past
    10^11 rows per group). One verbatim float finish; the doubling
    cancels in the correlation, so ρ needs no rescaling.

    Values milli-quantize first (repo stance); NULL/NaN/±Inf in EITHER
    column drop the row on both sides.

    Plan: two (group, value) count aggregates + cum windows (each on
    the |distinct values| table), two joins back, one moment aggregate.

    Returns ``group, n, rho_e4`` (NULL when n < 2 or either column is
    constant)."""
    qx = F.floor(F.col(x_col).cast("double") * 1000).cast("long")
    qy = F.floor(F.col(y_col).cast("double") * 1000).cast("long")
    base = (df.where(_quantizable_col(x_col) & _quantizable_col(y_col))
            .select(F.col(group_col).alias("_g"),
                    qx.alias("_x"), qy.alias("_y")))

    def ranks(col: str) -> DataFrame:
        per_v = (base.groupBy("_g", col)
                 .agg(F.count(F.lit(1)).alias("_cnt")))
        wcum = (Window.partitionBy("_g").orderBy(col)
                .rowsBetween(Window.unboundedPreceding, -1))
        return (per_v
                .withColumn("_lt", F.coalesce(
                    F.sum("_cnt").over(wcum), F.lit(0).cast("long")))
                .select("_g", col,
                        (F.lit(2).cast("long") * F.col("_lt")
                         + F.col("_cnt") + F.lit(1).cast("long"))
                        .alias(f"_r{col}")))

    ranked = (base.join(ranks("_x"), ["_g", "_x"])
              .join(ranks("_y"), ["_g", "_y"])
              .select("_g",
                      F.col("_r_x").cast("decimal(38,0)").alias("_rx"),
                      F.col("_r_y").cast("decimal(38,0)").alias("_ry")))
    agg = (ranked.groupBy("_g")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("_rx").alias("_sx"), F.sum("_ry").alias("_sy"),
                F.sum(F.expr("_rx * _rx")).alias("_sxx"),
                F.sum(F.expr("_ry * _ry")).alias("_syy"),
                F.sum(F.expr("_rx * _ry")).alias("_sxy")))
    return agg.select(F.col("_g").alias(group_col), "n",
                      F.expr(RANK_CORR_SQL).alias("rho_e4"))


def group_bit_aggregate(df: DataFrame, group_col: str, value_col: str,
                        how: str = "and") -> DataFrame:
    """ClickHouse ``groupBitAnd`` / ``groupBitOr`` / ``groupBitXor``:
    bitwise fold of an integer column per group — flag-mask
    intersection/union and parity checks. Both engines fold NULL-free
    int64 identically (bitwise ops are associative/commutative, so
    map-side combines are exact by construction). NULL values are
    excluded (both engines' aggregate semantics).

    Returns ``group, bits`` (int64)."""
    if how not in ("and", "or", "xor"):
        raise ValueError(
            f"group_bit_aggregate: how must be and/or/xor, got {how!r}")
    agg = {"and": F.bit_and, "or": F.bit_or, "xor": F.bit_xor}[how]
    return (df.where(F.col(value_col).isNotNull())
            .groupBy(group_col)
            .agg(agg(F.col(value_col).cast("long")).alias("bits")))


def avg_weighted(df: DataFrame, group_col: str, value_col: str,
                 weight_col: str) -> DataFrame:
    """ClickHouse ``avgWeighted(v, w)`` per group, engine-exact: values
    milli-quantize, weights must be non-negative integers (raise
    otherwise — fractional weights silently change semantics, NaN would
    cast to 0 and ±Inf would saturate-then-overflow the products), the
    two sums are int64 monoids, and only the final ratio is float in
    the shared verbatim expression (NULL when total weight is 0, never
    an ANSI division trap). NULL/NaN/±Inf values and NULL weights drop
    the row (mirror the WHERE in twins). Overflow: Σ w·|vm| < 2^63.

    Returns ``group, wsum, wvsum_milli, avg_w_e4``."""
    w = F.expr(
        f"CASE WHEN {weight_col} IS NULL THEN NULL "
        f"WHEN isnan(CAST({weight_col} AS DOUBLE)) "
        f"OR abs(CAST({weight_col} AS DOUBLE)) = double('Infinity') "
        f"OR {weight_col} < 0 "
        f"OR CAST({weight_col} AS DOUBLE) "
        f"   != floor(CAST({weight_col} AS DOUBLE)) THEN "
        f"raise_error('avg_weighted: weights must be non-negative "
        f"integers') "
        f"ELSE CAST({weight_col} AS BIGINT) END")
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    return (df.where(_quantizable_col(value_col)
                     & F.col(weight_col).isNotNull())
            .select(F.col(group_col), vm.alias("_vm"), w.alias("_w"))
            .groupBy(group_col)
            .agg(F.sum("_w").alias("wsum"),
                 F.sum(F.col("_w") * F.col("_vm")).alias("wvsum_milli"))
            .withColumn("avg_w_e4", F.expr(AVG_WEIGHTED_SQL)))


# shared verbatim: the weighted mean in value units, knife-edge rounded
# (wvsum_milli / wsum is in milli-units; ·10 + floor(+0.5) → e4)
AVG_WEIGHTED_SQL = (
    "CASE WHEN wsum = 0 THEN NULL ELSE "
    "CAST(floor(CAST(wvsum_milli AS DOUBLE) / CAST(wsum AS DOUBLE)"
    " * CAST(10 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


def pearson_corr(df: DataFrame, group_col: str, x_col: str,
                 y_col: str) -> DataFrame:
    """ClickHouse ``corr(x, y)`` per group with the repo's quantized
    CONTRACT: both columns milli-quantize to int64, the five moment
    sums accumulate in 128-bit exact integers (Σq² grows as n·10¹² —
    DECIMAL(38,0)/HUGEINT keeps any realistic n exact), then the SAME
    verbatim float finish as Spearman (:data:`RANK_CORR_SQL` — Pearson
    of midranks IS Spearman, so the expression is shared by
    construction). Rows with NULL/NaN/±Inf in either column drop.

    One aggregate, map-side combinable; O(|groups|) output.

    Returns ``group, n, corr_e4`` (NULL when n < 2 or either column is
    constant)."""
    qx = F.floor(F.col(x_col).cast("double") * 1000).cast("long")
    qy = F.floor(F.col(y_col).cast("double") * 1000).cast("long")
    base = (df.where(_quantizable_col(x_col) & _quantizable_col(y_col))
            .select(F.col(group_col).alias("_g"),
                    qx.cast("decimal(38,0)").alias("_qx"),
                    qy.cast("decimal(38,0)").alias("_qy")))
    agg = (base.groupBy("_g")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("_qx").alias("_sx"), F.sum("_qy").alias("_sy"),
                F.sum(F.expr("_qx * _qx")).alias("_sxx"),
                F.sum(F.expr("_qy * _qy")).alias("_syy"),
                F.sum(F.expr("_qx * _qy")).alias("_sxy")))
    return agg.select(F.col("_g").alias(group_col), "n",
                      F.expr(RANK_CORR_SQL).alias("corr_e4"))


def rolling_corr(df: DataFrame, group_col: str, x_col: str,
                 y_col: str, n: int = 20, ts_col: str = "ts",
                 id_col: str = "event_id") -> DataFrame:
    """Rolling Pearson correlation over a trailing ``n``-row frame per
    group in (ts, id) order — "are these two series locally moving
    together RIGHT NOW?" (the windowed companion to
    :func:`pearson_corr`; with y = lagged x it is the rolling
    autocorrelation drift monitor). Both columns milli-quantize to
    int64; the six moment sums run as WINDOW aggregates over ``ROWS
    BETWEEN n−1 PRECEDING AND CURRENT ROW``, then the SAME verbatim
    float finish (:data:`RANK_CORR_SQL` — warm-up frames with fewer
    than 2 rows or a locally-constant column are NULL through its
    existing guards, never a trap).

    Overflow is n-AWARE and NAMED (the ranking_metrics k-aware rule;
    review-caught r15 — the first draft claimed int64 safety it did
    not have): the per-frame Σq² bound needs
    ``|q| ≤ floor(sqrt(9·10¹⁸ / n))`` (≈ 6.7·10⁸ milli-units at
    n = 20, i.e. |value| ≲ 6.7·10⁵), enforced by a raise inside the
    quantize so the named error always fires before a generic ANSI
    sum overflow; window sums stay int64 (the unbounded-n DECIMAL
    escalation of pearson_corr is deliberately not paid per frame —
    rescale the values or shrink the window instead).

    NULL/NaN/±Inf in either column and NULL ordering keys (ts, id —
    the r13 moving-sum stance) drop the row up-front; mirror in twins.

    Plan: ONE shuffle on the group key; all six sums share one window
    frame over the same sort (a single Window physical node).

    Returns ``group, t_us, id, n, corr_e4`` (one row per surviving
    input row; n = actual frame row count)."""
    if int(n) < 2:
        raise ValueError(f"rolling_corr: n must be >= 2, got {n}")
    qmax = int((9.0e18 / int(n)) ** 0.5)

    def _q(col: str):
        v = f"CAST(floor(CAST({col} AS DOUBLE) * 1000) AS BIGINT)"
        return F.expr(
            f"CASE WHEN abs({v}) > {qmax} THEN raise_error("
            f"'rolling_corr: |{col}| beyond {qmax} milli-units "
            f"overflows the int64 frame moments at n={int(n)} — "
            f"rescale the values or shrink the window') "
            f"ELSE {v} END")

    base = (df.where(_quantizable_col(x_col) & _quantizable_col(y_col)
                     & F.col(ts_col).isNotNull()
                     & F.col(id_col).isNotNull())
            .select(F.col(group_col),
                    F.unix_micros(F.col(ts_col)).alias("_tus"),
                    F.col(id_col), _q(x_col).alias("_qx"),
                    _q(y_col).alias("_qy")))
    w = (Window.partitionBy(group_col).orderBy("_tus", id_col)
         .rowsBetween(-(int(n) - 1), 0))
    framed = (base
              .withColumn("n", F.count(F.lit(1)).over(w))
              .withColumn("_sx", F.sum("_qx").over(w))
              .withColumn("_sy", F.sum("_qy").over(w))
              .withColumn("_sxx", F.sum(F.col("_qx") * F.col("_qx"))
                          .over(w))
              .withColumn("_syy", F.sum(F.col("_qy") * F.col("_qy"))
                          .over(w))
              .withColumn("_sxy", F.sum(F.col("_qx") * F.col("_qy"))
                          .over(w)))
    return framed.select(group_col, F.col("_tus").alias("t_us"),
                         F.col(id_col), "n",
                         F.expr(RANK_CORR_SQL).alias("corr_e4"))


def mean_z_test(df: DataFrame, group_col: str, value_col: str,
                side_col: str, var1: float, var2: float) -> DataFrame:
    """ClickHouse ``meanZTest``: two-sample z with KNOWN population
    variances (given in squared VALUE units; converted to milli² inside
    so the moments stay integer) — the same exact six-moment machinery
    as the t-tests with a caller-supplied denominator:

        z = (m1 − m2) / sqrt(v1/n1 + v2/n2)

    in one verbatim float finish (variances interpolated as literals —
    both engines parse the same decimal string). NULL z when either
    side is empty.

    Returns ``group, n1, n2, sum1, sum2, z_e4``."""
    import math

    v1 = float(var1) * 1e6
    v2 = float(var2) * 1e6
    if not (math.isfinite(v1) and math.isfinite(v2)
            and v1 >= 0 and v2 >= 0):
        # a non-finite variance would interpolate repr(inf)/repr(nan)
        # into SQL, where bare `inf` resolves as a COLUMN reference —
        # raise a clean ValueError here instead (review-caught)
        raise ValueError(
            "mean_z_test: variances must be finite and >= 0")
    agg = _moments_by_side(
        _sided_base(df, group_col, value_col, side_col, "mean_z_test"),
        group_col)
    return agg.select(group_col, "n1", "n2", "sum1", "sum2",
                      F.expr(mean_z_sql(var1, var2)).alias("z_e4"))


def mean_z_sql(var1: float, var2: float) -> str:
    """The shared verbatim z finish for :func:`mean_z_test` — built per
    (var1, var2) with ``repr`` literals so both engines parse the
    identical decimal string (variances arrive in VALUE units and are
    scaled to milli² here)."""
    v1 = repr(float(var1) * 1e6)
    v2 = repr(float(var2) * 1e6)
    den = (f"sqrt(CAST({v1} AS DOUBLE) / CAST(n1 AS DOUBLE)"
           f" + CAST({v2} AS DOUBLE) / CAST(n2 AS DOUBLE))")
    return (
        "CASE WHEN n1 < 1 OR n2 < 1 OR " + den
        + " <= CAST(0 AS DOUBLE) THEN NULL ELSE "
        "CAST(floor("
        "(CAST(sum1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(sum2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
        " / " + den
        + " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
        " / CAST(10000 AS DOUBLE) END")


def categorical_iv(df: DataFrame, group_col: str, cat_col: str,
                   tag_col: str) -> DataFrame:
    """ClickHouse ``categoricalInformationValue``: per-category weight
    of evidence and information-value contribution for a binary tag —
    the classic feature-screening statistic (which categories separate
    the positive class?).

    INTEGER-EXACT in the repo's milli-log2 contract (base 2, not the
    natural log — a constant factor, immaterial for ranking):

        woe_milli = (lgm(g) + lgm(B)) − (lgm(b) + lgm(G))
        iv_milli  = ((g·B − b·G) · woe_milli) div (G·B)

    with per-category positives ``g``, negatives ``b`` and group
    totals ``G, B`` (128-bit exact products internally — g·B·|woe|
    overflows int64 past ~10^9-row groups). Categories with zero
    positives OR zero negatives get NULL woe/iv (the real-arithmetic
    value is ±∞; apply Laplace smoothing upstream if every category
    must score). The piecewise-linear lgm is monotone but not
    multiplicative, so near-1 odds ratios may quantize to tiny
    negative iv contributions — emitted as computed, never clamped.
    ``tag_col`` must be 0/1 (raises loudly otherwise); NULL categories
    and NULL tags drop the row (mirror in twins).

    Plan: one (group, category) count shuffle + a broadcast
    |groups|-row totals join. Returns ``group, category, pos_cnt,
    neg_cnt, woe_milli, iv_milli`` (explicit count names — a bare
    ``g``/``b`` would collide with same-named caller columns under
    Spark's case-insensitive resolution)."""
    from .retrieval import with_ilog2_milli

    base = (df.where(F.col(cat_col).isNotNull()
                     & F.col(tag_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.col(cat_col).alias("_cat"),
                    F.expr(
                        f"CASE WHEN {tag_col} IN (0, 1) "
                        f"THEN CAST({tag_col} AS LONG) "
                        f"ELSE raise_error('categorical_iv: tag_col "
                        f"must be 0 or 1') END").alias("_t")))
    # totals named _tg/_tb, NOT _G/_B: Spark resolves case-
    # INSENSITIVELY by default, so a `_G` total would collide with the
    # `_g` group key after the join (AMBIGUOUS_REFERENCE)
    per_cat = (base.groupBy("_g", "_cat")
               .agg(F.sum("_t").alias("g"),
                    F.sum(F.lit(1) - F.col("_t")).alias("b")))
    totals = (per_cat.groupBy("_g")
              .agg(F.sum("g").alias("_tg"), F.sum("b").alias("_tb")))
    j = per_cat.join(F.broadcast(totals), "_g")
    # milli-log2 of each count (only defined for >= 1: guard zeros)
    for cnt, dst in (("g", "_lg_g"), ("b", "_lg_b"),
                     ("_tg", "_lg_tg"), ("_tb", "_lg_tb")):
        j = with_ilog2_milli(
            j.withColumn("_nz", F.expr(
                f"CASE WHEN {cnt} > 0 THEN {cnt} ELSE 1 END")),
            "_nz", dst).drop("_nz")
    woe = F.expr(
        "CASE WHEN g = 0 OR b = 0 THEN NULL ELSE "
        "(_lg_g + _lg_tb) - (_lg_b + _lg_tg) END")
    j = j.withColumn("woe_milli", woe)
    iv = F.expr(
        "CASE WHEN woe_milli IS NULL THEN NULL ELSE "
        "CAST((CAST(g AS DECIMAL(38,0)) * CAST(_tb AS DECIMAL(38,0))"
        " - CAST(b AS DECIMAL(38,0)) * CAST(_tg AS DECIMAL(38,0)))"
        " * CAST(woe_milli AS DECIMAL(38,0))"
        " div (CAST(_tg AS DECIMAL(38,0)) * CAST(_tb AS DECIMAL(38,0)))"
        " AS BIGINT) END")
    return (j.withColumn("iv_milli", iv)
            .select(F.col("_g").alias(group_col),
                    F.col("_cat").alias(cat_col),
                    F.col("g").alias("pos_cnt"),
                    F.col("b").alias("neg_cnt"),
                    "woe_milli", "iv_milli"))


def anova_f(df: DataFrame, group_col: str, value_col: str,
            class_col: str) -> DataFrame:
    """ClickHouse ``analysisOfVariance`` (one-way ANOVA): the F
    statistic for the value means across the classes of ``class_col``,
    per group — the k-sample generalization of :func:`student_ttest`,
    from the same exact integer moments:

        ssb_milli = max(0, Σ_c (s_c²·1000 div n_c) − (S²·1000 div N))
        ssw_milli = (Σ_c ss_c)·1000 − Σ_c (s_c²·1000 div n_c)
        F = (ssb/(k−1)) / (ssw/(N−k))

    The per-class rational s_c²/n_c TRUNCATES to integer milli-units
    (exact 128-bit products internally — DECIMAL(38,0)/HUGEINT, since
    s_c² ~ n²·|vm|² overflows int64), so the class sum is order-free
    and both engines replay it bit-identically; the CONTRACT is this
    quantized formula (the theils_u stance), which differs from IEEE
    ANOVA by < k milli-units of SSB — immaterial for screening, exact
    for grading. SSB clamps at 0 (a theorem for the true ratios that
    truncation can violate by < k milli; SSW needs no clamp — per-class
    Cauchy-Schwarz). Any |sum| beyond 3e14 milli-units RAISES a named
    error rather than losing exactness (Spark decimal ``div`` would
    silently wrap; the bound keeps the remainder-identity quotient
    exact). Only the final F is float, knife-edge rounded. NULL F
    when k < 2, N ≤ k, or ssw = 0. NULL classes and NULL/NaN/±Inf
    values drop (mirror in twins).

    Plan: one (group, class) moment aggregate (map-side combinable),
    one |classes|-row rollup per group. Returns
    ``group, k, n, ssb_milli, ssw_milli, f_e4``."""
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    base = (df.where(_quantizable_col(value_col)
                     & F.col(class_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.col(class_col).alias("_c"), vm.alias("_vm")))
    return _anova_from_int_base(base, group_col)


# exact 128-bit floor quotient (s²·1000) / n: Spark's `div` on
# DECIMAL silently WRAPS to a garbage BIGINT even under ANSI
# (review-caught, verified on 4.1.2) — the remainder identity
# (a − a % b) / b is exact because the integral quotient fits the
# 32 integer digits DECIMAL(38,6) division keeps, GUARANTEED by
# the |s| ≤ 3e14 guard (s²·1000 ≤ 9e31 < 10³²); beyond the bound
# raise a named error instead of wrapping.
def _sq_quot(s_col: str, n_col: str, op: str = "anova_f") -> str:
    return (
        f"CASE WHEN {s_col} > 300000000000000"
        f" OR {s_col} < -300000000000000 THEN "
        f"raise_error('{op}: |sum| exceeds the exact-quotient "
        f"bound (3e14 milli-units) — coarsen the quantization or "
        f"shard the group') ELSE "
        f"CAST(((CAST({s_col} AS DECIMAL(38,0))"
        f" * CAST({s_col} AS DECIMAL(38,0)) * 1000)"
        f" - (CAST({s_col} AS DECIMAL(38,0))"
        f" * CAST({s_col} AS DECIMAL(38,0)) * 1000) % {n_col})"
        f" / {n_col} AS DECIMAL(38,0)) END")


def _anova_from_int_base(base: DataFrame, group_col: str,
                         op: str = "anova_f") -> DataFrame:
    """The one-way ANOVA moment pipeline over an ALREADY-integer
    ``(_g, _c, _vm)`` frame — :func:`anova_f`'s body, shared with
    :func:`brown_forsythe` so the deviation variant never round-trips
    its exact integers through floats."""
    per_c = (base.groupBy("_g", "_c")
             .agg(F.count(F.lit(1)).alias("_n"),
                  F.sum("_vm").alias("_s"),
                  F.sum(F.expr(
                      "CAST(_vm AS DECIMAL(38,0))"
                      " * CAST(_vm AS DECIMAL(38,0))")).alias("_ss"))
             .withColumn("_t", F.expr(_sq_quot("_s", "_n", op))))
    per_g = (per_c.groupBy("_g")
             .agg(F.countDistinct("_c").alias("k"),
                  F.sum("_n").alias("n"),
                  F.sum("_s").alias("_stot"),
                  F.sum("_ss").alias("_sstot"),
                  F.sum("_t").alias("_tsum")))
    # SSB ≥ 0 is a theorem for the true ratios; per-class truncation
    # can undershoot by up to k−1 milli-units, so clamp at 0 like
    # _contingency_per_g's phi2_micro (review-caught: near-constant
    # data yielded ssb_milli = −1 → a negative F). SSW needs no clamp
    # (per-class Cauchy-Schwarz: t_c ≤ ss_c·1000, truncation only
    # lowers t_c). The BIGINT output casts raise loudly under ANSI if
    # a pathological group overflows them.
    derived = (per_g
               .withColumn("ssb_milli", F.expr(
                   "greatest(CAST(0 AS BIGINT), CAST(_tsum - ("
                   + _sq_quot("_stot", "n", op)
                   + ") AS BIGINT))"))
               .withColumn("ssw_milli", F.expr(
                   "CAST(_sstot * 1000 - _tsum AS BIGINT)")))
    return (derived.select(F.col("_g").alias(group_col), "k", "n",
                           "ssb_milli", "ssw_milli")
            .withColumn("f_e4", F.expr(ANOVA_F_SQL)))


# shared verbatim: F = (ssb/(k−1)) / (ssw/(N−k)) from the exact
# integer milli sums (guards: k < 2, N <= k, zero within-class SS)
ANOVA_F_SQL = (
    "CASE WHEN k < 2 OR n <= k OR ssw_milli <= 0 THEN NULL ELSE "
    "CAST(floor("
    "(CAST(ssb_milli AS DOUBLE) / (CAST(k AS DOUBLE)"
    " - CAST(1 AS DOUBLE)))"
    " / (CAST(ssw_milli AS DOUBLE) / (CAST(n AS DOUBLE)"
    " - CAST(k AS DOUBLE)))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


def brown_forsythe(df: DataFrame, group_col: str, value_col: str,
                   class_col: str) -> DataFrame:
    """Brown–Forsythe variance-homogeneity test per group: are the
    SPREADS of ``value_col`` equal across the classes of
    ``class_col``? — Levene's test with the median center (the robust
    standard form): transform each row to its absolute deviation from
    the per-(group, class) median, then run one-way ANOVA on the
    deviations; a large F means the classes differ in dispersion, the
    screen that should gate :func:`student_ttest`'s pooled variance vs
    :func:`welch_ttest`.

    Exact integer pipeline end-to-end: values milli-quantize; the
    class median is the exact LOWER median (the exact_median_by_group
    element rule — deterministic under ties); ``z = |vm − med_c|`` is
    int64; and the ANOVA stage is :func:`anova_f`'s shared integer
    body VERBATIM (``_anova_from_int_base`` — z never round-trips
    through floats, where ``z/1000·1000`` could lose a milli-unit to
    binary rounding). The quantized-ANOVA contract and its SSB clamp /
    3e14 sum guard carry over unchanged.

    NULL classes and NULL/NaN/±Inf values drop (mirror in twins).

    Scale: the median folds into a whole-partition window max over the
    (group, class)-sorted rows (the mad_outliers median-join
    elimination — no median join re-plans the source), and the ANOVA
    per-class aggregate reuses the same (group, class) partitioning.

    Returns ``group, k, n, ssb_milli, ssw_milli, f_e4`` — the
    :func:`anova_f` schema, F computed on deviations."""
    from pyspark.sql import Window

    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    wcls = Window.partitionBy("_g", "_c")
    wv = Window.partitionBy("_g", "_c").orderBy("_vm")
    pos = F.floor((F.col("_n") + 1) / 2)
    base = (df.where(_quantizable_col(value_col)
                     & F.col(class_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.col(class_col).alias("_c"), vm.alias("_vm"))
            .withColumn("_rn", F.row_number().over(wv))
            .withColumn("_n", F.count(F.lit(1)).over(wcls))
            .withColumn("_med",
                        F.max(F.when(F.col("_rn") == pos,
                                     F.col("_vm"))).over(wcls))
            .select("_g", "_c",
                    F.abs(F.col("_vm") - F.col("_med")).alias("_vm")))
    return _anova_from_int_base(base, group_col,
                                op="brown_forsythe")


def autocorr_lag(events: DataFrame, group_col: str = "event_type",
                 ts_col: str = "ts", value_col: str = "value",
                 id_col: str = "event_id",
                 lags: tuple = (1,)) -> DataFrame:
    """Per-group lag-k autocorrelation of the ``(ts, id)``-ordered
    value series — the classic series diagnostic ("is this metric
    mean-reverting? seasonal at lag k?"). For each requested lag the
    statistic is the Pearson correlation of the pairs
    ``(v_t, v_{t+k})`` over consecutive positions of the QUANTIZABLE
    subsequence (NULL/NaN/±Inf rows are removed BEFORE pairing, so a
    gap closes up rather than producing a NULL pair — document the
    same subsequence rule in twins), under the repo's quantized
    contract: milli-quantized int64 values, exact 128-bit moment sums,
    and the SAME verbatim float finish as Spearman/Pearson
    (:data:`RANK_CORR_SQL`).

    All lags compute in ONE pass: one window sort per group emits every
    ``lead(k)``, a literal-array explode unpivots the (lag, partner)
    pairs, and one (group, lag) aggregate closes — never a scan or
    shuffle per lag.

    Returns ``group, lag, n, corr_e4`` (n = pair count; NULL corr when
    n < 2 or either side of the pairing is constant)."""
    from pyspark.sql import Window

    if not lags:
        raise ValueError("lags must be a non-empty tuple of positive "
                         "integer lags")
    if len(set(lags)) != len(lags):
        raise ValueError(f"lags must be distinct, got {lags!r}")
    for k in lags:
        if not (isinstance(k, int) and k > 0):
            raise ValueError(f"lags must be positive integers, "
                             f"got {k!r}")
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    w = Window.partitionBy("_g").orderBy(ts_col, id_col)
    # NULL ts AND NULL id both excluded: both are lead-ordering keys,
    # and Spark (NULLS FIRST) vs DuckDB (NULLS LAST) would pair
    # different neighbors under drift (the r9 window-key rule)
    base = (events.where(_quantizable_col(value_col)
                         & F.col(ts_col).isNotNull()
                         & F.col(id_col).isNotNull())
            .select(F.col(group_col).alias("_g"), ts_col, id_col,
                    vm.alias("_vm")))
    for k in lags:
        base = base.withColumn(f"_y{k}", F.lead("_vm", int(k)).over(w))
    pairs = (base.select(
        "_g", "_vm",
        F.explode(F.array(*[
            F.struct(F.lit(int(k)).alias("lag"),
                     F.col(f"_y{k}").alias("y")) for k in lags]))
        .alias("_p"))
        .select("_g", F.col("_p.lag").alias("lag"),
                F.col("_vm").cast("decimal(38,0)").alias("_qx"),
                F.col("_p.y").cast("decimal(38,0)").alias("_qy"))
        .where(F.col("_qy").isNotNull()))
    agg = (pairs.groupBy("_g", "lag")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("_qx").alias("_sx"), F.sum("_qy").alias("_sy"),
                F.sum(F.expr("_qx * _qx")).alias("_sxx"),
                F.sum(F.expr("_qy * _qy")).alias("_syy"),
                F.sum(F.expr("_qx * _qy")).alias("_sxy")))
    return agg.select(F.col("_g").alias(group_col),
                      F.col("lag").cast("long").alias("lag"), "n",
                      F.expr(RANK_CORR_SQL).alias("corr_e4"))


def series_period_detect(events: DataFrame,
                         group_col: str = "event_type",
                         ts_col: str = "ts", value_col: str = "value",
                         id_col: str = "event_id",
                         max_lag: int = 16) -> DataFrame:
    """Dominant-period detection per group — the deterministic analog
    of ClickHouse's ``seriesPeriodDetectFFT`` (an FFT's float
    pipeline is not engine-exact; the CONTRACT here is the
    autocorrelation criterion, which is): the detected period is the
    lag in ``1..max_lag`` with the HIGHEST :func:`autocorr_lag`
    correlation, ties broken toward the SMALLEST lag (e4 quantization
    makes ties real — the tie rule is part of the contract). Lags with
    NULL correlation (too few pairs, constant series) never win; a
    group where every lag is NULL is absent from the output.

    Scale: exactly :func:`autocorr_lag`'s one window pass + one
    (group, lag) aggregate over max_lag lags, then a |groups|·max_lag
    → |groups| rank window — no extra scan.

    Returns ``group, period, corr_e4, n`` (n = pair count at the
    winning lag)."""
    from pyspark.sql import Window

    if not (isinstance(max_lag, int) and max_lag >= 1):
        raise ValueError(f"max_lag must be a positive integer, "
                         f"got {max_lag!r}")
    ac = autocorr_lag(events, group_col, ts_col, value_col, id_col,
                      lags=tuple(range(1, max_lag + 1)))
    w = (Window.partitionBy(group_col)
         .orderBy(F.col("corr_e4").desc(), F.col("lag").asc()))
    return (ac.where(F.col("corr_e4").isNotNull())
            .withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") == 1)
            .select(group_col, F.col("lag").alias("period"),
                    "corr_e4", "n"))


# shared verbatim: the pooled two-proportion z from the exact integer
# counts — p̂ = (x1+x2)/(n1+n2), z = (p1−p2)/sqrt(p̂(1−p̂)(1/n1+1/n2));
# NULL when a side is empty or the pooled rate is degenerate (0 or 1,
# a zero denominator). Knife-edge e4 round, identical order both sides.
PROP_Z_SQL = (
    "CASE WHEN n1 < 1 OR n2 < 1 OR x1 + x2 <= 0 "
    "OR x1 + x2 >= n1 + n2 THEN NULL ELSE "
    "CAST(floor("
    "(CAST(x1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " - CAST(x2 AS DOUBLE) / CAST(n2 AS DOUBLE))"
    " / sqrt((CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (CAST(1 AS DOUBLE)"
    " - CAST(x1 + x2 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE))"
    " * (CAST(1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
    " + CAST(1 AS DOUBLE) / CAST(n2 AS DOUBLE)))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


def two_proportion_z(df: DataFrame, group_col: str, side_col: str,
                     flag_col: str) -> DataFrame:
    """Two-sample proportion z-test per group — the conversion-rate
    A/B primitive (did variant 1 convert more often than variant 0?),
    the Bernoulli sibling of :func:`welch_ttest`: pooled-variance z
    on success COUNTS rather than value moments.

    Both ``side_col`` and ``flag_col`` must be 0/1 — validated with
    the shared loud-raise posture (the ``_sided_base`` side rule,
    applied to the flag too: a silently-truncated 0.7 "conversion"
    would corrupt counts); NULL side/flag rows are excluded (mirror
    both WHEREs in twins). Sample 1 is side 1, sample 2 side 0 (the
    ``_moments_by_side`` convention). Counts are exact int64; the only
    float work is the one verbatim :data:`PROP_Z_SQL` finish — from
    identical integers both engines replay it bit-for-bit. NULL z
    when a side is empty or the pooled rate is 0 or 1.

    Scale: ONE map-side-combinable aggregate to |groups| rows.

    Returns ``group, n1, x1, n2, x2, z_e4``."""
    return prop_from_state(
        prop_update(None, df, group_col, side_col, flag_col,
                    op="two_proportion_z"),
        group_col)


def events_conversion_sides(events: DataFrame) -> DataFrame:
    """The graded conversion input over the events table: side = user
    parity, flag = event_id parity, NULL user/event_id/group rows out
    (the oracle's WHERE). One copy for the registry wrapper and the
    stream twin — a second copy once lost the NULL-group filter."""
    return (events.where(F.col("user_id").isNotNull()
                         & F.col("event_id").isNotNull()
                         & F.col("event_type").isNotNull())
            .withColumn("side", F.pmod(F.col("user_id"), F.lit(2)))
            .withColumn("flag", F.pmod(F.col("event_id"), F.lit(2))))


def prop_update(state: "DataFrame | None", batch: DataFrame,
                group_col: str = "event_type",
                side_col: str = "side",
                flag_col: str = "flag",
                op: str = "prop_update") -> DataFrame:
    """Fold a batch into the per-group four-count proportion state
    (``group, n1, x1, n2, x2``) — an int-sum MONOID, so per-batch
    folding ≡ one-shot for ANY partition of the rows (the
    ttest_update contract). State is O(|groups|) rows; raw history is
    never rescanned. Validation and NULL exclusions are
    :func:`two_proportion_z`'s, applied per batch; errors name the
    calling operator via ``op`` (the _sided_base convention)."""
    side = _zero_one_expr(side_col, op, "side_col")
    flag = _zero_one_expr(flag_col, op, "flag_col",
                          cast_to="BIGINT")
    base = (batch.where(F.col(side_col).isNotNull()
                        & F.col(flag_col).isNotNull())
            .select(F.col(group_col), side.alias("_s"),
                    flag.alias("_x")))
    fresh = (base.groupBy(group_col)
             .agg(F.sum(F.when(F.col("_s") == 1, 1).otherwise(0)
                        .cast("long")).alias("n1"),
                  F.sum(F.when(F.col("_s") == 1, F.col("_x"))
                        .otherwise(F.lit(0).cast("long"))).alias("x1"),
                  F.sum(F.when(F.col("_s") == 0, 1).otherwise(0)
                        .cast("long")).alias("n2"),
                  F.sum(F.when(F.col("_s") == 0, F.col("_x"))
                        .otherwise(F.lit(0).cast("long"))).alias("x2")))
    if state is None:
        return fresh
    cols = ["n1", "x1", "n2", "x2"]
    return (state.unionByName(fresh)
            .groupBy(group_col)
            .agg(*[F.sum(c).alias(c) for c in cols]))


def prop_from_state(state: DataFrame,
                    group_col: str = "event_type") -> DataFrame:
    """Derive the proportion z report from the four-count state alone
    — ``group, n1, x1, n2, x2, z_e4`` via the shared verbatim
    :data:`PROP_Z_SQL` (continuous conversion-rate monitoring: the
    report is O(|groups|) and recomputes from state in
    milliseconds)."""
    return state.select(group_col, "n1", "x1", "n2", "x2",
                        F.expr(PROP_Z_SQL).alias("z_e4"))


# shared verbatim: rho = (n·Σxy − Σx·Σy) /
#                        (sqrt(n·Σxx − Σx²) · sqrt(n·Σyy − Σy²))
# from the exact 128-bit rank-moment sums, cast to DOUBLE first
_RC_NUM = ("(CAST(n AS DOUBLE) * CAST(_sxy AS DOUBLE)"
           " - CAST(_sx AS DOUBLE) * CAST(_sy AS DOUBLE))")
_RC_DX = ("(CAST(n AS DOUBLE) * CAST(_sxx AS DOUBLE)"
          " - CAST(_sx AS DOUBLE) * CAST(_sx AS DOUBLE))")
_RC_DY = ("(CAST(n AS DOUBLE) * CAST(_syy AS DOUBLE)"
          " - CAST(_sy AS DOUBLE) * CAST(_sy AS DOUBLE))")
RANK_CORR_SQL = (
    "CASE WHEN n < 2 OR " + _RC_DX + " <= CAST(0 AS DOUBLE)"
    " OR " + _RC_DY + " <= CAST(0 AS DOUBLE) THEN NULL ELSE "
    "CAST(floor(" + _RC_NUM + " / (sqrt(" + _RC_DX + ")"
    " * sqrt(" + _RC_DY + "))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


def _strict_inversions(a) -> int:
    """Exact count of strict inversions (pairs i < j with a[i] > a[j])
    in an int64 numpy array — vectorized divide-and-conquer merge:
    cross-pairs count via ``searchsorted(right, left, 'left')`` (the
    number of right elements STRICTLY below each left element), so tied
    values never count. O(n log² n) with C-speed inner loops; recursion
    depth log₂(n)."""
    import numpy as np

    def rec(x):
        n = x.size
        if n < 2:
            return 0, x
        m = n // 2
        cl, left = rec(x[:m])
        cr, right = rec(x[m:])
        cross = int(np.searchsorted(right, left, side="left").sum())
        return cl + cr + cross, np.sort(np.concatenate((left, right)),
                                        kind="mergesort")

    return rec(a)[0]


def kendall_tau(df: DataFrame, group_col: str, x_col: str,
                y_col: str) -> DataFrame:
    """Kendall's τ-b per group (the ClickHouse ``rankCorr`` family's
    pair-concordance sibling; public Kendall 1945 tie-corrected form) —
    exact INTEGER pair counts, with the Knight O(n log n) algorithm on
    the Spark side and the O(n²) pair self-join as the literal oracle:

        n0 = n(n−1)/2        n1 = Σ_x t(t−1)/2   (ties in x)
        n2 = Σ_y u(u−1)/2    n3 = Σ_xy v(v−1)/2  (ties in both)
        dis = strict y-inversions after sorting rows by (x, y)
        con_minus_dis = n0 − n1 − n2 + n3 − 2·dis    (= C − D)
        τ_b = (C − D) / (√(n0−n1) · √(n0−n2))        (shared verbatim)

    The inversion identity: sorting by (x asc, y asc) makes every
    strictly-discordant pair — and ONLY those (x-ties have y ascending;
    y-ties are not strict inversions) — a strict inversion of the y
    sequence. Every count is a pure integer both engines replay; only
    the final τ is float (NULL when either column is constant).

    Both columns milli-quantize first — order-preserving always, and
    tie-EXACT on values spaced ≥ 1 milli apart; closer floats MERGE
    into manufactured ties, so the CONTRACT is τ of the QUANTIZED
    data (the repo stance — the twin mirrors the quantization;
    re-scale upstream if sub-milli resolution matters). NULL/NaN/±Inf
    in EITHER column drops the row on both sides, and NULL GROUP keys
    are excluded up-front (a NULL numeric key round-trips through
    Arrow as NaN into the long output schema — the r9 mapInPandas
    class; mirror the WHERE in twins).

    Plan: ONE applyInPandas over the group key — the whole-group
    in-memory contract (the EMA/LTTB stance: inversion counting needs
    the group's sorted sequence; per-group rows must fit one executor,
    and the documented scale alternative is sub-bucketing the group
    key upstream). The output group column carries the INPUT column's
    type (ADVICE r10).

    Returns ``group, n, n0, n1, n2, n3, dis, con_minus_dis,
    tau_b_e4``."""
    import numpy as np
    import pandas as pd

    g_ddl = df.schema[group_col].dataType.simpleString()
    qx = F.floor(F.col(x_col).cast("double") * 1000).cast("long")
    qy = F.floor(F.col(y_col).cast("double") * 1000).cast("long")
    base = (df.where(_quantizable_col(x_col) & _quantizable_col(y_col)
                     & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    qx.alias("_x"), qy.alias("_y")))

    def counts(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["_x"].to_numpy(dtype="int64")
        y = pdf["_y"].to_numpy(dtype="int64")
        n = int(x.size)
        order = np.lexsort((y, x))
        dis = _strict_inversions(y[order])

        def tie_pairs(counts_arr) -> int:
            c = counts_arr.astype("int64")
            return int((c * (c - 1) // 2).sum())

        n1 = tie_pairs(np.unique(x, return_counts=True)[1])
        n2 = tie_pairs(np.unique(y, return_counts=True)[1])
        n3 = tie_pairs(pdf.groupby(["_x", "_y"]).size().to_numpy())
        n0 = n * (n - 1) // 2
        cmd = n0 - n1 - n2 + n3 - 2 * dis
        return pd.DataFrame({
            "_g": [pdf["_g"].iloc[0]], "n": [n], "n0": [n0],
            "n1": [n1], "n2": [n2], "n3": [n3], "dis": [dis],
            "con_minus_dis": [cmd]})

    out = base.groupBy("_g").applyInPandas(
        counts, schema=(f"_g {g_ddl}, n long, n0 long, n1 long, "
                        f"n2 long, n3 long, dis long, "
                        f"con_minus_dis long"))
    return (out.withColumnRenamed("_g", group_col)
            .withColumn("tau_b_e4", F.expr(KENDALL_TAU_SQL)))


# shared verbatim: τ_b from the exact integer pair counts. sqrt(a)·
# sqrt(b), never sqrt(a·b) — the int64 product n0² overflows first.
# Negative τ rounds half-toward-+inf like every knife-edge site (the
# floor(x·1e4 + 0.5) convention is SIGN-UNIFORM, not half-away).
KENDALL_TAU_SQL = (
    "CASE WHEN n0 - n1 <= 0 OR n0 - n2 <= 0 THEN NULL ELSE "
    "CAST(floor(CAST(con_minus_dis AS DOUBLE)"
    " / (sqrt(CAST(n0 - n1 AS DOUBLE)) * sqrt(CAST(n0 - n2 AS DOUBLE)))"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


def group_array_intersect(df: DataFrame, group_col: str,
                          arr_col: str) -> DataFrame:
    """ClickHouse ``groupArrayIntersect``: per group, the elements
    present in EVERY row's array — "which event types does every user
    in this cohort share?". Emitted as scalar ``(group, elem)`` ROWS,
    never an array column (the r11 non-scalar-output tripwire); a
    group whose intersection is empty yields no rows by definition.

    ONE scan: the group's row total is a count window BEFORE the
    explode (an O(1) buffer — never a collected id set), then
    ``array_distinct`` per row (within-row multiplicity must not
    double-count) explodes so each row contributes an element AT MOST
    once — an element intersects iff its count equals the row total.
    EMPTY arrays stay in the denominator (explode drops their rows,
    but the pre-explode count already holds them, so they force an
    empty intersection — exactly ClickHouse's semantics); NULL arrays
    are EXCLUDED up-front (the repo NULL stance; mirror the WHERE in
    twins).

    Scale: one group-keyed count window + one explode + one
    (group, elem) count shuffle; output bounded by |intersection| per
    group.

    Returns ``group, elem, rows`` (rows = the group's row count, for
    auditability)."""
    wall = Window.partitionBy("_g")
    base = (df.where(F.col(arr_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.col(arr_col).alias("_arr"))
            .withColumn("rows", F.count(F.lit(1)).over(wall))
            .select("_g", "rows",
                    F.explode(F.array_distinct(F.col("_arr")))
                    .alias("elem")))
    per_elem = (base.groupBy("_g", "elem")
                .agg(F.count(F.lit(1)).alias("_c"),
                     F.max("rows").alias("rows")))
    return (per_elem.where(F.col("_c") == F.col("rows"))
            .select(F.col("_g").alias(group_col), "elem", "rows"))


def mann_kendall_trend(events: DataFrame,
                       group_col: str = "event_type",
                       ts_col: str = "ts",
                       value_col: str = "value") -> DataFrame:
    """Mann-Kendall monotone-trend test per group (Mann 1945, public
    semantics — "is this metric drifting up or down over time?"): the
    S statistic is Σ sign((v_j − v_i)·(t_j − t_i)) over pairs, which
    is EXACTLY Kendall's C − D with x = event time — so this is a thin
    composition over :func:`kendall_tau`, inheriting the Knight
    O(n log n) engine path, the O(n²) pair-join oracle shape, and
    every exclusion rule.

    Time enters at SECOND resolution (``unix_seconds·1000`` stays
    under 2^53, so the double product quantizes exactly; microseconds
    would silently lose low bits in the ·1000 double multiply —
    same-second events become ties, counted in n1, the standard
    Mann-Kendall tie treatment).

    Returns ``group, n, n0, n1, n2, n3, dis, s, tau_b_e4`` (s =
    con_minus_dis; positive = upward trend)."""
    base = events.withColumn(
        "_mk_sec", F.unix_seconds(F.col(ts_col)).cast("double"))
    out = kendall_tau(base, group_col, "_mk_sec", value_col)
    return out.withColumnRenamed("con_minus_dis", "s")


# simpleLinearRegression: exact 128-bit integer moments with x =
# ABSOLUTE epoch seconds — NOT rebased to the group min — so the five
# sums form an int-sum monoid across batches (the stream twin's
# requirement; a rebased x would change every moment when a new batch
# lowers the minimum). Sums are DECIMAL(38,0) Spark-side / HUGEINT in
# twins (the skew_kurt 128-bit precedent); the finishes cast the SAME
# exact integers to DOUBLE (correctly rounded on both engines) in one
# written-down float order, knife-edge-rounded.
_TREND_DEN = "(n * _sxx - _sx * _sx)"
TREND_SLOPE_SQL = (
    "CASE WHEN n < 2 OR " + _TREND_DEN + " = 0 THEN NULL ELSE "
    "CAST(floor("
    "CAST(n * _sxy - _sx * _sy AS DOUBLE)"
    " / CAST(" + _TREND_DEN + " AS DOUBLE)"
    " * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(1000000 AS DOUBLE) END")
TREND_ICEPT_SQL = (
    "CASE WHEN n < 2 OR " + _TREND_DEN + " = 0 THEN NULL ELSE "
    "CAST(floor("
    "CAST(_sy * _sxx - _sx * _sxy AS DOUBLE)"
    " / CAST(" + _TREND_DEN + " AS DOUBLE)"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


def trend_update(state: "DataFrame | None", batch: DataFrame,
                 group_col: str = "event_type", ts_col: str = "ts",
                 value_col: str = "value") -> DataFrame:
    """Fold a batch into the per-group linear-regression moment state
    ``group, n, _sx, _sy, _sxy, _sxx`` (n BIGINT; sums DECIMAL(38,0))
    — an int-sum MONOID, so per-batch folding ≡ one-shot for ANY
    partition of the rows (the prop_update contract). x = epoch
    SECONDS via truncating div (Spark ``div`` ≡ DuckDB ``//``, both
    toward zero — r10); y = milli-quantized value; NULL group keys,
    NULL ts, and NULL/NaN/±Inf values excluded up-front per batch
    (ADVICE r14: the stream twin filters NULL groups per micro-batch,
    so the batch/stream identity must not depend on callers
    pre-filtering). State is O(|groups|) rows; raw history is never
    rescanned."""
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    base = (batch.where(_quantizable_col(value_col)
                        & F.col(ts_col).isNotNull()
                        & F.col(group_col).isNotNull())
            .select(F.col(group_col),
                    F.expr(f"unix_micros({ts_col}) div 1000000")
                    .alias("_x"),
                    vm.alias("_y"))
            .withColumn("_xd", F.col("_x").cast("decimal(38,0)"))
            .withColumn("_yd", F.col("_y").cast("decimal(38,0)")))
    fresh = (base.groupBy(group_col)
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("_xd").alias("_sx"),
                  F.sum("_yd").alias("_sy"),
                  F.sum(F.expr("_xd * _yd")).alias("_sxy"),
                  F.sum(F.expr("_xd * _xd")).alias("_sxx")))
    if state is None:
        return fresh
    return (state.unionByName(fresh).groupBy(group_col)
            .agg(F.sum("n").alias("n"),
                 F.sum("_sx").alias("_sx"),
                 F.sum("_sy").alias("_sy"),
                 F.sum("_sxy").alias("_sxy"),
                 F.sum("_sxx").alias("_sxx")))


def trend_from_state(state: DataFrame,
                     group_col: str = "event_type") -> DataFrame:
    """Derive the regression report from the O(|groups|) moment state
    alone: slope (milli-units per second, e6) and intercept at epoch 0
    (milli-units, e4) through the verbatim TREND_*_SQL finishes
    (n < 2 or a zero denominator — a constant-x series — yields NULL,
    never an ANSI division trap). Internal DECIMAL columns never leave
    this function (the driver hash path sees BIGINT/DOUBLE only)."""
    return state.select(
        group_col, "n",
        F.expr(TREND_SLOPE_SQL).alias("slope_e6"),
        F.expr(TREND_ICEPT_SQL).alias("icept_e4"))


def linear_trend(events: DataFrame, group_col: str = "event_type",
                 ts_col: str = "ts",
                 value_col: str = "value") -> DataFrame:
    """ClickHouse ``simpleLinearRegression(x, y)`` per group over the
    event series — "how fast is this metric moving, in units per
    second?" (the magnitude companion to mann_kendall_trend's
    direction test): least-squares ``y = k·x + b`` with y the
    milli-quantized value and x the ABSOLUTE epoch second
    (translation is NOT applied — see trend_update's monoid note; the
    intercept is therefore at epoch 0, documented). All moments are
    exact 128-bit integers; the two float finishes are verbatim-shared
    with every twin. Overflow: the intercept product Σy·Σxx is the
    tightest term — at current-epoch x and |v| < 100 it stays inside
    DECIMAL(38) to ~5·10^7 rows per group, beyond which the ANSI
    decimal RAISES (loud, never silent; shard or time-slice the group
    if hit).

    Plan: ONE group-key aggregate with map-side combine (the
    welch_ttest shape); O(|groups|) output rows.

    Returns ``group, n, slope_e6, icept_e4``."""
    return trend_from_state(
        trend_update(None, events, group_col, ts_col, value_col),
        group_col)
