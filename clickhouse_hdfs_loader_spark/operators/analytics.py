"""Event-analytics operators ([EXT]): ordered funnels and cohort
retention — the two canonical product-analytics workloads over an event
stream (ClickHouse ships them as ``windowFunnel``/``retention``
combinators; here they are plain DataFrame compositions). Outputs are
pure integer counts, so the DuckDB oracles in the tests compare
hash-exactly with no float rounding anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

def _finite_col(colname: str, dtype: str):
    """NULL-and-NaN exclusion predicate for value columns that feed a
    Python-keyed mapInPandas pass (review-caught): NaN != NaN, so
    CPython id-hashes each NaN (3.10+) and every arriving NaN becomes
    its OWN dict/set key — silently exhausting Misra-Gries capacity /
    uniq_up_to caps; and a NaN emitted back through an Arrow object
    column conflates with the NULL sentinel (both arrive as null), so
    NaN cannot be carried as a candidate either. Excluding NaN rows
    up-front (float types only — isnan does not apply elsewhere) is the
    one consistent stance; mirror ``AND NOT isnan(v)`` in any SQL twin
    over a float column."""
    cond = F.col(colname).isNotNull()
    if dtype in ("float", "double"):
        cond = cond & ~F.isnan(F.col(colname))
    return cond


def _quantizable_col(colname: str):
    """NULL/NaN/±Inf exclusion for float value columns that feed a
    floor-milli quantize (``floor(v·1000) → BIGINT``). Under Spark 4
    ANSI, ``floor(NaN·1000)`` silently yields 0 and ±Inf SATURATES the
    long cast to ±2^63−1 — while the DuckDB twin raises on the same
    BIGINT cast, so one drifted non-finite value either reds the graded
    query or silently poisons the sums. Mirror ``AND isfinite(v)`` in
    the SQL twin (DuckDB's isfinite is false for NaN and ±Inf)."""
    c = F.col(colname)
    return (c.isNotNull() & ~F.isnan(c.cast("double"))
            & (F.abs(c.cast("double")) != F.lit(float("inf"))))


def _integral_weight_expr(op: str, weight_col: str,
                          allow_negative: bool = False,
                          noun: str = "weight",
                          neg_reason: str = ("breaks the Misra-Gries "
                                             "accounting")):
    """The ONE copy of the integral-weight validator (review-caught
    triplication risk). NULL weights pass through as NULL so they reach
    the caller's documented isNotNull exclusion; NaN weights route to a
    descriptive raise BEFORE the integrality check (NaN = NaN is TRUE
    under Spark's total ordering and floor(NaN) is NaN, so NaN would
    otherwise pass integrality and explode in the ANSI CAST);
    fractional weights raise; negative weights raise unless
    ``allow_negative`` (callers that instead drop them with a ``> 0``
    filter). The guard lives INSIDE the weight expression so column
    pruning can never optimize it away. Non-weight callers (e.g.
    relevance gains) pass ``noun``/``neg_reason`` so the named error
    describes THEIR domain, not heavy-hitter internals
    (review-caught r14)."""
    neg = ("" if allow_negative else
           f"WHEN CAST({weight_col} AS DOUBLE) < 0.0 "
           f"THEN raise_error('{op}: negative {noun} {neg_reason}; "
           f"{noun}s must be non-negative "
           f"integral counts') ")
    return F.expr(
        f"CASE WHEN {weight_col} IS NULL THEN NULL "
        f"WHEN isnan(CAST({weight_col} AS DOUBLE)) "
        f"THEN raise_error('{op}: NaN {noun}; {noun}s "
        f"must be integral counts') "
        + neg +
        f"WHEN CAST({weight_col} AS DOUBLE) "
        f"= floor(CAST({weight_col} AS DOUBLE)) "
        f"THEN CAST({weight_col} AS BIGINT) "
        f"ELSE raise_error('{op}: {noun}s "
        f"must be integral counts; scale fractional {noun}s to integers "
        f"first') END")


def funnel(events: DataFrame, steps: list[str],
           user_col: str = "user_id", ts_col: str = "ts",
           type_col: str = "event_type",
           within_hours: int | None = None) -> DataFrame:
    """Strictly-ordered funnel: a user reaches step i+1 iff they have an
    event of that type STRICTLY AFTER their earliest completion of step
    i (earliest-completion semantics — the standard greedy funnel, and
    the deterministic choice: min timestamps are order-free).
    ``within_hours`` adds the ClickHouse ``windowFunnel(N)`` conversion
    window: every later step must also fall within N hours of the
    user's step-0 time.

    Returns one row per step: ``step_idx, step, users`` (users reaching
    that step). Scale (r15 rework): ONE pass over the step-typed events
    — the whole chain rides per-user window minima over a single
    user-keyed exchange, then one global count + literal-struct explode
    emits the K step rows (the previous shape unioned K per-step
    aggregates, re-planning the events scan and paying a join per
    step — 6 scans at K=3 measured in the static plan)."""
    return funnel_counts(_chain_frame(events, steps, user_col, ts_col,
                                      type_col, within_hours), steps)


def _chain_frame(events: DataFrame, steps: list[str], user_col: str,
                 ts_col: str, type_col: str,
                 within_hours: "int | None") -> DataFrame:
    """The ONE copy of the greedy earliest-completion chain semantics
    (strict '>' ordering, t0-anchored conversion window), shared by
    :func:`funnel`, :func:`sequence_match`, :func:`funnel_update` and
    :func:`sequence_next_node`: one row per user having ≥1 step-typed
    event, columns ``user_col, t_0 … t_{k-1}`` — the earliest completion
    time per step, NULL beyond the user's progress.

    Computed in ONE pass: step-typed events → per-user whole-partition
    window minima, each step's condition referencing the previous step's
    column (K dependent Window nodes over the SAME user partitioning —
    one exchange by the subsumption rule), then a per-user aggregate
    that adds no exchange either. The steps ≥ 1 conditions require a
    non-NULL user, mirroring the join-based chain the graded oracles pin
    (SQL ``JOIN USING (user_id)`` never matches NULL, so NULL users
    survive step 0 only)."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col)
    frame = (events.where(F.col(type_col).isin(list(steps)))
             .select(user_col, ts_col, type_col))
    frame = frame.withColumn(
        "t_0", F.min(F.when(F.col(type_col) == steps[0],
                            F.col(ts_col))).over(w))
    for i, s in enumerate(steps[1:], start=1):
        cond = ((F.col(type_col) == s)
                & (F.col(ts_col) > F.col(f"t_{i - 1}"))
                & F.col(user_col).isNotNull())
        if within_hours is not None:
            cond = cond & (
                F.col(ts_col) <= F.col("t_0")
                + F.expr(f"INTERVAL {int(within_hours)} HOURS"))
        frame = frame.withColumn(
            f"t_{i}", F.min(F.when(cond, F.col(ts_col))).over(w))
    return (frame.groupBy(user_col)
            .agg(*[F.min(f"t_{i}").alias(f"t_{i}")
                   for i in range(len(steps))]))


def retention_cohorts(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts",
                      max_offset: int = 8) -> DataFrame:
    """Weekly cohort retention: users are cohorted by the week of their
    FIRST event; for each (cohort, week offset) count how many cohort
    members were active that week. Offset 0 is the cohort size itself.

    Scale: one per-user min aggregate, one distinct (user, week)
    aggregate, one join keyed on user, one count aggregate — shuffle
    rows bounded by |users| + |user-weeks|, never raw events past the
    first aggregates."""
    first = (events.groupBy(user_col)
             .agg(F.date_trunc("week", F.min(ts_col)).alias("cohort")))
    active = (events.select(user_col,
                            F.date_trunc("week", F.col(ts_col)).alias("wk"))
              .distinct())
    return _retention_counts(first, active, user_col, max_offset)


def _retention_counts(first: DataFrame, active: DataFrame, user_col: str,
                      max_offset: int) -> DataFrame:
    """The shared report tail of :func:`retention_cohorts` and
    :func:`retention_update`: join per-user cohorts to distinct active
    weeks, bucket by offset, count."""
    return (active.join(first, user_col)
            .withColumn("offset",
                        (F.datediff(F.col("wk"), F.col("cohort")) / 7)
                        .cast("int"))
            .where((F.col("offset") >= 0) & (F.col("offset") <= max_offset))
            .groupBy(F.unix_timestamp("cohort").alias("cohort_epoch"),
                     "offset")
            .agg(F.count(F.lit(1)).alias("active_users")))


def retention_update(state_first: "DataFrame | None",
                     state_active: "DataFrame | None", batch: DataFrame,
                     user_col: str = "user_id", ts_col: str = "ts"):
    """Incremental retention maintenance: fold one micro-batch into the
    ``(first_ts per user, distinct (user, week))`` state pair and return
    the new pair. Both states are commutative monoids — per-user MIN and
    set UNION — so per-batch folding equals the one-shot computation for
    ANY batch partition, in ANY order (strictly stronger than the
    in-order contract funnel/transitions need; hypothesis-tested over
    random partitions). State is |users| + |user-weeks| rows; each fold
    shuffles the batch plus that, never history."""
    b_first = batch.groupBy(user_col).agg(F.min(ts_col).alias("first_ts"))
    if state_first is not None:
        b_first = (state_first.unionByName(b_first)
                   .groupBy(user_col)
                   .agg(F.min("first_ts").alias("first_ts")))
    b_active = (batch.select(user_col,
                             F.date_trunc("week", F.col(ts_col))
                             .alias("wk")))
    if state_active is not None:
        b_active = state_active.unionByName(b_active)
    return b_first, b_active.distinct()


def retention_from_state(state_first: DataFrame, state_active: DataFrame,
                         user_col: str = "user_id",
                         max_offset: int = 8) -> DataFrame:
    """The :func:`retention_cohorts` report derived purely from
    maintained state (raw events never touched): week-truncate the
    carried per-user minimum (truncation commutes with min) and run the
    shared report tail."""
    first = state_first.select(
        user_col, F.date_trunc("week", F.col("first_ts")).alias("cohort"))
    return _retention_counts(first, state_active, user_col, max_offset)


def histogram_fixed(df: DataFrame, value_col: str = "value",
                    width: float = 50.0) -> DataFrame:
    """Equi-width histogram: bucket = floor(value / width), count per
    bucket — the exact building block under every profiler bar chart
    (ClickHouse's ``histogram()`` combinator uses adaptive bins; fixed
    bins are the deterministic, merge-friendly choice — two histograms
    over disjoint data add bucket-wise, so partial aggregation and
    cross-day rollups are exact). NULLs are excluded explicitly (both
    engines would otherwise differ on NULL bucket placement). One
    map-side-combined aggregate; output rows = distinct buckets."""
    bucket = F.floor(F.col(value_col) / F.lit(float(width))).cast("long")
    # NaN/±Inf excluded like every floor-quantize path (ADVICE r9
    # class): ANSI would silently bucket NaN at 0 and saturate Inf
    # while the DuckDB twin raises on the BIGINT cast
    return (df.where(_quantizable_col(value_col))
            .groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select("bucket",
                    F.round(F.col("bucket") * F.lit(float(width)), 2)
                    .alias("bucket_lo"), "cnt"))


def exact_median_by_group(df: DataFrame, group_col: str, value_col: str,
                          alias: str = "median_lo") -> DataFrame:
    """Exact per-group LOWER median: the value at sorted position
    ⌈n/2⌉. Deterministic and engine-exact by construction — unlike the
    interpolating percentile_cont/percentile(0.5), whose even-n
    midpoint arithmetic differs across engines in the last ulp, the
    lower median is an ELEMENT of the data, so any engine that can sort
    agrees bit-for-bit (the same reasoning as the approx-quantile
    CONTRACT grading, but for the exact operator).

    Plan: one shuffle on the group key, one window (rank + count over
    the same sort), one filter. Group cardinality bounds parallelism;
    per-group size bounds partition memory — at 100 TB shard hot groups
    first if any single group outgrows an executor."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_col)
    wall = Window.partitionBy(group_col)
    return (df.select(group_col, value_col)
            .where(F.col(value_col).isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wall))
            .where(F.col("_rn") == F.floor((F.col("_n") + 1) / 2))
            .select(group_col, F.col(value_col).alias(alias)))


def heavy_hitters(df: DataFrame, col: str, k: int = 10,
                  capacity: int = 256) -> DataFrame:
    """Exact top-k frequent values WITHOUT a full-key shuffle — the
    two-pass Misra-Gries pattern (ClickHouse's ``topK`` combinator, but
    with an exactness certificate instead of an approximation):

    1. Each partition summarizes its rows into ≤ ``capacity``
       Misra-Gries candidates (Arrow-batched; classic guarantee: any
       value with global count > N/capacity survives in at least one
       partition summary).
    2. Only candidate values are exactly recounted (broadcast semi-join
       + aggregate over the candidate subset), then top-k with a
       (count desc, value asc) deterministic tie-break.

    The output carries the certificate: if NO partition ever evicted a
    candidate, every distinct value is a candidate and the result is
    trivially exact; otherwise the k-th recounted count must exceed
    N/capacity (then no non-candidate can outrank it — any value absent
    from all summaries has global count ≤ N/capacity). When neither
    holds the operator RAISES (loud, like quota_sample's margin check)
    — raise ``capacity`` rather than ship a silently approximate
    answer. NULL values are excluded; NaN values too when the column is
    float-typed (see ``_finite_col`` — NaN neither keys a Python dict
    correctly nor survives the Arrow object-column boundary).
    At 100 TB the first pass moves ≤ partitions × capacity rows
    instead of |distinct keys| (size capacity so partitions × capacity
    stays broadcast-sized — the candidate set is the pass-2 build
    side). The summary is persisted so the MG pass over the data runs
    exactly ONCE across its two consumers (flag aggregate + candidate
    distinct); driver-side state is the top-k rows and two scalars —
    documented tiny collects."""
    import pandas as pd

    def summarize(batches):
        counts: dict = {}
        evicted = False
        n = 0
        for pdf in batches:
            for v in pdf[col]:
                if v is None:
                    continue
                n += 1
                if v in counts:
                    counts[v] += 1
                elif len(counts) < capacity:
                    counts[v] = 1
                else:
                    evicted = True
                    dead = [u for u in counts if counts[u] == 1]
                    for u in dead:
                        del counts[u]
                    for u in counts:
                        counts[u] -= 1
        # the NULL sentinel row carries the eviction flag and the
        # partition's row count even when the summary dict ends empty
        # (flat data can churn out every entry); object dtype keeps int
        # keys int (float64+NaN would not)
        yield pd.DataFrame({col: pd.Series(list(counts) + [None],
                                           dtype="object"),
                            "_evicted": [evicted] * (len(counts) + 1),
                            "_n": [0] * len(counts) + [n]})

    dtype = dict(df.select(col).dtypes)[col]
    src = df.select(col).where(_finite_col(col, dtype))
    spark = df.sparkSession
    # persist: the expensive MG pass over the data materializes once;
    # the flag/total aggregate and the candidate distinct both read the
    # (tiny: <= partitions x (capacity+1) rows) cached summary. N rides
    # the sentinel row counts, so no separate src.count() scan either.
    summ = (src.mapInPandas(
        summarize, schema=f"{col} {dtype}, _evicted boolean, _n long")
        .persist())
    try:
        flag, total = summ.agg(F.max("_evicted"),
                               F.sum("_n")).first()
        evicted_any, total = bool(flag), int(total or 0)
        cands = (summ.where(F.col(col).isNotNull())
                 .select(col).distinct())
        counted = (src.join(F.broadcast(cands), col)
                   .groupBy(col).agg(F.count(F.lit(1)).alias("cnt")))
        top = (counted.orderBy(F.col("cnt").desc(), col).limit(k)
               .collect())
    finally:
        summ.unpersist()
    if evicted_any and (len(top) < k
                        or top[-1]["cnt"] * capacity <= total):
        kth = top[-1]["cnt"] if top else 0
        raise ValueError(
            f"heavy_hitters certificate failed: kth count {kth} <= "
            f"N/capacity = {total}/{capacity} with evictions observed — "
            f"a non-candidate could outrank it; raise capacity")
    return spark.createDataFrame(
        [(r[col], r["cnt"], i + 1) for i, r in enumerate(top)],
        schema=f"value {dtype}, cnt long, rank int")


def event_transitions(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      id_col: str = "event_id") -> DataFrame:
    """First-order Markov transition counts over per-user event streams
    (ClickHouse expresses this with ``neighbor``/window chains; product
    analytics calls it the "next-event" or path matrix). Per user,
    events are ordered by (ts, id) — the explicit id tie-break keeps
    equal-timestamp neighbors deterministic and SQL-replayable — and
    each adjacent pair contributes one (from_type, to_type) observation.

    Returns ``from_type, to_type, n, p_milli`` where ``p_milli`` is the
    row-normalized transition probability in integer milli-units
    (``(n*1000) div Σn over from_type`` — pure integer arithmetic, no
    float anywhere, so the DuckDB oracle replays hash-exactly).

    Scale: ONE shuffle on the user key; the lead() window runs inside
    each user partition; the pair aggregate is map-side combinable and
    its output is bounded by |event_type|^2, not event volume. The
    normalizing total rides a tiny second aggregate over that bounded
    matrix, never the raw events."""
    return normalize_transitions(
        transition_counts(events, user_col, ts_col, type_col, id_col))


def transition_counts(events: DataFrame, user_col: str = "user_id",
                      ts_col: str = "ts", type_col: str = "event_type",
                      id_col: str = "event_id") -> DataFrame:
    """The un-normalized (from_type, to_type, n) transition counts —
    the MERGEABLE state (plain int64 sums) behind
    :func:`event_transitions` and :func:`transitions_update`."""
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(ts_col, id_col)
    pairs = (events
             # NULL-ts rows out: engines disagree on NULL window
             # ordering (Spark NULLS FIRST, DuckDB NULLS LAST) — the
             # adjacency chain must not depend on it (mirror the WHERE)
             .where(F.col(ts_col).isNotNull())
             .select(user_col, ts_col, id_col,
                     F.col(type_col).alias("from_type"))
             .withColumn("to_type", F.lead("from_type").over(w))
             .where(F.col("to_type").isNotNull()))
    return (pairs.groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n")))


def normalize_transitions(counts: DataFrame) -> DataFrame:
    """Row-normalize a transition-count table to integer milli
    probabilities (the tiny |types|^2-bounded aggregate — see
    :func:`event_transitions`)."""
    from pyspark.sql import Window

    wtot = Window.partitionBy("from_type")
    return (counts
            .withColumn("_tot", F.sum("n").over(wtot))
            .select("from_type", "to_type", "n",
                    F.expr("(n * 1000) div _tot").alias("p_milli")))


def transitions_update(state_counts: "DataFrame | None",
                       state_last: "DataFrame | None",
                       batch: DataFrame, user_col: str = "user_id",
                       ts_col: str = "ts", type_col: str = "event_type",
                       id_col: str = "event_id"):
    """Incremental transition-matrix maintenance: fold one micro-batch
    into ``(counts, last_event)`` state and return the new pair — the
    continuous-ingest twin of :func:`transition_counts`.

    The boundary pair (a user's last event of the previous batches →
    first event of this batch) is recovered by unioning the carried
    one-row-per-user ``last_event`` table into the batch before the
    lead() window, so folding ANY in-order batch split reproduces the
    one-shot counts exactly (the cdc_apply/merge_upsert
    incremental-equals-one-shot contract; hypothesis-tested over the
    split space). In-order means per-user (ts, id) never goes backwards
    across batches — true of an ordered commit log or a key-partitioned
    Kafka topic.

    Scale: state is |users| rows (last) + |types|^2 rows (counts); each
    update shuffles only the batch plus those — never history. Pass
    ``None`` state to bootstrap."""
    cols = [user_col, ts_col, id_col, type_col]
    ext = batch.select(*cols)
    if state_last is not None:
        ext = state_last.select(*cols).unionByName(ext)
    new_pairs = transition_counts(ext, user_col, ts_col, type_col, id_col)
    new_counts = new_pairs if state_counts is None else (
        state_counts.unionByName(new_pairs)
        .groupBy("from_type", "to_type").agg(F.sum("n").alias("n")))
    # struct max orders by (ts, id) — unique per user by contract — with
    # the type riding along
    m = F.max(F.struct(F.col(ts_col).alias("t"), F.col(id_col).alias("i"),
                       F.col(type_col).alias("y"))).alias("m")
    new_last = (ext.groupBy(user_col).agg(m)
                .select(user_col, F.col("m.t").alias(ts_col),
                        F.col("m.i").alias(id_col),
                        F.col("m.y").alias(type_col)))
    return new_counts, new_last


def exact_quantiles_by_group(df: DataFrame, group_col: str,
                             value_col: str,
                             qs_milli: "tuple[int, ...]" = (250, 500, 750),
                             ) -> DataFrame:
    """Exact per-group LOWER quantiles at milli-fractions ``qs_milli``
    (500 reproduces :func:`exact_median_by_group`): the value at sorted
    position ``max(1, ceil(n*q/1000))``. Like the lower median, each
    output is an ELEMENT of the data — no midpoint interpolation — so
    any engine that can sort agrees bit-for-bit, ties in the value
    column notwithstanding (the value at a rank is well-defined even
    when row_number's choice among equal values isn't).

    Plan: the same one-shuffle window pair as the median, then a
    |qs|-way literal explode + filter (Generate streams; no second
    shuffle). Returns ``group, q_milli, q_value``."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(value_col)
    wall = Window.partitionBy(group_col)
    qarr = F.array(*[F.lit(int(q)) for q in qs_milli])
    return (df.select(group_col, value_col)
            .where(F.col(value_col).isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("_n", F.count(F.lit(1)).over(wall))
            .withColumn("q_milli", F.explode(qarr))
            .where(F.col("_rn") == F.greatest(
                F.lit(1), F.expr("(_n * q_milli + 999) div 1000")))
            .select(group_col, "q_milli",
                    F.col(value_col).alias("q_value")))


def sequence_match(events: DataFrame, steps: list[str],
                   user_col: str = "user_id", ts_col: str = "ts",
                   type_col: str = "event_type",
                   within_hours: int | None = None) -> DataFrame:
    """Per-user ordered-subsequence flag — ClickHouse's
    ``sequenceMatch('(?1).*(?2)...')`` combinator: did this user emit the
    step types in strict time order (greedy earliest-completion chain,
    the same deterministic semantics as :func:`funnel`)?
    ``within_hours`` bounds the whole chain to N hours after the user's
    first step-0 event (the ``windowFunnel`` conversion window).

    Returns one row per user that has ANY event: ``user, matched``.
    Scale: the shared one-pass window chain (:func:`_chain_frame`, one
    user-keyed exchange) plus one distinct-users aggregate and a final
    left semi-style join — raw events are scanned twice total (chain +
    user universe), not once per step."""
    chain = _chain_frame(events, steps, user_col, ts_col, type_col,
                         within_hours)
    last = f"t_{len(steps) - 1}"
    users = events.select(user_col).distinct()
    hit = (chain.where(F.col(last).isNotNull())
           .select(user_col, F.lit(True).alias("matched")))
    return (users.join(hit, user_col, "left")
            .select(user_col,
                    F.coalesce("matched", F.lit(False)).alias("matched")))


def linreg_by_group(events: DataFrame, group_col: str = "event_type",
                    ts_col: str = "ts", value_col: str = "value",
                    ) -> DataFrame:
    """Per-group simple least-squares trend — ClickHouse's
    ``simpleLinearRegression`` over (time, value): slope of value (milli
    units) per SECOND, scaled to micro: ``slope_micro_per_s =
    floor((n·Σxy − Σx·Σy) · 1000 / (n·Σxx − Σx²))``.

    Determinism recipe (the repo's two-layer pattern): the five
    sufficient statistics are INTEGER sums (x = whole seconds since the
    group's first event, y = floor(value·1000)) — order-free and exact
    under int64 (bounds: |x|<2.6e6 s ≈ a month, |y|≤1e9 milli, groups to
    ~1e6 rows; widen units for wilder data) — while the final combine
    runs in DOUBLE with one fixed expression order, identical on both
    engines, so results replay hash-exactly even though n·Σxy can pass
    2^53. Constant-x groups (single instant) yield NULL slope explicitly
    — never an ANSI divide-by-zero.

    Scale: one tiny per-group min join (|groups| rows, broadcast) + ONE
    map-side-combinable aggregate; output is |groups| rows with the
    stats carried alongside for auditing/merging (the sums are
    mergeable state, like the rollup's)."""
    base = (events.where(_quantizable_col(value_col))
            .select(group_col,
                    F.unix_micros(F.col(ts_col)).alias("_us"),
                    # float32 -> double before the multiply (the
                    # features.py quantize precedent)
                    F.floor(F.col(value_col).cast("double") * 1000)
                    .cast("long").alias("_y")))
    g0 = base.groupBy(group_col).agg(F.min("_us").alias("_us0"))
    xy = (base.join(F.broadcast(g0), group_col)
          .withColumn("_x", F.expr("(_us - _us0) div 1000000")))
    stats = (xy.groupBy(group_col)
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("_x").alias("sx"), F.sum("_y").alias("sy"),
                  F.sum(F.expr("_x * _y")).alias("sxy"),
                  F.sum(F.expr("_x * _x")).alias("sxx")))
    den = ("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) "
           "- CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
    num = ("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) "
           "- CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))")
    return stats.select(
        group_col, "n", "sx", "sy", "sxy", "sxx",
        F.expr(f"CASE WHEN {den} = 0.0 THEN NULL "
               f"ELSE CAST(floor({num} * 1000.0 / {den}) AS BIGINT) "
               f"END").alias("slope_micro_per_s"))


def winsorize_by_group(df: DataFrame, group_col: str, value_col: str,
                       lo_milli: int = 10, hi_milli: int = 990,
                       out_col: str = "winsorized") -> DataFrame:
    """Clamp ``value_col`` to its per-group exact lower quantiles at
    milli-fractions [lo, hi] — outlier winsorization, the
    training-data-safe alternative to dropping rows (sklearn's
    ``RobustScaler`` cousin). Bounds are ELEMENTS of the data (see
    :func:`exact_quantiles_by_group`), so the clamped output is
    engine-exact with no interpolation arithmetic anywhere.

    Plan: the quantile window pair over the (group, value) projection,
    pivoted to one (lo, hi) row per group, broadcast back onto the full
    rows — the fact table is never shuffled (NULL values pass through
    unclamped)."""
    qs = exact_quantiles_by_group(df, group_col, value_col,
                                  (lo_milli, hi_milli))
    bounds = (qs.groupBy(group_col)
              .agg(F.min(F.when(F.col("q_milli") == lo_milli,
                                F.col("q_value"))).alias("_lo"),
                   F.min(F.when(F.col("q_milli") == hi_milli,
                                F.col("q_value"))).alias("_hi")))
    clamped = F.when(F.col(value_col).isNull(), F.lit(None)) \
        .otherwise(F.greatest(F.col("_lo"),
                              F.least(F.col("_hi"), F.col(value_col))))
    return (df.join(F.broadcast(bounds), group_col, "left")
            .withColumn(out_col, clamped)
            .drop("_lo", "_hi"))


def key_skew_report(df: DataFrame, key_col: str,
                    parallelism: int = 200) -> DataFrame:
    """Shuffle-skew diagnosis for a prospective join/aggregation key:
    ONE row of ``n_rows, n_keys, max_cnt, p50_cnt, p99_cnt,
    top_share_milli, suggested_salts`` — the numbers that decide between
    a plain shuffle, AQE skew splitting, and explicit salting
    (``skew.salted_aggregation``). ``suggested_salts`` is
    ceil(max_cnt / (n_rows/parallelism)) clamped to ≥1: how many ways
    the hottest key must split so its largest shard is no bigger than an
    average reducer's share.

    Scale: the per-key count is one map-side-combinable aggregate; the
    summary quantiles run a window over the |keys|-row count table with
    a constant partition key — a SINGLE-TASK sort, fine to ~1e8 distinct
    keys (like seeded_shuffle's global window, the trade is documented:
    switch p50/p99 to approx_percentile beyond that). NULL keys count as
    a key (they hash to one reducer like any other value)."""
    counts = (df.groupBy(F.col(key_col).alias("_k"))
              .agg(F.count(F.lit(1)).alias("cnt")))
    qs = (exact_quantiles_by_group(
        counts.withColumn("_one", F.lit(1)), "_one", "cnt", (500, 990))
        .groupBy("_one")
        .agg(F.min(F.when(F.col("q_milli") == 500, F.col("q_value")))
             .alias("p50_cnt"),
             F.min(F.when(F.col("q_milli") == 990, F.col("q_value")))
             .alias("p99_cnt")))
    tot = (counts.agg(F.coalesce(F.sum("cnt"), F.lit(0)).alias("n_rows"),
                      F.count(F.lit(1)).alias("n_keys"),
                      F.max("cnt").alias("max_cnt")))
    # left join (not crossJoin): an EMPTY input makes qs zero-row, and a
    # cross join would annihilate the report — the contract is ONE row
    # always, with NULL quantiles/shares on empty input
    return (tot.join(qs.drop("_one"), F.lit(True), "left")
            .select("n_rows", "n_keys", "max_cnt", "p50_cnt", "p99_cnt",
                    F.expr("CASE WHEN n_rows = 0 THEN NULL "
                           "ELSE (max_cnt * 1000) div n_rows END")
                    .alias("top_share_milli"),
                    F.expr(f"CASE WHEN n_rows = 0 THEN NULL "
                           f"ELSE greatest(1L, "
                           f"(max_cnt * {int(parallelism)} "
                           f"+ n_rows - 1) div n_rows) END")
                    .alias("suggested_salts")))


def exact_weighted_quantiles_by_group(
        df: DataFrame, group_col: str, value_col: str, weight_col: str,
        qs_milli: "tuple[int, ...]" = (250, 500, 750)) -> DataFrame:
    """Exact per-group WEIGHTED lower quantiles — ClickHouse's
    ``quantileExactWeighted``: the value at the point where cumulative
    weight first reaches ``ceil(q · W / 1000)`` (W = group weight sum).
    Rows with NULL or non-positive weight are excluded explicitly.

    Engine-exact by the same element-of-data argument as
    :func:`exact_quantiles_by_group`: the crossing ROW depends on the
    tie order among equal values, but the crossing VALUE does not (the
    crossing always lands inside the run of equal values), so engines
    agree bit-for-bit while each picks its own row. The cumulative sum
    uses an explicit ROWS frame — the default RANGE frame pools tied
    rows and breaks crossing detection.

    Weights are integer COUNTS (frequency semantics — ClickHouse's
    quantileExactWeighted takes UInt weights); a fractional weight
    RAISES rather than silently truncating (0.9 would otherwise vanish
    through the cast + positivity filter). Scale fractional weights to
    integers first.

    Plan: one shuffle on the group key, one running-sum window + one
    group-total window over the same sort, a |qs| literal explode, one
    filter. Returns ``group, q_milli, q_value``."""
    from pyspark.sql import Window

    w = (Window.partitionBy(group_col).orderBy(value_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy(group_col)
    qarr = F.array(*[F.lit(int(q)) for q in qs_milli])
    # negatives are silently dropped by the > 0 filter below (not a
    # raise — this operator's documented stance), hence allow_negative
    w_int = _integral_weight_expr("exact_weighted_quantiles_by_group",
                                  weight_col, allow_negative=True)
    base = (df.select(group_col, value_col, w_int.alias("_w"))
            .where(F.col(value_col).isNotNull()
                   & F.col("_w").isNotNull() & (F.col("_w") > 0)))
    return (base
            .withColumn("_cum", F.sum("_w").over(w))
            .withColumn("_tot", F.sum("_w").over(wall))
            .withColumn("q_milli", F.explode(qarr))
            .withColumn("_t", F.greatest(
                F.lit(1), F.expr("(_tot * q_milli + 999) div 1000")))
            .where((F.col("_cum") >= F.col("_t"))
                   & (F.col("_cum") - F.col("_w") < F.col("_t")))
            .select(group_col, "q_milli",
                    F.col(value_col).alias("q_value")))


def sequence_count(events: DataFrame, steps: list[str],
                   user_col: str = "user_id", ts_col: str = "ts",
                   type_col: str = "event_type",
                   id_col: str = "event_id") -> DataFrame:
    """Per-user count of NON-OVERLAPPING completions of the step
    sequence — ClickHouse's ``sequenceCount('(?1).*(?2)...')``: scan the
    user's events in (ts, id) order with a greedy automaton; each step
    must be STRICTLY LATER in time than the previously accepted step
    (the same '>' ordering as :func:`sequence_match`, so matches >= 1
    coheres with matched=True even under tied timestamps); each
    completed chain consumes its events and the automaton restarts.
    The count is maximal among NON-INTERLEAVED (sequential) chains —
    interleaved event-disjoint chains (a,a,b,b → 2) are deliberately
    not counted, matching ClickHouse's restart semantics (the a-a-b-b
    hand case pins 1).

    The automaton is a SEQUENTIAL fold with O(1) state (waiting index,
    last accepted time, count), so it needs no Python boundary (guide
    §4.1): collect each user's step-typed events into a sorted array
    and run the fold as one JVM ``aggregate()`` higher-order expression
    — ONE scan, ONE user-keyed exchange, zero BatchEvalPython nodes
    (r16; the r15 form was an ``applyInPandas`` per-user pandas loop —
    same shuffle, plus the Arrow transfer and a Python worker pass).
    CLAUDE.md's HOF caution is about per-element WORK (shingle-set
    construction lost 7×); this fold does three comparisons per
    element, and measured 4.5× faster than the pandas automaton at
    sf0.1 (§ OPTIMIZATION_r16.md).

    Exact-parity details, all pinned by the replay test and hand cases:
    the sort key is ``(ts NULLS LAST, id NULLS LAST)`` — pandas
    ``sort_values`` puts NaT/NaN last, so the array sort coalesces the
    time key to ``Long.MAX`` and orders NULL ids after non-NULL via an
    ``isNull`` boolean field (struct sort is lexicographic by field
    order); a NULL-ts row can be accepted at step 0 (no time check
    there) and then blocks the chain forever (``us > NULL`` is never
    true — pandas' ``ts > NaT`` is ``False``); non-step-typed rows are
    automaton no-ops, dropped inside ``collect_list`` via ``when()``
    (collect_list skips NULLs) so the per-user output row survives for
    users with zero step-typed events — the user set is every user
    with ≥1 event of ANY type, exactly the applyInPandas contract.

    Per-group memory is the user's step-typed events collected into
    one aggregation buffer — the same order-of-magnitude bound the
    pandas form had (whole group materialized per task).

    Returns one row per user with ≥1 event: ``user, matches``."""
    step_list = list(steps)
    if not step_list:
        raise ValueError("steps must be a non-empty list")
    k = len(step_list)
    maxl = (1 << 63) - 1
    us = F.unix_micros(F.col(ts_col))
    ev = F.struct(
        F.coalesce(us, F.lit(maxl)).alias("_k1"),
        F.col(id_col).isNull().alias("_kn"),
        F.col(id_col).alias("_id"),
        us.alias("_us"),
        F.col(type_col).alias("_ty"))
    arr = F.sort_array(F.collect_list(
        F.when(F.col(type_col).isin(step_list), ev)))
    steps_lit = F.array(*[F.lit(s) for s in step_list])
    init = F.struct(F.lit(0).alias("idx"),
                    F.lit(None).cast("long").alias("last"),
                    F.lit(0).cast("long").alias("n"))
    reset_last = F.lit(None).cast("long")

    def _step(acc, x):
        ty_ok = x["_ty"] == F.element_at(steps_lit, acc["idx"] + 1)
        ts_ok = (acc["idx"] == 0) | (x["_us"].isNotNull()
                                     & (x["_us"] > acc["last"]))
        complete = F.struct(F.lit(0).alias("idx"),
                            reset_last.alias("last"),
                            (acc["n"] + 1).alias("n"))
        partial = F.struct((acc["idx"] + 1).alias("idx"),
                           x["_us"].alias("last"),
                           acc["n"].alias("n"))
        return (F.when(ty_ok & ts_ok,
                       F.when(acc["idx"] + 1 == k, complete)
                       .otherwise(partial))
                .otherwise(acc))

    return (events.groupBy(user_col)
            .agg(F.aggregate(arr, init, _step,
                             lambda acc: acc["n"]).alias("matches")))


def retention_flags(events: DataFrame, conds: list[str],
                    user_col: str = "user_id",
                    type_col: str = "event_type") -> DataFrame:
    """ClickHouse's ``retention(cond1, …, condN)`` combinator: per user,
    flag i is 1 iff the user satisfied cond 0 (the anchor) AND cond i —
    aggregated here to the number the report actually wants, users per
    condition: ``cond_idx, cond, users`` (cond_idx 0 is the anchor
    count; conditions are event-type equality, the fixture-expressible
    form).

    Scale: ONE pass over events (a per-user max-flag aggregate, map-side
    combinable, |users| rows out) + one tiny |conds|-row summary via a
    literal explode — no joins, no window, integer-only output."""
    flags = events.groupBy(user_col).agg(
        *[F.max(F.when(F.col(type_col) == c, 1).otherwise(0))
          .alias(f"_f{i}") for i, c in enumerate(conds)])
    anchored = flags.select(
        *[(F.col("_f0") * F.col(f"_f{i}")).alias(f"_r{i}")
          for i in range(len(conds))])
    # coalesce: a global agg over an EMPTY frame yields one row of
    # NULL sums — the contract is integer 0s (key_skew_report precedent)
    sums = anchored.agg(*[F.coalesce(F.sum(f"_r{i}"), F.lit(0))
                          .alias(f"_s{i}") for i in range(len(conds))])
    pairs = F.array(*[
        F.struct(F.lit(i).alias("cond_idx"), F.lit(c).alias("cond"),
                 F.col(f"_s{i}").alias("users"))
        for i, c in enumerate(conds)])
    return (sums.select(F.explode(pairs).alias("r"))
            .select("r.cond_idx", "r.cond",
                    F.col("r.users").cast("long").alias("users")))


def funnel_update(state_chain: "DataFrame | None", batch: DataFrame,
                  steps: list[str], user_col: str = "user_id",
                  ts_col: str = "ts", type_col: str = "event_type",
                  within_hours: "int | None" = None) -> DataFrame:
    """Incremental funnel maintenance: fold one micro-batch into the
    per-user chain state ``(user, t_0, …, t_{k-1})`` (earliest
    completion time per step, NULL beyond the user's progress) and
    return the new state — the continuous-ingest twin of :func:`funnel`.

    Correctness reduction: the chain minima are a SUFFICIENT summary of
    history for the greedy earliest-completion semantics, because under
    in-order arrival a set ``t_i`` is final (no later event can lower a
    min) and an unset one can only be set going forward. So the update
    re-runs the ONE shared chain (:func:`_chain_frame`) over the batch
    unioned with the state re-expressed as synthetic step events at
    their chain times — identical to the one-shot funnel over all
    events seen so far, for ANY in-order batch split
    (hypothesis-tested over the split space, conversion window
    included).

    Scale: state is |users| × k timestamps; each fold shuffles the
    batch plus that state ONCE (the r15 window chain — the previous
    shape paid k per-step aggregates plus k−1 left joins per fold),
    never history."""
    k = len(steps)
    ev = batch.select(user_col, ts_col, type_col)
    if state_chain is not None:
        for i in range(k):
            synth = (state_chain
                     .where(F.col(f"t_{i}").isNotNull())
                     .select(F.col(user_col),
                             F.col(f"t_{i}").alias(ts_col),
                             F.lit(steps[i]).alias(type_col)))
            ev = ev.unionByName(synth)
    # row set matches the old join ladder: one row per user with a
    # step-0 completion (later-step columns NULL beyond their progress)
    return (_chain_frame(ev, steps, user_col, ts_col, type_col,
                         within_hours)
            .where(F.col("t_0").isNotNull()))


def funnel_counts(chain: DataFrame, steps: list[str]) -> DataFrame:
    """The :func:`funnel` report derived from a maintained chain state:
    one row per step with the users whose ``t_i`` is set (a single tiny
    aggregate over |users| rows — raw events are never touched)."""
    agg = chain.agg(*[F.count(F.col(f"t_{i}")).alias(f"_u{i}")
                      for i in range(len(steps))])
    rows = F.array(*[
        F.struct(F.lit(i).alias("step_idx"), F.lit(s).alias("step"),
                 F.col(f"_u{i}").alias("users"))
        for i, s in enumerate(steps)])
    return (agg.select(F.explode(rows).alias("r"))
            .select("r.step_idx", "r.step",
                    F.col("r.users").cast("long").alias("users")))


def heavy_hitters_weighted(df: DataFrame, col: str, weight_col: str,
                           k: int = 10, capacity: int = 256) -> DataFrame:
    """Exact top-k values by TOTAL WEIGHT without a full-key shuffle —
    ClickHouse's ``topKWeighted`` combinator, with the same exactness
    certificate as :func:`heavy_hitters` (two-pass weighted Misra-Gries;
    never a silent approximation).

    Pass 1 summarizes each partition into ≤ ``capacity`` weighted-MG
    candidates: an untracked value arriving with weight w against a full
    table triggers the classic decrement round — subtract
    ``m = min(w, min counter)`` from every counter AND from w, delete
    zeros, insert the remainder if any. Every decrement round destroys
    ``m × (capacity+1)`` units of weight, so Σ destroyed ≤ W and any
    value's per-partition undercount ≤ W_p/(capacity+1); a value with
    global weight > W/(capacity+1) therefore survives in at least one
    summary. Pass 2 exactly re-weighs only the candidates (broadcast
    semi-join + int64 sum) and takes top-k with a (weight desc, value
    asc) tie-break.

    Certificate: no evictions anywhere (trivially exact), or the k-th
    recounted weight × capacity > W (no non-candidate can outrank it);
    otherwise RAISE and ask for more capacity.

    Weights are integral counts: NULL-weight rows are excluded,
    NaN/fractional/negative weights raise loudly (a negative weight
    breaks the MG accounting silently — same stance as
    ``exact_weighted_quantiles_by_group``), zero weights contribute
    nothing and are dropped. NULL values are excluded, and NaN values
    too on float columns (``_finite_col``)."""
    import pandas as pd

    w_int = _integral_weight_expr("heavy_hitters_weighted", weight_col)
    dtype = dict(df.select(col).dtypes)[col]
    src = (df.select(F.col(col), w_int.alias("_w"))
           .where(_finite_col(col, dtype) & F.col("_w").isNotNull()
                  & (F.col("_w") > 0)))
    spark = df.sparkSession

    def summarize(batches):
        counts: dict = {}
        evicted = False
        w_total = 0
        for pdf in batches:
            for v, w in zip(pdf[col], pdf["_w"]):
                w = int(w)
                w_total += w
                if v in counts:
                    counts[v] += w
                    continue
                if len(counts) < capacity:
                    counts[v] = w
                    continue
                evicted = True
                m = min(counts.values())
                if w < m:
                    m = w
                dead = []
                for u in counts:
                    counts[u] -= m
                    if counts[u] == 0:
                        dead.append(u)
                for u in dead:
                    del counts[u]
                if w > m:
                    counts[v] = w - m
        # NULL sentinel carries the eviction flag + partition weight
        # even when churn empties the dict (heavy_hitters precedent)
        yield pd.DataFrame({col: pd.Series(list(counts) + [None],
                                           dtype="object"),
                            "_evicted": [evicted] * (len(counts) + 1),
                            "_wsum": [0] * len(counts) + [w_total]})

    summ = (src.mapInPandas(
        summarize, schema=f"{col} {dtype}, _evicted boolean, _wsum long")
        .persist())
    try:
        flag, total = summ.agg(F.max("_evicted"), F.sum("_wsum")).first()
        evicted_any, total = bool(flag), int(total or 0)
        cands = (summ.where(F.col(col).isNotNull())
                 .select(col).distinct())
        counted = (src.join(F.broadcast(cands), col)
                   .groupBy(col).agg(F.sum("_w").alias("weight")))
        top = (counted.orderBy(F.col("weight").desc(), col).limit(k)
               .collect())
    finally:
        summ.unpersist()
    if evicted_any and (len(top) < k
                        or top[-1]["weight"] * capacity <= total):
        kth = top[-1]["weight"] if top else 0
        raise ValueError(
            f"heavy_hitters_weighted certificate failed: kth weight "
            f"{kth} <= W/capacity = {total}/{capacity} with evictions "
            f"observed — a non-candidate could outrank it; raise "
            f"capacity")
    return spark.createDataFrame(
        [(r[col], r["weight"], i + 1) for i, r in enumerate(top)],
        schema=f"value {dtype}, weight long, rank int")


def group_array_moving_sum(events: DataFrame, n: int = 5,
                           group_col: str = "event_type",
                           ts_col: str = "ts", value_col: str = "value",
                           id_col: str = "event_id") -> DataFrame:
    """ClickHouse's ``groupArrayMovingSum(n)`` combinator: per group, in
    (ts, id) order, the moving sum of the last ``n`` values — emitted as
    ``group, pos, moving_milli`` rows rather than one array per group
    (same information, hash-comparable, and no per-group collect_list
    memory spike). Values are milli-quantized to int64 before summing,
    so partial sums are order-free-exact and the SQL twin replays
    hash-identically (the kmeans quantize-then-sum trick).

    Scale: ONE shuffle on the group key; the ROWS frame streams through
    each partition (bounded by n, never materializing the group); output
    is |input| rows. NULL values, NULL timestamps AND NULL ids are
    excluded up-front — BOTH ordering keys, since engines disagree on
    NULL ordering (Spark NULLS FIRST, DuckDB NULLS LAST — the r9
    window-key rule; review-hardened r13)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(ts_col, id_col)
    wm = w.rowsBetween(-(n - 1), Window.currentRow)
    base = (events
            .where(_quantizable_col(value_col)
                   & F.col(ts_col).isNotNull()
                   & F.col(id_col).isNotNull())
            .withColumn("_vm",
                        F.floor(F.col(value_col).cast("double") * 1000)
                        .cast("long")))
    return base.select(F.col(group_col),
                       F.row_number().over(w).alias("pos"),
                       F.sum("_vm").over(wm).alias("moving_milli"))


def uniq_up_to(df: DataFrame, group_col: str, value_col: str,
               n: int = 100) -> DataFrame:
    """ClickHouse's ``uniqUpTo(N)`` combinator: per group, the exact
    distinct count when it is ≤ n, else the sentinel n+1 ("more than
    n") — the bounded-state cardinality check ("does this key have more
    than N variants?") that never pays for full distinct counting.

    State really is bounded: a per-partition ``mapInPandas`` pass caps
    each group's tracked set at n+1 values, so at most
    |groups| × (n+1) pairs leave any partition regardless of the true
    cardinality. The capped partials merge exactly: every partial is a
    subset of the true value set (union never overcounts), and a
    partition that hit its cap already holds n+1 distinct values — so
    the merged count, capped at n+1, equals least(true distinct, n+1)
    by construction. NULL values AND NULL group keys are excluded (a
    NULL numeric group arrives in pandas as NaN, whose self-unequal
    hashing would silently split the group — excluded loudly up-front
    instead; match the SQL twin with ``WHERE g IS NOT NULL AND v IS NOT
    NULL``), and NaN values/groups likewise on float columns
    (``_finite_col`` — add ``AND NOT isnan(...)`` to the twin then).

    Returns ``group, uniq_up_to`` with ``uniq_up_to`` ∈ [1, n+1]."""
    import pandas as pd

    cap = n + 1

    def partial(batches):
        seen: dict = {}
        for pdf in batches:
            for g, v in zip(pdf[group_col], pdf[value_col]):
                s = seen.setdefault(g, set())
                if len(s) < cap:
                    s.add(v)
        gs, vs = [], []
        for g, s in seen.items():
            for v in s:
                gs.append(g)
                vs.append(v)
        yield pd.DataFrame({group_col: pd.Series(gs, dtype="object"),
                            value_col: pd.Series(vs, dtype="object")})

    dtypes = dict(df.select(group_col, value_col).dtypes)
    src = (df.select(group_col, value_col)
           .where(_finite_col(value_col, dtypes[value_col])
                  & _finite_col(group_col, dtypes[group_col])))
    pairs = src.mapInPandas(
        partial,
        schema=f"{group_col} {dtypes[group_col]}, "
               f"{value_col} {dtypes[value_col]}")
    return (pairs.distinct()
            .groupBy(group_col)
            .agg(F.least(F.count(F.lit(1)), F.lit(cap).cast("long"))
                 .alias("uniq_up_to")))


def delta_sum(events: DataFrame, group_col: str = "event_type",
              ts_col: str = "ts", value_col: str = "value",
              id_col: str = "event_id") -> DataFrame:
    """ClickHouse's ``deltaSum`` combinator: per group, the sum of the
    POSITIVE deltas between consecutive values in (ts, id) order — the
    monotone-counter-with-resets pattern (total bytes served from a
    gauge that occasionally restarts at 0).

    Values are milli-quantized to int64 before differencing (the
    ``group_array_moving_sum`` convention), so the lag + greatest(0, Δ)
    chain is exact and replays hash-identically in a SQL twin. NULL
    values and NULL timestamps are excluded up-front.

    Scale: ONE shuffle on the group key; lag streams through each
    sorted partition; output is |groups| rows.

    Returns ``group, delta_sum_milli``."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(ts_col, id_col)
    base = (events
            .where(_quantizable_col(value_col)
                   & F.col(ts_col).isNotNull())
            .withColumn("_vm",
                        F.floor(F.col(value_col).cast("double") * 1000)
                        .cast("long")))
    prev = F.lag("_vm").over(w)
    step = (F.when(prev.isNull(), F.lit(0).cast("long"))
            .otherwise(F.greatest(F.lit(0).cast("long"),
                                  F.col("_vm") - prev)))
    return (base.withColumn("_d", step)
            .groupBy(group_col)
            .agg(F.sum("_d").alias("delta_sum_milli")))


def bounding_ratio(events: DataFrame, group_col: str = "event_type",
                   ts_col: str = "ts", value_col: str = "value",
                   id_col: str = "event_id") -> DataFrame:
    """ClickHouse's ``boundingRatio``: per group, the slope between the
    first and last points of the (ts, value) series —
    ``(y_last − y_first) / (x_last − x_first)``.

    First/last are picked by ``row_number`` over ``(ts, id)`` asc/desc —
    NOT ``max_by``/``arg_max``, whose composite-key tie-breaks differ
    across engines (DuckDB's ``arg_max`` takes no composite key at all).
    The exact integer numerator (milli-quantized value delta) and
    denominator (epoch-microsecond span) are returned alongside the
    rounded slope so the output is hash-comparable; the slope itself is
    rounded with the knife-edge-safe ``floor(x·1e4 + 0.5)/1e4`` form in
    an expression order a SQL twin can copy verbatim. Single-point
    groups have den = 0 → NULL slope (guarded CASE, never a division).

    Returns ``group, num_milli, den_us, slope_milli_per_sec_e4``."""
    from pyspark.sql import Window

    base = (events
            .where(_quantizable_col(value_col)
                   & F.col(ts_col).isNotNull())
            .withColumn("_vm",
                        F.floor(F.col(value_col).cast("double") * 1000)
                        .cast("long"))
            .withColumn("_tus", F.unix_micros(F.col(ts_col))))
    wa = Window.partitionBy(group_col).orderBy(
        F.col("_tus").asc(), F.col(id_col).asc())
    wd = Window.partitionBy(group_col).orderBy(
        F.col("_tus").desc(), F.col(id_col).desc())
    marked = (base
              .withColumn("_ra", F.row_number().over(wa))
              .withColumn("_rd", F.row_number().over(wd)))
    agg = (marked.groupBy(group_col)
           .agg(F.max(F.when(F.col("_ra") == 1, F.col("_vm")))
                .alias("_y_first"),
                F.max(F.when(F.col("_rd") == 1, F.col("_vm")))
                .alias("_y_last"),
                (F.max("_tus") - F.min("_tus")).alias("den_us")))
    return agg.select(
        group_col,
        (F.col("_y_last") - F.col("_y_first")).alias("num_milli"),
        "den_us",
        F.expr(
            # floor() is BIGINT in Spark and the bare 10000.0 literal is
            # DECIMAL — cast both or the quotient types DECIMAL and the
            # driver hash path diverges from the oracle's DOUBLE
            "CASE WHEN den_us = 0 THEN NULL ELSE "
            "CAST(floor(CAST(_y_last - _y_first AS DOUBLE) * 1000000.0 "
            "/ CAST(den_us AS DOUBLE) * 10000.0 + 0.5) AS DOUBLE) "
            "/ CAST(10000.0 AS DOUBLE) "
            "END").alias("slope_milli_per_sec_e4"))


def non_negative_derivative(events: DataFrame,
                            group_col: str = "event_type",
                            ts_col: str = "ts",
                            value_col: str = "value",
                            id_col: str = "event_id") -> DataFrame:
    """ClickHouse's ``nonNegativeDerivative(metric, ts)`` window
    function: per row, the rate of change vs the previous row in
    (ts, id) order, clamped at zero — the gauge-to-rate transform
    (bytes-counter → bytes/second) that tolerates counter resets.

    Exact integer contract: values milli-quantize to int64 (the
    delta_sum convention) and

        rate_milli_per_s = greatest(0, (Δvm · 10⁶) div Δus)

    — milli-units per second under truncating division (Spark ``div``
    ≡ DuckDB ``//`` toward zero, r10; negative quotients clamp to 0
    after truncation, identical on both engines). The first row of
    each group and rows TIED on the ordering timestamp (Δus = 0) are
    NULL via a guarded CASE — never an ANSI division trap (ClickHouse
    leaves tied-ts behavior undefined; we pin NULL). NULL values,
    NULL timestamps, and NULL ids (the ordering tie-break — the r13
    moving-sum stance) are excluded up-front; mirror all three in
    twins.

    Scale: ONE shuffle on the group key; lag streams through each
    sorted partition; output is one row per surviving input row.

    Returns ``group, t_us, id, rate_milli_per_s``."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy("_tus", id_col)
    base = (events
            .where(_quantizable_col(value_col)
                   & F.col(ts_col).isNotNull()
                   & F.col(id_col).isNotNull())
            .withColumn("_vm",
                        F.floor(F.col(value_col).cast("double") * 1000)
                        .cast("long"))
            .withColumn("_tus", F.unix_micros(F.col(ts_col))))
    rate = (F.when(F.col("_prev_us").isNull()
                   | (F.col("_tus") == F.col("_prev_us")),
                   F.lit(None).cast("long"))
            .otherwise(F.greatest(
                F.lit(0).cast("long"),
                F.expr("((_vm - _prev_vm) * 1000000) "
                       "div (_tus - _prev_us)"))))
    return (base.withColumn("_prev_vm", F.lag("_vm").over(w))
            .withColumn("_prev_us", F.lag("_tus").over(w))
            .withColumn("rate_milli_per_s", rate)
            .select(group_col, F.col("_tus").alias("t_us"),
                    F.col(id_col), "rate_milli_per_s"))


def sequence_next_node(events: DataFrame, steps: list[str],
                       user_col: str = "user_id", ts_col: str = "ts",
                       type_col: str = "event_type",
                       id_col: str = "event_id") -> DataFrame:
    """ClickHouse's ``sequenceNextNode`` (forward / first_match): for
    every user whose event history completes the ``steps`` chain under
    the funnel's earliest-completion semantics, the type of the FIRST
    event strictly after the chain's final step — "what do users do
    right after view→click→purchase?".

    Reuses the one shared greedy chain (``_chain_frame``, the same
    semantics the graded funnel/sequence_match queries pin), so chain
    ties and strictness cannot drift between siblings. The next event
    per user is picked by ``row_number`` over ``(ts, id)`` — a
    deterministic tie-break a SQL twin replays with ``QUALIFY``.

    Returns ``next_event_type, users`` (users whose chain has no later
    event at all are absent — count them as a separate funnel query if
    needed).

    Scale: the chain is ONE user-keyed window pass; the next-event
    pick is one user-keyed join + window over only post-chain events."""
    from pyspark.sql import Window

    last = f"t_{len(steps) - 1}"
    cur = (_chain_frame(events, steps, user_col, ts_col, type_col, None)
           .where(F.col(last).isNotNull())
           .select(user_col, F.col(last).alias("t")))
    nxt = (events.select(user_col, type_col,
                         F.col(ts_col), F.col(id_col))
           .join(cur.select(user_col, "t"), user_col)
           .where(F.col(ts_col) > F.col("t")))
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc())
    first = (nxt.withColumn("_rn", F.row_number().over(w))
             .where(F.col("_rn") == 1))
    return (first.groupBy(type_col)
            .agg(F.count(F.lit(1)).alias("users"))
            .select(F.col(type_col).alias("next_event_type"), "users"))


def window_funnel_strict_order(events: DataFrame, steps: list[str],
                               within_hours: "int | None" = None,
                               user_col: str = "user_id",
                               ts_col: str = "ts",
                               type_col: str = "event_type",
                               id_col: str = "event_id") -> DataFrame:
    """ClickHouse ``windowFunnel(window, 'strict_order')``: the max
    funnel level each user reaches when the steps must be CONSECUTIVE
    events in the user's (ts, id)-ordered stream — any intervening
    event of another type breaks the chain (contrast :func:`funnel`,
    which lets arbitrary events sit between steps). ``within_hours``
    additionally requires every matched step to fall within that many
    hours of the chain's FIRST event.

    Because strict order pins each step to a fixed offset from the
    chain start, the whole search is a lead()-chain expression — no
    automaton, no Python: event p starts a level-k chain iff
    ``type[p..p+k-1]`` equals the step prefix (and the window holds),
    and the user's level is the max over p. One shuffle on the user
    key; the histogram rolls up |users| rows.

    Returns ``level, users`` for every reached level 0..len(steps)
    (level 0 = users whose stream never starts the chain), so Σ users =
    the distinct-user count over NULL-ts-excluded rows (mirror ``WHERE
    ts IS NOT NULL`` in any SQL twin)."""
    from pyspark.sql import Window

    base = (events.where(F.col(ts_col).isNotNull())
            .select(user_col, type_col,
                    F.unix_micros(F.col(ts_col)).alias("_tus"),
                    F.col(id_col)))
    w = Window.partitionBy(user_col).orderBy("_tus", id_col)
    matched = F.col(type_col) == steps[0]
    level = F.when(matched, F.lit(1)).otherwise(F.lit(0))
    for k, s in enumerate(steps[1:], start=1):
        step_ok = F.lead(type_col, k).over(w) == s
        if within_hours is not None:
            step_ok = step_ok & (
                F.lead("_tus", k).over(w)
                <= F.col("_tus")
                + F.lit(int(within_hours) * 3_600_000_000))
        matched = matched & step_ok
        level = F.when(matched, F.lit(k + 1)).otherwise(level)
    per_user = (base.select(user_col, level.alias("_lvl"))
                .groupBy(user_col).agg(F.max("_lvl").alias("level")))
    return (per_user.groupBy("level")
            .agg(F.count(F.lit(1)).alias("users")))


def entropy_by_group(df: DataFrame, group_col: str = "event_type",
                     value_col: str = "user_id") -> DataFrame:
    """ClickHouse's ``entropy`` aggregate: Shannon entropy (in
    milli-bits) of the ``value_col`` distribution within each group —
    "how spread are this key's values?", the column-profiling /
    key-quality signal.

    Engine-exact by the same trick as BM25's idf: with per-value counts
    ``c`` and ``N = Σc``,

        H = log2(N) − (1/N)·Σ c·log2(c)
          → entropy_milli = (N·ilog2m(N) − Σ c·ilog2m(c)) div N

    where ``ilog2m`` is the exact integer milli-log2 (bitlength +
    linear interior, ``retrieval.with_ilog2_milli``) — monotone,
    transcendental-free, and SQL-replayable, so the twin hashes
    identically. The piecewise-linear log overestimates interior points
    by ≤ ~86 milli-bits; the CONTRACT is this exact formula, not IEEE
    log2 (document the same formula in any consumer). Gibbs holds for
    any monotone log approximation applied to both terms built from the
    same counts: 0 ≤ entropy_milli ≤ ilog2m(N).

    NULL values are excluded (mirror ``WHERE v IS NOT NULL``); NULL
    group keys form their own group, as in SQL. Overflow-safe for
    N < 2^62 / 1000 per group (the ``c·ilog2m(c)`` product caps near
    4·10^16 at N = 10^12).

    Scale: the (group, value) count is the classic two-level exact
    distinct aggregation — one shuffle on (group, value) with map-side
    partial counts, then the |distinct pairs|-row rollup to |groups|.

    Returns ``group, n, entropy_milli``."""
    counts = entropy_update(None, df, group_col, value_col)
    return entropy_from_state(counts, group_col)


def entropy_update(state_counts: "DataFrame | None", batch: DataFrame,
                   group_col: str = "event_type",
                   value_col: str = "user_id") -> DataFrame:
    """Incremental entropy maintenance: fold one micro-batch into the
    ``(group, value, c)`` count state and return the new state. Counts
    are a commutative monoid (int sum), so folding ANY partition of the
    data in ANY order equals the one-shot computation — the
    retention-grade order-free contract (hypothesis-tested). State is
    |distinct (group, value)| rows; each fold shuffles the batch plus
    state, never history."""
    b = (batch.where(F.col(value_col).isNotNull())
         .groupBy(group_col, value_col)
         .agg(F.count(F.lit(1)).alias("c")))
    if state_counts is not None:
        b = (state_counts.unionByName(b)
             .groupBy(group_col, value_col)
             .agg(F.sum("c").alias("c")))
    return b


def entropy_from_state(state_counts: DataFrame,
                       group_col: str = "event_type") -> DataFrame:
    """The :func:`entropy_by_group` report derived purely from the
    maintained count state (raw rows never rescanned): the exact
    integer milli-log2 tail over carried counts."""
    from .retrieval import with_ilog2_milli

    c = with_ilog2_milli(state_counts, "c", "_lg")
    per = (c.groupBy(group_col)
           .agg(F.sum("c").alias("n"),
                F.sum(F.col("c") * F.col("_lg")).alias("_s")))
    per = with_ilog2_milli(per, "n", "_lgn")
    return per.select(group_col, "n",
                      F.expr("(n * _lgn - _s) div n")
                      .alias("entropy_milli"))


def cohort_overlap(df: DataFrame, group_col: str,
                   id_col: str) -> DataFrame:
    """Pairwise audience overlap: for every unordered pair of groups,
    the exact count of distinct ids present in BOTH plus the exact
    Jaccard similarity — "how much do the click and purchase audiences
    overlap?", the retention/retargeting sibling of retention_flags
    (ClickHouse expresses this with ``uniqExact`` intersections /
    ``groupBitmapAnd``; semantics re-derived).

    Exact and engine-replayable, built from the two one-pass idioms the
    repo already trusts: per-id sorted group POSTING LISTS double-explode
    into ``g_a < g_b`` pairs (each unordered pair once, deterministically
    — the minhash/jaccard idiom, never an id-equi-self-join that would
    re-plan the distinct subtree), and the full |G|·(|G|−1)/2 size
    matrix comes from ONE collect_list row (the bloom_semi_join "one map
    row" pattern) so ZERO-overlap pairs appear explicitly — an absent
    row is indistinguishable from an unmeasured pair (the quota_sample
    certificate stance). jaccard_e4 is an integer ``div`` against the
    inclusion-exclusion union (union ≥ max(n_a, n_b) ≥ 1 whenever the
    pair exists — both group sizes are ≥ 1 by construction).

    Scale: one distinct shuffle on (group, id), one groupBy id whose
    per-id pair fan-out is bounded by |G|²/2 (|G| = distinct groups —
    this operator is for FEW cohorts over MANY ids; output is O(|G|²));
    exactly TWO scans of the source (pairs + sizes), plan-audited. NULL
    group or id rows are excluded (mirror the WHERE in twins).

    Returns ``g_a, g_b, n_a, n_b, overlap_cnt, jaccard_e4``."""
    d = (df.where(F.col(group_col).isNotNull()
                  & F.col(id_col).isNotNull())
         .select(F.col(group_col).alias("_g"),
                 F.col(id_col).alias("_id"))
         .distinct())
    sets = d.groupBy("_id").agg(F.sort_array(F.collect_set("_g"))
                                .alias("_gs"))
    inter = (sets.select(F.explode("_gs").alias("g_a"), "_gs")
             .select("g_a", F.explode("_gs").alias("g_b"))
             .where(F.col("g_a") < F.col("g_b"))
             .groupBy("g_a", "g_b")
             .agg(F.count(F.lit(1)).alias("overlap_cnt")))
    one_row = (d.groupBy("_g").agg(F.count(F.lit(1)).alias("_n"))
               .agg(F.sort_array(F.collect_list(
                   F.struct("_g", "_n"))).alias("_l")))
    matrix = (one_row
              .select(F.explode("_l").alias("_a"), "_l")
              .select("_a", F.explode("_l").alias("_b"))
              .where(F.col("_a._g") < F.col("_b._g"))
              .select(F.col("_a._g").alias("g_a"),
                      F.col("_b._g").alias("g_b"),
                      F.col("_a._n").alias("n_a"),
                      F.col("_b._n").alias("n_b")))
    return (matrix.join(inter, ["g_a", "g_b"], "left")
            .withColumn("overlap_cnt",
                        F.coalesce(F.col("overlap_cnt"),
                                   F.lit(0).cast("long")))
            .withColumn("jaccard_e4", F.expr(
                "(overlap_cnt * 10000) div (n_a + n_b - overlap_cnt)"))
            .select("g_a", "g_b", "n_a", "n_b", "overlap_cnt",
                    "jaccard_e4"))


def histogram_equi_depth(df: DataFrame, group_col: str, value_col: str,
                         buckets: int = 10) -> DataFrame:
    """Equi-depth (equal-count) histogram per group — the profiler
    companion to :func:`histogram_fixed`'s equi-width bins and the
    standard input to range-partitioning decisions: bucket boundaries
    adapt to the data, so every bar holds ~n/buckets rows however
    skewed the distribution.

    Deterministic by RANK, not by value boundaries: a row's bucket is
    ``min(buckets−1, ((rank−1)·buckets) div n)`` over the milli-
    quantized sort — a pure function of the sorted position, so bucket
    COUNTS are exact integers on any engine, and each bucket's lo/hi
    are values AT fixed rank ranges (well-defined under ties even
    though row_number's choice among equal values isn't — the
    exact_quantiles stance). Never ntile(): engines distribute its
    remainder differently; this formula is the contract. Value ties
    straddling a rank boundary land in different buckets by design
    (equal COUNT is the invariant equi-depth promises, not distinct
    boundaries — duplicate-heavy data can repeat lo/hi across buckets).

    Scale: one shuffle on the group key, one rank window, one
    map-side-combinable aggregate; output is |groups|·buckets rows.
    NULL/NaN/±Inf rows are excluded (mirror in twins).

    Returns ``group, bucket, cnt, lo_milli, hi_milli``."""
    from pyspark.sql import Window

    if int(buckets) < 1:
        raise ValueError(
            f"histogram_equi_depth: buckets must be >= 1, got {buckets}")
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    w = Window.partitionBy(group_col).orderBy("_vm")
    wall = Window.partitionBy(group_col)
    b = int(buckets)
    return (df.where(_quantizable_col(value_col))
            .select(F.col(group_col), vm.alias("_vm"))
            .withColumn("_rn", F.row_number().over(w).cast("long"))
            .withColumn("_n", F.count(F.lit(1)).over(wall))
            .withColumn("bucket", F.least(
                F.lit(b - 1).cast("long"),
                F.expr(f"((_rn - 1) * {b}) div _n")))
            .groupBy(group_col, "bucket")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.min("_vm").alias("lo_milli"),
                 F.max("_vm").alias("hi_milli")))


def cusum_changepoint(df: DataFrame, group_col: str = "event_type",
                      ts_col: str = "ts", value_col: str = "value",
                      id_col: str = "event_id") -> DataFrame:
    """CUSUM change-point screen per group (Page 1954, public
    semantics): the running sum of deviations from the group mean,
    whose extreme |S| marks the most likely level-shift point — the
    standard drift detector for pipeline metrics (did this source's
    quality score shift mid-corpus?).

    INTEGER-EXACT via n-scaling (no mean division ever happens):
    with ``vm = floor(value·1000)`` ordered by ``(ts, id)``,

        S_k · n = n·prefix_k − k·Σvm        (pure int64)

    so s_max/s_min/argmax are exact on both engines. The change point
    reports the EARLIEST position attaining ``max |S·n|`` (ties break
    on the (ts, id) order — id must make the ordering unique, the
    asof/EMA stance). Overflow: |n·prefix| ≤ n²·max|vm| — raise the
    quantization or shard beyond ~2·10⁶ rows·milli-units per group
    (ANSI raises loudly, never wraps).

    Scale: one shuffle on the group key, two ordered windows over the
    same sort, one whole-partition max, one aggregate. NULL ts and
    NULL/NaN/±Inf values are excluded (mirror in twins).

    Returns ``group, n, sum_milli, s_n_max, s_n_min, cp_pos,
    cp_ts_us`` (s_n_* in n-scaled milli-units; cp_pos is the
    1-indexed rank of the extreme; cp_ts_us its epoch microseconds)."""
    from pyspark.sql import Window

    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    w = Window.partitionBy("_g").orderBy("_us", "_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("_g")
    # NULL ids would sort NULLS FIRST here and NULLS LAST in a SQL
    # twin (the r9 window-ordered-oracle divergence class) — exclude
    # them on both sides
    base = (df.where(_quantizable_col(value_col)
                     & F.col(ts_col).isNotNull()
                     & F.col(id_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.unix_micros(F.col(ts_col)).alias("_us"),
                    F.col(id_col).alias("_id"), vm.alias("_vm")))
    cur = (base
           .withColumn("_k", F.row_number().over(w).cast("long"))
           .withColumn("_pre", F.sum("_vm").over(wcum))
           .withColumn("_n", F.count(F.lit(1)).over(wall))
           .withColumn("_tot", F.sum("_vm").over(wall))
           .withColumn("_s", F.col("_n") * F.col("_pre")
                       - F.col("_k") * F.col("_tot"))
           .withColumn("_amax", F.max(F.abs(F.col("_s"))).over(wall)))
    # the earliest extreme folds into the SAME aggregate as the sums —
    # min over struct(_k, _us) is deterministic because _k is unique
    # per group (never min_by, whose tie pick is engine-arbitrary; a
    # filter+join formulation would re-plan the windowed subtree on
    # both join sides, the r7 bloom hazard)
    agg = (cur.groupBy("_g")
           .agg(F.count(F.lit(1)).alias("n"),
                F.max("_tot").alias("sum_milli"),
                F.max("_s").alias("s_n_max"),
                F.min("_s").alias("s_n_min"),
                F.min(F.when(F.abs(F.col("_s")) == F.col("_amax"),
                             F.struct("_k", "_us"))).alias("_cp")))
    return agg.select(F.col("_g").alias(group_col), "n", "sum_milli",
                      "s_n_max", "s_n_min",
                      F.col("_cp._k").alias("cp_pos"),
                      F.col("_cp._us").alias("cp_ts_us"))


def quantile_update(state_counts: "DataFrame | None", batch: DataFrame,
                    group_col: str = "event_type",
                    value_col: str = "value") -> DataFrame:
    """Incremental EXACT-quantile maintenance (the entropy_update
    shape): fold one micro-batch into the ``(group, vm, c)``
    milli-quantized value-count state and return the new state. Counts
    are a commutative int-sum monoid, so folding ANY partition of the
    data in ANY order equals the one-shot computation; state is
    |distinct (group, value)| rows — the exact-quantile sibling of the
    approx sketches, affordable whenever the value domain is bounded
    (quantized metrics, scores, durations).

    NULL group keys and NULL/NaN/±Inf values are excluded (the repo
    stance; mirror in twins)."""
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    b = (batch.where(_quantizable_col(value_col)
                     & F.col(group_col).isNotNull())
         .select(F.col(group_col), vm.alias("vm"))
         .groupBy(group_col, "vm")
         .agg(F.count(F.lit(1)).alias("c")))
    if state_counts is not None:
        b = (state_counts.unionByName(b)
             .groupBy(group_col, "vm")
             .agg(F.sum("c").alias("c")))
    return b


def quantiles_from_state(state_counts: DataFrame,
                         group_col: str = "event_type",
                         qs_milli: "tuple[int, ...]" = (250, 500, 750),
                         ) -> DataFrame:
    """Exact per-group LOWER quantiles derived purely from the
    maintained value-count state (raw rows never rescanned): the value
    at sorted position ``max(1, ceil(n·q/1000))`` is the SMALLEST
    carried value whose cumulative count reaches the position —
    identical to :func:`exact_quantiles_by_group` on the underlying
    rows by construction (position arithmetic over the same sorted
    multiset), pinned by test.

    Plan: one cumulative window + one min-per-quantile aggregate over
    the |distinct values| state table — never row-scale.

    Returns ``group, q_milli, q_value_milli``."""
    from pyspark.sql import Window

    wcum = (Window.partitionBy(group_col).orderBy("vm")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy(group_col)
    qarr = F.array(*[F.lit(int(q)) for q in qs_milli])
    return (state_counts
            .withColumn("_cum", F.sum("c").over(wcum))
            .withColumn("_n", F.sum("c").over(wall))
            .withColumn("q_milli", F.explode(qarr))
            .withColumn("_pos", F.greatest(
                F.lit(1).cast("long"),
                F.expr("(_n * q_milli + 999) div 1000")))
            .where(F.col("_cum") >= F.col("_pos"))
            .groupBy(group_col, "q_milli")
            .agg(F.min("vm").alias("q_value_milli")))


def kaplan_meier(df: DataFrame, group_col: str, duration_col: str,
                 event_col: str) -> DataFrame:
    """Kaplan-Meier survival curve per group (Kaplan & Meier 1958,
    public semantics) — the right-censoring-aware retention/lifetime
    estimator ("how long do users stay active, given many are still
    active at observation end?"): at each distinct event time t,

        S(t) ← S(t⁻) · (n_t − d_t) / n_t

    with n_t = subjects still at risk and d_t = events at t; censored
    subjects (``event_col = 0``) leave the risk set without an event.

    Deterministic integer CONTRACT: durations milli-quantize; the
    survival product folds STEPWISE in e6 units — ``s ← (s·(n−d))
    div n`` from 10⁶ — so every engine (and the pure-Python replay)
    reproduces it exactly; truncation compounds < one micro-unit per
    event time, documented, never silently rounded. ``event_col``
    must be 0/1 (else raises loudly inside the projection); NULL
    group/duration/flag rows and negative durations are excluded
    (negative durations are data bugs — excluded loudly via the
    where, mirror in twins).

    Plan: one (group, time) count aggregate, then ONE applyInPandas
    over the group key for the sequential fold (the EMA/PAVA
    whole-group contract — per-group DISTINCT TIMES must fit one
    executor; the row table never does the fold). The output group
    column carries the INPUT column's type (ADVICE r10).

    Returns ``group, t_milli, at_risk, events, censored, s_e6`` —
    one row per distinct (group, duration), survival non-increasing
    in t."""
    import pandas as pd

    g_ddl = df.schema[group_col].dataType.simpleString()
    flag = F.expr(
        f"CASE WHEN {event_col} IS NULL THEN NULL "
        f"WHEN {event_col} IN (0, 1) THEN CAST({event_col} AS INT) "
        f"ELSE raise_error('kaplan_meier: event_col must be 0 or 1') "
        f"END")
    tm = F.floor(F.col(duration_col).cast("double") * 1000) \
        .cast("long")
    base = (df.where(_quantizable_col(duration_col)
                     & (F.col(duration_col) >= 0)
                     & F.col(group_col).isNotNull()
                     & F.col(event_col).isNotNull())
            .select(F.col(group_col).alias("_g"), tm.alias("_t"),
                    flag.alias("_e"))
            .groupBy("_g", "_t")
            .agg(F.sum(F.col("_e")).cast("long").alias("_d"),
                 F.sum(1 - F.col("_e")).cast("long").alias("_c")))

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_t", kind="mergesort")
        total = int((pdf["_d"] + pdf["_c"]).sum())
        at_risk = total
        s = 1_000_000
        rows = []
        for t, d, c in zip(pdf["_t"], pdf["_d"], pdf["_c"]):
            d, c = int(d), int(c)
            if d > 0:
                s = (s * (at_risk - d)) // at_risk
            rows.append((pdf["_g"].iloc[0], int(t), at_risk, d, c, s))
            at_risk -= d + c
        return pd.DataFrame(rows, columns=[
            "_g", "t_milli", "at_risk", "events", "censored", "s_e6"])

    out = base.groupBy("_g").applyInPandas(
        fold, schema=(f"_g {g_ddl}, t_milli long, at_risk long, "
                      f"events long, censored long, s_e6 long"))
    return out.withColumnRenamed("_g", group_col)


def histogram_adaptive(df: DataFrame, group_col: str, value_col: str,
                       bins: int = 10) -> DataFrame:
    """ClickHouse ``histogram(bins)``-style adaptive histogram, made
    DETERMINISTIC: per group, the milli-quantized distinct-value count
    table greedily merges the adjacent bin pair with the smallest
    center distance until ``bins`` remain — centers are exact
    rationals (weighted sums over counts) and pair distances compare
    by integer CROSS-MULTIPLICATION, ties merging the LEFTMOST pair,
    so the result replays exactly (ClickHouse's own combinator is
    streaming and seed-dependent; the deterministic greedy is this
    operator's CONTRACT, pinned by a Fraction replay).

    Plan: one (group, value) count shuffle, then ONE applyInPandas
    over the group key for the sequential merge (the EMA/PAVA
    whole-group contract — per-group DISTINCT VALUES must fit one
    executor; the merge loop is O(k·(k−bins)) exact-integer work,
    fine to ~10⁴ distinct values per group, pre-quantize coarser
    beyond). NULL group keys and NULL/NaN/±Inf values are excluded.

    Returns ``group, bin, lo_milli, hi_milli, cnt, center_milli``
    (center truncated toward zero from the exact rational; bins
    ordered, disjoint, mass-preserving — all pinned by test)."""
    import pandas as pd

    if int(bins) < 1:
        raise ValueError(
            f"histogram_adaptive: bins must be >= 1, got {bins}")
    g_ddl = df.schema[group_col].dataType.simpleString()
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    base = (df.where(_quantizable_col(value_col)
                     & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("_g"), vm.alias("_vm"))
            .groupBy("_g", "_vm")
            .agg(F.count(F.lit(1)).alias("_c")))
    b = int(bins)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("_vm", kind="mergesort")
        # bin state: [lo, hi, cnt, wsum] with exact python ints
        cur = [[int(v), int(v), int(c), int(v) * int(c)]
               for v, c in zip(pdf["_vm"], pdf["_c"])]
        while len(cur) > b:
            # closest adjacent centers: dist(i) = w2/c2 - w1/c1 >= 0
            # (sorted); compare dist(i) < dist(j) by cross-mult —
            # denominators are positive counts, so signs are safe
            best, bn, bd = 0, None, None
            for i in range(len(cur) - 1):
                n_i = (cur[i + 1][3] * cur[i][2]
                       - cur[i][3] * cur[i + 1][2])
                d_i = cur[i][2] * cur[i + 1][2]
                if bn is None or n_i * bd < bn * d_i:   # strict: ties
                    best, bn, bd = i, n_i, d_i          # keep leftmost
            l, r = cur[best], cur[best + 1]
            cur[best:best + 2] = [[l[0], r[1], l[2] + r[2],
                                   l[3] + r[3]]]
        rows = []
        for k, (lo, hi, c, w) in enumerate(cur):
            center = w // c if w >= 0 else -((-w) // c)   # trunc-div
            rows.append((pdf["_g"].iloc[0], k, lo, hi, c, center))
        return pd.DataFrame(rows, columns=[
            "_g", "bin", "lo_milli", "hi_milli", "cnt", "center_milli"])

    out = base.groupBy("_g").applyInPandas(
        merge, schema=(f"_g {g_ddl}, bin int, lo_milli long, "
                       f"hi_milli long, cnt long, center_milli long"))
    return out.withColumnRenamed("_g", group_col)


def runs_test(events: DataFrame, group_col: str = "event_type",
              ts_col: str = "ts", value_col: str = "value",
              id_col: str = "event_id") -> DataFrame:
    """Wald-Wolfowitz runs test per group (1940, public semantics) —
    "is this metric's sequence random, or does it streak?": values
    above/below the group median form a ±sequence ordered by time,
    and too FEW runs means autocorrelation/drift while too MANY means
    oscillation. The randomness screen that complements CUSUM's
    level-shift hunt.

    INTEGER-EXACT core: values milli-quantize; the reference median
    is the window-folded exact LOWER median (the mad_outliers idiom —
    no median join); rows AT the median carry NO sign (the standard
    treatment — a tie has no sign) but STAY in the frame, so a
    constant-valued group still emits its row with n_plus = n_minus =
    runs = 0 and NULL z; the previous sign skips tie rows via
    last-non-null over the (ts, id) order. Only the z-score finish is
    float, in the shared verbatim expression (``RUNS_Z_SQL``): with
    a = n_plus, b = n_minus, μ = 2ab/(a+b) + 1 and σ² =
    2ab(2ab−a−b) / ((a+b)²(a+b−1)); NULL z when either side is empty
    or a+b < 3 (a = b = 1 is the only point where 2ab = a+b makes
    σ² exactly 0 — an unguarded 0/0 under ANSI). NULL ts/id/group
    and NULL/NaN/±Inf values are excluded (mirror in twins; NULL ids
    would sort NULLS FIRST vs a twin's NULLS LAST — the cusum
    stance).

    Plan: ONE scan, ONE shuffle on the group key — a value-sort
    window (median fold), a time-sort window (lag), one aggregate.

    Returns ``group, n_plus, n_minus, runs, z_e4``."""
    from pyspark.sql import Window

    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    wall = Window.partitionBy("_g")
    wv = Window.partitionBy("_g").orderBy("_vm")
    wt = Window.partitionBy("_g").orderBy("_us", "_id")
    pos = F.floor((F.col("_n") + 1) / 2)
    base = (events.where(_quantizable_col(value_col)
                         & F.col(ts_col).isNotNull()
                         & F.col(id_col).isNotNull()
                         & F.col(group_col).isNotNull())
            .select(F.col(group_col).alias("_g"),
                    F.unix_micros(F.col(ts_col)).alias("_us"),
                    F.col(id_col).alias("_id"), vm.alias("_vm"))
            .withColumn("_rn", F.row_number().over(wv))
            .withColumn("_n", F.count(F.lit(1)).over(wall))
            .withColumn("_med",
                        F.max(F.when(F.col("_rn") == pos,
                                     F.col("_vm"))).over(wall))
            # tie rows get a NULL sign but are KEPT so the group
            # still aggregates to a counts row (fixture-drift-proof)
            .withColumn("_s", F.when(F.col("_vm") > F.col("_med"), 1)
                        .when(F.col("_vm") < F.col("_med"), -1))
            .withColumn("_prev", F.last("_s", ignorenulls=True).over(
                wt.rowsBetween(Window.unboundedPreceding, -1)))
            .withColumn("_new", F.when(
                F.col("_s").isNotNull()
                & (F.col("_prev").isNull()
                   | (F.col("_s") != F.col("_prev"))), 1)
                .otherwise(0)))
    return (base.groupBy("_g")
            .agg(F.sum(F.when(F.col("_s") == 1, 1).otherwise(0))
                 .cast("long").alias("n_plus"),
                 F.sum(F.when(F.col("_s") == -1, 1).otherwise(0))
                 .cast("long").alias("n_minus"),
                 F.sum("_new").cast("long").alias("runs"))
            .withColumn("z_e4", F.expr(RUNS_Z_SQL))
            .select(F.col("_g").alias(group_col), "n_plus", "n_minus",
                    "runs", "z_e4"))


# shared verbatim: the runs-test z from the exact integer counts
# (a = n_plus, b = n_minus; knife-edge e4 round, sign-uniform)
_RUNS_MU = ("(CAST(2 AS DOUBLE) * CAST(n_plus AS DOUBLE)"
            " * CAST(n_minus AS DOUBLE)"
            " / (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))"
            " + CAST(1 AS DOUBLE))")
_RUNS_VAR = (
    "((CAST(2 AS DOUBLE) * CAST(n_plus AS DOUBLE)"
    " * CAST(n_minus AS DOUBLE))"
    " * (CAST(2 AS DOUBLE) * CAST(n_plus AS DOUBLE)"
    " * CAST(n_minus AS DOUBLE)"
    " - CAST(n_plus AS DOUBLE) - CAST(n_minus AS DOUBLE))"
    " / ((CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))"
    " * (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE))"
    " * (CAST(n_plus AS DOUBLE) + CAST(n_minus AS DOUBLE)"
    " - CAST(1 AS DOUBLE))))")
RUNS_Z_SQL = (
    # a+b < 3 also excludes a = b = 1, the ONLY zero-variance point
    # (2ab = a+b there), which is a 0/0 under ANSI (ADVICE r11)
    "CASE WHEN n_plus = 0 OR n_minus = 0"
    " OR n_plus + n_minus < 3 THEN NULL ELSE "
    "CAST(floor((CAST(runs AS DOUBLE) - " + _RUNS_MU + ")"
    " / sqrt(" + _RUNS_VAR + ")"
    " * CAST(10000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS DOUBLE)"
    " / CAST(10000 AS DOUBLE) END")


# The quantileTiming bucketization, ONE copy per engine dialect (the
# r12 *_SQL-constant rule — a resolution tweak must not need lockstep
# edits across operator + weighted twin + three oracles):
# clamp: t = floor(value) pinned to [0, 30000]; bucket: 1 ms exact
# below 1024, 16 ms resolution above. Spark spells integer floor
# division `div`, DuckDB `//` — hence two constants, same contract.
_TIMING_BUCKET_EXPR = ("CASE WHEN _t < 1024 THEN _t "
                       "ELSE (_t div 16) * 16 END")
TIMING_CLAMP_DUCK = (
    "CASE WHEN floor(value) < 0 THEN CAST(0 AS BIGINT) "
    "WHEN floor(value) > 30000 THEN CAST(30000 AS BIGINT) "
    "ELSE CAST(floor(value) AS BIGINT) END")
TIMING_BUCKET_DUCK = "CASE WHEN t < 1024 THEN t ELSE (t // 16) * 16 END"


def _timing_clamp_expr(value_col: str):
    return F.expr(
        f"CASE WHEN floor(CAST({value_col} AS DOUBLE)) < 0 "
        f"THEN CAST(0 AS BIGINT) "
        f"WHEN floor(CAST({value_col} AS DOUBLE)) > 30000 "
        f"THEN CAST(30000 AS BIGINT) "
        f"ELSE CAST(floor(CAST({value_col} AS DOUBLE)) AS BIGINT) END")


def _validate_qs(qs) -> None:
    # empty qs would silently return an empty frame — loud-raise
    # instead, matching sequence_match_multi's empty-pattern posture
    # (ADVICE r12)
    if not qs:
        raise ValueError("qs must be a non-empty tuple of integer "
                         "milli-quantiles in (0, 1000)")
    for q in qs:
        if not (isinstance(q, int) and 0 < q < 1000):
            raise ValueError(f"qs must be integer milli-quantiles in "
                             f"(0, 1000), got {q!r}")


def quantile_timing(events: DataFrame, group_col: str = "event_type",
                    value_col: str = "value",
                    qs: tuple = (500, 900, 990)) -> DataFrame:
    """ClickHouse ``quantileTiming``-family quantiles under the
    documented fixed-resolution timing histogram (public accuracy
    model: latencies in ms are exact below ~1 s, 16 ms-granular above,
    and saturate at 30 s — ClickHouse's own docs state values over
    30 000 ms "are assumed to be 30 000 ms" and results round to
    16 ms past 1024):

        t = floor(value) clamped to [0, 30000]  (negatives → 0)
        bucket(t) = t              for t < 1024   (1 ms exact)
                  = (t div 16)·16  for t ≥ 1024   (16 ms resolution)

    The quantile is the LOWER bucket representative at rank
    max(1, ceil(n·q/1000)) — the exact_quantiles_by_group element
    rule over bucketized values. Unlike HLL/percentile_approx whose
    internals are engine-specific (graded by accuracy CONTRACT only),
    this sketch's output is fully DETERMINED by the documented
    bucketization, so it grades value-exact in plain SQL.

    NULL/NaN/±Inf values and NULL group keys are excluded (mirror in
    twins). Scale: one (group, bucket) count shuffle — state is ≤
    1024 + (30000−1024)/16 + 1 ≈ 2.8k buckets per group regardless of
    row count — plus a cumulative window over that bounded table.

    Returns ``group, q_milli, t_ms``."""
    from pyspark.sql import Window

    _validate_qs(qs)
    counts = (events.where(_quantizable_col(value_col)
                           & F.col(group_col).isNotNull())
              .select(F.col(group_col).alias("_g"),
                      _timing_clamp_expr(value_col).alias("_t"))
              .withColumn("_b", F.expr(_TIMING_BUCKET_EXPR))
              .groupBy("_g", "_b")
              .agg(F.count(F.lit(1)).alias("_c")))
    wcum = (Window.partitionBy("_g").orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("_g")
    cum = (counts.withColumn("_cum", F.sum("_c").over(wcum))
           .withColumn("_n", F.sum("_c").over(wall)))
    qarr = F.array(*[F.lit(int(q)) for q in qs])
    hit = (cum.withColumn("q_milli", F.explode(qarr))
           .where(F.col("_cum") >= F.greatest(
               F.lit(1), F.expr("(_n * q_milli + 999) div 1000"))))
    return (hit.groupBy("_g", "q_milli")
            .agg(F.min("_b").alias("t_ms"))
            .select(F.col("_g").alias(group_col),
                    F.col("q_milli").cast("long").alias("q_milli"),
                    "t_ms"))


def quantile_timing_weighted(events: DataFrame,
                             group_col: str = "event_type",
                             value_col: str = "value",
                             weight_col: str = "wt",
                             qs: tuple = (500, 900, 990)) -> DataFrame:
    """ClickHouse ``quantileTimingWeighted``: :func:`quantile_timing`'s
    documented fixed-resolution bucketization (1 ms exact below 1024,
    16 ms to 30 s, clamp above) with each row counted ``weight`` times —
    same sketch, weighted ranks. The quantile is the LOWER bucket
    representative at weighted rank ``max(1, ceil(W·q/1000))`` over the
    per-group total weight ``W`` — exactly the repeat-count reading of
    the unweighted rule, so a weight-w row is indistinguishable from w
    copies (pinned by test).

    Weights route through the ONE shared integral validator
    (:func:`_integral_weight_expr` — fractional/negative/NaN raise
    loudly); NULL-weight and zero-weight rows contribute nothing and
    are excluded up-front, alongside the NULL/NaN/±Inf value and NULL
    group-key exclusions (mirror all of it in twins). Overflow: ranks
    need ``W·q < 2^63`` — a per-group weight total above 9·10^15
    RAISES a named error (ADVICE r13: never a generic ANSI arithmetic
    error), mirrored in twins.

    Scale: identical shape to the unweighted operator — one
    (group, bucket) SUM shuffle (map-side combine), ≤ ~2.8k buckets
    per group regardless of rows, then the bounded cumulative window.

    Returns ``group, q_milli, t_ms``."""
    from pyspark.sql import Window

    _validate_qs(qs)
    counts = (events.where(_quantizable_col(value_col)
                           & F.col(group_col).isNotNull())
              .withColumn("_w", _integral_weight_expr(
                  "quantile_timing_weighted", weight_col))
              .where(F.col("_w") > 0)
              .select(F.col(group_col).alias("_g"),
                      _timing_clamp_expr(value_col).alias("_t"),
                      "_w")
              .withColumn("_b", F.expr(_TIMING_BUCKET_EXPR))
              .groupBy("_g", "_b")
              .agg(F.sum("_w").alias("_c")))
    wcum = (Window.partitionBy("_g").orderBy("_b")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = Window.partitionBy("_g")
    # the W·q rank-bound guard lives INSIDE the _n expression every
    # rank comparison consumes, so pruning can never drop it
    cum = (counts.withColumn("_cum", F.sum("_c").over(wcum))
           .withColumn("_n0", F.sum("_c").over(wall))
           .withColumn("_n", F.expr(
               "CASE WHEN _n0 > 9000000000000000 THEN "
               "raise_error('quantile_timing_weighted: per-group "
               "weight total exceeds the W*q rank bound (9e15) — "
               "rescale weights') ELSE _n0 END")))
    qarr = F.array(*[F.lit(int(q)) for q in qs])
    hit = (cum.withColumn("q_milli", F.explode(qarr))
           .where(F.col("_cum") >= F.greatest(
               F.lit(1), F.expr("(_n * q_milli + 999) div 1000"))))
    return (hit.groupBy("_g", "q_milli")
            .agg(F.min("_b").alias("t_ms"))
            .select(F.col("_g").alias(group_col),
                    F.col("q_milli").cast("long").alias("q_milli"),
                    "t_ms"))


def group_array_moving_avg(events: DataFrame, n: int = 5,
                           group_col: str = "event_type",
                           ts_col: str = "ts", value_col: str = "value",
                           id_col: str = "event_id") -> DataFrame:
    """ClickHouse's ``groupArrayMovingAvg(n)`` combinator: per group,
    in (ts, id) order, the moving AVERAGE of the last ``n`` values —
    under ClickHouse's documented rule that the divisor is ALWAYS the
    window size ``n`` (never the number of elements accumulated so
    far), with integer result types dividing by truncation. We milli-
    quantize first (the :func:`group_array_moving_sum` substrate), so
    the contract is

        moving_avg_milli = moving_sum_milli div n

    — Spark ``div`` truncates toward zero and DuckDB integer ``//``
    does the same (verified r10: −7 // 2 = −3), so the twin replays
    hash-identically with ``//``; Python replays must use int(a/b)-
    style truncation, not floor division.

    Same shape and exclusions as the moving sum (ONE group-key
    shuffle, bounded ROWS frame; NULL values/timestamps/ids excluded
    up-front — both ordering keys, the r9 window-key rule).
    Returns ``group, pos, avg_milli``."""
    from pyspark.sql import Window

    if n <= 0:
        raise ValueError(f"n must be a positive window size, got {n!r}")
    w = Window.partitionBy(group_col).orderBy(ts_col, id_col)
    wm = w.rowsBetween(-(n - 1), Window.currentRow)
    base = (events
            .where(_quantizable_col(value_col)
                   & F.col(ts_col).isNotNull()
                   & F.col(id_col).isNotNull())
            .withColumn("_vm",
                        F.floor(F.col(value_col).cast("double") * 1000)
                        .cast("long")))
    return (base.withColumn("_ms", F.sum("_vm").over(wm))
            .select(F.col(group_col),
                    F.row_number().over(w).alias("pos"),
                    F.expr(f"_ms div {int(n)}").alias("avg_milli")))


def seasonal_decompose(events: DataFrame, period: int,
                       group_col: str = "event_type",
                       ts_col: str = "ts", value_col: str = "value",
                       id_col: str = "event_id") -> DataFrame:
    """Classical additive seasonal decomposition per group over the
    ``(ts, id)``-ordered milli-quantized series — the deterministic
    integer analog of ClickHouse's ``seriesDecomposeSTL`` (STL's
    loess fits are float-iterative and not engine-exact; the classical
    moving-average decomposition IS, so that is the CONTRACT):

        trend_t    = (Σ_{|j| ≤ h} vm_{t+j}) div period   (centered MA,
                     h = (period−1)/2 — interior rows only)
        detrended  = vm − trend
        seasonal_p = per-(group, phase) mean of detrended over the
                     interior rows, phase = (pos−1) % period,
                     truncating div
        resid      = vm − trend − seasonal

    ``period`` must be ODD and ≥ 3 (the even-period 2×p MA is a
    different estimator — refused loudly, never silently approximated).
    All divisions are integer truncation toward zero — Spark ``div``
    and DuckDB ``//`` agree (r10), so twins replay hash-identically.
    trend/resid are NULL on the h edge rows of each group (no full
    window); seasonal is emitted for every row (phase is always
    defined) and NULL only if a (group, phase) has no interior rows.

    NULL values, timestamps AND ids are excluded up-front (value must
    be quantizable; ts/id are BOTH ordering keys — the r9 window-key
    rule). Scale: ONE scan and ONE shuffle (measured in the plan
    audit): the seasonal means are whole-partition window aggregates
    over (group, phase), and hash-partitioning on the group key
    already satisfies that clustered distribution, so Spark only adds
    a re-sort — no second exchange, and no groupBy + join back (which
    would duplicate the scan+window subtree, the r7 bloom class —
    plan-audit-caught on this operator's first cut). Per-group size
    bounds partition memory like any sorted window.

    Returns ``group, pos, vm_milli, trend_milli, seasonal_milli,
    resid_milli``."""
    from pyspark.sql import Window

    if not (isinstance(period, int) and period >= 3 and period % 2):
        raise ValueError(
            f"period must be an ODD integer >= 3 (the centered MA "
            f"needs a symmetric window; even periods require the 2xp "
            f"MA, a different estimator), got {period!r}")
    h = (period - 1) // 2
    vm = F.floor(F.col(value_col).cast("double") * 1000).cast("long")
    w = Window.partitionBy("_g").orderBy(ts_col, id_col)
    wma = w.rowsBetween(-h, h)
    wall = Window.partitionBy("_g")
    wp = Window.partitionBy("_g", "_phase")
    out = (events.where(_quantizable_col(value_col)
                        & F.col(ts_col).isNotNull()
                        & F.col(id_col).isNotNull())
           .select(F.col(group_col).alias("_g"), ts_col, id_col,
                   vm.alias("vm_milli"))
           .withColumn("pos", F.row_number().over(w))
           .withColumn("_n", F.count(F.lit(1)).over(wall))
           .withColumn("_wsum", F.sum("vm_milli").over(wma))
           .withColumn("trend_milli", F.when(
               (F.col("pos") > h) & (F.col("pos") <= F.col("_n") - h),
               F.expr(f"_wsum div {period}")))
           .withColumn("_phase", F.expr(f"(pos - 1) % {period}"))
           # _d is NULL outside the interior, so sum/count over the
           # (group, phase) partition see interior rows only
           .withColumn("_d", F.col("vm_milli") - F.col("trend_milli"))
           .withColumn("_ssum", F.sum("_d").over(wp))
           .withColumn("_scnt", F.count("_d").over(wp))
           .withColumn("seasonal_milli", F.when(
               F.col("_scnt") > 0, F.expr("_ssum div _scnt")))
           .withColumn("resid_milli",
                       F.col("_d") - F.col("seasonal_milli")))
    return out.select(F.col("_g").alias(group_col), "pos", "vm_milli",
                      "trend_milli", "seasonal_milli", "resid_milli")


def sequence_match_multi(events: DataFrame, patterns: dict,
                         user_col: str = "user_id",
                         ts_col: str = "ts",
                         type_col: str = "event_type",
                         within_hours: "int | None" = None) -> DataFrame:
    """Batch ``sequenceMatch``: evaluate a NAMED SET of step patterns
    in one call — the dashboard shape ("which of these K journeys did
    each user complete?") that would otherwise be K separate queries.

    Each pattern runs the SAME greedy earliest-completion chain as
    :func:`sequence_match` / :func:`funnel` (sibling coherence by
    construction — the shared-semantics contract), with the optional
    ``within_hours`` conversion window applied uniformly; the tagged
    per-user flags union into one result. Patterns evaluate in sorted
    name order so the plan (and any downstream sampling) is
    deterministic.

    Scale (r15 rework): ALL patterns' chains ride ONE window frame over
    the union of their step types — per-pattern conditions are
    ``when()``-guarded, so sharing rows across patterns cannot change
    any chain minimum (a non-matching type contributes NULL to the
    min). Two scans total for any K (chain slice + user universe; the
    previous per-pattern sequence_match union re-planned the events
    scan per chain step — 10 static scans at K=3), one user-keyed
    exchange, Σ|steps| window passes, one literal-struct explode.

    Returns ``user, pattern, matched`` — |users|·K rows."""
    from pyspark.sql import Window

    if not patterns:
        raise ValueError("patterns must be a non-empty "
                         "{name: [step, ...]} dict")
    for name, steps in patterns.items():
        if not steps:
            raise ValueError(f"pattern {name!r} has no steps")
    names = sorted(patterns)
    all_types = sorted({s for name in names for s in patterns[name]})
    w = Window.partitionBy(user_col)
    frame = (events.where(F.col(type_col).isin(all_types))
             .select(user_col, ts_col, type_col))
    for j, name in enumerate(names):
        steps = list(patterns[name])
        frame = frame.withColumn(
            f"_p{j}_0", F.min(F.when(F.col(type_col) == steps[0],
                                     F.col(ts_col))).over(w))
        for i, s in enumerate(steps[1:], start=1):
            cond = ((F.col(type_col) == s)
                    & (F.col(ts_col) > F.col(f"_p{j}_{i - 1}"))
                    & F.col(user_col).isNotNull())
            if within_hours is not None:
                cond = cond & (
                    F.col(ts_col) <= F.col(f"_p{j}_0")
                    + F.expr(f"INTERVAL {int(within_hours)} HOURS"))
            frame = frame.withColumn(
                f"_p{j}_{i}", F.min(F.when(cond, F.col(ts_col))).over(w))
    lasts = [f"_p{j}_{len(patterns[name]) - 1}"
             for j, name in enumerate(names)]
    chain = (frame.groupBy(user_col)
             .agg(*[F.min(last).alias(f"_m{j}")
                    for j, last in enumerate(lasts)]))
    users = events.select(user_col).distinct()
    flags = users.join(chain, user_col, "left")
    rows = F.array(*[
        F.struct(F.lit(name).alias("pattern"),
                 F.coalesce(F.col(f"_m{j}").isNotNull(), F.lit(False))
                 .alias("matched"))
        for j, name in enumerate(names)])
    return (flags.select(user_col, F.explode(rows).alias("r"))
            .select(user_col, "r.pattern", "r.matched"))


def sequence_match_timed(events: DataFrame, steps: list,
                         max_gaps_s: list,
                         user_col: str = "user_id",
                         ts_col: str = "ts",
                         type_col: str = "event_type") -> DataFrame:
    """ClickHouse ``sequenceMatch`` with PER-STEP time constraints —
    the ``'(?1)(?t<=3600)(?2)...'`` pattern form: did the user emit the
    step types in strict time order with each adjacent gap bounded by
    ``max_gaps_s[i]`` seconds (``None`` = unbounded, the plain ``.*``)?

    Greedy earliest-completion chains are WRONG under per-step gaps
    (the earliest step-i event can strand a later one whose gap window
    actually reaches a step-i+1 event: A@00:00, A@05:00, B@05:30 with a
    1 h gap matches only via the 05:00 A — pinned by test). The correct
    existence DP: an event e of type ``steps[i]`` is i-matchable iff
    SOME (i−1)-matchable event lies in ``[ts(e) − gap, ts(e))`` — and
    because the LATEST matchable predecessor strictly before ``ts(e)``
    is in that window whenever any is, each step reduces to a running
    max: union the previous step's matchable rows (markers, kind 1)
    with this step's candidates (kind 0), sort by ``(ts, kind)`` so
    tied-ts markers sort AFTER candidates (strict '>' enforced
    structurally, the sequence_match tie rule), and keep candidates
    whose running marker max is within the gap. Gap bounds are
    INCLUSIVE (``ts(e) − ts(prev) <= gap``), matching ClickHouse's
    ``(?t<=N)``.

    With every gap ``None`` the DP degenerates to "any predecessor
    strictly before" — exactly :func:`sequence_match`'s chain
    existence (sibling coherence pinned by test).

    NULL-ts rows are excluded from the DP (the ordering key — mirror
    in twins); the output keeps one row per distinct user over ALL
    events, NULL users matched=false via the join, exactly the
    sequence_match contract. Returns ``user, matched``.

    Scale: K−1 window passes, each ONE shuffle on the user key over
    (previous matchable ∪ step slice) — never more than the per-user
    event stream; each step's candidate scan is filter-pushed on the
    type column. Pre-project and checkpoint the (user, ts, type) slice
    upstream for very large inputs (the sequence_match_multi
    posture)."""
    base, ms = _timed_matchable_sets(events, steps, max_gaps_s,
                                     user_col, ts_col, type_col)
    users = events.select(user_col).distinct()
    hit = (ms[-1].select(user_col).distinct()
           .withColumn("matched", F.lit(True)))
    return (users.join(hit, user_col, "left")
            .select(user_col,
                    F.coalesce("matched", F.lit(False)).alias("matched")))


def _timed_matchable_sets(events: DataFrame, steps: list,
                          max_gaps_s: list, user_col: str,
                          ts_col: str, type_col: str,
                          carry_chains: bool = False,
                          id_col: "str | None" = None):
    """The ONE copy of the per-step-gap existence DP (shared by
    sequence_match_timed and sequence_match_events): validates inputs,
    then marks per step i the set of i-MATCHABLE events — candidates
    whose running marker max (the latest (i−1)-matchable event
    strictly before them) lies within the inclusive gap.

    SINGLE-FRAME form (r16; the r15 form unioned each step's candidate
    slice with the previous matchable set — K filtered scans of the
    input and K−1 union exchanges): ONE scan of the step-typed rows,
    ONE user-keyed exchange + sort, and K−1 dependent Window nodes over
    the SAME ``(user) ORDER BY _us`` spec (the _chain_frame subsumption
    shape). Each step's matchability is a flag column

        _f0  = (_ty = steps[0])
        _fi  = (_ty = steps[i]) AND _rmi IS NOT NULL
                               AND (_us − gate_i <= gap_i·1e6)
        _rmi = max(CASE WHEN _f{i−1} THEN _us END)
                 OVER (PARTITION BY user ORDER BY _us
                       RANGE UNBOUNDED PRECEDING TO -1)

    The RANGE frame ending at −1 contains exactly the rows with
    ``_us < current _us`` (``_us`` is integral µs), so "strictly
    before, tied timestamps never gate" is structural and DETERMINISTIC
    regardless of how Spark orders tied rows — it replaces the r15
    ``(ts, kind)`` sort trick. Equivalence with the r15 ladder: both
    compute ``max{u ∈ m_{i−1} : u < t}`` per candidate t; the union
    form materialized m_{i−1} as marker rows, this form marks them
    in place. Rows whose type is not in ``steps`` can never be
    matchable and never contribute to any marker max, so the frame
    pre-filters to step types (narrows the one shuffle; mirrors the
    r15 candidate slices).

    With ``carry_chains`` each i-matchable row additionally carries the
    witness times of its admitting prefix as a payload struct ``_pi``:
    the running max becomes a max over ``struct(_mus, chain…)``. Tied
    markers provably carry IDENTICAL chains — STRUCTURALLY here: a
    RANGE frame depends only on the ``_us`` value, so two markers tied
    on ``_us`` see the same frame, hence the same ``_rm``, hence
    byte-equal payload prefixes — and the carried chain equals the
    backward reconstruction ``t_{i−1} = max{u ∈ m_{i−1} : u < t_i}``
    by induction. Existence callers leave it off — the scalar running
    max keeps the per-row state K longs narrower.

    With ``id_col`` (requires ``carry_chains``) each row additionally
    carries witness EVENT IDS under the canonical rule "the MIN id
    among events at the witness (user, time, type)": a marker's own
    id rides the payload NEGATED and LAST, so the running MAX resolves
    tied-us markers to the min id, and every carried field above it
    stays a function of the marker's us (the struct-max argument above
    — time fields first, id fields after, only the final negated
    own-id field ever differs at a tie). NULL-id rows are excluded
    up-front (the r9 NULL-key stance; mirror in twins) — the time
    chain may therefore differ from an id-less call on inputs that
    HAVE NULL ids.

    Returns ``(base, [m_0 .. m_{K-1}])``; each ``m_i`` is
    ``(user, _us[, _c0 .. _c{i-1}][, _id, _i0 .. _i{i-1}])``."""
    from pyspark.sql import Window

    if not steps:
        raise ValueError("steps must be a non-empty list")
    if len(max_gaps_s) != len(steps) - 1:
        raise ValueError(
            f"max_gaps_s must have len(steps) - 1 = {len(steps) - 1} "
            f"entries (one per adjacent pair), got {len(max_gaps_s)}")
    for g in max_gaps_s:
        if g is not None and (not isinstance(g, int) or g <= 0):
            raise ValueError(f"max_gaps_s entries must be positive "
                             f"integer seconds or None, got {g!r}")
    if id_col is not None and not carry_chains:
        raise ValueError("id_col requires carry_chains")
    id_sel = []
    if id_col is not None:
        # integral ids only (the payload negates them for the min-id
        # tie rule); NULL ids excluded up-front — documented above
        events = events.where(F.col(id_col).isNotNull())
        id_sel = [F.col(id_col).cast("long").alias("_id")]
    base = (events.where(F.col(ts_col).isNotNull())
            .select(user_col, F.col(type_col).alias("_ty"),
                    F.unix_micros(F.col(ts_col)).alias("_us"), *id_sel))
    mcols = ["_us"] + (["_id"] if id_col is not None else [])
    # strict-before, tie-excluded: RANGE frame to -1 over integral µs
    w_prev = (Window.partitionBy(user_col).orderBy("_us")
              .rangeBetween(Window.unboundedPreceding, -1))
    frame = (base.where(F.col("_ty").isin(sorted(set(steps))))
             .withColumn("_f0", F.col("_ty") == F.lit(steps[0])))
    if carry_chains:
        pay0 = [F.col("_us").alias("_mus")]
        if id_col is not None:
            pay0.append((-F.col("_id")).alias("_negid"))
        frame = frame.withColumn(
            "_p0", F.when(F.col("_f0"), F.struct(*pay0)))
    chain: list = []     # carried witness-time columns _c0..
    idchain: list = []   # carried witness-id columns _i0.. (positive)
    ms = [frame.where(F.col("_f0")).select(user_col, *mcols)]
    for idx, (s, gap) in enumerate(zip(steps[1:], max_gaps_s), start=1):
        rm = f"_rm{idx}"
        if carry_chains:
            # _p{idx-1} is already NULL on non-matchable rows
            frame = frame.withColumn(
                rm, F.max(F.col(f"_p{idx - 1}")).over(w_prev))
            gate = F.col(f"{rm}._mus")
        else:
            frame = frame.withColumn(
                rm, F.max(F.when(F.col(f"_f{idx - 1}"),
                                 F.col("_us"))).over(w_prev))
            gate = F.col(rm)
        flt = (F.col("_ty") == F.lit(s)) & gate.isNotNull()
        if gap is not None:
            flt = flt & (F.col("_us") - gate
                         <= F.lit(int(gap) * 1_000_000))
        frame = frame.withColumn(f"_f{idx}", flt)
        if carry_chains:
            nxt = f"_c{idx - 1}"
            # witness columns materialized from the admitting marker's
            # payload; field order is load-bearing: _mus first (the
            # real key), then the function-of-us time/id prefixes
            # (equal whenever _mus ties), then the NEGATED own id
            # (so max == min id)
            proj = {c: F.col(f"{rm}.{c}") for c in chain}
            proj[nxt] = F.col(f"{rm}._mus")
            if id_col is not None:
                nxti = f"_i{idx - 1}"
                for c in idchain:
                    proj[c] = F.col(f"{rm}.{c}")
                proj[nxti] = -F.col(f"{rm}._negid")
                idchain = idchain + [nxti]
            chain = chain + [nxt]
            frame = frame.withColumns(proj) if proj else frame
            pay = [F.col("_us").alias("_mus"),
                   *[F.col(c) for c in chain],
                   *[F.col(c) for c in idchain]]
            if id_col is not None:
                pay.append((-F.col("_id")).alias("_negid"))
            frame = frame.withColumn(
                f"_p{idx}", F.when(F.col(f"_f{idx}"), F.struct(*pay)))
            ms.append(frame.where(F.col(f"_f{idx}"))
                      .select(user_col, "_us", *chain,
                              *(["_id", *idchain]
                                if id_col is not None else [])))
        else:
            ms.append(frame.where(F.col(f"_f{idx}"))
                      .select(user_col, "_us"))
    return base, ms


def sequence_match_events(events: DataFrame, steps: list,
                          max_gaps_s: list,
                          user_col: str = "user_id",
                          ts_col: str = "ts",
                          type_col: str = "event_type",
                          id_col: "str | None" = None) -> DataFrame:
    """ClickHouse ``sequenceMatchEvents``: for every user the timed
    pattern matches, return ONE canonical witness chain — the
    timestamps of K events realizing the pattern — instead of just the
    boolean. The witness is fully determined by the DP's own
    structure (deterministic on every engine, no arbitrary pick):

        t_{K−1} = min(m_{K−1})                    (earliest completion)
        t_i     = max{ u ∈ m_i : u < t_{i+1} }    (the admitting marker)

    where ``m_i`` are the matchable sets of :func:`sequence_match_timed`
    (the ONE shared DP). The second line is EXACTLY the running marker
    max under which the DP admitted ``t_{i+1}``, so the gap constraint
    ``t_{i+1} − t_i ≤ gap_{i+1}`` holds by construction — never
    re-checked, provably satisfied (the greedy-fail stream therefore
    yields the LATER step-0 event as its witness, pinned by test).

    Matched users only; tied-timestamp events never chain (inherited).
    NULL users never emit chains (excluded up-front and mirrored in
    the twin's ladder — the matched-flag sibling renders them
    ``matched = false`` on both engines, so emitting a NULL-user
    chain here would contradict it; review-caught r14, the r9
    NULL-key stance). Returns ``user, step_idx, step, t_us`` (epoch
    µs — never raw timestamps), K rows per matched user.

    With ``id_col`` (ClickHouse's ``sequenceMatchEvents`` returns the
    matched events, not just their times) each chain row additionally
    carries the witness EVENT ID under the canonical rule "the MIN id
    among events at the witness (user, time, type)" — deterministic
    under tied timestamps on every engine, and SQL-replayable as a
    per-(user, type, time) ``min(id)`` join in the twin. The ids ride
    the SAME payload (negated under the running max, positive under
    the final min — both resolve to min id; see
    _timed_matchable_sets), so the plan shape is unchanged. NULL-id
    rows are excluded up-front when ids are requested (mirror in
    twins). Output gains an ``event_id`` column (the id cast to
    BIGINT).

    Scale: the chains ride THROUGH the DP as the running max's struct
    payload (``carry_chains`` — identical chains on tied markers make
    the struct max well-defined; see _timed_matchable_sets), so the
    whole operator is the DP's K−1 window passes plus ONE final
    group-by — no backward joins, no re-planned DP subtrees (the first
    cut reconstructed backwards through K−1 joins and re-planned the
    m_i ladder O(K²) times — 18 scans at K=3). The registry query
    (K=3) is pinned at 1 scan / 1 exchange in
    tests/test_scale_patterns.py (PLAN_PINS)."""
    base, ms = _timed_matchable_sets(
        events.where(F.col(user_col).isNotNull()), steps, max_gaps_s,
        user_col, ts_col, type_col, carry_chains=True, id_col=id_col)
    k = len(steps)
    chain_cols = [f"_c{j}" for j in range(k - 1)]
    id_cols = [f"_i{j}" for j in range(k - 1)] if id_col else []
    # earliest completion per user; tied final rows carry identical
    # chains (every field below the leading _us is a function of us —
    # except the own id, where min IS the canonical rule), so min over
    # the struct is the documented pick, never an arbitrary tie-break
    pick_fields = [F.col("_us"), *[F.col(c) for c in chain_cols],
                   *[F.col(c) for c in id_cols]]
    if id_col:
        pick_fields.append(F.col("_id"))
    pick = (ms[-1].groupBy(user_col)
            .agg(F.min(F.struct(*pick_fields)).alias("_w")))
    times = chain_cols + ["_us"]   # step i -> _c{i}, last step -> _us
    ids = id_cols + ["_id"]        # step i -> _i{i}, last step -> _id
    # ONE posexplode, not a K-way union — each union branch would
    # re-plan the pick subtree (the same class as the backward-join
    # cut this operator replaced)
    steps_arr = F.array(*[
        F.struct(F.lit(steps[i]).alias("step"),
                 F.col(f"_w.{times[i]}").alias("t_us"),
                 *([F.col(f"_w.{ids[i]}").alias("event_id")]
                   if id_col else []))
        for i in range(k)])
    out_cols = [user_col, "step_idx",
                F.col("_sv.step").alias("step"),
                F.col("_sv.t_us").alias("t_us")]
    if id_col:
        out_cols.append(F.col("_sv.event_id").alias("event_id"))
    return (pick.select(F.col(user_col),
                        F.posexplode(steps_arr).alias("step_idx", "_sv"))
            .select(*out_cols))


def heavy_hitters_decayed(events: DataFrame, col: str = "event_type",
                          weight_col: str = "wt",
                          ts_col: str = "ts",
                          half_life_s: int = 604800,
                          k: int = 10, capacity: int = 256,
                          as_of_us: "int | None" = None) -> DataFrame:
    """ClickHouse ``topKWeighted`` with TIME DECAY — "what's heavy
    lately?" — under an exact integer half-life contract instead of a
    float exponential: a row of weight w and age a (microseconds before
    the reference instant) contributes

        wd = shiftright(w, min(a div (half_life_s·10⁶), 62))

    i.e. its weight integer-halves once per FULL elapsed half-life
    (ages < one half-life keep full weight; rows after the reference
    instant clamp to age 0; the shift saturates at 62 so wd is 0, never
    an overflow). The quantized-decay CONTRACT is deliberate — a float
    2^(−a/hl) is not engine-exact, while this is pure int64 arithmetic
    both engines replay bit-for-bit (the quantile_timing stance:
    document the deterministic contract, grade value-exact).

    The reference instant defaults to the frame's max event time,
    CONTRACT: max ts over ALL non-NULL-ts input rows, BEFORE the
    value/weight exclusions below — twins must compute it from the
    same pre-exclusion row set (ADVICE r12) — joined in as a broadcast
    1-row aggregate (no driver collect, one plan); pass ``as_of_us``
    for a pinned wall-clock. Decayed-to-zero
    rows drop (they cannot affect any sum). Everything downstream IS
    :func:`heavy_hitters_weighted` — the certified two-pass weighted
    Misra-Gries — so the exactness certificate carries over verbatim:
    the result is the exact decayed-weight top-k or a loud raise,
    never a silent approximation.

    Weight/NULL stance inherited: integral non-negative weights
    enforced loudly, NULL value/weight/ts rows excluded (mirror in
    twins). Returns ``value, weight, rank`` (weight = exact summed
    decayed weight)."""
    if half_life_s <= 0:
        raise ValueError(f"half_life_s must be positive, got "
                         f"{half_life_s!r}")
    base = (events.where(F.col(ts_col).isNotNull())
            .withColumn("_us", F.unix_micros(F.col(ts_col))))
    if as_of_us is None:
        asof = base.agg(F.max("_us").alias("_asof"))
        base = base.crossJoin(F.broadcast(asof))
    else:
        base = base.withColumn("_asof", F.lit(int(as_of_us)))
    hl_us = int(half_life_s) * 1_000_000
    # validate the RAW weight before the cast via the ONE shared
    # integral-weight validator — CAST(0.7 AS BIGINT) would silently
    # zero-weight and NaN would cast to 0 (the avg_weighted review
    # class; a second inline copy here was itself a review catch)
    decayed = (base.withColumn("_wint", _integral_weight_expr(
        "heavy_hitters_decayed", weight_col))
        .withColumn("_age_hl", F.expr(
            f"greatest(CAST(0 AS BIGINT), (_asof - _us) div {hl_us})"))
        .withColumn("_wd", F.expr(
            "shiftright(_wint, CAST(least(_age_hl, 62) AS INT))"))
        .where(F.col("_wd") > 0))
    return heavy_hitters_weighted(decayed, col, "_wd", k=k,
                                  capacity=capacity)
