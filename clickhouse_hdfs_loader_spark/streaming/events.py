"""Structured Streaming over the events table ([EXT] — SURVEY §2.C).

The reference is pure batch; its incremental axis is the per-day ``--dt``
load with daily tables (D2/D3). The streaming mirror: a file-source stream
with tumbling windows + watermark, which at scale becomes the
Kafka-sourced continuous variant of the same daily-load semantics.

``availableNow`` processes the current table content and stops — that
makes the streaming path deterministically testable against the same
DuckDB oracle as the batch query.

Every twin is built from three helpers:

- ``_table_stream`` — the glob-filtered parquet file-source stream over
  one fixture table;
- ``_drain`` — run a stream into a fresh memory sink (shuffle width
  pinned, loud on timeout) and return the sink as a table;
- ``_fold`` — ``foreachBatch`` fold of a ``step(state, batch)`` over the
  micro-batches, checkpointing each new state and releasing the old one.

A new state twin is its ``step`` over ``_fold`` plus its report from
the final state.
"""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import normalize_event_time


@contextmanager
def _stream_shuffle_partitions(spark: SparkSession, n: int = 8):
    """Pin ``spark.sql.shuffle.partitions`` for the duration of one
    availableNow streaming run, restoring the caller's value after.

    Stateful streaming operators (window aggs, stream-stream joins,
    dropDuplicatesWithinWatermark) open one state store PER shuffle
    partition PER micro-batch, and — unlike batch — AQE cannot coalesce
    them: the partition count is fixed when the query starts. Under a
    vanilla session (the round driver / verify harness) the default is
    200, which on a small local cluster spends more time opening and
    committing near-empty HDFS-backed state stores than computing (a
    2-hour-interval stream-stream join at sf0.01 blew a 120 s budget at
    151/200 stores; measured 200→timeout, 32→91 s, 8→19 s, 4→5 s with
    identical results). These helpers always start from a FRESH implicit
    checkpoint, so re-pinning the count per run is safe; a long-lived
    production stream would instead size the count once to match its
    state volume and keep it for the checkpoint's lifetime. The local
    default is overridable without code via
    ``SPARK_GRAFT_STREAM_SHUFFLE`` (r16, guide §2.5: scale-dependent
    widths stay parameterised — at production state volumes this is
    sized to state, not cores)."""
    import os
    n = int(os.environ.get("SPARK_GRAFT_STREAM_SHUFFLE", n))
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _run_to_completion(q, timeout: int = 300) -> None:
    """Await an availableNow query and FAIL LOUDLY on timeout:
    ``awaitTermination(t)`` returns False when the query is still running
    — stopping it there and reading the memory sink would silently return
    a partial result, which is worse than an error."""
    try:
        if not q.awaitTermination(timeout):
            raise TimeoutError(
                f"streaming query {q.name!r} still running after "
                f"{timeout}s — refusing to read a partial sink")
    finally:
        q.stop()


def _table_stream(spark: SparkSession, sf_dir: str,
                  table: str) -> DataFrame:
    """File-source stream over one fixture table: file sources take a
    directory, so glob-filter to the table's parquet file."""
    schema = spark.read.parquet(f"{sf_dir}/{table}.parquet").schema
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{table}.parquet")
            .parquet(sf_dir))


def _drain(spark: SparkSession, df: DataFrame,
           mode: str = "append") -> DataFrame:
    """Run ``df`` availableNow into a fresh memory sink under the pinned
    stream shuffle width and return the sink's table."""
    sink = f"drain_{uuid.uuid4().hex[:8]}"
    with _stream_shuffle_partitions(spark):
        q = (df.writeStream.format("memory").queryName(sink)
             .outputMode(mode)
             .trigger(availableNow=True)
             .start())
        _run_to_completion(q)
    return spark.table(sink)


def _fold(stream: DataFrame, step):
    """Fold ``state = step(state, batch)`` over the stream's
    micro-batches via ``foreachBatch`` and return the final state.
    ``step`` sees ``None`` on the first batch; the state is a DataFrame
    or a tuple of them. Each new state is checkpointed (its lineage
    stays one batch deep) and the superseded one unpersisted — a
    long-running stream would otherwise pin one state copy per
    micro-batch. At scale the state lives in a table the step merges
    into; here it is driver-held so availableNow runs compare
    deterministically."""
    held: list = []

    def fold(bdf: DataFrame, _epoch: int) -> None:
        prev = held[0] if held else None
        nxt = step(prev, bdf)
        if isinstance(nxt, tuple):
            nxt = tuple(d.localCheckpoint(eager=True) for d in nxt)
        else:
            nxt = nxt.localCheckpoint(eager=True)
        if held:
            for d in prev if isinstance(prev, tuple) else (prev,):
                d.unpersist()
        held[:] = [nxt]

    q = (stream.writeStream.foreachBatch(fold)
         .trigger(availableNow=True)
         .start())
    _run_to_completion(q)
    if not held:
        raise RuntimeError("stream produced no batches")
    return held[0]


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nanosAsLong is set BEFORE _table_stream reads the schema — in the
    # other order NANOS-typed fixtures break
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = _table_stream(spark, sf_dir, "events")
    # normalize ts (ns-long or TIMESTAMP_NTZ → LTZ) so watermarks/windows
    # see real event time; see sources.tables.normalize_event_time
    return normalize_event_time(spark, stream)


def hourly_window_agg(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour windows with late-data watermark: the canonical
    `readStream → withWatermark → window → agg` shape."""
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.sum("value"), 2).alias("total_value"))
            .select(F.unix_timestamp(F.col("w.start")).alias("win_start"),
                    "event_type", "cnt", "total_value"))


def hourly_windows_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the windowed agg as an actual stream (availableNow → memory
    sink), return the materialized result. Complete output mode because the
    sink is the full aggregate state."""
    return _drain(spark, hourly_window_agg(events_stream(spark, sf_dir)),
                  "complete")


def sliding_windows_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-window streaming aggregation: 2-hour windows sliding
    every hour (each event belongs to two windows — Spark expands
    membership with a static Expand before the stateful agg).
    availableNow → complete-mode memory sink, so the result is the full
    aggregate state and must converge to the batch twin
    (plans/queries.py:events_sliding_windows, same oracle)."""
    s = events_stream(spark, sf_dir)
    agg = (s.withWatermark("ts", "2 hours")
           .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"),
                    "event_type")
           .agg(F.count(F.lit(1)).alias("cnt"),
                F.round(F.sum("value"), 2).alias("total_value"))
           .select(F.unix_timestamp(F.col("w.start")).alias("win_start"),
                   "event_type", "cnt", "total_value"))
    return _drain(spark, agg, "complete")


def stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked streaming dedup: every source row is doubled (explode),
    then ``dropDuplicatesWithinWatermark`` on the event id collapses the
    duplicates with bounded state (dedup keys older than the watermark are
    evicted — the scale-safe form of streaming exact dedup). Append-mode
    stream; the per-type count runs batch-side on the sink so the stream
    holds exactly one stateful operator."""
    s = events_stream(spark, sf_dir)
    doubled = (s.withColumn("copy", F.explode(F.array(F.lit(1), F.lit(2))))
               .drop("copy"))
    deduped = (doubled.withWatermark("ts", "1 hour")
               .dropDuplicatesWithinWatermark(["event_id"]))
    return (_drain(spark, deduped).groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt")))


def stream_static_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against the static
    customer dimension (broadcast per micro-batch, no state) — the
    canonical dimension-enrichment shape. The join runs in-stream
    (append mode, stateless); the per-nation rollup runs batch-side on
    the sink."""
    s = events_stream(spark, sf_dir)
    dim = (spark.read.parquet(f"{sf_dir}/customer.parquet")
           .select(F.col("c_custkey").alias("user_id"), "c_nationkey"))
    joined = s.join(F.broadcast(dim), "user_id")
    return (_drain(spark, joined).groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.round(F.sum("value"), 2).alias("total_value")))


def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER join with event-time interval bounds — the
    canonical stateful two-stream shape (clickstream attribution): click
    and purchase events arrive as two independent streams; a purchase
    matches every click by the same user in the preceding hour.

    Both sides carry a watermark and the join condition carries the time
    range, which is exactly what lets Spark bound the state store: each
    side buffers only rows younger than watermark + interval, everything
    older is provably unmatchable and evicted. Without the range
    predicate a stream-stream join would have to buffer both streams
    forever. Append mode — matched pairs are final the moment both
    watermarks pass the interval, so the sink receives each pair exactly
    once and must converge to the batch twin's pair list."""
    clicks = (events_stream(spark, sf_dir)
              .where(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"))
              .withWatermark("c_ts", "2 hours"))
    buys = (events_stream(spark, sf_dir)
            .where(F.col("event_type") == "purchase")
            .select(F.col("event_id").alias("purchase_id"),
                    F.col("user_id").alias("p_user"),
                    F.col("ts").alias("p_ts"))
            .withWatermark("p_ts", "2 hours"))
    pairs = clicks.join(
        buys,
        F.expr("c_user = p_user AND p_ts >= c_ts "
               "AND p_ts < c_ts + INTERVAL 1 HOUR"))
    return _drain(spark, pairs.select("click_id", "purchase_id"))


def stream_incremental_dedup(spark: SparkSession, sf_dir: str,
                             batch_mod: int = 5) -> DataFrame:
    """Continuous-ingest dedup — the streaming twin of
    operators/dedup.incremental_dedup: documents arrive as a file-source
    stream, rows with ``doc_id % batch_mod == 0`` play the incoming feed,
    each row is fingerprinted in-stream and anti-joined against the
    STATIC fingerprint store of the already-ingested corpus (stream-static
    left_anti is stateless — evaluated per micro-batch, no state store),
    so at scale this runs forever on a Kafka source with the store as a
    periodically-refreshed snapshot. The min-id keeper aggregate runs
    batch-side on the sink: anti-join-then-aggregate equals
    aggregate-then-anti-join because the join key IS the group key."""
    from ..functions.text import md5_fingerprint

    stream = (_table_stream(spark, sf_dir, "documents")
              .where(F.col("doc_id") % batch_mod == 0)
              .select("doc_id", md5_fingerprint(F.col("text")).alias("fp")))
    store = (spark.read.parquet(f"{sf_dir}/documents.parquet")
             .where(F.col("doc_id") % batch_mod != 0)
             .select(md5_fingerprint(F.col("text")).alias("fp"))
             .distinct())
    fresh = stream.join(F.broadcast(store), "fp", "left_anti")
    return (_drain(spark, fresh).groupBy("fp")
            .agg(F.min("doc_id").alias("doc_id"),
                 F.count(F.lit(1)).alias("copies"))
            .select("doc_id", "fp", "copies"))


def stream_incremental_minhash(spark: SparkSession, sf_dir: str,
                               batch_mod: int = 5) -> DataFrame:
    """Streaming twin of operators/dedup.incremental_minhash_dedup —
    continuous FUZZY ingest. Documents with ``doc_id % batch_mod == 0``
    arrive as a file-source stream; each micro-batch is classified
    against the STATIC persisted MinHash band index of the already-
    ingested corpus via ``foreachBatch``, which hands the micro-batch
    over as a plain DataFrame so the exact batch operator runs unchanged
    (signature groupBy and band joins are per-batch — no streaming state
    store, identical results to the batch path by construction).

    ``foreachBatch`` is the idiomatic shape when per-record streaming
    operators can't express the logic (multi-aggregate + self-join): at
    scale the same closure runs on a Kafka source with the band index as
    a periodically-refreshed snapshot and the statuses written to a real
    sink; here the sink is a driver-side buffer so availableNow runs are
    deterministically comparable to the batch twin."""
    from ..operators.dedup import incremental_minhash_dedup, minhash_band_index

    stream = (_table_stream(spark, sf_dir, "documents")
              .where(F.col("doc_id") % batch_mod == 0))
    store_idx = minhash_band_index(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") % batch_mod != 0))
    out_rows: list = []

    def classify(bdf: DataFrame, _epoch: int) -> None:
        out_rows.extend(
            incremental_minhash_dedup(bdf, store_idx).collect())

    q = (stream.writeStream.foreachBatch(classify)
         .trigger(availableNow=True)
         .start())
    _run_to_completion(q)
    return spark.createDataFrame(out_rows, "doc_id long, status string")


def stream_rollup_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators/rollup: events arrive as a file-source
    stream and each micro-batch's day-grain partial rollup merges into
    the running state via ``foreachBatch`` (the mergeable-state columns —
    int64 counts/cent-sums, HLL union — are exactly what makes per-batch
    merge ≡ one-shot aggregation; pinned against the batch rollup by
    test). At scale the state lives in a table the closure MERGEs into;
    here it is a driver-held DataFrame so availableNow runs compare
    deterministically."""
    from ..operators.rollup import build_rollup, merge_rollups

    def step(state, bdf: DataFrame) -> DataFrame:
        part = build_rollup(bdf)
        return part if state is None else merge_rollups(state, part)

    return _fold(events_stream(spark, sf_dir), step)


def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the cdc_apply→merge_upsert pipeline —
    continuous CDC ingest: micro-batches of the op log (the orders
    table with the same deterministic op derivation as the graded
    ``cdc_apply`` query) each collapse to their per-key latest op
    (``cdc_apply(keep_deletes=True)``) and MERGE into the running
    snapshot via ``merge_upsert`` inside ``foreachBatch``.

    Correctness contract: per-batch collapse + sequential merge equals
    the one-shot ``cdc_apply`` over the whole log IFF batches partition
    the log in op order per key — true of any ordered commit log
    (binlog; Kafka preserves order within a key-hashed partition) and
    trivially of this availableNow file source; pinned against the
    batch query by test, with the two-batch in-order case covered at
    unit level (tests/test_cdc.py). At scale the snapshot is a table
    the closure MERGEs into; here it is a driver-held checkpointed
    DataFrame so runs compare deterministically."""
    from ..operators.cdc import cdc_apply, merge_upsert

    def step(snapshot, bdf: DataFrame) -> DataFrame:
        ops = bdf.select(
            "o_custkey", "o_orderkey", "o_orderdate", "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("delete"))
            .otherwise(F.lit("upsert")).alias("op"))
        changes = cdc_apply(ops, ["o_custkey"],
                            ["o_orderdate", "o_orderkey"],
                            keep_deletes=True)
        base = changes.drop("op").limit(0) if snapshot is None else snapshot
        return merge_upsert(base, changes, ["o_custkey"])

    return (_fold(_table_stream(spark, sf_dir, "orders"), step)
            .select("o_custkey", "o_orderkey", "o_totalprice",
                    "o_orderstatus"))


def stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators/analytics.event_transitions —
    continuous next-event matrix maintenance: each micro-batch folds
    into the (counts, last_event_per_user) state via
    ``transitions_update`` inside ``foreachBatch``; the boundary pair
    carried per user makes per-batch folding ≡ one-shot (the
    incremental-equals-one-shot contract, hypothesis-tested at unit
    level over arbitrary in-order splits). At scale the two state
    tables live in storage the closure merges into; here they are
    driver-held checkpointed DataFrames so availableNow runs compare
    deterministically against the batch operator."""
    from ..operators.analytics import (normalize_transitions,
                                       transitions_update)

    counts, _last = _fold(
        events_stream(spark, sf_dir),
        lambda state, bdf: transitions_update(*(state or (None, None)),
                                              bdf))
    return normalize_transitions(counts)


def stream_funnel(spark: SparkSession, sf_dir: str,
                  steps: "list[str] | None" = None,
                  within_hours: "int | None" = None) -> DataFrame:
    """Streaming twin of operators/analytics.funnel — continuous funnel
    maintenance: each micro-batch folds into the per-user chain state
    via ``funnel_update`` inside ``foreachBatch`` (the synthetic-chain-
    event reduction makes per-batch folding ≡ the one-shot funnel for
    any in-order split; hypothesis-tested at unit level). The final
    report derives from the |users|-row state alone."""
    from ..operators.analytics import funnel_counts, funnel_update

    steps = steps or ["view", "click", "purchase"]
    chain = _fold(events_stream(spark, sf_dir),
                  lambda state, bdf: funnel_update(
                      state, bdf, steps, within_hours=within_hours))
    return funnel_counts(chain, steps)


def stream_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of operators/analytics.entropy_by_group: each
    micro-batch folds into the (group, value, c) count state via
    ``entropy_update`` inside ``foreachBatch``. Counts are a
    commutative int-sum monoid, so the fold is order-insensitive
    (retention-grade contract) and the milli-log2 report derives from
    state alone — raw events are never rescanned."""
    from ..operators.analytics import entropy_from_state, entropy_update

    return entropy_from_state(_fold(events_stream(spark, sf_dir),
                                    entropy_update))


def stream_retention(spark: SparkSession, sf_dir: str,
                     max_offset: int = 8) -> DataFrame:
    """Streaming twin of operators/analytics.retention_cohorts: each
    micro-batch folds into the (first-event, active-weeks) state pair
    via ``retention_update`` inside ``foreachBatch``. Both state tables
    are commutative monoids (min / set-union), so the fold is
    order-insensitive — the strongest of the incremental contracts in
    this module — and the report derives from state alone."""
    from ..operators.analytics import retention_from_state, retention_update

    first, active = _fold(
        events_stream(spark, sf_dir),
        lambda state, bdf: retention_update(*(state or (None, None)),
                                            bdf))
    return retention_from_state(first, active, max_offset=max_offset)


def stream_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming A/B monitor twin: each micro-batch folds into the
    per-group six-moment t-test state via ``stats.ttest_update`` inside
    ``foreachBatch`` (int-sum monoid — order-insensitive, the
    entropy/retention contract), and the Welch + Student report derives
    from the O(|groups|) state alone. Side = user parity (the batch
    twin's derivation); rows with NULL users are excluded identically.
    Matches the batch operators exactly by test."""
    from ..operators.stats import (events_user_sides, ttest_from_state,
                                   ttest_update)

    return ttest_from_state(_fold(
        events_stream(spark, sf_dir),
        lambda state, bdf: ttest_update(state, events_user_sides(bdf))))


def stream_two_proportion(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Streaming conversion-rate A/B monitor twin: each micro-batch
    derives side = user parity and flag = event_id parity (the batch
    twin's derivation — NULL user/event_id/group rows excluded
    identically to the graded oracle's WHERE)
    and folds into the per-group four-count proportion state via
    ``stats.prop_update`` inside ``foreachBatch`` (int-sum monoid —
    order-insensitive, the stream_ab_test contract); the pooled-z
    report derives from the O(|groups|) state alone through
    ``stats.prop_from_state``. Matches the batch operator exactly by
    test."""
    from ..operators.stats import (events_conversion_sides,
                                   prop_from_state, prop_update)

    # the derivation is the registry wrapper's own function, so the
    # NULL-group exclusion cannot drift between the twins again
    return prop_from_state(_fold(
        events_stream(spark, sf_dir),
        lambda state, bdf: prop_update(state,
                                       events_conversion_sides(bdf))))


def stream_mutual_information(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Streaming twin of operators/stats.mutual_information: each
    micro-batch derives the graded projection's bins (value mod-7
    bucket × user mod-5 class, the theils_u/MI registry derivation)
    and folds into the ``(group, x, y, c)`` cell-count state via
    ``stats.mi_update`` inside ``foreachBatch`` — a commutative
    int-sum monoid, so the fold is order-insensitive (the
    entropy/retention contract) — and the milli-log2 MI/NMI report
    derives from state alone through the SAME rollup code path as the
    batch operator."""
    from ..operators.stats import events_xy_bins, mi_from_state, mi_update

    cells = _fold(
        events_stream(spark, sf_dir),
        lambda state, bdf: mi_update(state, events_xy_bins(bdf),
                                     "event_type", "xbin", "ybin"))
    return mi_from_state(cells, "event_type", "xbin", "ybin")


def stream_exact_quantiles(spark: SparkSession, sf_dir: str,
                           qs_milli: "tuple[int, ...]" = (250, 500, 750),
                           ) -> DataFrame:
    """Streaming twin of the exact-quantile family: each micro-batch
    folds into the ``(group, vm, c)`` value-count state via
    ``analytics.quantile_update`` inside ``foreachBatch`` (int-sum
    monoid — order-insensitive, the entropy/retention contract), and
    the exact lower quantiles derive from state alone through
    ``quantiles_from_state`` — identical to the batch operator over
    the same rows by construction, pinned by test."""
    from ..operators.analytics import (quantile_update,
                                       quantiles_from_state)

    return quantiles_from_state(
        _fold(events_stream(spark, sf_dir), quantile_update),
        qs_milli=qs_milli)


def stream_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming regression monitor twin: each micro-batch folds into
    the per-group five-moment linear-regression state via
    ``stats.trend_update`` inside ``foreachBatch`` (an int-sum monoid
    over DECIMAL(38,0) sums — order-insensitive because x is the
    ABSOLUTE epoch second, never rebased; the stream_two_proportion
    contract), and the slope/intercept report derives from the
    O(|groups|) state alone through ``stats.trend_from_state``.
    Matches the batch ``linear_trend`` exactly by test."""
    from ..operators.stats import trend_from_state, trend_update

    # trend_update excludes NULL groups itself, per batch
    return trend_from_state(_fold(events_stream(spark, sf_dir),
                                  trend_update))


def stream_classification_report(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Streaming classifier-quality monitor twin: each micro-batch
    derives pred = event_id parity and label = user parity (the batch
    twin's derivation) and folds into the per-group confusion-count
    state via ``stats.clsrep_update`` inside ``foreachBatch`` (an
    int-sum monoid — order-insensitive, the stream_two_proportion
    contract; NULL user/event_id rows excluded HERE and NULL groups
    inside the fold — a stream twin has no registry wrapper, the r14
    rule); precision/recall/F1/accuracy derive from the O(|groups|)
    state alone through ``stats.clsrep_from_state``. Matches the
    batch ``classification_report`` exactly by test."""
    from ..operators.stats import (clsrep_from_state, clsrep_update,
                                   events_pred_label)

    return clsrep_from_state(_fold(
        events_stream(spark, sf_dir),
        lambda state, bdf: clsrep_update(state, events_pred_label(bdf))))
