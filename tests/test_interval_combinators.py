"""Interval/series ClickHouse-combinator analogs: intervalLengthSum,
maxIntersections(Position), deltaSum, boundingRatio, sequenceNextNode,
largestTriangleThreeBuckets.

Each relational operator carries its in-test DuckDB exact-replay oracle
(the r6 pattern — same rigor as a registry grade, promotion-ready: every
aggregate is CAST so no HUGEINT/DECIMAL ever reaches a driver hash
path). LTTB is pinned by an EXACT-RATIONAL independent replay
(fractions.Fraction), not a float twin — matching rounding cannot mask a
selection bug.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
from clickhouse_hdfs_loader_spark.sources.tables import read_table

# interval derivation shared by the interval-op tests: each event opens
# a half-open interval of floor(value*10) seconds at floor(epoch) —
# integer-exact on both engines (identical float expression order; the
# DuckDB side is the registry's _IV_SQL)
def _iv_spark(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        _quantizable_col)
    ev = read_table(spark, sf_dir, "events")
    sec = F.unix_timestamp("ts")
    return (ev.where(F.col("ts").isNotNull() & _quantizable_col("value"))
            .select(F.col("event_type").alias("g"),
                    F.col("event_id").alias("id"),
                    sec.alias("s"),
                    (sec + F.floor(F.col("value") * 10).cast("long"))
                    .alias("e")))


def _duck(sf_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    return con


def test_interval_length_sum_oracle_and_hand_case(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.intervals import (
        interval_length_sum)

    got = sorted(map(tuple, interval_length_sum(
        _iv_spark(spark, sf_dir), "g", "s", "e", id_col="id").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["interval_length_sum"].oracle).fetchall()))
    assert got == want and len(got) == 5

    # hand case: [0,10) ∪ [5,12) ∪ [12,20) merge (touching joins the
    # covered segment); [25,30) stands alone -> 25 covered, 2 segments
    synth = spark.createDataFrame(
        [("g", 1, 0, 10), ("g", 2, 5, 12), ("g", 3, 12, 20),
         ("g", 4, 25, 30)],
        "g string, id int, s long, e long")
    row = interval_length_sum(synth, "g", "s", "e", id_col="id").first()
    assert (row["union_len"], row["segments"], row["intervals"]) \
        == (25, 2, 4)


def test_interval_length_sum_tie_and_exclusion_rules(spark):
    from clickhouse_hdfs_loader_spark.operators.intervals import (
        interval_length_sum)

    # duplicate intervals, a zero-length interval (contributes 0 inside
    # its segment), and an inverted interval (excluded)
    synth = spark.createDataFrame(
        [("g", 1, 0, 4), ("g", 2, 0, 4), ("g", 3, 2, 2),
         ("g", 4, 9, 5)],
        "g string, id int, s long, e long")
    row = interval_length_sum(synth, "g", "s", "e", id_col="id").first()
    assert (row["union_len"], row["segments"], row["intervals"]) \
        == (4, 1, 3)


def test_max_intersections_oracle_and_hand_case(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.intervals import (
        max_intersections)

    got = sorted(map(tuple, max_intersections(
        _iv_spark(spark, sf_dir), "g", "s", "e").collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["max_intersections"].oracle).fetchall()))
    assert got == want and len(got) == 5
    assert all(r[1] >= 1 for r in got)

    # hand case: 3 intervals open at point 9; [10,11) does NOT stack on
    # [0,10) (half-open: the close at 10 applies before the open)
    synth = spark.createDataFrame(
        [("g", 0, 10), ("g", 5, 12), ("g", 9, 10), ("g", 10, 11),
         ("h", 0, 1), ("h", 1, 2)],
        "g string, s long, e long")
    rows = {r["g"]: (r["max_intersections"], r["position"])
            for r in max_intersections(synth, "g", "s", "e").collect()}
    assert rows == {"g": (3, 9), "h": (1, 0)}


def test_delta_sum_oracle_and_hand_case(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.analytics import delta_sum

    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, delta_sum(ev).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["delta_sum"].oracle).fetchall()))
    assert got == want and len(got) == 5

    # counter with a reset: 1 -> 3 (+2), 3 -> 2 (reset, +0), 2 -> 5 (+3)
    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    synth = spark.createDataFrame(
        [(1, "g", t0, 1.0), (2, "g", t0 + h, 3.0),
         (3, "g", t0 + 2 * h, 2.0), (4, "g", t0 + 3 * h, 5.0)],
        "event_id long, event_type string, ts timestamp, value double")
    assert delta_sum(synth).first()["delta_sum_milli"] == 5000


def test_non_negative_derivative_oracle_and_hand_cases(spark, sf_dir):
    """non_negative_derivative: in-test DuckDB oracle (registry
    standard, r16 queue) — the lag + guarded-div + clamp chain replays
    verbatim (truncating `div` ≡ `//`, r10); hand cases pin the rate
    arithmetic, the counter-reset clamp, the tied-ts NULL, and the
    first-row NULL."""
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        non_negative_derivative)

    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, non_negative_derivative(ev).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["non_negative_derivative"].oracle).fetchall()))
    assert got == want and len(got) > 0
    assert any(r[3] is not None and r[3] > 0 for r in got)

    t0 = dt.datetime(2024, 1, 1)

    def run(rows):
        df = spark.createDataFrame(
            [(i, "g", t0 + dt.timedelta(seconds=s), v)
             for i, s, v in rows],
            "event_id long, event_type string, ts timestamp, "
            "value double")
        return [r["rate_milli_per_s"] for r in
                non_negative_derivative(df)
                .orderBy("t_us", "event_id").collect()]

    # 1.0 -> 3.0 over 4 s: 2000 milli / 4 s = 500 milli-units/s;
    # reset 3.0 -> 0.5 clamps to 0; 0.5 -> 0.75 over 1 s = 250
    assert run([(1, 0, 1.0), (2, 4, 3.0), (3, 8, 0.5),
                (4, 9, 0.75)]) == [None, 500, 0, 250]
    # tied timestamps: the second row of the tie is NULL (defined),
    # and the NEXT row differences against the tied row before it
    assert run([(1, 0, 1.0), (2, 0, 2.0), (3, 2, 4.0)]) == [
        None, None, 1000]
    # truncating division both engines: 1000 milli over 3 s -> 333
    assert run([(1, 0, 0.0), (2, 3, 1.0)]) == [None, 333]


def test_bounding_ratio_oracle_and_hand_case(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        bounding_ratio)

    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, bounding_ratio(ev).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["bounding_ratio"].oracle).fetchall()))
    assert got == want and len(got) == 5

    # hand case: (t=0, 1.0) -> (t=10s, 21.0): +20000 milli over 10 s
    # = 2000 milli/sec; a single-point group yields NULL slope
    t0 = dt.datetime(2024, 1, 1)
    synth = spark.createDataFrame(
        [(1, "g", t0, 1.0), (2, "g", t0 + dt.timedelta(seconds=10), 21.0),
         (3, "solo", t0, 7.0)],
        "event_id long, event_type string, ts timestamp, value double")
    rows = {r["event_type"]: r for r in bounding_ratio(synth).collect()}
    assert rows["g"]["num_milli"] == 20000
    assert rows["g"]["den_us"] == 10_000_000
    assert rows["g"]["slope_milli_per_sec_e4"] == 2000.0
    assert rows["solo"]["den_us"] == 0
    assert rows["solo"]["slope_milli_per_sec_e4"] is None


def test_sequence_next_node_oracle_and_hand_case(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_next_node)

    ev = read_table(spark, sf_dir, "events")
    steps = ["view", "click"]
    got = sorted(map(tuple, sequence_next_node(ev, steps).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["sequence_next_node"].oracle).fetchall()))
    assert got == want and len(got) > 0

    # hand case: the chain completes at the click; the NEXT event is the
    # error (ties with the purchase broken by event_id? no — strictly
    # later rows only; the error at +2h precedes the purchase at +3h)
    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    synth = spark.createDataFrame(
        [(1, 1, "view", t0), (2, 1, "click", t0 + h),
         (3, 1, "error", t0 + 2 * h), (4, 1, "purchase", t0 + 3 * h),
         (5, 2, "view", t0), (6, 2, "click", t0 + h)],
        "event_id long, user_id long, event_type string, ts timestamp")
    synth = synth.withColumn("value", F.lit(1.0))
    rows = sorted(map(tuple,
                      sequence_next_node(synth, ["view", "click"])
                      .collect()))
    # user 2 has no event after the chain -> absent by contract
    assert rows == [("error", 1)]


def test_sequence_next_node_tie_break(spark):
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_next_node)

    # two candidate next events at the SAME timestamp: min event_id wins
    t0 = dt.datetime(2024, 1, 1)
    h = dt.timedelta(hours=1)
    synth = spark.createDataFrame(
        [(1, 1, "view", t0), (2, 1, "click", t0 + h),
         (9, 1, "error", t0 + 2 * h), (3, 1, "purchase", t0 + 2 * h)],
        "event_id long, user_id long, event_type string, ts timestamp")
    rows = sorted(map(tuple,
                      sequence_next_node(synth, ["view", "click"])
                      .collect()))
    assert rows == [("purchase", 1)]


def test_window_funnel_strict_order_oracle_and_hand_cases(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        window_funnel_strict_order)

    ev = read_table(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    got = sorted(map(tuple, window_funnel_strict_order(
        ev, steps, within_hours=24).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["window_funnel_strict_order"].oracle).fetchall()))
    assert got == want and len(got) > 0
    n_users = _duck(sf_dir).execute(
        "SELECT count(DISTINCT user_id) FROM events WHERE ts IS NOT "
        "NULL").fetchone()[0]
    assert sum(u for _l, u in got) == n_users

    # hand cases: user 1 completes view->click->purchase consecutively;
    # user 2's intervening error BREAKS the chain at level 1 (the same
    # history passes the non-strict funnel); user 3's click lands
    # outside the 1-hour window -> level 1
    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=10)
    synth = spark.createDataFrame(
        [(1, 1, "view", t0), (2, 1, "click", t0 + m),
         (3, 1, "purchase", t0 + 2 * m),
         (4, 2, "view", t0), (5, 2, "error", t0 + m),
         (6, 2, "click", t0 + 2 * m),
         (7, 3, "view", t0), (8, 3, "click", t0 + 9 * m)],
        "event_id long, user_id long, event_type string, ts timestamp")
    rows = {r["level"]: r["users"] for r in window_funnel_strict_order(
        synth, ["view", "click", "purchase"], within_hours=1).collect()}
    assert rows == {3: 1, 1: 2}
    # without the window, user 3's chain holds to level 2
    rows = {r["level"]: r["users"] for r in window_funnel_strict_order(
        synth, ["view", "click", "purchase"]).collect()}
    assert rows == {3: 1, 1: 1, 2: 1}


def test_lttb_downsample_exact_rational_replay(spark, sf_dir):
    """Independent replay: re-derive every LTTB pick with EXACT rational
    arithmetic (Fraction means and areas) over the same sorted series —
    a float-rounding bug in the operator cannot produce a matching
    selection here."""
    from fractions import Fraction

    from clickhouse_hdfs_loader_spark.operators.downsample import (
        lttb_downsample)

    threshold = 24
    ev = (read_table(spark, sf_dir, "events")
          .select("event_type",
                  F.unix_micros("ts").cast("double").alias("x"),
                  F.col("value").alias("y")))
    got = {}
    for r in lttb_downsample(ev, "event_type", "x", "y",
                             threshold).collect():
        got.setdefault(r["event_type"], {})[r["pos"]] = (r["x"], r["y"])

    pts = _duck(sf_dir).execute(
        "SELECT event_type, CAST(epoch_us(ts) AS DOUBLE) AS x, value "
        "AS y FROM events WHERE ts IS NOT NULL AND value IS NOT NULL "
        "ORDER BY event_type, x, y").fetchall()
    series: dict = {}
    for g, x, y in pts:
        series.setdefault(g, []).append((x, y))

    assert set(got) == set(series)
    for g, s in series.items():
        xs = [p[0] for p in s]
        ys = [p[1] for p in s]
        n = len(xs)
        if n <= threshold:
            idx = list(range(n))
        else:
            every = (n - 2) / (threshold - 2)
            idx = [0]
            a = 0
            for i in range(threshold - 2):
                lo = int((i * every) // 1) + 1
                hi = int(((i + 1) * every) // 1) + 1
                nb_lo = hi
                nb_hi = min(int(((i + 2) * every) // 1) + 1, n)
                if nb_lo >= nb_hi:
                    nb_lo, nb_hi = n - 1, n
                m = nb_hi - nb_lo
                bx = sum(Fraction(xs[j]) for j in range(nb_lo, nb_hi)) / m
                by = sum(Fraction(ys[j]) for j in range(nb_lo, nb_hi)) / m
                ax, ay = Fraction(xs[a]), Fraction(ys[a])
                best, best_area = lo, Fraction(-1)
                for c in range(lo, hi):
                    area = abs((ax - bx) * (Fraction(ys[c]) - ay)
                               - (ax - Fraction(xs[c])) * (by - ay))
                    if area > best_area:
                        best, best_area = c, area
                idx.append(best)
                a = best
            idx.append(n - 1)
        expect = {pos: (xs[i], ys[i]) for pos, i in enumerate(idx)}
        assert got[g] == expect, f"series {g} selection diverged"
        assert len(got[g]) == min(threshold, n)
        assert got[g][0] == (xs[0], ys[0])
        assert got[g][len(got[g]) - 1] == (xs[n - 1], ys[n - 1])


def test_entropy_by_group_oracle_and_hand_cases(spark, sf_dir):
    """entropy(value) per group replays hash-exactly: the DuckDB twin
    rebuilds the exact integer milli-log2 (bitlength + linear interior,
    the graded bm25 idiom) over the same counts."""
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        entropy_by_group)

    ev = read_table(spark, sf_dir, "events")
    got = sorted(map(tuple, entropy_by_group(ev).collect()))
    want = sorted(map(tuple, _duck(sf_dir).execute(
        REGISTRY["entropy_by_group"].oracle).fetchall()))
    assert got == want and len(got) == 5
    # profile sanity: every group sees many users -> entropy well above 0
    assert all(r[2] > 1000 for r in got)

    # hand cases: 4 singletons -> exactly 2000 milli-bits (log2 exact at
    # powers of two); a constant column -> 0; skew {a:3, b:1} -> 875
    # under the piecewise-linear log (true H = 811; the CONTRACT is the
    # ilog2m formula, not IEEE log2)
    synth = spark.createDataFrame(
        [("u", 1), ("u", 2), ("u", 3), ("u", 4),
         ("k", 9), ("k", 9), ("k", 9),
         ("s", 1), ("s", 1), ("s", 1), ("s", 2)],
        "event_type string, user_id long")
    rows = {r["event_type"]: (r["n"], r["entropy_milli"])
            for r in entropy_by_group(synth).collect()}
    assert rows == {"u": (4, 2000), "k": (3, 0), "s": (4, 875)}


@pytest.mark.slow
def test_stream_entropy_matches_batch_any_partition(spark, sf_dir):
    """The foreachBatch entropy twin reproduces the batch operator
    exactly, and folding ANY random partition of the rows (order-free —
    counts are an int-sum monoid) equals the one-shot report."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        entropy_by_group, entropy_from_state, entropy_update)
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_entropy)

    ev = read_table(spark, sf_dir, "events")
    batch = sorted(map(tuple, entropy_by_group(ev).collect()))
    stream = sorted(map(tuple, stream_entropy(spark, sf_dir).collect()))
    assert stream == batch and len(stream) == 5

    schema = "event_type string, user_id long"

    @given(st.lists(st.tuples(st.integers(0, 2),       # group
                              st.integers(0, 5)),      # value
                    min_size=1, max_size=24),
           st.lists(st.integers(0, 2), min_size=1, max_size=24))
    @settings(max_examples=8, deadline=None)
    def check(evs, assignment):
        rows = [(f"g{g}", v) for g, v in evs]
        full = spark.createDataFrame(rows, schema)
        one_shot = sorted(map(tuple, entropy_by_group(full).collect()))
        parts: dict = {}
        for i, r in enumerate(rows):
            parts.setdefault(assignment[i % len(assignment)], []).append(r)
        state = None
        for _k, chunk in sorted(parts.items(), reverse=True):
            bdf = spark.createDataFrame(chunk, schema)
            state = entropy_update(state, bdf).localCheckpoint(eager=True)
        got = sorted(map(tuple, entropy_from_state(state).collect()))
        assert got == one_shot

    check()


def test_fold_threads_state_across_micro_batches(spark, tmp_path):
    """``_fold`` hands ``step`` None on the first micro-batch and the
    previous state after that; over a two-file stream read one file per
    trigger the final state equals one batch fold over both files."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_hdfs_loader_spark.streaming.events import _fold

    pq.write_table(pa.table({"g": ["a", "b", "a"], "v": [1, 2, 3]}),
                   tmp_path / "part-0.parquet")
    pq.write_table(pa.table({"g": ["a", "c"], "v": [10, 20]}),
                   tmp_path / "part-1.parquet")
    # the file source orders files by modification time
    os.utime(tmp_path / "part-1.parquet", (2_000_000_000, 2_000_000_000))
    schema = "g string, v long"
    seen = []

    def sums(df):
        return df.groupBy("g").agg(F.sum("v").alias("v"))

    def step(state, bdf):
        seen.append(None if state is None
                    else sorted(map(tuple, state.collect())))
        return sums(bdf if state is None else state.unionByName(bdf))

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(tmp_path)))
    got = sorted(map(tuple, _fold(stream, step).collect()))
    one_shot = sorted(map(tuple, sums(
        spark.read.schema(schema).parquet(str(tmp_path))).collect()))
    assert seen == [None, [("a", 4), ("b", 2)]]
    assert got == one_shot == [("a", 14), ("b", 2), ("c", 20)]


def test_fold_raises_when_the_stream_has_no_batches(spark, tmp_path):
    """An empty source runs zero micro-batches: ``_fold`` raises instead
    of returning a missing state."""
    from clickhouse_hdfs_loader_spark.streaming.events import _fold

    stream = spark.readStream.schema("g string").parquet(str(tmp_path))
    with pytest.raises(RuntimeError, match="stream produced no batches"):
        _fold(stream, lambda state, bdf: bdf)


def test_run_to_completion_raises_on_timeout_and_stops():
    """A query still running at the timeout fails loudly (a memory sink
    read then would be partial) and is stopped all the same."""
    from clickhouse_hdfs_loader_spark.streaming.events import (
        _run_to_completion)

    class StillRunning:
        name = "q"
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    q = StillRunning()
    with pytest.raises(TimeoutError, match="still running after 1s"):
        _run_to_completion(q, timeout=1)
    assert q.stopped


def test_pagerank_exact_python_replay_and_hand_case(spark, sf_dir):
    """Every iteration is pure int64 arithmetic, so an independent
    pure-Python replay must match EXACTLY — no tolerance. Edges:
    customer -> supplier from the order/lineitem fixtures (set
    semantics)."""
    from clickhouse_hdfs_loader_spark.operators.components import pagerank

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    edges = (orders.join(li, orders.o_orderkey == li.l_orderkey)
             .select(F.col("o_custkey").alias("src"),
                     (F.col("l_suppkey") + 1_000_000).alias("dst")))
    iters = 10
    got = {r["node"]: r["mass_micro"]
           for r in pagerank(edges, iters=iters).collect()}

    epairs = sorted({(r["src"], r["dst"])
                     for r in edges.where(
                         F.col("src").isNotNull()
                         & F.col("dst").isNotNull()).collect()})
    nodes = sorted({s for s, _ in epairs} | {d for _, d in epairs})
    odeg: dict = {}
    for s, _d in epairs:
        odeg[s] = odeg.get(s, 0) + 1
    mass = {v: 1_000_000 for v in nodes}
    teleport = (1_000_000 * 150) // 1000
    for _ in range(iters):
        infl = {v: 0 for v in nodes}
        for s, d in epairs:
            infl[d] += (mass[s] * 850) // (1000 * odeg[s])
        mass = {v: teleport + infl[v] for v in nodes}
    assert got == mass
    # suppliers (pure sinks here) outrank customers (pure sources,
    # which keep only the teleport mass)
    assert all(got[v] == teleport for v in nodes if v < 1_000_000)
    assert any(got[v] > 1_000_000 for v in nodes if v >= 1_000_000)

    # hand case: a 2-cycle plus a dangling feeder; replayed by hand:
    # a<->b, c->a. it1: a = 150000 + 850*(1e6)/1000 [from b] +
    # 850*(1e6)/1000 [from c] = 1850000; b = 150000 + 850000 = 1000000;
    # c = 150000. it2: a = 150000 + 850 + (c's share)... pinned below.
    e2 = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "a")], "src string, dst string")
    got2 = {r["node"]: r["mass_micro"]
            for r in pagerank(e2, iters=2).collect()}
    # replay: it1 a=150000+850000+850000=1850000, b=1000000, c=150000
    #         it2 a=150000+850000+127500=1127500, b=150000+1572500
    assert got2 == {"a": 1_127_500, "b": 1_722_500, "c": 150_000}


def test_lttb_downsample_guards(spark):
    from clickhouse_hdfs_loader_spark.operators.downsample import (
        lttb_downsample)

    df = spark.createDataFrame([("g", 1.0, 1.0)],
                               "g string, x double, y double")
    with pytest.raises(ValueError, match="threshold"):
        lttb_downsample(df, "g", "x", "y", 2)
    # short series pass through whole
    rows = lttb_downsample(df, "g", "x", "y", 3).collect()
    assert [(r["x"], r["y"], r["pos"]) for r in rows] == [(1.0, 1.0, 0)]


@pytest.mark.slow
def test_stream_exact_quantiles_matches_batch_any_partition(
        spark, sf_dir):
    """The foreachBatch exact-quantile twin equals the batch operator
    over the milli-quantized values (the state IS the sorted multiset,
    so position arithmetic agrees by construction), and folding ANY
    random partition through quantile_update (int-sum monoid) equals
    the one-shot report. A DuckDB twin pins the derivation to plain
    SQL at fixture scale."""
    import duckdb

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        exact_quantiles_by_group, quantile_update, quantiles_from_state)
    from clickhouse_hdfs_loader_spark.streaming.events import (
        stream_exact_quantiles)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_type").isNotNull()))
    # batch reference: the graded exact-quantile operator over the
    # SAME milli-quantized column the state carries
    from clickhouse_hdfs_loader_spark.operators.analytics import (
        _quantizable_col)
    evq = (ev.where(_quantizable_col("value"))
           .withColumn("vmq", F.floor(F.col("value").cast("double")
                                      * 1000).cast("long")))
    batch = sorted(
        (r["event_type"], r["q_milli"], r["q_value"]) for r in
        exact_quantiles_by_group(evq, "event_type", "vmq").collect())
    stream = sorted(map(tuple, stream_exact_quantiles(
        spark, sf_dir).collect()))
    assert stream == batch and len(stream) == 15   # 5 groups x 3 qs

    # DuckDB twin of the from-state derivation (registry standard)
    one_shot = quantile_update(None, ev)
    got = sorted(map(tuple, quantiles_from_state(one_shot).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute("""
        WITH s AS (SELECT event_type AS g,
                          CAST(floor(value * 1000) AS BIGINT) AS vm,
                          CAST(count(*) AS BIGINT) AS c
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND event_type IS NOT NULL
                   GROUP BY 1, 2),
        w AS (SELECT g, vm, c,
                     CAST(sum(c) OVER (PARTITION BY g ORDER BY vm
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                     CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
              FROM s),
        q AS (SELECT g, vm, cum, n, unnest([250, 500, 750]) AS q_milli
              FROM w)
        SELECT g AS event_type, q_milli,
               CAST(min(vm) AS BIGINT) AS q_value_milli
        FROM q
        WHERE cum >= greatest(1, (n * q_milli + 999) // 1000)
        GROUP BY 1, 2
    """).fetchall()))
    assert got == want

    schema = "event_type string, value double"

    @given(st.lists(st.tuples(st.integers(0, 1),
                              st.integers(-5, 5)),
                    min_size=1, max_size=24),
           st.lists(st.integers(0, 2), min_size=1, max_size=24))
    @settings(max_examples=8, deadline=None)
    def check(evs, assignment):
        rows = [(f"g{g}", float(v)) for g, v in evs]
        full = spark.createDataFrame(rows, schema)
        fullq = full.withColumn(
            "vmq", F.floor(F.col("value").cast("double") * 1000)
            .cast("long"))
        one = sorted(
            (r["event_type"], r["q_milli"], r["q_value"]) for r in
            exact_quantiles_by_group(fullq, "event_type",
                                     "vmq").collect())
        parts: dict = {}
        for i, r in enumerate(rows):
            parts.setdefault(assignment[i % len(assignment)], []).append(r)
        state = None
        for _k, chunk in sorted(parts.items(), reverse=True):
            bdf = spark.createDataFrame(chunk, schema)
            state = quantile_update(state, bdf) \
                .localCheckpoint(eager=True)
        got = sorted(map(tuple,
                         quantiles_from_state(state).collect()))
        assert got == one

    check()


def test_quantile_timing_oracle_and_hand_cases(spark, sf_dir):
    """quantile_timing: in-test DuckDB oracle (registry standard, r13
    queue) — the documented fixed-resolution bucketization (1 ms below
    1024, 16 ms to 30 s, clamped above) replays exactly in SQL; hand
    cases cover every resolution regime the sub-1024 fixture values
    can't force."""
    import duckdb
    import pytest

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        quantile_timing)

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        TIMING_BUCKET_DUCK, TIMING_CLAMP_DUCK)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_type").isNotNull()))
    got = sorted(map(tuple, quantile_timing(ev).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(f"""
        WITH v AS (SELECT event_type AS g,
                          {TIMING_CLAMP_DUCK} AS t
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND event_type IS NOT NULL),
        c AS (SELECT g, {TIMING_BUCKET_DUCK} AS b,
                     CAST(count(*) AS BIGINT) AS c
              FROM v GROUP BY 1, 2),
        w AS (SELECT g, b, c,
                     CAST(sum(c) OVER (PARTITION BY g ORDER BY b
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                     CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
              FROM c),
        q AS (SELECT g, b, cum, n,
                     unnest([500, 900, 990]) AS q_milli
              FROM w)
        SELECT g AS event_type, CAST(q_milli AS BIGINT) AS q_milli,
               CAST(min(b) AS BIGINT) AS t_ms
        FROM q WHERE cum >= greatest(1, (n * q_milli + 999) // 1000)
        GROUP BY 1, 2
    """).fetchall()))
    assert got == want and len(got) == 15   # 5 groups x 3 qs

    def run(vals, qs=(500,)):
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "g string, v double")
        return {(r["q_milli"]): r["t_ms"] for r in
                quantile_timing(df, "g", "v", qs=qs).collect()}

    # exact regime: all under 1024 -> 1 ms buckets, lower-median rule
    assert run([3, 1, 2])[500] == 2
    # 16 ms regime: 1500 floors to (1500 div 16)*16 = 1488
    assert run([1500.9])[500] == 1488
    # boundary: 1023 stays exact; 1024 is the first coarse bucket
    assert run([1023])[500] == 1023 and run([1024])[500] == 1024
    # saturation: anything past 30 s clamps to 30000 BEFORE bucketing,
    # and 30000 is itself a multiple of 16 — the contract value is the
    # pinned literal, never re-derived via the operator's own formula
    assert run([99999, 31000])[500] == 30000
    # negatives clamp to 0 (exact bucket)
    assert run([-5, -1, 7])[500] == 0
    # multi-q on a spread: p99-ish picks the top element
    r = run(list(range(100)), qs=(500, 990))
    assert (r[500], r[990]) == (49, 98)
    # invalid q raises before any job
    with pytest.raises(ValueError, match="milli-quantiles"):
        quantile_timing(ev, qs=(0,))
    with pytest.raises(ValueError, match="milli-quantiles"):
        quantile_timing(ev, qs=(1000,))


def test_quantile_timing_weighted_oracle_and_hand_cases(spark, sf_dir):
    """quantile_timing_weighted: in-test DuckDB oracle (registry
    standard, r14 queue) — weighted ranks over the documented
    bucketization replay exactly in SQL; the repeat-count identity
    (a weight-w row is indistinguishable from w copies) is pinned
    against the unweighted operator; the shared weight validator's
    raises and the zero-weight exclusion are exercised."""
    import duckdb
    import pytest

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        TIMING_BUCKET_DUCK, TIMING_CLAMP_DUCK, quantile_timing,
        quantile_timing_weighted)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_id").isNotNull())
          .withColumn("wt", F.pmod(F.col("event_id"), F.lit(5)) + 1))
    got = sorted(map(tuple, quantile_timing_weighted(ev).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(f"""
        WITH v AS (SELECT event_type AS g,
                          {TIMING_CLAMP_DUCK} AS t,
                          (((event_id % 5 + 5) % 5) + 1) AS w
                   FROM events
                   WHERE value IS NOT NULL AND isfinite(value)
                     AND event_type IS NOT NULL
                     AND event_id IS NOT NULL),
        c AS (SELECT g, {TIMING_BUCKET_DUCK} AS b,
                     CAST(sum(w) AS BIGINT) AS c
              FROM v GROUP BY 1, 2),
        w AS (SELECT g, b, c,
                     CAST(sum(c) OVER (PARTITION BY g ORDER BY b
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                     CAST(CASE WHEN sum(c) OVER (PARTITION BY g)
                            > 9000000000000000
                          THEN error('quantile_timing_weighted: '
                            || 'per-group weight total exceeds the '
                            || 'W*q rank bound (9e15) — rescale '
                            || 'weights')
                          ELSE sum(c) OVER (PARTITION BY g) END
                          AS BIGINT) AS n
              FROM c),
        q AS (SELECT g, b, cum, n,
                     unnest([500, 900, 990]) AS q_milli
              FROM w)
        SELECT g AS event_type, CAST(q_milli AS BIGINT) AS q_milli,
               CAST(min(b) AS BIGINT) AS t_ms
        FROM q WHERE cum >= greatest(1, (n * q_milli + 999) // 1000)
        GROUP BY 1, 2
    """).fetchall()))
    assert got == want and len(got) == 15   # 5 groups x 3 qs

    # repeat-count identity: weight-w rows == w physical copies, on a
    # frame spanning all three resolution regimes (exact / 16 ms /
    # clamp) and a rank knife-edge (total weight 10 at q=500)
    rows = [("g", 3.0, 4), ("g", 1500.0, 3), ("g", 40000.0, 2),
            ("g", -2.0, 1), ("h", 7.0, 1), ("h", 1024.0, 2)]
    wdf = spark.createDataFrame(rows, "g string, v double, wt long")
    expanded = wdf.select("g", "v", F.explode(
        F.sequence(F.lit(1), F.col("wt"))).alias("_i"))
    qs = (250, 500, 900)
    got_w = sorted(map(tuple, quantile_timing_weighted(
        wdf, "g", "v", "wt", qs=qs).collect()))
    got_x = sorted(map(tuple, quantile_timing(
        expanded, "g", "v", qs=qs).collect()))
    assert got_w == got_x and len(got_w) == 6

    # zero-weight rows contribute nothing; an all-zero-weight group is
    # ABSENT (never a NULL/zero-rank row)
    zdf = spark.createDataFrame(
        [("g", 5.0, 2), ("g", 9.0, 0), ("z", 1.0, 0)],
        "g string, v double, wt long")
    zr = [tuple(r) for r in quantile_timing_weighted(
        zdf, "g", "v", "wt", qs=(500,)).collect()]
    assert zr == [("g", 500, 5)]

    # the shared validator raises on fractional / negative / NaN
    # weights; empty qs raises before any job
    for bad, msg in ((0.5, "integral counts"),
                     (-1.0, "negative weight"),
                     (float("nan"), "NaN weight")):
        bdf = spark.createDataFrame([("g", 5.0, float(bad))],
                                    "g string, v double, wt double")
        with pytest.raises(Exception, match=msg):
            quantile_timing_weighted(bdf, "g", "v", "wt",
                                     qs=(500,)).collect()
    with pytest.raises(ValueError, match="non-empty"):
        quantile_timing_weighted(ev, qs=())

    # ADVICE r13: a per-group weight total past the W*q rank bound
    # raises the NAMED error, never a generic ANSI arithmetic one
    big = spark.createDataFrame(
        [("g", 5.0, 9_100_000_000_000_000)],
        "g string, v double, wt long")
    with pytest.raises(Exception, match="W\\*q rank bound"):
        quantile_timing_weighted(big, "g", "v", "wt",
                                 qs=(500,)).collect()


def test_sequence_match_multi_oracle_and_coherence(spark, sf_dir):
    """sequence_match_multi: in-test DuckDB oracle (the per-pattern
    chain-CTE ladder, unioned with pattern tags — registry standard,
    r13 queue), coherence with single-pattern sequence_match by
    construction, and the guard cases."""
    import duckdb
    import pytest

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_match, sequence_match_multi)

    ev = read_table(spark, sf_dir, "events")
    pats = {"v_c_p": ["view", "click", "purchase"],
            "p_v": ["purchase", "view"],
            "c_e": ["click", "error"]}
    got = sorted(
        (r["user_id"], r["pattern"], bool(r["matched"])) for r in
        sequence_match_multi(ev, pats).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")

    def ladder(name, steps):
        ctes, prev = [], None
        for i, s in enumerate(steps):
            if prev is None:
                ctes.append(f"s{i} AS (SELECT user_id, min(ts) AS t "
                            f"FROM events WHERE event_type = '{s}' "
                            f"GROUP BY 1)")
            else:
                ctes.append(
                    f"s{i} AS (SELECT e.user_id, min(e.ts) AS t "
                    f"FROM events e JOIN s{i-1} USING (user_id) "
                    f"WHERE e.event_type = '{s}' AND e.ts > s{i-1}.t "
                    f"GROUP BY 1)")
            prev = i
        return (f"SELECT DISTINCT user_id, '{name}' AS pattern, "
                f"coalesce(user_id IN (SELECT user_id FROM s{prev}), "
                f"false) AS matched FROM events"), ", ".join(ctes)

    parts = []
    for name in sorted(pats):
        sel, ctes = ladder(name, pats[name])
        parts.append(f"(WITH {ctes} {sel})")
    want = sorted(map(tuple, con.execute(
        " UNION ALL ".join(parts)).fetchall()))
    assert got == want and len(got) == 45   # 15 users x 3 patterns

    # coherence: each pattern's slice IS single-pattern sequence_match
    for name, steps in pats.items():
        single = sorted((r["user_id"], r["matched"]) for r in
                        sequence_match(ev, steps).collect())
        multi = sorted((u, m) for u, p, m in got if p == name)
        assert multi == single, name

    # guards: empty dict / empty steps raise before any job
    with pytest.raises(ValueError, match="non-empty"):
        sequence_match_multi(ev, {})
    with pytest.raises(ValueError, match="no steps"):
        sequence_match_multi(ev, {"bad": []})


def test_seasonal_decompose_oracle_and_hand_cases(spark, sf_dir):
    """seasonal_decompose: in-test DuckDB oracle (registry standard,
    r14 queue) — the classical centered-MA decomposition under the
    exact integer contract replays in SQL; the linear+periodic hand
    case recovers trend/seasonal EXACTLY with zero residuals, and the
    even-period refusal raises."""
    import datetime as dt

    import duckdb
    import pytest

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        seasonal_decompose)

    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_type").isNotNull()))
    got = sorted(map(tuple, seasonal_decompose(ev, 7).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        REGISTRY["seasonal_decompose"].oracle).fetchall()))
    assert got == want and len(got) > 0

    # linear + periodic hand case: vm = 10 + 2t + s[t % 3] with
    # s = (5, -3, -2) (sums to 0) — the centered MA of the periodic
    # part vanishes EXACTLY, so trend = 10 + 2t, seasonal = s, and
    # every interior residual is 0 (integer arithmetic, no tolerance)
    season = (5, -3, -2)
    t0 = dt.datetime(2024, 1, 1)
    rows = [(t, "g", t0 + dt.timedelta(hours=t),
             (10 + 2 * t + season[t % 3]) / 1000.0)
            for t in range(9)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts timestamp, "
        "value double")
    out = {r["pos"]: r for r in
           seasonal_decompose(df, 3, "event_type", "ts", "value",
                              "event_id").collect()}
    assert len(out) == 9
    for pos, r in out.items():
        t = pos - 1
        assert r["vm_milli"] == 10 + 2 * t + season[t % 3]
        assert r["seasonal_milli"] == season[t % 3]
        if 2 <= pos <= 8:     # interior: full centered window
            assert r["trend_milli"] == 10 + 2 * t
            assert r["resid_milli"] == 0
        else:                 # edges: no full window
            assert r["trend_milli"] is None
            assert r["resid_milli"] is None
    # even or too-small periods are a DIFFERENT estimator — refuse
    for bad in (2, 4, 1, 0):
        with pytest.raises(ValueError, match="ODD integer"):
            seasonal_decompose(ev, bad)


# the timed CTE ladder lives in plans/queries.py (_timed_ladder_sql —
# the ONE copy, shared with the registry oracle and charset-guarded per
# ADVICE r13); this test imports it below


def test_sequence_match_timed_oracle_and_hand_cases(spark, sf_dir):
    """sequence_match_timed: in-test DuckDB oracle (registry standard,
    r14 queue) — the per-step-gap existence DP replays exactly in SQL;
    hand cases pin the case where a greedy earliest chain FAILS but the
    DP matches, the inclusive gap boundary, the tied-ts strictness, and
    the all-None coherence with sequence_match."""
    import duckdb
    import pytest

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_match, sequence_match_timed)
    from clickhouse_hdfs_loader_spark.plans.queries import (
        _timed_ladder_sql)

    ev = read_table(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    gaps = [21600, 86400]   # 6 h view->click, 24 h click->purchase
    got = sorted((r["user_id"], int(r["matched"])) for r in
                 sequence_match_timed(ev, steps, gaps).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        _timed_ladder_sql(steps, gaps)).fetchall()))
    assert got == want and len(got) == 15

    # all-None gaps degenerate to plain sequence_match (sibling
    # coherence — the shared strict-'>' chain-existence contract)
    timed = sorted((r["user_id"], bool(r["matched"])) for r in
                   sequence_match_timed(ev, steps,
                                        [None, None]).collect())
    plain = sorted((r["user_id"], bool(r["matched"])) for r in
                   sequence_match(ev, steps).collect())
    assert timed == plain

    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)

    def run(rows, steps, gaps):
        df = spark.createDataFrame(
            [(u, ty, t0 + dt.timedelta(seconds=s)) for u, ty, s in rows],
            "user_id long, event_type string, ts timestamp")
        return {r["user_id"]: bool(r["matched"]) for r in
                sequence_match_timed(df, steps, gaps).collect()}

    # THE greedy-fail case: earliest A (00:00) strands B@05:30 under a
    # 1 h gap, but A@05:00 reaches it — the DP must match
    rows = [(1, "A", 0), (1, "A", 18000), (1, "B", 19800)]
    assert run(rows, ["A", "B"], [3600]) == {1: True}
    # without the second A the same stream must NOT match
    assert run([(1, "A", 0), (1, "B", 19800)],
               ["A", "B"], [3600]) == {1: False}
    # gap boundary is INCLUSIVE (ClickHouse (?t<=N)); one second over
    # fails
    assert run([(1, "A", 0), (1, "B", 3600)],
               ["A", "B"], [3600]) == {1: True}
    assert run([(1, "A", 0), (1, "B", 3601)],
               ["A", "B"], [3600]) == {1: False}
    # tied timestamps never chain (strict '>', the sequence_match tie
    # rule — enforced structurally by the (us, kind) sort)
    assert run([(1, "A", 0), (1, "B", 0)],
               ["A", "B"], [3600]) == {1: False}
    # a None gap mid-pattern is unbounded while the next gap still
    # binds: B is far from A, C within 60 s of B
    rows = [(1, "A", 0), (1, "B", 900000), (1, "C", 900030)]
    assert run(rows, ["A", "B", "C"], [None, 60]) == {1: True}
    assert run(rows, ["A", "B", "C"], [None, 10]) == {1: False}
    # validation: gap-count mismatch and non-positive gaps raise
    # before any job
    with pytest.raises(ValueError, match="len\\(steps\\) - 1"):
        sequence_match_timed(ev, steps, [3600])
    with pytest.raises(ValueError, match="positive integer seconds"):
        sequence_match_timed(ev, ["A", "B"], [0])
    with pytest.raises(ValueError, match="non-empty"):
        sequence_match_timed(ev, [], [])
    # the ladder builders refuse SQL-literal-unsafe step names
    # (ADVICE r13 — a quote could silently skew the oracle)
    from clickhouse_hdfs_loader_spark.plans.queries import (
        _seq_ladder_sql)
    with pytest.raises(ValueError, match="SQL-literal-safe"):
        _timed_ladder_sql(["a'b", "B"], [None])
    with pytest.raises(ValueError, match="SQL-literal-safe"):
        _seq_ladder_sql("p", ["A", "b' OR 1=1"])


@pytest.mark.slow
def test_sequence_match_timed_hypothesis_vs_bruteforce(spark):
    """Property: the running-max DP equals literal brute-force
    existence (all type-A/B/C triples checked against the strict-order
    + inclusive-gap rule) on arbitrary small single-user streams with
    heavy ts ties."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_match_timed)

    t0 = dt.datetime(2024, 1, 1)

    def ok(a, b, g):
        return b > a and (g is None or b - a <= g)

    @given(st.lists(st.tuples(st.sampled_from("ABC"),
                              st.integers(0, 20)),
                    min_size=1, max_size=8),
           st.sampled_from([1, 3, None]),
           st.sampled_from([2, None]))
    @settings(max_examples=8, deadline=None)
    def check(evts, g1, g2):
        As = [t for ty, t in evts if ty == "A"]
        Bs = [t for ty, t in evts if ty == "B"]
        Cs = [t for ty, t in evts if ty == "C"]
        want = any(ok(a, b, g1) and ok(b, c, g2)
                   for a in As for b in Bs for c in Cs)
        df = spark.createDataFrame(
            [(1, ty, t0 + dt.timedelta(seconds=t)) for ty, t in evts],
            "user_id long, event_type string, ts timestamp")
        got = sequence_match_timed(df, ["A", "B", "C"],
                                   [g1, g2]).collect()
        assert {r["user_id"]: bool(r["matched"])
                for r in got} == {1: want}

    check()


def test_quantile_timing_hypothesis_vs_replay(spark):
    """Property: quantile_timing equals a pure-Python replay of the
    documented contract (clamp -> bucket -> lower-quantile rank) on
    arbitrary small samples spanning all three resolution regimes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        quantile_timing)

    def replay(vals, qs):
        ts = []
        for v in vals:
            t = 0 if v < 0 else (30000 if v > 30000 else int(v))
            ts.append(t if t < 1024 else (t // 16) * 16)
        ts.sort()
        n = len(ts)
        return {q: ts[max(1, -(-n * q // 1000)) - 1] for q in qs}

    @given(st.lists(st.one_of(st.integers(-10, 2000),
                              st.integers(25000, 40000)),
                    min_size=1, max_size=30))
    @settings(max_examples=8, deadline=None)
    def check(vals):
        qs = (250, 500, 990)
        df = spark.createDataFrame([("g", float(v)) for v in vals],
                                   "g string, v double")
        got = {r["q_milli"]: r["t_ms"] for r in
               quantile_timing(df, "g", "v", qs=qs).collect()}
        assert got == replay(vals, qs)

    check()


@pytest.mark.slow
def test_heavy_hitters_decayed_oracle_and_hand_cases(spark, sf_dir):
    """heavy_hitters_decayed: in-test DuckDB oracle (registry standard,
    r13 queue) — the integer half-life decay (shiftright once per FULL
    elapsed half-life, saturating at 62) composed over the certified
    weighted-MG top-k replays exactly in SQL; hand cases pin the
    rank-flip decay actually causes, the future-row age clamp, and the
    loud fractional-weight raise."""
    import duckdb
    import pytest

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        heavy_hitters_decayed)

    # base weights scaled x1024 so ~9 half-lives of decay over the
    # fixture's time span still leave every row a nonzero contribution
    ev = (read_table(spark, sf_dir, "events")
          .where(F.col("event_id").isNotNull())
          .withColumn("wt", (F.pmod(F.col("event_id"), F.lit(5)) + 1)
                      * F.lit(1024)))
    got = sorted(map(tuple, heavy_hitters_decayed(
        ev, "event_type", "wt", half_life_s=604800, k=3,
        capacity=64).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute("""
        WITH b AS (SELECT event_type,
                          (((event_id % 5 + 5) % 5) + 1) * 1024 AS w,
                          epoch_us(ts) AS us
                   FROM events
                   WHERE event_id IS NOT NULL AND ts IS NOT NULL
                     -- the MG pass drops NULL values Spark-side;
                     -- mirror (r9 fixture-drift stance)
                     AND event_type IS NOT NULL),
        -- the reference instant is max ts over ALL non-NULL-ts input
        -- rows, BEFORE the value/weight exclusions (the operator
        -- aggregates _asof on `base`, pre-MG — analytics.py contract);
        -- computing it from b would drift if fixture drift ever puts
        -- the unique max-ts row on a NULL-event_type row (ADVICE r12)
        m AS (SELECT max(epoch_us(ts)) AS ref_us FROM events
              WHERE event_id IS NOT NULL AND ts IS NOT NULL),
        d AS (SELECT event_type,
                     (CAST(w AS BIGINT) >> CAST(least(
                        greatest(0, (ref_us - us) // 604800000000), 62)
                        AS INT)) AS wd
              FROM b, m)
        SELECT event_type AS value,
               CAST(sum(wd) AS BIGINT) AS weight,
               CAST(row_number() OVER (ORDER BY sum(wd) DESC,
                    event_type) AS INT) AS rank
        FROM d WHERE wd > 0
        GROUP BY event_type ORDER BY weight DESC, value LIMIT 3
    """).fetchall()))
    assert got == want and len(got) == 3
    assert all(w > 0 for (_v, w, _r) in got)

    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    day = dt.timedelta(days=1)

    def run(rows, **kw):
        df = spark.createDataFrame(
            rows, "event_type string, ts timestamp, wt long")
        return [tuple(r) for r in heavy_hitters_decayed(
            df, "event_type", "wt", **kw).collect()]

    # decay FLIPS the ranking: 'old' out-weighs 'new' undecayed
    # (96 > 80) but after 2 full 1-day half-lives old's 96 >> 2 = 24
    # loses to new's 80 (age 0 — the reference instant is max ts)
    rows = [("old", t0, 96), ("new", t0 + 2 * day, 80)]
    assert run(rows, half_life_s=86400, k=2, capacity=8) == [
        ("new", 80, 1), ("old", 24, 2)]
    # sub-half-life ages keep FULL weight (quantized decay, not float)
    rows = [("a", t0, 10), ("b", t0 + dt.timedelta(hours=23), 9)]
    assert run(rows, half_life_s=86400, k=2, capacity=8) == [
        ("a", 10, 1), ("b", 9, 2)]
    # a pinned as_of far in the future decays everything to zero ->
    # empty result, never an error (shift saturates at 62)
    assert run([("a", t0, 5)], half_life_s=1, k=2, capacity=8,
               as_of_us=2_000_000_000_000_000_000) == []
    # fractional / negative weights raise loudly via the ONE shared
    # integral-weight validator (never truncate)
    for bad, msg in ((0.7, "integral counts"),
                     (-3.0, "negative weight"),
                     (float("nan"), "NaN weight")):
        df = spark.createDataFrame(
            [("a", t0, float(bad))],
            "event_type string, ts timestamp, wt double")
        with pytest.raises(Exception, match=msg):
            heavy_hitters_decayed(df, "event_type", "wt",
                                  half_life_s=86400).collect()
    with pytest.raises(ValueError, match="half_life_s"):
        heavy_hitters_decayed(ev, "event_type", "wt", half_life_s=0)


def test_sequence_match_events_oracle_and_hand_cases(spark, sf_dir):
    """sequence_match_events: in-test DuckDB oracle (registry
    standard, r15 queue) — the canonical witness chain (earliest final
    matchable, then per step down the admitting running-marker max)
    replays in SQL via the shared _timed_events_ladder_sql; hand cases
    pin the greedy-fail stream's witness (the LATER step-0 event), the
    per-row gap/order invariants, and coherence with the matched
    flag."""
    import datetime as dt

    import duckdb
    import pytest

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_match_events, sequence_match_timed)
    from clickhouse_hdfs_loader_spark.plans.queries import (
        _timed_events_ladder_sql)

    ev = read_table(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    gaps = [21600, 86400]
    out = sequence_match_events(ev, steps, gaps)
    got = sorted(map(tuple, out.collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        _timed_events_ladder_sql(steps, gaps)).fetchall()))
    assert got == want and len(got) > 0

    # coherence with the matched flag: exactly the matched users, K
    # rows each, chain strictly increasing with every gap satisfied
    matched = {r["user_id"] for r in
               sequence_match_timed(ev, steps, gaps).collect()
               if r["matched"]}
    chains: dict = {}
    for u, idx, step, t in got:
        assert step == steps[idx]
        chains.setdefault(u, {})[idx] = t
    assert set(chains) == matched
    for u, ch in chains.items():
        assert sorted(ch) == [0, 1, 2]
        assert ch[0] < ch[1] < ch[2]
        assert ch[1] - ch[0] <= gaps[0] * 1_000_000
        assert ch[2] - ch[1] <= gaps[1] * 1_000_000

    t0 = dt.datetime(2024, 1, 1)
    t0_us = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 10**6

    def run(rows, steps, gaps):
        df = spark.createDataFrame(
            [(u, ty, t0 + dt.timedelta(seconds=s)) for u, ty, s in rows],
            "user_id long, event_type string, ts timestamp")
        return {(r["user_id"], r["step_idx"]):
                (r["step"], (r["t_us"] - t0_us) // 10**6)
                for r in sequence_match_events(df, steps, gaps).collect()}

    # THE greedy-fail stream: the witness must be the LATER A (05:00),
    # not the earliest (00:00) — the admitting marker of B@05:30
    rows = [(1, "A", 0), (1, "A", 18000), (1, "B", 19800)]
    assert run(rows, ["A", "B"], [3600]) == {
        (1, 0): ("A", 18000), (1, 1): ("B", 19800)}
    # unmatched users are ABSENT (no partial chains)
    assert run([(1, "A", 0), (1, "B", 90000)], ["A", "B"], [3600]) == {}
    # earliest-completion rule: with two valid completions the chain
    # ends at the EARLIEST final event, and t_i is the latest
    # admitting marker before it
    rows = [(1, "A", 0), (1, "A", 100), (1, "B", 200), (1, "B", 300)]
    assert run(rows, ["A", "B"], [3600]) == {
        (1, 0): ("A", 100), (1, 1): ("B", 200)}
    # K = 1 degenerates to the earliest step-0 event
    assert run([(1, "A", 50), (1, "A", 10)], ["A"], []) == {
        (1, 0): ("A", 10)}
    # NULL users never emit chains — excluded up-front AND mirrored in
    # the twin's ladder (K=1 exercises the GROUP BY path the K>=2
    # equality joins would mask; review-caught r14)
    nulls = spark.createDataFrame(
        [(None, "A", t0), (1, "A", t0)],
        "user_id long, event_type string, ts timestamp")
    got_n = sequence_match_events(nulls, ["A"], []).collect()
    assert [(r["user_id"], r["step_idx"]) for r in got_n] == [(1, 0)]
    # validation inherited from the shared DP
    with pytest.raises(ValueError, match="len\\(steps\\) - 1"):
        sequence_match_events(ev, steps, [3600])


def test_sequence_match_events_ids_oracle_and_hand_cases(spark, sf_dir):
    """sequence_match_events(id_col=...): in-test DuckDB oracle
    (registry standard, r16 queue) — the witness-id rule "min id among
    events at the witness (user, time, type)" replays via the
    _timed_events_ladder_sql(with_ids=True) min-id join; hand cases
    pin the tied-timestamp min-id pick at BOTH a chain slot and the
    final slot, the NULL-id exclusion changing matchability, and
    time-chain coherence with the id-less sibling."""
    import datetime as dt

    import duckdb

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_match_events)
    from clickhouse_hdfs_loader_spark.plans.queries import (
        _timed_events_ladder_sql)

    ev = read_table(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    gaps = [21600, 86400]
    out = sequence_match_events(ev, steps, gaps, id_col="event_id")
    got = sorted(map(tuple, out.collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf_dir}/events.parquet'")
    want = sorted(map(tuple, con.execute(
        _timed_events_ladder_sql(steps, gaps,
                                 with_ids=True)).fetchall()))
    assert got == want and len(got) > 0

    # the fixture has no NULL event_ids, so the time chain must equal
    # the id-less sibling's exactly (coherence)
    bare = sorted(map(tuple, sequence_match_events(
        ev, steps, gaps).collect()))
    assert [(u, i, s, t) for u, i, s, t, _id in got] == bare

    t0 = dt.datetime(2024, 1, 1)

    def run(rows, steps, gaps):
        df = spark.createDataFrame(
            [(u, ty, t0 + dt.timedelta(seconds=s), i)
             for u, ty, s, i in rows],
            "user_id long, event_type string, ts timestamp, "
            "event_id long")
        return {(r["user_id"], r["step_idx"]):
                (r["step"], r["event_id"])
                for r in sequence_match_events(
                    df, steps, gaps, id_col="event_id").collect()}

    # tied timestamps at BOTH slots: min id wins at each (ids 7/9 tie
    # at the A slot -> 7; ids 4/2 tie at the final B slot -> 2)
    rows = [(1, "A", 10, 9), (1, "A", 10, 7),
            (1, "B", 20, 4), (1, "B", 20, 2)]
    assert run(rows, ["A", "B"], [3600]) == {
        (1, 0): ("A", 7), (1, 1): ("B", 2)}
    # NULL ids are excluded UP-FRONT when ids are requested: the only
    # step-0 marker has a NULL id, so the id-carrying call does not
    # match at all (while the id-less sibling would)
    nulls = spark.createDataFrame(
        [(1, "A", t0, None), (1, "B", t0 + dt.timedelta(seconds=5), 2)],
        "user_id long, event_type string, ts timestamp, event_id long")
    assert sequence_match_events(
        nulls, ["A", "B"], [3600], id_col="event_id").count() == 0
    assert sequence_match_events(
        nulls, ["A", "B"], [3600]).count() == 2
    # K = 1: earliest event, min id under a tie
    rows = [(1, "A", 0, 5), (1, "A", 0, 3), (1, "A", 9, 1)]
    assert run(rows, ["A"], []) == {(1, 0): ("A", 3)}
    # the greedy-fail stream with ids: the witness is the LATER A
    rows = [(1, "A", 0, 11), (1, "A", 18000, 12), (1, "B", 19800, 13)]
    assert run(rows, ["A", "B"], [3600]) == {
        (1, 0): ("A", 12), (1, 1): ("B", 13)}
    # id_col without carry_chains is impossible through the public
    # surface; the integral-cast contract still applies
    with pytest.raises(ValueError, match="len\\(steps\\) - 1"):
        sequence_match_events(ev, steps, [3600], id_col="event_id")


def test_sequence_match_events_ids_hypothesis_vs_replay(spark):
    """Property: the id-carrying chain equals a pure-Python replay of
    the documented contract (existence DP over NULL-id-excluded rows;
    earliest completion; per-slot admitting running-marker max; min id
    at each witness coordinate) on arbitrary small inputs with heavy
    ts/id ties."""
    import datetime as dt

    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clickhouse_hdfs_loader_spark.operators.analytics import (
        sequence_match_events)

    t0 = dt.datetime(2024, 1, 1)

    def replay(rows, steps, gaps):
        # rows: [(ty, sec, id)] for ONE user; mirrors the DP + min-id
        evs = sorted([(s, ty, i) for ty, s, i in rows],
                     key=lambda r: r[0])
        m = [{s for s, ty, _i in evs if ty == steps[0]}]
        for lvl in range(1, len(steps)):
            cur = set()
            for s, ty, _i in evs:
                if ty != steps[lvl]:
                    continue
                prev = [u for u in m[lvl - 1] if u < s]
                if prev and (gaps[lvl - 1] is None
                             or s - max(prev) <= gaps[lvl - 1]):
                    cur.add(s)
            m.append(cur)
        if not m[-1]:
            return {}
        chain = [min(m[-1])]
        for lvl in range(len(steps) - 2, -1, -1):
            chain.insert(0, max(u for u in m[lvl] if u < chain[0]))
        out = {}
        for idx, t in enumerate(chain):
            mid = min(i for s, ty, i in evs
                      if s == t and ty == steps[idx])
            out[idx] = (steps[idx], t, mid)
        return out

    @given(st.lists(st.tuples(st.sampled_from(["A", "B", "C"]),
                              st.integers(0, 8),      # seconds
                              st.integers(0, 5)),     # id
                    min_size=1, max_size=12),
           st.sampled_from([(["A", "B"], [3]), (["A", "B"], [None]),
                            (["A", "B", "C"], [3, 4])]))
    @settings(max_examples=8, deadline=None)
    def check(rows, pattern):
        steps, gaps = pattern
        df = spark.createDataFrame(
            [(1, ty, t0 + dt.timedelta(seconds=s), i)
             for ty, s, i in rows],
            "user_id long, event_type string, ts timestamp, "
            "event_id long")
        got = {r["step_idx"]:
               (r["step"],
                (r["t_us"] - 1704067200 * 10**6) // 10**6,
                r["event_id"])
               for r in sequence_match_events(
                   df, steps, gaps, id_col="event_id").collect()}
        assert got == replay(rows, steps, gaps)

    check()
