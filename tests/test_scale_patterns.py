"""Scale-pattern tests: salted aggregation/join exactness, native
hive-partition pruning, stateful streaming sessionization vs batch."""

from __future__ import annotations

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from clickhouse_hdfs_loader_spark.operators.skew import (
    salted_aggregation,
    salted_broadcast_left,
)


def test_salted_aggregation_matches_plain(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plain = {(r["l_returnflag"],): (r["cnt"], round(r["qty"], 6))
             for r in li.groupBy("l_returnflag")
             .agg(F.count(F.lit(1)).alias("cnt"), F.sum("l_quantity").alias("qty"))
             .collect()}
    salted = {(r["l_returnflag"],): (r["cnt"], round(r["qty"], 6))
              for r in salted_aggregation(
                  li, ["l_returnflag"], num_salts=8,
                  cnt=("count", "l_returnflag"), qty=("sum", "l_quantity"))
              .collect()}
    assert plain == salted


def test_salted_broadcast_join_matches_plain(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet") \
        .withColumnRenamed("n_nationkey", "c_nationkey")
    plain = c.join(n, "c_nationkey").groupBy("n_name").count()
    salted = salted_broadcast_left(c, n, "c_nationkey").groupBy("n_name").count()
    assert {(r["n_name"], r["count"]) for r in plain.collect()} == \
           {(r["n_name"], r["count"]) for r in salted.collect()}


def test_hive_partition_pruning(spark, tmp_path, sf_dir):
    """T6 native path: partitioned write + basePath read → the dt filter
    must become a PartitionFilter (pruned at planning, zero data read from
    other partitions), not a post-scan filter."""
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    root = str(tmp_path / "events_part")
    ev = read_table(spark, sf_dir, "events") \
        .withColumn("dt", F.date_format("ts", "yyyy-MM-dd"))
    ev.write.partitionBy("dt").parquet(root)

    df = spark.read.option("basePath", root).parquet(root) \
        .where(F.col("dt") == "2024-01-05")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(dt" in plan
    # partition value arrives as a column without being stored in files
    assert df.count() > 0
    # partition values are type-inferred on read (string 'YYYY-MM-DD' → date)
    assert str(df.select("dt").distinct().collect()[0]["dt"]) == "2024-01-05"


def test_stateful_sessionize_matches_batch(spark, sf_dir):
    from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
    from clickhouse_hdfs_loader_spark.streaming.stateful import (
        run_sessionize_stream,
    )
    batch = {r["user_id"]: (r["n_sessions"], r["n_events"])
             for r in REGISTRY["sessionize"].fn(spark, sf_dir).collect()}
    stream = {r["user_id"]: (r["n_sessions"], r["n_events"])
              for r in run_sessionize_stream(spark, sf_dir).collect()}
    assert stream == batch


def _plan_of(spark, sf_dir, name: str) -> str:
    from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


PINNED_NODES = ("Scan", "Exchange", "BroadcastExchange", "ArrowEvalPython",
                "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "SortMergeJoin",
                "BroadcastNestedLoopJoin", "CartesianProduct",
                "WindowGroupLimit")
_PLAN_NODE = re.compile(r"[\s:+-]*(\w+).*\(\d+\)")


def plan_node_counts(plan_text: str) -> dict[str, int]:
    """Count the ``PINNED_NODES`` of a ``formatted`` plan by name: the first
    word of each ``Name … (id)`` line of the operator tree, which ends at
    the first blank line. A name that is absent counts 0; ``Exchange`` and
    ``BroadcastExchange`` are separate names."""
    tree = plan_text.split("\n\n", 1)[0]
    names = Counter(m.group(1) for line in tree.splitlines()
                    if (m := _PLAN_NODE.fullmatch(line)))
    return {n: names[n] for n in PINNED_NODES}


# Static plan shape at the test fixture, {query: {node: count}}; absent
# nodes are 0. Scale does not move these counts (they match the sf0.1
# plans). A pin guards the operator layout — scans, shuffles, Python
# boundaries, join strategies, rank pushdown — and cannot see a change
# inside a kernel or an expression. A deliberate plan change re-pins its
# entry from the failure message.
PLAN_PINS = {
    "ann_ivf_topk": {"Scan": 2, "Exchange": 1, "BroadcastExchange": 1,
                     "WindowGroupLimit": 2},
    "ann_ivf_trained_topk": {"Scan": 2, "Exchange": 1, "BroadcastExchange": 1,
                             "WindowGroupLimit": 2},
    "ann_lsh_near_dup": {"Scan": 4, "Exchange": 4, "BroadcastExchange": 3},
    "ann_lsh_topk": {"Scan": 4, "Exchange": 2, "BroadcastExchange": 3,
                     "WindowGroupLimit": 2},
    "asof_join_events": {"Scan": 2, "Exchange": 1},
    "bigram_likelihood": {"Scan": 4, "Exchange": 4, "BroadcastExchange": 3,
                          "ArrowEvalPython": 3},
    "bm25_topk": {"Scan": 6, "Exchange": 10, "BroadcastExchange": 5,
                  "BroadcastNestedLoopJoin": 2, "WindowGroupLimit": 2},
    "contamination_check": {"Scan": 2, "Exchange": 2, "BroadcastExchange": 1,
                            "ArrowEvalPython": 2},
    "corpus_prep_pipeline": {"Scan": 1, "Exchange": 2},
    "dedup_embedding_cosine": {"Scan": 2, "Exchange": 1,
                               "BroadcastExchange": 1,
                               "BroadcastNestedLoopJoin": 1},
    "dedup_exact": {"Scan": 1, "Exchange": 1},
    "dedup_levenshtein": {"Scan": 17, "Exchange": 32,
                          "BroadcastExchange": 14, "ArrowEvalPython": 15},
    "dedup_minhash_lsh": {"Scan": 1, "Exchange": 3, "ArrowEvalPython": 1},
    "dedup_ngram_jaccard": {"Scan": 3, "Exchange": 6, "BroadcastExchange": 2,
                            "ArrowEvalPython": 3},
    "domain_mixture_sample": {"Scan": 5, "Exchange": 3,
                              "BroadcastExchange": 4,
                              "BroadcastNestedLoopJoin": 1},
    "embedding_quantize": {"Scan": 1},
    "events_hourly_windows": {"Scan": 1, "Exchange": 1},
    "funnel": {"Scan": 1, "Exchange": 2},
    "funnel_conversion_window": {"Scan": 1, "Exchange": 2},
    "fuzzy_join_damerau": {"Scan": 6, "Exchange": 8, "BroadcastExchange": 5,
                           "ArrowEvalPython": 6},
    "fuzzy_join_exact": {"Scan": 4, "Exchange": 7, "BroadcastExchange": 3,
                         "ArrowEvalPython": 4},
    "group_array_sorted": {"Scan": 1, "Exchange": 1, "WindowGroupLimit": 2},
    "loader_throughput": {"Scan": 1, "Exchange": 2, "ArrowEvalPython": 1},
    "loader_throughput_jvm": {"Scan": 1, "Exchange": 2},
    "ngram_containment": {"Scan": 3, "Exchange": 6, "BroadcastExchange": 2,
                          "ArrowEvalPython": 3},
    "pagerank_summary": {"Scan": 1, "Exchange": 1},
    "pmi_collocations": {"Scan": 4, "Exchange": 5, "BroadcastExchange": 3,
                         "ArrowEvalPython": 1, "BroadcastNestedLoopJoin": 1},
    "profile_approx_contract": {"Scan": 4, "Exchange": 6,
                                "BroadcastExchange": 2,
                                "BroadcastNestedLoopJoin": 2},
    "q10_returned_items": {"Scan": 4, "Exchange": 1, "BroadcastExchange": 3},
    "q1_pricing_summary": {"Scan": 1, "Exchange": 1},
    "q21_waiting_supplier": {"Scan": 3, "Exchange": 3, "BroadcastExchange": 2},
    "q3_shipping_priority": {"Scan": 3, "Exchange": 1, "BroadcastExchange": 2},
    "q5_region_revenue": {"Scan": 6, "Exchange": 1, "BroadcastExchange": 5},
    "q7_volume_shipping": {"Scan": 6, "Exchange": 1, "BroadcastExchange": 5},
    "ranking_metrics": {"Scan": 1, "Exchange": 1},
    "semantic_dedup": {"Scan": 2, "Exchange": 3, "BroadcastExchange": 1},
    "sequence_count": {"Scan": 1, "Exchange": 2},
    "sequence_match": {"Scan": 2, "Exchange": 2, "BroadcastExchange": 1},
    "sequence_match_events": {"Scan": 1, "Exchange": 1},
    "sequence_match_multi": {"Scan": 2, "Exchange": 2, "BroadcastExchange": 1},
    "sequence_match_timed": {"Scan": 2, "Exchange": 2, "BroadcastExchange": 1},
    "sequence_next_node": {"Scan": 2, "Exchange": 3, "BroadcastExchange": 1,
                           "WindowGroupLimit": 2},
    "sessionize": {"Scan": 1, "Exchange": 1},
    "similarity_topk": {"Scan": 2, "Exchange": 1, "BroadcastExchange": 1,
                        "BroadcastNestedLoopJoin": 1, "WindowGroupLimit": 2},
    "similarity_topk_blas": {"Scan": 1, "Exchange": 1, "MapInPandas": 1,
                             "WindowGroupLimit": 2},
    "text_token_counts": {"Scan": 1},
    "tf_idf_topk": {"Scan": 3, "Exchange": 6, "BroadcastExchange": 2,
                    "BroadcastNestedLoopJoin": 1, "WindowGroupLimit": 2},
    "transform_chain": {"Scan": 1, "Exchange": 1},
    "triangle_count": {"Scan": 36, "Exchange": 74, "BroadcastExchange": 20,
                       "SortMergeJoin": 8, "BroadcastNestedLoopJoin": 2},
    "window_topk_per_customer": {"Scan": 1, "Exchange": 1,
                                 "WindowGroupLimit": 2},
    "winnow_fingerprint": {"Scan": 1, "ArrowEvalPython": 1},
}


@pytest.mark.parametrize("name", sorted(PLAN_PINS))
def test_plan_node_counts(spark, sf_dir, name):
    """The static plan's pinned node counts equal ``PLAN_PINS[name]``."""
    from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
    assert name in REGISTRY and set(PLAN_PINS[name]) <= set(PINNED_NODES)
    df = REGISTRY[name].fn(spark, sf_dir)
    counts = plan_node_counts(df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"))
    want = {n: PLAN_PINS[name].get(n, 0) for n in PINNED_NODES}
    now = {n: c for n, c in counts.items() if c}
    assert counts == want, (f"{name} plan shape moved; if deliberate, "
                            f"re-pin it as\n    {name!r}: {now!r},")


def test_not_in_plans_as_broadcast_anti_join(spark, sf_dir):
    """NOT IN over a small dim must plan as a broadcast (hash) anti-join —
    never a cartesian/nested-loop product."""
    plan = _plan_of(spark, sf_dir, "not_in_subquery")
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_two_level_agg_has_partial_aggregation(spark, sf_dir):
    """Both aggregation levels of the Q13 shape must combine map-side
    (partial_count) before their exchanges — the scale-critical property."""
    plan = _plan_of(spark, sf_dir, "custdist_two_level_agg")
    assert plan.count("partial_count") >= 2
    assert "CartesianProduct" not in plan


def test_gap_fill_spine_is_generated_not_collected(spark, sf_dir):
    """The date spine must be produced by Generate(sequence) from a 1-row
    bounds aggregate inside the plan — no driver-side collect, no
    cartesian join."""
    plan = _plan_of(spark, sf_dir, "events_gap_fill")
    assert "Generate explode(sequence(" in plan
    assert "CartesianProduct" not in plan


def test_q4_decorrelates_to_semi_join(spark, sf_dir):
    """Q4's correlated EXISTS (equi orderkey + non-equi date compare) must
    decorrelate to a semi join — no cartesian, and lineitem is never
    joined wide."""
    plan = _plan_of(spark, sf_dir, "q4_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_q21_single_lineitem_scan(spark, sf_dir):
    """Q21's EXISTS + NOT EXISTS pair is reworked (r15) into per-order
    window counts over ONE (orderkey, suppkey) aggregate — lineitem must
    be scanned exactly once (Catalyst's semi+anti decorrelation of the
    declared SQL scanned it three times), with a Window node doing the
    ns/nr counts and no cartesian/nested-loop fallback."""
    plan = _plan_of(spark, sf_dir, "q21_waiting_supplier")
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q6_filters_all_push_to_scan(spark, sf_dir):
    """Q6 is the pure pushdown shape: all three predicates must reach the
    parquet scan as PushedFilters, and the plan must be scan → aggregate
    with no join or wide exchange."""
    from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
    df = REGISTRY["q6_forecast_revenue"].fn(spark, sf_dir)
    qe = df._jdf.queryExecution()
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    fm = qe.explainString(mode.fromString("formatted"))
    import re
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", fm))
    assert "l_discount" in pushed and "l_quantity" in pushed
    assert "l_shipdate" in pushed
    plan = qe.executedPlan().toString()
    assert "Join" not in plan


def test_q17_decorrelates_to_aggregate_join(spark, sf_dir):
    """Q17's correlated scalar AVG must decorrelate into one per-partkey
    aggregate joined back — never a per-row re-aggregation (quadratic)
    and never a cartesian."""
    plan = _plan_of(spark, sf_dir, "q17_small_quantity")
    assert "partial_avg" in plan or "avg(" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q8_lineitem_joins_are_narrow(spark, sf_dir):
    """Q8's eight-way join: every dimension side must broadcast (lineitem
    and orders are the only shuffle-worthy relations) — no cartesian, and
    at least four broadcast joins in the plan."""
    plan = _plan_of(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_sliding_windows_expand_in_scan_stage(spark, sf_dir):
    """Sliding windows must plan as a static Expand (two projections per
    event, one per window membership) feeding a partial/final aggregate —
    expansion inside the scan stage, no generator and no join."""
    plan = _plan_of(spark, sf_dir, "events_sliding_windows")
    assert "Expand" in plan
    assert "partial_count" in plan
    assert "Join" not in plan

def test_q2_decorrelates_to_min_aggregate_join(spark, sf_dir):
    """Q2's correlated scalar MIN over the supply join must decorrelate
    into one per-partkey min aggregate joined back on (partkey, price) —
    never the inner 4-way join re-run per outer row, and never a
    cartesian/nested-loop fallback."""
    plan = _plan_of(spark, sf_dir, "q2_min_cost_supplier")
    assert "min(" in plan or "partial_min" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q9_dimensions_broadcast(spark, sf_dir):
    """Q9's star join: part/supplier/nation must broadcast so lineitem
    only shuffles once, to meet orders — at most one shuffle-side join
    and no cartesian."""
    plan = _plan_of(spark, sf_dir, "q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q16_blacklist_is_broadcast_anti(spark, sf_dir):
    """Q16's NOT IN blacklist (non-nullable key) must plan as a broadcast
    LeftAnti — a tiny build side against the fact scan, with the
    3-column distinct-count aggregate as the only wide exchange."""
    plan = _plan_of(spark, sf_dir, "q16_supplier_relationship")
    assert "LeftAnti, BuildRight" in plan or (
        "LeftAnti" in plan and "BroadcastHashJoin" in plan)
    assert "CartesianProduct" not in plan


def test_q20_decorrelates_and_plans_semi_join(spark, sf_dir):
    """Q20's IN over an aggregated subquery with a correlated per-part
    scalar sum must plan as aggregate-join-aggregate feeding a semi join
    — no per-row re-aggregation, no cartesian/nested-loop."""
    plan = _plan_of(spark, sf_dir, "q20_potential_promotion")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_passage_dedup_partial_aggregates_before_shuffle(spark, sf_dir):
    """The passage posting-list plan must pre-aggregate each (gram, doc)
    map-side (partial_collect_list) before its exchanges, run the
    tokenizer UDF exactly once (no join-back recompute in the default
    strategy), and never fall into a cartesian."""
    plan = _plan_of(spark, sf_dir, "passage_dedup_spans")
    assert "partial_collect_list" in plan
    assert plan.count("ArrowEvalPython") == 1
    assert "CartesianProduct" not in plan


def test_semantic_dedup_joins_on_centroid_key(spark, sf_dir):
    """SemDeDup pairing must be an equi-join keyed on the centroid —
    cluster-confined, not an all-pairs product — with map-side partial
    min before the keeper aggregate's exchange."""
    plan = _plan_of(spark, sf_dir, "semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in plan


def test_range_layout_files_are_disjoint_and_prunable(spark, sf_dir, tmp_path):
    """write_range_layout must produce files whose [min, max] key
    intervals are pairwise disjoint (the file-skipping guarantee for
    range scans) and a narrow BETWEEN over the layout must be able to
    skip most files on footer stats alone; the laid-out data is
    row-identical to the input."""
    from clickhouse_hdfs_loader_spark.operators.layout import (
        file_stats, pruned_fraction, write_range_layout)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    import pyspark.sql.functions as SF
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice")
    path = str(tmp_path / "li_by_orderkey")
    write_range_layout(li, path, "l_orderkey", num_files=8)
    stats = [s for s in file_stats(path, "l_orderkey") if s[1] is not None]
    assert len(stats) >= 4
    ivals = sorted((mn, mx) for _, mn, mx in stats)
    assert all(a[1] <= b[0] for a, b in zip(ivals, ivals[1:])), \
        f"overlapping file intervals: {ivals}"
    keys = sorted(r[0] for r in li.select("l_orderkey").collect())
    lo = keys[0]
    hi = keys[len(keys) // 10]          # ~first decile → 1-2 files
    assert pruned_fraction(path, "l_orderkey", lo, hi) >= 0.5
    back = spark.read.parquet(path)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, li.collect()))
    # and the Spark scan pushes the range predicate down to the source
    plan = (back.where(SF.col("l_orderkey").between(lo, hi))
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters: [IsNotNull(l_orderkey), GreaterThanOrEqual" in plan


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order layout must give footer-stats pruning on BOTH keys, where
    the single-key sort gives the secondary key none; round-trips
    row-identical. Pruning thresholds are loose (the Z-curve trades some
    per-dimension tightness for covering two)."""
    from clickhouse_hdfs_loader_spark.operators.layout import (
        pruned_fraction, write_range_layout, write_zorder_layout)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity")
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zorder_layout(li, zpath, "l_orderkey", "l_suppkey", num_files=16)
    write_range_layout(li, spath, "l_orderkey", num_files=16)
    ok, sk = [r[0] for r in li.agg({"l_orderkey": "max"}).collect()], None
    omax = ok[0]
    smax = li.agg({"l_suppkey": "max"}).collect()[0][0]
    # narrow band on each dimension (~1/8 of its range)
    oz = pruned_fraction(zpath, "l_orderkey", 0, omax // 8)
    sz = pruned_fraction(zpath, "l_suppkey", 0, smax // 8)
    ss = pruned_fraction(spath, "l_suppkey", 0, smax // 8)
    assert oz >= 0.25 and sz >= 0.25, (oz, sz)
    assert ss == 0.0                      # single-key sort: no secondary pruning
    back = spark.read.parquet(zpath)
    assert sorted(map(tuple, back.collect())) == \
        sorted(map(tuple, li.collect()))


def test_compact_parquet_preserves_rows_and_pruning(spark, sf_dir, tmp_path):
    """Compacting a 64-file directory to target size yields far fewer
    files with identical rows; with preserve_sort the recompacted layout
    keeps disjoint per-file intervals (footer pruning survives), while
    plain coalesce of sorted input would not guarantee it."""
    from clickhouse_hdfs_loader_spark.operators.layout import (
        compact_parquet, file_stats)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    path = str(tmp_path / "shards")
    li.repartition(64).write.parquet(path)
    import os
    assert sum(1 for f in os.listdir(path) if f.endswith(".parquet")) == 64
    before = sorted(map(tuple, li.collect()))
    n = compact_parquet(spark, path, target_mb=256,
                        preserve_sort="l_orderkey")
    assert n <= 4
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before
    ivals = sorted((mn, mx) for _, mn, mx in
                   file_stats(path, "l_orderkey") if mn is not None)
    assert all(a[1] <= b[0] for a, b in zip(ivals, ivals[1:]))


def test_compact_parquet_refuses_partitioned_store(spark, sf_dir, tmp_path):
    """Compacting a hive-partitioned store (e.g. the IVF index) would
    silently flatten the partitioning; the operator must refuse."""
    import pytest as PT
    from clickhouse_hdfs_loader_spark.operators.layout import compact_parquet
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    path = str(tmp_path / "parts")
    (read_table(spark, sf_dir, "lineitem")
     .select("l_orderkey", "l_linestatus")
     .write.partitionBy("l_linestatus").parquet(path))
    with PT.raises(ValueError, match="hive-partitioned"):
        compact_parquet(spark, path)


@pytest.mark.slow
def test_compact_partitioned_preserves_ivf_serving(spark, sf_dir, tmp_path):
    """Fragment the persisted IVF index with repeated appends, compact it
    per-partition, and the serve path must return the IDENTICAL top-k
    while still reading through the centroid partition layout — and the
    fragment files must actually shrink."""
    import os
    from clickhouse_hdfs_loader_spark.operators.layout import (
        compact_partitioned)
    from clickhouse_hdfs_loader_spark.operators.similarity import (
        append_to_ivf_index, build_ivf_index, query_ivf_index)
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    import pyspark.sql.functions as SF
    emb = read_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf")
    cents = build_ivf_index(emb.where(SF.col("vec_id") % 4 == 0), path, m=4)
    for r in (1, 2, 3):
        append_to_ivf_index(emb.where(SF.col("vec_id") % 4 == r),
                            path, cents)
    q = emb.where(SF.col("vec_id") < 3)
    def files_in(p):
        return sum(len([f for f in fs if f.endswith(".parquet")])
                   for _, _, fs in os.walk(p))
    before_files = files_in(path)
    before = sorted(map(tuple,
                        query_ivf_index(spark, path, cents, q).collect()))
    report = compact_partitioned(spark, path)
    assert set(report) == {os.path.join(path, f"centroid={c}")
                           for c, _ in cents}
    assert files_in(path) < before_files
    after = sorted(map(tuple,
                       query_ivf_index(spark, path, cents, q).collect()))
    assert after == before and len(after) > 0


def test_compact_parquet_injectable_swap_backend(spark, sf_dir, tmp_path):
    """The swap's rename/delete pair is injectable so object-store
    backends (no atomic rename on S3) can supply their own: the injected
    callables must carry the whole swap (local defaults untouched), and
    leftovers from a crashed prior run must fail fast with a named error
    instead of a confusing mid-swap OSError."""
    import os
    import shutil

    import pytest as PT
    from clickhouse_hdfs_loader_spark.operators.layout import compact_parquet
    from clickhouse_hdfs_loader_spark.sources.tables import read_table
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity")
    path = str(tmp_path / "store")
    li.repartition(16).write.parquet(path)
    before = sorted(map(tuple, li.collect()))
    calls = []

    def fake_rename(src, dst):
        calls.append(("rename", src, dst))
        os.rename(src, dst)

    def fake_remove(p):
        calls.append(("remove", p))
        shutil.rmtree(p)

    n = compact_parquet(spark, path, target_mb=256,
                        rename=fake_rename, remove_dir=fake_remove)
    assert n < 16
    assert sorted(map(tuple, spark.read.parquet(path).collect())) == before
    # the injected pair carried the whole swap: aside, into place, delete
    assert [c[0] for c in calls] == ["rename", "rename", "remove"]
    assert calls[0][1] == path and calls[1][2] == path
    # a leftover dir from a crashed run blocks the next run loudly
    os.makedirs(path + "._compact_old")
    with PT.raises(RuntimeError, match="mid-swap"):
        compact_parquet(spark, path)


def test_bloom_semi_join_identity_and_pruning(spark, sf_dir):
    """bloom_semi_join == plain left-semi (DuckDB-oracle-verified), the
    raw bloom pass has NO false negatives and actually prunes, and the
    fact-side probes plan as broadcast hash joins (no fact shuffle
    before the prefilter)."""
    import duckdb
    from clickhouse_hdfs_loader_spark.operators.prune import (
        bloom_build, bloom_semi_join)

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # a selective key set: customers in one nation
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet") \
        .where(F.col("c_nationkey") == 7) \
        .select(F.col("c_custkey").alias("o_custkey"))

    got = sorted(r["o_orderkey"] for r in
                 bloom_semi_join(orders, cust, "o_custkey")
                 .select("o_orderkey").collect())
    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    want = [r[0] for r in con.execute("""
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer
                            WHERE c_nationkey = 7)
        ORDER BY o_orderkey
    """).fetchall()]
    assert got == want and len(got) > 0

    # raw pass (exact=False): superset of true matches, subset of fact —
    # tiny bitmap (2^12 bits) to force real collisions while proving the
    # no-false-negative guarantee
    raw = bloom_semi_join(orders, cust, "o_custkey",
                          num_bits=1 << 12, exact=False)
    raw_keys = set(r["o_orderkey"] for r in
                   raw.select("o_orderkey").collect())
    assert set(want) <= raw_keys
    n_fact = orders.count()
    assert len(raw_keys) < n_fact          # it pruned something
    # and at the default size, pruning is near-exact
    raw_big = bloom_semi_join(orders, cust, "o_custkey",
                              exact=False).count()
    assert len(want) <= raw_big <= int(len(want) * 1.05) + 10

    # bitmap is bounded by num_bits/64 regardless of key count
    assert bloom_build(cust, "o_custkey", num_bits=1 << 12).count() <= 64

    # plan shape: the bitmap is packed into ONE broadcast row (a single
    # bit_or partial+final pair — the keys side is scanned once, not
    # once per probe) and probing is a stateless filter under a
    # broadcast cross join, so the fact side reaches its first real
    # exchange already pruned
    plan = bloom_semi_join(orders, cust, "o_custkey") \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan
    assert "element_at(_bm" in plan
    assert plan.count("partial_bit_or") == 1


def _executed_plan_after_run(spark, sf_dir, name: str) -> str:
    """Run the query, then read the EXECUTED plan: runtime exchange
    dedup (ReusedExchange) only appears in the final adaptive plan — the
    static text overcounts duplicated subtrees (the r15 lesson)."""
    from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY
    df = REGISTRY[name].fn(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_retrieval_family_reuses_aggregate_exchange(spark, sf_dir):
    """The r15 reuse unlocks (tf_idf/bm25: count(when(tf >= 1)) stops
    aggregate degeneration, S = sum(tf) rides the tf exchange; bigram:
    symmetric null pre-filters restore canonical equality of the model
    aggregate; ngram-jaccard: sizes derived from the ONE posting-list
    exchange) all depend on Catalyst NOT simplifying the shapes apart —
    a smarter future optimizer could silently re-degenerate a branch
    and bring a second scan back with no test failing (VERDICT r15
    items 3-4). Pin runtime ReusedExchange >= 1 for each."""
    for name in ("tf_idf_topk", "bm25_topk", "bigram_likelihood",
                 "dedup_ngram_jaccard"):
        plan = _executed_plan_after_run(spark, sf_dir, name)
        assert "ReusedExchange" in plan, f"{name} lost its exchange reuse"


def test_levenshtein_one_text_broadcast_serves_both_sides(spark, sf_dir):
    """dedup_levenshtein's candidate-text table is broadcast into BOTH
    pair sides keyed by the same column — one BroadcastExchange, the
    second build must dedupe to ReusedExchange at runtime (r15 §8
    one-corpus-pass shape)."""
    plan = _executed_plan_after_run(spark, sf_dir, "dedup_levenshtein")
    assert "ReusedExchange" in plan


def test_embedding_near_dup_build_side_stays_pinned(spark, sf_dir):
    """d3849de pinned F.broadcast(b) after a narrowing change silently
    flipped the planner's build side (12.6 s vs 1.0 s at sf0.1 — the
    streamed side must stay the repartitioned one). Pin BuildRight on
    the cross join (VERDICT r15 item 4)."""
    plan = _plan_of(spark, sf_dir, "dedup_embedding_cosine")
    assert "BroadcastNestedLoopJoin BuildRight" in plan
    assert "CartesianProduct" not in plan


def test_verify_stages_stay_distributed(spark, sf_dir):
    """r16: the tiny-in-bytes candidate tables feeding the quadratic
    Damerau verify (fuzzy_join_damerau) and the interpreted cosine
    verify (ann_lsh_near_dup) are round-robined to the session
    parallelism — AQE coalesces their exchanges by BYTES, blind to the
    per-row CPU downstream (measured: 1 partition / 10 partitions,
    14.7 s / 6.0 s warm at sf0.1 before the fix). Pin the
    RoundRobinPartitioning exchange so a future simplification can't
    silently re-serialize the verify stage (the VERDICT-r15-item-2
    pin stance)."""
    for name in ("fuzzy_join_damerau", "ann_lsh_near_dup"):
        plan = _plan_of(spark, sf_dir, name)
        assert "RoundRobinPartitioning" in plan, \
            f"{name} lost its verify-stage distribution"


def test_triangle_closure_probes_aggregated_wedges(spark, sf_dir):
    """r16: the triangle closure join consumes the (v, w) wedge-count
    aggregate, never the raw O(m^1.5) wedge rows (166M at sf0.1 —
    guide §2.3 aggregate-before-shuffle). Pin the partial count between
    the wedge join and the closure join."""
    import re

    plan = _plan_of(spark, sf_dir, "triangle_count")
    # the WEDGE aggregate specifically: keys (_v, _w) with a partial
    # count — a bare 'partial_count' also matches the nodes/edges
    # count aggregates and would pass on a revert
    assert re.search(r"HashAggregate\(keys=\[_v#\d+L?, _w#\d+L?\], "
                     r"functions=\[partial_count", plan), \
        "triangle_count lost its wedge-count pre-aggregation"


def test_sequence_dp_family_single_frame(spark, sf_dir):
    """r16: the per-step-gap DP is a single window frame — events
    scanned ONCE in the witness query (plus the contract-required
    distinct-users scan in the matched-flag query), no unions (the r15
    ladder unioned marker sets per step: 3-4 scans), and sequence_count
    runs its automaton as a JVM aggregate() fold — zero Python-boundary
    nodes (guide §4.1)."""
    plan = _plan_of(spark, sf_dir, "sequence_match_events")
    assert plan.count("events.parquet") == 1
    assert "Union" not in plan
    plan = _plan_of(spark, sf_dir, "sequence_match_timed")
    assert plan.count("events.parquet") == 2
    assert "Union" not in plan
    plan = _plan_of(spark, sf_dir, "sequence_count")
    assert plan.count("events.parquet") == 1
    for node in ("FlatMapGroupsInPandas", "BatchEvalPython",
                 "ArrowEvalPython"):
        assert node not in plan
