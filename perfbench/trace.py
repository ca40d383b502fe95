"""Traced run: per-layer numbers for one load.

Spans are recorded around the benchmark's calls into each module's
public functions (name, start, end, parent, shared run id), kept in
memory and written to ``.benchwork/trace-<workload>-<seed>.json`` at the
end. The wrappers are installed on the module attributes ``run_load``
looks up at call time and removed afterwards; no program file changes.

The Spark action inside ``write_direct``/``stage_partitions`` fuses
decode, transform, routing and serialization, so their self times come
from forcing each prefix of that plan on its own, built with the same
public functions: decode → ``transform_pipeline`` →
``repartition_by_shard`` → the ``(shard, line)`` projection. A prefix is
forced by counting the rows of its own executed plan inside the JVM, which
runs every row through the plan and discards it like a ``noop`` write,
while leaving the executed AQE plan readable: the routing UDF's
``pythonBootTime``/``pythonInitTime``/``pythonTotalTime`` and the shuffle
bytes come from it. A layer's self time is its prefix time minus the
prefix it builds on; the writer's self time is the traced action minus
the whole serialized prefix.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    @contextmanager
    def around(self, targets: list[tuple[object, str, str]]):
        """Wrap ``obj.attr`` in a span named ``name`` for each target."""
        saved = []

        def wrap(fn, name):
            def traced(*args, **kwargs):
                with self.span(name):
                    return fn(*args, **kwargs)
            return traced

        try:
            for obj, attr, name in targets:
                fn = getattr(obj, attr)
                saved.append((obj, attr, fn))
                setattr(obj, attr, wrap(fn, name))
            yield self
        finally:
            for obj, attr, fn in reversed(saved):
                setattr(obj, attr, fn)


def force(df) -> object:
    """Run every row of ``df`` through its plan inside the JVM; return the
    executed (final AQE) plan."""
    plan = df._jdf.queryExecution().executedPlan()
    plan.execute().count()
    return plan.executedPlan() if plan.getClass().getSimpleName() == \
        "AdaptiveSparkPlanExec" else plan


def plan_metrics(plan) -> dict[str, float]:
    """Sum each named SQL metric over the plan's nodes, times in seconds."""
    out: dict[str, float] = {}
    todo = [plan]
    while todo:
        node = todo.pop()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            scale = {"timing": 1e-3, "nsTiming": 1e-9}.get(m.metricType(), 1.0)
            key = f"{node.nodeName()}.{kv._1()}"
            out[key] = out.get(key, 0.0) + m.value() * scale
        children = node.children().iterator()
        while children.hasNext():
            todo.append(children.next())
        if "QueryStage" in node.getClass().getSimpleName():
            todo.append(node.plan())
    return out


def _client(address: str):
    from clickhouse_hdfs_loader_spark.clickhouse.client import ClickHouseClient
    host, port = address.split(":")
    return ClickHouseClient(host, int(port))


def _timed(fn, repeat: int) -> float:
    samples = []
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return statistics.median(samples)


def traced_metrics(bench, get_spark_s: float, untraced_op_s: float | None,
                   out_path: str) -> dict:
    from clickhouse_hdfs_loader_spark import main
    from clickhouse_hdfs_loader_spark.clickhouse import lifecycle, staging
    from clickhouse_hdfs_loader_spark.functions.murmur_np import guava_shard_codes
    from clickhouse_hdfs_loader_spark.operators.sharding import repartition_by_shard
    from clickhouse_hdfs_loader_spark.operators.transform import (
        transform_pipeline, wire_line_col, wire_separator)
    from clickhouse_hdfs_loader_spark.sources import catalog

    from .gen import SHARDING_KEY, TARGET_COLUMNS

    tracer = Tracer(uuid.uuid4().hex)
    wl, sink, config = bench.wl, bench.sink, bench.config
    catalog_fns = ("fetch_create_table", "fetch_topology", "fetch_describe")
    targets = [(main, "run_load", "main.run_load"),
               (main, "read_input", "main.read_input"),
               (main, "transform_pipeline", "operators.transform.transform_pipeline"),
               (main, "write_direct", "clickhouse.writer.write_direct"),
               (main, "staged_load", "clickhouse.staging.staged_load"),
               (staging, "stage_partitions", "clickhouse.staging.stage_partitions"),
               (staging, "promote", "clickhouse.staging.promote"),
               (staging, "cleanup", "clickhouse.staging.cleanup"),
               (lifecycle.LifecycleManager, "clean_temp_tables",
                "clickhouse.lifecycle.clean_temp_tables")]
    targets += [(catalog, f, f"sources.catalog.{f}") for f in catalog_fns]
    with tracer.around(targets):
        bench.load()
    run_load_s = tracer.total("main.run_load")

    # the sink's view of the traced load
    hosts = [h.stats for h in sink.hosts]
    per_host = [{"address": h.address, "insert_statements": s.insert_statements,
                 "insert_bytes": s.insert_bytes, "insert_rows": s.insert_rows,
                 "other_statements": s.other_statements, "pings": s.pings,
                 "insert_span_s": (s.last_insert_ack - s.first_insert
                                   if s.first_insert else None)}
                for h, s in zip(sink.hosts, hosts)]
    sink_counts = {k: sum(h[k] for h in per_host) for k in (
        "insert_statements", "insert_bytes", "other_statements", "pings")}
    spans = [h["insert_span_s"] for h in per_host if h["insert_span_s"] is not None]
    rows_per_insert = max(s.max_rows_per_insert for s in hosts)
    inflight = sink.max_inflight
    temp_tables = sum(len(s.promoted) for s in hosts)

    # one batch-sized INSERT through the client, re-sending a body the
    # traced load delivered
    h = next(h for h in sink.hosts if any(h.stats.bodies.values()))
    table, bodies = next((t, b) for t, b in h.stats.bodies.items() if b)
    payload = bodies[0]
    cli = _client(h.address)
    header = f"INSERT INTO {table} FORMAT {config.clickhouse_format}"
    insert_s = _timed(lambda: cli.insert_payload(header, payload), 3)
    insert_mb = (len(header) + 1 + len(payload.encode("utf-8"))) / 1e6
    sink.reset()

    # prefix decomposition of the one Spark action, built the way run_load
    # builds it
    df = main.read_input(bench.spark, config)
    with tracer.span("prefix.decode"):
        force(df)
    positions = {i for i, (_n, t) in enumerate(TARGET_COLUMNS)
                 if t in ("String", "Nullable(String)")}
    df = transform_pipeline(df, exclude=config.exclude_fields,
                            additional=config.additional_cols,
                            target_width=len(TARGET_COLUMNS),
                            null_string=config.null_string,
                            null_non_string=config.null_non_string,
                            escape_null=config.escape_null,
                            target_string_positions=positions)
    with tracer.span("prefix.pipeline"):
        force(df)
    key_col = df.columns[[n for n, _t in TARGET_COLUMNS].index(SHARDING_KEY)]
    topology = catalog.fetch_topology(_client(sink.hosts[0].address), "bench_cluster")
    sink.reset()
    routed = repartition_by_shard(df, key_col, topology,
                                  config.tasks_per_shard(len(topology.nodes)))
    with tracer.span("prefix.route"):
        force(routed)
    data_cols = [c for c in routed.columns if c != "shard"]
    line = wire_line_col(routed, data_cols, wire_separator(config.clickhouse_format))
    with tracer.span("prefix.wire_line"):
        plan = force(routed.select("shard", line.alias("line")))
    pm = plan_metrics(plan)

    keys = bench.inputs.keys
    keys_s = _timed(lambda: guava_shard_codes(keys), 5)

    t = tracer.total
    decode = t("prefix.decode")
    pipeline = t("prefix.pipeline")
    route = t("prefix.route")
    wire = t("prefix.wire_line")
    resolve = sum(t(f"sources.catalog.{f}") for f in catalog_fns)
    action = t("clickhouse.writer.write_direct") + t("clickhouse.staging.stage_partitions")
    promote_self = t("clickhouse.staging.promote") - t("clickhouse.staging.cleanup")
    self_times = {
        "main.resolve_s": resolve,
        "main.read_input_s": t("main.read_input"),
        "sources.decode_s": decode,
        "operators.transform.pipeline_s": pipeline - decode,
        "operators.sharding.route_s": route - pipeline,
        "operators.transform.wire_line_s": wire - route,
        "clickhouse.writer.write_s": (action - wire) if wl["direct"] else 0.0,
        "clickhouse.staging.stage_s": 0.0 if wl["direct"] else action - wire,
        "clickhouse.staging.promote_s": promote_self,
        "clickhouse.staging.cleanup_s": t("clickhouse.staging.cleanup"),
        "clickhouse.lifecycle.clean_temp_tables_s":
            t("clickhouse.lifecycle.clean_temp_tables"),
    }
    metrics = {k: (v, "s") for k, v in self_times.items()}
    metrics |= {
        "session.get_spark_s": (get_spark_s, "s"),
        "main.run_load_s": (run_load_s, "s"),
        "trace.unattributed_s": (run_load_s - sum(self_times.values()), "s"),
        "trace.overhead_s": (run_load_s - untraced_op_s
                             if untraced_op_s is not None else 0.0, "s"),
        "operators.sharding.udf_boot_s": (pm.get("ArrowEvalPython.pythonBootTime", 0.0), "s"),
        "operators.sharding.udf_init_s": (pm.get("ArrowEvalPython.pythonInitTime", 0.0), "s"),
        "operators.sharding.udf_total_s": (pm.get("ArrowEvalPython.pythonTotalTime", 0.0), "s"),
        "operators.sharding.shuffle_bytes": (pm.get("Exchange.shuffleBytesWritten", 0.0), "B"),
        "functions.murmur_np.keys_per_s": (len(keys) / keys_s, "1/s"),
        "clickhouse.client.insert_mb_per_s": (insert_mb / insert_s, "MB/s"),
        "clickhouse.writer.rows_per_insert.max": (rows_per_insert, "count"),
        "clickhouse.writer.inflight.max": (inflight, "count"),
        "clickhouse.writer.shard_span_s.max": (max(spans, default=0.0), "s"),
        "clickhouse.writer.shard_span_s.min": (min(spans, default=0.0), "s"),
        "clickhouse.staging.temp_tables": (temp_tables, "count"),
    }
    metrics |= {f"clickhouse.client.{k}": (v, "B" if k.endswith("bytes") else "count")
                for k, v in sink_counts.items()}

    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump({"run_id": tracer.run_id, "spans": tracer.spans,
                   "sink_hosts": per_host, "plan_metrics": pm}, fh, indent=1)
    return {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}
