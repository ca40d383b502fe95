#!/usr/bin/env python3
"""End-to-end load benchmark: ``main.run_load`` against a counting sink.

Usage (from the repository root):

    python3 perfbench/run.py --workload direct_load --seed 1 --seconds 24 --trace 0

Generates the workload's input from the seed, starts one Spark session on
``local[2]`` and one sink host per ClickHouse replica, then runs
loads back to back: one cold load, unmeasured warm-up loads for
``WARMUP_S`` seconds, then measured loads for ``--seconds``. Every load
is verified after its clock stops; a load that raises or fails
verification counts as failed. The last line of standard output is one
JSON object with the metrics: the end-to-end ones with ``--trace 0``, the
per-layer ones with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".benchwork")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.gen import (  # noqa: E402
    ADDITIONAL, EXCLUDED, SHARDING_KEY, TARGET_COLUMNS, make_inputs)
from perfbench.sink import Sink  # noqa: E402
from perfbench.verify import verify_load  # noqa: E402

WARMUP_S = 12.0
# Spark task slots. Each slot keeps a JVM task thread and a Python worker
# busy, and the JIT compiler threads run beside them: two slots keep the
# benchmark within a 4-core host, where more slots measured the scheduler
SPARK_CORES = 2
DT = "2026-10-17"
TABLE = "events"


def prepare_env() -> None:
    """Spark's and Python's scratch files inside the checkout, SPARK_CORES
    Spark task slots, and the package importable by the workers."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # the JVMs would otherwise keep a perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(min(SPARK_CORES, len(os.sched_getaffinity(0))))
    # Python workers import the package too, whatever their directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = os.environ["TMPDIR"]


def spark_conf() -> dict[str, str]:
    tmp = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"
    return {"spark.driver.extraJavaOptions": tmp,
            "spark.executor.extraJavaOptions": tmp,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.ui.showConsoleProgress": "false"}


def catalog(wl: dict, addresses: list[str], shard_hosts: list[list[int]]) -> dict[str, str]:
    """The canned answers a load's catalog round-trips need."""
    cols = ", ".join(f"{n} {t}" for n, t in TARGET_COLUMNS)
    n = len(shard_hosts)
    clusters = "".join(
        f"{n - i}\t{w}\t[{','.join(repr(addresses[h]) for h in hosts)}]\n"
        for i, (w, hosts) in enumerate(zip(wl["shard_weights"], shard_hosts)))
    return {
        f"SHOW CREATE TABLE bench.{TABLE}":
            f"CREATE TABLE bench.{TABLE} ({cols}) ENGINE = Distributed("
            f"bench_cluster, bench_local, {TABLE}, cityHash64({SHARDING_KEY}))",
        f"SHOW CREATE TABLE bench_local.{TABLE}":
            f"CREATE TABLE bench_local.{TABLE} ({cols}) ENGINE = {wl['local_engine']}",
        "system.clusters": clusters,
        f"DESC bench_local.{TABLE}": "".join(f"{n}\t{t}\n" for n, t in TARGET_COLUMNS),
    }


def start_sink(wl: dict):
    """One sink host per replica; returns the sink and each shard's host
    indexes."""
    shard_hosts, h = [], 0
    for r in wl["shard_replicas"]:
        shard_hosts.append(list(range(h, h + r)))
        h += r
    sink = Sink(h, service_s=wl["service_ms"] / 1000.0)
    sink.catalog.update(catalog(wl, [x.address for x in sink.hosts], shard_hosts))
    return sink, shard_hosts


def load_args(wl: dict, entry: str, export_dir: str) -> list[str]:
    return ["--connect", f"jdbc:clickhouse://{entry}/bench", "--table", TABLE,
            "--export-dir", export_dir, "--dt", DT,
            "--exclude-fields", str(EXCLUDED), "--additional-cols", ADDITIONAL,
            "--direct", str(wl["direct"]).lower(), "-i", wl["input_format"],
            "--batch-size", str(wl["batch_size"]),
            "--num-reduce-tasks", str(wl["num_reduce_tasks"])]


class Bench:
    """Runs verified loads and counts the attempted and failed ones."""

    def __init__(self, wl: dict, inputs, spark, sink, shard_hosts, config):
        self.wl, self.inputs, self.spark = wl, inputs, spark
        self.sink, self.shard_hosts, self.config = sink, shard_hosts, config
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def load(self) -> float | None:
        """One timed ``run_load``, verified after the clock stops. Returns
        its wall seconds, or None when it raised or was wrong."""
        # looked up on every call, so a traced run's wrapper applies
        from clickhouse_hdfs_loader_spark.main import run_load
        self.sink.reset()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            stats = run_load(self.config, self.spark)
        except Exception as exc:  # noqa: BLE001 — a raising load is a failed op
            self.failed += 1
            self.problems.append(f"run_load raised {type(exc).__name__}: {exc}"[:300])
            return None
        elapsed = time.perf_counter() - t0
        host_stats = [h.stats for h in self.sink.hosts]
        problems = verify_load(host_stats, self.shard_hosts, self.inputs.expected,
                               f"bench_local.{TABLE}", staged=not self.wl["direct"])
        if self.wl["direct"]:
            if stats != {"success_records": self.inputs.rows, "failed_records": 0}:
                problems.append(f"writer accounting {stats}")
        else:
            promoted = sum(len(s.promoted) for s in host_stats)
            if stats.get("staged_tables") != promoted:
                problems.append(f"{stats} but {promoted} promotes")
        if problems:
            self.failed += 1
            self.problems.extend(problems)
            return None
        return elapsed


def worker_peak_rss_mb() -> float:
    """Highest VmHWM among this process's PySpark Python workers."""
    me = os.getpid()

    def parent(pid: str) -> int:
        with open(f"/proc/{pid}/stat") as fh:
            return int(fh.read().rsplit(")", 1)[1].split()[1])

    peak = 0
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                if b"pyspark.daemon" not in fh.read():
                    continue
            p, ours = int(pid), False
            for _ in range(8):
                p = parent(str(p))
                if p == me:
                    ours = True
                    break
                if p <= 1:
                    break
            if not ours:
                continue
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        peak = max(peak, int(line.split()[1]))
        except (OSError, ValueError, IndexError):
            continue   # the process ended while we looked
    return peak / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM it launched and wait for it: the
    gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    with open(os.path.join(HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    if args.workload not in workloads:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads)}")
    wl = workloads[args.workload] | {"name": args.workload}

    prepare_env()
    # the program under test; a checkout without it fails here
    from clickhouse_hdfs_loader_spark import session
    from clickhouse_hdfs_loader_spark.config import parse_args

    t0 = time.perf_counter()
    inputs = make_inputs(wl, args.seed, os.path.join(WORK, "input"))
    print(f"# inputs {time.perf_counter() - t0:.2f} s", file=sys.stderr)

    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{args.workload}",
                              extra_conf=spark_conf())
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    sink = None
    try:
        # the sink's start is timed several times and its median taken
        sink_starts = []
        for _ in range(5):
            if sink is not None:
                sink.stop()
            t0 = time.perf_counter()
            sink, shard_hosts = start_sink(wl)
            sink_starts.append(time.perf_counter() - t0)
        setup_s = get_spark_s + statistics.median(sink_starts)
        config = parse_args(load_args(wl, sink.hosts[0].address, inputs.path))
        bench = Bench(wl, inputs, spark, sink, shard_hosts, config)

        print(f"# setup {setup_s:.2f} s", file=sys.stderr)
        t0 = time.perf_counter()
        first = bench.load()
        print(f"# first load {time.perf_counter() - t0:.2f} s", file=sys.stderr)
        wire_bytes = sum(h.stats.insert_bytes for h in sink.hosts)
        # the JIT keeps speeding loads up for several seconds after the
        # cold one: loads started in the warm-up window are not measured
        warmup_end = time.perf_counter() + WARMUP_S
        while time.perf_counter() < warmup_end and not bench.failed:
            bench.load()
        warm: list[float] = []
        deadline = time.perf_counter() + args.seconds
        while time.perf_counter() < deadline or (len(warm) < 3 and not bench.failed):
            t = bench.load()
            if t is not None:
                warm.append(t)
        print(f"# measured {len(warm)} loads", file=sys.stderr)
        rss = worker_peak_rss_mb()
        if args.trace:
            from perfbench.trace import traced_metrics
            metrics = traced_metrics(
                bench, get_spark_s, statistics.median(warm) if warm else None,
                os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"))
            metrics["worker.peak_rss_mb"] = metric(rss, "MB")
            metrics["first_op_s"] = metric(first or 0.0, "s")
        else:
            metrics = {
                "op_s": metric(statistics.median(warm) if warm else 0.0, "s"),
                "setup_s": metric(setup_s, "s"),
                "wire_bytes_per_row": metric(wire_bytes / inputs.rows, "B/row"),
            }
    finally:
        if sink is not None:
            sink.stop()
        stop_spark(spark)
    for line in bench.problems[:20]:
        print("problem:", line)
    print(f"# {args.workload} seed={args.seed} warm={[round(t, 3) for t in warm]}")
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
