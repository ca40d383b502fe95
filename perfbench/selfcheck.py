#!/usr/bin/env python3
"""Show that the load verifier catches broken loads.

Runs one small real load per workload (direct and staged) through
``main.run_load`` against the sink, checks that the verifier passes it,
then injects each defect into a copy of what the sink kept and checks
that the verifier flags it: a dropped row, a duplicated row, a misrouted
row, a changed row, and (staged) a temp table promoted twice or never.
Exits non-zero if the clean load fails or any defect goes unnoticed.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import copy
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402
from perfbench.gen import make_inputs  # noqa: E402
from perfbench.verify import verify_load  # noqa: E402


def _bodies(stats, host: int) -> list[str]:
    return next(b for b in stats[host].bodies.values() if b)


def drop_row(stats, shard_hosts):
    b = _bodies(stats, shard_hosts[0][0])
    b[0] = b[0].split("\n", 1)[1]


def duplicate_row(stats, shard_hosts):
    b = _bodies(stats, shard_hosts[0][0])
    b[0] = b[0] + "\n" + b[0].split("\n", 1)[0]


def misroute_row(stats, shard_hosts):
    src, dst = _bodies(stats, shard_hosts[0][0]), _bodies(stats, shard_hosts[1][0])
    line, src[0] = src[0].split("\n", 1)
    dst[0] = dst[0] + "\n" + line


def corrupt_row(stats, shard_hosts):
    b = _bodies(stats, shard_hosts[0][0])
    b[0] = "X" + b[0]


def promote_twice(stats, shard_hosts):
    s = next(s for s in stats if s.promoted)
    s.promoted.append(s.promoted[0])


def never_promote(stats, shard_hosts):
    s = next(s for s in stats if s.promoted)
    s.promoted.pop(0)


def main() -> int:
    with open(os.path.join(run.HERE, "workloads.json")) as fh:
        workloads = json.load(fh)
    run.prepare_env()
    from clickhouse_hdfs_loader_spark import session
    from clickhouse_hdfs_loader_spark.config import parse_args

    spark = session.get_spark(app_name="perfbench-selfcheck",
                              extra_conf=run.spark_conf())
    spark.sparkContext.setLogLevel("ERROR")
    missed = 0
    try:
        for name, wl in workloads.items():
            wl = wl | {"name": f"selfcheck-{name}", "rows": 3000, "distinct_keys": 300}
            inputs = make_inputs(wl, 7, os.path.join(run.WORK, "input"))
            sink, shard_hosts = run.start_sink(wl)
            try:
                config = parse_args(run.load_args(wl, sink.hosts[0].address, inputs.path))
                bench = run.Bench(wl, inputs, spark, sink, shard_hosts, config)
                ok = bench.load() is not None
                print(f"{name}: clean load {'passes' if ok else 'FAILS'} {bench.problems}")
                missed += not ok
                clean = [h.stats for h in sink.hosts]
                defects = [drop_row, duplicate_row, misroute_row, corrupt_row]
                if not wl["direct"]:
                    defects += [promote_twice, never_promote]
                for defect in defects:
                    stats = copy.deepcopy(clean)
                    defect(stats, shard_hosts)
                    problems = verify_load(stats, shard_hosts, inputs.expected,
                                           f"bench_local.{run.TABLE}",
                                           staged=not wl["direct"])
                    print(f"{name}: {defect.__name__:14s} "
                          f"{'caught' if problems else 'MISSED'} {problems[:2]}")
                    missed += not problems
            finally:
                sink.stop()
    finally:
        run.stop_spark(spark)
    print("verifier self-check:", "ok" if not missed else f"{missed} failures")
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
