"""The package reaches Spark's Python workers from a working directory
outside the repository, with ``PYTHONPATH`` unset: the subprocesses below
find the package only through their own ``sys.path``, so any worker-side
import succeeds only because ``session.ship_package`` put the package on
the workers' path (called from ``get_spark`` and ``__spark_entry__.py``).

One Spark session, in one subprocess, covers the worker probe, the
``__spark_entry__.py`` contract on a plain ``SparkSession.builder``
session, and a direct load through ``get_spark``; each part reports its
own outcome so that a failure names the part."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SPARK_PROBE = r'''
import json, sys
repo, sf_dir, export_dir = sys.argv[1:4]
sys.path.insert(0, repo)
out = {}


def part(name, fn):
    try:
        out[name] = fn()
    except Exception as exc:  # report the part, run the rest
        out[name] = f"{type(exc).__name__}: {str(exc)[-2000:]}"


from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as E
from clickhouse_hdfs_loader_spark.plans.queries import REGISTRY

names = ("winnow_fingerprint", "damerau_pairs", "shard_assign")
qs = E.queries()
built = {}


def build():
    built.update({n: qs[n](spark, sf_dir) for n in names})
    return "ok"


part("build", build)


# (a) the first Python worker of the session: importing the loader's
# write path must not pull in pandas
def probe(batches):
    import clickhouse_hdfs_loader_spark.clickhouse.writer  # noqa: F401
    import pyarrow as pa
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"pandas": ["pandas" in sys.modules]})


part("probe_pandas", lambda: [r.pandas for r in spark.range(
    1, numPartitions=1).mapInArrow(probe, "pandas boolean").collect()])

# (c) the __spark_entry__ contract; collect(), because count() prunes
# the UDF column
for n in names:
    part(n, lambda n=n: len(built[n].collect()))
part("entry", lambda: len(E.entry(spark).collect()))
out["queries_keys"] = sorted(qs) == sorted(REGISTRY)
out["oracle_keys"] = sorted(E.oracle_sql()) == sorted(
    n for n, s in REGISTRY.items() if s.oracle is not None)


# (b) a direct load through get_spark against two mock hosts
def load():
    from clickhouse_hdfs_loader_spark.config import parse_args
    from clickhouse_hdfs_loader_spark.main import run_load
    from clickhouse_hdfs_loader_spark.session import get_spark
    from tests.test_main_job import start_cluster
    servers = start_cluster()
    try:
        cfg = parse_args([
            "--connect", f"jdbc:clickhouse://{servers[0].host}:"
                         f"{servers[0].port}/test",
            "--dt", "2021-06-01", "--table", "t1",
            "--export-dir", export_dir,
            "--fields-terminated-by", "|", "--exclude-fields", "1,3",
            "--direct", "true", "--batch-size", "20",
            "--input-format", "text"])
        stats = run_load(cfg, get_spark(), backoff_scale=0.001)
        landed = sum(len(i.splitlines()) - 1
                     for s in servers for i in s.inserts())
        return [stats["success_records"], landed]
    finally:
        for s in servers:
            s.stop()


part("load", load)
spark.stop()
print("RESULT " + json.dumps(out))
'''


def _run_outside(tmp_path, *args: str) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run([sys.executable, *args], cwd=tmp_path, env=env,
                          capture_output=True, text=True, timeout=600)


def test_workers_import_package_from_outside_repo(tmp_path, sf_dir):
    export_dir = tmp_path / "input"
    export_dir.mkdir()
    (export_dir / "part-00000").write_text(
        "".join(f"{i % 7}|junk|did_{i}|junk2|{i}\n" for i in range(50)))
    proc = _run_outside(tmp_path, "-c", _SPARK_PROBE, REPO, sf_dir,
                        str(export_dir))
    line = [ln for ln in proc.stdout.splitlines()
            if ln.startswith("RESULT ")]
    assert line, proc.stderr[-4000:]
    out = json.loads(line[-1][len("RESULT "):])
    assert out["build"] == "ok", out
    assert out["probe_pandas"] == [False], out
    for name in ("winnow_fingerprint", "damerau_pairs", "shard_assign",
                 "entry"):
        assert isinstance(out[name], int) and out[name] > 0, (name, out)
    assert out["queries_keys"] and out["oracle_keys"], out
    assert out["load"] == [50, 50], out


def test_write_path_imports_without_pandas(tmp_path):
    """Spark-free: the loader's write path and the winnowing kernel do
    not import pandas, so neither do the workers that run them."""
    proc = _run_outside(tmp_path, "-c", (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import clickhouse_hdfs_loader_spark.clickhouse.writer, "
        "clickhouse_hdfs_loader_spark.functions.fingerprint; "
        "print('pandas' in sys.modules)"), REPO)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert proc.stdout.split() == ["False"]


def test_ship_package_is_idempotent(spark):
    """``get_spark`` already shipped the package; shipping again adds
    nothing to the workers' path."""
    from clickhouse_hdfs_loader_spark.session import ship_package
    assert ship_package(ship_package(spark)) is spark
    paths = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert paths.count(REPO) == 1
