"""Seeded load inputs and the expectation they imply.

``make_inputs`` draws one table of source rows from the seed, writes it
as pipe-delimited text (``direct_load``) or as one ORC file
(``staged_load``), and computes, without Spark and without the code being
timed, what every shard must receive: the multiset of wire lines, given
as a row count and an order-insensitive digest per shard.

The expectation applies the loader's documented rules to the generator's
own values:

- T3: source field 2 is excluded;
- T4: a null or literal ``\\N`` becomes ``--null-string`` ("") in a
  String/Nullable(String) target column and ``--null-non-string`` ("0")
  elsewhere;
- T5/wire: tab, newline and CR become a space and ``\\`` becomes ``/``;
- T7: the ``--additional-cols`` constant is appended;
- routing: the scalar Guava-parity ``functions.murmur.guava_shard_code``
  (pinned to Guava goldens), modulo the total weight, then the
  cumulative-weight walk over the shards in ``system.clusters`` order.
  Keys are never blank: blank keys get a random route by design.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

NULL = "\\N"
ADDITIONAL = "loadbench"
EXCLUDED = 2   # source index of the excluded junk field

# (name, ClickHouse type) of the target's local table, in order
TARGET_COLUMNS = [
    ("id", "Int64"), ("user_key", "String"), ("name", "String"),
    ("amount", "Int32"), ("city", "Nullable(String)"), ("ts", "DateTime"),
    ("flag", "UInt8"), ("note", "String"), ("source", "String"),
]
SHARDING_KEY = "user_key"

_WIRE = str.maketrans({"\t": " ", "\n": " ", "\r": " ", "\\": "/"})
_WORDS = ("alpha", "beta", "gamma", "delta", "kappa", "omega", "zeta",
          "café", "naïve", "数据", "ключ", "x", "yy", "lorem", "ipsum")


def shard_slots(weights: list[int]) -> list[int]:
    """Slot → shard index: the cumulative-weight walk, as a table."""
    return [i for i, w in enumerate(weights) for _ in range(w)]


def wire_value(raw: str | None, is_string: bool) -> str:
    if raw is None or raw == NULL:
        return "" if is_string else "0"
    return raw.translate(_WIRE)


def _phrase(rng: np.random.Generator, lo: int, hi: int, specials: str) -> str:
    words = [_WORDS[i] for i in rng.integers(0, len(_WORDS), rng.integers(lo, hi))]
    out = " ".join(words)
    for ch in specials:
        if rng.random() < 0.15:
            pos = int(rng.integers(0, len(out) + 1))
            out = out[:pos] + ch + out[pos:]
    return out


def _pool(rng, n, lo, hi, specials, null_share, empty_share=0.0):
    vals = [_phrase(rng, lo, hi, specials) for _ in range(n)]
    for i in range(n):
        r = rng.random()
        if r < null_share:
            vals[i] = NULL
        elif r < null_share + empty_share:
            vals[i] = ""
    return vals


@dataclass
class Inputs:
    path: str             # --export-dir
    rows: int
    keys: list[str]       # the sharding key of every row, in input order
    expected: list[tuple[int, int]]   # per shard: (rows, digest)


def digest(lines) -> tuple[int, int]:
    """Order-insensitive multiset digest: (count, sum of hashes mod 2^64).
    ``hash`` is salted per process, so digests compare only within one
    process."""
    n = 0
    total = 0
    for line in lines:
        n += 1
        total += hash(line)
    return n, total & 0xFFFFFFFFFFFFFFFF


def make_inputs(workload: dict, seed: int, workdir: str) -> Inputs:
    from clickhouse_hdfs_loader_spark.functions.murmur import guava_shard_code

    rng = np.random.default_rng(seed)
    n = int(workload["rows"])
    orc = workload["input_format"] == "orc"
    # ORC strings may carry newlines; a text line cannot
    specials = "\t\\\n\r" if orc else "\t\\"

    keys_pool = [f"{_WORDS[int(rng.integers(0, len(_WORDS)))]}-{i:x}"
                 for i in range(int(workload["distinct_keys"]))]
    # pooled string columns: (values, index of each row's value)
    pooled = {name: (pool, rng.integers(0, len(pool), n)) for name, pool in (
        ("junk", _pool(rng, 500, 1, 3, "\t\\", 0.05)),
        ("name", _pool(rng, 4000, 1, 4, specials, 0.03, 0.02)),
        ("city", _pool(rng, 300, 1, 3, specials, 0.10)),
        ("note", _pool(rng, 6000, 3, 9, specials, 0.02, 0.02)))}

    ids = [str(i) for i in range(n)]
    for i in rng.choice(n, n // 50, replace=False):
        ids[i] = NULL
    key_idx = rng.integers(0, len(keys_pool), n)
    keys = [keys_pool[i] for i in key_idx]
    amount = [str(v) for v in rng.integers(-100_000, 100_000, n)]
    for i in rng.choice(n, n // 40, replace=False):
        amount[i] = NULL
    minutes = rng.integers(1_700_000_000, 1_800_000_000, n) // 60 * 60
    ts = np.char.replace(np.datetime_as_string(minutes.astype("datetime64[s]")),
                         "T", " ").tolist()
    flag = [("0", "1", NULL)[v] for v in rng.choice(3, n, p=[0.45, 0.45, 0.10])]

    def rows_of(name):
        pool, idx = pooled[name]
        return [pool[i] for i in idx]

    cols = [ids, keys, rows_of("junk"), rows_of("name"), amount,
            rows_of("city"), ts, flag, rows_of("note")]
    if orc:
        # real ORC nulls next to literal \N strings, and typed integers
        cols[0] = [None if v == NULL else int(v) for v in ids]
        cols[5] = [None if (v == NULL and i % 2) else v
                   for i, v in enumerate(cols[5])]

    os.makedirs(workdir, exist_ok=True)
    path = os.path.join(workdir, f"{workload['name']}-{seed}")
    os.makedirs(path, exist_ok=True)
    for f in os.listdir(path):
        os.remove(os.path.join(path, f))
    if orc:
        import pyarrow as pa
        import pyarrow.orc as po
        arrays = [pa.array(c, type=pa.int64() if i == 0 else pa.string())
                  for i, c in enumerate(cols)]
        po.write_table(pa.table(arrays, names=[f"f{i}" for i in range(len(cols))]),
                       os.path.join(path, "part-00000.orc"))
    else:
        with open(os.path.join(path, "part-00000"), "w", encoding="utf-8") as fh:
            fh.writelines("|".join(r) + "\n" for r in zip(*cols))

    # expectation, column by column in target order (source field 2 is
    # excluded); a real ORC null and a literal \N follow the same rule
    def wire_pooled(name):
        pool, idx = pooled[name]
        wire = [wire_value(v, True) for v in pool]
        return [wire[i] for i in idx]

    def wire_plain(values):   # non-string targets: no specials to replace
        return ["0" if v == NULL else v for v in values]

    wire_cols = [wire_plain(ids), keys, wire_pooled("name"), wire_plain(amount),
                 wire_pooled("city"), wire_plain(ts), wire_plain(flag),
                 wire_pooled("note"), [wire_value(ADDITIONAL, True)] * n]
    lines = ["\t".join(parts) for parts in zip(*wire_cols)]

    weights = workload["shard_weights"]
    slots = shard_slots(weights)
    route = {k: slots[guava_shard_code(k) % len(slots)] for k in keys_pool}
    per_shard: list[list[str]] = [[] for _ in weights]
    for k, line in zip(keys, lines):
        per_shard[route[k]].append(line)
    return Inputs(path, n, keys, [digest(s) for s in per_shard])
