"""Check one load against the expectation from ``gen.make_inputs``.

Runs after the clock stops, on what the sink kept of the operation. A
direct load must deliver each shard's exact multiset of wire lines to
every replica of a non-replicated shard. A staged load must land each
shard's lines in temp tables on that shard's hosts, promote every temp
table that received rows exactly once, then drop it. Returns a list of
problems; an empty list means the load is correct.
"""

from __future__ import annotations

from .gen import digest
from .sink import HostStats


def _lines(payloads: list[str]):
    for p in payloads:
        if p:
            yield from p.split("\n")


def verify_load(stats: list[HostStats], shard_hosts: list[list[int]],
                expected: list[tuple[int, int]], target: str, *,
                staged: bool) -> list[str]:
    problems: list[str] = []
    for shard, hosts in enumerate(shard_hosts):
        want = expected[shard]
        if not staged:
            # non-replicated target: every replica gets the whole shard
            for h in hosts:
                got = digest(_lines(stats[h].bodies.get(target, [])))
                if got != want:
                    problems.append(f"shard {shard} host {h}: {got[0]} rows, "
                                    f"expected {want[0]}"
                                    f"{'' if got[1] == want[1] else ', digest differs'}")
            continue
        landed: list[str] = []
        for h in hosts:
            s = stats[h]
            if s.bodies.get(target):
                problems.append(f"host {h}: staged load inserted into {target} directly")
            for temp in sorted(set(s.promoted) - set(s.bodies)):
                problems.append(f"host {h}: promoted {temp}, which received no rows")
            for temp, payloads in s.bodies.items():
                if temp == target:
                    continue
                n = s.promoted.count(temp)
                if n != 1:
                    problems.append(f"host {h}: {temp} promoted {n} times")
                if temp not in s.dropped or temp in s.temp_live:
                    problems.append(f"host {h}: {temp} not dropped")
                landed.extend(payloads * n)
        got = digest(_lines(landed))
        if got != want:
            problems.append(f"shard {shard}: {got[0]} rows promoted, expected {want[0]}"
                            f"{'' if got[1] == want[1] else ', digest differs'}")
    return problems
