"""Workload definitions and the seeded request sequence.

Every workload is a closed loop with one client: a request is one
registry query (build the plan, then collect it), issued only after the
previous one finished. One client because the registry's cache janitor
releases a query's caches when the next query builds, so frames must be
collected in order.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass

ZIPF_EXPONENT = 1.0
BLOCK = 4  # the seed reorders requests only within blocks this long


@dataclass(frozen=True)
class Workload:
    name: str
    families: tuple[str, ...]  # defining modules, relative to the package
    # Generated events table + StreamingQueryListener.
    streaming: bool
    # Requests per second of --seconds. A run's request count is fixed by
    # --seconds, not by a clock, so a seed repeats the same requests (and
    # streaming batches and rows) exactly.
    per_second: float

    def in_pool(self, family: str) -> bool:
        return any(family == f or family.startswith(f + ".") for f in self.families)

    def requests(self, seconds: float) -> int:
        return max(MIN_REQUESTS, math.ceil(seconds * self.per_second))


MIN_REQUESTS = 11  # the tail percentile needs 10 samples beyond it

WORKLOADS = {
    w.name: w
    for w in (
        # Batch SQL rungs over the cached sf0.01 tables: requests take
        # 0.3-2 s, so per-request fixed cost (planning, codegen, task
        # launch, Arrow collect) dominates; no Python workers, no streaming.
        Workload(
            "sql_interactive",
            tuple(f"operators.{m}" for m in (
                "relational", "aggregates", "joins", "windows", "sorts",
                "setops", "sqlfront", "modernsql", "sketches", "profiling",
                "behavior", "scale")) + ("functions",),
            streaming=False,
            per_second=0.88,
        ),
        # The Lambda -> Structured Streaming path over a seeded events
        # table: per-micro-batch machinery, state commits that grow with
        # the key count, and WAL, state-store and sink writes.
        Workload(
            "stream_ingest",
            ("streaming.queries", "operators.sources"),
            streaming=True,
            per_second=0.64,
        ),
    )
}


def popularity_order(pool: dict[str, str]) -> list[str]:
    """Fixed popularity ranking of `pool` (query name -> family).

    Families take turns (largest first, queries in hash order within a
    family), so the hottest ranks span the families and even a short
    run exercises most of them. The ranking depends on neither the seed
    nor registration order.
    """
    by_family: dict[str, list[str]] = {}
    for name in sorted(pool, key=lambda n: hashlib.sha256(n.encode()).hexdigest()):
        by_family.setdefault(pool[name], []).append(name)
    queues = sorted(by_family.values(), key=lambda q: (-len(q), q[0]))
    ranked: list[str] = []
    while queues:
        ranked += [q.pop(0) for q in queues]
        queues = [q for q in queues if q]
    return ranked


def allocation(n: int, ranked: list[str]) -> dict[str, int]:
    """How often each query runs among `n` requests: Zipf-like weights
    1 / rank**ZIPF_EXPONENT, rounded by largest remainder. Hot queries
    repeat; the rest run once or never."""
    weights = [1.0 / (r + 1) ** ZIPF_EXPONENT for r in range(len(ranked))]
    total = sum(weights)
    expect = [n * w / total for w in weights]
    counts = [int(e) for e in expect]
    by_remainder = sorted(range(len(ranked)), key=lambda i: (counts[i] - expect[i], i))
    for i in by_remainder[: n - sum(counts)]:
        counts[i] += 1
    return {q: c for q, c in zip(ranked, counts) if c}


def sequence(pool: dict[str, str], n: int, seed: int) -> list[str]:
    """`n` requests over `pool` (query name -> family) in seed order.

    Which queries run, and how often, is fixed by popularity; each
    query's runs are spread evenly over the run, and the seed shuffles
    the requests within consecutive blocks of BLOCK (and, for
    stream_ingest, generates the events). A run sits inside the JVM's
    warm-up, so a request's latency depends on its position: letting the
    seed pick the rarely-run queries moved the median latency of a
    21-request stream run by 15-25% between seeds in simulation, and a
    full shuffle of a fixed mix still moved it by 23% over ten seeds of
    sql_interactive.
    """
    counts = allocation(n, popularity_order(pool))
    slots = sorted(((j + 0.5) / c, rank, q)
                   for rank, (q, c) in enumerate(counts.items()) for j in range(c))
    base = [q for _, _, q in slots]
    rng = random.Random(seed)
    out: list[str] = []
    for i in range(0, n, BLOCK):
        block = base[i:i + BLOCK]
        rng.shuffle(block)
        out += block
    return out
