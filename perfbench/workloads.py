"""Workload definitions and seeded input generation.

Every input the engine sees is generated here from ``--seed``: seed URLs
(``gen_seeds_fast``), robots rules (``gen_robots``) and a uniform
politeness dim (every host gets the workload's budget, no crawl delays).
The engine receives only these generated frames.
"""

from __future__ import annotations

import dataclasses
import math
from dataclasses import dataclass

import pandas as pd


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    seeds: int
    hosts: int
    budget: int
    max_depth: int
    n_shards: int
    compact_every: int
    # untimed rounds of the measured crawl that run before the timed window
    warmup_rounds: int
    # round wall on an uncontended reference host (4 cores); the timed
    # window is the whole number of rounds closest to --seconds at this pace
    nominal_round_s: float
    recrawl_after: int | None = None
    prefilter: str = "bloom"
    # True: every timed round is round 0 of a freshly bootstrapped crawl
    # (empty seen set, no deltas); the warm-up is a separate smaller crawl
    fresh_crawl_per_round: bool = False

    def timed_rounds(self, seconds: float) -> int:
        return max(1, int(math.floor(seconds / self.nominal_round_s + 0.5)))

    def engine_kwargs(self, fetch_partitions: int) -> dict:
        return dict(
            n_shards=self.n_shards,
            default_budget=self.budget,
            max_depth=self.max_depth,
            fetch_partitions=fetch_partitions,
            compact_every=self.compact_every,
            recrawl_after=self.recrawl_after,
            prefilter=self.prefilter,
        )

    def oracle_kwargs(self) -> dict:
        return dict(
            default_budget=self.budget,
            max_depth=self.max_depth,
            n_shards=self.n_shards,
            recrawl_after=self.recrawl_after,
        )


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="bulk_fetch",
            why=(
                "one large round on an empty seen set: fetch UDF, codec encode and "
                "the politeness window do most of the work; seen-set probe and "
                "delta merge are bypassed"
            ),
            seeds=24_000,
            hosts=1024,
            budget=12,
            max_depth=1,
            n_shards=8,
            compact_every=8,
            warmup_rounds=1,
            nominal_round_s=12.0,
            fresh_crawl_per_round=True,
        ),
        Workload(
            name="recrawl_churn",
            why=(
                "small rounds with re-crawl expiry, cuckoo deletes, re-enqueue "
                "inserts and compaction: per-round fixed cost of the frontier, "
                "seen set and snapshot tables dominates"
            ),
            seeds=12_000,
            hosts=1024,
            budget=3,
            max_depth=1,
            n_shards=8,
            compact_every=2,
            warmup_rounds=1,
            nominal_round_s=8.0,
            recrawl_after=1,
            prefilter="cuckoo",
        ),
    )
}

# tiny shapes of the same workloads for the benchmark's own tests
SMALL = {
    "bulk_fetch": dict(seeds=600, hosts=32, budget=8),
    "recrawl_churn": dict(seeds=400, hosts=16, budget=3),
}


def get_workload(name: str, small: bool = False) -> Workload:
    w = WORKLOADS[name]
    if small:
        w = dataclasses.replace(w, **SMALL[name])
    return w


def make_inputs(w: Workload, seed: int, fraction: float = 1.0):
    """(seeds, politeness, robots) for workload ``w`` and ``seed``;
    ``fraction`` shrinks the seed list (the bulk warm-up crawl)."""
    from jobscrawler_spark.generators import gen_hosts, gen_robots, gen_seeds_fast

    seeds = gen_seeds_fast(max(1, int(w.seeds * fraction)), w.hosts, seed=seed)
    politeness = pd.DataFrame(
        {
            "host": gen_hosts(w.hosts),
            "max_fetches_per_round": w.budget,
            "crawl_delay_rounds": 0,
        }
    )
    robots = gen_robots(w.hosts, seed=seed)
    return seeds, politeness, robots
