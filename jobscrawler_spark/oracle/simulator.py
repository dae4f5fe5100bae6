"""Single-threaded reference-faithful crawl simulator (the oracle).

Implements the engine's crawl semantics sequentially in plain Python —
the structure the reference executes with asyncio (config order → page
loop → DOM order, dedupe-probe-before-fetch; reference: src/crawler.py:
320-361, src/crawlers/async_bs4.py:154-166) re-specified as the engine's
deterministic contract:

- round r selects, per host, the top-budget eligible URLs ordered by
  (priority, url); the round's fetch LIST is globally ordered by
  (priority, url)
- every fetched URL (any status) enters the seen set
- outlinks are canonicalized, robots-gated, deduped (min depth), checked
  against seen + frontier, and enqueued for round r+1
- hosts fetched in round r with crawl_delay d have their remaining
  frontier rows pushed to not-before round r+1+d

The Spark engine must match this oracle's per-round fetch ordering and
final URL-seen set EXACTLY (north_rule). Shares the synthetic fetch model
and URL canonicalizer with the engine so any mismatch is a scheduling
bug, not a data bug.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import lru_cache
from urllib.parse import urlsplit

import pandas as pd

from .. import fetch_model as FM
from ..functions.urls import canonicalize_py, host_py
from ..functions.xxhash import spark_xxhash64_str


@lru_cache(maxsize=4096)
def _robots_regex(pattern: str) -> "re.Pattern[str]":
    """Python port of frontier.robots_like_pattern's LIKE semantics:
    '*' -> any sequence, trailing '$' anchors, everything else literal."""
    anchored = pattern.endswith("$")
    core = pattern[:-1] if anchored else pattern
    rx = ".*".join(re.escape(part) for part in core.split("*"))
    return re.compile("^" + rx + (r"\Z" if anchored else ""))


def robots_match_py(path: str, pattern: str) -> bool:
    """Wildcard-aware robots rule match — MUST mirror the engine's
    plain-startswith fast path / LIKE slow path split exactly."""
    if "*" not in pattern and not pattern.endswith("$"):
        return path.startswith(pattern)
    return _robots_regex(pattern).match(path) is not None


@dataclass
class FrontierEntry:
    priority: float
    depth: int
    not_before_round: int


@dataclass
class OracleCrawler:
    politeness: pd.DataFrame
    robots: pd.DataFrame
    default_budget: int = 8
    max_depth: int = 2
    n_shards: int = 16
    recrawl_after: int | None = None  # re-crawl policy (r5): forget + re-enqueue
    # priority_mode="pagerank" (r6): mirrors CrawlEngine — link priority =
    # (PR_SPAN - integer host rank) * 1000 + xxhash64(url) % 1000 over the
    # accumulated post-robots host graph (expected.pagerank_py)
    priority_mode: str = "hash"
    host_edges: set = field(default_factory=set)
    frontier: dict[str, FrontierEntry] = field(default_factory=dict)
    seen: set[str] = field(default_factory=set)
    # url -> round fetched (drives the re-crawl expiry; seen stays a set
    # so equivalence tests compare engine seen-URLs to it directly)
    seen_round: dict[str, int] = field(default_factory=dict)
    fetch_log: list[tuple[int, str]] = field(default_factory=list)  # (round, url)
    landed: list[dict] = field(default_factory=list)
    round_no: int = 0

    def __post_init__(self):
        self._budgets = {
            r.host: int(r.max_fetches_per_round) for r in self.politeness.itertuples()
        }
        self._delays = {
            r.host: int(r.crawl_delay_rounds)
            for r in self.politeness.itertuples()
            if int(r.crawl_delay_rounds) > 0
        }
        self._rules: dict[str, list[tuple[int, str, bool]]] = {}
        for r in self.robots.itertuples():
            self._rules.setdefault(r.host, []).append(
                (len(r.path_prefix), r.path_prefix, bool(r.allow))
            )

    def update_politeness(self, politeness: pd.DataFrame) -> None:
        """Mid-crawl politeness update (mirrors CrawlEngine.update_politeness):
        budgets/delays re-derived, effective from the next round."""
        self.politeness = politeness
        self.__post_init__()

    # -- helpers (must mirror the Spark expressions exactly) ----------------
    def _allowed(self, url: str) -> bool:
        host = host_py(url)
        rules = self._rules.get(host)
        if not rules:
            return True
        path = urlsplit(url).path or "/"  # parse_url(url,'PATH') equivalent
        applicable = [r for r in rules if robots_match_py(path, r[1])]
        if not applicable:
            return True
        return max(applicable)[2]  # (len, prefix, allow) — same as array_max

    def _priority_of(self, url: str) -> float:
        h = spark_xxhash64_str(url)
        if self.priority_mode == "hash":
            return (h % 1_000_000) / 1_000_000.0
        # pagerank band formula — float(int <= ~1e12) is exact, matching
        # the engine's integer-valued-double cast (engine.PR_SPAN)
        rank = getattr(self, "_ranks", {}).get(host_py(url), 0)
        return float((10**9 - rank) * 1000 + h % 1000)

    def _recompute_ranks(self) -> None:
        from .expected import pagerank_py

        self._ranks = pagerank_py(self.host_edges)

    # -- lifecycle -----------------------------------------------------------
    def bootstrap(self, seeds: pd.DataFrame) -> None:
        for r in seeds.itertuples():
            url = canonicalize_py(r.url)
            if not self._allowed(url):
                continue
            e = self.frontier.get(url)
            if e is None:
                self.frontier[url] = FrontierEntry(float(r.priority), int(r.depth), 0)
            else:
                e.priority = min(e.priority, float(r.priority))
                e.depth = min(e.depth, int(r.depth))
        self.round_no = 0

    def run_round(self) -> dict:
        r = self.round_no
        # re-crawl policy: at round start, URLs fetched in round
        # r - recrawl_after - 1 are forgotten and re-enqueued (depth 0,
        # link-rule priority, eligible immediately) — mirrors
        # the expiry + re-enqueue at the start of CrawlEngine.run_round
        if self.recrawl_after is not None:
            cutoff = r - self.recrawl_after - 1
            if cutoff >= 0:
                for url, fetched_round in list(self.seen_round.items()):
                    if fetched_round == cutoff:
                        self.seen.discard(url)
                        del self.seen_round[url]
                        self.frontier[url] = FrontierEntry(self._priority_of(url), 0, r)
        by_host: dict[str, list[tuple[float, str]]] = {}
        for url, e in self.frontier.items():
            if e.not_before_round <= r:
                by_host.setdefault(host_py(url), []).append((e.priority, url))
        selected: list[tuple[float, str]] = []
        fetched_hosts: set[str] = set()
        for host, items in by_host.items():
            budget = self._budgets.get(host, self.default_budget)
            if budget <= 0:
                continue
            items.sort()
            take = items[:budget]
            if take:
                fetched_hosts.add(host)
                selected.extend(take)
        selected.sort()  # global fetch order: (priority, url)

        new_links: dict[str, int] = {}  # url -> min depth
        n_ok = 0
        for priority, url in selected:
            depth = self.frontier[url].depth
            self.fetch_log.append((r, url))
            self.seen.add(url)
            self.seen_round[url] = r
            status = FM.fetch_status(url)
            if status == 200:
                n_ok += 1
                data, w, h, fmt, caption, ph = FM.fetch_payload(url)
                self.landed.append(
                    {
                        "image_id": url,
                        "w": w,
                        "h": h,
                        "fmt": fmt,
                        "caption": caption,
                        "phash": ph,
                        "url": url,
                        "round": r,
                        "depth": depth,
                        "priority": priority,
                        "user_agent_idx": FM.user_agent_idx(url, r),
                    }
                )
                for raw in FM.outlinks_for(url, depth, self.max_depth):
                    link = canonicalize_py(raw)
                    if not self._allowed(link):
                        continue
                    if self.priority_mode == "pagerank":
                        # post-robots host edge, BEFORE any dedupe (a
                        # link to an already-seen URL still votes for
                        # its host) — mirrors the engine's edge append
                        src_h, dst_h = host_py(url), host_py(link)
                        if src_h != dst_h:
                            self.host_edges.add((src_h, dst_h))
                    d = depth + 1
                    new_links[link] = min(new_links.get(link, d), d)
            del self.frontier[url]

        # pagerank mode: new links rank against the graph INCLUDING this
        # round's edges (the engine appends, then prioritizes)
        if self.priority_mode == "pagerank":
            self._recompute_ranks()

        # crawl-delay pushback for hosts fetched this round
        for url, e in self.frontier.items():
            host = host_py(url)
            if host in fetched_hosts and host in self._delays:
                e.not_before_round = max(e.not_before_round, r + 1 + self._delays[host])

        n_new = 0
        for link, d in new_links.items():
            if link in self.seen or link in self.frontier:
                continue
            self.frontier[link] = FrontierEntry(self._priority_of(link), d, r + 1)
            n_new += 1

        self.round_no = r + 1
        return {"round": r, "selected": len(selected), "ok": n_ok, "new_urls": n_new}

    def run(self, n_rounds: int) -> list[dict]:
        out = []
        for _ in range(n_rounds):
            if not self.frontier:
                break
            out.append(self.run_round())
        return out
