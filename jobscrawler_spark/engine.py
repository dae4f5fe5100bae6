"""The crawl engine: batched fetch rounds over snapshot tables.

Round structure (SURVEY.md §3.1 re-expressed as a Spark dataflow):

    frontier (delta: base ∪ re-enqueued rows ⟕anti tombstones + host-delay events)
             ── eligible(not_before_round <= r)
             ── politeness budget window (per-host top-k, W4)
             ── salted repartition (skew kill)
             ── mapInPandas fetch (the only non-SQL stage)
             ├─→ images table   (status==200 rows, input_hint shape + lineage)
             ├─→ seen-set add   (ALL fetched URLs — 403s are not refetched)
             ├─→ outlinks: canonicalize → robots gate → dedupe → anti-join
             │   seen ∪ frontier → ONE frontier INSERT (depth+1) + re-enqueued rows
             ├─→ frontier REMOVE delta (fetched URLs) + host delay events;
             │   compaction folds them + the INSERT's rows every K rounds (O(round) writes,
             │   never an O(frontier) rewrite — SCALING.md "Frontier")
             └─→ per-partition metrics row(s)

Dedupe placement: the seen-set anti-join runs at INSERT time (bootstrap and
outlink ingestion), not per round — the frontier is unique by URL, so a URL
is checked against the seen set exactly once, mirroring the reference's
probe-before-fetch placement (reference: src/crawlers/async_bs4.py:154-166)
at 1/rounds the cost.

Determinism contract: fetch order within a round is the data-defined key
``(priority, url)`` per host under budgets, ``(round, priority, url)``
globally — never task completion order. The single-threaded oracle
(jobscrawler_spark.oracle.simulator) implements the same contract; the
equivalence tests require exact match of both the ordered fetch list and
the final URL-seen set.

Checkpointing: every table the engine persists is a SnapshotTable. The
round state (frontier rows, tombstones and delays, images, metrics, seen
set and filter, host edges) is named once, in ``self.tables``: a round
commits its writes, then ``checkpoint.json`` records every table's snapshot
id (and the shard count and prefilter the seen set is stored by)
atomically, then each table expires the history its last overwrite made
unreachable: resume rolls every table back to the latest checkpoint's ids
and continues, so nothing reads older history — a crash at any commit
point mid-round is invisible. The politeness and robots dims are inputs,
not round state: they are overwritten whole (one snapshot each) and
resume keeps them.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.urls import host_col, shard_col, with_canonical
from .operators.fetch import run_fetch
from .operators.frontier import (
    politeness_select,
    robots_gate,
    salted_repartition,
)
from .operators.seen_set import SeenSet
from .plans.delta_frontier import STORED_COLS, DeltaFrontier
from .plans.tables import SnapshotTable, commit_json
from pyspark.sql.types import StructType

from .schemas import (
    FETCH_RESULT,
    FRONTIER,
    HOST_EDGES,
    IMAGES,
    POLITENESS,
    ROBOTS,
    ROUND_METRICS,
)

# priority_mode="pagerank" constants (the simulator mirrors them exactly):
# link priority = (PR_SPAN - host_rank) * 1000 + xxhash64(url) % 1000, an
# integer-valued double (< 2^53, exactly representable) — central hosts
# sort first, the hash part breaks ties inside a host band. PR_SPAN equals
# the pagerank scale, so the band index is always nonnegative.
PR_SPAN = 10**9
PR_ITERS = 10

IMAGES_LANDED_COLS = [f.name for f in IMAGES.fields] + [
    "url",
    "url_hash",
    "host",
    "status",
    "round",
    "depth",
    "priority",
    "partition_id",
    "user_agent_idx",
]
IMAGES_LANDED = StructType(
    [next(f for f in FETCH_RESULT.fields if f.name == c) for c in IMAGES_LANDED_COLS]
)
PART_COUNTS = "partition_id int, urls_fetched long, urls_ok long, new_urls long, ok_links long"


def _partition_counts(batches):
    """mapInPandas body: per-partition counts of a fetch batch (no shuffle)."""
    for pdf in batches:
        yield pdf.groupby("partition_id", as_index=False).agg(
            urls_fetched=("ok", "size"),
            urls_ok=("ok", "sum"),
            new_urls=("n_out", "sum"),
            ok_links=("ok_links", "sum"),
        )


def recrawl_horizon(r: int, recrawl_after: int | None) -> int | None:
    """Oldest round_added still blocking in round ``r`` (re-crawl mode):
    rows from earlier rounds are logically expired. None while nothing
    has expired yet, or without re-crawl."""
    if recrawl_after is None or r <= recrawl_after:
        return None
    return r - recrawl_after


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        base_path: str,
        n_shards: int = 16,
        default_budget: int = 8,
        max_depth: int = 2,
        fetch_partitions: int | None = None,
        compact_every: int = 8,
        prefilter: str = "bloom",  # a seen_set.PREFILTERS key: "bloom" or "cuckoo"
        recrawl_after: int | None = None,
        priority_mode: str = "hash",
    ):
        self.spark = spark
        self.base = base_path
        self.n_shards = n_shards
        self.default_budget = default_budget
        self.max_depth = max_depth
        self.prefilter = prefilter
        self.fetch_partitions = fetch_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        self.frontier = DeltaFrontier(f"{base_path}/frontier", compact_every=compact_every)
        self.images = SnapshotTable(f"{base_path}/images", IMAGES_LANDED)
        self.metrics = SnapshotTable(f"{base_path}/metrics", ROUND_METRICS)
        self.seen = SeenSet(base_path, prefilter=prefilter)
        # re-crawl policy (r5): URLs fetched in round f are forgotten and
        # re-enqueued at the start of round f + recrawl_after + 1. Derived
        # purely from the round number, so resume needs no extra state.
        if recrawl_after is not None and recrawl_after < 1:
            raise ValueError("recrawl_after must be >= 1 (or None)")
        self.recrawl_after = recrawl_after
        # priority_mode="pagerank" (r6): newly discovered links (and
        # re-crawl re-enqueues) are prioritized by the INTEGER PageRank
        # of their host over the accumulated post-robots host graph —
        # central hosts fetched first. The graph is a dimension-sized
        # snapshot table; the oracle simulator mirrors the exact integer
        # contract, so fetch-order equivalence still holds bit-for-bit.
        if priority_mode not in ("hash", "pagerank"):
            raise ValueError("priority_mode must be 'hash' or 'pagerank'")
        self.priority_mode = priority_mode
        self.host_edges = (
            SnapshotTable(f"{base_path}/host_edges", HOST_EDGES)
            if priority_mode == "pagerank"
            else None
        )
        self._ranks_cache: tuple[int | None, DataFrame] | None = None
        self.next_round = 0
        # every table a checkpoint pins, by its name in checkpoint.json
        self.tables = {
            "frontier_rows": self.frontier.rows,
            "tombstones": self.frontier.rm,
            "delays": self.frontier.delay,
            "images": self.images,
            "metrics": self.metrics,
            "seen": self.seen.seen,
            "bloom": self.seen.bloom,
        }
        if self.host_edges is not None:
            self.tables["host_edges"] = self.host_edges
        # the dims are inputs, not round state: each write is a pyarrow
        # overwrite (no Spark job) that expires the old snapshot, and resume
        # keeps the current one
        self.politeness_dim = SnapshotTable(f"{base_path}/dim_politeness", POLITENESS)
        self.robots_dim = SnapshotTable(f"{base_path}/dim_robots", ROBOTS)

    # ------------------------------------------------------------------ dims
    def _politeness(self) -> DataFrame:
        return self.politeness_dim.read(self.spark)

    def _robots(self) -> DataFrame:
        """Grouped robots dim, cached once per engine (reused every round)."""
        if getattr(self, "_robots_grouped", None) is None:
            from .operators.frontier import group_robots

            self._robots_grouped = group_robots(self.robots_dim.read(self.spark)).cache()
        return self._robots_grouped

    # ------------------------------------------------------------- bootstrap
    def bootstrap(
        self,
        seeds: pd.DataFrame | DataFrame,
        politeness: pd.DataFrame,
        robots: pd.DataFrame,
    ) -> None:
        for dim, pdf in ((self.politeness_dim, politeness), (self.robots_dim, robots)):
            dim.expire_before(dim.overwrite(pdf))
        if isinstance(seeds, pd.DataFrame):
            seeds = self.spark.createDataFrame(seeds[["url", "priority", "depth"]])
        canon = with_canonical(seeds.select("url", "priority", "depth"), n_shards=self.n_shards)
        gated = robots_gate(canon, self._robots())
        # canonicalization collapses dirty variants: keep min(priority)/min(depth)
        deduped = gated.groupBy("url", "url_hash", "host", "shard").agg(
            F.min("priority").alias("priority"), F.min("depth").alias("depth")
        )
        rows = (
            deduped.withColumn("not_before_round", F.lit(0))
            .withColumn("attempts", F.lit(0))
            .select([f.name for f in FRONTIER.fields])
        )
        self.frontier.bootstrap(self.spark, rows)
        self.next_round = 0
        self._commit_checkpoint()

    def update_politeness(self, politeness: pd.DataFrame) -> None:
        """Mid-crawl politeness update — the robots-discovery path: a host's
        /robots.txt fetched during the crawl can declare a Crawl-delay
        (operators.frontier.parse_robots_crawl_delay), which feeds back into
        this dim. Takes effect from the NEXT round (the dim is re-read per
        round); the cached dim facts are dropped so they re-derive."""
        self.politeness_dim.expire_before(self.politeness_dim.overwrite(politeness))
        self._dim_facts = None

    def _politeness_facts(self):
        """One aggregation over the politeness dim, cached per engine
        (re-derived after update_politeness): ``max_budget``, the largest
        per-host budget, from which the selection's window plans its
        partial per-host limit before the host shuffle; ``overrides``,
        whether any budget differs from the default (else the selection's
        budget join, a broadcast job per round, is the identity and is
        skipped); ``delays``, whether any host has a crawl delay (else the
        pushback stage is skipped)."""
        if getattr(self, "_dim_facts", None) is None:
            budget = F.coalesce(F.col("max_fetches_per_round"), F.lit(self.default_budget))
            row = self._politeness().agg(
                F.max(budget).alias("max_budget"),
                F.max((budget != self.default_budget).cast("int")).alias("overrides"),
                F.max((F.col("crawl_delay_rounds") > 0).cast("int")).alias("delays"),
            ).collect()[0]
            self._dim_facts = {
                "max_budget": max(int(row["max_budget"] or 0), self.default_budget),
                "overrides": bool(row["overrides"]),
                "delays": bool(row["delays"]),
            }
        return self._dim_facts

    # ------------------------------------------------- pagerank priorities
    def _host_ranks(self) -> DataFrame | None:
        """(host, rank) from components.pagerank over the accumulated
        host graph — recomputed only when the edge table advanced
        (cached per snapshot id), localCheckpointed because the rank
        table is dimension-sized (hosts, not URLs) and re-joined by
        every priority assignment until the next edge append. None while
        the graph holds no rows (manifest-only check, no Spark job)."""
        if self.host_edges.is_empty():
            return None
        snap = self.host_edges.current_snapshot
        if self._ranks_cache is not None and self._ranks_cache[0] == snap:
            return self._ranks_cache[1]
        from .operators.components import pagerank

        edges = self.host_edges.read(self.spark).select(
            F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
        )
        ranks = pagerank(edges, iters=PR_ITERS, scale=PR_SPAN).select(
            F.col("node").alias("host"), "rank"
        ).localCheckpoint()
        self._ranks_cache = (snap, ranks)
        return ranks

    def _link_priority(self, links: DataFrame) -> DataFrame:
        """Assign the link-rule priority. hash mode: xxhash64 % 1e6 / 1e6
        (the r1 rule). pagerank mode: the PR_SPAN band formula over the
        CURRENT rank table (hosts never seen in the graph rank 0 — their
        links sort behind every ranked host, ahead of nothing)."""
        if self.priority_mode == "hash":
            return links.withColumn(
                "priority",
                F.pmod(F.col("url_hash"), F.lit(1_000_000)).cast("double")
                / 1_000_000.0,
            )
        ranks = self._host_ranks()
        if ranks is not None:
            links = links.join(F.broadcast(ranks), "host", "left")
        else:
            links = links.withColumn("rank", F.lit(None).cast("long"))
        return links.withColumn(
            "priority",
            (
                (F.lit(PR_SPAN) - F.coalesce(F.col("rank"), F.lit(0))) * 1000
                + F.pmod(F.col("url_hash"), F.lit(1000))
            ).cast("double"),
        ).drop("rank")

    # ----------------------------------------------------------- round loop
    def run_round(self) -> dict:
        # phases that do not feed the next run in this pool: latency, not
        # CPU, dominates a small round's Spark jobs
        with ThreadPoolExecutor(8) as ex:
            return self._round(ex)

    def _round(self, ex) -> dict:
        r = self.next_round
        t0 = time.monotonic()
        frontier_snap = self.frontier.version()
        # the links probe reads the round-start state whatever this round has
        # committed by then, one plan on every run. Its pending dedupe reads
        # the raw rows: a tombstoned row's URL was fetched, so it is still
        # seen, re-enqueued as a live row, or in this round's batch
        pending = self.frontier.rows.read(self.spark).select("url_hash", "url", "shard")
        seen_tables = (self.seen.seen.read(self.spark), self.seen.bloom.read(self.spark))
        expired = renew = None
        min_round_added = recrawl_horizon(r, self.recrawl_after)
        if min_round_added is not None:
            expired = self.seen.expire(self.spark, min_round_added - 1)
        if expired is not None:
            # re-crawl policy: the URLs fetched in round r - recrawl_after - 1
            # re-enter the frontier, eligible now (pagerank mode: ranked by
            # the previous round's edges, as in the simulator). added_in =
            # round_added + recrawl_after = r - 1, from the data (see
            # DeltaFrontier.read): they were present BEFORE round r, so
            # round-r delay events apply to them, and their old tombstones
            # (removed_in <= r - 2) do not. Merged on read, written with the links.
            renew = (
                self._link_priority(expired.withColumn("host", host_col(F.col("url"))))
                .withColumn("depth", F.lit(0))
                .withColumn("not_before_round", F.lit(r))
                .withColumn("attempts", F.lit(0))
                .withColumn("added_in", F.col("round_added") + self.recrawl_after)
                .select(STORED_COLS)
            )
            pending = pending.unionByName(renew.select("url_hash", "url", "shard"))
        frontier_df = self.frontier.read(self.spark, renew)

        eligible = frontier_df.filter(F.col("not_before_round") <= r)
        facts = self._politeness_facts()
        selected = politeness_select(
            eligible,
            self._politeness() if facts["overrides"] else None,
            self.default_budget,
            facts["max_budget"],
        )

        # budgets are already enforced, so the fetch salt is
        # distribution-only and scales with fetch_partitions
        # (salted_repartition)
        fetched = run_fetch(
            salted_repartition(selected, self.fetch_partitions), r, self.max_depth
        ).persist()

        # ONE job covers every per-round statistic: per-partition counts,
        # summed on the driver
        ok = (F.col("status") == 200).cast("long")
        n_out = F.coalesce(F.size("outlinks"), F.lit(0)).cast("long")
        counts = pd.DataFrame(
            fetched.select("partition_id", ok.alias("ok"), n_out.alias("n_out"), (ok * n_out).alias("ok_links"))
            .mapInPandas(_partition_counts, PART_COUNTS)
            .collect(),
            columns=[c.split()[0] for c in PART_COUNTS.split(", ")],
        ).groupby("partition_id", as_index=False).sum()
        n_selected = int(counts["urls_fetched"].sum())
        t_fetch = time.monotonic()

        if n_selected == 0:
            # nothing eligible this round (all delayed); advance the clock
            if renew is not None:
                self.frontier.insert(renew, r)
            fetched.unpersist()
            self.next_round = r + 1
            self._commit_checkpoint()
            return {"round": r, "selected": 0, "fetched": 0, "ok": 0, "new_urls": 0}

        self.metrics.append(
            counts.drop(columns="ok_links").assign(
                round=r,
                urls_selected=n_selected,
                rows_landed=counts["urls_ok"],
                wall_ms=int((time.monotonic() - t0) * 1000),
                input_snapshot=f"frontier@{frontier_snap}",
            ),
            {"round": r},
        )
        # compaction rides the round's writes: the seen add writes the
        # folded exact set, and the frontier fold takes the round's rows
        compact = self.frontier.compaction_due(r, n_selected)

        landed = fetched.filter(F.col("status") == 200).select(IMAGES_LANDED_COLS)
        fetched_keys = fetched.select(
            "url_hash", "url", shard_col(F.col("url_hash"), self.n_shards).alias("shard")
        )

        def _links_job() -> DataFrame:
            # discovered outlinks -> new frontier rows, CONCURRENTLY with the
            # seen update. The round-start seen set is exact: expired rows are
            # skipped by round_added, the fetch batch is among the pending rows
            # it was selected from, and no other URL's membership changes
            # within the round
            links = (
                fetched.filter(F.col("status") == 200)
                .select(
                    F.col("host").alias("__src_host"),
                    F.explode("outlinks").alias("url"),
                    (F.col("depth") + 1).alias("depth"),
                    F.col("round").alias("added_in"),  # from the data: see DeltaFrontier.read
                )
            )
            links = with_canonical(links, n_shards=self.n_shards)
            links = robots_gate(links, self._robots())
            if self.priority_mode == "pagerank":
                # accumulate this round's post-robots host edges (BEFORE
                # any dedupe: a link to an already-seen URL still votes
                # for its host), then rank with the fresh graph
                new_edges = (
                    links.select(
                        F.col("__src_host").alias("src_host"),
                        F.col("host").alias("dst_host"),
                    )
                    .filter(F.col("src_host") != F.col("dst_host"))
                    .distinct()
                )
                self.host_edges.append(new_edges, {"round": r})
            links = self._link_priority(links.drop("__src_host"))
            # one probe dedupes within the batch (min depth), against the
            # seen set, and against the pending frontier (fetch batch included)
            fresh = self.seen.filter_unseen(
                self.spark,
                links,
                dedupe_min_depth=True,
                min_round_added=min_round_added,
                blocked=pending,
                tables=seen_tables,
            )
            new_rows = fresh.withColumns(
                {"not_before_round": F.lit(r + 1), "attempts": F.lit(0)}
            )
            return new_rows.select(STORED_COLS)

        def _frontier_job() -> DataFrame | None:
            # the round's one write to the frontier rows: its links (none
            # when no landed page links anywhere) with the re-enqueued rows,
            # appended — or, in a compaction round, returned for the fold
            rows = _links_job() if counts["ok_links"].sum() else None
            if renew is not None:
                rows = renew if rows is None else rows.unionByName(renew)
            if rows is not None and not compact:
                self.frontier.insert(rows, r)
            return rows

        f_images = ex.submit(self.images.append, landed, {"round": r})
        f_seen = ex.submit(
            self.seen.add, self.spark, fetched_keys, r, n_selected, compact, min_round_added
        )
        f_rm = ex.submit(self.frontier.remove, fetched, r, n_selected)
        f_frontier = ex.submit(_frontier_job)
        f_delay = None
        if facts["delays"]:
            delayed_hosts = (
                fetched.select("host")
                .distinct()
                .join(self._politeness().filter(F.col("crawl_delay_rounds") > 0), "host")
                .select("host", "crawl_delay_rounds")
            )
            f_delay = ex.submit(self.frontier.delay_hosts, delayed_hosts, r)
        images_snap = f_images.result()
        t_images = time.monotonic()
        f_seen.result()
        f_rm.result()
        t_seen = time.monotonic()
        rows = f_frontier.result()
        if f_delay is not None:
            f_delay.result()
        if compact:
            # after the round's tombstones and delay events, which the fold applies
            self.frontier.compact(self.spark, r, rows)
        t_frontier = time.monotonic()

        stats = {
            "round": r,
            "selected": n_selected,
            "fetched": n_selected,
            "ok": int(counts["urls_ok"].sum()),
            "new_urls": int(counts["new_urls"].sum()),  # discovered (pre-dedupe)
            "images_snapshot": images_snap,
            "wall_s": time.monotonic() - t0,
            "phases": {
                "fetch+agg": round(t_fetch - t0, 2),
                "images_write": round(t_images - t_fetch, 2),
                "seen_update": round(t_seen - t_images, 2),
                "frontier_write": round(t_frontier - t_seen, 2),
                "metrics+ckpt": round(time.monotonic() - t_frontier, 2),
            },
        }
        fetched.unpersist()
        self.next_round = r + 1
        self._commit_checkpoint()
        return stats

    def run(self, n_rounds: int) -> list[dict]:
        out = []
        for _ in range(n_rounds):
            s = self.run_round()
            out.append(s)
            # only pay a frontier count when a round came up empty — it may
            # mean "all delayed" (continue) or "frontier drained" (stop)
            if s["selected"] == 0 and self.frontier_size() == 0:
                break
        return out

    def frontier_size(self) -> int:
        if self.frontier.rows.current_snapshot is None:
            return 0
        return self.frontier.read(self.spark).count()

    # ---------------------------------------------------------- checkpoints
    def _ckpt_path(self) -> str:
        return os.path.join(self.base, "checkpoint.json")

    def _commit_checkpoint(self) -> None:
        ids = {name: t.current_snapshot for name, t in self.tables.items()}
        commit_json(self._ckpt_path(), {
            "next_round": self.next_round, "priority_mode": self.priority_mode,
            "n_shards": self.n_shards, "prefilter": self.prefilter, "tables": ids,
        })
        # after the commit, so a crash before it still finds every snapshot
        # the previous checkpoint names
        for name, t in self.tables.items():
            if ids[name] is not None:
                t.expire_before(ids[name])

    @classmethod
    def resume(cls, spark: SparkSession, base_path: str, **kwargs) -> "CrawlEngine":
        """Reload from checkpoint.json, rolling back any post-checkpoint
        table writes (a crash mid-round leaves orphan snapshots)."""
        with open(os.path.join(base_path, "checkpoint.json")) as f:
            state = json.load(f)
        # checked before any table is opened: a state dir written before
        # the dims were snapshot tables has no dim manifest, so its dims
        # would read as empty
        ids = state["tables"]
        # the checkpoint remembers the crawl's settings, so resume callers
        # don't have to repeat them; a different one would misread the state
        # (the seen set is stored by shard and prefilter backend)
        for key in ("n_shards", "prefilter", "priority_mode"):
            if kwargs.setdefault(key, state[key]) != state[key]:
                raise ValueError(f"{key}={kwargs[key]!r}, the checkpoint's is {state[key]!r}")
        eng = cls(spark, base_path, **kwargs)
        for name, t in eng.tables.items():
            t.rollback_to(ids[name])  # None = drop all
        for dim in (eng.politeness_dim, eng.robots_dim):
            dim.rollback_to(dim.current_snapshot)  # drops a crashed write's dir
        eng.next_round = state["next_round"]
        return eng

    # ------------------------------------------------------------- readers
    def images_df(self) -> DataFrame:
        """Landed images, minus any taken-down ids (takedown_images):
        the mask is a BROADCAST anti-join (takedown sets are
        dimension-sized) applied at the single read chokepoint, so every
        consumer — fetch_log, dedup reports, exports — stops serving
        removed content the moment the tombstone commits, with zero cost
        when no takedown exists."""
        df = self.images.read(self.spark)
        dead = self._takedown_ids()
        if dead is not None:
            df = df.join(F.broadcast(dead), "image_id", "left_anti")
        return df

    def fetch_log(self) -> DataFrame:
        """Landed fetches in the deterministic order contract
        (round, priority, url). Reflects LIVE content: taken-down rows
        are masked with the payloads (the lineage a takedown must erase
        is the stored copy, and the bytes ride the same row)."""
        return self.images_df().orderBy("round", "priority", "url")

    # ---------------------------------------------------------- takedowns
    def _takedown_store(self) -> SnapshotTable:
        return SnapshotTable(f"{self.base}/takedowns")

    def _takedown_ids(self) -> DataFrame | None:
        """Live takedown set, or None when the store holds no rows."""
        store = self._takedown_store()
        if store.is_empty():
            return None
        return store.read(self.spark).select("image_id").distinct()

    def takedown_images(
        self, image_ids, find_copies: bool = True, max_hamming: int = 0
    ) -> DataFrame:
        """TAKEDOWN (GDPR/DMCA): remove images from everything the
        engine serves — without rewriting a 10^10-row landed table on
        the request path. The flagged ids append to a tombstone
        SnapshotTable (O(flagged)); ``images_df`` masks them at once via
        a broadcast anti-join, so reports/exports/logs all comply
        immediately. With ``find_copies`` the request first expands to
        RE-HOSTED copies via ``similarity.phash_lookup`` against the
        landed phashes (default ``max_hamming=0``: bit-identical pixels
        under different URLs; raise toward 7 to sweep near-dups) — one
        broadcast probe, no corpus self-join. Physical deletion is
        deferred to ``compact_takedowns`` on the operator's schedule,
        not the regulator's; serving is identical before and after
        (test-pinned). The store lives under base_path, so takedowns
        survive ``resume``. Returns the expanded set
        (image_id, via='seed'|'phash_copy')."""
        from .operators.similarity import phash_bands, phash_lookup

        if not isinstance(image_ids, DataFrame):
            image_ids = self.spark.createDataFrame(
                [(str(i),) for i in image_ids], "image_id string"
            )
        seeds = image_ids.select("image_id").distinct().localCheckpoint()
        out = seeds.withColumn("via", F.lit("seed"))
        if find_copies:
            qimgs = self.images_df().join(
                F.broadcast(seeds), "image_id"
            ).select("image_id", "phash")
            copies = (
                phash_lookup(
                    qimgs,
                    phash_bands(self.images_df().select("image_id", "phash")),
                    max_hamming=max_hamming,
                )
                .select("image_id")
                .join(F.broadcast(seeds), "image_id", "left_anti")
                .distinct()
                .withColumn("via", F.lit("phash_copy"))
            )
            out = out.unionByName(copies)
        out = out.localCheckpoint()
        # a notice that resolves to nothing (URL never landed) must not
        # commit a snapshot: _takedown_ids counts append snapshots as
        # evidence, and an empty non-partitioned write still carries a
        # schema-only parquet file
        if out.limit(1).count() > 0:
            self._takedown_store().append(
                out.select("image_id"), meta={"stage": "takedown"}
            )
        return out

    def takedown_urls(
        self, urls, find_copies: bool = True, max_hamming: int = 0
    ) -> DataFrame:
        """Takedown addressed the way a notice actually arrives — by URL,
        not internal image id. The notice URLs run through the SAME
        canonicalizer the crawl stored them under (dirty variants — case,
        default ports, percent-encoding, tracker params — resolve to the
        stored row), map to landed image_ids with a broadcast join, and
        delegate to ``takedown_images``. URLs never landed resolve to
        nothing, harmlessly. Returns the expanded (image_id, via) set."""
        from .functions.urls import canonicalize_py

        canon = sorted({canonicalize_py(str(u)) for u in urls})
        hits = (
            self.images_df()
            .join(
                F.broadcast(
                    self.spark.createDataFrame([(u,) for u in canon], "url string")
                ),
                "url",
            )
            .select("image_id")
            .distinct()
        )
        return self.takedown_images(
            hits, find_copies=find_copies, max_hamming=max_hamming
        )

    def takedown_host(self, host: str, find_copies: bool = False) -> DataFrame:
        """Host-level purge — the robots-revocation / site-owner-request
        case: every landed image from ``host`` tombstones in one call
        (the host column is already on the landed rows; one filter, no
        join). ``find_copies`` defaults False: copies on OTHER hosts are
        someone else's content — sweeping them is a policy decision, not
        a default."""
        hits = (
            self.images_df()
            .filter(F.col("host") == host)
            .select("image_id")
            .distinct()
        )
        return self.takedown_images(hits, find_copies=find_copies)

    def compact_takedowns(self) -> None:
        """Physically drop tombstoned rows from the landed table, the
        phash band store, and the dedup label store (one overwrite
        snapshot each), recommit the checkpoint, then clear the takedown
        set and expire the superseded dirs — disk returns to O(live
        content) and reads stop paying the anti-join. Serving output is
        unchanged (test-pinned), also after a crash at any step."""
        dead = self._takedown_ids()
        if dead is None:
            return
        dead = dead.localCheckpoint()
        written = []
        for store, key in (
            (self.images, "image_id"),
            (SnapshotTable(f"{self.base}/phash_bands"), "image_id"),
            (SnapshotTable(f"{self.base}/dedup_labels"), "node"),
        ):
            if store.is_empty():
                continue
            live = store.read(self.spark).join(
                F.broadcast(dead.withColumnRenamed("image_id", key)),
                key,
                "left_anti",
            )
            if key == "node":
                # dedup_labels: a dead id that was a component's min-id
                # REPRESENTATIVE survives the node-side anti-join as a
                # component VALUE on live rows; once the tombstones are
                # cleared below, nothing masks it and the next incremental
                # clustering would resurrect it as a labeled node (ADVICE
                # r6). Remap dead component ids to the component's min
                # LIVE member — exactly the id a one-shot clustering over
                # the live images would pick.
                mins = live.groupBy("component").agg(
                    F.min("node").alias("__minn")
                )
                live = (
                    live.join(mins, "component")
                    .join(
                        F.broadcast(dead.withColumnRenamed("image_id", "__dc")),
                        F.col("component") == F.col("__dc"),
                        "left",
                    )
                    .select(
                        "node",
                        F.when(F.col("__dc").isNotNull(), F.col("__minn"))
                        .otherwise(F.col("component"))
                        .alias("component"),
                    )
                )
            live = live.localCheckpoint()
            # carry the watermark forward: clearing it would make the next
            # incremental call re-ingest every round
            metas = [s["meta"] for s in store.live_snapshots()]
            upto = max((m.get("upto_round", -1) for m in metas), default=-1)
            meta = {"stage": "takedown_compact"}
            if upto >= 0:
                meta["upto_round"] = upto
            written.append((store, store.overwrite(live, meta=meta)))
        # commit the checkpoint BEFORE clearing the takedown set or expiring
        # anything: resume rolls images back to it, and a checkpoint naming
        # an expired snapshot would empty the landed table (ADVICE r6)
        self._commit_checkpoint()
        tstore = self._takedown_store()
        written.append((tstore, tstore.clear(meta={"stage": "cleared"})))
        for store, sid in written:
            if store is not self.images:  # the checkpoint expired it
                store.expire_before(sid)

    def image_dedup_report(self, max_hamming: int = 7) -> DataFrame:
        """Post-crawl image dedup over the landed images table: phash
        near-dup pairs (banded Hamming LSH) -> connected components ->
        survivor labeling. (image_id, component, n_members, is_survivor);
        downstream corpus builds keep is_survivor rows (the reference's
        ON CONFLICT exact-key image dedupe, src/crawler.py:199-219,
        upgraded to near-duplicate clusters). Plan: EXACT-FIRST —
        identical phashes collapse to one representative before the
        banded self-join runs over distinct values (phash_dup_graph, so
        a million re-hosts of one logo are a million star edges, never
        ~10^12 enumerated pairs), then O(log d) pointer-doubling rounds
        + two uniform-key joins — never all-pairs (SCALING.md
        "Training-data operators")."""
        from .operators.components import label_clusters
        from .operators.similarity import phash_dup_graph

        imgs = self.images_df().select("image_id", "phash")
        edges, _deg = phash_dup_graph(imgs, max_hamming=max_hamming)
        return label_clusters(imgs, edges, "image_id")

    def incremental_image_dedup_report(
        self, max_hamming: int = 7, compact_every: int = 8
    ) -> DataFrame:
        """Near-dup pairs among images landed SINCE the last call, against
        everything landed before — the continuous-ingest alternative to
        image_dedup_report: a persisted band store (phash_bands appended
        per call, watermarked by round in the snapshot meta) makes day-N
        dedup cost O(new images + matching buckets) instead of
        re-banding the whole landed table every report. The union of
        successive calls' pair sets equals the one-shot
        phash_near_dup_pairs over all landed images (each pair surfaces
        when its later member lands — tests/test_incremental_dedup.py);
        feed the accumulated pairs to components.label_clusters for the
        cluster view. Survives resume: the store lives beside the other
        snapshot tables under base_path."""
        from .operators.similarity import incremental_phash_pairs, phash_bands

        store = SnapshotTable(f"{self.base}/phash_bands")
        done = max(
            (s["meta"].get("upto_round", -1) for s in store.snapshots()), default=-1
        )
        upto = self.next_round - 1
        new_imgs = (
            self.images_df()
            .filter(F.col("round") > done)
            .select("image_id", "phash")
        )
        nb = phash_bands(new_imgs).localCheckpoint()
        ob = nb.limit(0) if store.is_empty() else store.read(self.spark)
        # taken-down images must stop matching immediately — their bands
        # stay in the store until compact_takedowns, so mask the read
        # (images_df already masks the new side)
        dead = self._takedown_ids()
        if dead is not None:
            ob = ob.join(F.broadcast(dead), "image_id", "left_anti")
        pairs = incremental_phash_pairs(nb, ob, max_hamming=max_hamming).localCheckpoint()
        # append-heavy store hygiene (the delta_frontier compaction
        # argument): every call adds a snapshot whose files read() must
        # scan, so after compact_every LIVE appends rewrite the store as
        # ONE overwrite snapshot. Count only snapshots reachable since the
        # last overwrite (live_snapshots), not the whole manifest — otherwise
        # once total commits ever reach compact_every every later call
        # would be an O(corpus) rewrite (ADVICE r5). After compacting,
        # expire the superseded dirs so disk stays O(store), not
        # O(store x compactions).
        if len(store.live_snapshots()) + 1 >= compact_every:
            sid = store.overwrite(ob.unionByName(nb), meta={"upto_round": upto})
            store.expire_before(sid)
        else:
            store.append(nb, meta={"upto_round": upto})
        return pairs

    def incremental_image_clusters(
        self, max_hamming: int = 7, compact_every: int = 8
    ) -> DataFrame:
        """Continuously-maintained dedup CLUSTER LABELS over the landed
        table: incremental_image_dedup_report's pair stream folds into a
        persisted (node=image_id, component) label SnapshotTable via
        components.incremental_components (labels-as-star-edges), plus a
        self-edge per newly landed image so singletons are labeled too.
        The label table is O(images) and OVERWRITTEN per call (it IS the
        compacted cluster state); the cumulative pair history is never
        re-read, so day-N re-clustering costs O(labels + new pairs). At
        every point the labeling equals the one-shot clustering over all
        landed images (tests/test_incremental_dedup.py). This method OWNS
        the report cadence — interleaving direct
        incremental_image_dedup_report calls would consume pairs the
        label fold never sees. Survives resume like the band store."""
        from .operators.components import (
            connected_components,
            incremental_components,
        )

        lstore = SnapshotTable(f"{self.base}/dedup_labels")
        done = max(
            (s["meta"].get("upto_round", -1) for s in lstore.snapshots()), default=-1
        )
        upto = self.next_round - 1
        new_ids = (
            self.images_df().filter(F.col("round") > done).select("image_id").distinct()
        )
        pairs = self.incremental_image_dedup_report(
            max_hamming=max_hamming, compact_every=compact_every
        )
        edges = pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ).unionByName(
            new_ids.select(
                F.col("image_id").alias("src"), F.col("image_id").alias("dst")
            )
        )
        if not lstore.is_empty():
            old_labels = lstore.read(self.spark)
            # drop taken-down nodes from the folded-forward state (their
            # star edges would otherwise resurrect them in the new label
            # table; connectivity THROUGH an already-merged component is
            # retained by design — the content is gone, the historical
            # cluster identity is not recut)
            dead = self._takedown_ids()
            if dead is not None:
                old_labels = old_labels.join(
                    F.broadcast(dead.withColumnRenamed("image_id", "node")),
                    "node",
                    "left_anti",
                )
            labels = incremental_components(edges, old_labels)
            if dead is not None:
                # a dead id that was a multi-member component's REPRESENTATIVE
                # re-enters the vertex set through the surviving
                # (live_node, dead_id) star edges and would be re-emitted as
                # a labeled node — mask the RESULT's node column too
                # (ADVICE r6; nodes == live images is the invariant)
                labels = labels.join(
                    F.broadcast(dead.withColumnRenamed("image_id", "node")),
                    "node",
                    "left_anti",
                )
        else:
            labels = connected_components(edges)
        labels = labels.localCheckpoint()
        sid = lstore.overwrite(labels, meta={"upto_round": upto})
        lstore.expire_before(sid)
        return labels
