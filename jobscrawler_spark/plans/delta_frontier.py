"""Delta frontier: persistent base + per-round deltas + periodic compaction.

The naive frontier writes the whole table every round — at 10^10 rows
(~1 TB parquet) that is a full rewrite per round, the engine's one named
scale-killer (SCALING.md "Frontier"). This module replaces it with
merge-on-read state in three snapshot tables, so the per-round WRITE is
O(round size) instead of O(frontier size):

- ``rows``   (FRONTIER_STORED): append-only inserts, each row stamped with
  the round before the first round it is pending in (``added_in``: -1 for
  bootstrap rows, the discovering round for links, r - 1 for a URL
  re-enqueued at the start of round r).
  LIVE rows are unique by (url_hash, url): a URL enters the frontier at
  most once while pending (outlinks are anti-joined against seen ∪
  frontier first) and a fetched URL sits in the seen set. Under the
  re-crawl policy (r5) an EXPIRED URL re-enters with a fresh added_in —
  the tombstone anti-join is round-aware (removed_in >= added_in), so the
  old tombstone kills only the old row.
- ``tombstones`` (FRONTIER_RM): per-round append of the fetched URLs.
  Removal = left-anti join at read time.
- ``delays`` (FRONTIER_DELAY): per-round append of host-level crawl-delay
  pushback events ``(host, event_round, until)``. The engine's contract
  (pinned by the oracle simulator) is that a pushback in round q applies
  to the rows present in the frontier DURING round q — i.e. rows with
  ``added_in < q`` — while links discovered in round q are not delayed.
  Storing the event once per HOST instead of rewriting every affected row
  is what makes the delta representation exact AND O(hosts) per round.

Read path: ``rows`` (plus any uncommitted FRONTIER_STORED rows the caller
passes in, e.g. the round's re-enqueued rows) ⟕anti ``tombstones``
(tombstone side broadcast — compaction keeps it under MAX_TOMBSTONE_ROWS),
then a broadcast join of the per-host event arrays and
``not_before_round = greatest(stored, max(until where event_round > added_in))``
— all Catalyst, no shuffle beyond the pruned-by-broadcast anti-join. A join
whose delta table the manifest shows empty is skipped (no Spark job).

Writes to ``rows``: one per round. ``insert`` appends the round's rows
(links and re-enqueued rows together, each carrying its own added_in);
a compaction round instead passes them to ``compact``, which folds them
through the same read path — so they meet the round's tombstones and delay
events exactly as committed rows would — into a fresh base overwrite, and
clears both delta tables (manifest-only commits). Crash-safety: the
engine pins all three tables in its checkpoint, and resume rolls each back
to it, so a crash between the compaction writes leaves nothing behind
(and replaying them would be harmless: re-applying tombstones of removed
rows is a no-op, and events select no compacted row, whose added_in = the
compaction round ≥ every event_round).

Reference analogue: the reference keeps its whole "frontier" as the config
list re-read every cron run (reference: src/crawler.py:322-349); a
persistent delta frontier is the north_rule's 10^10-URL re-realization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import FRONTIER, FRONTIER_DELAY, FRONTIER_RM, FRONTIER_STORED
from .tables import SnapshotTable

FRONTIER_COLS = [f.name for f in FRONTIER.fields]
STORED_COLS = [f.name for f in FRONTIER_STORED.fields]
# the broadcast-safety bound: at ~30 B/row 10^7 tombstones are ~300 MB, near
# the practical broadcast ceiling. Above it the read path's anti-join
# shuffles instead, and compaction fires at the next round end whatever
# compact_every says (cadence follows tombstone mass, so a huge round budget
# cannot push the broadcast past the driver limit)
MAX_TOMBSTONE_ROWS = 10_000_000


class DeltaFrontier:
    def __init__(self, base_path: str, compact_every: int = 8):
        """The ``rows`` store is hive-partitioned by ``shard`` (as the seen
        set is), so shard-filtered reads — the engine's per-round
        pending-dedupe anti-join prunes to the link batch's hit shards —
        are FILE-LEVEL prunes instead of full-frontier scans (the last
        O(frontier)-per-round read path at 10^10 rows)."""
        self.rows = SnapshotTable(f"{base_path}/rows", FRONTIER_STORED, partition_by="shard")
        self.rm = SnapshotTable(f"{base_path}/tombstones", FRONTIER_RM)
        self.delay = SnapshotTable(f"{base_path}/delays", FRONTIER_DELAY)
        self.compact_every = compact_every

    def tombstone_rows(self) -> int:
        """Tombstone rows since the last compaction, from snapshot metadata
        (each remove() records its row count) — no table scan, and correct
        across resume because the manifest is the source of truth."""
        return sum(int(s["meta"].get("rows", 0)) for s in self.rm.live_snapshots())

    # -- lifecycle -----------------------------------------------------------
    def bootstrap(self, spark: SparkSession, frontier_rows: DataFrame) -> None:
        """frontier_rows: FRONTIER-shaped seeds; deltas start empty."""
        self.rows.overwrite(
            self.rows.clustered(frontier_rows.withColumn("added_in", F.lit(-1))),
            meta={"stage": "bootstrap"},
        )
        self.rm.clear(meta={"stage": "bootstrap"})
        self.delay.clear(meta={"stage": "bootstrap"})

    # -- merge-on-read -------------------------------------------------------
    def read(self, spark: SparkSession, extra: DataFrame | None = None) -> DataFrame:
        """The effective frontier (FRONTIER columns, pushbacks folded in).
        ``extra``: uncommitted FRONTIER_STORED rows, merged like stored ones.
        Their added_in should come from their data, not a literal: Spark
        pushes the anti-join into each union branch, where a literal
        added_in turns the round-aware condition into a filter on the
        tombstone side — a broadcast of its own, one more Spark job."""
        live = self.rows.read(spark)
        if extra is not None:
            live = live.unionByName(extra.select(STORED_COLS))
        if not self.rm.is_empty():
            rm = self.rm.read(spark).select(
                F.col("url_hash").alias("__rm_hash"),
                F.col("url").alias("__rm_url"),
                "removed_in",
            )
            if self.tombstone_rows() <= MAX_TOMBSTONE_ROWS:
                rm = F.broadcast(rm)  # else a shuffle anti-join: same rows
            # ROUND-AWARE removal (r5 re-crawl): a tombstone only kills rows
            # inserted at or before it, so a URL re-enqueued by seen-set
            # expiry after its fetch survives its own old tombstone
            live = live.join(
                rm,
                (live["url_hash"] == F.col("__rm_hash"))
                & (live["url"] == F.col("__rm_url"))
                & (F.col("removed_in") >= live["added_in"]),
                "left_anti",
            )
        if not self.delay.is_empty():
            ev = (
                self.delay.read(spark)
                .groupBy("host")
                .agg(F.collect_list(F.struct("event_round", "until")).alias("__ev"))
            )
            applicable = F.filter(
                F.coalesce(F.col("__ev"), F.array()),
                lambda e: e["event_round"] > F.col("added_in"),
            )
            until = F.array_max(F.transform(applicable, lambda e: e["until"]))
            live = live.join(F.broadcast(ev), "host", "left").withColumn(
                "not_before_round",
                F.greatest(F.col("not_before_round"), F.coalesce(until, F.lit(-1))),
            )
        return live.select(FRONTIER_COLS)

    # -- per-round deltas (each O(round size), not O(frontier size)) ---------
    def remove(self, fetched: DataFrame, round_no: int, n_rows: int) -> int:
        """Tombstone the round's ``n_rows`` fetched URLs. The count goes into
        the snapshot meta: it drives the mass-based compaction trigger
        without a count action."""
        return self.rm.append(
            fetched.select("url_hash", "url").withColumn("removed_in", F.lit(round_no)),
            meta={"round": round_no, "rows": int(n_rows)},
        )

    def delay_hosts(self, delayed: DataFrame, round_no: int) -> int:
        """delayed: (host, crawl_delay_rounds>0) fetched this round; a delay
        of d makes the host's rows ineligible before round_no + 1 + d."""
        events = delayed.select(
            "host",
            F.lit(round_no).alias("event_round"),
            (F.lit(round_no + 1) + F.col("crawl_delay_rounds")).alias("until"),
        )
        return self.delay.append(events, meta={"round": round_no})

    def insert(self, rows: DataFrame, round_no: int) -> int:
        """Append round ``round_no``'s FRONTIER_STORED rows. The caller
        stamps ``added_in``: a row is exempt from the pushback events of
        rounds up to its added_in."""
        return self.rows.append(self.rows.clustered(rows), meta={"round": round_no})

    # -- compaction ----------------------------------------------------------
    def compaction_due(self, round_no: int, pending_rows: int = 0) -> bool:
        """Compact on the round cadence OR once tombstone mass (plus
        ``pending_rows`` about to be added) exceeds the broadcast-safe bound."""
        by_cadence = self.compact_every > 0 and (round_no + 1) % self.compact_every == 0
        return by_cadence or self.tombstone_rows() + pending_rows > MAX_TOMBSTONE_ROWS

    def compact(self, spark: SparkSession, round_no: int, rows: DataFrame | None = None) -> None:
        """Fold deltas into a fresh base; clear the delta tables. ``rows``
        (FRONTIER_STORED, the round's uncommitted rows) fold in through the
        read path instead of being appended first."""
        eff = self.read(spark, rows)
        self.rows.overwrite(
            self.rows.clustered(eff.withColumn("added_in", F.lit(round_no))),
            meta={"compact": round_no},
        )
        self.rm.clear(meta={"compact": round_no})
        self.delay.clear(meta={"compact": round_no})

    def version(self) -> str:
        ids = (t.current_snapshot for t in (self.rows, self.rm, self.delay))
        return "rows@{}+rm@{}+delay@{}".format(*ids)
