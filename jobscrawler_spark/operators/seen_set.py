"""Sharded URL-seen set: exact parquet set + per-round prefilter segments.

The reference probes Postgres once per candidate link
(``SELECT EXISTS(... WHERE link=%s)``, reference: src/utils/handy.py:11-22)
— an N+1 round-trip placed deliberately *before* the expensive follow-link
fetch (src/crawlers/async_bs4.py:154-166). This module re-realizes that as
the engine's core operator at frontier scale:

- the exact set lives in a snapshot table hash-partitioned by
  ``shard = pmod(xxhash64(canonical_url), N_SHARDS)``
- the prefilter is a table of immutable SEGMENTS, one row per (shard,
  round): each ``add`` appends segments built from that round's URLs alone
  and never reads or rewrites the existing ones. A segment is its bytes,
  built and tested by the backend module ``PREFILTERS`` names (``bloom``,
  the default, or ``cuckoo``), whose whole interface is
  ``build(hashes) -> bytes`` and ``contains(bytes, hashes) -> mask``; the
  backend sizes the segment and reads its size back from the bytes' length.
  A miss in every segment of the shard proves "never seen" (no false
  negatives); a hit falls through to an exact anti-join on
  ``(url_hash, url)`` — url included so a 64-bit hash collision can never
  evict a URL. Exactness is what the north rule demands.
- expiry is LOGICAL and per segment: each segment records the newest
  ``round_added`` it holds, and a probe with ``min_round_added`` drops the
  segments below it before testing, the same predicate the exact set's
  backstop applies to its rows. No item is ever deleted from a filter;
  ``compact`` rewrites the filter as one segment per shard from the
  compacted exact set.
- the probe is one grouped-map pandas op over the candidates and the live
  segments (``_with_bloom``), so filter bits cross the Arrow boundary once
  per SEGMENT, never per row.

At 10^10 URLs: N_SHARDS becomes 2^14, each shard ~6e5 items -> ~1.2 MB of
bloom bits at 16 bits/item, split over at most one segment per round since
the last compaction; the probe stays a co-partitioned grouped map on
`shard`.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from ..plans.tables import SnapshotTable
from ..schemas import SEEN_BLOOM, SEEN_SET
from . import bloom, cuckoo

PREFILTERS = {"bloom": bloom, "cuckoo": cuckoo}


def _shard_summary(batches):
    """mapInPandas body: per batch, each shard present and whether any of
    its rows is a bloom hit — the probe's one collect, with no shuffle."""
    for pdf in batches:
        hit = pdf.groupby("shard")["__maybe"].any()
        yield pd.DataFrame({"shard": hit.index.astype("int32"), "hit": hit.to_numpy()})


# ---------------------------------------------------------------------------
# SeenSet
# ---------------------------------------------------------------------------


class SeenSet:
    def __init__(self, base_path: str, prefilter: str = "bloom"):
        if prefilter not in PREFILTERS:
            raise ValueError(f"prefilter={prefilter!r}, choose one of {sorted(PREFILTERS)}")
        # hive-partitioned: the probe prunes to hit shards
        self.seen = SnapshotTable(f"{base_path}/seen_set", SEEN_SET, partition_by="shard")
        self.bloom = SnapshotTable(f"{base_path}/seen_bloom", SEEN_BLOOM)
        self.backend = PREFILTERS[prefilter]

    # -- update -------------------------------------------------------------
    def add(
        self,
        spark: SparkSession,
        new_urls: DataFrame,
        round_no: int,
        n_new: int | None = None,
        compact: bool = False,
        min_round_added: int | None = None,
    ) -> None:
        """Append (url_hash, url, shard) rows to the exact set and one
        filter segment per shard they touch, built from these rows alone.

        ``n_new`` (the caller usually knows it) skips a count; it is kept
        per round in the manifest, where ``expire`` finds it. ``compact``
        instead rewrites the exact set and the filter as one ``compact``
        overwrite each that includes the new rows, so compaction rides the
        round's writes.
        """
        rows = new_urls.select("url_hash", "url", "shard", F.lit(round_no).alias("round_added"))
        if n_new is None:
            n_new = rows.count()
        if n_new == 0:
            return
        if compact:
            self.compact(spark, min_round_added, rows, {round_no: n_new})
            return
        self.seen.append(self.seen.clustered(rows), {"round": round_no, "rows": n_new})
        self.bloom.append(self._segments(rows), {"round": round_no})

    def _segments(self, rows: DataFrame) -> DataFrame:
        """One filter segment per shard of ``rows`` (url_hash, shard,
        round_added), tagged with the newest round_added it holds."""
        backend = self.backend  # local bind: the closure ships to executors

        def build(key, pdf):
            hashes = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            return pd.DataFrame(
                [{"shard": int(key[0]), "bits": backend.build(hashes), "n_items": len(hashes),
                  "round_added": int(pdf["round_added"].max())}]
            )

        return (
            rows.select("shard", "url_hash", "round_added")
            .groupBy("shard")
            .applyInPandas(build, schema=SEEN_BLOOM)
        )

    def _with_bloom(self, df: DataFrame, bloom: DataFrame, fn, schema) -> DataFrame:
        """``fn(key, data_pdf, bloom_pdf)`` per shard over ``df`` and the
        filter segments ``bloom`` in ONE shuffle: a tagged union feeds one
        groupBy (a cogroup shuffles each side as a stage, i.e. a Spark
        job, of its own). Missing columns are filled with typed zeros, not
        nulls: a null would turn the int64 hash column into float64 in pandas."""
        data_cols, bloom_cols = df.columns, bloom.columns

        def pad(side: DataFrame, other: DataFrame, is_bloom: bool) -> DataFrame:
            fill = [
                (F.lit(0) if isinstance(f.dataType, NumericType) else F.lit(None))
                .cast(f.dataType)
                .alias(f.name)
                for f in other.schema.fields
                if f.name not in side.columns
            ]
            return side.select("*", *fill, F.lit(is_bloom).alias("__bloom"))

        def apply(key, pdf):
            is_bloom = pdf["__bloom"].to_numpy(dtype=bool)
            return fn(key, pdf.loc[~is_bloom, data_cols], pdf.loc[is_bloom, bloom_cols])

        tagged = pad(df, bloom, False).unionByName(pad(bloom, df, True))
        return tagged.groupBy("shard").applyInPandas(apply, schema=schema)

    def _round_rows(self) -> dict[int, int]:
        """Live exact-set rows per round_added, from the manifest: appends
        record their round's row count, compactions the counts they kept."""
        counts: dict[int, int] = {}
        for s in self.seen.live_snapshots():
            meta = s["meta"]
            if "round_rows" in meta:
                counts.update({int(k): v for k, v in meta["round_rows"].items()})
            else:
                counts[meta["round"]] = counts.get(meta["round"], 0) + meta["rows"]
        return counts

    def expire(self, spark: SparkSession, round_added: int) -> DataFrame | None:
        """Forget the URLs fetched in exactly ``round_added`` (the engine's
        re-crawl policy calls this once per round value): their exact-set
        rows (url_hash, url, shard, round_added), for the caller to
        re-enqueue, or None
        when the manifest's per-round row counts say there are none — no
        Spark job either way.

        Writes nothing: expiry is LOGICAL. Probes pass ``min_round_added``,
        which skips the expired exact rows and drops every filter segment
        whose newest round is older; compact() drops the rows physically
        (an O(seen) rewrite per round would be the scale-killer)."""
        if not self._round_rows().get(round_added):
            return None
        return (
            self.seen.read(spark)
            .filter(F.col("round_added") == round_added)
            .select("url_hash", "url", "shard", "round_added")
        )

    def compact(
        self,
        spark: SparkSession,
        min_round_added: int | None = None,
        new_rows: DataFrame | None = None,
        new_counts: dict | None = None,
    ) -> None:
        """Fold the per-round appended snapshots (plus ``new_rows``, whose
        per-round counts are ``new_counts`` — ``add`` passes its round's
        rows here) into one overwrite of the exact set, and the filter
        into one segment per shard built from the same rows.

        Every append adds files to each shard it touches and a filter
        segment per shard that the probe tests, so the engine compacts on
        the frontier's cadence: the exact set's files and the live segments
        stay bounded.

        ``min_round_added`` (re-crawl mode): physically drop the
        logically-expired rows while rewriting anyway. The fold is sorted
        by round_added within partitions, so the expiry scan's
        ``round_added == cutoff`` filter keeps parquet min/max pruning. The
        kept rounds' row counts carry forward in the manifest. A kept
        round that expires later stays in its shard's base segment until
        the next compaction: a stale entry only sends a URL to the exact
        backstop."""
        if self.seen.current_snapshot is None and new_rows is None:
            return
        kept = {
            r: n
            for r, n in {**self._round_rows(), **(new_counts or {})}.items()
            if min_round_added is None or r >= min_round_added
        }
        rows = self.seen.read(spark)
        if new_rows is not None:
            rows = rows.unionByName(new_rows)
        if min_round_added is not None:
            rows = rows.filter(F.col("round_added") >= min_round_added)
        self.seen.overwrite(
            self.seen.clustered(rows).sortWithinPartitions("round_added"),
            {"compact": True, "round_rows": kept},
        )
        self.bloom.overwrite(self._segments(rows), {"compact": True})

    # -- probe ---------------------------------------------------------------
    def filter_unseen(
        self,
        spark: SparkSession,
        candidates: DataFrame,
        dedupe_min_depth: bool = False,
        min_round_added: int | None = None,
        blocked: DataFrame | None = None,
        tables: tuple[DataFrame, DataFrame] | None = None,
    ) -> DataFrame:
        """Rows of ``candidates`` whose (url_hash, url) is neither in the
        set nor among the ``blocked`` (url_hash, url, shard) rows — the
        engine passes its pending frontier and fetch batch there.

        Plan: filter probe per shard (one shuffle of candidates and the
        shard's live segments) -> ONE collect of the probe's per-shard
        summary -> one exact left-anti join against the seen rows of the
        filter-HIT shards and the blocked rows of the candidate shards. The
        seen table (and the engine's frontier store) are hive-partitioned
        by shard, so at 10^10 rows that join reads only the shards a batch
        touches.

        ``dedupe_min_depth``: url determines shard, so within-batch URL
        dedupe (keeping min depth) is shard-local and rides the probe.
        ``min_round_added`` (re-crawl mode): seen rows with an older
        round_added are logically expired and do NOT block, and segments
        whose newest round is older are dropped before the probe.
        ``tables``: (exact set, filter) frames read earlier, to pin the
        probe to one state while concurrent writes add to both (default: now).
        """
        seen_df, bloom_df = tables or (self.seen.read(spark), self.bloom.read(spark))
        if min_round_added is not None:
            bloom_df = bloom_df.filter(F.col("round_added") >= min_round_added)
        cand_cols = candidates.columns
        backend = self.backend  # local bind: the probe closure ships to executors
        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in candidates.schema.fields
        ) + ", __maybe boolean"

        def probe(key, cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            if cand_pdf.empty:
                return cand_pdf.assign(__maybe=pd.Series([], dtype=bool))
            if dedupe_min_depth:
                cand_pdf = cand_pdf.sort_values(
                    ["url", "depth"], kind="mergesort"
                ).drop_duplicates(subset=["url"], keep="first")
            hashes = cand_pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            maybe = np.zeros(len(hashes), dtype=bool)
            for bits in bloom_pdf["bits"]:
                maybe |= backend.contains(bits, hashes)
            return cand_pdf.assign(__maybe=maybe)

        # cached for the summary collect and the anti-join; the previous
        # call's cache is dropped, so a crawl holds one
        prev = getattr(self, "_last_probed", None)
        if prev is not None:
            prev.unpersist()
        probed = self._with_bloom(candidates, bloom_df, probe, out_schema).persist()
        self._last_probed = probed
        summary = (
            probed.select("shard", "__maybe")
            .mapInPandas(_shard_summary, "shard int, hit boolean")
            .collect()
        )
        shards = sorted({r["shard"] for r in summary})
        hit_shards = sorted({r["shard"] for r in summary if r["hit"]})
        known = []
        if hit_shards:
            seen_df = seen_df.filter(F.col("shard").isin(hit_shards))
            if min_round_added is not None:
                seen_df = seen_df.filter(F.col("round_added") >= min_round_added)
            known.append(seen_df.select("url_hash", "url"))
        if blocked is not None and shards:
            known.append(blocked.filter(F.col("shard").isin(shards)).select("url_hash", "url"))
        out = probed.drop("__maybe")
        if known:
            # exact: join on url too — hash collisions must not evict
            out = out.join(reduce(DataFrame.unionByName, known), ["url_hash", "url"], "left_anti")
        return out.select(cand_cols)

    def all_urls(self, spark: SparkSession) -> DataFrame:
        return self.seen.read(spark)
