"""Sharded URL-seen set: exact parquet set + per-shard bloom prefilter.

The reference probes Postgres once per candidate link
(``SELECT EXISTS(... WHERE link=%s)``, reference: src/utils/handy.py:11-22)
— an N+1 round-trip placed deliberately *before* the expensive follow-link
fetch (src/crawlers/async_bs4.py:154-166). This module re-realizes that as
the engine's core operator at frontier scale:

- the exact set lives in a snapshot table hash-partitioned by
  ``shard = pmod(xxhash64(canonical_url), N_SHARDS)``
- each shard carries a bloom filter (numpy bit array, double-hashing with
  k probes) used as a PREFILTER only: a bloom miss proves "never seen"
  (no false negatives), a bloom hit falls through to an exact anti-join
  on ``(url_hash, url)`` — url included so a 64-bit hash collision can
  never evict a URL. Exactness is what the north rule demands.
- bloom build/update/probe run as grouped-map pandas ops over the rows
  and the bloom table in one shuffle (``_with_bloom``), so bloom bits
  cross the Arrow boundary once per SHARD, never per row.

At 10^10 URLs: N_SHARDS becomes 2^14, each shard ~6e5 items -> ~1.2 MB of
bloom bits at 16 bits/item; probe stays a co-partitioned join on `shard`.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from ..plans.tables import SnapshotTable
from ..schemas import SEEN_BLOOM, SEEN_SET

BITS_PER_ITEM = 16
N_HASHES = 7
MIN_BITS = 1 << 13  # 8192 bits minimum per shard


# ---------------------------------------------------------------------------
# numpy bloom primitives (vectorized over whole hash arrays)
# ---------------------------------------------------------------------------


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — derives the second probe stream."""
    h = h.astype(np.uint64, copy=True)
    h ^= h >> np.uint64(30)
    h *= np.uint64(0xBF58476D1CE4E5B9)
    h ^= h >> np.uint64(27)
    h *= np.uint64(0x94D049BB133111EB)
    h ^= h >> np.uint64(31)
    return h


def _positions(hashes: np.ndarray, n_bits: int, k: int = N_HASHES) -> np.ndarray:
    """(k, n) probe positions via double hashing."""
    h1 = hashes.astype(np.uint64)
    h2 = _mix64(h1) | np.uint64(1)
    nb = np.uint64(n_bits)
    return np.stack([(h1 + np.uint64(i) * h2) % nb for i in range(k)])


def bloom_build(hashes: np.ndarray, n_bits: int) -> bytes:
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    if len(hashes):
        pos = _positions(hashes, n_bits).ravel()
        np.bitwise_or.at(bits, pos >> np.uint64(3), (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)))
    return bits.tobytes()


def bloom_or(a: bytes, b: bytes) -> bytes:
    return (np.frombuffer(a, dtype=np.uint8) | np.frombuffer(b, dtype=np.uint8)).tobytes()


def bloom_test(bits_buf: bytes, hashes: np.ndarray, n_bits: int) -> np.ndarray:
    """Boolean array: True = maybe seen, False = definitely unseen."""
    if len(hashes) == 0:
        return np.zeros(0, dtype=bool)
    bits = np.frombuffer(bits_buf, dtype=np.uint8)
    pos = _positions(hashes, n_bits)
    probe = (bits[(pos >> np.uint64(3)).astype(np.int64)] >> (pos & np.uint64(7)).astype(np.uint8)) & 1
    return probe.all(axis=0)


GROWTH = 8  # headroom factor on (re)build so rebuilds amortize O(log n)


def _size_for(n_items: int) -> int:
    target = max(n_items * BITS_PER_ITEM, MIN_BITS)
    n = MIN_BITS
    while n < target:
        n <<= 1
    return n


# ---------------------------------------------------------------------------
# prefilter backends: bloom (default) and cuckoo (north_star's alternative —
# deletable, lower FP rate). Same contract: a miss PROVES "never seen";
# build/fold may fail (None) when over capacity -> caller rebuilds bigger.
# The `size` value is bloom bits or cuckoo bucket count respectively (stored
# in the table's n_bits column either way).
# ---------------------------------------------------------------------------


class _BloomBackend:
    name = "bloom"
    can_delete = False

    @staticmethod
    def size_for(n_items: int) -> int:
        return _size_for(n_items * GROWTH)

    @staticmethod
    def needs_rebuild(n_items: int, size: int) -> bool:
        return _size_for(n_items) > size

    @staticmethod
    def build(hashes: np.ndarray, size: int) -> bytes | None:
        return bloom_build(hashes, size)

    @staticmethod
    def fold(old: bytes, size: int, hashes: np.ndarray) -> bytes | None:
        return bloom_or(old, bloom_build(hashes, size))

    @staticmethod
    def test(buf: bytes, hashes: np.ndarray, size: int) -> np.ndarray:
        return bloom_test(buf, hashes, size)

    @staticmethod
    def remove(buf: bytes, size: int, hashes: np.ndarray):
        """Blooms cannot delete: return None (= leave the filter stale).
        Stale bits are CONSERVATIVE — a false 'maybe' only costs the
        exact-backstop anti-join, never a wrong answer."""
        return None


class _CuckooBackend:
    name = "cuckoo"
    can_delete = True

    @staticmethod
    def size_for(n_items: int) -> int:
        from . import cuckoo

        return cuckoo.size_for(max(n_items, 1) * GROWTH)

    @staticmethod
    def needs_rebuild(n_items: int, size: int) -> bool:
        from . import cuckoo

        return n_items > int(0.9 * size * cuckoo.SLOTS)

    @staticmethod
    def build(hashes: np.ndarray, size: int) -> bytes | None:
        from . import cuckoo

        return cuckoo.build(hashes, size)

    @staticmethod
    def fold(old: bytes, size: int, hashes: np.ndarray) -> bytes | None:
        from . import cuckoo

        table = cuckoo.load(old, size)
        if cuckoo.insert(table, np.sort(hashes.astype(np.uint64))):
            return table.tobytes()
        return None

    @staticmethod
    def test(buf: bytes, hashes: np.ndarray, size: int) -> np.ndarray:
        from . import cuckoo

        return cuckoo.contains(cuckoo.load(buf, size), hashes)

    @staticmethod
    def remove(buf: bytes, size: int, hashes: np.ndarray):
        """The cuckoo filter's capability the bloom lacks (cuckoo.delete):
        returns (new bytes, n fingerprints removed). Only valid for items
        actually inserted — the seen-set expiry path guarantees that."""
        from . import cuckoo

        table = cuckoo.load(buf, size)
        found = cuckoo.delete(table, hashes)
        return table.tobytes(), int(found.sum())


PREFILTERS = {"bloom": _BloomBackend, "cuckoo": _CuckooBackend}


def _built_row(backend, shard: int, hashes: np.ndarray) -> pd.DataFrame:
    """A fresh bloom-table row for ``hashes``, doubling the size until the
    backend can hold them (cuckoo builds may fail over capacity)."""
    size = backend.size_for(len(hashes))
    bits = backend.build(hashes, size)
    while bits is None:
        size <<= 1
        bits = backend.build(hashes, size)
    return pd.DataFrame(
        [{"shard": shard, "bits": bits, "n_items": len(hashes), "n_bits": size, "n_hashes": N_HASHES}]
    )


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
    def __init__(
        self,
        base_path: str,
        n_shards: int = 16,
        prefilter: str = "bloom",
        partition_writes: bool = True,
    ):
        """``partition_writes=False`` drops the hive-partitioned exact-set
        layout (flat append, no shard repartition): the A/B lever for the
        write-path cost — correctness is identical (the probe simply loses
        file-level pruning and falls back to a filtered scan)."""
        self.n_shards = n_shards
        self.seen = SnapshotTable(f"{base_path}/seen_set", SEEN_SET)
        self.bloom = SnapshotTable(f"{base_path}/seen_bloom", SEEN_BLOOM)
        self.backend = PREFILTERS[prefilter]
        self.partition_writes = partition_writes

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
        """Append (url_hash, url, shard) rows and fold them into the shard
        blooms via a grouped map (old bloom row + new hashes per shard).

        ``n_new`` (the caller usually knows it) skips a count; it is kept
        per round in the manifest, where ``expire`` finds it. ``compact``
        writes the exact set as one ``compact`` overwrite that includes the
        new rows, so compaction rides the round's write.
        """
        rows = new_urls.select("url_hash", "url", "shard", F.lit(round_no).alias("round_added"))
        if n_new is None:
            n_new = rows.count()
        if n_new == 0:
            return
        backend = self.backend

        def update(key, new_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            if new_pdf.empty:
                return bloom_pdf  # idle shard: carry its row unchanged
            hashes = new_pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            if bloom_pdf.empty:
                return _built_row(backend, int(key[0]), hashes)
            row = bloom_pdf.iloc[0]
            size = int(row["n_bits"])
            n_items = int(row["n_items"]) + len(hashes)
            bits = (
                None
                if backend.needs_rebuild(n_items, size)
                else backend.fold(bytes(row["bits"]), size, hashes)
            )
            if bits is None:
                # grown past capacity: caller must rebuild this shard from
                # the exact set; flag with n_bits=0
                size, bits = 0, b""
            return bloom_pdf.assign(bits=[bits], n_items=n_items, n_bits=size)

        updated = self._with_bloom(spark, rows, update, SEEN_BLOOM)

        # the exact-set write and the bloom fold are independent jobs: run
        # them concurrently (latency, not CPU, dominates small rounds)
        with ThreadPoolExecutor(2) as ex:
            if compact:
                f_seen = ex.submit(self.compact, spark, min_round_added, rows, {round_no: n_new})
            else:
                f_seen = ex.submit(
                    self.seen.append,
                    self._clustered(rows),
                    {"round": round_no, "rows": n_new},
                    # hive-partitioned: the probe prunes to hit shards
                    "shard" if self.partition_writes else None,
                )
            f_bloom = ex.submit(self.bloom.overwrite, updated, {"round": round_no})
            f_seen.result()
            f_bloom.result()
        # capacity flags: header columns read on the driver, no Spark job
        flags = self.bloom.read_local(["shard", "n_bits"])
        needs_rebuild = [int(x) for x in flags.loc[flags["n_bits"] == 0, "shard"]]
        if needs_rebuild:
            self._rebuild_shards(spark, needs_rebuild)

    def _with_bloom(self, spark: SparkSession, df: DataFrame, fn, schema, bloom=None) -> DataFrame:
        """``fn(key, data_pdf, bloom_pdf)`` per shard over ``df`` and the
        bloom rows (default: current) in ONE shuffle: a tagged union feeds
        one groupBy (a cogroup shuffles each side as a stage, i.e. a Spark
        job, of its own). Missing columns are filled with typed zeros, not
        nulls: a null would turn the int64 hash column into float64 in pandas."""
        bloom = self.bloom.read(spark) if bloom is None else bloom
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
        for s in self.seen._snaps_at(None):
            meta = s["meta"]
            if "round_rows" in meta:
                counts.update({int(k): v for k, v in meta["round_rows"].items()})
            else:
                counts[meta["round"]] = counts.get(meta["round"], 0) + meta["rows"]
        return counts

    def expired_rows(self, spark: SparkSession, round_added: int) -> DataFrame | None:
        """The exact-set rows (url_hash, url, shard) added in
        ``round_added``, or None when the manifest's per-round row counts
        say there are none — no Spark job either way."""
        if not self._round_rows().get(round_added):
            return None
        return (
            self.seen.read(spark)
            .filter(F.col("round_added") == round_added)
            .select("url_hash", "url", "shard")
        )

    def expire(self, spark: SparkSession, round_added: int, expired: DataFrame | None = None):
        """Forget the URLs fetched in exactly ``round_added`` (the engine's
        re-crawl policy calls this once per round value); returns their
        ``expired_rows``, which a caller that already holds them passes as
        ``expired``.

        Expiry is LOGICAL on the exact set: rows stay until compact()
        drops them, and probes pass ``min_round_added`` to ignore them (an
        O(seen) rewrite per round would be the scale-killer). The cuckoo
        prefilter DELETES the expired fingerprints eagerly (grouped map,
        O(expired + shards)); a bloom stays stale-conservative: a stale bit
        costs one exact-backstop probe, never a wrong answer."""
        if expired is None:
            expired = self.expired_rows(spark, round_added)
        backend = self.backend
        if expired is None or not backend.can_delete or self.bloom.is_empty():
            return expired  # bloom: leave the filter stale-conservative

        def drop(key, exp_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
            if exp_pdf.empty or bloom_pdf.empty:
                return bloom_pdf  # idle shard: carry its row unchanged
            row = bloom_pdf.iloc[0]
            size = int(row["n_bits"])
            if size == 0:
                return bloom_pdf  # capacity flag: the rebuild reads the exact set
            hashes = exp_pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            bits, n_removed = backend.remove(bytes(row["bits"]), size, hashes)
            return bloom_pdf.assign(bits=[bits], n_items=int(row["n_items"]) - n_removed)

        updated = self._with_bloom(spark, expired, drop, SEEN_BLOOM)
        self.bloom.overwrite(updated, meta={"expired_round": round_added})
        return expired

    def compact(
        self,
        spark: SparkSession,
        min_round_added: int | None = None,
        new_rows: DataFrame | None = None,
        new_counts: dict | None = None,
    ) -> None:
        """Fold the per-round appended snapshots (plus ``new_rows``, whose
        per-round counts are ``new_counts`` — ``add`` passes its round's
        rows here) into one overwrite.

        A partitioned table reads as a UNION of per-snapshot scans, so the
        probe plan grows with appended rounds; the engine compacts on the
        frontier's cadence (real Iceberg manifests make this unneeded).

        ``min_round_added`` (re-crawl mode): physically drop the
        logically-expired rows while rewriting anyway. The fold is sorted
        by round_added within partitions, so the expiry scan's
        ``round_added == cutoff`` filter keeps parquet min/max pruning. The
        kept rounds' row counts carry forward in the manifest."""
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
            self._clustered(rows).sortWithinPartitions("round_added"),
            meta={"compact": True, "round_rows": kept},
            partition_by="shard" if self.partition_writes else None,
        )

    def _clustered(self, rows: DataFrame) -> DataFrame:
        """Cluster rows by shard before a hive-partitioned write: each task
        then writes whole shards, not a file per task per shard."""
        return rows.repartition(F.col("shard")) if self.partition_writes else rows

    def _rebuild_shards(self, spark: SparkSession, shards: list[int]) -> None:
        full = self.seen.read(spark).filter(F.col("shard").isin(shards))
        backend = self.backend

        def rebuild(key, pdf):
            hashes = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            return _built_row(backend, int(key[0]), hashes)

        rebuilt = full.groupBy("shard").applyInPandas(rebuild, schema=SEEN_BLOOM)
        others = self.bloom.read(spark).filter(~F.col("shard").isin(shards))
        self.bloom.overwrite(rebuilt.unionByName(others), meta={"rebuilt": shards})

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

        Plan: bloom probe per shard (one shuffle of candidates and bloom
        rows) -> ONE collect of the probe's per-shard summary -> one exact
        left-anti join against the seen rows of the bloom-HIT shards and
        the blocked rows of the candidate shards. The seen table (and the
        engine's frontier store) are hive-partitioned by shard, so at
        10^10 rows that join reads only the shards a batch touches.

        ``dedupe_min_depth``: url determines shard, so within-batch URL
        dedupe (keeping min depth) is shard-local and rides the probe.
        ``min_round_added`` (re-crawl mode): seen rows with an older
        round_added are logically expired and do NOT block.
        ``tables``: (exact set, bloom) frames read earlier, to pin the probe
        to one state while concurrent writes replace both (default: now).
        """
        seen_df, bloom_df = tables or (self.seen.read(spark), None)
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
            if bloom_pdf.empty:
                return cand_pdf.assign(__maybe=False)
            row = bloom_pdf.iloc[0]
            n_bits = int(row["n_bits"])
            if n_bits == 0:
                # capacity-flag row (a concurrent probe may bind the add's
                # snapshot before _rebuild_shards replaces it): no bits, so
                # everything is "maybe" and the exact anti-join decides
                return cand_pdf.assign(__maybe=True)
            hashes = cand_pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
            maybe = backend.test(bytes(row["bits"]), hashes, n_bits)
            return cand_pdf.assign(__maybe=maybe)

        # cached for the summary collect and the anti-join; the previous
        # call's cache is dropped, so a crawl holds one
        prev = getattr(self, "_last_probed", None)
        if prev is not None:
            prev.unpersist()
        probed = self._with_bloom(spark, candidates, probe, out_schema, bloom_df).persist()
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
