"""Training-shard EXPORT SINK: the terminal step that turns a curated
corpus into addressable training input — WebDataset-style budget-sized
shards plus a deterministic per-shard manifest (content hash, row count,
token mass), written through the engine's snapshot tables.

The reference's terminal sink is a Postgres upsert
(src/crawler.py:199-244); a training pipeline's terminal sink is sharded
files a loader can stream by name. Shard ASSIGNMENT reuses the packing
core (operators/corpus.py:pack_sequences — deterministic (group, doc_id)
layout, budget bins), so a shard is ``source#bin_id`` and its contents
are engine-independent: re-running export on any partitioning yields
byte-identical manifests.

Scale shape (SCALING.md "Training-data operators at 100 TB"): one
shuffle for the packing window (partitioned by source), one
doc_id-keyed join to re-attach payloads, one groupBy for the manifest.
The physical layout is 256 fixed ``shard_pfx`` hive dirs (md5 prefix of
the shard name) rather than one dir per shard: at 100 TB a
budget-per-dir layout would create O(corpus/budget) ~ 10^5-10^8
partition directories and driver-side listing would dominate; with the
prefix layout the dir count is constant, rows are clustered by shard
within each dir (sortWithinPartitions), and a single-shard read prunes
to 1 dir via the pushed shard_pfx equality plus parquet row-group
min/max stats on the shard column (read_shard computes the prefix
driver-side — Python md5 == Spark md5 on ASCII).
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.tables import SnapshotTable
from .corpus import pack_sequences

N_PREFIX_CHARS = 2  # 256 fixed hive dirs


def assign_shards(
    docs: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    token_counter: str = "ws",
    bpe_merges: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """(group, doc_id, n_tokens, bin_id, bin_offset, shard): the packing
    assignment with the addressable shard name ``group#bin_id``."""
    assigned = pack_sequences(
        docs,
        budget,
        text_col=text_col,
        id_col=id_col,
        group_col=group_col,
        token_counter=token_counter,
        bpe_merges=bpe_merges,
    )
    return assigned.withColumn(
        "shard",
        F.concat_ws("#", F.col(group_col), F.col("bin_id").cast("string")),
    )


def shard_manifest(
    assigned: DataFrame, id_col: str = "doc_id", group_col: str = "source"
) -> DataFrame:
    """(shard, group, bin_id, n_docs, shard_tokens, content_md5) — the
    loader-facing manifest. content_md5 hashes the NUMERICALLY-ordered
    id list (sort on the typed id, then stringify — lexicographic string
    sort would order "10" before "2" and diverge from a SQL ORDER BY on
    a numeric id)."""
    ordered_ids = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct(F.col(id_col).alias("i")))),
            lambda s: s["i"].cast("string"),
        ),
        ",",
    )
    return assigned.groupBy("shard", group_col, "bin_id").agg(
        F.count("*").cast("int").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("shard_tokens"),
        F.md5(ordered_ids).alias("content_md5"),
    )


def _pfx(shard: str) -> str:
    return hashlib.md5(shard.encode()).hexdigest()[:N_PREFIX_CHARS]


def _shards(base_path: str) -> SnapshotTable:
    return SnapshotTable(os.path.join(base_path, "shards"), partition_by="shard_pfx")


def export_training_shards(
    docs: DataFrame,
    base_path: str,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    token_counter: str = "ws",
    bpe_merges: list[tuple[str, str]] | None = None,
) -> tuple[int, int]:
    """Write the corpus as training shards + manifest; returns the two
    snapshot ids (data, manifest). Idempotent by construction: overwrite
    snapshots of a deterministic layout."""
    assigned = assign_shards(
        docs, budget, text_col, id_col, group_col, token_counter, bpe_merges
    )
    payload = (
        docs.join(
            assigned.select(id_col, "n_tokens", "bin_id", "bin_offset", "shard"),
            id_col,
        )
        .withColumn("shard_pfx", F.substring(F.md5("shard"), 1, N_PREFIX_CHARS))
    )
    data = _shards(base_path)
    sid = data.overwrite(
        data.clustered(payload).sortWithinPartitions("shard", id_col), meta={"budget": budget}
    )
    manifest = SnapshotTable(os.path.join(base_path, "manifest"))
    mid = manifest.overwrite(
        shard_manifest(assigned, id_col, group_col),
        meta={"budget": budget, "data_snapshot": sid},
    )
    return sid, mid


def read_shard(spark: SparkSession, base_path: str, shard: str) -> DataFrame:
    """One shard's rows, pruned to its single shard_pfx hive dir (the
    prefix predicate is computed driver-side; the shard equality then
    row-group-skips within the dir)."""
    return _shards(base_path).read(spark).filter(
        (F.col("shard_pfx") == _pfx(shard)) & (F.col("shard") == shard)
    )
