"""Snapshot-logged parquet tables (Iceberg semantics without the jar).

No Iceberg runtime is available in this container, so the engine carries a
minimal table layer with the same contract the north rule needs:

- **atomic append / overwrite**: data files are written to a fresh
  ``snap=NNNNN`` directory first; the manifest (``_snapshots.json``) is then
  swapped atomically and durably. Readers only ever see committed
  snapshots. A ``clear`` is a manifest-only overwrite. A small pandas
  frame is written with pyarrow, no Spark job.
- **one read path**: each snapshot dir is a ``snap`` partition of the
  table, so the live snapshots read as one multi-root scan (partition
  pruning below them included) under the table's schema, with no
  schema-inference job.
- **schema and layout**: the manifest records the table's schema — the
  declared one, or else the one its first Spark write had — and every
  write conforms to it. A table's partition column, if any, is declared
  once and every Spark write hive-partitions by it.
- **rollback / expiry**: ``rollback_to`` and ``expire_before`` commit the
  cut manifest, then delete every ``snap=NNNNN`` dir it does not list — so
  the dirs a crash left unlisted (a write before its commit, a cut before
  its deletes) go with the next cut. One writer per table: a dir being
  written is unlisted until its commit.
- **lineage**: each snapshot records its mode, whether it holds rows
  (so ``is_empty`` is exact and reads skip the empty ones), and caller
  metadata (round number, row count, etc.).

Swappable for real Iceberg (``MERGE INTO`` / snapshot ids) where the jar
exists; the engine only touches this narrow surface.

Reference analogue: the Postgres tables + ON CONFLICT upserts
(reference: src/crawler.py:172-244, src/utils/handy.py:11-22) — here the
"upsert" is an anti-join + append, which this layer makes atomic.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

_MANIFEST = "_snapshots.json"


def commit_json(path: str, obj) -> None:
    """Atomically and durably replace ``path`` with ``obj`` as JSON: fsync
    the temp file, rename, fsync the directory — power loss leaves the old
    file or the new one, never a torn one."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=1)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    fd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class SnapshotTable:
    def __init__(
        self, path: str, schema: StructType | None = None, partition_by: str | None = None
    ):
        self.path = path
        # the declared schema, else the recorded one once _load or the
        # first write (_conform) sets it
        self.schema = schema
        # hive layout: a filter on the partition column prunes files
        # (SCALING.md "Seen-set")
        self.partition_by = partition_by
        os.makedirs(path, exist_ok=True)

    # -- manifest ----------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.path, _MANIFEST)

    def _load(self) -> list[dict]:
        """The manifest's snapshots; a table declared without a schema
        takes the one the manifest records."""
        p = self._manifest_path()
        if not os.path.exists(p):
            return []
        with open(p) as f:
            manifest = json.load(f)
        if any(s["dir"].startswith("snap-") for s in manifest["snapshots"]):
            raise ValueError(
                f"{self.path} lists snap-NNNNN dirs: written before snapshot dirs "
                "became snap=NNNNN partitions of their table, and not readable now"
            )
        if self.schema is None and manifest.get("schema") is not None:
            self.schema = StructType.fromJson(manifest["schema"])
        return manifest["snapshots"]

    def _commit(self, snapshots: list[dict]) -> None:
        schema = None if self.schema is None else self.schema.jsonValue()
        commit_json(self._manifest_path(), {"schema": schema, "snapshots": snapshots})

    # -- public api --------------------------------------------------------
    @property
    def current_snapshot(self) -> int | None:
        snaps = self._load()
        return snaps[-1]["id"] if snaps else None

    def snapshots(self) -> list[dict]:
        return self._load()

    def _write(self, df: DataFrame | pd.DataFrame | None, mode: str, meta: dict | None) -> int:
        """Commit ``df`` as the next snapshot. A (small) pandas frame is
        written with pyarrow — no Spark job; ``None`` commits a
        manifest-only snapshot."""
        snaps = self._load()
        sid = (snaps[-1]["id"] + 1) if snaps else 0
        rel = f"snap={sid:05d}"
        out = os.path.join(self.path, rel)
        has_data = False
        if isinstance(df, pd.DataFrame) and not df.empty:
            os.makedirs(out)
            table = pa.Table.from_pandas(df, to_arrow_schema(self.schema), preserve_index=False)
            pq.write_table(table, os.path.join(out, "part-00000.parquet"))
            has_data = True
        elif isinstance(df, DataFrame):
            w = self._conform(df).write.mode("overwrite")
            if self.partition_by is not None:
                w = w.partitionBy(self.partition_by)
            w.parquet(out)
            has_data = self._has_data_files(out)
        snaps.append({"id": sid, "dir": rel, "mode": mode, "meta": meta or {}, "has_data": has_data})
        self._commit(snaps)
        return sid

    def _conform(self, df: DataFrame) -> DataFrame:
        """The table's columns by name, cast to its types (reads pin the
        schema, so files must match it); a missing one raises. The first
        write of a table without a schema records its own."""
        if self.schema is None:
            self.schema = df.schema
        missing = [f.name for f in self.schema.fields if f.name not in df.columns]
        if missing:
            raise ValueError(f"write to {self.path} lacks declared columns {missing}")
        return df.select([F.col(f.name).cast(f.dataType).alias(f.name) for f in self.schema.fields])

    def append(self, df: DataFrame, meta: dict | None = None) -> int:
        return self._write(df, "append", meta)

    def overwrite(self, df: DataFrame, meta: dict | None = None) -> int:
        return self._write(df, "overwrite", meta)

    def clustered(self, df: DataFrame) -> DataFrame:
        """``df`` clustered by the partition column, for a write: each task
        then writes whole partitions, not a file per task per partition dir
        (the seen set's measured ~0.4 s/round layout, SCALING.md)."""
        return df.repartition(F.col(self.partition_by))

    def clear(self, meta: dict | None = None) -> int:
        """Empty the table with a manifest-only overwrite: no Spark job and
        no data dir, yet rollback treats it like any snapshot."""
        return self._write(None, "overwrite", meta)

    def live_snapshots(self) -> list[dict]:
        """The snapshots a read scans: the last overwrite and the appends
        after it."""
        live: list[dict] = []
        for s in self._load():
            if s["mode"] == "overwrite":
                live = []
            live.append(s)
        return live

    def _data_dirs(self) -> list[str]:
        """Dirs of the live snapshots that hold rows, from the manifest."""
        return [os.path.join(self.path, s["dir"]) for s in self.live_snapshots() if s["has_data"]]

    def is_empty(self) -> bool:
        """True when no live snapshot holds a row — from the manifest, no
        Spark job."""
        return not self._data_dirs()

    @staticmethod
    def _has_data_files(d: str) -> bool:
        """True if a parquet file in the snapshot dir holds a row. An empty
        write leaves no file (partitionBy) or one 0-row file (flat), a
        non-empty one no 0-row file: one footer read in the common case."""
        for root, _dirs, files in os.walk(d):
            for f in files:
                if f.endswith(".parquet") and pq.read_metadata(os.path.join(root, f)).num_rows:
                    return True
        return False

    def read(self, spark: SparkSession) -> DataFrame:
        """The live snapshots as one scan under the table's schema. The
        snapshot dirs are ``snap=`` partitions below the table's path, so
        Spark discovers one layout across them (a partition filter prunes
        in every snapshot); the select drops the ``snap`` column."""
        dirs = self._data_dirs()
        if self.schema is None:
            raise ValueError(f"table {self.path} declares no schema and was never written")
        if not dirs:
            # folds to an empty local relation: plans over it run no job
            return spark.range(1).select(
                [F.lit(None).cast(f.dataType).alias(f.name) for f in self.schema.fields]
            ).limit(0)
        return (
            spark.read.schema(self.schema)
            .option("basePath", self.path)
            .parquet(*dirs)
            .select(self.schema.fieldNames())
        )

    def rollback_to(self, snapshot_id: int | None) -> None:
        """Drop snapshots newer than ``snapshot_id`` (None = drop all).

        Resume-from-checkpoint calls this to discard writes from a round
        that crashed after some table writes but before the checkpoint
        commit — the atomicity story for the round loop.
        """
        floor = -1 if snapshot_id is None else snapshot_id
        self._cut([s for s in self._load() if s["id"] <= floor])

    def expire_before(self, snapshot_id: int) -> None:
        """Drop snapshots (and data dirs) no longer reachable — keeps the
        frontier's overwrite-per-round history from growing unboundedly."""
        snaps = self._load()
        # find the last overwrite at-or-before snapshot_id: everything
        # before it is unreachable
        cut = 0
        for i, s in enumerate(snaps):
            if s["mode"] == "overwrite" and s["id"] <= snapshot_id:
                cut = i
        if cut == 0:
            return  # nothing precedes the last overwrite: no commit
        self._cut(snaps[cut:])

    def _cut(self, kept: list[dict]) -> None:
        """Commit ``kept``, then delete the dirs it does not list: a crash in
        between leaves unlisted dirs, never a manifest listing deleted ones."""
        self._commit(kept)
        listed = {s["dir"] for s in kept}
        for d in os.listdir(self.path):
            if d.startswith("snap=") and d not in listed:
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
