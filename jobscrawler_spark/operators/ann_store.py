"""Persisted IVF index: the SERVING side of the ANN family — build once,
append embedding batches incrementally, answer top-k probes against a
partition-pruned inverted-list store.

similarity.ivf_topk recomputes assignment on every call; that is the
right shape for a one-shot batch query, and exactly the wrong one for
continuous ingest, where 10^9 embeddings/day arrive and queries run all
day. This store is the pattern the dedup band stores (dedupe.
minhash_bands, similarity.phash_bands) use, applied to vectors:

- **build**: train the codebook ONCE (deterministic first-N seed or the
  Lloyd-refined kmeans_codebook — both bounded driver-side samples),
  persist it, and write the corpus's home-bucket assignments
  hive-partitioned by ``centroid_id``.
- **append**: new batches assign against the FROZEN codebook (map-side:
  broadcast centroids, one window for the argmax) and append to the same
  partitioned layout. No historical recompute, no codebook drift —
  append order cannot change any existing assignment, so
  store-then-search equals one-shot search (test-pinned).
- **search**: queries assign to their ``nprobe`` centroids, and the scan
  reads ONLY those centroids' hive partitions (the filter lands in the
  scan's PartitionFilters — at 10^10 vectors with 4096 centroids a
  1-probe query touches ~0.02% of the files). Within the probed lists
  the exact cosine + top-k window runs as in ivf_topk.

Codebook staleness is the known trade: after heavy drift, rebuild
(build() again — an overwrite snapshot) and re-appendix; the snapshot
tables give the atomic cutover for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.tables import SnapshotTable
from .similarity import _dot, ivf_assign, ivf_centroids, kmeans_codebook


class IvfIndexStore:
    def __init__(self, base_path: str):
        self.centroids = SnapshotTable(f"{base_path}/centroids")
        self.assignments = SnapshotTable(f"{base_path}/assignments", partition_by="centroid_id")
        self.tombstones = SnapshotTable(f"{base_path}/tombstones")
        # collected codebook rows keyed by centroid snapshot id: the
        # codebook is frozen between build()s, so append/search reuse one
        # bounded read instead of re-collecting per call (r7)
        self._cent_cache: tuple[str | None, list] | None = None

    def _cent_rows(self, spark: SparkSession) -> list:
        snap = self.centroids.current_snapshot
        if self._cent_cache is None or self._cent_cache[0] != snap:
            self._cent_cache = (
                snap,
                self.centroids.read(spark)
                .select("centroid_id", "_c", "_nc")
                .collect(),
            )
        return self._cent_cache[1]

    def _tombstone_ids(self, spark: SparkSession) -> DataFrame | None:
        """The live tombstoned ids, or None when the set holds no rows."""
        if self.tombstones.is_empty():
            return None
        return self.tombstones.read(spark).select("vec_id").distinct()

    def delete(self, spark: SparkSession, ids) -> None:
        """TAKEDOWN path (GDPR/DMCA removal — the operation a 10^10-vector
        serving store cannot answer with a rebuild): append the ids to a
        TOMBSTONE snapshot table — O(deleted ids), the partitioned lists
        are not touched — and search masks them immediately via a
        broadcast anti-join (takedowns are dimension-sized). compact()
        later rewrites the lists without the dead rows and clears the
        tombstones; serving results are identical before and after the
        compaction (test-pinned). ``ids``: a 1-col DataFrame or a list of
        vec_ids."""
        if not isinstance(ids, DataFrame):
            vals = list(ids)
            typ = "bigint" if all(isinstance(v, int) for v in vals) else "string"
            ids = spark.createDataFrame([(v,) for v in vals], f"vec_id {typ}")
        self.tombstones.append(
            ids.select("vec_id").distinct(), meta={"stage": "delete"}
        )

    def compact(self, spark: SparkSession) -> None:
        """Physically drop tombstoned rows: one overwrite snapshot of the
        lists (partition layout preserved), superseded dirs expired, and
        the tombstone set cleared — disk returns to O(live vectors) and
        search stops paying the anti-join."""
        tomb = self._tombstone_ids(spark)
        if tomb is None:
            return
        live = self.assignments.read(spark).join(
            F.broadcast(tomb), "vec_id", "left_anti"
        ).localCheckpoint()
        sid = self.assignments.overwrite(live, meta={"stage": "compact"})
        self.assignments.expire_before(sid)
        tsid = self.tombstones.clear(meta={"stage": "cleared"})
        self.tombstones.expire_before(tsid)

    def build(
        self,
        spark: SparkSession,
        embeddings: DataFrame,
        n_centroids: int = 8,
        refine: bool = False,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> None:
        """Train + freeze the codebook, overwrite the assignment store
        with the corpus's home buckets."""
        cents = (
            kmeans_codebook(spark, embeddings, n_centroids, vec_col=vec_col, id_col=id_col)
            if refine
            else ivf_centroids(embeddings, n_centroids, vec_col, id_col)
        )
        # one bounded codebook computation: collect, write the collected
        # rows, seed the per-snapshot cache, assign from the same rows (r7)
        rows = cents.collect()
        local = spark.createDataFrame(rows, cents.schema)
        self.centroids.overwrite(local, meta={"n_centroids": n_centroids})
        self._cent_cache = (self.centroids.current_snapshot, rows)
        assigned = ivf_assign(embeddings, cents, 1, vec_col, id_col, cent_rows=rows)
        self.assignments.overwrite(
            assigned.withColumnRenamed(id_col, "vec_id"), meta={"stage": "build"}
        )

    def append(
        self,
        spark: SparkSession,
        new_embeddings: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> None:
        """Assign a new batch against the frozen codebook; append to the
        partitioned store (no historical recompute)."""
        cents = self.centroids.read(spark)
        assigned = ivf_assign(
            new_embeddings, cents, 1, vec_col, id_col,
            cent_rows=self._cent_rows(spark),
        )
        self.assignments.append(
            assigned.withColumnRenamed(id_col, "vec_id"), meta={"stage": "append"}
        )

    def search(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        nprobe: int = 1,
    ) -> DataFrame:
        """(query_id, vec_id, sim, rank) — ivf_topk's output shape, served
        from the store: the inverted-list scan carries an IN-filter on
        the probed centroid ids, which prunes to those hive partitions."""
        cents = self.centroids.read(spark)
        q = queries.select(
            F.col("query_id").alias("vec_id"), F.col("query_vec").alias("embedding")
        )
        q_df = ivf_assign(
            q, cents, nprobe, "embedding", "vec_id",
            cent_rows=self._cent_rows(spark),
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("_v").alias("_q"),
            F.col("_nv").alias("_nq"),
            "centroid_id",
        )
        # ONE bounded collect serves both the probe list and the broadcast
        # side (a probe batch is dimension-sized by contract): the old
        # localCheckpoint + distinct-collect pair was two jobs per search
        # for the same rows (r7; supersedes the ADVICE r5 checkpoint fix)
        q_rows = q_df.collect()
        q_assigned = spark.createDataFrame(q_rows, q_df.schema)
        probed = sorted({r["centroid_id"] for r in q_rows})
        lists = self.assignments.read(spark).filter(F.col("centroid_id").isin(probed))
        tomb = self._tombstone_ids(spark)
        if tomb is not None:
            lists = lists.join(F.broadcast(tomb), "vec_id", "left_anti")
        sims = lists.join(F.broadcast(q_assigned), "centroid_id").select(
            "query_id",
            "vec_id",
            F.round(
                _dot(F.col("_v"), F.col("_q")) / (F.col("_nv") * F.col("_nq")), 4
            ).alias("sim"),
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.col("vec_id"))
        return (
            sims.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "sim", "rank")
        )
