"""Persisted IVF index store: store-served search equals one-shot
ivf_topk, incremental append against the frozen codebook converges to the
full-corpus index, and probes prune to the probed hive partitions."""

import pytest
from pyspark.sql import functions as F

from jobscrawler_spark.operators import similarity as SIM
from jobscrawler_spark.operators.ann_store import IvfIndexStore

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def queries(spark, embs):
    return embs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).cache()


def _res(df):
    return sorted(map(tuple, df.collect()))


def test_store_search_equals_one_shot_ivf(spark, embs, queries, tmp_path):
    store = IvfIndexStore(str(tmp_path / "ivf"))
    store.build(spark, embs, n_centroids=8)
    for nprobe in (1, 2):
        served = _res(store.search(spark, queries, k=5, nprobe=nprobe))
        oneshot = _res(SIM.ivf_topk(embs, queries, k=5, n_centroids=8, nprobe=nprobe))
        assert served == oneshot, nprobe


def test_incremental_append_converges_to_full_index(spark, embs, queries, tmp_path):
    """Build on the first half (which holds the codebook's seed vectors),
    append the second half in two batches: search equals the one-shot
    full-corpus index built with the same frozen codebook."""
    store = IvfIndexStore(str(tmp_path / "ivf_inc"))
    first = embs.filter(F.col("vec_id") < 100)
    store.build(spark, first, n_centroids=8)
    store.append(spark, embs.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200)))
    store.append(spark, embs.filter(F.col("vec_id") >= 200))
    served = _res(store.search(spark, queries, k=5, nprobe=2))
    cents = SIM.ivf_centroids(first, 8)
    oneshot = _res(SIM.ivf_topk(embs, queries, k=5, nprobe=2, centroids=cents))
    assert served == oneshot


def test_search_scan_prunes_to_probed_partitions(spark, embs, queries, tmp_path):
    store = IvfIndexStore(str(tmp_path / "ivf_prune"))
    store.build(spark, embs, n_centroids=8)
    one_q = queries.filter(F.col("query_id") == 0)
    df = store.search(spark, one_q, k=5, nprobe=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    part = plan.split("PartitionFilters", 1)
    assert len(part) == 2 and "centroid_id" in part[1].split("]", 1)[0]
    assert df.count() == 5


def test_assign_is_map_side(spark, embs):
    """The build/append ingest claim (ADVICE r5 / VERDICT r5 #4): for a
    literal-sized codebook, ivf_assign's plan has NO Exchange, no window,
    no join — assignment is a pure map over the codebook literal — and
    its output is row-identical to the broadcast-join + window fallback."""
    cents = SIM.ivf_centroids(embs, 8)
    for nprobe in (1, 2):
        assigned = SIM.ivf_assign(embs, cents, nprobe)
        plan = assigned._jdf.queryExecution().executedPlan().toString()
        for node in ("Exchange", "Window", "Join"):
            assert node not in plan, (nprobe, node, plan)
        fast = _res(assigned.drop("_v", "_nv"))
        orig = SIM._LITERAL_CODEBOOK_MAX_CELLS
        try:
            SIM._LITERAL_CODEBOOK_MAX_CELLS = 0
            slow = _res(SIM.ivf_assign(embs, cents, nprobe).drop("_v", "_nv"))
        finally:
            SIM._LITERAL_CODEBOOK_MAX_CELLS = orig
        assert fast == slow, nprobe


def test_append_order_invariant(spark, embs, queries, tmp_path):
    a = IvfIndexStore(str(tmp_path / "ivf_a"))
    b = IvfIndexStore(str(tmp_path / "ivf_b"))
    lo = embs.filter(F.col("vec_id") < 150)
    hi = embs.filter(F.col("vec_id") >= 150)
    seed = embs.filter(F.col("vec_id") < 50)
    for store, batches in ((a, (lo, hi)), (b, (hi, lo))):
        store.build(spark, seed, n_centroids=8)
        for batch in batches:
            store.append(spark, batch.join(seed.select("vec_id"), "vec_id", "left_anti"))
    ra = _res(a.search(spark, queries, k=5, nprobe=2))
    rb = _res(b.search(spark, queries, k=5, nprobe=2))
    assert ra == rb


def test_delete_masks_immediately_and_compact_is_equivalent(spark, embs, queries, tmp_path):
    """Takedown contract: tombstoned ids vanish from results at once (no
    rebuild), remaining ranks close up, and physical compaction changes
    NOTHING about serving — tombstoned == compacted, tombstones cleared,
    store rows physically shrink."""
    store = IvfIndexStore(str(tmp_path / "ivf_del"))
    store.build(spark, embs, n_centroids=8)
    before = _res(store.search(spark, queries, k=5, nprobe=2))
    victims = {0, 3}
    assert any(r[1] in victims for r in before)  # the delete has something to do

    store.delete(spark, sorted(victims))
    masked = _res(store.search(spark, queries, k=5, nprobe=2))
    assert all(r[1] not in victims for r in masked)
    # every query still returns a full top-5 (ranks closed up)
    from collections import Counter

    per_q = Counter(r[0] for r in masked)
    assert all(v == 5 for v in per_q.values())

    n_before = store.assignments.read(spark).count()
    store.compact(spark)
    compacted = _res(store.search(spark, queries, k=5, nprobe=2))
    assert compacted == masked
    assert store.assignments.read(spark).count() == n_before - len(victims)
    assert store._tombstone_ids(spark) is None  # cleared
    # idempotent no-op compact
    store.compact(spark)
    assert _res(store.search(spark, queries, k=5, nprobe=2)) == masked


def test_compact_clears_tombstones_without_a_job(spark, embs, tmp_path):
    """compact() clears the tombstone set with a manifest-only commit: the
    clear submits no Spark job, and the set then reads as empty."""
    from test_tables import _jobs_during

    store = IvfIndexStore(str(tmp_path / "ivf_clear"))
    store.build(spark, embs, n_centroids=4)
    store.delete(spark, [1, 2])
    tomb_writes = []
    write = store.tombstones._write

    def counted_write(*args):
        sid, jobs = _jobs_during(spark, lambda: write(*args))
        tomb_writes.append(jobs)
        return sid

    store.tombstones._write = counted_write
    store.compact(spark)
    assert tomb_writes == [[]]
    assert store.tombstones.is_empty() and store._tombstone_ids(spark) is None


def test_delete_then_append_keeps_serving_consistent(spark, embs, queries, tmp_path):
    """Interleaving takedowns with ingest: delete, then append a new
    batch — the new rows serve, the dead ones stay dead."""
    half = embs.filter(F.col("vec_id") < 400)
    rest = embs.filter(F.col("vec_id") >= 400)
    store = IvfIndexStore(str(tmp_path / "ivf_mix"))
    store.build(spark, half, n_centroids=8)
    store.delete(spark, [0, 3])
    store.append(spark, rest)
    got = _res(store.search(spark, queries, k=5, nprobe=2))
    assert all(r[1] not in {0, 3} for r in got)
    assert any(r[1] >= 400 for r in got)  # appended rows are candidates
    # equivalence: full store minus victims
    ref = IvfIndexStore(str(tmp_path / "ivf_ref"))
    ref.build(spark, half, n_centroids=8)
    ref.append(spark, rest)
    ref.delete(spark, [0, 3])
    assert got == _res(ref.search(spark, queries, k=5, nprobe=2))


def test_search_after_deleting_every_vector_returns_nothing(spark, embs, queries, tmp_path):
    """Delete every vec_id and compact: the assignment lists hold no rows,
    yet they still read under the schema their build recorded, so a
    store opened afresh serves an empty answer instead of raising."""
    path = str(tmp_path / "ivf_empty")
    store = IvfIndexStore(path)
    small = embs.filter(F.col("vec_id") < 20)
    store.build(spark, small, n_centroids=4)
    store.delete(spark, small.select("vec_id"))
    store.compact(spark)
    reopened = IvfIndexStore(path)
    assert reopened.assignments.is_empty() and reopened.tombstones.is_empty()
    assert reopened.search(spark, queries, k=5).count() == 0
