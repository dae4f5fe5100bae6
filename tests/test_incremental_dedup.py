"""Incremental MinHash dedup: batch-at-a-time ingest through a persisted
band store must converge to exactly the one-shot full-corpus pair set."""

import pytest
from pyspark.sql import functions as F

from jobscrawler_spark.operators import dedupe as D
from jobscrawler_spark.plans.tables import SnapshotTable

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def _pairs(df):
    return sorted((r["doc_a"], r["doc_b"]) for r in df.collect())


def test_three_batch_union_equals_one_shot(spark, docs):
    """Split the corpus into three arrival batches; the union of each
    batch's incremental pairs equals the one-shot pair set, with no pair
    reported twice (a pair surfaces exactly when its later member
    arrives)."""
    full = _pairs(D.minhash_lsh_pairs(docs))
    cuts = [(0, 30), (30, 70), (70, 10**9)]
    seen_bands = None
    got = []
    for lo, hi in cuts:
        batch = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        nb = D.minhash_bands(batch)
        ob = seen_bands if seen_bands is not None else nb.limit(0)
        got += _pairs(D.incremental_minhash_pairs(nb, ob))
        seen_bands = ob.unionByName(nb).localCheckpoint()
    assert len(got) == len(set(got)), "a pair was reported by two batches"
    assert sorted(got) == full


def test_snapshot_store_flow(spark, docs, tmp_path):
    """The persisted flow: append each batch's bands to a SnapshotTable,
    join the next batch against the read-back store — same result as the
    pure-DataFrame path."""
    store = SnapshotTable(str(tmp_path / "bands"))
    b1 = docs.filter(F.col("doc_id") < 50)
    b2 = docs.filter(F.col("doc_id") >= 50)
    store.append(D.minhash_bands(b1))
    nb = D.minhash_bands(b2)
    via_store = _pairs(D.incremental_minhash_pairs(nb, store.read(spark)))
    pure = _pairs(D.incremental_minhash_pairs(nb, D.minhash_bands(b1)))
    assert via_store == pure
    store.append(nb)
    assert store.read(spark).count() == D.minhash_bands(docs).count()


def test_incremental_respects_band_cap(spark):
    """A boilerplate text spanning old store and new batch: with the cap
    counted over store + batch, the hot bucket stays silent even though
    each side alone is under the cap."""
    old = spark.createDataFrame(
        [(i, "stock photo image banner free download") for i in range(10)],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        [(100 + i, "stock photo image banner free download") for i in range(10)]
        + [(990, "red barn under october evening sky"),
           (991, "red barn under october evening sky")],
        "doc_id int, text string",
    )
    ob, nb = D.minhash_bands(old), D.minhash_bands(new)
    capped = _pairs(D.incremental_minhash_pairs(nb, ob, band_df_cap=16))
    assert capped == [(990, 991)]
    uncapped = D.incremental_minhash_pairs(nb, ob).count()
    # 10 new x (10 old + 9 other new) pairs + the real pair
    assert uncapped == 10 * 10 + 10 * 9 // 2 + 1


def test_image_three_batch_union_equals_one_shot(spark):
    """Pixel-space mirror: three image arrival batches through
    incremental_phash_pairs reproduce phash_near_dup_pairs exactly,
    pair-disjointly."""
    import __spark_entry__ as E
    from jobscrawler_spark.operators import similarity as S

    imgs = E._phash_fixture_df(spark).localCheckpoint()
    full = sorted(map(tuple, S.phash_near_dup_pairs(imgs).collect()))
    idx = F.regexp_extract("image_id", r"/i/([0-9]+)", 1).cast("int")
    cuts = [(0, 80), (80, 180), (180, 10**9)]
    seen = None
    got = []
    for lo, hi in cuts:
        batch = imgs.filter((idx >= lo) & (idx < hi))
        nb = S.phash_bands(batch)
        ob = seen if seen is not None else nb.limit(0)
        got += [tuple(r) for r in S.incremental_phash_pairs(nb, ob).collect()]
        seen = ob.unionByName(nb).localCheckpoint()
    assert len(got) == len(set(got)), "a pair was reported by two batches"
    assert sorted(got) == full


def test_image_snapshot_store_flow(spark, tmp_path):
    """Persisted image flow: append each batch's phash bands to a
    SnapshotTable; store-read path equals the pure-DataFrame path."""
    import __spark_entry__ as E
    from jobscrawler_spark.operators import similarity as S

    imgs = E._phash_fixture_df(spark)
    base = imgs.filter(~F.col("image_id").endswith("~v"))
    variants = imgs.filter(F.col("image_id").endswith("~v"))
    store = SnapshotTable(str(tmp_path / "phash_bands"))
    store.append(S.phash_bands(base))
    nb = S.phash_bands(variants)
    via_store = sorted(map(tuple, S.incremental_phash_pairs(nb, store.read(spark)).collect()))
    pure = sorted(map(tuple, S.incremental_phash_pairs(nb, S.phash_bands(base)).collect()))
    assert via_store == pure and len(via_store) >= 256


def test_engine_incremental_dedup_report(spark, tmp_path):
    """Engine wiring: report after round 2, crawl one more round, report
    again — the two pair sets are disjoint and their union equals the
    one-shot phash_near_dup_pairs over ALL landed images; a drained call
    returns nothing."""
    from jobscrawler_spark.engine import CrawlEngine
    from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
    from jobscrawler_spark.operators import similarity as S

    eng = CrawlEngine(
        spark, str(tmp_path / "eng"), n_shards=4, default_budget=6, max_depth=1
    )
    eng.bootstrap(
        gen_seeds(n=120, n_hosts=8, seed=11),
        gen_politeness(8, seed=11),
        gen_robots(8, seed=11),
    )
    # hamming 20: the crawl's organic phash population yields ~90
    # band-sharing pairs (near-uniform hashes have no pairs at 7, which
    # would make every assertion below vacuous); both paths apply the
    # identical share-a-band AND hamming<=h condition, so equality is
    # still exact
    eng.run(2)
    p1 = sorted(map(tuple, eng.incremental_image_dedup_report(max_hamming=20).collect()))
    eng.run(1)
    p2 = sorted(map(tuple, eng.incremental_image_dedup_report(max_hamming=20).collect()))
    assert p1 and p2, "fixture no longer produces pairs — test gone vacuous"
    assert not (set(p1) & set(p2))
    one_shot = sorted(
        map(
            tuple,
            S.phash_near_dup_pairs(
                eng.images_df().select("image_id", "phash"), max_hamming=20
            ).collect(),
        )
    )
    assert sorted(p1 + p2) == one_shot
    # p2 must contain CROSS-BATCH pairs (an old image paired with a new
    # one) — the store join, not just new-batch-internal pairs
    old_ids = {r["image_id"] for r in eng.images_df().filter("round < 2").collect()}
    assert any((a in old_ids) != (b in old_ids) for a, b, _ in p2)
    assert eng.incremental_image_dedup_report(max_hamming=20).count() == 0
    # store hygiene: forcing compaction rewrites the band store as one
    # overwrite snapshot without losing any state — a further report
    # still returns nothing and the store still holds every image's bands
    assert eng.incremental_image_dedup_report(max_hamming=20, compact_every=1).count() == 0
    store = SnapshotTable(f"{eng.base}/phash_bands")
    assert store.snapshots()[-1]["mode"] == "overwrite"
    from jobscrawler_spark.operators.similarity import phash_bands

    assert store.read(spark).count() == phash_bands(
        eng.images_df().select("image_id", "phash")
    ).count()
    # ADVICE r5: the compaction trigger counts only LIVE snapshots and
    # expires superseded dirs — after the overwrite the manifest holds
    # exactly one snapshot, the old dirs are gone from disk, and the next
    # call at the default cadence APPENDS (no perpetual O(corpus)
    # rewrite once total commits ever crossed compact_every)
    import os

    assert len(store.snapshots()) == 1
    on_disk = sorted(d for d in os.listdir(store.path) if d.startswith("snap="))
    assert on_disk == [store.snapshots()[0]["dir"]]
    assert eng.incremental_image_dedup_report(max_hamming=20, compact_every=8).count() == 0
    assert store.snapshots()[-1]["mode"] == "append"


def test_engine_incremental_clusters_match_one_shot(spark, tmp_path):
    """The persisted label store, folded forward per call with
    incremental_components, must equal the one-shot cluster labeling over
    ALL landed images at every checkpoint — and a drained call must leave
    the labels unchanged."""
    from jobscrawler_spark.engine import CrawlEngine
    from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
    from jobscrawler_spark.operators.components import label_clusters
    from jobscrawler_spark.operators.similarity import phash_near_dup_pairs

    eng = CrawlEngine(
        spark, str(tmp_path / "eng"), n_shards=4, default_budget=6, max_depth=1
    )
    eng.bootstrap(
        gen_seeds(n=120, n_hosts=8, seed=11),
        gen_politeness(8, seed=11),
        gen_robots(8, seed=11),
    )

    def one_shot():
        imgs = eng.images_df().select("image_id", "phash")
        pairs = phash_near_dup_pairs(imgs, max_hamming=20)
        return {
            (r["image_id"], r["component"])
            for r in label_clusters(imgs, pairs, "image_id", "id_a", "id_b").collect()
        }

    eng.run(2)
    got1 = {(r["node"], r["component"])
            for r in eng.incremental_image_clusters(max_hamming=20).collect()}
    assert got1 == one_shot()
    eng.run(1)
    got2 = {(r["node"], r["component"])
            for r in eng.incremental_image_clusters(max_hamming=20).collect()}
    assert got2 == one_shot()
    assert len(got2) > len(got1)  # new images labeled
    # drained call: no new images/pairs, labels identical
    got3 = {(r["node"], r["component"])
            for r in eng.incremental_image_clusters(max_hamming=20).collect()}
    assert got3 == got2
    # resume: the label store persists beside the other snapshot tables
    eng2 = CrawlEngine.resume(spark, eng.base)
    got4 = {(r["node"], r["component"])
            for r in eng2.incremental_image_clusters(max_hamming=20).collect()}
    assert got4 == got2


def test_phash_lookup_serving_probe(spark, tmp_path):
    """Query-side lookup (r6): variants probe the persisted base store —
    result equals the exact all-pairs scan at hamming<=7 (pigeonhole), a
    stored query id returns its own hamming-0 row (the seen signal),
    top-k ranks close over (hamming, image_id), and the store side is
    NEVER shuffled (broadcast probe plan-pinned)."""
    import __spark_entry__ as E
    from jobscrawler_spark.operators import similarity as S

    imgs = E._phash_fixture_df(spark)
    base = imgs.filter(~F.col("image_id").endswith("~v")).localCheckpoint()
    variants = imgs.filter(F.col("image_id").endswith("~v"))
    store = SnapshotTable(str(tmp_path / "lookup_bands"))
    store.append(S.phash_bands(base))
    sb = store.read(spark)

    got = sorted(map(tuple, S.phash_lookup(variants, sb).collect()))
    exact = sorted(
        (q["image_id"], s["image_id"], bin(q["phash"] ^ s["phash"]).count("1"))
        for q in variants.collect()
        for s in base.collect()
        if bin(q["phash"] ^ s["phash"]).count("1") <= 7
    )
    assert got == exact and len(got) >= 256

    # seen signal: probe with a stored image itself
    me = base.limit(1)
    mine = S.phash_lookup(me, sb).collect()
    my_id = me.collect()[0]["image_id"]
    assert any(r["query_id"] == my_id == r["image_id"] and r["hamming"] == 0 for r in mine)

    # top-k: ranks are 1..k per query, ordered by (hamming, image_id)
    topk = S.phash_lookup(variants, sb, k=3)
    rows = topk.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["rank"], r["hamming"], r["image_id"]))
    for q, rs in per_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        assert [(h, i) for _, h, i in rs] == sorted((h, i) for _, h, i in rs)
        assert len(rs) <= 3

    # plan: the probe side broadcasts; the store scan is map-side (no
    # Exchange between the parquet scan and the join)
    plan = S.phash_lookup(variants, sb)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_minhash_lookup_serving_probe(spark, docs, tmp_path):
    """Text query-side lookup (r6): a query batch probes the persisted
    band store — candidates equal the band-collision set, a stored query
    doc returns its own jacc=1e6 row (the seen signal), verification is
    candidate-bounded and exact, and the probe side broadcasts."""
    base = docs.filter(F.col("doc_id") < 70)
    store = SnapshotTable(str(tmp_path / "mh_bands"))
    store.append(D.minhash_bands(base))
    sb = store.read(spark)
    queries = docs.filter(F.col("doc_id") >= 70)

    cand = sorted(map(tuple, D.minhash_lookup(queries, sb).collect()))
    ref = sorted(
        (r["doc_a"], r["doc_b"]) if r["doc_b"] < 70 else (r["doc_b"], r["doc_a"])
        for r in D.incremental_minhash_pairs(
            D.minhash_bands(queries), D.minhash_bands(base)
        ).collect()
        if (r["doc_a"] >= 70) != (r["doc_b"] >= 70)  # query x store only
    )
    # (query_id, doc_id) vs canonical (new, old) — same set
    assert cand == sorted((q, s) for q, s in ref)

    # verified: one row per candidate, exact jaccard attached
    ver = D.minhash_lookup(queries, sb, verify_with=docs).collect()
    assert sorted((r["query_id"], r["doc_id"]) for r in ver) == cand
    assert all(0 <= r["jacc_e6"] <= 1_000_000 for r in ver)

    # seen signal: a stored doc probing the store hits itself exactly
    me = base.filter(F.col("doc_id") == 0)
    mine = D.minhash_lookup(me, sb, verify_with=docs).collect()
    assert any(
        r["query_id"] == 0 and r["doc_id"] == 0 and r["jacc_e6"] == 1_000_000
        for r in mine
    )

    # plan: probe side broadcasts — the store is never shuffled
    plan = (
        D.minhash_lookup(queries, sb)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
