"""Engine takedowns: tombstoned images vanish from everything the engine
serves immediately, re-hosted copies are swept via the phash lookup, the
tombstones survive resume, and physical compaction changes nothing about
serving while shrinking the stores and clearing the set."""

from pyspark.sql import functions as F

from jobscrawler_spark.engine import CrawlEngine
from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
from jobscrawler_spark.operators import similarity as S
from jobscrawler_spark.plans.tables import SnapshotTable

# hamming 20 like test_incremental_dedup: the fetch model's organic phash
# population has no pairs at 7 (near-uniform hashes); both the operator
# and the reference recompute below apply the identical threshold
H = 20


def _eng(spark, path):
    eng = CrawlEngine(spark, str(path), n_shards=4, default_budget=6, max_depth=1)
    eng.bootstrap(
        gen_seeds(n=120, n_hosts=8, seed=11),
        gen_politeness(8, seed=11),
        gen_robots(8, seed=11),
    )
    return eng


def test_takedown_masks_sweeps_copies_and_survives_resume(spark, tmp_path):
    eng = _eng(spark, tmp_path / "eng")
    eng.run(2)
    imgs = {r["image_id"]: r["phash"] for r in
            eng.images_df().select("image_id", "phash").collect()}
    pairs = sorted(
        map(tuple, S.phash_near_dup_pairs(
            eng.images_df().select("image_id", "phash"), max_hamming=H
        ).collect())
    )
    assert pairs, "fixture no longer produces near-dup pairs — test vacuous"
    victim = pairs[0][0]

    td = eng.takedown_images([victim], find_copies=True, max_hamming=H)
    got = {(r["image_id"], r["via"]) for r in td.collect()}
    # above hamming 7 the banded probe's recall is band-limited (pigeonhole
    # covers <= n_bands-1 only), so the reference recompute applies the
    # identical share-a-band AND hamming<=H condition — the same contract
    # the H=20 tests in test_incremental_dedup pin
    vp = imgs[victim]
    expected_copies = {
        i for i, p in imgs.items()
        if i != victim
        and bin(p ^ vp).count("1") <= H
        and any((p >> (8 * b)) & 255 == (vp >> (8 * b)) & 255 for b in range(8))
    }
    assert (victim, "seed") in got
    assert {i for i, v in got if v == "phash_copy"} == expected_copies
    assert expected_copies, "victim had no copies — expansion untested"

    dead = {i for i, _ in got}
    live = {r["image_id"] for r in eng.images_df().select("image_id").collect()}
    assert not (live & dead)
    assert len(live) == len(imgs) - len(dead)
    # one-shot dedup report complies immediately
    rep = eng.image_dedup_report(max_hamming=H)
    assert not ({r["image_id"] for r in rep.collect()} & dead)

    # incremental report: the dead images' bands are STILL in the band
    # store (no compaction ran) — new images must not match them
    eng.incremental_image_dedup_report(max_hamming=H)  # drain pre-takedown pairs
    eng.run(1)
    p2 = eng.incremental_image_dedup_report(max_hamming=H).collect()
    assert not ({r["id_a"] for r in p2} | {r["id_b"] for r in p2}) & dead

    # takedowns survive resume
    eng2 = CrawlEngine.resume(spark, str(tmp_path / "eng"))
    live2 = {r["image_id"] for r in eng2.images_df().select("image_id").collect()}
    assert not (live2 & dead)

    # compaction: serving identical, stores physically shrink, set cleared
    before = sorted(map(tuple, eng2.fetch_log().select("image_id", "url").collect()))
    n_raw = eng2.images.read(spark).count()
    eng2.compact_takedowns()
    assert sorted(map(tuple, eng2.fetch_log().select("image_id", "url").collect())) == before
    assert eng2.images.read(spark).count() == n_raw - len(dead)
    bands = SnapshotTable(f"{eng2.base}/phash_bands").read(spark)
    assert bands.filter(F.col("image_id").isin(list(dead))).count() == 0
    assert eng2._takedown_ids() is None
    # watermark carried: the next incremental call re-ingests nothing
    assert eng2.incremental_image_dedup_report(max_hamming=H).count() == 0
    eng2.compact_takedowns()  # idempotent no-op
    assert eng2.images.read(spark).count() == n_raw - len(dead)

    # resume AFTER compaction: the compaction recommits checkpoint.json,
    # so rolling back must land on the compacted snapshot — not on an
    # expired pre-compaction id that would destroy the landed table
    # (ADVICE r6, the 93 -> 0 images reproduction)
    eng3 = CrawlEngine.resume(spark, str(tmp_path / "eng"))
    assert eng3.images.read(spark).count() == n_raw - len(dead)
    assert sorted(
        map(tuple, eng3.fetch_log().select("image_id", "url").collect())
    ) == before


def test_takedown_drops_nodes_from_incremental_cluster_labels(spark, tmp_path):
    from collections import Counter

    eng = _eng(spark, tmp_path / "lab")
    eng.run(2)
    labels1 = eng.incremental_image_clusters(max_hamming=H)
    # the victim is a multi-member component's REPRESENTATIVE (its min
    # member id == the component id): surviving (live, victim) star edges
    # would resurrect it as a labeled node without the result-side mask
    # (ADVICE r6)
    sizes = Counter(r["component"] for r in labels1.collect())
    multi = [c for c, n in sizes.items() if n >= 2]
    assert multi, "no multi-member component — representative victim untested"
    some = min(multi)
    eng.takedown_images([some], find_copies=False)
    eng.run(1)
    labels2 = eng.incremental_image_clusters(max_hamming=H)
    nodes = {r["node"] for r in labels2.collect()}
    assert some not in nodes
    # every live image is labeled, nothing else
    assert nodes == {r["image_id"] for r in eng.images_df().collect()}

    # compaction clears the tombstones AND remaps dead component ids to
    # the min live member — the next clustering (nothing left to mask)
    # must not resurrect the victim as a node
    eng.compact_takedowns()
    eng.run(1)
    labels3 = eng.incremental_image_clusters(max_hamming=H)
    nodes3 = {r["node"] for r in labels3.collect()}
    assert some not in nodes3
    assert nodes3 == {r["image_id"] for r in eng.images_df().collect()}
    assert some not in {r["component"] for r in labels3.collect()}


def test_takedown_by_url_and_host(spark, tmp_path):
    """Notices arrive as URLs/hosts, not image ids: a DIRTY variant of a
    landed URL (case, default port, percent-encoding) resolves through
    the canonicalizer to the stored row; a host purge removes exactly
    that host's images; a notice for a never-landed URL is a no-op that
    commits no tombstone snapshot."""
    eng = _eng(spark, tmp_path / "url")
    eng.run(2)
    rows = eng.images_df().select("image_id", "url", "host").collect()
    victim = rows[0]

    # dirty the URL: uppercase scheme+host and an explicit default port
    from urllib.parse import urlsplit

    p = urlsplit(victim["url"])
    dirty = f"HTTP://{p.netloc.upper()}:80{p.path}" + (f"?{p.query}" if p.query else "")
    td = eng.takedown_urls([dirty], find_copies=False)
    assert {r["image_id"] for r in td.collect()} == {victim["image_id"]}
    assert victim["image_id"] not in {
        r["image_id"] for r in eng.images_df().select("image_id").collect()
    }

    # never-landed URL: no-op, no snapshot committed
    n_snaps = len(eng._takedown_store().snapshots())
    td2 = eng.takedown_urls(["http://never.example.net/x"], find_copies=False)
    assert td2.count() == 0
    assert len(eng._takedown_store().snapshots()) == n_snaps

    # host purge: exactly that host's remaining images go
    host = rows[1]["host"]
    host_ids = {r["image_id"] for r in rows if r["host"] == host} - {victim["image_id"]}
    assert host_ids
    td3 = eng.takedown_host(host)
    assert {r["image_id"] for r in td3.collect()} == host_ids
    left = {r["host"] for r in eng.images_df().select("host").collect()}
    assert host not in left


def test_compact_takedowns_resumes_after_a_crash_at_any_step(spark, tmp_path, monkeypatch):
    """A crash before any manifest commit, checkpoint commit or snapshot
    expiry inside ``compact_takedowns`` resumes to the content served
    before it: the crawl's log minus the taken-down ids. (A checkpoint
    that still names an images snapshot the manifest has dropped would
    resume to an empty landed table.)"""
    import shutil

    eng = _eng(spark, tmp_path / "crawl")
    eng.run(1)
    log = sorted(map(tuple, eng.fetch_log().select("image_id", "url").collect()))
    dead = {i for i, _ in log[::7]}
    eng.takedown_images(sorted(dead), find_copies=False)
    want = [(i, u) for i, u in log if i not in dead]
    assert want and len(want) < len(log)

    class Crash(Exception):
        pass

    steps = {"n": 0, "k": 0}

    def failpoint(orig):
        def wrapped(*args, **kwargs):
            steps["n"] += 1
            if steps["n"] == steps["k"]:
                raise Crash
            return orig(*args, **kwargs)

        return wrapped

    for cls, name in (
        (SnapshotTable, "_commit"),
        (SnapshotTable, "expire_before"),
        (CrawlEngine, "_commit_checkpoint"),
    ):
        monkeypatch.setattr(cls, name, failpoint(getattr(cls, name)))

    k, crashed = 0, True
    while crashed:
        k += 1
        base = str(tmp_path / f"k{k}")
        shutil.copytree(tmp_path / "crawl", base)
        copy = CrawlEngine.resume(spark, base)
        steps.update(n=0, k=k)
        try:
            copy.compact_takedowns()
            crashed = False
        except Crash:
            pass
        finally:
            steps["k"] = 0
        got = CrawlEngine.resume(spark, base).fetch_log().select("image_id", "url").collect()
        assert sorted(map(tuple, got)) == want, k
    assert k > 4  # crash points: the overwrite, the checkpoint, the clear, the expiries
