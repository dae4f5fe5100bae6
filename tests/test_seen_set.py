"""Seen-set invariants: bloom has no false negatives (a seen URL is never
reported unseen), the exact backstop removes bloom false positives, and
each add appends per-shard filter segments without touching earlier ones."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jobscrawler_spark.functions.urls import with_canonical
from jobscrawler_spark.operators import bloom
from jobscrawler_spark.operators.seen_set import PREFILTERS, SeenSet


def _urls(spark, lo, hi, n_shards=8):
    df = spark.createDataFrame(
        [(f"http://h{(i % 5):02d}.example.com/p/{i}",) for i in range(lo, hi)], ["url"]
    )
    return with_canonical(df, n_shards=n_shards)


def test_bloom_primitives_no_false_negatives():
    rng = np.random.default_rng(7)
    hashes = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64).view(np.uint64)
    bits = bloom.build(hashes)
    assert len(bits) * 8 == 1 << 15  # 16 bits per item, rounded up to a power of two
    assert bloom.contains(bits, hashes).all()
    other = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64).view(np.uint64)
    fresh = ~np.isin(other, hashes)
    fp_rate = bloom.contains(bits, other[fresh]).mean()
    assert fp_rate < 0.05


# sha256 and size of each backend's filter over fixed hash sets, as the
# stored format has them: a change to sizing, probe positions or insert
# order changes the bytes of every segment on disk. Sizes are bloom bits
# and cuckoo buckets; the last set forces a cuckoo table doubling.
FILTER_DIGESTS = {
    "bloom": [
        (0, 8192, "5f70bf18a086007016e948b04aed3b82103a36bea41755b6cddfaf10ace3c6ef"),
        (1, 8192, "4302006e4f871166fb89d5c2cdeed39abb6380c33ffbec1a6a23ad956a9673b3"),
        (7, 8192, "fbf7c4f960c3e1586b27eda8d7931deff863b1fa40bda661692dc4dbe65d1e53"),
        (500, 8192, "fae1871b97cf873e7743ec575259d04ae9d33231b44909e29b45e5692b24e970"),
        (3000, 65536, "56b88c1f03c86a96af94c84913078c1d0fac8c0432a46cb10b0118ccb9924b03"),
        (20000, 524288, "b8fc64d29943719cbeb0fb5213986dd9a667c63a74d2c5352d98458ff9436506"),
    ],
    "cuckoo": [
        (0, 16, "38723a2e5e8a17aa7950dc008209944e898f69a7bd10a23c839d341e935fd5ca"),
        (1, 16, "a9aaf24b1f47802d38d2b0116bafa76422f917545737770bf8505d9e9cb2a263"),
        (7, 16, "b9a92b0c487c262bc19a5e7e50a71ae52581df873f7f78f4d497654a4918d1c2"),
        (500, 256, "8ca60481f2cdcdbc3c13b5eeaab8d8da6c82d48077768ab2d9f1b595cec93038"),
        (3000, 2048, "de967b922fbd4b2dd3a5982c0da40bb517ceb1d093766bef5b9151a38bb04c66"),
        (20000, 8192, "ad5c49b690c05786f5ae188fcbeabe30261a69eb2e6fee370b67e426a1d4b704"),
        ("forced", 32, "7faf3f4a1969578069bdc7c0a3f924e40c1b64391f929aec4bbc116b8c992b4c"),
    ],
}


@pytest.mark.parametrize("prefilter", sorted(FILTER_DIGESTS))
def test_filter_bytes_are_pinned(prefilter):
    """Each backend's build() gives the recorded bytes, and contains()
    finds every item in them."""
    import hashlib

    rng = np.random.default_rng(5)
    sets = {
        n: rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64).view(np.uint64)
        for n in (0, 1, 7, 500, 3000, 20000)
    }
    # 9 items on one bucket pair of a 16-bucket table (same low 4 bits and
    # fingerprint) — more than its 8 slots hold
    sets["forced"] = np.array([(0xABCD << 48) | (i << 4) | 3 for i in range(9)], dtype=np.uint64)
    backend = PREFILTERS[prefilter]
    for key, size, digest in FILTER_DIGESTS[prefilter]:
        buf = backend.build(sets[key])
        # bloom: 8 bits a byte; cuckoo: 4 uint16 slots a bucket
        implied = 8 * len(buf) if prefilter == "bloom" else len(buf) // 8
        assert (implied, hashlib.sha256(buf).hexdigest()) == (size, digest), (prefilter, key)
        assert backend.contains(buf, sets[key]).all()


def test_unknown_prefilter_names_the_choices(spark, tmp_path):
    from jobscrawler_spark.engine import CrawlEngine

    with pytest.raises(ValueError, match="'bloom', 'cuckoo'"):
        CrawlEngine(spark, str(tmp_path / "e"), prefilter="x")


def test_add_then_filter_exact(spark, tmp_path):
    s = SeenSet(str(tmp_path / "seen"))
    seen_urls = _urls(spark, 0, 300)
    s.add(spark, seen_urls, round_no=0)
    # candidates: 150 overlapping + 200 fresh
    cand = _urls(spark, 150, 500)
    unseen = s.filter_unseen(spark, cand)
    got = sorted(r["url"] for r in unseen.collect())
    want = sorted(
        f"http://h{(i % 5):02d}.example.com/p/{i}" for i in range(300, 500)
    )
    assert got == want


def test_filter_unseen_probes_pinned_tables(spark, tmp_path):
    """A probe given the tables read before a later add answers for that
    earlier state, whatever the add has committed since."""
    s = SeenSet(str(tmp_path / "seen"))
    s.add(spark, _urls(spark, 0, 100, n_shards=4), round_no=0)
    pinned = (s.seen.read(spark), s.bloom.read(spark))
    s.add(spark, _urls(spark, 100, 200, n_shards=4), round_no=1)
    cand = _urls(spark, 50, 250, n_shards=4)
    got = {r["url"] for r in s.filter_unseen(spark, cand, tables=pinned).collect()}
    assert got == {f"http://h{(i % 5):02d}.example.com/p/{i}" for i in range(100, 250)}
    now = {r["url"] for r in s.filter_unseen(spark, cand).collect()}
    assert now == {f"http://h{(i % 5):02d}.example.com/p/{i}" for i in range(200, 250)}


def test_incremental_adds_and_rebuild(spark, tmp_path):
    s = SeenSet(str(tmp_path / "seen"))
    for rnd, (lo, hi) in enumerate([(0, 200), (200, 500), (500, 2000)]):
        s.add(spark, _urls(spark, lo, hi, n_shards=4), round_no=rnd)
    # every added URL must be filtered out (no false negatives end-to-end)
    unseen = s.filter_unseen(spark, _urls(spark, 0, 2100, n_shards=4))
    got = {r["url"] for r in unseen.collect()}
    assert got == {f"http://h{(i % 5):02d}.example.com/p/{i}" for i in range(2000, 2100)}
    # blooms stayed consistent with the exact set
    blooms = s.bloom.read(spark).collect()
    assert sum(b["n_items"] for b in blooms) == 2000
    assert all(len(b["bits"]) * 8 >= bloom.MIN_BITS for b in blooms)


def test_idle_shards_keep_single_bloom_row(spark, tmp_path):
    """A shard untouched by later rounds keeps exactly ONE segment: an add
    appends one segment per shard its rows touch, and none for the rest."""
    s = SeenSet(str(tmp_path / "seen"))

    def forged(url, h, shard):
        return spark.createDataFrame(
            [(url, h, "x.example.com", shard)],
            "url string, url_hash long, host string, shard int",
        )

    s.add(spark, forged("http://x.example.com/0", 11, 0), round_no=0)
    for rnd in range(1, 4):  # three rounds that only ever touch shard 1
        s.add(spark, forged(f"http://x.example.com/{rnd}", 100 + rnd, 1), round_no=rnd)
    rows = s.bloom.read(spark).groupBy("shard").count().collect()
    assert {r["shard"]: r["count"] for r in rows} == {0: 1, 1: 3}
    # and probing still sees everything
    assert s.filter_unseen(spark, forged("http://x.example.com/0", 11, 0)).count() == 0


def test_hash_collision_cannot_evict(spark, tmp_path):
    """Two different URLs forced onto the same url_hash: adding one must not
    hide the other (exactness via the (url_hash, url) join)."""
    s = SeenSet(str(tmp_path / "seen"))
    a = spark.createDataFrame([("http://a.example.com/x",)], ["url"])
    a = with_canonical(a, n_shards=2)
    s.add(spark, a, round_no=0)
    h = a.collect()[0]["url_hash"]
    shard = a.collect()[0]["shard"]
    forged = spark.createDataFrame(
        [("http://b.example.com/y", h, "b.example.com", shard)],
        "url string, url_hash long, host string, shard int",
    )
    out = s.filter_unseen(spark, forged).collect()
    assert len(out) == 1 and out[0]["url"] == "http://b.example.com/y"


def _range_urls(spark, lo, hi, n_shards=1):
    """Generated (not collected) URL batch — growth tests add thousands."""
    df = spark.range(lo, hi).select(
        F.format_string("http://g%d.example.com/p/%d", F.col("id") % 5, F.col("id")).alias(
            "url"
        )
    )
    return with_canonical(df, n_shards=n_shards)


@pytest.mark.parametrize("prefilter", ["bloom", "cuckoo"])
def test_growth_rebuilds_stay_exact(spark, tmp_path, prefilter):
    """Adversarial growth: ONE shard takes rounds that grow ~3x each, so
    each round's segment is sized for its own rows and the shard's
    segments differ in size by orders of magnitude. After EVERY add the
    probe must stay exact."""
    s = SeenSet(str(tmp_path / f"seen_{prefilter}"), prefilter=prefilter)
    batches = [(0, 10), (10, 40), (40, 140), (140, 540), (540, 1500), (1500, 5000)]
    for rnd, (lo, hi) in enumerate(batches):
        s.add(spark, _range_urls(spark, lo, hi), round_no=rnd)
        probe = _range_urls(spark, max(0, hi - 50), hi + 25)
        got = {r["url"] for r in s.filter_unseen(spark, probe).collect()}
        want = {f"http://g{i % 5}.example.com/p/{i}" for i in range(hi, hi + 25)}
        assert got == want, f"inexact after batch {rnd} ({prefilter})"


def test_add_appends_segments_of_its_round_only(spark, tmp_path):
    """An add appends one segment per shard its rows touch, tagged with its
    round and holding exactly its rows, as a new snapshot; every earlier
    segment's data files stay byte-for-byte as they were."""
    import hashlib
    import os

    import pyarrow.parquet as pq

    s = SeenSet(str(tmp_path / "seen"))
    s.add(spark, _urls(spark, 0, 200, n_shards=4), round_no=0)

    def data_files() -> dict[str, str]:
        out = {}
        for root, _dirs, names in os.walk(s.bloom.path):
            for n in names:
                if n.endswith(".parquet"):
                    with open(os.path.join(root, n), "rb") as f:
                        out[os.path.join(root, n)] = hashlib.sha256(f.read()).hexdigest()
        return out

    before = data_files()
    new = _urls(spark, 200, 260, n_shards=4).filter(F.col("shard").isin(1, 2))
    s.add(spark, new, round_no=1)

    snaps = s.bloom.snapshots()
    assert [sn["mode"] for sn in snaps] == ["append", "append"]
    seg = pq.read_table(os.path.join(s.bloom.path, snaps[-1]["dir"])).to_pandas()
    assert sorted(seg["shard"]) == [1, 2]
    assert set(seg["round_added"]) == {1}
    assert seg["n_items"].sum() == new.count()
    after = data_files()
    assert {p: h for p, h in after.items() if p in before} == before
    assert set(r["round_added"] for r in s.bloom.read(spark).collect()) == {0, 1}


def test_seen_table_partitioned_and_probe_prunes(spark, tmp_path):
    """The exact-probe backstop must scan only bloom-HIT shards: the seen
    table is hive-partitioned by shard and the backstop's scan carries a
    shard partition filter (file-level pruning at 10^10 rows)."""
    import contextlib
    import io
    import os

    s = SeenSet(str(tmp_path / "seen"))
    s.add(spark, _urls(spark, 0, 300), round_no=0)
    snap0 = os.path.join(s.seen.path, "snap=00000")
    assert any(d.startswith("shard=") for d in os.listdir(snap0))

    out = s.filter_unseen(spark, _urls(spark, 150, 500))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l and "shard" in l]
    assert pf, plan  # the backstop scan is shard-pruned
    # and the result is still exact
    assert out.count() == 200
