"""Cuckoo-filter prefilter: no false negatives, low FP rate, incremental
insert, build determinism, and full engine-vs-oracle equivalence with
prefilter='cuckoo'."""

import numpy as np

from jobscrawler_spark.operators import cuckoo as CK
from jobscrawler_spark.operators.seen_set import SeenSet
from jobscrawler_spark.functions.urls import with_canonical


def _hashes(n, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64).view(np.uint64)


def test_no_false_negatives_and_fp_rate():
    items = _hashes(3000, 7)
    size = CK.size_for(len(items))
    buf = CK.build(items, size)
    assert buf is not None
    table = CK.load(buf, size)
    assert CK.contains(table, items).all()
    other = _hashes(3000, 8)
    fresh = other[~np.isin(other, items)]
    fp = CK.contains(table, fresh).mean()
    assert fp < 0.01  # 16-bit fingerprints, 2 buckets x 4 slots: ~0.012% expected


def test_incremental_insert_and_delete():
    a, b = _hashes(500, 1), _hashes(500, 2)
    size = CK.size_for(1200)
    table = CK.load(CK.build(a, size), size)
    assert CK.insert(table, np.sort(b))
    assert CK.contains(table, a).all() and CK.contains(table, b).all()


def test_build_is_deterministic_over_set_order():
    items = _hashes(2000, 3)
    size = CK.size_for(len(items))
    shuffled = items.copy()
    np.random.default_rng(0).shuffle(shuffled)
    assert CK.build(items, size) == CK.build(shuffled, size)


def test_over_capacity_flags_and_rebuild(spark, tmp_path):
    """A round 9x the previous one gets a segment sized for it (a build
    that fails over capacity doubles), with no false negatives end to end."""
    s = SeenSet(str(tmp_path / "seen"), n_shards=2, prefilter="cuckoo")
    for rnd, (lo, hi) in enumerate([(0, 200), (200, 2000)]):
        df = spark.createDataFrame(
            [(f"http://h{i % 3:02d}.example.com/p/{i}",) for i in range(lo, hi)], ["url"]
        )
        s.add(spark, with_canonical(df, n_shards=2), round_no=rnd)
    cand = spark.createDataFrame(
        [(f"http://h{i % 3:02d}.example.com/p/{i}",) for i in range(0, 2100)], ["url"]
    )
    unseen = s.filter_unseen(spark, with_canonical(cand, n_shards=2))
    got = {r["url"] for r in unseen.collect()}
    assert got == {f"http://h{i % 3:02d}.example.com/p/{i}" for i in range(2000, 2100)}


def test_engine_with_cuckoo_matches_oracle(spark, tmp_path):
    from jobscrawler_spark.engine import CrawlEngine
    from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
    from jobscrawler_spark.oracle.simulator import OracleCrawler

    seeds, pol, rob = gen_seeds(n=300, n_hosts=8, seed=13), gen_politeness(8, 13), gen_robots(8, 13)
    eng = CrawlEngine(spark, str(tmp_path / "ck"), n_shards=4, default_budget=6,
                      max_depth=2, prefilter="cuckoo")
    eng.bootstrap(seeds, pol, rob)
    eng.run(3)
    ora = OracleCrawler(pol, rob, default_budget=6, max_depth=2, n_shards=4)
    ora.bootstrap(seeds)
    ora.run(3)
    assert {r["url"] for r in eng.seen.all_urls(spark).collect()} == ora.seen
    got = [(r["round"], r["url"]) for r in eng.fetch_log().select("round", "url").collect()]
    assert got == [(d["round"], d["url"]) for d in ora.landed]
