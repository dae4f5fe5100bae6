"""Cuckoo-filter prefilter: no false negatives, low FP rate, one build
over a union, build determinism, and full engine-vs-oracle equivalence
with prefilter='cuckoo'."""

import numpy as np

from jobscrawler_spark.operators import cuckoo as CK
from jobscrawler_spark.operators.seen_set import SeenSet
from jobscrawler_spark.functions.urls import with_canonical


def _hashes(n, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64).view(np.uint64)


def test_no_false_negatives_and_fp_rate():
    items = _hashes(3000, 7)
    buf = CK.build(items)
    assert CK.contains(buf, items).all()
    other = _hashes(3000, 8)
    fresh = other[~np.isin(other, items)]
    fp = CK.contains(buf, fresh).mean()
    assert fp < 0.01  # 16-bit fingerprints, 2 buckets x 4 slots: ~0.012% expected


def test_incremental_insert_and_delete():
    """A filter is never inserted into after its build: one filter built
    from a ∪ b holds both, and misses a set it was not built from."""
    a, b = _hashes(500, 1), _hashes(500, 2)
    buf = CK.build(np.concatenate([a, b]))
    assert CK.contains(buf, a).all() and CK.contains(buf, b).all()
    assert CK.contains(buf, _hashes(500, 3)).mean() < 0.01


def test_build_is_deterministic_over_set_order():
    items = _hashes(2000, 3)
    shuffled = items.copy()
    np.random.default_rng(0).shuffle(shuffled)
    assert CK.build(items) == CK.build(shuffled)


def test_over_capacity_flags_and_rebuild(spark, tmp_path):
    """A round 9x the previous one gets a segment sized for it (a build
    that fails over capacity doubles), with no false negatives end to end."""
    s = SeenSet(str(tmp_path / "seen"), prefilter="cuckoo")
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
