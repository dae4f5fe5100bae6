"""Bounded-history mode: snapshots unreachable after the latest overwrite
(frontier compaction, bloom fold) are expired, results unchanged, resume
still works."""

import os

from jobscrawler_spark.engine import CrawlEngine
from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds


def test_expire_history_bounds_disk_and_preserves_results(spark, tmp_path):
    seeds = gen_seeds(n=200, n_hosts=8, seed=5)
    pol, rob = gen_politeness(8, 5), gen_robots(8, 5)

    a = CrawlEngine(spark, str(tmp_path / "a"), n_shards=4, max_depth=1)
    a.bootstrap(seeds, pol, rob)
    a.run(3)

    b = CrawlEngine(
        spark, str(tmp_path / "b"), n_shards=4, max_depth=1,
        expire_history=True, compact_every=2,
    )
    b.bootstrap(seeds, pol, rob)
    b.run(3)

    # identical results
    sa = {r["url"] for r in a.seen.all_urls(spark).collect()}
    sb = {r["url"] for r in b.seen.all_urls(spark).collect()}
    assert sa == sb

    # bounded history: expiry keeps only snapshots since the last overwrite
    # (the round-1 compaction); without it, bootstrap + one append per
    # round WITH discovered links stay live (r4: link-less rounds skip the
    # empty insert entirely — with max_depth=1 only round 0 discovers)
    assert len(b.frontier.rows.snapshots()) == 1
    assert len(a.frontier.rows.snapshots()) >= 2
    # the filter segments are appended per round and rewritten by the
    # seen-set compaction (which rides the frontier's): bounded too
    assert len(b.seen.bloom.snapshots()) == 1
    assert len(a.seen.bloom.snapshots()) >= 2  # one per non-empty round
    a_dirs = len(os.listdir(a.frontier.rows.path))
    b_dirs = len(os.listdir(b.frontier.rows.path))
    assert b_dirs < a_dirs

    # resume still works after expiry + compaction
    b2 = CrawlEngine.resume(spark, str(tmp_path / "b"), n_shards=4, max_depth=1,
                            expire_history=True, compact_every=2)
    assert b2.next_round == 3
    b2.run(1)
    a.run(1)
    sa2 = {r["url"] for r in a.seen.all_urls(spark).collect()}
    sb2 = {r["url"] for r in b2.seen.all_urls(spark).collect()}
    assert sa2 == sb2
