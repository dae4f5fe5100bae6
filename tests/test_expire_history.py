"""History expiry at every checkpoint: each table keeps only the snapshots
since its last overwrite (frontier compaction, filter fold), its dir holds
exactly the snapshot dirs its manifest lists, and the crawl equals the
oracle's, also across a resume."""

from test_crash_sweep import assert_only_listed_dirs

from jobscrawler_spark.engine import CrawlEngine
from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
from jobscrawler_spark.oracle.simulator import OracleCrawler

ARGS = dict(n_shards=4, max_depth=1, compact_every=2)


def _fixtures():
    return gen_seeds(n=200, n_hosts=8, seed=5), gen_politeness(8, 5), gen_robots(8, 5)


def _oracle_state(rounds: int):
    seeds, pol, rob = _fixtures()
    o = OracleCrawler(pol, rob, default_budget=8, max_depth=1, n_shards=4)
    o.bootstrap(seeds)
    o.run(rounds)
    return [(d["round"], d["url"]) for d in o.landed], o.seen


def _engine_state(spark, eng: CrawlEngine):
    log = [(r["round"], r["url"]) for r in eng.fetch_log().select("round", "url").collect()]
    return log, {r["url"] for r in eng.seen.all_urls(spark).collect()}


def test_expire_history_bounds_disk_and_preserves_results(spark, tmp_path):
    seeds, pol, rob = _fixtures()
    base = str(tmp_path / "crawl")
    eng = CrawlEngine(spark, base, **ARGS)
    eng.bootstrap(seeds, pol, rob)
    eng.run(3)
    assert _engine_state(spark, eng) == _oracle_state(3)

    # bounded history: only the snapshots since the last overwrite (the
    # round-1 compaction) stay, for the rows and for the filter segments,
    # which the seen-set compaction riding the frontier's rewrites
    assert len(eng.frontier.rows.snapshots()) == 1
    assert len(eng.seen.bloom.snapshots()) == 1
    assert_only_listed_dirs(eng)

    # resume still works after expiry + compaction
    eng2 = CrawlEngine.resume(spark, base, max_depth=1, compact_every=2)
    assert eng2.next_round == 3
    assert_only_listed_dirs(eng2)
    eng2.run(1)
    assert _engine_state(spark, eng2) == _oracle_state(4)
    assert_only_listed_dirs(eng2)
