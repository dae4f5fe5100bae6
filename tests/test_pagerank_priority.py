"""priority_mode="pagerank" (r6): the engine's pagerank-prioritized crawl
must match the oracle simulator's fetch ordering and seen set EXACTLY
(the north-rule contract, now with rank-dependent priorities — feasible
because the PageRank contract is integer-pure), survive resume (the
checkpoint remembers the mode and the host-edge table), and actually
change the schedule relative to hash mode."""

import pytest

from jobscrawler_spark.engine import CrawlEngine
from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
from jobscrawler_spark.oracle.simulator import OracleCrawler

N_HOSTS = 12


@pytest.fixture(scope="module")
def fixtures():
    return (
        gen_seeds(n=300, n_hosts=N_HOSTS, seed=11),
        gen_politeness(n_hosts=N_HOSTS, seed=11),
        gen_robots(n_hosts=N_HOSTS, seed=11),
    )


@pytest.fixture(scope="module")
def engine(spark, fixtures, tmp_path_factory):
    seeds, pol, rob = fixtures
    base = str(tmp_path_factory.mktemp("pr_engine"))
    eng = CrawlEngine(
        spark, base, n_shards=8, default_budget=6, max_depth=2,
        priority_mode="pagerank",
    )
    eng.bootstrap(seeds, pol, rob)
    eng.run(3)
    return eng


@pytest.fixture(scope="module")
def oracle(fixtures):
    seeds, pol, rob = fixtures
    o = OracleCrawler(
        pol, rob, default_budget=6, max_depth=2, n_shards=8,
        priority_mode="pagerank",
    )
    o.bootstrap(seeds)
    o.run(3)
    return o


def test_empty_host_graph_is_known_without_a_job(spark, tmp_path):
    """A round's rank lookup finds out from the manifest that the host
    graph holds no rows (an empty edge append leaves a 0-row file): no
    Spark job, no ranks."""
    from test_tables import _jobs_during

    from jobscrawler_spark.schemas import HOST_EDGES

    eng = CrawlEngine(spark, str(tmp_path / "pr_empty"), n_shards=4, priority_mode="pagerank")
    eng.host_edges.append(spark.createDataFrame([], HOST_EDGES), {"round": 0})
    ranks, jobs = _jobs_during(spark, eng._host_ranks)
    assert ranks is None and jobs == []


def test_pagerank_fetch_order_exact(spark, engine, oracle):
    eng_order = [
        (r["round"], r["url"])
        for r in engine.fetch_log().select("round", "url").collect()
    ]
    assert eng_order == [(d["round"], d["url"]) for d in oracle.landed]


def test_pagerank_seen_set_exact(spark, engine, oracle):
    assert {r["url"] for r in engine.seen.all_urls(spark).collect()} == oracle.seen


def test_pagerank_mode_changes_the_schedule(spark, engine, fixtures):
    """Load-bearing check: the pagerank schedule must differ from hash
    mode once link priorities exist (round >= 1)."""
    seeds, pol, rob = fixtures
    o = OracleCrawler(pol, rob, default_budget=6, max_depth=2, n_shards=8)
    o.bootstrap(seeds)
    o.run(3)
    hash_order = [(d["round"], d["url"]) for d in o.landed]
    pr_order = [
        (r["round"], r["url"])
        for r in engine.fetch_log().select("round", "url").collect()
    ]
    assert pr_order != hash_order


def test_pagerank_resume_keeps_mode_and_graph(spark, engine, oracle):
    """Resume WITHOUT repeating priority_mode: the checkpoint carries the
    mode and the host-edge snapshot; one more round still matches."""
    eng2 = CrawlEngine.resume(
        spark, engine.base, n_shards=8, default_budget=6, max_depth=2
    )
    assert eng2.priority_mode == "pagerank"
    eng2.run(1)
    oracle.run(1)
    eng_order = [
        (r["round"], r["url"])
        for r in eng2.fetch_log().select("round", "url").collect()
    ]
    assert eng_order == [(d["round"], d["url"]) for d in oracle.landed]
    assert {r["url"] for r in eng2.seen.all_urls(spark).collect()} == oracle.seen
