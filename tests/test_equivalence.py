"""Crawl-equivalence: the Spark engine must reproduce the oracle
simulator's fetch ordering and final URL-seen set EXACTLY (north_rule),
plus the extract-stage per-row invariants and checkpoint/resume identity."""

import shutil

import pytest
from pyspark.sql import functions as F

from jobscrawler_spark.engine import CrawlEngine
from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
from jobscrawler_spark.operators.extract import extract_incremental, verify_images
from jobscrawler_spark.oracle.simulator import OracleCrawler

N_HOSTS = 16
ROUNDS = 3


@pytest.fixture(scope="module")
def fixtures():
    return (
        gen_seeds(n=600, n_hosts=N_HOSTS, seed=42),
        gen_politeness(n_hosts=N_HOSTS, seed=42),
        gen_robots(n_hosts=N_HOSTS, seed=42),
    )


@pytest.fixture(scope="module")
def engine(spark, fixtures, tmp_path_factory):
    seeds, pol, rob = fixtures
    base = str(tmp_path_factory.mktemp("engine"))
    eng = CrawlEngine(spark, base, n_shards=8, default_budget=8, max_depth=2)
    eng.bootstrap(seeds, pol, rob)
    eng.run(ROUNDS)
    return eng


@pytest.fixture(scope="module")
def oracle(fixtures):
    seeds, pol, rob = fixtures
    o = OracleCrawler(pol, rob, default_budget=8, max_depth=2, n_shards=8)
    o.bootstrap(seeds)
    o.run(ROUNDS)
    return o


def test_seen_set_exact(spark, engine, oracle):
    eng_seen = {r["url"] for r in engine.seen.all_urls(spark).collect()}
    assert eng_seen == oracle.seen


def test_fetch_order_exact(spark, engine, oracle):
    eng_order = [
        (r["round"], r["url"]) for r in engine.fetch_log().select("round", "url").collect()
    ]
    ora_order = [(d["round"], d["url"]) for d in oracle.landed]
    assert eng_order == ora_order


def test_landed_payload_parity(spark, engine, oracle):
    """caption/phash/dims of every landed row match the oracle's."""
    eng_rows = {
        r["url"]: (r["w"], r["h"], r["fmt"], r["caption"], r["phash"], r["user_agent_idx"])
        for r in engine.images_df().collect()
    }
    for d in oracle.landed:
        assert eng_rows[d["url"]] == (
            d["w"], d["h"], d["fmt"], d["caption"], d["phash"], d["user_agent_idx"],
        )


def test_politeness_never_exceeded(spark, engine, fixtures):
    _, pol, _ = fixtures
    budgets = dict(zip(pol["host"], pol["max_fetches_per_round"]))
    per_round_host = (
        engine.images_df().groupBy("round", "host").agg(F.count("*").alias("n")).collect()
    )
    for r in per_round_host:
        assert r["n"] <= budgets.get(r["host"], 8), (r["host"], r["round"], r["n"])


def test_zero_budget_host_never_fetched(spark, engine):
    assert engine.images_df().filter(F.col("host") == "h01.example.com").count() == 0


def test_robots_disallowed_never_fetched(spark, engine, fixtures):
    _, _, rob = fixtures
    fetched = [r["url"] for r in engine.seen.all_urls(spark).collect()]
    for _, rule in rob[~rob["allow"]].iterrows():
        for u in fetched:
            if rule["host"] in u:
                path = u.split(rule["host"], 1)[1]
                if path.startswith(rule["path_prefix"]):
                    # must be rescued by a longer allow rule
                    allows = rob[
                        (rob["host"] == rule["host"])
                        & rob["allow"]
                        & (rob["path_prefix"].str.len() > len(rule["path_prefix"]))
                    ]
                    assert any(path.startswith(p) for p in allows["path_prefix"]), u


def test_extract_invariants(spark, engine):
    verified = verify_images(engine.images_df())
    agg = verified.agg(
        F.count("*").alias("n"),
        F.sum(F.col("decode_ok").cast("int")).alias("dec"),
        F.sum(F.col("psnr_ok").cast("int")).alias("psnr"),
        F.sum(F.col("caption_ok").cast("int")).alias("cap"),
        F.sum(F.col("phash_match").cast("int")).alias("ph"),
    ).collect()[0]
    assert agg["n"] > 100
    assert agg["dec"] == agg["n"]
    assert agg["psnr"] == agg["n"]
    assert agg["cap"] == agg["n"]
    assert agg["ph"] == agg["n"]


def test_extract_incremental_watermark(spark, engine):
    v0, wm = extract_incremental(engine.images_df(), None)
    assert wm == ROUNDS - 1
    v1, wm1 = extract_incremental(engine.images_df(), wm)
    assert v1.count() == 0 and wm1 == wm
    v2, _ = extract_incremental(engine.images_df(), ROUNDS - 2)
    assert v2.count() == engine.images_df().filter(F.col("round") == ROUNDS - 1).count()


def test_resume_equals_uninterrupted(spark, fixtures, tmp_path_factory):
    """Run 4 rounds straight vs 2 + resume + 2: identical seen set, images
    and frontier (property 6 in SURVEY §5.2)."""
    seeds, pol, rob = fixtures
    base_a = str(tmp_path_factory.mktemp("runA"))
    base_b = str(tmp_path_factory.mktemp("runB"))

    a = CrawlEngine(spark, base_a, n_shards=8, default_budget=8, max_depth=2)
    a.bootstrap(seeds, pol, rob)
    a.run(4)

    b = CrawlEngine(spark, base_b, n_shards=8, default_budget=8, max_depth=2)
    b.bootstrap(seeds, pol, rob)
    b.run(2)
    # simulate a crash AFTER checkpoint: dirty extra writes that resume must roll back
    b.images.append(b.images.read(spark).limit(3), meta={"dirty": True})
    b2 = CrawlEngine.resume(spark, base_b, n_shards=8, default_budget=8, max_depth=2)
    assert b2.next_round == 2
    b2.run(2)

    sa = {r["url"] for r in a.seen.all_urls(spark).collect()}
    sb = {r["url"] for r in b2.seen.all_urls(spark).collect()}
    assert sa == sb
    ia = sorted((r["round"], r["url"]) for r in a.images_df().collect())
    ib = sorted((r["round"], r["url"]) for r in b2.images_df().collect())
    assert ia == ib
    fa = sorted(r["url"] for r in a.frontier.read(spark).collect())
    fb = sorted(r["url"] for r in b2.frontier.read(spark).collect())
    assert fa == fb
    shutil.rmtree(base_a, ignore_errors=True)
    shutil.rmtree(base_b, ignore_errors=True)


def test_resume_keeps_the_crawls_shards_and_prefilter(spark, fixtures, tmp_path_factory):
    """The seen set is stored by shard and in the prefilter backend's
    format: resume takes both from the checkpoint when the caller omits
    them (a 4-shard set probed as 16 shards reports seen URLs as unseen),
    and refuses a different value."""
    seeds, pol, rob = fixtures
    base = str(tmp_path_factory.mktemp("settings"))
    eng = CrawlEngine(
        spark, base, n_shards=4, prefilter="cuckoo", default_budget=8, max_depth=2
    )
    eng.bootstrap(seeds, pol, rob)
    eng.run(1)
    for key, bad in (("n_shards", 16), ("prefilter", "bloom")):
        with pytest.raises(ValueError, match=key):
            CrawlEngine.resume(spark, base, **{key: bad})
    eng2 = CrawlEngine.resume(spark, base, default_budget=8, max_depth=2)
    assert (eng2.n_shards, eng2.prefilter) == (4, "cuckoo")
    eng2.run(1)
    o = OracleCrawler(pol, rob, default_budget=8, max_depth=2, n_shards=4)
    o.bootstrap(seeds)
    o.run(2)
    got = [(r["round"], r["url"]) for r in eng2.fetch_log().select("round", "url").collect()]
    assert got == [(d["round"], d["url"]) for d in o.landed]
    assert {r["url"] for r in eng2.seen.all_urls(spark).collect()} == o.seen
    shutil.rmtree(base, ignore_errors=True)
