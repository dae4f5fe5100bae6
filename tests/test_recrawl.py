"""Re-crawl-after-N-rounds policy (r5): seen-set expiry + re-enqueue.

Exercises logical expiry in the engine (expired rounds' exact rows stop
blocking and their prefilter segments are dropped from the probe) and
pins exact equivalence of the policy against the single-threaded oracle
simulator for BOTH prefilter backends.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jobscrawler_spark.engine import CrawlEngine, recrawl_horizon
from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
from jobscrawler_spark.operators.seen_set import SeenSet
from jobscrawler_spark.oracle.simulator import OracleCrawler

N_ROUNDS = 6
RECRAWL = 2


def _no_delay_politeness(n_hosts: int, seed: int) -> pd.DataFrame:
    """Politeness with crawl delays zeroed: delay pushback + re-enqueue
    interact (delayed rows expire mid-delay is a policy question the
    engine answers 'delays still apply'); the DELAYED variant is covered
    separately below."""
    pol = gen_politeness(n_hosts, seed=seed)
    pol["crawl_delay_rounds"] = 0
    return pol


def test_recrawl_horizon_is_a_function_of_the_round():
    """Rows fetched in round f stop blocking from round f + recrawl_after
    + 1 on: the oldest still-blocking round is r - recrawl_after."""
    assert [recrawl_horizon(r, None) for r in range(4)] == [None] * 4
    assert [recrawl_horizon(r, 2) for r in range(6)] == [None, None, None, 1, 2, 3]


def _run_engine(spark, tmp_path, prefilter: str, pol, compact_every: int = 8) -> tuple[list, list]:
    eng = CrawlEngine(
        spark,
        str(tmp_path / prefilter),
        n_shards=4,
        default_budget=4,
        max_depth=1,
        fetch_partitions=4,
        prefilter=prefilter,
        recrawl_after=RECRAWL,
        compact_every=compact_every,
    )
    eng.bootstrap(gen_seeds(n=60, n_hosts=6, seed=13), pol, gen_robots(6, seed=13))
    eng.run(N_ROUNDS)
    log = [
        (r["round"], r["url"])
        for r in eng.fetch_log().select("round", "url").collect()
    ]
    # the last round expired the rows of rounds <= this cutoff
    cutoff = eng.next_round - 1 - eng.recrawl_after - 1
    effective = sorted(
        r["url"]
        for r in eng.seen.all_urls(spark)
        .filter(F.col("round_added") > cutoff)
        .select("url")
        .collect()
    )
    return log, effective


def _run_oracle(pol) -> tuple[list, list]:
    orc = OracleCrawler(
        pol, gen_robots(6, seed=13), default_budget=4, max_depth=1,
        n_shards=4, recrawl_after=RECRAWL,
    )
    orc.bootstrap(gen_seeds(n=60, n_hosts=6, seed=13))
    orc.run(N_ROUNDS)
    olog = [(d["round"], d["url"]) for d in orc.landed]
    return olog, sorted(orc.seen)


@pytest.mark.parametrize("prefilter", ["cuckoo", "bloom"])
def test_recrawl_matches_oracle(spark, tmp_path, prefilter):
    """Engine fetch log + effective seen set == simulator, with URLs
    actually re-fetched (the policy fires, it is not vacuous). Both
    backends must produce identical crawl results."""
    pol = _no_delay_politeness(6, 13)
    log, seen = _run_engine(spark, tmp_path, prefilter, pol)
    olog, oseen = _run_oracle(pol)
    assert log == olog
    assert seen == oseen
    by_url: dict[str, int] = {}
    for _r, u in log:
        by_url[u] = by_url.get(u, 0) + 1
    refetched = [u for u, n in by_url.items() if n > 1]
    assert refetched, "re-crawl policy never fired"
    # a URL fetched in rounds f and f' obeys f' >= f + RECRAWL + 1
    rounds_by_url: dict[str, list[int]] = {}
    for r, u in log:
        rounds_by_url.setdefault(u, []).append(r)
    for u, rs in rounds_by_url.items():
        for a, b in zip(rs, rs[1:]):
            assert b >= a + RECRAWL + 1, (u, rs)


@pytest.mark.parametrize("compact_every", [8, 2])
def test_recrawl_with_delays_matches_oracle(spark, tmp_path, compact_every):
    """Same equivalence with crawl delays active: a re-enqueued row is
    subject to its host's round-r pushback (it was 'present before the
    round'), exactly like the simulator's end-of-round pushback loop.
    With ``compact_every=2`` rounds 3 and 5 both re-enqueue and compact,
    so the compaction fold applies the round's tombstones and delay
    events to the re-enqueued rows."""
    pol = gen_politeness(6, seed=13)  # has genuine delays
    log, seen = _run_engine(spark, tmp_path, "cuckoo", pol, compact_every)
    olog, oseen = _run_oracle(pol)
    assert log == olog
    assert seen == oseen


def test_seen_set_expire_deletes_cuckoo_fingerprints(spark, tmp_path):
    """Unit: expire() returns the expired round's rows, and a probe past
    it drops that round's cuckoo segments, so those URLs clear the
    prefilter without the exact backstop."""
    from jobscrawler_spark.functions.urls import with_canonical

    ss = SeenSet(str(tmp_path / "seen"), prefilter="cuckoo")
    urls = [f"http://h{i % 3:02d}.example.com/p/{i}" for i in range(40)]
    df = with_canonical(
        spark.createDataFrame([(u,) for u in urls], "url string"), n_shards=4
    )
    ss.add(spark, df.select("url", "url_hash", "shard"), round_no=0)
    df1 = with_canonical(
        spark.createDataFrame(
            [(f"http://h{i % 3:02d}.example.com/q/{i}",) for i in range(10)],
            "url string",
        ),
        n_shards=4,
    )
    ss.add(spark, df1.select("url", "url_hash", "shard"), round_no=1)

    expired = ss.expire(spark, round_added=0)
    assert expired is not None
    exp_rows = expired.collect()
    expired.unpersist()
    assert sorted(r["url"] for r in exp_rows) == sorted(
        r["url"] for r in df.select("url").distinct().collect()
    )

    # probe: expired URLs pass as unseen again; round-1 URLs still blocked
    cand = df.select("url", "url_hash", "shard").unionByName(
        df1.select("url", "url_hash", "shard")
    )
    out = ss.filter_unseen(spark, cand, min_round_added=1)
    got = sorted(r["url"] for r in out.collect())
    assert got == sorted(r["url"] for r in df.select("url").collect())
    # the prefilter already clears expired URLs; round-1 URLs are maybe-seen
    maybe = {r["url"]: r["__maybe"] for r in ss._last_probed.collect()}
    assert not any(maybe[r["url"]] for r in exp_rows)
    assert all(maybe[r["url"]] for r in df1.select("url").collect())

    # compact with min_round_added physically drops the expired rows
    ss.compact(spark, min_round_added=1)
    assert ss.seen.read(spark).filter(F.col("round_added") < 1).count() == 0


def test_recrawl_resume_mid_policy_matches_oracle(spark, tmp_path):
    """The policy is derived purely from the round number ('resume needs
    no extra state'): stopping after 3 rounds and resuming for 3 more —
    with expiries firing on both sides of the restart — must reproduce
    the oracle's uninterrupted 6-round log, including re-fetches in the
    resumed half."""
    pol = _no_delay_politeness(6, 13)
    base = str(tmp_path / "resume")
    kwargs = dict(
        n_shards=4, default_budget=4, max_depth=1, fetch_partitions=4,
        prefilter="cuckoo", recrawl_after=RECRAWL,
    )
    eng = CrawlEngine(spark, base, **kwargs)
    eng.bootstrap(gen_seeds(n=60, n_hosts=6, seed=13), pol, gen_robots(6, seed=13))
    eng.run(3)
    eng2 = CrawlEngine.resume(spark, base, **kwargs)
    assert eng2.next_round == 3
    eng2.run(3)
    log = [
        (r["round"], r["url"])
        for r in eng2.fetch_log().select("round", "url").collect()
    ]
    olog, _ = _run_oracle(pol)
    assert log == olog
    late_refetch = {
        u for r, u in log if r >= 3
    } & {u for r, u in log if r < 3}
    assert late_refetch, "no re-fetch landed after the resume"
