"""A crawl round's Spark job budget, its driver-written metrics, expiry
of a round that fetched nothing, and its parallel phases' table writes.

The job guard runs a tiny cuckoo re-crawl crawl (``recrawl_after=1``,
``compact_every=2``) — every per-round path runs: seen-set expiry and
re-enqueue, the probe, the seen-set and filter-segment appends, and the
compaction folds — and counts the Spark jobs each round submits from the
status tracker. The crawl must still equal the oracle's.
"""

import collections
import os
import threading

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jobscrawler_spark.engine import CrawlEngine
from jobscrawler_spark.generators import gen_hosts, gen_robots, gen_seeds
from jobscrawler_spark.oracle.simulator import OracleCrawler
from jobscrawler_spark.plans.tables import SnapshotTable
from jobscrawler_spark.schemas import ROUND_METRICS

# measured on this crawl: 17-19 jobs per round (18-20 while the
# politeness selection ran a salted window, and its shuffle, before the
# per-host one; 20-22 while re-enqueued rows had an append of their own,
# whose shuffle and write cost 2 jobs; 24 while expiry deleted cuckoo
# fingerprints: a shuffle and a filter write); before the job cuts it was
# 43-80 per round
MAX_JOBS_PER_ROUND = 19
ROUNDS = 4
ARGS = dict(
    n_shards=4,
    default_budget=3,
    max_depth=1,
    fetch_partitions=4,
    prefilter="cuckoo",
    recrawl_after=1,
    compact_every=2,
)


def _politeness(n_hosts: int, budget: int, delay: int) -> pd.DataFrame:
    return pd.DataFrame(
        {"host": gen_hosts(n_hosts), "max_fetches_per_round": budget, "crawl_delay_rounds": delay}
    )


def _oracle(seeds, pol, rob, rounds: int, **kw) -> OracleCrawler:
    o = OracleCrawler(pol, rob, **kw)
    o.bootstrap(seeds)
    o.run(rounds)
    return o


def _live_seen(eng: CrawlEngine, spark) -> list[str]:
    """The seen set minus the rows re-crawl expiry already forgot."""
    # the last round expired the rows of rounds <= this cutoff
    cutoff = eng.next_round - 1 - eng.recrawl_after - 1
    return sorted(
        r["url"]
        for r in eng.seen.all_urls(spark).filter(F.col("round_added") > cutoff).collect()
    )


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    seeds, pol, rob = gen_seeds(n=120, n_hosts=8, seed=11), _politeness(8, 3, 0), gen_robots(8, 11)
    eng = CrawlEngine(spark, str(tmp_path_factory.mktemp("jobs")), **ARGS)
    eng.bootstrap(seeds, pol, rob)
    sc = spark.sparkContext
    # the engine sets no job group: every job it submits, from any thread,
    # is listed under the null group
    sc.setLocalProperty("spark.jobGroup.id", None)
    stats, jobs = [], []
    for _ in range(ROUNDS):
        before = set(sc.statusTracker().getJobIdsForGroup(None))
        stats.append(eng.run_round())
        jobs.append(len(set(sc.statusTracker().getJobIdsForGroup(None)) - before))
    ora = _oracle(
        seeds, pol, rob, ROUNDS, default_budget=3, max_depth=1, n_shards=4, recrawl_after=1
    )
    return eng, stats, jobs, ora


def test_round_job_budget_and_oracle(spark, crawl):
    eng, stats, jobs, ora = crawl
    assert all(s["selected"] > 0 for s in stats)
    assert max(jobs) <= MAX_JOBS_PER_ROUND, jobs
    log = [(r["round"], r["priority"], r["url"]) for r in eng.fetch_log().collect()]
    assert log == [(d["round"], d["priority"], d["url"]) for d in ora.landed]
    assert _live_seen(eng, spark) == sorted(ora.seen)


def test_metrics_snapshot_matches_round_stats(spark, crawl):
    """The driver-written metrics table keeps ROUND_METRICS and the values
    the per-partition groupBy used to produce: Σ urls_fetched = selected,
    Σ rows_landed = ok, and rows_landed per (round, partition_id) equals
    the landed images of that fetch partition."""
    eng, stats, _, _ = crawl
    m = eng.metrics.read(spark)
    assert [(f.name, f.dataType) for f in m.schema.fields] == [
        (f.name, f.dataType) for f in ROUND_METRICS.fields
    ]
    rows = m.collect()
    for s in stats:
        mine = [r for r in rows if r["round"] == s["round"]]
        assert sum(r["urls_fetched"] for r in mine) == s["selected"]
        assert sum(r["rows_landed"] for r in mine) == s["ok"]
        assert sum(r["urls_ok"] for r in mine) == s["ok"]
        assert sum(r["new_urls"] for r in mine) == s["new_urls"]
        assert {r["urls_selected"] for r in mine} == {s["selected"]}
        assert all(r["input_snapshot"].startswith("frontier@rows@") for r in mine)
    landed = {
        (r["round"], r["partition_id"]): r["count"]
        for r in eng.images.read(spark).groupBy("round", "partition_id").count().collect()
    }
    assert landed == {
        (r["round"], r["partition_id"]): r["rows_landed"] for r in rows if r["rows_landed"]
    }


def test_expire_of_a_round_that_fetched_nothing(spark, tmp_path):
    """Every host has a crawl delay and no page links anywhere, so round 1
    is all-delayed and fetches nothing. Expiring it (round 3) is known
    empty from the manifest; the crawl still equals the oracle's."""
    seeds, pol, rob = gen_seeds(n=40, n_hosts=4, seed=5), _politeness(4, 4, 1), gen_robots(4, 5)
    args = dict(n_shards=4, default_budget=4, max_depth=0, fetch_partitions=4, prefilter="cuckoo")
    eng = CrawlEngine(spark, str(tmp_path / "delayed"), recrawl_after=1, **args)
    eng.bootstrap(seeds, pol, rob)
    stats = eng.run(5)
    assert stats[1]["selected"] == 0 and stats[2]["selected"] > 0
    assert eng.seen.expire(spark, 1) is None
    ora = _oracle(seeds, pol, rob, 5, default_budget=4, max_depth=0, n_shards=4, recrawl_after=1)
    log = [(r["round"], r["url"]) for r in eng.fetch_log().select("round", "url").collect()]
    assert log == [(d["round"], d["url"]) for d in ora.landed]
    assert _live_seen(eng, spark) == sorted(ora.seen)


def test_politeness_update_runs_no_job_and_steers_the_next_round(spark, tmp_path, monkeypatch):
    """``update_politeness`` writes the dim with pyarrow, so it submits no
    Spark job, and the next round selects under the new budgets as the
    oracle does: a host whose budget drops to 0 keeps all its pending rows."""
    seeds, pol, rob = gen_seeds(n=60, n_hosts=6, seed=3), _politeness(6, 3, 0), gen_robots(6, 3)
    kw = dict(default_budget=3, max_depth=1, n_shards=4)
    eng = CrawlEngine(spark, str(tmp_path / "dim"), fetch_partitions=4, **kw)
    eng.bootstrap(seeds, pol, rob)
    eng.run_round()
    pol1 = pol.assign(max_fetches_per_round=[0, 1, 3, 3, 5, 3])
    sc = spark.sparkContext
    sc.setJobGroup("dim-update", "update_politeness")
    try:
        eng.update_politeness(pol1)
        jobs = sc.statusTracker().getJobIdsForGroup("dim-update")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []

    def pending(host):
        return {r["url"] for r in eng.frontier.read(spark).filter(F.col("host") == host).collect()}

    held = pending(pol1["host"][0])
    assert held
    eng.run_round()
    assert held <= pending(pol1["host"][0])
    ora = OracleCrawler(pol, rob, **kw)
    ora.bootstrap(seeds)
    ora.run(1)
    ora.update_politeness(pol1)
    ora.run(1)
    log = [(r["round"], r["priority"], r["url"]) for r in eng.fetch_log().collect()]
    assert log == [(d["round"], d["priority"], d["url"]) for d in ora.landed]
    assert {r["url"] for r in eng.seen.all_urls(spark).collect()} == ora.seen

    # an update that crashed before its commit: resume keeps the committed
    # dim and drops the crashed write's dir, so the update can be redone
    def crash(self, snapshots):
        raise RuntimeError("crash before the commit")

    pol2 = pol1.assign(max_fetches_per_round=2)
    with monkeypatch.context() as m:
        m.setattr(SnapshotTable, "_commit", crash)
        with pytest.raises(RuntimeError):
            eng.update_politeness(pol2)
    eng = CrawlEngine.resume(spark, eng.base, fetch_partitions=4, **kw)
    assert sorted(map(tuple, eng._politeness().collect())) == sorted(pol1.itertuples(False, None))
    eng.update_politeness(pol2)
    assert sorted(map(tuple, eng._politeness().collect())) == sorted(pol2.itertuples(False, None))
    assert len(eng.politeness_dim.snapshots()) == 1

    # an update that crashed in the dim's expiry, after its overwrite
    # committed: resume reads the new budgets, the next round selects
    # under them as the oracle does, and the next update expires the
    # history the crashed one left
    commit, commits = SnapshotTable._commit, []

    def crash_in_expiry(self, snapshots):
        commits.append(snapshots)
        if len(commits) == 2:
            raise RuntimeError("crash at the expiry's commit")
        commit(self, snapshots)

    pol3 = pol2.assign(max_fetches_per_round=[1, 0, 2, 4, 3, 2])
    with monkeypatch.context() as m:
        m.setattr(SnapshotTable, "_commit", crash_in_expiry)
        with pytest.raises(RuntimeError):
            eng.update_politeness(pol3)
    assert len(eng.politeness_dim.snapshots()) == 2
    eng = CrawlEngine.resume(spark, eng.base, fetch_partitions=4, **kw)
    assert sorted(map(tuple, eng._politeness().collect())) == sorted(pol3.itertuples(False, None))
    eng.run_round()
    ora.update_politeness(pol2)
    ora.update_politeness(pol3)
    ora.run(1)
    log = [(r["round"], r["priority"], r["url"]) for r in eng.fetch_log().collect()]
    assert log == [(d["round"], d["priority"], d["url"]) for d in ora.landed]
    assert {r["url"] for r in eng.seen.all_urls(spark).collect()} == ora.seen
    eng.update_politeness(pol1)
    assert len(eng.politeness_dim.snapshots()) == 1
    dirs = [d for d in os.listdir(eng.politeness_dim.path) if d.startswith("snap=")]
    assert dirs == [eng.politeness_dim.snapshots()[0]["dir"]]


def test_round_writes_never_share_a_table(spark, tmp_path, monkeypatch):
    """A round's parallel phases never write one table at the same time (a
    snapshot write is load manifest -> write dir -> commit, unlocked: two
    at once would share a snapshot dir and lose one commit), and a round
    writes the frontier rows at most once: its re-enqueued rows ride the
    links append (round 2) or the compaction fold (round 3)."""
    seeds, pol, rob = gen_seeds(n=60, n_hosts=6, seed=3), _politeness(6, 3, 0), gen_robots(6, 3)
    eng = CrawlEngine(spark, str(tmp_path / "writes"), **ARGS)
    eng.bootstrap(seeds, pol, rob)

    write = SnapshotTable._write
    lock, active, overlaps = threading.Lock(), {}, []
    rows_writes = collections.Counter()  # (round, mode) of frontier-rows writes

    def tracked_write(self, df, mode, meta):
        if self.path == eng.frontier.rows.path:
            rows_writes[eng.next_round, mode] += 1
        with lock:
            active[self.path] = active.get(self.path, 0) + 1
            if active[self.path] > 1:
                overlaps.append(self.path)
        try:
            return write(self, df, mode, meta)
        finally:
            with lock:
                active[self.path] -= 1

    monkeypatch.setattr(SnapshotTable, "_write", tracked_write)
    stats = eng.run(ROUNDS)
    monkeypatch.undo()

    assert rows_writes[2, "append"] == 1 and rows_writes[3, "overwrite"] == 1, rows_writes
    per_round = collections.Counter(r for r, _ in rows_writes.elements())
    assert max(per_round.values()) == 1, rows_writes
    assert overlaps == []
    ora = _oracle(
        seeds, pol, rob, ROUNDS, default_budget=3, max_depth=1, n_shards=4, recrawl_after=1
    )
    assert [s["selected"] for s in stats] == [
        sum(fr == r for fr, _ in ora.fetch_log) for r in range(ROUNDS)
    ]
    log = [(r["round"], r["priority"], r["url"]) for r in eng.fetch_log().collect()]
    assert log == [(d["round"], d["priority"], d["url"]) for d in ora.landed]
    assert _live_seen(eng, spark) == sorted(ora.seen)
    frontier = sorted(r["url"] for r in eng.frontier.read(spark).collect())
    assert frontier == sorted(ora.frontier)
