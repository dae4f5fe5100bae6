"""A crash at any commit point of a round resumes to the oracle's crawl.

A test-side failpoint raises before the k-th manifest commit
(``SnapshotTable._commit``) or checkpoint commit
(``CrawlEngine._commit_checkpoint``) of one round, for k = 1, 2, ... until
the round completes. After each crash the state dir is resumed, and each
table's dir must hold exactly the snapshot dirs its manifest lists. A
crash before the checkpoint must read as the oracle's crawl before the
round: fetch log ``(round, priority, url)``, live seen set and effective
frontier. The resumed engine then reruns the round with the crash armed
one commit later, so each rerun passes the commit its predecessor crashed
at (and writes over whatever that crash left) before it crashes. A crash
after the checkpoint, before one of the history expiries that follow it,
must read as the oracle's crawl after the round; the resumed engine then
reruns the checkpoint commit and the expiries not yet done, again with
the crash one commit later. The last rerun completes the round, the crawl
is finished, and its end state must equal the oracle's. Chaining the
reruns runs each crash point's round once, not twice: the crawl's rounds
are Spark-latency bound, ~6-12 s each at this size.

Swept: an append round with re-enqueued rows (round 2) and a compaction
round (round 3) of the tiny re-crawl crawl of ``test_round_jobs``, and a
round of a pagerank crawl, whose checkpoint also pins the host-edge table.
"""

import os

import pytest
from pyspark.sql import functions as F
from test_round_jobs import ARGS, _politeness

from jobscrawler_spark.engine import CrawlEngine
from jobscrawler_spark.generators import gen_robots, gen_seeds
from jobscrawler_spark.oracle.simulator import OracleCrawler
from jobscrawler_spark.plans.tables import SnapshotTable

PAGERANK_ARGS = dict(
    n_shards=4, default_budget=3, max_depth=1, fetch_partitions=4, priority_mode="pagerank"
)


class Crash(Exception):
    pass


def _fixtures():
    return gen_seeds(n=60, n_hosts=6, seed=3), _politeness(6, 3, 0), gen_robots(6, 3)


def _oracle_state(kwargs: dict, rounds: int):
    seeds, pol, rob = _fixtures()
    keys = ("default_budget", "max_depth", "n_shards", "recrawl_after", "priority_mode")
    o = OracleCrawler(pol, rob, **{k: kwargs[k] for k in keys if k in kwargs})
    o.bootstrap(seeds)
    o.run(rounds)
    log = [(d["round"], d["priority"], d["url"]) for d in o.landed]
    frontier = sorted((u, e.not_before_round) for u, e in o.frontier.items())
    return log, sorted(o.seen), frontier


def _engine_state(spark, eng: CrawlEngine, kwargs: dict, rounds: int):
    log = [(r["round"], r["priority"], r["url"]) for r in eng.fetch_log().collect()]
    seen = eng.seen.all_urls(spark)
    if kwargs.get("recrawl_after") is not None:
        # minus the rows re-crawl expiry already forgot
        seen = seen.filter(F.col("round_added") >= rounds - kwargs["recrawl_after"] - 1)
    frontier = eng.frontier.read(spark).select("url", "not_before_round").collect()
    return log, sorted(r["url"] for r in seen.collect()), sorted(map(tuple, frontier))


def assert_only_listed_dirs(eng: CrawlEngine) -> None:
    """Every table's snapshot dirs on disk are listed in its manifest (a
    listed one may have none: a manifest-only clear), and every listed
    snapshot that holds data has its dir."""
    for name, t in eng.tables.items():
        on_disk = {d for d in os.listdir(t.path) if d.startswith("snap=")}
        snaps = t.snapshots()
        assert on_disk <= {s["dir"] for s in snaps}, name
        assert {s["dir"] for s in snaps if s["has_data"]} <= on_disk, name


@pytest.fixture
def failpoint(monkeypatch):
    """``steps["k"] = k`` arms a crash before the k-th commit (0 = off)."""
    steps = {"n": 0, "k": 0}

    def wrap(orig):
        def wrapped(*args, **kwargs):
            steps["n"] += 1
            if steps["n"] == steps["k"]:
                raise Crash
            return orig(*args, **kwargs)

        return wrapped

    for cls, name in ((SnapshotTable, "_commit"), (CrawlEngine, "_commit_checkpoint")):
        monkeypatch.setattr(cls, name, wrap(getattr(cls, name)))
    return steps


def _crawl(spark, base: str, kwargs: dict, rounds: int) -> CrawlEngine:
    seeds, pol, rob = _fixtures()
    eng = CrawlEngine(spark, base, **kwargs)
    eng.bootstrap(seeds, pol, rob)
    eng.run(rounds)
    return eng


def _sweep_round(spark, failpoint, eng: CrawlEngine, kwargs: dict) -> tuple[CrawlEngine, int]:
    """Crash ``eng``'s next round at every commit point (see the module
    doc); returns the engine that completed it and the number of crash
    points."""
    crash_round = eng.next_round
    before = _oracle_state(kwargs, crash_round)
    after = _oracle_state(kwargs, crash_round + 1)
    k, armed, rerun = 0, 0, eng.run_round
    while True:
        k += 1
        armed += 1
        failpoint.update(n=0, k=armed)
        try:
            rerun()
            return eng, k - 1
        except Crash:
            pass
        finally:
            failpoint["k"] = 0
        eng = CrawlEngine.resume(spark, eng.base, **kwargs)
        assert_only_listed_dirs(eng)
        if eng.next_round == crash_round:
            assert _engine_state(spark, eng, kwargs, crash_round) == before, k
            rerun = eng.run_round
        else:
            # crashed in the expiry after the checkpoint: rerun the
            # checkpoint commit. The expiries done before the crash commit
            # nothing again, so one commit later is its third commit
            assert eng.next_round == crash_round + 1, k
            assert _engine_state(spark, eng, kwargs, crash_round + 1) == after, k
            armed, rerun = 2, eng._commit_checkpoint


def test_recrawl_rounds_resume_after_a_crash_at_any_commit(spark, tmp_path, failpoint):
    """Round 2 appends its links with the re-enqueued rows; round 3 is a
    compaction round (compact_every=2). Crash points: the metrics append,
    the images append, the seen-set and filter appends (round 3: their
    compaction overwrites), the tombstone append, the frontier-rows append
    (round 3: the fold's overwrite and the two delta clears), the
    checkpoint and (round 3) the expiry of each table the compaction
    overwrote: frontier rows, tombstones, delays, seen set and filter."""
    eng = _crawl(spark, str(tmp_path / "crawl"), ARGS, 2)
    eng, append_points = _sweep_round(spark, failpoint, eng, ARGS)
    eng, compaction_points = _sweep_round(spark, failpoint, eng, ARGS)
    assert (append_points, compaction_points) == (7, 14)
    assert _engine_state(spark, eng, ARGS, 4) == _oracle_state(ARGS, 4)


def test_pagerank_round_resumes_after_a_crash_at_any_commit(spark, tmp_path, failpoint):
    """Round 0 of a pagerank crawl: besides the re-crawl round's appends it
    appends the round's host edges, which rank its links; resume rolls the
    edge table back to no snapshot."""
    eng = _crawl(spark, str(tmp_path / "crawl"), PAGERANK_ARGS, 0)
    eng, points = _sweep_round(spark, failpoint, eng, PAGERANK_ARGS)
    assert points == 8
    assert _engine_state(spark, eng, PAGERANK_ARGS, 1) == _oracle_state(PAGERANK_ARGS, 1)
