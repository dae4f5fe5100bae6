"""Delta frontier: per-round writes are O(round size) appends, compaction
folds deltas without changing semantics, and the effective frontier
(including host-level crawl-delay pushback state) matches the oracle
exactly (SCALING.md "Frontier"; VERDICT r1 named the overwrite-per-round
frontier the one scale-killer)."""

from jobscrawler_spark.engine import CrawlEngine
from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
from jobscrawler_spark.oracle.simulator import OracleCrawler

ARGS = dict(n_shards=4, default_budget=4, max_depth=2)


def _fixtures():
    return gen_seeds(n=400, n_hosts=12, seed=9), gen_politeness(12, 9), gen_robots(12, 9)


def _oracle(seeds, pol, rob, rounds):
    o = OracleCrawler(pol, rob, default_budget=4, max_depth=2, n_shards=4)
    o.bootstrap(seeds)
    o.run(rounds)
    return o


def test_compaction_preserves_crawl_and_frontier_state(spark, tmp_path):
    """compact_every=2 over 4 rounds (two compactions) must match the
    oracle's fetch order, seen set AND pending-frontier state bit-exactly —
    including not_before_round, which encodes crawl-delay pushback."""
    seeds, pol, rob = _fixtures()
    eng = CrawlEngine(spark, str(tmp_path / "c"), compact_every=2, **ARGS)
    eng.bootstrap(seeds, pol, rob)
    eng.run(4)
    ora = _oracle(seeds, pol, rob, 4)

    assert {r["url"] for r in eng.seen.all_urls(spark).collect()} == ora.seen
    got = [(r["round"], r["url"]) for r in eng.fetch_log().select("round", "url").collect()]
    assert got == [(d["round"], d["url"]) for d in ora.landed]
    got_frontier = {
        (r["url"], r["not_before_round"]) for r in eng.frontier.read(spark).collect()
    }
    want_frontier = {(u, e.not_before_round) for u, e in ora.frontier.items()}
    assert got_frontier == want_frontier
    # the live rows are the round-3 compaction's overwrite (the second
    # compaction; the checkpoint expired everything before it)
    snaps = eng.frontier.rows.snapshots()
    assert snaps[0]["mode"] == "overwrite" and snaps[0]["meta"] == {"compact": 3}


def test_round_writes_are_append_only_and_o_round_size(spark, tmp_path):
    """Between compactions the frontier never rewrites: every per-round
    snapshot is an append, and the tombstone volume equals the number of
    fetched URLs (the seen set) — O(round size), not O(frontier size)."""
    seeds, pol, rob = _fixtures()
    eng = CrawlEngine(spark, str(tmp_path / "nc"), compact_every=100, **ARGS)
    eng.bootstrap(seeds, pol, rob)
    eng.run(3)

    rows_snaps = eng.frontier.rows.snapshots()
    assert rows_snaps[0]["mode"] == "overwrite"  # bootstrap only
    assert all(s["mode"] == "append" for s in rows_snaps[1:])
    assert all(s["mode"] == "append" for s in eng.frontier.rm.snapshots()[1:])
    # every fetched URL is tombstoned exactly once == the seen set
    assert eng.frontier.rm.read(spark).count() == eng.seen.seen.read(spark).count()


def test_mass_based_compaction_fires_early(spark, tmp_path, monkeypatch):
    """With the cadence effectively off (compact_every=100) and a tiny
    broadcast-safety bound, every round's tombstone mass exceeds the bound
    so compaction must fire at each round's end — and while above the
    bound the read path's anti-join (shuffle fallback) must stay exact:
    the whole crawl matches the oracle."""
    from jobscrawler_spark.plans import delta_frontier
    from jobscrawler_spark.plans.delta_frontier import DeltaFrontier

    monkeypatch.setattr(delta_frontier, "MAX_TOMBSTONE_ROWS", 20)
    compactions = []
    compact = DeltaFrontier.compact

    def spy(self, spark, round_no, rows=None):
        compactions.append(round_no)
        return compact(self, spark, round_no, rows)

    monkeypatch.setattr(DeltaFrontier, "compact", spy)
    seeds, pol, rob = _fixtures()
    eng = CrawlEngine(spark, str(tmp_path / "m"), compact_every=100, **ARGS)
    eng.bootstrap(seeds, pol, rob)
    eng.run(3)
    ora = _oracle(seeds, pol, rob, 3)

    assert {r["url"] for r in eng.seen.all_urls(spark).collect()} == ora.seen
    got = [(r["round"], r["url"]) for r in eng.fetch_log().select("round", "url").collect()]
    assert got == [(d["round"], d["url"]) for d in ora.landed]
    got_frontier = {
        (r["url"], r["not_before_round"]) for r in eng.frontier.read(spark).collect()
    }
    assert got_frontier == {(u, e.not_before_round) for u, e in ora.frontier.items()}
    # compaction fired well before the round-100 cadence: once per round
    # (mass trigger), tombstones folded away
    assert compactions == [0, 1, 2]
    assert eng.frontier.tombstone_rows() == 0


def test_mid_crawl_crawl_delay_equivalence(spark, tmp_path):
    """VERDICT r2 #8: a host emits Crawl-delay MID-crawl (its robots.txt
    body declares it; parse_robots_crawl_delay extracts it; the politeness
    dim is updated between rounds). The engine's delta-frontier pushback
    ('applies to rows with added_in < q; links discovered in round q are
    exempt') must stay exact vs the oracle across the switch — including
    across a compaction."""
    import pandas as pd

    from jobscrawler_spark.generators import gen_robots_bodies
    from jobscrawler_spark.operators.frontier import parse_robots_crawl_delay

    seeds, pol, rob = _fixtures()
    pol0 = pol.copy()
    pol0["crawl_delay_rounds"] = 0  # no delays known at bootstrap

    eng = CrawlEngine(spark, str(tmp_path / "d"), compact_every=2, **ARGS)
    eng.bootstrap(seeds, pol0, rob)
    ora = OracleCrawler(pol0, rob, default_budget=4, max_depth=2, n_shards=4)
    ora.bootstrap(seeds)
    eng.run(2)
    ora.run(2)

    # mid-crawl robots discovery: bodies carry the true Crawl-delay values
    # (gen_politeness's), the REAL parser extracts them, the dim updates
    bodies = spark.createDataFrame(
        gen_robots_bodies(12, seed=9, politeness=pol), "host string, body string"
    )
    delays = parse_robots_crawl_delay(bodies).toPandas()
    pol1 = pol0.drop(columns=["crawl_delay_rounds"]).merge(delays, on="host", how="left")
    pol1["crawl_delay_rounds"] = pol1["crawl_delay_rounds"].fillna(0).astype(int)
    assert (pol1["crawl_delay_rounds"] > 0).any()  # the switch is real
    assert dict(zip(pol1.host, pol1.crawl_delay_rounds)) == dict(
        zip(pol.host, pol.crawl_delay_rounds)
    )
    eng.update_politeness(pol1)
    ora.update_politeness(pol1)

    eng.run(3)
    ora.run(3)
    assert {r["url"] for r in eng.seen.all_urls(spark).collect()} == ora.seen
    got = [(r["round"], r["url"]) for r in eng.fetch_log().select("round", "url").collect()]
    assert got == [(d["round"], d["url"]) for d in ora.landed]
    got_frontier = {
        (r["url"], r["not_before_round"]) for r in eng.frontier.read(spark).collect()
    }
    assert got_frontier == {(u, e.not_before_round) for u, e in ora.frontier.items()}


def test_resume_across_compaction_matches_oracle(spark, tmp_path):
    seeds, pol, rob = _fixtures()
    eng = CrawlEngine(spark, str(tmp_path / "r"), compact_every=2, **ARGS)
    eng.bootstrap(seeds, pol, rob)
    eng.run(2)  # compaction fires after round 1
    eng2 = CrawlEngine.resume(spark, str(tmp_path / "r"), compact_every=2, **ARGS)
    eng2.run(2)
    ora = _oracle(seeds, pol, rob, 4)
    assert {r["url"] for r in eng2.seen.all_urls(spark).collect()} == ora.seen
    got = [(r["round"], r["url"]) for r in eng2.fetch_log().select("round", "url").collect()]
    assert got == [(d["round"], d["url"]) for d in ora.landed]


def test_frontier_store_shard_partitioned_and_pruned(spark, tmp_path):
    """R4: the rows store is hive-partitioned by shard, and a shard-filtered
    frontier read (the engine's pending-dedupe anti-join prunes to the link
    batch's hit shards) reaches the parquet scan as a PARTITION filter —
    file-level pruning, not a full-frontier scan."""
    import contextlib
    import io
    import os

    from pyspark.sql import functions as F

    seeds, pol, rob = _fixtures()
    eng = CrawlEngine(spark, str(tmp_path / "pp"), **ARGS)
    eng.bootstrap(seeds, pol, rob)
    eng.run(2)  # bootstrap overwrite + per-round inserts, all partitioned

    rows = eng.frontier.rows
    assert rows.partition_by == "shard"
    for s in rows.snapshots():  # each snapshot holding rows is laid out in shard dirs
        data = [d for d in os.listdir(os.path.join(rows.path, s["dir"])) if d[0] not in "._"]
        assert not s["has_data"] or data and all(d.startswith("shard=") for d in data), (s, data)

    pruned = eng.frontier.read(spark).filter(F.col("shard").isin([1, 2]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    part_filters = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert part_filters, plan
    assert any("shard" in l and "[]" not in l.replace("[],", "") for l in part_filters)
    # every rows-store scan in the plan carries the shard partition filter
    rows_scans = [l for l in part_filters if "shard" in l]
    assert rows_scans
    # and the filtered read returns exactly the matching shards
    got = {r["shard"] for r in pruned.select("shard").distinct().collect()}
    assert got <= {1, 2}
