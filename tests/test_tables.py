"""Snapshot table layer: atomic append/overwrite, one-scan reads, rollback."""

from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from jobscrawler_spark.plans.tables import SnapshotTable

SCHEMA = StructType([StructField("k", IntegerType()), StructField("v", StringType())])


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_append_and_current_snapshot(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), SCHEMA)
    assert t.read(spark).count() == 0
    t.append(_df(spark, [(1, "a")]))
    s1 = t.append(_df(spark, [(2, "b")]))
    assert t.read(spark).count() == 2
    assert t.current_snapshot == s1


def test_overwrite_resets(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), SCHEMA)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.overwrite(_df(spark, [(9, "z")]))
    assert [r["k"] for r in t.read(spark).collect()] == [9]
    t.append(_df(spark, [(10, "y")]))
    assert t.read(spark).count() == 2


def test_rollback(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), SCHEMA)
    s0 = t.append(_df(spark, [(1, "a")]))
    t.append(_df(spark, [(2, "b")]))
    t.rollback_to(s0)
    assert t.read(spark).count() == 1
    assert t.current_snapshot == s0
    t.rollback_to(None)
    assert t.read(spark).count() == 0


def test_rollback_drops_the_dir_of_a_crashed_write(spark, tmp_path, monkeypatch):
    """A write that crashed before its manifest commit leaves a snapshot
    dir no manifest lists, under the id the next write takes. Rollback
    deletes it, so the next pandas write (which refuses an existing dir)
    commits."""
    import os

    import pandas as pd
    import pytest

    t = SnapshotTable(str(tmp_path / "t"), SCHEMA)
    s0 = t.append(pd.DataFrame({"k": [1], "v": ["a"]}))

    def crash(self, snapshots):
        raise RuntimeError("crash before the commit")

    with monkeypatch.context() as m:
        m.setattr(SnapshotTable, "_commit", crash)
        with pytest.raises(RuntimeError):
            t.append(pd.DataFrame({"k": [2], "v": ["b"]}))
    assert t.current_snapshot == s0
    t.rollback_to(s0)
    assert t.append(pd.DataFrame({"k": [3], "v": ["c"]})) == s0 + 1
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 3]
    t.rollback_to(None)
    assert t.snapshots() == [] and not [d for d in os.listdir(t.path) if d.startswith("snap=")]


def test_a_cut_deletes_the_dirs_an_interrupted_cut_left(spark, tmp_path, monkeypatch):
    """Expiry commits its cut manifest, then deletes the dirs it no longer
    lists. A crash in between leaves them on disk; the next cut, a
    rollback or an expiry, deletes every dir its manifest does not list."""
    import os
    import shutil

    import pandas as pd
    import pytest

    def snap_dirs(t):
        return sorted(d for d in os.listdir(t.path) if d.startswith("snap="))

    def crash(*args, **kwargs):
        raise RuntimeError("crash before the deletes")

    for cut in ("rollback_to", "expire_before"):
        t = SnapshotTable(str(tmp_path / cut), SCHEMA)
        t.overwrite(pd.DataFrame({"k": [1], "v": ["a"]}))
        s1 = t.overwrite(pd.DataFrame({"k": [2], "v": ["b"]}))
        with monkeypatch.context() as m:
            m.setattr(shutil, "rmtree", crash)
            with pytest.raises(RuntimeError):
                t.expire_before(s1)
        assert [s["id"] for s in t.snapshots()] == [s1]
        assert snap_dirs(t) == ["snap=00000", "snap=00001"]  # one unlisted
        if cut == "rollback_to":
            t.rollback_to(s1)
        else:
            t.expire_before(t.overwrite(pd.DataFrame({"k": [3], "v": ["c"]})))
        assert snap_dirs(t) == [s["dir"] for s in t.snapshots()]


def test_expire_before_without_history_commits_nothing(spark, tmp_path, monkeypatch):
    t = SnapshotTable(str(tmp_path / "t"), SCHEMA)
    t.overwrite(_df(spark, [(1, "a")]))
    s1 = t.append(_df(spark, [(2, "b")]))
    commits = []
    monkeypatch.setattr(SnapshotTable, "_commit", lambda self, snaps: commits.append(snaps))
    t.expire_before(s1)
    assert commits == [] and len(t.snapshots()) == 2


def test_expire_before(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"), SCHEMA)
    t.overwrite(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    s2 = t.overwrite(_df(spark, [(3, "c")]))
    t.expire_before(s2)
    assert [r["k"] for r in t.read(spark).collect()] == [3]
    assert len(t.snapshots()) == 1


def test_empty_partitioned_snapshot_does_not_brick_reads(spark, tmp_path):
    """R4 regression (review-found): an EMPTY DataFrame appended to a
    partitioned table writes only _SUCCESS; the one-scan read of a
    partitioned table must skip such fileless dirs instead of raising
    UNABLE_TO_INFER_SCHEMA. A crawl legitimately commits one when a
    round's discovered links were all already pending. A flat table's
    empty write leaves one 0-row file: it too commits has_data false, so
    is_empty() is exact either way."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    from jobscrawler_spark.plans.tables import SnapshotTable

    schema = StructType(
        [StructField("k", StringType()), StructField("shard", IntegerType())]
    )
    t = SnapshotTable(str(tmp_path / "t"), schema, partition_by="shard")
    t.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], schema))
    t.append(spark.createDataFrame([], schema))  # fileless
    t.append(spark.createDataFrame([("c", 1)], schema))

    rows = {(r["k"], r["shard"]) for r in t.read(spark).collect()}
    assert rows == {("a", 1), ("b", 2), ("c", 1)}
    # partition pruning still works through the skip
    assert {r["k"] for r in t.read(spark).filter(F.col("shard") == 1).collect()} == {
        "a",
        "c",
    }
    # an all-empty table still reads as the schema'd empty frame
    t2 = SnapshotTable(str(tmp_path / "t2"), schema, partition_by="shard")
    t2.overwrite(spark.createDataFrame([], schema))
    assert t2.is_empty() and t2.read(spark).count() == 0

    # the flat case: the 0-row file does not count as rows
    t3 = SnapshotTable(str(tmp_path / "t3"), schema)
    t3.append(spark.createDataFrame([], schema))
    assert t3.snapshots()[-1]["has_data"] is False and t3.is_empty()
    empty, jobs = _jobs_during(spark, lambda: t3.read(spark))
    assert jobs == [] and empty.schema == schema and empty.count() == 0
    t3.append(spark.createDataFrame([("d", 3)], schema))
    assert not t3.is_empty() and [r["k"] for r in t3.read(spark).collect()] == ["d"]


def test_frontier_empty_insert_then_read(spark, tmp_path):
    """The exact engine call shape of the regression: DeltaFrontier.insert
    with ZERO fresh rows (a round whose discovered links were all already
    pending) followed by read() — must return the pre-insert frontier,
    not raise UNABLE_TO_INFER_SCHEMA on the fileless partitioned dir."""
    import pandas as pd
    from pyspark.sql import functions as F

    from jobscrawler_spark.functions.urls import with_canonical
    from jobscrawler_spark.plans.delta_frontier import DeltaFrontier
    from jobscrawler_spark.schemas import FRONTIER

    f = DeltaFrontier(str(tmp_path / "f"))
    seeds = spark.createDataFrame(
        pd.DataFrame(
            {
                "url": [f"http://h{i % 3}.example.com/p/{i}" for i in range(30)],
                "priority": 0.5,
                "depth": 0,
            }
        )
    )
    rows = (
        with_canonical(seeds, n_shards=4)
        .withColumn("not_before_round", F.lit(0))
        .withColumn("attempts", F.lit(0))
        .select([fld.name for fld in FRONTIER.fields])
    )
    f.bootstrap(spark, rows)
    assert f.read(spark).count() == 30
    stored = rows.withColumn("added_in", F.lit(0))  # insert takes FRONTIER_STORED rows
    f.insert(stored.filter(F.lit(False)), 0)  # empty insert, still committed
    assert f.read(spark).count() == 30
    f.insert(stored.limit(0), 1)
    f.compact(spark, 1)  # compaction across the fileless snapshots
    assert f.read(spark).count() == 30


# ------------------------------------------- declared schema + manifest


def _jobs_during(spark, fn):
    """(result of fn(), Spark jobs it submitted) — counted from the status
    tracker under a job group scoped to this thread."""
    sc = spark.sparkContext
    sc.setJobGroup("tables-test", "jobs submitted by one call")
    try:
        out = fn()
        return out, sc.statusTracker().getJobIdsForGroup("tables-test")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_partitioned_read_runs_no_job_and_keeps_types(spark, tmp_path):
    """Reads pin the declared schema (partition column included): a
    partitioned table of several snapshots, one of them empty, plans
    without a single schema-inference job and reads back the declared
    types — the writes were conformed (long -> int cast) on the way in."""
    from pyspark.sql.types import LongType

    schema = StructType(
        [StructField("k", StringType()), StructField("v", LongType()), StructField("shard", IntegerType())]
    )
    t = SnapshotTable(str(tmp_path / "t"), schema, partition_by="shard")
    t.overwrite(spark.createDataFrame([("a", 1, 1), ("b", 2, 2)], schema))
    t.append(spark.createDataFrame([], schema))
    # written with wider/narrower physical types: conformed to the declaration
    t.append(spark.createDataFrame([("c", 3, 1)], "k string, v int, shard long"))

    df, jobs = _jobs_during(spark, lambda: t.read(spark))
    assert jobs == []
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in schema.fields
    ]
    assert sorted(tuple(r) for r in df.collect()) == [("a", 1, 1), ("b", 2, 2), ("c", 3, 1)]


def test_write_missing_declared_column_fails_loudly(spark, tmp_path):
    import pytest

    t = SnapshotTable(str(tmp_path / "t"), SCHEMA)
    with pytest.raises(ValueError, match=r"\['v'\]"):
        t.append(spark.createDataFrame([(1,)], "k int"))
    assert t.current_snapshot is None  # nothing committed


def test_clear_is_manifest_only_and_round_trips(spark, tmp_path):
    import os

    t = SnapshotTable(str(tmp_path / "t"), SCHEMA)
    s0 = t.append(_df(spark, [(1, "a")]))
    s1, jobs = _jobs_during(spark, lambda: t.clear({"stage": "cleared"}))
    assert jobs == []
    assert not os.path.exists(os.path.join(t.path, t.snapshots()[-1]["dir"]))
    assert t.is_empty() and t.read(spark).count() == 0
    t.append(_df(spark, [(2, "b")]))
    assert [r["k"] for r in t.read(spark).collect()] == [2]
    t.rollback_to(s1)
    assert t.current_snapshot == s1 and t.read(spark).count() == 0
    t.rollback_to(s0)
    assert [r["k"] for r in t.read(spark).collect()] == [1]
    s3 = t.clear()
    t.expire_before(s3)
    assert [s["id"] for s in t.snapshots()] == [s3] and t.read(spark).count() == 0


def test_cleared_delta_tables_survive_resume(spark, tmp_path):
    """Bootstrap and every compaction clear the tombstone and delay tables
    with manifest-only commits; a resumed engine rolls back to them and
    crawls on exactly as the oracle does."""
    from jobscrawler_spark.engine import CrawlEngine
    from jobscrawler_spark.generators import gen_politeness, gen_robots, gen_seeds
    from jobscrawler_spark.oracle.simulator import OracleCrawler

    seeds, pol, rob = gen_seeds(n=80, n_hosts=6, seed=3), gen_politeness(6, 3), gen_robots(6, 3)
    args = dict(n_shards=4, default_budget=4, max_depth=1, fetch_partitions=4)
    base = str(tmp_path / "crawl")
    eng = CrawlEngine(spark, base, compact_every=1, **args)
    eng.bootstrap(seeds, pol, rob)
    eng.run(1)
    for table in (eng.frontier.rm, eng.frontier.delay):
        last = table.snapshots()[-1]
        assert last["mode"] == "overwrite" and last["has_data"] is False
    pending = {r["url"] for r in eng.frontier.read(spark).collect()}

    eng2 = CrawlEngine.resume(spark, base, compact_every=1, **args)
    assert {r["url"] for r in eng2.frontier.read(spark).collect()} == pending
    eng2.run(1)
    ora = OracleCrawler(pol, rob, default_budget=4, max_depth=1, n_shards=4)
    ora.bootstrap(seeds)
    ora.run(2)
    got = [(r["round"], r["url"]) for r in eng2.fetch_log().select("round", "url").collect()]
    assert got == [(d["round"], d["url"]) for d in ora.landed]
    assert {r["url"] for r in eng2.seen.all_urls(spark).collect()} == ora.seen


def test_commit_json_leaves_no_temp_files(tmp_path):
    import json
    import os

    from jobscrawler_spark.plans.tables import commit_json

    path = str(tmp_path / "state.json")
    commit_json(path, {"a": 1})
    commit_json(path, {"a": 2})
    with open(path) as f:
        assert json.load(f) == {"a": 2}
    assert os.listdir(tmp_path) == ["state.json"]


# ------------------------------------------------------ one read path


def test_partitioned_snapshots_read_as_one_pruned_scan(spark, tmp_path):
    """The live snapshots of a partitioned table are ``snap=`` partitions
    of one layout: three of them plan as ONE FileScan whose partition
    filter prunes in every snapshot, not a union of per-snapshot scans."""
    import re

    from pyspark.sql import functions as F

    schema = StructType([StructField("k", StringType()), StructField("shard", IntegerType())])
    t = SnapshotTable(str(tmp_path / "t"), schema, partition_by="shard")
    t.overwrite(spark.createDataFrame([("a", 1), ("b", 2)], schema))
    t.append(spark.createDataFrame([("c", 1)], schema))
    t.append(spark.createDataFrame([("d", 2), ("e", 1)], schema))
    assert [s["mode"] for s in t.snapshots()] == ["overwrite", "append", "append"]
    df = t.read(spark).filter(F.col("shard") == 1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Union" not in plan and plan.count("FileScan") == 1, plan
    assert re.search(r"PartitionFilters: \[isnotnull\(shard#\d+\), \(shard#\d+ = 1\)\]", plan), plan
    assert df.columns == ["k", "shard"]
    assert sorted(r["k"] for r in df.collect()) == ["a", "c", "e"]


def test_undeclared_table_records_its_schema(spark, tmp_path):
    """A table declared without a schema records its first write's in the
    manifest: a new handle reads it pinned, with no inference job, and
    it stays readable once no live snapshot holds a row. Only a table
    that was never written has no schema to read with."""
    import pytest

    t = SnapshotTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    df, jobs = _jobs_during(spark, lambda: SnapshotTable(t.path).read(spark))
    assert jobs == [] and df.schema == SCHEMA
    assert [tuple(r) for r in df.collect()] == [(1, "a")]
    # later writes conform to the recorded schema
    t.append(spark.createDataFrame([("b", 2)], "v string, k long"))
    assert sorted(tuple(r) for r in SnapshotTable(t.path).read(spark).collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    t.clear()
    empty, jobs = _jobs_during(spark, lambda: SnapshotTable(t.path).read(spark))
    assert jobs == [] and empty.schema == SCHEMA and empty.count() == 0
    with pytest.raises(ValueError, match="declares no schema and was never written"):
        SnapshotTable(str(tmp_path / "never")).read(spark)


def test_a_manifest_listing_old_snapshot_dirs_fails_with_the_format_message(tmp_path):
    """State written before snapshot dirs became ``snap=`` partitions lists
    ``snap-NNNNN`` dirs. Opening it raises, naming the layout change, and
    neither a read nor a cut touches its dirs."""
    import os

    import pytest

    from jobscrawler_spark.plans.tables import commit_json

    t = SnapshotTable(str(tmp_path / "t"), SCHEMA)
    os.makedirs(os.path.join(t.path, "snap-00000"))
    snap = {"id": 0, "dir": "snap-00000", "mode": "append", "meta": {}, "has_data": True}
    commit_json(os.path.join(t.path, "_snapshots.json"), {"snapshots": [snap]})
    for call in (t.snapshots, t.is_empty, lambda: t.rollback_to(None), lambda: t.expire_before(0)):
        with pytest.raises(ValueError, match="snap=NNNNN partitions"):
            call()
    assert sorted(os.listdir(t.path)) == ["_snapshots.json", "snap-00000"]
