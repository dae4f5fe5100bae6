"""fan_out (operators/util.py) + _overlap (__spark_entry__.py) — the r7
optimization helpers: the input-skew repartition guard and the
concurrent kind materializer. Both must be RESULT-INVISIBLE."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from jobscrawler_spark.operators.util import fan_out


def test_fan_out_spreads_narrow_input(spark):
    df = spark.range(0, 1000).coalesce(1)
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # same rows, only the layout changed
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_fan_out_is_noop_when_wide_enough(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(0, 1000).repartition(target + 2)
    out = fan_out(df)
    # no Exchange added on a well-partitioned source: same plan object
    assert out is df


def test_overlap_matches_sequential_union(spark):
    a = lambda: spark.range(0, 50).select(
        F.lit("a").alias("kind"), F.col("id")
    )
    b = lambda: spark.range(50, 80).select(
        F.lit("b").alias("kind"), F.col("id")
    )
    c = lambda: spark.range(80, 90).select(
        F.lit("c").alias("kind"), F.col("id")
    )
    da, db, dc = E._overlap(a, b, c)
    got = sorted(tuple(r) for r in da.unionByName(db).unionByName(dc).collect())
    want = sorted(tuple(r) for r in a().unionByName(b()).unionByName(c()).collect())
    assert got == want


def test_overlap_propagates_builder_errors(spark):
    def boom():
        raise RuntimeError("builder failed")

    with pytest.raises(RuntimeError, match="builder failed"):
        E._overlap(lambda: spark.range(3), boom)


def test_overlap_without_pinned_threads(spark, monkeypatch):
    """With PYSPARK_PIN_THREAD off, pyspark's inheritable_thread_target
    hands its argument back unwrapped — for a session argument, the session
    itself. _overlap must still run each builder, not call the session."""
    import pyspark

    monkeypatch.setattr(pyspark, "inheritable_thread_target", lambda f=None: f)
    da, db = E._overlap(lambda: spark.range(0, 3), lambda: spark.range(0, 5))
    assert (da.count(), db.count()) == (3, 5)
