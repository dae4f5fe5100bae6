"""The benchmark's contract with the engine: every perfbench workload's
engine options still construct a CrawlEngine, and every entry point the
traced run wraps still exists (``Tracer.install`` looks each one up)."""

import pytest

from jobscrawler_spark.engine import CrawlEngine
from perfbench.trace import Tracer
from perfbench.workloads import WORKLOADS, get_workload


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_workload_engine_kwargs_and_traced_entry_points(spark, tmp_path, name):
    CrawlEngine(spark, str(tmp_path / name), **get_workload(name, small=True).engine_kwargs(2))
    tracer = Tracer(None)
    tracer.install()
    tracer.unwrap_all()


def test_traced_frontier_insert_hook(spark, tmp_path):
    """The traced ``DeltaFrontier.insert`` hook binds ``round_no`` by name
    and reads the rows of the snapshot the call returns."""
    from pyspark.sql import functions as F

    from jobscrawler_spark.functions.urls import with_canonical
    from jobscrawler_spark.plans.delta_frontier import STORED_COLS, DeltaFrontier

    urls = spark.createDataFrame([(f"http://h.example.com/p/{i}",) for i in range(5)], "url string")
    rows = with_canonical(urls, n_shards=2).withColumns(
        {
            "priority": F.lit(0.5),
            "depth": F.lit(0),
            "not_before_round": F.lit(4),
            "attempts": F.lit(0),
            "added_in": F.lit(3),
        }
    )
    tracer = Tracer(spark.sparkContext)
    tracer.install()
    try:
        DeltaFrontier(str(tmp_path / "frontier")).insert(rows.select(STORED_COLS), 3)
    finally:
        tracer.unwrap_all()
    [span] = [s for s in tracer.spans if s.name == "delta_frontier.insert"]
    assert span.attrs == {"round_no": 3, "rows": 5}
