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
