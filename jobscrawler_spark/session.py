"""SparkSession factory tuned for the crawl engine.

Local-mode testing runs on ``local[N]`` (single JVM); the configuration is
chosen so the same code is correct on a multi-executor cluster:

- AQE on (runtime re-plan, skew-join splitting on the seen-set join)
- Arrow on (all pandas-UDF stages move batches, never rows)
- shuffle partitions ~= cores locally; parameterized for cluster runs
- UTC session timezone (duckdb-oracle comparisons are TZ-naive UTC)
- Python workers forked from the engine's daemon module
  (``jobscrawler_spark.worker_daemon``), which stops each task from
  re-reading the unchanged ``pyspark.zip``: 0.2-0.35 s per Python task on
  CPython 3.11. The package's parent dir goes on the workers' PYTHONPATH
  so the daemon imports whatever the driver's working dir is.
- ``spark.sql.optimizer.windowGroupLimitThreshold`` at the int maximum:
  Spark plans a ``row_number() <= k`` filter's partial per-group limit
  before the shuffle only for ``k`` up to this threshold (default 1000),
  and the politeness selection needs it for any per-host budget.

Under spark-submit ``get_spark`` returns the session spark-submit built, so
pass both there: ``--conf
spark.python.daemon.module=jobscrawler_spark.worker_daemon`` (the package
must be importable on the executors, e.g. ``--py-files``) and ``--conf
spark.sql.optimizer.windowGroupLimitThreshold=2147483647``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """Half the host's physical memory, at most 16 GB. A heap sized past
    what the host has lets a long session's JVM grow until the kernel
    kills it."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, total // 2 // (1 << 30)))}g"


def get_spark(
    app_name: str = "jobscrawler_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` uses ``local[*]``. On a real cluster this function is a
    no-op passthrough to the session created by spark-submit.
    """
    active = SparkSession.getActiveSession()
    if active is not None and cores is None and extra_conf is None:
        return active

    if cores is None:
        cores_env = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cores_env}]" if cores_env else "local[*]"
        n_cores = int(cores_env) if cores_env else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n_cores = cores

    if shuffle_partitions is None:
        shuffle_partitions = max(n_cores, 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.python.daemon.module", "jobscrawler_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.sql.optimizer.windowGroupLimitThreshold", str(2**31 - 1))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
