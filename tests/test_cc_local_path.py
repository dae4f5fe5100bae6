"""The r7 broadcast-threshold escape in connected_components: the
driver-side union-find path must label EXACTLY like the distributed
pointer-doubling loop (both = min reachable id), for int and string ids."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from jobscrawler_spark.operators.components import connected_components


@pytest.fixture()
def edges_df(spark):
    # two chains, one triangle-with-tail, a self-loop, and a string-free
    # int id space with gaps
    rows = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20), (22, 23), (30, 30)]
    return spark.createDataFrame(rows, "src long, dst long")


def _labels(df):
    return sorted((r["node"], r["component"]) for r in df.collect())


def test_local_path_equals_distributed(spark, edges_df):
    """Same rows and the same schema, nullability included, for nullable
    and non-nullable edge columns."""
    strict = spark.createDataFrame(
        edges_df.collect(),
        StructType([StructField(c, LongType(), False) for c in ("src", "dst")]),
    )
    for edges in (edges_df, strict):
        local = connected_components(edges)
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            dist = connected_components(edges)
            dist_rows = _labels(dist)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert _labels(local) == dist_rows
        assert dist_rows  # non-empty, sanity
        assert local.schema == dist.schema


def test_local_path_string_ids(spark):
    rows = [("img~a", "img~b"), ("img~b", "img~c"), ("zz", "aa")]
    df = spark.createDataFrame(rows, "src string, dst string")
    local = _labels(connected_components(df))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        dist = _labels(connected_components(df))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert local == dist
    comp = dict(local)
    assert comp["img~c"] == "img~a"
    assert comp["zz"] == "aa"


def test_local_path_threshold_parses_sizes_and_caps(spark):
    """The local-path ceiling follows the session's broadcast threshold in
    any Spark byte-size form, and the driver collect stays capped."""
    from jobscrawler_spark.operators.components import (
        LOCAL_CC_EDGE_CAP,
        _local_cc_max_edges,
    )

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        for value, edges in [
            ("10485760b", 10485760 // 64),
            ("20m", (20 << 20) // 64),
            ("1m", (1 << 20) // 64),
            ("-1", 0),
            ("8g", LOCAL_CC_EDGE_CAP),
        ]:
            spark.conf.set(key, value)
            assert _local_cc_max_edges(spark) == edges, value
    finally:
        spark.conf.set(key, old)
