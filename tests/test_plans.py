"""Physical-plan quality gates: these lock in the performance properties
the engine is designed around (pushdown to scan, broadcast dims, a
per-host window limited before its shuffle, salted fetch spreading). A
regression that silently de-optimizes a plan fails here even though
results stay correct."""

import contextlib
import io
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E
from jobscrawler_spark.functions.urls import with_canonical
from jobscrawler_spark.generators import gen_politeness, gen_robots
from jobscrawler_spark.operators.frontier import politeness_select, robots_gate, salted_repartition

SF = "/root/testdata/sf0.01"


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q1_pushdown_and_pruning(spark):
    p = _plan(E.q_a1_groupby_agg(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: untouched columns never reach the scan
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema


def test_dim_joins_broadcast(spark):
    p = _plan(E.q_j2_broadcast_dim_join(spark, SF))
    assert p.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in p


def test_anti_join_strategy(spark):
    p = _plan(E.q_p5_anti_join(spark, SF))
    assert "LeftAnti" in p


def _assert_partial_limit_below_host_exchange(p: str) -> None:
    """One row_number() window over one host shuffle, and the shuffle's
    child is Spark's Partial per-host limit (formatted plan: the operator
    tree, then one "(id) Name" block per operator)."""
    tree, *nodes = p.split("\n\n")
    assert sum(n.startswith("(") and n.split("\n")[0].endswith(") Window") for n in nodes) == 1, p
    shuffles = [l for l in p.splitlines() if "hashpartitioning(" in l]
    assert len(shuffles) == 1 and "hashpartitioning(host#" in shuffles[0], shuffles
    lines = tree.splitlines()
    i = next(i for i, l in enumerate(lines) if "- Exchange (" in l)
    child = re.search(r"- WindowGroupLimit \((\d+)\)", lines[i + 1])
    assert child, lines[i : i + 2]
    node = next(n for n in nodes if n.startswith(f"({child.group(1)}) WindowGroupLimit"))
    assert node.rstrip().endswith("Partial"), node


def test_politeness_two_phase_window(spark):
    """Two phases of one window: Spark's Partial per-host limit before the
    host shuffle and its Final limit after it, for a dim-override input
    and for a literal-budget input."""
    seeds = spark.createDataFrame(
        [(f"http://h{i % 4:02d}.example.com/p/{i}", float(i % 97) / 97, 0) for i in range(500)],
        ["url", "priority", "depth"],
    )
    cand = with_canonical(seeds)
    pol = gen_politeness(4)
    max_budget = max(int(pol["max_fetches_per_round"].max()), 8)  # 8: the default budget
    p = _plan(politeness_select(cand, spark.createDataFrame(pol), 8, max_budget))
    _assert_partial_limit_below_host_exchange(p)
    assert "BroadcastHashJoin" in p  # politeness dim broadcast
    # the literal-budget input (no dim) plans the same shape
    _assert_partial_limit_below_host_exchange(_plan(politeness_select(cand, None, 8)))


def test_politeness_partial_limit_for_a_large_budget(spark):
    """A 10^5 bound is past Spark's default windowGroupLimitThreshold
    (1000); get_spark raises it, so a hot host is still cut to its budget
    per map partition before the host shuffle. The input is range-backed:
    Spark also skips the limit when the input's known row count is below it."""
    host = F.when(F.col("id") < 1000, "cold.example.com").otherwise("hot.example.com")
    cand = spark.range(200_000).select(
        host.alias("host"),
        F.concat(F.lit("http://"), host, F.lit("/p/"), F.col("id").cast("string")).alias("url"),
        (F.col("id") % 997 / 997.0).alias("priority"),
    )
    pol = spark.createDataFrame(
        pd.DataFrame(
            {"host": ["hot.example.com"], "max_fetches_per_round": [10**5], "crawl_delay_rounds": [0]}
        )
    )
    p = _plan(politeness_select(cand, pol, 8, 10**5))
    _assert_partial_limit_below_host_exchange(p)


def test_robots_gate_no_fact_shuffle(spark):
    seeds = spark.createDataFrame(
        [(f"http://h{i % 4:02d}.example.com/p/{i}", 0.5, 0) for i in range(100)],
        ["url", "priority", "depth"],
    )
    cand = with_canonical(seeds)
    rob = spark.createDataFrame(gen_robots(4))
    p = _plan(robots_gate(cand, rob))
    # a formatted plan prints an exchange's key on its own "Arguments:"
    # line; the only hash exchange allowed is the tiny dim-side groupBy,
    # and the fact side meets the dim in one broadcast join
    keys = [l for l in p.splitlines() if l.startswith("Arguments: hashpartitioning(")]
    assert len(keys) == 1 and keys[0].startswith("Arguments: hashpartitioning(host#"), p
    assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M)) == 1, p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p, p


def test_salting_spreads_hot_host(spark):
    """A mega-host's selected URLs must land on >1 fetch partition."""
    n = 2000
    seeds = pd.DataFrame(
        {
            "url": [f"http://hot.example.com/p/{i}" for i in range(n)],
            "priority": [float(i) / n for i in range(n)],
            "depth": 0,
        }
    )
    cand = with_canonical(spark.createDataFrame(seeds))
    pol = spark.createDataFrame(
        pd.DataFrame(
            {"host": ["hot.example.com"], "max_fetches_per_round": [512], "crawl_delay_rounds": [0]}
        )
    )
    selected = politeness_select(cand, pol, max_budget=512)
    parts = (
        salted_repartition(selected, 16)
        .withColumn("pid", F.spark_partition_id())
        .select("pid")
        .distinct()
        .count()
    )
    assert parts > 4  # one host spread across many partitions
    assert selected.count() == 512  # budget exact, none cut by the bound


@pytest.mark.parametrize("budget", [2, 64, 997])
def test_politeness_select_exact_across_salt_counts(spark, budget):
    """The one-window selection (no salts: the id predates their removal)
    equals the direct exact per-host window for small and large budgets,
    with a per-host override above the default and a budget-0 host that
    must never be selected."""
    from pyspark.sql import Window

    n = 3000
    seeds = pd.DataFrame(
        {
            "url": [f"http://h{i % 3:02d}.example.com/p/{i}" for i in range(n)],
            "priority": [float((i * 37) % 997) / 997 for i in range(n)],
            "depth": 0,
        }
    )
    cand = with_canonical(spark.createDataFrame(seeds))
    pol = spark.createDataFrame(
        pd.DataFrame(
            {
                "host": ["h00.example.com", "h01.example.com"],
                "max_fetches_per_round": [budget * 2, 0],  # override, budget 0
                "crawl_delay_rounds": [0, 0],
            }
        )
    )
    w = Window.partitionBy("host").orderBy("priority", "url")
    budget_col = (
        F.when(F.col("host") == "h00.example.com", F.lit(budget * 2))
        .when(F.col("host") == "h01.example.com", F.lit(0))
        .otherwise(F.lit(budget))
    )
    exact = (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= budget_col)
        .select("url")
    )
    expected = sorted(r["url"] for r in exact.collect())
    assert expected and not any("//h01." in u for u in expected)
    got = sorted(
        r["url"]
        for r in politeness_select(cand, pol, budget, max_budget=budget * 2)
        .select("url")
        .collect()
    )
    assert got == expected, budget


def test_asof_join_single_shuffle_no_range_join(spark):
    """The as-of join must plan as union + one window sort per key — never
    a broadcast-nested-loop or cartesian range join."""
    p = _plan(E.q_j_asof_join(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # no join operator AT ALL — union + window replaces the temporal join;
    # the only exchanges are the right-side pre-agg and the window key
    assert "Join" not in p
    ex = [l for l in p.splitlines() if "hashpartitioning" in l]
    assert len(ex) == 2 and any("user_id" in l for l in ex), ex
    assert "Window" in p


def test_range_join_is_equi_join(spark):
    """Binned range join must plan as a hash/broadcast equi-join on the
    bin, not a nested-loop over the BETWEEN predicate."""
    from jobscrawler_spark.operators.asof import range_join_binned

    o = spark.read.parquet(f"{SF}/orders.parquet")
    bands = spark.createDataFrame(
        [("small", 0.0, 100000.0), ("large", 100000.0, 1e6)],
        "band string, lo double, hi double",
    )
    p = _plan(range_join_binned(o, bands, "o_totalprice", "lo", "hi", 50000.0))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p


def test_dedup_joins_never_cartesian(spark):
    """Every dedup/ANN candidate join must be bucket/band-keyed."""
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard",
                 "dedup_embedding_cosine", "image_dedup_clusters"):
        p = _plan(E.queries()[name](spark, SF))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_shuffle_join_pushdown_both_sides(spark):
    p = _plan(E.q_j_shuffle_join(spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in p
    assert "LessThan(o_orderdate" in p


def test_corpus_ops_plans(spark):
    """R4 corpus operators: decontamination joins only on the gram key
    (never cartesian), packing shuffles once on the group key, mixing's
    only join is the broadcast rates dim (fact side never shuffles)."""
    p = _plan(E.q_decontaminate_ngram(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p

    p = _plan(E.q_pack_sequences(spark, SF))
    exchanges = [l for l in p.splitlines() if "hashpartitioning(" in l]
    # kind-tagged union since r5: every exchange keys on source (text pack
    # window — the manifest branch consumes the SAME assignment, its
    # groupBy(shard, source, bin) rides the source partitioning
    # [grouping superset => no re-exchange] and the duplicated window
    # exchange is deduped at runtime by AQE exchange reuse) or on the
    # image pack's (aspect class, md5 shard) key. Pinned: no OTHER
    # shuffle class ever appears, and one exchange per distinct key.
    keys = {("source" if "source" in l else "aspect" if "aspect_bucket" in l else "other") for l in exchanges}
    assert keys == {"source", "aspect"}, exchanges
    assert len(exchanges) <= 3, exchanges

    # the weighted/temperature mixing branches are MAP-SIDE (broadcast
    # rates dim only; the fact side never shuffles) — pinned directly
    from jobscrawler_spark.operators.corpus import mix_threshold_hex, weighted_mix

    d = spark.read.parquet(f"{SF}/documents.parquet")
    rates = spark.createDataFrame(
        [("s", mix_threshold_hex(0.5))], "source string, threshold_hex string"
    )
    p = _plan(weighted_mix(d, rates))
    assert "BroadcastHashJoin" in p
    assert "hashpartitioning(" not in p, p

    # the r6 DSIR kind (r7 form): scoring is MAP-SIDE — the lr table
    # rides the plan as one array literal, so there is NO join at all in
    # the scoring pass; the only allowed exchanges are the fan_out
    # round-robin spread (guide §2.5, no-op at scale) and uniform
    # doc_id-keyed shuffles. The gate itself now returns kinds
    # materialized via _overlap (checkpoint scans), so the pin targets
    # the DSIR builder's own plan pre-materialization.
    from jobscrawler_spark.operators.corpus import dsir_select

    p = _plan(
        dsir_select(
            d, None, keep_frac=0.4,
            target_filter=F.col("lang") == "en", n=d.count(),
        )
    )
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p
    for line in p.splitlines():
        if "hashpartitioning(" in line:
            assert "doc_id" in line, line


def test_repeated_spans_plan(spark):
    """R5 substring dedup: every join is keyed (gram semi-join, doc_id
    final join) — no cartesian/nested-loop anywhere, and the gram-DF agg
    keeps a partial (map-side) aggregate before its shuffle."""
    p = _plan(E.q_dedup_repeated_spans(spark, SF))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p, p
