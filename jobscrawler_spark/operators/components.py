"""Connected components over an edge DataFrame — dedup-cluster assembly.

Near-duplicate detection (MinHash/LSH, embedding cosine, n-gram Jaccard)
emits PAIRS; materializing duplicate CLUSTERS (one canonical doc per
component) needs connected components. The reference has nothing like it
(its dedupe is exact ON CONFLICT); this is the north-rule training-data
extension that makes the pair operators usable at 100 TB.

Algorithm: hash-to-min label propagation with POINTER DOUBLING —
alternating (a) every node takes the min label in its neighborhood and
(b) every node jumps to its label's label — converging in O(log diameter)
rounds instead of O(diameter) for plain propagation (the standard
distributed-CC construction, e.g. the large-star/small-star family).
Each round is two hash joins on uniform keys; labels are persisted and
the previous round unpersisted, so memory is O(V) regardless of rounds.
Convergence is detected by counting changed labels (one action per round).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


_BYTE_UNITS = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20, "g": 30, "gb": 30, "t": 40, "tb": 40}
LOCAL_CC_EDGE_CAP = 1 << 20  # edges: bounds the driver collect whatever the threshold


def _size_bytes(value: str) -> int:
    """A Spark byte-size string ('10485760', '10485760b', '20m', '1g',
    '-1') in bytes, with Spark's binary units; anything else raises."""
    m = re.fullmatch(r"\s*(-?\d+)\s*([a-z]*)\s*", value.lower())
    if m is None or m.group(2) not in _BYTE_UNITS:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m.group(1)) << _BYTE_UNITS[m.group(2)]


def _local_cc_max_edges(spark) -> int:
    """Edge-count ceiling for the driver-side union-find path: tied to
    the session's broadcast threshold (the same "small enough to hold on
    the driver" judgment Spark itself makes for joins), at ~64 bytes per
    collected edge row, and capped at LOCAL_CC_EDGE_CAP edges.
    autoBroadcastJoinThreshold=-1 disables it."""
    thresh = _size_bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    return min(max(thresh, 0) // 64, LOCAL_CC_EDGE_CAP)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) — component = min node id reachable from node.

    ``edges`` is undirected input (each pair once is enough); isolated
    nodes only appear if present as self-loops or on either endpoint.
    Deterministic: min-label over ids, no randomness, no task-order
    dependence.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()
    # pre-partition the (static) edge table by the per-round join key so
    # the loop never re-shuffles it (guide §2.4: establish the
    # partitioning once — the edge table is the BIG side at scale).
    # localCheckpoint (not persist): iteration must TRUNCATE lineage, or
    # the logical plan doubles every round and the driver dies on plan
    # analysis long before data size matters. Lazy (eager=False): the
    # first round's convergence count materializes it inside its own job
    # — no standalone checkpoint jobs up front (r7).
    sym = sym.repartition(F.col("b")).localCheckpoint(eager=False)
    # broadcast-threshold escape (r7): below the session's broadcast-size
    # judgment the pointer-doubling loop is pure scheduling latency (a
    # 512-node dedup graph measured 4.7s across ~50 AQE stage jobs);
    # collect the checkpointed edge list once and run the SAME
    # min-label-reachability union-find driver-side (components_py — the
    # function the test suite already trusts as the CC oracle), returning
    # identical (node, component) labels. The count() that gates the
    # choice materializes the checkpoint the loop's first round would
    # materialize anyway, so the scaled-out path pays one bookkeeping
    # action, never an extra pass; past the threshold the distributed
    # loop below runs unchanged.
    # the distributed path's schema: node keeps the edge columns'
    # nullability (through the union), component comes out of a min
    # aggregate, which is always nullable
    node_f = sym.schema["a"]
    if sym.count() <= _local_cc_max_edges(edges.sparkSession):
        comp = components_py([(r["a"], r["b"]) for r in sym.collect()])
        return edges.sparkSession.createDataFrame(
            list(comp.items()),
            T.StructType(
                [
                    T.StructField("node", node_f.dataType, node_f.nullable),
                    T.StructField("component", node_f.dataType, True),
                ]
            ),
        )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )

    for _ in range(max_iter):
        # (a) neighborhood min, FUSED with the own-label carry (r7): the
        # node's own label rides the same union-aggregate (flagged __own)
        # that takes the neighborhood min, so one uniform-key agg replaces
        # the old join-then-left-join pair, and the previous label (_old)
        # falls out of the same agg for the convergence check below.
        nbr = sym.join(
            labels.withColumnRenamed("node", "b").withColumnRenamed("label", "nl"), "b"
        ).select(
            F.col("a").alias("node"),
            F.col("nl").alias("label"),
            F.lit(False).alias("__own"),
        )
        stepped = (
            labels.withColumn("__own", F.lit(True))
            .unionByName(nbr)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("__own"), F.col("label"))).alias("_old"),
            )
        )
        # (b) pointer doubling: label <- label's label
        parents = stepped.select(
            F.col("node").alias("label"), F.col("label").alias("grand")
        )
        # lazy checkpoint: the convergence count below is the action that
        # materializes (and truncates) the round — one job per round, not
        # a checkpoint job plus a count job
        doubled = (
            stepped.join(parents, "label", "left")
            .select(
                "node",
                "_old",
                F.least(F.col("label"), F.coalesce("grand", F.col("label"))).alias("label"),
            )
            .localCheckpoint(eager=False)
        )
        changed = doubled.filter(F.col("label") != F.col("_old")).count()
        labels = doubled.select("node", "label")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))


def incremental_components(
    new_edges: DataFrame,
    old_labels: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """INCREMENTAL connected components — the continuous-ingest pattern
    for the dedup graph (the CC sibling of incremental_minhash_pairs /
    incremental_phash_pairs): fold a NEW batch of edges into existing
    (node, component) labels WITHOUT re-running CC over the historical
    edge set.

    Correctness: a component's labels form a STAR (node -> component id,
    and the id is the component's min member node), and a star is
    connectivity-equivalent to the original edge set with the same min.
    So CC(star(CC(E_old)) ∪ E_new) == CC(E_old ∪ E_new) exactly — the
    oracle states that invariant, and batch-at-a-time ingest converges
    to the one-shot labeling (pinned in tests/test_components.py).

    Cost per update: O(|labels| + |new edges|) rows instead of
    O(|all historical edges|), and the pointer-doubling rounds are
    O(log of the NEW merge diameter) — old components are already
    diameter-1 stars, so a quiet batch converges in one round. At 10^10
    images the label table is the persistable state (a SnapshotTable
    like the band stores); daily dedup re-clustering touches yesterday's
    labels + today's pairs, never the cumulative pair history.
    """
    star = old_labels.select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    return connected_components(
        star.unionByName(new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))),
        max_iter=max_iter,
    )


def label_clusters(
    items: DataFrame, pairs: DataFrame, id_col: str, a_col: str = "id_a", b_col: str = "id_b"
) -> DataFrame:
    """Near-dup PAIRS -> full-corpus cluster labels + survivors: every
    item gets (id, component, n_members, is_survivor) where component is
    the min reachable id (singletons label themselves) and the survivor
    is the component's min id. Shared by the image_dedup_clusters gate and
    CrawlEngine.image_dedup_report; two uniform-key equi-joins beyond the
    pointer-doubling rounds."""
    comps = connected_components(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    ).withColumnRenamed("node", id_col)
    labeled = (
        items.select(id_col)
        .join(comps, id_col, "left")
        .select(id_col, F.coalesce("component", F.col(id_col)).alias("component"))
    )
    sizes = labeled.groupBy("component").agg(F.count("*").alias("n_members"))
    return labeled.join(sizes, "component").select(
        id_col,
        "component",
        "n_members",
        (F.col(id_col) == F.col("component")).alias("is_survivor"),
    )


def components_py(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find oracle (tests): node -> min reachable node id."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    scale: int = 10**9,
    damping_pct: int = 85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(node, rank) — INTEGER-exact PageRank over the distinct directed
    edge set, for frontier prioritization (rank crawl hosts by link
    centrality — the scheduling signal the reference's fixed config order
    never has). All arithmetic is int64 with explicit floor division, so
    every engine, run, and partitioning produces bit-identical ranks — no
    float summation-order hazard anywhere (CLAUDE.md hard rule; same
    posture as the integer-exact scene-cut detector).

    Contract (the DuckDB oracle re-derives it in pure Python):

    - ``n`` = |distinct(src) ∪ distinct(dst)|; ``init = scale // n``;
      ``base = (init * (100 - damping_pct)) // 100``
    - per iteration:
      ``contrib(v) = Σ over in-edges (u,v) of rank(u) div outdeg(u)``
      (exact integer sum — order-free);
      ``share = (Σ rank of zero-outdegree nodes) // n``;
      ``rank'(v) = base + (damping_pct * (contrib(v) + share)) div 100``
    - rank mass leaks a few units per division (floor) — determinism is
      the contract, not conservation.

    Scale shape (10^10 nodes): per iteration ONE equi-join on src (edges
    may be pre-partitioned/bucketed on src and REUSED every iteration —
    the loop invariant) + one uniform-keyed groupBy on dst + one bounded
    scalar action (the dangling sum, a single long — the watermark-read
    pattern). Ranks are localCheckpointed per iteration: O(iters)
    materializations of an O(V) table, the standard iterative-algorithm
    trade; hot in-degree skew (everyone links the same host) is absorbed
    by the partial aggregation (map-side combine on dst), never a
    row-explosion."""
    # node ids may be any equi-joinable type (user ids, host strings)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n = nodes.count()
    if n == 0:  # no edges: no ranks (and no scale // n)
        return nodes.select("node", F.lit(0).cast("long").alias("rank"))
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg")).localCheckpoint()
    init = scale // n
    base = (init * (100 - damping_pct)) // 100
    ranks = nodes.select("node", F.lit(init).cast("long").alias("rank"))
    dangling_nodes = nodes.join(
        outdeg.select(F.col("src").alias("node")), "node", "left_anti"
    ).localCheckpoint()
    for _ in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(outdeg, "src")
            .select(F.col("dst").alias("node"), F.expr("rank div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangling = (
            dangling_nodes.join(ranks, "node")
            .agg(F.coalesce(F.sum("rank"), F.lit(0)).alias("d"))
            .collect()[0]["d"]
        )
        share = int(dangling) // n
        ranks = (
            nodes.join(contribs, "node", "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.expr(
                        f"({damping_pct} * (coalesce(contrib, 0L) + {share}L)) div 100"
                    )
                ).cast("long").alias("rank"),
            )
            .localCheckpoint()
        )
    return ranks
