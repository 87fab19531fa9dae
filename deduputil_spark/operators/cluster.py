"""Iterative connected components over verified duplicate pairs.

A driver union-find fast path, and one distributed algorithm (no
GraphFrames dependency) for edge lists too big for the driver:
small-star/large-star alternation — the alternating-star algorithm of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC 2014).
It converges in O(log n) rounds even on chain/path graphs, where plain label
propagation needs O(diameter).  Each half-round is one aggregate + one join;
no per-node adjacency lists are ever materialized (mega-components stay
safe).

Cluster ids are canonical — min(conv_id) in the component — so results are
deterministic under any parallelism (SURVEY.md §7.4.4).  Every round
localCheckpoints to cut lineage (SURVEY.md §4 custom-work item 2).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    all_vertices: DataFrame | None = None,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """pairs(conv_a, conv_b) -> (conv_id, cluster_id).

    If `all_vertices` (a conv_id DataFrame) is given, vertices without edges
    come back as singletons (cluster_id = conv_id).

    Hybrid execution: below `driver_threshold` edges the component graph fits
    trivially on the driver — path-compressed union-find there beats N Spark
    jobs of fixed overhead by 10-30×.  Above it, the distributed star loop
    runs in O(log n) rounds.
    Verified duplicate edges are a sliver of corpus size even at 10^12 turns,
    but the distributed path keeps the pipeline total when they aren't.
    One bounded Arrow collect both decides the path and fetches the driver
    path's edges: a single Spark job, not a count() and then a collect.
    """
    # toLocalIterator would launch a job per partition sequentially (64
    # mini-jobs ≈ 4 s of scheduler round-trips at local[32])
    edges = pairs.select("conv_a", "conv_b").limit(driver_threshold + 1).toPandas()
    if len(edges) <= driver_threshold:
        labels = _driver_union_find(pairs.sparkSession, edges)
    else:
        labels, _ = _star_components(pairs, max_iterations)
    if all_vertices is not None:
        # no forced broadcast: at the driver threshold the labels can number
        # millions — AQE picks broadcast vs shuffled join by measured size
        labels = (
            all_vertices.select("conv_id")
            .join(labels, "conv_id", "left")
            .withColumn("cluster_id", F.coalesce("cluster_id", F.col("conv_id")))
        )
    return labels


def _star_components(pairs: DataFrame, max_iterations: int) -> tuple[DataFrame, int]:
    """Small-star/large-star alternation -> (labels(conv_id, cluster_id),
    rounds used).  At the fixpoint every edge points (node -> component min).

    large-star: every node u links each GREATER neighbor to min(Γ(u) ∪ {u});
    small-star: with edges oriented high->low, u links each (smaller)
    neighbor and itself to min(Γ(u) ∪ {u}).  Fixpoint detected by a cheap
    (count, bit_xor-of-hash) edge-set fingerprint."""
    nodes = (
        pairs.select(F.col("conv_a").alias("conv_id"))
        .unionByName(pairs.select(F.col("conv_b").alias("conv_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        pairs.select(F.col("conv_a").alias("u"), F.col("conv_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_fp = None
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # large-star
        sym = edges.unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", F.col("u")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star (edges oriented high -> low)
        d = (
            large.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        j = d.join(d.groupBy("u").agg(F.min("v").alias("m")), "u")
        edges = (
            j.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(j.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        fp = edges.agg(
            F.count(F.lit(1)).alias("n"), F.expr("bit_xor(xxhash64(u, v))").alias("x")
        ).collect()[0]
        fp = (fp["n"], fp["x"])
        if fp == prev_fp:
            break
        prev_fp = fp
    lbl = edges.groupBy("u").agg(F.min("v").alias("cluster_id")).withColumnRenamed("u", "conv_id")
    labels = (
        nodes.join(lbl, "conv_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("conv_id")))
    )
    return labels, rounds


def _driver_union_find(spark: SparkSession, edges: pd.DataFrame) -> DataFrame:
    """Small-graph fast path: union-find with path compression over the
    collected edges, canonical min-id roots -> labels(conv_id, cluster_id)
    of every vertex that has an edge."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(edges["conv_a"], edges["conv_b"]):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by canonical min so roots stay the min conv_id
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    verts = list(parent)
    # an Arrow createDataFrame(pandas) stays in the JVM; a list of rows would
    # become a pickled Python RDD and start a pool of Python workers for it
    return spark.createDataFrame(
        pd.DataFrame({"conv_id": verts, "cluster_id": [find(v) for v in verts]}, dtype=object),
        "conv_id string, cluster_id string",
    )

