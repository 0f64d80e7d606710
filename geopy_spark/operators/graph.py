"""Connected components over candidate-pair graphs (the exact upgrade of
the min-id survivor rule in jobs/corpus_pipeline.py: near-dup pairs form
a graph whose components are the duplicate clusters; keeping min(id) per
COMPONENT — not per neighborhood — is the exact dedup semantics).

One distributed algorithm, plus a driver-side solver for small graphs:

* ``star``: alternating large-star / small-star contraction
  (Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14 — public algorithm). Each phase is one shuffle (a groupBy-min
  over the oriented edge set plus a re-join), and the edge set contracts
  toward per-component stars rooted at the component minimum in
  O(log n) rounds — so a 10^6-node path graph converges in ~20 rounds
  where plain label propagation needs 10^6.
* driver: graphs at or below the ``DRIVER_CC_MAX_EDGES`` size guard
  are collected and labelled by a numpy union-find on the driver;
  larger graphs run the star loop. The guard is the only path selector
  (tests force the star loop by patching it).

Fault tolerance at scale: per-round lineage MUST be truncated (with
persist() alone each round's analyzed plan nests the previous round's —
exponential growth OOMs the driver after ~10 rounds even on toy graphs,
observed in round 2). Default is ``localCheckpoint`` (blocks live on
executors: fine in local mode, but on a real cluster a lost executor
kills the job mid-iteration). Pass ``checkpoint_dir`` to use RELIABLE
``checkpoint()`` under that directory (HDFS/S3 path on a cluster):
executor loss then recomputes from the checkpoint files instead of
failing the job.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# driver size guard: edge multisets at or below this row count are
# collected to the driver (16 bytes/row via Arrow — ≤ ~64 MB at the
# default) and solved with a vectorized numpy union-find; larger graphs
# run the distributed star loop. Same engineering posture as the
# engine's broadcast size guards: an iterative distributed loop has a
# multi-second fixed cost per round (checkpoint + fixpoint-test jobs)
# that a small graph never amortizes — measured on the DBSCAN bench
# graph (44k edges): star loop ~6 s, driver union-find < 0.1 s.
DRIVER_CC_MAX_EDGES = 4_000_000


def _checkpointer(df_like: DataFrame, checkpoint_dir: str | None):
    if checkpoint_dir is None:
        return lambda df: df.localCheckpoint(eager=True)
    sc = df_like.sparkSession.sparkContext
    if sc.getCheckpointDir() != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
    return lambda df: df.checkpoint(eager=True)


def connected_components(pairs: DataFrame, a: str = "a", b: str = "b",
                         max_iter: int = 30, *,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """pairs(a,b) → (node, component) with component = min node id of the
    node's connected component.

    Counts the edge multiset once: graphs of ≤ ``DRIVER_CC_MAX_EDGES``
    rows are solved by a driver-side vectorized union-find (identical
    labels, none of the per-round distributed fixed costs); larger ones
    run the star loop, which converges in O(log n) rounds on ANY graph
    shape and raises visibly at ``max_iter`` (a guard, not a silent
    truncation). checkpoint_dir=None uses executor-local checkpoints
    (single-node / local mode); give a durable path for
    executor-loss-safe iteration on a real cluster.
    """
    if pairs.count() <= DRIVER_CC_MAX_EDGES:
        return _cc_driver(pairs, a, b)
    return _cc_star(pairs, a, b, max_iter, checkpoint_dir)


def _cc_driver(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Driver-side connected components for size-guarded small graphs:
    collect the edge list (two long columns over Arrow), label by
    min-hook + pointer doubling in numpy (each round hooks every node to
    the minimum label in its closed neighborhood, then compresses
    label chains to their roots — O(E) numpy per round, O(log n)
    rounds), and return (node, component = min node id). Labels are
    identical to the distributed algorithm's by construction: dense
    indexes are assigned in sorted-id order, so the minimum dense index
    of a component maps back to its minimum node id."""
    pdf = pairs.select(F.col(a).cast("long").alias("u"),
                       F.col(b).cast("long").alias("v")).toPandas()
    eu = pdf["u"].to_numpy(np.int64)
    ev = pdf["v"].to_numpy(np.int64)
    ids, inv = np.unique(np.concatenate([eu, ev]), return_inverse=True)
    spark = pairs.sparkSession
    if ids.size == 0:
        return spark.createDataFrame([], "node long, component long")
    iu, iv = inv[:eu.size], inv[eu.size:]
    lab = np.arange(ids.size, dtype=np.int64)
    while True:
        old = lab.copy()
        np.minimum.at(lab, iu, lab[iv])
        np.minimum.at(lab, iv, lab[iu])
        while True:
            nxt = lab[lab]
            if np.array_equal(nxt, lab):
                break
            lab = nxt
        if np.array_equal(lab, old):
            break
    import pandas as pd
    out = pd.DataFrame({"node": ids, "component": ids[lab]})
    return spark.createDataFrame(out, schema="node long, component long")


def _edge_signature(edges: DataFrame) -> tuple[int, object]:
    """(row count, order-insensitive content checksum) of a distinct edge
    set in ONE scalar aggregate — the star loop's fixpoint test. Replaces
    the round-3 ``exceptAll(...).count()`` set comparison, which cost a
    full second shuffle per round just to test convergence (ADVICE r3).
    The checksum is an exact decimal sum of xxhash64(u,v): two distinct
    edge sets agreeing on BOTH count and sum requires the symmetric
    difference's hashes to cancel exactly — probability ~2^-64 per round,
    negligible against the workload (duplicate-cluster detection).
    decimal(38,0) keeps the sum exact under ANSI mode at any row count
    (no long overflow)."""
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("s")).first()
    return int(row["n"]), row["s"]


def _cc_star(pairs: DataFrame, a: str, b: str, max_iter: int,
             checkpoint_dir: str | None) -> DataFrame:
    ckpt = _checkpointer(pairs, checkpoint_dir)
    nodes = ckpt(pairs.select(F.col(a).alias("node"))
                 .unionByName(pairs.select(F.col(b).alias("node")))
                 .distinct())
    # canonical oriented edge set: (u, v) with u > v (self-loops dropped;
    # both phases below emit only (x, m) pairs with x > m, so the
    # orientation is an invariant of the loop)
    e0 = pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
    edges = ckpt(e0.filter(F.col("x") != F.col("y"))
                 .select(F.greatest("x", "y").alias("u"),
                         F.least("x", "y").alias("v"))
                 .distinct())
    sig_edges = _edge_signature(edges)

    for _ in range(max_iter):
        # large-star: around each center u (over the SYMMETRIZED
        # adjacency), connect every strictly-larger neighbor to
        # m(u) = min(u, min neighbor)
        sym = (edges.unionByName(edges.select(F.col("v").alias("u"),
                                              F.col("u").alias("v"))))
        m = (sym.groupBy("u")
             .agg(F.min("v").alias("mn"))
             .select("u", F.least("u", "mn").alias("m")))
        large = ckpt(sym.join(m, "u")
                     .filter(F.col("v") > F.col("u"))
                     .select(F.col("v").alias("u"), F.col("m").alias("v"))
                     .filter(F.col("u") != F.col("v"))
                     .distinct())

        # small-star: orientation already (u > v); connect every smaller
        # neighbor AND the center itself to m(u) = min smaller neighbor
        mn = large.groupBy("u").agg(F.min("v").alias("m"))
        small = ckpt(large.join(mn, "u")
                     .select(F.col("v").alias("u"), F.col("m").alias("v"))
                     .filter(F.col("u") != F.col("v"))
                     .unionByName(mn.select(F.col("u"),
                                            F.col("m").alias("v")))
                     .distinct())

        sig_new = _edge_signature(small)
        if sig_new == sig_edges:
            edges = small
            break
        edges, sig_edges = small, sig_new
    else:
        raise RuntimeError(
            f"connected_components(star): no fixpoint in {max_iter} rounds")

    # fixpoint edge set is per-component stars (child, root=min id)
    stars = edges.select(F.col("u").alias("node"),
                         F.col("v").alias("component"))
    return (nodes.join(stars, "node", "left")
            .select("node", F.coalesce("component", "node").alias("component")))
