"""Exact kNN join via cell-ring expansion over the sorted-cell index
(SURVEY.md §2.2 G7; north_star BASELINE.json:6 "kNN via cell-ring
expansion over sorted-cell indexes").

Two-phase exact algorithm (standard grid-kNN bound, scale-safe):

  Phase 1 (candidate radius bound — rewritten in the optimization round):
  a per-cell occupied-cell HISTOGRAM of the point table (one map-side-
  combined groupBy, collected to the driver as two numpy arrays) replaces
  the old iterative disk-join loop. For each query, a vectorized numpy
  doubling search over the histogram finds the smallest radius r* whose
  rectangular cell window holds ≥ k points; the spherical
  meridian-then-parallel path bound over that window is an UPPER bound
  d_k on the true kth distance (every one of the ≥ k points inside the
  window is within d_k of the query, so the kth nearest is too). The old
  loop materialized candidate pairs and ranked them with a window per
  doubling round — 3+ Spark jobs per round; the histogram needs ONE job
  total and no candidate materialization, at the price of a modestly
  looser d_k (≤ one window diagonal vs the exact kth candidate
  distance), which only widens the phase-2 candidate superset, never the
  result.

  Phase 2 (exact window, unchanged): join each query's rectangular disk
  guaranteed to contain every point within d_k — ±R_i rows, ±R_j cols
  where R_i = ceil(d_k / cell_lat_m) + 1 and R_j accounts for longitude
  shrinkage at the band's worst latitude (cos clamp; near-pole bands fall
  back to full longitude wrap). Final top-k by (haversine, id) —
  deterministic tie-break so row sets byte-match the oracle.

At 100 TB the point side is scanned twice (histogram + join), both scans
column-pruned and shuffle-free; the fan-out join broadcasts the exploded
query disks when they fit, so the big side never shuffles. The histogram
is bounded by min(distinct occupied cells, 4^HIST_MAX_LEVEL) rows of two
longs — levels deeper than HIST_MAX_LEVEL aggregate the histogram at
that coarser level (the bound stays valid, just looser).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cells import (cell_encode_udf, cell_i_col, cell_j_col,
                               ij_to_cell_col)
from ..functions.geo import haversine_m
from ..kernels import cells as K
from ..kernels.geodesy import meters_per_deg_lat
from . import spatial_join as SJ

DEFAULT_LEVEL = 4


def _with_cell(df: DataFrame, level: int) -> DataFrame:
    return df.withColumn("cell", cell_encode_udf(F.col("lat"), F.col("lon"), level))


def _candidates(queries: DataFrame, points: DataFrame, ri_col, rj_col,
                level: int, extra: tuple[str, ...] = (),
                broadcast_q: bool = True) -> DataFrame:
    """Explode per-query rectangular disk cells and equi-join the point
    table — broadcast when the exploded side is estimated small, else a
    plain cell-bucketed shuffle join (AQE handles residual skew).

    The fan-out is pure Column algebra since the optimization round
    (sequence/explode over row and column offsets + the Morton bit
    ladder), replacing the pandas disk UDF: the exploded side stays in
    whole-stage codegen, and repeated evaluations of the same plan (e.g.
    DBSCAN's two passes over the eps pair stream) no longer pay a python
    round-trip each. Cell-set semantics match kernels.cells
    .cell_disk_rect exactly: latitude clamps, longitude wraps with rj
    capped at n/2, and the duplicate wrap column is dropped."""
    n = 1 << level
    rjc = F.least(rj_col, F.lit(n // 2)).cast("long")
    # when the wrapped range covers the whole grid width (2·rjc+1 > n,
    # only possible at rjc = n/2), +rjc and -rjc are the same column —
    # emit -rjc..rjc-1 to match cell_disk_rect's np.unique
    rj_hi = F.when(rjc * 2 + 1 > F.lit(n), rjc - 1).otherwise(rjc)
    q = (queries
         .withColumn("_qi", cell_i_col(F.col("cell")))
         .withColumn("_qj", cell_j_col(F.col("cell")))
         .withColumn("_di", F.explode(F.sequence(-ri_col.cast("long"),
                                                 ri_col.cast("long"))))
         .withColumn("_ii", F.col("_qi") + F.col("_di"))
         .filter((F.col("_ii") >= 0) & (F.col("_ii") < n))
         .withColumn("_dj", F.explode(F.sequence(-rjc, rj_hi)))
         .withColumn("_jj", F.pmod(F.col("_qj") + F.col("_dj"), F.lit(n)))
         .select("query_id", F.col("lat").alias("qlat"),
                 F.col("lon").alias("qlon"),
                 ij_to_cell_col(F.col("_ii"), F.col("_jj"), level)
                 .alias("cell"), *extra))
    q = F.broadcast(q) if broadcast_q else q
    return (points.join(q, "cell")
            .withColumn("dist_m", haversine_m(F.col("qlat"), F.col("qlon"),
                                              F.col("lat"), F.col("lon"))))


HIST_MAX_LEVEL = 12  # histogram grid cap: ≤ 4^12 ≈ 16.7M possible cells,
                     # and in practice ≤ the number of OCCUPIED cells —
                     # two longs per row collected once to the driver


def _cell_histogram(pts: DataFrame, hist_level: int):
    """Occupied-cell histogram of pts(lat, lon, ...) at ``hist_level`` in
    row-major key order: returns (sorted int64 keys i*N+j, prefix-sum
    counts len+1). One map-side-combined groupBy job; the key uses the
    same clamp/wrap/floor sequence as kernels.cells.latlon_to_ij so the
    numpy side of the bound search sees identical indexes."""
    nh = 1 << hist_level
    nf = float(nh)
    la = F.least(F.greatest(F.col("lat").cast("double"), F.lit(-90.0)),
                 F.lit(90.0))
    lo = F.pmod(F.col("lon").cast("double") + F.lit(180.0),
                F.lit(360.0)) - F.lit(180.0)
    i = F.least(F.floor((la + F.lit(90.0)) / F.lit(180.0) * F.lit(nf)),
                F.lit(nh - 1))
    j = F.least(F.floor((lo + F.lit(180.0)) / F.lit(360.0) * F.lit(nf)),
                F.lit(nh - 1))
    pdf = (pts.groupBy((i * F.lit(nh) + j).alias("hk"))
           .agg(F.count("*").alias("c"))).toPandas()
    keys = pdf["hk"].to_numpy(np.int64)
    cnts = pdf["c"].to_numpy(np.int64)
    order = np.argsort(keys)
    keys = keys[order]
    pref = np.zeros(keys.size + 1, dtype=np.int64)
    np.cumsum(cnts[order], out=pref[1:])
    return keys, pref


def _rect_counts(keys, pref, iq, jq, ri: int, rj: int, nh: int):
    """Vectorized point count inside the ±ri-row, ±rj-col cell rectangle
    around each (iq, jq) — row segments of the row-major histogram via
    searchsorted against the prefix sums; longitude wraps (up to two
    j-intervals per row), latitude clamps."""
    rows = np.arange(-ri, ri + 1, dtype=np.int64)
    ii = iq[:, None] + rows[None, :]                    # (P, 2ri+1)
    valid = (ii >= 0) & (ii < nh)
    ii = np.where(valid, ii, 0)
    base = ii * nh
    if 2 * rj + 1 >= nh:                                # full wrap
        lo_a, hi_a = base, base + nh
        lo_b = hi_b = base                              # empty
    else:
        j0 = (jq - rj) % nh
        j1 = (jq + rj) % nh
        wrap = (j0 > j1)
        a_lo = j0
        a_hi = np.where(wrap, nh - 1, j1)
        b_hi = np.where(wrap, j1, -1)                   # empty when b_hi<0
        lo_a = base + a_lo[:, None]
        hi_a = base + a_hi[:, None] + 1
        lo_b = base
        hi_b = base + b_hi[:, None] + 1
    flat = np.searchsorted(keys, np.stack([lo_a, hi_a, lo_b, hi_b]))
    seg = (pref[flat[1]] - pref[flat[0]]
           + np.maximum(pref[flat[3]] - pref[flat[2]], 0))
    return np.where(valid, seg, 0).sum(axis=1)


def knn_join(queries: DataFrame, points: DataFrame, k: int, *,
             level: int = DEFAULT_LEVEL, point_id: str = "id",
             points_have_cell: bool = False) -> DataFrame:
    """queries(query_id, lat, lon) × points(id, lat, lon) → exactly the k
    nearest points per query: (query_id, neighbor_id, rank).

    points_have_cell=True skips re-encoding when the point side already
    carries a `cell` column at ``level`` (sorted-cell store path)."""
    n = 2 ** level
    cell_deg = K.cell_size_deg(level)
    m_per_deg = meters_per_deg_lat()

    pts = points if points_have_cell else _with_cell(points, level)
    pts = pts.select(F.col(point_id).alias("nid"), "lat", "lon", "cell")
    spark = pts.sparkSession

    # ---- Phase 1: per-query radius + dk upper bound from the occupied-
    # cell histogram (module docstring) — ONE Spark job, no candidate
    # materialization, no per-round windows/persists/anti-joins.
    # The histogram runs FINER than the join grid (level+3, capped):
    # the dk bound's looseness is ~one histogram-rect radius, so finer
    # bins tighten it toward the true kth distance — measured at the
    # bench shape (600k points, level 8, k=10): hist at the join level
    # bounds dk at ~508 km median and 2.76M phase-2 candidates, hist at
    # level+3 gives ~110 km and 545k candidates, within ~5% of the
    # old exact-dk candidate volume. Cost: the histogram is keyed by
    # OCCUPIED cells only (≤ n_points rows of two longs, 267k here).
    hist_level = min(level + 3, HIST_MAX_LEVEL)
    nh = 1 << hist_level
    keys, pref = _cell_histogram(pts, hist_level)
    bc = spark.sparkContext.broadcast((keys, pref))
    cell_h = 180.0 / nh
    cell_w = 360.0 / nh

    @F.pandas_udf("dk double, full boolean")
    def _bound(la: pd.Series, lo: pd.Series) -> pd.DataFrame:
        hk, hp = bc.value
        lat, lon = K.normalize_lat_lon(la.to_numpy(np.float64),
                                       lo.to_numpy(np.float64))
        iq, jq = (a.astype(np.int64)
                  for a in K.latlon_to_ij(lat, lon, hist_level))
        p_n = lat.size
        res_r = np.zeros(p_n, dtype=np.int64)
        res_full = np.zeros(p_n, dtype=bool)
        pend = np.arange(p_n)
        # always start at one histogram cell: smaller satisfying rects
        # give tighter dk bounds, and extra doubling rounds are pure
        # numpy; the full-grid radius nh guarantees termination
        r = 1
        while pend.size:
            cnt = _rect_counts(hk, hp, iq[pend], jq[pend], r, 2 * r, nh)
            done = (cnt >= k) | (r >= nh)
            res_r[pend[done]] = r
            res_full[pend[done]] = cnt[done] >= k
            pend = pend[~done]
            r = min(2 * r, nh)
        # conservative kth-distance bound over the ±r*, ±2r* rectangle:
        # meridian arc to the worst row edge + parallel arc (at the band
        # latitude nearest the equator) to the worst column edge — an
        # upper bound on the great-circle distance to ANY point in the
        # rectangle, hence on the kth-nearest distance when the rectangle
        # holds ≥ k points. full=False queries (< k points even over
        # the full grid) get the full-window bound; phase 2 then skips the
        # distance prune for them, exactly like the old loop's fallback.
        rr = res_r
        lat_lo = np.maximum(-90.0, (iq - rr) * cell_h - 90.0)
        lat_hi = np.minimum(90.0, (iq + rr + 1) * cell_h - 90.0)
        dlat = np.maximum(lat - lat_lo, lat_hi - lat)
        off = lon - (jq * cell_w - 180.0)
        left = 2 * rr * cell_w + off
        right = (2 * rr + 1) * cell_w - off
        dlon = np.where(4 * rr + 1 >= nh, 180.0,
                        np.minimum(180.0, np.maximum(left, right)))
        cosm = np.where((lat_lo <= 0.0) & (lat_hi >= 0.0), 1.0,
                        np.cos(np.radians(np.minimum(np.abs(lat_lo),
                                                     np.abs(lat_hi)))))
        dk = m_per_deg * dlat + m_per_deg * cosm * dlon
        return pd.DataFrame({"dk": dk, "full": res_full})

    qry = _with_cell(queries, level).select("query_id", "lat", "lon", "cell")
    w = Window.partitionBy("query_id").orderBy(F.col("dist_m").asc(),
                                              F.col("nid").asc())

    # ---- Phase 2: exact rectangular window from the d_k bound
    q2 = (qry.withColumn("_b", _bound(F.col("lat"), F.col("lon")))
          .select("query_id", "lat", "lon", "cell",
                  F.col("_b.dk").alias("dk"),
                  F.col("_b.full").alias("full")))
    # exactness needs only ball(dk) ⊆ window — ri/rj derive from dk alone
    ri = (F.ceil(F.col("dk") / F.lit(cell_deg * m_per_deg)) + F.lit(1)).cast("long")
    # worst-case latitude of any candidate still inside the ±ri band
    band_lat = F.least(F.abs(F.col("lat")) + (ri.cast("double") + 1) * F.lit(cell_deg),
                       F.lit(89.99))
    cos_min = F.cos(F.radians(band_lat))
    lon_cell_deg = 2.0 * cell_deg  # grid is 2^L over 360°
    rj = (F.ceil(F.col("dk") / (F.lit(lon_cell_deg * m_per_deg) * cos_min)) + F.lit(1)).cast("long")

    q2 = q2.select("query_id", "lat", "lon", "cell",
                   ri.alias("_ri"), rj.alias("_rj"), F.col("dk").alias("_dk"),
                   F.col("full").alias("_full"))
    # the size-guard agg below and the phase-2 join both consume q2, and
    # its subtree holds the _bound pandas UDF — persist so the bound pass
    # runs ONCE per call, not once per action (narrow frame: 8 scalar
    # columns per query; MEMORY_AND_DISK spills for huge query batches,
    # but the entry stays cached for the rest of the session: nothing
    # unpersists it yet — releasing it is ROADMAP #3)
    q2 = q2.persist()
    # size-guarded fan-out: estimate the exploded window rows (one cheap
    # agg over the small per-query frame) and fall back to a shuffle join
    # past the engine's broadcast ceiling (spatial_join.BROADCAST_MAX_ROWS)
    est2 = q2.agg(F.sum((2 * F.col("_ri") + 1)
                        * (2 * F.least(F.col("_rj"), F.lit(n // 2)) + 1))
                  ).first()[0] or 0
    cand2 = _candidates(q2, pts, F.col("_ri"), F.col("_rj"), level,
                        extra=("_dk", "_full"),
                        broadcast_q=est2 <= SJ.BROADCAST_MAX_ROWS)
    # prune before the window: when phase 1 found >= k candidates, any point
    # farther than the dk upper bound cannot be in the true top-k
    cand2 = cand2.filter((~F.col("_full")) | (F.col("dist_m") <= F.col("_dk")))

    return (cand2.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("nid").alias("neighbor_id"), "rank"))


def knn_join_indexed(spark, store_path: str, queries: DataFrame, k: int, *,
                     level: int, point_id: str = "id") -> DataFrame:
    """Exact kNN against a sorted-cell point store (sources/store.py).

    Same two-phase algorithm as knn_join, but the point side is the
    persisted store: reads prune by coarse partition + fine-cell pushdown,
    so each phase touches only the cells in the queries' disks — the
    narrow-read path a 100 TB deployment uses (the full-scan knn_join is
    the in-memory/bench variant). The fine `cell` column is stored, so no
    re-encode happens at read time."""
    pts = spark.read.parquet(store_path).select(
        F.col(point_id).alias(point_id), "lat", "lon", "cell", "pcell")
    # correctness note: read_cells-style pruning happens naturally here —
    # the broadcast disk join's `cell` equi-condition pushes into the scan
    # (dynamic filter); at minimum the parquet row-group stats on the
    # sorted cell column skip non-matching groups.
    return knn_join(queries, pts.drop("pcell"), k, level=level,
                    point_id=point_id, points_have_cell=True)


def within_distance_join(queries: DataFrame, points: DataFrame,
                         radius_m: float, *, level: int = DEFAULT_LEVEL,
                         point_id: str = "id") -> DataFrame:
    """Distance-within join (range join on the sphere): every (query,
    point) pair with haversine distance ≤ ``radius_m`` — the fixed-radius
    sibling of the kNN join, e.g. "all images within 50 km of each city".
    Returns (query_id, <point_id>, dist_m).

    One-shot version of the kNN disk machinery: the radius is known up
    front, so there is no doubling loop — each query explodes ONE
    rectangular cell disk sized to contain its haversine ball
    (±ri rows from the meridian arc; ±rj cols from longitude shrinkage
    at the ball's extreme latitude, +1 cell margin for the query's
    offset within its own cell), the disk side broadcasts under the
    same row ceiling as kNN, and the exact haversine filter
    removes rectangle corners. A point lives in exactly one cell and
    disk cells are unique per query, so the join emits no duplicate
    pairs and needs no dedup shuffle."""
    n = 2 ** level
    cell_deg = K.cell_size_deg(level)
    radius_deg = radius_m / meters_per_deg_lat()
    ri = int(radius_deg / cell_deg) + 1

    qry = _with_cell(queries, level)
    lat_edge = F.least(F.lit(89.9), F.abs(F.col("lat")) + F.lit(radius_deg))
    rj = (F.lit(radius_deg)
          / (F.lit(cell_deg) * F.cos(F.radians(lat_edge)))).cast("int") + 1
    qry = (qry.withColumn("_ri", F.lit(ri))
           .withColumn("_rj", F.least(rj, F.lit(n // 2))))

    # broadcast decision: exact exploded-row estimate from the per-query
    # rectangle sizes — one tiny agg over the (small) query side, same
    # rationale as spatial_join's size guard
    est = qry.agg(F.sum((2 * F.col("_ri") + 1)
                        * (2 * F.col("_rj") + 1))).first()[0] or 0

    pts = _with_cell(points, level).select(
        F.col(point_id).alias("nid"), "lat", "lon", "cell")
    cand = _candidates(qry, pts, F.col("_ri"), F.col("_rj"), level,
                       broadcast_q=est <= SJ.BROADCAST_MAX_ROWS)
    return (cand.filter(F.col("dist_m") <= F.lit(float(radius_m)))
            .select("query_id", F.col("nid").alias(point_id),
                    F.round("dist_m", 3).alias("dist_m")))
