"""TRUE raster zonal statistics (round 5, G20): aggregate decoded
GeoTIFF PIXEL values per polygon zone — the canonical GIS raster×vector
primitive (mean NDVI per district, mean elevation per watershed), and
the engine's image-axis × geo-axis flagship composition.

Plan shape (every stage reuses an existing audited operator):

    images --header parse--> per-raster bbox rectangle rings   [G15-ish]
    rect layer ⋈ regions  via polygon_join                     [G16]
      (cell-cover equi-join + bbox prune + exact kernel — the size
       guard and broadcast/SMJ discipline come for free)
    pairs + region geometry --groupBy image--> candidate list  [small]
    payloads ⋈ candidates by image_id, ONE decode per raster:
      pixel-center lat/lon grid from the GeoTIFF affine, then the
      edge-blocked PIP kernel masks pixels per candidate polygon
      (bounded scratch even for megapixel rasters × coastline rings)

Payload discipline: candidates are packed into ONE list row per image
before meeting the payload, so `bytes` is never DUPLICATED per
candidate polygon. When the candidate side is small it broadcasts (AQE)
and bytes never shuffle at all; past that, the image_id equi-join moves
each payload once — at 10¹²-image scale, store the images table
bucketed by image_id (sources/bucketed) and that join is exchange-free
on the payload side too. Geometry crosses the Arrow boundary FLATTENED
(1-deep arrays + ring sizes): deeper computed nestings trip this Spark
build's pyarrow writer (see operators/spatial_join._holes_transport).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import pip as P
from .spatial_join import DEFAULT_LEVEL, polygon_join

_OUT_SCHEMA = ("image_id string, poly_id long, n_px long, sum_val double, "
               "mean_val double, min_val double, max_val double")

# pixel budget for one lat/lon grid block (3 float64 arrays ≈ 24 MB at
# the default): bounds the per-candidate scratch even when a zone spans
# a whole megapixel raster (ADVICE r5: the full h×w grid build was
# ~2.4 GB for a 100 MP raster)
GRID_BLOCK_PX = int(1 << 20)


def _zone_window(g: dict, ring: np.ndarray, holes, w: int, h: int):
    """Pixel index window [i0, i1] × [j0, j1] covering the zone's bbox ∩
    the raster (inverse of the north-up pixel_latlon affine, widened by
    one pixel against float fenceposts — extra pixels are removed by the
    exact PIP mask, so semantics are unchanged). None when disjoint."""
    vs = [ring] + list(holes)
    plat = np.concatenate([v[:, 0] for v in vs])
    plon = np.concatenate([v[:, 1] for v in vs])
    half = 0.5 if g.get("raster_type") != 2 else 0.0
    i0 = int(np.floor((plon.min() - g["lon_min"]) / g["scale_x"] - half)) - 1
    i1 = int(np.ceil((plon.max() - g["lon_min"]) / g["scale_x"] - half)) + 1
    j0 = int(np.floor((g["lat_max"] - plat.max()) / g["scale_y"] - half)) - 1
    j1 = int(np.ceil((g["lat_max"] - plat.min()) / g["scale_y"] - half)) + 1
    i0, i1 = max(i0, 0), min(i1, w - 1)
    j0, j1 = max(j0, 0), min(j1, h - 1)
    if i0 > i1 or j0 > j1:
        return None
    return i0, i1, j0, j1


def _rect_layer(bounds: DataFrame) -> DataFrame:
    """Per-image bbox rectangles in the regions schema (rect ids are
    xxhash64(image_id) — carried back to image_id after the join)."""
    la0, la1 = F.col("lat_min"), F.col("lat_max")
    lo0, lo1 = F.col("lon_min"), F.col("lon_max")
    ring = F.array(F.array(la0, lo0), F.array(la0, lo1),
                   F.array(la1, lo1), F.array(la1, lo0))
    return bounds.select(
        F.xxhash64("image_id").alias("poly_id"),
        ring.alias("ring"),
        "lat_min", "lat_max", "lon_min", "lon_max")


def raster_zonal_stats(images: DataFrame, regions: DataFrame, *,
                       level: int = DEFAULT_LEVEL) -> DataFrame:
    """(image_id, poly_id, n_px, sum_val, mean_val, min_val, max_val):
    per-(raster, zone) stats of the channel-mean pixel value over pixels
    whose CENTER lies inside the zone (outer-minus-holes,
    boundary-inclusive — G5 semantics exactly).

    images:  (image_id, bytes) — GeoTIFF payloads with geographic geo
    tags (rows without them are skipped, never misplaced).
    regions: the regions schema (+ optional holes).
    """
    from .images import geotiff_georef_udf

    bounds = (images
              .select("image_id", geotiff_georef_udf(F.col("bytes"))
                      .alias("g"))
              .select("image_id", "g.lat_min", "g.lat_max",
                      "g.lon_min", "g.lon_max")
              .filter(F.col("lat_min").isNotNull()))
    rects = _rect_layer(bounds)

    if "holes" not in regions.columns:
        regions = regions.withColumn(
            "holes", F.array().cast("array<array<array<double>>>"))

    pairs = polygon_join(rects, regions, level=level,
                         predicate="intersects")
    id_map = bounds.select("image_id",
                           F.xxhash64("image_id").alias("l_id"))
    pairs = pairs.join(F.broadcast(id_map), "l_id").select(
        "image_id", F.col("r_id").alias("poly_id"))

    # geometry flattened to 1-deep arrays for the Arrow hop; one candidate
    # LIST row per image so the payload join duplicates nothing
    geom = regions.select(
        F.col("poly_id"),
        F.flatten(F.col("ring")).alias("ring_flat"),
        F.coalesce(F.flatten(F.flatten(F.col("holes"))),
                   F.array().cast("array<double>")).alias("holes_flat"),
        F.coalesce(F.transform(F.col("holes"), F.size),
                   F.array().cast("array<int>")).alias("hole_sizes"))
    cands = (pairs.join(geom, "poly_id")
             .groupBy("image_id")
             .agg(F.collect_list(F.struct(
                 "poly_id", "ring_flat", "holes_flat", "hole_sizes"))
                 .alias("polys")))

    work = images.select("image_id", "bytes").join(cands, "image_id")

    def _process(it):
        from ..kernels import tiff as T
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                try:
                    g = T.parse_georef(row.bytes)
                    # single-band rasters (DEM/NDVI) aggregate RAW band
                    # values; RGB payloads reduce to the channel mean
                    try:
                        band = T.decode_tiff_band(row.bytes)
                    except ValueError:
                        band = T.decode_tiff(row.bytes) \
                            .astype(np.float64).mean(axis=2)
                except Exception:
                    continue
                if g is None:
                    continue
                h, w = band.shape
                band = band.astype(np.float64)
                for poly in row.polys:
                    ring = np.asarray(poly["ring_flat"],
                                      dtype=np.float64).reshape(-1, 2)
                    holes, pos = [], 0
                    hflat = np.asarray(poly["holes_flat"],
                                       dtype=np.float64).reshape(-1, 2)
                    for n in poly["hole_sizes"]:
                        holes.append(hflat[pos:pos + n])
                        pos += n
                    # crop to the zone's bbox ∩ raster (VERDICT r5 #3:
                    # a small zone over a megapixel raster no longer
                    # pays a full-grid PIP pass), then stream the window
                    # in row blocks so the lat/lon grid scratch stays
                    # bounded (ADVICE r5) — masked values concatenate in
                    # row-major order, so stats are bit-identical to the
                    # old full-grid pass
                    win = _zone_window(g, ring, holes, w, h)
                    if win is None:
                        continue
                    i0, i1, j0, j1 = win
                    win_w = i1 - i0 + 1
                    block = max(1, GRID_BLOCK_PX // win_w)
                    ii_row = np.arange(i0, i1 + 1)
                    chunks = []
                    for jb in range(j0, j1 + 1, block):
                        je = min(jb + block - 1, j1)
                        jj, ii = np.meshgrid(np.arange(jb, je + 1), ii_row,
                                             indexing="ij")
                        plat, plon = T.pixel_latlon(g, ii.ravel(), jj.ravel())
                        m = P.points_in_polygon(plat, plon, ring,
                                                holes=holes)
                        if m.any():
                            chunks.append(
                                band[jb:je + 1, i0:i1 + 1].ravel()[m])
                    if not chunks:
                        continue
                    v = np.concatenate(chunks)
                    out.append((row.image_id, int(poly["poly_id"]),
                                int(v.size), float(v.sum()),
                                float(v.mean()), float(v.min()),
                                float(v.max())))
            yield pd.DataFrame(out, columns=[
                "image_id", "poly_id", "n_px", "sum_val", "mean_val",
                "min_val", "max_val"]) if out else pd.DataFrame(
                    {c: pd.Series(dtype=t) for c, t in (
                        ("image_id", "object"), ("poly_id", "int64"),
                        ("n_px", "int64"), ("sum_val", "float64"),
                        ("mean_val", "float64"), ("min_val", "float64"),
                        ("max_val", "float64"))})

    return work.mapInPandas(_process, _OUT_SCHEMA)


def zone_totals(per_raster: DataFrame) -> DataFrame:
    """Cross-raster rollup: per-polygon totals over every contributing
    raster (one bounded shuffle keyed by zone)."""
    return (per_raster.groupBy("poly_id")
            .agg(F.sum("n_px").alias("n_px"),
                 F.sum("sum_val").alias("sum_val"),
                 (F.sum("sum_val") / F.sum("n_px")).alias("mean_val"),
                 F.min("min_val").alias("min_val"),
                 F.max("max_val").alias("max_val")))
