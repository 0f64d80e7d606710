"""Pre-bucketed polygon-cover store (round 5, VERDICT r4 #9): persist a
static region layer's EXPLODED cell cover (+ geometry and bbox) as a
cell-bucketed table, so every later spatial join against that layer
skips both the cover UDF and the cover-side shuffle.

Why this matters at 100 TB: a static vector layer (admin boundaries,
EEZs, land masks) is joined against every new point/image batch. The
plain operator (operators/spatial_join) recomputes the polygon cover —
a pandas UDF over every polygon — and shuffles it per join when the
layer exceeds the broadcast ceiling. Here the cover is computed ONCE at
write and hash-bucketed by `cell`:

* bucketed points ⋈ bucketed cover (same bucket count): SortMergeJoin
  with ZERO Exchange nodes and no cover UDF in the plan — asserted in
  tests/test_polystore.py.
* streaming/ad-hoc points ⋈ bucketed cover: the points side pays its
  one hash Exchange to match the cover's bucketing; the cover side
  still reads shuffle-free and UDF-free.

The cover is built and the candidates resolved by the batch operator's
own helpers (operators/spatial_join ``_region_cover`` and
``_pip_residual``), so stored and computed covers carry the same
columns and give the same pairs; this module keeps only the bucketed
write and its join step. A cover table written without the ``__geom``
geometry key is refused with a ValueError — rewrite it with
write_region_cover_bucketed.

Skew note: the bucketed path cannot salt hot cells (salting would break
the bucket alignment it exists to exploit). For layers with pathological
hot cells keep the plain operator's salted path; the store targets the
common static-layer case where the cover itself is the recurring cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cells import cell_encode_udf
from ..operators.spatial_join import (DEFAULT_LEVEL, _pip_residual,
                                      _region_cover)
from .bucketed import write_bucketed


def write_region_cover_bucketed(regions: DataFrame, table_fqn: str, *,
                                level: int = DEFAULT_LEVEL,
                                n_buckets: int = 16) -> None:
    """One-time cover materialization: run the polygon-cover UDF over the
    layer ONCE, explode to the batch operator's cover rows (cell,
    poly_id, __geom, ring, holes, bbox), and
    write hash-bucketed + sorted by `cell`. Pick n_buckets for the TARGET
    scale (each bucket should stay executor-memory-sized) and reuse the
    SAME count for the points side."""
    write_bucketed(_region_cover(regions, level), table_fqn, "cell",
                   n_buckets=n_buckets)
    # record the cover level so later ad-hoc joins can refuse a mismatch
    # (joining level-7 point cells against a level-6 cover silently
    # returns nothing — fail loudly instead)
    spark = regions.sparkSession
    spark.sql(f"ALTER TABLE {table_fqn} SET TBLPROPERTIES "
              f"('geopy.cover_level' = '{int(level)}')")


def cover_level(spark: SparkSession, table_fqn: str) -> int | None:
    rows = spark.sql(f"SHOW TBLPROPERTIES {table_fqn}").collect()
    for r in rows:
        if r.key == "geopy.cover_level":
            return int(r.value)
    return None


def write_points_bucketed(points: DataFrame, table_fqn: str, *,
                          level: int = DEFAULT_LEVEL,
                          n_buckets: int = 16,
                          lat: str = "lat", lon: str = "lon") -> None:
    """Encode each point's cell at ``level`` and write hash-bucketed +
    sorted by `cell` with the same bucket count as the cover table —
    the one-time shuffle that makes every later join exchange-free."""
    pts = points.withColumn(
        "cell", cell_encode_udf(F.col(lat), F.col(lon), level))
    write_bucketed(pts, table_fqn, "cell", n_buckets=n_buckets)
    spark = points.sparkSession
    spark.sql(f"ALTER TABLE {table_fqn} SET TBLPROPERTIES "
              f"('geopy.cover_level' = '{int(level)}')")


def spatial_join_bucketed(spark: SparkSession, points_fqn: str,
                          cover_fqn: str, *,
                          point_id: str = "point_id") -> DataFrame:
    """Exact point-in-polygon join over the pre-bucketed tables — the
    same candidate → bbox-prune → PIP-residual chain as
    operators/spatial_join, minus the cover UDF and minus every
    Exchange: both scans expose matching hash partitionings, so Catalyst
    plans a shuffle-free (and pre-sorted) SortMergeJoin. The only
    non-scan python in the plan is the exact PIP residual."""
    lv_p = cover_level(spark, points_fqn)
    lv_c = cover_level(spark, cover_fqn)
    if lv_p is not None and lv_c is not None and lv_p != lv_c:
        raise ValueError(
            f"cell-level mismatch: {points_fqn} bucketed at level {lv_p}, "
            f"{cover_fqn} covered at level {lv_c} — the join would "
            f"silently return nothing")
    cand = spark.table(points_fqn).join(spark.table(cover_fqn), "cell")
    return _pip_residual(cand).select(point_id, "poly_id")


def spatial_join_against_cover(points: DataFrame, spark: SparkSession,
                               cover_fqn: str, *, level: int,
                               point_id: str = "point_id") -> DataFrame:
    """Ad-hoc (non-bucketed) points against the stored cover: the points
    side pays ONE hash Exchange to align with the cover's bucketing; the
    cover side still reads pre-bucketed, shuffle- and UDF-free. ``level``
    must equal the level the cover was written at — checked against the
    table's recorded ``geopy.cover_level`` property (a mismatch would
    silently join nothing)."""
    stored = cover_level(spark, cover_fqn)
    if stored is not None and stored != level:
        raise ValueError(
            f"{cover_fqn} was written at cover level {stored}, "
            f"join requested level {level}")
    pts = points.withColumn(
        "cell", cell_encode_udf(F.col("lat"), F.col("lon"), level))
    cand = pts.join(spark.table(cover_fqn), "cell")
    return _pip_residual(cand).select(point_id, "poly_id")

