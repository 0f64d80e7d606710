"""Column-algebra geo functions — the JVM-side (whole-stage-codegen) hot path.

Everything here compiles to built-in Catalyst expressions: no Python is
executed per row (SURVEY.md §2.1 R21, §2.2 G8/G12/G13). The numpy kernel
twins (kernels/geodesy.py) use the same formulas and constants so batch-UDF
and Column paths are interchangeable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..kernels.geodesy import EARTH_RADIUS_M
from ..synth import LAT_MOD, LAT_MUL, LON_MOD, LON_MUL


def haversine_m(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in meters — pure Column trig (no UDF)."""
    la1, lo1 = F.radians(lat1), F.radians(lon1)
    la2, lo2 = F.radians(lat2), F.radians(lon2)
    a = (F.pow(F.sin((la2 - la1) / 2), 2)
         + F.cos(la1) * F.cos(la2) * F.pow(F.sin((lo2 - lo1) / 2), 2))
    a = F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))
    return F.lit(2.0 * EARTH_RADIUS_M) * F.atan2(F.sqrt(a), F.sqrt(1 - a))


def geodesic_m_udf(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """WGS-84 ellipsoidal distance (Vincenty inverse, kernels/geodesy) as
    an Arrow-batched pandas UDF — the optional precise half of G12. The
    JVM-side haversine above stays the hot path (kNN only needs ordering,
    where spherical ≡ ellipsoidal to within the 0.56% flattening bound);
    use this when absolute meters on the ellipsoid matter."""
    import pandas as pd
    # explicit functionType: this module's `from __future__ import
    # annotations` stringifies hints, which Spark's hint inference can't
    # resolve here (same workaround as the GROUPED_AGG UDAF in
    # entry_queries)
    from pyspark.sql.functions import PandasUDFType

    from ..kernels.geodesy import vincenty_m

    @F.pandas_udf("double", PandasUDFType.SCALAR)
    def _geo(a, b, c, d):
        dist, _conv = vincenty_m(a.to_numpy(), b.to_numpy(),
                                 c.to_numpy(), d.to_numpy())
        return pd.Series(dist)
    return _geo(lat1, lon1, lat2, lon2)


def initial_bearing_deg(lat1: Column, lon1: Column,
                        lat2: Column, lon2: Column) -> Column:
    """Initial great-circle bearing (forward azimuth) from point 1 to
    point 2, degrees in [0, 360) — pure Column trig (round 5, the
    navigation companion of G12/G14): θ = atan2(sinΔλ·cosφ₂,
    cosφ₁·sinφ₂ − sinφ₁·cosφ₂·cosΔλ)."""
    la1, lo1 = F.radians(lat1), F.radians(lon1)
    la2, lo2 = F.radians(lat2), F.radians(lon2)
    dlon = lo2 - lo1
    th = F.atan2(F.sin(dlon) * F.cos(la2),
                 F.cos(la1) * F.sin(la2)
                 - F.sin(la1) * F.cos(la2) * F.cos(dlon))
    return F.pmod(F.degrees(th), F.lit(360.0))


def destination(lat: Column, lon: Column, bearing_deg: Column,
                dist_m: Column) -> tuple[Column, Column]:
    """Spherical forward problem as Column trig (the G14 math, exposed
    as a reusable pair instead of inline query algebra): returns
    (dest_lat, dest_lon) Columns."""
    br = F.radians(bearing_deg)
    d = dist_m / F.lit(EARTH_RADIUS_M)
    la1, lo1 = F.radians(lat), F.radians(lon)
    la2 = F.asin(F.sin(la1) * F.cos(d) + F.cos(la1) * F.sin(d) * F.cos(br))
    lo2 = lo1 + F.atan2(F.sin(br) * F.sin(d) * F.cos(la1),
                        F.cos(d) - F.sin(la1) * F.sin(la2))
    return F.degrees(la2), normalize_lon(F.degrees(lo2))


def great_circle_point(lat1: Column, lon1: Column, lat2: Column,
                       lon2: Column, f) -> tuple[Column, Column]:
    """Point a fraction ``f`` ∈ [0,1] of the way along the great circle
    from 1 to 2 (route interpolation / track densification): follow the
    INITIAL bearing for f × the great-circle distance — on a sphere that
    traces exactly the connecting great circle, so this composes the two
    audited primitives instead of introducing new trig. Antipodal pairs
    (bearing undefined) are the caller's degeneracy, as in every slerp."""
    br = initial_bearing_deg(lat1, lon1, lat2, lon2)
    d = haversine_m(lat1, lon1, lat2, lon2) * F.lit(float(f)) \
        if not isinstance(f, Column) else haversine_m(lat1, lon1,
                                                      lat2, lon2) * f
    return destination(lat1, lon1, br, d)


def normalize_lon(lon: Column) -> Column:
    """Wrap longitude to [-180, 180) — F.pmod column math (G13)."""
    return F.pmod(lon + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)


def normalize_lat(lat: Column) -> Column:
    return F.least(F.greatest(lat, F.lit(-90.0)), F.lit(90.0))


def derived_lat(key: Column) -> Column:
    """Deterministic lat from an integer key — same formula as
    synth.derived_lat_sql so the DuckDB oracle reproduces it exactly."""
    return (key.cast("bigint") * LAT_MUL % LAT_MOD) / 1000.0 - 60.0


def derived_lon(key: Column) -> Column:
    return (key.cast("bigint") * LON_MUL % LON_MOD) / 1000.0 - 180.0


# --------------------------------------------------------------------- tiles
# Web-Mercator-style tile pyramid (SURVEY.md §2.2 G8): pure Column algebra.

def tile_x(lon: Column, z: int) -> Column:
    n = F.lit(float(2 ** z))
    x = F.floor((normalize_lon(lon) + 180.0) / 360.0 * n).cast("long")
    return F.least(F.greatest(x, F.lit(0)), F.lit(2 ** z - 1))


def tile_y(lat: Column, z: int) -> Column:
    """Mercator y; lat clamped to the Web-Mercator limit ±85.05113°."""
    n = F.lit(float(2 ** z))
    la = F.radians(F.least(F.greatest(lat, F.lit(-85.05112878)), F.lit(85.05112878)))
    merc = F.log(F.tan(la) + F.lit(1.0) / F.cos(la))
    y = F.floor((F.lit(1.0) - merc / F.lit(3.141592653589793)) / 2.0 * n).cast("long")
    return F.least(F.greatest(y, F.lit(0)), F.lit(2 ** z - 1))


def tile_x_sql(lon_expr: str, z: int) -> str:
    # mirror tile_x's normalize_lon wrap so the twins stay semantically
    # identical even for out-of-range longitudes (ADVICE r1)
    wrapped = f"(mod(mod(({lon_expr}) + 180.0, 360.0) + 360.0, 360.0) - 180.0)"
    return (f"least(greatest(CAST(floor(({wrapped} + 180.0) / 360.0 * {float(2**z)}) "
            f"AS BIGINT), 0), {2**z - 1})")


def tile_y_sql(lat_expr: str, z: int) -> str:
    la = f"radians(least(greatest({lat_expr}, -85.05112878), 85.05112878))"
    merc = f"(ln(tan({la}) + 1.0/cos({la})))"
    return (f"least(greatest(CAST(floor((1.0 - {merc} / pi()) / 2.0 * {float(2**z)}) "
            f"AS BIGINT), 0), {2**z - 1})")


def haversine_m_sql(lat1: str, lon1: str, lat2: str, lon2: str) -> str:
    """The same haversine as ANSI SQL for the DuckDB oracle."""
    a = (f"(pow(sin((radians({lat2}) - radians({lat1}))/2), 2) + "
         f"cos(radians({lat1})) * cos(radians({lat2})) * "
         f"pow(sin((radians({lon2}) - radians({lon1}))/2), 2))")
    a_cl = f"least(greatest({a}, 0.0), 1.0)"
    return f"(2.0 * {EARTH_RADIUS_M!r} * atan2(sqrt({a_cl}), sqrt(1.0 - {a_cl})))"


def tile_bounds(z: Column, x: Column, y: Column) -> Column:
    """Inverse Web-Mercator tile math: (z,x,y) → struct(lat_min, lat_max,
    lon_min, lon_max) of the tile's geographic bbox — per-row z, pure
    Column algebra. The north edge is y (mercator y grows southward);
    latitudes come from atan(sinh(π(1 − 2y/2^z)))."""
    n = F.pow(F.lit(2.0), z.cast("double"))
    xd, yd = x.cast("double"), y.cast("double")

    def lat_of(row: Column) -> Column:
        t = F.lit(3.141592653589793) * (F.lit(1.0) - F.lit(2.0) * row / n)
        return F.degrees(F.atan(F.sinh(t)))

    return F.struct(
        lat_of(yd + 1.0).alias("lat_min"),
        lat_of(yd).alias("lat_max"),
        (xd / n * 360.0 - 180.0).alias("lon_min"),
        ((xd + 1.0) / n * 360.0 - 180.0).alias("lon_max"),
    )


def tiles_to_geojson(tiles: "DataFrame", z: str = "z", x: str = "x",
                     y: str = "y"):
    """Tile rows → GeoJSON Feature strings of each tile's bbox polygon
    (the map-viewer handoff: any web map can overlay the pyramid).
    Returns (poly_id, geojson) with poly_id = the packed tile key and
    name = "z/x/y". Composes tile_bounds with sources/geojson.to_geojson
    — all Column algebra."""
    from ..sources.geojson import to_geojson
    b = tile_bounds(F.col(z), F.col(x), F.col(y))
    ring = F.array(
        F.array(b["lat_min"], b["lon_min"]),
        F.array(b["lat_min"], b["lon_max"]),
        F.array(b["lat_max"], b["lon_max"]),
        F.array(b["lat_max"], b["lon_min"]))
    regions = tiles.select(
        (F.col(z).cast("long") * F.lit(2 ** 58)
         + F.col(x).cast("long") * F.lit(2 ** 29)
         + F.col(y).cast("long")).alias("poly_id"),
        F.concat_ws("/", F.col(z), F.col(x), F.col(y)).alias("name"),
        ring.alias("ring"))
    return to_geojson(regions)
