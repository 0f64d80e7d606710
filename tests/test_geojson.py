"""GeoJSON source/sink (sources/geojson — RFC 7946): axis-order flip,
ring closure, FeatureCollection explode, roundtrip exactness, and
spatial-join equivalence between native regions and a GeoJSON roundtrip
of them (the real acceptance bar: the interchange path must not move a
single join row)."""

import json

import pytest
from pyspark.sql import functions as F

from geopy_spark import synth
from geopy_spark.entry_queries import _REGIONS_SCHEMA
from geopy_spark.sources.geojson import read_geojson, to_geojson


@pytest.fixture(scope="module")
def regions(spark):
    return spark.createDataFrame(synth.polygons_pdf(synth.oracle_polygons(12)),
                                 schema=_REGIONS_SCHEMA).persist()


def test_roundtrip_exact(spark, regions):
    gj = to_geojson(regions)
    back = read_geojson(gj)
    a = {r.poly_id: r.ring for r in regions.collect()}
    b = {r.poly_id: [list(v) for v in r.ring] for r in back.collect()}
    assert set(a) == set(b)
    for pid in a:
        assert [list(v) for v in a[pid]] == b[pid], pid
    # bboxes recomputed on read match the fixture's stored bboxes
    joined = back.alias("b").join(regions.alias("r"), "poly_id") \
        .select(*[F.abs(F.col(f"b.{c}") - F.col(f"r.{c}")).alias(c)
                  for c in ("lat_min", "lat_max", "lon_min", "lon_max")])
    assert all(max(row) < 1e-9 for row in joined.collect())
    assert {r.geom_type for r in back.collect()} == {"Polygon"}


def test_rfc_conventions_on_the_wire(spark, regions):
    """The emitted JSON is genuinely RFC 7946: [lon, lat] positions and
    a closed linear ring."""
    row = to_geojson(regions).first()
    f = json.loads(row.geojson)
    assert f["type"] == "Feature" and f["geometry"]["type"] == "Polygon"
    ring = f["geometry"]["coordinates"][0]
    assert ring[0] == ring[-1]  # closed
    src = {r.poly_id: r.ring for r in regions.collect()}[int(f["id"])]
    assert ring[0] == [src[0][1], src[0][0]]  # [lon, lat] order


def test_feature_collection_and_foreign_features(spark):
    """A FeatureCollection written by another tool: string ids, extra
    properties, a non-Polygon geometry surfaced (not dropped)."""
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": "7",
         "properties": {"name": "alpha", "pop": "12"},
         "geometry": {"type": "Polygon", "coordinates":
                      [[[10.0, 50.0], [11.0, 50.0], [11.0, 51.0],
                        [10.0, 50.0]]]}},
        {"type": "Feature", "id": "x1", "properties": None,
         "geometry": {"type": "Polygon", "coordinates":
                      [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]}},
    ]}
    df = spark.createDataFrame([(json.dumps(fc),)], "geojson string")
    out = read_geojson(df, collection=True).collect()
    assert len(out) == 2
    byname = {r.name: r for r in out}
    a = byname["alpha"]
    assert a.poly_id == 7 and a.properties["pop"] == "12"
    assert [list(v) for v in a.ring] == [[50.0, 10.0], [50.0, 11.0],
                                         [51.0, 11.0]]  # flipped + opened
    x = byname["x1"]  # non-numeric id: deterministic hash, name from id
    assert x.poly_id >= 0
    again = read_geojson(df, collection=True).collect()
    assert {r.poly_id for r in again} == {r.poly_id for r in out}


def test_spatial_join_equivalence_through_geojson(spark, regions):
    """The acceptance bar: running the engine's spatial join against a
    GeoJSON roundtrip of the regions returns the identical row set."""
    from geopy_spark.operators.spatial_join import spatial_join

    ppdf = synth.make_images_pdf(3000, with_pixels=False)[
        ["image_id", "lat", "lon"]].rename(columns={"image_id": "point_id"})
    pts = spark.createDataFrame(ppdf)
    native = {(r.point_id, r.poly_id)
              for r in spatial_join(pts, regions, point_id="point_id",
                                    level=6).collect()}
    rt = read_geojson(to_geojson(regions)) \
        .select("poly_id", "name", "ring",
                "lat_min", "lat_max", "lon_min", "lon_max")
    roundtrip = {(r.point_id, r.poly_id)
                 for r in spatial_join(pts, rt, point_id="point_id",
                                       level=6).collect()}
    assert native == roundtrip and len(native) > 0


def test_wkt_roundtrip_and_join_equivalence(spark, regions):
    from geopy_spark.operators.spatial_join import spatial_join
    from geopy_spark.sources.geojson import read_wkt, to_wkt

    wkt = to_wkt(regions)
    row = wkt.first()
    assert row.wkt.startswith("POLYGON ((") and row.wkt.endswith("))")
    first_pair = row.wkt[len("POLYGON (("):].split(",")[0].split()
    src = {r.poly_id: r.ring for r in regions.collect()}[row.poly_id]
    assert [float(x) for x in first_pair] == [src[0][1], src[0][0]]  # lon lat

    back = read_wkt(wkt, id_col="poly_id").withColumn("name", F.lit("w"))
    a = {r.poly_id: [list(v) for v in r.ring] for r in regions.collect()}
    b = {r.poly_id: [list(v) for v in r.ring] for r in back.collect()}
    assert a == b
    assert {r.geom_type for r in back.collect()} == {"POLYGON"}

    ppdf = synth.make_images_pdf(2000, with_pixels=False)[
        ["image_id", "lat", "lon"]].rename(columns={"image_id": "point_id"})
    pts = spark.createDataFrame(ppdf)
    native = {(r.point_id, r.poly_id)
              for r in spatial_join(pts, regions, point_id="point_id",
                                    level=6).collect()}
    rt = {(r.point_id, r.poly_id)
          for r in spatial_join(pts, back, point_id="point_id",
                                level=6).collect()}
    assert native == rt and len(native) > 0


def test_multipolygon_read_parts_and_join_union(spark):
    """A MultiPolygon Feature explodes to one region row per member
    polygon sharing the Feature's poly_id — and the spatial join then
    gives RFC 7946 union-of-parts containment with no operator change
    (G6 dedups pairs on poly_id)."""
    from geopy_spark.operators.spatial_join import spatial_join

    mp = {"type": "Feature", "id": "9",
          "properties": {"name": "twin"},
          "geometry": {"type": "MultiPolygon", "coordinates": [
              [[[10.0, 50.0], [12.0, 50.0], [12.0, 52.0], [10.0, 52.0],
                [10.0, 50.0]]],
              [[[30.0, 50.0], [32.0, 50.0], [32.0, 52.0], [30.0, 52.0],
                [30.0, 50.0]]],
          ]}}
    df = spark.createDataFrame([(json.dumps(mp),)], "geojson string")
    rows = read_geojson(df).collect()
    assert [r.part for r in rows] == [0, 1]
    assert {r.poly_id for r in rows} == {9}
    assert {r.geom_type for r in rows} == {"MultiPolygon"}
    # part 0 ring flipped+opened
    assert [list(v) for v in rows[0].ring] == [
        [50.0, 10.0], [50.0, 12.0], [52.0, 12.0], [52.0, 10.0]]

    regions = read_geojson(df).select(
        "poly_id", "name", "ring", "holes",
        "lat_min", "lat_max", "lon_min", "lon_max")
    pts = spark.createDataFrame(
        [(1, 51.0, 11.0),    # inside part 0
         (2, 51.0, 31.0),    # inside part 1
         (3, 51.0, 20.0),    # between the parts
         (4, 10.0, 11.0)],   # far away
        "point_id long, lat double, lon double")
    got = {(r.point_id, r.poly_id)
           for r in spatial_join(pts, regions, point_id="point_id",
                                 level=6).collect()}
    assert got == {(1, 9), (2, 9)}


def test_multipolygon_roundtrip_multi_emit(spark):
    """read ∘ to_geojson_multi reproduces the part rows exactly, and a
    hash-id MultiPolygon keeps ONE id across its part rows."""
    from geopy_spark.sources.geojson import to_geojson_multi

    mp = {"type": "Feature", "id": "9", "properties": {"name": "twin"},
          "geometry": {"type": "MultiPolygon", "coordinates": [
              [[[10.0, 50.0], [12.0, 50.0], [12.0, 52.0], [10.0, 50.0]]],
              [[[30.0, 50.0], [32.0, 50.0], [32.0, 52.0], [30.0, 50.0]]],
          ]}}
    noid = {k: v for k, v in mp.items() if k != "id"}
    df = spark.createDataFrame([(json.dumps(mp),), (json.dumps(noid),)],
                               "geojson string")
    first = read_geojson(df).collect()
    assert len(first) == 4
    assert len({r.poly_id for r in first}) == 2  # one id per feature
    back = read_geojson(to_geojson_multi(
        read_geojson(df).select("poly_id", "part", "name",
                                "ring", "holes"))).collect()
    a = {(r.poly_id, r.part): [list(v) for v in r.ring] for r in first}
    b = {(r.poly_id, r.part): [list(v) for v in r.ring] for r in back}
    # emitted ids are the original poly_ids (numeric strings), so the
    # keys and rings must match exactly
    assert a == b
    assert {r.geom_type for r in back} == {"MultiPolygon"}


def test_geojson_unsupported_geometry_surfaced(spark):
    fc = {"type": "FeatureCollection", "features": [
        {"type": "Feature", "id": "1", "properties": {"name": "pt"},
         "geometry": {"type": "Point", "coordinates": [1.0, 2.0]}},
        {"type": "Feature", "id": "2", "properties": {"name": "sq"},
         "geometry": {"type": "Polygon", "coordinates":
                      [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]}},
    ]}
    df = spark.createDataFrame([(json.dumps(fc),)], "geojson string")
    out = {r.name: r for r in read_geojson(df, collection=True).collect()}
    assert len(out) == 2  # the Point row is surfaced, not dropped
    assert out["pt"].geom_type == "Point" and out["pt"].ring is None
    assert out["sq"].geom_type == "Polygon" and out["sq"].part == 0


def test_wkt_multipolygon_parsed(spark):
    """MULTIPOLYGON parses to part rows; a hole inside a member polygon
    lands in that part's ``holes`` (round 4 — previously dropped), not
    mis-split into a new part; POINT stays surfaced with a null ring."""
    from geopy_spark.sources.geojson import read_wkt

    df = spark.createDataFrame(
        [("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), "
          "((5 5, 7 5, 7 7, 5 7, 5 5), (5.5 5.5, 6 5.5, 6 6, 5.5 5.5)))",),
         ("POLYGON ((0 0, 2 0, 2 2, 0 0))",),
         ("POINT (3 4)",)], "wkt string")
    out = read_wkt(df).collect()
    assert sorted(r.geom_type for r in out) == [
        "MULTIPOLYGON", "MULTIPOLYGON", "POINT", "POLYGON"]
    poly = next(r for r in out if r.geom_type == "POLYGON")
    assert [list(v) for v in poly.ring] == [[0.0, 0.0], [0.0, 2.0],
                                            [2.0, 2.0]]
    mparts = sorted((r for r in out if r.geom_type == "MULTIPOLYGON"),
                    key=lambda r: r.part)
    assert [r.part for r in mparts] == [0, 1]
    assert len({r.poly_id for r in mparts}) == 1
    assert [list(v) for v in mparts[0].ring] == [[0.0, 0.0], [0.0, 1.0],
                                                 [1.0, 1.0]]
    # second member: outer ring + its hole preserved per part
    assert [list(v) for v in mparts[1].ring] == [
        [5.0, 5.0], [5.0, 7.0], [7.0, 7.0], [7.0, 5.0]]
    assert [[list(v) for v in h] for h in mparts[1].holes] == [
        [[5.5, 5.5], [5.5, 6.0], [6.0, 6.0]]]
    assert list(mparts[0].holes) == []
    pt = next(r for r in out if r.geom_type == "POINT")
    assert pt.ring is None


def test_wkt_multipolygon_roundtrip(spark):
    from geopy_spark.sources.geojson import read_wkt, to_wkt_multi

    src = ("MULTIPOLYGON (((10 50, 12 50, 12 52, 10 50)), "
           "((30 50, 32 50, 32 52, 30 50)))")
    df = spark.createDataFrame([(src,)], "wkt string")
    first = read_wkt(df).collect()
    assert len(first) == 2
    back = read_wkt(to_wkt_multi(
        read_wkt(df).select("poly_id", "part", "ring", "holes"),
    ), id_col="poly_id").collect()
    a = {(r.poly_id, r.part): [list(v) for v in r.ring] for r in first}
    b = {(r.poly_id, r.part): [list(v) for v in r.ring] for r in back}
    assert a == b and len(a) == 2


def test_tile_bounds_and_geojson_handoff(spark):
    """Inverse tile math agrees with the forward tile assignment: every
    point falls inside the bbox of its own tile (strictly inside at the
    bounds' open edges modulo the shared boundary), and the emitted
    GeoJSON parses back to the same bbox."""
    import json as _json
    from geopy_spark.functions import geo

    z = 6
    pdf = synth.make_images_pdf(500, with_pixels=False)[
        ["image_id", "lat", "lon"]]
    df = spark.createDataFrame(pdf).select(
        "lat", "lon",
        geo.tile_x(F.col("lon"), z).alias("x"),
        geo.tile_y(F.col("lat"), z).alias("y"),
        F.lit(z).alias("z"))
    b = geo.tile_bounds(F.col("z"), F.col("x"), F.col("y"))
    bad = df.select(
        ((F.col("lon") < b["lon_min"] - 1e-9)
         | (F.col("lon") >= b["lon_max"] + 1e-9)
         | (F.col("lat") < b["lat_min"] - 1e-9)
         | (F.col("lat") > b["lat_max"] + 1e-9)).alias("out")) \
        .filter("out").count()
    assert bad == 0

    gj = geo.tiles_to_geojson(df.select("z", "x", "y").distinct())
    row = gj.first()
    f = _json.loads(row.geojson)
    assert f["geometry"]["type"] == "Polygon"
    zs, xs, ys = (int(v) for v in f["properties"]["name"].split("/"))
    assert zs == z
    back = read_geojson(gj).filter(F.col("poly_id") == row.poly_id).first()
    assert abs(back.lon_max - back.lon_min - 360.0 / 2 ** z) < 1e-9


def test_geojson_hole_roundtrip(spark):
    """A Polygon with an interior ring survives read ∘ to_geojson ∘ read
    exactly, and the wire format is RFC 7946 (coordinates[1:] are the
    closed holes)."""
    feat = {"type": "Feature", "id": "3", "properties": {"name": "donut"},
            "geometry": {"type": "Polygon", "coordinates": [
                [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0],
                 [0.0, 0.0]],
                [[3.0, 3.0], [7.0, 3.0], [7.0, 7.0], [3.0, 7.0],
                 [3.0, 3.0]],
            ]}}
    df = spark.createDataFrame([(json.dumps(feat),)], "geojson string")
    r1 = read_geojson(df).collect()[0]
    assert [[list(v) for v in h] for h in r1.holes] == [
        [[3.0, 3.0], [3.0, 7.0], [7.0, 7.0], [7.0, 3.0]]]
    wire = json.loads(to_geojson(read_geojson(df)).collect()[0].geojson)
    coords = wire["geometry"]["coordinates"]
    assert len(coords) == 2 and coords[1][0] == coords[1][-1]
    r2 = read_geojson(to_geojson(read_geojson(df))).collect()[0]
    assert [list(v) for v in r2.ring] == [list(v) for v in r1.ring]
    assert [[list(v) for v in h] for h in r2.holes] == \
        [[list(v) for v in h] for h in r1.holes]


def test_wkt_hole_roundtrip(spark):
    from geopy_spark.sources.geojson import read_wkt, to_wkt

    src = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 3))"
    df = spark.createDataFrame([(src,)], "wkt string")
    r1 = read_wkt(df).collect()[0]
    assert [[list(v) for v in h] for h in r1.holes] == [
        [[3.0, 3.0], [3.0, 7.0], [7.0, 7.0]]]
    wkt2 = to_wkt(read_wkt(df)).collect()[0].wkt
    assert wkt2.count("(") == 3  # outer + hole + wrapper
    r2 = read_wkt(spark.createDataFrame([(wkt2,)], "wkt string")).collect()[0]
    assert [list(v) for v in r2.ring] == [list(v) for v in r1.ring]
    assert [[list(v) for v in h] for h in r2.holes] == \
        [[list(v) for v in h] for h in r1.holes]


def test_spatial_join_respects_geojson_holes(spark):
    """End-to-end: a donut region parsed from GeoJSON excludes points in
    its hole and keeps points in the band + on the hole rim — through
    the full cover/join/PIP chain."""
    from geopy_spark.operators.spatial_join import spatial_join

    feat = {"type": "Feature", "id": "5", "properties": {"name": "donut"},
            "geometry": {"type": "Polygon", "coordinates": [
                [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0],
                 [0.0, 0.0]],
                [[3.0, 3.0], [7.0, 3.0], [7.0, 7.0], [3.0, 7.0],
                 [3.0, 3.0]],
            ]}}
    regions = read_geojson(
        spark.createDataFrame([(json.dumps(feat),)], "geojson string"))
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0),    # hole interior → excluded
         (2, 1.0, 1.0),    # band → kept
         (3, 5.0, 3.0),    # on hole rim → kept (boundary is polygon)
         (4, 12.0, 5.0)],  # outside → excluded
        "point_id long, lat double, lon double")
    got = {(r.point_id, r.poly_id)
           for r in spatial_join(pts, regions, point_id="point_id",
                                 level=6).collect()}
    assert got == {(2, 5), (3, 5)}


def test_antimeridian_split_and_join_both_sides(spark):
    """A Fiji-style wrap-crossing polygon (lon jumps +177 → −178) splits
    into two in-range parts; the spatial join then finds points on BOTH
    sides of the seam via the existing union-of-parts semantics, and a
    seam-straddling hole still excludes its interior."""
    from geopy_spark.operators.spatial_join import spatial_join
    from geopy_spark.sources.geojson import split_antimeridian

    feat = {"type": "Feature", "id": "11", "properties": {"name": "fiji"},
            "geometry": {"type": "Polygon", "coordinates": [
                [[177.0, -18.0], [-178.0, -18.0], [-178.0, -15.0],
                 [177.0, -15.0], [177.0, -18.0]],
                [[179.0, -17.0], [-179.5, -17.0], [-179.5, -16.0],
                 [179.0, -16.0], [179.0, -17.0]],
            ]}}
    raw = read_geojson(
        spark.createDataFrame([(json.dumps(feat),)], "geojson string"))
    regions = split_antimeridian(raw)
    rows = regions.collect()
    assert len(rows) == 2                       # west + east of the seam
    assert {r.part for r in rows} == {0, 1}
    for r in rows:
        lons = [v[1] for v in r.ring]
        assert max(lons) <= 180.0 and min(lons) >= -180.0
        assert r.lon_min == min(lons) and r.lon_max == max(lons)
    assert sum(len(r.holes) for r in rows) == 2  # hole clipped into both

    pts = spark.createDataFrame(
        [(1, -16.0, 179.0),    # west of seam, in band (lat above hole? no: inside hole lat range...)
         (2, -16.5, -179.7),   # east of seam, inside the hole → excluded
         (3, -15.5, -179.0),   # east of seam, band above the hole → kept
         (4, -16.0, 0.0)],     # far away
        "point_id long, lat double, lon double")
    got = {(r.point_id, r.poly_id)
           for r in spatial_join(pts, regions, point_id="point_id",
                                 level=6).collect()}
    # point 1 at lat -16.0 sits ON the hole's top edge (lat -16) → rim
    # counts as inside the polygon
    assert got == {(1, 11), (3, 11)}


def test_antimeridian_noncrossing_passthrough(spark):
    """split_antimeridian leaves a normal regions frame byte-identical
    (same rows, same rings) — safe to put in every ingest path."""
    from geopy_spark.sources.geojson import split_antimeridian

    regions = spark.createDataFrame(
        synth.polygons_pdf(synth.oracle_polygons_holed(8)),
        schema=_REGIONS_SCHEMA)
    out = split_antimeridian(regions)
    a = {r.poly_id: [list(v) for v in r.ring] for r in regions.collect()}
    b = {r.poly_id: [list(v) for v in r.ring] for r in out.collect()}
    assert a == b


def _twin_parts(spark):
    """One two-part MultiPolygon (poly_id 9, parts 20° of longitude
    apart) plus a point grid inside both parts, near both rims and just
    outside each: (regions, points rows (point_id, lat, lon, inside))."""
    mp = {"type": "Feature", "id": "9", "properties": {"name": "twin"},
          "geometry": {"type": "MultiPolygon", "coordinates": [
              [[[10.0, 50.0], [12.0, 50.0], [12.0, 52.0], [10.0, 52.0],
                [10.0, 50.0]]],
              [[[30.0, 50.0], [32.0, 50.0], [32.0, 52.0], [30.0, 52.0],
                [30.0, 50.0]]],
          ]}}
    df = spark.createDataFrame([(json.dumps(mp),)], "geojson string")
    regions = read_geojson(df).select(
        "poly_id", "name", "ring", "holes",
        "lat_min", "lat_max", "lon_min", "lon_max")
    rows = []
    pid = 0
    for lon0 in (10.0, 30.0):
        for dlat in (0.05, 0.5, 1.0, 1.5, 1.95):
            for dlon in (0.05, 0.5, 1.0, 1.5, 1.95):
                pid += 1
                rows.append((pid, 50.0 + dlat, lon0 + dlon, True))
            pid += 1
            rows.append((pid, 50.0 + dlat, lon0 + 2.5, False))  # outside
    return regions, rows


def _write_stream_points(rows, path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    pdf = pd.DataFrame({
        "point_id": [r[0] for r in rows],
        "ts": pd.Timestamp("2026-01-01") + pd.to_timedelta(
            [r[0] for r in rows], unit="s"),
        "lat": [r[1] for r in rows], "lon": [r[2] for r in rows]})
    schema = pa.schema([("point_id", pa.int64()),
                        ("ts", pa.timestamp("us")),
                        ("lat", pa.float64()), ("lon", pa.float64())])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False), str(path))


def test_multipolygon_parts_single_batch_pip(spark, tmp_path):
    """ADVICE r4 (medium): with ALL candidate rows in ONE partition (and
    thus one Arrow batch), pip_udf must still test each candidate against
    its own part's ring — grouping by bare poly_id evaluated both parts
    of a MultiPolygon against the first part's geometry. A grid of points
    across both parts makes any cross-part evaluation visible. All three
    residual callers — the batch operator, the stored-cover join and the
    stream join — must give the same pairs."""
    from geopy_spark.operators.spatial_join import spatial_join
    from geopy_spark.sources import polystore as PS
    from geopy_spark.sources.bucketed import ensure_database
    from geopy_spark.streaming import events as S
    from geopy_spark.streaming import spatial as SS

    regions, rows = _twin_parts(spark)
    pts = spark.createDataFrame(
        [(r[0], r[1], r[2]) for r in rows],
        "point_id long, lat double, lon double").coalesce(1)
    want = {(r[0], 9) for r in rows if r[3]}
    got = {(r.point_id, r.poly_id)
           for r in spatial_join(pts, regions, point_id="point_id",
                                 level=6, broadcast_regions=True).collect()}
    assert got == want

    ensure_database(spark, "mpdemo", str(tmp_path / "wh"))
    try:
        PS.write_region_cover_bucketed(regions, "mpdemo.cover", level=6,
                                       n_buckets=4)
        stored = {(r.point_id, r.poly_id)
                  for r in PS.spatial_join_against_cover(
                      pts, spark, "mpdemo.cover", level=6).collect()}
    finally:
        spark.sql("DROP DATABASE mpdemo CASCADE")
    assert stored == want

    src = tmp_path / "src"
    src.mkdir()
    _write_stream_points(rows, src / "p.parquet")
    out = SS.spatial_join_stream(SS.point_stream_source(spark, str(src)),
                                 regions, level=6)
    sink = str(tmp_path / "sink")
    S.run_available_now(out, str(tmp_path / "ckpt"), sink)
    streamed = {(r.point_id, r.poly_id)
                for r in spark.read.parquet(sink).collect()}
    assert streamed == want


def test_cover_without_geom_key_raises(spark, tmp_path):
    """A pre-exploded cover lacking the __geom geometry key (written
    before the key existed) is refused by every entry point that takes
    one — the bucketed and ad-hoc stored-cover joins and the stream join
    — with a ValueError naming the writer to rerun."""
    from geopy_spark.operators.spatial_join import _region_cover
    from geopy_spark.sources import polystore as PS
    from geopy_spark.sources.bucketed import ensure_database, write_bucketed
    from geopy_spark.streaming import spatial as SS

    regions, rows = _twin_parts(spark)
    legacy = _region_cover(regions, 6).drop("__geom")
    pts = spark.createDataFrame([(r[0], r[1], r[2]) for r in rows],
                                "point_id long, lat double, lon double")
    ensure_database(spark, "legacydemo", str(tmp_path / "wh"))
    try:
        write_bucketed(legacy, "legacydemo.cover", "cell", n_buckets=4)
        PS.write_points_bucketed(pts, "legacydemo.pts", level=6,
                                 n_buckets=4)
        with pytest.raises(ValueError, match="write_region_cover_bucketed"):
            PS.spatial_join_bucketed(spark, "legacydemo.pts",
                                     "legacydemo.cover")
        with pytest.raises(ValueError, match="write_region_cover_bucketed"):
            PS.spatial_join_against_cover(pts, spark, "legacydemo.cover",
                                          level=6)
    finally:
        spark.sql("DROP DATABASE legacydemo CASCADE")
    src = tmp_path / "src"
    src.mkdir()
    with pytest.raises(ValueError, match="region_cover"):
        SS.spatial_join_stream(SS.point_stream_source(spark, str(src)),
                               legacy, level=6)


def test_antimeridian_split_100k_features_fast(spark):
    """VERDICT r4 #6: the split is vectorized — a 10⁵-feature layer
    (1/1000 rows actually crossing) splits in seconds, because candidate
    detection is one bbox column scan and the per-ring kernel runs only
    on the crossers. The old per-row iterrows loop took minutes here."""
    import time

    from geopy_spark.sources.geojson import split_antimeridian

    n = 100_000
    lat = (F.col("id") % 170 - 85).cast("double")
    # every 1000th row sits at lon 179.8 so its +0.5°-wide ring crosses
    # the seam (encoded unwrapped, vertices past +180)
    lon = F.when(F.col("id") % 1000 == 0, F.lit(179.8)) \
        .otherwise(((F.col("id") * 7) % 350 - 175).cast("double"))
    ring = F.array(
        F.array(lat, lon), F.array(lat, lon + 0.5),
        F.array(lat + 0.5, lon + 0.5), F.array(lat + 0.5, lon))
    # a real (non-empty) hole per row: an expression-computed EMPTY
    # array<array<array<double>>> trips the documented pyarrow segfault
    # on the JVM→Python hop (see operators/spatial_join._holes_transport)
    hole = F.array(F.array(
        F.array(lat + 0.1, lon + 0.1), F.array(lat + 0.1, lon + 0.2),
        F.array(lat + 0.2, lon + 0.2)))
    df = (spark.range(n)
          .select(F.col("id").alias("poly_id"), F.lit(0).alias("part"),
                  ring.alias("ring"),
                  hole.alias("holes"),
                  lat.alias("lat_min"), (lat + 0.5).alias("lat_max"),
                  lon.alias("lon_min"), (lon + 0.5).alias("lon_max"))
          .localCheckpoint(eager=True))  # time the split, not the build
    t0 = time.monotonic()
    out = split_antimeridian(df)
    total, crossers = out.agg(
        F.count("*"), F.count_if(F.col("part") % 64 == 1)).first()
    wall = time.monotonic() - t0
    assert total == n + n // 1000      # each crosser → 2 parts
    assert crossers == n // 1000
    assert wall < 60.0, f"split took {wall:.1f}s"


def test_antimeridian_split_null_bbox_still_splits(spark):
    """Review r5: a crossing ring whose bbox columns are NULL must stay
    a split CANDIDATE (null bbox used to read as 0.0 → 'in range' →
    passed through unsplit)."""
    from geopy_spark.sources.geojson import split_antimeridian

    ring = [[-18.0, 177.0], [-18.0, 182.0], [-15.0, 182.0], [-15.0, 177.0]]
    # non-empty hole: an EMPTY array<array<array<double>>> trips the
    # documented pyarrow segfault on the JVM→Python hop
    hole = [[[-17.0, 178.0], [-17.0, 179.0], [-16.0, 179.0], [-16.0, 178.0]]]
    df = spark.createDataFrame(
        [(1, 0, ring, hole, None, None, None, None)],
        "poly_id long, part int, ring array<array<double>>, "
        "holes array<array<array<double>>>, lat_min double, "
        "lat_max double, lon_min double, lon_max double")
    rows = split_antimeridian(df).collect()
    assert len(rows) == 2
    for r in rows:
        lons = [v[1] for v in r.ring]
        assert max(lons) <= 180.0 and min(lons) >= -180.0
