"""Spark-level property tests: engine spatial join ≡ exhaustive PIP over
all pairs; engine kNN ≡ brute-force top-k (SURVEY.md §5.2 item 3)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geopy_spark import synth
from geopy_spark.entry_queries import _REGIONS_SCHEMA
from geopy_spark.kernels import geodesy, pip as P
from geopy_spark.operators.knn import knn_join
from geopy_spark.operators.spatial_join import spatial_join

N_PTS = 400


@pytest.fixture(scope="module")
def points_pdf():
    img = synth.make_images_pdf(N_PTS, with_pixels=False)
    return img[["image_id", "lat", "lon"]].rename(columns={"image_id": "point_id"})


@pytest.fixture(scope="module")
def polys():
    return synth.oracle_polygons(n=30, seed=99)


def test_spatial_join_matches_bruteforce(spark, points_pdf, polys):
    pts = spark.createDataFrame(points_pdf)
    regions = spark.createDataFrame(synth.polygons_pdf(polys), schema=_REGIONS_SCHEMA)
    got = {(r.point_id, r.poly_id)
           for r in spatial_join(pts, regions, point_id="point_id", level=7).collect()}

    exp = set()
    for pid, ring in polys:
        ring_np = np.asarray(ring, dtype=np.float64)
        inside = P.points_in_ring(points_pdf["lat"].to_numpy(),
                                  points_pdf["lon"].to_numpy(), ring_np)
        for point_id in points_pdf["point_id"].to_numpy()[inside]:
            exp.add((point_id, pid))
    assert got == exp


def test_spatial_join_auto_broadcast_guard(spark, points_pdf, polys, monkeypatch):
    """broadcast_regions=None must SIZE-GUARD the broadcast (VERDICT r2
    perf-weak): small covers broadcast; covers estimated past the cap
    auto-fall back to the salted SMJ path with identical results."""
    from geopy_spark.operators import spatial_join as SJ
    from geopy_spark.plans.explain import plan_text

    pts = spark.createDataFrame(points_pdf)
    regions = spark.createDataFrame(synth.polygons_pdf(polys), schema=_REGIONS_SCHEMA)

    # small fixture estimates far under the cap → broadcast path (the
    # salted fallback is recognizable by its _salt join key)
    auto = SJ.spatial_join(pts, regions, point_id="point_id", level=7)
    assert "_salt" not in plan_text(auto)

    # cap forced below any estimate → salted fallback, equal results
    monkeypatch.setattr(SJ, "BROADCAST_MAX_ROWS", 0)
    fb = SJ.spatial_join(pts, regions, point_id="point_id", level=7)
    assert "_salt" in plan_text(fb)
    exp = set(map(tuple, SJ.spatial_join(
        pts, regions, point_id="point_id", level=7,
        broadcast_regions=True).collect()))
    assert set(map(tuple, fb.collect())) == exp


def test_spatial_join_level_invariance(spark, points_pdf, polys):
    pts = spark.createDataFrame(points_pdf)
    regions = spark.createDataFrame(synth.polygons_pdf(polys), schema=_REGIONS_SCHEMA)
    a = set(map(tuple, spatial_join(pts, regions, point_id="point_id", level=5).collect()))
    b = set(map(tuple, spatial_join(pts, regions, point_id="point_id", level=8).collect()))
    assert a == b


@pytest.mark.parametrize("k,level", [(1, 4), (5, 4), (5, 6), (25, 3)])
def test_knn_exact_vs_bruteforce(spark, points_pdf, k, level):
    qpdf = synth.make_knn_queries_pdf(24)
    pts = spark.createDataFrame(
        points_pdf.rename(columns={"point_id": "id"}))
    qs = spark.createDataFrame(qpdf)
    got = {(r.query_id, r.neighbor_id, r["rank"])
           for r in knn_join(qs, pts, k=k, level=level, point_id="id").collect()}

    exp = set()
    plat = points_pdf["lat"].to_numpy()
    plon = points_pdf["lon"].to_numpy()
    ids = points_pdf["point_id"].to_numpy()
    for _, q in qpdf.iterrows():
        d = geodesy.haversine_m(q["lat"], q["lon"], plat, plon)
        order = np.lexsort((ids, d))[:k]
        for rk, idx in enumerate(order, start=1):
            exp.add((q["query_id"], ids[idx], rk))
    assert got == exp


def test_knn_hotspot_skew(spark, points_pdf):
    # all queries in one hotspot box — worst-case candidate skew
    qpdf = pd.DataFrame({
        "query_id": np.arange(8, dtype=np.int64),
        "lat": np.linspace(40.3, 41.1, 8),
        "lon": np.linspace(-74.4, -73.6, 8),
    })
    pts = spark.createDataFrame(points_pdf.rename(columns={"point_id": "id"}))
    qs = spark.createDataFrame(qpdf)
    out = knn_join(qs, pts, k=3, level=5, point_id="id")
    cnt = out.groupBy("query_id").agg(F.count("*").alias("n")).collect()
    assert len(cnt) == 8 and all(r.n == 3 for r in cnt)


def _spy_fanout(monkeypatch):
    """Record the broadcast decision of every knn fan-out join."""
    from geopy_spark.operators import knn as KNN
    seen = []
    orig = KNN._candidates

    def spy(*a, **k):
        seen.append(k["broadcast_q"])
        return orig(*a, **k)
    monkeypatch.setattr(KNN, "_candidates", spy)
    return seen


def test_knn_nonbroadcast_path_equals_broadcast(spark, points_pdf,
                                                monkeypatch):
    """A zero broadcast ceiling forces the phase-2 fan-out join onto its
    shuffle fallback (the 10^7-query guard, VERDICT r1) — results must be
    identical to the broadcast fan-out path."""
    from geopy_spark.operators import spatial_join as SJ
    qpdf = synth.make_knn_queries_pdf(12)
    pts = spark.createDataFrame(points_pdf.rename(columns={"point_id": "id"}))
    qs = spark.createDataFrame(qpdf)
    seen = _spy_fanout(monkeypatch)
    a = {(r.query_id, r.neighbor_id, r["rank"])
         for r in knn_join(qs, pts, k=4, level=4, point_id="id").collect()}
    monkeypatch.setattr(SJ, "BROADCAST_MAX_ROWS", 0)
    b = {(r.query_id, r.neighbor_id, r["rank"])
         for r in knn_join(qs, pts, k=4, level=4, point_id="id").collect()}
    assert seen == [True, False]
    assert a == b and len(a) == 12 * 4


def test_holes_arrow_transport(spark):
    """Regression pin for the round-4 workaround in
    operators/spatial_join._holes_transport: this Spark build's Arrow
    writer produces a batch pyarrow segfaults on for EXPRESSION-computed
    empty 3-deep arrays, so holes cross the Python boundary flattened
    (2-deep points + per-hole sizes). The cover/PIP UDFs must work on a
    frame whose holes column is computed (geojson-style when/slice
    expressions), not only createDataFrame-materialized."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geopy_spark.operators.spatial_join import (geom_key, pip_udf,
                                                    polygon_cover_udf)

    ring = [[0.0, 0.0], [0.0, 10.0], [10.0, 10.0], [10.0, 0.0]]
    hole = [[3.0, 3.0], [3.0, 7.0], [7.0, 7.0], [7.0, 3.0]]
    df = spark.createDataFrame(
        pd.DataFrame({"poly_id": [1, 2], "ring": [ring, ring],
                      "want_hole": [True, False]}))
    # computed holes: when/otherwise with an empty-array literal — the
    # exact shape that crashed the worker before the flat transport
    computed = df.withColumn(
        "holes",
        F.when(F.col("want_hole"),
               F.array(F.lit(hole).cast("array<array<double>>")))
        .otherwise(F.array().cast("array<array<array<double>>>")))
    cov = computed.select(
        "poly_id",
        F.size(polygon_cover_udf(F.col("ring"), 8,
                                 holes=F.col("holes"))).alias("n")).collect()
    n = {r.poly_id: r.n for r in cov}
    assert n[1] < n[2]   # hole pruned cells from the same outer ring

    hits = computed.select(
        "poly_id",
        pip_udf(F.lit(5.0), F.lit(5.0),
                geom_key(F.col("ring"), F.col("holes"), F.col("poly_id")),
                F.col("ring"), holes=F.col("holes")).alias("hit")).collect()
    assert {r.poly_id: r.hit for r in hits} == {1: False, 2: True}


def test_within_distance_join_exact_vs_bruteforce(spark, points_pdf):
    """Fixed-radius distance join: pair set must equal brute-force
    haversine over the cross product, at several radii and levels
    (incl. a high-latitude query where longitude shrinkage matters)."""
    from geopy_spark.operators.knn import within_distance_join
    qpdf = pd.DataFrame({
        "query_id": [0, 1, 2, 3],
        "lat": [10.0, -35.5, 58.9, 0.0],     # 58.9: cos-shrink regime
        "lon": [20.0, 150.2, -120.0, -179.8],  # near the antimeridian too
    })
    pts = spark.createDataFrame(points_pdf.rename(
        columns={"point_id": "id"}))
    qdf = spark.createDataFrame(qpdf)
    for radius_km, level in ((250, 6), (1200, 4)):
        got = {(r.query_id, r.id)
               for r in within_distance_join(
                   qdf, pts, radius_km * 1000.0, level=level,
                   point_id="id").collect()}
        want = set()
        for q in qpdf.itertuples(index=False):
            d = geodesy.haversine_m(
                np.full(len(points_pdf), q.lat),
                np.full(len(points_pdf), q.lon),
                points_pdf["lat"].to_numpy(),
                points_pdf["lon"].to_numpy())
            for pid in points_pdf.loc[d <= radius_km * 1000.0, "point_id"]:
                want.add((q.query_id, pid))
        assert got == want, (radius_km, level)
        assert len(want) > 0


def test_within_distance_join_shuffle_fallback(spark, points_pdf,
                                               monkeypatch):
    """A zero broadcast ceiling forces the within-distance fan-out onto
    its shuffle fallback; the pairs must equal the default (broadcast)
    path's. Only the operator's decision is checked, not the physical
    join: Spark's autoBroadcastJoinThreshold may still broadcast a side
    this small on its own."""
    from geopy_spark.operators import spatial_join as SJ
    from geopy_spark.operators.knn import within_distance_join
    qdf = spark.createDataFrame(synth.make_knn_queries_pdf(12))
    pts = spark.createDataFrame(points_pdf.rename(
        columns={"point_id": "id"}))
    seen = _spy_fanout(monkeypatch)

    def pairs():
        return {(r.query_id, r.id, r.dist_m)
                for r in within_distance_join(qdf, pts, 800_000.0, level=5,
                                              point_id="id").collect()}
    a = pairs()
    monkeypatch.setattr(SJ, "BROADCAST_MAX_ROWS", 0)
    b = pairs()
    assert seen == [True, False]
    assert a == b and len(a) > 0
