"""Polygon ⋈ polygon intersection join (G16): kernel decision table,
operator vs a brute-force all-pairs oracle over the holed fixtures
(candidate completeness through the cell-cover equi-join), and the
self-join dedup shape."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geopy_spark import synth
from geopy_spark.entry_queries import _REGIONS_SCHEMA
from geopy_spark.kernels import pip as P
from geopy_spark.operators.spatial_join import polygon_join


def _sq(y, x, s):
    return np.array([[y, x], [y, x + s], [y + s, x + s], [y + s, x]],
                    dtype=float)


def test_kernel_decision_table():
    A = _sq(0, 0, 10)
    hole = [_sq(2, 2, 6)]
    cases = [
        (A, _sq(5, 5, 10), None, None, True),    # overlap
        (A, _sq(20, 20, 5), None, None, False),  # disjoint
        (A, _sq(4, 4, 2), None, None, True),     # nested
        (A, _sq(0, 10, 5), None, None, True),    # edge touch
        (A, _sq(10, 10, 3), None, None, True),   # corner touch
        (A, _sq(3, 3, 2), hole, None, False),    # B inside A's hole
        (A, _sq(3, 3, 7), hole, None, True),     # B straddles the rim
        (A, _sq(2, 2, 6), hole, None, True),     # B fills the hole (rim)
        (_sq(3, 3, 2), A, None, hole, False),    # symmetric hole case
        (A, A, None, None, True),                # identical
    ]
    for ra, rb, ha, hb, want in cases:
        got = P.polygons_intersect(ra, rb, holes_a=ha, holes_b=hb)
        assert got == want, (ra[0], rb[0], ha is not None, want)
    # concave: a square inside a C-shape's notch is outside the region
    C = np.array([[0, 0], [0, 10], [10, 10], [10, 0], [8, 0], [8, 8],
                  [2, 8], [2, 0]], dtype=float)
    assert not P.polygons_intersect(C, _sq(4, 1, 2))
    assert P.polygons_intersect(C, _sq(4, 7, 2))


@pytest.fixture(scope="module")
def fixtures():
    a = synth.polygons_pdf(synth.oracle_polygons_holed(20, seed=7))
    b = synth.polygons_pdf(synth.oracle_polygons_holed(16, seed=99))
    return a, b


def _brute(a_pdf, b_pdf):
    out = set()
    for ra in a_pdf.itertuples(index=False):
        ring_a = np.array(ra.ring, dtype=float)
        holes_a = [np.array(h, dtype=float) for h in ra.holes]
        for rb in b_pdf.itertuples(index=False):
            if P.polygons_intersect(
                    ring_a, np.array(rb.ring, dtype=float),
                    holes_a=holes_a,
                    holes_b=[np.array(h, dtype=float) for h in rb.holes]):
                out.add((ra.poly_id, rb.poly_id))
    return out


def test_operator_matches_brute_force_all_pairs(spark, fixtures,
                                               monkeypatch):
    """The distributed plan (cover equi-join → distinct ids → geometry
    re-join → bbox prune → kernel residual) must equal exhaustive
    kernel evaluation over all 20×16 pairs — this is where candidate
    generation bugs (cover misses, dedup mistakes) would surface."""
    a_pdf, b_pdf = fixtures
    left = spark.createDataFrame(a_pdf, schema=_REGIONS_SCHEMA)
    right = spark.createDataFrame(b_pdf, schema=_REGIONS_SCHEMA)
    got = {(r.l_id, r.r_id)
           for r in polygon_join(left, right, level=6).collect()}
    assert got == _brute(a_pdf, b_pdf) and len(got) > 0
    # the shuffle path (broadcast ceiling patched to 0) agrees
    from geopy_spark.operators import spatial_join as SJ
    monkeypatch.setattr(SJ, "BROADCAST_MAX_ROWS", 0)
    got_smj = {(r.l_id, r.r_id)
               for r in polygon_join(left, right, level=6).collect()}
    assert got_smj == got


def test_self_join_dedup_shape(spark, fixtures):
    """Self-join emits the diagonal + both orders; l_id < r_id gives the
    unordered intersecting pairs, matching brute force."""
    a_pdf, _ = fixtures
    df = spark.createDataFrame(a_pdf, schema=_REGIONS_SCHEMA)
    pairs = (polygon_join(df, df, level=6)
             .filter(F.col("l_id") < F.col("r_id")))
    got = {(r.l_id, r.r_id) for r in pairs.collect()}
    want = {(a, b) for a, b in _brute(a_pdf, a_pdf) if a < b}
    assert got == want
    diag = polygon_join(df, df, level=6).filter(
        F.col("l_id") == F.col("r_id")).count()
    assert diag == len(a_pdf)  # every polygon intersects itself


def test_spatial_join_compact_cover_identical_pairs(spark, fixtures):
    """G6 with compact_cover=True (disjoint mixed-level broadcast cover +
    ancestor-chain probes) must return the exact pair set of the plain
    broadcast path — and the compacted cover must actually be smaller."""
    from geopy_spark.operators.spatial_join import (polygon_cover_udf,
                                                    spatial_join)
    a_pdf, _ = fixtures
    regions = spark.createDataFrame(a_pdf, schema=_REGIONS_SCHEMA)
    pts = spark.range(4000).select(
        F.col("id").alias("point_id"),
        (F.pmod(F.col("id") * 37, F.lit(12000)) / 100 - 60).alias("lat"),
        (F.pmod(F.col("id") * 91, F.lit(36000)) / 100 - 180).alias("lon"))
    base = {(r.point_id, r.poly_id)
            for r in spatial_join(pts, regions, level=7,
                                  broadcast_regions=True).collect()}
    comp = {(r.point_id, r.poly_id)
            for r in spatial_join(pts, regions, level=7,
                                  broadcast_regions=True,
                                  compact_cover=True).collect()}
    assert comp == base and len(base) > 0
    plain_n = regions.select(F.explode(polygon_cover_udf(
        F.col("ring"), 7, holes=F.col("holes")))).count()
    comp_n = regions.select(F.explode(polygon_cover_udf(
        F.col("ring"), 7, holes=F.col("holes"), compact=True))).count()
    assert comp_n < plain_n


def test_contains_kernel_decision_table():
    A = _sq(0, 0, 10)
    hole = [_sq(2, 2, 6)]
    cases = [
        (A, _sq(1, 1, 3), None, None, True),      # nested
        (A, A, None, None, True),                 # identical (touch ok)
        (A, _sq(0, 0, 5), None, None, True),      # shares corner/edges
        (A, _sq(5, 5, 10), None, None, False),    # partial overlap
        (A, _sq(20, 20, 3), None, None, False),   # disjoint
        (_sq(1, 1, 3), A, None, None, False),     # direction matters
        (A, _sq(3, 3, 2), hole, None, False),     # B inside A's hole
        (A, _sq(1, 1, 8), hole, None, False),     # B swallows the hole
        (A, _sq(0.5, 0.5, 1), hole, None, True),  # B in the solid rim
        (A, _sq(1, 1, 8), None, [_sq(3, 3, 2)], True),   # B has own hole
        (A, _sq(1, 1, 8), [_sq(3, 3, 2)], [_sq(2.5, 2.5, 3)], True),
        (A, _sq(1, 1, 8), [_sq(3, 3, 4)], [_sq(3, 3, 2)], False),
    ]
    for ra, rb, ha, hb, want in cases:
        assert P.polygon_contains(ra, rb, holes_a=ha, holes_b=hb) == want


def _brute_contains(a_pdf, b_pdf):
    out = set()
    for ra in a_pdf.itertuples(index=False):
        ring_a = np.array(ra.ring, dtype=float)
        holes_a = [np.array(h, dtype=float) for h in ra.holes]
        for rb in b_pdf.itertuples(index=False):
            if P.polygon_contains(
                    ring_a, np.array(rb.ring, dtype=float),
                    holes_a=holes_a,
                    holes_b=[np.array(h, dtype=float) for h in rb.holes]):
                out.add((ra.poly_id, rb.poly_id))
    return out


def test_contains_predicate_operator(spark, fixtures):
    """polygon_join(predicate='contains') vs exhaustive kernel oracle.
    The random fixtures rarely nest, so plant scaled-down copies of a
    few left polygons inside themselves to guarantee true positives."""
    a_pdf, _ = fixtures
    import pandas as pd
    planted = []
    for k, r in enumerate(a_pdf.head(4).itertuples(index=False)):
        # half-scale copy about the vertex centroid, INHERITING the
        # parent's hole: the scaled outer clears the hole (hole radius is
        # 0.45x the centroid-to-edge distance; half of any direction's
        # outer radius is >= 0.5x that distance) and sharing the hole
        # keeps the parent's hole interior out of the child's region
        ring = np.array(r.ring, dtype=float)
        cy, cx = ring[:, 0].mean(), ring[:, 1].mean()
        small = np.stack([cy + (ring[:, 0] - cy) * 0.5,
                          cx + (ring[:, 1] - cx) * 0.5], axis=1)
        planted.append({
            "poly_id": 1000 + k,
            "name": f"planted{k}",
            "ring": [[float(a), float(o)] for a, o in small],
            "holes": [[[float(a), float(o)] for a, o in h]
                      for h in r.holes],
            "lat_min": float(small[:, 0].min()),
            "lat_max": float(small[:, 0].max()),
            "lon_min": float(small[:, 1].min()),
            "lon_max": float(small[:, 1].max()),
        })
    b_pdf = pd.DataFrame(planted)
    left = spark.createDataFrame(a_pdf, schema=_REGIONS_SCHEMA)
    right = spark.createDataFrame(b_pdf, schema=_REGIONS_SCHEMA)
    got = {(r.l_id, r.r_id)
           for r in polygon_join(left, right, level=6,
                                 predicate="contains").collect()}
    want = _brute_contains(a_pdf, b_pdf)
    assert got == want
    # scaled-down star polygons may poke outside their concave parent,
    # but at 0.25 scale around the vertex centroid at least some nest
    assert len(want) >= 2


def test_intersect_kernel_randomized_one_sided_oracles():
    """Randomized soundness: (a) polygon pairs with bboxes separated by
    a margin must be disjoint; (b) pairs CONSTRUCTED to share a common
    interior point must intersect; (c) intersects is symmetric. 300
    random convex/star pairs each way."""
    rng = np.random.default_rng(42)

    def rand_poly(cy, cx, rmax):
        # angular gaps bounded < pi so the polygon is star-shaped about
        # and CONTAINS its center (uniform sorted angles can cluster in
        # a half-plane, leaving the center outside)
        nv = int(rng.integers(4, 12))
        th = (rng.uniform(0, 2 * np.pi)
              + np.arange(nv) * 2 * np.pi / nv
              + rng.uniform(-0.4, 0.4, nv) * 2 * np.pi / nv)
        rr = rng.uniform(0.3 * rmax, rmax, nv)
        return np.stack([cy + rr * np.sin(th), cx + rr * np.cos(th)], axis=1)

    for _ in range(300):
        # (a) separated: centers farther apart than the radii sum + margin
        a = rand_poly(0.0, 0.0, 3.0)
        b = rand_poly(0.0, 8.0, 3.0)   # gap >= 2 along x
        assert not P.polygons_intersect(a, b)
        assert not P.polygons_intersect(b, a)
        # (b) shared point: translate b so both contain the origin-ish
        # point — put b's center ON a vertex of a (vertex belongs to a;
        # b contains its own center because rr >= 0.3*rmax > 0)
        v = a[int(rng.integers(len(a)))]
        c = rand_poly(v[0], v[1], 2.0)
        assert P.polygons_intersect(a, c), (a, c)
        assert P.polygons_intersect(c, a)


def test_contains_hole_rim_coincidence():
    """ADVICE r4: a B whose boundary coincides with an A-hole rim passes
    every vertex test (B's vertices are ON the rim → counted inside A;
    the rim's vertices are on B's boundary → not strictly interior to
    B), yet B's interior IS the hole — polygon_contains must say False.
    The interior-point probe (kernels/pip.py step 3b) settles it."""
    A = _sq(0, 0, 10)
    hole = [_sq(2, 2, 6)]
    B = _sq(2, 2, 6)                       # exact rim coincidence
    assert not P.polygon_contains(A, B, holes_a=hole)
    # same rim traversed with a denser vertex sampling (midpoints added)
    dense = []
    for i in range(len(B)):
        p, q = B[i], B[(i + 1) % len(B)]
        dense.append(p)
        dense.append((p + q) / 2.0)
    B2 = np.array(dense, dtype=float)
    assert not P.polygon_contains(A, B2, holes_a=hole)
    # controls: real containment still holds with the probe active
    assert P.polygon_contains(A, _sq(0.5, 0.5, 1.0), holes_a=hole)
    assert P.polygon_contains(A, A, holes_a=hole, holes_b=hole)
    # B straddling the rim (part hole, part A-area) was already caught
    # by the hole-vertex test; stays False
    assert not P.polygon_contains(A, _sq(1.0, 1.0, 4.0), holes_a=hole)
