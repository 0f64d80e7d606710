"""DBSCAN (G23) vs a brute-force all-pairs twin implementing the same
deterministic semantics (core = |N_eps| >= min_pts counting self;
clusters = CC of the core-core graph labeled by min core id; border →
smallest neighboring cluster; else noise)."""

import numpy as np
import pytest

from geopy_spark.kernels.geodesy import haversine_m
from geopy_spark.operators.clustering import dbscan


def _brute_dbscan(ids, lat, lon, eps_m, min_pts):
    n = len(ids)
    d = haversine_m(lat[:, None].repeat(n, 1).ravel(),
                    lon[:, None].repeat(n, 1).ravel(),
                    np.tile(lat, n), np.tile(lon, n)).reshape(n, n)
    adj = d <= eps_m
    core = adj.sum(axis=1) >= min_pts
    # union-find over core-core edges
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i in range(n):
        if not core[i]:
            continue
        for j in range(i + 1, n):
            if core[j] and adj[i, j]:
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[max(ri, rj)] = min(ri, rj)
    label = {}
    comp_min = {}
    for i in range(n):
        if core[i]:
            r = find(i)
            comp_min[r] = min(comp_min.get(r, ids[i]), ids[i])
    for i in range(n):
        if core[i]:
            label[ids[i]] = comp_min[find(i)]
    for i in range(n):
        if core[i]:
            continue
        cand = [label[ids[j]] for j in range(n) if core[j] and adj[i, j]]
        label[ids[i]] = min(cand) if cand else None
    return {ids[i]: (label[ids[i]], bool(core[i]), int(adj[i].sum()))
            for i in range(n)}


def _fixture(seed=11):
    """Three dense blobs + a sparse bridge + scattered noise, placed at
    mid/high latitude so the cell-disk longitude shrink matters. Pair
    distances are kept away from the eps boundaries used in the tests
    (no pair within 1 m of 30/80 km), so engine and twin cannot disagree
    on a knife-edge float comparison."""
    rng = np.random.default_rng(seed)
    blobs = [(52.0, 13.0, 60), (52.5, 13.9, 50), (51.4, 12.2, 40)]
    lat, lon = [], []
    for blat, blon, k in blobs:
        lat += list(blat + rng.normal(0, 0.05, k))
        lon += list(blon + rng.normal(0, 0.08, k))
    # bridge points between blob 0 and 1, ~20 km apart
    for t in np.linspace(0.25, 0.75, 3):
        lat.append(52.0 + t * 0.5)
        lon.append(13.0 + t * 0.9)
    lat += list(rng.uniform(40, 60, 25))
    lon += list(rng.uniform(0, 25, 25))
    lat = np.asarray(lat)
    lon = np.asarray(lon)
    ids = np.arange(1, len(lat) + 1) * 7  # non-contiguous ids
    return ids, lat, lon


@pytest.mark.parametrize("eps_m,min_pts", [
    (30_000.0, 5),   # blobs resolve separately
    (80_000.0, 4),   # bridge merges blobs 0+1
    (30_000.0, 1),   # every point core: pure CC of the eps graph
])
def test_dbscan_matches_brute_force(spark, eps_m, min_pts):
    ids, lat, lon = _fixture()
    want = _brute_dbscan(ids, lat, lon, eps_m, min_pts)
    df = spark.createDataFrame(
        [(int(i), float(la), float(lo)) for i, la, lo in zip(ids, lat, lon)],
        "id long, lat double, lon double")
    got = {r.id: (r.cluster, r.is_core, r.n_neighbors)
           for r in dbscan(df, eps_m, min_pts, level=6).collect()}
    assert set(got) == set(want)
    assert got == want
    # sanity on the fixture itself: some noise, >1 cluster (border-point
    # semantics get their own deterministic test below)
    n_noise = sum(1 for v in want.values() if v[0] is None)
    n_clusters = len({v[0] for v in want.values() if v[0] is not None})
    if min_pts > 1:
        assert n_noise > 0
    # at eps=80 km the bridge merges everything reachable into one
    # cluster — multiple clusters are only guaranteed at the tight eps
    assert n_clusters > (1 if eps_m < 50_000 else 0)


def test_dbscan_min_pts_validation(spark):
    df = spark.createDataFrame([(1, 0.0, 0.0)], "id long, lat double, lon double")
    with pytest.raises(ValueError, match="min_pts"):
        dbscan(df, 1000.0, 0)


def test_dbscan_isolated_core_is_singleton_cluster(spark):
    """min_pts=1 makes every point core; a far-away lone point must come
    back as its OWN one-point cluster (not noise, not dropped by the
    edge-only component loop)."""
    rows = [(1, 10.0, 10.0), (2, 10.001, 10.0), (3, -40.0, 120.0)]
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    got = {r.id: (r.cluster, r.is_core) for r in
           dbscan(df, 5_000.0, 1, level=6).collect()}
    assert got == {1: (1, True), 2: (1, True), 3: (3, True)}


def test_dbscan_border_point_deterministic(spark):
    """Hand-built geometry: a 5-point core chain, one BORDER point whose
    own eps-ball holds only 3 points (< min_pts) but which sits within
    eps of a core, and one far NOISE point. The border point must take
    the cluster label without being core."""
    eps, min_pts = 10_000.0, 5
    rows = [(k, 0.01 * (k - 1), 0.0) for k in range(1, 6)]  # ids 1..5
    rows.append((6, 0.0, 0.088))   # ~9.8 km east of id 1: ball={6,1,2}
    rows.append((7, 5.0, 5.0))     # noise
    df = spark.createDataFrame(rows, "id long, lat double, lon double")
    got = {r.id: (r.cluster, r.is_core, r.n_neighbors)
           for r in dbscan(df, eps, min_pts, level=6).collect()}
    for k in range(1, 6):
        assert got[k][0] == 1 and got[k][1] is True
    assert got[6] == (1, False, 3)
    assert got[7] == (None, False, 1)

