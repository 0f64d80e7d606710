"""Geodesy kernels — vectorized numpy (SURVEY.md §2.2 G12-G14).

Capabilities of the reference's Distance/great_circle/geodesic surface
(reconstructed [gp:geopy/distance.py] — see SURVEY.md §0 citation policy),
re-expressed as batch numpy. The Spark Column-algebra twins (used in the
JVM-side hot path so kNN ordering never leaves whole-stage codegen) live in
functions/geo.py and MUST use the same formula + constants so orderings
agree bit-for-bit in spirit (same math, double precision).
"""

from __future__ import annotations

import numpy as np

EARTH_RADIUS_M = 6371008.8  # IUGG mean earth radius (public constant)

# Unit conversions (reference exposes km/mi/nm/ft — [gp:geopy/units.py])
M_PER_KM = 1000.0
M_PER_MI = 1609.344
M_PER_NM = 1852.0
M_PER_FT = 0.3048


def haversine_m(lat1, lon1, lat2, lon2) -> np.ndarray:
    """Great-circle distance in meters, broadcasting numpy arrays."""
    la1, lo1, la2, lo2 = (np.radians(np.asarray(a, dtype=np.float64))
                          for a in (lat1, lon1, lat2, lon2))
    dlat = la2 - la1
    dlon = lo2 - lo1
    a = np.sin(dlat / 2.0) ** 2 + np.cos(la1) * np.cos(la2) * np.sin(dlon / 2.0) ** 2
    a = np.clip(a, 0.0, 1.0)
    return 2.0 * EARTH_RADIUS_M * np.arctan2(np.sqrt(a), np.sqrt(1.0 - a))


def destination_point(lat, lon, bearing_deg, dist_m):
    """Spherical forward problem: start + bearing + distance → end point."""
    la1 = np.radians(np.asarray(lat, dtype=np.float64))
    lo1 = np.radians(np.asarray(lon, dtype=np.float64))
    br = np.radians(np.asarray(bearing_deg, dtype=np.float64))
    d = np.asarray(dist_m, dtype=np.float64) / EARTH_RADIUS_M
    la2 = np.arcsin(np.sin(la1) * np.cos(d) + np.cos(la1) * np.sin(d) * np.cos(br))
    lo2 = lo1 + np.arctan2(np.sin(br) * np.sin(d) * np.cos(la1),
                           np.cos(d) - np.sin(la1) * np.sin(la2))
    lat2 = np.degrees(la2)
    lon2 = np.mod(np.degrees(lo2) + 180.0, 360.0) - 180.0
    return lat2, lon2


# --------------------------------------------------------------- ellipsoid
# WGS-84 geodesic inverse (Vincenty 1975, public formulas) — the optional
# ellipsoidal half of G12. Vectorized: the λ-iteration runs on whole numpy
# arrays with a convergence mask. Near-antipodal pairs where Vincenty's
# iteration is known not to converge fall back to the spherical haversine
# (error ≤ ~0.56% there — documented, not silent: see `converged` output).

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_B = WGS84_A * (1.0 - WGS84_F)


def vincenty_m(lat1, lon1, lat2, lon2, max_iter: int = 100,
               tol: float = 1e-12) -> tuple[np.ndarray, np.ndarray]:
    """WGS-84 inverse geodesic distance in meters (broadcast numpy).
    Returns (dist_m, converged_mask); non-converged entries carry the
    haversine fallback."""
    la1, lo1, la2, lo2 = np.broadcast_arrays(
        *(np.radians(np.asarray(a, dtype=np.float64))
          for a in (lat1, lon1, lat2, lon2)))
    f = WGS84_F
    U1, U2 = np.arctan((1 - f) * np.tan(la1)), np.arctan((1 - f) * np.tan(la2))
    sinU1, cosU1, sinU2, cosU2 = np.sin(U1), np.cos(U1), np.sin(U2), np.cos(U2)
    L = lo2 - lo1
    lam = L.copy()
    active = np.ones(lam.shape, dtype=bool)
    sig = np.zeros_like(lam)
    sin_sig = np.zeros_like(lam)
    cos_sig = np.ones_like(lam)
    cos2_alpha = np.ones_like(lam)
    cos_2sm = np.zeros_like(lam)
    for _ in range(max_iter):
        sin_lam, cos_lam = np.sin(lam), np.cos(lam)
        ss = np.sqrt((cosU2 * sin_lam) ** 2
                     + (cosU1 * sinU2 - sinU1 * cosU2 * cos_lam) ** 2)
        cs = sinU1 * sinU2 + cosU1 * cosU2 * cos_lam
        sg = np.arctan2(ss, cs)
        with np.errstate(divide="ignore", invalid="ignore"):
            sin_alpha = np.where(ss > 0, cosU1 * cosU2 * sin_lam / np.where(ss > 0, ss, 1.0), 0.0)
        c2a = 1.0 - sin_alpha ** 2
        with np.errstate(divide="ignore", invalid="ignore"):
            c2sm = np.where(c2a > 0, cs - 2.0 * sinU1 * sinU2 / np.where(c2a > 0, c2a, 1.0), 0.0)
        C = f / 16.0 * c2a * (4.0 + f * (4.0 - 3.0 * c2a))
        lam_new = L + (1 - C) * f * sin_alpha * (
            sg + C * ss * (c2sm + C * cs * (-1.0 + 2.0 * c2sm ** 2)))
        upd = active
        sig = np.where(upd, sg, sig)
        sin_sig = np.where(upd, ss, sin_sig)
        cos_sig = np.where(upd, cs, cos_sig)
        cos2_alpha = np.where(upd, c2a, cos2_alpha)
        cos_2sm = np.where(upd, c2sm, cos_2sm)
        delta = np.abs(lam_new - lam)
        lam = np.where(upd, lam_new, lam)
        active = active & (delta >= tol)
        if not active.any():
            break
    converged = ~active
    u2 = cos2_alpha * (WGS84_A ** 2 - WGS84_B ** 2) / WGS84_B ** 2
    A = 1 + u2 / 16384.0 * (4096.0 + u2 * (-768.0 + u2 * (320.0 - 175.0 * u2)))
    B = u2 / 1024.0 * (256.0 + u2 * (-128.0 + u2 * (74.0 - 47.0 * u2)))
    d_sig = B * sin_sig * (cos_2sm + B / 4.0 * (
        cos_sig * (-1.0 + 2.0 * cos_2sm ** 2)
        - B / 6.0 * cos_2sm * (-3.0 + 4.0 * sin_sig ** 2)
        * (-3.0 + 4.0 * cos_2sm ** 2)))
    dist = WGS84_B * A * (sig - d_sig)
    coincident = (la1 == la2) & (lo1 == lo2)
    dist = np.where(coincident, 0.0, dist)
    converged = converged | coincident
    # documented near-antipodal fallback: spherical value, flagged False
    dist = np.where(converged, dist, haversine_m(
        np.degrees(la1), np.degrees(lo1), np.degrees(la2), np.degrees(lo2)))
    return dist, converged


def meters_per_deg_lat() -> float:
    return EARTH_RADIUS_M * np.pi / 180.0
