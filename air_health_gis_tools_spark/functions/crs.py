"""Real CRS transforms (F1): GDA94 / Australian Albers (EPSG:3577) and
GDA2020 / Australian Albers (EPSG:9473) + the datum shift between them.

The reference transforms coordinates with
``pyproj.Transformer.from_crs("EPSG:3577", "EPSG:4326")``
(srg-dev/"benchmark with Nate code.ipynb", transformer cell) and its
canonical srg-dev run crosses a 9473 grid with 3577 data
(srg-dev/README.md:23-26, calculate_focal_mean.py:64-90). pyproj is not in
this environment, so everything is implemented from public sources:

- the ellipsoidal Albers Equal-Area Conic from J. P. Snyder, *Map
  Projections — A Working Manual* (USGS PP 1395, §14, eqs. 14-1..14-21 and
  3-16) with the published EPSG parameters — 3577 and 9473 share the SAME
  projection parameters on GRS80; they differ only in datum
  (GDA94 vs GDA2020);
- the GDA94→GDA2020 7-parameter similarity transformation (ICSM GDA2020
  Technical Manual / EPSG:8048) via geodetic↔ECEF on GRS80.

Correctness of the Albers core is established by property tests
(tests/test_crs.py): roundtrip identity, central-meridian symmetry, and
the equal-area Jacobian identity |∂(x,y)/∂(λ,φ)| =
a²(1−e²)cosφ/(1−e²sin²φ)² which holds iff the projection really is
ellipsoidal-equal-area. The Helmert parameters/rotation convention cannot
be cross-checked offline (no pyproj); tests pin the structural facts — the
shift over Australia is ≈1.8 m (GDA94→GDA2020 plate motion), roundtrip
identity, rigid-motion scale — and the constants live in one clearly
marked seam below.
"""

from __future__ import annotations

import numpy as np

# GRS80 ellipsoid + EPSG:3577 parameters (public EPSG registry values)
A = 6378137.0
F_INV = 298.257222101
E2 = 2.0 / F_INV - 1.0 / (F_INV * F_INV)
E = np.sqrt(E2)
LAT0 = 0.0                 # latitude of projection origin
LON0 = 132.0               # central meridian
LAT1, LAT2 = -18.0, -36.0  # standard parallels
FE, FN = 0.0, 0.0


def _q(sinphi: np.ndarray) -> np.ndarray:
    """Snyder 3-12: authalic q."""
    esp = E * sinphi
    return (1.0 - E2) * (sinphi / (1.0 - esp * esp)
                         - (1.0 / (2.0 * E)) * np.log((1.0 - esp)
                                                      / (1.0 + esp)))


def _m(phi: np.ndarray) -> np.ndarray:
    """Snyder 14-15: m = cosφ / sqrt(1 − e² sin²φ)."""
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - E2 * s * s)


_phi1 = np.deg2rad(LAT1)
_phi2 = np.deg2rad(LAT2)
_m1 = _m(np.array(_phi1))
_m2 = _m(np.array(_phi2))
_q1 = _q(np.sin(np.array(_phi1)))
_q2 = _q(np.sin(np.array(_phi2)))
_q0 = _q(np.sin(np.deg2rad(np.array(LAT0))))
N = (_m1 * _m1 - _m2 * _m2) / (_q2 - _q1)          # Snyder 14-14 (n < 0 here)
C = _m1 * _m1 + N * _q1                            # Snyder 14-13
RHO0 = A * np.sqrt(C - N * _q0) / N                # Snyder 14-12a (signed)


def albers_forward(lat_deg, lon_deg) -> tuple[np.ndarray, np.ndarray]:
    """(lat, lon) WGS84/GDA94 degrees → EPSG:3577 (x, y) meters."""
    phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64) - LON0)
    q = _q(np.sin(phi))
    rho = A * np.sqrt(C - N * q) / N               # signed by N
    theta = N * lam
    x = FE + rho * np.sin(theta)
    y = FN + RHO0 - rho * np.cos(theta)
    return x, y


def albers_inverse(x, y) -> tuple[np.ndarray, np.ndarray]:
    """EPSG:3577 (x, y) meters → (lat, lon) degrees. Iterative Snyder 3-16
    latitude recovery (converges quadratically; 6 iterations ≪ 1e-12 rad)."""
    x = np.asarray(x, dtype=np.float64) - FE
    y = np.asarray(y, dtype=np.float64) - FN
    # Snyder 14-10/14-11 with the sign-of-n convention
    rho = np.hypot(x, RHO0 - y) * np.sign(N)
    theta = np.arctan2(x * np.sign(N), (RHO0 - y) * np.sign(N))
    q = (C - (rho * rho * N * N) / (A * A)) / N    # Snyder 14-19
    # initial guess: spherical (authalic) latitude
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(6):                              # Snyder 3-16
        s = np.sin(phi)
        esp = E * s
        one = 1.0 - esp * esp
        phi = phi + (one * one / (2.0 * np.cos(phi))) * (
            q / (1.0 - E2) - s / one
            + (1.0 / (2.0 * E)) * np.log((1.0 - esp) / (1.0 + esp)))
    lat = np.rad2deg(phi)
    lon = LON0 + np.rad2deg(theta / N)
    return lat, lon


# --------------------------------------------------------------------------
# datum seam: GDA94 <-> GDA2020 (7-parameter similarity, EPSG:8048 values
# from the ICSM GDA2020 Technical Manual; coordinate-frame rotation
# convention — to switch to the position-vector convention negate _R94_20)
# --------------------------------------------------------------------------

_T94_20 = np.array([0.06155, -0.01087, -0.04019])            # metres
_ARCSEC = np.pi / (180.0 * 3600.0)
_R94_20 = np.array([-0.0394924, -0.0327221, -0.0328979]) * _ARCSEC
_S94_20 = -0.009994e-6                                       # unitless


def geodetic_to_ecef(lat_deg, lon_deg):
    """GRS80 geodetic (on the ellipsoid, height 0) -> earth-centred
    cartesian (metres)."""
    phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    s, c = np.sin(phi), np.cos(phi)
    nu = A / np.sqrt(1.0 - E2 * s * s)
    return np.stack([nu * c * np.cos(lam),
                     nu * c * np.sin(lam),
                     nu * (1.0 - E2) * s], axis=-1)


def ecef_to_geodetic(xyz):
    """ECEF -> GRS80 geodetic (degrees; height discarded). Fixed-point
    latitude iteration (converges to <1e-12 rad in ~4 iterations)."""
    xyz = np.asarray(xyz, dtype=np.float64)
    x, y, z = xyz[..., 0], xyz[..., 1], xyz[..., 2]
    lon = np.arctan2(y, x)
    p = np.hypot(x, y)
    phi = np.arctan2(z, p * (1.0 - E2))
    for _ in range(6):
        s = np.sin(phi)
        nu = A / np.sqrt(1.0 - E2 * s * s)
        phi = np.arctan2(z + E2 * nu * s, p)
    return np.rad2deg(phi), np.rad2deg(lon)


def _helmert(xyz, inverse: bool = False):
    """Apply the GDA94->GDA2020 similarity (or its exact inverse)."""
    rx, ry, rz = _R94_20
    R = np.array([[1.0, rz, -ry],
                  [-rz, 1.0, rx],
                  [ry, -rx, 1.0]])
    if inverse:
        # exact inverse of x' = T + (1+s) R x
        return ((np.asarray(xyz) - _T94_20)
                @ np.linalg.inv((1.0 + _S94_20) * R).T)
    return _T94_20 + (1.0 + _S94_20) * (np.asarray(xyz) @ R.T)


def gda94_to_gda2020(lat_deg, lon_deg):
    return ecef_to_geodetic(_helmert(geodetic_to_ecef(lat_deg, lon_deg)))


def gda2020_to_gda94(lat_deg, lon_deg):
    return ecef_to_geodetic(_helmert(geodetic_to_ecef(lat_deg, lon_deg),
                                     inverse=True))


# --------------------------------------------------------------------------
# projected CRS chains (9473 shares 3577's Albers parameters on GRS80)
# --------------------------------------------------------------------------

def epsg3577_to_epsg9473(x, y):
    """GDA94 Albers metres -> GDA2020 Albers metres (through the datum)."""
    lat94, lon94 = albers_inverse(x, y)
    lat20, lon20 = gda94_to_gda2020(lat94, lon94)
    return albers_forward(lat20, lon20)


def epsg9473_to_epsg3577(x, y):
    lat20, lon20 = albers_inverse(x, y)
    lat94, lon94 = gda2020_to_gda94(lat20, lon20)
    return albers_forward(lat94, lon94)
