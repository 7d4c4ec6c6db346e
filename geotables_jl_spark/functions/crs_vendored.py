"""Vendored pure-numpy transformers for long-tail CRS codes.

When pyproj is absent, ``parse_crs``'s long-tail fallback consults this
registry so selected national grids still reproject through the same
Arrow vertex kernel the pyproj arm uses (``crs.transform_geometry_
vertexwise``). Everything here is public textbook math:

- EPSG:27700 (British National Grid / OSGB36): transverse Mercator on
  the Airy 1830 ellipsoid with the Redfearn series, plus the published
  7-parameter Helmert shift between WGS84 and OSGB36 — formulas and
  constants from Ordnance Survey, "A guide to coordinate systems in
  Great Britain" (public document; Annexe C worked examples are the
  test anchors). Helmert (no local distortion grid) is the guide's
  stated ~5 m-accuracy datum path; the projection series itself is
  sub-mm, which is what the Annexe C anchor pins.

A transformer maps WGS84 lon/lat degrees ↔ projected metres over numpy
arrays — the exact ``txy`` shape ``_xform_geom_batch`` consumes. The
reference accepts arbitrary CoordRefSystems types
(``src/georef.jl:186-188``); this registry is the no-dependency slice
of that long tail.
"""

from __future__ import annotations

import numpy as np

# -- ellipsoids (semi-major, semi-minor; metres) ----------------------------
AIRY_A, AIRY_B = 6_377_563.396, 6_356_256.909
WGS84_A, WGS84_B = 6_378_137.0, 6_356_752.314245

# -- National Grid projection constants (OS guide, section 6.5) -------------
_NG_F0 = 0.9996012717
_NG_PHI0 = np.radians(49.0)
_NG_LAM0 = np.radians(-2.0)
_NG_E0 = 400_000.0
_NG_N0 = -100_000.0

# -- WGS84 -> OSGB36 Helmert parameters (OS guide, table 3.4) ---------------
_H_TX, _H_TY, _H_TZ = -446.448, 125.157, -542.060
_H_S = 20.4894e-6
_H_RX = np.radians(-0.1502 / 3600.0)
_H_RY = np.radians(-0.2470 / 3600.0)
_H_RZ = np.radians(-0.8421 / 3600.0)


def _e2(a: float, b: float) -> float:
    return (a * a - b * b) / (a * a)


def _geodetic_to_xyz(lon, lat, a: float, b: float):
    """Geodetic (radians, h=0) -> geocentric cartesian (OS guide B.1)."""
    e2 = _e2(a, b)
    s, c = np.sin(lat), np.cos(lat)
    nu = a / np.sqrt(1.0 - e2 * s * s)
    return nu * c * np.cos(lon), nu * c * np.sin(lon), (1.0 - e2) * nu * s


def _xyz_to_geodetic(x, y, z, a: float, b: float):
    """Geocentric cartesian -> geodetic radians (OS guide B.2, iterative)."""
    e2 = _e2(a, b)
    lon = np.arctan2(y, x)
    p = np.hypot(x, y)
    lat = np.arctan2(z, p * (1.0 - e2))
    # each point stops at its own convergence (~0.1 µm; ~5 rounds), not
    # the batch's slowest, so its bits do not depend on its batch
    done = np.zeros(np.shape(lat), bool)
    for _ in range(100):
        s = np.sin(lat)
        nu = a / np.sqrt(1.0 - e2 * s * s)
        new = np.arctan2(z + e2 * nu * s, p)
        conv = np.abs(new - lat) < 1e-14
        lat = np.where(done, lat, new)
        done |= conv
        if done.all():
            break
    return lon, lat


# forward: X' = T + M·X with the small-angle rotation+scale matrix M.
# The reverse uses the EXACT M⁻¹ rather than the OS guide's
# negate-the-parameters approximation (whose error is O(t·s + t·r) ≈ 9 mm)
# so forward∘inverse round-trips to float precision.
_H_T = np.array([_H_TX, _H_TY, _H_TZ])
_H_M = np.array(
    [
        [1.0 + _H_S, -_H_RZ, _H_RY],
        [_H_RZ, 1.0 + _H_S, -_H_RX],
        [-_H_RY, _H_RX, 1.0 + _H_S],
    ]
)
_H_MINV = np.linalg.inv(_H_M)


def _helmert(x, y, z, sign: int):
    """7-parameter Helmert; sign=+1 WGS84->OSGB36 (OS guide 6.6), -1 the
    exact inverse."""
    if sign > 0:
        v = _H_M @ np.vstack([x, y, z])
        return v[0] + _H_TX, v[1] + _H_TY, v[2] + _H_TZ
    v = _H_MINV @ np.vstack([x - _H_TX, y - _H_TY, z - _H_TZ])
    return v[0], v[1], v[2]


def _ng_meridional_arc(phi):
    """M(phi) on Airy 1830 scaled by F0 (OS guide C.1)."""
    n = (AIRY_A - AIRY_B) / (AIRY_A + AIRY_B)
    n2, n3 = n * n, n * n * n
    dphi, sphi = phi - _NG_PHI0, phi + _NG_PHI0
    return (
        AIRY_B
        * _NG_F0
        * (
            (1.0 + n + 1.25 * n2 + 1.25 * n3) * dphi
            - (3.0 * n + 3.0 * n2 + 2.625 * n3) * np.sin(dphi) * np.cos(sphi)
            + (1.875 * n2 + 1.875 * n3) * np.sin(2.0 * dphi) * np.cos(2.0 * sphi)
            - (35.0 / 24.0) * n3 * np.sin(3.0 * dphi) * np.cos(3.0 * sphi)
        )
    )


def osgb36_tm_forward(lon, lat):
    """OSGB36 geodetic radians -> National Grid E, N (OS guide C.1 —
    Redfearn series; Annexe C worked example is the unit-test anchor)."""
    e2 = _e2(AIRY_A, AIRY_B)
    s, c = np.sin(lat), np.cos(lat)
    t = np.tan(lat)
    nu = AIRY_A * _NG_F0 / np.sqrt(1.0 - e2 * s * s)
    rho = AIRY_A * _NG_F0 * (1.0 - e2) / (1.0 - e2 * s * s) ** 1.5
    eta2 = nu / rho - 1.0
    M = _ng_meridional_arc(lat)
    I = M + _NG_N0
    II = nu / 2.0 * s * c
    III = nu / 24.0 * s * c**3 * (5.0 - t * t + 9.0 * eta2)
    IIIA = nu / 720.0 * s * c**5 * (61.0 - 58.0 * t * t + t**4)
    IV = nu * c
    V = nu / 6.0 * c**3 * (nu / rho - t * t)
    VI = nu / 120.0 * c**5 * (5.0 - 18.0 * t * t + t**4 + (14.0 - 58.0 * t * t) * eta2)
    dl = lon - _NG_LAM0
    N = I + II * dl**2 + III * dl**4 + IIIA * dl**6
    E = _NG_E0 + IV * dl + V * dl**3 + VI * dl**5
    return E, N


def osgb36_tm_inverse(E, N):
    """National Grid E, N -> OSGB36 geodetic radians (OS guide C.2)."""
    e2 = _e2(AIRY_A, AIRY_B)
    aF0 = AIRY_A * _NG_F0
    phi = (np.asarray(N, dtype=np.float64) - _NG_N0) / aF0 + _NG_PHI0
    M = _ng_meridional_arc(phi)
    # 0.01 mm (guide's bound), per point as in _xyz_to_geodetic
    active = np.abs(N - _NG_N0 - M) >= 1e-5
    while active.any():
        phi = np.where(active, phi + (N - _NG_N0 - M) / aF0, phi)
        M = _ng_meridional_arc(phi)
        active = np.abs(N - _NG_N0 - M) >= 1e-5
    s = np.sin(phi)
    t = np.tan(phi)
    sec = 1.0 / np.cos(phi)
    nu = aF0 / np.sqrt(1.0 - e2 * s * s)
    rho = aF0 * (1.0 - e2) / (1.0 - e2 * s * s) ** 1.5
    eta2 = nu / rho - 1.0
    VII = t / (2.0 * rho * nu)
    VIII = t / (24.0 * rho * nu**3) * (5.0 + 3.0 * t * t + eta2 - 9.0 * t * t * eta2)
    IX = t / (720.0 * rho * nu**5) * (61.0 + 90.0 * t * t + 45.0 * t**4)
    X = sec / nu
    XI = sec / (6.0 * nu**3) * (nu / rho + 2.0 * t * t)
    XII = sec / (120.0 * nu**5) * (5.0 + 28.0 * t * t + 24.0 * t**4)
    XIIA = sec / (5040.0 * nu**7) * (61.0 + 662.0 * t * t + 1320.0 * t**4 + 720.0 * t**6)
    dE = np.asarray(E, dtype=np.float64) - _NG_E0
    lat = phi - VII * dE**2 + VIII * dE**4 - IX * dE**6
    lon = _NG_LAM0 + X * dE - XI * dE**3 + XII * dE**5 - XIIA * dE**7
    return lon, lat


def _batch_invariant(f, a, b):
    """``f(a, b)`` evaluated so that a point's bits do not depend on its
    batch: numpy 1.26 runs a one-element array's transcendentals on its
    scalar path, whose last bit can differ from the SIMD loop every
    longer array takes, so a one-point input is evaluated as two copies
    and the first kept."""
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    shape = np.broadcast_shapes(a.shape, b.shape)
    if int(np.prod(shape)) != 1:
        return f(a, b)
    u, v = f(np.repeat(a.reshape(1), 2), np.repeat(b.reshape(1), 2))
    return u[:1].reshape(shape), v[:1].reshape(shape)


def _forward(lon_deg, lat_deg):
    x, y, z = _geodetic_to_xyz(np.radians(lon_deg), np.radians(lat_deg), WGS84_A, WGS84_B)
    x, y, z = _helmert(x, y, z, +1)
    lon36, lat36 = _xyz_to_geodetic(x, y, z, AIRY_A, AIRY_B)
    return osgb36_tm_forward(lon36, lat36)


def _inverse(E, N):
    lon36, lat36 = osgb36_tm_inverse(E, N)
    x, y, z = _geodetic_to_xyz(lon36, lat36, AIRY_A, AIRY_B)
    x, y, z = _helmert(x, y, z, -1)
    lon, lat = _xyz_to_geodetic(x, y, z, WGS84_A, WGS84_B)
    return np.degrees(lon), np.degrees(lat)


class Osgb36Transformer:
    """EPSG:27700 — WGS84 lon/lat degrees ↔ National Grid metres. A
    point's result is the same in every batch it arrives in."""

    name = "EPSG:27700"

    @staticmethod
    def forward(lon_deg, lat_deg):
        return _batch_invariant(_forward, lon_deg, lat_deg)

    @staticmethod
    def inverse(E, N):
        return _batch_invariant(_inverse, E, N)


_VENDORED = {"EPSG:27700": Osgb36Transformer}


def vendored_transformer(name: str):
    """Transformer class for a vendored long-tail CRS, or None."""
    return _VENDORED.get(name.upper())
