"""Arrow-batch exact-predicate refinement over candidate pairs.

This is the only Python that runs in the geojoin hot path, and it is
batch-vectorized: within each Arrow batch, candidate pairs are grouped by
the polygon side's geometry id, each distinct polygon's ring is decoded
once, and all its candidate points are tested in one numpy call
(winding-number PIP, ``geom/kernel.py``). Polygon-vs-polygon pairs fall
back to a per-pair loop — those batches are small by construction (the
cell prefilter already bounds candidates).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from geotables_jl_spark.geom import kernel

EPS = kernel.EPS


def _as_struct_arrays(geoms: pa.StructArray):
    """Decompose an Arrow batch of geometry structs into (kind, x, y,
    rings) numpy arrays — coordinates NaN where NULL (polygons)."""
    f = dict(zip((t.name for t in geoms.type), geoms.flatten()))
    kind, x, y, rings = (f[c].to_numpy(zero_copy_only=False) for c in ("kind", "x", "y", "rings"))
    return kind.astype(np.int64), x, y, rings


def refine_mask(
    lgeom: pa.StructArray,
    rgeom: pa.StructArray,
    lid: np.ndarray,
    rid: np.ndarray,
    pred: str,
) -> np.ndarray:
    """Boolean mask of pairs satisfying the exact predicate, over Arrow
    batches of geometry structs. ``lid``/``rid`` identify each side's
    geometry: pairs sharing an id share one polygon, decoded once.

    pred ∈ {"intersects", "within", "contains"}:
    within  = left ⊆ right (reference ``issubset``),
    contains = right ⊆ left.
    """
    lkind, lx, ly, lrings = _as_struct_arrays(lgeom)
    rkind, rx, ry, rrings = _as_struct_arrays(rgeom)
    if pred == "contains":
        return _refine(rkind, rx, ry, rrings, rid, lkind, lx, ly, lrings, lid, "within")
    return _refine(lkind, lx, ly, lrings, lid, rkind, rx, ry, rrings, rid, pred)


_POLY_KINDS = (3, 5)  # polygon family: PolyArea (holes = rings[1:]) / Multi


def _groups(ids: np.ndarray, mask: np.ndarray) -> list[np.ndarray]:
    """Row indices under ``mask``, split into runs sharing one id."""
    idx = np.flatnonzero(mask)
    order = idx[np.argsort(ids[idx], kind="stable")]
    return np.split(order, np.flatnonzero(np.diff(ids[order])) + 1) if len(order) else []


def _refine(lkind, lx, ly, lrings, lid, rkind, rx, ry, rrings, rid, pred) -> np.ndarray:
    n = len(lkind)
    out = np.zeros(n, dtype=bool)

    pt_pt = (lkind == 1) & (rkind == 1)
    if pt_pt.any():
        ii = np.flatnonzero(pt_pt)
        out[ii] = (np.abs(lx[ii] - rx[ii]) <= EPS) & (np.abs(ly[ii] - ry[ii]) <= EPS)

    # point-left vs polygon-family right: vectorize per distinct right geom
    # (point vs polygon: intersects == within, boundary-inclusive)
    for ii in _groups(rid, (lkind == 1) & np.isin(rkind, _POLY_KINDS)):
        out[ii] = kernel.points_in_poly(lx[ii], ly[ii], rrings[ii[0]], int(rkind[ii[0]]))

    # polygon-family left vs point-right: vectorize per distinct left geom
    # (a polygon is never ⊆ a point, so `within` stays False)
    if pred != "within":
        for ii in _groups(lid, np.isin(lkind, _POLY_KINDS) & (rkind == 1)):
            out[ii] = kernel.points_in_poly(rx[ii], ry[ii], lrings[ii[0]], int(lkind[ii[0]]))

    poly_poly = np.isin(lkind, _POLY_KINDS) & np.isin(rkind, _POLY_KINDS)
    if poly_poly.any():
        for i in np.flatnonzero(poly_poly):
            if pred == "intersects":
                out[i] = kernel.poly_intersects_poly(
                    lrings[i], int(lkind[i]), rrings[i], int(rkind[i])
                )
            else:
                out[i] = kernel.poly_within_poly(
                    lrings[i], int(lkind[i]), rrings[i], int(rkind[i])
                )

    # multipoint (kind 4): rings[0] is one flat [x0,y0,x1,y1,...] list
    mp_l = lkind == 4
    mp_r = rkind == 4
    if mp_l.any() or mp_r.any():
        for i in np.flatnonzero(mp_l | mp_r):
            out[i] = _multipoint_pair(
                int(lkind[i]), lx[i], ly[i], lrings[i],
                int(rkind[i]), rx[i], ry[i], rrings[i], pred,
            )
    return out


def _multipoint_pair(lk, lx, ly, lr, rk, rx, ry, rr, pred) -> bool:
    """Pairs where either side is a multipoint. intersects = any member
    point matches; within(A⊆B) = every member of A matches B."""

    def pts(kind, x, y, rings):
        if kind == 1:
            return np.array([x]), np.array([y])
        flat = np.asarray(rings[0], dtype=np.float64)
        return flat[0::2], flat[1::2]

    if lk == 4 and rk in _POLY_KINDS:
        px, py = pts(lk, lx, ly, lr)
        hits = kernel.points_in_poly(px, py, rr, rk)
        return bool(hits.all() if pred == "within" else hits.any())
    if rk == 4 and lk in _POLY_KINDS:
        if pred == "within":
            return False  # a polygon is never ⊆ a finite point set
        px, py = pts(rk, rx, ry, rr)
        return bool(kernel.points_in_poly(px, py, lr, lk).any())
    # point/multipoint vs multipoint: coincidence matching
    ax, ay = pts(lk, lx, ly, lr)
    bx, by = pts(rk, rx, ry, rr)
    close = (np.abs(ax[:, None] - bx[None, :]) <= EPS) & (
        np.abs(ay[:, None] - by[None, :]) <= EPS
    )
    # within: every member of A coincides with SOME member of B
    return bool(close.any(axis=1).all() if pred == "within" else close.any())
