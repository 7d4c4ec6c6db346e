"""In-kernel S2 kNN for a small directory — the kernel arm of
``s2_knn_join`` and the spherical counterpart of ``geom/knn_kernel.py``.

A DataFrame pipeline materializes every (page, candidate) pair as a JVM
join row; at ~23 cover cells per directory point that is tens of
candidate rows per page and the row overhead dominates (a broadcast-join
pipeline measured 62k pages/s on 8 cores vs the planar kernel's 155k/s
on ONE). This module runs the same algorithm as the rounds arm —
cell-ring expansion over the S2 index with chord-distance refinement,
certify-or-escalate — entirely inside one Arrow map stage against a
resident broadcast directory, so the whole kNN job is a single narrow
map over the page scan (the shape the north rule's scaling criterion
wants):

- the directory rides to workers once as plain numpy (~32 B/point);
- per (chord, level) the worker builds a cap-cover CSR (cell → slice of
  directory point indices whose chord-cap cover contains the cell) —
  memoized across batches, the structure the rounds arm's
  ``_cover_explode`` builds as join rows;
- pages probe with their own single level-``level`` cell, candidates
  gather through count-sorted padded chunks (bounded working set), and
  rows whose k-th candidate lies within the covered chord certify
  in-kernel (no point outside the cover can beat it — the cover is a
  rigorous superset of the cap's cells);
- uncertified rows retry at chord·3 in-kernel, and the residue
  brute-forces against the full directory.

All distances are SQUARED chords (dx²+dy²+dz² — never a sqrt), so
results are bit-identical to the rounds arm's codegen ``_chord2``
refine and to the DuckDB oracle; ties order by (chord2, rid) both ways.

Reference semantics: GeoTables.jl kNN search over the domain
(/root/reference/src/geoops/geojoin.jl); the cell-ring expansion shape
is the north rule's mandate, executed vectorized.
"""

from __future__ import annotations

import uuid

import numpy as np

from geotables_jl_spark.geom import s2
from geotables_jl_spark.geom.knn_kernel import _ragged_arange, _topk_tie_exact

#: past this many (bad_rows × n2) distance evals, one escalated cover
#: pass is cheaper than direct brute force
_BRUTE_DIRECT_MAX = 64_000_000


class SphereIndex:
    """Directory points, rid-sorted, shipped to workers via
    ``sc.broadcast`` as plain numpy (~32 B/point). Workers derive the
    per-(chord, level) cap-cover index lazily (``CoverIndex``)."""

    def __init__(self, rid: np.ndarray, x: np.ndarray, y: np.ndarray, z: np.ndarray):
        order = np.argsort(rid, kind="stable")
        self.rid = np.ascontiguousarray(rid[order])
        self.x = np.ascontiguousarray(x[order])
        self.y = np.ascontiguousarray(y[order])
        self.z = np.ascontiguousarray(z[order])
        # unique construction token for worker-side cover-index memo keys.
        # id(self) is NOT usable: Python reuses addresses after gc, so a
        # second broadcast directory allocated where a collected one lived
        # would silently hit the old directory's cached CoverIndex slices.
        # The token is minted once on the driver and pickles with the
        # broadcast, so every worker sees the same value.
        self.token = uuid.uuid4().hex


class CoverIndex:
    """cell → slice of directory point indices whose chord-cap cover
    contains the cell, at one (chord, level). Built vectorized from
    ``s2_cap_cells_np`` (the same rigorous interval-arithmetic cover the
    rounds arm explodes); within a cell's slice, point indices are
    ascending = rid order, so top-k column-position ties resolve by rid
    exactly like the rounds arm's (chord2, rid) ordering."""

    def __init__(self, base: SphereIndex, chord: float, level: int):
        rows, cells = s2.s2_cap_cells_np(base.x, base.y, base.z, chord, level)
        o = np.lexsort((rows, cells))
        self.point_idx = rows[o].astype(np.int32)
        cells = cells[o]
        self.keys, self.starts = np.unique(cells, return_index=True)
        self.ends = np.append(self.starts[1:], len(cells))

    def lookup(self, cells: np.ndarray):
        if not len(self.keys):
            z = np.zeros(len(cells), dtype=np.int64)
            return z, z
        pos = np.searchsorted(self.keys, cells)
        pos_c = np.minimum(pos, len(self.keys) - 1)
        ok = self.keys[pos_c] == cells
        starts = np.where(ok, self.starts[pos_c], 0)
        counts = np.where(ok, self.ends[pos_c] - self.starts[pos_c], 0)
        return starts.astype(np.int64), counts.astype(np.int64)


# worker-global cover-index memo (workers are reused across batches);
# keyed per (chord, level) so the base round and its escalation stay
# cached together. Keyed by the index's construction TOKEN, never id():
# a long-lived worker running a second s2_knn_join against a different
# directory can see the new SphereIndex allocated at a gc-reused address.
_CI_CACHE: dict = {"base_token": None, "by_key": {}}


def _cover_index(base: SphereIndex, chord: float, level: int) -> CoverIndex:
    token = getattr(base, "token", None) or id(base)
    if _CI_CACHE["base_token"] != token:
        _CI_CACHE["base_token"] = token
        _CI_CACHE["by_key"] = {}
    key = (round(float(chord), 12), int(level))
    ci = _CI_CACHE["by_key"].get(key)
    if ci is None:
        ci = _CI_CACHE["by_key"][key] = CoverIndex(base, chord, level)
    return ci


def _score_pass(lid, lx, ly, lz, index: SphereIndex, chord: float, level: int,
                k: int, chunk_budget: int):
    """One covered pass; returns (lens, kth2, cnt, offsets, ridv, d2v)
    ALL in input row order. ``kth2`` is NaN for rows with no candidate."""
    n = len(lid)
    pcell = s2.s2_cell_from_xyz_np(lx, ly, lz, level)
    ci = _cover_index(index, chord, level)
    starts, counts = ci.lookup(pcell)

    order = np.argsort(counts, kind="stable")
    cs = np.maximum(counts[order], 1)
    lens = np.zeros(n, np.int64)
    kth2 = np.full(n, np.nan)
    ridv_parts, d2v_parts, rows_parts, lens_parts = [], [], [], []

    i = 0
    while i < n:
        # count-sorted ⇒ (j-i)·cs[j-1] nondecreasing in j: binary-search
        # the chunk boundary (O(1) predicate, no product materialization)
        lo, hi = i + 1, n
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if (mid - i) * int(cs[mid - 1]) <= chunk_budget:
                lo = mid
            else:
                hi = mid - 1
        j = lo
        rows = order[i:j]
        i = j
        cnts = counts[rows]
        if cnts[-1] == 0:
            continue  # all-zero chunk: lens stay 0, kth2 stays NaN
        b = len(rows)
        mmax = int(cnts[-1])
        pad = np.arange(mmax, dtype=np.int64)[None, :]
        mask = pad < cnts[:, None]
        gidx = np.where(mask, starts[rows][:, None] + pad, 0)
        pidx = ci.point_idx[gidx]  # b×m directory point idx (rid order)
        dx = lx[rows][:, None] - index.x[pidx]
        dy = ly[rows][:, None] - index.y[pidx]
        dz = lz[rows][:, None] - index.z[pidx]
        d2 = dx * dx + dy * dy + dz * dz
        d2[~mask] = np.inf
        kk = min(k, mmax)
        top, d2_mat = _topk_tie_exact(d2, kk)
        rid_mat = index.rid[np.take_along_axis(pidx, top, axis=1)]
        ln = np.minimum(cnts, k)
        keep = pad[:, :kk] < ln[:, None]
        lens[rows] = ln
        kth_pos = np.minimum(np.maximum(ln, 1) - 1, kk - 1)
        kth2[rows] = np.where(cnts > 0, d2_mat[np.arange(b), kth_pos], np.nan)
        rows_parts.append(rows)
        lens_parts.append(ln)
        ridv_parts.append(rid_mat[keep])
        d2v_parts.append(d2_mat[keep])

    offsets = np.zeros(n + 1, np.int64)
    offsets[1:] = np.cumsum(lens)
    total = int(offsets[-1])
    ridv = np.empty(total, np.int64)
    d2v = np.empty(total)
    for rows, ln, rv, dv in zip(rows_parts, lens_parts, ridv_parts, d2v_parts):
        pos = np.repeat(offsets[rows], ln) + _ragged_arange(ln)
        ridv[pos] = rv
        d2v[pos] = dv
    return lens, kth2, counts, offsets, ridv, d2v


def _brute_rows_sphere(lx, ly, lz, index: SphereIndex, k: int, chunk_budget: int):
    """Exact top-k for a (tiny) set of rows against ALL directory points
    — columns are rid-sorted so ties resolve identically."""
    n2 = len(index.rid)
    nb = len(lx)
    kk = min(k, n2)
    step = max(1, chunk_budget // max(n2, 1))
    lens = np.full(nb, kk, dtype=np.int64)
    kth2 = np.empty(nb)
    ridv_parts, d2v_parts = [], []
    for i in range(0, nb, step):
        dx = lx[i : i + step, None] - index.x[None, :]
        dy = ly[i : i + step, None] - index.y[None, :]
        dz = lz[i : i + step, None] - index.z[None, :]
        d2 = dx * dx + dy * dy + dz * dz
        top, dp = _topk_tie_exact(d2, kk)
        kth2[i : i + step] = dp[:, -1]
        ridv_parts.append(index.rid[top].reshape(-1))
        d2v_parts.append(dp.reshape(-1))
    ridv = np.concatenate(ridv_parts) if ridv_parts else np.empty(0, np.int64)
    d2v = np.concatenate(d2v_parts) if d2v_parts else np.empty(0)
    return lens, kth2, ridv, d2v


def score_batch_sphere(lid, lx, ly, lz, index: SphereIndex, chord0: float,
                       level0: int, k: int, chunk_budget: int = 262_144):
    """EXACT one-pass spherical kNN: covered pass at (chord0, level0)
    certifies the bulk (kth chord² ≤ chord0² ⇒ nothing outside the cover
    can beat it), uncertified rows retry at chord0·3 in-kernel, and the
    residue brute-forces against the full directory. Returns
    (lens, offsets, ridv, chord2v) in input row order; every row gets
    exactly min(k, n2) neighbors."""
    n = len(lid)
    n2 = len(index.rid)
    if n == 0 or n2 == 0:
        z = np.zeros(n, np.int64)
        return z, np.zeros(n + 1, np.int64), np.empty(0, np.int64), np.empty(0)

    lens, kth2, cnt, off, ridv, d2v = _score_pass(
        lid, lx, ly, lz, index, chord0, level0, k, chunk_budget
    )
    g = chord0 * chord0
    with np.errstate(invalid="ignore"):
        cert = ((cnt >= k) & ~np.isnan(kth2) & (kth2 <= g)) | (cnt >= n2)
    if cert.all():
        return lens, off, ridv, d2v

    bad = np.nonzero(~cert)[0]
    sub_lens = np.zeros(len(bad), np.int64)
    sub_off = None
    chord1 = min(2.0, chord0 * 3.0)
    tried_escalate = len(bad) * n2 > _BRUTE_DIRECT_MAX and chord1 < 2.0
    still = np.arange(len(bad))
    if tried_escalate:
        level1 = s2.s2_level_for_chord(chord1, 6.0)
        l2, kth2_2, cnt2, off2, rv2, dv2 = _score_pass(
            lid[bad], lx[bad], ly[bad], lz[bad], index, chord1, level1, k, chunk_budget
        )
        g2 = chord1 * chord1
        with np.errstate(invalid="ignore"):
            cert2 = ((cnt2 >= k) & ~np.isnan(kth2_2) & (kth2_2 <= g2)) | (cnt2 >= n2)
        ok2 = np.nonzero(cert2)[0]
        sub_lens[ok2] = l2[ok2]
        sub_off = (off2, rv2, dv2, ok2, l2)
        still = np.nonzero(~cert2)[0]
    if len(still):
        bl, _, brv, bdv = _brute_rows_sphere(
            lx[bad[still]], ly[bad[still]], lz[bad[still]], index, k, chunk_budget
        )
        sub_lens[still] = bl
    else:
        brv, bdv = np.empty(0, np.int64), np.empty(0)

    # splice final output in input row order
    lens_f = lens.copy()
    lens_f[bad] = sub_lens
    off_f = np.zeros(n + 1, np.int64)
    off_f[1:] = np.cumsum(lens_f)
    ridv_f = np.empty(int(off_f[-1]), np.int64)
    d2v_f = np.empty(int(off_f[-1]))

    def _scatter(dst_rows, src_r, src_d, src_lens):
        if not len(dst_rows):
            return
        pos = np.repeat(off_f[dst_rows], src_lens) + _ragged_arange(src_lens)
        ridv_f[pos] = src_r
        d2v_f[pos] = src_d

    okr = np.nonzero(cert)[0]
    pos1 = np.repeat(off[okr], lens[okr]) + _ragged_arange(lens[okr])
    _scatter(okr, ridv[pos1], d2v[pos1], lens[okr])
    if sub_off is not None:
        off2, rv2, dv2, ok2, l2 = sub_off
        pos2 = np.repeat(off2[ok2], l2[ok2]) + _ragged_arange(l2[ok2])
        _scatter(bad[ok2], rv2[pos2], dv2[pos2], l2[ok2])
    if len(still):
        _scatter(bad[still], brv, bdv, np.full(len(still), min(k, n2), np.int64))
    return lens_f, off_f, ridv_f, d2v_f
