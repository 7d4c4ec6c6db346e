"""One exact kNN kernel for the plane and the sphere (Arrow batches +
numpy): the worker side of both arms in ``operators/knn.py``.

A *metric spec* (``Planar``, ``Sphere``) holds everything that differs
between the two searches: the coordinates, the (position, key) entries a
directory point stores (``index``), the key ranges a query row gathers
(``probe``), the distance (``sqrt(dx²+dy²)``, or chord² with no root),
the certificate bound and the escalation (3× cell at fixed r, or 3×
chord at the S2 level for it). Everything else is shared: the sorted
(key, position) CSR (``CellIndex``) and its worker memo, one gather and
covered pass, the tie-exact top-k, the brute-force tail and the
certify→escalate→brute driver ``knn_exact``. Every row gets exactly
min(k, n2) neighbours, so the result is two (n, min(k, n2)) matrices:
each covered chunk writes its rows' top-k straight into them, and the
escalation patches its rows in place.

Which side carries the cover: the plane indexes each directory point
once, under its own cell, and a query gathers its (2r+1)² ring as 2r+1
column runs of the sorted keys; the sphere indexes each directory point
under every S2 cell of its chord cap (~23 cells, ~15-30 µs per point)
and a query probes its one cell, because the query side is the one that
grows to 10¹² rows. Per query row the ring gather costs more than one slice
(a warm covered pass over 25k benchmark rows: 128 ms with the plane's
old 25×-replicated index, ~170 ms gathered), but building the compact
index costs ~0.02 s instead of ~0.4 s per 100k points and a twentieth of
the memory. The gather wins whenever a worker scores fewer than ~240k
rows per directory build, lets a planar batch escalate its uncertified
rows instead of brute-forcing them, and lets the kernel arm serve much
larger planar directories.

Why Python here at all (the repo's rule is JVM-first): the per-row
"score ~65 candidates, sort, slice k" step has no codegen-friendly Spark
expression — higher-order functions (``transform``/``array_sort``) are
CodegenFallback and measured 6.7–92 s per 4M rows on local[16]
(``tools/profile_knn_micro.py``, deleted in the commit after e85fbc8),
10–25× the budget. Here every batch runs as whole-batch matrix ops
(padded gather, argpartition top-k with an exact tie fallback), never a
per-row or per-group Python loop.

Determinism: directory points sit in rid order, so a directory position
orders like its rid. A gathered row concatenates several key ranges, so
its columns are in key order, not rid order: the top-k breaks distance
ties on the gathered position *values* (the brute-force tail's columns
are the positions themselves), which is the (dist, rid) order of the
rounds arm and the DuckDB oracles. ``Metric.dist`` is the same IEEE ops
in the same order as its JVM form, so every engine agrees bit for bit,
whatever the batching.
"""

from __future__ import annotations

import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from geotables_jl_spark.geom import s2

_MASK32 = np.int64((1 << 32) - 1)
# a planar index frame spans at most this many cells per axis: wider
# directories merge their outer cells into the edge ones, which only adds
# candidates (clipping is monotone and never widens a gap)
_SPAN = (1 << 31) - 1


def pack_cells_np(cx: np.ndarray, cy: np.ndarray) -> np.ndarray:
    """Bit-identical twin of ``geom.cells.pack_cell`` (JVM): mask the
    int64 cell coords to 32 bits, pack into one long. numpy int64
    arithmetic wraps two's-complement exactly like a Java long."""
    with np.errstate(over="ignore"):
        return ((cx & _MASK32) << np.int64(32)) | (cy & _MASK32)


class Metric:
    """What a metric spec provides: ``cols`` (coordinate names),
    ``root`` (distance is the root of the squared sum), ``bound`` (a row
    whose k-th distance is within it is certified: every point that close
    is a candidate), ``covers_all`` (every point is a candidate of every
    query), ``key`` (the memo key of its index), ``point_bytes`` (the
    peak bytes a worker's kernel adds per directory point),
    ``build_rows`` (an index build costs, per directory point, about as
    much as brute-forcing this many query rows against it), and the
    methods below. ``index`` and ``probe`` are the kernel's two sides:
    the (position, key) entries a directory stores and the key ranges a
    query row gathers. ``cells`` and ``entries`` are the rounds arm's."""

    def dist(self, q, p, sqrt=np.sqrt):
        """Distance between query coordinates ``q`` and point coordinates
        ``p``: numpy arrays, or Spark Columns with ``sqrt=F.sqrt``. The
        ops and their order are the same on both engines."""
        s = None
        for a, b in zip(q, p):
            d = a - b
            s = d * d if s is None else s + d * d
        return sqrt(s) if self.root else s


class Planar(Metric):
    """Euclidean (x, y) over square cells of side ``cell``: every point
    within ``radius·cell`` of a query lies in the (2r+1)² cell ring around
    the query's cell. The kernel stores each directory point once, under
    its own cell, and a query gathers its ring as 2r+1 column runs of an
    order-preserving key; the rounds arm explodes one side to the ring
    (``entries``) instead. Escalation triples the cell at the same
    radius: the guarantee triples and the ring stays (2r+1)² cells.
    ``extent`` (the larger bounding-box side of both inputs) decides when
    a ring covers everything; the kernel, which never needs that, leaves
    it infinite."""

    cols = ("x", "y")
    root = True
    # worker peak RSS growth per directory point: the unpickled broadcast
    # (24 B of rid + coordinates), the compact index and its escalation.
    # Measured 82 B/pt between 2M and 4M points plus ~70 MB of query-side
    # working set; 0.83 GB at 9,999,999 points (see KNN_BROADCAST_ROWS)
    point_bytes = 100
    # ~30 ns per brute-forced (row, point) pair against ~0.19 µs per
    # point to sort an index (numpy 1.26, 4 vCPU): escalate from 6 rows
    build_rows = 6

    def __init__(self, cell: float, radius: int = 2, extent: float = float("inf")):
        self.cell, self.radius, self.extent = float(cell), int(radius), float(extent)
        self.bound = self.radius * self.cell
        # r·cell >= 2·extent puts any two points' cell indices at most
        # r apart per axis, with room for floor()'s rounding
        self.covers_all = self.bound >= 2.0 * self.extent
        self.key = ("planar", self.cell, self.radius)

    def cells(self, x, y):
        return pack_cells_np(
            np.floor(x / self.cell).astype(np.int64), np.floor(y / self.cell).astype(np.int64)
        )

    def entries(self, x, y):
        """(point, cell) over each point's (2r+1)² block, point-major."""
        r, w = self.radius, 2 * self.radius + 1
        offs = np.arange(-r, r + 1, dtype=np.int64)
        cx = np.floor(x / self.cell).astype(np.int64)[:, None] + offs
        cy = np.floor(y / self.cell).astype(np.int64)[:, None] + offs
        tx = np.repeat(cx.reshape(-1), w)
        ty = np.tile(cy, (1, w)).reshape(-1)
        return np.repeat(np.arange(len(x), dtype=np.int64), w * w), pack_cells_np(tx, ty)

    def _ints(self, v):
        # clipped as floats: astype has no defined result out of range
        return np.floor(np.clip(v / self.cell, -(2.0**61), 2.0**61)).astype(np.int64)

    def index(self, x, y):
        """Each point once, under its own cell: (positions, keys, frame).
        A key is ``(cx - x0) << 32 | (cy - y0)`` inside the directory's
        cell frame, so one ring column is one contiguous key range (the
        32-bit mask of ``pack_cells_np`` breaks that across 0)."""
        cx, cy = self._ints(x), self._ints(y)
        x0 = y0 = wx = wy = 0
        if len(cx):
            x0, y0 = int(cx.min()), int(cy.min())
            wx, wy = min(int(cx.max()) - x0, _SPAN), min(int(cy.max()) - y0, _SPAN)
        keys = (np.minimum(cx - x0, wx) << np.int64(32)) | np.minimum(cy - y0, wy)
        return np.arange(len(cx), dtype=np.int64), keys, (x0, y0, wx, wy)

    def probe(self, frame, x, y):
        """(lo, hi) key ranges, one per ring column: (n, 2r+1) each. A
        query far outside the frame clips to just beyond its edge, where
        its ring is empty."""
        x0, y0, wx, wy = frame
        r = self.radius
        cx = np.clip(self._ints(x) - x0, -r - 1, wx + r + 1)
        cy = np.clip(self._ints(y) - y0, -r - 1, wy + r + 1)
        c = cx[:, None] + np.arange(-r, r + 1, dtype=np.int64)
        ylo, yhi = np.maximum(cy - r, 0), np.minimum(cy + r, wy)
        ok = (c >= 0) & (c <= wx) & (ylo <= yhi)[:, None]
        c = np.where(ok, c, 0) << np.int64(32)
        return np.where(ok, c | ylo[:, None], 1), np.where(ok, c | yhi[:, None], 0)

    def escalate(self) -> Planar:
        return Planar(3.0 * self.cell, self.radius, self.extent)

    def full(self) -> Planar:
        return Planar(2.0 * self.extent, self.radius, self.extent)


class Sphere(Metric):
    """Unit vectors (x, y, z) ranked by squared chord — never a sqrt, so
    results match the codegen refine and the SQL oracle bit for bit. A
    point's index entries are the level-``level`` S2 cells of its
    rigorous chord-cap cover (``s2_cap_cells_np``), so every point within
    ``chord`` of a query is in its one cell's range. The cover stays on
    the directory: it costs ~23 cells and ~15-30 µs per point, which a
    query side of 10¹² rows must not pay. Escalation triples the chord at the
    coarser level for it; chord 2 covers the sphere."""

    cols = ("x", "y", "z")
    root = False
    # the cap cover's temporaries dominate: measured 3,484-4,019 B/pt at
    # 250k points (k=50..10)
    point_bytes = 4_000
    # the escalated cover's ~19 µs per point against ~30 ns per
    # brute-forced pair (numpy 1.26, 4 vCPU): escalate from 600 rows
    build_rows = 600

    def __init__(self, chord: float, level: int | None = None):
        self.chord = min(2.0, float(chord))
        # 6 cells per window side, one level finer than the cover-bound
        # default: the tighter window cuts candidate pairs ~2× per level
        # (measured 2.36B→1.09B, level 5→6, on the 5M-page dwithin profile)
        self.level = s2.s2_level_for_chord(self.chord, 6.0) if level is None else int(level)
        self.bound = self.chord * self.chord
        self.covers_all = self.chord >= 2.0
        self.key = ("sphere", self.chord, self.level)

    def cells(self, x, y, z):
        return s2.s2_cell_from_xyz_np(x, y, z, self.level)

    def entries(self, x, y, z):
        return s2.s2_cap_cells_np(x, y, z, self.chord, self.level)

    def index(self, x, y, z):
        """The cap cover's (positions, cells), no frame."""
        return (*self.entries(x, y, z), None)

    def probe(self, frame, x, y, z):
        """One range per row: its own cell."""
        c = self.cells(x, y, z)[:, None]
        return c, c

    def escalate(self) -> Sphere:
        return Sphere(3.0 * self.chord)

    def full(self) -> Sphere:
        return Sphere(2.0)


class PointIndex:
    """Directory points in rid order — the kernel arm's broadcast (8 B
    per coordinate per point, plus the rids). ``rid`` is any Arrow
    -sortable array: the kernel works on positions and ``rid.take`` maps
    them back, so distance ties break in Arrow's ascending order, which
    for numbers and (binary) strings is Spark's too.

    ``token`` keys the worker memo. id() would not do: Python reuses
    addresses after gc, so a second directory allocated where a collected
    one lived would hit the old directory's cached index. The token is
    minted once on the driver and pickles with the broadcast."""

    def __init__(self, rid, coords):
        rid = rid if isinstance(rid, pa.Array) else pa.array(rid)
        order = pc.sort_indices(rid, null_placement="at_start").to_numpy()
        self.rid = rid.take(order)
        self.coords = tuple(np.ascontiguousarray(np.asarray(c, np.float64)[order]) for c in coords)
        self.token = uuid.uuid4().hex


class RightIndex(PointIndex):
    """A planar directory and its base cell size (``score_batch_exact``)."""

    def __init__(self, rid, rx, ry, cell_size: float):
        super().__init__(rid, (rx, ry))
        self.cell_size = float(cell_size)


class CellIndex:
    """The directory's (position, key) entries at one spec resolution:
    positions sorted by key (a CSR built by one stable sort, no per-cell
    Python) and each distinct key's first entry. Positions are int32
    (half the gather traffic of a memory-bound kernel) and ascending
    within a key, i.e. in rid order."""

    def __init__(self, base: PointIndex, spec: Metric):
        rows, keys, self.frame = spec.index(*base.coords)
        o = np.argsort(keys, kind="stable")
        self.pos, keys = rows[o].astype(np.int32), keys[o]
        first = np.flatnonzero(np.append(True, keys[1:] != keys[:-1])) if len(keys) else np.empty(0, np.int64)
        self.keys, self.bounds = keys[first], np.append(first, len(keys))

    def ranges(self, spec: Metric, q):
        """(starts, counts) of the entries each query row gathers: one
        column per key range of ``spec.probe``, count 0 for an empty
        one."""
        lo, hi = spec.probe(self.frame, *q)
        # searched in key order, one range column at a time: ascending
        # needles halve the searches' cache misses
        o = np.argsort(lo[:, lo.shape[1] // 2])
        s = self.bounds[np.searchsorted(self.keys, lo[o].T, "left")].T
        e = self.bounds[np.searchsorted(self.keys, hi[o].T, "right")].T
        starts, counts = np.empty_like(s), np.empty_like(s)
        starts[o], counts[o] = s, np.maximum(e - s, 0)
        return starts, counts


def NeighborIndex(base: RightIndex, radius: int) -> CellIndex:
    """The planar index of ``base`` at its cell size and ``radius``."""
    return CellIndex(base, Planar(base.cell_size, radius))


# worker memo (workers are reused across batches and tasks): one entry
# per spec resolution, so a pass and its escalation stay built together
_MEMO: dict = {"token": None, "by_key": {}}


def _cell_index(base: PointIndex, spec: Metric) -> CellIndex:
    if _MEMO["token"] != base.token:
        _MEMO["token"], _MEMO["by_key"] = base.token, {}
    ci = _MEMO["by_key"].get(spec.key)
    if ci is None:
        ci = _MEMO["by_key"][spec.key] = CellIndex(base, spec)
    return ci


def _order(d: np.ndarray, p: np.ndarray | None) -> np.ndarray:
    """Row-wise argsort by (d, p); by (d, column) when ``p`` is None."""
    return np.argsort(d, axis=-1, kind="stable") if p is None else np.lexsort((p, d), axis=-1)


def _topk_tie_exact(d: np.ndarray, kk: int, p: np.ndarray | None = None):
    """Row-wise top-kk of the padded distance matrix ``d`` ordered by
    (dist, position): ``p`` holds each column's directory position (rid
    order), or None when the column IS the position. argpartition (O(m))
    + tiny per-row sort; rows whose k-th distance ties with an excluded
    element fall back to an exact sort of their ≤-kth candidates (rare —
    needs duplicate distances exactly at the boundary)."""
    b, m = d.shape
    if kk >= m:
        top = _order(d, p)[:, :kk]
        return top, np.take_along_axis(d, top, axis=1)
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    # order the selected by (dist, position)
    dp = np.take_along_axis(d, part, axis=1)
    o = _order(dp, part if p is None else np.take_along_axis(p, part, axis=1))
    part = np.take_along_axis(part, o, axis=1)
    dp = np.take_along_axis(dp, o, axis=1)
    # boundary-tie check: an excluded element equal to the kth distance
    # could have a smaller position than an included tie. Resolve by
    # sorting ONLY the ≤-kth candidates of each affected row (kk + tie
    # group, typically a handful) — a full-row sort here was the
    # dominant cost on lattice-like data where exact ties are pervasive.
    kth = dp[:, kk - 1]
    n_le = (d <= kth[:, None]).sum(axis=1)
    bad = np.nonzero(n_le > kk)[0]
    if len(bad) and m <= max(8 * kk, 512):
        # narrow rows (padded neighborhood path): vectorized full sort of
        # the affected rows is cheaper than any per-row bookkeeping
        full = _order(d[bad], None if p is None else p[bad])[:, :kk]
        part[bad] = full
        dp[bad] = np.take_along_axis(d[bad], full, axis=1)
    else:
        for r in bad:
            dr = d[r]
            cand = np.nonzero(dr <= kth[r])[0]
            sel = cand[_order(dr[cand], None if p is None else p[r, cand])[:kk]]
            part[r] = sel
            dp[r] = dr[sel]
    return part, dp


def _covered(q, index: PointIndex, spec: Metric, k: int, budget: int):
    """One covered pass of the query rows ``q`` (a coordinate tuple):
    (pos, dist, rows left uncertified), ``pos`` and ``dist`` each an
    (n, min(k, n2)) matrix in row order. An uncertified row's values are
    unspecified: the caller replaces them.

    Rows run in count-sorted chunks padded to the chunk max, so the
    working set stays bounded (cache-resident under concurrency) and a
    hot cell cannot blow the matrix budget. A chunk gathers its rows'
    key ranges into one padded matrix of directory positions, in range
    order, so ties break on the position values, and writes its top-k
    straight into its rows of ``pos`` and ``dist``."""
    n, n2 = len(q[0]), len(index.rid)
    kk = min(k, n2)
    ci = _cell_index(index, spec)
    starts, runs = ci.ranges(spec, q)
    counts = runs.sum(axis=1)
    order = np.argsort(counts, kind="stable")
    cs = np.maximum(counts[order], 1)
    pos, dist = np.empty((n, kk), np.int64), np.empty((n, kk))
    cert = np.zeros(n, bool)
    i = 0
    while i < n:
        # count-sorted ⇒ rows·max = (j-i)·cs[j-1] is nondecreasing in j:
        # binary-search the chunk boundary (O(1) predicate)
        lo, hi = i + 1, n
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if (mid - i) * int(cs[mid - 1]) <= budget:
                lo = mid
            else:
                hi = mid - 1
        rows = order[i:lo]
        i = lo
        cnts = counts[rows]
        m = int(cnts[-1])
        if m < kk:
            continue  # count-sorted: no row here has kk candidates to certify
        # entry j of run (row, c) sits at starts + j; the runs of a row
        # fill its matrix row left to right
        rl = runs[rows].reshape(-1)
        at = np.repeat(starts[rows].reshape(-1) - (np.cumsum(rl) - rl), rl) + np.arange(int(rl.sum()))
        mask = np.arange(m, dtype=np.int64)[None, :] < cnts[:, None]
        pidx = np.zeros((len(rows), m), np.int32)
        pidx[mask] = ci.pos[at]
        d = spec.dist([c[rows][:, None] for c in q], [c[pidx] for c in index.coords])
        d[~mask] = np.inf
        pidx[~mask] = n2  # padding sorts after every real position
        top, dk = _topk_tie_exact(d, kk, pidx)
        pos[rows], dist[rows] = np.take_along_axis(pidx, top, axis=1), dk
        cert[rows] = ((cnts >= k) & (dk[:, -1] <= spec.bound)) | (cnts >= n2)
    return pos, dist, np.flatnonzero(~cert)


def _brute(q, index: PointIndex, spec: Metric, k: int, budget: int):
    """Exact top-k of the query rows ``q`` against every directory point:
    (pos, dist), each (nb, min(k, n2)) in row order. Columns are
    positions, so ties resolve as in the covered pass."""
    n2, nb = len(index.rid), len(q[0])
    kk = min(k, n2)
    step = max(1, budget // max(n2, 1))
    pos, dist = np.empty((nb, kk), np.int64), np.empty((nb, kk))
    for i in range(0, nb, step):
        d = spec.dist([c[i : i + step, None] for c in q], [c[None, :] for c in index.coords])
        pos[i : i + step], dist[i : i + step] = _topk_tie_exact(d, kk)
    return pos, dist


def knn_exact(q, index: PointIndex, spec: Metric, k: int, budget: int = 262_144):
    """Exact k nearest directory points of every query row in one pass:
    the covered pass at ``spec`` certifies the bulk (k-th distance ≤
    ``spec.bound`` ⇒ nothing outside the cover is closer), uncertified
    rows retry once at ``spec.escalate()`` against the same resident
    directory when that beats brute force (``build_rows``, or the
    escalated index is already built), and the residue brute-forces. No
    driver rounds, no shuffle: the whole kNN job is one map.

    ``q`` is a tuple of coordinate arrays (``spec.cols``). Returns
    (pos, dist), each an (n, min(k, n2)) matrix in input row order: row
    i's neighbours are the directory positions ``pos[i]`` (rids via
    ``index.rid.take``) by ascending (dist, rid)."""
    n, n2 = len(q[0]), len(index.rid)
    if n == 0 or n2 == 0:
        kk = min(k, n2)
        return np.empty((n, kk), np.int64), np.empty((n, kk))
    pos, dist, bad = _covered(q, index, spec, k, budget)
    if len(bad):
        sub = tuple(c[bad] for c in q)
        nxt = spec.escalate()
        if not nxt.covers_all and (len(bad) >= nxt.build_rows or nxt.key in _MEMO["by_key"]):
            p, d, still = _covered(sub, index, nxt, k, budget)
            if len(still):
                p[still], d[still] = _brute(tuple(c[still] for c in sub), index, nxt, k, budget)
        else:
            p, d = _brute(sub, index, spec, k, budget)
        pos[bad], dist[bad] = p, d
    return pos, dist


def score_batch_exact(
    lid: np.ndarray,
    lx: np.ndarray,
    ly: np.ndarray,
    lcell: np.ndarray,
    index: RightIndex,
    radius: int,
    k: int,
    chunk_budget: int = 262_144,
):
    """``knn_exact`` on the plane at the index's cell size and ``radius``:
    (offsets, rids, dists) in input row order. Rows keep their input
    order and cells come from (lx, ly), so ``lid`` and ``lcell`` are not
    read; they keep the signature the benchmark's kernel-rate layer
    calls."""
    pos, dist = knn_exact((lx, ly), index, Planar(index.cell_size, radius), k, chunk_budget)
    off = np.arange(len(lx) + 1, dtype=np.int64) * pos.shape[1]
    return off, index.rid.take(pa.array(pos.reshape(-1))).to_numpy(), dist.reshape(-1)
