"""Property test of the one-pass exact kNN kernel's Planar spec (geom/knn_kernel.py)
against a brute-force numpy reference — no Spark session needed, so it
exercises hostile layouts (clustered + far outliers that force the
in-kernel escalation and brute-force tail, duplicated coordinates that
force distance ties, k ≥ n2, tiny chunk budgets) cheaply.

Reference parity: tie order is (dist, rid) ascending, matching the JVM
rounds and the DuckDB oracle (``src/geoops/geojoin.jl`` has no kNN — the
kind is mandated by the driver north star, so the oracle IS the spec).
"""

from __future__ import annotations

import numpy as np

from geotables_jl_spark.geom.knn_kernel import (
    NeighborIndex,
    RightIndex,
    pack_cells_np,
    score_batch_exact,
)


def _brute_ref(lx, ly, rid, rx, ry, k):
    order = np.argsort(rid, kind="stable")
    rid, rx, ry = rid[order], rx[order], ry[order]
    out = []
    for x, y in zip(lx, ly):
        d = np.sqrt((x - rx) ** 2 + (y - ry) ** 2)
        o = np.argsort(d, kind="stable")[: min(k, len(rid))]
        out.append(list(zip(rid[o].tolist(), d[o].tolist())))
    return out


def test_score_batch_exact_matches_brute_force():
    rng = np.random.default_rng(42)
    for trial in range(40):
        n2 = int(rng.integers(1, 400))
        n1 = int(rng.integers(1, 500))
        k = int(rng.integers(1, 12))
        layout = trial % 3
        if layout == 0:  # uniform
            rx, ry = rng.uniform(0, 100, n2), rng.uniform(0, 100, n2)
            lx, ly = rng.uniform(0, 100, n1), rng.uniform(0, 100, n1)
        elif layout == 1:  # dense cluster + far outliers → escalate/brute
            rx, ry = rng.normal(50, 1, n2), rng.normal(50, 1, n2)
            lx = np.concatenate(
                [rng.normal(50, 1, n1 // 2), rng.uniform(-1e4, 1e4, n1 - n1 // 2)]
            )
            ly = np.concatenate(
                [rng.normal(50, 1, n1 // 2), rng.uniform(-1e4, 1e4, n1 - n1 // 2)]
            )
        else:  # duplicated coords → distance ties at the k boundary
            base = rng.uniform(0, 10, max(n2 // 4, 1))
            rx, ry = rng.choice(base, n2), rng.choice(base, n2)
            lx, ly = rng.choice(base, n1), rng.choice(base, n1)
        rid = rng.permutation(n2).astype(np.int64) * 7 + 3
        lid = np.arange(n1, dtype=np.int64)
        cell = float(rng.uniform(0.05, 30))
        idx = RightIndex(rid.copy(), rx.copy(), ry.copy(), cell)
        lcell = pack_cells_np(
            np.floor(lx / cell).astype(np.int64), np.floor(ly / cell).astype(np.int64)
        )
        radius = int(rng.integers(1, 3))
        budget = int(rng.choice([64, 1000, 262144]))
        off, ridv, distv = score_batch_exact(lid, lx, ly, lcell, idx, radius, k, budget)
        ref = _brute_ref(lx, ly, rid, rx, ry, k)
        # complete accounting: one output row per input row, in input order
        assert len(off) == n1 + 1
        for i in range(n1):
            got = list(zip(ridv[off[i] : off[i + 1]].tolist(), distv[off[i] : off[i + 1]].tolist()))
            assert got == ref[i], (
                f"trial {trial} layout {layout} lid {i}: k={k} n2={n2} "
                f"cell={cell:.4f} r={radius} budget={budget}"
            )


def test_score_batch_exact_empty_sides():
    idx = RightIndex(np.empty(0, np.int64), np.empty(0), np.empty(0), 1.0)
    lid = np.arange(3, dtype=np.int64)
    lx = ly = np.zeros(3)
    lcell = pack_cells_np(np.zeros(3, np.int64), np.zeros(3, np.int64))
    off, ridv, distv = score_batch_exact(lid, lx, ly, lcell, idx, 1, 5)
    assert len(ridv) == 0 and list(off) == [0, 0, 0, 0]
    idx2 = RightIndex(np.array([7], np.int64), np.array([0.5]), np.array([0.5]), 1.0)
    off, ridv, distv = score_batch_exact(
        np.empty(0, np.int64), np.empty(0), np.empty(0), np.empty(0, np.int64), idx2, 1, 5
    )
    assert len(ridv) == 0 and list(off) == [0]


def test_topk_tie_exact_lattice_both_branches():
    """VERDICT r2 'Next round' #10: adversarial duplicate-distance sweep
    of _topk_tie_exact hitting BOTH boundary-tie branches — narrow
    (m ≤ max(8·kk, 512): vectorized full sort of affected rows) and wide
    (per-row candidate re-sort). Distances drawn from a tiny integer set
    make boundary ties pervasive at every k."""
    from geotables_jl_spark.geom.knn_kernel import _topk_tie_exact

    rng = np.random.default_rng(7)
    for m in (6, 40, 520, 1200):  # 520/1200 exceed max(8·kk, 512) for small kk
        for kk in (1, 2, 3, 7, 16):
            if kk > m:
                continue
            for levels in (1, 2, 4):  # 1 level = ALL distances equal
                b = 37
                d = rng.integers(0, levels, size=(b, m)).astype(np.float64)
                part, dp = _topk_tie_exact(d.copy(), kk)
                ref = np.argsort(d, axis=1, kind="stable")[:, :kk]
                assert (part == ref).all(), (m, kk, levels, "indices")
                assert (dp == np.take_along_axis(d, ref, axis=1)).all(), (m, kk, levels)


def test_score_batch_exact_integer_lattice_sweep():
    """End-to-end lattice sweep: every right point sits on a small
    integer lattice with heavy duplication (one hot cell holds >512
    candidates at the widest setting), queries at lattice nodes so
    EVERY neighbor distance is a tied lattice distance; exactness =
    (dist, rid)-ascending parity with brute force at each k."""
    rng = np.random.default_rng(11)
    for span, dup, k in ((3, 4, 3), (5, 8, 7), (4, 40, 5), (2, 200, 9)):
        nodes = [(float(i), float(j)) for i in range(span) for j in range(span)]
        rx = np.array([p[0] for p in nodes for _ in range(dup)])
        ry = np.array([p[1] for p in nodes for _ in range(dup)])
        n2 = len(rx)
        rid = rng.permutation(n2).astype(np.int64)
        lx = np.array([p[0] for p in nodes])
        ly = np.array([p[1] for p in nodes])
        lid = np.arange(len(lx), dtype=np.int64)
        cell = 1.0
        idx = RightIndex(rid.copy(), rx.copy(), ry.copy(), cell)
        lcell = pack_cells_np(
            np.floor(lx / cell).astype(np.int64), np.floor(ly / cell).astype(np.int64)
        )
        for budget in (64, 262144):
            off, ridv, distv = score_batch_exact(lid, lx, ly, lcell, idx, 1, k, budget)
            ref = _brute_ref(lx, ly, rid, rx, ry, k)
            for i in range(len(lx)):
                got = list(zip(ridv[off[i]: off[i + 1]].tolist(), distv[off[i]: off[i + 1]].tolist()))
                assert got == ref[i], (span, dup, k, budget, i)


# -- the compact planar index and its ring gather -----------------------------

from geotables_jl_spark.geom import knn_kernel as K  # noqa: E402


def _check(lx, ly, rid, rx, ry, cell, radius, k, budget=262_144):
    idx = RightIndex(rid.copy(), rx.copy(), ry.copy(), cell)
    off, ridv, distv = score_batch_exact(np.arange(len(lx)), lx, ly, None, idx, radius, k, budget)
    ref = _brute_ref(lx, ly, rid, rx, ry, k)
    for i in range(len(lx)):
        got = list(zip(ridv[off[i] : off[i + 1]].tolist(), distv[off[i] : off[i + 1]].tolist()))
        assert got == ref[i], (i, cell, radius, k)
        assert len(set(ridv[off[i] : off[i + 1]].tolist())) == off[i + 1] - off[i], ("repeated id", i)


def test_gather_ties_across_ring_cells_break_by_rid():
    """Equal distances in different ring cells, rids running opposite to
    the gather order (column-major, ascending cell): the ties break by
    rid, with k cutting through the tie group, all inside the covered
    pass (every row certifies, so neither escalation nor brute force
    resolves them)."""
    # 8 lattice points at distance sqrt(5) from (0.5, 0.5), each in its own
    # cell, plus 4 at distance 2
    offs = [(-2, -1), (-2, 1), (-1, -2), (-1, 2), (1, -2), (1, 2), (2, -1), (2, 1), (-2, 0), (0, -2), (0, 2), (2, 0)]
    rx = np.array([0.5 + a for a, _ in offs])
    ry = np.array([0.5 + b for _, b in offs])
    rid = np.arange(len(offs), dtype=np.int64)[::-1].copy() * 5  # descending in gather order
    lx, ly = np.array([0.5, 0.5]), np.array([0.5, 0.5])
    for k in (1, 3, 5, 6, 9, 12):
        _check(lx, ly, rid, rx, ry, 1.2, 2, k)
        idx = RightIndex(rid.copy(), rx.copy(), ry.copy(), 1.2)
        _, bad = K._covered((lx, ly), idx, K.Planar(1.2, 2), k, 262_144)
        assert len(bad) == 0, k


def test_gather_random_ties_no_repeats():
    """Heavy duplication on a lattice straddling both axes' zero (where a
    32-bit-masked key would wrap), tiny chunk budgets, both radii: every
    row equals brute force and names no neighbour twice."""
    rng = np.random.default_rng(5)
    for trial in range(12):
        base = rng.integers(-6, 6, 20).astype(np.float64) * 0.5
        rx, ry = rng.choice(base, 300), rng.choice(base, 300)
        lx, ly = rng.choice(base, 80) + rng.choice([0.0, 0.25], 80), rng.choice(base, 80)
        rid = rng.permutation(300).astype(np.int64)
        _check(lx, ly, rid, rx, ry, float(rng.choice([0.3, 0.5, 1.0])), 1 + trial % 2, int(rng.integers(1, 15)),
               int(rng.choice([16, 300, 262_144])))


def test_compact_index_holds_each_point_once():
    rng = np.random.default_rng(1)
    for n in (1, 7, 1000):
        p = rng.uniform(-50, 50, (2, n))
        idx = RightIndex(np.arange(n, dtype=np.int64), p[0], p[1], 0.7)
        ci = NeighborIndex(idx, 2)
        assert len(ci.pos) == ci.bounds[-1] == n and len(ci.keys) <= n
        assert sorted(ci.pos.tolist()) == list(range(n))


def test_far_from_origin_stays_exact():
    """|x / cell| ≥ 2³¹ on both sides of zero: the index keys its cells
    relative to the directory's own frame, so ring columns stay
    contiguous; queries far outside the frame still get exact rows."""
    rng = np.random.default_rng(3)
    for ox, oy in ((1e6, 1e6), (-1e6, 3e5), (5e5, -2e6)):
        rx, ry = ox + rng.uniform(0, 1, 400), oy + rng.uniform(0, 1, 400)
        lx = np.concatenate([ox + rng.uniform(0, 1, 60), ox + rng.uniform(-50, 50, 20)])
        ly = np.concatenate([oy + rng.uniform(0, 1, 60), oy + rng.uniform(-50, 50, 20)])
        rid = rng.permutation(400).astype(np.int64)
        cell = 2e-4
        assert abs(ox / cell) >= 2**31
        _check(lx, ly, rid, rx, ry, cell * 100, 2, 6)
        _check(lx, ly, rid, rx, ry, cell, 1, 3)


# -- results do not depend on batching ----------------------------------------


def _batched(q, idx, spec, k, size):
    parts = [K.knn_exact(tuple(c[i : i + size] for c in q), idx, spec, k) for i in range(0, len(q[0]), size)]
    lens = np.concatenate([np.diff(o) for o, _, _ in parts])
    off = np.concatenate([[0], np.cumsum(lens)])
    return off, np.concatenate([p for _, p, _ in parts]), np.concatenate([d for _, _, d in parts])


def _assert_batch_invariant(q, idx, spec, k):
    K._MEMO["token"] = None
    ref = _batched(q, idx, spec, k, len(q[0]))
    for size in (1, 7):
        for cold in (True, False):  # escalated index not yet / already built
            if cold:
                K._MEMO["token"] = None
            got = _batched(q, idx, spec, k, size)
            for a, b in zip(ref, got):
                assert a.dtype == b.dtype and np.array_equal(a, b), (type(spec).__name__, size, cold)


def test_knn_exact_batch_invariant_planar():
    """Batches of 1, 7 and all rows give identical (offsets, pos, dist),
    including a batch that escalates (clustered directory, scattered
    queries: dozens of rows fail the first certificate)."""
    rng = np.random.default_rng(9)
    rx, ry = rng.normal(0, 1, 2000), rng.normal(0, 1, 2000)
    lx = np.concatenate([rng.normal(0, 1, 60), rng.uniform(-30, 30, 40)])
    ly = np.concatenate([rng.normal(0, 1, 60), rng.uniform(-30, 30, 40)])
    idx = K.PointIndex(rng.permutation(2000).astype(np.int64), (rx, ry))
    spec = K.Planar(0.15, 2)
    _, bad = K._covered((lx, ly), idx, spec, 8, 262_144)
    assert len(bad) >= spec.build_rows  # the whole batch escalates
    _assert_batch_invariant((lx, ly), idx, spec, 8)


def test_knn_exact_batch_invariant_sphere():
    rng = np.random.default_rng(4)
    v = rng.standard_normal((3, 1500))
    v /= np.linalg.norm(v, axis=0)
    w = rng.standard_normal((3, 700))
    w /= np.linalg.norm(w, axis=0)
    idx = K.PointIndex(rng.permutation(1500).astype(np.int64), tuple(v))
    spec = K.Sphere(0.01)
    _, bad = K._covered(tuple(w), idx, spec, 5, 262_144)
    assert len(bad) >= spec.build_rows  # the whole batch escalates
    _assert_batch_invariant(tuple(w), idx, spec, 5)
