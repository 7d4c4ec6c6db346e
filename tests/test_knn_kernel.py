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
