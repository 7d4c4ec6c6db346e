"""S2-indexed spherical joins: the cap cover must be a rigorous superset
(adversarial boundary sampling), and dwithin/kNN joins must match numpy
brute force exactly — including tie order, salting, and the cell-ring
escalation path (sparse right side forces multiple rounds). Every
brute-force kNN check runs on both kNN arms: the small fixtures pick the
kernel arm, and a zero threshold forces the rounds arm."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.geom import s2
from geotables_jl_spark.operators import geojoin_s2
from geotables_jl_spark.operators.geojoin_s2 import (
    s2_dwithin_join,
    s2_knn_join,
    s2_point_prep,
)

_KERNEL_ROWS = geojoin_s2.S2_BROADCAST_ROWS


def _per_arm(monkeypatch, run):
    """Yield (arm, run()) for the kernel arm at the real threshold, then
    for the rounds arm forced by a zero threshold; checks that each run
    took the arm it is named after."""
    real = geojoin_s2._knn_kernel_arm
    for arm, rows in (("kernel", _KERNEL_ROWS), ("rounds", 0)):
        calls = []

        def spy(*a):
            calls.append(a)
            return real(*a)

        monkeypatch.setattr(geojoin_s2, "_knn_kernel_arm", spy)
        monkeypatch.setattr(geojoin_s2, "S2_BROADCAST_ROWS", rows)
        out = run()
        assert bool(calls) == (arm == "kernel"), arm
        yield arm, out


def _unit(n, seed):
    r = np.random.default_rng(seed)
    v = r.normal(0, 1, (n, 3))
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def test_cap_cover_is_superset():
    """No point within the chord radius may land outside the cover —
    centers biased toward face corners/edges where the face-wrap
    interval logic is under the most stress."""
    rng = np.random.default_rng(7)
    for trial in range(120):
        if trial % 3 == 0:
            c = np.array([1.0, 1.0, 1.0]) + rng.normal(0, 0.05, 3)
        elif trial % 3 == 1:
            c = np.array([1.0, 1.0, 0.0]) + rng.normal(0, 0.05, 3)
        else:
            c = rng.normal(0, 1, 3)
        c = c / np.linalg.norm(c)
        chord = 10 ** rng.uniform(-5, -0.5)
        level = s2.s2_level_for_chord(chord)
        _, cells = s2.s2_cap_cells_np(c[:1], c[1:2], c[2:3], chord, level)
        cover = set(cells.tolist())
        assert cover, "empty cover"
        theta = 2 * np.arcsin(chord / 2)
        for _ in range(40):
            d = rng.normal(0, 1, 3)
            d -= np.dot(d, c) * c
            d /= np.linalg.norm(d)
            t = theta if rng.random() < 0.5 else theta * rng.random()
            q = np.cos(t) * c + np.sin(t) * d
            cid = int(s2.s2_cell_from_xyz_np(q[:1], q[1:2], q[2:3], level)[0])
            assert cid in cover


def test_cap_cover_per_row_chord():
    """Vector chord argument: each row covered at its own radius."""
    c = _unit(50, 3)
    chords = 10 ** np.random.default_rng(4).uniform(-4, -1, 50)
    level = 8
    rows, cells = s2.s2_cap_cells_np(c[:, 0], c[:, 1], c[:, 2], chords, level)
    assert (np.diff(rows) >= 0).all()
    own = s2.s2_cell_from_xyz_np(c[:, 0], c[:, 1], c[:, 2], level)
    for rid in range(50):
        assert int(own[rid]) in set(cells[rows == rid].tolist())


def test_cover_window_bounded():
    """s2_level_for_chord keeps the cover a handful of cells (the
    filter-stage explode factor at 100 TB), never hundreds."""
    c = _unit(200, 9)
    for chord in (1e-4, 1e-3, 1e-2, 1e-1):
        level = s2.s2_level_for_chord(chord)
        rows, cells = s2.s2_cap_cells_np(c[:, 0], c[:, 1], c[:, 2], chord, level)
        counts = np.bincount(rows, minlength=200)
        assert counts.max() <= 100, (chord, level, counts.max())


@pytest.fixture(scope="module")
def sphere_dfs(spark):
    L, R = _unit(300, 1), _unit(2000, 2)
    ldf = spark.createDataFrame(
        pd.DataFrame({"lid": np.arange(300), "x": L[:, 0], "y": L[:, 1], "z": L[:, 2]})
    )
    rdf = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(2000), "x": R[:, 0], "y": R[:, 1], "z": R[:, 2]})
    )
    lp = s2_point_prep(ldf, "lid", xyz=("x", "y", "z"))
    rp = s2_point_prep(rdf, "rid", xyz=("x", "y", "z"))
    return L, R, lp, rp


def test_dwithin_matches_bruteforce(sphere_dfs):
    L, R, lp, rp = sphere_dfs
    chord = 0.15
    got = s2_dwithin_join(lp, rp, chord).toPandas().sort_values(["lid", "rid"])
    D = np.sqrt(((L[:, None, :] - R[None, :, :]) ** 2).sum(-1))
    li, ri = np.nonzero(D <= chord)
    assert len(got) == len(li)
    assert (got["lid"].to_numpy() == li).all()
    assert (got["rid"].to_numpy() == ri).all()
    # chord2 itself is exact (same subtract/multiply/add order as numpy)
    assert np.allclose(np.sqrt(got["chord2"].to_numpy()), D[li, ri], rtol=0, atol=1e-12)


def test_dwithin_salted_same_result(sphere_dfs):
    L, R, lp, rp = sphere_dfs
    chord = 0.15
    base = s2_dwithin_join(lp, rp, chord).toPandas().sort_values(["lid", "rid"])
    salted = s2_dwithin_join(lp, rp, chord, salt=4).toPandas().sort_values(["lid", "rid"])
    assert len(base) == len(salted)
    assert (base["rid"].to_numpy() == salted["rid"].to_numpy()).all()


def test_knn_matches_bruteforce_with_ties(sphere_dfs, monkeypatch):
    L, R, lp, rp = sphere_dfs
    k = 5
    D = np.sqrt(((L[:, None, :] - R[None, :, :]) ** 2).sum(-1))
    exp = np.argsort(D, axis=1, kind="stable")[:, :k]
    for arm, got in _per_arm(monkeypatch, lambda: s2_knn_join(lp, rp, k, n_right=2000).toPandas()):
        assert len(got) == 300 * k, arm
        for lid in range(300):
            g = got[got["lid"] == lid].sort_values("rank")["rid"].to_numpy()
            assert (g == exp[lid]).all(), (arm, lid)


def test_knn_sparse_right_escalates(sphere_dfs, monkeypatch):
    """8 right points force the ring expansion through to the full
    sphere — the graceful brute-force degradation, still exact."""
    L, _, lp, _ = sphere_dfs
    spark = lp.sparkSession
    R2 = _unit(8, 5)
    rdf = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(8), "x": R2[:, 0], "y": R2[:, 1], "z": R2[:, 2]})
    )
    rp2 = s2_point_prep(rdf, "rid", xyz=("x", "y", "z"))
    D = np.sqrt(((L[:, None, :] - R2[None, :, :]) ** 2).sum(-1))
    exp = np.argsort(D, axis=1, kind="stable")[:, :3]
    for arm, got in _per_arm(monkeypatch, lambda: s2_knn_join(lp, rp2, 3, n_right=8).toPandas()):
        assert len(got) == 300 * 3, arm
        for lid in range(300):
            g = got[got["lid"] == lid].sort_values("rank")["rid"].to_numpy()
            assert (g == exp[lid]).all(), (arm, lid)


def test_dwithin_expand_right_matches(sphere_dfs):
    """broadcast_right=True flips the cover explode to the right side
    (the web-scale orientation: big left stays in codegen) — the pair
    set and chord² values must be identical to the left-explode plan."""
    L, R, lp, rp = sphere_dfs
    chord = 0.15
    base = s2_dwithin_join(lp, rp, chord).toPandas().sort_values(["lid", "rid"])
    flip = s2_dwithin_join(lp, rp, chord, broadcast_right=True).toPandas().sort_values(
        ["lid", "rid"]
    )
    assert len(base) == len(flip)
    assert (base["lid"].to_numpy() == flip["lid"].to_numpy()).all()
    assert (base["rid"].to_numpy() == flip["rid"].to_numpy()).all()
    assert (base["chord2"].to_numpy() == flip["chord2"].to_numpy()).all()


def test_knn_expand_right_matches_bruteforce(sphere_dfs):
    """kNN with the right-side cover explode: the rounds arm broadcasts a
    small directory and explodes it, which string rids force (the kernel
    arm takes integral ids only). Exact vs numpy brute force with
    (distance, rid) tie order, including certify/escalate rounds."""
    L, R, lp, rp = sphere_dfs
    rps = rp.withColumn("rid", F.format_string("r%04d", "rid"))  # string order = numeric
    D = np.sqrt(((L[:, None, :] - R[None, :, :]) ** 2).sum(-1))
    # a tiny chord0 forces several certify/escalate rounds
    for k, kw in ((5, {"n_right": 2000}), (2, {"chord0": 1e-3})):
        got = s2_knn_join(lp, rps, k, **kw).toPandas()
        exp = np.argsort(D, axis=1, kind="stable")[:, :k]
        assert len(got) == 300 * k, kw
        for lid in range(300):
            g = got[got["lid"] == lid].sort_values("rank")["rid"].str[1:].astype(int)
            assert (g.to_numpy() == exp[lid]).all(), (kw, lid)


def test_knn_max_rounds_exhausted_fallback(sphere_dfs, monkeypatch):
    """max_rounds=1 with a tiny chord0 certifies nothing in the rounds
    arm's loop, so every row takes the final full-sphere pass — which
    must stay exact; the kernel arm escalates in-kernel instead."""
    L, R, lp, rp = sphere_dfs
    D = np.sqrt(((L[:, None, :] - R[None, :, :]) ** 2).sum(-1))
    exp = np.argsort(D, axis=1, kind="stable")[:, :3]

    def run():
        return s2_knn_join(lp, rp, 3, chord0=1e-6, max_rounds=1, n_right=2000).toPandas()

    for arm, got in _per_arm(monkeypatch, run):
        assert len(got) == 300 * 3, arm
        for lid in range(300):
            g = got[got["lid"] == lid].sort_values("rank")["rid"].to_numpy()
            assert (g == exp[lid]).all(), (arm, lid)


def _engine_unit(P):
    """``s2_point_prep``'s xyz normalization in numpy: same operations in
    the same order, so the directions (and chord² sums) are bit-equal."""
    nrm = np.sqrt(P[:, 0] * P[:, 0] + P[:, 1] * P[:, 1] + P[:, 2] * P[:, 2])
    return P / nrm[:, None]


def test_knn_string_ids_small_directory(spark, monkeypatch):
    """String lid/rid on a small directory — the one input the kernel arm
    cannot take — runs the rounds arm with a broadcast cell join and
    equals numpy brute force including the (chord2, rid) tie order,
    where rid order is string order ("r10" < "r9")."""
    rng = np.random.default_rng(21)
    base = rng.normal(size=(20, 3))
    R = np.repeat(base, 3, axis=0)  # every position three times: exact ties
    L = rng.normal(size=(25, 3))
    L[:5] = base[:5]  # queries on directory positions: chord2 == 0 ties
    rid = np.array([f"r{i}" for i in range(len(R))])
    lid = np.array([f"q{i}" for i in range(len(L))])
    ldf = spark.createDataFrame(pd.DataFrame({"lid": lid, "x": L[:, 0], "y": L[:, 1], "z": L[:, 2]}))
    rdf = spark.createDataFrame(pd.DataFrame({"rid": rid, "x": R[:, 0], "y": R[:, 1], "z": R[:, 2]}))
    lp = s2_point_prep(ldf, "lid", xyz=("x", "y", "z"))
    rp = s2_point_prep(rdf, "rid", xyz=("x", "y", "z"))

    Lu, Ru = _engine_unit(L), _engine_unit(R)
    d = [Lu[:, None, i] - Ru[None, :, i] for i in range(3)]
    d2 = d[0] * d[0] + d[1] * d[1] + d[2] * d[2]
    k = 7  # cuts through a three-way tie group
    broadcasts = []
    real = geojoin_s2._round_topk

    def spy(*a):
        broadcasts.append(a[-1])
        return real(*a)

    monkeypatch.setattr(geojoin_s2, "_round_topk", spy)
    for kw in ({}, {"chord0": 1e-3}):  # default radius, then forced escalation
        broadcasts.clear()
        got = s2_knn_join(lp, rp, k, n_right=len(R), **kw).toPandas()
        assert broadcasts and all(broadcasts), kw
        assert len(got) == len(L) * k, kw
        for i, q in enumerate(lid):
            order = np.lexsort((rid, d2[i]))[:k]
            g = got[got["lid"] == q].sort_values("rank")
            assert g["rid"].tolist() == rid[order].tolist(), (kw, q)
            assert (g["chord2"].to_numpy() == d2[i, order]).all(), (kw, q)


def test_knn_duplicate_distance_ties(spark, monkeypatch):
    """Adversarial: many right points at IDENTICAL distances from the
    query (a ring of duplicated positions) — rank must break ties by
    ascending rid, matching the SQL oracle's (chord2, rid) order."""
    c = np.array([1.0, 0.0, 0.0])
    ring = []
    for ang in (0.01, 0.02):
        for rep in range(6):
            phi = 2 * np.pi * (rep // 2) / 3  # duplicated positions
            d = np.array([0.0, np.cos(phi), np.sin(phi)])
            ring.append(np.cos(ang) * c + np.sin(ang) * d)
    R = np.array(ring)
    ldf = spark.createDataFrame(pd.DataFrame({"lid": [0], "x": [1.0], "y": [0.0], "z": [0.0]}))
    rdf = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(len(R)), "x": R[:, 0], "y": R[:, 1], "z": R[:, 2]})
    )
    lp = s2_point_prep(ldf, "lid", xyz=("x", "y", "z"))
    rp = s2_point_prep(rdf, "rid", xyz=("x", "y", "z"))
    # oracle orders by (chord2, rid) with the ENGINE's exact arithmetic
    # (dx*dx + dy*dy + dz*dz, left-assoc float64) — the three ring
    # positions per radius are only ulp-tied, so a sqrt'd oracle would
    # break those pseudo-ties differently; the bit-identical duplicate
    # pairs (rid 2k, 2k+1) are the true tie exercise
    d2 = (c[0] - R[:, 0]) ** 2 + (c[1] - R[:, 1]) ** 2 + (c[2] - R[:, 2]) ** 2
    exp = np.lexsort((np.arange(len(R)), d2))[:8]

    def run():
        return s2_knn_join(lp, rp, 8, n_right=len(R)).toPandas().sort_values("rank")

    for arm, got in _per_arm(monkeypatch, run):
        assert (got["rid"].to_numpy() == exp).all(), arm
        # bit-identical duplicates must be adjacent with ascending rid
        pairs = got["rid"].to_numpy().reshape(-1, 2)
        assert ((pairs[:, 1] - pairs[:, 0]) == 1).all() and (pairs[:, 0] % 2 == 0).all(), arm


def test_point_prep_latlon_and_zero(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "lat": [0.0, 45.0], "lon": [0.0, 90.0]})
    )
    out = s2_point_prep(df, "id", latlon=("lat", "lon")).toPandas().sort_values("id")
    assert np.allclose(out.iloc[0][["nx", "ny", "nz"]].to_numpy().astype(float), [1, 0, 0], atol=1e-12)
    zdf = spark.createDataFrame(pd.DataFrame({"id": [1], "x": [0.0], "y": [0.0], "z": [0.0]}))
    assert s2_point_prep(zdf, "id", xyz=("x", "y", "z")).count() == 0


def test_knn_join_sphere_metric_antimeridian(spark, monkeypatch):
    """knn_join(metric='sphere') ranks by great-circle distance: across
    the antimeridian the nearest neighbor is at lon -179.9 (0.2 deg of
    arc), which planar LatLon distance ranks FARTHEST (359.8 units)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from geotables_jl_spark import georef, knn_join

    left = spark.createDataFrame(
        pd.DataFrame({"row_id": [0], "lat": [0.0], "lon": [179.9]})
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {"row_id": [1, 2], "lat": [0.0, 0.0], "lon": [-179.9, 170.0], "name": ["x", "y"]}
        )
    )
    gl = georef(left, coords=["lat", "lon"])
    gr = georef(right, coords=["lat", "lon"])

    def run():
        return knn_join(gl, gr, k=2, metric="sphere", n_right=2).toPandas().sort_values("rank")

    for arm, sph in _per_arm(monkeypatch, run):
        assert list(sph["neighbor_id"]) == [1, 2], arm
        assert abs(sph.iloc[0]["distance"] - np.radians(0.2)) < 1e-9, arm
        assert list(sph["name_"] if "name_" in sph else sph["name"]) == ["x", "y"], arm
    pla = knn_join(gl, gr, k=2).toPandas().sort_values("rank")
    assert list(pla["neighbor_id"]) == [2, 1]  # planar gets it wrong


def test_knn_join_sphere_broadcast_parity(spark, monkeypatch):
    """knn_join(metric='sphere') returns the same neighbors, distances
    and columns on the kernel arm and on the rounds arm, and the
    neighbors match numpy brute force."""
    import pandas as pd

    from geotables_jl_spark import georef, knn_join

    rng = np.random.default_rng(3)
    lpdf = pd.DataFrame({
        "row_id": range(30),
        "lat": rng.uniform(-80, 80, 30), "lon": rng.uniform(-179, 179, 30)})
    rpdf = pd.DataFrame({
        "row_id": range(200),
        "lat": rng.uniform(-80, 80, 200), "lon": rng.uniform(-179, 179, 200),
        "name": [f"n{i}" for i in range(200)]})
    left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    gl, gr = georef(left, coords=["lat", "lon"]), georef(right, coords=["lat", "lon"])

    def run():
        out = knn_join(gl, gr, k=4, metric="sphere", n_right=200).toPandas()
        return out.sort_values(["row_id", "rank"]).reset_index(drop=True)

    (_, a), (_, b) = _per_arm(monkeypatch, run)
    assert list(a.columns) == list(b.columns)
    assert (a["neighbor_id"] == b["neighbor_id"]).all()
    assert (a["distance"].to_numpy() == b["distance"].to_numpy()).all()

    def xyz(pdf):
        la, lo = np.radians(pdf["lat"].to_numpy()), np.radians(pdf["lon"].to_numpy())
        return np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)], axis=1)

    d2 = ((xyz(lpdf)[:, None, :] - xyz(rpdf)[None, :, :]) ** 2).sum(-1)
    exp = np.argsort(d2, axis=1, kind="stable")[:, :4].reshape(-1)
    assert (a["neighbor_id"].to_numpy() == exp).all()


def test_knn_join_sphere_rejects(spark):
    import pandas as pd
    import pytest as _pt

    from geotables_jl_spark import georef, knn_join
    from geotables_jl_spark.functions.crs import reproject

    df = spark.createDataFrame(pd.DataFrame({"row_id": [0], "lat": [1.0], "lon": [2.0]}))
    g = georef(df, coords=["lat", "lon"])
    with _pt.raises(ValueError, match="on="):
        knn_join(g, g, k=1, metric="sphere", on=["row_id"])
    with _pt.raises(ValueError, match="LatLon"):
        knn_join(reproject(g, "EPSG:3857"), reproject(g, "EPSG:3857"), k=1, metric="sphere")
    with _pt.raises(ValueError, match="unknown metric"):
        knn_join(g, g, k=1, metric="euclid")


def test_point_prep_drops_null_nan_inf_rows(spark, monkeypatch):
    """s2_point_prep keeps only finite, non-zero directions in both
    branches, so no kNN arm (kernel, rounds) or dwithin join
    emits a row for a NULL/NaN/±Inf coordinate. Spark orders NaN above
    every number, so a bare ``nrm > 0`` guard would let NaN through."""
    ll = spark.sql(
        "SELECT * FROM VALUES (0L, 10.0D, 20.0D), (1L, -30.0D, 100.0D),"
        " (2L, CAST(NULL AS DOUBLE), 5.0D), (3L, CAST('NaN' AS DOUBLE), 5.0D),"
        " (4L, 1.0D, CAST('Infinity' AS DOUBLE)) AS t(lid, lat, lon)"
    )
    xyz = spark.sql(
        "SELECT * FROM VALUES (0L, 1.0D, 0.5D, 0.25D), (1L, -0.5D, 1.0D, 0.0D),"
        " (2L, CAST(NULL AS DOUBLE), 1.0D, 0.0D), (3L, CAST('NaN' AS DOUBLE), 1.0D, 0.0D),"
        " (4L, CAST('Infinity' AS DOUBLE), 1.0D, 0.0D), (5L, 0.0D, 0.0D, 0.0D)"
        " AS t(lid, x, y, z)"
    )
    R = _unit(40, 11)
    right = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(len(R)), "nx": R[:, 0], "ny": R[:, 1], "nz": R[:, 2]})
    )
    for left in (
        s2_point_prep(ll, "lid", latlon=("lat", "lon")),
        s2_point_prep(xyz, "lid", xyz=("x", "y", "z")),
    ):
        pts = left.toPandas().sort_values("lid")
        assert pts["lid"].tolist() == [0, 1]
        assert np.isfinite(pts[["nx", "ny", "nz"]].to_numpy(dtype=float)).all()
        L = pts[["nx", "ny", "nz"]].to_numpy(dtype=float)
        d2 = ((L[:, None, :] - R[None, :, :]) ** 2).sum(-1)
        exp = {(lid, int(r)) for lid, row in zip([0, 1], d2) for r in np.argsort(row, kind="stable")[:3]}
        runs = _per_arm(monkeypatch, lambda: s2_knn_join(left, right, 3, n_right=len(R)).toPandas())
        for arm, got in runs:
            assert {(int(a), int(b)) for a, b in zip(got["lid"], got["rid"])} == exp, arm
            assert np.isfinite(got["chord2"].to_numpy(dtype=float)).all(), arm
        near = s2_dwithin_join(left, right, 2.0).toPandas()
        assert sorted(set(near["lid"])) == [0, 1]
        assert len(near) == 2 * len(R)
