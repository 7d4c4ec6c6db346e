"""S2-indexed spherical joins: the cap cover must be a rigorous superset
(adversarial boundary sampling), and dwithin/kNN joins must match numpy
brute force exactly — including tie order, salting, and the cell-ring
escalation path (sparse right side forces multiple rounds)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.geom import s2
from geotables_jl_spark.operators.geojoin_s2 import (
    s2_dwithin_join,
    s2_knn_join,
    s2_point_prep,
)


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


def test_knn_matches_bruteforce_with_ties(sphere_dfs):
    L, R, lp, rp = sphere_dfs
    k = 5
    got = s2_knn_join(lp, rp, k, n_right=2000).toPandas()
    D = np.sqrt(((L[:, None, :] - R[None, :, :]) ** 2).sum(-1))
    exp = np.argsort(D, axis=1, kind="stable")[:, :k]
    assert len(got) == 300 * k
    for lid in range(300):
        g = got[got["lid"] == lid].sort_values("rank")["rid"].to_numpy()
        assert (g == exp[lid]).all(), lid


def test_knn_sparse_right_escalates(sphere_dfs):
    """8 right points force the ring expansion through to the full
    sphere — the graceful brute-force degradation, still exact."""
    L, _, lp, _ = sphere_dfs
    spark = lp.sparkSession
    R2 = _unit(8, 5)
    rdf = spark.createDataFrame(
        pd.DataFrame({"rid": np.arange(8), "x": R2[:, 0], "y": R2[:, 1], "z": R2[:, 2]})
    )
    rp2 = s2_point_prep(rdf, "rid", xyz=("x", "y", "z"))
    got = s2_knn_join(lp, rp2, 3, n_right=8).toPandas()
    D = np.sqrt(((L[:, None, :] - R2[None, :, :]) ** 2).sum(-1))
    exp = np.argsort(D, axis=1, kind="stable")[:, :3]
    assert len(got) == 300 * 3
    for lid in range(300):
        g = got[got["lid"] == lid].sort_values("rank")["rid"].to_numpy()
        assert (g == exp[lid]).all(), lid


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
    """kNN with the right-side cover explode (broadcast orientation),
    including escalation rounds (sparse right forces them), stays exact
    vs numpy brute force with (distance, rid) tie order."""
    L, R, lp, rp = sphere_dfs
    k = 5
    got = s2_knn_join(lp, rp, k, n_right=2000, broadcast_right=True).toPandas()
    D = np.sqrt(((L[:, None, :] - R[None, :, :]) ** 2).sum(-1))
    exp = np.argsort(D, axis=1, kind="stable")[:, :k]
    assert len(got) == 300 * k
    for lid in range(300):
        g = got[got["lid"] == lid].sort_values("rank")["rid"].to_numpy()
        assert (g == exp[lid]).all(), lid
    # tiny chord0 forces several certify/escalate rounds through the
    # right-explode arm too
    got2 = s2_knn_join(lp, rp, 2, chord0=1e-3, broadcast_right=True).toPandas()
    exp2 = np.argsort(D, axis=1, kind="stable")[:, :2]
    assert len(got2) == 300 * 2
    for lid in range(300):
        g = got2[got2["lid"] == lid].sort_values("rank")["rid"].to_numpy()
        assert (g == exp2[lid]).all(), lid


def test_knn_max_rounds_exhausted_fallback(sphere_dfs):
    """max_rounds=1 with a tiny chord0 certifies nothing in the loop, so
    every row takes the final full-sphere pass — which must stay exact
    on both the shuffle and broadcast arms."""
    L, R, lp, rp = sphere_dfs
    D = np.sqrt(((L[:, None, :] - R[None, :, :]) ** 2).sum(-1))
    exp = np.argsort(D, axis=1, kind="stable")[:, :3]
    for bc in (None, True):
        got = s2_knn_join(
            lp, rp, 3, chord0=1e-6, max_rounds=1, n_right=2000, broadcast_right=bc
        ).toPandas()
        assert len(got) == 300 * 3, bc
        for lid in range(300):
            g = got[got["lid"] == lid].sort_values("rank")["rid"].to_numpy()
            assert (g == exp[lid]).all(), (bc, lid)


def test_topk_stream_batch_boundaries(spark):
    """The no-shuffle top-k kernel must be exact when a lid's candidate
    run spans Arrow batch boundaries: force 7-row batches over runs of
    varying length (1..13, some > k, some < k, duplicate chord2 ties)."""
    rng = np.random.default_rng(11)
    rows = []
    for lid in range(40):
        m = 1 + (lid * 7) % 13
        c2 = np.round(rng.uniform(0, 1, m), 2)  # coarse → real ties
        for j in range(m):
            rows.append((lid, 1000 + j, float(c2[j])))
    pdf = pd.DataFrame(rows, columns=["lid", "rid", "chord2"])
    from geotables_jl_spark.operators.geojoin_s2 import _topk_stream

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        # single partition → one python worker sees every boundary
        cand = spark.createDataFrame(pdf).coalesce(1)
        got = _topk_stream(cand, 4).toPandas().sort_values(["lid", "rank"])
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    exp = []
    for lid, grp in pdf.groupby("lid"):
        g = grp.sort_values(["chord2", "rid"]).head(4)
        for r, (_, row) in enumerate(g.iterrows(), 1):
            exp.append((lid, row["rid"], row["chord2"], r))
    expdf = pd.DataFrame(exp, columns=["lid", "rid", "chord2", "rank"])
    assert len(got) == len(expdf)
    for c in ("lid", "rid", "rank"):
        assert (got[c].to_numpy() == expdf[c].to_numpy()).all(), c
    assert (got["chord2"].to_numpy() == expdf["chord2"].to_numpy()).all()


def test_topk_stream_cert_batch_boundaries(spark):
    """The in-kernel certification path (cert2=) across 7-row Arrow
    batch boundaries: certified runs emit top-k with cert=true; runs
    with < k candidates, k-th beyond the bound, or a single null-rid
    marker (the left-outer no-candidate row) collapse to one rank-0
    marker with cert=false."""
    rng = np.random.default_rng(13)
    rows = []
    for lid in range(40):
        m = (lid * 7) % 13  # 0 → no-candidate marker run
        if m == 0:
            rows.append((lid, None, None))
            continue
        c2 = np.round(rng.uniform(0, 1, m), 2)
        for j in range(m):
            rows.append((lid, 1000 + j, float(c2[j])))
    pdf = pd.DataFrame(rows, columns=["lid", "rid", "chord2"])
    from geotables_jl_spark.operators.geojoin_s2 import _topk_stream

    k, cert2 = 4, 0.5
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        cand = spark.createDataFrame(
            pdf.astype({"rid": "Int64"}), schema="lid long, rid long, chord2 double"
        ).coalesce(1)
        got = _topk_stream(cand, k, cert2=cert2).toPandas().sort_values(["lid", "rank"])
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    for lid, grp in pdf.groupby("lid"):
        g = got[got["lid"] == lid]
        valid = grp.dropna(subset=["rid"]).sort_values(["chord2", "rid"])
        certified = len(valid) >= k and valid["chord2"].iloc[k - 1] <= cert2
        if certified:
            top = valid.head(k)
            assert g["cert"].all() and len(g) == k, lid
            assert (g.sort_values("rank")["rid"].to_numpy() == top["rid"].to_numpy()).all(), lid
        else:
            assert len(g) == 1 and not g["cert"].iloc[0], lid
            assert g["rank"].iloc[0] == 0 and g["rid"].iloc[0] == -1, lid


def test_knn_duplicate_distance_ties(spark):
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
    got = s2_knn_join(lp, rp, 8, n_right=len(R)).toPandas().sort_values("rank")
    # oracle orders by (chord2, rid) with the ENGINE's exact arithmetic
    # (dx*dx + dy*dy + dz*dz, left-assoc float64) — the three ring
    # positions per radius are only ulp-tied, so a sqrt'd oracle would
    # break those pseudo-ties differently; the bit-identical duplicate
    # pairs (rid 2k, 2k+1) are the true tie exercise
    d2 = (c[0] - R[:, 0]) ** 2 + (c[1] - R[:, 1]) ** 2 + (c[2] - R[:, 2]) ** 2
    exp = np.lexsort((np.arange(len(R)), d2))[:8]
    assert (got["rid"].to_numpy() == exp).all()
    # bit-identical duplicates must be adjacent with ascending rid
    pairs = got["rid"].to_numpy().reshape(-1, 2)
    assert ((pairs[:, 1] - pairs[:, 0]) == 1).all() and (pairs[:, 0] % 2 == 0).all()


def test_point_prep_latlon_and_zero(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "lat": [0.0, 45.0], "lon": [0.0, 90.0]})
    )
    out = s2_point_prep(df, "id", latlon=("lat", "lon")).toPandas().sort_values("id")
    assert np.allclose(out.iloc[0][["nx", "ny", "nz"]].to_numpy().astype(float), [1, 0, 0], atol=1e-12)
    zdf = spark.createDataFrame(pd.DataFrame({"id": [1], "x": [0.0], "y": [0.0], "z": [0.0]}))
    assert s2_point_prep(zdf, "id", xyz=("x", "y", "z")).count() == 0


def test_knn_join_sphere_metric_antimeridian(spark):
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
    sph = knn_join(gl, gr, k=2, metric="sphere", n_right=2).toPandas().sort_values("rank")
    assert list(sph["neighbor_id"]) == [1, 2]
    assert abs(sph.iloc[0]["distance"] - np.radians(0.2)) < 1e-9
    assert list(sph["name_"] if "name_" in sph else sph["name"]) == ["x", "y"]
    pla = knn_join(gl, gr, k=2).toPandas().sort_values("rank")
    assert list(pla["neighbor_id"]) == [2, 1]  # planar gets it wrong


def test_knn_join_sphere_broadcast_parity(spark):
    """knn_join(metric='sphere', broadcast_right=True) — the shuffle-free
    S2 pipeline — returns exactly the shuffle arm's neighbors, distances,
    and columns."""
    import pandas as pd

    from geotables_jl_spark import georef, knn_join

    rng = np.random.default_rng(3)
    left = spark.createDataFrame(pd.DataFrame({
        "row_id": range(30),
        "lat": rng.uniform(-80, 80, 30), "lon": rng.uniform(-179, 179, 30)}))
    right = spark.createDataFrame(pd.DataFrame({
        "row_id": range(200),
        "lat": rng.uniform(-80, 80, 200), "lon": rng.uniform(-179, 179, 200),
        "name": [f"n{i}" for i in range(200)]}))
    gl, gr = georef(left, coords=["lat", "lon"]), georef(right, coords=["lat", "lon"])
    a = knn_join(gl, gr, k=4, metric="sphere", n_right=200).toPandas()
    b = knn_join(gl, gr, k=4, metric="sphere", n_right=200, broadcast_right=True).toPandas()
    a = a.sort_values(["row_id", "rank"]).reset_index(drop=True)
    b = b.sort_values(["row_id", "rank"]).reset_index(drop=True)
    assert list(a.columns) == list(b.columns)
    assert (a["neighbor_id"] == b["neighbor_id"]).all()
    assert (a["distance"].to_numpy() == b["distance"].to_numpy()).all()


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


def test_point_prep_drops_null_nan_inf_rows(spark):
    """s2_point_prep keeps only finite, non-zero directions in both
    branches, so no kNN arm (kernel, rounds, shuffle) or dwithin join
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
        for kw in (
            {"broadcast_right": True},  # kernel arm
            {"broadcast_right": True, "engine": "rounds"},
            {"broadcast_right": False},  # shuffle arm
        ):
            got = s2_knn_join(left, right, 3, n_right=len(R), **kw).toPandas()
            assert {(int(a), int(b)) for a, b in zip(got["lid"], got["rid"])} == exp, kw
            assert np.isfinite(got["chord2"].to_numpy(dtype=float)).all(), kw
        near = s2_dwithin_join(left, right, 2.0).toPandas()
        assert sorted(set(near["lid"])) == [0, 1]
        assert len(near) == 2 * len(R)
