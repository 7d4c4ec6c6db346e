"""S2 cell-id correctness: three independent implementations (numpy 4-bit
LUT, which ``with_s2_cell_arrow`` runs in Spark; per-level scalar
reference; generated DuckDB SQL) cross-checked bit-for-bit, plus
structural invariants of the public S2 scheme (known face tokens,
Hilbert curve adjacency, parent containment)."""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.geom import s2


def _rand_xyz(n=5000, seed=3):
    rng = np.random.default_rng(seed)
    x, y, z = (rng.uniform(-1, 1, n) for _ in range(3))
    m = np.maximum(np.maximum(np.abs(x), np.abs(y)), np.abs(z)) > 1e-9
    return x[m], y[m], z[m]


def test_lut_matches_per_level_scalar():
    x, y, z = _rand_xyz(800)
    for lvl in (0, 1, 5, 13, 30):
        ids = s2.s2_cell_from_xyz_np(x, y, z, lvl)
        ref = np.array([s2.s2_cell_scalar(float(a), float(b), float(c), lvl)
                        for a, b, c in zip(x, y, z)])
        assert (ids == ref).all()


def test_known_face_tokens():
    # face cells have the canonical tokens 1,3,5,7,9,b; lat/lng (0,0) is
    # the center leaf of face 0 with token 1000000000000001.
    for f, tok in enumerate(["1", "3", "5", "7", "9", "b"]):
        p = s2.FACE_NORM[f]
        cid = int(s2.s2_cell_from_xyz_np([p[0]], [p[1]], [p[2]], 0)[0])
        assert s2.s2_token_py(cid) == tok
        assert s2.s2_level_py(cid) == 0
    leaf = int(s2.s2_cell_from_latlon_np([0.0], [0.0], 30)[0])
    assert s2.s2_token_py(leaf) == "1000000000000001"
    assert s2.s2_level_py(leaf) == 30


def test_hilbert_adjacency_every_face():
    # Hilbert property: consecutive curve positions are ij-neighbors.
    # This pins the traversal tables exactly — any transcription error in
    # POS_TO_IJ/POS_TO_ORIENT breaks continuity somewhere on some face.
    lvl, N = 4, 1 << 4
    for face in range(6):
        nrm = np.array(s2.FACE_NORM[face], float)
        ua = np.array(s2.FACE_UAXIS[face], float)
        va = np.array(s2.FACE_VAXIS[face], float)
        by_pos = {}
        for ii in range(N):
            for jj in range(N):
                s_ = (ii + 0.5) / N
                t_ = (jj + 0.5) / N
                u = (4 * s_ * s_ - 1) / 3 if s_ >= 0.5 else (1 - 4 * (1 - s_) ** 2) / 3
                v = (4 * t_ * t_ - 1) / 3 if t_ >= 0.5 else (1 - 4 * (1 - t_) ** 2) / 3
                p = nrm + u * ua + v * va
                cid = int(s2.s2_cell_from_xyz_np([p[0]], [p[1]], [p[2]], lvl)[0]) & (2**64 - 1)
                assert cid >> 61 == face
                by_pos[(cid >> (61 - 2 * lvl)) & ((1 << 2 * lvl) - 1)] = (ii, jj)
        assert len(by_pos) == N * N
        for pos in range(N * N - 1):
            a, b = by_pos[pos], by_pos[pos + 1]
            assert abs(a[0] - b[0]) + abs(a[1] - b[1]) == 1


def test_parent_and_level():
    x, y, z = _rand_xyz(1500, seed=9)
    leaf = s2_leaf = s2.s2_cell_from_xyz_np(x, y, z, 30)
    for lvl in (0, 4, 11, 29):
        direct = s2.s2_cell_from_xyz_np(x, y, z, lvl)
        snapped = np.array([s2.s2_parent_py(int(c), lvl) for c in leaf])
        assert (direct == snapped).all()
        assert all(s2.s2_level_py(int(c)) == lvl for c in direct[:50])
        # containment: leaf id lies inside [parent_min, parent_max]
        lsb = 1 << (2 * (30 - lvl))
        for c, lf in zip(direct[:100].tolist(), leaf[:100].tolist()):
            cu, lu = c & (2**64 - 1), lf & (2**64 - 1)
            assert cu - lsb + 1 <= lu <= cu + lsb - 1


def test_spark_arrow_cell_bit_exact(spark):
    x, y, z = _rand_xyz(20000, seed=21)
    df = spark.createDataFrame(pd.DataFrame({"rid": np.arange(len(x)), "x": x, "y": y, "z": z}))
    for lvl in (0, 12, 30):
        out = (
            s2.with_s2_cell_arrow(df, lvl, xyz=("x", "y", "z"))
            .select("rid", "s2_cell").toPandas().sort_values("rid")
        )
        assert (out["s2_cell"].to_numpy() == s2.s2_cell_from_xyz_np(x, y, z, lvl)).all()
    # zero vector -> NULL, and the plan is map-only (no Exchange)
    zdf = spark.createDataFrame(pd.DataFrame({"x": [0.0], "y": [0.0], "z": [0.0]}))
    assert s2.with_s2_cell_arrow(zdf, 10, xyz=("x", "y", "z")).collect()[0]["s2_cell"] is None
    plan = s2.with_s2_cell_arrow(df, 12, xyz=("x", "y", "z"))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # parent column math == recompute at coarser level
    d2 = s2.with_s2_cell_arrow(df, 30, xyz=("x", "y", "z"))
    got = (
        d2.select("rid", s2.s2_parent_col(F.col("s2_cell"), 9).alias("p"))
        .toPandas().sort_values("rid")["p"].to_numpy()
    )
    assert (got == s2.s2_cell_from_xyz_np(x, y, z, 9)).all()
    # token column == python token
    tok = (
        d2.select("rid", s2.s2_token_col(F.col("s2_cell")).alias("t"))
        .toPandas().sort_values("rid")["t"].tolist()
    )
    assert tok[:500] == [s2.s2_token_py(int(c)) for c in s2.s2_cell_from_xyz_np(x, y, z, 30)[:500]]


def test_duckdb_sql_bit_exact():
    x, y, z = _rand_xyz(20000, seed=33)
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({"rid": np.arange(len(x)), "x": x, "y": y, "z": z}))
    for lvl in (0, 9, 30):
        q = s2.s2_cell_sql("pts", "x", "y", "z", lvl, keep=["rid"])
        got = con.sql(q + " ORDER BY rid").df()["s2_cell"].to_numpy()
        assert (got == s2.s2_cell_from_xyz_np(x, y, z, lvl)).all()


def test_latlon_convenience(spark):
    from geotables_jl_spark.operators.geojoin_s2 import s2_point_prep

    rng = np.random.default_rng(5)
    lat = rng.uniform(-90, 90, 8000)
    lon = rng.uniform(-180, 180, 8000)
    df = spark.createDataFrame(pd.DataFrame({"rid": np.arange(len(lat)), "lat": lat, "lon": lon}))
    pts = s2_point_prep(df, "rid", latlon=("lat", "lon"))
    out = (
        s2.with_s2_cell_arrow(pts, 12, xyz=("nx", "ny", "nz"))
        .select("rid", "s2_cell").toPandas().sort_values("rid")["s2_cell"].to_numpy()
    )
    assert len(out) == len(lat)
    exp = s2.s2_cell_from_latlon_np(lat, lon, 12)
    # engine trig may differ by 1 ulp -> a point within ulp of a leaf
    # boundary can flip; must be rare and never more than that
    assert (out == exp).mean() > 0.999


def test_level_bounds():
    with pytest.raises(ValueError):
        s2.s2_cell_from_xyz_np([1.0], [0.0], [0.0], 31)
    with pytest.raises(ValueError):
        s2.s2_cell_sql("t", "x", "y", "z", -1)


def test_cap_cover_rigorous_with_disk_filter():
    """The cover contract the joins rest on: for any q with
    chord(p, q) <= eps, q's single level-L cell is in p's cap cover —
    must survive the disk filter (which may only drop cells provably
    disjoint from the cap) at every radius/level regime."""
    rng = np.random.default_rng(7)
    n = 5000
    v = rng.normal(size=(n, 3))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    for chord in (0.003, 0.03, 0.2, 0.9):
        lvl = s2.s2_level_for_chord(chord, 6.0)
        d = rng.normal(size=(n, 3))
        d /= np.linalg.norm(d, axis=1, keepdims=True)
        q = v + d * rng.uniform(0, chord, n)[:, None]
        q /= np.linalg.norm(q, axis=1, keepdims=True)
        ok = np.linalg.norm(q - v, axis=1) <= chord  # renorm can push out
        vv, qq = v[ok], q[ok]
        rows, cells = s2.s2_cap_cells_np(vv[:, 0], vv[:, 1], vv[:, 2], chord, lvl)
        qcell = s2.s2_cell_from_xyz_np(qq[:, 0], qq[:, 1], qq[:, 2], lvl)
        from collections import defaultdict

        cov = defaultdict(set)
        for r, c in zip(rows, cells):
            cov[r].add(c)
        bad = [i for i in range(len(qq)) if qcell[i] not in cov[i]]
        assert not bad, (chord, lvl, bad[:5])


def test_arrow_twin_nulls_nan_rows(spark):
    """NULL/NaN/±Inf coordinates and the zero vector must yield NULL
    cells from ``with_s2_cell_arrow`` (and be dropped by the SQL twin):
    NaN passes a pure ``!= 0`` guard, and an infinite coordinate picks a
    real face and clamps to a valid-looking edge cell without a mask."""
    pdf = pd.DataFrame(
        {
            "rid": [0, 1, 2, 3],
            "x": [0.6, None, None, 0.0],
            "y": [0.48, 0.3, 0.1, 0.0],
            "z": [0.64, 0.2, 0.4, 0.0],
        }
    )
    df = spark.createDataFrame(pdf)
    # row 4: a genuine NaN double (createDataFrame(pandas) maps NaN->NULL,
    # so mint one in-plan)
    df = df.union(
        spark.sql("SELECT 4L AS rid, CAST('NaN' AS DOUBLE) AS x, 0.1D AS y, 0.2D AS z")
    )
    # rows 5/6: ±Infinity
    df = df.union(
        spark.sql(
            "SELECT 5L, CAST('Infinity' AS DOUBLE), 0.1D, 0.2D"
            " UNION ALL SELECT 6L, 0.1D, CAST('-Infinity' AS DOUBLE), 0.2D"
        )
    )
    got = {
        r["rid"]: r["s2_cell"]
        for r in s2.with_s2_cell_arrow(df, 12, xyz=("x", "y", "z")).collect()
    }
    want = {0: s2.s2_cell_scalar(0.6, 0.48, 0.64, 12), **{i: None for i in range(1, 7)}}
    assert got == want
    assert [got[i] for i in (1, 2, 3, 4, 5, 6)] == [None] * 6
    assert got[0] is not None
    # latlon convenience path: a NULL lat has no cell (the row is dropped)
    from geotables_jl_spark.operators.geojoin_s2 import s2_point_prep

    lldf = spark.sql("SELECT 1L AS rid, CAST(NULL AS DOUBLE) AS lat, 3.5D AS lon")
    pts = s2_point_prep(lldf, "rid", latlon=("lat", "lon"))
    assert s2.with_s2_cell_arrow(pts, 10, xyz=("nx", "ny", "nz")).collect() == []
    # SQL twin drops the degenerate rows instead
    con = duckdb.connect()
    con.register("pts", pd.DataFrame({
        "rid": [0, 1, 2],
        "x": [0.6, None, float("nan")],
        "y": [0.48, 0.3, 0.1],
        "z": [0.64, 0.2, 0.4],
    }))
    q = s2.s2_cell_sql("pts", "x", "y", "z", 12, keep=["rid"])
    res = con.sql(q + " ORDER BY rid").df()
    assert list(res["rid"]) == [0]
    assert int(res["s2_cell"][0]) == got[0]


def test_output_name_clash_raises(spark):
    df = spark.createDataFrame([(0, 0.6, 0.48, 0.64, 7)], "rid long, x double, y double, z double, s2_cell long")
    with pytest.raises(ValueError, match="s2_cell"):
        s2.with_s2_cell_arrow(df, 12)
    out = s2.with_s2_cell_arrow(df, 12, out="s2_12")
    assert out.columns == [*df.columns, "s2_12"]
    assert out.collect()[0]["s2_12"] == s2.s2_cell_scalar(0.6, 0.48, 0.64, 12)
