"""Long-tail CRS fallback (functions/crs.py): the Arrow vertex kernel is
fully tested with an injected fake transform (no projection lib needed);
the thin pyproj glue is exercised only when pyproj is installed.
Reference accepts any CoordRefSystems CRS (src/georef.jl:186-188)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.core.geotable import GEOM, georef
from geotables_jl_spark.functions.crs import (
    _pyproj,
    parse_crs,
    transform_geometry_vertexwise,
)
from geotables_jl_spark.geom.model import st_polygon_lit


def _make_affine_txy():
    # deterministic fake "projection": x' = 2x + 1, y' = y - 3.
    # Defined as a nested closure at each call site so cloudpickle
    # serializes it BY VALUE — a module-level function from a test file
    # pickles by reference and executors can't import test modules.
    def factory():
        return lambda x, y: (2.0 * x + 1.0, y - 3.0)

    return factory


def test_vertexwise_kernel_points(spark):
    df = spark.createDataFrame(
        [(i, float(i), float(2 * i)) for i in range(50)], "row_id long, px double, py double"
    )
    g = georef(df, coords=["px", "py"]).df
    out = transform_geometry_vertexwise(g, _make_affine_txy())
    assert out.schema == g.schema
    rows = {r["row_id"]: r[GEOM] for r in out.collect()}
    for i in range(50):
        geom = rows[i]
        assert geom["kind"] == 1
        assert geom["x"] == 2.0 * i + 1.0 and geom["y"] == 2.0 * i - 3.0
        # point bbox collapses to the point
        assert (geom["xmin"], geom["ymin"], geom["xmax"], geom["ymax"]) == (
            geom["x"], geom["y"], geom["x"], geom["y"],
        )


def test_vertexwise_kernel_polygon_rings_and_bbox(spark):
    outer = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
    hole = [(1.0, 1.0), (2.0, 1.0), (2.0, 2.0), (1.0, 2.0)]
    df = spark.range(1).withColumnRenamed("id", "row_id").withColumn(
        GEOM, st_polygon_lit(outer, holes=[hole])
    )
    out = transform_geometry_vertexwise(df, _make_affine_txy()).collect()[0][GEOM]
    assert out["kind"] == 3 and len(out["rings"]) == 2
    for ring_in, ring_out in zip(df.collect()[0][GEOM]["rings"], out["rings"]):
        assert len(ring_in) == len(ring_out)
        for j in range(0, len(ring_in), 2):
            assert ring_out[j] == 2.0 * ring_in[j] + 1.0
            assert ring_out[j + 1] == ring_in[j + 1] - 3.0
    # bbox over ALL rings, recomputed in transformed space
    assert (out["xmin"], out["ymin"], out["xmax"], out["ymax"]) == (1.0, -3.0, 9.0, 1.0)


def test_unregistered_code_errors_mention_fallback():
    if _pyproj() is not None:
        pytest.skip("pyproj present: unregistered codes resolve instead of erroring")
    with pytest.raises(ValueError, match="pyproj"):
        parse_crs("EPSG:2157")  # Irish TM — neither closed-form nor vendored


def test_osgb_tm_anchor_os_worked_example():
    """TM core on Airy 1830 pinned to the Ordnance Survey guide's
    Annexe C worked example (Caister water tower): OSGB36
    52°39'27.2531\"N 1°43'4.5177\"E → E 651409.903 N 313177.270."""
    import numpy as np

    from geotables_jl_spark.functions.crs_vendored import (
        osgb36_tm_forward,
        osgb36_tm_inverse,
    )

    lat = math.radians(52 + 39 / 60 + 27.2531 / 3600)
    lon = math.radians(1 + 43 / 60 + 4.5177 / 3600)
    E, N = osgb36_tm_forward(np.array([lon]), np.array([lat]))
    assert math.isclose(E[0], 651409.903, abs_tol=0.002)
    assert math.isclose(N[0], 313177.270, abs_tol=0.002)
    lo, la = osgb36_tm_inverse(E, N)
    assert math.isclose(lo[0], lon, abs_tol=1e-10)
    assert math.isclose(la[0], lat, abs_tol=1e-10)


def test_vendored_transformer_empty_batch():
    """Zero-length coordinate arrays (an empty ring / empty Arrow batch)
    must pass through, not raise — np.max over an empty iteration
    residual is a ValueError, and one degenerate geometry would fail the
    whole reprojection task. The pyproj arm handles empties; the
    vendored arm must too."""
    import numpy as np

    from geotables_jl_spark.functions.crs_vendored import Osgb36Transformer

    empty = np.array([], dtype=np.float64)
    E, N = Osgb36Transformer.forward(empty, empty)
    assert E.size == 0 and N.size == 0
    lo, la = Osgb36Transformer.inverse(empty, empty)
    assert lo.size == 0 and la.size == 0


def test_longtail_roundtrip_bng(spark):
    """EPSG:27700 (British National Grid) round-trip through the
    long-tail fallback kernel — runs UN-SKIPPED without pyproj via the
    vendored OSGB transformer (VERDICT r3 task #8); with pyproj
    installed the same test exercises the pyproj arm. Tolerance 1e-7°
    (~1 cm) covers the Redfearn series truncation."""
    from geotables_jl_spark.functions.crs import reproject

    rows = [(i, 50.0 + i * 0.3, -5.0 + i * 0.3) for i in range(20)]  # (id, lat, lon)
    g = georef(
        spark.createDataFrame(rows, "row_id long, lat double, lon double"),
        coords=["lat", "lon"],
    )
    ps = reproject(g, "EPSG:27700")
    assert ps.crs == "EPSG:27700"
    back = reproject(ps, "LatLon")
    got = {r["row_id"]: (r[GEOM]["x"], r[GEOM]["y"]) for r in back.df.collect()}
    for i, lat, lon in rows:
        assert math.isclose(got[i][0], lon, abs_tol=1e-7)
        assert math.isclose(got[i][1], lat, abs_tol=1e-7)


@pytest.mark.skipif(_pyproj() is not None, reason="pyproj present: it would use OSTN-grade datum shifts, not the vendored Helmert")
def test_vendored_transformer_batch_invariant():
    """A point's bits do not depend on the batch it arrives in: every
    chunking of the 12 dispatch-test points, 1 to 12 points per call,
    equals one 12-point call exactly, in both directions. One-point
    batches (numpy's scalar path) and the iterative latitude solves (a
    batch-wide stopping rule) both broke this."""
    import numpy as np

    from geotables_jl_spark.functions.crs_vendored import Osgb36Transformer

    lons = np.array([-6.0 + i * 0.7 for i in range(12)])
    lats = np.array([50.0 + i * 0.45 for i in range(12)])
    E, N = Osgb36Transformer.forward(lons, lats)
    for fn, a, b in ((Osgb36Transformer.forward, lons, lats), (Osgb36Transformer.inverse, E, N)):
        u, v = fn(a, b)
        for size in range(1, 13):
            parts = [fn(a[i : i + size], b[i : i + size]) for i in range(0, 12, size)]
            assert (np.concatenate([p[0] for p in parts]) == u).all(), (fn.__name__, size)
            assert (np.concatenate([p[1] for p in parts]) == v).all(), (fn.__name__, size)


def test_vendored_dispatch_matches_numpy_oracle(spark):
    """The library surface (reproject → Arrow vertex kernel) applies
    EXACTLY the vendored numpy transformer — pins the pyproj-free
    dispatch branch end to end."""
    import numpy as np

    from geotables_jl_spark.functions.crs import reproject
    from geotables_jl_spark.functions.crs_vendored import Osgb36Transformer

    rows = [(i, 50.0 + i * 0.45, -6.0 + i * 0.7) for i in range(12)]
    g = georef(
        spark.createDataFrame(rows, "row_id long, lat double, lon double"),
        coords=["lat", "lon"],
    )
    out = reproject(g, "EPSG:27700")
    got = {r["row_id"]: (r[GEOM]["x"], r[GEOM]["y"]) for r in out.df.collect()}
    lons = np.array([lo for _, _, lo in rows])
    lats = np.array([la for _, la, _ in rows])
    E, N = Osgb36Transformer.forward(lons, lats)
    for i, _, _ in rows:
        assert got[i] == (E[i], N[i])  # bit-identical: same numpy code path


def test_geojoin_auto_reproject_longtail(spark):
    """geojoin auto-reprojects a long-tail-fallback right table into the
    left CRS before matching (vendored arm when pyproj is absent)."""
    from geotables_jl_spark.core.geotable import GeoTable
    from geotables_jl_spark.functions.crs import reproject
    from geotables_jl_spark.geom.model import st_box
    from geotables_jl_spark.operators.geojoin import geojoin

    rows = [(i, 52.0 + (i % 5) * 0.1, -1.5 + (i % 7) * 0.1, 1) for i in range(100)]
    pts = georef(
        spark.createDataFrame(rows, "row_id long, lat double, lon double, v long"),
        coords=["lat", "lon"],
    )
    right = reproject(pts, "EPSG:27700")
    # box edges deliberately OFF the point lattice (0.05° buffer ≫ the
    # ~1e-8° reprojection round-trip error) so membership is stable
    tiles = spark.createDataFrame([(0,)], "row_id long").withColumn(
        GEOM, st_box(F.lit(-1.55), F.lit(51.95), F.lit(-1.25), F.lit(52.25))
    )
    left = GeoTable(df=tiles.withColumn("tile", F.lit(0)), crs="LatLon")
    out = geojoin(left, right, aggs={"v": "count"}, kind="inner")
    ccol = [c for c in out.df.columns if c.startswith("v")][0]
    n = out.df.collect()[0][ccol]
    want = sum(1 for _, la, lo, _ in rows if 51.95 <= la <= 52.25 and -1.55 <= lo <= -1.25)
    assert want > 0 and n == want
