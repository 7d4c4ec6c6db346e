"""N-d grid domains (VERDICT r3 task #6): column-major linear ids and
Cartesian-range views, pinned against an INDEPENDENT numpy oracle —
``np.arange(n).reshape(dims, order="F")`` is the same LinearIndices
convention the Julia reference uses (``src/georef.jl:120-129``)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.core.geotable import (
    GridMetaND,
    georef_grid_nd,
    grid_subset,
    grid_subset_nd,
    grid_view_box,
)


def test_grid_3d_linear_ids_match_numpy_order_F(spark):
    dims = (4, 3, 5)
    g = georef_grid_nd(spark, dims, origin=(10.0, -5.0, 0.5), spacing=(0.5, 2.0, 1.5))
    rows = g.df.select("row_id", "i0", "i1", "i2", "x0", "x1", "x2").collect()
    assert len(rows) == 60
    arr = np.arange(60).reshape(dims, order="F")
    for r in rows:
        assert arr[r["i0"], r["i1"], r["i2"]] == r["row_id"]
        assert r["x0"] == 10.0 + r["i0"] * 0.5
        assert r["x1"] == -5.0 + r["i1"] * 2.0
        assert r["x2"] == 0.5 + r["i2"] * 1.5


def test_grid_3d_subset_matches_numpy_slice(spark):
    dims = (6, 5, 4)
    g = georef_grid_nd(spark, dims)
    sub = grid_subset_nd(g, [(1, 4), (2, 4), (0, 2)])
    got = sorted(r["row_id"] for r in sub.df.select("row_id").collect())
    arr = np.arange(6 * 5 * 4).reshape(dims, order="F")
    want = sorted(arr[1:5, 2:5, 0:3].flatten(order="F").tolist())
    assert got == want
    # the view is still a raster with shifted origin
    assert sub.grid == GridMetaND(dims=(4, 3, 3), origin=(1.0, 2.0, 0.0), spacing=(1.0, 1.0, 1.0))


def test_grid_nd_geometry_is_xy_footprint(spark):
    g = georef_grid_nd(spark, (3, 2, 2), origin=(0.0, 0.0, 0.0), spacing=(2.0, 3.0, 1.0))
    r = g.df.filter(F.col("row_id") == 4).select("geometry").first()["geometry"]
    # id 4 → i0=1, i1=1, i2=0 → box x:[2,4) y:[3,6)
    assert (r["xmin"], r["ymin"], r["xmax"], r["ymax"]) == (2.0, 3.0, 4.0, 6.0)


def test_grid_nd_values_zip_column_major(spark):
    vals = spark.range(12).select(
        F.col("id").alias("cell_id"), (F.col("id") * 7 % 11).alias("t")
    )
    g = georef_grid_nd(spark, (4, 3), values=vals)
    got = {r["row_id"]: r["t"] for r in g.df.select("row_id", "t").collect()}
    assert got == {i: i * 7 % 11 for i in range(12)}


def test_grid_nd_1d_and_validation(spark):
    g = georef_grid_nd(spark, (5,), origin=(100.0,), spacing=(10.0,))
    xs = sorted(r["x0"] for r in g.df.select("x0").collect())
    assert xs == [100.0, 110.0, 120.0, 130.0, 140.0]
    with pytest.raises(ValueError, match="ranges"):
        grid_subset_nd(g, [(0, 1), (0, 1)])
    with pytest.raises(ValueError, match="out of bounds"):
        grid_subset_nd(g, [(0, 5)])
    with pytest.raises(ValueError, match="dims"):
        georef_grid_nd(spark, ())
    with pytest.raises(ValueError, match="origin"):
        georef_grid_nd(spark, (2, 2), origin=(0.0,))


def test_2d_grid_ops_reject_nd_meta_and_vice_versa(spark):
    from geotables_jl_spark.core.geotable import georef_grid

    g3 = georef_grid_nd(spark, (3, 3, 3))
    with pytest.raises(ValueError, match="2-D"):
        grid_subset(g3, 0, 1, 0, 1)
    with pytest.raises(ValueError, match="2-D"):
        grid_view_box(g3, 0.0, 0.0, 1.0, 1.0)
    g2 = georef_grid(spark, 3, 3)
    with pytest.raises(ValueError, match="N-d"):
        grid_subset_nd(g2, [(0, 1), (0, 1)])


@pytest.mark.parametrize(
    "nx,ny,ox,oy,sx,sy",
    [
        (36, 18, -180.0, -90.0, 10.0, 10.0),
        (10, 10, 0.0, 0.0, 1.0, 1.0),
        (7, 3, 0.1, -0.3, 0.1, 0.7),
        (5, 4, 3.0, 2.0, -1.5, -0.5),
        (0, 5, 0.0, 0.0, 1.0, 1.0),
    ],
)
def test_grid_envelope_stats_match_data_pass(spark, nx, ny, ox, oy, sx, sy):
    """Planning statistics of a raster from its metadata equal the
    ``envelope_stats`` pass over the generated cells: counts and extent
    bit-exactly, mean cell size up to rounding of the cell widths."""
    from geotables_jl_spark.core.geotable import georef_grid, grid_envelope_stats
    from geotables_jl_spark.geom.cells import envelope_stats

    g = georef_grid(spark, nx, ny, ox=ox, oy=oy, sx=sx, sy=sy)
    got, want = grid_envelope_stats(g.grid), envelope_stats(g.df)
    assert set(got) == set(want)
    for key in ("n", "xmin", "ymin", "xmax", "ymax", "all_exact"):
        assert got[key] == want[key], key
    for key in ("avg_w", "avg_h"):
        assert got[key] == pytest.approx(want[key], rel=1e-12), key
    if sx == 10.0:
        assert got == want
