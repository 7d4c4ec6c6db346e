"""WKB / GeoParquet interop (sources/geoparquet.py): byte-exact
round-trips for points, holed polygons, multipoints and multipolygons,
an end-to-end write→read→geojoin path, and the NULL / poison-blob rules
(NULL converts to NULL both ways; an unparseable blob decodes to NULL)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geotables_jl_spark.core.geotable import GeoTable, georef
from geotables_jl_spark.sources.geoparquet import (
    _decode_one,
    _encode_one,
    geometry_to_wkb,
    read_geoparquet,
    wkb_to_geometry,
    write_geoparquet,
)
from geotables_jl_spark.geom.model import geom_rows_from_polygons, point_row

OUTER = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
HOLE = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)]


def test_python_codec_roundtrip():
    pt = point_row(1.5, -2.25)
    holed = geom_rows_from_polygons([OUTER], holes=[[HOLE]])[0]
    multi = {
        "kind": 5, "x": None, "y": None,
        "rings": holed["rings"] + [[20.0, 0.0, 30.0, 0.0, 30.0, 10.0, 20.0, 10.0]],
        "xmin": 0.0, "ymin": 0.0, "xmax": 30.0, "ymax": 10.0,
    }
    mpt = {"kind": 4, "x": None, "y": None, "rings": [[1.0, 2.0, 3.0, 4.0]],
           "xmin": 1.0, "ymin": 2.0, "xmax": 3.0, "ymax": 4.0}
    for g in (pt, holed, multi, mpt):
        rt = _decode_one(_encode_one(g))
        assert rt["kind"] == g["kind"]
        if g["kind"] == 1:
            assert (rt["x"], rt["y"]) == (g["x"], g["y"])
        else:
            assert rt["rings"] == [list(map(float, r)) for r in g["rings"]]
        for e in ("xmin", "ymin", "xmax", "ymax"):
            assert rt[e] == pytest.approx(g[e])
    # point WKB is the canonical 21-byte little-endian layout
    wkb = _encode_one(pt)
    assert len(wkb) == 21 and wkb[0] == 1
    assert struct.unpack_from("<I", wkb, 1)[0] == 1
    assert struct.unpack_from("<dd", wkb, 5) == (1.5, -2.25)


def test_spark_roundtrip_and_geojoin(spark, tmp_path):
    from tests.fixtures import gtb_points, gtb_polys
    from geotables_jl_spark.operators.geojoin import geojoin
    from geotables_jl_spark.operators.setops import geotable_equal

    polys = gtb_polys(spark)
    path = str(tmp_path / "polys_geoparquet")
    write_geoparquet(polys, path)

    back = read_geoparquet(spark, path)
    assert geotable_equal(polys, back)

    # the decoded table drives the flagship join identically
    pts = gtb_points(spark)
    a = geojoin(polys, pts, aggs={"b": "mean"}, kind="left").df.collect()
    b = geojoin(back, pts, aggs={"b": "mean"}, kind="left").df.collect()
    key = lambda r: r["row_id"]
    assert sorted(a, key=key) == sorted(b, key=key)


def test_wkb_column_converters(spark):
    pts = spark.createDataFrame(
        [(0, 1.0, 2.0), (1, -3.5, 4.25)], "row_id long, x double, y double"
    )
    g = georef(pts, coords=["x", "y"])
    wkb_df = geometry_to_wkb(g.df)
    rows = {r["row_id"]: bytes(r["wkb"]) for r in wkb_df.collect()}
    assert struct.unpack_from("<dd", rows[1], 5) == (-3.5, 4.25)
    back = wkb_to_geometry(wkb_df)
    got = {r["row_id"]: (r["geometry"]["x"], r["geometry"]["y"]) for r in back.collect()}
    assert got == {0: (1.0, 2.0), 1: (-3.5, 4.25)}


def _decoded(spark, blobs):
    """{id: geometry} after wkb_to_geometry over (id, blob) rows."""
    df = spark.createDataFrame(list(enumerate(blobs)), "row_id long, wkb binary")
    return {r["row_id"]: r["geometry"] for r in wkb_to_geometry(df).collect()}


def test_wkb_decode_null_is_null_geometry(spark, tmp_path):
    # GeoParquet allows NULL geometries: read_geoparquet must read them
    ok = _encode_one(point_row(1.5, 2.5))
    path = str(tmp_path / "with_nulls")
    spark.createDataFrame(
        [(0, bytearray(ok)), (1, None)], "row_id long, geometry binary"
    ).write.parquet(path)
    got = {r["row_id"]: r["geometry"] for r in read_geoparquet(spark, path).df.collect()}
    assert got[1] is None
    assert (got[0]["x"], got[0]["y"]) == (1.5, 2.5)


def test_wkb_decode_truncated_blob_is_null_geometry(spark):
    ok = _encode_one(point_row(1.5, 2.5))
    holed = _encode_one(geom_rows_from_polygons([OUTER], holes=[[HOLE]])[0])
    got = _decoded(spark, [bytearray(ok), bytearray(ok[:9]), bytearray(holed[:40]), bytearray()])
    assert got[0]["kind"] == 1
    assert got[1] is None and got[2] is None and got[3] is None


def test_wkb_decode_unsupported_type_is_null_geometry(spark):
    linestring = b"\x01" + struct.pack("<II", 2, 2) + struct.pack("<4d", 0.0, 0.0, 1.0, 1.0)
    got = _decoded(spark, [bytearray(linestring), bytearray(_encode_one(point_row(3.0, 4.0)))])
    assert got[0] is None
    assert (got[1]["x"], got[1]["y"]) == (3.0, 4.0)


def test_geometry_encode_null_is_null_wkb(spark):
    pts = spark.createDataFrame(
        [(0, 1.0, 2.0), (1, None, None)], "row_id long, x double, y double"
    )
    g = georef(pts, coords=["x", "y"]).df
    g = g.withColumn("geometry", F.when(F.col("row_id") == 1, F.lit(None)).otherwise(F.col("geometry")))
    rows = {r["row_id"]: r["wkb"] for r in geometry_to_wkb(g).collect()}
    assert rows[1] is None
    assert struct.unpack_from("<dd", bytes(rows[0]), 5) == (1.0, 2.0)
