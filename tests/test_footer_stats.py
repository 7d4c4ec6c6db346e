"""Join planning from parquet footers: ``envelope_stats`` of a bare
parquet scan of ``georef(coords=…)`` points is read from the footers,
equals the data pass wherever it answers, and falls back to the data
pass wherever the footers cannot decide. Join rows never depend on
which path planned them."""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from geotables_jl_spark import GeoTable, georef, georef_grid, geojoin, knn_join
from geotables_jl_spark.geom import cells

NAN, INF = float("nan"), float("inf")

#: (lat, lon) columns; per writer, whether the footers answer
CASES = {
    "plain": ([0.0, 1.0, 2.0], [5.0, 6.0, 7.0], {"arrow": True, "spark": True}),
    "null": ([0.0, None, 2.0], [5.0, 6.0, None], {"arrow": True, "spark": True}),
    # pyarrow leaves NaN out of min/max; Spark's writer makes it the max
    "nan": ([0.0, 1.0, 2.0], [5.0, NAN, 7.0], {"arrow": True, "spark": False}),
    "pos_inf": ([0.0, 1.0, 2.0], [5.0, INF, 7.0], {"arrow": False, "spark": False}),
    "neg_inf": ([0.0, -INF, 2.0], [5.0, 6.0, 7.0], {"arrow": False, "spark": False}),
    # no row has both coordinates finite, yet pyarrow's footers look populated
    "nan_halves": ([NAN, 1.0, NAN, 2.0], [5.0, NAN, 7.0, NAN], {"arrow": True, "spark": False}),
    "all_nan_lat": ([NAN, NAN], [1.0, 2.0], {"arrow": False, "spark": False}),
    "all_null_lat": ([None, None], [1.0, 2.0], {"arrow": False, "spark": False}),
    "empty": ([], [], {"arrow": True, "spark": True}),
}


def _write(spark, path, lat, lon, writer, **kw):
    if writer == "arrow":
        os.makedirs(path, exist_ok=True)
        t = pa.table({"lat": pa.array(lat, pa.float64()), "lon": pa.array(lon, pa.float64())})
        pq.write_table(t, os.path.join(path, "part-0.parquet"), **kw)
    else:
        rows = [(None if a is None else float(a), None if b is None else float(b)) for a, b in zip(lat, lon)]
        spark.createDataFrame(rows, "lat double, lon double").coalesce(1).write.parquet(path)
    return georef(spark.read.parquet(path), coords=["lat", "lon"]).df


@pytest.mark.parametrize("writer", ["arrow", "spark"])
@pytest.mark.parametrize("case", sorted(CASES))
def test_footer_stats_equal_data_pass(spark, tmp_path, case, writer):
    """Where the footers answer they equal the data pass; where they
    cannot decide (NaN/±Inf bounds, a chunk without min/max) the stats
    come from the data pass. Either way the extent is finite."""
    lat, lon, footer = CASES[case]
    df = _write(spark, str(tmp_path / "d"), lat, lon, writer)
    want = cells.envelope_pass([df])[0]
    got = cells.footer_envelope_stats(df)
    assert (got is not None) == footer[writer]
    if got is not None:
        assert got == want
    assert cells.envelope_stats(df) == want
    assert want["n"] == len(lat)
    for k in ("xmin", "ymin", "xmax", "ymax"):
        assert want[k] is None or math.isfinite(want[k]), (k, want)


def test_footer_stats_types_and_row_groups(spark, tmp_path):
    """Integer and float32 coordinates, several row groups and an empty
    file take the footer path; a file written without statistics falls
    back."""
    d = tmp_path / "typed"
    d.mkdir()
    t = pa.table({"lat": pa.array([3, -2, 7, 1], pa.int32()), "lon": pa.array([0.5, 1.25, -8.0, 2.0], pa.float32())})
    pq.write_table(t, d / "a.parquet", row_group_size=2)
    pq.write_table(t.slice(0, 0), d / "b.parquet")
    df = georef(spark.read.parquet(str(d)), coords=["lat", "lon"]).df
    got = cells.footer_envelope_stats(df)
    assert got is not None and got == cells.envelope_pass([df])[0]
    assert got["n"] == 4 and (got["ymin"], got["xmin"]) == (-2.0, -8.0)

    bare = _write(spark, str(tmp_path / "nostats"), [1.0], [2.0], "arrow", write_statistics=False)
    assert cells.footer_envelope_stats(bare) is None


def test_footer_path_needs_a_bare_scan(spark, tmp_path):
    """Renames and extra projections keep the footer path; a filter, a
    join, a Range grid, an in-memory frame, a derived or non-numeric
    coordinate, a geometry that is not a point of two columns, and a
    decimal coordinate do not."""
    from geotables_jl_spark.geom.model import st_point

    d = str(tmp_path / "pts")
    spark.createDataFrame(
        [(i, f"u{i}", float(i), float(-i), str(i)) for i in range(6)],
        "row_id long, url string, lat double, lon double, s string",
    ).coalesce(1).write.parquet(d)
    raw = spark.read.parquet(d)
    pts = georef(raw, coords=["lat", "lon"]).df
    renamed = georef(raw.withColumnRenamed("lon", "x").withColumnRenamed("lat", "y"), coords=["x", "y"]).df
    bare = [
        pts,
        pts.withColumn("page_id", F.col("row_id")).select("row_id", "page_id", "geometry"),
        renamed.withColumnRenamed("url", "url_"),
        georef(raw.drop("row_id"), coords=["lat", "lon"]).df,  # adds a row id
        georef(raw, geoms=st_point(F.col("lon"), F.col("lat"))).df,  # the same expression
    ]
    for df in bare:
        assert cells._point_columns(df, "geometry") is not None, df._jdf.queryExecution().analyzed().toString()
        assert cells.footer_envelope_stats(df) == cells.envelope_pass([df])[0]
    assert cells._point_columns(renamed, "geometry") == ("lon", "lat")  # the parquet columns

    not_bare = [
        pts.filter(F.col("row_id") > 2),
        pts.join(raw.select("row_id"), "row_id"),
        georef_grid(spark, 4, 3).df,
        georef(spark.createDataFrame([(1.0, 2.0)], "lat double, lon double"), coords=["lat", "lon"]).df,
        georef(raw.withColumn("lat2", F.col("lat") * 2.0), coords=["lat2", "lon"]).df,
        georef(raw.withColumn("lat", F.col("s")), coords=["lat", "lon"]).df,
        georef(raw, geoms=st_point(F.col("lon"), F.col("lon") + 1.0)).df,
        pts.select("row_id", F.col("geometry").alias("g"), F.col("url").alias("geometry")),
    ]
    for df in not_bare:
        assert cells.footer_envelope_stats(df) is None, df._jdf.queryExecution().analyzed().toString()

    dec = str(tmp_path / "dec")
    spark.createDataFrame([(1, 2)], "lat int, lon int").select(
        F.col("lat").cast("decimal(10,2)").alias("lat"), F.col("lon").cast("decimal(10,2)").alias("lon")
    ).write.parquet(dec)
    assert cells.footer_envelope_stats(georef(spark.read.parquet(dec), coords=["lat", "lon"]).df) is None


def _jobs(spark, group, fn):
    """(fn(), Spark jobs it launched), counted through its job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_stats_job_count_contract(spark, tmp_path, monkeypatch):
    """A bare parquet side costs no job; two sides that need a data pass
    share one aggregate; ``knn_join`` over two bare parquet sides runs
    no stats job (its one job is the kernel arm's directory collect)."""
    rng = np.random.default_rng(3)
    left = _write(spark, str(tmp_path / "l"), rng.uniform(-5, 5, 300), rng.uniform(-5, 5, 300), "spark")
    right = _write(spark, str(tmp_path / "r"), rng.uniform(-5, 5, 200), rng.uniform(-5, 5, 200), "arrow")

    stats, jobs = _jobs(spark, "footer-stats", lambda: cells.envelope_stats(left))
    assert jobs == 0 and stats == cells.envelope_pass([left])[0]

    a, b = left.filter(F.col("row_id") >= 0), georef_grid(spark, 6, 4).df
    one, one_jobs = _jobs(spark, "one-pass", lambda: cells.envelope_stats(a))
    two, two_jobs = _jobs(spark, "shared-pass", lambda: cells.envelope_pass([a, b]))
    assert two_jobs == one_jobs > 0
    assert two == [one, cells.envelope_stats(b)]

    passes = []
    real = cells.envelope_pass
    monkeypatch.setattr(cells, "envelope_pass", lambda dfs, *a: passes.append(len(dfs)) or real(dfs, *a))
    q, d = GeoTable(df=left, crs="LatLon"), GeoTable(df=right, crs="LatLon")
    out, jobs = _jobs(spark, "knn-footers", lambda: knn_join(q, d, k=3))
    assert sum(passes) == 0 and jobs == 1  # no frame took a data pass
    assert out.count() == 300 * 3


def _forced_data_pass(monkeypatch):
    monkeypatch.setattr(cells, "footer_envelope_stats", lambda *a, **kw: None)


def test_join_rows_identical_to_forced_data_pass(spark, tmp_path, monkeypatch):
    """Footer-planned ``geojoin`` (intersects, both orientations) and
    ``knn_join`` rows equal those of a run forced to the data pass: pages
    with NULL and NaN coordinates written by pyarrow (footer path) and
    with an Inf one written by Spark (data pass), against a pyarrow
    directory with NaN rows (footer path)."""
    rng = np.random.default_rng(11)
    lat, lon = rng.uniform(-80, 80, 400).tolist(), rng.uniform(-170, 170, 400).tolist()
    lat[3], lat[7] = NAN, None
    pages = {"arrow": _write(spark, str(tmp_path / "pa"), lat, lon, "arrow")}
    lon[5] = INF
    pages["spark"] = _write(spark, str(tmp_path / "ps"), lat, lon, "spark")
    dlat, dlon = rng.uniform(-80, 80, 300), rng.uniform(-170, 170, 300)
    dlon[::7] = NAN
    directory = _write(spark, str(tmp_path / "dir"), dlat, dlon, "arrow")
    assert cells.footer_envelope_stats(directory) is not None  # NaN left out of the bounds
    assert cells.footer_envelope_stats(pages["arrow"]) is not None
    assert cells.footer_envelope_stats(pages["spark"]) is None

    grid = georef_grid(spark, 36, 18, ox=-180.0, oy=-90.0, sx=10.0, sy=10.0, crs="LatLon")
    tiles = GeoTable(df=grid.df.select("row_id", F.col("row_id").alias("tile_id"), "geometry"), crs="LatLon")
    dg = GeoTable(df=directory, crs="LatLon")

    def run(df):
        pg = GeoTable(df=df.withColumn("page_id", F.col("row_id")), crs="LatLon")
        a = geojoin(tiles, pg, aggs={"page_id": "count"}, kind="inner").df.select("tile_id", "page_id")
        b = geojoin(pg, tiles, aggs={"tile_id": "min"}, kind="left").df.select("row_id", "tile_id")
        c = knn_join(pg, dg, k=4).select("row_id", "neighbor_id", "distance", "rank")
        return [sorted(x.collect()) for x in (a, b, c)]

    footer = {w: run(df) for w, df in pages.items()}
    _forced_data_pass(monkeypatch)
    for w, df in pages.items():
        assert footer[w] == run(df), w
    # non-finite and NULL pages match no tile
    assert [sum(r.page_id for r in footer[w][0]) for w in ("arrow", "spark")] == [398, 397]


def test_knn_directory_without_a_finite_row(spark, tmp_path, monkeypatch):
    """NaN lon in half the directory rows and NaN lat in the other half:
    the pyarrow footers look populated, but no point is finite. On both
    arms the engine finds the directory empty and returns the typed empty
    frame, as the forced data pass does from its count; an all-NaN query
    side gives no rows either. The rounds arm never gets a footer count
    as its exact left count."""
    from geotables_jl_spark.operators import knn

    q = _write(spark, str(tmp_path / "q"), [0.0, 1.0, NAN], [0.0, 1.0, 2.0], "arrow")
    d = _write(spark, str(tmp_path / "d"), [NAN, 1.0, NAN, 2.0], [5.0, NAN, 7.0, NAN], "arrow")
    assert cells.footer_envelope_stats(d)["n"] == 4
    assert cells.footer_envelope_stats(q)["n"] == 3
    gq, gd = GeoTable(df=q, crs="Cartesian"), GeoTable(df=d, crs="Cartesian")
    empties, lefts = [], []
    real_empty, real_rounds = knn.empty, knn._rounds_arm

    def rounds_spy(*a):
        lefts.append(a[-2])  # n_left
        return real_rounds(*a)

    monkeypatch.setattr(knn, "empty", lambda *a: empties.append(1) or real_empty(*a))
    monkeypatch.setattr(knn, "_rounds_arm", rounds_spy)
    for threshold in (knn.KNN_BROADCAST_ROWS, 0):  # kernel arm, then rounds arm
        monkeypatch.setattr(knn, "KNN_BROADCAST_ROWS", threshold)
        empties.clear()
        assert knn_join(gq, gd, k=2).count() == 0
        assert empties, threshold
        assert knn_join(gd, gq, k=2).count() == 0
    assert lefts == [None, None]
    _forced_data_pass(monkeypatch)
    assert knn_join(gq, gd, k=2).count() == 0


@pytest.mark.parametrize("bad", ["nan_left", "inf_right"])
def test_non_finite_row_keeps_cell_size(spark, monkeypatch, bad):
    """One NaN or +Inf lon no longer turns the cell size into NaN or Inf
    (which made every page × tile pair a candidate): the tile join keeps
    the 10° cell and the candidates of the finite pages, plus at most the
    four that the bad row's own cell meets."""
    from geotables_jl_spark.operators import geojoin as G

    rng = np.random.default_rng(5)
    lat, lon = rng.uniform(-90, 90, 2000), rng.uniform(-180, 180, 2000)
    lon[17] = NAN if bad == "nan_left" else INF
    pages = georef(spark.createDataFrame(
        [(i, float(a), float(b)) for i, (a, b) in enumerate(zip(lat, lon))], "row_id long, lat double, lon double"
    ), coords=["lat", "lon"])
    grid = georef_grid(spark, 36, 18, ox=-180.0, oy=-90.0, sx=10.0, sy=10.0, crs="LatLon")
    tiles = GeoTable(df=grid.df.select("row_id", F.col("row_id").alias("tile_id"), "geometry"), crs="LatLon")

    seen = []
    real = G.candidate_pairs

    def spy(*a, **kw):
        seen.append((a[2], real(*a, **kw)))
        return seen[-1][1]

    monkeypatch.setattr(G, "candidate_pairs", spy)
    pg = GeoTable(df=pages.df.withColumn("page_id", F.col("row_id")), crs="LatLon")
    if bad == "nan_left":
        res = geojoin(pg, tiles, aggs={"tile_id": "count"}, kind="inner")
    else:
        res = geojoin(tiles, pg, aggs={"page_id": "count"}, kind="inner")
    (size, cand), = seen
    assert size == 10.0

    # each finite page's cell meets the covers (2×2 cells) of the tiles
    # whose column is its own or the one west, and row its own or south
    ok = np.isfinite(lon)
    cx, cy = np.floor(lon[ok] / 10.0), np.floor(lat[ok] / 10.0)
    finite_pairs = int(((1 + (cx > -18)) * (1 + (cy > -9))).sum())
    assert finite_pairs <= cand.count() <= finite_pairs + 4
    tiles_hit = len(np.unique((cx + 18) + 36 * (cy + 9)))
    assert res.df.count() == (1999 if bad == "nan_left" else tiles_hit)
