"""tablejoin golden fixture (reference test/operations.jl:256-311 style)
+ CRS reprojection and geojoin auto-reprojection + kNN golden values."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.core.geotable import GeoTable, georef
from geotables_jl_spark.functions.crs import reproject
from geotables_jl_spark.operators.geojoin import geojoin, knn_join
from geotables_jl_spark.operators.tablejoin import tablejoin


def _points(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    return georef(df, coords=["x", "y"])


def test_tablejoin_left_dup_keys(spark):
    g = _points(
        spark,
        [(0, "a", 0.0, 0.0), (1, "b", 1.0, 0.0), (2, "c", 2.0, 0.0), (3, None, 3.0, 0.0)],
        "row_id long, k string, x double, y double",
    )
    tab = spark.createDataFrame(
        [(0, "a", 10.0), (1, "a", 20.0), (2, "b", 5.0), (3, None, 99.0)],
        "row_id long, k string, v double",
    )
    out = {r["row_id"]: r for r in tablejoin(g, tab, on=["k"]).df.collect()}
    assert out[0]["v"] == pytest.approx(15.0)  # mean of duplicate matches
    assert out[1]["v"] == pytest.approx(5.0)
    assert out[2]["v"] is None  # no match → missing
    assert out[3]["v"] == pytest.approx(99.0)  # NULL key matches NULL (isequal)
    assert len(out) == 4

    inner = tablejoin(g, tab, on=["k"], kind="inner").df
    assert sorted(r["row_id"] for r in inner.collect()) == [0, 1, 3]


def test_tablejoin_custom_aggs(spark):
    g = _points(spark, [(0, "a", 0.0, 0.0)], "row_id long, k string, x double, y double")
    tab = spark.createDataFrame(
        [(0, "a", 10.0), (1, "a", 20.0), (2, "a", 60.0)], "row_id long, k string, v double"
    )
    out = tablejoin(g, tab, on=["k"], aggs={"v": "sum"}).df.collect()[0]
    assert out["v"] == pytest.approx(90.0)
    out = tablejoin(g, tab, on=["k"], aggs={"v": "last"}).df.collect()[0]
    assert out["v"] == pytest.approx(60.0)  # last in right row order (row_id)


def test_crs_roundtrip(spark):
    g = _points(
        spark,
        [(0, 10.0, 45.0), (1, -120.0, -33.0)],
        "row_id long, x double, y double",
    )
    g = GeoTable(df=g.df, crs="LatLon")
    merc = reproject(g, "WebMercator")
    back = reproject(merc, "LatLon")
    rows = {r["row_id"]: r["geometry"] for r in back.df.collect()}
    assert rows[0]["x"] == pytest.approx(10.0, abs=1e-9)
    assert rows[0]["y"] == pytest.approx(45.0, abs=1e-9)
    assert rows[1]["y"] == pytest.approx(-33.0, abs=1e-9)
    # spot value: lon 10° → x = 10 * R * pi/180
    m = {r["row_id"]: r["geometry"] for r in merc.df.collect()}
    assert m[0]["x"] == pytest.approx(10.0 * 6378137.0 * math.pi / 180.0)


def test_geojoin_auto_reproject(spark):
    left = GeoTable(
        df=_points(spark, [(0, 10.0, 45.0)], "row_id long, x double, y double").df,
        crs="LatLon",
    )
    # right table in WebMercator at the same physical location
    mx = 10.0 * 6378137.0 * math.pi / 180.0
    my = math.log(math.tan(math.pi / 4 + math.radians(45.0) / 2)) * 6378137.0
    right = GeoTable(
        df=_points(spark, [(0, mx, my, 7.0)], "row_id long, x double, y double, v double").df,
        crs="WebMercator",
    )
    out = geojoin(left, right).df.collect()[0]
    assert out["v"] == pytest.approx(7.0)  # reprojection made the points coincide


def test_knn_golden(spark, knn_arms):
    left = _points(spark, [(0, 0.0, 0.0)], "row_id long, x double, y double")
    right = _points(
        spark,
        [(1, 1.0, 0.0), (2, 0.0, 2.0), (3, 3.0, 0.0), (4, 0.0, 4.0)],
        "row_id long, x double, y double",
    )

    def run():
        return sorted(
            (r["rank"], r["neighbor_id"], r["distance"]) for r in knn_join(left, right, k=3).collect()
        )

    for arm, got in knn_arms(run):
        assert got == [(1, 1, 1.0), (2, 2, 2.0), (3, 3, 3.0)], arm


def test_knn_tie_break_by_id(spark, knn_arms):
    left = _points(spark, [(0, 0.0, 0.0)], "row_id long, x double, y double")
    right = _points(
        spark,
        [(5, 1.0, 0.0), (2, -1.0, 0.0), (9, 0.0, 1.0)],
        "row_id long, x double, y double",
    )

    def run():
        return sorted((r["rank"], r["neighbor_id"]) for r in knn_join(left, right, k=3).collect())

    for arm, got in knn_arms(run):
        assert got == [(1, 2), (2, 5), (3, 9)], arm  # equal distances → id order


def test_geojoin_knn_on_keys_string_ids(spark, knn_arms):
    """geojoin(pred="knn", on=[...]) with string row ids equals brute
    force: neighbours come from the row's key group only (a NULL key
    matches NULL, as isequal), distance ties break by rid in string order
    ("r10" < "r9"), and a point with a NULL, NaN or infinite coordinate
    gets a NULL aggregate and is no one's neighbour."""
    inf, nan = float("inf"), float("nan")
    keys = ["a", "b", None]
    # small integer lattice: distance ties at the k-th boundary everywhere
    right = [(f"r{i}", keys[i % 3], float(i * 7 % 5), float(i * 3 % 4)) for i in range(30)]
    right += [("rnan", "a", nan, 0.0), ("rinf", "b", 1.0, -inf), ("rnull", None, None, 0.0)]
    # more query rows than directory rows: round 1 explodes the directory,
    # the escalated rounds (qlone's, below) the few remaining query rows
    left = [(f"q{i}", keys[i % 3], float(i % 5), float(i * 5 % 4)) for i in range(36)]
    left += [("qnan", "a", nan, 1.0), ("qinf", "b", inf, 1.0), ("qnull", None, 2.0, None)]
    left.append(("qlone", "zz", 0.0, 0.0))  # a key no right row has
    schema = "row_id string, key string, x double, y double"
    gl = _points(spark, left, schema)
    gr = _points(spark, [(*r, r[0]) for r in right], schema + ", name string")
    k = 3
    exp = {}
    for lid, key, lx, ly in left:
        cand = sorted(
            (math.sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)), rid)
            for rid, rkey, rx, ry in right
            if rkey == key and all(v is not None and math.isfinite(v) for v in (lx, ly, rx, ry))
        )
        exp[lid] = sorted(rid for _, rid in cand[:k]) or None

    def run():
        out = geojoin(gl, gr, aggs={"name": "collect"}, pred="knn", on=["key"], k=k).df
        return {r["row_id"]: r["name"] for r in out.collect()}

    for arm, got in knn_arms(run, kernel=False):
        assert got == exp, arm
        assert {e for e, _ in knn_arms.rounds} == {True, False}, arm
        # the 30-row directory is broadcast at the real threshold only
        assert {b for _, b in knn_arms.rounds} == {arm == "kernel"}, arm


def _jobs(spark, fn):
    """(fn(), the number of Spark jobs it launched)."""
    sc = spark.sparkContext
    sc.setJobGroup("knn-jobs", "knn-jobs")
    try:
        out = fn()
    finally:
        sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup("knn-jobs"))


def test_knn_empty_side_runs_no_job(spark):
    """A side known to be empty gives the typed empty pair frame without
    launching a job, on both metrics."""
    from geotables_jl_spark.geom.cells import envelope_stats
    from geotables_jl_spark.operators.geojoin import knn_pairs
    from geotables_jl_spark.operators.geojoin_s2 import s2_knn_join

    schema = "row_id string, x double, y double, name string"
    full = _points(spark, [("a", 0.0, 0.0, "n")], schema).df
    none = _points(spark, [], schema).df
    s_full, s_none = envelope_stats(full), envelope_stats(none)
    for l, r, s1, s2 in ((none, full, s_none, s_full), (full, none, s_full, s_none)):
        out, jobs = _jobs(spark, lambda: knn_pairs(l, r, 3, extra=["name"], stats1=s1, stats2=s2))
        assert jobs == 0
        assert out.dtypes == [("__lid", "string"), ("__rid", "string"), ("__dist", "double"),
                              ("__rank", "int"), ("name", "string")]
        assert out.count() == 0
    sph = spark.createDataFrame([(1, 1.0, 0.0, 0.0)], "id long, nx double, ny double, nz double")
    lp, rp = sph.withColumnRenamed("id", "lid"), sph.withColumnRenamed("id", "rid")
    for kw in ({"n_right": 0}, {"n_right": 1, "n_left": 0}):
        out, jobs = _jobs(spark, lambda: s2_knn_join(lp, rp, 3, **kw))
        assert jobs == 0 and out.count() == 0, kw


def test_knn_pairs_passes_left_count_to_rounds(spark, monkeypatch):
    """The left count of stats computed from the finite rows reaches the
    rounds arm, so it runs no count of its own; an injected count, which
    may include non-finite rows, does not."""
    from geotables_jl_spark.operators import knn
    from geotables_jl_spark.operators.geojoin import knn_pairs

    schema = "row_id long, key long, x double, y double"
    l = _points(spark, [(0, 1, 0.0, 0.0), (1, 1, 1.0, 1.0), (2, 1, float("nan"), 0.0)], schema).df
    r = _points(spark, [(5, 1, 0.0, 1.0), (6, 1, 2.0, 0.0)], schema).df
    seen = []
    real = knn._rounds_arm

    def spy(*a):
        seen.append(a[-2])  # n_left
        return real(*a)

    monkeypatch.setattr(knn, "_rounds_arm", spy)
    knn_pairs(l, r, 1, on=["key"]).collect()
    knn_pairs(l, r, 1, on=["key"], stats1={"n": 3, "xmin": 0.0, "ymin": 0.0, "xmax": 1.0, "ymax": 1.0}).collect()
    assert seen == [2, None]
