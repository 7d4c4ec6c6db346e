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
    # more query rows than directory rows, over several tiles; qlone
    # (below) escalates to the last round
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
        # the first round keys the query rows to more than one tile, and
        # qlone's key has no directory rows, so it reaches a later round
        assert knn_arms.rounds[0] > 1 and len(knn_arms.rounds) > 1, (arm, knn_arms.rounds)


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
    tile arm, so it runs no count of its own; an injected count, which
    may include non-finite rows, does not."""
    from geotables_jl_spark.operators import knn
    from geotables_jl_spark.operators.geojoin import knn_pairs

    schema = "row_id long, key long, x double, y double"
    l = _points(spark, [(0, 1, 0.0, 0.0), (1, 1, 1.0, 1.0), (2, 1, float("nan"), 0.0)], schema).df
    r = _points(spark, [(5, 1, 0.0, 1.0), (6, 1, 2.0, 0.0)], schema).df
    seen = []
    real = knn._tile_arm

    def spy(*a):
        seen.append(a[-2])  # n_left
        return real(*a)

    monkeypatch.setattr(knn, "_tile_arm", spy)
    knn_pairs(l, r, 1, on=["key"]).collect()
    knn_pairs(l, r, 1, on=["key"], stats1={"n": 3, "xmin": 0.0, "ymin": 0.0, "xmax": 1.0, "ymax": 1.0}).collect()
    assert seen == [2, None]


@pytest.mark.parametrize("k", [0, -1])
def test_knn_rejects_k_below_one_before_any_job(spark, k):
    """``k < 1`` raises ValueError at every kNN entry — ``knn_join`` on
    both metrics and ``geojoin(pred="knn")`` — without a Spark job."""
    planar = _points(spark, [(0, 0.0, 0.0)], "row_id long, x double, y double")
    latlon = spark.createDataFrame([(0, 1.0, 2.0)], "row_id long, lat double, lon double")
    sphere = georef(latlon, coords=["lat", "lon"])
    runs = {
        "planar": lambda: knn_join(planar, planar, k),
        "sphere": lambda: knn_join(sphere, sphere, k, metric="sphere"),
        "geojoin": lambda: geojoin(planar, planar, pred="knn", k=k),
    }
    for name, run in runs.items():

        def raises():
            with pytest.raises(ValueError, match="k must be at least 1"):
                run()

        _, jobs = _jobs(spark, raises)
        assert jobs == 0, name


def test_knn_on_keys_group_like_null_safe_equality(spark, knn_arms):
    """``on=`` keys of different types, and -0.0 against 0.0, match as
    the null-safe equality does: an int key meets a long key, and a
    negative zero meets a zero. With partition coalescing off, the tile
    arm's cogroup spreads its groups over every shuffle partition, where
    a key hashed by its own type would miss its partner."""
    cases = (
        ("int", "long", list(range(12)), list(range(12))),
        ("float", "double", [0.5, 1.5, -0.0, 0.0], [0.5, 1.5, 0.0, -0.0]),
    )
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(conf, "false")
    try:
        for lt, rt, lv, rv in cases:
            left = _points(spark, [(i, v, float(i), 0.0) for i, v in enumerate(lv)],
                           f"row_id long, key {lt}, x double, y double")
            right = _points(spark, [(100 + i, v, float(i), 1.0) for i, v in enumerate(rv)],
                            f"row_id long, key {rt}, x double, y double")
            exp = {}
            for i, v in enumerate(lv):
                # the nearest right row with an equal key (0.0 == -0.0)
                exp[i] = min((abs(i - j), 100 + j) for j, w in enumerate(rv) if w == v)[1]

            def run():
                return {r[0]: r[1] for r in knn_join(left, right, 1, on=["key"]).select("row_id", "neighbor_id").collect()}

            for arm, got in knn_arms(run, kernel=False):
                assert got == exp, (arm, lt, rt)
    finally:
        spark.conf.set(conf, "true")


def test_knn_clustered_directory_string_ids(spark, knn_arms):
    """A clustered directory against brute force: three tight clusters
    of duplicated positions (exact distance ties, broken by string rid
    order, "r10" < "r9"), queries in and between them, and one far
    outlier whose neighbours are only found by the last, one-tile round
    (after ``max_rounds=2`` escalations, far short of its distance)."""
    import random

    from geotables_jl_spark.operators.geojoin import knn_pairs

    rng = random.Random(5)
    right = []
    for cx, cy in ((0.0, 0.0), (40.0, 0.0), (0.0, 40.0)):
        for _ in range(12):
            # positions on a quarter-unit lattice, each stored twice
            x, y = cx + rng.randint(-8, 8) / 4, cy + rng.randint(-8, 8) / 4
            right += [(x, y), (x, y)]
    right = [(f"r{i}", x, y) for i, (x, y) in enumerate(right)]
    left = [(f"q{i}", rng.uniform(-5, 45), rng.uniform(-5, 45)) for i in range(40)]
    left.append(("far", 1000.0, 1000.0))
    gl = _points(spark, left, "row_id string, x double, y double")
    gr = _points(spark, right, "row_id string, x double, y double")
    k = 5  # cuts through the tie pairs
    exp = set()
    for lid, lx, ly in left:
        cand = sorted((math.sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)), rid) for rid, rx, ry in right)
        exp |= {(lid, rid, d, rank) for rank, (d, rid) in enumerate(cand[:k], 1)}

    def run():
        return {tuple(r) for r in knn_pairs(gl.df, gr.df, k, max_rounds=2).collect()}

    for arm, got in knn_arms(run):
        assert got == exp, arm
        if arm == "tiles":
            # several tiles first; the outlier escalates to one tile
            assert knn_arms.rounds[0] > 1 and knn_arms.rounds[-1] is None, knn_arms.rounds
