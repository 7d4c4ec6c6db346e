"""Arrow kernels do not depend on Arrow batching: the text-core,
repetition, S2-cell, WKB round-trip, vendored-CRS vertex and Bloom
probe kernels, and the kNN kernel arm on both metrics, give identical
rows with ``arrow.maxRecordsPerBatch`` at 1, 7 and the session
default."""

from __future__ import annotations

import numpy as np
import pandas as pd

from geotables_jl_spark.core.geotable import GEOM, georef
from geotables_jl_spark.functions import textstats as TS
from geotables_jl_spark.functions.crs import transform_geometry_vertexwise
from geotables_jl_spark.geom import s2
from geotables_jl_spark.geom.model import st_polygon_lit
from geotables_jl_spark.operators.bloom import build_bloom, with_bloom_contains
from geotables_jl_spark.operators.geojoin import knn_join
from geotables_jl_spark.sources.geoparquet import geometry_to_wkb, wkb_to_geometry

from tests.test_repetition import ADVERSARIAL as REP_TEXTS
from tests.test_textcore import ADVERSARIAL as CORE_TEXTS

BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _per_batch_size(spark, build):
    """Sorted collected rows of ``build()`` at each batch size."""
    default = spark.conf.get(BATCH)
    out = []
    try:
        for size in ("1", "7", default):
            spark.conf.set(BATCH, size)
            out.append(sorted(build().collect(), key=repr))
    finally:
        spark.conf.set(BATCH, default)
    return out


def _assert_invariant(spark, build):
    one, seven, default = _per_batch_size(spark, build)
    assert len(default) > 7
    assert one == default and seven == default


def _docs(spark):
    texts = CORE_TEXTS + REP_TEXTS
    return spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string").repartition(3)


def test_text_kernels_batch_invariant(spark):
    _assert_invariant(spark, lambda: TS.text_core_arrow(_docs(spark)))
    _assert_invariant(spark, lambda: TS.repetition_stats_arrow(_docs(spark)))


def test_s2_cell_batch_invariant(spark):
    rng = np.random.default_rng(5)
    x, y, z = (rng.uniform(-1, 1, 40) for _ in range(3))
    pdf = pd.DataFrame({"rid": np.arange(40), "x": x, "y": y, "z": z})
    pdf.loc[3, "x"] = None  # a NULL cell among valid ones
    df = spark.createDataFrame(pdf).repartition(3)
    _assert_invariant(spark, lambda: s2.with_s2_cell_arrow(df, 12))


def _points_and_polygon(spark, coords):
    rows = [(i, lat, lon) for i, (lat, lon) in enumerate(coords)]
    pts = georef(spark.createDataFrame(rows, "row_id long, lat double, lon double"), coords=["lat", "lon"])
    poly = spark.range(100, 101).withColumnRenamed("id", "row_id").withColumn(
        GEOM, st_polygon_lit([(-5.0, 50.0), (1.0, 50.0), (1.0, 55.0), (-5.0, 55.0)],
                             holes=[[(-3.0, 52.0), (-1.0, 52.0), (-1.0, 53.0), (-3.0, 53.0)]]),
    )
    return pts.df.select("row_id", GEOM).union(poly).repartition(3)


def test_wkb_roundtrip_batch_invariant(spark):
    g = _points_and_polygon(spark, [(float(i), -float(i) / 3) for i in range(20)])
    _assert_invariant(spark, lambda: wkb_to_geometry(geometry_to_wkb(g)))


def test_vendored_crs_vertex_kernel_batch_invariant(spark):
    g = _points_and_polygon(spark, [(50.0 + i * 0.45, -6.0 + i * 0.7) for i in range(12)])

    def forward():
        from geotables_jl_spark.functions.crs_vendored import Osgb36Transformer

        return Osgb36Transformer.forward

    _assert_invariant(spark, lambda: transform_geometry_vertexwise(g, forward))


def test_bloom_probe_batch_invariant(spark, tmp_path):
    from pyspark.sql import functions as F

    corpus = spark.range(400).select(F.concat(F.lit("https://c.example/"), F.col("id")).alias("url"))
    arrivals = (
        corpus.limit(50)
        .union(spark.range(300).select(F.concat(F.lit("https://n.example/"), F.col("id")).alias("url")))
        .union(spark.createDataFrame([(None,)], "url string"))
        .repartition(3)
    )
    mem = build_bloom(corpus, "url", fpp=0.05)
    sharded = build_bloom(corpus, "url", fpp=0.05, n_shards=4, out_dir=str(tmp_path / "b4"))
    for bf in (mem, sharded):
        _assert_invariant(spark, lambda: with_bloom_contains(arrivals, bf, "url"))


def test_knn_kernel_arm_batch_invariant(spark, knn_arms):
    """A clustered directory with duplicated points (distance ties) and
    queries partly far from it: a batch of one row brute-forces its
    escalated row, a whole batch escalates them together, and the rows
    are the same either way."""
    rng = np.random.default_rng(8)
    rlat, rlon = rng.normal(40, 2, 300), rng.normal(10, 2, 300)
    rlat[:50], rlon[:50] = rlat[50:100], rlon[50:100]
    right = pd.DataFrame({"row_id": range(300), "lat": rlat, "lon": rlon})
    left = pd.DataFrame({
        "row_id": range(1000, 1060),
        "lat": np.r_[rng.normal(40, 2, 40), rng.uniform(-80, 80, 20)],
        "lon": np.r_[rng.normal(10, 2, 40), rng.uniform(-170, 170, 20)],
    })
    gl = georef(spark.createDataFrame(left).repartition(3), coords=["lat", "lon"])
    gr = georef(spark.createDataFrame(right), coords=["lat", "lon"])
    for metric in ("planar", "sphere"):
        for arm, (one, seven, default) in knn_arms(
            lambda: _per_batch_size(spark, lambda: knn_join(gl, gr, k=6, metric=metric))
        ):
            assert arm == "kernel"
            assert len(default) == 60 * 6, metric
            assert one == default and seven == default, metric
            break  # the tile arm runs no kNN kernel
