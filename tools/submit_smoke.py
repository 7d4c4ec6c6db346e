"""Deployment smoke: the engine driven exactly as README documents.

    cd /root/repo && zip -rq /tmp/geotables_jl_spark.zip geotables_jl_spark
    cd /tmp && spark-submit --master 'local[8]' \
        --py-files /tmp/geotables_jl_spark.zip tools/submit_smoke.py

Run from OUTSIDE the repo so the only import path is the shipped zip.
The job forces the Arrow winding-number kernel (mapInPandas imports the
package ON EXECUTORS from the zip — the real multi-executor failure
class) and cross-checks the join against plain-SQL half-plane math.
Prints SUBMIT_SMOKE_OK on success."""
from pyspark.sql import SparkSession, functions as F

spark = (SparkSession.builder.appName("gt-submit-smoke")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "false").getOrCreate())

from geotables_jl_spark import georef, geojoin
from geotables_jl_spark.core.geotable import georef_grid, GeoTable, ROW_ID, GEOM
from geotables_jl_spark.geom.model import st_polygon_lit

docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn("lon", ((F.col("doc_id")*104729) % 3600)/10.0 - 180.0 + 0.05)
        .withColumn("lat", ((F.col("doc_id")*7919) % 1700)/10.0 - 85.0 + 0.05)
        .withColumn("row_id", F.col("doc_id")))
pts = georef(docs.select("row_id", "doc_id", "lat", "lon"), coords=["lat", "lon"])

# non-box polygon right side => forces the Arrow winding-number kernel on executors
tri = st_polygon_lit([(-180.0, -85.0), (180.0, -85.0), (0.0, 85.0)])
regions = GeoTable(df=spark.range(1).select(
    F.lit(0).cast("long").alias(ROW_ID), F.lit("tri").alias("region"), tri.alias(GEOM)), crs="LatLon")
joined = geojoin(pts, regions, aggs={"region": "first"}, kind="left").df
n_in = joined.filter(F.col("region").isNotNull()).count()

# independent check: the triangle's half-plane math in plain SQL
lon, lat = F.col("lon"), F.col("lat")
e1 = (F.lit(360.0))*(lat+85.0) - (F.lit(0.0))*(lon+180.0)              # edge (-180,-85)->(180,-85)
e2 = (F.lit(-180.0))*(lat+85.0) - (F.lit(170.0))*(lon-180.0)           # edge (180,-85)->(0,85)
e3 = (F.lit(-180.0))*(lat-85.0) - (F.lit(-170.0))*(lon-0.0)            # edge (0,85)->(-180,-85)
want = docs.filter((e1 >= 0) & (e2 >= 0) & (e3 >= 0)).count()
assert n_in == want, (n_in, want)

# S2 spherical kNN => forces the numpy cell-id/cap-cover kernels
# (geom/s2.py) to import from the zip on executors as well
import numpy as np
from geotables_jl_spark.operators.geojoin_s2 import s2_knn_join, s2_point_prep

base = docs.select("row_id", "lat", "lon")
left = s2_point_prep(
    base.filter(F.col("row_id") % 37 == 0).select(F.col("row_id").alias("lid"), "lat", "lon"),
    "lid", latlon=("lat", "lon"))
right = s2_point_prep(
    base.select(F.col("row_id").alias("rid"), "lat", "lon"), "rid", latlon=("lat", "lon"))
knn = s2_knn_join(left, right, k=3).toPandas()
pdf = base.toPandas()
la, lo = np.radians(pdf["lat"].to_numpy()), np.radians(pdf["lon"].to_numpy())
xyz = np.stack([np.cos(la) * np.cos(lo), np.cos(la) * np.sin(lo), np.sin(la)], axis=1)
q = pdf[pdf.row_id % 37 == 0].iloc[0]
qv = xyz[pdf.index[pdf.row_id == q.row_id][0]]
chord2 = ((xyz - qv) ** 2).sum(axis=1)
brute = set(pdf.row_id.to_numpy()[np.argsort(chord2, kind="stable")[:3]])
mine = set(knn[knn.lid == q.row_id].rid)
assert mine == brute, (mine, brute)

print(f"SUBMIT_SMOKE_OK in_triangle={n_in}/{docs.count()} s2_knn_rows={len(knn)}")
spark.stop()
