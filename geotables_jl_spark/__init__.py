"""geotables_jl_spark — a PySpark-native geospatial table engine.

A from-scratch reimplementation of the *semantics* of JuliaEarth/GeoTables.jl
(reference: /root/reference, v1.28.14) on top of the Spark DataFrame API:

- every row is ``(attributes..., geometry)`` where ``geometry`` is a struct
  column (kind, coords, envelope) — mirrors ``src/api/tables.jl:41-55``.
- ``georef`` constructors (reference ``src/georef.jl``) build geotables from
  plain tables + coordinates/geometries/grids.
- ``geojoin``/``tablejoin`` are *aggregate-on-match* joins (reference
  ``src/geoops/geojoin.jl``, ``src/geoops/tablejoin.jl``) realized as a
  two-stage cell-indexed equi-join + vectorized exact refinement +
  ``groupBy`` aggregation — never a row-multiplying SQL join.
- split-apply-combine (``@groupby/@transform/@combine``,
  reference ``src/geoops/``) as thin DataFrame planners.

Spark-first: the logical plan is declared with DataFrame ops so Catalyst
handles pushdown/pruning/AQE; Python only runs inside Arrow-batched
pandas UDFs (geometry refinement kernels).
"""

from geotables_jl_spark.core.geotable import (
    GeoTable,
    georef,
    georef_grid,
    georef_grid_nd,
    grid_subset_nd,
)
from geotables_jl_spark.functions.crs import canonical_crs, parse_crs, reproject
from geotables_jl_spark.operators.geojoin import geojoin, knn_join
from geotables_jl_spark.operators.geojoin_s2 import s2_dwithin_join, s2_knn_join, s2_point_prep
from geotables_jl_spark.operators.asof import asof_join
from geotables_jl_spark.operators.bloom import (
    BloomFilter,
    bloom_anti_join,
    build_bloom,
    with_bloom_contains,
)
from geotables_jl_spark.operators.dedup import connected_components, dedup_clusters
from geotables_jl_spark.operators.quality import gopher_quality_filter
from geotables_jl_spark.operators.tablejoin import tablejoin
from geotables_jl_spark.plans.checkpoint import Checkpointer
from geotables_jl_spark.plans.pipeline import Pipeline, geotag_pipeline
from geotables_jl_spark.sources.geoparquet import read_geoparquet, write_geoparquet

__all__ = [
    "GeoTable",
    "georef",
    "georef_grid",
    "georef_grid_nd",
    "grid_subset_nd",
    "geojoin",
    "knn_join",
    "s2_point_prep",
    "s2_dwithin_join",
    "s2_knn_join",
    "tablejoin",
    "reproject",
    "parse_crs",
    "canonical_crs",
    "read_geoparquet",
    "write_geoparquet",
    "Checkpointer",
    "Pipeline",
    "geotag_pipeline",
    "BloomFilter",
    "build_bloom",
    "with_bloom_contains",
    "bloom_anti_join",
]

__version__ = "0.1.0"
