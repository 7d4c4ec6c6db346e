"""Multi-stage resumable pipelines over snapshot checkpoints.

The north star requires *all stages* of the web-page geotagging pipeline
to be "resumable from Iceberg snapshot checkpoints with per-partition
lineage and row-count metrics logged". :mod:`plans.checkpoint` provides
the single-stage snapshot primitive; this module chains stages with
**fingerprint lineage** — each stage's fingerprint is a content hash of
its name, parameters, and the fingerprints of the stages it consumes —
so a resumed run:

- reuses every committed snapshot whose whole upstream chain is
  unchanged (pure catalog reads, no recompute);
- recomputes exactly the suffix downstream of any changed parameter or
  input (the fingerprint change propagates through the dep edges);
- recovers from a crash mid-stage for free (a torn/missing manifest is
  an uncommitted snapshot → that stage and its downstream recompute).

``geotag_pipeline`` is the canned north-star flow: web pages → geotag
extraction (``georef``) → exact dedup → text stats → 10°-tile rollup.
Every stage is a declarative DataFrame plan; the checkpoint writes are
the only materialization barriers, which is what makes them resumable
units on a 1000-executor run over 10^12 pages (each stage restart costs
one stage, not the pipeline).
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geotables_jl_spark.plans.checkpoint import Checkpointer


class Pipeline:
    """Fingerprint-chained stages over a :class:`Checkpointer`.

    ``stage(name, build, deps=..., params=...)`` runs (or resumes)
    ``build()`` under a fingerprint derived from ``params`` and the
    fingerprints of ``deps`` — the Iceberg-style lineage contract:
    identical chain → snapshot read, changed chain → recompute suffix.
    """

    def __init__(self, cp: Checkpointer):
        self.cp = cp
        self.fingerprints: dict[str, str] = {}

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        deps: Iterable[str] = (),
        params: dict | None = None,
    ) -> DataFrame:
        dep_fps = []
        for d in deps:
            if d not in self.fingerprints:
                raise ValueError(f"stage {name!r}: unknown dep {d!r} (not run yet)")
            dep_fps.append(self.fingerprints[d])
        spec = {"stage": name, "params": params or {}, "deps": dep_fps}
        fp = hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()
        self.fingerprints[name] = fp
        return self.cp.stage(name, fp, build)


def geotag_pipeline(
    spark: SparkSession,
    root: str,
    sf_dir: str,
    run_id: str = "geotag",
    min_quality: float | None = None,
) -> dict[str, DataFrame]:
    """North-star pipeline: pages → georef → dedup → stats → tile rollup.

    Returns the stage outputs keyed by stage name. Re-invoking with the
    same arguments resumes every stage from its committed snapshot;
    changing ``min_quality`` (a stage-3 parameter) recomputes only
    stages 3 and 4.
    """
    from geotables_jl_spark.core.geotable import (
        GEOM,
        ROW_ID,
        GeoTable,
        georef,
        georef_grid,
        grid_envelope_stats,
    )
    from geotables_jl_spark.functions import textstats as T
    from geotables_jl_spark.operators.dedup import dedup_exact
    from geotables_jl_spark.operators.geojoin import geojoin
    from geotables_jl_spark.sources.webpages import extract_geotags, webpages_from_documents

    pipe = Pipeline(Checkpointer(spark, root, run_id=run_id))
    out: dict[str, DataFrame] = {}

    # 1. source scan + geotag extraction (pure JVM regexp; html dropped —
    #    the byte-identity invariant is on `text`, carried through)
    def _extract() -> DataFrame:
        pages = extract_geotags(webpages_from_documents(spark, sf_dir))
        return pages.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull()).select(
            "row_id", "url", "warc_ts", "text", "lang", "lat", "lon"
        )

    out["extract"] = pipe.stage("extract", _extract, params={"sf_dir": sf_dir, "v": 1})

    # 2. exact dedup (min-row_id keeper per distinct text)
    def _dedup() -> DataFrame:
        return dedup_exact(out["extract"], "row_id", "text")

    out["dedup"] = pipe.stage("dedup", _dedup, deps=["extract"], params={"v": 1})

    # 3. text stats (+ optional quality floor) — ONE Arrow UDF for the
    # integer components (text_core_arrow), quality and language id
    # rebuilt from them in codegen (text_stat_cols)
    def _stats() -> DataFrame:
        core = T.text_core_arrow(
            out["dedup"].select("row_id", "url", "lat", "lon", "text"),
            keep=("row_id", "url", "lat", "lon"),
        )
        st = T.text_stat_cols()
        df = core.select(
            "row_id",
            "url",
            "lat",
            "lon",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            st["quality"].alias("quality"),
            st["lang"].alias("lang_guess"),
        )
        if min_quality is not None:
            df = df.filter(F.col("quality") >= F.lit(min_quality))
        return df

    out["stats"] = pipe.stage(
        "stats", _stats, deps=["dedup"], params={"min_quality": min_quality, "v": 2}
    )

    # 4. 10°-tile rollup: georef the stats rows, inner tile geojoin,
    #    per-tile page count + token sum (broadcast tile side). The join
    #    is planned from metadata, not an envelope pass per side: the
    #    tiles' stats follow from the grid, and the pages side is a bare
    #    scan of the stats snapshot, planned from its parquet footers
    #    (row count + lat/lon bounds).
    def _tiles() -> DataFrame:
        pages = georef(out["stats"], coords=["lat", "lon"])
        grid = georef_grid(spark, 36, 18, ox=-180.0, oy=-90.0, sx=10.0, sy=10.0, crs="LatLon")
        tiles = GeoTable(
            df=grid.df.select(ROW_ID, F.col(ROW_ID).alias("tile_id"), GEOM),
            crs=grid.crs,
            grid=grid.grid,
        )
        pages = GeoTable(
            df=pages.df.withColumn("page_id", F.col(ROW_ID)).select(
                ROW_ID, "page_id", "n_tokens", GEOM
            ),
            crs=pages.crs,
        )
        res = geojoin(
            tiles,
            pages,
            aggs={"page_id": "count", "n_tokens": "sum"},
            kind="inner",
            stats1=grid_envelope_stats(grid.grid),
        )
        return res.df.select(
            "tile_id",
            F.col("page_id").cast("long").alias("n_pages"),
            F.col("n_tokens").cast("long").alias("sum_tokens"),
        )

    out["tiles"] = pipe.stage("tiles", _tiles, deps=["stats"], params={"v": 1})
    return out

