"""Flat-grid spatial cell index, entirely as JVM column expressions.

This replaces the reference's brute-force O(n1*n2) match loop
(``src/geoops/geojoin.jl:120-124,242-248``) with an H3/S2-style two-stage
plan: every geometry is covered by the grid cells its envelope touches at
a chosen resolution; candidate pairs come from an equi-join on cell id
(hash shuffle — or broadcast when one side is small), and only candidates
reach the exact Arrow kernels.

Cells are square, axis-aligned, side ``cell_size``; id packs the integer
cell coordinates into one long bitwise:

    cell = (floor(x/s) & 0xFFFFFFFF) << 32 | (floor(y/s) & 0xFFFFFFFF)

Bit packing never overflows (ANSI mode throws on multiplicative packing
when degenerate extents produce astronomical cell indices). Aliasing of
cells 2^32 apart can only create FALSE candidates — removed by the bbox
prefilter / exact refinement downstream — never lose true matches.

Everything here is ``F.sequence``/``F.transform``/``F.flatten`` — stays
inside whole-stage codegen; no Python, no UDF. At 100 TB the cover
explode is the scale knob: cells-per-geometry is bounded by
``max_cells_per_geom`` (the caller coarsens the resolution using the
envelope stats from ``envelope_stats``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_MASK32 = (1 << 32) - 1


def pack_cell(cx: Column, cy: Column) -> Column:
    return F.shiftleft(cx.cast("long").bitwiseAND(F.lit(_MASK32)), 32).bitwiseOR(
        cy.cast("long").bitwiseAND(F.lit(_MASK32))
    )


def cell_index(coord: Column, cell_size: float) -> Column:
    return F.floor(coord / F.lit(float(cell_size)))


def cell_cover(geom: Column, cell_size: float) -> Column:
    """array<long> of all cells touched by the geometry's envelope.

    For points this is exactly one cell; for polygons it is the envelope
    cover (a superset of the exact cover — false positives are removed by
    the refinement stage, mirroring the filter/refine split of every
    published spatial-join design).
    """
    cx0 = cell_index(geom["xmin"], cell_size)
    cx1 = cell_index(geom["xmax"], cell_size)
    cy0 = cell_index(geom["ymin"], cell_size)
    cy1 = cell_index(geom["ymax"], cell_size)
    return F.flatten(
        F.transform(
            F.sequence(cx0, cx1),
            lambda cx: F.transform(F.sequence(cy0, cy1), lambda cy: pack_cell(cx, cy)),
        )
    )


def point_cell(geom: Column, cell_size: float) -> Column:
    """Single cell id of a point geometry (no array, no explode)."""
    return pack_cell(cell_index(geom["x"], cell_size), cell_index(geom["y"], cell_size))


def is_envelope_exact(g: Column) -> Column:
    """True when the geometry IS its envelope: points, and axis-aligned
    box polygons in the canonical ring order ``st_box`` emits. For such
    geometries every spatial predicate reduces to envelope arithmetic —
    the fully-JVM fast path of the join (grids/tiles/points: the entire
    web-tiling workload)."""
    ring = F.element_at(g["rings"], 1)
    is_box = (
        (g["kind"] == 3)
        & (F.size(g["rings"]) == 1)
        & (F.size(ring) == 8)
        & (F.element_at(ring, 1) == g["xmin"])
        & (F.element_at(ring, 2) == g["ymin"])
        & (F.element_at(ring, 3) == g["xmax"])
        & (F.element_at(ring, 4) == g["ymin"])
        & (F.element_at(ring, 5) == g["xmax"])
        & (F.element_at(ring, 6) == g["ymax"])
        & (F.element_at(ring, 7) == g["xmin"])
        & (F.element_at(ring, 8) == g["ymax"])
    )
    return (g["kind"] == 1) | F.coalesce(is_box, F.lit(False))


def envelope_stats(df: DataFrame, geom_col: str = "geometry") -> dict:
    """One cheap aggregate pass over envelopes: count + extent + mean
    size + whether every geometry is envelope-exact (point/box).

    Drives the resolution choice, broadcast-vs-shuffle, and the
    refine-stage pruning. Column pruning keeps the scan narrow.
    """
    g = F.col(geom_col)
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(g["xmin"]).alias("xmin"),
        F.min(g["ymin"]).alias("ymin"),
        F.max(g["xmax"]).alias("xmax"),
        F.max(g["ymax"]).alias("ymax"),
        F.avg(g["xmax"] - g["xmin"]).alias("avg_w"),
        F.avg(g["ymax"] - g["ymin"]).alias("avg_h"),
        F.min(is_envelope_exact(g).cast("int")).alias("all_exact"),
    ).collect()[0]
    return dict(row.asDict())


def choose_cell_size(stats1: dict, stats2: dict, max_cells_per_geom: int = 64) -> float:
    """Pick the join resolution from envelope statistics.

    Heuristic: cells should be at least the mean geometry extent (so a
    typical geometry covers ~1-4 cells) but fine enough to partition the
    data extent into many cells (so the shuffle has enough distinct keys).
    """
    # an empty side has NULL extremes; any positive size works (no pairs)
    def _f(v):
        return 0.0 if v is None else float(v)

    stats1 = {k: (_f(v) if k != "n" else v) for k, v in stats1.items()}
    stats2 = {k: (_f(v) if k != "n" else v) for k, v in stats2.items()}
    ext_w = max(stats1["xmax"], stats2["xmax"]) - min(stats1["xmin"], stats2["xmin"])
    ext_h = max(stats1["ymax"], stats2["ymax"]) - min(stats1["ymin"], stats2["ymin"])
    extent = max(ext_w, ext_h, 1e-9)
    mean_geom = max(
        stats1["avg_w"] or 0.0,
        stats1["avg_h"] or 0.0,
        stats2["avg_w"] or 0.0,
        stats2["avg_h"] or 0.0,
    )
    n = max(stats1["n"], stats2["n"], 1)
    # target ~1 geometry per cell on the dense side, bounded below by the
    # mean geometry size (keeps cells-per-geom ~<= 4) and above by extent/4
    import math

    density_size = extent / max(4.0, math.sqrt(float(n)))
    size = max(mean_geom, density_size)
    size = min(size, extent / 2.0)
    # cap cover explosion for the largest geometries the caller saw
    min_size = mean_geom / max(1.0, math.sqrt(float(max_cells_per_geom)))
    return float(max(size, min_size, 1e-9))
