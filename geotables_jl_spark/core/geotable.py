"""GeoTable: DataFrame + geometry column + CRS, and the georef constructors.

Reference semantics (GeoTables.jl):
- a geotable is a domain zipped positionally with an attribute table
  (``src/geotable.jl:34-37``); here the zip is a stable ``row_id`` column
  assigned once at construction (replaces Julia's positional indices —
  Spark rows have no order).
- ``georef`` has 5 construction forms (``src/georef.jl``); all are
  reproduced below. The CRS name heuristic (lat/lon variants, order fixed
  to lat,lon) mirrors ``src/georef.jl:137-157``.
- geometry-only tables (``values === nothing``, ``src/geotable.jl:48``)
  are just DataFrames whose only attribute is ``geometry``.
- ``CartesianGrid`` rasters are a *lazy grid relation*: ``spark.range``
  plus generator expressions for cell polygons — cells are materialized
  on demand exactly like the reference's implicit grid domain
  (``src/georef.jl:120-129``). O(1) state, any size.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from geotables_jl_spark.geom.model import GEOMETRY_TYPE, st_box, st_point

ROW_ID = "row_id"
GEOM = "geometry"

_LAT_NAMES = {"lat", "latitude"}
_LON_NAMES = {"lon", "long", "longitude"}


def _variants_match(name: str, base: set[str]) -> bool:
    # reference variants(): lowercase, UPPERCASE, Uppercasefirst (src/georef.jl:188)
    return name.lower() in base


@dataclass
class GridMeta:
    """Raster metadata: the domain is an implicit nx × ny grid.

    cell id (0-based) = j * nx + i, column-major like the reference's
    LinearIndices (``test/operations.jl:10``) — i varies fastest.
    """

    nx: int
    ny: int
    ox: float = 0.0
    oy: float = 0.0
    sx: float = 1.0
    sy: float = 1.0


@dataclass
class GridMetaND:
    """N-dimensional raster metadata (reference ``georef`` accepts
    arbitrary N-d arrays flattened column-major, ``src/georef.jl:120-129``;
    rank-3 volumes ``src/abstractgeotable.jl:33``).

    cell id (0-based) = Σ_k i_k · Π_{m<k} dims[m] — Julia LinearIndices
    order, axis 0 fastest. The 2-D :class:`GridMeta` stays the raster
    type for the xy-grid operators (view/box windows); this one backs
    :func:`georef_grid_nd` / :func:`grid_subset_nd`.
    """

    dims: tuple[int, ...]
    origin: tuple[float, ...]
    spacing: tuple[float, ...]


@dataclass
class GeoTable:
    """A Spark DataFrame where every row is (attributes..., geometry).

    ``df`` always carries ``row_id:long`` (stable identity) and
    ``geometry`` (struct, see geom/model.py). ``crs`` is a table-level
    property (reference: ``crs(geotable)``, ``src/abstractgeotable.jl:115``).
    """

    df: DataFrame
    crs: str = "Cartesian"
    lenunit: str | None = None
    grid: GridMeta | GridMetaND | None = None
    units: dict[str, str] = field(default_factory=dict)
    # rank-0 (vertex) attribute table, keyed (row_id, vertex_id) —
    # reference multi-rank values Dict{Int,table} (src/geotable.jl:34-37,
    # src/abstractgeotable.jl:20-36; constructor keyword `vtable`,
    # src/geotable.jl:39-51). The element-rank table is `df` itself.
    vtable: DataFrame | None = None
    # categorical level metadata per column (reference: columns are
    # CategoricalArrays with explicit levels, revised by the Levels
    # transform — Spark has no categorical dtype, so level sets/order
    # are table metadata that rides through _with)
    levels: dict[str, list] = field(default_factory=dict)
    # static geometry-kind hint: "point" when CONSTRUCTION guarantees
    # every row is a point (georef from coords), "box" for grid cells,
    # None = unknown/mixed. Consumed by centroid-based partition/sort ops
    # (operators/indices._centroid_xy): the general centroid expression
    # carries higher-order array folds that knock the whole projection
    # stage out of whole-stage codegen — a 3× slowdown on point
    # workloads, the dominant web-scale shape. A WRONG hint is a
    # correctness bug, so every geometry-REPLACING op must clear or
    # re-derive it; _with (geometry untouched) propagates it.
    kind_hint: str | None = None

    # -- shape / names (reference src/api/dataframes.jl:5-42) --------------
    @property
    def names(self) -> list[str]:
        attrs = [c for c in self.df.columns if c not in (ROW_ID, GEOM)]
        return attrs + [GEOM]

    # -- multi-rank values (reference src/abstractgeotable.jl:20-36) -------
    def values(self, rank: int | None = None) -> DataFrame | None:
        """Attribute table for a parametric rank. ``None``/element rank →
        the element attributes; ``0`` → the vertex table, consistently
        subset to the CURRENT row set (views/filters propagate to all
        ranks like the reference's SubGeoTable — implemented as a lazy
        left-semi join on ``row_id``, broadcast-sized when the element
        side is small)."""
        if rank == 0:
            if self.vtable is None:
                return None
            return self.vtable.join(self.df.select(ROW_ID), on=ROW_ID, how="left_semi")
        # None or the element rank (2-D engine: polygons rank 2 / points
        # rank 0 element sets) → the element attribute table
        return self.df.drop(GEOM)

    def with_vtable(self, vtable: DataFrame) -> "GeoTable":
        """Attach a rank-0 (vertex) attribute table keyed by
        (row_id, vertex_id) — reference ``GeoTable(domain; vtable=...)``."""
        if ROW_ID not in vtable.columns or "vertex_id" not in vtable.columns:
            raise ValueError("vtable must carry (row_id, vertex_id) keys")
        return GeoTable(df=self.df, crs=self.crs, lenunit=self.lenunit,
                        grid=self.grid, units=dict(self.units), vtable=vtable,
                        levels=dict(self.levels), kind_hint=self.kind_hint)

    def nrow(self) -> int:
        return self.df.count()

    def ncol(self) -> int:
        return len(self.names)

    # -- selection (reference src/api/dataframes.jl:44-128) ----------------
    def select_vars(self, vars) -> "GeoTable":
        cols = self._resolve_vars(vars)
        keep = [ROW_ID] + cols + [GEOM]
        return self._with(self.df.select(*[c for c in keep if c in self.df.columns]))

    def _resolve_vars(self, vars) -> list[str]:
        attrs = [c for c in self.df.columns if c not in (ROW_ID, GEOM)]
        if vars is None:
            return attrs
        if isinstance(vars, (str, int, re.Pattern)):
            vars = [vars]
        out: list[str] = []
        for v in vars:
            if isinstance(v, int):
                out.append(attrs[v])
            elif isinstance(v, re.Pattern):
                out.extend([c for c in attrs if v.search(c)])
            elif isinstance(v, str) and v.startswith("r/"):
                pat = re.compile(v[2:])
                out.extend([c for c in attrs if pat.search(c)])
            else:
                if v not in attrs and v != GEOM:
                    raise KeyError(f"no column {v!r}")
                out.append(v)
        return out

    def rows(self, predicate: Column) -> "GeoTable":
        """Row selection — lazy view (reference SubGeoTable,
        ``src/subgeotable.jl:10-20``; Spark filters are free views)."""
        return self._with(self.df.filter(predicate))

    def rows_by_id(self, ids: list[int]) -> "GeoTable":
        return self._with(self.df.filter(F.col(ROW_ID).isin([int(i) for i in ids])))

    def spatial_select(self, query_geom_col: Column, pred: str = "intersects") -> "GeoTable":
        """gtb[geometry, :] — rows whose element matches a query geometry
        (reference ``src/api/geotables.jl:5-6``). Cheap bbox prefilter is a
        pure column expr; exact refinement via the join kernel."""
        from geotables_jl_spark.operators.geojoin import spatial_filter

        return self._with(spatial_filter(self.df, query_geom_col, pred=pred))

    def scatter_onto(self, parent: "GeoTable") -> "GeoTable":
        """parent(view): scatter this (sub)table's rows back onto the parent
        domain, filling missing (reference ``src/abstractgeotable.jl:78-104``).
        Left join of the parent row_id spine with our attribute rows."""
        attrs = [c for c in self.df.columns if c not in (ROW_ID, GEOM)]
        spine = parent.df.select(ROW_ID, GEOM)
        out = spine.join(self.df.select(ROW_ID, *attrs), on=ROW_ID, how="left")
        return parent._with(out.select(ROW_ID, *attrs, GEOM))

    # -- misc ----------------------------------------------------------------
    def _with(self, df: DataFrame) -> "GeoTable":
        # vtable rides along; values(0) re-subsets it to the new row set
        return GeoTable(df=df, crs=self.crs, lenunit=self.lenunit, grid=self.grid,
                        units=dict(self.units), vtable=self.vtable,
                        levels=dict(self.levels), kind_hint=self.kind_hint)

    def with_grid(self, grid: GridMeta | None) -> "GeoTable":
        return GeoTable(df=self.df, crs=self.crs, lenunit=self.lenunit, grid=grid,
                        units=dict(self.units), vtable=self.vtable,
                        levels=dict(self.levels), kind_hint=self.kind_hint)


def _add_row_id(df: DataFrame, order_by: str | None = None) -> DataFrame:
    """Stable 0-based row_id. With ``order_by`` the id follows that column
    (deterministic); otherwise falls back to the input partition order.

    At 100 TB prefer a natural key: zipWithIndex-style global numbering is
    a full pass; every source in sources/ provides a natural ``row_id``.
    """
    if ROW_ID in df.columns:
        return df
    if order_by is not None:
        # distributed range-bucket rank (operators/ranking.py), never an
        # unpartitioned Window (one-task collapse at scale)
        from geotables_jl_spark.operators.ranking import global_rank

        out = global_rank(df, F.col(order_by), out=ROW_ID, mode="row_number")
        return out.withColumn(ROW_ID, (F.col(ROW_ID) - 1).cast("long"))
    return df.withColumn(ROW_ID, F.monotonically_increasing_id())


def georef(
    df: DataFrame,
    coords: list[str] | tuple[str, str] | None = None,
    geoms: Column | None = None,
    crs: str | None = None,
    lenunit: str | None = None,
    row_id_order: str | None = None,
) -> GeoTable:
    """Construct a GeoTable (reference ``src/georef.jl``).

    Forms:
    - ``georef(df, ["lat","lon"])``: lift coordinate columns into a point
      geometry and drop them from the attributes (``src/georef.jl:81-105``);
      CRS guessed from names — lat/lon variants (case-insensitive) map to
      LatLon with order fixed (lat, lon) (``src/georef.jl:137-157``),
      anything else is Cartesian in the given column order.
    - ``georef(df, geoms=<geometry column expr>)``: attach an explicit
      geometry expression (``src/georef.jl:17,31``).
    - ``georef(df)`` where df already has a ``geometry`` column: fallback
      constructor (``src/abstractgeotable.jl:42-54``) — identity.
    """
    if geoms is not None:
        out = df.withColumn(GEOM, geoms)
        return GeoTable(df=_add_row_id(out, row_id_order), crs=_canon_crs(crs or "Cartesian"), lenunit=lenunit)

    if coords is not None:
        names = list(coords)
        missing = [c for c in names if c not in df.columns]
        if missing:
            # reference throws ArgumentError on unknown coord columns
            # (test/georef.jl:63)
            raise ValueError(f"georef: coordinate columns not found: {missing}")
        lat = next((c for c in names if _variants_match(c, _LAT_NAMES)), None)
        lon = next((c for c in names if _variants_match(c, _LON_NAMES)), None)
        canon = _canon_crs(crs) if crs is not None else None
        if (crs is None or canon == "LatLon") and len(names) == 2 and lat is not None and lon is not None:
            # x=lon, y=lat regardless of column order; CRS order is
            # (lat, lon).  Applies both when the CRS is guessed from the
            # names AND when the caller passes crs='EPSG:4326'/'LatLon'
            # explicitly — otherwise the same data georef'd with vs
            # without the explicit crs would store mirrored geometry
            # that the CRS registry (x=lon convention) then reprojects
            # silently wrong.
            guessed = "LatLon"
            x_col, y_col = lon, lat
        elif canon == "LatLon":
            # Explicit LatLon but the column names can't be
            # disambiguated (e.g. ['a','b']): refusing beats guessing —
            # a swapped axis order survives every later operation
            # undetected until the map is mirrored.
            raise ValueError(
                "georef: crs=LatLon requires exactly two coordinate columns "
                f"recognizable as lat/lon (got {names}); rename the columns "
                "or drop the explicit crs"
            )
        else:
            guessed = canon or "Cartesian"
            x_col, y_col = names[0], names[1]
        out = df.withColumn(GEOM, st_point(F.col(x_col), F.col(y_col))).drop(*names)
        if guessed == "LatLon" and lenunit is not None:
            # reference: "the length unit of a LatLon CRS cannot be
            # changed" (test/georef.jl:157-158) — degrees aren't lengths
            raise ValueError("georef: lenunit cannot be set for a LatLon CRS")
        return GeoTable(df=_add_row_id(out, row_id_order), crs=guessed, lenunit=lenunit, kind_hint="point")

    if GEOM not in df.columns:
        raise ValueError("georef: need coords=, geoms=, or an existing geometry column")
    return GeoTable(df=_add_row_id(df, row_id_order), crs=_canon_crs(crs or "Cartesian"), lenunit=lenunit)


def _canon_crs(spec: str) -> str:
    """Canonicalize an authority-code CRS spec ('EPSG:4326' → 'LatLon',
    'EPSG:32630' → 'UTM:30N') so CRS equality checks (geojoin auto-
    reproject) compare by meaning, not spelling. Unknown specs pass
    through as opaque local systems that only equal themselves —
    mirroring the reference accepting arbitrary CoordRefSystems types
    (``src/georef.jl:185-188``)."""
    from geotables_jl_spark.functions.crs import canonical_crs

    try:
        return canonical_crs(spec)
    except ValueError:
        return spec


def georef_grid(
    spark: SparkSession,
    nx: int,
    ny: int,
    ox: float = 0.0,
    oy: float = 0.0,
    sx: float = 1.0,
    sy: float = 1.0,
    values: DataFrame | None = None,
    value_cols: list[str] | None = None,
    crs: str = "Cartesian",
) -> GeoTable:
    """Lazy CartesianGrid relation (reference ``src/georef.jl:120-129``).

    ``spark.range(nx*ny)`` + generator expressions: cell (i,j) 0-based,
    id = j*nx + i (column-major / i-fastest, matching Julia's
    LinearIndices), polygon generated on demand via ``st_box``. Scales to
    arbitrarily large rasters: the grid itself is O(1) driver state and
    range splits are computed, not stored.

    ``values``: optional attribute table with a ``cell_id`` column to zip
    onto the grid (column-major flattened arrays, like georef(namedtuple)).
    """
    df = spark.range(nx * ny).withColumnRenamed("id", ROW_ID)
    i = (F.col(ROW_ID) % nx).alias("i")
    j = (F.col(ROW_ID) / nx).cast("long").alias("j")
    df = df.withColumn("i", i).withColumn("j", j)
    x0 = F.lit(ox) + F.col("i") * F.lit(sx)
    y0 = F.lit(oy) + F.col("j") * F.lit(sy)
    df = df.withColumn(GEOM, st_box(x0, y0, x0 + F.lit(sx), y0 + F.lit(sy)))
    if values is not None:
        vcols = value_cols or [c for c in values.columns if c != "cell_id"]
        df = df.join(values.select(F.col("cell_id").alias(ROW_ID), *vcols), on=ROW_ID, how="left")
    order = [ROW_ID] + [c for c in df.columns if c not in (ROW_ID, GEOM)] + [GEOM]
    return GeoTable(
        df=df.select(*order),
        crs=_canon_crs(crs),
        kind_hint="box",
        grid=GridMeta(nx=nx, ny=ny, ox=ox, oy=oy, sx=sx, sy=sy),
    )


def grid_envelope_stats(g: GridMeta) -> dict:
    """``envelope_stats`` of the ``georef_grid`` relation with metadata
    ``g``, computed from the metadata alone (no Spark job).

    Replays ``st_box``'s arithmetic: cell i spans ``[ox + i·sx, (ox +
    i·sx) + sx]``, monotone in i, so the extent is set by the end cells.
    Every cell is an envelope-exact box of width ``sx`` and height
    ``sy`` (bit-equal to the data pass when the lattice is exact in
    binary floating point, e.g. whole-degree tiles). Only valid for the
    grid relation itself: rows filtered or reprojected after
    ``georef_grid`` keep ``grid`` metadata that no longer describes them.
    """
    n = g.nx * g.ny
    if n == 0:
        keys = ("xmin", "ymin", "xmax", "ymax", "avg_w", "avg_h", "all_exact")
        return {"n": 0, **dict.fromkeys(keys)}

    def _span(o: float, s: float, k: int) -> tuple[float, float]:
        lo = [float(o) + float(i) * float(s) for i in (0, k - 1)]
        return min(lo), max(v + float(s) for v in lo)

    xmin, xmax = _span(g.ox, g.sx, g.nx)
    ymin, ymax = _span(g.oy, g.sy, g.ny)
    return {
        "n": n, "xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax,
        "avg_w": float(g.sx), "avg_h": float(g.sy), "all_exact": 1,
    }


def grid_view_box(gtb: GeoTable, x0: float, y0: float, x1: float, y1: float) -> GeoTable:
    """``view(gridtable, Box)`` stays RASTER (reference
    ``test/views.jl:12-19``: viewing a 10×10 grid with Box((1,1),(5,5))
    yields the 6×6 sub-grid of every cell intersecting the box, origin
    snapped to the cell lattice). Cell i intersects [x0, x1] iff
    ox+i·sx ≤ x1 and ox+(i+1)·sx ≥ x0 (closed intersection — boundary
    touch counts, as in the reference result). Pure index arithmetic on
    the driver + the grid_subset predicate; the lazy grid relation never
    materializes cells outside the window."""
    if not isinstance(gtb.grid, GridMeta):
        raise ValueError("grid_view_box requires a 2-D grid-domained geotable")
    import math

    g = gtb.grid
    i0 = max(0, math.ceil((x0 - g.ox) / g.sx) - 1)
    i1 = min(g.nx - 1, math.floor((x1 - g.ox) / g.sx))
    j0 = max(0, math.ceil((y0 - g.oy) / g.sy) - 1)
    j1 = min(g.ny - 1, math.floor((y1 - g.oy) / g.sy))
    if i1 < i0 or j1 < j0:
        raise ValueError("box does not intersect the grid")
    return grid_subset(gtb, i0, i1, j0, j1)


def grid_subset(gtb: GeoTable, i0: int, i1: int, j0: int, j1: int) -> GeoTable:
    """Grid-preserving Cartesian indexing gtb[(i0:i1, j0:j1)] — result is
    still a raster (reference ``src/api/geotables.jl:19-62``). Pure
    predicate on the computed (i, j); Catalyst folds it into the range scan.
    """
    if not isinstance(gtb.grid, GridMeta):
        raise ValueError(
            "grid_subset requires a 2-D grid-domained geotable (use grid_subset_nd for N-d)"
        )
    g = gtb.grid
    df = gtb.df.filter(
        (F.col("i") >= i0) & (F.col("i") <= i1) & (F.col("j") >= j0) & (F.col("j") <= j1)
    )
    sub = GridMeta(
        nx=i1 - i0 + 1,
        ny=j1 - j0 + 1,
        ox=g.ox + i0 * g.sx,
        oy=g.oy + j0 * g.sy,
        sx=g.sx,
        sy=g.sy,
    )
    return GeoTable(df=df, crs=gtb.crs, lenunit=gtb.lenunit, grid=sub, units=dict(gtb.units), kind_hint=gtb.kind_hint)


def georef_grid_nd(
    spark: SparkSession,
    dims: tuple[int, ...],
    origin: tuple[float, ...] | None = None,
    spacing: tuple[float, ...] | None = None,
    values: DataFrame | None = None,
    value_cols: list[str] | None = None,
    crs: str = "Cartesian",
) -> GeoTable:
    """Lazy N-dimensional CartesianGrid relation (reference flattens
    arbitrary N-d arrays column-major, ``src/georef.jl:120-129``; rank-3
    volumes ``src/abstractgeotable.jl:33``).

    ``spark.range(∏dims)`` + generator expressions: cell id is the
    column-major linear index (axis 0 fastest — Julia LinearIndices),
    ``i{k} = (id ÷ ∏dims[:k]) mod dims[k]``; per-axis cell lower bounds
    land in ``x{k} = origin[k] + i{k}·spacing[k]``. The ``geometry``
    column is the axes-(0,1) FOOTPRINT box (the xy slice of the N-d
    cell) so every planar operator works unchanged; axes ≥2 are carried
    as the ``i{k}``/``x{k}`` columns — predicates over them are ordinary
    column filters that Catalyst folds into the range scan. O(1) driver
    state, any size.

    ``values``: optional attribute table with a ``cell_id`` column of
    column-major linear ids to zip onto the grid (the reference's
    ``georef(namedtuple, grid)`` array flattening).
    """
    nd = len(dims)
    if nd < 1 or any(d < 1 for d in dims):
        raise ValueError(f"dims must be a non-empty tuple of positive ints, got {dims!r}")
    origin = tuple(float(v) for v in origin) if origin is not None else (0.0,) * nd
    spacing = tuple(float(v) for v in spacing) if spacing is not None else (1.0,) * nd
    if len(origin) != nd or len(spacing) != nd:
        raise ValueError("origin/spacing must match len(dims)")
    total = 1
    for d in dims:
        total *= d
    df = spark.range(total).withColumnRenamed("id", ROW_ID)
    stride = 1
    for k, d in enumerate(dims):
        df = df.withColumn(
            f"i{k}", ((F.col(ROW_ID) / F.lit(stride)).cast("long") % F.lit(int(d)))
        )
        stride *= d
    for k in range(nd):
        df = df.withColumn(
            f"x{k}",
            F.lit(origin[k]) + F.col(f"i{k}").cast("double") * F.lit(spacing[k]),
        )
    if nd >= 2:
        df = df.withColumn(
            GEOM,
            st_box(
                F.col("x0"),
                F.col("x1"),
                F.col("x0") + F.lit(spacing[0]),
                F.col("x1") + F.lit(spacing[1]),
            ),
        )
    else:
        # 1-D grid: degenerate boxes on the x axis (segments)
        df = df.withColumn(
            GEOM, st_box(F.col("x0"), F.lit(0.0), F.col("x0") + F.lit(spacing[0]), F.lit(0.0))
        )
    if values is not None:
        vcols = value_cols or [c for c in values.columns if c != "cell_id"]
        df = df.join(values.select(F.col("cell_id").alias(ROW_ID), *vcols), on=ROW_ID, how="left")
    order = [ROW_ID] + [c for c in df.columns if c not in (ROW_ID, GEOM)] + [GEOM]
    return GeoTable(
        df=df.select(*order),
        crs=_canon_crs(crs),
        kind_hint="box",
        grid=GridMetaND(dims=tuple(dims), origin=origin, spacing=spacing),
    )


def grid_subset_nd(gtb: GeoTable, ranges) -> GeoTable:
    """Grid-preserving Cartesian indexing ``gtb[(r0, r1, ..., rN-1)]`` on
    an N-d grid — result is still a raster with shifted origin, matching
    the reference's Cartesian-range views on N-d grid domains
    (``src/api/geotables.jl:19-62``). ``ranges`` is one inclusive
    ``(lo, hi)`` 0-based pair per axis. Pure per-axis predicates on the
    computed ``i{k}``; Catalyst folds them into the range scan."""
    if not isinstance(gtb.grid, GridMetaND):
        raise ValueError("grid_subset_nd requires an N-d grid-domained geotable")
    g = gtb.grid
    ranges = [tuple(r) for r in ranges]
    if len(ranges) != len(g.dims):
        raise ValueError(f"expected {len(g.dims)} ranges, got {len(ranges)}")
    cond = F.lit(True)
    for k, ((lo, hi), d) in enumerate(zip(ranges, g.dims)):
        if not (0 <= lo <= hi < d):
            raise ValueError(f"axis {k}: range ({lo}, {hi}) out of bounds for dim {d}")
        cond = cond & (F.col(f"i{k}") >= lo) & (F.col(f"i{k}") <= hi)
    sub = GridMetaND(
        dims=tuple(hi - lo + 1 for lo, hi in ranges),
        origin=tuple(g.origin[k] + ranges[k][0] * g.spacing[k] for k in range(len(g.dims))),
        spacing=g.spacing,
    )
    return GeoTable(
        df=gtb.df.filter(cond),
        crs=gtb.crs,
        lenunit=gtb.lenunit,
        grid=sub,
        units=dict(gtb.units),
        kind_hint=gtb.kind_hint,
    )
