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

import math
import re
from functools import reduce
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotables_jl_spark.geom.model import KIND_POINT, KIND_POLYGON

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


def _exact_sql(g: str) -> str:
    """SQL: 1 when the geometry IS its envelope — points, and axis-aligned
    box polygons in the canonical ring order ``st_box`` emits — 0 for
    other shapes, NULL for a NULL geometry. For such geometries every
    spatial predicate reduces to envelope arithmetic: the fully-JVM fast
    path of the join (grids/tiles/points: the entire web-tiling
    workload)."""
    ring = f"element_at({g}.rings, 1)"
    corners = ("xmin", "ymin", "xmax", "ymin", "xmax", "ymax", "xmin", "ymax")
    box = " AND ".join(
        [f"{g}.kind = {KIND_POLYGON}", f"size({g}.rings) = 1", f"size({ring}) = 8"]
        + [f"element_at({ring}, {i}) = {g}.{c}" for i, c in enumerate(corners, 1)]
    )
    return (
        f"CASE WHEN {g}.kind = {KIND_POINT} THEN 1 WHEN coalesce({box}, false) THEN 1 "
        f"WHEN {g}.kind IS NOT NULL THEN 0 END"
    )


def _finite_sql(v: str) -> str:
    # NULL for NULL, false for NaN (Spark orders NaN above +inf) and ±inf
    return f"abs({v}) < double('Infinity')"


_STAT_KEYS = ("n", "xmin", "ymin", "xmax", "ymax", "avg_w", "avg_h", "all_exact")


def envelope_stats(df: DataFrame, geom_col: str = "geometry") -> dict:
    """Count + extent + mean size + whether every geometry is
    envelope-exact (point/box), as a dict with keys ``n``, ``xmin``,
    ``ymin``, ``xmax``, ``ymax``, ``avg_w``, ``avg_h``, ``all_exact``.

    Drives the resolution choice, broadcast-vs-shuffle, and the
    refine-stage pruning. The extent covers each coordinate's finite
    values, and the mean sizes the rows whose envelope is finite (a
    point's size is 0 whatever its coordinates), so one NaN or ±Inf row
    cannot blow the cell size up to NaN or Inf. ``n`` counts every row;
    an empty side has NULL extent, sizes and ``all_exact``.

    A bare parquet scan of ``georef(coords=…)`` points is answered from
    the parquet footers without a Spark job (``footer_envelope_stats``);
    anything else takes one aggregate pass, column-pruned to the
    envelope (``envelope_pass``, which a join shares between its sides).
    """
    return footer_envelope_stats(df, geom_col) or envelope_pass([df], geom_col)[0]


def envelope_pass(dfs: list[DataFrame], geom_col: str = "geometry") -> list[dict]:
    """``envelope_stats`` of each frame from its data: one aggregate over
    their union, one collect (none for no frames). Expressions come from
    SQL text: building them as Column calls costs hundreds of Py4J round
    trips per pass."""
    if not dfs:
        return []
    g = f"`{geom_col}`"
    env = (f"{g}.xmin", f"{g}.ymin", f"{g}.xmax", f"{g}.ymax")
    finite = " AND ".join(_finite_sql(v) for v in env)
    sides = [
        df.selectExpr(
            f"{i} AS side",
            *(f"{v} AS {k}" for v, k in zip(env, _STAT_KEYS[1:5])),
            f"CASE WHEN {g}.kind = {KIND_POINT} THEN 0D WHEN {finite} THEN {g}.xmax - {g}.xmin END AS w",
            f"CASE WHEN {g}.kind = {KIND_POINT} THEN 0D WHEN {finite} THEN {g}.ymax - {g}.ymin END AS h",
            f"{_exact_sql(g)} AS e",
        )
        for i, df in enumerate(dfs)
    ]
    aggs = []
    for i in range(len(dfs)):
        side = f"side = {i}"
        aggs += [f"count(CASE WHEN {side} THEN 1 END) AS n{i}"]
        for k, f in zip(_STAT_KEYS[1:5], ("min", "min", "max", "max")):
            aggs.append(f"{f}(CASE WHEN {side} AND {_finite_sql(k)} THEN {k} END) AS {k}{i}")
        aggs += [
            f"avg(CASE WHEN {side} THEN w END) AS avg_w{i}",
            f"avg(CASE WHEN {side} THEN h END) AS avg_h{i}",
            f"min(CASE WHEN {side} THEN e END) AS all_exact{i}",
        ]
    row = reduce(DataFrame.union, sides).selectExpr(*aggs).collect()[0]
    return [{k: row[f"{k}{i}"] for k in _STAT_KEYS} for i in range(len(dfs))]


# --- footer planning ---------------------------------------------------------
#
# At 10^12 rows a join is planned from table metadata, never a data pass:
# Iceberg keeps ``record_count`` and ``lower_bounds``/``upper_bounds`` per
# data file. A bare parquet scan carries the same numbers in its footers
# (``num_rows`` and each column chunk's min/max), so ``envelope_stats``
# of ``georef(spark.read.parquet(p), coords=[…])`` is read from them.

# an analyzed-plan attribute: name#exprId, with an L suffix on longs
_ATTR = r"([A-Za-z_]\w*)#(\d+)L?"
_REF = re.compile(_ATTR)
_ALIAS = re.compile(rf"(.*) AS {_ATTR}")
_RELATION = re.compile(r"Relation \[(.*)\] parquet")
_PROJECT = re.compile(r"Project \[(.*)\]")


def _cast(v: str) -> str:
    return rf"cast\({v} as double\)"


# ``st_point(F.col(x), F.col(y))`` as the analyzed plan prints it
_X, _Y = _cast(r"(?P<x>\w+#\d+L?)"), _cast(r"(?P<y>\w+#\d+L?)")
_XR, _YR = _cast("(?P=x)"), _cast("(?P=y)")
_ST_POINT = re.compile(
    rf"struct\(kind, {KIND_POINT}, x, {_X}, y, {_Y}, rings, cast\(null as array<array<double>>\), "
    rf"xmin, {_XR}, ymin, {_YR}, xmax, {_XR}, ymax, {_YR}\)"
)


def _items(body: str) -> list[str]:
    """Split a printed expression list at its top-level ``", "``."""
    out, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0 and body.startswith(", ", i):
            out.append(body[start:i])
            start = i + 2
    return out + [body[start:]]


def _point_columns(df: DataFrame, geom_col: str) -> tuple[str, str] | None:
    """The parquet columns ``(x, y)`` that ``df``'s ``geom_col`` is the
    ``st_point`` of, when ``df`` is a bare parquet scan: its analyzed plan
    is only Projects over one unfiltered parquet relation, and the
    geometry is ``georef(coords=…)``'s point of two relation columns,
    renames allowed. Anything else — a filter, a join, a Range, another
    geometry expression, a derived coordinate — is None.

    Reads the plan's tree string (a few ms; its JSON form costs tens).
    A field list the string truncates (``spark.sql.debug.maxToStringFields``)
    cannot show the columns, so such wide frames take the data pass."""
    lines = df._jdf.queryExecution().analyzed().toString().rstrip("\n").split("\n")
    bodies = []
    for depth, line in enumerate(lines):
        prefix = "" if depth == 0 else "   " * (depth - 1) + "+- "
        if not line.startswith(prefix):
            return None
        bodies.append(line[len(prefix):])
    leaf = _RELATION.fullmatch(bodies[-1])
    projects = [_PROJECT.fullmatch(b) for b in bodies[:-1]]
    if leaf is None or not projects or not all(projects):
        return None
    relation = {}
    for item in leaf.group(1).split(","):
        m = _REF.fullmatch(item)
        if m:
            relation[m.group(2)] = m.group(1)
    defs = {}
    for p in projects:
        for item in _items(p.group(1)):
            m = _ALIAS.fullmatch(item)
            if m:
                defs[m.group(3)] = m.group(1)

    def origin(e: str) -> tuple[str | None, str | None]:
        # (exprId, None) of the relation attribute a reference renames, or
        # (None, expression) when it is computed
        m = _REF.fullmatch(e)
        while m and m.group(2) in defs:
            e = defs[m.group(2)]
            m = _REF.fullmatch(e)
        return (m.group(2), None) if m else (None, e)

    geom = []
    for item in _items(projects[0].group(1)):
        m = _ALIAS.fullmatch(item)
        if m and m.group(2) == geom_col:
            geom.append(m.group(1))
        elif (m := _REF.fullmatch(item)) and m.group(1) == geom_col:
            geom.append(item)
    if len(geom) != 1:
        return None
    _, expr = origin(geom[0])
    point = _ST_POINT.fullmatch(expr or "")
    if point is None:
        return None
    src = [origin(point.group(c)) for c in ("x", "y")]
    if any(e is not None or i not in relation for i, e in src):
        return None
    return relation[src[0][0]], relation[src[1][0]]


def footer_envelope_stats(df: DataFrame, geom_col: str = "geometry") -> dict | None:
    """``envelope_stats`` of a bare parquet scan of points from its
    footers, without a Spark job: ``n`` is the sum of ``num_rows``, the
    extent the footer min/max of the two coordinate columns, and every
    row is a point (sizes 0, ``all_exact`` 1). None — take the data pass
    — unless ``_point_columns`` recognises the plan, every file is local,
    and every non-empty row group has finite integer or float min/max
    for both columns: a NULL-only or all-NaN chunk has no min/max, and a
    NaN or ±Inf bound (Spark's writer records NaN as the max) is not
    the finite extent the data pass computes. Wherever it answers, it
    equals the data pass."""
    cols = _point_columns(df, geom_col)
    if cols is None:
        return None
    from geotables_jl_spark.plans.checkpoint import row_group_bounds

    paths = []
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        paths.append(unquote(u.path))
    n, lo, hi = 0, [math.inf, math.inf], [-math.inf, -math.inf]
    try:
        for _, _, rows, bounds in row_group_bounds(paths, list(cols)):
            for j, c in enumerate(cols):
                b = bounds[c]
                # type(): bool is an int; decimals, dates and strings are out
                if b is None or not all(type(v) in (int, float) and math.isfinite(v) for v in b):
                    return None
                lo[j], hi[j] = min(lo[j], float(b[0])), max(hi[j], float(b[1]))
            n += rows
    except (OSError, ValueError):
        return None  # unreadable footer
    if n == 0:
        return {"n": 0, **dict.fromkeys(_STAT_KEYS[1:])}
    return {"n": n, "xmin": lo[0], "ymin": lo[1], "xmax": hi[0], "ymax": hi[1],
            "avg_w": 0.0, "avg_h": 0.0, "all_exact": 1}


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
    density_size = extent / max(4.0, math.sqrt(float(n)))
    size = max(mean_geom, density_size)
    size = min(size, extent / 2.0)
    # cap cover explosion for the largest geometries the caller saw
    min_size = mean_geom / max(1.0, math.sqrt(float(max_cells_per_geom)))
    return float(max(size, min_size, 1e-9))
