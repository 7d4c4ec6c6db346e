"""Feature & geometric pipeline transforms (reference ``test/feature.jl:4-43``,
``src/transforms.jl``, TableTransforms extension).

Each transform is a function GeoTable -> GeoTable built from DataFrame ops;
row-count-changing transforms also subset the domain — free here since the
domain is just the geometry column riding along (the reference must
explicitly view the domain, ``GeoTablesTableTransformsExt.jl:27-74``).

Global statistics (Center/MinMax/ZScore/Quantile/DropExtrema) are computed
with one agg and folded in as literals — a broadcast join of a 1-row frame,
the scale-correct pattern (never a window over the whole table).
"""

from __future__ import annotations

import re as _re
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geotables_jl_spark.core.geotable import GEOM, ROW_ID, GeoTable
from geotables_jl_spark.geom.model import st_point


def _attrs(gtb: GeoTable) -> list[str]:
    return [c for c in gtb.df.columns if c not in (ROW_ID, GEOM)]


def select(gtb: GeoTable, *cols: str) -> GeoTable:
    return gtb._with(gtb.df.select(ROW_ID, *cols, GEOM))


def reject(gtb: GeoTable, *cols: str) -> GeoTable:
    return gtb._with(gtb.df.drop(*cols))


def rename(gtb: GeoTable, mapping: dict[str, str]) -> GeoTable:
    df = gtb.df
    for old, new in mapping.items():
        df = df.withColumnRenamed(old, new)
    return gtb._with(df)


def stdnames(gtb: GeoTable) -> GeoTable:
    """StdNames: snake_case-ish cleanup of column names."""
    mapping = {}
    for c in _attrs(gtb):
        new = _re.sub(r"[^0-9a-zA-Z]+", "_", c.strip()).strip("_").lower()
        if new != c:
            mapping[c] = new
    return rename(gtb, mapping)


def filter_rows(gtb: GeoTable, pred: Column) -> GeoTable:
    return gtb._with(gtb.df.filter(pred))


def sort_by(gtb: GeoTable, *cols, ascending: bool = True) -> GeoTable:
    ordering = [F.col(c).asc() if ascending else F.col(c).desc() for c in cols]
    return gtb._with(gtb.df.orderBy(*ordering, F.col(ROW_ID).asc()))


def sample(gtb: GeoTable, n: int, seed: int = 42, rank_hash: str = "murmur3") -> GeoTable:
    from geotables_jl_spark.operators.indices import sample_uniform

    return sample_uniform(gtb, n, seed, rank_hash=rank_hash)


def dropmissing(gtb: GeoTable, *cols: str) -> GeoTable:
    cols = cols or tuple(_attrs(gtb))
    return gtb._with(gtb.df.dropna(subset=list(cols)))


def dropnan(gtb: GeoTable, *cols: str) -> GeoTable:
    df = gtb.df
    targets = cols or tuple(
        c for c in _attrs(gtb) if isinstance(df.schema[c].dataType, (T.DoubleType, T.FloatType))
    )
    for c in targets:
        df = df.filter(~F.isnan(F.col(c)))
    return gtb._with(df)


def dropextrema(
    gtb: GeoTable, col: str, low: float = 0.25, high: float = 0.75, exact: bool = False
) -> GeoTable:
    """DropExtrema: keep rows inside the [low, high] quantile band.
    Default approx_percentile = one pass, mergeable sketch
    (scale-correct); ``exact=True`` uses the exact interpolated
    percentile (sort-based — small/medium tables, oracle parity)."""
    if exact:
        q = gtb.df.agg(
            F.expr(f"percentile(`{col}`, {float(low)})").alias("lo"),
            F.expr(f"percentile(`{col}`, {float(high)})").alias("hi"),
        ).collect()[0]
    else:
        q = gtb.df.agg(
            F.percentile_approx(col, F.lit(low)).alias("lo"),
            F.percentile_approx(col, F.lit(high)).alias("hi"),
        ).collect()[0]
    return gtb._with(gtb.df.filter((F.col(col) >= q["lo"]) & (F.col(col) <= q["hi"])))


def coalesce_value(gtb: GeoTable, value, *cols: str) -> GeoTable:
    return gtb._with(gtb.df.fillna(value, subset=list(cols) or None))


def replace_values(gtb: GeoTable, col: str, mapping: dict) -> GeoTable:
    return gtb._with(gtb.df.replace(mapping, subset=[col]))


def map_col(gtb: GeoTable, out_col: str, expr: Column) -> GeoTable:
    return gtb._with(gtb.df.withColumn(out_col, expr))


def indicator(gtb: GeoTable, col: str, threshold) -> GeoTable:
    return gtb._with(gtb.df.withColumn(f"{col}_ind", (F.col(col) > threshold).cast("int")))


def onehot(gtb: GeoTable, col: str, levels: list) -> GeoTable:
    df = gtb.df
    for lv in levels:
        df = df.withColumn(f"{col}_{lv}", (F.col(col) == F.lit(lv)).cast("int"))
    out_cols = [c for c in df.columns if c not in (ROW_ID, GEOM)]
    return gtb._with(df.select(ROW_ID, *out_cols, GEOM))


def coerce(gtb: GeoTable, col: str, dtype: str) -> GeoTable:
    return gtb._with(gtb.df.withColumn(col, F.col(col).cast(dtype)))


def set_levels(gtb: GeoTable, col: str, levels: list, validate: bool = True) -> GeoTable:
    """Levels transform (TableTransforms ``Levels(:col => [...])``):
    revise the categorical level set/order of a column. Spark has no
    categorical dtype, so levels are table METADATA (``gtb.levels``) —
    the data is not filtered. ``validate=True`` runs one aggregate to
    assert every non-null value is a declared level (the reference
    errors on out-of-level values)."""
    if validate:
        bad = gtb.df.filter(
            ~F.col(col).isin(list(levels)) & F.col(col).isNotNull()
        ).limit(1).count()
        if bad:
            raise ValueError(f"set_levels: column {col!r} has values outside {levels!r}")
    out = gtb._with(gtb.df)
    out.levels[col] = list(levels)
    return out


# ---- global-statistic rescalers (one agg, literals folded back) ----------


def _stats(df: DataFrame, cols: list[str], exprs) -> dict:
    row = df.agg(*[e(c).alias(f"{name}_{c}") for c in cols for name, e in exprs.items()]).collect()[0]
    return row.asDict()


def center(gtb: GeoTable, *cols: str) -> GeoTable:
    s = _stats(gtb.df, list(cols), {"mean": F.avg})
    df = gtb.df
    for c in cols:
        df = df.withColumn(c, F.col(c) - F.lit(s[f"mean_{c}"]))
    return gtb._with(df)


def minmax(gtb: GeoTable, *cols: str, low: float = 0.0, high: float = 1.0) -> GeoTable:
    s = _stats(gtb.df, list(cols), {"min": F.min, "max": F.max})
    df = gtb.df
    for c in cols:
        lo, hi = s[f"min_{c}"], s[f"max_{c}"]
        span = (hi - lo) or 1.0
        df = df.withColumn(c, (F.col(c) - F.lit(lo)) / F.lit(span) * F.lit(high - low) + F.lit(low))
    return gtb._with(df)


def zscore(gtb: GeoTable, *cols: str) -> GeoTable:
    s = _stats(gtb.df, list(cols), {"mean": F.avg, "std": F.stddev_samp})
    df = gtb.df
    for c in cols:
        df = df.withColumn(c, (F.col(c) - F.lit(s[f"mean_{c}"])) / F.lit(s[f"std_{c}"] or 1.0))
    return gtb._with(df)


def identity(gtb: GeoTable) -> GeoTable:
    """Identity() (reference ``test/feature.jl:22``) — the no-op pipeline
    stage. Same plan in, same plan out (Catalyst collapses it)."""
    return gtb._with(gtb.df)


def rowtable(gtb: GeoTable) -> GeoTable:
    """RowTable() (reference ``test/feature.jl:36``): re-materialize the
    attribute table in row-oriented form. A DataFrame is representation-
    agnostic (Tungsten rows / Arrow columns as the plan demands), so the
    geotable is unchanged — matching the reference contract that apply
    still returns an AbstractGeoTable over the same domain."""
    return gtb._with(gtb.df)


def coltable(gtb: GeoTable) -> GeoTable:
    """ColTable() (reference ``test/feature.jl:37``) — see rowtable."""
    return gtb._with(gtb.df)


_FUNCTIONAL = {
    "exp": F.exp, "log": F.log, "log1p": F.log1p, "expm1": F.expm1,
    "sqrt": F.sqrt, "abs": F.abs, "sin": F.sin, "cos": F.cos,
    "tan": F.tan, "asin": F.asin, "acos": F.acos, "atan": F.atan,
}


def functional(gtb: GeoTable, fn: str, *cols: str) -> GeoTable:
    """Functional(fn) (reference ``test/feature.jl:28``): apply a scalar
    function to every (or the named) numeric attribute column — pure
    map-side codegen, zero shuffles. ``fn`` names a built-in
    ``pyspark.sql.functions`` scalar so the hot path never enters
    Python."""
    if fn not in _FUNCTIONAL:
        raise ValueError(f"functional: unknown fn {fn!r} (have {sorted(_FUNCTIONAL)})")
    f = _FUNCTIONAL[fn]
    targets = list(cols) or [
        c
        for c in _attrs(gtb)
        if isinstance(gtb.df.schema[c].dataType, T.NumericType)
    ]
    df = gtb.df
    for c in targets:
        df = df.withColumn(c, f(F.col(c)))
    return gtb._with(df)


def stdfeats(gtb: GeoTable) -> GeoTable:
    """StdFeats() (reference ``test/feature.jl:10``): standardize every
    Continuous feature — ZScore over each fractional-typed attribute
    column (the scitype mapping of SURVEY §1.5: fractional → Continuous,
    int/string/bool → Categorical, which StdFeats leaves alone)."""
    cols = [
        c
        for c in _attrs(gtb)
        if isinstance(gtb.df.schema[c].dataType, T.FractionalType)
    ]
    return zscore(gtb, *cols) if cols else gtb._with(gtb.df)


def interquartile(gtb: GeoTable, *cols: str, exact: bool = True) -> GeoTable:
    """Interquartile rescaler (reference ``test/feature.jl:26``;
    TableTransforms ``Interquartile() = Scale(low=0.25, high=0.75)``):
    x → (x − q25) / (q75 − q25). One global quantile aggregate folded
    back as literals — same scale shape as minmax/zscore. ``exact=True``
    uses the exact interpolated percentile (oracle parity);
    ``exact=False`` the one-pass mergeable sketch for 100 TB inputs."""
    pct = "percentile" if exact else "approx_percentile"
    s = _stats(
        gtb.df,
        list(cols),
        {
            "q1": lambda c: F.expr(f"{pct}(`{c}`, 0.25)"),
            "q3": lambda c: F.expr(f"{pct}(`{c}`, 0.75)"),
        },
    )
    df = gtb.df
    for c in cols:
        q1, q3 = s[f"q1_{c}"], s[f"q3_{c}"]
        span = (q3 - q1) or 1.0
        df = df.withColumn(c, (F.col(c) - F.lit(q1)) / F.lit(span))
    return gtb._with(df)


def quantile_transform(gtb: GeoTable, col: str, nbins: int = 100) -> GeoTable:
    """Quantile: exact percent_rank, computed DISTRIBUTED (range-bucket
    rank, ``operators/ranking.py``) — never a global unpartitioned
    window."""
    from geotables_jl_spark.operators.ranking import percent_rank_col

    return gtb._with(percent_rank_col(gtb.df, F.col(col), out=col))


# ---- compositional-data transforms (reference ``test/misc.jl:2-28``;
# CoDa.jl semantics reaching GeoTables through the TableTransforms
# passthrough). All map-only column math — zero shuffles. ------------------


def _num_attrs(gtb: GeoTable, cols) -> list[str]:
    cols = list(cols) or _attrs(gtb)
    if not cols:
        raise ValueError("compositional transform needs at least one part column")
    return cols


def closure(gtb: GeoTable, *cols: str) -> GeoTable:
    """Closure(): rescale part columns to sum to 1 per row
    (``test/misc.jl:4-7``). Keeps column names."""
    cols = _num_attrs(gtb, cols)
    s = reduce(lambda a, b: a + b, [F.col(c) for c in cols])
    # one select: sequential withColumn would re-resolve `s` against the
    # already-divided columns
    out = gtb.df.select(
        *[(F.col(c) / s).alias(c) if c in cols else F.col(c) for c in gtb.df.columns]
    )
    return gtb._with(out)


def remainder(gtb: GeoTable, *cols: str, total: float | None = None) -> GeoTable:
    """Remainder(): append ``remainder = τ − Σ parts`` where τ is the max
    row sum over the table (one planning aggregate) unless given
    (``test/misc.jl:9-12``)."""
    cols = _num_attrs(gtb, cols)
    s = reduce(lambda a, b: a + b, [F.col(c) for c in cols])
    if total is None:
        total = float(gtb.df.agg(F.max(s).alias("t")).collect()[0]["t"])
    return gtb._with(gtb.df.withColumn("remainder", F.lit(total) - s))


def alr(gtb: GeoTable, *cols: str) -> GeoTable:
    """ALR(): additive log-ratio — log(x_i / x_D) for i < D, REPLACING the
    part columns. Output columns are named ``ARL1..`` to match the
    reference's observable behavior (``test/misc.jl:14-17`` asserts
    :ARL1 — CoDa.jl's spelling, kept verbatim for parity)."""
    cols = _num_attrs(gtb, cols)
    if len(cols) < 2:
        raise ValueError("ALR needs >= 2 parts")
    last = F.col(cols[-1])
    keep = [c for c in gtb.df.columns if c not in cols]
    exprs = [(F.log(F.col(c) / last)).alias(f"ARL{i+1}") for i, c in enumerate(cols[:-1])]
    out = gtb.df.select(*[c for c in keep if c != GEOM], *exprs, GEOM)
    return gtb._with(out)


def clr(gtb: GeoTable, *cols: str) -> GeoTable:
    """CLR(): centered log-ratio — log(x_i / geometric_mean(x)), one
    output per part, columns ``CLR1..CLRD`` (``test/misc.jl:19-22``).
    log(gmean) = mean(log x): numerically stable and codegen-friendly."""
    cols = _num_attrs(gtb, cols)
    lg = [F.log(F.col(c)) for c in cols]
    mean_lg = reduce(lambda a, b: a + b, lg) / F.lit(float(len(cols)))
    keep = [c for c in gtb.df.columns if c not in cols]
    exprs = [(lg[i] - mean_lg).alias(f"CLR{i+1}") for i in range(len(cols))]
    out = gtb.df.select(*[c for c in keep if c != GEOM], *exprs, GEOM)
    return gtb._with(out)


def ilr(gtb: GeoTable, *cols: str) -> GeoTable:
    """ILR(): isometric log-ratio via pivot coordinates —
    z_j = sqrt((D−j)/(D−j+1)) · log(x_j / gmean(x_{j+1..D})), j=1..D−1,
    columns ``ILR1..ILR(D−1)`` (``test/misc.jl:24-27``; the reference
    asserts the column-name contract, the basis convention is the
    standard pivot one)."""
    import math as _math

    cols = _num_attrs(gtb, cols)
    D = len(cols)
    if D < 2:
        raise ValueError("ILR needs >= 2 parts")
    lg = [F.log(F.col(c)) for c in cols]
    keep = [c for c in gtb.df.columns if c not in cols]
    exprs = []
    for j in range(D - 1):
        tail = lg[j + 1 :]
        gmean_log = reduce(lambda a, b: a + b, tail) / F.lit(float(len(tail)))
        coef = _math.sqrt((D - j - 1) / (D - j))
        exprs.append((F.lit(coef) * (lg[j] - gmean_log)).alias(f"ILR{j+1}"))
    out = gtb.df.select(*[c for c in keep if c != GEOM], *exprs, GEOM)
    return gtb._with(out)


# ---- geometric transforms -------------------------------------------------


def stdcoords(gtb: GeoTable) -> GeoTable:
    """StdCoords (``test/geometric.jl:3-9``): affine-rescale point
    geometries into [-0.5, 0.5]^2 — global bbox agg then vectorized
    rescale, all column math."""
    g = F.col(GEOM)
    s = gtb.df.agg(
        F.min(g["xmin"]).alias("x0"),
        F.max(g["xmax"]).alias("x1"),
        F.min(g["ymin"]).alias("y0"),
        F.max(g["ymax"]).alias("y1"),
    ).collect()[0]
    sx = (s["x1"] - s["x0"]) or 1.0
    sy = (s["y1"] - s["y0"]) or 1.0
    nx = (g["x"] - F.lit(s["x0"])) / F.lit(sx) - 0.5
    ny = (g["y"] - F.lit(s["y0"])) / F.lit(sy) - 0.5
    res = gtb._with(gtb.df.withColumn(GEOM, st_point(nx, ny)))
    res.kind_hint = "point"  # st_point output, whatever the input kind
    return res


def slice_box(gtb: GeoTable, x: tuple[float, float] | None = None, y: tuple[float, float] | None = None) -> GeoTable:
    """Slice(x=(a,b), y=(c,d)) (``src/transforms.jl:25-28``): coordinate-
    window subset; envelope predicate only — pure pushdown-able filter."""
    g = F.col(GEOM)
    pred = F.lit(True)
    if x is not None:
        pred = pred & (g["xmin"] >= x[0]) & (g["xmax"] <= x[1])
    if y is not None:
        pred = pred & (g["ymin"] >= y[0]) & (g["ymax"] <= y[1])
    return gtb._with(gtb.df.filter(pred))
