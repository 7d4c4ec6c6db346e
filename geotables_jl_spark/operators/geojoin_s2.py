"""S2-cell-indexed spherical joins — the web-scale realization of the
reference's geojoin matching (``/root/reference/src/geoops/geojoin.jl``:
brute-force nested loops over ``intersects``/kNN) as a two-stage
cell-indexed broadcast-or-shuffle join:

1. **filter** — candidate pairs by S2 cell equality: ONE side carries
   its single level-k cell, the OTHER explodes to the rigorous cap cover
   of the search radius (``geom/s2.s2_cap_cells_np``; both one Arrow map,
   ``operators/knn.tiled``). If ``dist(l, r) <= chord`` then each point
   lies in the other's cap, so covering EITHER side's caps while the
   other keeps its single cell finds every qualifying pair — and the
   single-cell side meets each cover at most once, so no dedup either
   way. The broadcast side explodes: the 10^12-row side then takes one
   narrow map (scan → cell id → hash join → chord² refine), and the
   ~10-25× cover blow-up lands on the side that fits in a broadcast.
   Without a broadcast side the left explodes (small query side against
   a huge shuffled corpus). Optional explicit salting splits
   pathological cells (megacities at web scale) beyond what AQE's
   skew-join handles.
2. **refine** — exact chord-distance predicate in whole-stage codegen
   (no Python).

kNN is the ``Sphere`` spec of the one kNN engine (``operators/knn.py``):
the numpy kernel ``knn_exact`` over the same cap covers, certified with
3× chord escalation, on the planar kNN's two arms and threshold — one
map against a broadcast directory, or cogrouped S2 tiles.
"""

from __future__ import annotations

import math
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from geotables_jl_spark.geom.knn_kernel import Sphere
from geotables_jl_spark.operators.knn import nearest, points, tiled

__all__ = ["s2_point_prep", "s2_dwithin_join", "s2_knn_join"]


def s2_point_prep(
    df: DataFrame,
    id_col: str,
    xyz: tuple[str, str, str] | None = None,
    latlon: tuple[str, str] | None = None,
    keep: Iterable[str] = (),
) -> DataFrame:
    """Project to (id, nx, ny, nz): unit direction vectors. ``xyz`` input
    is normalized with the exact expression ``c / sqrt(x²+y²+z²)`` (one
    formula shared with the SQL oracle twins — bit-exact); ``latlon``
    uses engine trig (see geom/s2.py docstring for the 1-ulp caveat).
    Only rows with a finite, non-zero direction are kept: NULL, NaN and
    infinite coordinates and zero vectors are dropped."""
    if (xyz is None) == (latlon is None):
        raise ValueError("pass exactly one of xyz= or latlon=")
    if latlon is not None:
        lat, lon = (F.radians(F.col(c).cast("double")) for c in latlon)
        out = df.select(
            F.col(id_col),
            (F.cos(lat) * F.cos(lon)).alias("nx"),
            (F.cos(lat) * F.sin(lon)).alias("ny"),
            F.sin(lat).alias("nz"),
            *keep,
        )
        # nx = cos(lat)·cos(lon) is NULL iff lat or lon is NULL and NaN
        # iff either is NaN/±Inf; finite angles never give the zero vector
        return out.where(F.col("nx").isNotNull() & ~F.isnan("nx"))
    x, y, z = (F.col(c).cast("double") for c in xyz)
    nrm = F.sqrt(x * x + y * y + z * z)
    # Spark orders NaN above every number, so `nrm > 0` alone lets NaN
    # through; infinite coordinates make the norm infinite or NaN
    ok = (nrm > 0) & (nrm < F.lit(float("inf")))
    return df.select(
        F.col(id_col),
        F.when(ok, x / nrm).alias("nx"),
        F.when(ok, y / nrm).alias("ny"),
        F.when(ok, z / nrm).alias("nz"),
        *keep,
    ).where(F.col("nx").isNotNull())


def s2_dwithin_join(
    left: DataFrame,
    right: DataFrame,
    chord: float,
    level: int | None = None,
    salt: int = 1,
    broadcast_right: bool | None = None,
) -> DataFrame:
    """All (lid, rid, chord2) pairs with euclidean chord distance <=
    ``chord`` between unit vectors (monotone in great-circle distance:
    chord = 2·sin(angle/2)). Inputs are ``s2_point_prep`` outputs with
    columns (lid|rid, nx, ny, nz).

    Plan: with ``broadcast_right`` the right side explodes to its cap
    cover (Arrow) and is broadcast while the left takes one cell id
    (Arrow map); otherwise the left explodes and the cell equi-join
    shuffles, with optional ``salt``-way hot-cell splitting. Exact chord²
    refine in codegen. No dedup needed (the single-cell side meets each
    cover at most once)."""
    spec = Sphere(chord, level)
    xyz = ("nx", "ny", "nz")
    cell, cover = (lambda *q: (None, spec.cells(*q))), (lambda *q: spec.index(*q)[:2])
    l = tiled(points(left.select("lid", *xyz), "l", spec, 0), "l", spec, cell if broadcast_right else cover, "__lcell")
    r = tiled(points(right.select("rid", *xyz), "r", spec, 0), "r", spec, cover if broadcast_right else cell, "__rcell")
    cond = F.col("__lcell") == F.col("__rcell")
    if salt > 1:
        # replicate the (smaller) right side across salt ids; split the
        # exploded left's hot cells by row-id hash — same shape as the
        # planar geojoin's explicit skew salting (operators/geojoin.py)
        l = l.withColumn("__lsalt", F.pmod(F.hash(F.col("__lid")), F.lit(salt)))
        r = r.withColumn("__rsalt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        cond = cond & (F.col("__lsalt") == F.col("__rsalt"))
    pairs = l.join(F.broadcast(r) if broadcast_right else r, cond)
    chord2 = spec.dist([F.col(f"__l{c}") for c in spec.cols], [F.col(f"__r{c}") for c in spec.cols])
    return pairs.where(chord2 <= F.lit(float(chord) * float(chord))).select(
        F.col("__lid").alias("lid"), F.col("__rid").alias("rid"), chord2.alias("chord2")
    )


def s2_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    n_right: int | None = None,
    chord0: float | None = None,
    max_rounds: int = 6,
    n_left: int | None = None,
) -> DataFrame:
    """Exact k nearest right points per left point by chord distance,
    ties broken by ascending rid — via S2 cap covers: certify rows whose
    k-th neighbour is inside the covered chord, escalate the rest 3×.
    Returns (lid, rid, chord2, rank), rank 1..k; ``k`` must be ≥ 1.

    ``n_right`` picks the arm and sizes the initial radius
    (uniform-density estimate ``theta0 ~ 2*sqrt(k/n)``); pass it to avoid
    the planning-time ``count()`` (the stats-injection escape hatch, same
    contract as the planar kNN's planning aggregates). The ``Sphere``
    spec runs on the one kNN engine (``operators/knn.nearest``): below
    ``KNN_BROADCAST_ROWS`` directory rows the kernel arm (one map stage),
    else the tile arm (certify-or-escalate rounds, one cogrouped pass of
    S2 tiles each). Both run ``knn_exact`` with (chord2, rid) ties, so
    they return identical rows, for any orderable lid/rid type.
    ``max_rounds`` and ``n_left`` (the one up-front left count) only
    apply to the tile arm."""
    if k < 1:
        raise ValueError(f"k must be at least 1, got {k}")
    if n_right is None:
        n_right = right.count()
    if chord0 is None:
        theta0 = 2.0 * math.sqrt(max(k, 1) / max(n_right, 1))
        chord0 = min(2.0, 1.5 * theta0)
    xyz = ("nx", "ny", "nz")
    out = nearest(
        left.select("lid", *xyz), right.select("rid", *xyz), Sphere(chord0), k,
        n_right=n_right, max_rounds=max_rounds, n_left=n_left,
    )
    return out.select(
        F.col("__lid").alias("lid"), F.col("__rid").alias("rid"),
        F.col("__dist").alias("chord2"), F.col("__rank").alias("rank"),
    )
