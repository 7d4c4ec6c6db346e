"""S2-cell-indexed spherical joins — the web-scale realization of the
reference's geojoin matching (``/root/reference/src/geoops/geojoin.jl``:
brute-force nested loops over ``intersects``/kNN) as the mandated
two-stage cell-indexed broadcast-or-shuffle join:

1. **filter** — candidate pairs by S2 cell equality: ONE side carries
   its single level-k cell (one Arrow map,
   ``geom/s2.with_s2_cell_arrow``); the OTHER side explodes to the rigorous
   cap cover of the search radius (vectorized numpy Arrow kernel,
   ``geom/s2.s2_cap_cells_np``). If ``dist(l, r) <= chord`` then each
   point lies in the other's cap, so covering EITHER side's caps while
   the other keeps its single cell finds every qualifying pair — and
   the single-cell side meets each cover at most once, so no dedup
   either way. The broadcast side explodes: the 10^12-row side then
   takes one narrow map (scan → cell id → hash join → chord² refine),
   and the ~10-25× cover blow-up lands on the side that fits in a
   broadcast. Without a broadcast side the left explodes (small query
   side against a huge shuffled corpus). Optional explicit salting
   splits pathological cells (megacities at web scale) beyond what
   AQE's skew-join handles.
2. **refine** — exact chord-distance predicate in whole-stage codegen
   (no Python): a right point has exactly one cell, so a pair meets in
   at most one cell and needs no dedup.

kNN runs the same filter/refine as **cell-ring expansion**: each round
covers a cap of the current search radius; a row is *certified* when its
k-th candidate lies within the covered radius (every point inside the
cover radius is guaranteed to be a candidate — cover is a superset by
construction), otherwise it escalates to a 3× radius (and a
correspondingly coarser level) next round. ``chord >= 2`` covers the
whole sphere, so the loop degrades gracefully to brute force and is
exact at any k without a special arm.

Scale shape: the directory's row count picks one of two kNN arms, like
the planar ``knn_pairs``. Below ``S2_BROADCAST_ROWS`` (integral ids)
kNN runs as ONE map stage — the directory rides to workers as plain
numpy and ``geom/s2_knn_kernel.score_batch_sphere`` executes the entire
cell-ring expansion (cover probe, in-kernel certification, 3× chord
escalation, brute-force tail) per Arrow batch; zero shuffles, zero
driver rounds. Otherwise the rounds arm runs the expansion as
DataFrame rounds: each round joins on cell (broadcast when the
directory is small, else one shuffle) plus one lid window; rounds after
the first touch only uncertified rows (empty-region points), a
vanishing fraction under any realistic density.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geotables_jl_spark.geom import s2

__all__ = ["s2_point_prep", "s2_dwithin_join", "s2_knn_join"]

#: directories below this many rows take the kernel arm of
#: ``s2_knn_join`` (or a broadcast cell join in its rounds arm). Lower
#: than the planar ``geojoin.BROADCAST_ROWS``: each Python worker builds
#: a cap-cover CSR of ~17-30 cells per directory point, and that build
#: peaked at 0.5-1.0 GB per worker at 250k points (k=10..50), linear in
#: the directory — ~8 GB per worker at 2M.
S2_BROADCAST_ROWS = 250_000


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


def _chord2(l: str, r: str) -> Column:
    dx = F.col(l + "x") - F.col(r + "x")
    dy = F.col(l + "y") - F.col(r + "y")
    dz = F.col(l + "z") - F.col(r + "z")
    return dx * dx + dy * dy + dz * dz


def _tagged(df: DataFrame, tag: str) -> DataFrame:
    """(lid|rid, nx, ny, nz) -> (lid|rid, {t}x, {t}y, {t}z)."""
    return df.select(
        F.col(tag + "id"),
        F.col("nx").alias(tag + "x"),
        F.col("ny").alias(tag + "y"),
        F.col("nz").alias(tag + "z"),
    )


def _cover_explode(side: DataFrame, chord: float, level: int, tag: str) -> DataFrame:
    """Arrow kernel: explode each point of a ``_tagged`` side into its
    cap-cover cells (radius ``chord``). This is the Python-touching
    stage — run it on the SMALL side (see module docstring)."""
    idc, xc, yc, zc = tag + "id", tag + "x", tag + "y", tag + "z"
    src = side.select(idc, xc, yc, zc)
    id_type = src.schema[idc].dataType.simpleString()
    schema = f"{idc} {id_type}, {xc} double, {yc} double, {zc} double, __cell long"

    def _iter(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows, cells = s2.s2_cap_cells_np(
                pdf[xc].to_numpy(), pdf[yc].to_numpy(), pdf[zc].to_numpy(),
                chord, level,
            )
            out = pdf.iloc[rows].reset_index(drop=True)
            out["__cell"] = cells
            yield out

    return src.mapInPandas(_iter, schema=schema)


def _cell_side(side: DataFrame, level: int, tag: str) -> DataFrame:
    """Single level-``level`` cell per point of a ``_tagged`` side — the
    stage the 10^12-row side takes (one Arrow map)."""
    s = s2.with_s2_cell_arrow(side, level, out="__cell", xyz=(tag + "x", tag + "y", tag + "z"))
    return s.where(F.col("__cell").isNotNull())


def _cell_pair(left_t: DataFrame, right_t: DataFrame, chord: float, level: int,
               explode_right: bool) -> tuple[DataFrame, DataFrame]:
    """(l, r) keyed by __cell: the right side explodes to the cap cover
    if ``explode_right``, else the left; the other carries its one cell.
    Either orientation finds every pair with dist <= chord exactly once:
    the single-cell point lies inside the other's cap, so its cell is in
    that cap's rigorous cover — and it has only one cell, so the pair
    meets in at most one cell (no dedup)."""
    if explode_right:
        return _cell_side(left_t, level, "l"), _cover_explode(right_t, chord, level, "r")
    return _cover_explode(left_t, chord, level, "l"), _cell_side(right_t, level, "r")


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
    # one level finer than the cover-bound default: the explode lands on
    # the small side, and the tighter window cuts candidate pairs ~2×
    # per level (measured: 2.36B→1.09B 5→6 on the 5M-page profile) while
    # the join stays the dominant cost
    lvl = level if level is not None else s2.s2_level_for_chord(chord, 6.0)
    l, r = _cell_pair(
        _tagged(left, "l"), _tagged(right, "r"), float(chord), lvl, bool(broadcast_right)
    )
    if salt > 1:
        # replicate the (smaller) right side across salt ids; split the
        # exploded left's hot cells by row-id hash — same shape as the
        # planar geojoin's explicit skew salting (operators/geojoin.py)
        l = l.withColumn("__salt", F.pmod(F.hash(F.col("lid")), F.lit(salt)))
        r = r.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
        on = ["__cell", "__salt"]
    else:
        on = ["__cell"]
    rr = F.broadcast(r) if broadcast_right else r
    pairs = l.join(rr, on=on, how="inner")
    out = pairs.where(_chord2("l", "r") <= F.lit(float(chord) * float(chord))).select(
        "lid", "rid", _chord2("l", "r").alias("chord2")
    )
    return out


def _knn_kernel_arm(left: DataFrame, right: DataFrame, k: int, chord0: float) -> DataFrame:
    """ONE-map-stage spherical kNN for a broadcast-able directory: the
    directory rides to workers as plain numpy (``SphereIndex``, ~32
    B/point) and ``score_batch_sphere`` runs the whole cell-ring
    expansion — covered pass, in-kernel certification, 3× chord
    escalation, brute-force tail — inside the Arrow kernel. The left
    stream ships only (lid, x, y, z); output fans out to pair rows via
    codegen posexplode. Zero shuffles, zero driver rounds, zero per-round
    broadcast builds — the job is a single narrow map over the page scan
    that ships 32 B/page through Arrow."""
    from geotables_jl_spark.geom.s2_knn_kernel import SphereIndex, score_batch_sphere

    right_t = _tagged(right, "r")
    pdf = right_t.toPandas()
    idx = SphereIndex(
        pdf["rid"].to_numpy(np.int64),
        pdf["rx"].to_numpy(np.float64),
        pdf["ry"].to_numpy(np.float64),
        pdf["rz"].to_numpy(np.float64),
    )
    bc = left.sparkSession.sparkContext.broadcast(idx)
    level0 = s2.s2_level_for_chord(chord0, 6.0)

    schema = T.StructType(
        [
            T.StructField("lid", T.LongType()),
            T.StructField("__rids", T.ArrayType(T.LongType())),
            T.StructField("__chord2s", T.ArrayType(T.DoubleType())),
        ]
    )

    def _iter(batches):
        import pyarrow as pa

        index = bc.value
        for rb in batches:
            if rb.num_rows == 0:
                continue
            name_i = {nm: i for i, nm in enumerate(rb.schema.names)}

            def col(nm, dt):
                return rb.column(name_i[nm]).to_numpy(zero_copy_only=False).astype(dt, copy=False)

            lid = col("lid", np.int64)
            _, off, ridv, d2v = score_batch_sphere(
                lid, col("lx", np.float64), col("ly", np.float64), col("lz", np.float64),
                index, chord0, level0, k,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(lid, pa.int64()),
                    pa.ListArray.from_arrays(pa.array(off, pa.int64()).cast(pa.int32()), pa.array(ridv, pa.int64())),
                    pa.ListArray.from_arrays(pa.array(off, pa.int64()).cast(pa.int32()), pa.array(d2v, pa.float64())),
                ],
                names=["lid", "__rids", "__chord2s"],
            )

    left_t = _tagged(left, "l").where(F.col("lx").isNotNull())  # zero-vector parity
    rnd = left_t.select("lid", "lx", "ly", "lz").mapInArrow(_iter, schema)
    return rnd.select(
        "lid", F.posexplode(F.arrays_zip("__rids", "__chord2s")).alias("__pos", "__z")
    ).select(
        "lid",
        F.col("__z")["__rids"].alias("rid"),
        F.col("__z")["__chord2s"].alias("chord2"),
        (F.col("__pos") + 1).cast("integer").alias("rank"),
    )


def _integral(df: DataFrame, col: str) -> bool:
    return isinstance(df.schema[col].dataType, (T.LongType, T.IntegerType))


def _round_topk(remaining: DataFrame, right_t: DataFrame, k: int, chord: float,
                broadcast: bool) -> DataFrame:
    """One rounds-arm pass at radius ``chord``: cell join (the broadcast
    directory explodes, else the remaining left rows), exact chord²,
    then the per-lid top-k by (chord2, rid) in a partitioned window."""
    l, r = _cell_pair(remaining, right_t, chord, s2.s2_level_for_chord(chord, 6.0), broadcast)
    rr = F.broadcast(r) if broadcast else r
    cand = l.join(rr, on="__cell", how="inner").select(
        "lid", "rid", _chord2("l", "r").alias("chord2")
    )
    # candidates beyond the covered radius can never certify a row
    # (a row with < k survivors fails the __n >= k certificate and is
    # recomputed at the escalated radius anyway) — filter them out
    # BEFORE the window so the lid-shuffle carries ~cap-area rows,
    # not ~cover-area rows (the cover oversamples the cap ~6×).
    # Skipped on the full-sphere round: there the filter saves nothing
    # and an ulp of fp error at exactly-antipodal chord2 == 4 could
    # drop an exact candidate.
    if chord < 2.0:
        cand = cand.where(F.col("chord2") <= F.lit(chord * chord))
    w = Window.partitionBy("lid").orderBy(F.col("chord2").asc(), F.col("rid").asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


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
    ties broken by ascending rid — via S2 cell-ring expansion: cover the
    current radius, certify rows whose k-th candidate is inside the
    covered radius, escalate the rest 3×. Returns (lid, rid, chord2,
    rank), rank 1..k.

    ``n_right`` picks the arm and sizes the initial radius
    (uniform-density estimate ``theta0 ~ 2*sqrt(k/n)``); pass it to avoid
    the planning-time ``count()`` (the stats-injection escape hatch, same
    contract as the planar kNN's planning aggregates). A directory below
    ``S2_BROADCAST_ROWS`` rows with integral lid/rid takes the kernel arm
    (one map stage); anything else takes the certify-or-escalate
    DataFrame rounds, broadcasting the directory while it is small.
    Both arms rank by exact chord² with (chord2, rid) ties, so they
    return identical rows. ``max_rounds`` and ``n_left`` (the one
    up-front left count) only apply to the rounds arm."""
    if n_right is None:
        n_right = right.count()
    if chord0 is None:
        theta0 = 2.0 * math.sqrt(max(k, 1) / max(n_right, 1))
        chord0 = min(2.0, 1.5 * theta0)
    small = n_right < S2_BROADCAST_ROWS
    if small and _integral(left, "lid") and _integral(right, "rid"):
        return _knn_kernel_arm(left, right, k, float(chord0))
    right_t = _tagged(right, "r")
    remaining = _tagged(left, "l")
    results = []
    chord = float(chord0)
    # exact remaining-row bookkeeping (cert lids are distinct and a
    # subset of remaining) replaces per-round isEmpty()/anti-join
    # actions; ``n_left`` is the stats-injection escape for the one
    # up-front count
    n_remaining = n_left
    for _ in range(max_rounds):
        topk = _round_topk(remaining, right_t, k, chord, small)
        if chord >= 2.0:
            results.append(topk)
            break
        # ONE expensive pass per round: materialize the round's top-k
        # (executor-local blocks, k·|remaining| rows — the same size the
        # certified output would be) so cert / done / remaining below are
        # cheap checkpoint scans instead of three recomputations of the
        # explode→join→window chain (measured 3× the round cost without)
        topk = topk.localCheckpoint(eager=True)
        # certificate: the k-th candidate lies within the covered radius
        kth = topk.groupBy("lid").agg(
            F.max("rank").alias("__n"), F.max("chord2").alias("__kth2")
        )
        cert = kth.where(
            (F.col("__n") >= k) & (F.col("__kth2") <= F.lit(chord * chord))
        ).select("lid")
        if n_remaining is None:
            n_remaining = remaining.count()
        n_cert = cert.count()  # cheap scan of the checkpointed top-k
        if n_cert == n_remaining:
            # every remaining lid certified → cert == the set of topk
            # lids, so done would equal topk: skip both the inner join
            # and the anti-join (the common single-round case)
            results.append(topk)
            break
        # cert scales with the LEFT row count (one row per certified
        # lid), so never force-broadcast it — topk is already
        # lid-partitioned from the window, and AQE broadcast-converts
        # at runtime when cert turns out small
        results.append(topk.join(cert, "lid", "inner"))
        remaining = remaining.join(cert, "lid", "left_anti").localCheckpoint(eager=False)
        n_remaining -= n_cert
        chord = min(2.0, chord * 3.0)
    else:
        # max_rounds exhausted without reaching the whole sphere: one
        # exact final pass at chord=2 (full cover — always certified)
        results.append(_round_topk(remaining, right_t, k, 2.0, small))
    out = results[0]
    for df in results[1:]:
        out = out.unionByName(df)
    return out
