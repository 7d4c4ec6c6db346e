"""S2-cell-indexed spherical joins — the web-scale realization of the
reference's geojoin matching (``/root/reference/src/geoops/geojoin.jl``:
brute-force nested loops over ``intersects``/kNN) as the mandated
two-stage cell-indexed broadcast-or-shuffle join:

1. **filter** — candidate pairs by S2 cell equality: ONE side carries
   its single level-k cell (one Arrow map,
   ``geom/s2.with_s2_cell_arrow``); the OTHER side explodes to the rigorous
   cap cover of the search radius (vectorized numpy Arrow kernel,
   ``geom/s2.s2_cap_cells_np``). Which side explodes is the key
   web-scale knob (``expand=``): if ``dist(l, r) <= chord`` then each
   point lies in the other's cap, so covering EITHER side's caps while
   the other keeps its single cell finds every qualifying pair — and
   the single-cell side meets each cover at most once, so no dedup
   either way. Explode the SMALL side: the 10^12-row side then takes
   one narrow map (scan → cell id → hash join → chord² refine), and
   the ~10-25× cover blow-up lands on the side that fits in a
   broadcast. Optional explicit salting splits pathological cells
   (megacities at web scale) beyond what AQE's skew-join handles.
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

Scale shape: with a broadcastable directory (``broadcast_right``) kNN
runs as ONE map stage — the directory rides to workers as plain numpy
and ``geom/s2_knn_kernel.score_batch_sphere`` executes the entire
cell-ring expansion (cover probe, in-kernel certification, 3× chord
escalation, brute-force tail) per Arrow batch; zero shuffles, zero
driver rounds (the per-round DataFrame pipeline remains as
``engine='rounds'``). In the shuffle arm (directory too big to
broadcast) each round shuffles the cell equi-join once plus one lid
window; rounds after the first touch only uncertified rows
(empty-region points), a vanishing fraction under any realistic
density.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from geotables_jl_spark.geom import s2

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
    schema = f"{idc} long, {xc} double, {yc} double, {zc} double, __cell long"

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


def _topk_stream(cand: DataFrame, k: int, cert2: float | None = None) -> DataFrame:
    """Per-lid top-k by (chord2, rid) WITHOUT a shuffle — the broadcast
    arm's replacement for ``row_number() over (partition by lid)``.

    Correctness rests on a construction guarantee of the callers: on the
    broadcast plan, candidate rows are lid-contiguous within each
    partition (the stream side carries each lid's single cell row — or
    its cover-explode run, emitted contiguously by the CSR kernel — and
    the broadcast hash join emits each stream row's matches
    consecutively; no exchange ever sits between — LEFT OUTER included).
    A streaming Arrow kernel with cross-batch carry of the trailing run
    then computes the exact top-k per lid: batch-local lexsort on
    (run, chord2, rid) and a vectorized rank-within-run, never a per-row
    Python loop. At web scale this turns the kNN round into a pure map
    pipeline — scan → cell id → broadcast join → refine → top-k — with
    no shuffle at all.

    ``cert2`` switches on IN-KERNEL certification (the kNN ring-expansion
    bookkeeping, shuffle-free): rows whose chord2 is null/NaN (the
    left-outer join's no-candidate markers) don't count as candidates; a
    run is *certified* when it has ≥ k candidates and its k-th candidate
    lies within the covered radius (chord2 ≤ cert2). Certified runs emit
    their top-k with ``cert=true``; uncertified runs emit ONE marker row
    (rid=-1, chord2=NaN, rank=0, cert=false) carrying just the lid, so
    the caller's escalation set is a tiny broadcastable column instead
    of a join against the full top-k.
    """
    with_cert = cert2 is not None
    schema = "lid long, rid long, chord2 double, rank integer" + (
        ", cert boolean" if with_cert else ""
    )

    def _part(batches):
        hold: list[pd.DataFrame] = []  # trailing (possibly open) run

        def _emit(pdf):
            lid = pdf["lid"].to_numpy()
            c2 = np.array(pdf["chord2"].to_numpy(), dtype="float64", copy=True)
            # Arrow hands a nullable long over as float64+NaN; an all-valid
            # batch stays int64 (no 2^53 precision cliff on the ids)
            rid = pdf["rid"].to_numpy()
            n = len(lid)
            run = np.zeros(n, dtype=np.int64)
            run[1:] = lid[1:] != lid[:-1]
            run = np.cumsum(run)
            invalid = np.isnan(c2)
            if invalid.any():
                c2[invalid] = np.inf  # sort no-candidate markers last
            order = np.lexsort((rid, c2, run))
            run_s = run[order]
            counts = np.bincount(run_s)
            starts_r = np.cumsum(counts) - counts
            starts = np.repeat(starts_r, counts)
            rank = np.arange(n, dtype=np.int64) - starts
            if not with_cert:
                keep = order[rank < k]
                return pd.DataFrame(
                    {
                        "lid": lid[keep],
                        "rid": rid[keep].astype(np.int64, copy=False),
                        "chord2": c2[keep],
                        "rank": (rank[rank < k] + 1).astype(np.int32),
                    }
                )
            nruns = len(counts)
            # candidates per run (invalid rows sorted last never rank
            # below a valid one, so rank-k validity ⇔ ≥k candidates)
            kth_rows = np.flatnonzero(rank == k - 1)  # one per run with ≥k rows
            cert_run = np.zeros(nruns, dtype=bool)
            kth_c2 = c2[order[kth_rows]]
            cert_run[run_s[kth_rows]] = np.isfinite(kth_c2) & (kth_c2 <= cert2)
            row_cert = cert_run[run_s]
            keep_m = (rank < k) & row_cert
            keep = order[keep_m]
            unc_first = order[starts_r[~cert_run]]  # one marker row per run
            out = pd.DataFrame(
                {
                    "lid": np.concatenate([lid[keep], lid[unc_first]]),
                    "rid": np.concatenate(
                        [rid[keep], np.full(len(unc_first), -1, dtype=rid.dtype)]
                    ).astype(np.int64, copy=False),
                    "chord2": np.concatenate(
                        [c2[keep], np.full(len(unc_first), np.nan)]
                    ),
                    "rank": np.concatenate(
                        [rank[keep_m] + 1, np.zeros(len(unc_first), dtype=np.int64)]
                    ).astype(np.int32),
                    "cert": np.concatenate(
                        [np.ones(keep_m.sum(), dtype=bool), np.zeros(len(unc_first), dtype=bool)]
                    ),
                }
            )
            return out

        last_lid = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            lid = pdf["lid"].to_numpy()
            if hold and lid[0] != last_lid:
                yield _emit(pd.concat(hold, ignore_index=True))
                hold = []
            # hold back the trailing run — it may continue next batch
            cut = int(np.flatnonzero(lid != lid[-1])[-1]) + 1 if (lid != lid[-1]).any() else 0
            if cut > 0:
                closed = pdf.iloc[:cut]
                if hold:
                    closed = pd.concat([*hold, closed], ignore_index=True)
                    hold = []
                yield _emit(closed)
            hold.append(pdf.iloc[cut:])
            last_lid = lid[-1]
        if hold:
            yield _emit(pd.concat(hold, ignore_index=True))

    return cand.select("lid", "rid", "chord2").mapInPandas(_part, schema=schema)


def _expand_mode(expand: str | None, broadcast_right: bool | None) -> str:
    """Default explode side: the broadcastable (small) right when the
    caller marked it so, else the left (the gated small-left queries)."""
    if expand is None:
        return "right" if broadcast_right else "left"
    if expand not in ("left", "right"):
        raise ValueError("expand must be 'left', 'right', or None")
    return expand


def _cell_pair(left_t: DataFrame, right_t: DataFrame, chord: float, level: int,
               expand: str) -> tuple[DataFrame, DataFrame]:
    """(l, r) keyed by __cell: ``expand`` names the side that explodes
    to the cap cover; the other carries its one cell. Either
    orientation finds every pair with dist <= chord exactly once: the
    single-cell point lies inside the other's cap, so its cell is in
    that cap's rigorous cover — and it has only one cell, so the pair
    meets in at most one cell (no dedup)."""
    if expand == "left":
        return _cover_explode(left_t, chord, level, "l"), _cell_side(right_t, level, "r")
    return _cell_side(left_t, level, "l"), _cover_explode(right_t, chord, level, "r")


def s2_dwithin_join(
    left: DataFrame,
    right: DataFrame,
    chord: float,
    level: int | None = None,
    salt: int = 1,
    broadcast_right: bool | None = None,
    expand: str | None = None,
) -> DataFrame:
    """All (lid, rid, chord2) pairs with euclidean chord distance <=
    ``chord`` between unit vectors (monotone in great-circle distance:
    chord = 2·sin(angle/2)). Inputs are ``s2_point_prep`` outputs with
    columns (lid|rid, nx, ny, nz).

    Plan: one side → single cell id (Arrow map), the other (``expand``,
    default: the small/broadcast side) → cap-cover explode (Arrow);
    equi-join on cell (broadcast if ``broadcast_right``, else shuffle
    with optional ``salt``-way hot-cell splitting); exact chord² refine
    in codegen. No dedup needed (the single-cell side meets each cover
    at most once)."""
    # one level finer than the cover-bound default: the explode lands on
    # the small side, and the tighter window cuts candidate pairs ~2×
    # per level (measured: 2.36B→1.09B 5→6 on the 5M-page profile) while
    # the join stays the dominant cost
    lvl = level if level is not None else s2.s2_level_for_chord(chord, 6.0)
    l, r = _cell_pair(
        _tagged(left, "l"), _tagged(right, "r"), float(chord), lvl,
        _expand_mode(expand, broadcast_right),
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
    (the DataFrame rounds arm measured 8 candidate-rows of Arrow traffic
    per directory hit; this ships 32 B/page)."""
    from pyspark.sql import types as T

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


def s2_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    n_right: int | None = None,
    chord0: float | None = None,
    max_rounds: int = 6,
    broadcast_right: bool | None = None,
    expand: str | None = None,
    n_left: int | None = None,
    engine: str = "auto",
) -> DataFrame:
    """Exact k nearest right points per left point by chord distance,
    ties broken by ascending rid — via S2 cell-ring expansion: cover the
    current radius, certify rows whose k-th candidate is inside the
    covered radius, escalate the rest 3×. Returns (lid, rid, chord2,
    rank), rank 1..k.

    ``n_right`` sizes the initial radius (uniform-density estimate
    ``theta0 ~ 2*sqrt(k/n)``); pass it to avoid the planning-time
    ``count()`` (the stats-injection escape hatch, same contract as the
    planar kNN's planning aggregates).

    ``expand`` picks the cover-explode side per the module docstring;
    the default explodes the right when ``broadcast_right`` (web scale:
    10^12 query pages take one cell each, the directory pays the ~10-25×
    cover and is still broadcastable), else the left (small query side
    against a huge shuffled corpus)."""
    if chord0 is None:
        if n_right is None:
            n_right = right.count()
        theta0 = 2.0 * math.sqrt(max(k, 1) / max(n_right, 1))
        chord0 = min(2.0, 1.5 * theta0)
    if engine not in ("auto", "kernel", "rounds"):
        raise ValueError(f"engine must be auto|kernel|rounds, got {engine!r}")
    if engine == "kernel" and not broadcast_right:
        raise ValueError("engine='kernel' requires broadcast_right=True (resident directory)")
    if engine != "rounds" and broadcast_right:
        from pyspark.sql import types as T

        id_ok = isinstance(
            left.schema["lid"].dataType, (T.LongType, T.IntegerType)
        ) and isinstance(right.schema["rid"].dataType, (T.LongType, T.IntegerType))
        if id_ok:
            # in-kernel arm: same cell-ring expansion, resident directory,
            # one map stage (geom/s2_knn_kernel.py) — bit-identical to the
            # rounds arm (chord² refine, (chord2, rid) ties), tested in
            # tests/test_s2_kernel.py
            return _knn_kernel_arm(left, right, k, float(chord0))
        if engine == "kernel":
            raise ValueError("engine='kernel' needs integral lid/rid columns")
    mode = _expand_mode(expand, broadcast_right)
    right_t = _tagged(right, "r")
    remaining = _tagged(left, "l")
    results = []
    chord = float(chord0)
    # exact remaining-row bookkeeping (cert lids are distinct and a
    # subset of remaining) replaces per-round isEmpty()/anti-join
    # actions; ``n_left`` is the stats-injection escape for the one
    # up-front count (shuffle arm only — the broadcast arm's in-kernel
    # certification never needs a left count)
    n_remaining = n_left
    for rnd in range(max_rounds):
        lvl = s2.s2_level_for_chord(chord, 6.0)
        l, r = _cell_pair(remaining, right_t, chord, lvl, mode)
        full_sphere = chord >= 2.0
        if broadcast_right and not full_sphere:
            # Broadcast arm: the ENTIRE round — candidates, top-k, AND
            # the certify/escalate bookkeeping — is shuffle-free. The
            # chord² refine rides in the join condition of a LEFT OUTER
            # broadcast join, so a left row with no candidate in the
            # covered radius surfaces as one null row instead of
            # vanishing; the streaming top-k kernel certifies each run
            # in place (k-th candidate within the covered radius) and
            # collapses uncertified runs to one marker row. The
            # escalation set is then a tiny lid column — broadcastable —
            # so ``remaining`` is a broadcast semi-join against the left
            # scan, never an anti-join shuffled by the full top-k. (The
            # r3.0 bookkeeping shuffled twice per round: a groupBy-kth
            # over k·|left| rows and, whenever even one row escalated, a
            # lid-hash join of the full top-k against the certified set
            # — at 10M rows those two shuffles were the entire gap
            # between 0.80 and ~0.9 raw scaling efficiency.)
            rr = F.broadcast(r)
            c2 = _chord2("l", "r")
            cond = (l["__cell"] == rr["__cell"]) & (c2 <= F.lit(chord * chord))
            cand = l.join(rr, on=cond, how="left").select(
                "lid", "rid", c2.alias("chord2")
            )
            # ONE expensive pass per round: materialize the round's
            # certified top-k + uncertified markers (executor-local
            # blocks) so the n_unc count, the escalation lids, and the
            # final union read a local scan instead of recomputing the
            # explode→join→top-k chain (measured 3× the round cost
            # without)
            topk = _topk_stream(cand, k, cert2=chord * chord).localCheckpoint(eager=True)
            unc = topk.where(~F.col("cert"))
            n_unc = unc.count()  # cheap scan of the checkpointed top-k
            results.append(topk.where(F.col("cert")).drop("cert"))
            if n_unc == 0:
                break
            remaining = remaining.join(
                F.broadcast(unc.select("lid")), on="lid", how="semi"
            )
            chord = min(2.0, chord * 3.0)
            continue
        rr = F.broadcast(r) if broadcast_right else r
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
        if broadcast_right:
            # full-sphere broadcast round: plain exact top-k, everything
            # certifies by construction
            topk = _topk_stream(cand, k)
        else:
            # shuffle arm: top-k per lid (partitioned window — one
            # shuffle on lid; the cell equi-join already shuffled, so
            # contiguity does not hold here)
            from pyspark.sql import Window

            w = Window.partitionBy("lid").orderBy(F.col("chord2").asc(), F.col("rid").asc())
            topk = cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
        if full_sphere:
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
            n_remaining = 0
            break
        # cert scales with the LEFT row count (one row per certified
        # lid), so never force-broadcast it — topk is already
        # lid-partitioned from the window, and AQE broadcast-converts
        # at runtime when cert turns out small
        done = topk.join(cert, "lid", "inner")
        results.append(done)
        remaining = remaining.join(cert, "lid", "left_anti").localCheckpoint(eager=False)
        n_remaining -= n_cert
        chord = min(2.0, chord * 3.0)
    else:
        # max_rounds exhausted without reaching the whole sphere: one
        # exact final pass at chord=2 (full cover — always certified),
        # same broadcast/top-k arms as the loop rounds
        l, r = _cell_pair(remaining, right_t, 2.0, 0, mode)
        rr = F.broadcast(r) if broadcast_right else r
        cand = l.join(rr, on="__cell", how="inner").select(
            "lid", "rid", _chord2("l", "r").alias("chord2")
        )
        if broadcast_right:
            results.append(_topk_stream(cand, k))
        else:
            from pyspark.sql import Window

            w = Window.partitionBy("lid").orderBy(F.col("chord2").asc(), F.col("rid").asc())
            results.append(cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k))
    out = results[0]
    for df in results[1:]:
        out = out.unionByName(df)
    return out
