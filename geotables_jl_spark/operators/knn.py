"""One kNN engine for the plane and the sphere: exact k nearest
directory points of every query point, ties by ascending rid, under a
metric spec from ``geom/knn_kernel.py`` (``Planar`` or ``Sphere``).
The directory's row count picks one of two arms:

- **kernel arm** (a directory whose worker index fits the
  ``KNN_BROADCAST_ROWS`` budget, no ``on=`` keys): ONE narrow map
  stage. The directory rides to workers once as a rid-sorted numpy
  broadcast; each Arrow batch ships (lid, coordinates) in and (lid,
  rids, dists) out, and ``knn_exact`` runs the whole cell-ring
  expansion in-batch (covered pass, certification, one 3× escalation,
  brute force for the rows still uncertified). The JVM fans the lists
  out with a codegen posexplode. No shuffle and no driver rounds, so
  the job scales with executors like a scan.
- **rounds arm** (larger directory, or ``on=`` keys): certify-or-escalate
  DataFrame rounds. A round explodes the smaller of the directory and
  the remaining query rows to the spec's index cells (one Arrow map),
  equi-joins the other side's single cell plus the ``on=`` keys
  (null-safe, the reference's ``isequal``), and ranks by (dist, rid) in
  one lid window; a row is certified when its k-th candidate is within
  the spec's bound. Both covers hold every point within the bound, so
  either orientation certifies the same rows. A directory under
  ``KNN_BROADCAST_ROWS`` rows is broadcast. The rest escalate: the
  search radius triples at a 3× coarser resolution, so each cover stays
  ~(2r+1)² cells. The last round covers everything, so it is exact.

Both arms first drop query and directory rows with a NULL, NaN or
infinite coordinate: such a point has no neighbours and is no one's.
A side known to be empty returns no rows without a kernel or rounds job.
``n_right`` may be a footer estimate that counts non-finite rows, so a
directory found empty by the kernel arm's collect, or by the rounds
arm after a first round that certified nothing, also returns no rows
without further jobs.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geotables_jl_spark.geom.knn_kernel import Metric, Sphere

#: the kernel arm's budget, in sphere directory rows: a directory takes
#: the kernel arm while ``n_right · spec.point_bytes`` stays under
#: ``KNN_BROADCAST_ROWS · Sphere.point_bytes`` (~1 GB per Python
#: worker), so the plane's compact index keeps it to 10M rows. Each
#: worker unpickles the directory and builds its cell index, and a batch
#: that escalates builds a second one. Peak RSS growth of one worker
#: doing all that and scoring a 65,536-row batch, uniform points just
#: under the threshold (numpy 1.26, 4-vCPU / 15 GB host): sphere at
#: 249,999 points 0.99 GB (k=10) and 0.86 GB (k=50); planar, one
#: ``knn_join`` of 200k queries against 9,999,999 points on local[4],
#: 0.83 GB in each of the 4 workers. Linear in the directory.
#: The driver is not the binding limit at 10M planar rows: its
#: ``toArrow`` collect and broadcast peaked at 2.33 GB JVM RSS (1.9 GB
#: heap) and 0.91 GB Python RSS in that run.
KNN_BROADCAST_ROWS = 250_000


def small(n_right: int, spec: Metric) -> bool:
    """True while a worker's ``spec`` index of ``n_right`` directory
    points fits the kernel arm's budget (``KNN_BROADCAST_ROWS``)."""
    return n_right * spec.point_bytes < KNN_BROADCAST_ROWS * Sphere.point_bytes


def finite(*cols: Column) -> Column:
    """True where every coordinate is finite: ``abs(c) < inf`` is NULL
    for NULL and false for NaN (Spark orders NaN above +inf) and ±inf."""
    return reduce(Column.__and__, [F.abs(c) < F.lit(float("inf")) for c in cols])


def points(df: DataFrame, tag: str, spec: Metric, n_keys: int) -> DataFrame:
    """(id, *coordinates, *keys), by position → (__{tag}id, __{tag}x, …,
    __{tag}k0, …) with non-finite points dropped."""
    xs = [f"__{tag}{c}" for c in spec.cols]
    df = df.toDF(f"__{tag}id", *xs, *[f"__{tag}k{i}" for i in range(n_keys)])
    return df.where(finite(*map(F.col, xs)))


def nearest(
    left: DataFrame,
    right: DataFrame,
    spec: Metric,
    k: int,
    *,
    n_right: int,
    n_keys: int = 0,
    max_rounds: int = 6,
    n_left: int | None = None,
) -> DataFrame:
    """(__lid, __rid, __dist, __rank) rows: the ``k`` nearest ``right``
    points of every ``left`` point under ``spec``, ranked 1..k by
    (dist, rid). Both sides are (id, *coordinates in ``spec.cols`` order,
    *the last ``n_keys`` columns as ``on=`` keys), by position; any
    orderable id type works. ``n_right`` (the directory's row count)
    picks the arm; ``max_rounds`` and ``n_left`` (the query row count
    after the non-finite drop, when known: it saves a count job) only
    apply to the rounds arm."""
    lt, rt = points(left, "l", spec, n_keys), points(right, "r", spec, n_keys)
    if n_right == 0 or n_left == 0:
        return empty(lt, rt)
    if n_keys or not small(n_right, spec):
        return _rounds_arm(lt, rt, spec, k, n_keys, max_rounds, n_left, n_right)
    return _kernel_arm(lt, rt, spec, k)


def empty(left: DataFrame, right: DataFrame, extra: list[str] = ()) -> DataFrame:
    """The (__lid, __rid, __dist, __rank, *extra) frame with no rows: ids
    typed as the first column of each side, ``extra`` as in ``right``."""
    schema = T.StructType(
        [
            T.StructField("__lid", left.schema.fields[0].dataType),
            T.StructField("__rid", right.schema.fields[0].dataType),
            T.StructField("__dist", T.DoubleType()),
            T.StructField("__rank", T.IntegerType()),
        ]
        + [right.schema[c] for c in extra]
    )
    return left.sparkSession.createDataFrame([], schema)


def _kernel_arm(left: DataFrame, right: DataFrame, spec: Metric, k: int) -> DataFrame:
    """ONE map stage against a broadcast directory (see module docstring)."""
    import pyarrow as pa

    from geotables_jl_spark.geom.knn_kernel import PointIndex, knn_exact

    xs = [f"__r{c}" for c in spec.cols]
    tbl = right.select("__rid", *xs).toArrow()
    if tbl.num_rows == 0:
        # n_right may be a footer estimate that counted non-finite rows
        return empty(left, right)
    index = PointIndex(tbl.column("__rid").combine_chunks(), [tbl.column(c).to_numpy() for c in xs])
    bc = left.sparkSession.sparkContext.broadcast(index)
    schema = T.StructType(
        [
            left.schema["__lid"],
            T.StructField("__rids", T.ArrayType(right.schema["__rid"].dataType)),
            T.StructField("__dists", T.ArrayType(T.DoubleType())),
        ]
    )

    def _iter(batches):
        idx = bc.value
        for rb in batches:
            q = tuple(rb.column(i).to_numpy(zero_copy_only=False) for i in range(1, rb.num_columns))
            off, pos, dist = knn_exact(q, idx, spec, k)
            off = pa.array(off.astype(np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    pa.ListArray.from_arrays(off, idx.rid.take(pa.array(pos))),
                    pa.ListArray.from_arrays(off, pa.array(dist)),
                ],
                names=["__lid", "__rids", "__dists"],
            )

    lists = left.select("__lid", *(f"__l{c}" for c in spec.cols)).mapInArrow(_iter, schema)
    z = F.col("__z")
    return lists.select("__lid", F.posexplode(F.arrays_zip("__rids", "__dists")).alias("__pos", "__z")).select(
        "__lid", z["__rids"].alias("__rid"), z["__dists"].alias("__dist"), (F.col("__pos") + 1).alias("__rank")
    )


def cells(df: DataFrame, spec: Metric, tag: str, explode: bool) -> DataFrame:
    """One Arrow map adding ``__{tag}cell`` to a ``points`` side: each
    row's query cell, or with ``explode`` one row per index entry — the
    spec functions the kernel's probe and index build run."""
    import pyarrow as pa

    xs = [f"__{tag}{c}" for c in spec.cols]
    out = f"__{tag}cell"
    schema = T.StructType(df.schema.fields + [T.StructField(out, T.LongType())])

    def _iter(batches):
        for rb in batches:
            q = [rb.column(c).to_numpy(zero_copy_only=False) for c in xs]
            if explode:
                rows, cell = spec.entries(*q)
                rb = rb.take(pa.array(rows))
            else:
                cell = spec.cells(*q)
            yield rb.append_column(out, pa.array(cell, pa.int64()))

    return df.mapInArrow(_iter, schema)


def _round(
    remaining: DataFrame, right: DataFrame, spec: Metric, k: int, n_keys: int, explode_right: bool, broadcast: bool
) -> DataFrame:
    """One rounds-arm pass: per lid, the top-k candidates by (dist, rid)
    among the spec's index cells, with the ``explode_right`` side
    exploded. Candidates beyond the bound can never certify a row, so
    they are dropped before the window (the cover oversamples the search
    radius several times) — except in a round that covers everything,
    which certifies by construction."""
    cond = F.col("__lcell") == F.col("__rcell")
    for i in range(n_keys):
        cond = cond & F.col(f"__lk{i}").eqNullSafe(F.col(f"__rk{i}"))
    dist = spec.dist([F.col(f"__l{c}") for c in spec.cols], [F.col(f"__r{c}") for c in spec.cols], F.sqrt)
    r = cells(right, spec, "r", explode=explode_right)
    l = cells(remaining, spec, "l", explode=not explode_right)
    cand = l.join(F.broadcast(r) if broadcast else r, cond).select("__lid", "__rid", dist.alias("__dist"))
    if not spec.covers_all:
        cand = cand.where(F.col("__dist") <= F.lit(spec.bound))
    w = Window.partitionBy("__lid").orderBy(F.col("__dist").asc(), F.col("__rid").asc())
    return cand.withColumn("__rank", F.row_number().over(w)).where(F.col("__rank") <= k)


def _rounds_arm(left, right, spec, k, n_keys, max_rounds, n_left, n_right) -> DataFrame:
    """Certify-or-escalate rounds (see module docstring)."""
    results = []
    # a JVM broadcast holds rows, not a worker's index: the row budget,
    # whatever the spec's index bytes
    broadcast = n_right < KNN_BROADCAST_ROWS
    remaining = left
    n_remaining = left.count() if n_left is None else n_left
    for _ in range(max_rounds):
        topk = _round(remaining, right, spec, k, n_keys, n_right <= n_remaining, broadcast)
        if spec.covers_all:
            results.append(topk)
            break
        # one expensive pass per round: materialize its top-k so the
        # certified set and the remainder below are cheap scans of it
        topk = topk.localCheckpoint(eager=True)
        # candidates are within the bound, so a k-th one certifies its lid
        cert = topk.where(F.col("__rank") == k).select("__lid")
        n_cert = cert.count()
        if n_cert == n_remaining:
            results.append(topk)
            break
        if not n_cert and not results and right.isEmpty():
            # n_right may be a footer estimate that counted non-finite rows
            return empty(left, right)
        # cert scales with the query side, so it is never force-broadcast:
        # topk is lid-partitioned by the window, and AQE broadcasts a small cert
        results.append(topk.join(cert, "__lid"))
        remaining = remaining.join(cert, "__lid", "left_anti").localCheckpoint(eager=False)
        n_remaining -= n_cert
        spec = spec.escalate()
    else:
        results.append(_round(remaining, right, spec.full(), k, n_keys, n_right <= n_remaining, broadcast))
    return reduce(DataFrame.unionByName, results)
