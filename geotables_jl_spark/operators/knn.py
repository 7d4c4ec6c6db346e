"""One kNN engine for the plane and the sphere: exact k nearest
directory points of every query point, ties by ascending rid, under a
metric spec from ``geom/knn_kernel.py`` (``Planar`` or ``Sphere``).
Every search runs the numpy kernel ``knn_exact``; the directory's size
and the ``on=`` keys pick how the directory reaches it:

- **kernel arm** (a directory whose worker index fits the
  ``KNN_BROADCAST_ROWS`` budget, no ``on=`` keys): ONE narrow map
  stage. The directory rides to workers once as a rid-sorted numpy
  broadcast, and ``knn_exact`` runs per Arrow batch of query rows
  (covered pass, certification, one 3× escalation, brute force for the
  rest). No shuffle and no driver rounds: it scales like a scan.
- **tile arm** (larger directory, or ``on=`` keys): certify-or-escalate
  rounds, each ONE cogrouped pass. A query row keys to its own tile (a
  square of side ≥ 2·bound, or an S2 cell no finer than the spec's); a
  directory point is copied, rid and all, into every tile within the
  bound of it (≤ 2×2 squares, or its cap cover at the tile level). Per
  (tile, *keys) group, NULL keys together as in the reference's
  ``isequal``, ``knn_exact`` runs over the tile's query rows against
  the tile's directory. A row is certified when its k-th distance is
  within the bound (every point that close is in its tile's halo) or
  when one group holds its key's whole directory; the rest escalate at
  3× the bound, and the last round is one tile, so it is exact. The
  tile count comes from the directory's worker bytes against the kernel
  arm's budget, and is at least the session's shuffle partitions.

Both arms emit (lid, rids, dists) list rows through one function, and
the JVM fans them out with one codegen posexplode. Both first drop
query and directory rows with a NULL, NaN or infinite coordinate: such
a point has no neighbours and is no one's. A side known to be empty
returns no rows without a job; ``n_right`` may be a footer estimate
that counts non-finite rows, so a directory found empty by the kernel
arm's collect, or by the tile arm after a first round that certified
nothing, also returns no rows without further jobs.
"""

from __future__ import annotations

import math
from functools import reduce

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from geotables_jl_spark.geom.knn_kernel import Metric, Planar, PointIndex, Sphere, knn_exact

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
#: heap) and 0.91 GB Python RSS in that run. The tile arm sizes its
#: tiles to the same budget.
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
    apply to the tile arm."""
    lt, rt = points(left, "l", spec, n_keys), points(right, "r", spec, n_keys)
    if n_right == 0 or n_left == 0:
        return empty(lt, rt)
    if n_keys or not small(n_right, spec):
        return _tile_arm(lt, rt, spec, k, n_keys, max_rounds, n_left, n_right)
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


def _index(tbl: pa.Table, spec: Metric) -> PointIndex:
    """The directory rows of ``tbl`` (__rid, __rx, …) as a ``PointIndex``."""
    xs = [tbl.column(f"__r{c}").to_numpy(zero_copy_only=False) for c in spec.cols]
    return PointIndex(tbl.column("__rid").combine_chunks(), xs)


def _emit(tbl, index: PointIndex, spec: Metric, k: int) -> pa.Table:
    """(__lid, __rids, __dists) of the query rows of ``tbl`` (__lid,
    __lx, …): each row's neighbours in ``index`` by (dist, rid)."""
    q = tuple(tbl.column(f"__l{c}").to_numpy(zero_copy_only=False) for c in spec.cols)
    pos, dist = knn_exact(q, index, spec, k)
    off = pa.array(np.arange(len(pos) + 1, dtype=np.int32) * pos.shape[1])
    rids = pa.ListArray.from_arrays(off, index.rid.take(pa.array(pos.reshape(-1))))
    dists = pa.ListArray.from_arrays(off, pa.array(dist.reshape(-1)))
    return pa.Table.from_arrays([tbl.column("__lid"), rids, dists], names=["__lid", "__rids", "__dists"])


def _schema(left: DataFrame, right: DataFrame) -> T.StructType:
    """The schema of ``_emit``'s tables."""
    rids = T.StructField("__rids", T.ArrayType(right.schema["__rid"].dataType))
    return T.StructType([left.schema["__lid"], rids, T.StructField("__dists", T.ArrayType(T.DoubleType()))])


def _explode(lists: DataFrame) -> DataFrame:
    """``_emit`` rows → (__lid, __rid, __dist, __rank): a codegen posexplode."""
    z = F.col("__z")
    return lists.select("__lid", F.posexplode(F.arrays_zip("__rids", "__dists")).alias("__pos", "__z")).select(
        "__lid", z["__rids"].alias("__rid"), z["__dists"].alias("__dist"), (F.col("__pos") + 1).alias("__rank")
    )


def _kernel_arm(left: DataFrame, right: DataFrame, spec: Metric, k: int) -> DataFrame:
    """ONE map stage against a broadcast directory (see module docstring)."""
    tbl = right.select("__rid", *(f"__r{c}" for c in spec.cols)).toArrow()
    if tbl.num_rows == 0:
        # n_right may be a footer estimate that counted non-finite rows
        return empty(left, right)
    bc = left.sparkSession.sparkContext.broadcast(_index(tbl, spec))

    def _iter(batches):
        idx = bc.value
        for rb in batches:
            yield from _emit(rb, idx, spec, k).to_batches()

    return _explode(left.select("__lid", *(f"__l{c}" for c in spec.cols)).mapInArrow(_iter, _schema(left, right)))


def tiled(df: DataFrame, tag: str, spec: Metric, fn, name: str = "__tile") -> DataFrame:
    """``df`` (a ``points`` side) plus a long ``name`` key from one Arrow
    map running ``fn`` over its coordinates: ``fn`` gives (None, a key
    per row), or (rows, keys) to copy row ``rows[i]`` under ``keys[i]``.
    ``fn`` None keys every row 0."""
    if fn is None:
        return df.withColumn(name, F.lit(0).cast("long"))
    xs = [f"__{tag}{c}" for c in spec.cols]
    schema = T.StructType(df.schema.fields + [T.StructField(name, T.LongType())])

    def _iter(batches):
        for rb in batches:
            rows, key = fn(*(rb.column(c).to_numpy(zero_copy_only=False) for c in xs))
            if rows is not None:
                rb = rb.take(pa.array(rows))
            yield rb.append_column(name, pa.array(key, pa.int64()))

    return df.mapInArrow(_iter, schema)


def _tiling(spec: Metric, tiles: int):
    """This round's (key, halo) functions for ``tiled``: ``key`` keys a
    query row to its own tile, ``halo`` copies a directory point into
    every tile within ``spec.bound`` of it. About ``tiles`` tiles over
    the data, never finer than the spec's own cells. None when one tile
    holds the whole directory: the spec covers everything, or one tile
    was asked for."""
    if spec.covers_all or tiles == 1:
        return None
    if isinstance(spec, Sphere):
        # 6·4^level cells; the cap cover is rigorous at any level
        grid = Sphere(spec.chord, min(spec.level, int(math.log(max(tiles / 6.0, 1.0), 4))))
        return (lambda *q: (None, grid.cells(*q))), (lambda *q: grid.index(*q)[:2])
    # the bound plus a margin for rounding stays under half a tile, so a
    # point's halo is the tiles of its square's corners: at most 2×2
    side = max(2.0 * spec.bound / (1.0 - 4e-6), spec.extent / math.sqrt(tiles))
    grid, b = Planar(side), spec.bound + 1e-6 * side

    def halo(x, y):
        keys = np.sort(np.stack([grid.cells(x + dx, y + dy) for dx in (-b, b) for dy in (-b, b)], 1), 1)
        rows, col = np.nonzero(np.c_[np.ones(len(x), bool), keys[:, 1:] != keys[:, :-1]])
        return rows, keys[rows, col]

    return (lambda x, y: (None, grid.cells(x, y))), halo


def _tile_pass(remaining: DataFrame, right: DataFrame, spec: Metric, k: int, n_keys: int, tiling) -> DataFrame:
    """One tile-arm round: the ``_emit`` rows of every remaining query
    row, from ``knn_exact`` per (tile, *keys) group against the
    directory points of the tile's halo."""
    key, halo = tiling or (None, None)

    def _run(lq, rd):
        # cogroup also calls the groups that hold only directory rows
        return _emit(lq, _index(rd if lq.num_rows else rd.slice(0, 0), spec), spec, k)

    def keyed(df, tag, fn):
        return tiled(df, tag, spec, fn).groupBy("__tile", *(f"__{tag}k{i}" for i in range(n_keys)))

    groups = keyed(remaining, "l", key).cogroup(keyed(right, "r", halo))
    return groups.applyInArrow(_run, _schema(remaining, right))


def _group_keys(left: DataFrame, right: DataFrame, n_keys: int):
    """Both sides with each ``on=`` key pair as the cogroup must see it
    to group like the null-safe equality: in one common type (a cogroup
    hashes each side's own type, so an int 1 and a long 1 land apart),
    floats with -0.0 as 0.0 (they hash apart but sort as one)."""
    for i in range(n_keys):
        lk, rk = f"__lk{i}", f"__rk{i}"
        nulls = [F.lit(None).cast(df.schema[c].dataType) for df, c in ((left, lk), (right, rk))]
        t = left.sparkSession.range(0).select(F.coalesce(*nulls)).schema[0].dataType

        def norm(c):
            c = F.col(c).cast(t)
            return F.when(c == 0, F.lit(0).cast(t)).otherwise(c) if isinstance(t, (T.FloatType, T.DoubleType)) else c

        left, right = left.withColumn(lk, norm(lk)), right.withColumn(rk, norm(rk))
    return left, right


def _tile_arm(left, right, spec, k, n_keys, max_rounds, n_left, n_right) -> DataFrame:
    """Certify-or-escalate tile rounds (see module docstring)."""
    left, right = _group_keys(left, right, n_keys)
    # enough tiles for each tile's index to fit a worker's kernel budget,
    # and at least one per shuffle partition
    budget = max(KNN_BROADCAST_ROWS * Sphere.point_bytes, 1)
    parts = int(left.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    tiles = max(-(-n_right * spec.point_bytes // budget), parts)
    results = []
    remaining = left
    n_remaining = left.count() if n_left is None else n_left
    for i in range(max_rounds + 1):
        spec = spec.full() if i == max_rounds else spec
        tiling = _tiling(spec, tiles)
        lists = _tile_pass(remaining, right, spec, k, n_keys, tiling)
        if tiling is None:
            # one group per key holds its whole directory: exact
            results.append(lists)
            break
        # one expensive pass per round: materialize its lists so the
        # certified set and the remainder below are cheap scans of it
        lists = lists.localCheckpoint(eager=True)
        # every point within the bound of a row is in its tile's halo
        ok = F.coalesce(F.get("__dists", k - 1) <= F.lit(spec.bound), F.lit(False))
        n_cert = lists.where(ok).count()
        if n_cert == n_remaining:
            results.append(lists)
            break
        if not n_cert and not results and right.isEmpty():
            # n_right may be a footer estimate that counted non-finite rows
            return empty(left, right)
        results.append(lists.where(ok))
        remaining = remaining.join(lists.where(~ok).select("__lid"), "__lid", "left_semi").localCheckpoint(eager=False)
        n_remaining -= n_cert
        spec = spec.escalate()
    return _explode(reduce(DataFrame.unionByName, results))
