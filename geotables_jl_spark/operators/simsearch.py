"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the small query matrix
  ships in the task closure; corpus partitions score Arrow batches with
  one BLAS matmul each and emit tie-safe local top-k, finished by a tiny
  exact window. The correctness baseline; cost O(|Q| × n × d / cores).
- ``ann_lsh_topk``: the scale path — sign-LSH (seeded hyperplanes)
  bucket join with multi-probe (hamming-1 probes), exact rerank within
  candidates. Sub-linear candidate sets at 100 TB; recall tunable via
  planes/probes.
- ``ann_ivf_topk``: IVF-style — k-means-free variant whose coarse cells
  are the corpus vectors with the smallest ids; provided as
  partition-pruned search over a bucketed corpus table.

Corpus-side work (hashing, IVF assignment, candidate rerank) runs as
Arrow kernels whose dim-by-dim accumulation is bit-identical to the SQL
fold: compiled row-vectorized math instead of interpreted higher-order
functions, already faster than the folds at 500 corpus rows. The small
query side (its sign bucket, its IVF cells) stays a JVM ``aggregate``
fold of the same shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k: one row per (query, rank≤k) with neighbor id +
    cosine; ties broken by neighbor id for determinism.

    The query matrix is small by contract (ANN queries ≪ corpus): it is
    collected once and shipped in the task closure; each corpus partition
    then scores its Arrow batches with ONE numpy matmul per batch and
    keeps a tie-safe local top-k per query (everything ≥ the k-th score
    survives, so global ties still resolve by id). The final exact rank
    is a window over ≤ partitions × (k + ties) × |Q| rows — the corpus
    never shuffles, scoring is BLAS, and cost is O(n·|Q|·d / cores)."""
    import numpy as np

    qp = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv")
    ).toPandas()
    qids = qp["query_id"].to_numpy()
    if len(qids) == 0:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, rank int, neighbor_id long, cosine double"
        )
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in qp["__qv"]])
    qn = np.linalg.norm(Q, axis=1)
    kk = int(k)
    excl = bool(exclude_self)

    def _part(batches):
        import pandas as pd

        q_parts: list = []
        id_parts: list = []
        cos_parts: list = []
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["__cv"]])
            cn = np.linalg.norm(C, axis=1)
            S = (C @ Q.T) / np.outer(cn, qn)  # b × m
            ids = pdf["neighbor_id"].to_numpy()
            if excl:
                S = np.where(ids[:, None] == qids[None, :], -np.inf, S)
            b, m = S.shape
            take = min(kk, b)
            # tie-INCLUSIVE per-batch prune: keep everything ≥ the k-th
            # batch score — a tied neighbor with a smaller id at the
            # batch boundary must survive to the exact global tiebreak
            if take < b:
                part = np.argpartition(-S, take - 1, axis=0)
                kth = S[part[take - 1, :], np.arange(m)]
                keep = S >= kth[None, :]
            else:
                keep = np.ones_like(S, dtype=bool)
            rows_i, rows_q = np.nonzero(keep)
            q_parts.append(rows_q)
            id_parts.append(ids[rows_i])
            cos_parts.append(S[rows_i, rows_q])
        if not q_parts:
            return
        qv = np.concatenate(q_parts)
        idv = np.concatenate(id_parts)
        cv = np.concatenate(cos_parts)
        # partition-level tie-safe top-k over the ragged candidate pool:
        # sort by (query, score desc), take the per-query k-th score, keep
        # every row ≥ it (ties included)
        o = np.lexsort((-cv, qv))
        qv, idv, cv = qv[o], idv[o], cv[o]
        starts = np.r_[0, 1 + np.nonzero(np.diff(qv))[0]]
        ends = np.r_[starts[1:], len(qv)]
        kth_idx = np.minimum(starts + kk - 1, ends - 1)
        kth_per_row = np.repeat(cv[kth_idx], ends - starts)
        keep = cv >= kth_per_row
        yield pd.DataFrame(
            {
                "query_id": qids[qv[keep]],
                "neighbor_id": idv[keep],
                "cosine": cv[keep],
            }
        )

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    local = c.mapInPandas(_part, schema="query_id long, neighbor_id long, cosine double")
    return _rank(local.filter(F.col("cosine") != F.lit(float("-inf"))), k)


def _flat_matrix(rb, name_idx: dict, col: str):
    """(n, d) float64 matrix from an Arrow list column (fixed width)."""
    import numpy as np

    arr = rb.column(name_idx[col])
    if hasattr(arr, "combine_chunks"):
        arr = arr.combine_chunks()
    flat = np.asarray(arr.flatten(), dtype=np.float64)
    n = rb.num_rows
    return flat.reshape(n, flat.size // n) if n else flat.reshape(0, 0)


def _seqdot(A, B):
    """Row-wise dot of two (n, d) matrices accumulated DIM-BY-DIM —
    the same addition sequence as the SQL ``aggregate`` left fold, so
    results are bit-identical to the JVM/DuckDB expression (a BLAS
    matmul would pairwise-sum and drift ulps)."""
    import numpy as np

    out = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        out += A[:, j] * B[:, j]
    return out


def _seqdots(V, M):
    """(n, m) dots of every row of ``V`` (n, d) with every row of ``M``
    (m, d), each accumulated dim-by-dim like ``_seqdot``."""
    import numpy as np

    out = np.zeros((V.shape[0], M.shape[0]))
    for j in range(V.shape[1]):
        out += V[:, j][:, None] * M[:, j][None, :]
    return out


def _rerank_cos_arrow(cand: DataFrame) -> DataFrame:
    """Exact cosine for candidate pairs (query_id, neighbor_id, __qv,
    __cv) in ONE Arrow pass — vectors and norms never reach the window
    shuffle, and the per-candidate fold is compiled row-vectorized math
    with fold-identical accumulation order."""
    import numpy as np
    import pyarrow as pa

    out_schema = T.StructType(
        [
            cand.schema["query_id"],
            cand.schema["neighbor_id"],
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def _iter(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = {n: i for i, n in enumerate(rb.schema.names)}
            Q = _flat_matrix(rb, names, "__qv")
            C = _flat_matrix(rb, names, "__cv")
            qn = np.sqrt(_seqdot(Q, Q))
            cn = np.sqrt(_seqdot(C, C))
            cos = _seqdot(Q, C) / (qn * cn)
            yield pa.record_batch(
                [rb.column(names["query_id"]), rb.column(names["neighbor_id"]), pa.array(cos)],
                names=["query_id", "neighbor_id", "cosine"],
            )

    return cand.select("query_id", "neighbor_id", "__qv", "__cv").mapInArrow(
        _iter, schema=out_schema
    )


def _vectors(corpus, id_col, vec_col, queries, query_id_col, query_vec_col):
    """The ANN sides as (neighbor_id, __cv) and (query_id, __qv). A NULL
    vector has no neighbours and is no one's: the kernels read fixed
    -width vectors."""
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("__qv"))
    return c.where(F.col("__cv").isNotNull()), q.where(F.col("__qv").isNotNull())


def _rank(scored: DataFrame, k: int) -> DataFrame:
    """Top-k of (query_id, neighbor_id, cosine) per query by cosine desc,
    ties by neighbor id, as (query_id, rank, neighbor_id, cosine)."""
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", F.round("cosine", 6).alias("cosine"))
    )


def _sign_bucket(v: Column, planes, nbits: int) -> Column:
    bits = F.lit(0).cast("long")
    for p in range(nbits):
        d = F.aggregate(
            F.zip_with(v, F.array(*[F.lit(float(c)) for c in planes[p]]), lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits = bits.bitwiseOR(F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long"))
    return bits


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    planes: int = 12,
    probes: int = 1,
    seed: int = 42,
    exclude_self: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via sign-LSH buckets + multi-probe.

    Corpus is hashed once into 2^planes buckets by one Arrow pass (at
    scale this is the bucketing/partition column of the stored table,
    so a query probes only its buckets: partition pruning). Each query
    probes its own bucket plus all hamming-``probes`` neighbors, then
    candidates are exactly reranked. Output schema matches
    ``cosine_topk`` (a query with fewer than k candidates returns fewer
    rows — raise probes for recall).
    """
    import numpy as np
    import pyarrow as pa

    c, q = _vectors(corpus, id_col, vec_col, queries, query_id_col, query_vec_col)
    # dim= lets callers skip the 1-row planning action (same escape hatch
    # as geojoin's stats=)
    if dim is None:
        dim = len(c.first()["__cv"])
    rng = np.random.default_rng(seed)
    H = rng.standard_normal((planes, dim))
    bit = np.int64(1) << np.arange(planes, dtype=np.int64)

    hash_schema = T.StructType(
        [c.schema["neighbor_id"], c.schema["__cv"], T.StructField("__bkt", T.LongType())]
    )

    def _hash_iter(batches):
        # planes-many dim-by-dim dots: the query side's JVM fold, so the
        # sign bits are identical on both sides
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = {n: i for i, n in enumerate(rb.schema.names)}
            bits = np.where(_seqdots(_flat_matrix(rb, names, "__cv"), H) >= 0, bit, 0).sum(axis=1)
            yield pa.record_batch(
                [rb.column(names["neighbor_id"]), rb.column(names["__cv"]), pa.array(bits)],
                names=["neighbor_id", "__cv", "__bkt"],
            )

    c = c.mapInArrow(_hash_iter, schema=hash_schema)
    q = q.withColumn("__qbkt", _sign_bucket(F.col("__qv"), H, planes))
    # multi-probe: own bucket + hamming-1 flips (and hamming-2 if probes>=2)
    probe_list = [F.col("__qbkt")]
    if probes >= 1:
        probe_list += [F.col("__qbkt").bitwiseXOR(F.lit(1 << p)) for p in range(planes)]
    if probes >= 2:
        probe_list += [
            F.col("__qbkt").bitwiseXOR(F.lit((1 << p) | (1 << r)))
            for p in range(planes)
            for r in range(p + 1, planes)
        ]
    q = q.withColumn("__bkt", F.explode(F.array(*probe_list)))
    cand = c.join(F.broadcast(q), on="__bkt")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    # dedupe multi-probe double-hits BEFORE scoring (cosine is a pure
    # function of the pair, so scoring after the dedupe is identical)
    cand = cand.dropDuplicates(["query_id", "neighbor_id"])
    return _rank(_rerank_cos_arrow(cand), k)


def ann_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    k: int = 10,
    ncentroids: int = 16,
    nprobe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style approximate cosine top-k: coarse quantize the corpus
    into ``ncentroids`` cells, probe the ``nprobe`` best cells per
    query, exact-rerank the candidates.

    Coarse centroids are the ``ncentroids`` corpus vectors with the
    smallest ids — deterministic and SQL-expressible (the DuckDB oracle
    replays the whole pipeline), unlike k-means whose float iteration
    order is engine-specific. At 100 TB the assignment column is the
    stored table's partition/bucket key, so probing = partition pruning:
    a query touches nprobe/ncentroids of the corpus.

    Determinism/oracle parity: every dot product is a SEQUENTIAL left
    fold over the vector — the corpus assignment and the candidate
    rerank run as Arrow numpy kernels vectorized over ROWS but
    accumulated dim-by-dim (bit-identical to ``list_dot_product``; a
    BLAS matmul would pairwise-sum and drift ulps), and the small query
    side's cell choice is a JVM ``aggregate`` fold of the same shape.

    Output: (query_id, rank, neighbor_id, cosine) like ``cosine_topk``.
    """
    import math as _math

    import numpy as np
    import pyarrow as pa

    c, q = _vectors(corpus, id_col, vec_col, queries, query_id_col, query_vec_col)
    cent_rows = c.orderBy("neighbor_id").limit(ncentroids).collect()
    cents = [(int(r["neighbor_id"]), [float(v) for v in r["__cv"]]) for r in cent_rows]

    def _cos_to_cent(vec: Column, vnorm: Column, cvec: list[float]) -> Column:
        arr = F.array(*[F.lit(v) for v in cvec])
        cnorm = _math.sqrt(sum(v * v for v in cvec))  # left fold, = SQL's
        return dot(vec, arr) / (vnorm * F.lit(cnorm))

    def _best_cells(vec: Column, vnorm: Column, n: int) -> Column:
        # struct(-cos, cid): ascending sort = cosine desc, ties cid asc
        scored = F.array(
            *[
                F.struct((-_cos_to_cent(vec, vnorm, cv)).alias("nc"), F.lit(cid).alias("cid"))
                for cid, cv in cents
            ]
        )
        return F.slice(F.array_sort(scored), 1, n)

    # ---- corpus assignment: Arrow kernel, sequential-fold semantics ----
    cid_arr = np.array([cid for cid, _ in cents], dtype=np.int64)
    cmat = np.array([cv for _, cv in cents], dtype=np.float64)  # (C, d)
    cnorms = np.array(
        [_math.sqrt(sum(v * v for v in cv)) for _, cv in cents], dtype=np.float64
    )
    assign_schema = T.StructType(
        [c.schema["neighbor_id"], c.schema["__cv"], T.StructField("__cell", T.LongType())]
    )

    def _assign(batches):
        for rb in batches:
            if rb.num_rows == 0:
                continue
            names = {n: i for i, n in enumerate(rb.schema.names)}
            V = _flat_matrix(rb, names, "__cv")
            cos = _seqdots(V, cmat) / (np.sqrt(_seqdot(V, V))[:, None] * cnorms[None, :])
            # argmax with ties to the SMALLEST cid: cids are id-sorted so
            # plain argmax (first max) already breaks ties low
            best = np.argmax(cos, axis=1)
            yield pa.record_batch(
                [rb.column(names["neighbor_id"]), rb.column(names["__cv"]), pa.array(cid_arr[best])],
                names=["neighbor_id", "__cv", "__cell"],
            )

    c = c.mapInArrow(_assign, schema=assign_schema)
    q = q.withColumn("__qn", norm(F.col("__qv")))
    q = q.withColumn(
        "__cell", F.explode(F.transform(_best_cells(F.col("__qv"), F.col("__qn"), nprobe), lambda s: s["cid"]))
    )

    cand = q.join(c, on="__cell")
    if exclude_self:
        cand = cand.filter(F.col("neighbor_id") != F.col("query_id"))
    return _rank(_rerank_cos_arrow(cand), k)
