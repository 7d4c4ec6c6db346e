"""Exactness tests for the kNN kernel's Sphere spec (geom/knn_kernel.py):
against a numpy brute-force oracle, against the cogrouped tile arm,
and on adversarial shapes — identical positions (chord2==0 ties),
lattice ties at the k-th boundary, empty-region points that must
escalate or brute-force, and tiny directories (n2 < k)."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import functions as F

from geotables_jl_spark.geom.knn_kernel import PointIndex, Sphere, knn_exact
from geotables_jl_spark.operators import knn
from geotables_jl_spark.operators.geojoin_s2 import s2_knn_join, s2_point_prep


def _brute(lx, ly, lz, rid, rx, ry, rz, k):
    """(lid → [(chord2, rid)]) by full sort — the independent oracle."""
    out = []
    for i in range(len(lx)):
        d2 = (lx[i] - rx) ** 2 + (ly[i] - ry) ** 2 + (lz[i] - rz) ** 2
        order = sorted(range(len(rid)), key=lambda j: (d2[j], rid[j]))[:k]
        out.append([(d2[j], int(rid[j])) for j in order])
    return out


def _norm(x, y, z):
    n = np.sqrt(x * x + y * y + z * z)
    return x / n, y / n, z / n


def _check_kernel(lx, ly, lz, rid, rx, ry, rz, k, chord0):
    idx = PointIndex(rid, (rx, ry, rz))
    pos, d2v = knn_exact((lx, ly, lz), idx, Sphere(chord0), k)
    ridv = idx.rid.take(pos.reshape(-1)).to_numpy().reshape(pos.shape)
    exp = _brute(lx, ly, lz, rid, rx, ry, rz, k)
    for i in range(len(lx)):
        got = list(zip(d2v[i], ridv[i]))
        want = exp[i]
        assert len(got) == len(want), f"row {i}: {len(got)} vs {len(want)}"
        for (gd, gr), (wd, wr) in zip(got, want):
            assert gr == wr and gd == wd, f"row {i}: got {(gd, gr)} want {(wd, wr)}"


def test_kernel_matches_brute_random():
    rng = np.random.default_rng(42)
    rx, ry, rz = _norm(*rng.normal(size=(3, 500)))
    rid = rng.permutation(500).astype(np.int64)
    lx, ly, lz = _norm(*rng.normal(size=(3, 200)))
    _check_kernel(lx, ly, lz, rid, rx, ry, rz, k=5, chord0=0.2)


def test_kernel_escalation_and_brute_tail():
    # clustered directory + far-away queries: round-1 cover finds nothing,
    # forcing the escalation and brute-force paths
    rng = np.random.default_rng(7)
    rx, ry, rz = _norm(
        1.0 + 0.01 * rng.normal(size=300),
        0.01 * rng.normal(size=300),
        0.01 * rng.normal(size=300),
    )
    rid = np.arange(300, dtype=np.int64) * 3 + 1
    # queries all over the sphere, incl. the antipode of the cluster
    lx, ly, lz = _norm(*rng.normal(size=(3, 100)))
    lx[:10], ly[:10], lz[:10] = -1.0, 0.0, 0.0
    _check_kernel(lx, ly, lz, rid, rx, ry, rz, k=7, chord0=0.02)


def test_kernel_ties_identical_positions():
    # many directory points at IDENTICAL positions: chord2 ties must
    # resolve by ascending rid, and boundary ties must be exact
    base = np.array([[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [1.0, 1.0, 1.0]])
    base = base / np.linalg.norm(base, axis=1, keepdims=True)
    reps = 8
    rx = np.repeat(base[:, 0], reps)
    ry = np.repeat(base[:, 1], reps)
    rz = np.repeat(base[:, 2], reps)
    rid = np.arange(len(rx), dtype=np.int64)[::-1].copy()  # reversed ids
    lx, ly, lz = rx.copy(), ry.copy(), rz.copy()  # queries ON the points
    _check_kernel(lx, ly, lz, rid, rx, ry, rz, k=5, chord0=0.1)


def test_kernel_small_directory():
    # n2 < k: every query gets all n2 neighbors
    rng = np.random.default_rng(3)
    rx, ry, rz = _norm(*rng.normal(size=(3, 4)))
    rid = np.array([9, 2, 5, 7], dtype=np.int64)
    lx, ly, lz = _norm(*rng.normal(size=(3, 30)))
    _check_kernel(lx, ly, lz, rid, rx, ry, rz, k=10, chord0=0.5)


def test_kernel_arm_matches_rounds_arm(spark, monkeypatch):
    """End-to-end: s2_knn_join kernel arm vs cogrouped tile arm (forced
    by a zero directory threshold) on the driver fixture shapes —
    identical (lid, rid, chord2, rank) sets."""
    n_l, n_r = 80, 400
    left = spark.range(n_l).select(F.col("id").alias("lid"))
    k = F.col("lid")
    left = (
        left.withColumn("px", ((k * 104729) % 2001) / 1000.0 - 1.0)
        .withColumn("py", ((k * 7919) % 2001) / 1000.0 - 1.0)
        .withColumn("pz", ((k * 31337) % 2001) / 1000.0 - 1.0)
    )
    lprep = s2_point_prep(left, "lid", xyz=("px", "py", "pz"))
    right = spark.range(n_r).select(F.col("id").alias("rid"))
    k2 = F.col("rid")
    right = (
        right.withColumn("px", ((k2 * 7919) % 2001) / 1000.0 - 1.0)
        .withColumn("py", ((k2 * 104729) % 2001) / 1000.0 - 1.0)
        .withColumn("pz", ((k2 * 131) % 2001) / 1000.0 - 1.0)
    )
    rprep = s2_point_prep(right, "rid", xyz=("px", "py", "pz"))

    def rows():
        out = s2_knn_join(lprep, rprep, 5, n_right=n_r)
        return sorted(map(tuple, out.select("lid", "rid", "chord2", "rank").collect()))

    a = rows()
    monkeypatch.setattr(knn, "KNN_BROADCAST_ROWS", 0)
    b = rows()
    assert a == b
    assert len(a) == 5 * lprep.where(F.col("nx").isNotNull()).count()


# -- hypothesis sweep: kernel vs brute force over random configurations ------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def sphere_config(draw):
    """Random (directory, queries, k, chord0): clustered or uniform
    directory, rids shuffled, chord0 spanning far-too-small (everything
    escalates) to full-sphere."""
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    n2 = draw(st.integers(min_value=1, max_value=120))
    nq = draw(st.integers(min_value=1, max_value=40))
    k = draw(st.integers(min_value=1, max_value=12))
    chord0 = draw(st.sampled_from([1e-4, 0.05, 0.3, 1.0, 2.0]))
    clustered = draw(st.booleans())
    rng = np.random.default_rng(seed)
    if clustered:
        c = rng.normal(size=3)
        c /= np.linalg.norm(c)
        pts = c[None, :] + 0.02 * rng.normal(size=(n2, 3))
    else:
        pts = rng.normal(size=(n2, 3))
    pts /= np.linalg.norm(pts, axis=1, keepdims=True)
    q = rng.normal(size=(nq, 3))
    q /= np.linalg.norm(q, axis=1, keepdims=True)
    # duplicate some directory points onto query positions → exact ties
    dup = min(n2, nq) // 2
    if dup:
        pts[:dup] = q[:dup]
    rid = rng.permutation(n2).astype(np.int64) * 7 + 3
    return pts, q, rid, k, chord0


# too_slow suppressed: this sandbox VM's wall clock drifts by hours
# (BENCH.md "Reproducibility") and hypothesis's generation health check
# fires spuriously in throttled windows — the sweep itself is
# deterministic numpy.
@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(sphere_config())
def test_kernel_property_sweep(cfg):
    pts, q, rid, k, chord0 = cfg
    _check_kernel(
        q[:, 0].copy(), q[:, 1].copy(), q[:, 2].copy(),
        rid, pts[:, 0].copy(), pts[:, 1].copy(), pts[:, 2].copy(),
        k=k, chord0=chord0,
    )


def test_cover_index_cache_keyed_by_token():
    """The worker-global cell-index memo must key on the directory's
    construction token, not id(), for both metrics: ids are reused after
    gc, which would serve a new directory the OLD directory's slices."""
    from geotables_jl_spark.geom import knn_kernel as K

    def sphere(n, seed):
        v = np.random.default_rng(seed).standard_normal((n, 3))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return PointIndex(np.arange(n, dtype=np.int64), v.T), Sphere(0.1, 8)

    def plane(n, seed):
        p = np.random.default_rng(seed).uniform(0, 10, (n, 2))
        return K.RightIndex(np.arange(n, dtype=np.int64), p[:, 0], p[:, 1], 0.5), K.Planar(0.5, 2)

    for mk in (sphere, plane):
        (a, spec), (b, _) = mk(50, 1), mk(80, 2)
        assert a.token != b.token
        ci_a = K._cell_index(a, spec)
        assert K._MEMO["token"] == a.token
        ci_b = K._cell_index(b, spec)
        assert K._MEMO["token"] == b.token
        assert ci_b is not ci_a
        # the stale entry for `a` was evicted; re-requesting rebuilds fresh
        ci_a2 = K._cell_index(a, spec)
        assert ci_a2 is not ci_a
        assert (ci_a2.pos == ci_a.pos).all()
