"""Regression tests for the vectorized fast paths: Arrow fingerprint
parity, blocked-cosine vs naive pairs, and multi-round kNN ring
expansion (the certification loop, not just the radius-1 happy path)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from geotables_jl_spark.core.geotable import GeoTable, georef
from geotables_jl_spark.functions.textstats import FP_BASE, FP_MOD, fingerprint_fast
from geotables_jl_spark.operators.dedup import embedding_neardup_pairs
from geotables_jl_spark.operators.geojoin import knn_join


def _py_fp(s: str) -> int:
    acc = 0
    for c in s:
        acc = (acc * FP_BASE + ord(c)) % FP_MOD
    return acc


def test_fingerprint_fast_matches_sql_and_python(spark):
    # includes non-BMP (surrogate-pair) input: emoji, math alphanumerics —
    # the fingerprint folds CODEPOINTS, as the utf-32 fast path does;
    # NULL text → NULL (as the Spark SQL fold it replaced gave), '' → 0
    texts = ["", "a", "hello world", "x" * 700, "Üñíçødé text", "tab\tand\nnewline",
             "emoji 😀 test", "𝕏 math 🎉🎉", "mixed 漢字 and 😺", None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
    rows = df.select("id", fingerprint_fast(F.col("t")).alias("fast_fp")).collect()
    assert len(rows) == len(texts)
    for r in rows:
        t = texts[r["id"]]
        assert r["fast_fp"] == (None if t is None else _py_fp(t))
    # the DuckDB oracle twin agrees, NULL and '' included
    import duckdb
    import pandas as pd

    from __spark_entry__ import _SQL_FP

    tdf = pd.DataFrame({"t": texts})  # noqa: F841 — read by the SQL below
    sql_fp = [r[0] for r in duckdb.sql(f"SELECT {_SQL_FP.format(col='t')} FROM tdf").fetchall()]
    assert sql_fp == [None if t is None else _py_fp(t) for t in texts]


def test_blocked_cosine_matches_naive(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((60, 8)).astype(float)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)], "vid long, v array<double>"
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(df, "vid", "v", threshold=0.3).collect()
    }
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs @ vecs.T) / np.outer(norms, norms)
    want = {
        (i, j): round(float(cos[i, j]), 6)
        for i in range(60)
        for j in range(i + 1, 60)
        if cos[i, j] >= 0.3
    }
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, abs=1e-6)


def test_knn_multi_round_expansion(spark, knn_arms):
    # sparse points + tiny forced cell_size → the search radius must
    # triple several times before the k-th neighbor is certified; exact
    # result must equal brute force regardless of how many rounds it
    # takes. Points with a NULL, NaN or infinite coordinate get no pairs
    # and are no one's neighbour.
    pts = [(i, float(i * i % 97), float((i * 37) % 89)) for i in range(40)]
    bad = [(40, None, 1.0), (41, float("nan"), 2.0), (42, float("inf"), 3.0), (43, 4.0, float("-inf"))]
    df = spark.createDataFrame(pts + bad, "row_id long, x double, y double")
    gtb = georef(df, coords=["x", "y"], crs="Cartesian")

    def run():
        got = {}
        for r in knn_join(gtb, gtb, k=4, cell_size=0.5).collect():  # ~1 point per 2000 cells
            got.setdefault(r["row_id"], []).append((r["rank"], r["neighbor_id"], r["distance"]))
        return got

    for arm, got in knn_arms(run):
        assert set(got) == {p[0] for p in pts}, arm
        for qid, qx, qy in pts:
            d = sorted((math.hypot(px - qx, py - qy), pid) for pid, px, py in pts)[:4]
            mine = sorted(got[qid])
            assert len(mine) == 4, arm
            for rank, (dist, pid) in enumerate(d, 1):
                assert mine[rank - 1][1] == pid, arm
                assert mine[rank - 1][2] == pytest.approx(dist, abs=1e-9), arm


def test_extract_text_byte_identical_across_parallelism(spark):
    # north-star per-row invariant: text extracted from html is
    # byte-identical to the text column per url, at any partitioning
    from geotables_jl_spark.sources.webpages import extract_text, webpages_from_documents

    pages = webpages_from_documents(spark, "/root/testdata/sf0.001")
    for parts in (2, 16):
        out = extract_text(pages.repartition(parts))
        bad = out.filter(F.col("text_extracted") != F.col("text")).count()
        assert bad == 0
        rows = {r["url"]: r["text_extracted"] for r in out.select("url", "text_extracted").collect()}
        if parts == 2:
            first = rows
        else:
            assert rows == first


def test_simhash_pairs_complete_and_sound(spark):
    """Self-consistency oracle for the no-oracle simhash driver query
    (VERDICT r1 #9): against an independent all-pairs recomputation from
    the signatures, the banded join must be SOUND (every reported pair
    really has hamming <= bound, verified from signatures) and COMPLETE
    (the pigeonhole banding misses no pair within the bound)."""
    from itertools import combinations

    from geotables_jl_spark.operators.dedup import simhash_pairs, simhash_signatures

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = [(i, base + f"variant {i % 5} tail {'x' * (i % 3)}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {r["__id"]: r["__sim"] for r in simhash_signatures(df, "doc_id", "text", 2).collect()}
    bound = 6
    want = {
        (a, b): bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
        for a, b in combinations(sorted(sigs), 2)
        if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= bound
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, "doc_id", "text", max_hamming=bound).collect()
    }
    assert got == want and len(want) > 0


def test_ann_lsh_recall_floor_vs_exact(spark):
    """ann_lsh results must be a subset of candidates ranked exactly like
    cosine_topk would rank them, with a recall floor vs the exact top-k
    at generous probe settings (VERDICT r1 #9 hardening of the ann_lsh
    no-oracle driver query)."""
    import numpy as np

    from geotables_jl_spark.operators import simsearch as SS

    rng = np.random.default_rng(3)
    vec_rows = [(i, rng.normal(size=16).tolist()) for i in range(200)]
    vecs = spark.createDataFrame(vec_rows, "vec_id long, embedding array<double>")
    queries = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = SS.cosine_topk(vecs, queries, k=5).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = SS.ann_lsh_topk(vecs, queries, k=5, planes=8, probes=4).collect()
    # soundness: scores must equal the exact cosine for the same pair
    exact_scores = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_scores:
            assert abs(r["cosine"] - exact_scores[key]) < 1e-12
    # recall floor: multi-probe at these settings recovers >=60% overall
    hits = sum(
        1 for r in approx if r["neighbor_id"] in exact_sets.get(r["query_id"], set())
    )
    assert hits >= 0.6 * sum(len(s) for s in exact_sets.values())


def test_sample_uniform_deterministic_across_parallelism(spark):
    """sample_uniform must pick the SAME rows at any parallelism level:
    hash-rank sampling is partition-independent (VERDICT r1 #9; the
    no-oracle sample_uniform driver query leans on this). Checked across
    repartitionings in-session AND against a separate local[3] JVM."""
    import json
    import os
    import subprocess
    import sys

    from geotables_jl_spark.core.geotable import georef
    from geotables_jl_spark.operators.indices import sample_uniform

    df = spark.range(500).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 37).cast("double").alias("x"),
        (F.col("id") % 11).cast("double").alias("y"),
    )
    base = None
    for parts in (1, 7, 32):
        g = georef(df.repartition(parts), coords=["x", "y"])
        ids = sorted(r["row_id"] for r in sample_uniform(g, 50, seed=7).df.collect())
        assert len(ids) == 50
        if base is None:
            base = ids
        else:
            assert ids == base

    prog = (
        "import sys, json; sys.path.insert(0, '/root/repo')\n"
        "from pyspark.sql import functions as F\n"
        "from geotables_jl_spark.session import get_spark\n"
        "from geotables_jl_spark.core.geotable import georef\n"
        "from geotables_jl_spark.operators.indices import sample_uniform\n"
        "spark = get_spark('det-check', cpus=3, shuffle_partitions=5)\n"
        "df = spark.range(500).select(F.col('id').alias('row_id'),"
        " (F.col('id') % 37).cast('double').alias('x'),"
        " (F.col('id') % 11).cast('double').alias('y'))\n"
        "g = georef(df, coords=['x', 'y'])\n"
        "ids = sorted(r['row_id'] for r in sample_uniform(g, 50, seed=7).df.collect())\n"
        "print('IDS=' + json.dumps(ids))\n"
    )
    env = dict(os.environ)
    out = subprocess.run(
        [sys.executable, "-c", prog], capture_output=True, text=True, timeout=300, env=env
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = [l for l in out.stdout.splitlines() if l.startswith("IDS=")][0]
    assert json.loads(line[4:]) == base


def test_ann_kernel_paths_bit_identical_to_jvm(spark):
    """The Arrow kernels (corpus sign-hash, IVF assignment, candidate
    rerank) accumulate dim-by-dim — the same addition sequence as the
    SQL fold — so they return exactly the rows (ids, ranks, and float
    cosines alike) of the retired JVM ``zip_with``/``aggregate`` corpus
    arm, recorded below from that arm on this data."""
    from geotables_jl_spark.operators import simsearch as SS
    from pyspark.sql import functions as F

    n, d = 300, 16
    rows = [
        (i, [((i * 37 + j * 11) % 97) / 97.0 - 0.5 + (0.5 if j == i % d else 0.0) for j in range(d)])
        for i in range(n)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = vecs.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def rows_of(df):
        return sorted((r["query_id"], r["rank"], r["neighbor_id"], r["cosine"]) for r in df.collect())

    lsh_jvm = [
        (0, 1, 160, 0.992664), (0, 2, 152, 0.88612), (0, 3, 55, 0.871987), (0, 4, 215, 0.856434),
        (1, 1, 174, 0.867941), (1, 2, 237, 0.864336), (1, 3, 292, 0.861324), (1, 4, 77, 0.860669),
        (2, 1, 99, 0.886594), (2, 2, 293, 0.880376), (2, 3, 78, 0.879708), (2, 4, 175, 0.878904),
        (3, 1, 163, 0.994527), (3, 2, 87, 0.846943), (3, 3, 231, 0.844451), (3, 4, 239, 0.842257),
        (4, 1, 101, 0.885978), (4, 2, 198, 0.881986), (4, 3, 219, 0.881213), (4, 4, 295, 0.87966),
        (5, 1, 165, 0.995138), (5, 2, 144, 0.864463), (5, 3, 296, 0.860995), (5, 4, 89, 0.860433),
    ]
    ivf_jvm = [
        (0, 1, 160, 0.992664), (0, 2, 152, 0.88612), (0, 3, 55, 0.871987), (0, 4, 215, 0.856434),
        (1, 1, 174, 0.867941), (1, 2, 237, 0.864336), (1, 3, 292, 0.861324), (1, 4, 77, 0.860669),
        (2, 1, 99, 0.886594), (2, 2, 196, 0.882667), (2, 3, 272, 0.881255), (2, 4, 293, 0.880376),
        (3, 1, 163, 0.994527), (3, 2, 87, 0.846943), (3, 3, 231, 0.844451), (3, 4, 239, 0.842257),
        (4, 1, 101, 0.885978), (4, 2, 198, 0.881986), (4, 3, 219, 0.881213), (4, 4, 295, 0.87966),
        (5, 1, 165, 0.995138), (5, 2, 144, 0.864463), (5, 3, 296, 0.860995), (5, 4, 89, 0.860433),
    ]
    assert rows_of(SS.ann_lsh_topk(vecs, queries, k=4, planes=6, probes=2)) == lsh_jvm
    assert rows_of(SS.ann_ivf_topk(vecs, queries, k=4, ncentroids=8, nprobe=3)) == ivf_jvm


def test_driver_memory_default_fits_the_host():
    """Unset ``SPARK_GRAFT_DRIVER_MEM`` asks for half of physical memory,
    at most 48g: a larger heap than the host holds dies mid-job with
    "mmap failed"."""
    import os

    from geotables_jl_spark.session import _driver_memory

    mem = _driver_memory()
    assert mem.endswith("m")
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < int(mem[:-1]) <= min(phys_mb // 2, 48 << 10)


def test_default_cpus_without_affinity_call(monkeypatch):
    """Unset ``SPARK_GRAFT_CPUS`` takes the usable CPUs, and all CPUs
    where the OS has no ``sched_getaffinity`` (macOS, Windows)."""
    import os

    from geotables_jl_spark.session import default_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    if hasattr(os, "sched_getaffinity"):
        assert default_cpus() == len(os.sched_getaffinity(0))
        monkeypatch.delattr(os, "sched_getaffinity")
    assert default_cpus() == os.cpu_count()


def test_ann_null_vectors_take_no_part(spark):
    """A NULL corpus or query vector has no neighbours and is no one's:
    both ANN operators return the rows they return without those rows."""
    from geotables_jl_spark.operators import simsearch as SS

    rows = [(i, [float((i * 7 + j) % 5) - 2 for j in range(4)]) for i in range(1, 31)]
    clean = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vecs = spark.createDataFrame(rows + [(0, None), (99, None)], "vec_id long, embedding array<double>")

    def queries(df):
        return df.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )

    for ann in (
        lambda c: SS.ann_lsh_topk(c, queries(c), k=3, planes=4),
        lambda c: SS.ann_ivf_topk(c, queries(c), k=3, ncentroids=4),
    ):
        want = sorted(map(tuple, ann(clean).collect()))
        assert want and sorted(map(tuple, ann(vecs).collect())) == want
